package graft

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.ccd.Ccd
import graft.types.ArdRow

/** Deterministic synthetic ARD for the specs (there is no real Landsat
  * data to read): `nPixels` pixels on the real chip grid — chip
  * (-2565585, 3314805), pixels at 30 m offsets — each with 80
  * observations of a seasonal cosine plus seeded noise, and a +1500
  * step change halfway through for odd pixels. */
object SyntheticArd {

  private def noise(i: Int, b: Int): Double = {
    val x = math.sin(i * 12.9898 + b * 78.233) * 43758.5453
    (x - math.floor(x) - 0.5) * 40.0
  }

  def apply(spark: SparkSession, nPixels: Int): Dataset[ArdRow] = {
    import spark.implicits._
    val cx = -2565585; val cy = 3314805
    val rows = for (p <- 0 until nPixels) yield {
      val dates = Array.tabulate(80)(i => 730000 + i * 16)
      val step = if (p % 2 == 1) Some(730000 + 40 * 16) else None
      def band(b: Int): Seq[Int] = dates.zipWithIndex.map { case (d, i) =>
        val base = 1000.0 + 100 * b + 300.0 * math.cos(2 * math.Pi * d / Ccd.YearDays)
        (base + step.filter(d >= _).map(_ => 1500.0).getOrElse(0.0) + noise(i, b)).round.toInt
      }.toSeq
      ArdRow(cx, cy, cx + p * 30, cy - p * 30, dates.toSeq,
        band(0), band(1), band(2), band(3), band(4), band(5), band(6),
        Seq.fill(80)(0))
    }
    spark.createDataset(rows)
  }
}
