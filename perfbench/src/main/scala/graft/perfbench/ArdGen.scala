package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.ccd.Ccd
import graft.grid.Grid
import graft.types.{ArdRow, AuxRow}

/** Seeded synthetic ARD and aux rasters for the chips of one tile,
  * generated on Spark from `spark.range`, so the pixel count is not
  * bounded by what one JVM thread builds in memory.
  *
  * Every pixel shares the tile's acquisition dates (`obs` of them, 16
  * days apart). Its seven bands are a seasonal harmonic plus bounded
  * noise; one pixel in `breakEvery` carries a +1500 step on a planted
  * observation, and ~10% of observations are cloudy (a non-clear QA
  * value and saturated band values). Everything a check needs — the
  * planted observation and the cloud mask — is a pure function of
  * (seed, pixel), so the harness recomputes it instead of reading the
  * data back.
  */
final case class ArdGen(seed: Long, chips: Int, rows: Int, obs: Int,
    breakEvery: Int) {

  /** A point inside the tile; the generated chips are its first
    * `chips` chips in row-major order. */
  val x: Double = -2565585.0
  val y: Double = 3314805.0

  val chipIds: Seq[(Int, Int)] = Grid.tileOf(x, y).chips.take(chips)
  val pixels: Int = chips * rows * Grid.PixelsPerChipEdge
  val firstDay = 724000
  val dates: Array[Int] = Array.tabulate(obs)(i => firstDay + i * 16)
  val CloudQa = 4

  private def rng(pixel: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + pixel * 31L + salt)

  /** The observation index of the pixel's planted break, if any. */
  def planted(pixel: Long): Option[Int] = {
    val r = rng(pixel, 1L)
    if (r.nextInt(breakEvery) == 0) Some(obs / 4 + r.nextInt(obs / 2)) else None
  }

  /** Per-observation cloud flags of the pixel. */
  def cloudy(pixel: Long): Array[Boolean] = {
    val r = rng(pixel, 2L)
    Array.fill(obs)(r.nextDouble() < 0.1)
  }

  def coords(pixel: Long): (Int, Int, Int, Int) = {
    val perChip = rows * Grid.PixelsPerChipEdge
    val (cx, cy) = chipIds((pixel / perChip).toInt)
    val within = (pixel % perChip).toInt
    val row = within / Grid.PixelsPerChipEdge
    val col = within % Grid.PixelsPerChipEdge
    (cx, cy, cx + col * Grid.PixelMeters.toInt, cy - row * Grid.PixelMeters.toInt)
  }

  /** Inverse of [[coords]]. */
  def pixelOf(cx: Int, cy: Int, px: Int, py: Int): Long = {
    val edge = Grid.PixelsPerChipEdge
    val meters = Grid.PixelMeters.toInt
    chipIds.indexOf((cx, cy)).toLong * rows * edge +
      (cy - py) / meters * edge + (px - cx) / meters
  }

  def ardRow(pixel: Long): ArdRow = {
    val (cx, cy, px, py) = coords(pixel)
    val step = planted(pixel)
    val clouds = cloudy(pixel)
    val noise = rng(pixel, 3L)
    val bands = Array.tabulate(Ccd.NumBands, obs) { (b, i) =>
      if (clouds(i)) 8000 + noise.nextInt(1000)
      else {
        val season = 300.0 * math.cos(2 * math.Pi * dates(i) / Ccd.YearDays)
        val jump = if (step.exists(i >= _)) 1500.0 else 0.0
        (1000.0 + 100 * b + season + jump + noise.nextInt(41) - 20).round.toInt
      }
    }
    // Reference ARD lists observations newest first.
    def desc(a: Array[Int]): Seq[Int] = a.reverse.toSeq
    ArdRow(cx, cy, px, py, desc(dates),
      desc(bands(0)), desc(bands(1)), desc(bands(2)), desc(bands(3)),
      desc(bands(4)), desc(bands(5)), desc(bands(6)),
      desc(clouds.map(c => if (c) CloudQa else 0)))
  }

  /** Label rasters: one row per generated pixel, plus one pixel row of
    * the first chip of each of the 8 neighbouring tiles, so the 3×3
    * training neighbourhood scoping has rows to drop. */
  def auxRow(pixel: Long, cx: Int, cy: Int, px: Int, py: Int): AuxRow = {
    val r = rng(pixel, 4L)
    AuxRow(cx, cy, px, py, dates = Seq(730000),
      dem = Some(Seq(100.0f + r.nextInt(900))),
      trends = Seq(1 + r.nextInt(8)),
      aspect = Some(Seq(r.nextInt(360))),
      posidex = Some(Seq(r.nextInt(100) / 100.0f)),
      slope = Some(Seq(r.nextInt(45).toFloat)),
      mpw = Some(Seq(r.nextInt(2))))
  }

  def ard(spark: SparkSession, partitions: Int): Dataset[ArdRow] = {
    import spark.implicits._
    val g = this
    spark.range(0, pixels, 1, partitions).map(p => g.ardRow(p))
  }

  def aux(spark: SparkSession, partitions: Int): Dataset[AuxRow] = {
    import spark.implicits._
    val g = this
    val neighbours = Grid.near(x, y, Grid.tile)
      .filterNot { case (nx, ny) => Grid.tileOf(nx, ny).chips.head == chipIds.head }
      .map { case (nx, ny) => Grid.tileOf(nx, ny).chips.head }
    val extra = neighbours.size * Grid.PixelsPerChipEdge
    spark.range(0, pixels + extra, 1, partitions).map { p =>
      if (p < g.pixels) {
        val (cx, cy, px, py) = g.coords(p)
        g.auxRow(p, cx, cy, px, py)
      } else {
        val i = (p - g.pixels).toInt
        val (cx, cy) = neighbours(i / Grid.PixelsPerChipEdge)
        g.auxRow(p, cx, cy, cx + (i % Grid.PixelsPerChipEdge) * Grid.PixelMeters.toInt, cy)
      }
    }
  }
}
