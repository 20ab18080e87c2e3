package graft

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Features, Rf}
import graft.types.{AuxRow, Segment}

/** Feature assembly (reference ccdc/features.py) pinned on a golden
  * row, and the training fit's cache scope. */
class FeaturesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def segment(px: Int, scale: Float): Segment = Segment(
    cx = 0, cy = 0, px = px, py = 0,
    sday = "2000-01-01", eday = "2001-01-01", bday = "2001-01-01",
    chprob = Some(1f), curqa = Some(8),
    blmag = Some(1.5f * scale), grmag = None, remag = Some(2.5f),
    nimag = Some(3.5f), s1mag = Some(4.5f), s2mag = Some(5.5f),
    thmag = Some(6.5f),
    blrmse = Some(0.25f), grrmse = Some(0.5f), rermse = None,
    nirmse = Some(0.75f), s1rmse = Some(1f), s2rmse = Some(1.25f),
    thrmse = Some(1.5f),
    blcoef = Some(Seq(10f * scale, 99f)), grcoef = None,
    recoef = Some(Seq(12f)), nicoef = Some(Seq(13f, 98f)),
    s1coef = Some(Seq(14f)), s2coef = Some(Seq(15f)), thcoef = None,
    blint = Some(20f), grint = Some(21f), reint = Some(22f),
    niint = None, s1int = Some(24f), s2int = Some(25f), thint = Some(26f))

  private def aux(px: Int, label: Int): AuxRow = AuxRow(0, 0, px, 0,
    dates = Seq(730000, 730016), dem = Some(Seq(100.5f, 7f)),
    trends = Seq(label, 9), aspect = None,
    posidex = Some(Seq(0.125f)), slope = Some(Seq(2f, 3f)),
    mpw = Some(Seq(4, 5)))

  private def features(auxRows: Seq[AuxRow], segs: Seq[Segment]): DataFrame = {
    import spark.implicits._
    Features.dataframe(spark.createDataset(auxRows).toDF(),
      spark.createDataset(segs).toDF())
  }

  test("golden row: label = trends[0], 33 features in column order, nulls → 0.0") {
    val rows = features(Seq(aux(1, 3)), Seq(segment(1, 1f))).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.schema.fieldNames.toSeq ==
      Seq("cx", "cy", "px", "py", "sday", "eday", "label", "features"))
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == ((0, 0, 1, 0)))
    assert(r.getString(4) == "2000-01-01" && r.getString(5) == "2001-01-01")
    assert(r.getDouble(6) == 3.0)
    val expected = Seq(
      1.5, 0.0, 2.5, 3.5, 4.5, 5.5, 6.5,          // *mag (grmag null)
      0.25, 0.5, 0.0, 0.75, 1.0, 1.25, 1.5,       // *rmse (rermse null)
      10.0, 0.0, 12.0, 13.0, 14.0, 15.0, 0.0,     // *coef[0] (gr, th null)
      20.0, 21.0, 22.0, 0.0, 24.0, 25.0, 26.0,    // *int (niint null)
      100.5, 0.0, 2.0, 4.0, 0.125)                // dem aspect slope mpw posidex
    assert(Features.columns.length == 33 && expected.length == 33)
    assert(r.getAs[Vector](7).toArray.toSeq == expected)
  }

  test("Rf.train releases its fit-scoped cache on the model and empty paths") {
    val cache = spark.sharedState.cacheManager
    assert(cache.isEmpty, "precondition: nothing cached before training")
    val fdf = features((0 until 4).map(p => aux(p, 1 + p % 2)),
      (0 until 4).map(p => segment(p, 1f + p)))
    assert(Rf.train(fdf, numTrees = 2).nonEmpty)
    assert(cache.isEmpty, "model path left a cached frame")
    assert(Rf.train(fdf.limit(0), numTrees = 2).isEmpty)
    assert(cache.isEmpty, "empty-input path left a cached frame")
  }
}
