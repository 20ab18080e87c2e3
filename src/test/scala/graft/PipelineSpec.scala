package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ccd.CcdOps
import graft.pipeline.{ChangeDetection, Classification}
import graft.types.AuxRow

/** End-to-end slice (SURVEY.md §7.2): synthetic ARD for a few pixels →
  * detect → three parquet products; then train + classify. Mirrors the
  * reference's test_core/test_segment golden round-trips. */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("change detection pipeline lands chip/pixel/segment products") {
    val out = Files.createTempDirectory("graft_cd").toString
    val (chips, pixels, segs) = ChangeDetection.run(SyntheticArd(spark, 4), out)
    assert(chips == 1, "one chip")
    assert(pixels == 4, "four pixels")
    assert(segs >= 6, s"stable pixels 1 segment + stepped pixels 2: got $segs")
    val seg = spark.read.parquet(s"$out/segment")
    assert(seg.columns.toSet.contains("blcoef"))
    assert(!seg.columns.contains("dates") && !seg.columns.contains("mask"))
    val pix = spark.read.parquet(s"$out/pixel")
    assert(pix.columns.sorted.toSeq == Seq("cx", "cy", "mask", "px", "py"))
  }

  test("change detection counts only this batch's rows on a shared --out") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_cd_shared").toString
    ChangeDetection.run(SyntheticArd(spark, 4), out)
    // a second tile two tiles east, two of its pixels only
    val east = -2565585 + 2 * 150000
    val other = SyntheticArd(spark, 4)
      .map(r => r.copy(cx = r.cx + 2 * 150000, px = r.px + 2 * 150000))
      .filter(r => r.px < east + 60)
    val (chips, pixels, segs) = ChangeDetection.run(other, out)
    def landed(table: String) = spark.read.parquet(s"$out/$table")
    def ours(table: String) = landed(table).filter(col("cx") === east).count()
    assert((chips, pixels) == ((1L, 2L)))
    assert(chips == ours("chip") && pixels == ours("pixel") &&
      segs == ours("segment"), "counts must equal this batch's landed rows")
    assert(landed("chip").count() == 2 && landed("pixel").count() == 6,
      "the first tile's rows stay in the shared tables")
    assert(ChangeDetection.run(SyntheticArd(spark, 4).filter(_ => false), out) ==
      ((0L, 0L, 0L)), "an empty batch lands and counts nothing")
  }

  test("tileScope prunes to the requested tile's chips") {
    import spark.implicits._
    val inTile = SyntheticArd(spark, 4)
    val other = SyntheticArd(spark, 4).map(r => r.copy(cx = r.cx + 150000 * 2))
    val all = inTile.unionAll(other)
    val scoped = ChangeDetection.tileScope(all, -2565585.0 + 1.0, 3314805.0 - 1.0)
    assert(scoped.count() == 4)
  }

  test("tile-level train/classify scope to the grid neighborhood") {
    import spark.implicits._
    val segments = CcdOps.segmentRecords(CcdOps.detect(SyntheticArd(spark, 4)))
    val auxRows = (0 until 4).map { p =>
      AuxRow(-2565585, 3314805, -2565585 + p * 30, 3314805 - p * 30,
        Seq(730000), Some(Seq(100.0f + p)), Seq(1 + p % 2),
        Some(Seq(10 * p)), Some(Seq(0.5f)), Some(Seq(2.0f)), Some(Seq(1)))
    } :+ AuxRow(-2565585 + 10 * 150000, 3314805, 99, 99, // far-away tile
      Seq(730000), Some(Seq(1.0f)), Seq(1), Some(Seq(1)),
      Some(Seq(0.1f)), Some(Seq(0.1f)), Some(Seq(1)))
    val aux = spark.createDataset(auxRows)
    val model = Classification.trainForTile(spark, aux, segments,
      -2565585.0 + 1, 3314805.0 - 1, 1, 800000, numTrees = 3)
    assert(model.nonEmpty)
    val out = Classification.classifyTile(model.get, aux, segments,
      -2565585.0 + 1, 3314805.0 - 1)
    // only the target tile's pixels classified; the far-away aux row
    // contributes nothing
    assert(out.count() > 0)
    assert(out.filter(col("pixelx") === 99).count() == 0)
  }

  test("train + classify round-trip produces raw prediction arrays") {
    import spark.implicits._
    val segments = CcdOps.segmentRecords(CcdOps.detect(SyntheticArd(spark, 4)))
    val auxRows = (0 until 4).map { p =>
      AuxRow(-2565585, 3314805, -2565585 + p * 30, 3314805 - p * 30,
        dates = Seq(730000),
        dem = Some(Seq(100.0f + p)), trends = Seq(1 + p % 2),
        aspect = Some(Seq(10 * p)), posidex = Some(Seq(0.5f)),
        slope = Some(Seq(2.0f)), mpw = Some(Seq(1)))
    }
    val aux = spark.createDataset(auxRows)
    val model = Classification.train(aux, segments, 1, 800000, numTrees = 5)
    assert(model.nonEmpty, "training data should be non-empty")
    val out = Classification.classify(model.get, aux, segments)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.head.schema.fieldNames.toSeq ==
      Seq("chipx", "chipy", "pixelx", "pixely", "sday", "eday", "rfrawp"))
    assert(rows.forall(_.getAs[Seq[Float]]("rfrawp").nonEmpty))
  }
}
