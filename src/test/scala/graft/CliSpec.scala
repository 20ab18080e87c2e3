package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Cli._
import graft.types.AuxRow

/** The CLI verb surface (reference ccdc/cli.py:25-74): flag parsing and
  * an end-to-end smoke of both verbs over synthetic ARD. */
class CliSpec extends AnyFunSuite {
  import SparkTestSession._

  test("changedetection parsing: required, defaults, short/long flags") {
    val Right(cd: ChangeDetectionCmd) = parse(Seq("changedetection",
      "-x", "2565585", "--y", "3314805", "--ard", "/a", "--out", "/o"))
    assert(cd.x == 2565585.0 && cd.y == 3314805.0)
    assert(cd.number == 2500, "reference default -n 2500 (ccdc/cli.py:29)")
    assert(cd.acquired.startsWith("0001-01-01/"))
    val Right(cd2: ChangeDetectionCmd) = parse(Seq("changedetection",
      "-x", "0", "-y", "0", "-a", "1984-01-01/2020-01-01", "-n", "3",
      "-c", "7", "--ard", "/a", "--out", "/o"))
    assert(cd2.acquired == "1984-01-01/2020-01-01" && cd2.number == 3)
  }

  test("classification parsing + error cases") {
    val Right(cl: ClassificationCmd) = parse(Seq("classification",
      "-x", "1", "-y", "2", "-s", "730000", "-e", "735000",
      "--aux", "/x", "--segments", "/s", "--out", "/o", "--trees", "5"))
    assert(cl.msday == 730000 && cl.meday == 735000 && cl.trees == 5)
    assert(parse(Seq("classification", "-x", "1")).isLeft, "missing flags")
    assert(parse(Seq("frobnicate")).isLeft, "unknown verb")
    assert(parse(Seq("changedetection", "-x", "1", "stray")).isLeft)
    // misspelled flags must error, not silently fall back to defaults
    assert(parse(Seq("changedetection", "-x", "1", "-y", "2",
      "--acqiured", "1984-01-01/2020-01-01", "--ard", "/a", "--out", "/o"))
      .left.exists(_.contains("unknown option")), "typo'd flag must be rejected")
    // malformed numbers are a usage error, not an exception
    assert(parse(Seq("changedetection", "-x", "abc", "-y", "2",
      "--ard", "/a", "--out", "/o"))
      .left.exists(_.contains("expects a number")))
    assert(parse(Seq("classification", "-x", "1", "-y", "2", "-s", "x", "-e", "2",
      "--aux", "/x", "--segments", "/s", "--out", "/o"))
      .left.exists(_.contains("expects an integer")))
  }

  test("both verbs run end-to-end over synthetic ARD") {
    val dir = Files.createTempDirectory("graft_cli").toString
    SyntheticArd(spark, 8).write.parquet(s"$dir/ard")

    val cd = Cli.run(parse(Seq("changedetection",
      "-x", "-2565585", "-y", "3314805",
      "-a", "1999-01-01/2003-12-31",
      "--ard", s"$dir/ard", "--out", s"$dir/products")).toOption.get, spark)
    assert(cd("chips") == 1 && cd("pixels") == 8,
      s"one chip, eight pixels: $cd")
    assert(cd("segments") >= 8, s"every pixel lands >=1 segment: $cd")

    import spark.implicits._
    spark.createDataset((0 until 8).map { p =>
      AuxRow(-2565585, 3314805, -2565585 + p * 30, 3314805 - p * 30,
        dates = Seq(730000), dem = Some(Seq(100.0f + p)),
        trends = Seq(1 + p % 3), aspect = Some(Seq(10 * p)),
        posidex = Some(Seq(0.5f)), slope = Some(Seq(2.0f)),
        mpw = Some(Seq(1)))
    }).write.parquet(s"$dir/aux")

    val cl = Cli.run(parse(Seq("classification",
      "-x", "-2565585", "-y", "3314805", "-s", "1", "-e", "800000",
      "--aux", s"$dir/aux", "--segments", s"$dir/products/segment",
      "--out", s"$dir/products", "--trees", "5")).toOption.get, spark)
    assert(cl("predictions") > 0, s"classification landed nothing: $cl")
    assert(!new java.io.File(s"$dir/products/model").exists(),
      "the tile row carries the model; no model/ directory is written")
    val tile = graft.grid.Grid.tileOf(-2565585, 3314805)
    assert(pipeline.Classification.loadTile(spark, s"$dir/products",
      tile.ulx.toInt, tile.uly.toInt, "rf-1-800000").nonEmpty)
  }

  test("classification reports only its own run's predictions on a shared --out") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cli_two").toString
    // tile A: the synthetic chip; tile B: two tiles east, 4 pixels
    val (ax, ay, bx) = (-2565585, 3314805, -2565585 + 2 * 150000)
    val ardA = SyntheticArd(spark, 8)
    val ardB = SyntheticArd(spark, 4)
      .map(r => r.copy(cx = bx, px = r.px - ax + bx))
    ardA.unionAll(ardB).write.parquet(s"$dir/ard")
    ardA.unionAll(ardB).map { r =>
      val p = (r.px - r.cx) / 30 // pixel index within the chip
      AuxRow(r.cx, r.cy, r.px, r.py, dates = Seq(730000),
        dem = Some(Seq(100.0f + p)), trends = Seq(1 + p % 3),
        aspect = Some(Seq(10 * p)), posidex = Some(Seq(0.5f)),
        slope = Some(Seq(2.0f)), mpw = Some(Seq(1)))
    }.write.parquet(s"$dir/aux")
    def verb(args: String*): Map[String, Long] =
      Cli.run(parse(args).toOption.get, spark)
    Seq(ax, bx).foreach { x =>
      verb("changedetection", "-x", x.toString, "-y", ay.toString,
        "--ard", s"$dir/ard", "--out", s"$dir/products")
    }
    def classify(x: Int) = verb("classification", "-x", x.toString,
      "-y", ay.toString, "-s", "1", "-e", "800000", "--aux", s"$dir/aux",
      "--segments", s"$dir/products/segment", "--out", s"$dir/products",
      "--trees", "3")("predictions")
    val a = classify(ax)
    val b = classify(bx)
    val table = spark.read.parquet(s"$dir/products/prediction")
    assert(a == table.filter($"chipx" === ax).count() && a > 0)
    assert(b == table.filter($"chipx" === bx).count() && b > 0,
      s"second run must report only its own tile's rows: $b")
    assert(table.count() == a + b)
  }

  test("acquiredWindow clips observations and drops emptied pixels") {
    // synthetic dates run 730000 + i*16 for 80 obs (1999-09-03 on);
    // clip to the first ~20 observations' span.
    val ard = SyntheticArd(spark, 2)
    val lo = graft.ccd.CcdOps.ordinalToIso(730000)
    val hi = graft.ccd.CcdOps.ordinalToIso(730000 + 19 * 16)
    val clipped = pipeline.ChangeDetection.acquiredWindow(ard, s"$lo/$hi")
    val rows = clipped.collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.dates.length == 20, s"got ${r.dates.length} obs")
      assert(r.blues.length == 20, "band arrays must stay aligned")
    }
    // a range before the series drops every pixel
    assert(pipeline.ChangeDetection
      .acquiredWindow(ard, "1901-01-01/1902-01-01").count() == 0)
  }

  test("classification -a clips the aux series (trends[0] = first obs in window)") {
    import spark.implicits._
    val aux = spark.createDataset(Seq(
      AuxRow(0, 0, 0, 0, dates = Seq(730000, 730100, 730200),
        dem = Some(Seq(1f, 2f, 3f)), trends = Seq(9, 4, 5),
        aspect = Some(Seq(1, 2, 3)), posidex = Some(Seq(0.1f, 0.2f, 0.3f)),
        slope = Some(Seq(1f, 2f, 3f)), mpw = Some(Seq(7, 8, 9)))))
    val lo = graft.ccd.CcdOps.ordinalToIso(730050)
    val hi = graft.ccd.CcdOps.ordinalToIso(730150)
    val clipped = pipeline.Classification.acquiredWindow(aux, s"$lo/$hi").head()
    assert(clipped.dates == Seq(730100))
    assert(clipped.trends == Seq(4),
      "trends[0] must become the first observation inside the window")
    assert(clipped.dem.contains(Seq(2f)) && clipped.mpw.contains(Seq(8)))
    // emptied pixels drop; a full-range default keeps everything
    assert(pipeline.Classification
      .acquiredWindow(aux, "1901-01-01/1902-01-01").count() == 0)
    assert(pipeline.Classification
      .acquiredWindow(aux, Cli.defaultAcquired).head().dates.length == 3)
  }
}
