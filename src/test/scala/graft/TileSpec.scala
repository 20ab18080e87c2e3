package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ccd.{CcdOps, Ccd}
import graft.ext.Dedup
import graft.pipeline.Classification
import graft.sources.Timeseries
import graft.types.AuxRow

class TileSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Jobs `body` runs, counted by a listener read after the bus drains. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val t = body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (t, jobs.get)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  private def modelTemps(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir"))
      .list((_, n) => n.startsWith("graft-model")))
      .fold(Set.empty[String])(_.toSet)

  /** A three-tree model over four synthetic pixels, with its inputs. */
  private lazy val small = {
    import spark.implicits._
    val segments = CcdOps.segmentRecords(CcdOps.detect(SyntheticArd(spark, 4)))
    val aux = spark.createDataset((0 until 4).map { p =>
      AuxRow(-2565585, 3314805, -2565585 + p * 30, 3314805 - p * 30,
        Seq(730000), Some(Seq(100.0f + p)), Seq(1 + p % 2),
        Some(Seq(10 * p)), Some(Seq(0.5f)), Some(Seq(2.0f)), Some(Seq(1)))
    })
    (aux, segments, Classification.train(aux, segments, 1, 800000, numTrees = 3).get)
  }

  test("tile model save/load round-trip") {
    // The row carries the model: one job to save, the keyed read's
    // jobs to load, and the loaded model predicts as the saved one.
    import spark.implicits._
    val out = Files.createTempDirectory("graft_tile").toString
    val (aux, segments, model) = small
    val tempsBefore = modelTemps()
    val (_, saveJobs) = jobsOf(Classification.saveTile(spark, model,
      -2565585, 3314805, "rf-test", "2026-08-12T00:00:00", out))
    assert(saveJobs == 1, s"saveTile ran $saveJobs jobs")
    assert(!new java.io.File(s"$out/model").exists(), "no model/ directory")
    // A second tile's save must NOT erase the first (per-key upsert,
    // like the reference's CQL primary key).
    Classification.saveTile(spark, model, 100, 200,
      "rf-test", "2026-08-12T01:00:00", out)
    val (loaded, loadJobs) = jobsOf(
      Classification.loadTile(spark, out, -2565585, 3314805, "rf-test"))
    val (_, readJobs) = jobsOf(graft.sources.Sink.readKeyed(spark, s"$out/tile",
      Seq((-2565585, 3314805)).toDF("tx", "ty"), Seq("tx", "ty"))
      .filter($"name" === "rf-test").collect())
    assert(loadJobs == readJobs, s"loadTile ran $loadJobs jobs, its read $readJobs")
    assert(loaded.nonEmpty, "tile model must survive another tile's save")
    assert(Classification.loadTile(spark, out, 100, 200, "rf-test").nonEmpty)
    assert(Classification.loadTile(spark, out, 0, 0, "rf-test").isEmpty,
      "keyed read must not match other tiles")
    assert(modelTemps().subsetOf(tempsBefore), "a graft-model temp dir was left")

    val fdf = graft.ml.Features.dataframe(aux.toDF(), segments)
    def rawp(m: org.apache.spark.ml.PipelineModel) =
      graft.ml.Rf.classify(m, fdf).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4), r.getString(5)) -> r.get(6)).toMap
    val want = rawp(model)
    assert(want.nonEmpty)
    assert(rawp(loaded.get) == want, "loaded model must predict as the saved one")
  }

  test("the tile row's model blob depends on the fitted model alone") {
    // spark.ml stamps the save time into every metadata record and a
    // random uid into every fitted tree: two saves of one model, made
    // at different times, and a save of a second fit on the same
    // inputs land one string.
    val (aux, segments, model) = small
    def blob(m: org.apache.spark.ml.PipelineModel): String = {
      val out = Files.createTempDirectory("graft_tile_blob").toString
      Classification.saveTile(spark, m, 1, 2, "rf-test", "2026-08-12T00:00:00", out)
      spark.read.parquet(s"$out/tile").select("model").head().getString(0)
    }
    val first = blob(model)
    Thread.sleep(20)
    assert(blob(model) == first, "two saves of one model landed different blobs")
    val refit = Classification.train(aux, segments, 1, 800000, numTrees = 3).get
    assert(blob(refit) == first, "a second fit of the same inputs landed another blob")
  }

  test("a tile row whose model is not a blob fails naming the tile and model") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_tile_old").toString
    // the row shape of a tile written when `model` held a path
    Seq(graft.types.TileRec(1, 2, "rf-old", s"$out/model/1_2_rf-old",
      "2026-08-12T00:00:00")).toDF()
      .write.partitionBy("tx", "ty", "name").parquet(s"$out/tile")
    val e = intercept[IllegalStateException](
      Classification.loadTile(spark, out, 1, 2, "rf-old"))
    assert(e.getMessage.contains("(1, 2)") && e.getMessage.contains("rf-old"),
      e.getMessage)
  }

  test("acquired range parses and filters observations") {
    assert(CcdOps.acquiredRange("0001-01-01/1970-01-01") == ((1, 719163)))
    val obs = Timeseries.explodeRows(SyntheticArd(spark, 2)).toDF()
    val lo = CcdOps.ordinalToIso(730000 + 10 * 16)
    val hi = CcdOps.ordinalToIso(730000 + 20 * 16)
    val filtered = Timeseries.filterAcquired(obs, s"$lo/$hi")
    assert(filtered.count() == 2 * 11, "inclusive 16-day steps in window")
  }

  test("spark.ml MinHashLSH variant finds the planted near-dup pairs") {
    val mlPairs = Dedup.minhashLshMl(spark, sf, maxDistance = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("d02_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // approx join distance = 1 - jaccard; threshold 0.5 matches d02's
    // jaccard >= 0.5. Require high recall of true pairs.
    val recall = if (exact.isEmpty) 1.0
      else exact.count(mlPairs.contains).toDouble / exact.size
    assert(recall >= 0.8, s"ML-LSH recall $recall over ${exact.size} pairs")
  }
}
