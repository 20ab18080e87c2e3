package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ccd.CcdOps
import graft.ext.Dedup
import graft.sources.{SessionStore, Sink, Timeseries}

class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("timeseries assemble/explode round-trip, arrays date-descending") {
    import spark.implicits._
    val ard = SyntheticArd(spark, 4)
    val long = Timeseries.explodeRows(ard)
    assert(long.count() == 4 * 80)
    val back = Timeseries.assemble(long.toDF())
    // dates come back descending (reference order, ccdc/timeseries.py:115)
    val row = back.filter(col("px") === -2565585).head()
    val dates = row.dates
    assert(dates == dates.sorted.reverse, "dates must be descending")
    // content round-trips (original was ascending)
    val orig = ard.filter(col("px") === -2565585).head()
    assert(dates.sorted == orig.dates.sorted)
    assert(row.blues.reverse == orig.blues,
      "band arrays must stay aligned to dates")
    assert(back.count() == 4)
  }

  test("banded simhash pairs == brute-force pairs at hamming<=3") {
    val sig = SparkEntry.queries("d04_simhash")(spark, sf)
    val banded = Dedup.simhashPairs(sig, 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = sig.as("a").join(sig.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute, "banding must lose no pairs at hamming<=3")
  }

  test("prefix-filtered jaccard (d02) == exhaustive shingle-blocked join, exactly") {
    // Total-recall proof made empirical: the registered prefix-filtered
    // entry must emit the exact same (pair, score) set as the
    // exhaustive join the DuckDB oracle mirrors.
    val prefix = SparkEntry.queries("d02_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exhaustive = Dedup.jaccardPairsExhaustive(Dedup.shingles(spark, sf))
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix == exhaustive,
      s"prefix filtering must lose nothing: ${prefix.size} vs ${exhaustive.size}")
  }

  test("partitioned write upserts per key: overlapping batch keeps unrelated keys") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val batch1 = Seq((1, 10, "a1"), (2, 20, "b1")).toDF("cx", "cy", "v")
    val batch2 = Seq((2, 20, "b2"), (3, 30, "c1")).toDF("cx", "cy", "v")
    Sink.write(batch1, dir, Seq("cx", "cy"), Seq("cx", "cy"))
    Sink.write(batch2, dir, Seq("cx", "cy"), Seq("cx", "cy"))
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Int]("cx"), r.getAs[String]("v"))).toSet
    // key 1 (absent from batch2) must survive; key 2 must be batch2's row
    assert(got == Set((1, "a1"), (2, "b2"), (3, "c1")),
      s"expected per-key last-write-wins, got $got")
  }

  test("partitioned layout prunes partitions at the scan (PartitionFilters)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val rows = (0 until 100).map(i => (i.toLong, s"src${i % 4}", s"text-$i"))
      .toDF("doc_id", "source", "text")
    Sink.write(rows, dir, Seq("doc_id"), Seq("source"))
    val q = spark.read.parquet(dir).filter(col("source") === "src1")
    val plan = q.queryExecution.executedPlan.toString
    // the partition-column predicate must prune DIRECTORIES (metadata
    // only), not run as a data filter over every file
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("src1"),
      s"source predicate must reach PartitionFilters:\n$plan")
    assert(q.count() == 25)
    // the pruned scan reads exactly the one partition's files
    assert(q.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("source=src1")))
  }

  test("tile-partitioned segments: one-tile query prunes to that tile's " +
      "directory; a tile-dimension join prunes dynamically (DPP)") {
    // SURVEY §4 partition-pruning row (reference ccdc/grid.py:23-53):
    // the reference pruned by geometry — tile→chip enumeration decided
    // which Cassandra partitions were ever read. Here the same bound
    // comes from the optimizer: segments land (tx,ty)-partitioned via
    // Sink.write, so a tile-restricted query is a metadata-only
    // directory prune, and a join against a filtered tile-dimension
    // frame prunes the same directories at RUNTIME from the dimension's
    // broadcast (Catalyst dynamic partition pruning) — no full scan in
    // either shape, at any corpus size.
    import spark.implicits._
    import graft.grid.Grid
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val base = CcdOps.segmentRecords(CcdOps.detect(SyntheticArd(spark, 4)))
    val tiles = Seq((13, 6), (14, 6), (13, 7), (14, 7)).map { case (h, v) =>
      val (ulx, uly) = Grid.cellUl(h, v, Grid.tile)
      (h, v, ulx.toInt, uly.toInt)
    }
    val segs = tiles.map { case (_, _, ulx, uly) =>
      base.withColumn("tx", lit(ulx)).withColumn("ty", lit(uly))
    }.reduce(_ unionByName _)
    Sink.write(segs, dir, Seq("tx", "ty", "cx", "cy", "px", "py", "sday", "eday"),
      Seq("tx", "ty"))

    // 1) static: the tile literal reaches PartitionFilters and the scan
    // opens only that tile's directory
    val (_, _, ulx0, uly0) = tiles.head
    val one = spark.read.parquet(dir)
      .filter(col("tx") === ulx0 && col("ty") === uly0)
    val p1 = one.queryExecution.executedPlan.toString
    assert(p1.contains("PartitionFilters: [") &&
      p1.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains(ulx0.toString),
      s"tile predicate must prune directories, not filter rows:\n$p1")
    assert(one.count() == base.count())
    assert(one.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains(s"tx=$ulx0/ty=$uly0")))

    // 2) dynamic: the tile ids are only known from a dimension predicate
    // (the reference's "which tiles cover this AOI" lookup); the scan
    // must carry a dynamicpruningexpression fed by the dimension's
    // broadcast rather than scanning all tiles
    val dimDir = java.nio.file.Files.createTempDirectory("graft_tiledim").toString
    tiles.map { case (h, v, ulx, uly) => (ulx, uly, f"h$h%03dv$v%03d") }
      .toDF("tx", "ty", "tile_name")
      .write.mode("overwrite").parquet(dimDir)
    val joined = spark.read.parquet(dir)
      .join(spark.read.parquet(dimDir)
        .filter(col("tile_name") === "h013v006"), Seq("tx", "ty"))
    assert(joined.count() == base.count())
    val p2 = joined.queryExecution.executedPlan.toString
    assert(p2.contains("dynamicpruningexpression"),
      s"tile-dimension join must prune partitions at runtime (DPP):\n$p2")
  }

  test("unpartitioned write remains a documented full refresh") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh").toString
    Sink.write(Seq((1, "a")).toDF("k", "v"), dir, Seq("k"))
    Sink.write(Seq((2, "b")).toDF("k", "v"), dir, Seq("k"))
    assert(spark.read.parquet(dir).collect().map(_.getAs[Int]("k")).toSet == Set(2))
  }

  test("a write that reads its own path lands the rows it read") {
    // Sink.write materializes such a frame first: the overwrite would
    // otherwise delete the files the write is still reading.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_self_read").toString
    Sink.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, Nil)
    Sink.write(spark.read.parquet(dir).unionByName(Seq((3, "c")).toDF("k", "v")),
      dir, Nil)
    assert(spark.read.parquet(dir).collect().map(_.getAs[Int]("k")).toSet ==
      Set(1, 2, 3))
  }

  test("a partitioned upsert that reads its own partition runs no checkpoint") {
    // A dynamic partition overwrite replaces the touched partitions only
    // at job commit, after its tasks have read the stored rows.
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft_self_upsert").toString
    Sink.write(Seq((1, 0, "a"), (2, 1, "b")).toDF("k", "p", "v"), dir,
      Seq("k"), Seq("p"))
    val merged = spark.read.parquet(dir).filter(col("p") === 0)
      .unionByName(Seq((3, 0, "c")).toDF("k", "p", "v"))
    val checkpoints = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.details.contains("graft.ops.Subplan$.once(")))
          checkpoints.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      Sink.write(merged, dir, Seq("k"), Seq("p"))
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(checkpoints.get == 0, s"the upsert ran ${checkpoints.get} checkpoint job(s)")
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Int]("p"), r.getAs[String]("v"))).toSet ==
      Set((1, 0, "a"), (2, 1, "b"), (3, 0, "c")))
  }

  test("keyed read restricts the scan to requested ids") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val segs = CcdOps.segmentRecords(CcdOps.detect(SyntheticArd(spark, 4)))
    Sink.write(segs, s"$dir/segment", Seq("cx", "cy", "px", "py", "sday", "eday"))
    val ids = Seq((-2565585, 3314805, -2565585, 3314805)).toDF("cx", "cy", "px", "py")
    val got = Sink.readKeyed(spark, s"$dir/segment", ids, Seq("cx", "cy", "px", "py"))
    assert(got.count() >= 1)
    assert(got.select("px").distinct().head().getInt(0) == -2565585)
  }

  test("segment schema parity: field names and types match the reference") {
    // Pinned on the tables the two verbs land, each field on the table
    // that persists it: the segment table's reference fields, pixel
    // mask, chip dates and prediction rfrawp.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_schema").toString
    SyntheticArd(spark, 4).write.parquet(s"$dir/ard")
    spark.createDataset((0 until 4).map { p =>
      types.AuxRow(-2565585, 3314805, -2565585 + p * 30, 3314805 - p * 30,
        Seq(730000), Some(Seq(100.0f + p)), Seq(1 + p % 2),
        Some(Seq(10 * p)), Some(Seq(0.5f)), Some(Seq(2.0f)), Some(Seq(1)))
    }).write.parquet(s"$dir/aux")
    def verb(args: String*) = Cli.run(Cli.parse(args).toOption.get, spark)
    verb("changedetection", "-x", "-2565585", "-y", "3314805",
      "--ard", s"$dir/ard", "--out", s"$dir/out")
    verb("classification", "-x", "-2565585", "-y", "3314805", "-s", "1",
      "-e", "800000", "--aux", s"$dir/aux", "--segments", s"$dir/out/segment",
      "--out", s"$dir/out", "--trees", "3")
    def fields(table: String) = spark.read.parquet(s"$dir/out/$table")
      .schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    // reference ccdc/pyccd.py:39-81 field order, less its per-pixel
    // dates/mask and the prediction-only rfrawp
    val expected = Seq(
      "cx" -> "int", "cy" -> "int", "px" -> "int", "py" -> "int",
      "sday" -> "string", "eday" -> "string", "bday" -> "string",
      "chprob" -> "float", "curqa" -> "int",
      "blmag" -> "float", "grmag" -> "float", "remag" -> "float",
      "nimag" -> "float", "s1mag" -> "float", "s2mag" -> "float",
      "thmag" -> "float",
      "blrmse" -> "float", "grrmse" -> "float", "rermse" -> "float",
      "nirmse" -> "float", "s1rmse" -> "float", "s2rmse" -> "float",
      "thrmse" -> "float",
      "blcoef" -> "array<float>", "grcoef" -> "array<float>",
      "recoef" -> "array<float>", "nicoef" -> "array<float>",
      "s1coef" -> "array<float>", "s2coef" -> "array<float>",
      "thcoef" -> "array<float>",
      "blint" -> "float", "grint" -> "float", "reint" -> "float",
      "niint" -> "float", "s1int" -> "float", "s2int" -> "float",
      "thint" -> "float")
    assert(expected.length == 37)
    // the chip key is the partition key: it reads back last
    val (chipKey, rest) = expected.partition(f => Set("cx", "cy")(f._1))
    val actual = fields("segment")
    assert(actual == rest ++ chipKey, s"schema drift:\n${actual.mkString("\n")}")
    assert(fields("pixel").contains("mask" -> "array<tinyint>"))
    assert(fields("chip").contains("dates" -> "array<string>"))
    assert(fields("prediction").contains("rfrawp" -> "array<float>"))
  }

  // SessionStore's per-key holder: builds run outside the map's lock.
  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet
  private def firstIds(n: Int) =
    graft.ext.Similarity.emb(spark, sf).select(col("vec_id"))
      .filter(col("vec_id") < n)

  test("SessionStore: a build that reads a second store builds both and " +
      "serves both") {
    def inner() = SessionStore.storedOrBuild(spark, "spec_nest_inner", sf,
      Seq("vec_id")) { firstIds(5) }
    val outer = SessionStore.storedOrBuild(spark, "spec_nest_outer", sf,
      Seq("vec_id")) { inner().filter(col("vec_id") < 3) }
    assert(ids(outer) == ids(firstIds(3)))
    assert(ids(inner()) == ids(firstIds(5)))
    assert(SessionStore.livePath("spec_nest_inner", sf).isDefined)
    assert(SessionStore.livePath("spec_nest_outer", sf).isDefined)
  }

  test("SessionStore: two threads asking for one key run its build once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val callers = (1 to 2).map(_ => new Thread(() => {
      start.await()
      paths.add(SessionStore.pathOrBuild(spark, "spec_race", sf,
        Seq("vec_id")) {
        builds.incrementAndGet()
        Thread.sleep(200) // both callers arrive while the build runs
        firstIds(5)
      })
    }))
    callers.foreach(_.start())
    start.countDown()
    callers.foreach(_.join())
    assert(builds.get == 1, "one key was built more than once")
    assert(paths.size == 2 && paths.stream().distinct().count() == 1)
    assert(ids(spark.read.parquet(paths.peek())) == ids(firstIds(5)))
  }

  test("SessionStore: a build that throws leaves nothing; the next access " +
      "builds and serves the right rows") {
    var builds = 0
    def stored(fail: Boolean) = SessionStore.storedOrBuild(spark,
      "spec_fail", sf, Seq("vec_id")) {
      builds += 1
      // Fails inside the write job, after some tasks may have landed files.
      firstIds(5).withColumn("ok", when(lit(fail) && col("vec_id") === 3,
        raise_error(lit("injected build failure"))).otherwise(lit(0)))
    }
    intercept[Exception](stored(fail = true))
    assert(SessionStore.livePath("spec_fail", sf).isEmpty,
      "a failed build is still registered")
    assert(ids(stored(fail = false)) == ids(firstIds(5)))
    assert(builds == 2, "the access after a failure did not build")
    assert(SessionStore.livePath("spec_fail", sf).isDefined)
  }
}
