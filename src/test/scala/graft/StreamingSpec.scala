package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Drives the streaming operators synchronously: a batch of parquet
  * feeds a streaming query via the memory sink (processAllAvailable),
  * and streaming results are checked against the batch twins. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val eventsDir: String = {
    // Re-land the events table as a streaming-friendly parquet dir
    // (micro-ts converted; ts column as a real timestamp).
    val dir = Files.createTempDirectory("graft_stream_src").toString
    Tables(spark, sf, "events").write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling windows match the batch aggregation") {
    val stream = EventStreams.tumblingCounts(
      EventStreams.source(spark, eventsDir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .select(col("wstart"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val want = SparkEntry.queries("e02_tumbling_window")(spark, sf)
        .select(col("wstart"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want, "streaming and batch tumbling windows disagree")
    } finally q.stop()
  }

  test("streaming replay of a historical batch matches e04 session boundaries") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_sess_replay").toString
    val ev = Tables(spark, sf, "events").filter(col("user_id") < 20)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    ev.write.mode("append").parquet(srcDir)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)

    val schema = org.apache.spark.sql.types.StructType(
      EventStreams.eventSchema.filterNot(_.name == "props"))
    val sessions = EventStreams.sessionize(
      spark.readStream.schema(schema).parquet(srcDir)
        .as[EventStreams.EventIn])
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_replay").start()
    try {
      q.processAllAvailable()
      // Two sentinel appends: the first advances the watermark past the
      // day (computed from batch-1 data), the second triggers the batch
      // in which every remaining real session's event-time timeout fires.
      Seq(1, 2).foreach { i =>
        Seq((-1000L - i, new java.sql.Timestamp(
            maxTs.getTime + i * 10L * 24 * 3600 * 1000), -1L, "sentinel", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
      val got = spark.table("sess_replay").filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getInt(3)))
        .toSet
      val want = SparkEntry.queries("e04_sessionize")(spark, sf)
        .filter(col("user_id") < 20).collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("t_start"),
          r.getAs[java.sql.Timestamp]("t_end"),
          r.getAs[Long]("n_events").toInt))
        .toSet
      assert(got == want,
        s"replayed sessions diverge: ${got.size} streamed vs ${want.size} batch; " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming as-of enrichment replays to exactly the batch e06 result") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(
      EventStreams.eventSchema.filterNot(_.name == "props"))
    val srcDir = Files.createTempDirectory("graft_asof_replay").toString
    Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .write.mode("append").parquet(srcDir)
    val enriched = EventStreams.asofEnrich(
      spark.readStream.schema(schema).parquet(srcDir)
        .as[EventStreams.EventIn])
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("asof_replay").start()
    try {
      q.processAllAvailable()
      val got = spark.table("asof_replay").collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[java.lang.Long]("p_event_id")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("micros_since")).map(_.longValue)))
        .toSet
      val want = SparkEntry.queries("e06_asof_join")(spark, sf).collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[java.lang.Long]("p_event_id")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("micros_since")).map(_.longValue)))
        .toSet
      assert(got == want,
        s"streamed as-of diverges: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming dedup collapses duplicated events to single occurrences") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(
      EventStreams.eventSchema.filterNot(_.name == "props"))
    val srcDir = Files.createTempDirectory("graft_dedup_stream").toString
    val ev = Tables(spark, sf, "events").filter(col("user_id") < 10)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // at-least-once delivery: every event lands twice in the source
    ev.write.mode("append").parquet(srcDir)
    ev.write.mode("append").parquet(srcDir)
    val deduped = EventStreams.dedupEvents(
      spark.readStream.schema(schema).parquet(srcDir))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .groupBy(col("event_id")).count().collect()
      assert(got.nonEmpty)
      assert(got.forall(_.getAs[Long]("count") == 1L),
        "every duplicated event must survive exactly once")
      assert(got.length.toLong == ev.count(),
        "no original event may be lost by the dedup")
    } finally q.stop()
  }

  test("streaming near-dup filter replays to exactly the batch d03 pairs") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_neardup_stream").toString
    // documents with a synthetic ingestion ts, 1 s apart — all inside
    // the default 24 h ttl, so the bounded filter must find every pair
    // batch d03 finds (identical shingle/minhash/band expressions).
    assert(Tables(spark, sf, "documents").count() <= 86400L,
      "ts packs 1 doc/second — a larger fixture would push real pairs past " +
        "the 24 h ttl and break replay equality by design, not by bug")
    Tables(spark, sf, "documents")
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"))
      .write.mode("append").parquet(srcDir)
    val pairs = DocStreams.nearDupPairs(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("neardup_stream").start()
    try {
      q.processAllAvailable()
      // a pair colliding in >1 band is emitted per bucket: dedup, as
      // the operator contract states downstream must
      val got = spark.table("neardup_stream").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      val want = SparkEntry.queries("d03_minhash_lsh")(spark, sf).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      assert(want.nonEmpty, "corpus must contain near-dup pairs")
      assert(got == want,
        s"streamed near-dups diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("late-but-valid arrival still pairs with a member eager eviction would drop") {
    import spark.implicits._
    import graft.streaming.DocStreams
    // The watermark-retention regression case: doc 1 (t=0) and doc 3
    // (t=24h+60s) arrive in batch 1 — their gap exceeds the 24 h ttl,
    // so no pair, but an arrival-relative eviction would also DROP
    // doc 1 from the bucket. Doc 2 then arrives late (t=23h30m, above
    // batch 1's ~23h01m watermark): it must still pair with doc 1
    // (gap 23.5 h ≤ ttl). Identical texts put all three in one bucket.
    val srcDir = Files.createTempDirectory("graft_late_pair").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t0 = 1700000000L
    def batch(rows: (Long, Long)*) = rows.toSeq
      .map { case (id, s) => (id, new java.sql.Timestamp((t0 + s) * 1000L), text) }
      .toDF("doc_id", "ts", "text")
    val pairs = DocStreams.nearDupPairs(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir),
      watermarkDelay = "1 hour")
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("late_pair").start()
    try {
      batch(1L -> 0L, 3L -> (24L * 3600 + 60)).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      batch(2L -> (23L * 3600 + 1800)).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val got = spark.table("late_pair").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got.contains((1L, 2L)),
        s"late doc 2 must still pair with doc 1 (gap 23.5h <= 24h ttl): got $got")
      assert(got.contains((2L, 3L)), s"docs 2 and 3 are 37.5min apart: got $got")
      assert(!got.contains((1L, 3L)), "docs 1 and 3 exceed the ttl — no pair")
    } finally q.stop()
  }

  test("streaming simhash near-pair filter replays to exactly the batch d06 pairs") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_simhash_stream").toString
    // The batch d06 corpus: every doc plus its one-token-appended twin
    // (id + 10^9). ts = 1 s per doc, twins sharing their original's
    // second (id mod 10^9), so the whole corpus sits inside the 24 h
    // ttl and the bounded filter must find every batch pair.
    val d = Tables(spark, sf, "documents")
    assert(d.count() <= 86400L,
      "ts packs 1 doc/second (twins share their original's second) — a larger " +
        "fixture would push pairs past the 24 h ttl by design, not by bug")
    d.select(col("doc_id"), col("text"))
      .unionAll(d.select((col("doc_id") + lit(1000000000L)).as("doc_id"),
        concat(col("text"), lit(" qq")).as("text")))
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id") % lit(1000000000L)).as("ts"),
        col("text"))
      .write.mode("append").parquet(srcDir)
    val pairs = DocStreams.simhashNearPairs(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("simhash_stream").start()
    try {
      q.processAllAvailable()
      // multi-band collisions emit once per bucket: dedup downstream,
      // as the operator contract states
      val got = spark.table("simhash_stream").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Int]("hamming"))).toSet
      val want = SparkEntry.queries("d06_simhash_pairs")(spark, sf).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Int]("hamming"))).toSet
      assert(want.nonEmpty, "corpus must contain hamming-near pairs")
      assert(got == want,
        s"streamed simhash pairs diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming containment filter replays to exactly the batch d12 pairs") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_contain_stream").toString
    // The batch d12 corpus (one definition: Dedup.withPrefixTwins;
    // twins share their original's second) — the pair class only
    // containment finds. Two microbatches, split so every planted
    // (twin, original) pair GENUINELY crosses triggers: the twin offset
    // 10⁹ is even, so a plain doc_id-parity split would co-deliver each
    // twin with its original — instead the split key flips parity for
    // twins (base-id parity + twin flag), putting each original and its
    // twin in OPPOSITE microbatches while both batches still carry a
    // mix of originals and twins.
    val d = Tables(spark, sf, "documents")
    // 1 doc/second: the BINDING bound here is the operator's 1 h
    // watermark delay, not the 24 h ttl — batch 2 replays ts from the
    // corpus start, so a fixture spanning > 3600 s would have batch
    // 2's oldest rows dropped as late input (by design of the
    // watermark, not a bug in the operator).
    assert(d.count() <= 3600L,
      "fixture span must stay inside the 1 h watermark delay — batch 2 " +
        "re-delivers early timestamps after batch 1 advanced the watermark")
    val base = ext.Dedup.withPrefixTwins(d)
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id") % lit(1000000000L)).as("ts"),
        col("text"))
    val pairs = DocStreams.containmentPairs(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("contain_stream").start()
    try {
      Seq(0, 1).foreach { par =>
        base.filter(
          expr("(doc_id % 1000000000 + doc_id div 1000000000) % 2") === par)
          .write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
      // multi-prefix-bucket collisions emit once per bucket: dedup
      // downstream, as the operator contract states
      val got = spark.table("contain_stream").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("containment"))).toSet
      val want = SparkEntry.queries("d12_containment")(spark, sf).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("containment"))).toSet
      assert(want.nonEmpty, "corpus must contain containment pairs")
      assert(got == want,
        s"streamed containment pairs diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming cluster maintenance converges to the full d07-style rebuild") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_clmaint_stream").toString
    // The d14 planted corpus (PressPlant at doc_id % 20 == 4), split
    // into two microbatches that CUT the planted cluster: ids ≡ 4 and
    // ≡ 24 (mod 40) land in opposite triggers, so the cross-trigger
    // merge path (star edges of a touched existing component ∪ new
    // batch edges) genuinely runs — a parity split would co-deliver
    // the whole planted cluster (every planted id is even).
    val planted = Tables(spark, sf, "documents").select(col("doc_id"),
      when(col("doc_id") % 20 === 4, lit(ext.Dedup.PressPlant))
        .otherwise(col("text")).as("text"))
    val base = planted.select(col("doc_id"),
      timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
      col("text"))
    val cm = new DocStreams.ClusterMaintenance(0.5)
    val q = spark.readStream.schema(DocStreams.docSchema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => cm.fold(b))
      .start()
    try {
      // NOT `% 40 / 20 === half`: Spark's `/` is double division, so
      // that predicate silently keeps only ids ≡ 0 (mod 40).
      Seq(col("doc_id") % 40 < 20, col("doc_id") % 40 >= 20).foreach { half =>
        base.filter(half).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = cm.assignment.getOrElse(fail("no assignment after replay"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSet
    val want = ext.Dedup.connectedComponents(
        ext.Dedup.jaccardPairsPrefix(ext.Dedup.shinglesOf(planted), 0.5)
          .select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("lbl"))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"maintained assignment diverges from the full rebuild: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // the planted cluster genuinely crossed triggers: both halves present
    val plantRows = got.filter(_._1 % 20 == 4)
    assert(plantRows.exists(_._1 % 40 == 4) && plantRows.exists(_._1 % 40 == 24),
      "planted members from both microbatches must share the cluster")
    assert(plantRows.map(_._2).size == 1,
      "planted duplicates must collapse into one cluster")
  }

  test("streaming embedding cluster maintenance converges to the full " +
      "d13-style rebuild") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_embmaint_stream").toString
    // The d15 corpus (planted twins + third-member families), split by
    // the d15 batch draw itself: the non-batch 6/7 arrives first (the
    // stored-assignment world), then the batch 1/7 — so the
    // cross-trigger merge path (a stored multi-member cluster
    // absorbing a batch vector) genuinely runs, exactly as in the
    // registered d15 scenario.
    val corpus = ext.EmbeddingDedup.d15Corpus(spark, sf)
    val base = corpus.select(col("vec_id"),
      timestamp_seconds(lit(1700000000L) + col("vec_id") % lit(1000000000L))
        .as("ts"),
      col("v"))
    val cm = new DocStreams.EmbeddingClusterMaintenance(0.99)
    val q = spark.readStream.schema(DocStreams.embSchema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => cm.fold(b))
      .start()
    try {
      Seq(!ext.EmbeddingDedup.d15IsBatch, ext.EmbeddingDedup.d15IsBatch).foreach { half =>
        base.filter(half).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = cm.assignment.getOrElse(fail("no assignment after replay"))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id")))
      .toSet
    val want = ext.Dedup.connectedComponents(
        ext.EmbeddingDedup.signNearDupPairs(
            graft.ops.Subplan.once(corpus))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("lbl"))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"maintained assignment diverges from the full rebuild: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // the merge path genuinely crossed triggers: some cluster holds a
    // batch (≡ 0 mod 7) member AND ≥ 2 first-trigger members.
    assert(got.groupBy(_._2).values.exists(ms =>
        ms.count(_._1 % 7 == 0) >= 1 && ms.count(_._1 % 7 != 0) >= 2),
      "no cluster shows a stored multi-member component absorbing a batch vector")
  }

  test("streaming media cluster maintenance converges to the full " +
      "m07-style rebuild") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_mediamaint_stream").toString
    // The m06 fixture corpus (single-byte-edit twins at media_id +
    // 10⁹), split by the m09 batch draw itself: 10⁹ ≡ 6 mod 7, so a
    // twin family whose original draws ≡ 0 lands its twin in the
    // FIRST trigger and its original in the second — the planted
    // pairs genuinely cross triggers, exactly as in the registered
    // m09 scenario.
    val corpus = ext.Multimodal.m06Base(spark, sf).toDF()
    val base = corpus.select(col("media_id"),
      timestamp_seconds(lit(1700000000L) + col("media_id") % lit(1000000000L))
        .as("ts"),
      col("kind"), col("payload"))
    val cm = new DocStreams.MediaClusterMaintenance(3)
    val q = spark.readStream.schema(DocStreams.mediaSchema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => cm.fold(b))
      .start()
    try {
      Seq(col("media_id") % 7 =!= 0, col("media_id") % 7 === 0).foreach { half =>
        base.filter(half).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = cm.assignment.getOrElse(fail("no assignment after replay"))
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("cluster_id")))
      .toSet
    val want = ext.Dedup.connectedComponents(
        ext.Dedup.simhashPairs(ext.Multimodal.ahashSigs(spark, sf), 3)
          .select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("lbl"))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"maintained assignment diverges from the full rebuild: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // the merge path genuinely crossed triggers: some cluster holds
    // both a second-trigger (≡ 0 mod 7) member and a first-trigger one.
    assert(got.groupBy(_._2).values.exists(ms =>
        ms.exists(_._1 % 7 == 0) && ms.exists(_._1 % 7 != 0)),
      "no cluster crossed the microbatch draw")
  }

  test("streaming ANN-index maintenance answers the full-rebuild probe") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_annmaint_stream").toString
    // The embeddings corpus split by the s18 batch draw itself: the
    // non-batch 7/8 arrives first (the bootstrap trigger — trains the
    // quantizer, the stored model), then the 1/8 batch in TWO further
    // microbatches, so the fixed-centroid assign-and-union path
    // genuinely folds more than once — the registered s18 arrival
    // scenario, incrementalized.
    val base = ext.Similarity.emb(spark, sf).select(col("vec_id"),
      timestamp_seconds(lit(1700000000L) + col("vec_id") % lit(1000000000L))
        .as("ts"),
      col("v"))
    val cm = new DocStreams.AnnIndexMaintenance
    val q = spark.readStream.schema(DocStreams.embSchema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => cm.fold(b))
      .start()
    try {
      Seq(!ext.Similarity.annBatchVec,
          ext.Similarity.annBatchVec && col("vec_id") % 2 === 0,
          ext.Similarity.annBatchVec && col("vec_id") % 2 === 1).foreach { part =>
        base.filter(part).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    // The full rebuild over the SAME stored model: centroids trained
    // on the pre-batch split, every vector assigned by the one
    // kmAssign definition, s13's probe tail.
    val fxAll = graft.ops.Subplan.once(ext.Similarity.emb(spark, sf)
      .select(col("vec_id"), col("v"),
        ext.Similarity.fixedPoint(col("v")).as("x")))
    val cents = graft.ops.Subplan.once(ext.Quantizers.kmeansCentroids(
      fxAll.filter(!ext.Similarity.annBatchVec)))
    // The bootstrap trained EXACTLY the stored model (exact-integer
    // Lloyd is row-order-free, so the parquet round-trip changes
    // nothing).
    val gotCents = cm.centroids.getOrElse(fail("no model after replay"))
      .collect().map(r => (r.getAs[Int]("cid"), r.getAs[Seq[Long]]("m").toList))
      .toSet
    val wantCents = cents.collect()
      .map(r => (r.getAs[Int]("cid"), r.getAs[Seq[Long]]("m").toList)).toSet
    assert(gotCents == wantCents,
      "bootstrap centroids diverge from training on the pre-batch split")
    val got = cm.probe(ext.Similarity.emb(spark, sf)
        .filter(col("vec_id") < 10).select(col("vec_id"), col("v")))
      .getOrElse(fail("no index after replay"))
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Double]("cos_sim")))
      .toSet
    val want = ext.Quantizers.kmProbedTop5(
        ext.Quantizers.kmAssign(fxAll, cents)
          .select(col("vec_id"), col("v"), col("cid")),
        ext.Quantizers.kmProbeCells(fxAll.filter(col("vec_id") < 10), cents))
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Double]("cos_sim")))
      .toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"maintained index probe diverges from the full rebuild: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // the post-bootstrap folds genuinely landed: some batch-draw
    // vector is IN the maintained postings.
    val postIds = cm.postings.get.select(col("vec_id"))
      .filter(ext.Similarity.annBatchVec).limit(1).count()
    assert(postIds == 1L, "no batch-trigger vector reached the postings")
    // Drift — the live s30: the twin's metric over its maintained
    // state must equal the registered batch query row-for-row (same
    // store content by the probe identity above, same ONE
    // indexDriftStats definition; baseline = the bootstrap trigger).
    val gotDrift = cm.driftStats(!ext.Similarity.annBatchVec)
      .getOrElse(fail("no drift metric after replay"))
      .collect().map(_.toSeq).toSet
    val wantDrift = SparkEntry.queries("s30_index_drift")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(wantDrift.nonEmpty)
    assert(gotDrift == wantDrift,
      "live drift metric diverges from the batch s30 answer")
    // Recall — the live s41: the twin's answer-quality monitor must
    // equal the batch s41 statements (ONE exactNn1Between truth, ONE
    // kmProbedTop5 probe, ONE recallFlags fold) over the SAME folded
    // corpus and the SAME bootstrap-trained model.
    val gotRec = cm.recallStats.getOrElse(fail("no recall after replay"))
      .collect().map(_.toSeq).toSet
    val qsR = graft.ops.Subplan.once(
      fxAll.filter(ext.Similarity.recallDraw(fxAll.count())))
    val exactR = ext.Similarity.exactNn1Between(
        qsR.select(col("vec_id"), col("v")),
        fxAll.select(col("vec_id"), col("v")))
      .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
    val wantRec = ext.RecallProbes.recallFlags(exactR,
        ext.Quantizers.kmProbedTop5(
          ext.Quantizers.kmAssign(fxAll, cents)
            .select(col("vec_id"), col("v"), col("cid")),
          ext.Quantizers.kmProbeCells(qsR, cents)))
      .collect().map(_.toSeq).toSet
    assert(wantRec.nonEmpty)
    assert(gotRec == wantRec,
      s"live recall monitor diverges from the batch s41 statements: " +
        s"missing=${(wantRec -- gotRec).take(3)} " +
        s"extra=${(gotRec -- wantRec).take(3)}")
    // Retirement — the live s24: after retiring the ':del' draw, the
    // probe must equal the full assignment (same stored model) minus
    // the retired set, and a re-retire must change nothing.
    cm.retire(ext.Similarity.emb(spark, sf)
      .filter(ext.Similarity.annDelVec).select(col("vec_id")))
    val gotDel = cm.probe(ext.Similarity.emb(spark, sf)
        .filter(col("vec_id") < 10).select(col("vec_id"), col("v")))
      .get.collect().map(_.toSeq).toSet
    val wantDel = ext.Quantizers.kmProbedTop5(
        ext.Quantizers.kmAssign(fxAll, cents)
          .filter(!ext.Similarity.annDelVec)
          .select(col("vec_id"), col("v"), col("cid")),
        ext.Quantizers.kmProbeCells(fxAll.filter(col("vec_id") < 10), cents))
      .collect().map(_.toSeq).toSet
    assert(wantDel.nonEmpty)
    assert(gotDel == wantDel,
      "retired index probe diverges from full-assignment-minus-deleted")
  }

  test("streaming COMPRESSED ANN-index maintenance answers the full-rebuild " +
      "ADC probe") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_cannmaint_stream").toString
    // The s22 arrival scenario, incrementalized: the non-batch 7/8
    // bootstraps BOTH quantizers (the stored model), then the 1/8
    // batch in TWO further microbatches exercises the fixed-model
    // encode-and-union path more than once.
    val base = ext.Similarity.emb(spark, sf).select(col("vec_id"),
      timestamp_seconds(lit(1700000000L) + col("vec_id") % lit(1000000000L))
        .as("ts"),
      col("v"))
    val cm = new DocStreams.CompressedAnnIndexMaintenance
    val q = spark.readStream.schema(DocStreams.embSchema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => cm.fold(b))
      .start()
    try {
      Seq(!ext.Similarity.annBatchVec,
          ext.Similarity.annBatchVec && col("vec_id") % 2 === 0,
          ext.Similarity.annBatchVec && col("vec_id") % 2 === 1).foreach { part =>
        base.filter(part).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    // The full rebuild with the SAME stored model is exactly s22's
    // ExtSpec identity: both quantizers trained on the pre-batch
    // split, every vector encoded by the one residFrame/pqEncode
    // pair, the pruned ADC probe on top — ivfadcScored(trainFilter =
    // !batch). Exact-integer training is row-order-free, so the
    // bootstrap trigger trained exactly that model.
    val got = cm.probe(ext.Similarity.emb(spark, sf)
        .filter(col("vec_id") < 10).select(col("vec_id"), col("v")))
      .getOrElse(fail("no index after replay"))
      .collect().map(_.toSeq).toSet
    val want = ext.Quantizers.pqAdcTop5(
        ext.Quantizers.ivfadcScored(spark, sf,
          Some(!ext.Similarity.annBatchVec)))
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"maintained compressed index probe diverges from the full rebuild: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // the post-bootstrap folds genuinely landed: some batch-draw
    // vector is IN the maintained code frame.
    val codeIds = cm.codes.get.select(col("vec_id"))
      .filter(ext.Similarity.annBatchVec).limit(1).count()
    assert(codeIds == 1L, "no batch-trigger vector reached the codes")
    // Drift on the compressed state — the twin's encoded-residual
    // metric must equal the batch recompute through the SAME
    // codeDriftStats definition over the same stored model (both
    // quantizers trained on the bootstrap split, every vector encoded
    // by the one residFrame/pqEncode pair).
    val fxAllD = graft.ops.Subplan.once(ext.Similarity.emb(spark, sf)
      .select(col("vec_id"), col("v"),
        ext.Similarity.fixedPoint(col("v")).as("x")))
    val centsD = ext.Quantizers.kmeansCentroids(
      fxAllD.filter(!ext.Similarity.annBatchVec))
    val rfxsD = graft.ops.Subplan.once(
      ext.Quantizers.residFrame(fxAllD, centsD))
    val pqcD = ext.Quantizers.pqCodebooks(
      rfxsD.filter(!ext.Similarity.annBatchVec)
        .select(col("vec_id"), col("subs")))
    val codesD = ext.Quantizers.pqEncode(rfxsD, pqcD)
      .select(col("vec_id"), col("cid"), col("codes"))
    val gotCDrift = cm.driftStats(!ext.Similarity.annBatchVec)
      .getOrElse(fail("no drift metric after replay"))
      .collect().map(_.toSeq).toSet
    val wantCDrift = ext.Quantizers.codeDriftStats(codesD, pqcD,
        !ext.Similarity.annBatchVec)
      .collect().map(_.toSeq).toSet
    assert(wantCDrift.nonEmpty)
    assert(gotCDrift == wantCDrift,
      "live compressed drift metric diverges from the batch recompute")
    // Recall — the live s42: the twin's monitor (caller-supplied lake
    // frame for the raw vectors) must equal the batch s42 statements
    // — ONE exactNn1Between truth, ONE adcScored shortlist, ONE
    // exactRerankTailOver, ONE recallFlags fold — over the same
    // folded corpus and bootstrap-trained quantizers.
    val gotRecC = cm.recallStats(ext.Similarity.emb(spark, sf)
        .select(col("vec_id"), col("v")))
      .getOrElse(fail("no recall after replay"))
      .collect().map(_.toSeq).toSet
    val drawC = ext.Similarity.recallDraw(fxAllD.count())
    val qsC = graft.ops.Subplan.once(fxAllD.filter(drawC))
    val exactC = ext.Similarity.exactNn1Between(
        qsC.select(col("vec_id"), col("v")),
        fxAllD.select(col("vec_id"), col("v")))
      .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
    val wantRecC = ext.RecallProbes.recallFlags(exactC,
        ext.Quantizers.exactRerankTailOver(
          fxAllD.select(col("vec_id"), col("v")),
          ext.Quantizers.adcScored(codesD, qsC, centsD, pqcD),
          drawC))
      .collect().map(_.toSeq).toSet
    assert(wantRecC.nonEmpty)
    assert(gotRecC == wantRecC,
      s"live compressed recall monitor diverges from the batch s42 " +
        s"statements: missing=${(wantRecC -- gotRecC).take(3)} " +
        s"extra=${(gotRecC -- wantRecC).take(3)}")
    // Retirement — the live s25: retiring the ':del' draw must equal
    // filtering the full in-lineage scored frame (same stored model)
    // to surviving candidates before the rank.
    cm.retire(ext.Similarity.emb(spark, sf)
      .filter(ext.Similarity.annDelVec).select(col("vec_id")))
    val gotDel = cm.probe(ext.Similarity.emb(spark, sf)
        .filter(col("vec_id") < 10).select(col("vec_id"), col("v")))
      .get.collect().map(_.toSeq).toSet
    val wantDel = ext.Quantizers.pqAdcTop5(
        ext.Quantizers.ivfadcScored(spark, sf,
          Some(!ext.Similarity.annBatchVec))
          .filter(!ext.Similarity.annDelVecOn(col("nn_id"))))
      .collect().map(_.toSeq).toSet
    assert(wantDel.nonEmpty)
    assert(gotDel == wantDel,
      "retired compressed probe diverges from scored-minus-deleted")
  }

  test("streaming k-NN graph maintenance matches batch s34 insert and s35 " +
      "delete heal") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_knnmaint_stream").toString
    // The s34 arrival scenario, incrementalized: the planted corpus's
    // non-batch 7/8 bootstraps the graph (full NN-descent — the
    // stored generation), then the annBatch 1/8 folds through the
    // restricted insert descent. Live ≡ batch through two INDEPENDENT
    // materializations: the twin's in-memory lineage vs s34's landed
    // base build + store round-trip.
    val planted = ext.Similarity.plantedTwinCorpus(
      ext.Similarity.emb(spark, sf).select(col("vec_id"), col("v")))
    val base = planted.select(col("vec_id"),
      timestamp_seconds(lit(1700000000L) + col("vec_id") % lit(1000000000L))
        .as("ts"),
      col("v"))
    val cm = new DocStreams.KnnGraphMaintenance
    val q = spark.readStream.schema(DocStreams.embSchema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => cm.fold(b))
      .start()
    try {
      Seq(!ext.Similarity.annBatchVec, ext.Similarity.annBatchVec).foreach {
        part =>
          base.filter(part).write.mode("append").parquet(srcDir)
          q.processAllAvailable()
      }
    } finally q.stop()
    val s34 = SparkEntry.queries("s34_knn_graph_insert")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(s34.nonEmpty)
    val touched = s34.map(_._1)
    val ranked = cm.ranked.getOrElse(fail("no graph after replay"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val gotTouched = ranked.filter(t => touched(t._1)).toSet
    assert(gotTouched == s34,
      s"live touched lists diverge from batch s34: " +
        s"missing=${(s34 -- gotTouched).take(3)} " +
        s"extra=${(gotTouched -- s34).take(3)}")
    // The untouched remainder is the bootstrap generation verbatim —
    // the whole maintained graph is pinned, not just the delta.
    val baseRanked = ext.KnnGraph.knnRanked(
        ext.KnnGraph.knnDescentGraph(graft.ops.Subplan.once(
          planted.filter(!ext.Similarity.annBatchVec))))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .filterNot(t => touched(t._1)).toSet
    assert(ranked.filterNot(t => touched(t._1)).toSet == baseRanked,
      "an untouched owner's list moved during the live fold")
    // Recall — the live s43: the twin's monitor must equal the s43
    // statements (ONE knnQ0 entry, ONE knnBeamWalkFull loop, the
    // walk's own exact-int64 truth, ONE recallFlags fold) over an
    // INDEPENDENT materialization of the maintained graph — the rows
    // the s34/base pins above just proved correct.
    val gotRecG = cm.recallStats.getOrElse(fail("no recall after replay"))
      .collect().map(_.toSeq).toSet
    val gBatch = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ranked.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))
          .toIndexedSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.LongType))))
    val fxG = graft.ops.Subplan.once(ext.KnnGraph.knnFx(
      graft.ops.Subplan.once(planted)))
    val drawG = ext.Similarity.recallDraw(fxG.count())
    val (_, visG) = ext.KnnGraph.knnBeamWalkFull(
      ext.KnnGraph.knnQ0(fxG, drawG),
      fxG, gBatch, ext.KnnGraph.KnnBeamWidth)
    val exactG = ext.Similarity.exactNn1SqBetween(
        fxG.filter(drawG), fxG)
      .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
    val wantRecG = ext.RecallProbes.recallFlags(exactG,
        ext.KnnGraph.knnEfRank(visG))
      .collect().map(_.toSeq).toSet
    assert(wantRecG.nonEmpty)
    assert(gotRecG == wantRecG,
      s"live graph recall monitor diverges from the batch s43 " +
        s"statements: missing=${(wantRecG -- gotRecG).take(3)} " +
        s"extra=${(gotRecG -- wantRecG).take(3)}")
    // Retirement — the live s35, on a SECOND twin bootstrapped over
    // the full corpus (s35's base generation): the healed owners'
    // lists must equal the registered s35 output, and no retired id
    // survives anywhere; a re-retire changes nothing.
    val cm2 = new DocStreams.KnnGraphMaintenance
    cm2.fold(planted.select(col("vec_id"), col("v")))
    val delIds = planted.filter(ext.Similarity.annDelVec)
      .select(col("vec_id"))
    cm2.retire(delIds)
    val s35 = SparkEntry.queries("s35_knn_graph_delete")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(s35.nonEmpty)
    val healedIds = s35.map(_._1)
    val ranked2 = cm2.ranked.getOrElse(fail("no graph after retire"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(ranked2.filter(t => healedIds(t._1)).toSet == s35,
      "live healed lists diverge from batch s35")
    val del = delIds.collect().map(_.getLong(0)).toSet
    ranked2.foreach { case (v, w, _, _) =>
      assert(!del(v) && !del(w), s"retired id survives live in ($v, $w)")
    }
    cm2.retire(delIds)
    assert(cm2.ranked.get.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet ==
      ranked2.toSet, "re-retire changed the live graph")
    // Drift — the live s38: the twin's metric over (bootstrap
    // generation, post-retire state) IS the registered s38 scenario
    // (base = full graph, now = post-delete), one graphDriftStats
    // definition.
    val gotDrift = cm2.driftStats.getOrElse(fail("no drift before refine"))
      .collect().map(_.toSeq).toSet
    val wantDrift = SparkEntry.queries("s38_knn_graph_drift")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(wantDrift.nonEmpty)
    assert(gotDrift == wantDrift,
      s"live drift diverges from the batch s38 answer: " +
        s"missing=${(wantDrift -- gotDrift).take(3)} " +
        s"extra=${(gotDrift -- wantDrift).take(3)}")
    // Refine — the live s37: the warm-start rounds over the
    // maintained state must land exactly the registered s37
    // generation (one knnRefine loop).
    cm2.refine()
    val gotRefined = cm2.ranked.get.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val wantRefined = SparkEntry.queries("s37_knn_graph_refine")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(wantRefined.nonEmpty)
    assert(gotRefined == wantRefined,
      s"live refine diverges from the batch s37 generation: " +
        s"missing=${(wantRefined -- gotRefined).take(3)} " +
        s"extra=${(gotRefined -- wantRefined).take(3)}")
  }

  test("streaming LM scoring against the frozen corpus LM replays batch t22") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_lm_stream").toString
    val d = Tables(spark, sf, "documents")
    // the frozen LM = the batch corpus LM, so replaying the corpus
    // must reproduce t22's self-trained scores bit-for-bit (no OOV
    // backoff fires on an in-vocabulary replay)
    val (cu, cb) = ext.Text.bigramLm(ext.Text.bigramPositions(d, "doc_id"))
    d.select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"))
      .write.mode("append").parquet(srcDir)
    val scored = DocStreams.lmSurprise(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir), cu, cb)
    // Complete mode: the (doc_id, ts) aggregate would be held back by a
    // never-advancing end-of-data watermark in append (the t13-twin
    // stance).
    val q = scored.writeStream.outputMode("complete")
      .format("memory").queryName("lm_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("lm_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
          r.getAs[Double]("surprise"))).toSet
      val want = SparkEntry.queries("t22_lm_perplexity")(spark, sf).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
          r.getAs[Double]("surprise"))).toSet
      assert(want.nonEmpty)
      assert(got == want,
        s"streamed LM scores diverge from batch t22: " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("LM scorer OOV backoff: all-unseen doc scores exactly neutral 1.0") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_lm_oov").toString
    // LM trained on one corpus; streamed doc shares NO tokens with it:
    // every position backs off to c1 = c2 = 1 ⇒ s = 2^20 ⇒ surprise
    // is exactly 1.0 (the neutral position, deterministic by design).
    val lmCorpus = Seq((1L, "alpha beta gamma alpha beta"))
      .toDF("doc_id", "text")
    val (cu, cb) = ext.Text.bigramLm(ext.Text.bigramPositions(lmCorpus, "doc_id"))
    Seq((100L, new java.sql.Timestamp(1700000000000L), "zeta eta theta iota"))
      .toDF("doc_id", "ts", "text")
      .write.mode("append").parquet(srcDir)
    val q = DocStreams.lmSurprise(
        spark.readStream.schema(DocStreams.docSchema).parquet(srcDir), cu, cb)
      .writeStream.outputMode("complete")
      .format("memory").queryName("lm_oov").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("lm_oov").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
          r.getAs[Double]("surprise")))
      assert(rows.toSeq == Seq((100L, 3L, 1.0)),
        s"all-OOV doc must score neutral 1.0 over its 3 bigrams: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming index maintenance converges to exactly the batch t19 build") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_index_stream").toString
    val d = Tables(spark, sf, "documents")
    val base = d.select(col("doc_id"),
      timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
      col("text"))
    val rows = DocStreams.indexMaintenance(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir))
    val q = rows.writeStream.outputMode("append")
      .format("memory").queryName("index_stream").start()
    try {
      // two microbatches split by parity: most (term, block) keys see
      // arrivals in both triggers, so the merge path genuinely runs
      Seq(0, 1).foreach { par =>
        base.filter(col("doc_id") % 2 === par)
          .write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
      // each key emits once per touched trigger; n_docs grows
      // monotonically per key, so the converged row = max n_docs
      val got = spark.table("index_stream").collect()
        .map(r => (r.getAs[String]("term"), r.getAs[Long]("block"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"),
          r.getAs[String]("postings")))
        .groupBy(t => (t._1, t._2)).values.map(_.maxBy(_._3)).toSet
      val want = SparkEntry.queries("t19_inverted_index")(spark, sf).collect()
        .map(r => (r.getAs[String]("term"), r.getAs[Long]("block"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"),
          r.getAs[String]("postings"))).toSet
      assert(want.nonEmpty)
      assert(got == want,
        s"converged streaming index diverges from the batch build: " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming span trim against the frozen blocklist replays to " +
      "exactly the batch d16 rewrite") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_trim_stream").toString
    val d = Tables(spark, sf, "documents")
    // the frozen static side: the corpus-learned blocklist, the ONE
    // crossDocSpanGrams definition batch d16 trims by
    val blocklist = ext.Dedup.crossDocSpanGrams(
      d.select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk")))
    val rows = DocStreams.trimSpans(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir),
      blocklist)
    // Complete mode: the per-(doc, ts) aggregate would be held back by
    // a never-advancing end-of-data watermark in append (the
    // decontaminate-test stance).
    val q = rows.writeStream.outputMode("complete")
      .format("memory").queryName("trim_stream").start()
    try {
      Seq(0, 1).foreach { par =>
        d.select(col("doc_id"),
            timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
            col("text"))
          .filter(col("doc_id") % 2 === par)
          .write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
      val got = spark.table("trim_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tok"),
          r.getAs[Long]("n_cut"), r.getAs[String]("clean_text"))).toMap
      val want = SparkEntry.queries("d16_trim_spans")(spark, sf).collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tok"),
          r.getAs[Long]("n_cut"), r.getAs[String]("clean_text"))).toMap
      assert(want.nonEmpty && got.size == want.size)
      assert(got == want,
        s"streamed trim diverges from batch d16: first diff ${
          (want.keySet ++ got.keySet).find(k => got.get(k) != want.get(k))
            .map(k => (k, got.get(k), want.get(k)))}")
      assert(got.values.exists(_._2 > 0), "the blocklist must bite")
    } finally q.stop()
  }

  test("streaming NB model maintenance converges to a full batch recount") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_nb_stream").toString
    val d = Tables(spark, sf, "documents")
    val base = d.select(col("doc_id"),
      timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
      col("lang"), col("text"))
    val rows = DocStreams.nbModelMaintenance(
      spark.readStream.schema(DocStreams.labeledDocSchema).parquet(srcDir))
    val q = rows.writeStream.outputMode("append")
      .format("memory").queryName("nb_stream").start()
    try {
      // two microbatches split by parity so most (t, lang, block) keys
      // see arrivals in both triggers and the merge path genuinely runs
      Seq(0, 1).foreach { par =>
        base.filter(col("doc_id") % 2 === par)
          .write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
      // last emission per key = max n_docs; the model row is the SUM
      // of a (t, lang) key's block partials — counts are additive
      val got = spark.table("nb_stream").collect()
        .map(r => ((r.getAs[Long]("t"), r.getAs[String]("lang"),
          r.getAs[Long]("block")), (r.getAs[Long]("n_docs"),
          r.getAs[Long]("n"))))
        .groupBy(_._1).values.map(g => (g.head._1, g.map(_._2).maxBy(_._1)))
        .groupBy { case ((t, lang, _), _) => (t, lang) }
        .view.mapValues(_.map(_._2._2).sum).toMap
      val want = d
        .select(col("lang"), split(trim(col("text")), "\\s+").as("tk"))
        .select(col("lang"), explode(ext.Dedup.ngramIdCol(1)).as("t"))
        .groupBy(col("t"), col("lang")).agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getAs[Long]("t"), r.getAs[String]("lang")) ->
          r.getAs[Long]("n")).toMap
      assert(want.nonEmpty)
      assert(got == want,
        s"converged streaming model diverges from the batch recount: " +
          s"first diff ${(want.keySet ++ got.keySet)
            .find(k => got.get(k) != want.get(k))
            .map(k => (k, got.get(k), want.get(k)))}")
    } finally q.stop()
  }

  test("streaming embedding near-dup filter replays to exactly the batch d05 pairs") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_embdup_stream").toString
    // The batch d05 corpus: every vector plus its 1.01-dim0-scaled twin
    // (id + 10^9, sign-identical), vectors lifted to double exactly as
    // batch Similarity.emb does; ts inside the 24 h ttl as in the d06
    // replay.
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    assert(e.count() <= 86400L,
      "ts packs 1 vector/second (twins share their original's second) — a " +
        "larger fixture would push pairs past the 24 h ttl by design, not by bug")
    e.unionAll(e.select((col("vec_id") + lit(1000000000L)).as("vec_id"),
        transform(col("v"), (x, i) =>
          when(i === 0, x * lit(1.01)).otherwise(x)).as("v")))
      .select(col("vec_id"),
        timestamp_seconds(lit(1700000000L) + col("vec_id") % lit(1000000000L)).as("ts"),
        col("v"))
      .write.mode("append").parquet(srcDir)
    val pairs = DocStreams.embeddingNearDupPairs(
      spark.readStream.schema(DocStreams.embSchema).parquet(srcDir))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("embdup_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("embdup_stream").distinct().collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
          r.getAs[Double]("cos_sim"))).toSet
      val want = SparkEntry.queries("d05_embedding_neardup")(spark, sf).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
          r.getAs[Double]("cos_sim"))).toSet
      assert(want.nonEmpty, "corpus must contain planted near-dup pairs")
      assert(got == want,
        s"streamed embedding near-dups diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming decontamination replays to exactly the batch t13 verdicts") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_decontam_stream").toString
    // The batch t13 fixture, split by the SAME md5 eval flag: eval docs
    // become the static held-out gram set, train docs become the stream.
    val withCanary = Tables(spark, sf, "documents")
      .select(col("doc_id"), ext.Text.canaryText.as("text"))
    val evalGrams = withCanary.filter(ext.Text.isEvalCol)
      .select(split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(explode(array_distinct(ext.Text.gram8Col)).as("x"))
    withCanary.filter(!ext.Text.isEvalCol)
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"))
      .write.mode("append").parquet(srcDir)
    // Complete mode: the (doc_id, ts) aggregate would be held back by a
    // never-advancing end-of-data watermark in append, as with the KMV
    // windows.
    val stream = DocStreams.decontaminate(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir), evalGrams)
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("decontam_stream").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_hits"), r.getAs[Double]("contam_ratio"))
      val got = spark.table("decontam_stream").collect().map(key).toSet
      val want = SparkEntry.queries("t13_decontaminate")(spark, sf).collect()
        .map(key).toSet
      assert(want.exists(_._3 > 0), "fixture must contain contaminated train docs")
      assert(got == want,
        s"streamed verdicts diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming semantic decontamination replays to exactly the batch s09 rows") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_semdecontam_stream").toString
    // The batch s09 fixture: the planted-twin corpus split by the SAME
    // md5 eval draw — eval vectors become the static held-out side,
    // the rest become the stream (ts packs 1 vector/second, twins at
    // their original's second, as in the d05 replay).
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val al = e.unionAll(e.select((col("vec_id") + lit(1000000000L)).as("vec_id"),
      transform(col("v"), (x, i) =>
        when(i === 0, x * lit(1.01)).otherwise(x)).as("v")))
    val evalVecs = al.filter(ext.EmbeddingDedup.isEvalVec)
    al.filter(!ext.EmbeddingDedup.isEvalVec)
      .select(col("vec_id"),
        timestamp_seconds(lit(1700000000L) + col("vec_id") % lit(1000000000L)).as("ts"),
        col("v"))
      .write.mode("append").parquet(srcDir)
    // Complete mode: the (vec_id, ts) aggregate would be held back by a
    // never-advancing end-of-data watermark in append, as with t13.
    val stream = DocStreams.semanticDecontaminate(
      spark.readStream.schema(DocStreams.embSchema).parquet(srcDir), evalVecs)
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("semdecontam_stream").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("vec_id"), r.getAs[Long]("n_eval_matches"),
          r.getAs[Double]("max_cos"))
      val got = spark.table("semdecontam_stream").collect().map(key).toSet
      val want = SparkEntry.queries("s09_semantic_decontam")(spark, sf).collect()
        .map(key).toSet
      assert(want.nonEmpty, "fixture must contain cross-split planted matches")
      assert(got == want,
        s"streamed semantic verdicts diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming ahash filter replays to exactly the batch m06 pairs") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_ahash_stream").toString
    // the batch m06 base (shared via m06Base, so this always replays
    // the registered fixture), ts 1 s apart inside the ttl with each
    // twin landing at its original's second
    graft.ext.Multimodal.m06Base(spark, sf).toDF()
      .select(col("media_id"),
        timestamp_seconds(lit(1700000000L) + col("media_id") % lit(1000000000L))
          .as("ts"),
        col("kind"), col("payload"))
      .write.mode("append").parquet(srcDir)
    val pairs = DocStreams.ahashNearPairs(
      spark.readStream.schema(DocStreams.mediaSchema).parquet(srcDir))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("ahash_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ahash_stream").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Int]("hamming"))).toSet
      val want = SparkEntry.queries("m06_ahash_pairs")(spark, sf).collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"),
          r.getAs[Int]("hamming"))).toSet
      assert(want.nonEmpty, "corpus must contain ahash near-dup pairs")
      assert(got == want,
        s"streamed media near-dups diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming budget gate replays to exactly the batch t18 prefix") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_budget_stream").toString
    // ts ascending in doc_id, so per-source arrival order matches the
    // batch (source, doc_id) prefix order; split into two microbatches
    // so the budget state must carry across triggers.
    val staged = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("source"), col("text"))
    val stream = DocStreams.budgetPrefix(
      spark.readStream.schema(DocStreams.srcDocSchema).parquet(srcDir))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("budget_stream").start()
    try {
      staged.filter(col("doc_id") < 250).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      staged.filter(col("doc_id") >= 250).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
          r.getAs[Int]("n_tok"), r.getAs[Long]("tok_start"),
          r.getAs[Long]("budget"), r.getAs[Boolean]("kept"))
      val got = spark.table("budget_stream").collect().map(key).toSet
      val want = SparkEntry.queries("t18_budget_prefix")(spark, sf).collect()
        .map(key).toSet
      assert(want.exists(!_._6), "fixture must contain dropped docs")
      assert(want.exists(_._6), "fixture must contain admitted docs")
      assert(got == want,
        s"streamed admissions diverge: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming windowed KMV distinct estimates replay to the batch sketch") {
    import graft.streaming.DocStreams
    val srcDir = Files.createTempDirectory("graft_kmv_stream").toString
    // one doc per minute -> several 1-hour windows
    val staticDocs = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id") * 60).as("ts"),
        col("text"))
    staticDocs.write.mode("append").parquet(srcDir)
    // k=16 < the ~31 distinct tokens per window, so the ESTIMATE path
    // runs, not just the small-window exact fallback. Complete mode:
    // append would hold back the final windows (the watermark never
    // advances past end-of-data), same as the tumbling-counts test.
    val stream = DocStreams.windowedDistinctTokens(
      spark.readStream.schema(DocStreams.docSchema).parquet(srcDir), k = 16)
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("kmv_stream").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[java.sql.Timestamp]("wstart"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("est_distinct"))
      val got = spark.table("kmv_stream").collect().map(key).toSet
      // same function, batch execution: watermark is a no-op, the
      // windowed KmvAgg runs as a plain aggregate
      val want = DocStreams.windowedDistinctTokens(staticDocs, k = 16).collect()
        .map(key).toSet
      assert(want.size > 1, "test must span multiple windows")
      assert(want.exists(w => w._3 != math.floor(w._3)),
        "at least one window must take the (k-1)*2^32/kth estimate path")
      assert(got == want,
        s"streamed sketch diverges: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming funnel updates reduce to exactly the batch e07 summary") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(
      EventStreams.eventSchema.filterNot(_.name == "props"))
    val srcDir = Files.createTempDirectory("graft_funnel_replay").toString
    Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .write.mode("append").parquet(srcDir)
    val updates = EventStreams.funnelStages(
      spark.readStream.schema(schema).parquet(srcDir)
        .as[EventStreams.EventIn])
    val q = updates.writeStream.outputMode("append")
      .format("memory").queryName("funnel_replay").start()
    try {
      q.processAllAvailable()
      // the last update per user is the final funnel: stages only grow,
      // so the row with the most defined stages (then max values) wins
      val finals = spark.table("funnel_replay").as[EventStreams.FunnelUpdate]
        .collect().groupBy(_.user_id).map { case (_, g) =>
          g.maxBy(u => (u.t3.isDefined, u.t2.isDefined, u.t1.isDefined,
            u.t3.getOrElse(0L), u.t2.getOrElse(0L), u.t1.getOrElse(0L)))
        }.toSeq
      val batch = SparkEntry.queries("e07_funnel")(spark, sf).head()
      assert(finals.count(_.t1.isDefined) == batch.getAs[Long]("n_signup"))
      assert(finals.count(_.t2.isDefined) == batch.getAs[Long]("n_click"))
      assert(finals.count(_.t3.isDefined) == batch.getAs[Long]("n_purchase"))
      val sumMicros = finals.collect {
        case u if u.t3.isDefined => u.t3.get - u.t1.get
      }.sum
      assert(sumMicros == batch.getAs[Long]("sum_micros"))
    } finally q.stop()
  }

  test("streaming retention increments aggregate to exactly the batch e09 matrix") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val schema = org.apache.spark.sql.types.StructType(
      EventStreams.eventSchema.filterNot(_.name == "props"))
    val srcDir = Files.createTempDirectory("graft_retention_replay").toString
    Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .write.mode("append").parquet(srcDir)
    val hits = EventStreams.cohortRetention(
      spark.readStream.schema(schema).parquet(srcDir)
        .as[EventStreams.EventIn])
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("retention_replay").start()
    try {
      q.processAllAvailable()
      // each hit is unique per (user, offset) by the state bitmask, so
      // counting hits per (cohort, offset) IS count_distinct(user)
      val got = spark.table("retention_replay").collect()
        .groupBy(r => (r.getAs[java.sql.Timestamp]("cohort_day"),
          r.getAs[Int]("day_offset")))
        .map { case (k, g) => k -> g.length.toLong }
      val want = SparkEntry.queries("e09_cohort_retention")(spark, sf).collect()
        .map(r => ((r.getAs[java.sql.Timestamp]("cohort_day"),
          r.getAs[Int]("day_offset")), r.getAs[Long]("n_active"))).toMap
      assert(want.nonEmpty && got == want,
        s"streamed retention diverges: missing=${(want.toSet -- got.toSet).take(3)} " +
          s"extra=${(got.toSet -- want.toSet).take(3)}")
    } finally q.stop()
  }

  test("cohort retention never re-cohorts a user after their window closes") {
    import spark.implicits._
    import graft.streaming.EventStreams
    // Two microbatches a month apart: the day-30 activity is past the
    // user's offset-0..7 window, so it must emit NOTHING — never a
    // phantom offset-0 hit re-cohorted at day 30 (the failure mode of
    // evicting exhausted user state).
    val schema = org.apache.spark.sql.types.StructType(
      EventStreams.eventSchema.filterNot(_.name == "props"))
    val srcDir = Files.createTempDirectory("graft_recohort").toString
    // coalesce(1): the query is already polling when the first append
    // lands, and a 2-partition write surfaces as two part files the file
    // source may split across microbatches (day-1 file alone cohorts the
    // user at day 1; the ts=0 file then drops as late). One file per
    // logical batch keeps each append atomic to the source's listing.
    def batch(secs: Long*) = secs.toSeq.zipWithIndex
      .map { case (s, i) => (i.toLong, new java.sql.Timestamp(s * 1000L),
        7L, "click", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1)
    val hits = EventStreams.cohortRetention(
      spark.readStream.schema(schema).parquet(srcDir)
        .as[EventStreams.EventIn])
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("recohort").start()
    try {
      val day = 86400L
      batch(0L, 1L * day + 60).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      batch(30L * day).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val got = spark.table("recohort").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("cohort_day").getTime / 1000L / day,
          r.getAs[Int]("day_offset"))).toSet
      assert(got == Set((0L, 0), (0L, 1)),
        s"expected only the day-0 cohort's offsets 0 and 1, got $got")
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions on timeout") {
    import spark.implicits._
    val events = Tables(spark, sf, "events")
      .filter(col("user_id") < 20)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.EventIn]
    // Batch-mode flatMapGroupsWithState: all events in one batch, so
    // sessions close only via the in-batch gap rule; the final open
    // session per user stays in state. Compare closed-session counts
    // with the batch sessionizer (every batch session except the last
    // per user must be emitted).
    val streamed = EventStreams.sessionize(events).collect()
    val batch = SparkEntry.queries("e04_sessionize")(spark, sf)
      .filter(col("user_id") < 20).collect()
    val batchPerUser = batch.groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length)
    val streamPerUser = streamed.groupBy(_.user_id).view.mapValues(_.length)
    batchPerUser.foreach { case (u, nBatch) =>
      assert(streamPerUser.getOrElse(u, 0) == nBatch - 1,
        s"user $u: ${streamPerUser.getOrElse(u, 0)} closed vs $nBatch batch sessions")
    }
    // session boundaries agree with the batch result for one user
    val u0 = batch.filter(_.getAs[Long]("user_id") == batch.head.getAs[Long]("user_id"))
      .sortBy(_.getAs[Long]("sess"))
    val s0 = streamed.filter(_.user_id == u0.head.getAs[Long]("user_id"))
      .sortBy(_.session_start.getTime)
    s0.zip(u0).foreach { case (s, b) =>
      assert(s.session_start == b.getAs[java.sql.Timestamp]("t_start"))
      assert(s.n_events == b.getAs[Long]("n_events"))
    }
  }

  test("live DSIR scores equal batch t37 weights on the same rows " +
      "(fixed broadcast model, pool arrives over two triggers)") {
    val d = Tables(spark, sf, "documents")
      .select(col("doc_id"), ext.Text.isTgtCol.as("is_tgt"), col("text"))
    val model = ext.Text.dsirModel(d)
    val dm = new graft.streaming.DocStreams.DsirScoreMaintenance(model)
    val pool = d.filter(!col("is_tgt")).select(col("doc_id"), col("text"))
    dm.fold(pool.filter(col("doc_id") % 2 === 0))
    dm.fold(pool.filter(col("doc_id") % 2 =!= 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = rows(dm.weights.getOrElse(fail("no weights after replay")))
    val batch = rows(ext.Text.dsirWeights(d))
    assert(live.nonEmpty && live == batch,
      s"live DSIR weights diverge from batch t37: " +
        s"missing=${(batch -- live).take(3)} extra=${(live -- batch).take(3)}")
  }

  test("live corpus drift equals batch t38 once the stream converges " +
      "(counts additive across triggers)") {
    val d = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val cm = new graft.streaming.DocStreams.CorpusDriftMaintenance
    // Bootstrap = the existing corpus; the batch then arrives over
    // two triggers — additivity must make the split invisible.
    cm.fold(d.filter(col("doc_id") % 8 =!= 0))
    cm.fold(d.filter(col("doc_id") % 8 === 0 && col("doc_id") % 16 === 0))
    cm.fold(d.filter(col("doc_id") % 8 === 0 && col("doc_id") % 16 =!= 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val live = rows(cm.driftStats.getOrElse(fail("no drift after replay")))
    val batch = rows(SparkEntry.queries("t38_corpus_drift")(spark, sf))
    assert(live.nonEmpty && live == batch,
      s"live drift diverges from batch t38: " +
        s"missing=${(batch -- live).take(3)} extra=${(live -- batch).take(3)}")
  }
}
