package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.ext.Dedup

/** Structured Streaming twins of the document near-dup family: the
  * d03 MinHash-LSH filter ([[DocStreams.nearDupPairs]]) and the d06
  * banded-simhash filter ([[DocStreams.simhashNearPairs]]) — both
  * watermark-bounded over an unbounded document stream (the streaming
  * sibling EventStreams.dedupEvents is to d01).
  *
  * Shape: shingle sets and all 32 minhashes are ROW-LOCAL column
  * algebra (one document's set needs no explode+gather — the exact
  * [[Dedup.shingleSetCol]]/[[Dedup.minhashExpr]]/[[Dedup.bandSigs]]
  * expressions batch d03 uses, so the band keys can never drift), the
  * stream keys by (band, sig) bucket, and per-bucket state holds the
  * recently seen docs' shingle sets. An arriving document compares
  * ONLY against its colliding bucket's members — the same
  * candidates-are-collisions topology as batch d03, incrementalized.
  *
  * State is bounded two ways: members the watermark has aged out of
  * pairing range (ts < watermark − ttl, so no admissible arrival can
  * still pair with them) are dropped on every bucket visit, and idle
  * buckets are evicted wholesale by an event-time timeout once the
  * watermark passes their newest member's
  * ts + ttl — so state ∝ documents-per-retention-window, never
  * all-time corpus size (the unbounded-dedup-state OOM, as with
  * dedupEvents). At 100 TB/day the per-bucket member lists stay short
  * because bucket keys are content-derived (hot buckets = real
  * near-dup clusters, which is exactly the work).
  *
  * A pair colliding in several bands is emitted once per colliding
  * bucket; buckets are independent keys, so cross-bucket emission
  * dedup belongs downstream (`dropDuplicatesWithinWatermark` on
  * (doc_a, doc_b), or the consumer's sink upsert) — batch d03 does the
  * same with its candidate `.distinct()`.
  */
// Serializable: the stateful-update closures may capture the module
// (scalac passes it as `$this` when a lambda calls private members
// like [[wmCutMicros]]); the object is stateless, so shipping it to
// executors is free — without this the closure cleaner rejects the
// whole streaming query with NotSerializableException.
object DocStreams extends Serializable {

  /** The documents schema as a streaming source expects it (ingestion
    * ts attached upstream). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("text", StringType)))

  case class BandedDoc(band: Int, sig: String, doc_id: Long,
      ts: Timestamp, xs: Seq[Long])
  case class BucketDoc(docId: Long, tsMicros: Long, xs: Seq[Long])
  case class BucketState(docs: List[BucketDoc], maxTsMicros: Long)
  case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  /** The watermark retention cut in microseconds: a bucket member is
    * dead only when ts < watermark − ttl — no admissible future
    * arrival (ts ≥ watermark) can still sit within ttl of it. ONE
    * definition for all three pair filters so the cut semantics (ms→µs
    * conversion, no-watermark sentinel ⇒ keep everything) can't drift.
    * Evicting relative to the current arrival instead would drop a
    * member that a late-but-valid doc still needs, losing that pair
    * where the batch twin emits it (StreamingSpec pins the case).
    * Takes the raw watermark millis (not the GroupState) so the
    * stateful-update closures stay free of module references Spark's
    * closure cleaner can't serialize. */
  private def wmCutMicros(wmMs: Long, ttlUs: Long): Long =
    if (wmMs == Long.MinValue) Long.MinValue else wmMs * 1000L - ttlUs

  /** (band, sig, doc_id, ts, xs) rows for a (doc_id, ts, text) stream —
    * entirely row-local except the band explode (8 rows per doc). */
  private[graft] def banded(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("ts"), split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("ts"), Dedup.shingleSetCol.as("xs"))
      .withColumn("mha", Dedup.minhashAllCol(col("xs")))
      .select(col("doc_id"), col("ts"), col("xs"),
        explode(Dedup.bandSigsOfArray(col("mha"))).as("bs"))
      .select(col("bs.band").as("band"), col("bs.sig").as("sig"),
        col("doc_id"), col("ts"), col("xs"))

  /** Near-dup pairs (jaccard ≥ `threshold`) between documents arriving
    * within `ttl` of each other, per LSH band bucket. See object doc
    * for state bounds and emission semantics. */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.5,
      watermarkDelay: String = "1 hour",
      ttlMinutes: Int = 24 * 60): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    val ttlUs = ttlMinutes * 60L * 1000000L

    def update(key: (Int, String), batch: Iterator[BandedDoc],
        state: GroupState[BucketState]): Iterator[NearDupPair] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val arrived = batch.toSeq.sortBy(d => (micros(d.ts), d.doc_id))
        var cur = state.getOption.getOrElse(BucketState(Nil, Long.MinValue))
        val out = Seq.newBuilder[NearDupPair]
        // Watermark-based retention ([[wmCutMicros]]); the symmetric
        // abs comparison below (ADVICE r4) keeps out-of-ttl pairs out,
        // so retaining members longer only adds recall, never false
        // positives. One retention pass per trigger: in-batch appends
        // all sit at or above the watermark, never below the cut.
        val wmCut = wmCutMicros(scala.util.Try(
          state.getCurrentWatermarkMs()).getOrElse(Long.MinValue), ttlUs)
        var live = cur.docs.filter(b => b.tsMicros >= wmCut)
        var maxTs = cur.maxTsMicros
        arrived.foreach { d =>
          val m = micros(d.ts)
          val xs = d.xs.toSet
          live.foreach { b =>
            if (b.docId != d.doc_id && math.abs(m - b.tsMicros) <= ttlUs) {
              val inter = b.xs.count(xs.contains)
              val j = inter.toDouble / (b.xs.size + xs.size - inter)
              if (j >= threshold)
                out += (if (b.docId < d.doc_id)
                  NearDupPair(b.docId, d.doc_id, j)
                else NearDupPair(d.doc_id, b.docId, j))
            }
          }
          live = BucketDoc(d.doc_id, m, d.xs) :: live
          maxTs = math.max(maxTs, m)
        }
        cur = BucketState(live, maxTs)
        state.update(cur)
        // Evict the idle bucket once the watermark passes its newest
        // member + ttl (clamped above the current watermark, as in
        // EventStreams.sessionize).
        val wm = scala.util.Try(state.getCurrentWatermarkMs())
          .getOrElse(Long.MinValue)
        state.setTimeoutTimestamp(
          math.max(cur.maxTsMicros / 1000L + ttlUs / 1000L, wm + 1))
        out.result().iterator
      }
    }

    banded(docs)
      .withWatermark("ts", watermarkDelay)
      .as[BandedDoc]
      .groupByKey(d => (d.band, d.sig))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class ShingleDoc(x: Long, doc_id: Long, ts: Timestamp, xs: Seq[Long])
  // Containment state stores the sorted set as Array[Long], converted
  // ONCE at insertion: the pairing loop binary-searches and merge-scans
  // these per member, and a Seq-backed state would pay an O(S) copy per
  // (arrival, member) comparison before any gate could reject.
  case class ContainMember(docId: Long, tsMicros: Long, xs: Array[Long])
  case class ContainState(docs: List[ContainMember], maxTsMicros: Long)
  case class ContainPair(doc_a: Long, doc_b: Long, containment: Double)

  /** Contained side's prefix length under threshold `t`: the first
    * n − ⌈t·n⌉ + 1 shingles in the fixed order — the exact batch
    * formula including the 1e-9 ceil slack (Dedup.prefixBlocks). */
  private[graft] def prefLen(n: Int, t: Double): Int =
    n - math.ceil(n * t - 1e-9).toInt + 1

  /** Two-cursor intersection count over sorted distinct arrays — the
    * JVM twin of the batch SortedIntersectCount merge scan. */
  private[graft] def interCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** Streaming twin of batch d12 ([[Dedup.containmentPairsPrefix]]):
    * asymmetric containment pairs C(A→B) = |A∩B| / |A| ≥ `threshold`
    * — the quote/subset detector — between documents arriving within
    * `ttl` of each other. Emits ordered (doc_a contained-in doc_b,
    * containment), exactly the batch columns.
    *
    * The batch prefix filter needs only SOME fixed total order on
    * shingles (the recall pigeonhole is order-agnostic; batch picks
    * df-ascending to minimize join cost). A stream cannot know global
    * document frequencies, so the twin orders by SHINGLE ID — fully
    * row-local (one sort_array per doc) — and keys buckets by shingle:
    * every arriving doc explodes its FULL sorted set to its shingles'
    * buckets, and state per bucket holds the recent members' sets
    * ([[ContainMember]] — d03's bucket shape with the set stored as a
    * sorted Array for allocation-free gating). On arrival, a member
    * pairs in whichever direction has bucket shingle `x` inside the
    * CONTAINED side's id-order prefix (a binary search against the
    * stored sorted set — no flag to keep in state); the batch size
    * filter (n_b ≥ ⌈t·n_a⌉, same 1e-9 slack) gates before the exact
    * merge-scan verify, so the containment values are bit-identical
    * to batch. Recall: if C(A→B) ≥ t then A's prefix intersects B
    * (pigeonhole), and that shared shingle's bucket sees both docs.
    *
    * A pair can collide in several prefix buckets — dedup downstream,
    * as with every banded twin. State: a hot shingle's bucket holds
    * every recent doc containing it (the streaming form of d12's
    * documented unpruned-container-side caveat), bounded by the
    * ttl/watermark machinery, and each arrival's work in that bucket
    * is one binary search per member unless the prefix check passes —
    * the high-threshold contract that keeps batch d12 cheap keeps the
    * hot buckets cheap here too (round-7 Zipf soak: prefix hits are
    * ~2% of container-side df even with hot prefixes planted). */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9,
      watermarkDelay: String = "1 hour",
      ttlMinutes: Int = 24 * 60): Dataset[ContainPair] = {
    import docs.sparkSession.implicits._
    val ttlUs = ttlMinutes * 60L * 1000000L

    def update(x: Long, batch: Iterator[ShingleDoc],
        state: GroupState[ContainState]): Iterator[ContainPair] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val arrived = batch.toSeq.sortBy(d => (micros(d.ts), d.doc_id))
        var cur = state.getOption.getOrElse(ContainState(Nil, Long.MinValue))
        val out = Seq.newBuilder[ContainPair]
        // Watermark-based retention + symmetric comparison, exactly as
        // nearDupPairs ([[wmCutMicros]]).
        val wmCut = wmCutMicros(scala.util.Try(
          state.getCurrentWatermarkMs()).getOrElse(Long.MinValue), ttlUs)
        var live = cur.docs.filter(b => b.tsMicros >= wmCut)
        var maxTs = cur.maxTsMicros
        arrived.foreach { d =>
          val m = micros(d.ts)
          val dxs = d.xs.toArray // sorted distinct (sort_array upstream)
          val dIdx = java.util.Arrays.binarySearch(dxs, x)
          val dPref = prefLen(dxs.length, threshold)
          live.foreach { b =>
            if (b.docId != d.doc_id && math.abs(m - b.tsMicros) <= ttlUs) {
              // arriving doc contained in member: x in d's prefix.
              if (dIdx >= 0 && dIdx < dPref &&
                  b.xs.length >= math.ceil(dxs.length * threshold - 1e-9)) {
                val c = interCount(dxs, b.xs).toDouble / dxs.length
                if (c >= threshold) out += ContainPair(d.doc_id, b.docId, c)
              }
              // member contained in arriving doc: x in b's prefix.
              val bIdx = java.util.Arrays.binarySearch(b.xs, x)
              if (bIdx >= 0 && bIdx < prefLen(b.xs.length, threshold) &&
                  dxs.length >= math.ceil(b.xs.length * threshold - 1e-9)) {
                val c = interCount(b.xs, dxs).toDouble / b.xs.length
                if (c >= threshold) out += ContainPair(b.docId, d.doc_id, c)
              }
            }
          }
          live = ContainMember(d.doc_id, m, dxs) :: live
          maxTs = math.max(maxTs, m)
        }
        cur = ContainState(live, maxTs)
        state.update(cur)
        val wm = scala.util.Try(state.getCurrentWatermarkMs())
          .getOrElse(Long.MinValue)
        state.setTimeoutTimestamp(
          math.max(cur.maxTsMicros / 1000L + ttlUs / 1000L, wm + 1))
        out.result().iterator
      }
    }

    docs
      .select(col("doc_id"), col("ts"), split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("ts"), sort_array(Dedup.shingleSetCol).as("xs"))
      .select(explode(col("xs")).as("x"), col("doc_id"), col("ts"), col("xs"))
      .withWatermark("ts", watermarkDelay)
      .as[ShingleDoc]
      .groupByKey(_.x)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class SigBanded(band: Int, key: Long, doc_id: Long,
      ts: Timestamp, simhash: Long)
  case class SigMember(docId: Long, tsMicros: Long, simhash: Long)
  case class SigBucketState(docs: List[SigMember], maxTsMicros: Long)
  case class HammingPair(doc_a: Long, doc_b: Long, hamming: Int)

  /** Streaming twin of batch d06 ([[Dedup.simhashPairs]]): hamming-near
    * signature pairs between documents arriving within `ttl` of each
    * other, per 10-bit simhash band bucket — the cheapest near-dup
    * signal, the one an ingest stream runs. The signature is the
    * ROW-LOCAL [[Dedup.simhashOfTokenHashes]] fold (ExtSpec pins it
    * equal to batch d04's grouped form); pairing is the shared
    * [[bandedHammingPairs]] state machine. */
  def simhashNearPairs(docs: DataFrame, maxHamming: Int = 3,
      watermarkDelay: String = "1 hour",
      ttlMinutes: Int = 24 * 60): Dataset[HammingPair] =
    bandedHammingPairs(docs
      // Batch d04 drops null-text docs (explode of a null token array
      // emits no rows); without this filter the row-local fold would
      // give them simhash 0 — colliding in every (band, 0) bucket and
      // emitting spurious hamming-0 pairs batch d06 never produces.
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("ts"),
        Dedup.simhashOfTokenHashes(
          Dedup.tokenHashesCol(split(trim(col("text")), "\\s+")))
          .as("simhash")),
      maxHamming, watermarkDelay, ttlMinutes)

  /** Banded hamming pairing over ANY (doc_id, ts, simhash) 60-bit
    * signature stream — the ONE state machine behind the d06 text
    * twin ([[simhashNearPairs]]) and the m06 media twin
    * ([[ahashNearPairs]]), so bucket keys, retention, and emission
    * semantics can't drift between signature families. Band keys are
    * the exact [[Dedup.simhashBandStructs]] the batch pair joins use;
    * state bounds and per-bucket emission follow [[nearDupPairs]]
    * (dedup multi-band collisions downstream); recall matches the
    * batch pigeonhole guarantee for maxHamming ≤ 5. State per member
    * is (id, ts, signature) — 24 bytes. */
  def bandedHammingPairs(sigs: DataFrame, maxHamming: Int = 3,
      watermarkDelay: String = "1 hour",
      ttlMinutes: Int = 24 * 60): Dataset[HammingPair] = {
    require(maxHamming <= 5,
      "6-band pigeonhole guarantees recall only for hamming <= 5")
    import sigs.sparkSession.implicits._
    val ttlUs = ttlMinutes * 60L * 1000000L

    def update(key: (Int, Long), batch: Iterator[SigBanded],
        state: GroupState[SigBucketState]): Iterator[HammingPair] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val arrived = batch.toSeq.sortBy(d => (micros(d.ts), d.doc_id))
        var cur = state.getOption.getOrElse(SigBucketState(Nil, Long.MinValue))
        val out = Seq.newBuilder[HammingPair]
        // Watermark-based retention + symmetric comparison, exactly as
        // nearDupPairs ([[wmCutMicros]]).
        val wmCut = wmCutMicros(scala.util.Try(
          state.getCurrentWatermarkMs()).getOrElse(Long.MinValue), ttlUs)
        var live = cur.docs.filter(b => b.tsMicros >= wmCut)
        var maxTs = cur.maxTsMicros
        arrived.foreach { d =>
          val m = micros(d.ts)
          live.foreach { b =>
            if (b.docId != d.doc_id && math.abs(m - b.tsMicros) <= ttlUs) {
              val h = java.lang.Long.bitCount(b.simhash ^ d.simhash)
              if (h <= maxHamming)
                out += (if (b.docId < d.doc_id)
                  HammingPair(b.docId, d.doc_id, h)
                else HammingPair(d.doc_id, b.docId, h))
            }
          }
          live = SigMember(d.doc_id, m, d.simhash) :: live
          maxTs = math.max(maxTs, m)
        }
        cur = SigBucketState(live, maxTs)
        state.update(cur)
        val wm = scala.util.Try(state.getCurrentWatermarkMs())
          .getOrElse(Long.MinValue)
        state.setTimeoutTimestamp(
          math.max(cur.maxTsMicros / 1000L + ttlUs / 1000L, wm + 1))
        out.result().iterator
      }
    }

    sigs
      .select(col("doc_id"), col("ts"), col("simhash"),
        explode(Dedup.simhashBandStructs(col("simhash"))).as("bs"))
      .select(col("bs.band").as("band"), col("bs.key").as("key"),
        col("doc_id"), col("ts"), col("simhash"))
      .withWatermark("ts", watermarkDelay)
      .as[SigBanded]
      .groupByKey(d => (d.band, d.key))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** The media schema as a streaming source expects it (ingestion ts
    * attached upstream; payload is the opaque binary column). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("ts", TimestampType),
    StructField("kind", StringType),
    StructField("payload", BinaryType)))

  case class TsMediaRow(media_id: Long, ts: Timestamp, kind: String,
      payload: Array[Byte])

  /** Streaming twin of batch m06: perceptual-hash media near-dup
    * pairs on an ingest stream. The aHash kernel
    * ([[graft.ext.Multimodal.StubDecoders.ahash60]] — the exact batch
    * signature, a row-local integer fold over the payload) signs each
    * arriving payload; pairing is the shared [[bandedHammingPairs]]
    * machine, so media and text near-dup streams share retention and
    * emission semantics verbatim. */
  def ahashNearPairs(media: DataFrame, maxHamming: Int = 3,
      watermarkDelay: String = "1 hour",
      ttlMinutes: Int = 24 * 60): Dataset[HammingPair] = {
    import media.sparkSession.implicits._
    val sigs = media.filter(col("payload").isNotNull).as[TsMediaRow]
      .mapPartitions(rows => rows.map(r => (r.media_id, r.ts,
        graft.ext.Multimodal.StubDecoders.ahash60Of(r.payload))))
      .toDF("doc_id", "ts", "simhash")
    bandedHammingPairs(sigs, maxHamming, watermarkDelay, ttlMinutes)
  }

  /** The embeddings schema as a streaming source expects it (vectors
    * already lifted to double, as batch `Similarity.emb` does). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("ts", TimestampType),
    StructField("v", ArrayType(DoubleType))))

  case class BandedVec(band: Int, sig: String, vec_id: Long,
      ts: Timestamp, v: Seq[Double])
  case class VecMember(vecId: Long, tsMicros: Long, v: Array[Double])
  case class VecBucketState(docs: List[VecMember], maxTsMicros: Long)
  case class CosPair(vec_a: Long, vec_b: Long, cos_sim: Double)

  /** EXACTLY the fused CosineSimilarity expression's arithmetic (one
    * left-to-right loop, dot/(√na·√nb)) so streamed cosines are
    * bit-identical to batch d05's — fp multiplication is commutative,
    * so member/arrival argument order can't flip a bit either. */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Streaming twin of batch d05: embedding near-dup pairs (exact
    * cosine ≥ `threshold`) between vectors arriving within `ttl` of
    * each other, per axis-aligned sign-LSH band bucket — the filter an
    * embedding ingest stream runs before admitting a vector to the
    * corpus. Band keys are the exact
    * [[graft.ext.Similarity.signBandStructs]] batch d05/s05 block on
    * (no drift); state, ttl, eviction, and per-bucket emission follow
    * [[nearDupPairs]] (dedup multi-band collisions downstream). State
    * per member is (id, ts, 64 doubles) ≈ 0.5 KB; the 16-bit band
    * width keeps bucket occupancy — and so both compare cost and
    * state — tracking real near-dup density, not corpus size. */
  def embeddingNearDupPairs(vecs: DataFrame, threshold: Double = 0.99,
      watermarkDelay: String = "1 hour",
      ttlMinutes: Int = 24 * 60): Dataset[CosPair] = {
    import vecs.sparkSession.implicits._
    val ttlUs = ttlMinutes * 60L * 1000000L

    def update(key: (Int, String), batch: Iterator[BandedVec],
        state: GroupState[VecBucketState]): Iterator[CosPair] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val arrived = batch.toSeq.sortBy(d => (micros(d.ts), d.vec_id))
        var cur = state.getOption.getOrElse(VecBucketState(Nil, Long.MinValue))
        val out = Seq.newBuilder[CosPair]
        // Watermark-based retention + symmetric comparison, exactly as
        // nearDupPairs ([[wmCutMicros]]).
        val wmCut = wmCutMicros(scala.util.Try(
          state.getCurrentWatermarkMs()).getOrElse(Long.MinValue), ttlUs)
        var live = cur.docs.filter(b => b.tsMicros >= wmCut)
        var maxTs = cur.maxTsMicros
        arrived.foreach { d =>
          val m = micros(d.ts)
          val dv = d.v.toArray
          live.foreach { b =>
            if (b.vecId != d.vec_id && math.abs(m - b.tsMicros) <= ttlUs) {
              val c = cosine(b.v, dv)
              if (c >= threshold)
                out += (if (b.vecId < d.vec_id) CosPair(b.vecId, d.vec_id, c)
                        else CosPair(d.vec_id, b.vecId, c))
            }
          }
          live = VecMember(d.vec_id, m, dv) :: live
          maxTs = math.max(maxTs, m)
        }
        cur = VecBucketState(live, maxTs)
        state.update(cur)
        val wm = scala.util.Try(state.getCurrentWatermarkMs())
          .getOrElse(Long.MinValue)
        state.setTimeoutTimestamp(
          math.max(cur.maxTsMicros / 1000L + ttlUs / 1000L, wm + 1))
        out.result().iterator
      }
    }

    vecs
      .select(col("vec_id"), col("ts"), col("v"),
        explode(graft.ext.Similarity.signBandStructs(col("v"))).as("bs"))
      .select(col("bs.band").as("band"), col("bs.sig").as("sig"),
        col("vec_id"), col("ts"), col("v"))
      .withWatermark("ts", watermarkDelay)
      .as[BandedVec]
      .groupByKey(d => (d.band, d.sig))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming twin of batch t13: ingest-time benchmark
    * decontamination. A benchmark suite is FIXED at pipeline-build
    * time, so the held-out side is a STATIC relation `evalGrams`
    * (one column `x` of 36-bit gram hashes) and Spark plans a
    * stream-static BroadcastHashJoin — the stream never shuffles for
    * the join and there is no pairing state at all: a doc's verdict
    * depends only on itself and the static set. The per-doc roll-up
    * is a watermarked (doc_id, ts)-keyed aggregate whose state the
    * watermark retires; the 8-grams are the exact
    * [[graft.ext.Text.gram8Col]] batch t13 hashes, so stream and
    * batch gram sets can never drift. Returns one row per train doc:
    * (doc_id, ts, n_grams, n_hits, contam_ratio) — a downstream
    * filter on n_hits == 0 admits clean docs to the corpus. */
  def decontaminate(docs: DataFrame, evalGrams: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val grams = docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"),
        split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("ts"),
        explode(array_distinct(graft.ext.Text.gram8Col)).as("x"))
    // A stream-static join re-executes the static sub-plan every
    // micro-batch; the suite is fixed for the life of the query, so
    // materialize its distinct gram set ONCE (eager localCheckpoint —
    // the Subplan.once discipline) and re-broadcast only the
    // checkpointed rows per trigger, not the distinct's shuffle.
    val evalSet = graft.ops.Subplan.once(
      evalGrams.select(col("x")).distinct())
    grams
      .join(broadcast(evalSet.withColumn("hit", lit(1))), Seq("x"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"),
        (count(col("hit")).cast("double") / count(lit(1)))
          .as("contam_ratio"))
  }

  /** Ingest-time SEMANTIC decontamination — batch s09's stream twin,
    * the embedding-space sibling of [[decontaminate]] (which gates on
    * shared 8-grams; this gates on cosine ≥ `threshold` to a held-out
    * eval vector — paraphrased contamination that shares no 8-gram).
    * Deployment shape: the benchmark side is fixed and tiny at ingest
    * time, so the eval vectors band ONCE
    * ([[graft.ext.Similarity.signBandStructs]] — the exact batch
    * banding, vector carried alongside so verify needs no second
    * static join) into a [[graft.ops.Subplan.once]]-materialized
    * static relation that re-broadcasts per trigger: the stream never
    * shuffles for the match and there is no pairing state — a
    * vector's verdict depends only on itself and the static set.
    * The roll-up is ONE watermarked (vec_id, ts) aggregate;
    * band-collision multiplicity (the same eval vector colliding in
    * several bands) is absorbed by collect_set/max instead of a
    * distinct-before-aggregate, so no second stateful operator
    * exists and per-key state stays bounded by the eval set. Emits
    * batch s09's row per CONTAMINATED stream vector:
    * (vec_id, ts, n_eval_matches, max_cos). */
  def semanticDecontaminate(vecs: DataFrame, evalVecs: DataFrame,
      threshold: Double = 0.99,
      watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.ext.Similarity.signBandStructs
    val evalSide = graft.ops.Subplan.once(
      evalVecs.select(col("vec_id").as("evec"), col("v").as("ev"),
          explode(signBandStructs(col("v"))).as("bs"))
        .select(col("evec"), col("ev"),
          col("bs.band").as("band"), col("bs.sig").as("sig")))
    vecs.withWatermark("ts", watermarkDelay)
      .select(col("vec_id"), col("ts"), col("v"),
        explode(signBandStructs(col("v"))).as("bs"))
      .select(col("vec_id"), col("ts"), col("v"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
      .join(broadcast(evalSide), Seq("band", "sig"))
      .select(col("vec_id"), col("ts"), col("evec"),
        graft.ext.Similarity.cosine(col("v"), col("ev")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("vec_id"), col("ts"))
      .agg(size(collect_set(col("evec"))).cast("long").as("n_eval_matches"),
        max(col("cos_sim")).as("max_cos"))
  }

  /** The documents schema with a source column, as the budget gate
    * expects it (ingestion ts attached upstream). */
  val srcDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** Per-source md5 token-budget weight — the exact batch t17/t18
    * formula ((first-8-hex-digits of md5(source)) % 2 + 1) · unit in
    * JVM arithmetic, so stream and batch budgets can never drift.
    * PropertySpec and ExtSpec's t20 test fail if it and
    * graft.ext.Text.budgetCol disagree. */
  def budgetOf(source: String, unit: Long = 1500L): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(source.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(8), 16) % 2 + 1) * unit
  }

  case class SrcDoc(source: String, doc_id: Long, ts: Timestamp,
      n_tok: Int)
  case class BudgetUsed(used: Long)
  case class Admission(source: String, doc_id: Long, n_tok: Int,
      tok_start: Long, budget: Long, kept: Boolean)

  /** Streaming twin of batch t18: the ingest-time token-budget
    * admission gate. Docs are admitted in event-time arrival order
    * per source until the source's budget is crossed; from the
    * crossing on everything is dropped — the running count includes
    * dropped docs' tokens (exactly batch t18's semantics, where the
    * prefix sum runs over ALL docs). When arrival order matches the
    * batch (source, doc_id) order, the verdicts replay bit-for-bit
    * (StreamingSpec pins a two-microbatch split); under reordering
    * the gate is still exact for whatever order the stream delivered
    * — an admission can't be revoked, so arrival order IS the
    * semantics of an ingest gate.
    *
    * State is ONE long per source (tokens seen), deliberately never
    * timed out: a corpus-build budget lives as long as the build, and
    * O(#sources) longs is bounded by construction — the one stateful
    * operator here whose state does not need watermark eviction. */
  def budgetPrefix(docs: DataFrame, budgetUnit: Long = 1500L,
      watermarkDelay: String = "1 hour"): Dataset[Admission] = {
    import docs.sparkSession.implicits._
    def update(src: String, batch: Iterator[SrcDoc],
        state: GroupState[BudgetUsed]): Iterator[Admission] = {
      val budget = budgetOf(src, budgetUnit)
      var used = state.getOption.map(_.used).getOrElse(0L)
      val out = batch.toSeq.sortBy(d => (micros(d.ts), d.doc_id)).map { d =>
        val adm = Admission(src, d.doc_id, d.n_tok, used, budget,
          used + d.n_tok <= budget)
        used += d.n_tok
        adm
      }
      state.update(BudgetUsed(used))
      out.iterator
    }
    docs
      // the house null contract (m02/d06 twins): a null text or source
      // is "no document" — dropped at the boundary (a null n_tok would
      // also fail the non-nullable SrcDoc encoder). Note batch t18
      // differs on this degenerate input: it EMITS a null-text row,
      // with null n_tok/tok_start/kept (the window sum skips nulls).
      // Replay equality therefore assumes null-free streams, which is
      // what every fixture and any sane ingest provides.
      .filter(col("text").isNotNull && col("source").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .select(col("source"), col("doc_id"), col("ts"),
        size(split(trim(col("text")), "\\s+")).as("n_tok"))
      .as[SrcDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming twin of batch t22: ingest-time LM quality scoring
    * against a FROZEN reference LM — the deployment shape (CCNet
    * trains the LM on a reference corpus once, then scores the
    * firehose). `cu`/`cb` are static (u, c1)/(b, c2) count relations
    * (build them with [[graft.ext.Text.bigramLm]] over a reference
    * corpus); they materialize once and BROADCAST per trigger (the
    * [[decontaminate]] stream-static discipline), so the stream never
    * shuffles for the joins and there is no pairing state — a doc's
    * score depends only on itself and the frozen counts. Gram ids and
    * the quantized score are the exact batch expressions
    * ([[graft.ext.Text.bigramPositions]]/[[graft.ext.Text.quantizedInvP]]),
    * so when the stream replays the LM's own training corpus the
    * scores are bit-identical to batch t22 (StreamingSpec pins it).
    * OOV backoff, the one thing a frozen LM adds over the
    * self-trained batch: an unseen bigram scores a SATURATING
    * min(c1, 2²⁰) · 2²⁰ — conceptually 1/p with c2 = 1, clamped at
    * the 2⁴⁰ ceiling so a novel continuation of a hot prefix token
    * (c1 > 2²⁰, routine in any real LM) reads "maximally surprising"
    * instead of detouring through quantizedInvP's fail-loud overflow
    * guard and killing the whole streaming query. An unseen prefix
    * token scores a neutral s = 2²⁰. Both deterministic, neither
    * triggered on in-vocabulary replays. Emits one row per doc:
    * (doc_id, ts, n_bigrams, surprise). */
  def lmSurprise(docs: DataFrame, cu: DataFrame, cb: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val pos = graft.ext.Text.bigramPositions(
      docs.filter(col("text").isNotNull)
        .withWatermark("ts", watermarkDelay),
      "doc_id", "ts")
    val u1 = graft.ops.Subplan.once(cu)
    val b1 = graft.ops.Subplan.once(cb)
    pos
      .join(broadcast(u1), Seq("u"), "left")
      .join(broadcast(b1), Seq("b"), "left")
      .withColumn("s",
        // A counted bigram whose prefix token is missing from cu means
        // the frozen cu/cb pair came from different corpora — c1 null
        // would make quantizedInvP NULL and sum(s) silently drop the
        // position while count(*) keeps it, deflating surprise. Fail
        // loudly instead (the t22 family's discipline).
        when(col("c2").isNotNull && col("c1").isNull, expr(
          "raise_error('lmSurprise: bigram counted in cb but its prefix " +
            "token is absent from cu - the frozen LM count relations are " +
            "inconsistent (derive both from one bigramLm call)')"))
        .when(col("c2").isNull, // OOV: saturating backoff (see Scaladoc)
          least(coalesce(col("c1"), lit(1L)), lit(1L << 20)) * lit(1L << 20))
        .otherwise(graft.ext.Text.quantizedInvP))
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sq"))
      .select(col("doc_id"), col("ts"), col("n_bigrams"),
        graft.ext.Text.surpriseCol.as("surprise"))
  }

  case class TermDoc(term: String, block: Long, doc_id: Long, tf: Long)
  case class PostingsState(entries: List[(Long, Long)])
  case class PostingsRow(term: String, block: Long, n_docs: Long,
      n_occ: Long, postings: String)

  /** Streaming twin of t19/t21: live inverted-index maintenance on an
    * ingest stream. Each arriving doc's per-term tf is ROW-LOCAL
    * column algebra (one doc's counts need no shuffle — the
    * shingleSetCol stance); rows key by (term, doc-block of 128) and
    * per-key state holds that block's postings. Every trigger emits
    * the UPDATED merged row per touched key — the delta a sink
    * upserts, exactly batch t21's touched-rows-only contract, and the
    * last emission per key equals the batch t19 build over everything
    * seen (StreamingSpec pins the replay; n_docs grows monotonically
    * per key, so "last" = max n_docs).
    *
    * State is the index itself, deliberately never timed out (an
    * index lives as long as the stream — the budgetPrefix NoTimeout
    * stance), and BOUNDED PER KEY at 128 entries by the same doc-id
    * blocking that bounds batch t19's row width: a hot term spreads
    * over many (term, block) keys instead of growing any one of them.
    * At deploy scale the state store IS the serving index shard. */
  def indexMaintenance(docs: DataFrame, blockWidth: Long = 128L)
      : Dataset[PostingsRow] = {
    import docs.sparkSession.implicits._

    def update(key: (String, Long), batch: Iterator[TermDoc],
        state: GroupState[PostingsState]): Iterator[PostingsRow] = {
      val cur = state.getOption.getOrElse(PostingsState(Nil))
      // insert-sorted by doc_id; a re-delivered (doc, term) replaces
      // its entry (at-least-once ingest safety) rather than duplicating
      val merged = (cur.entries.toMap ++ batch.map(d => d.doc_id -> d.tf))
        .toList.sortBy(_._1)
      state.update(PostingsState(merged))
      Iterator.single(PostingsRow(key._1, key._2,
        merged.size.toLong, merged.map(_._2).sum,
        merged.map { case (d, t) => s"$d:$t" }.mkString(",")))
    }

    docs
      .filter(col("text").isNotNull)
      // the exact batch t19 tokenizer (graft.ext.Text.toks — ONE
      // definition; the converged-index-equals-batch-build contract
      // rests on the two never drifting). No ts downstream: the state
      // is never timed out, so the event time would ride the stateful
      // shuffle as a dead field.
      .select(col("doc_id"), graft.ext.Text.toks.as("tk"))
      // row-local per-doc tf: distinct terms × an exact count each —
      // one doc's histogram, no streaming aggregation state needed
      .select(col("doc_id"),
        explode(expr("transform(array_distinct(tk), t -> " +
          "struct(t as term, size(filter(tk, x -> x = t)) as tf))")).as("e"))
      .select(col("e.term").as("term"),
        expr(s"doc_id div $blockWidth").as("block"),
        col("doc_id"), col("e.tf").cast("long").as("tf"))
      .as[TermDoc]
      .groupByKey(d => (d.term, d.block))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming twin of d16: ingest-time span trimming against a
    * FROZEN cross-doc gram blocklist (the corpus-learned side a
    * deployment lands once — [[graft.ext.Dedup.crossDocSpanGrams]],
    * ONE definition with batch d16's signal). The stream-static shape
    * is [[decontaminate]]'s: the blocklist materializes once and
    * broadcasts per trigger; each arriving doc explodes to one row
    * per token position carrying the 5-gram id STARTING there (null
    * past the tail), the left join marks hit starts, ONE watermarked
    * per-doc aggregation gathers the position cells, and the rewrite
    * is array algebra — a token is cut iff some hit start's 5-token
    * window covers it, exactly batch d16's position-set union. Emits
    * (doc_id, ts, n_tok, n_cut, clean_text); docs under 5 tokens
    * carry no grams and pass through untouched, the batch union
    * branch without the branch. */
  def trimSpans(docs: DataFrame, dupGrams: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val blocklist = graft.ops.Subplan.once(
      dupGrams.select(col("x")).distinct())
    docs
      .withWatermark("ts", watermarkDelay)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("ts"),
        graft.ext.Text.toks.as("tk"))
      // One row per token POSITION carrying the 5-gram id STARTING
      // there (null past the tail) — built array-locally so each row
      // is 3 scalars, never the token array. The md5 input is
      // definitionally Dedup.ngramIdCol(5)'s (the same concat_ws of
      // the same 5 tokens, 9-hex house hash); the StreamingSpec
      // replay-vs-batch-d16 pin holds the two statements together.
      .select(col("doc_id"), col("ts"), explode(expr(
        "transform(sequence(1, size(tk)), p -> struct(p as p, " +
          "element_at(tk, p) as w, " +
          "case when p <= size(tk) - 4 then cast(conv(substring(md5(" +
          "concat_ws(' ', element_at(tk, p), element_at(tk, p + 1), " +
          "element_at(tk, p + 2), element_at(tk, p + 3), " +
          "element_at(tk, p + 4))), 1, 9), 16, 10) as bigint) end " +
          "as x))")).as("c"))
      .select(col("doc_id"), col("ts"), col("c.p").as("p"),
        col("c.w").as("w"), col("c.x").as("x"))
      .join(broadcast(blocklist.withColumn("hit", lit(1))), Seq("x"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(sort_array(collect_list(
        struct(col("p"), col("w"), col("hit")))).as("cells"))
      .withColumn("starts",
        expr("transform(filter(cells, c -> c.hit = 1), c -> c.p)"))
      .select(col("doc_id"), col("ts"),
        size(col("cells")).cast("long").as("n_tok"),
        expr("cast(size(filter(cells, c -> exists(starts, " +
          "s -> s <= c.p and c.p <= s + 4))) as bigint)").as("n_cut"),
        expr("array_join(transform(filter(cells, c -> not exists(" +
          "starts, s -> s <= c.p and c.p <= s + 4)), c -> c.w), ' ')")
          .as("clean_text"))
  }

  val labeledDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("lang", StringType),
    StructField("text", StringType)))

  case class TokClassCount(t: Long, lang: String, block: Long,
      doc_id: Long, tf: Long)
  case class NbBlockState(entries: List[(Long, Long)])
  case class NbModelRow(t: Long, lang: String, block: Long,
      n: Long, n_docs: Long)

  /** Streaming twin of t29/t30: live classifier-model maintenance on a
    * labeled ingest stream. Each arriving doc's per-token-id tf is
    * ROW-LOCAL column algebra over the house 36-bit ids
    * (graft.ext.Dedup.ngramIdCol at width 1 — the t29/t30 hash, ONE
    * definition so stream and batch counts can never drift); rows key
    * by (token id, class, doc-block of 128) and per-key state holds
    * that block's (doc_id, tf) entries — [[indexMaintenance]]'s exact
    * state discipline, so a re-delivered doc REPLACES its entry
    * (at-least-once safety) and a hot token spreads over blocks
    * instead of growing any one key. Every trigger emits the updated
    * merged partial per touched key; counts are additive, so the
    * model row n(t, c) is the SUM of a key's block partials and the
    * converged sum equals a full batch recount over everything seen
    * (StreamingSpec pins the replay; n_docs grows monotonically per
    * key, so "last" = max n_docs). At deploy scale the state store IS
    * the serving model shard and each emission is the upsert t30
    * merges in batch. */
  def nbModelMaintenance(docs: DataFrame, blockWidth: Long = 128L)
      : Dataset[NbModelRow] = {
    import docs.sparkSession.implicits._

    def update(key: (Long, String, Long), batch: Iterator[TokClassCount],
        state: GroupState[NbBlockState]): Iterator[NbModelRow] = {
      val cur = state.getOption.getOrElse(NbBlockState(Nil))
      val merged = (cur.entries.toMap ++ batch.map(d => d.doc_id -> d.tf))
        .toList.sortBy(_._1)
      state.update(NbBlockState(merged))
      Iterator.single(NbModelRow(key._1, key._2, key._3,
        merged.map(_._2).sum, merged.size.toLong))
    }

    docs
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .select(col("doc_id"), col("lang"), graft.ext.Text.toks.as("tk"))
      // Row-local per-doc tf in O(L log L): sort the id array, find
      // run starts, and read each run's length off consecutive start
      // positions (a filter-per-distinct-token rescan would be
      // O(distinct·L) — quadratic on a mostly-distinct document).
      // s is never empty (a non-null text tokenizes to ≥ 1 element),
      // so the sequence() bounds are safe.
      .select(col("doc_id"), col("lang"),
        array_sort(graft.ext.Dedup.ngramIdCol(1)).as("s"))
      .withColumn("st", expr(
        "concat(filter(sequence(1, size(s)), i -> i = 1 OR " +
          "element_at(s, i) != element_at(s, i - 1)), array(size(s) + 1))"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(1, size(st) - 1), k -> struct(" +
            "element_at(s, element_at(st, k)) as tid, " +
            "cast(element_at(st, k + 1) - element_at(st, k) as bigint) " +
            "as tf))")).as("e"))
      .select(col("e.tid").as("t"), col("lang"),
        expr(s"doc_id div $blockWidth").as("block"),
        col("doc_id"), col("e.tf").as("tf"))
      .as[TokClassCount]
      .groupByKey(d => (d.t, d.lang, d.block))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming twin of t09's KMV sketch: per-tumbling-window distinct
    * TOKEN estimates over the document stream, via the deduplicating
    * [[graft.functions.KmvAgg]] buffer. A streaming pipeline cannot
    * pre-`distinct()` across triggers (unbounded state); KMV is the
    * sketch answer — state per window is ≤ k longs plus the count,
    * partial buffers merge across triggers, and the watermark retires
    * windows. `(k−1)·2³² / kth_min` with an exact fallback for windows
    * holding < k distinct hashes, exactly as batch t09. */
  def windowedDistinctTokens(docs: DataFrame, k: Int = 64,
      windowDur: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    docs
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("ts"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
      .groupBy(window(col("ts"), windowDur))
      .agg(graft.functions.KmvAgg.kmvMins(col("h"), k).as("mins"),
        count(lit(1)).as("n_tokens"))
      .select(col("window.start").as("wstart"), col("n_tokens"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) /
            element_at(col("mins"), k))
          .as("est_distinct"))

  /** Daily-ingest near-dup cluster maintenance — the streaming twin of
    * d14. Connectivity is GLOBAL (one component can span every trigger
    * ever seen), so unlike the keyed twins above the state cannot live
    * in per-key GroupState: the honest Structured Streaming shape is
    * `foreachBatch`, folding each microbatch through
    * [[Dedup.clusterDelta]] against the stored (corpus, assignment)
    * tables a deployment keeps in its lake, and upserting ONLY the
    * touched components (d14's contract — the stored assignment never
    * shuffles in the delta path, untouched clusters are never
    * rewritten). Per trigger the ordered shingle frontier is rebuilt
    * over corpus ∪ batch — ONE fixed global order per delta, which is
    * all the prefix-filter recall proof needs; a deployment would
    * maintain the df counts incrementally, trading that corpus pass
    * for an updatable frontier table.
    *
    * State here is two localCheckpointed frames (the stored-table
    * stand-in, [[graft.ops.Subplan.once]] truncating lineage each
    * trigger so plans don't grow with trigger count); `foreachBatch`
    * bodies run driver-side, so the vars need no serialization.
    * Storage-growth caveat of the stand-in: each trigger checkpoints a
    * NEW corpus ∪ batch frame and rebuilds the shingle frontier over
    * it, so per-trigger cost grows with total ingest, and superseded
    * checkpoint blocks are freed only when ContextCleaner GCs the
    * dropped frames — a long-running stream accumulates executor
    * storage between GC cycles. A deployment replaces both vars with
    * lake tables (and incremental df counts), which is the shape this
    * class stands in for; the stand-in is for spec replay, not
    * unbounded production runs.
    * StreamingSpec pins the end identity: after replaying the d14
    * corpus in cross-cutting microbatches, the maintained assignment
    * equals a full d07-style rebuild of the whole corpus. */
  final class ClusterMaintenance(threshold: Double = 0.5) {
    @volatile private var corpus: Option[DataFrame] = None
    @volatile private var assignDf: Option[DataFrame] = None

    /** The maintained (doc_id, cluster_id) assignment — None before
      * the first non-empty trigger. */
    def assignment: Option[DataFrame] = assignDf

    /** Fold one microbatch of (doc_id, text) rows. */
    def fold(batchDs: Dataset[org.apache.spark.sql.Row]): Unit = {
      val spark = batchDs.sparkSession
      import spark.implicits._
      val batch = graft.ops.Subplan.once(
        batchDs.toDF().select(col("doc_id"), col("text")))
      if (batch.isEmpty) return
      val all = graft.ops.Subplan.once(
        corpus.map(_.unionAll(batch)).getOrElse(batch))
      val sets = graft.ops.Subplan.once(
        Dedup.orderShingleSets(Dedup.gatherShingleSets(Dedup.shinglesOf(all))))
      // Materialized: clusterDelta reads it twice (the size-gate
      // count() probe + candidate generation) — un-checkpointed, the
      // semi-join would recompute once per read.
      val batchSets = graft.ops.Subplan.once(
        sets.join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      val prev = assignDf.getOrElse(
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"))
      val delta = graft.ops.Subplan.once(
        Dedup.clusterDelta(prev, sets, batchSets, threshold))
      corpus = Some(all)
      assignDf = Some(mergeClusterDelta(prev, delta))
    }
  }

  /** Retire-exactly-touched + merge, shared by BOTH maintenance folds
    * (shingle [[ClusterMaintenance]], embedding
    * [[EmbeddingClusterMaintenance]]) — the delta covers the FULL
    * membership of every touched component (clusterDeltaEdges
    * contracts star edges of touched ∪ new edges), so the old rows to
    * retire are exactly the clusters holding a delta member.
    * unionByName, not unionAll: the using-column anti-join reorders
    * its output (cluster_id first) and a positional union would
    * silently swap ids and labels for every untouched row. */
  private def mergeClusterDelta(prev: DataFrame,
      delta: DataFrame): DataFrame = {
    val touchedOld = prev.join(delta.select(col("doc_id")),
      Seq("doc_id"), "left_semi").select(col("cluster_id")).distinct()
    graft.ops.Subplan.once(
      prev.join(touchedOld, Seq("cluster_id"), "left_anti")
        .unionByName(delta))
  }

  /** Live EMBEDDING-cluster maintenance — the streaming twin of batch
    * d15, exactly as [[ClusterMaintenance]] twins d14: fold each
    * microbatch of (vec_id, v) rows into the maintained assignment by
    * generating batch-incident sign-band edges
    * ([[graft.ext.EmbeddingDedup.signNearDupPairsBetween]] — batch bands
    * probe the accumulated corpus under the size gate) and
    * re-contracting only the touched components through the SAME
    * pair-source-agnostic [[graft.ext.Dedup.clusterDeltaEdges]] core.
    * Global connectivity cannot be keyed GroupState, so state is the
    * pair of localCheckpointed frames (corpus, assignment) — lineage
    * truncates per trigger; at deploy both live in a store and the
    * fold is the upsert job. */
  /** The ONE fold skeleton of the signature-keyed maintenance twins
    * (embedding d15, media m09): accumulate the per-row signature
    * frame, size-gate the batch, generate batch-incident edges,
    * re-contract through [[graft.ext.Dedup.clusterDeltaEdges]], and
    * retire-and-merge via [[mergeClusterDelta]] — so a fix to the
    * gate or merge discipline can never land in one family and miss
    * the other. Subclasses supply only what genuinely differs: the
    * batch → signature map and the pair source. (The shingle
    * [[ClusterMaintenance]] stays separate: it re-derives the global
    * rarest-first order per trigger and folds through
    * [[graft.ext.Dedup.clusterDelta]], not the edge core.) */
  sealed abstract class SignatureClusterMaintenance {
    @volatile private var state: Option[DataFrame] = None
    @volatile private var assignDf: Option[DataFrame] = None

    /** Batch rows → the signature frame the pair source consumes
      * (first column must be the id the assignment keys on). */
    protected def prep(batchDs: Dataset[org.apache.spark.sql.Row]): DataFrame

    /** Batch-incident (doc_a, doc_b) edges over (accumulated, batch). */
    protected def pairs(all: DataFrame, batch: DataFrame,
        gate: DataFrame => DataFrame): DataFrame

    /** The maintained raw (doc_id, cluster_id) frame. */
    protected final def assignRaw: Option[DataFrame] = assignDf

    /** Fold one microbatch. */
    final def fold(batchDs: Dataset[org.apache.spark.sql.Row]): Unit = {
      val spark = batchDs.sparkSession
      import spark.implicits._
      val batch = graft.ops.Subplan.once(prep(batchDs))
      if (batch.isEmpty) return
      val all = graft.ops.Subplan.once(
        state.map(_.unionAll(batch)).getOrElse(batch))
      val prev = assignDf.getOrElse(
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"))
      val gate: DataFrame => DataFrame =
        if (batch.count() <= Dedup.D14BroadcastMaxRows)
          df => broadcast(df)
        else identity
      val delta = graft.ops.Subplan.once(
        Dedup.clusterDeltaEdges(prev, pairs(all, batch, gate), gate))
      state = Some(all)
      assignDf = Some(mergeClusterDelta(prev, delta))
    }
  }

  final class EmbeddingClusterMaintenance(threshold: Double = 0.99)
      extends SignatureClusterMaintenance {

    /** The maintained (vec_id, cluster_id) assignment — None before
      * the first non-empty trigger. */
    def assignment: Option[DataFrame] =
      assignRaw.map(_.select(col("doc_id").as("vec_id"), col("cluster_id")))

    /** One microbatch of (vec_id, v) rows. */
    protected def prep(batchDs: Dataset[org.apache.spark.sql.Row]): DataFrame =
      batchDs.toDF().select(col("vec_id"), col("v"))

    protected def pairs(all: DataFrame, batch: DataFrame,
        gate: DataFrame => DataFrame): DataFrame =
      graft.ext.EmbeddingDedup.signNearDupPairsBetween(all, batch, gate, threshold)
  }

  /** Live MEDIA-cluster maintenance — the third member of the
    * maintenance trio (shingle [[ClusterMaintenance]] twins d14,
    * embedding [[EmbeddingClusterMaintenance]] twins d15; this twins
    * batch m09): fold each microbatch of (media_id, ts, kind,
    * payload) rows into the maintained assignment. Each arriving
    * payload is signed by the EXACT batch aHash kernel
    * ([[graft.ext.Multimodal.StubDecoders.ahash60Of]] — the
    * [[ahashNearPairs]] discipline, so stream and batch signatures
    * can never drift); batch-incident edges come from
    * [[graft.ext.Dedup.simhashPairsBetween]] (batch signature bands
    * probe the accumulated corpus bands under the D14BroadcastMaxRows
    * gate, exact bit_count on collisions only) and re-contract
    * through the SAME pair-source-agnostic
    * [[graft.ext.Dedup.clusterDeltaEdges]] core. State is the pair of
    * localCheckpointed frames (signatures — 2 longs per asset, never
    * the payloads — and the assignment); at deploy both live in a
    * store and the fold is the upsert job. StreamingSpec pins
    * convergence: replaying the m06 fixture in draw-cutting
    * microbatches reproduces the full m07-style rebuild exactly. */
  final class MediaClusterMaintenance(maxHamming: Int = 3)
      extends SignatureClusterMaintenance {

    /** The maintained (media_id, cluster_id) assignment — None before
      * the first non-empty trigger. */
    def assignment: Option[DataFrame] =
      assignRaw.map(_.select(col("doc_id").as("media_id"), col("cluster_id")))

    /** One microbatch of (media_id, ts, kind, payload) rows, signed by
      * the EXACT batch aHash kernel — 2 longs per asset, never the
      * payloads. */
    protected def prep(batchDs: Dataset[org.apache.spark.sql.Row]): DataFrame = {
      val spark = batchDs.sparkSession
      import spark.implicits._
      batchDs.filter(col("payload").isNotNull).as[TsMediaRow]
        .mapPartitions(rows => rows.map(r => (r.media_id,
          graft.ext.Multimodal.StubDecoders.ahash60Of(r.payload))))
        .toDF("doc_id", "simhash")
    }

    protected def pairs(all: DataFrame, batch: DataFrame,
        gate: DataFrame => DataFrame): DataFrame =
      Dedup.simhashPairsBetween(all, batch, maxHamming, gate)
  }

  /** Live ANN-INDEX maintenance — the streaming twin of batch s18,
    * completing the twin pattern for the trained-index family exactly
    * as the maintenance trio twins d14/d15/m09: fold each microbatch
    * of (vec_id, v) rows into a maintained IVF index. The FIRST
    * non-empty trigger trains the quantizer over its rows
    * ([[graft.ext.Quantizers.kmeansCentroids]] — the stored-model
    * bootstrap; at deploy this is the index-build job); every later
    * trigger assigns its rows against those FIXED centroids — one
    * [[graft.ext.Quantizers.kmAssign]] broadcast map over the batch
    * only, IVF inserts never retrain (s18's discipline) — and unions
    * them into the maintained postings. Because kmAssign is THE one
    * assignment definition, the maintained postings ≡ assigning the
    * full accumulated corpus with the bootstrap centroids, so
    * [[probe]] answers exactly what a full s13-style rebuild over
    * those centroids answers (StreamingSpec pins it, split by the s18
    * batch draw so the replay IS the registered s18 scenario).
    *
    * State is the pair of localCheckpointed frames (centroids — K
    * rows, postings) — lineage truncates per trigger; at deploy both
    * live in the s18 store and the fold IS s18's upsert job (batch
    * assign + ≤ K-cell dynamic partition overwrite — the write
    * itself rewrites only the touched cells even though the in-memory
    * twin re-checkpoints the union, the same state discipline as the
    * maintenance trio). */
  final class AnnIndexMaintenance {
    @volatile private var centsDf: Option[DataFrame] = None
    @volatile private var postDf: Option[DataFrame] = None

    /** The trained model — None before the first non-empty trigger. */
    def centroids: Option[DataFrame] = centsDf

    /** The maintained (vec_id, v, cid) postings. */
    def postings: Option[DataFrame] = postDf

    private def fixed(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("v"),
        graft.ext.Similarity.fixedPoint(col("v")).as("x"))

    /** Fold one microbatch of (vec_id, v) rows. */
    def fold(batchDs: Dataset[org.apache.spark.sql.Row]): Unit = {
      val fx = graft.ops.Subplan.once(
        fixed(batchDs.toDF().select(col("vec_id"), col("v"))))
      if (fx.isEmpty) return
      val cents = centsDf.getOrElse {
        val c = graft.ops.Subplan.once(graft.ext.Quantizers.kmeansCentroids(fx))
        centsDf = Some(c)
        c
      }
      val asg = graft.ext.Quantizers.kmAssign(fx, cents)
        .select(col("vec_id"), col("v"), col("cid"))
      postDf = Some(graft.ops.Subplan.once(
        postDf.map(_.unionByName(asg)).getOrElse(asg)))
    }

    /** Fold a retirement batch of vec_ids — the live counterpart of
      * batch s24, exactly as `fold` twins s18's insert: the retired
      * ids anti-join the maintained postings (the model never
      * retrains on deletes). Retiring unknown or already-retired ids
      * is a no-op. */
    def retire(ids: DataFrame): Unit =
      postDf = postDf.map(p => graft.ops.Subplan.once(
        p.join(broadcast(ids.select(col("vec_id"))), Seq("vec_id"),
          "left_anti")))

    /** The probed-cells exact cosine top-5 over the maintained index
      * for a (vec_id, v) query frame — s13/s15/s18's probe verbatim
      * ([[graft.ext.Quantizers.kmProbeCells]] +
      * [[graft.ext.Quantizers.kmProbedTop5]]). None before the first
      * non-empty trigger. */
    def probe(q: DataFrame): Option[DataFrame] =
      for (cents <- centsDf; post <- postDf) yield
        graft.ext.Quantizers.kmProbedTop5(post,
          graft.ext.Quantizers.kmProbeCells(fixed(q), cents))

    /** The live drift metric — s30's
      * [[graft.ext.Quantizers.indexDriftStats]] (ONE definition) over
      * the maintained postings and bootstrap centroids; `basePred`
      * names the baseline rows (the bootstrap content). The
      * rebuild-trigger signal: inserts never retrain, so this is the
      * only thing telling an operator the fixed model has drifted.
      * None before the first non-empty trigger. */
    def driftStats(basePred: org.apache.spark.sql.Column): Option[DataFrame] =
      for (cents <- centsDf; post <- postDf) yield
        graft.ext.Quantizers.indexDriftStats(post, cents, basePred)

    /** The live s41 — answer quality beside `driftStats`' model
      * health (the round-16 monitor completion): the ONE
      * [[graft.ext.RecallProbes.recallFlags]] fold; truth = the ONE
      * exactNn1Between statement over the stream-accumulated corpus
      * (the maintained postings carry (vec_id, v), surviving folds
      * and retires); probe = this twin's own kmProbedTop5 read path
      * on the ':rq' draw. StreamingSpec pins live ≡ the batch s41
      * statements over the same folded corpus. None before
      * bootstrap. */
    def recallStats: Option[DataFrame] =
      for (cents <- centsDf; post <- postDf) yield {
        val corpus = post.select(col("vec_id"), col("v"))
        // absolute-size draw: N = the accumulated corpus (a cheap
        // count on the checkpointed state frame, off the fold path)
        val draw = graft.ext.Similarity.recallDraw(corpus.count())
        val qs = graft.ops.Subplan.once(fixed(corpus.filter(draw)))
        val exact = graft.ext.Similarity.exactNn1Between(
          qs.select(col("vec_id"), col("v")), corpus)
          .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
        graft.ext.RecallProbes.recallFlags(exact,
          graft.ext.Quantizers.kmProbedTop5(post,
            graft.ext.Quantizers.kmProbeCells(qs, cents)))
      }
  }

  /** Live maintenance of the COMPRESSED ANN index — the streaming
    * twin of batch s22, exactly as [[AnnIndexMaintenance]] twins s18
    * (completing the symmetry at the streaming level: the trained
    * index and the compressed index each have a landed form, a batch
    * upsert, and a live twin). The first non-empty trigger trains
    * BOTH quantizers over its rows — coarse centroids
    * ([[graft.ext.Quantizers.kmeansCentroids]]) and residual
    * codebooks ([[graft.ext.Quantizers.pqCodebooks]] over
    * [[graft.ext.Quantizers.residFrame]]) — the stored-model
    * bootstrap; every later trigger assigns + encodes its rows
    * against that FIXED model (inserts never retrain either
    * quantizer; one `residFrame` + [[graft.ext.Quantizers.pqEncode]]
    * broadcast map over the trigger's rows only) and unions the
    * 8×4-bit codes into the maintained code frame. `probe` is
    * s21/s22's pruned ADC probe verbatim
    * ([[graft.ext.Quantizers.adcScored]] +
    * [[graft.ext.Quantizers.pqAdcTop5]]). State = (K-row centroids,
    * 8·16-row codebooks, codes) localCheckpointed frames — the codes
    * are the 32×-compressed corpus, the whole point of keeping THIS
    * index live; at deploy all three live in the s22 store and the
    * fold IS s22's ≤ K-cell dynamic-partition upsert. */
  final class CompressedAnnIndexMaintenance {
    @volatile private var centsDf: Option[DataFrame] = None
    @volatile private var pqcDf: Option[DataFrame] = None
    @volatile private var codesDf: Option[DataFrame] = None

    /** The coarse model — None before the first non-empty trigger. */
    def centroids: Option[DataFrame] = centsDf

    /** The residual PQ codebooks — None before the bootstrap. */
    def codebooks: Option[DataFrame] = pqcDf

    /** The maintained (vec_id, cid, codes) compressed index. */
    def codes: Option[DataFrame] = codesDf

    private def fixed(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("v"),
        graft.ext.Similarity.fixedPoint(col("v")).as("x"))

    /** Fold one microbatch of (vec_id, v) rows. */
    def fold(batchDs: Dataset[org.apache.spark.sql.Row]): Unit = {
      val fx = graft.ops.Subplan.once(
        fixed(batchDs.toDF().select(col("vec_id"), col("v"))))
      if (fx.isEmpty) return
      val (cents, pqc) = (centsDf, pqcDf) match {
        case (Some(c), Some(p)) => (c, p)
        case _ =>
          val c = graft.ops.Subplan.once(graft.ext.Quantizers.kmeansCentroids(fx))
          val p = graft.ops.Subplan.once(graft.ext.Quantizers.pqCodebooks(
            graft.ext.Quantizers.residFrame(fx, c)
              .select(col("vec_id"), col("subs"))))
          centsDf = Some(c); pqcDf = Some(p)
          (c, p)
      }
      val enc = graft.ext.Quantizers.pqEncode(
        graft.ext.Quantizers.residFrame(fx, cents), pqc)
        .select(col("vec_id"), col("cid"), col("codes"))
      codesDf = Some(graft.ops.Subplan.once(
        codesDf.map(_.unionByName(enc)).getOrElse(enc)))
    }

    /** Fold a retirement batch of vec_ids — the live counterpart of
      * batch s25 (the [[AnnIndexMaintenance.retire]] discipline on
      * the code frame): retired ids anti-join the maintained codes;
      * neither quantizer retrains; unknown ids are a no-op. */
    def retire(ids: DataFrame): Unit =
      codesDf = codesDf.map(c => graft.ops.Subplan.once(
        c.join(broadcast(ids.select(col("vec_id"))), Seq("vec_id"),
          "left_anti")))

    /** The pruned-ADC top-5 over the maintained compressed index for
      * a (vec_id, v) query frame — s21/s22's probe verbatim. None
      * before the first non-empty trigger. */
    def probe(q: DataFrame): Option[DataFrame] =
      for (cents <- centsDf; pqc <- pqcDf; codes <- codesDf) yield
        graft.ext.Quantizers.pqAdcTop5(
          graft.ext.Quantizers.adcScored(codes, fixed(q), cents, pqc))

    /** The live drift metric on the COMPRESSED state —
      * [[graft.ext.Quantizers.codeDriftStats]] (ONE definition with
      * the batch recompute StreamingSpec pins against): the store
      * keeps only codes, so the per-row energy is the ENCODED
      * residual norm looked up from the stored codebooks. None before
      * the bootstrap. */
    def driftStats(basePred: org.apache.spark.sql.Column): Option[DataFrame] =
      for (pqc <- pqcDf; codes <- codesDf) yield
        graft.ext.Quantizers.codeDriftStats(codes, pqc, basePred)

    /** The live s42 — the compressed family's answer-quality monitor.
      * Truth and the exact rerank need RAW vectors, which the
      * compressed state deliberately does not keep (32× compression
      * is the index's point), so the accumulated (vec_id, v) corpus
      * arrives as the argument — at deploy, the lake the codes were
      * encoded from. The probe is then s42's chain verbatim over the
      * MAINTAINED codes: [[graft.ext.Quantizers.adcScored]] shortlist
      * → the ONE [[graft.ext.Quantizers.exactRerankTailOver]]; hits
      * by the ONE recallFlags fold. None before bootstrap. */
    def recallStats(corpus: DataFrame): Option[DataFrame] =
      for (cents <- centsDf; pqc <- pqcDf; codes <- codesDf) yield {
        val e = corpus.select(col("vec_id"), col("v"))
        // absolute-size draw over the lake frame's own count
        val draw = graft.ext.Similarity.recallDraw(e.count())
        val qs = graft.ops.Subplan.once(fixed(e.filter(draw)))
        val exact = graft.ext.Similarity.exactNn1Between(
          qs.select(col("vec_id"), col("v")), e)
          .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
        val probed = graft.ext.Quantizers.exactRerankTailOver(e,
          graft.ext.Quantizers.adcScored(codes, qs, cents, pqc),
          draw)
        graft.ext.RecallProbes.recallFlags(exact, probed)
      }
  }

  /** Live maintenance of the k-NN GRAPH index — the streaming twin of
    * batch s34/s35, completing the symmetry for the graph family
    * exactly as [[AnnIndexMaintenance]] twins s18/s24: the first
    * non-empty trigger builds the graph over its rows (full
    * NN-descent — the [[graft.ext.KnnGraph.knnDescentGraph]]
    * bootstrap, the honest construction price paid once); every later
    * trigger folds its batch through the SAME restricted insert
    * descent as batch s34 ([[graft.ext.KnnGraph.knnInsertDelta]] —
    * ONE definition, so live and landed maintenance can never
    * disagree): seeds from draws + band collisions + stored-graph
    * expansion, rounds over the touched neighborhood only, touched
    * owners' lists replaced. `retire` is s35's heal
    * ([[graft.ext.KnnGraph.knnDeleteHeal]]): retired owners' rows
    * drop and every surviving list that referenced one heals from the
    * retired vertices' surviving lists. State = (accumulated corpus,
    * graph lists) localCheckpointed frames — per-trigger work scales
    * with the batch's touched neighborhood, never the accumulated
    * corpus; at deploy both live in the s34/s35 stores and the fold
    * IS the dynamic-partition upsert. */
  final class KnnGraphMaintenance {
    @volatile private var allDf: Option[DataFrame] = None
    @volatile private var graphDf: Option[DataFrame] = None
    @volatile private var bootDf: Option[DataFrame] = None

    /** The accumulated (vec_id, v) corpus — None before bootstrap. */
    def corpus: Option[DataFrame] = allDf

    /** The maintained directed edge lists (v, w, d). */
    def graph: Option[DataFrame] = graphDf

    /** The ranked view — s29's (vec_id, nn_id, d, rk) contract over
      * the maintained lists. */
    def ranked: Option[DataFrame] =
      graphDf.map(graft.ext.KnnGraph.knnRanked)

    /** Fold one microbatch of (vec_id, v) rows. */
    def fold(batchDs: Dataset[org.apache.spark.sql.Row]): Unit = {
      val b = graft.ops.Subplan.once(
        batchDs.toDF().select(col("vec_id"), col("v")))
      if (b.isEmpty) return
      graphDf match {
        case None =>
          allDf = Some(b)
          val g0 = graft.ops.Subplan.once(graft.ext.KnnGraph.knnDescentGraph(b))
          bootDf = Some(g0)
          graphDf = Some(g0)
        case Some(g) =>
          val all = graft.ops.Subplan.once(allDf.get.unionByName(b))
          allDf = Some(all)
          val delta = graft.ext.KnnGraph.knnInsertDelta(g, all,
            b.select(col("vec_id")))
          graphDf = Some(graft.ops.Subplan.once(
            g.join(broadcast(delta.select(col("v")).distinct()),
              Seq("v"), "left_anti")
              .unionByName(delta)))
      }
    }

    /** Fold a retirement batch of vec_ids — the live counterpart of
      * batch s35: retired owners' rows drop, touched survivors heal
      * through the ONE [[graft.ext.KnnGraph.knnDeleteHeal]]
      * definition. Retiring unknown ids is a no-op. */
    def retire(ids: DataFrame): Unit =
      for (g <- graphDf; all <- allDf) {
        val del = graft.ops.Subplan.once(ids.select(col("vec_id")))
        val healed = graft.ops.Subplan.once(
          graft.ext.KnnGraph.knnDeleteHeal(g,
            graft.ext.KnnGraph.knnFx(all), del))
        allDf = Some(graft.ops.Subplan.once(
          all.join(broadcast(del), Seq("vec_id"), "left_anti")))
        graphDf = Some(graft.ops.Subplan.once(
          g.join(broadcast(del.select(col("vec_id").as("v"))),
            Seq("v"), "left_anti")
            .join(broadcast(healed.select(col("v")).distinct()),
              Seq("v"), "left_anti")
            .unionByName(healed)))
      }

    /** The live s37 — warm-start descent rounds over the maintained
      * lists through the ONE [[graft.ext.KnnGraph.knnRefine]] loop:
      * the refresh s38's drift signal schedules, run in place (the
      * refined state replaces the maintained lists; at deploy it
      * lands as the new generation exactly as batch s37 does). No-op
      * before bootstrap. */
    def refine(): Unit =
      for (g <- graphDf; all <- allDf)
        graphDf = Some(graft.ops.Subplan.once(graft.ext.KnnGraph.knnRefine(g,
          graft.ext.KnnGraph.knnFx(all))))

    /** The live s38 — [[graft.ext.KnnGraph.graphDriftStats]] (ONE
      * definition) of the maintained lists against the BOOTSTRAP
      * generation: thin-list counts and edge-energy shift per store
      * partition, the refine trigger. None before bootstrap. */
    def driftStats: Option[DataFrame] =
      for (boot <- bootDf; g <- graphDf) yield
        graft.ext.KnnGraph.graphDriftStats(boot, g)

    /** The live s43 — the graph family's answer-quality monitor:
      * probe = the ONE [[graft.ext.KnnGraph.knnBeamWalkFull]] loop
      * over the MAINTAINED lists (entry via the shared
      * [[graft.ext.KnnGraph.knnQ0]] construction, visited set
      * ranked by knnEfRank — s36's read semantics); truth = the
      * walk's own exact-int64 metric
      * ([[graft.ext.Similarity.exactNn1SqBetween]]) over the
      * stream-accumulated lattice; hits by the ONE recallFlags fold.
      * None before bootstrap. */
    def recallStats: Option[DataFrame] =
      for (all <- allDf; g <- graphDf) yield {
        val fx = graft.ops.Subplan.once(graft.ext.KnnGraph.knnFx(all))
        // absolute-size draw: N = the accumulated (checkpointed) corpus
        val draw = graft.ext.Similarity.recallDraw(all.count())
        val (_, visited) = graft.ext.KnnGraph.knnBeamWalkFull(
          graft.ext.KnnGraph.knnQ0(fx, draw),
          fx, g, graft.ext.KnnGraph.KnnBeamWidth)
        val exact = graft.ext.Similarity.exactNn1SqBetween(
          fx.filter(draw), fx)
          .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
        graft.ext.RecallProbes.recallFlags(exact,
          graft.ext.KnnGraph.knnEfRank(visited))
      }
  }

  /** Live ingest-drift monitoring — the streaming twin of batch t38,
    * the text family's s30/s38 sibling: the FIRST non-empty trigger's
    * rows are the existing corpus (the bootstrap histogram — a
    * deployment reads this from its lake); every later trigger's
    * hashed-bucket counts fold ADDITIVELY into the maintained batch
    * histogram (the t30 rule: counts are additive, so the converged
    * stream equals one batch recount — StreamingSpec pins live ≡
    * batch t38). Both sides route through the ONE
    * [[graft.ext.Text.bucketHist]] feature statement, and
    * `driftStats` is THE [[graft.ext.Text.corpusDriftFrom]] metric
    * over (maintained batch side, bootstrap side) — live and batch
    * can never disagree about what drift IS. State = two ≤ B-row
    * histograms, corpus-size-independent. */
  /** DSIR selection's streaming half — the t29-model discipline
    * applied to t37: the importance-weight MODEL (per-bucket integer
    * coefficients, [[graft.ext.Text.dsirModel]]) trains in BATCH over
    * the flagged reference corpus and is fixed at construction;
    * each trigger scores the arriving pool docs against it with the
    * ONE [[graft.ext.Text.dsirScoreOf]] statement (same
    * `bucketRows` feature space, same exact-int64 Σ tf·c fold), so
    * live weights ≡ the batch t37 weights on the same rows
    * (StreamingSpec pins it). SELECTION stays batch — a per-trigger
    * top-K answers a different question (the best of THIS trigger,
    * not of the pool) and is documented as such, the t18
    * admission-gate pattern: a live consumer thresholds the weights
    * against the landed batch histogram's boundary instead. */
  final class DsirScoreMaintenance(model: DataFrame) {
    private val coef = graft.ops.Subplan.once(model)
    @volatile private var scored: Option[DataFrame] = None
    private var sinceCompact = 0

    /** Score one microbatch of (doc_id, text) pool rows. The
      * accumulated union re-checkpoints every [[CompactEvery]]
      * triggers (the other twins' state discipline) so the logical
      * plan behind `weights` stays bounded on a long-running stream
      * instead of growing one union leaf per trigger. */
    def fold(batchDs: Dataset[org.apache.spark.sql.Row]): Unit = {
      val b = batchDs.toDF().select(col("doc_id"), col("text"))
      if (b.isEmpty) return
      val qw = graft.ops.Subplan.once(
        graft.ext.Text.dsirScoreOf(b, coef))
      val merged = scored.map(_.unionByName(qw)).getOrElse(qw)
      sinceCompact += 1
      scored = Some(
        if (sinceCompact >= DsirScoreMaintenance.CompactEvery) {
          sinceCompact = 0
          graft.ops.Subplan.once(merged)
        } else merged)
    }

    /** Every scored pool doc's live weight — None before the first
      * trigger. Docs arrive once (the ingest premise), so the union
      * is the answer; re-delivered docs would duplicate rows, which
      * is the at-least-once caveat every twin states. */
    def weights: Option[DataFrame] = scored
  }

  object DsirScoreMaintenance {
    /** Re-checkpoint cadence of the accumulated score union — each
      * compaction collapses up to this many per-trigger leaves into
      * one frame, bounding the live plan depth at CompactEvery. */
    private[graft] val CompactEvery = 8
  }

  final class CorpusDriftMaintenance {
    @volatile private var exHist: Option[DataFrame] = None
    @volatile private var batchHist: Option[DataFrame] = None

    /** Fold one microbatch of (doc_id, text) rows. */
    def fold(batchDs: Dataset[org.apache.spark.sql.Row]): Unit = {
      val b = batchDs.toDF().select(col("doc_id"), col("text"))
      if (b.isEmpty) return
      val h = graft.ops.Subplan.once(graft.ext.Text.bucketHist(b))
      if (exHist.isEmpty) exHist = Some(h)
      else batchHist = Some(graft.ops.Subplan.once(
        batchHist.map(_.unionByName(h)
            .groupBy(col("b")).agg(sum(col("n")).as("n")))
          .getOrElse(h)))
    }

    /** The live t38 report — None before the first post-bootstrap
      * trigger. Buckets seen by only one side appear with the other
      * side zeroed (batch t38's union semantics, stated by the full
      * outer join + COALESCE). */
    def driftStats: Option[DataFrame] =
      for (ex <- exHist; bh <- batchHist) yield
        graft.ext.Text.corpusDriftFrom(
          bh.select(col("b"), col("n").as("n_new"))
            .join(ex.select(col("b"), col("n").as("n_old")),
              Seq("b"), "full_outer")
            .select(col("b"),
              coalesce(col("n_new"), lit(0L)).as("n_new"),
              coalesce(col("n_old"), lit(0L)).as("n_old")))
  }
}
