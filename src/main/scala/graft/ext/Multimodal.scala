package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, with decode / feature-extract as per-partition batch
  * transforms.
  *
  * The container has no image/audio codecs, so [[StubDecoders]] is a
  * deterministic fake standing in for the real decode kernel — the
  * Spark-side contract (schema, partitioning, batch shape) is real and
  * tested. The payloads here are utf-8 bytes of `documents.text`
  * (derived from driver data, not synthesized).
  *
  * At 100 TB: payload columns ride in the same parquet row groups as
  * their metadata; decode stages are `mapPartitions` (one kernel init
  * per partition, vectorized inner loop), never per-row UDFs.
  */
object Multimodal {

  /** A multimodal record: opaque payload + typed metadata. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features for one payload. */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      mean_byte: Double, head: Array[Byte])

  /** Deterministic stand-ins for codec kernels (no image/audio libs in
    * this container). Each has the batch-oriented signature a real
    * decoder would: Iterator[MediaRow] => Iterator[...], one init per
    * partition.
    */
  object StubDecoders {
    /** "Decode" = byte stats + an 8-byte header sample. */
    def features(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        val n = r.payload.length
        val mean = if (n == 0) 0.0
          else r.payload.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / n
        MediaFeatures(r.media_id, r.kind, n, mean, r.payload.take(8))
      }

    /** "Frame-sample" = every strideth byte (video frame-sampling shape). */
    def frameSample(stride: Int)(rows: Iterator[MediaRow]): Iterator[(Long, Array[Byte])] =
      rows.map { r =>
        (r.media_id, r.payload.indices.by(stride).map(r.payload).toArray)
      }

    /** "Frame energy" = per fixed-length frame of the payload, the sum
      * of squared sample bytes (the audio windowed-energy/RMS kernel
      * shape; integer-exact so it can hash-match). Last frame short. */
    def frameEnergy(frame: Int)(rows: Iterator[MediaRow])
        : Iterator[(Long, Int, Int, Long)] = {
      require(frame > 0, s"frameEnergy requires a positive frame length, got $frame")
      rows.flatMap { r =>
        r.payload.grouped(frame).zipWithIndex.map { case (chunk, i) =>
          (r.media_id, i, chunk.length,
            chunk.foldLeft(0L)((a, b) => a + (b & 0xff).toLong * (b & 0xff)))
        }
      }
    }

    /** "Perceptual hash" = the aHash construction over the payload:
      * 60 equal byte ranges (cell i covers [⌊i·n/60⌋, ⌊(i+1)·n/60⌋)),
      * truncating-mean each cell, bit i set iff cell_i·60 > Σcells —
      * the exact-integer restatement of "cell above average". 60 bits
      * (not 64) so the hash obeys the house signed-64 XOR/bit_count
      * rule and rides d06's banded hamming machinery unchanged. */
    def ahash60(rows: Iterator[MediaRow]): Iterator[(Long, Long)] =
      rows.map(r => (r.media_id, ahash60Of(r.payload)))

    /** Payload-level aHash — the allocation-free form the streaming
      * twin calls per row (the iterator form above delegates here). */
    def ahash60Of(payload: Array[Byte]): Long = {
      val n = payload.length
      val cells = new Array[Long](60)
      var i = 0
      while (i < 60) {
        val lo = (i.toLong * n / 60).toInt
        val hi = ((i + 1).toLong * n / 60).toInt
        var s = 0L; var j = lo
        while (j < hi) { s += payload(j) & 0xff; j += 1 }
        cells(i) = if (hi > lo) s / (hi - lo) else 0L
        i += 1
      }
      val tot = cells.sum
      var h = 0L; i = 0
      while (i < 60) { if (cells(i) * 60 > tot) h |= 1L << i; i += 1 }
      h
    }

    /** "Resize" = interpret the payload as a row-major width×H byte
      * raster (deterministic fake geometry: fixed width, H = ⌈n/W⌉,
      * short last row) and 2×2 average-pool it — the image-resize
      * kernel shape. Edge cells pool over however many of the ≤4
      * source bytes exist; integer mean, truncating. */
    def resize2x(width: Int = 64)(rows: Iterator[MediaRow])
        : Iterator[(Long, Int, Int, Array[Byte])] = {
      require(width > 0, s"resize2x requires a positive raster width, got $width")
      rows.map { r =>
        val n = r.payload.length
        val h = (n + width - 1) / width
        // empty payload ⇒ a consistent 0×0 thumbnail, not (w/2)×0
        val ow = if (h == 0) 0 else (width + 1) / 2
        val oh = (h + 1) / 2
        val out = new Array[Byte](ow * oh)
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            var sum = 0; var cnt = 0
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                val x = ox * 2 + dx; val y = oy * 2 + dy
                val idx = y * width + x
                if (x < width && idx < n) { sum += r.payload(idx) & 0xff; cnt += 1 }
                dx += 1
              }
              dy += 1
            }
            out(oy * ow + ox) = if (cnt == 0) 0 else (sum / cnt).toByte
            ox += 1
          }
          oy += 1
        }
        (r.media_id, ow, oh, out)
      }
    }
  }

  /** documents.text as an opaque binary payload column. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables(s, dir, "documents")
      // A NULL payload is "no media", not an empty one: the typed
      // MediaRow contract (payload: Array[Byte]) can't carry null, and
      // every decode kernel would NPE on it. Dropped HERE so all
      // mapPartitions consumers (m02-m05) agree; their oracles state
      // the same `text IS NOT NULL` guard. (The sf corpora are
      // null-free — this pins the contract, not current data.)
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("media_id"), col("source").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** The m05/m10/m11 energy track — ONE kernel invocation (64-byte
    * frames, exact integer per-frame energy) for the registered
    * energy query and both segmentations built on it (m10 shot cuts,
    * m11 silence runs), so neither can drift from the energies it
    * thresholds. */
  private[graft] def frameEnergyRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions(StubDecoders.frameEnergy(64))
      .toDF("media_id", "frame", "n_samples", "energy")
  }

  /** m10's cut threshold on the PER-SAMPLE energy delta (byte² units;
    * measured at sf0.01: median per-sample delta ~274, p90 ~686 — 500
    * yields 432 cuts over 264 of 500 payloads, a real shot
    * structure). Compared cross-multiplied so the flag is exact
    * int64. */
  private val ShotCutThreshold = 500L

  /** m11's silence threshold on the PER-SAMPLE energy LEVEL (byte²
    * units; measured at sf0.01: per-sample frame energy spans
    * 5.2k–14.6k with p5 ≈ 9365 and median ≈ 9832 — 9500 flags 12.5%
    * of frames silent, so real multi-frame runs form on every fixture
    * tier). Compared cross-multiplied (energy < T·n_samples) so the
    * flag is exact int64, m10's discipline on the level axis. */
  private val SilencePerSampleMax = 9500L

  /** The per-frame cut/shot frame — m10's lag + running-cut-count
    * chain over [[frameEnergyRows]], ONE definition for m10 (the
    * shot roll-up) and m12 (the keyframe pick), so the keyframes can
    * never come from different shots than the roll-up reports. */
  private[graft] def shotCutRows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame"))
    frameEnergyRows(s, dir)
      .withColumn("pe", lag(col("energy"), 1).over(w))
      .withColumn("pn", lag(col("n_samples"), 1).over(w))
      .withColumn("cut", when(col("pe").isNotNull &&
        abs(col("energy") * col("pn") - col("pe") * col("n_samples")) >
          lit(ShotCutThreshold) * col("n_samples") * col("pn"),
        lit(1L)).otherwise(lit(0L)))
      .withColumn("shot", sum(col("cut"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
  }

  /** The real decode path: typed mapPartitions over the payload column. */
  def extractFeatures(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions(StubDecoders.features)
  }

  /** The resize path: typed mapPartitions 2×2 average-pool (see
    * [[StubDecoders.resize2x]]). Returns (media_id, out_w, out_h,
    * pixels) — the schema an image-thumbnailing stage lands. */
  def resizeMedia(s: SparkSession, dir: String, width: Int = 64)
      : Dataset[(Long, Int, Int, Array[Byte])] = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions(StubDecoders.resize2x(width))
  }

  /** Strided byte sample of a `text` column, ','-joined. Guard the
    * empty payload: Spark's sequence(1, 0, 16) throws where DuckDB's
    * generate_series yields [] — and DuckDB's array_to_string([], ',')
    * is NULL (not ''), with NULL text propagating to NULL too. Emit
    * NULL for both degenerate cases so the branches agree
    * engine-to-engine (ADVICE r2). */
  private[graft] def sampledCol: org.apache.spark.sql.Column =
    expr("""case when length(text) > 0
           |  then array_join(transform(sequence(1, length(text), 16),
           |                 i -> cast(ascii(substring(text, i, 1)) as string)), ',')
           |  else cast(null as string) end""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary-column metadata surface, oracle-checkable: byte length,
    // content hash, head byte, strided byte sample (all-ASCII corpus so
    // char positions == byte positions in both engines). Emitted
    // ','-joined (not array<int>): the driver harness row-sorts in
    // pandas, which can't hash array cells. The array-returning sample
    // shape stays in StubDecoders.frameSample.
    "m01_binary_stats" -> ((s, dir) => {
      Tables(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        sha2(encode(col("text"), "UTF-8"), 256).as("sha"),
        ascii(substring(col("text"), 1, 1)).as("head_byte"),
        sampledCol.as("sampled"))
    }),

    // The real decode path under oracle check: typed mapPartitions over
    // the binary payload (StubDecoders.features — one kernel init per
    // partition, the batch shape a libjpeg/ffmpeg kernel would use).
    // mean_byte is an exact integer sum divided once, so the double is
    // bit-identical to DuckDB's list_sum/len (all-ASCII corpus: byte
    // values == code points).
    "m02_media_features" -> ((s, dir) => {
      extractFeatures(s, dir)
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("mean_byte"), hex(col("head")).as("head_hex"))
    }),

    // The resize kernel under oracle check: the 2×2 truncating-average
    // pool is exact integer math over the byte raster (all-ASCII corpus
    // ⇒ byte values == code points), so DuckDB restates it as a nested
    // list comprehension. Pixels emitted hex-encoded — the harness
    // row-sorts in pandas, which can't hash array cells (m01's
    // discipline).
    "m03_resize2x" -> ((s, dir) => {
      resizeMedia(s, dir)
        .toDF("media_id", "ow", "oh", "pixels")
        .select(col("media_id"), col("ow"), col("oh"),
          hex(col("pixels")).as("px_hex"))
    }),

    // The frame-sampling kernel under oracle check: every 16th payload
    // byte (video frame-stride shape), hex-encoded like m03.
    "m04_frame_sample" -> ((s, dir) => {
      import s.implicits._
      mediaTable(s, dir).mapPartitions(StubDecoders.frameSample(16))
        .toDF("media_id", "sampled")
        .select(col("media_id"), hex(col("sampled")).as("sample_hex"))
    }),

    // The windowed-energy kernel under oracle check: 64-byte frames,
    // per-frame sum of squared bytes — exact integer math (all-ASCII
    // corpus ⇒ byte values == code points), emitted one row per frame
    // so no array cells reach the row-sorting harness.
    "m05_frame_energy" -> ((s, dir) => frameEnergyRows(s, dir)),

    // Shot-cut detection over the m05 energy track — the video
    // segmentation step a frame-sampling pipeline runs before choosing
    // which frames to keep (sample per SHOT, not per fixed stride):
    // a cut falls between consecutive frames whose PER-SAMPLE energy
    // changes by more than [[ShotCutThreshold]]; shot id = running
    // count of cuts; shots roll up to (start, end, frames, energy).
    // The per-sample normalization is cross-multiplied —
    // |e·nₚ − eₚ·n| > T·n·nₚ — so the comparison is exact int64 (a
    // division would make the cut flag float-sensitive, and the raw
    // delta would fire spuriously on every short final frame). Rides
    // the SAME [[frameEnergyRows]] kernel as m05 — the cuts can never
    // drift from the registered energy track. Plan: per-media lag +
    // running-sum windows (the e04 sessionize discipline — key count
    // scales, per-key frame counts stay bounded by payload size), then
    // one partial-aggregating roll-up on (media, shot).
    "m10_scene_shots" -> ((s, dir) =>
      shotCutRows(s, dir).groupBy(col("media_id"), col("shot"))
        .agg(min(col("frame")).as("start_frame"),
          max(col("frame")).as("end_frame"),
          count(lit(1)).as("n_frames"),
          sum(col("energy")).as("shot_energy"))),

    // Per-shot KEYFRAME selection — the step a frame-sampling
    // pipeline runs AFTER m10's segmentation (sample per SHOT, not
    // per fixed stride — the reason m10 exists): each shot keeps its
    // peak frame by PER-SAMPLE energy. The normalization is the 2²⁰
    // fixed-point floor quotient (energy·2²⁰ div n_samples — exact
    // and identical under Spark `div` and DuckDB `//`; a raw-energy
    // max would bias against every payload's short final frame, and
    // a float division would make the argmax boundary-sensitive),
    // ties to the earliest frame. Rides the SAME [[shotCutRows]]
    // chain as m10, so the keyframes can never come from different
    // shots than m10's roll-up reports. Plan: m10's windows + one
    // partial-agg max(struct) per (media, shot).
    "m12_shot_keyframes" -> ((s, dir) =>
      shotCutRows(s, dir)
        .select(col("media_id"), col("shot"), col("frame"), col("energy"),
          expr("(energy * 1048576) div n_samples").as("eps"))
        .groupBy(col("media_id"), col("shot"))
        .agg(max(struct(col("eps"), (-col("frame")).as("nf"),
            col("frame"), col("energy"))).as("kf"),
          count(lit(1)).as("n_frames"))
        .select(col("media_id"), col("shot"),
          col("kf").getField("frame").as("keyframe"),
          col("kf").getField("energy").as("kf_energy"),
          col("kf").getField("eps").as("kf_eps"),
          col("n_frames"))),

    // Silence segmentation over the m05 energy track — the audio
    // (VAD/trimming) sibling of m10's video shot cuts, completing the
    // segmentation pair on ONE kernel: m10 breaks the track where the
    // energy CHANGES (delta axis); m11 labels maximal runs where the
    // energy LEVEL sits below [[SilencePerSampleMax]] — the contiguous
    // low-energy spans a trimming stage drops before audio training.
    // The flag is cross-multiplied (energy < T·n_samples, exact int64
    // — m10's discipline), runs are gaps-and-islands off the flag's
    // lag (segment id = running count of flag CHANGES, so silent and
    // voiced segments interleave and tile the track), and both
    // per-media windows and the (media, seg) roll-up are the e04
    // sessionize shape: key count scales, per-key frame counts stay
    // bounded by payload size. Emits every segment labeled, not just
    // survivors — the trim is `WHERE NOT is_silence`, the provenance
    // stays.
    "m11_silence_segments" -> ((s, dir) => {
      val w = Window.partitionBy(col("media_id")).orderBy(col("frame"))
      val flagged = frameEnergyRows(s, dir)
        .withColumn("silent",
          col("energy") < lit(SilencePerSampleMax) * col("n_samples"))
        .withColumn("pf", lag(col("silent"), 1).over(w))
        .withColumn("chg", when(col("pf").isNull ||
          col("pf") =!= col("silent"), lit(1L)).otherwise(lit(0L)))
        .withColumn("seg", (sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - 1).cast("int"))
      flagged.groupBy(col("media_id"), col("seg"))
        .agg(max(col("silent")).as("is_silence"),
          min(col("frame")).as("start_frame"),
          max(col("frame")).as("end_frame"),
          count(lit(1)).as("n_frames"),
          sum(col("energy")).as("seg_energy"))
    }),

    // Media near-dup — perceptual-hash dedup, the image-pipeline
    // sibling of d06: the aHash kernel (mapPartitions, the decode
    // shape) signs every payload, then the EXACT d06 banded-hamming
    // machinery pairs signatures (6 × 10-bit band equi-joins, exact
    // bit_count on collisions only — provably lossless ≤ hamming 5).
    // Planted twins are an in-place single-byte edit (media_id + 10⁹;
    // same length, so cell boundaries don't shift and the twin lands
    // within a few bits — the d06 planting pattern adapted to a
    // position-sensitive hash). The oracle recomputes the hash and
    // pairs exhaustively, so banding must lose nothing.
    "m06_ahash_pairs" -> ((s, dir) =>
      ahashPairs(s, dir)
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("hamming"))),

    // Media dedup CLUSTERS — the decision layer over m06's pairs (the
    // d07-to-d02 relationship, for media): perceptual-hash near-dup
    // pairs feed the same large-star/small-star contraction, giving
    // one cluster id (the minimum member) per connected component —
    // what an image-dedup pipeline ships (keep one per cluster).
    // Topology = m06 (kernel + banded equi-joins) + O(log n)
    // contraction rounds; the oracle walks the exhaustive pair graph
    // with a recursive CTE, so banding + contraction together must
    // lose nothing.
    "m07_media_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
          ahashPairs(s, dir).select(col("doc_a"), col("doc_b")))
        .select(col("u").as("media_id"), col("lbl").as("cluster_id"))),

    // Incremental MEDIA-cluster maintenance — the third instantiation
    // of [[Dedup.clusterDeltaEdges]] (d14 folds Jaccard edges, d15
    // cosine edges; this folds aHash-hamming edges), completing the
    // incremental form across every cluster family the engine
    // maintains. New edges come from
    // [[Dedup.simhashPairsBetween]] — batch signature bands probe the
    // corpus bands under the D14BroadcastMaxRows gate — and the
    // stored assignment never shuffles. The batch draw is media_id %
    // 7 (the d15 discipline: 10⁹ ≡ 6 mod 7, so m06's planted
    // single-byte-edit twins split across the draw and genuinely
    // cross it). Emits the re-contracted (media_id, cluster_id) rows
    // of touched components — the delta an asset-store sink upserts.
    "m09_incremental_media_clusters" -> ((s, dir) => {
      // The signature table rides the session store too (the d14_sets
      // discipline): a deployed asset store keeps perceptual hashes
      // MATERIALIZED beside the payloads, so a repeat invocation reads
      // the landed signatures and times band-probe + verify +
      // re-contraction — the per-batch work — not the payload-linear
      // decode kernel over the whole corpus. (m06/m07 keep the
      // in-lineage kernel: signing IS what those queries measure.)
      val sigs = graft.ops.Subplan.once(
        graft.sources.SessionStore.storedOrBuild(s, "m09_sigs", dir,
          Seq("doc_id"))(ahashSigs(s, dir)))
      val isBatch = col("doc_id") % 7 === 0
      // Stored assignment via the session store (the d14 discipline):
      // landed once per JVM through Sink.write, read back after — so
      // a repeat invocation times the delta, not the stand-in build.
      val assign = graft.sources.SessionStore.storedOrBuild(
        s, "m09_assign", dir, Seq("doc_id"))(
        Dedup.connectedComponents(
          Dedup.simhashPairs(sigs.filter(!isBatch), 3)
            .select(col("doc_a"), col("doc_b")))
          .select(col("u").as("doc_id"), col("lbl").as("cluster_id")))
      val batch = sigs.filter(isBatch)
      // Eager gate, bounded: ONE count of the batch FRONTIER (sigs is
      // checkpointed — a cheap scan, never a corpus recompute). The
      // deliberate driver-side plan decision: the hint must reflect
      // the REAL batch size, not the contract's word, and AQE can
      // only convert joins it already planned — it cannot un-force a
      // wrong broadcast hint.
      val gate: DataFrame => DataFrame =
        if (batch.count() <= Dedup.D14BroadcastMaxRows)
          df => broadcast(df)
        else identity
      Dedup.clusterDeltaEdges(assign,
          Dedup.simhashPairsBetween(sigs, batch, 3, gate), gate)
        .select(col("doc_id").as("media_id"), col("cluster_id"))
    }),

    // Video CLIP containment — the media-asset lift of d12's
    // asymmetric containment (the content-ID shape: "which videos
    // contain this clip?"): each payload becomes its set of
    // fixed-grid 32-byte frame fingerprints, and a clip is a
    // containment hit when ≥ 90% of its frames appear in a video's
    // frame set. Rides the EXACT d12 machinery
    // ([[Dedup.containmentPairsPrefix]]: one-sided rarest-first
    // prefix filter + size filter + sorted-merge verify — the
    // pruning sits on the clip side, candidates never all-pairs), so
    // the skew bound and total-recall proof measured for d12 carry
    // over unchanged. Frame fingerprints are exact 36-bit md5-prefix
    // ids (the house hash discipline; a production system would drop
    // in a per-frame perceptual hash — the plumbing is identical).
    // Planted clips: media_id + 2·10⁹ = payload bytes [33, 128] — a
    // cut at frame boundaries, so for payloads ≥ 128 bytes (the
    // video's 4th frame, bytes 97-128, is already complete at 128)
    // the clip's 3 full frames are byte-identical to the video's
    // frames 2-4 and containment = 1.0 exactly (ExtSpec pins
    // recovery);
    // shorter payloads yield a short final frame that matches
    // nothing, scoring below threshold by design. The oracle is the
    // exhaustive all-ordered-pairs form — the prefix filter must
    // lose nothing.
    "m08_clip_containment" -> ((s, dir) => {
      val frames = m08Base(s, dir)
        .select(col("media_id").as("doc_id"), explode(frameIdsCol).as("x"))
      Dedup.containmentPairsPrefix(frames, 0.9)
        .select(col("doc_a").as("clip_id"), col("doc_b").as("media_id"),
          col("containment"))
    })
  )

  /** m08's fixture base: originals plus a planted frame-aligned clip
    * (bytes [33, 128]) at media_id + 2·10⁹. ONE definition shared
    * with ExtSpec's recovery pin so the test always validates the
    * registered fixture (the m06Base discipline). The empty-clip
    * guard matters beyond hygiene: Spark's `sequence(1, 0, 32)`
    * throws where DuckDB's generate_series yields [] — the oracle
    * states the same `length(text) > 0` filter. */
  private[graft] def m08Base(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
    d.select(col("doc_id").as("media_id"), col("text"))
      .unionAll(d.select(
        (col("doc_id") + lit(2000000000L)).as("media_id"),
        substring(col("text"), 33, 96).as("text")))
      .filter(length(col("text")) > 0)
  }

  /** Distinct 36-bit md5-prefix fingerprints of the fixed-grid
    * 32-byte frames of a `text` column (frame i covers bytes
    * [32i+1, 32i+32], last frame short) — the [[Dedup.ngramIdCol]]
    * hash discipline applied to byte windows instead of token
    * windows, one definition for the m08 query and (restated) its
    * oracle. */
  private[graft] def frameIdsCol: org.apache.spark.sql.Column =
    array_distinct(expr(
      """transform(sequence(1, length(text), 32),
        |  i -> cast(conv(substring(md5(substring(text, i, 32)), 1, 9),
        |            16, 10) as bigint))""".stripMargin))

  /** The aHash signature set over the m06 fixture — ONE
    * Spark-side definition for the m06 pair query and the m07 cluster
    * query (the oracle side shares [[ahashCte]] for the same reason):
    * a signature-pipeline change can never land in one and miss the
    * other, which would silently make m07's clusters stop being the
    * components of m06's pairs. */
  private[graft] def ahashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    m06Base(s, dir).mapPartitions(StubDecoders.ahash60)
      .toDF("doc_id", "simhash")
  }

  /** m06's hamming ≤ 3 signature pairs, which m07 contracts. The
    * banded self-join reads the signatures twice, so they are
    * checkpointed here; m09's store build reads them once. */
  private def ahashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(graft.ops.Subplan.once(ahashSigs(s, dir)), 3)

  /** m06's fixture base: originals plus an in-place single-byte-edited
    * twin at media_id + 10⁹ (same length, so aHash cell boundaries
    * don't shift). ONE definition shared with ExtSpec's brute-force
    * recall check and StreamingSpec's twin replay, so the tests always
    * validate the registered fixture. */
  private[graft] def m06Base(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
    d.select(col("doc_id").as("media_id"), col("source").as("kind"),
        col("text"))
      .unionAll(d.select(
        (col("doc_id") + lit(1000000000L)).as("media_id"),
        col("source").as("kind"),
        concat(lit("q"), expr("substr(text, 2)")).as("text")))
      .select(col("media_id"), col("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** The aHash signature CTE shared by the m06 and m07 oracles — one
    * statement of the kernel (ASCII-payload assumption noted at the
    * m06 entry) so the pair and cluster oracles can never drift. */
  private val ahashCte =
    """base AS (
      |  SELECT doc_id AS media_id, text FROM documents
      |    WHERE text IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS media_id,
      |    'q' || substring(text, 2) AS text FROM documents
      |    WHERE text IS NOT NULL),
      |d AS (SELECT media_id, text,
      |    octet_length(encode(text))::BIGINT AS n FROM base),
      |cells AS (SELECT media_id,
      |  [CASE WHEN (i + 1) * n // 60 > i * n // 60
      |     THEN list_sum([ascii(substring(text, j, 1))
      |            for j in generate_series((i * n // 60)::INT + 1,
      |                                     ((i + 1) * n // 60)::INT)])
      |          // ((i + 1) * n // 60 - i * n // 60)
      |     ELSE 0 END
      |   for i in generate_series(0, 59)] AS cl
      |  FROM d),
      |sig AS (SELECT media_id,
      |    CAST(list_sum([CASE WHEN cl[i + 1] * 60 > list_sum(cl)
      |                   THEN (1::BIGINT << i) ELSE 0 END
      |                   for i in generate_series(0, 59)]) AS BIGINT)
      |      AS simhash
      |  FROM cells)""".stripMargin

  /** The m05 energy track as a CTE chain ending in
    * `en`(media_id, frame, n_samples, energy) — ONE SQL statement of
    * the frame-energy kernel shared by the m05, m10, and m11 oracles,
    * so both segmentations are checked against the same energies the
    * energy query registers. */
  /** The m10 cut/shot chain as CTEs ending in
    * `ct`(media_id, frame, n_samples, energy, shot) — the SQL twin of
    * [[shotCutRows]], ONE statement for the m10 and m12 oracles. */
  private lazy val shotCutCtes =
    s"""$frameEnergyCte,
      |lg AS (SELECT media_id, frame, n_samples, energy,
      |    lag(energy) OVER w AS pe, lag(n_samples) OVER w AS pn
      |  FROM en WINDOW w AS (PARTITION BY media_id ORDER BY frame)),
      |ct AS (SELECT media_id, frame, n_samples, energy,
      |    SUM(CASE WHEN pe IS NOT NULL
      |          AND abs(energy * pn - pe * n_samples)
      |            > $ShotCutThreshold * n_samples * pn
      |        THEN 1 ELSE 0 END) OVER (PARTITION BY media_id ORDER BY frame
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
      |  FROM lg)""".stripMargin

  private val frameEnergyCte =
    """d AS (SELECT doc_id, text,
      |    octet_length(encode(text))::BIGINT AS n FROM documents
      |  WHERE octet_length(encode(text)) > 0),
      |f AS (SELECT doc_id, text, n, u.frame
      |  FROM d, unnest(generate_series(0, ((n + 63) // 64) - 1)) u(frame)),
      |en AS (SELECT doc_id AS media_id, CAST(frame AS INTEGER) AS frame,
      |  CAST(LEAST(64, n - frame * 64) AS INTEGER) AS n_samples,
      |  CAST(list_sum([ascii(substring(text, (frame * 64 + i)::INT, 1))
      |      * ascii(substring(text, (frame * 64 + i)::INT, 1))
      |    for i in generate_series(1, LEAST(64, n - frame * 64)::INT)])
      |    AS BIGINT) AS energy
      |FROM f)""".stripMargin

  val oracle: Map[String, String] = Map(
    "m01_binary_stats" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS sha,
        |  CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS head_byte,
        |  array_to_string([CAST(ascii(substring(text, i, 1)) AS VARCHAR)
        |    for i in generate_series(1, length(text)::INT, 16)], ',') AS sampled
        |FROM documents""".stripMargin,
    "m02_media_features" ->
      """SELECT doc_id AS media_id, source AS kind,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(list_sum([ascii(substring(text, i, 1))
        |              for i in generate_series(1, length(text)::INT, 1)]) AS DOUBLE)
        |            / octet_length(encode(text)) END AS mean_byte,
        |  hex(encode(substring(text, 1, 8))) AS head_hex
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // States StubDecoders.resize2x exactly: W=64 raster, h=⌈n/64⌉,
    // ow=32 (0 if empty), oh=⌈h/2⌉; pixel p pools the ≤4 in-range
    // source bytes at ((p//32)·2+dy)·64 + (p%32)·2+dx, truncating
    // integer mean, 0 when no source byte exists. hex() is uppercase
    // in both engines; empty pixel lists coalesce to '' (DuckDB's
    // array_to_string([]) is NULL where Spark hex(empty) is '').
    "m03_resize2x" ->
      """WITH d AS (SELECT doc_id, text,
        |    octet_length(encode(text))::BIGINT AS n FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, text, n, (n + 63) // 64 AS h FROM d),
        |dims AS (SELECT doc_id, text, n, h,
        |    CASE WHEN h = 0 THEN 0 ELSE 32 END AS ow, (h + 1) // 2 AS oh FROM g),
        |cells AS (SELECT doc_id, text, n, ow, oh,
        |  [[CASE WHEN ((p // 32) * 2 + q // 2) * 64 + (p % 32) * 2 + q % 2 < n
        |     THEN ascii(substring(text,
        |          ((p // 32) * 2 + q // 2) * 64 + (p % 32) * 2 + q % 2 + 1, 1)) END
        |    for q in generate_series(0, 3)]
        |   for p in generate_series(0, ow * oh - 1)] AS cl
        |  FROM dims),
        |px AS (SELECT doc_id, ow, oh,
        |  [CASE WHEN len(list_filter(c, x -> x IS NOT NULL)) = 0 THEN 0
        |        ELSE list_sum(list_filter(c, x -> x IS NOT NULL))
        |             // len(list_filter(c, x -> x IS NOT NULL)) END
        |   for c in cl] AS pxs
        |  FROM cells)
        |SELECT doc_id AS media_id, CAST(ow AS INTEGER) AS ow,
        |  CAST(oh AS INTEGER) AS oh,
        |  COALESCE(array_to_string(
        |    [lpad(hex(v), 2, '0') for v in pxs], ''), '') AS px_hex
        |FROM px""".stripMargin,
    "m04_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  COALESCE(array_to_string(
        |    [lpad(hex(ascii(substring(text, i, 1))), 2, '0')
        |     for i in generate_series(1, length(text)::INT, 16)], ''), '')
        |  AS sample_hex
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // States StubDecoders.frameEnergy(64) exactly: frames of 64 bytes
    // (last short), energy = sum of squared byte values.
    "m05_frame_energy" ->
      s"""WITH $frameEnergyCte
        |SELECT media_id, frame, n_samples, energy FROM en""".stripMargin,
    // The shot roll-up over the SAME energy CTE (one statement of the
    // kernel for both oracles): per-media lag, the cross-multiplied
    // exact-integer cut flag, running cut count = shot id, roll up.
    "m10_scene_shots" ->
      s"""WITH $shotCutCtes
        |SELECT media_id, CAST(shot AS INTEGER) AS shot,
        |  MIN(frame) AS start_frame, MAX(frame) AS end_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(energy) AS BIGINT) AS shot_energy
        |FROM ct GROUP BY media_id, shot""".stripMargin,
    // m12: the SAME cut chain, each shot's peak frame by the 2²⁰
    // fixed-point per-sample energy quotient, ties to the earliest
    // frame.
    "m12_shot_keyframes" ->
      s"""WITH $shotCutCtes,
        |ek AS (SELECT media_id, shot, frame, energy,
        |    (energy * 1048576) // n_samples AS eps,
        |    ROW_NUMBER() OVER (PARTITION BY media_id, shot
        |      ORDER BY (energy * 1048576) // n_samples DESC, frame ASC)
        |      AS rk,
        |    COUNT(*) OVER (PARTITION BY media_id, shot) AS n_frames
        |  FROM ct)
        |SELECT media_id, CAST(shot AS INTEGER) AS shot,
        |  frame AS keyframe, energy AS kf_energy,
        |  CAST(eps AS BIGINT) AS kf_eps,
        |  CAST(n_frames AS BIGINT) AS n_frames
        |FROM ek WHERE rk = 1""".stripMargin,
    // The silence roll-up over the SAME energy CTE: level flag,
    // change-count segment ids, (media, seg) roll-up — m10's window
    // restatement on the level axis.
    "m11_silence_segments" ->
      s"""WITH $frameEnergyCte,
        |fl AS (SELECT media_id, frame, n_samples, energy,
        |    energy < $SilencePerSampleMax * n_samples AS silent FROM en),
        |ch AS (SELECT media_id, frame, energy, silent,
        |    CASE WHEN lag(silent) OVER w IS NULL
        |           OR lag(silent) OVER w <> silent
        |         THEN 1 ELSE 0 END AS chg
        |  FROM fl WINDOW w AS (PARTITION BY media_id ORDER BY frame)),
        |sg AS (SELECT media_id, frame, energy, silent,
        |    SUM(chg) OVER (PARTITION BY media_id ORDER BY frame
        |      ROWS UNBOUNDED PRECEDING) - 1 AS seg
        |  FROM ch)
        |SELECT media_id, CAST(seg AS INTEGER) AS seg,
        |  MAX(silent) AS is_silence,
        |  MIN(frame) AS start_frame, MAX(frame) AS end_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(energy) AS BIGINT) AS seg_energy
        |FROM sg GROUP BY media_id, seg""".stripMargin,
    // States StubDecoders.ahash60 exactly: 60 byte-range cells,
    // truncating means, bit i iff cell_i*60 > sum(cells); pairs are
    // the exhaustive all-pairs bit_count filter (banding must lose
    // nothing at hamming <= 3). ASCII-payload assumption (m05 shares
    // it): the SQL indexes CHARACTERS (ascii(substring(text, j, 1)))
    // while sizing cells by octet_length(encode(text)) and the Scala
    // kernel indexes UTF-8 BYTES — equivalent only while every
    // payload byte is ASCII, which the document fixtures are. A
    // multi-byte fixture would need the oracle restated over
    // encode(text) blob bytes.
    "m06_ahash_pairs" ->
      s"""WITH $ahashCte
         |SELECT a.media_id AS media_a, b.media_id AS media_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    // d07's recursive min-label walk over m06's exhaustive pair graph.
    "m07_media_clusters" ->
      s"""WITH RECURSIVE $ahashCte,
         |pairs AS (
         |  SELECT a.media_id AS media_a, b.media_id AS media_b
         |  FROM sig a JOIN sig b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT media_a AS u, media_b AS v FROM pairs
         |  UNION SELECT media_b, media_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS media_id, MIN(v) AS cluster_id FROM reach GROUP BY u""".stripMargin,
    // The d14/d15 oracle identity for media: m07's full rebuild
    // restricted to components containing a batch (media_id % 7 = 0)
    // member.
    "m09_incremental_media_clusters" ->
      s"""WITH RECURSIVE $ahashCte,
         |pairs AS (
         |  SELECT a.media_id AS media_a, b.media_id AS media_b
         |  FROM sig a JOIN sig b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT media_a AS u, media_b AS v FROM pairs
         |  UNION SELECT media_b, media_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS media_id, MIN(v) AS cluster_id
         |  FROM reach GROUP BY u),
         |touched AS (SELECT DISTINCT cluster_id FROM comp
         |  WHERE media_id % 7 = 0)
         |SELECT c.media_id, c.cluster_id
         |FROM comp c JOIN touched USING (cluster_id)""".stripMargin,
    // States the m08 fixture + frame grid exactly (ASCII-payload
    // assumption as in m05/m06: char positions == byte positions);
    // the exhaustive all-ordered-pairs containment form — the
    // registered prefix filter must lose nothing against it.
    "m08_clip_containment" ->
      """WITH base AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |    WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 2000000000 AS media_id,
        |    substring(text, 33, 96) AS text FROM documents
        |    WHERE text IS NOT NULL),
        |b2 AS (SELECT media_id, text FROM base WHERE length(text) > 0),
        |fr AS (SELECT DISTINCT media_id, x FROM (
        |  SELECT media_id,
        |    ('0x' || substr(md5(substring(text, i, 32)), 1, 9))::BIGINT AS x
        |  FROM b2, unnest(generate_series(1, length(text)::INT, 32)) u(i))),
        |sz AS (SELECT media_id, COUNT(*) AS n FROM fr GROUP BY media_id),
        |pairs AS (SELECT a.media_id AS clip_id, b.media_id AS mid,
        |    COUNT(*) AS inter, MIN(sa.n) AS na
        |  FROM fr a JOIN fr b ON a.x = b.x AND a.media_id <> b.media_id
        |  JOIN sz sa ON sa.media_id = a.media_id
        |  GROUP BY a.media_id, b.media_id)
        |SELECT clip_id, mid AS media_id,
        |  CAST(inter AS DOUBLE) / na AS containment
        |FROM pairs WHERE CAST(inter AS DOUBLE) / na >= 0.9""".stripMargin
  )

}
