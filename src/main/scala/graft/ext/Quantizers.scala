package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity._

/** Trained quantizers (s13–s26, s28, s30, s32, s39, s45): the
  * exact-integer k-means IVF and its product-quantized IVFADC form, each
  * in-lineage and landed, with their store upserts, deletes, drift
  * metrics, rebuilds and filtered, range and rerank probes. Every Lloyd
  * step is exact integer arithmetic, so the oracles below unroll the
  * same loops the engine runs.
  */
object Quantizers {

  /** The ten probe queries the ANN store queries search with:
    * vec_id < 10, with the vector and its fixed-point form. */
  private def probeQueries(s: SparkSession, dir: String): DataFrame =
    embFx(s, dir).filter(col("vec_id") < 10)

  /** The (vec_id, v, x) fixed-point rows of the embeddings table. */
  private def embFx(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x"))

  // ---------------------------------------------------------------
  // s13: IVF with a LEARNED coarse quantizer — exact-integer k-means.
  //
  // The grid quantizer (s08/s10/s11) is oracle-exact because cell
  // assignment is a single correctly-rounded IEEE op per axis — but it
  // only indexes well when coordinates are individually informative
  // (~N(0, 1/64) axes). A LEARNED quantizer adapts its cells to the
  // data, and the standard objection (float centroid means make the
  // fit nondeterministic across engines, so spark.ml's float KMeans
  // can carry no correctness row) dissolves once Lloyd's iteration is
  // stated in exact integer arithmetic:
  //
  //   * coordinates are fixed-point longs: x = ⌊v·2²⁰⌋ — multiplying
  //     a double by a power of two is exact (exponent shift) and floor
  //     is exactly specified, so every engine derives the SAME lattice
  //     point (the s08 gridCell argument, applied per dimension);
  //   * distances are exact int64 sums of squared differences
  //     (|x−m| ≤ 2²¹ ⇒ Σ over 64 dims ≤ 2⁴⁸ — no overflow, no
  //     rounding, no accumulation-order dependence);
  //   * centroid updates are exact integer sums + ONE truncating
  //     division on a non-negative-shifted numerator:
  //     m = (Σx + 2²⁰·n) div n − 2²⁰ (Spark `div` and DuckDB `//`
  //     both truncate toward zero; the shift makes truncation = floor
  //     in both), so iteration k's centroids — and therefore every
  //     assignment, posting list, and candidate set — are
  //     bit-identical across engines.
  //
  // The learn/apply split mirrors the reference's train-then-apply
  // discipline (randomforest.py:42-81 trains a model that :90-103
  // applies to new chips): kmeansCentroids is the training loop,
  // kmAssign the apply — ONE assignment definition shared by the
  // training iterations, the posting build, and (transposed) the
  // probe, so learn and apply can never disagree.
  // ---------------------------------------------------------------

  /** k-means knobs: K centroids, fixed Lloyd iterations, probes per
    * query. K is the scale knob (real IVF sizes K ~ √N so per-cell
    * postings stay bounded); iterations are fixed so the oracle can
    * unroll them. */
  private[graft] val KmK = 8
  private[graft] val KmIters = 3
  private val KmNProbe = 2
  private val KmShift = 1048576L // 2^20

  /** THE assignment: each vector's nearest centroid (ties → lowest
    * cid). The K-row centroid table collapses to ONE broadcast row
    * holding the cid-sorted centroid array, and assignment is a pure
    * map — an argmin fold over the array per corpus row. The corpus
    * NEVER shuffles: per Lloyd iteration the only exchange is the
    * partial-agged (cid, 64 sums) update frame (≤ K rows/task).
    * FunctionsSpec pins the native nearest_id against its fold form and
    * the lowest-cid tie-break. No spec times it: the interpreted fold
    * was a measured 5-7× sf1 regression (PLANS.md round 11). */
  private[graft] def kmAssign(fx: DataFrame, cents: DataFrame): DataFrame = {
    val one = cents
      .agg(array_sort(collect_list(struct(col("cid"), col("m")))).as("cents"))
      .withColumn("one", graft.ops.ConstKey.one(size(col("cents"))))
    fx.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(one), "one")
      // nearest_id IS the argmin-with-lowest-cid-tie-break fold as one
      // native whole-stage-codegen'd expression — the interpreted
      // aggregate/least/zip_with form paid per-centroid lambda +
      // allocation overhead per row (a measured ~1.5× of s13's sf1
      // soak wall).
      // Preserve the input frame's columns (pqEncode's discipline):
      // callers select what they need, and metadata columns — s23's
      // label — ride through THE one assignment definition instead
      // of being joined back afterwards.
      .select(fx.columns.toIndexedSeq.map(col) :+
        graft.functions.NearestId.nearest(col("x"), col("cents")).as("cid"): _*)
  }

  /** One Lloyd update: per-centroid exact integer coordinate sums
    * (64 partial-aggregating column sums — the shuffle carries ≤ K
    * rows per task), then the truncating-division mean; a centroid
    * that lost every member keeps its previous position (the
    * deterministic empty-cluster rule, stated identically in the
    * oracle's LEFT JOIN + COALESCE). */
  private[graft] def kmUpdate(assigned: DataFrame, prev: DataFrame): DataFrame = {
    // ONE vec_sum aggregate + ONE transform for the truncating mean —
    // the 64 separate sum(element_at) aggregates cost a ~300-node
    // plan re-optimized on every Lloyd action (round-17 cut, the
    // RpProject lesson; FunctionsSpec pins vec_sum ≡ the column
    // sums). Arithmetic unchanged: exact long sums, then
    // (Σx + 2²⁰n) div n − 2²⁰ per coordinate.
    // ASSUMES group count (K cells) < 128, the ObjectHashAggregate
    // sort-based fallback threshold: every current trainer has K ≤ 8
    // and semK reaches 80 at sf10, but ~800 cells (the sf100 decade
    // under SemDeDup's K ~ N/2500 scaling) would cross the cliff on
    // every Lloyd action — re-measure against
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold before
    // scaling K past 128 (ADVICE r17; the pqUpdate exemption is the
    // same cliff from the other side).
    val sums = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("cnt"),
        graft.functions.VecSumAgg.vecSum(col("x"), 64).as("sx"))
    val mNew = sums.select(col("cid"),
      expr(s"transform(sx, s -> ((s + $KmShift * cnt) div cnt) - $KmShift)")
        .as("mn"))
    prev.select(col("cid"), col("m").as("pm"))
      .join(mNew, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("mn"), col("pm")).as("m"))
  }

  /** The seed rows of both Lloyd trainers: the `k` rows of `fx` with
    * the smallest md5(vec_id‖':seed') draws, each with cid = its draw
    * rank — a bounded-heap global top-k (the e10 discipline), so
    * seeding needs no global sort. */
  private[graft] def lloydSeeds(fx: DataFrame, k: Int): DataFrame = {
    val draw = conv(substring(md5(concat(col("vec_id").cast("string"),
      lit(":seed"))), 1, 8), 16, 10).cast("long")
    val seedIds = fx.select(col("vec_id"), draw.as("draw"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("draw")).as("nd"), (-col("vec_id")).as("nv"),
          col("vec_id")), k).as("top"))
      .select(posexplode(col("top")))
      .select(col("pos").cast("int").as("cid"), col("col.vec_id").as("vec_id"))
    fx.join(broadcast(seedIds), Seq("vec_id"))
  }

  /** The training loop: [[lloydSeeds]], then [[KmIters]] exact Lloyd
    * iterations. Each iteration checkpoints its input K-row centroid
    * table, which it reads twice (assign and update), so the composed
    * plan stays flat (the t24 round-frontier discipline); the last
    * iteration's output stays lazy — a caller that reads it twice
    * wraps it in `Subplan.once`.
    * ExtSpec "s13 exact-integer k-means: a JVM Lloyd recompute …" fails
    * if a Lloyd step stops being exact integer arithmetic, and the
    * oracles unroll this same loop, so tools/check.py fails on a one-
    * sided change. */
  private[graft] def kmeansCentroids(fx: DataFrame,
      k: Int = KmK): DataFrame = {
    var cents = lloydSeeds(fx, k).select(col("cid"), col("x").as("m"))
    for (_ <- 1 to KmIters) {
      val prev = graft.ops.Subplan.once(cents)
      cents = kmUpdate(kmAssign(fx, prev), prev)
    }
    cents
  }

  /** The registered s13 body: train the quantizer, build the posting
    * lists (one more [[kmAssign]] — the index build), probe each
    * query's [[KmNProbe]] nearest cells, rank candidates by exact
    * cosine (the s08 probe topology: postings equi-join a broadcast
    * probe frame, bounded-heap top-5). */
  /** The multi-probe of the learned quantizer: each query's
    * [[KmNProbe]] nearest cells by exact integer distance (bounded-heap
    * per-query top-k) — ONE definition for the in-lineage probe (s13)
    * and the landed-store probe (s15), so the two can only differ by
    * storage topology. `q` carries (vec_id, v, x). */
  private[graft] def kmProbeCells(q: DataFrame, cents: DataFrame,
      nprobe: Int = KmNProbe): DataFrame =
    q.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(cents.withColumn("one",
        graft.ops.ConstKey.one(col("cid")))), "one")
      .withColumn("dist", kmDist(col("x"), col("m")))
      .groupBy(col("vec_id"), col("v"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("dist")).as("nd"), (-col("cid")).as("nc"), col("cid")),
        nprobe).as("top"))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(col("top")).as("t"))
      .select(col("qid"), col("qv"), col("t.cid").as("cid"))

  /** The probed-cells cosine top-5 — shared tail of s13/s15/s18/s19. */
  private[graft] def kmProbedTop5(post: DataFrame, probes: DataFrame): DataFrame = {
    val scored = post.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
    topK(scored, col("qid"), 5)
  }

  /** The in-lineage learned IVF over a fixed-point corpus `fx`:
    * centroids trained on `fx` restricted to `trainFilter`, and the
    * (vec_id, v, cid) postings of all of `fx`. ONE front for s13, s19
    * and the every-vector twin [[kmScoredAll]]. */
  private[graft] def kmIvf(fx: DataFrame,
      trainFilter: Option[Column] = None): (DataFrame, DataFrame) = {
    val cents = graft.ops.Subplan.once(
      kmeansCentroids(trainFilter.map(fx.filter).getOrElse(fx)))
    (cents, kmAssign(fx, cents).select(col("vec_id"), col("v"), col("cid")))
  }

  /** The s13 body, and with the 1/8 `trainFilter` sample the s19 one:
    * TRAINING DECOUPLED FROM CORPUS SIZE — the [[KmIters]] Lloyd
    * scans run over the sample only (at 100 TB that is the difference
    * between `rounds × corpus` scans and `rounds × sample` + ONE full
    * assignment); the index build, probe, and ranking are the same.
    * The oracle trains on the same sample, so the whole chain stays
    * hash-checked. */
  private def kmeansIvfQuery(s: SparkSession, dir: String,
      trainFilter: Option[Column] = None): DataFrame = {
    val fx = graft.ops.Subplan.once(embFx(s, dir))
    val (cents, post) = kmIvf(fx, trainFilter)
    kmProbedTop5(post, kmProbeCells(fx.filter(col("vec_id") < 10), cents))
  }

  /** The s15 body: the TRAINED index in its deployment shape — both
    * halves of the model state are stored tables (the reference's
    * trained-model-in-a-table discipline, tile.py:16-25 /
    * randomforest.py:90-103): centroids land via SessionStore (8
    * rows — the "model"), postings land cell-partitioned, and the
    * probe's 2-cell broadcast dynamic-partition-prunes the read-back
    * scan exactly as s12's grid form does. First access per JVM pays
    * the training build; repeats — the bench's best-of — pay probe +
    * rank only, the per-query cost of a deployed ANN service. Answer
    * ≡ s13 (the build is deterministic), so s13's oracle states
    * both. */
  private def kmeansStoredQuery(s: SparkSession, dir: String): DataFrame = {
    // lazy: pays the checkpoint only on the first-access build path,
    // and then exactly ONCE even though both storedOrBuild blocks
    // reference it (a `def` re-ran Subplan.once per block — two
    // embeddings scans + two eager checkpoints of the same frame).
    lazy val fxOf = graft.ops.Subplan.once(
      emb(s, dir).select(col("vec_id"), col("label"), col("v"),
        fixedPoint(col("v")).as("x")))
    val (cents, post) = s15Store(s, dir, fxOf)
    val q = probeQueries(s, dir)
    // s15 ignores the stored label column — column pruning drops it
    // from the read schema, so the unfiltered probe pays nothing for
    // the metadata s23 filters on (one index serves both).
    kmProbedTop5(post.select(col("vec_id"), col("v"), col("cid")),
      kmProbeCells(q, cents))
  }

  /** THE landed trained-IVF store — s15's (centroids, cell-partitioned
    * postings) pair, shared by s15 (unfiltered probe) and s23 (the
    * label-filtered probe): one index, query-time predicates — a
    * second index per filterable attribute is exactly what a
    * production store avoids. Postings rows carry (vec_id, v, label,
    * cid). `fxOf` must be lazy at the caller so a fully-stored repeat
    * run never evaluates it.
    * Readers: s15, s23, s39, s41 and graft.ext.Hybrid's t39 vector
    * list. A stored-schema change reaches all five; each one's oracle
    * in tools/check.py fails on a reader it breaks. */
  private[graft] def s15Store(s: SparkSession, dir: String,
      fxOf: => DataFrame): (DataFrame, DataFrame) = {
    lazy val fx = fxOf
    val cents = graft.sources.SessionStore.storedOrBuild(
      s, "s15_cents", dir, Seq("cid")) { kmeansCentroids(fx) }
    val post = graft.sources.SessionStore.storedOrBuild(
      s, "s15_postings", dir, Seq("vec_id"), Seq("cid")) {
      kmAssign(fx, cents).select(col("vec_id"), col("v"), col("label"),
        col("cid"))
    }
    (cents, post)
  }

  /** The s23 body — FILTERED ANN over the SAME landed index s15
    * probes (the ann-benchmarks "filtered" track: top-k restricted to
    * candidates sharing the query's metadata attribute — search
    * within a category/tenant/language). No second index exists: the
    * stored postings carry the label column, the probe joins on
    * (cid, label) — the predicate rides the broadcast hash join KEY,
    * so non-matching candidates drop at the join, before any cosine
    * arithmetic — and the scan still dynamic-partition-prunes to the
    * probed cells. At 100 TB the per-query cost is (probed slice) ×
    * (label selectivity), and adding a filterable attribute costs one
    * stored column, not one index. Post-filter semantics stated
    * honestly: cells are probed by UNfiltered distance, so a query
    * whose 2 cells hold < 5 same-label members returns fewer rows —
    * the documented trade every filtered-IVF deployment makes (the
    * alternative, per-label partitioning, is s12's layout applied to
    * a different key). */
  private def kmeansFilteredQuery(s: SparkSession, dir: String): DataFrame = {
    lazy val fxOf = graft.ops.Subplan.once(
      emb(s, dir).select(col("vec_id"), col("label"), col("v"),
        fixedPoint(col("v")).as("x")))
    val (cents, post) = s15Store(s, dir, fxOf)
    val q = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("label"), col("v"),
        fixedPoint(col("v")).as("x"))
    val probes = kmProbeCells(q, cents)
      .join(broadcast(q.select(col("vec_id").as("qid"), col("label"))),
        Seq("qid"))
    val scored = post.join(broadcast(probes), Seq("cid", "label"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
    topK(scored, col("qid"), 5)
  }

  // ---------------------------------------------------------------
  // s39: RANGE SEARCH over the landed trained index — the third
  // reader of [[s15Store]] (s15 probes top-k, s23 filters, s39
  // answers "every vector within distance R"), the vector-DB radius
  // query (FAISS range_search; Weber et al., VLDB 1998's ε-query):
  // near-dup mining wants ALL matches under a threshold, not a fixed
  // k. Pruning is the classic triangle-inequality cell bound: a cell
  // c with centroid distance d(q,c) > R + rad(c) (rad = max member
  // distance to its centroid) cannot contain an answer, so only
  // admitted cells' postings are scanned. Every quantity is exact
  // int64 in the fixed-point lattice; the square roots the triangle
  // inequality forces are CEILING integer sqrts ([[isqrtCeil]] —
  // conservative, so pruning can only over-admit, never drop an
  // answer; the double-sqrt seed is corrected by exact integer
  // comparisons, so engine rounding cannot matter), applied only to
  // K-row cell frames, never the corpus. The exact verify on
  // admitted postings makes the ANSWER independent of how tight the
  // bound is — the oracle is therefore the brute-force statement
  // itself, which checks completeness end to end.
  // ---------------------------------------------------------------

  /** s39's radius: lattice d² ≤ 1.6·10¹² (real L2² ≈ 1.455, cosine
    * ≥ ~0.27 on the unit-norm corpus) — measured to sit just above
    * the fixture's per-query nearest-neighbor band (min natural d²
    * 1.1–1.5·10¹²), so every query returns a small non-trivial
    * neighbor set and the count grows linearly with corpus density,
    * the honest range-query semantics. */
  private[graft] val RangeR2 = 1600000000000L

  /** Ceiling integer sqrt of a non-negative int64 column: seed from
    * the double sqrt (correctly rounded, so the true ⌈√x⌉ lies within
    * ±1 of the floored seed for x ≤ 2⁵⁰), then pick the smallest
    * candidate whose square covers x by EXACT integer comparison —
    * the result is engine-rounding-independent by construction.
    * Applied only to model-sized frames (per-cell radii, the one
    * radius constant).
    * ExtSpec "s39 range search: isqrtCeil exact on a sweep; …" fails if
    * it stops being a ceiling: a floor would prune answers. */
  private[graft] def isqrtCeil(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    when(x <= 0, lit(0L))
      .when((s0 - 1) * (s0 - 1) >= x, s0 - 1)
      .when(s0 * s0 >= x, s0)
      .when((s0 + 1) * (s0 + 1) >= x, s0 + 1)
      .otherwise(s0 + 2)
  }

  /** Per-cell pruning stats of a posting store: rad_up(c) =
    * ⌈√(max member d² to own centroid)⌉ — K rows, one map-side
    * partial-agg pass over the postings at build time. */
  private[graft] def rangeCellStats(post: DataFrame,
      cents: DataFrame): DataFrame =
    post.select(col("cid"), fixedPoint(col("v")).as("x"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("cid"), kmDist(col("x"), col("m")).as("d2"))
      .groupBy(col("cid")).agg(max(col("d2")).as("rad2"))
      .select(col("cid"), isqrtCeil(col("rad2")).as("rad_up"))

  /** The admitted (qid, qx, cid) probe frame: cells surviving the
    * triangle bound d(q,c)² ≤ (⌈√R²⌉ + rad_up(c))² — the K-row
    * (centroid ⨝ stats) side rides one ConstKey broadcast against
    * the query frame; everything stays exact int64. */
  private[graft] def rangeAdmitted(q: DataFrame, cents: DataFrame,
      stats: DataFrame, r2: Long): DataFrame = {
    val cells = cents.join(stats, Seq("cid"))
      .withColumn("one", graft.ops.ConstKey.one(col("cid")))
    val bound = isqrtCeil(lit(r2)) + col("rad_up")
    q.withColumn("one", graft.ops.ConstKey.one(col("qid")))
      .join(broadcast(cells), "one")
      .filter(kmDist(col("qx"), col("m")) <= bound * bound)
      .select(col("qid"), col("qx"), col("cid"))
  }

  /** The exact tail: admitted cells' postings verified at int64
    * d² ≤ R² — (qid, vec_id, d2) rows, the range answer. */
  private[graft] def rangeVerify(post: DataFrame, probes: DataFrame,
      r2: Long): DataFrame =
    post.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("d2", kmDist(col("qx"), fixedPoint(col("v"))))
      .filter(col("d2") <= lit(r2))
      .select(col("qid"), col("vec_id"), col("d2"))

  /** The registered s39 body: queries vec_id < 10 against the SAME
    * landed index s15/s23 probe, with the K-row cell stats landed
    * once beside it (`s39_cellstats` — built FROM the stored
    * postings, so stats and index can never describe different
    * corpora). Repeat cost = two K-row reads + the admitted cells'
    * posting partitions; on the uniform fixture geometry the wide
    * cells admit everything (the s16 dimension-collapse story — the
    * bound's effectiveness is pinned on clusterable geometry in
    * ExtSpec instead, where it provably drops cells while staying
    * ≡ brute force), and at 100 TB on real, clusterable embedding
    * mixes the admitted fraction is what turns a corpus scan into a
    * partition read. */
  private def rangeSearchQuery(s: SparkSession, dir: String): DataFrame = {
    lazy val fxOf = graft.ops.Subplan.once(
      emb(s, dir).select(col("vec_id"), col("label"), col("v"),
        fixedPoint(col("v")).as("x")))
    val (cents, post) = s15Store(s, dir, fxOf)
    val stats = graft.sources.SessionStore.storedOrBuild(
      s, "s39_cellstats", dir, Seq("cid")) { rangeCellStats(post, cents) }
    val q = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), fixedPoint(col("v")).as("qx"))
    rangeVerify(post.select(col("vec_id"), col("v"), col("cid")),
      rangeAdmitted(q, cents, stats, RangeR2), RangeR2)
  }

  /** THE retirement mechanics on a cid-partitioned vector store — ONE
    * definition for s24 (the trained index's postings) and s25 (the
    * compressed index's codes), so the two delete paths cannot drift:
    * the retired-id frame (batch-bounded) broadcast-SEMI-joins the
    * store to find its ≤ K touched cells, broadcast-ANTI-joins their
    * rows, and the survivors — checkpointed BEFORE the write — rewrite
    * exactly those cells by dynamic partition overwrite. A cell whose
    * membership drops to zero cannot be rewritten dynamically (no row
    * carries its key), so its partition directory is dropped
    * explicitly: a bounded ≤ K-entry driver-side metadata op, the
    * parquet analogue of partition DROP. Re-applying the same delete
    * is a no-op (the semi-join finds nothing). */
  private def deleteFromStore(s: SparkSession, path: String,
      delIds: DataFrame): Unit = {
    val del = broadcast(delIds)
    val stored = s.read.parquet(path)
    val touched = broadcast(
      stored.join(del, Seq("vec_id"), "left_semi")
        .select(col("cid")).distinct())
    val survivors = graft.ops.Subplan.once(
      stored.join(touched, Seq("cid"), "left_semi")
        .join(del, Seq("vec_id"), "left_anti"))
    val emptied = touched.collect().map(_.getInt(0)).toSet --
      survivors.select(col("cid")).distinct().collect().map(_.getInt(0))
    if (emptied.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      emptied.foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"cid=$c"), true)
      }
    }
    if (!survivors.isEmpty)
      graft.sources.Sink.write(survivors, path, Seq("vec_id"), Seq("cid"))
  }

  /** The s24 body — DELETIONS from the landed trained index, the
    * reverse half of s18's append-upsert (together they are the full
    * maintenance contract of the reference's keyed sink,
    * cassandra.py:45-63): the stored model (centroids trained on the
    * FULL pre-deletion corpus — deletes never retrain, as inserts
    * never do) and cell-partitioned postings; a batch of retired ids
    * (the md5 ':del' 1/16 draw) broadcast-anti-joins the touched
    * cells' stored rows and the SURVIVORS rewrite exactly those ≤ K
    * cells (`Sink.write` dynamic partition overwrite; the merged
    * survivor frame is checkpointed BEFORE the write). A cell whose
    * membership drops to zero cannot be rewritten by a dynamic
    * overwrite (no rows carry its key), so its partition directory is
    * dropped explicitly — a bounded ≤ K-entry driver-side metadata
    * operation, the parquet analogue of a partition DROP. Probe =
    * s15's pruned probe over the post-delete store. Re-deleting the
    * same batch is a no-op (the anti-join finds nothing to remove).
    * At 100 TB a retirement batch costs one broadcast anti-join over
    * the touched cells + a ≤ K-cell rewrite — never a corpus pass. */
  private def kmeansDeleteQuery(s: SparkSession, dir: String): DataFrame = {
    lazy val fxAll = graft.ops.Subplan.once(embFx(s, dir))
    val cents = graft.sources.SessionStore.storedOrBuild(
      s, "s24_cents", dir, Seq("cid")) { kmeansCentroids(fxAll) }
    val postPath = graft.sources.SessionStore.pathOrBuild(
      s, "s24_postings", dir, Seq("vec_id"), Seq("cid")) {
      kmAssign(fxAll, cents).select(col("vec_id"), col("v"), col("cid"))
    }
    deleteFromStore(s, postPath,
      emb(s, dir).filter(annDelVec).select(col("vec_id")))
    val q = probeQueries(s, dir)
    kmProbedTop5(s.read.parquet(postPath), kmProbeCells(q, cents))
  }

  /** The s25 body — DELETIONS from the landed COMPRESSED index: the
    * SAME retirement mechanics as s24 ([[deleteFromStore]] is the one
    * definition) applied to s21's cell-partitioned code store,
    * closing CRUD on both landed forms (trained: build s13 / land
    * s15 / insert s18 / delete s24; compressed: land s21 / insert
    * s22 / delete s25). Both quantizers were trained on the full
    * pre-deletion corpus and never retrain; the probe is s21's pruned
    * ADC probe over the post-delete store. Removing a candidate
    * leaves every other candidate's ADC score unchanged (scores are
    * per-row table lookups), so the oracle is the full chain with
    * deleted candidates excluded before the rank. */
  private def ivfadcDeleteQuery(s: SparkSession, dir: String): DataFrame = {
    lazy val fxAll = graft.ops.Subplan.once(embFx(s, dir))
    val cents = graft.sources.SessionStore.storedOrBuild(
      s, "s25_kmc", dir, Seq("cid")) { kmeansCentroids(fxAll) }
    lazy val rfxs = graft.ops.Subplan.once(residFrame(fxAll, cents))
    val pqc = graft.sources.SessionStore.storedOrBuild(
      s, "s25_pqc", dir, Seq("sub", "cid")) {
      pqCodebooks(rfxs.select(col("vec_id"), col("subs")))
    }
    val codesPath = graft.sources.SessionStore.pathOrBuild(
      s, "s25_codes", dir, Seq("vec_id"), Seq("cid")) {
      pqEncode(rfxs, pqc).select(col("vec_id"), col("cid"), col("codes"))
    }
    deleteFromStore(s, codesPath,
      emb(s, dir).filter(annDelVec).select(col("vec_id")))
    val q = probeQueries(s, dir)
    pqAdcTop5(adcScored(s.read.parquet(codesPath), q, cents, pqc))
  }

  /** The s19/s20 sampled-training draw — t08's md5 discipline applied
    * to quantizer TRAINING: Lloyd/PQ see only the deterministic 1/8
    * sample (production IVF/PQ trains on ~10⁶ vectors however big the
    * corpus — the training scans decouple from corpus size), the
    * assignment pass covers everything. ONE definition with
    * [[trainSampleSqlPred]]. */
  private[graft] def trainSampleVec: Column =
    conv(substring(md5(concat(col("vec_id").cast("string"), lit(":tr"))),
      1, 8), 16, 10).cast("long") % 8 === 0

  private val trainSampleSqlPred =
    "('0x' || substr(md5(vec_id || ':tr'), 1, 8))::BIGINT % 8 = 0"

  /** The s18 body — incremental maintenance of the LANDED trained
    * index (t21's delta discipline applied to s15; the reference's
    * append-upsert sink contract, cassandra.py:45-63): the stored
    * model (centroids trained on the pre-batch corpus) and the
    * cell-partitioned postings live in tables; a new batch of vectors
    * is assigned against the STORED centroids — one [[kmAssign]]
    * broadcast map over the batch only, IVF inserts never retrain —
    * and upserted into the postings store as whole key-groups
    * ([[graft.sources.Sink.write]] dynamic partition overwrite
    * rewrites exactly the ≤ K cells the batch lands in; untouched
    * cells' files are not even opened). The probe then reads the
    * upserted store under s15's dynamic partition pruning. Because
    * [[kmAssign]] is THE one assignment definition, stored ∪ upserted
    * ≡ assigning the full corpus with these centroids — which is what
    * the oracle states (ExtSpec pins the identity in-engine;
    * idempotence too: re-upserting the same batch rewrites the same
    * rows). Repeat invocations — the bench's best-of — pay the
    * per-batch delta: batch assign + ≤ K-partition rewrite + probe. */
  /** THE upserted-postings store build — s18's store mutation moves
    * (pre-batch train + posting land, batch assign against the STORED
    * model, touched-cell dynamic partition overwrite, pk-dedup
    * idempotence) under a caller-chosen namespace, returning (stored
    * centroids, posting path). ONE definition for s18 (probe tail)
    * and s30 (drift tail) — the diagnostics measure exactly the store
    * the probe serves; each caller owns its namespace so repeat
    * queries in one JVM stay idempotent (the s18/s22 rule).
    * ExtSpec "s18 upserted landed index: probe ≡ full assignment with
    * the stored model …" pins the probe identity and the re-upsert no-
    * op. */
  private def upsertedPostings(s: SparkSession, dir: String,
      ns: String): (DataFrame, String) = {
    // Only the store builds read the whole corpus (the s15 fxOf
    // pattern): a warm call never forces this checkpoint.
    lazy val fxAll = graft.ops.Subplan.once(embFx(s, dir))
    val cents = graft.sources.SessionStore.storedOrBuild(
      s, s"${ns}_cents", dir, Seq("cid")) {
      kmeansCentroids(fxAll.filter(!annBatchVec))
    }
    val postPath = graft.sources.SessionStore.pathOrBuild(
      s, s"${ns}_postings", dir, Seq("vec_id"), Seq("cid")) {
      kmAssign(fxAll.filter(!annBatchVec), cents)
        .select(col("vec_id"), col("v"), col("cid"))
    }
    // The delta: assign ONLY the batch against the stored model.
    val batchAsg = graft.ops.Subplan.once(
      kmAssign(embFx(s, dir).filter(annBatchVec), cents)
        .select(col("vec_id"), col("v"), col("cid")))
    // Whole-key-group upsert: the touched cells' merged content is
    // (stored rows of those cells) ∪ (batch rows), read straight from
    // the store: the dynamic partition overwrite replaces those files
    // only at job commit, after its tasks have read them. Batch and
    // stored ids are disjoint by the draw; the pk dedup makes a
    // repeated upsert of the same batch idempotent.
    val stored = s.read.parquet(postPath)
    val touched = broadcast(batchAsg.select(col("cid")).distinct())
    val merged =
      stored.join(touched, Seq("cid"), "left_semi").unionByName(batchAsg)
    graft.sources.Sink.write(merged, postPath, Seq("vec_id"), Seq("cid"))
    (cents, postPath)
  }

  private def kmeansUpsertQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, postPath) = upsertedPostings(s, dir, "s18")
    val q = probeQueries(s, dir)
    kmProbedTop5(s.read.parquet(postPath), kmProbeCells(q, cents))
  }

  /** THE index-drift metric — per-cell occupancy and exact residual
    * energy of a (vec_id, v, cid) posting frame against its centroid
    * set, split into ALL rows vs the BASELINE rows (`basePred` — the
    * content the model was trained on): the signal a production index
    * watches to schedule a rebuild (inserts never retrain, so cell
    * imbalance and residual growth accumulate silently otherwise).
    * One broadcast join (K centroid rows) + one partial agg over the
    * store; sums are exact int64 (2²⁰ fixed point + the native
    * [[graft.functions.SqDistLong]]), the means the ONE final double
    * division (the t22 discipline). ONE definition for the s30 batch
    * query and [[graft.streaming.DocStreams.AnnIndexMaintenance]]'s
    * live metric.
    * StreamingSpec "streaming ANN-index maintenance answers the full-
    * rebuild probe" pins the live metric equal to this batch one. */
  private[graft] def indexDriftStats(post: DataFrame, cents: DataFrame,
      basePred: Column): DataFrame =
    driftAgg(post.join(broadcast(cents), Seq("cid"))
      .select(col("cid"),
        graft.functions.SqDistLong.sqDist(
          fixedPoint(col("v")), col("m")).as("rsq"),
        basePred.as("isb")))

  /** The compressed-index form of the drift metric — the store keeps
    * only 8×4-bit codes, so the per-row energy is the ENCODED
    * residual norm Σ_sub ‖codebook[sub][code]‖² (exact int64: the
    * same [[graft.functions.PqAdcLookup]] table lookup as ADC, with
    * the query table holding squared centroid norms) — growth says
    * the stored codebooks are spending their 4-bit budget far from
    * their training distribution. ONE definition for
    * [[graft.streaming.DocStreams.CompressedAnnIndexMaintenance]]'s
    * live metric and its StreamingSpec batch recompute. */
  private[graft] def codeDriftStats(codes: DataFrame, pqc: DataFrame,
      basePred: Column): DataFrame = {
    val zerosSub = array((0 until PqSubDim).map(_ => lit(0L)): _*)
    val ntab = pqCentTab(pqc).select(col("one"),
      transform(col("ctab"), cl =>
        transform(cl, c => graft.functions.SqDistLong.sqDist(
          c.getField("m"), zerosSub))).as("qt"))
    driftAgg(codes.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(ntab), "one")
      .select(col("cid"),
        graft.functions.PqAdcLookup.pqAdc(col("codes"), col("qt")).as("rsq"),
        basePred.as("isb")))
  }

  /** The shared drift aggregation tail over (cid, rsq, isb) rows. */
  private def driftAgg(scored: DataFrame): DataFrame =
    scored.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_now"),
        sum(when(col("isb"), 1L).otherwise(0L)).as("n_base"),
        sum(col("rsq")).as("rsq_now"),
        sum(when(col("isb"), col("rsq")).otherwise(0L)).as("rsq_base"))
      .select(col("cid"), col("n_now"), col("n_base"),
        col("rsq_now"), col("rsq_base"),
        (col("rsq_now").cast("double") / col("n_now")).as("mean_rsq_now"),
        when(col("n_base") > 0,
          col("rsq_base").cast("double") / col("n_base"))
          .otherwise(lit(null).cast("double")).as("mean_rsq_base"))

  /** The s30 body — drift diagnostics over the UPSERTED landed index
    * (its own store namespace, so the build+upsert is idempotent per
    * JVM and independent of whether s18 ran): the baseline is the
    * training content (NOT the batch draw), so the reported deltas
    * are exactly what the inserts added to each cell. The oracle
    * restates the metric over the s18 oracle chain (train pre-batch,
    * assign everything) — the stored content by construction. */
  private def indexDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, postPath) = upsertedPostings(s, dir, "s30")
    indexDriftStats(s.read.parquet(postPath), cents, !annBatchVec)
  }

  /** The s32 body — INDEX REBUILD, the operator s30's drift signal
    * schedules and the last arc of the index lifecycle (build s13 →
    * land s15 → insert s18 → delete s24 → drift-detect s30 → rebuild
    * s32): the drifted store (the upserted postings — pre-batch
    * model, pre-batch + batch content) is read back, the quantizer
    * RETRAINS on the stored content, every stored vector re-assigns
    * against the new model, and the result lands as a NEW GENERATION
    * store (the production swap: build alongside, cut over — never an
    * in-place overwrite, which could leave stale rows in cells the
    * new model empties). Because the stored content IS the full
    * corpus and exact-integer Lloyd is row-order-free, the rebuilt
    * index ≡ s13's full-corpus index — which is what the oracle
    * states (the s12/s15 rule: store generations are not
    * oracle-visible) and ExtSpec pins row-for-row. At 100 TB a
    * rebuild costs what the original build cost (rounds × corpus, or
    * × sample with s19's trainFilter) and runs offline beside the
    * serving generation; the probe reads only the new generation's
    * probed cells under dynamic partition pruning. */
  private def indexRebuildQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, post) = rebuiltGeneration(s, dir, "s32")
    val q = probeQueries(s, dir)
    kmProbedTop5(post, kmProbeCells(q, cents))
  }

  /** THE generation rebuild shared by s32 and s45 — (new centroids,
    * new postings) in the `<ns>r_*` stores, retrained on the drifted
    * `<ns>_*` store. The drifted store is reached only from inside
    * the two builds, so a repeat call (new generation landed) probes
    * it and never re-runs the upsert fold. */
  private def rebuiltGeneration(s: SparkSession, dir: String,
      ns: String): (DataFrame, DataFrame) = {
    lazy val stored = {
      val (_, postPath) = upsertedPostings(s, dir, ns)
      graft.ops.Subplan.once(s.read.parquet(postPath)
        .select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x")))
    }
    val cents = graft.sources.SessionStore.storedOrBuild(
      s, s"${ns}r_cents", dir, Seq("cid")) { kmeansCentroids(stored) }
    val post = graft.sources.SessionStore.storedOrBuild(
      s, s"${ns}r_postings", dir, Seq("vec_id"), Seq("cid")) {
      kmAssign(stored, cents).select(col("vec_id"), col("v"), col("cid"))
    }
    (cents, post)
  }

  /** The s45 body — s32's rebuild with the CUT-OVER completed: after
    * the new generation (s45r_*) is landed and referenced, the
    * superseded drifted generation (s45's own namespaces — the
    * mutating-query rule) is RETIRED via
    * [[graft.sources.SessionStore.retire]]. Sequencing is ordinary
    * statement order because the store builds are eager (first access
    * lands via Sink.write); the retire never races the answer because
    * the answer reads only the NEW generation. A repeat call finds the
    * new generation landed, never rebuilds the drifted one, and its
    * retires are no-ops. ExtSpec pins: answer ≡ the registered s32
    * rebuild row-for-row, the superseded directory gone from disk,
    * the new generation's directory alive, and a repeat invocation
    * reaching the same answer. */
  private def indexRebuildRetireQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, post) = rebuiltGeneration(s, dir, "s45")
    graft.sources.SessionStore.retire(s, "s45_postings", dir)
    graft.sources.SessionStore.retire(s, "s45_cents", dir)
    val q = probeQueries(s, dir)
    kmProbedTop5(post, kmProbeCells(q, cents))
  }

  // ---------------------------------------------------------------
  // s14: product quantization + asymmetric-distance (ADC) top-k —
  // the memory-bound ANN path taken to its limit. s06/s07 shrink the
  // resident corpus 4× (int8 codes); PQ shrinks it 32×: each 64-d
  // vector becomes 8 four-bit codes (one per 8-dim SUBSPACE, 16
  // learned centroids each — Jégou/Douze/Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011), and a
  // query scores a candidate WITHOUT reconstructing it: ADC = the sum
  // of 8 precomputed query-to-centroid subdistances looked up by the
  // candidate's codes. The codebooks are trained by the SAME
  // exact-integer Lloyd machinery as s13 — grouped by subspace — so
  // training, codes, lookup tables, and the final ranks all
  // hash-match the unrolled DuckDB restatement.
  //
  // The corpus frame stays ONE ROW PER VECTOR throughout: subvectors
  // are an array-of-arrays column, all 8 codes compute in a single
  // projection (a fold nested in zip_with), and the only long-form
  // explode feeds the partial-aggregated Lloyd update directly. The
  // first cut kept an exploded (vector, subspace) frame through every
  // join and paid interpreted-projection row overhead 8× — a measured
  // 6.4× wall ratio on the 4× sf1 soak; this shape is ~corpus-linear.
  // Encoding is therefore MAP-ONLY — the corpus never shuffles at
  // all, training or encoding (the update exchange carries ≤ 128
  // partial-agged rows per task).
  // ---------------------------------------------------------------

  /** PQ knobs: 8 subspaces × 8 dims, 16 centroids per subspace
    * (codes = 8 × 4 bits = 64 bits/vector), 2 Lloyd rounds. */
  private val PqSubs = 8
  private val PqSubDim = 8
  private[graft] val PqK = 16
  private[graft] val PqIters = 2

  /** The subspace view of a fixed-point lattice column: [PqSubs]
    * arrays of [PqSubDim] coordinates, one column — no row
    * explosion. */
  private def pqSubArrOf(x: Column): Column =
    array((0 until PqSubs).map(s =>
      slice(x, s * PqSubDim + 1, PqSubDim)): _*)

  private def pqSubArr: Column = pqSubArrOf(col("x"))

  /** Residual subvectors x−m, sliced per subspace BEFORE subtracting —
    * each slice is computed once (a full-residual intermediate column
    * would be inlined by project collapse into every slice, re-running
    * the 64-element zip 8× per row — the quantize() lesson). Exact
    * int64. */
  private def residSubArr(x: Column, m: Column): Column =
    array((0 until PqSubs).map(s =>
      zip_with(slice(x, s * PqSubDim + 1, PqSubDim),
        slice(m, s * PqSubDim + 1, PqSubDim), (a, b) => a - b)): _*)

  /** The whole codebook as ONE broadcast row: ctab[sub][cid] = the
    * centroid lattice point — sub-sorted outer, cid-sorted inner, so
    * positional indexing IS (sub, cid) lookup. */
  private def pqCentTab(cents: DataFrame): DataFrame =
    cents.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cid"), col("m")))).as("cents"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cents")))),
        t => t.getField("cents")).as("ctab"))
      .withColumn("one", graft.ops.ConstKey.one(size(col("ctab"))))

  /** THE encoder: every subspace's nearest-centroid code (ties →
    * lowest cid) in one projection — [[kmAssign]]'s least() argmin
    * fold, nested inside a zip of (subvectors, codebook). Pure map;
    * shared by the training rounds, the index build, and (with the
    * fold swapped for a distance transform) the query tables, so
    * learn and apply cannot disagree. */
  private[graft] def pqEncode(fxs: DataFrame, cents: DataFrame): DataFrame =
    fxs.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(pqCentTab(cents)), "one")
      .select(fxs.columns.toIndexedSeq.map(col) :+
        zip_with(col("subs"), col("ctab"), (xs, cl) =>
          graft.functions.NearestId.nearest(xs, cl)).as("codes"): _*)

  /** Grouped Lloyd update over (sub, cid) — the s13 exact-integer
    * update with the subspace in the key (and [[PqSubDim]] sums per
    * group); empty cells keep their previous centroid. The explode to
    * (sub, cid, xs) rows exists ONLY here, feeding the partial agg
    * directly (generator → hash-agg, no joins on the long form). */
  private[graft] def pqUpdate(assigned: DataFrame, prev: DataFrame): DataFrame = {
    val long = assigned
      .select(col("vec_id"), posexplode(arrays_zip(col("codes"), col("subs"))))
      .select(col("pos").cast("int").as("sub"),
        col("col.codes").as("cid"), col("col.subs").as("xs"))
    // Stays on the per-coordinate column sums (NOT kmUpdate's
    // vec_sum): the tree is only PqSubDim=8 wide, and this agg's 128
    // (sub, cid) groups sit exactly at ObjectHashAggregate's
    // sort-based fallback threshold — the codegen'd HashAggregate
    // form has no such cliff (round-17 audit).
    val sums = long.groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("cnt"),
        (1 to PqSubDim).map(i => sum(element_at(col("xs"), i)).as(s"s$i")): _*)
    val mNew = sums.select(col("sub"), col("cid"),
      array((1 to PqSubDim).map(i =>
        expr(s"((s$i + $KmShift * cnt) div cnt) - $KmShift")): _*).as("mn"))
    prev.select(col("sub"), col("cid"), col("m").as("pm"))
      .join(mNew, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"), coalesce(col("mn"), col("pm")).as("m"))
  }

  /** PQ codebook training: [[lloydSeeds]] at [[PqK]] (the same seed
    * vectors serve every subspace) + [[PqIters]] grouped exact Lloyd
    * rounds, each checkpointing its input as [[kmeansCentroids]]
    * does.
    * ExtSpec "s14 product quantization: a JVM grouped-Lloyd replay …"
    * and "s16 IVFADC: a JVM replay of the full composition …" pin the
    * codebooks bit for bit. */
  private[graft] def pqCodebooks(fxs: DataFrame): DataFrame = {
    var cents = lloydSeeds(fxs, PqK)
      .select(col("cid"), posexplode(col("subs")))
      .select(col("pos").cast("int").as("sub"), col("cid"),
        col("col").as("m"))
    for (_ <- 1 to PqIters) {
      val prev = graft.ops.Subplan.once(cents)
      cents = pqUpdate(pqEncode(fxs, prev), prev)
    }
    cents
  }

  /** The registered s14 body: train codebooks, encode the corpus
    * (map-only — in deployment the 8-byte codes are the stored
    * table), build each query's [PqSubs][PqK] integer lookup table
    * (one projection on 10 rows), and score by ADC as a pure map
    * (code array zipped against the broadcast table — exact int64
    * sums), bounded-heap top-5 ascending. */
  private def pqAdcQuery(s: SparkSession, dir: String): DataFrame = {
    val fxs = graft.ops.Subplan.once(
      emb(s, dir).select(col("vec_id"), fixedPoint(col("v")).as("x"))
        .select(col("vec_id"), pqSubArr.as("subs")))
    val cents = graft.ops.Subplan.once(pqCodebooks(fxs))
    val codes = pqEncode(fxs, cents).select(col("vec_id"), col("codes"))
    // Query-side subdistance tables: the codebook row is cid-sorted
    // per sub, so a distance transform indexes dists by cid.
    val qtab = fxs.filter(col("vec_id") < 10)
      .withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(pqCentTab(cents)), "one")
      .select(col("vec_id").as("qid"),
        zip_with(col("subs"), col("ctab"), (xs, cl) =>
          transform(cl, c => kmDist(xs, c.getField("m")))).as("qt"))
      .withColumn("one", graft.ops.ConstKey.one(col("qid")))
    val scored = codes.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(qtab), "one")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"), pqAdcCol.as("adc"))
    pqAdcTop5(scored)
  }

  /** The ADC sum: candidate `codes` looked up in the query's `qt`
    * table, folded exactly in int64 — one statement for s14 and s16
    * (the native pq_adc expression; see PqAdcLookup for fold
    * equivalence). */
  private def pqAdcCol: Column =
    graft.functions.PqAdcLookup.pqAdc(col("codes"), col("qt"))

  /** Ascending exact-integer top-5 by (adc, nn_id) — the shared s14/
    * s16 tail (bounded-heap partial agg, the s07 discipline). */
  private[graft] def pqAdcTop5(scored: DataFrame): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("adc")).as("na"), (-col("nn_id")).as("ni"),
          col("nn_id"), col("adc")), 5).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.nn_id").as("nn_id"),
        col("col.adc").as("adc"), (col("pos") + 1).cast("int").as("rk"))

  /** The s16 body — IVFADC, the canonical pairing (Jégou et al. 2011
    * §IV): the s13 coarse quantizer partitions the corpus into cells,
    * s14's PQ machinery trains on the RESIDUALS x − m(cell) (residuals
    * concentrate near 0, so the same 4-bit budget quantizes them far
    * more finely than raw coordinates), and a query probes its 2
    * nearest cells scoring ONLY their members by residual-ADC — the
    * candidate restriction (IVF) and the compressed scoring (ADC) in
    * one index, each half reusing its family's ONE definition
    * (kmeansCentroids/kmAssign/kmProbeCells; pqCodebooks/pqEncode/
    * pqAdcCol). Per-cell query tables: the query's residual differs
    * per probed cell, so the broadcast carries ≤ 2 tables per query.
    * Everything is the established exact-integer arithmetic — the
    * unrolled oracle hash-checks the full composition. */
  private def ivfadcQuery(s: SparkSession, dir: String): DataFrame =
    pqAdcTop5(ivfadcScored(s, dir))

  /** The ADC-scored candidate frame (qid, nn_id, adc) of the
    * registered 10-query probe — the shared front of s16 (which tops
    * it by ADC directly), s17 (which reranks its ADC top-[[RerankR]]
    * by exact cosine) and s20 (which trains both quantizers on the
    * `trainFilter` sample only), so the variants can only differ by
    * their ranking tail / training source. */
  private[graft] def ivfadcScored(s: SparkSession, dir: String,
      trainFilter: Option[Column] = None): DataFrame = {
    val fx = graft.ops.Subplan.once(embFx(s, dir))
    val (cents, pqc, codes) = ivfadcModel(fx, trainFilter)
    adcScored(codes, fx.filter(col("vec_id") < 10), cents, pqc)
  }

  /** The in-lineage IVFADC model over a fixed-point corpus `fx`:
    * coarse centroids and residual codebooks, both trained on `fx`
    * restricted to `trainFilter`, and the (vec_id, cid, codes) of all
    * of `fx`. ONE front for [[ivfadcScored]] and the every-vector
    * twin [[ivfadcRerankNn1]]. */
  private[graft] def ivfadcModel(fx: DataFrame,
      trainFilter: Option[Column] = None): (DataFrame, DataFrame, DataFrame) = {
    val trainOf: DataFrame => DataFrame =
      df => trainFilter.map(df.filter).getOrElse(df)
    val cents = graft.ops.Subplan.once(kmeansCentroids(trainOf(fx)))
    val rfxs = graft.ops.Subplan.once(residFrame(fx, cents))
    val pqc = graft.ops.Subplan.once(
      pqCodebooks(trainOf(rfxs).select(col("vec_id"), col("subs"))))
    (cents, pqc,
      pqEncode(rfxs, pqc).select(col("vec_id"), col("cid"), col("codes")))
  }

  /** Rerank depth: ADC candidates kept per query for the exact
    * rescore. The knob trades one more scan-side fetch of R raw
    * vectors per query against ADC's quantization-limited top-1 (the
    * s16 recall table: ADC top-1 0.03–0.07 on near-tie natural
    * corpora) — R deep enough that the true neighbor, which ADC
    * ranks NEAR the top but not AT it, survives into the exact
    * stage. 200 restores the sf0.1 natural-corpus recall@1 to the
    * probed-cells exact bound itself (0.502 vs 0.509; PLANS.md's
    * round-12 rerank soak has the shallower points: 20 → 0.32,
    * 60 → 0.44) while the exact-arithmetic work stays R·|Q|,
    * corpus-independent. */
  private[graft] val RerankR = 200

  /** The s17 body — IVFADC-as-candidate-ranker, the deployment shape
    * the s16 recall table prescribes (Jégou et al. 2011 §V.C: ADC
    * shortlist + exact reranking): keep each query's [[RerankR]] best
    * candidates BY ADC (bounded-heap partial agg over the compressed
    * scores — the corpus-sized work stays in the 32×-compressed
    * domain), then fetch ONLY those R raw vectors (a broadcast
    * semi-restricted scan — the reference's keyed-read shape,
    * chip.py:39-51) and rank them by exact cosine. The expensive
    * full-precision arithmetic touches R·|Q| rows, never the corpus. */
  private def ivfadcRerankQuery(s: SparkSession, dir: String): DataFrame =
    exactRerankTail(s, dir, ivfadcScored(s, dir))

  /** THE exact-rerank tail — each query's ADC top-[[RerankR]] (the
    * (adc, nn_id) tie-break [[pqAdcTop5]] states) kept by bounded-heap
    * partial agg, then ONLY those R·|Q| raw vectors fetched from the
    * embeddings table (broadcast-restricted scan — the reference's
    * keyed-read shape, chip.py:39-51) and ranked by exact cosine.
    * ONE definition for s17 (candidates from the in-lineage
    * [[ivfadcScored]]), s28 (candidates from the stored s21 probe)
    * and s42 (the compressed family's recall probe — the SAME tail
    * over the ':rq' draw via `qFilter`), so the deployment read path,
    * the in-lineage form and the monitor can only differ by where
    * their ADC candidates came from — never by the rerank itself.
    * `scored` carries (qid, nn_id, adc). */
  private[graft] def exactRerankTail(s: SparkSession, dir: String,
      scored: DataFrame,
      qFilter: Column = col("vec_id") < 10): DataFrame =
    exactRerankTailOver(emb(s, dir), scored, qFilter)

  /** The rerank tail over a FRAME corpus — the one s17/s28/s42 tail
    * body, exposed at frame level so the compressed twin's live
    * recall monitor (which holds codes, not raw vectors — the
    * caller supplies the lake frame) rides the same statement. */
  private[graft] def exactRerankTailOver(e: DataFrame,
      scored: DataFrame, qFilter: Column): DataFrame = {
    val cand = scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("adc")).as("na"), (-col("nn_id")).as("ni"),
          col("nn_id")), RerankR).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nn_id").as("nn_id"))
    val q = e.filter(qFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val rescored = e.join(broadcast(cand), e("vec_id") === cand("nn_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nn_id"), cosine(col("qv"), col("v")).as("cos_sim"))
    topK(rescored, col("qid"), 5)
  }

  /** The s28 body — THE production vector-store read path, end to
    * end: probe the LANDED compressed index (s21's store — coarse
    * centroids, residual codebooks, cell-partitioned codes; the scan
    * dynamic-partition-prunes to the ≤ 2·|Q| probed cells), shortlist
    * each query's [[RerankR]] best by ADC in the 32×-compressed
    * domain, then fetch only those R raw vectors and rerank by exact
    * cosine ([[exactRerankTail]] — s17's tail verbatim). s17 proves
    * the composition's recall; s21 proves the resident table; s28 is
    * what a deployed store actually answers per query: resident-index
    * probe + corpus-independent full-precision work, the corpus
    * itself touched only for R·|Q| keyed rows. First access per JVM
    * pays the deterministic store build once (s21's honest price);
    * repeats pay pruned probe + ADC rank + R-row fetch. Answer ≡ s17
    * because the stored build is the in-lineage build (exact-integer
    * determinism) — one oracle states both; storage topology is
    * PlanSpec's to pin, not the oracle's. */
  private def ivfadcStoredRerankQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, pqc, codes) = s21Store(s, dir)
    val q = probeQueries(s, dir)
    exactRerankTail(s, dir, adcScored(codes, q, cents, pqc))
  }

  /** The s21 body — the IVFADC index in its DEPLOYMENT shape, the
    * s15 discipline applied to the compressed index (completing the
    * symmetry: s12 lands the grid IVF, s15 lands the trained k-means
    * IVF, s21 lands IVFADC): all three halves of the model state are
    * stored tables — the coarse centroids (K rows), the residual PQ
    * codebooks ([[PqSubs]]·[[PqK]] rows), and the 8×4-bit codes
    * cell-partitioned by cid. This is THE table a production vector
    * store keeps resident: 32× smaller than raw vectors, and the
    * probe reads only the ≤ 2·|Q| probed cells' partitions under
    * dynamic partition pruning (s15's plan pin applies) — at 100 TB
    * the per-query scan is (compressed corpus)/K × nprobe, never the
    * corpus. First access per JVM pays the two-quantizer training
    * build ONCE (s16 re-trains per invocation — the honest price of
    * its in-lineage form); repeats pay table probe + ADC rank only.
    * Every stage is the established exact-integer arithmetic, so the
    * stored build is deterministic and the answer ≡ s16 — one oracle
    * states both (the s12/s15 discipline: storage topology is not
    * oracle-visible). */
  private def ivfadcStoredQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, pqc, codes) = s21Store(s, dir)
    val q = probeQueries(s, dir)
    pqAdcTop5(adcScored(codes, q, cents, pqc))
  }

  /** THE landed compressed-index store — s21's (centroids, residual
    * codebooks, cell-partitioned codes) triple, shared by s21 (the
    * unfiltered ADC probe) and s26 (the label-filtered probe): one
    * compressed index, query-time predicates, exactly the [[s15Store]]
    * discipline. Code rows carry (vec_id, label, cid, codes) — s21's
    * probe column-prunes the label away. lazy + once: the build path
    * evaluates the corpus frames at most once across the three
    * storedOrBuild blocks; when all three tables are already landed,
    * nothing here runs (the s15 fxOf lesson).
    * Readers: s21, s26, s28 and s42. A stored-schema change reaches all
    * four; each one's oracle in tools/check.py fails on a reader it
    * breaks. */
  private[graft] def s21Store(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    lazy val fxOf = graft.ops.Subplan.once(
      emb(s, dir).select(col("vec_id"), col("label"), col("v"),
        fixedPoint(col("v")).as("x")))
    val cents = graft.sources.SessionStore.storedOrBuild(
      s, "s21_kmc", dir, Seq("cid")) { kmeansCentroids(fxOf) }
    lazy val rfxsOf = graft.ops.Subplan.once(residFrame(fxOf, cents))
    val pqc = graft.sources.SessionStore.storedOrBuild(
      s, "s21_pqc", dir, Seq("sub", "cid")) {
      pqCodebooks(rfxsOf.select(col("vec_id"), col("subs")))
    }
    val codes = graft.sources.SessionStore.storedOrBuild(
      s, "s21_codes", dir, Seq("vec_id"), Seq("cid")) {
      pqEncode(rfxsOf, pqc)
        .select(col("vec_id"), col("label"), col("cid"), col("codes"))
    }
    (cents, pqc, codes)
  }

  /** The s26 body — FILTERED ANN over the COMPRESSED index: s23's
    * query-time-predicate discipline applied to s21's store (the
    * filter symmetry: the trained index serves s15 unfiltered and
    * s23 filtered; the compressed index serves s21 unfiltered and
    * s26 filtered — no second index either way). The label rides the
    * code rows; the probe joins on (cid, label), so wrong-label
    * candidates drop at the broadcast hash join before any ADC table
    * lookup, and the scan still partition-prunes to the probed
    * cells. The deployment shape of every metadata-filtered vector
    * store over PQ codes. Same post-filter semantics caveat as s23. */
  private def ivfadcFilteredQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, pqc, codes) = s21Store(s, dir)
    val q = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("label"), col("v"),
        fixedPoint(col("v")).as("x"))
    pqAdcTop5(adcScored(codes, q, cents, pqc, Seq("label")))
  }

  /** The s22 body — incremental maintenance of the LANDED COMPRESSED
    * index (s18's delta discipline applied to s21; the reference's
    * append-upsert sink contract, cassandra.py:45-63): the stored
    * model — centroids AND residual codebooks, both trained on the
    * pre-batch corpus (inserts never retrain either quantizer) — and
    * the cell-partitioned 8×4-bit codes live in tables; a new batch
    * of vectors is assigned against the stored centroids and encoded
    * against the stored codebooks (one [[kmAssign]] + [[pqEncode]]
    * broadcast map over the batch only) and upserted into the code
    * store as whole key-groups ([[graft.sources.Sink.write]] dynamic
    * partition overwrite rewrites exactly the ≤ K cells the batch
    * lands in, at job commit, after its tasks have read the stored
    * rows they merge; the pk dedup makes a repeated upsert
    * idempotent). The probe is s21's: per-cell
    * query ADC tables broadcast onto the partition-pruned code scan.
    * Because kmAssign and pqEncode are THE one assignment/encoding
    * definitions, stored ∪ upserted ≡ encoding the full corpus with
    * the stored model — which is what the oracle states (train on
    * `NOT batch`, encode everything) and ExtSpec pins in-engine
    * against `ivfadcScored(trainFilter = !batch)`. Repeat
    * invocations — the bench's best-of — pay the per-batch delta:
    * batch assign+encode + ≤ K-partition rewrite + pruned probe. */
  private def ivfadcUpsertQuery(s: SparkSession, dir: String): DataFrame = {
    // Forced by the store builds only (the s15 fxOf pattern).
    lazy val fxAll = graft.ops.Subplan.once(embFx(s, dir))
    val cents = graft.sources.SessionStore.storedOrBuild(
      s, "s22_kmc", dir, Seq("cid")) { kmeansCentroids(fxAll.filter(!annBatchVec)) }
    // Pre-batch residual subvectors feed BOTH build blocks; lazy +
    // once so the two storedOrBuild builds share one checkpoint and
    // a fully-stored repeat run never evaluates it (the s15 fxOf
    // lesson).
    lazy val rfxsPre = graft.ops.Subplan.once(
      residFrame(fxAll.filter(!annBatchVec), cents))
    val pqc = graft.sources.SessionStore.storedOrBuild(
      s, "s22_pqc", dir, Seq("sub", "cid")) {
      pqCodebooks(rfxsPre.select(col("vec_id"), col("subs")))
    }
    val codesPath = graft.sources.SessionStore.pathOrBuild(
      s, "s22_codes", dir, Seq("vec_id"), Seq("cid")) {
      pqEncode(rfxsPre, pqc).select(col("vec_id"), col("cid"), col("codes"))
    }
    // The delta: assign + encode ONLY the batch against the stored
    // model (two broadcast maps over the 1/8 draw).
    val batchCodes = graft.ops.Subplan.once(
      pqEncode(residFrame(embFx(s, dir).filter(annBatchVec), cents), pqc)
        .select(col("vec_id"), col("cid"), col("codes")))
    val stored = s.read.parquet(codesPath)
    val touched = broadcast(batchCodes.select(col("cid")).distinct())
    val merged =
      stored.join(touched, Seq("cid"), "left_semi").unionByName(batchCodes)
    graft.sources.Sink.write(merged, codesPath, Seq("vec_id"), Seq("cid"))
    val codes = s.read.parquet(codesPath)
    val q = probeQueries(s, dir)
    pqAdcTop5(adcScored(codes, q, cents, pqc))
  }

  /** THE residual-subvector frame — (vec_id, cid, subs = x − m(cid)
    * sliced per subspace) of a fixed-point corpus frame against a
    * centroid set. ONE definition for the PQ training input, the
    * index build, the s22 batch encode, and the streaming twin's
    * per-trigger encode — so the residuals a codebook was trained on
    * and the residuals a code is computed from can never drift. */
  private[graft] def residFrame(fx: DataFrame, cents: DataFrame): DataFrame = {
    // Metadata columns beyond the (v, x) vector pair ride through
    // (kmAssign's discipline) — s26 carries label into the code store
    // this way.
    val keep = fx.columns.filterNot(Set("v", "x").contains).toIndexedSeq
    kmAssign(fx, cents).join(broadcast(cents), Seq("cid"))
      .select(keep.map(col) :+ col("cid") :+
        residSubArr(col("x"), col("m")).as("subs"): _*)
  }

  /** THE pruned ADC probe front — per-(query, probed-cell) residual
    * ADC tables broadcast onto the (cid-keyed) code frame, scored by
    * table lookup: (qid, nn_id, adc). ONE definition for s16/s17/s20
    * (in-lineage codes), s21/s22 (the stored, partition-pruned
    * codes), and the streaming twin. `qf` carries (vec_id, v, x). */
  private[graft] def adcScored(codes: DataFrame, qf: DataFrame,
      cents: DataFrame, pqc: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame = {
    // extraKeys (s26: label) join the query's metadata onto its ADC
    // tables and become part of the probe join KEY — the s23 filter
    // discipline on the compressed index: wrong-key candidates drop
    // at the broadcast hash join, before any table lookup.
    val base = ivfadcTables(
      kmProbeCells(qf, cents).select(col("qid"), col("cid")), qf, cents, pqc)
    val qtabs = if (extraKeys.isEmpty) base
      else base.join(broadcast(qf.select(
        col("vec_id").as("qid") +: extraKeys.map(col): _*)), Seq("qid"))
    codes.join(broadcast(qtabs), "cid" +: extraKeys)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"), pqAdcCol.as("adc"))
  }

  /** Per-(query, probed-cell) residual ADC tables — the query's
    * residual w.r.t. THAT cell's centroid against the residual
    * codebook. ONE builder for the registered s16 probe (10 queries)
    * and the every-vector recall twin [[ivfadcRerankNn1]]. */
  private def ivfadcTables(pcells: DataFrame, fx: DataFrame,
      cents: DataFrame, pqc: DataFrame): DataFrame =
    pcells
      .join(fx.select(col("vec_id").as("qid"), col("x")), Seq("qid"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("qid"), col("cid"), residSubArr(col("x"), col("m")).as("subs"))
      .withColumn("one", graft.ops.ConstKey.one(col("qid")))
      .join(broadcast(pqCentTab(pqc)), "one")
      .select(col("qid"), col("cid"),
        zip_with(col("subs"), col("ctab"), (xs, cl) =>
          transform(cl, c => kmDist(xs, c.getField("m")))).as("qt"))

  /** Every vector's scored candidate set under the s13 probe topology
    * (2 nearest learned cells) — the every-vector twin of the
    * registered query, riding the SAME kmeansCentroids / kmAssign /
    * kmProbeCells, so the measured recall is the recall of the
    * registered index. The probe side is N rows here, so the cell
    * join is a SHUFFLE_HASH on cid, not a broadcast. */
  private[graft] def kmScoredAll(all: DataFrame): DataFrame = {
    val fx = graft.ops.Subplan.once(
      all.select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x")))
    val (cents, post) = kmIvf(fx)
    val probes = kmProbeCells(fx, cents)
    // K is single digits, so a bare cid join has ≤ K non-empty cells
    // and a broadcast conversion would run the whole N²/K-candidate
    // score + partial agg in the checkpoint's ONE partition (a
    // measured single-thread soak stall at sf1). Sub-block the cell:
    // posting side salts by vec_id, probe side explodes to all salts
    // — the s03 block-grid shape per cell, K × blocks join cells.
    val blocks = 32
    val salted = post.withColumn("blk",
      pmod(col("vec_id"), lit(blocks.toLong)).cast("int"))
    val probesAll = probes.withColumn("blk",
      explode(array((0 until blocks).map(lit): _*)))
    // No shuffle_hash hint: the replicated probe side carries the
    // 64-double query vector, so a per-task hash build at sf1 blows
    // the local JVM's acquire limit — sort-merge spills instead (the
    // inputs are small; only the join OUTPUT is in the hundreds of
    // millions, and that streams).
    salted.join(probesAll, Seq("cid", "blk"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
  }

  private[graft] def kmNn1(all: DataFrame): DataFrame =
    best1(kmScoredAll(all)
      .select(col("qid").as("vec_id"), col("nn_id"), col("cos_sim")))

  /** Every vector's rerank-restored nearest neighbor — the recall
    * twin of s17, riding the registered IVFADC construction end to end
    * (s13's cells, s14's residual codes, s16's ADC tables), then
    * per-query ADC top-[[RerankR]] (bounded heap) and the exact-cosine
    * best over only those R candidates. The measured gap to [[kmNn1]]
    * (the probed-cells exact bound) is exactly what the shortlist depth
    * loses. */
  private[graft] def ivfadcRerankNn1(all: DataFrame,
      r: Int = RerankR): DataFrame = {
    val fx = graft.ops.Subplan.once(
      all.select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x")))
    val (cents, pqc, codes) = ivfadcModel(fx)
    val qtabs = ivfadcTables(
      kmProbeCells(fx, cents).select(col("qid"), col("cid")), fx, cents, pqc)
    // Same cell sub-blocking as kmScoredAll (see there): a bare
    // K-valued cid join would collapse to ≤ K tasks.
    val blocks = 32
    val salted = codes.withColumn("blk",
      pmod(col("vec_id"), lit(blocks.toLong)).cast("int"))
    val qtabsAll = qtabs.withColumn("blk",
      explode(array((0 until blocks).map(lit): _*)))
    val cand = salted.join(qtabsAll, Seq("cid", "blk"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"), pqAdcCol.as("adc"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("adc")).as("na"), (-col("nn_id")).as("ni"),
          col("nn_id")), r).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nn_id").as("nn_id"))
    best1(cand
      .join(all.select(col("vec_id").as("nn_id"), col("v")), Seq("nn_id"))
      .join(all.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .select(col("qid").as("vec_id"), col("nn_id"),
        cosine(col("qv"), col("v")).as("cos_sim")))
  }

  /** The s13 oracle: the exact-integer Lloyd loop unrolled to
    * [[KmIters]] CTE rounds — every arithmetic step (fixed-point
    * floor, int64 squared distance, truncating-division mean with the
    * 2²⁰ non-negative shift, LEFT JOIN + COALESCE empty-cluster rule)
    * restated in the SAME integer semantics the Spark body computes,
    * so centroids, postings, probe cells, and the final top-5 all
    * hash-match. DuckDB `//` truncates toward zero exactly like Spark
    * `div`; the shifted numerator is non-negative, so truncation =
    * floor in both engines. */
  /** The coarse-quantizer CTE chain (e, fx, cent0..cent[[KmIters]],
    * post with the lattice point, pr = each query's 2 probe cells) —
    * ONE statement of the s13 training loop shared by the s13/s15
    * oracle, the s16/s17 IVFADC oracles built on its residuals, and
    * (via `trainPred`) the restricted-training variants: s18 trains
    * on the pre-batch corpus, s19 on the md5 sample. Seeding and the
    * Lloyd rounds run over the training subset; `post` (the index)
    * and `pr` (the probes) always assign over the FULL corpus — the
    * train-then-apply split. */
  private[graft] def kmeansChainCtes: String = kmeansChainCtesOver(None)

  private def kmeansChainCtesOver(trainPred: Option[String],
      probeWhere: String = "s.vec_id < 10"): String =
    kmeansChainCtesFrom(
      "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)",
      "e", trainPred, probeWhere)

  /** The SAME chain over an arbitrary corpus: `head` is the leading
    * CTE block and must define `$eName`(vec_id, v) — d20 trains the
    * coarse quantizer over the planted-twin union ([[twinCorpusCte]])
    * through this one generator, so the twin-corpus Lloyd loop and
    * the raw-corpus one can never state different arithmetic.
    * `probeWhere` names the probe set (default the registered
    * 10-query frame; s41 probes the recall draw instead). */
  private[graft] def kmeansChainCtesFrom(head: String, eName: String,
      trainPred: Option[String],
      probeWhere: String = "s.vec_id < 10",
      kSql: String = KmK.toString): String = {
    val src = if (trainPred.isDefined) "tr" else "fx"
    val trCte = trainPred
      .map(p => s"tr AS (SELECT * FROM fx WHERE $p),\n").getOrElse("")
    val rounds = (1 to KmIters).map { it =>
      val p = it - 1
      s"""asg$it AS (SELECT vec_id, x, cid FROM (
         |  SELECT s.vec_id, s.x, c.cid, ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |    ORDER BY ${sqlDist("s.x", "c.m")}, c.cid) AS rn
         |  FROM $src s, cent$p c) WHERE rn = 1),
         |cent$it AS (SELECT p.cid, COALESCE(n.m, p.m) AS m FROM cent$p p
         |  LEFT JOIN (SELECT cid, list(mi ORDER BY i) AS m FROM (
         |    SELECT cid, u.i,
         |      CAST((SUM(x[u.i]) + $KmShift * COUNT(*)) // COUNT(*) - $KmShift
         |        AS BIGINT) AS mi
         |    FROM asg$it, unnest(generate_series(1, 64)) u(i)
         |    GROUP BY cid, u.i) GROUP BY cid) n
         |  ON n.cid = p.cid)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |fx AS (SELECT vec_id, v,
       |    [CAST(floor(v[i] * 1048576.0) AS BIGINT)
       |     for i in generate_series(1, 64)] AS x
       |  FROM $eName),
       |${trCte}cent0 AS (SELECT CAST(rn - 1 AS INTEGER) AS cid, x AS m FROM (
       |  SELECT x, ROW_NUMBER() OVER (ORDER BY
       |      ('0x' || substr(md5(vec_id || ':seed'), 1, 8))::BIGINT, vec_id) AS rn
       |  FROM $src) WHERE rn <= ($kSql)),
       |$rounds,
       |post AS (SELECT vec_id, x, cid FROM (
       |  SELECT s.vec_id, s.x, c.cid, ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |    ORDER BY ${sqlDist("s.x", "c.m")}, c.cid) AS rn
       |  FROM fx s, cent$KmIters c) WHERE rn = 1),
       |pr AS (SELECT qid, cid FROM (
       |  SELECT s.vec_id AS qid, c.cid, ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |    ORDER BY ${sqlDist("s.x", "c.m")}, c.cid) AS rn
       |  FROM fx s, cent$KmIters c WHERE $probeWhere) WHERE rn <= 2)"""
      .stripMargin
  }

  private def kmeansOracleSql: String = kmeansOracleSqlOver(None)

  private def kmeansOracleSqlOver(trainPred: Option[String]): String =
    s"""WITH ${kmeansChainCtesOver(trainPred)},
       |cand AS (SELECT p.qid, g.vec_id AS nn_id
       |  FROM pr p JOIN post g ON g.cid = p.cid WHERE g.vec_id <> p.qid),
       |scored AS (SELECT c.qid, c.nn_id,
       |    list_dot_product(qe.v, ge.v)
       |      / (sqrt(list_dot_product(qe.v, qe.v))
       |         * sqrt(list_dot_product(ge.v, ge.v))) AS cos_sim
       |  FROM cand c JOIN e qe ON qe.vec_id = c.qid
       |  JOIN e ge ON ge.vec_id = c.nn_id),
       |rnk AS (SELECT qid, nn_id, cos_sim, ROW_NUMBER() OVER
       |    (PARTITION BY qid ORDER BY cos_sim DESC, nn_id ASC) AS rk
       |  FROM scored)
       |SELECT qid, nn_id, cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM rnk WHERE rk <= 5""".stripMargin

  /** The s14 oracle: the grouped exact-integer Lloyd loop unrolled to
    * [[PqIters]] CTE rounds over (sub, cid) keys, then the relational
    * statement of ADC — SUM of the matching (sub, cid) subdistances
    * per (query, candidate), which equals the Spark side's code-array
    * zip-fold because every (vector, sub) has exactly one code and
    * every (query, sub, cid) one table entry. Same integer-semantics
    * contract as [[kmeansOracleSql]]. */
  /** The grouped-Lloyd PQ CTE chain over a subvector CTE
    * `sv`(vec_id, sub, xs): `${pfx}seeds`, `${pfx}cent0..N`, and
    * `${pfx}post`(vec_id, sub, cid) — the final code assignment. ONE
    * generator for the s14 oracle (subvectors of the raw lattice),
    * the s16/s17 oracles (subvectors of the coarse residuals) and the
    * s20 sampled variant: `trainSv`/`seedWhere` restrict the seed
    * draw and the Lloyd rounds to the training subset while
    * `${pfx}post` always encodes all of `sv` — the train-then-apply
    * split. Assumes a `fx`(vec_id, ...) CTE exists for the seed
    * draw. */
  private def pqChainCtes(sv: String, pfx: String,
      trainSv: Option[String] = None,
      seedWhere: Option[String] = None): String = {
    val tr = trainSv.getOrElse(sv)
    val seedsFrom = "fx" + seedWhere.map(p => s" WHERE $p").getOrElse("")
    val rounds = (1 to PqIters).map { it =>
      val p = it - 1
      s"""${pfx}asg$it AS (SELECT vec_id, sub, xs, cid FROM (
         |  SELECT s.vec_id, s.sub, s.xs, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
         |      ORDER BY ${sqlDist("s.xs", "c.m", PqSubDim)}, c.cid) AS rn
         |  FROM $tr s JOIN ${pfx}cent$p c ON c.sub = s.sub) WHERE rn = 1),
         |${pfx}cent$it AS (SELECT p.sub, p.cid, COALESCE(n.m, p.m) AS m
         |  FROM ${pfx}cent$p p
         |  LEFT JOIN (SELECT sub, cid, list(mi ORDER BY i) AS m FROM (
         |    SELECT sub, cid, u.i,
         |      CAST((SUM(xs[u.i]) + $KmShift * COUNT(*)) // COUNT(*) - $KmShift
         |        AS BIGINT) AS mi
         |    FROM ${pfx}asg$it, unnest(generate_series(1, $PqSubDim)) u(i)
         |    GROUP BY sub, cid, u.i) GROUP BY sub, cid) n
         |  ON n.sub = p.sub AND n.cid = p.cid)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}seeds AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS cid FROM (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
       |      ('0x' || substr(md5(vec_id || ':seed'), 1, 8))::BIGINT, vec_id) AS rn
       |  FROM $seedsFrom) WHERE rn <= $PqK),
       |${pfx}cent0 AS (SELECT s.sub, sd.cid, s.xs AS m
       |  FROM $sv s JOIN ${pfx}seeds sd USING (vec_id)),
       |$rounds,
       |${pfx}post AS (SELECT vec_id, sub, cid FROM (
       |  SELECT s.vec_id, s.sub, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
       |      ORDER BY ${sqlDist("s.xs", "c.m", PqSubDim)}, c.cid) AS rn
       |  FROM $sv s JOIN ${pfx}cent$PqIters c ON c.sub = s.sub)
       |  WHERE rn = 1)""".stripMargin
  }

  private def pqAdcOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |fx AS (SELECT vec_id,
       |    [CAST(floor(v[i] * 1048576.0) AS BIGINT)
       |     for i in generate_series(1, 64)] AS x
       |  FROM e),
       |sv AS (SELECT vec_id, u.sub,
       |    x[u.sub * $PqSubDim + 1 : u.sub * $PqSubDim + $PqSubDim] AS xs
       |  FROM fx, unnest(generate_series(0, ${PqSubs - 1})) u(sub)),
       |${pqChainCtes("sv", "q")},
       |qtab AS (SELECT s.vec_id AS qid, s.sub, c.cid,
       |    ${sqlDist("s.xs", "c.m", PqSubDim)} AS d
       |  FROM sv s JOIN qcent$PqIters c ON c.sub = s.sub
       |  WHERE s.vec_id < 10),
       |adc AS (SELECT t.qid, p.vec_id AS nn_id, CAST(SUM(t.d) AS BIGINT) AS adc
       |  FROM qpost p JOIN qtab t ON t.sub = p.sub AND t.cid = p.cid
       |  WHERE p.vec_id <> t.qid
       |  GROUP BY t.qid, p.vec_id),
       |rnk AS (SELECT qid, nn_id, adc, ROW_NUMBER() OVER
       |    (PARTITION BY qid ORDER BY adc ASC, nn_id ASC) AS rk
       |  FROM adc)
       |SELECT qid, nn_id, adc, CAST(rk AS INTEGER) AS rk
       |FROM rnk WHERE rk <= 5""".stripMargin

  /** The s16/s17 shared oracle front — the s13 coarse chain verbatim,
    * residual subvectors off its `post`, the SAME PQ chain generator
    * over them, then ADC restricted to each query's 2 probed cells
    * with the query's PER-CELL residual tables. Ends at the `adc`
    * CTE: s16 ranks it directly, s17 reranks its top-[[RerankR]] —
    * one statement of the candidate scoring for both. */
  private def ivfadcAdcCtes: String = ivfadcAdcCtesOver(None)

  private[graft] def ivfadcAdcCtesOver(trainPred: Option[String],
      probeWhere: String = "s.vec_id < 10"): String = {
    val rtrCte = trainPred
      .map(p => s"rtr AS (SELECT * FROM rsv WHERE $p),\n").getOrElse("")
    s"""${kmeansChainCtesOver(trainPred, probeWhere)},
       |rsv AS (SELECT p.vec_id, u.sub,
       |    [p.x[u.sub * $PqSubDim + i] - c.m[u.sub * $PqSubDim + i]
       |     for i in generate_series(1, $PqSubDim)] AS xs
       |  FROM post p JOIN cent$KmIters c ON c.cid = p.cid,
       |       unnest(generate_series(0, ${PqSubs - 1})) u(sub)),
       |$rtrCte${pqChainCtes("rsv", "r",
          trainPred.map(_ => "rtr"), trainPred)},
       |qres AS (SELECT pr.qid, pr.cid AS ccell, u.sub,
       |    [q.x[u.sub * $PqSubDim + i] - c.m[u.sub * $PqSubDim + i]
       |     for i in generate_series(1, $PqSubDim)] AS xs
       |  FROM pr JOIN fx q ON q.vec_id = pr.qid
       |  JOIN cent$KmIters c ON c.cid = pr.cid,
       |       unnest(generate_series(0, ${PqSubs - 1})) u(sub)),
       |qtab AS (SELECT s.qid, s.ccell, s.sub, c.cid,
       |    ${sqlDist("s.xs", "c.m", PqSubDim)} AS d
       |  FROM qres s JOIN rcent$PqIters c ON c.sub = s.sub),
       |codes AS (SELECT rp.vec_id, g.cid AS ccell, rp.sub, rp.cid
       |  FROM rpost rp JOIN post g ON g.vec_id = rp.vec_id),
       |adc AS (SELECT t.qid, p.vec_id AS nn_id, CAST(SUM(t.d) AS BIGINT) AS adc
       |  FROM codes p JOIN qtab t
       |    ON t.ccell = p.ccell AND t.sub = p.sub AND t.cid = p.cid
       |  WHERE p.vec_id <> t.qid
       |  GROUP BY t.qid, p.vec_id)""".stripMargin
  }

  private def ivfadcOracleSql: String =
    s"""WITH $ivfadcAdcCtes,
       |rnk AS (SELECT qid, nn_id, adc, ROW_NUMBER() OVER
       |    (PARTITION BY qid ORDER BY adc ASC, nn_id ASC) AS rk
       |  FROM adc)
       |SELECT qid, nn_id, adc, CAST(rk AS INTEGER) AS rk
       |FROM rnk WHERE rk <= 5""".stripMargin

  /** The s17 oracle: the SAME adc chain, each query's ADC
    * top-[[RerankR]] (the (adc, nn_id) tie-break pqAdcTop5 states),
    * rescored by exact cosine over the raw vectors. */
  private def ivfadcRerankOracleSql: String =
    s"""WITH $ivfadcAdcCtes,
       |cr AS (SELECT qid, nn_id FROM (
       |  SELECT qid, nn_id, ROW_NUMBER() OVER
       |      (PARTITION BY qid ORDER BY adc ASC, nn_id ASC) AS crk
       |    FROM adc) WHERE crk <= $RerankR),
       |rescored AS (SELECT c.qid, c.nn_id,
       |    list_dot_product(qe.v, ge.v)
       |      / (sqrt(list_dot_product(qe.v, qe.v))
       |         * sqrt(list_dot_product(ge.v, ge.v))) AS cos_sim
       |  FROM cr c JOIN e qe ON qe.vec_id = c.qid
       |  JOIN e ge ON ge.vec_id = c.nn_id),
       |rnk AS (SELECT qid, nn_id, cos_sim, ROW_NUMBER() OVER
       |    (PARTITION BY qid ORDER BY cos_sim DESC, nn_id ASC) AS rk
       |  FROM rescored)
       |SELECT qid, nn_id, cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM rnk WHERE rk <= 5""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVF with a LEARNED coarse quantizer — exact-integer k-means
    // under the FULL cross-engine hash check (see the kmAssign block
    // comment for why determinism holds: fixed-point ⌊v·2²⁰⌋ lattice
    // coordinates, exact int64 distances, truncating-division centroid
    // means). This closes the gap the grid family documents ("the
    // determinism KMeans centroids can never give"): the trained
    // quantizer IS oracle-checkable once Lloyd's iteration is integer.
    // Topology: training = [[KmIters]] broadcast-assign (pure map over
    // the corpus — the corpus never shuffles) + partial-agg update
    // (≤ K rows/task cross the wire) rounds, the spark.ml
    // treeAggregate shape restated as column algebra; index build =
    // one more assign; probe = each query's 2 nearest cells equi-join
    // the cell-keyed postings, exact-cosine bounded-heap top-5 (the
    // s08 probe). K is the scale knob (K ~ √N keeps per-cell postings
    // bounded); the landed/partition-pruned storage form is s12's,
    // unchanged — only the quantizer is learned here.
    "s13_ivf_kmeans" -> ((s, dir) => kmeansIvfQuery(s, dir)),

    // Product quantization + asymmetric-distance top-k — the
    // memory-bound ANN path at its limit: 8 × 4-bit codes per vector
    // (32× smaller than float32 — at 100 TB the difference between an
    // ANN corpus resident in executor memory and one paged off disk),
    // scored WITHOUT reconstruction by summing 8 precomputed
    // query-to-centroid integer subdistances (see the pqEncode block
    // comment; codebooks trained by the s13 exact-integer Lloyd
    // machinery grouped by subspace, so the whole path — training,
    // codes, tables, ranks — hash-matches the unrolled oracle).
    // Topology: the corpus NEVER shuffles — training assigns all 8
    // subspace codes in one projection against a one-row broadcast
    // codebook and exchanges only ≤ 128 partial-agged update rows per
    // task; encoding is the same map (deployment stores the codes);
    // scoring is the s01 ConstKey broadcast of 10 table rows + a
    // map-side zip-fold + bounded-heap top-5. ADC ranks approximate
    // cosine ranks (quantization error) — the oracle checks the SAME
    // quantized semantics exactly, s07's discipline.
    "s14_pq_adc" -> ((s, dir) => pqAdcQuery(s, dir)),

    // The trained k-means IVF probed AGAINST ITS LANDED FORM — s12's
    // deployment discipline applied to the LEARNED quantizer: the
    // centroid table (the model — 8 rows) and the cell-partitioned
    // postings both live in stored tables (SessionStore → Sink.write;
    // the reference stores trained models in tile records the same
    // way), and the probe's 2-cell broadcast becomes a dynamic
    // partition filter on the read-back scan, so a probe reads ~2/8
    // of the index bytes (more centroids → geometrically less; K is
    // the knob). First JVM access pays the training build; repeat
    // invocations pay probe + rank only — the deployed-ANN-service
    // per-query cost. Same answer as s13; one oracle states both.
    "s15_ivf_kmeans_stored" -> ((s, dir) => kmeansStoredQuery(s, dir)),

    // IVFADC — the s13 coarse quantizer and s14's product quantizer
    // composed the canonical way (PQ trained on the COARSE RESIDUALS,
    // probes score only their 2 cells' members by residual table
    // lookup — see the ivfadcQuery Scaladoc). The full trained-index
    // family: s13 learns cells, s14 learns codes, s15 lands the
    // index, s16 composes cells + residual codes; every stage exact
    // integer, every stage one shared definition, the composition
    // hash-checked end-to-end.
    "s16_ivfadc" -> ((s, dir) => ivfadcQuery(s, dir)),

    // IVFADC as a CANDIDATE RANKER + exact rerank — the deployment
    // composition the s16 recall table prescribes (its natural-corpus
    // ADC top-1 is margin-limited at 0.03–0.07; Jégou et al. 2011
    // §V.C pair the shortlist with a full-precision rescore): the
    // whole corpus is scored only in the 32×-compressed ADC domain
    // (s16's machinery verbatim — ivfadcScored is ONE definition for
    // both), each query keeps its RerankR best by ADC (bounded-heap
    // partial agg), and ONLY those R·|Q| raw vectors are fetched
    // (broadcast-restricted scan — the reference's keyed-read shape)
    // and ranked by exact cosine. Recall@1 recovers toward the
    // probed-cells exact bound (the kmScoredAll twin's number) while
    // full-precision work stays R·|Q|, corpus-independent.
    "s17_ivfadc_rerank" -> ((s, dir) => ivfadcRerankQuery(s, dir)),

    // Incremental maintenance of the LANDED trained index — the gap
    // between "an index you can build" and "an index you can keep":
    // new vectors are assigned against the STORED centroids (IVF
    // inserts never retrain — the model is fixed at build time) and
    // upserted into the cell-partitioned postings store as whole
    // key-groups, s15's probe running unchanged against the upserted
    // table. See the kmeansUpsertQuery Scaladoc for the full
    // topology; the oracle trains on the pre-batch corpus and
    // assigns the full one — exactly what stored ∪ upserted equals
    // because kmAssign is the ONE assignment definition.
    "s18_ivf_kmeans_upsert" -> ((s, dir) => kmeansUpsertQuery(s, dir)),

    // SAMPLED quantizer training — the production IVF discipline
    // (train on a bounded sample, assign everything once): s13's
    // probe/rank over centroids whose Lloyd rounds saw only the 1/8
    // md5 draw. At 100 TB the training term drops from
    // rounds × corpus to rounds × sample; recall moves within noise
    // (PLANS.md's s19/s20 sampled-training row records it).
    "s19_ivf_kmeans_sampled" -> ((s, dir) =>
      kmeansIvfQuery(s, dir, Some(trainSampleVec))),

    // Sampled IVFADC — BOTH quantizers (coarse cells and residual
    // codebooks) trained on the same 1/8 draw, encode + probe over
    // the full corpus: s16's machinery with trainFilter threaded
    // through ivfadcScored, so the sampled and full variants share
    // every definition.
    "s20_ivfadc_sampled" -> ((s, dir) =>
      pqAdcTop5(ivfadcScored(s, dir, Some(trainSampleVec)))),

    // The LANDED IVFADC — s15's stored-index discipline applied to
    // the compressed index (s12 lands the grid IVF, s15 the trained
    // k-means IVF, s21 IVFADC): coarse centroids, residual codebooks,
    // and the cell-partitioned 8×4-bit codes all live in tables; the
    // probe reads only the probed cells' partitions under dynamic
    // partition pruning and scores by ADC table lookup. The table a
    // production vector store keeps resident — 32× smaller than raw
    // vectors. Deterministic build ⇒ answer ≡ s16; one oracle states
    // both.
    "s21_ivfadc_stored" -> ((s, dir) => ivfadcStoredQuery(s, dir)),

    // Incremental maintenance of the LANDED COMPRESSED index — s18's
    // upsert discipline applied to s21 (completing the maintenance
    // symmetry exactly as s21 completed the landed one: s18 keeps the
    // trained IVF live, s22 keeps IVFADC live): a new batch of
    // vectors is assigned against the STORED centroids and ENCODED
    // against the STORED residual codebooks — inserts never retrain
    // either quantizer — and the 8×4-bit codes are upserted into the
    // cell-partitioned code store as whole key-groups. The probe is
    // s21's pruned ADC probe over the upserted table. The oracle
    // trains both quantizers on the pre-batch corpus and encodes the
    // full one — exactly what stored ∪ upserted equals because
    // kmAssign and pqEncode are the ONE assignment/encoding
    // definitions.
    "s22_ivfadc_upsert" -> ((s, dir) => ivfadcUpsertQuery(s, dir)),

    // FILTERED ANN — the ann-benchmarks "filtered" track: top-5
    // restricted to candidates sharing the query's label (search
    // within a category/tenant/language). Probes the SAME landed
    // index as s15 — the stored postings carry the label column and
    // the predicate rides the broadcast join KEY (cid, label), so
    // there is no second index and no post-rank filtering: candidates
    // of the wrong label drop at the join, before any cosine
    // arithmetic, and the store scan still partition-prunes to the
    // probed cells.
    "s23_filtered_ann" -> ((s, dir) => kmeansFilteredQuery(s, dir)),

    // DELETIONS from the landed index — the missing quarter of CRUD
    // on the ANN store (build s13, land s15, insert s18, delete s24):
    // a batch of retired vector ids anti-joins the touched cells'
    // stored postings and the survivors rewrite ONLY those cells
    // (dynamic partition overwrite; a cell emptied entirely is
    // dropped as a partition — a bounded metadata operation). The
    // model never retrains on deletes, exactly as it never retrains
    // on inserts. Probe ≡ the full assignment minus the deleted set
    // (ExtSpec), and deleting an already-deleted batch is a no-op.
    "s24_ivf_kmeans_delete" -> ((s, dir) => kmeansDeleteQuery(s, dir)),

    // DELETIONS from the landed COMPRESSED index — s24's retirement
    // batch applied to s21's code store, closing CRUD on BOTH landed
    // forms (trained: s15/s18/s24; compressed: s21/s22/s25). Same
    // md5 ':del' draw, same anti-join + touched-cell rewrite, probe =
    // s21's pruned ADC probe; neither quantizer retrains.
    "s25_ivfadc_delete" -> ((s, dir) => ivfadcDeleteQuery(s, dir)),

    // FILTERED ANN over the COMPRESSED index — s23's query-time
    // predicate on s21's store (the filter symmetry on both landed
    // forms): the label rides the stored code rows, the probe joins
    // on (cid, label), wrong-label candidates drop before any ADC
    // lookup, the scan still partition-prunes. The deployment shape
    // of every metadata-filtered vector store over PQ codes.
    "s26_filtered_ivfadc" -> ((s, dir) => ivfadcFilteredQuery(s, dir)),

    // The DEPLOYMENT read path, end to end — what a production vector
    // store answers per query: probe the LANDED compressed index
    // (s21's resident store, scan pruned to the probed cells'
    // partitions), ADC-shortlist RerankR candidates in the
    // 32×-compressed domain, fetch only those R·|Q| raw vectors and
    // rerank by exact cosine (s17's tail — exactRerankTail is ONE
    // definition for both). s17 proved the composition's recall, s21
    // the resident table; s28 registers their composition, closing
    // the gap between "an index you can keep" and "the query you
    // serve from it". Deterministic build ⇒ answer ≡ s17; one oracle
    // states both.
    "s28_ivfadc_stored_rerank" -> ((s, dir) => ivfadcStoredRerankQuery(s, dir)),

    // INDEX-DRIFT diagnostics — the rebuild-trigger signal s18/s22's
    // never-retrain discipline needs: per-cell occupancy and exact
    // residual energy of the upserted landed index, split ALL vs the
    // TRAINING baseline (the NOT-batch draw), so the reported deltas
    // are exactly what the inserts added to each cell. One broadcast
    // join + one partial agg over the store; exact int64 sums, means
    // as the one final double division. The streaming twins expose
    // the SAME definitions on their maintained state (StreamingSpec
    // pins live ≡ batch).
    "s30_index_drift" -> ((s, dir) => indexDriftQuery(s, dir)),

    // INDEX REBUILD — the operator s30's drift signal schedules,
    // closing the index lifecycle (build → land → insert → delete →
    // drift-detect → rebuild): retrain the quantizer ON THE DRIFTED
    // STORE's content, re-assign every stored vector, land as a NEW
    // generation store (build-alongside-and-swap — never in-place,
    // which could strand stale rows in cells the new model empties),
    // probe the new generation. Stored content = the full corpus and
    // exact-integer Lloyd is row-order-free, so the rebuilt index ≡
    // s13's full-corpus index — one oracle states both.
    "s32_index_rebuild" -> ((s, dir) => indexRebuildQuery(s, dir)),

    // RANGE SEARCH over the landed trained index — the radius query
    // (all vectors with d² ≤ R², FAISS range_search semantics), the
    // third reader of the ONE s15 index: triangle-inequality cell
    // pruning via K-row landed stats, exact int64 verify, oracle =
    // the brute-force statement (completeness checked end to end).
    "s39_range_search" -> ((s, dir) => rangeSearchQuery(s, dir)),

    // REBUILD-THEN-RETIRE — s32's chain COMPLETED with the store-
    // lifecycle verb it was missing: the drifted generation is read
    // back, the new generation trains/lands alongside (the s32
    // build-alongside-and-swap, own s45r_* namespaces), and ONLY THEN
    // the superseded generation's directory is dropped
    // (SessionStore.retire — a bounded driver-side metadata op on one
    // path; without it the store root grows one dead generation per
    // rebuild). Answer = the new generation's pruned probe; rebuild
    // algebra makes it ≡ s13's full-corpus index, so the ONE kmeans
    // oracle states it (no new oracle math). Repeats are idempotent
    // by determinism: the retired generation rebuilds from the live
    // corpus on next access and retires again to the same answer.
    "s45_rebuild_retire" -> ((s, dir) => indexRebuildRetireQuery(s, dir))
  )

  val oracle: Map[String, String] = Map(
    // s39: the BRUTE-FORCE range statement — deliberately not the
    // pruned plan: the exact verify makes the Spark answer
    // independent of the bound, so the naive oracle checks pruning
    // completeness itself (a dropped cell would drop a row and fail
    // the hash).
    "s39_range_search" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |fx AS (SELECT vec_id, v,
         |    [CAST(floor(v[i] * 1048576.0) AS BIGINT)
         |     for i in generate_series(1, 64)] AS x
         |  FROM e),
         |q AS (SELECT vec_id AS qid, x AS qx FROM fx WHERE vec_id < 10),
         |d AS (SELECT q.qid, s.vec_id,
         |    CAST(${sqlDist("q.qx", "s.x")} AS BIGINT) AS d2
         |  FROM q JOIN fx s ON s.vec_id <> q.qid)
         |SELECT qid, vec_id, d2 FROM d WHERE d2 <= $RangeR2""".stripMargin,
    "s13_ivf_kmeans" -> kmeansOracleSql,
    "s14_pq_adc" -> pqAdcOracleSql,
    // s15 lands the SAME trained index s13 derives in-lineage — the
    // storage topology is not oracle-visible (s12's discipline).
    "s15_ivf_kmeans_stored" -> kmeansOracleSql,
    // s23: the SAME trained chain, candidates restricted to the
    // query's label BEFORE ranking (the filter is a candidate
    // predicate, not a post-rank cut — rk counts only same-label
    // candidates, exactly the (cid, label) join key's semantics).
    "s23_filtered_ann" ->
      s"""WITH ${kmeansChainCtesOver(None)},
         |cand AS (SELECT p.qid, g.vec_id AS nn_id
         |  FROM pr p JOIN post g ON g.cid = p.cid
         |  JOIN e qe ON qe.vec_id = p.qid
         |  JOIN e ge ON ge.vec_id = g.vec_id
         |  WHERE g.vec_id <> p.qid AND ge.label = qe.label),
         |scored AS (SELECT c.qid, c.nn_id,
         |    list_dot_product(qe.v, ge.v)
         |      / (sqrt(list_dot_product(qe.v, qe.v))
         |         * sqrt(list_dot_product(ge.v, ge.v))) AS cos_sim
         |  FROM cand c JOIN e qe ON qe.vec_id = c.qid
         |  JOIN e ge ON ge.vec_id = c.nn_id),
         |rnk AS (SELECT qid, nn_id, cos_sim, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM scored)
         |SELECT qid, nn_id, cos_sim, CAST(rk AS INTEGER) AS rk
         |FROM rnk WHERE rk <= 5""".stripMargin,
    // s24: the SAME full-corpus-trained chain, deleted vectors
    // excluded from the CANDIDATES only (the model never retrains on
    // deletes) — what the post-delete store equals.
    "s24_ivf_kmeans_delete" ->
      s"""WITH ${kmeansChainCtesOver(None)},
         |cand AS (SELECT p.qid, g.vec_id AS nn_id
         |  FROM pr p JOIN post g ON g.cid = p.cid
         |  WHERE g.vec_id <> p.qid AND NOT (${annDelSqlPredOn("g.vec_id")})),
         |scored AS (SELECT c.qid, c.nn_id,
         |    list_dot_product(qe.v, ge.v)
         |      / (sqrt(list_dot_product(qe.v, qe.v))
         |         * sqrt(list_dot_product(ge.v, ge.v))) AS cos_sim
         |  FROM cand c JOIN e qe ON qe.vec_id = c.qid
         |  JOIN e ge ON ge.vec_id = c.nn_id),
         |rnk AS (SELECT qid, nn_id, cos_sim, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM scored)
         |SELECT qid, nn_id, cos_sim, CAST(rk AS INTEGER) AS rk
         |FROM rnk WHERE rk <= 5""".stripMargin,
    "s16_ivfadc" -> ivfadcOracleSql,
    "s17_ivfadc_rerank" -> ivfadcRerankOracleSql,
    // Centroids trained on the pre-batch corpus (NOT the batch draw),
    // postings/probes over the full one — the upserted store's
    // content by construction.
    "s18_ivf_kmeans_upsert" ->
      kmeansOracleSqlOver(Some(s"NOT ($annBatchSqlPred)")),
    "s19_ivf_kmeans_sampled" -> kmeansOracleSqlOver(Some(trainSampleSqlPred)),
    // s21 lands the SAME compressed index s16 derives in-lineage —
    // the storage topology is not oracle-visible (s12/s15's
    // discipline); the partition-pruned plan is PlanSpec's.
    "s21_ivfadc_stored" -> ivfadcOracleSql,
    // s28 serves s17's answer from the landed store — the stored
    // build is the in-lineage build (exact-integer determinism), so
    // the rerank oracle states both; the partition-pruned plan and
    // the R·|Q| fetch topology are PlanSpec's pins.
    "s28_ivfadc_stored_rerank" -> ivfadcRerankOracleSql,
    // s32 rebuilds to exactly the full-corpus-trained index — s13's
    // oracle states it (generations are not oracle-visible).
    "s32_index_rebuild" -> kmeansOracleSql,
    // s45 = s32's rebuild + the retire cut-over; generations are not
    // oracle-visible (the s12/s15 rule), so the SAME kmeans text
    // states the answer — no new oracle math.
    "s45_rebuild_retire" -> kmeansOracleSql,
    // s30: the metric over the s18 oracle chain (train on NOT-batch,
    // assign everything — the upserted store's content); residual =
    // exact int64 distance of each posted lattice point to its cell
    // centroid, baseline = the training rows.
    "s30_index_drift" ->
      s"""WITH ${kmeansChainCtesOver(Some(s"NOT ($annBatchSqlPred)"))},
         |st AS (SELECT p.cid,
         |    CAST(${sqlDist("p.x", "c.m")} AS BIGINT) AS rsq,
         |    NOT (${annBatchSqlPredOn("p.vec_id")}) AS isb
         |  FROM post p JOIN cent$KmIters c ON c.cid = p.cid)
         |SELECT cid, COUNT(*) AS n_now,
         |  CAST(SUM(CASE WHEN isb THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |  CAST(SUM(rsq) AS BIGINT) AS rsq_now,
         |  CAST(SUM(CASE WHEN isb THEN rsq ELSE 0 END) AS BIGINT) AS rsq_base,
         |  CAST(SUM(rsq) AS DOUBLE) / COUNT(*) AS mean_rsq_now,
         |  CASE WHEN SUM(CASE WHEN isb THEN 1 ELSE 0 END) > 0
         |    THEN CAST(SUM(CASE WHEN isb THEN rsq ELSE 0 END) AS DOUBLE)
         |      / SUM(CASE WHEN isb THEN 1 ELSE 0 END)
         |    ELSE NULL END AS mean_rsq_base
         |FROM st GROUP BY cid""".stripMargin,
    // s25: the full-corpus-trained compressed chain, deleted
    // candidates excluded BEFORE the rank (per-candidate ADC scores
    // are independent table lookups, so removing rows from the code
    // store removes exactly their adc rows).
    "s25_ivfadc_delete" ->
      s"""WITH $ivfadcAdcCtes,
         |kept AS (SELECT qid, nn_id, adc FROM adc
         |  WHERE NOT (${annDelSqlPredOn("nn_id")})),
         |rnk AS (SELECT qid, nn_id, adc, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY adc ASC, nn_id ASC) AS rk
         |  FROM kept)
         |SELECT qid, nn_id, adc, CAST(rk AS INTEGER) AS rk
         |FROM rnk WHERE rk <= 5""".stripMargin,
    // s26: the full compressed chain, candidates restricted to the
    // query's label BEFORE the rank (the s23 candidate-predicate
    // semantics on ADC scores).
    "s26_filtered_ivfadc" ->
      s"""WITH $ivfadcAdcCtes,
         |kept AS (SELECT a.qid, a.nn_id, a.adc FROM adc a
         |  JOIN e qe ON qe.vec_id = a.qid
         |  JOIN e ge ON ge.vec_id = a.nn_id
         |  WHERE ge.label = qe.label),
         |rnk AS (SELECT qid, nn_id, adc, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY adc ASC, nn_id ASC) AS rk
         |  FROM kept)
         |SELECT qid, nn_id, adc, CAST(rk AS INTEGER) AS rk
         |FROM rnk WHERE rk <= 5""".stripMargin,
    // s22: train BOTH quantizers on the pre-batch split, encode the
    // full corpus — what stored ∪ upserted equals (the s18 oracle
    // shape on the compressed chain).
    "s22_ivfadc_upsert" ->
      s"""WITH ${ivfadcAdcCtesOver(Some(s"NOT ($annBatchSqlPred)"))},
         |rnk AS (SELECT qid, nn_id, adc, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY adc ASC, nn_id ASC) AS rk
         |  FROM adc)
         |SELECT qid, nn_id, adc, CAST(rk AS INTEGER) AS rk
         |FROM rnk WHERE rk <= 5""".stripMargin,
    "s20_ivfadc_sampled" ->
      s"""WITH ${ivfadcAdcCtesOver(Some(trainSampleSqlPred))},
         |rnk AS (SELECT qid, nn_id, adc, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY adc ASC, nn_id ASC) AS rk
         |  FROM adc)
         |SELECT qid, nn_id, adc, CAST(rk AS INTEGER) AS rk
         |FROM rnk WHERE rk <= 5""".stripMargin
  )
}
