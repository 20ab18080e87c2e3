package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._


import graft.Tables

/** Similarity search over `embeddings.embedding` (Array[Float], d=64).
  *
  * Cosine is computed as an ordered left-fold over the zipped arrays in
  * double precision — `aggregate(zip_with(...))` — which matches
  * DuckDB's sequential `list_dot_product` bit-for-bit, so top-k ranks
  * are identical across engines (ties broken by id).
  *
  * Scale path: s01 is the brute-force baseline (broadcast the query
  * set, stream the corpus — O(Q·N) but embarrassingly parallel, no
  * shuffle on the corpus side). s02 is the IVF pattern: a coarse
  * quantizer (here the `label` column as cell id) restricts each probe
  * to one cell, turning the scan into a co-partitioned equi-join —
  * the same topology an IVF index gives you at 100 TB.
  */
object Similarity {

  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  /** The ten probe queries the ANN store queries search with:
    * vec_id < 10, with the vector and its fixed-point form. */
  private def probeQueries(s: SparkSession, dir: String): DataFrame =
    embFx(s, dir).filter(col("vec_id") < 10)

  /** The (vec_id, v, x) fixed-point rows of the embeddings table. */
  private def embFx(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x"))

  /** Ordered-fold dot product of two array<double> columns — the
    * composable baseline kept for reference/tests. */
  private[graft] def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private[graft] def cosineFold(a: Column, b: Column): Column =
    dotFold(a, b) / (sqrt(dotFold(a, a)) * sqrt(dotFold(b, b)))

  /** Hot path: the fused native expression (bit-identical to the fold
    * form — same left-to-right accumulation). */
  private[graft] def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Axis-aligned sign-bit LSH bands over a 64-dim array<double> column:
    * 4 structs of (band, sig) where sig is the 16-char '0'/'1' sign
    * pattern of dims b·16+1 .. b·16+16. ONE definition shared by d05
    * (near-dup pairs) and s05 (blocked NN-1) so the two queries' band
    * keys can never drift — the hyperplanes are the coordinate axes,
    * deterministic, so the DuckDB oracle replicates the exact candidate
    * set bit-for-bit (d05 proved the construction in round 3/4).
    * Band width is the scale knob: 16-bit bands = 65,536 buckets keep
    * expected occupancy < 1 through ~10^6 vectors; widen (or add
    * bands) as the corpus grows so bucket count tracks corpus size. */
  private[graft] def signBandStructs(v: Column): Column =
    array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws("", (1 to 16).map(i =>
          when(element_at(v, b * 16 + i) >= 0, lit("1"))
            .otherwise(lit("0"))): _*).as("sig"))
    }: _*)

  /** The t08/t13 md5 eval draw applied to vec_id — ONE split
    * discipline across n-gram (t13/t23) and embedding (s09)
    * decontamination; the oracle states the same expression. */
  private[graft] def isEvalVec: Column =
    conv(substring(md5(concat(col("vec_id").cast("string"), lit(":eval"))),
      1, 8), 16, 10).cast("long") % 8 === 0

  /** The planted-twin corpus the sign-LSH queries are exercised on: the
    * random corpus (max natural pairwise cosine ~0.51 — no near-dups)
    * unions with a deterministically perturbed copy of itself (dim 0
    * scaled by 1.01, ids offset by 10^9, clear of any realistic corpus
    * id space). A 1.01× scale never flips a sign, so every twin pair is
    * sign-IDENTICAL — guaranteed band collisions for the blocking to
    * find. Shared by d05 and s05. */
  private[graft] def plantedTwinCorpus(e: DataFrame): DataFrame =
    withPlantedTwins(e)

  private def withPlantedTwins(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v")).unionAll(
      e.select((col("vec_id") + lit(1000000000L)).as("vec_id"),
        transform(col("v"), (x, i) =>
          when(i === 0, x * lit(1.01)).otherwise(x)).as("v")))

  /** d15's corpus: the d05 planted-twin corpus plus a SECOND twin
    * (+2·10⁹, dim-1 × 1.02) for every tenth original — so some
    * components have three members. Positive scaling preserves every
    * sign band, and the pairwise cosines stay ≥ 0.99, so the triplets
    * are full cliques under d05's machinery. The point of the third
    * member: the d15 batch draw (vec_id % 7 — 10⁹ ≡ 6 and 2·10⁹ ≡ 5
    * mod 7, so a planted family SPLITS across the draw where any
    * %-2^k draw would keep it together) then yields components whose
    * existing two members are already a stored cluster that the batch
    * member must merge INTO — the maintenance path a twin-only corpus
    * never exercises (its split pairs always pair a batch vector with
    * a stored SINGLETON). */
  private[graft] def d15Corpus(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    withPlantedTwins(e).unionAll(
      e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(2000000000L)).as("vec_id"),
          transform(col("v"), (x, i) =>
            when(i === 0, x * lit(1.02)).otherwise(x)).as("v")))
  }

  private[graft] def d15IsBatch: Column = col("vec_id") % 7 === 0

  /** d05's pair pipeline over a MATERIALIZED (vec_id, v) corpus
    * (callers wrap in [[graft.ops.Subplan.once]] — it is referenced
    * 3×: banding + verify sa/sb): 4×16-bit sign-band candidate
    * equi-joins, then exact cosine ≥ 0.99 on collisions. ONE
    * definition for the d05 pair query and the d13 cluster query so
    * the clusters can never stop being the components of the pairs
    * (the m06/m07 `ahashSigs` discipline). Emits
    * (vec_a < vec_b, cos_sim). */
  private[graft] def signNearDupPairs(all: DataFrame): DataFrame = {
    val bands = all.select(col("vec_id"), explode(signBandStructs(col("v"))).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(all.as("sa"), col("vec_a") === col("sa.vec_id"))
      .join(all.as("sb"), col("vec_b") === col("sb.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("sa.v"), col("sb.v")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.99)
  }

  /** The batch-incident restriction of [[signNearDupPairs]] — d15's
    * edge source, the d14 `jaccardCandidatesBetween` shape for
    * embeddings: batch bands probe the corpus bands (batch–corpus AND
    * batch–batch collisions, since batch ⊆ all), exact cosine verifies
    * collisions. `gate` (the caller's BATCH-size-derived broadcast
    * decision) applies ONLY to the batch-bands probe side — the frame
    * the gate's row count actually bounds. The verify joins are plain
    * equi-joins, the [[graft.ext.Dedup]] verifyJaccard discipline:
    * `cand`/`withA` are COLLISION-volume-sized, not batch-sized (a hot
    * sign band can make them orders of magnitude larger than the
    * batch, and withA carries a 64-double vector per row), so a forced
    * broadcast there would bypass autoBroadcastJoinThreshold and risk
    * OOM exactly under the skew the zipf soaks target; AQE still
    * converts them at runtime when they measure small. Emits verified
    * (doc_a < doc_b) pairs with ≥ 1 batch endpoint. */
  private[graft] def signNearDupPairsBetween(all: DataFrame, batch: DataFrame,
      gate: DataFrame => DataFrame, threshold: Double = 0.99): DataFrame = {
    def bandsOf(df: DataFrame): DataFrame = df
      .select(col("vec_id"), explode(signBandStructs(col("v"))).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = bandsOf(all).as("a")
      .join(gate(bandsOf(batch)).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
    val withA = all.as("sa")
      .join(cand, col("vec_a") === col("sa.vec_id"))
      .select(col("vec_a"), col("vec_b"), col("sa.v").as("va"))
    all.as("sb")
      .join(withA, col("vec_b") === col("sb.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("va"), col("sb.v")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
  }

  /** The embedding-cluster DECISION layer — contraction + canonical
    * over an undirected verified pair set, ONE definition for d13
    * (sign-band pairs) and d17 (k-NN-graph pairs) so the clusters can
    * never stop being the components of their pairs, whichever edge
    * source fed them. Canonical member = largest squared L2 norm
    * (row-local ordered fold, hash-portable), ties to the smallest
    * vec_id. Emits (vec_id, cluster_id, keep_id, n_members). */
  private def embClusterDecision(all: DataFrame,
      pairs: DataFrame): DataFrame = {
    // Labels are read twice (canonical agg + final member join) —
    // materialize so the contraction's last groupBy runs once.
    val clusters = graft.ops.Subplan.once(
      Dedup.connectedComponents(pairs)
        .select(col("u").as("vec_id"), col("lbl").as("cluster_id")))
    val scored = all.select(col("vec_id"),
      dotFold(col("v"), col("v")).as("nsq"))
    val canon = clusters.join(scored, "vec_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("nsq"), (-col("vec_id")).as("nd"),
          col("vec_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.vec_id").as("keep_id"),
        col("n_members"))
    clusters.join(canon, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("keep_id"),
        col("n_members"))
  }

  /** Per-query top-k via the bounded-heap aggregate: partial
    * aggregation keeps ≤ k scored rows per query per task, where the
    * window formulation would shuffle-and-sort every scored row.
    * Ordering (cos desc, nn_id asc) matches row_number's via the
    * negated-id tie-break field. */
  private[graft] def topK(scored: DataFrame, key: Column, k: Int): DataFrame =
    scored.groupBy(key)
      .agg(graft.functions.TopKAgg.topK(
        struct(col("cos_sim"), (-col("nn_id")).as("neg_id"), col("nn_id")), k)
        .as("top"))
      .select(key, posexplode(col("top")))
      .select(key, col("col.nn_id").as("nn_id"),
        col("col.cos_sim").as("cos_sim"), (col("pos") + 1).cast("int").as("rk"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-k: 10 query vectors × full corpus.
    // Query side broadcast on a constant key (ConstKey: a keyed
    // BroadcastHashJoin with the ≠ check as residual filter — same
    // bounded 10-row build as a nested loop, but no
    // IdentityBroadcastMode shape anywhere on the surface); rank via
    // the bounded-heap top-k partial aggregate.
    "s01_ann_bruteforce" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
        .withColumn("one", graft.ops.ConstKey.one(col("qid")))
      val scored = e.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
        .join(broadcast(q), "one")
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nn_id"),
          cosine(col("qv"), col("v")).as("cos_sim"))
      topK(scored, col("qid"), 5)
    }),

    // IVF-style probe: coarse cell = label; each query vector searches
    // only its own cell (co-partitioned equi-join on the cell id).
    "s02_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("label"), col("v").as("qv"))
      val scored = e.join(q, Seq("label"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nn_id"),
          cosine(col("qv"), col("v")).as("cos_sim"))
      topK(scored, col("qid"), 3)
    }),

    // Embedding-cosine near-dup at a fixed threshold, LSH-blocked.
    // The corpus is random (max natural pairwise cosine ~0.51), so the
    // operator is exercised on planted duplicates: the corpus unions
    // with a deterministically perturbed copy of itself (dim 0 scaled
    // by 1.01 — d01's self-union pattern for the approximate regime),
    // and the pipeline must find exactly those pairs.
    //
    // Blocking is axis-aligned sign-bit LSH: the 64-dim sign pattern
    // splits into 4 bands of 16 bits; candidates collide on >=1 band
    // (pigeonhole: total recall for sign-hamming <= 3, and planted
    // pairs are sign-IDENTICAL since a 1.01x scale never flips a
    // sign), then verify with EXACT cosine >= 0.99. Hyperplanes are
    // the coordinate axes — deterministic, so the DuckDB oracle
    // replicates the exact candidate set bit-for-bit.
    // Band width is a SCALE parameter: the round-4 sf1 soak showed
    // 8-bit bands (256 buckets) saturating on random vectors — bucket
    // occupancy grows linearly with corpus, candidates quadratically
    // (1.6 s -> 101.5 s at 10x). 16-bit bands (65,536 buckets) keep
    // expected occupancy < 1 through ~10^6 vectors; at 100 TB widen
    // again (or add tables) so bucket count tracks corpus size.
    // Topology is unchanged: shuffles only on content-derived
    // (band, sig) keys, verification only on collisions, skewed
    // sign-buckets handled by AQE skew join.
    "d05_embedding_neardup" -> ((s, dir) =>
      signNearDupPairs(
        graft.ops.Subplan.once(withPlantedTwins(emb(s, dir))))),

    // Embedding dedup CLUSTERS + canonical — the DECISION layer over
    // d05's pairs (the d07/d08-to-d02 relationship, for embeddings;
    // m07 is the media sibling): sign-band near-dup pairs feed the
    // same large-star/small-star contraction, then each cluster keeps
    // its best member — here the largest squared L2 norm (a row-local
    // ordered fold, so it hash-matches DuckDB's list_dot_product; the
    // SemDeDup centroid-distance scoring slots into the same
    // max(struct) hook but a centroid MEAN is an order-dependent float
    // sum no cross-engine hash survives). Ties go to the smallest
    // vec_id. Emits one row per clustered vector:
    // (vec_id, cluster_id, keep_id, n_members).
    // Topology = d05 (banded candidate equi-joins + exact verify) +
    // O(log n) contraction rounds + one vec_id-keyed score join + one
    // partial-aggregating max(struct) per cluster; the oracle walks
    // the exhaustive pair graph with a recursive CTE over d05's own
    // CTE skeleton, so banding + contraction + canonical together must
    // lose nothing.
    "d13_embedding_clusters" -> ((s, dir) => {
      val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
      embClusterDecision(all,
        signNearDupPairs(all)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }),

    // Incremental EMBEDDING-cluster maintenance — d14's delta fold
    // applied to d13's cluster family, proving the contraction delta
    // really is pair-source-agnostic: the batch's sign-band collisions
    // (exact-cosine verified) are the new edges, and the SAME
    // [[graft.ext.Dedup.clusterDeltaEdges]] re-contracts exactly the
    // touched components. The stored assignment never shuffles in the
    // delta fold — batch bands, new-edge endpoints, and touched
    // cluster ids ride size-gated broadcasts (D14BroadcastMaxRows);
    // the collision-sized verify frames are plain joins (see
    // [[signNearDupPairsBetween]] — AQE converts when small). Fixture:
    // the d15 corpus plants a THIRD member on every tenth family and
    // draws the batch as vec_id % 7 (which splits planted families —
    // see [[d15Corpus]]), so the delta exercises both merge-into-
    // stored-cluster and fresh-pair paths. Emits the re-contracted
    // (vec_id, cluster_id) rows of touched components — the upsert a
    // vector-store sink applies.
    "d15_incremental_embedding_clusters" -> ((s, dir) => {
      val all = graft.ops.Subplan.once(d15Corpus(s, dir))
      // Stored assignment via the session store (the d14 discipline):
      // landed once per JVM through Sink.write, read back after — so
      // a repeat invocation times the delta, not the stand-in build.
      val assign = graft.sources.SessionStore.storedOrBuild(
        s, "d15_assign", dir, Seq("doc_id"))(
        Dedup.connectedComponents(
          signNearDupPairs(all.filter(!d15IsBatch))
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
          .select(col("u").as("doc_id"), col("lbl").as("cluster_id")))
      val batch = all.filter(d15IsBatch)
      // Eager gate, bounded: ONE count of the batch FRONTIER (`all`
      // is checkpointed — a cheap scan, never a corpus recompute).
      // The deliberate driver-side plan decision: the hint must
      // reflect the REAL batch size, and AQE cannot un-force a wrong
      // broadcast hint.
      val gate: DataFrame => DataFrame =
        if (batch.count() <= Dedup.D14BroadcastMaxRows)
          df => broadcast(df)
        else identity
      Dedup.clusterDeltaEdges(assign,
          signNearDupPairsBetween(all, batch, gate), gate)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }),

    // Semantic decontamination — the embedding-space sibling of t13's
    // n-gram decontamination (the FineWeb/SemDeDup contamination
    // check): flag every corpus vector whose embedding near-matches a
    // HELD-OUT eval vector (cosine ≥ 0.99 — paraphrased or reformatted
    // contamination that shares no 8-gram and slips past t13). The
    // eval split is the t08/t13 md5 draw on vec_id; candidates come
    // from d05's 4×16-bit sign bands (corpus bands ⋈ eval bands —
    // content-keyed equi-join; at deploy the eval side is a small
    // benchmark set and broadcasts on its own), then the exact cosine
    // verify on collisions only. Emits one row per contaminated
    // corpus vector: (vec_id, n_eval_matches, max_cos) — max is
    // order-free, so the double hash-matches. Exercised on the
    // planted-twin corpus: the md5 draw splits each (original, twin)
    // pair across eval/corpus with prob ~2·(1/8)·(7/8), giving a
    // planted cross-split match class (ExtSpec pins it).
    "s09_semantic_decontam" -> ((s, dir) =>
      semanticDecontam(
        graft.ops.Subplan.once(withPlantedTwins(emb(s, dir))))),

    // Blocked NN-1 — the SCALE path for per-vector nearest neighbor
    // (s03 is the exact all-pairs baseline; its Scaladoc points here).
    // Semantics: each vector's nearest neighbor AMONG ITS SIGN-BAND
    // COLLISIONS — the deterministic axis-aligned blocking d05 proved
    // hash-identical in DuckDB, so unlike spark.ml's LSH (JVM-internal
    // floats) this approximate NN-1 is fully oracle-checkable. Exercised
    // on the planted-twin corpus so every vector has at least one
    // collision (its sign-identical twin); natural collisions compete.
    //
    // 100 TB shape: candidates come from 4 narrow (band, sig) equi-joins
    // — never a corpus broadcast, never all-pairs (PlanSpec pins
    // no-NestedLoop / no-parquet-re-scan) — and the top-1 is the same
    // partial-aggregating max(struct) as s03, collapsing candidates
    // map-side. Cost tracks bucket-collision rate; the 16-bit band
    // width is the documented corpus-tracking knob (see
    // [[signBandStructs]]).
    "s05_blocked_nn1" -> ((s, dir) =>
      bandedNn1(graft.ops.Subplan.once(withPlantedTwins(emb(s, dir))))),

    // Random-projection dimensionality reduction (64 → 16), the
    // standard pre-ANN shrink: reduced_j = Σ_i v_i · sign(i,j) / √16
    // with a ±1 matrix derived from md5(i:j) parity — deterministic
    // and engine-portable, so unlike spark.ml's PCA/RP (JVM-internal
    // floats) this IS oracle-checkable. Sparse sign projections are
    // the classic JL construction; at 100 TB this is a map-only pass
    // that shrinks the ANN corpus 4× before any index build. Output
    // exploded to (vec_id, j, val) scalars — the verify harness
    // row-sorts in pandas, which can't hash array cells (same
    // discipline as m01).
    "s04_random_projection" -> ((s, dir) => {
      // The sign matrix is a CONSTANT (JVM md5 of the same "i:j"
      // strings the oracle hashes in SQL — parity by construction),
      // and the whole 16×64 projection is ONE native expression
      // ([[graft.functions.RpProject]], round 17): the previous
      // 1,024-term composed tree cost seconds of Catalyst planning
      // per action and overflowed the 64 KB method limit when the
      // full-output write fused into its stage (interpreted
      // fallback). Bit-identical accumulation order; FunctionsSpec
      // pins native ≡ composed. Round-4 soak context: 20.8 s → ~1 s
      // at sf1 for the constant fold; round 17 takes the remaining
      // plan-size tax to ~zero.
      val e = emb(s, dir)
      e.select(col("vec_id"),
          posexplode(graft.functions.RpProject.rpProject(col("v"))))
        .select(col("vec_id"), col("pos").cast("int").as("j"),
          col("col").as("val"))
    }),

    // Int8 scalar quantization under oracle check ([[quantize]] is the
    // library form; this emits its exact arithmetic as exploded
    // scalars — the harness can't hash array cells). Every step is a
    // single correctly-rounded IEEE op (array min/max are exact,
    // subtraction/division/floor are exactly specified), so the codes
    // hash-match DuckDB bit-for-bit. Map-only: the 4× storage shrink
    // costs zero shuffles at any scale.
    "s06_quantize" -> ((s, dir) => {
      val e = emb(s, dir)
      quantize(e.select(col("vec_id"), col("v")), "v")
        .select(col("vec_id"), col("v_offset").as("offset"),
          col("v_scale").as("scale"), posexplode(col("v_q8")))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("i"),
          col("col").as("q8"), col("offset"), col("scale"))
    }),

    // Quantized ANN rerank — top-k over the s06 int8 codes: the
    // memory-bound ANN path at 100 TB (4× smaller resident corpus,
    // SIMD-able integer inner loops). The dot product is RECONSTRUCTED
    // from the affine codes — x = lo + sc·q, so dot(a, c) = (sc·qsc)·Σqaqc
    // + (qlo·sc)·Σqc + (lo·qsc)·Σqa + d·(lo·qlo) — where the three code
    // sums are exact int64 (the heavy, per-pair work) and the float
    // combination is four correctly-rounded terms in a parenthesization
    // stated identically in DuckDB, so scores hash-match. Topology =
    // s01 (broadcast query side, bounded-heap top-k partial agg);
    // codes computed once (Subplan.once) feed corpus and query sides.
    "s07_quantized_topk" -> ((s, dir) => {
      val codes = graft.ops.Subplan.once(
        quantize(emb(s, dir).select(col("vec_id"), col("v")), "v")
          .select(col("vec_id"), col("v_q8").cast("array<long>").as("q"),
            col("v_offset").as("lo"), col("v_scale").as("sc"))
          .withColumn("qsum",
            aggregate(col("q"), lit(0L), (acc, x) => acc + x)))
      val q = codes.select(col("vec_id").as("qid"), col("q").as("qq"),
        col("lo").as("qlo"), col("sc").as("qsc"), col("qsum").as("qqsum"))
        .filter(col("qid") < 10)
        .withColumn("one", graft.ops.ConstKey.one(col("qid")))
      // Constant-key broadcast of the bounded query side (see s01).
      val scored = codes.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
        .join(broadcast(q), "one")
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("idot",
          aggregate(zip_with(col("q"), col("qq"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x))
        .select(col("qid"), col("vec_id").as("nn_id"),
          ((col("sc") * col("qsc")) * col("idot") +
            (col("qlo") * col("sc")) * col("qsum") +
            (col("lo") * col("qsc")) * col("qqsum") +
            size(col("q")).cast("double") * (col("lo") * col("qlo")))
            .as("qdot"))
      scored.groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topK(
          struct(col("qdot"), (-col("nn_id")).as("neg_id"), col("nn_id")), 5)
          .as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col.nn_id").as("nn_id"),
          col("col.qdot").as("qdot"), (col("pos") + 1).cast("int").as("rk"))
    }),

    // IVF with an integer-GRID coarse quantizer — the full
    // build-probe-rank index topology (s02 demonstrates the probe
    // with the label column as a ready-made cell), with a cell
    // assignment every engine computes bit-identically: cell =
    // (⌊v₁/0.125⌋, ⌊v₂/0.125⌋). The first two coordinates of a
    // unit-normalized 64-d vector are ~N(0, 1/64) (std exactly
    // 0.125), so 0.125-wide cells give ~9 populated values per axis;
    // division by a power of two and floor are both single
    // correctly-rounded IEEE ops, so cell ids — and therefore the
    // CANDIDATE SET — hash-match DuckDB exactly with no training at
    // all (s13 is the TRAINED quantizer, made just as deterministic
    // by exact-integer Lloyd iterations; spark.ml's float KMeans has
    // no cross-engine oracle). Probe = the
    // 3×3 neighbor cells: each query explodes to 9 (c1, c2) keys and
    // equi-joins the postings — at 100 TB the corpus shuffles ONCE on
    // cell id at build time, probes replicate 9× (tiny side), and
    // ranking is the bounded-heap top-k partial agg. Recall is
    // best-effort by construction (IVF semantics): a true neighbor
    // outside the 3×3 neighborhood is missed — the oracle probes the
    // same 9 cells, so the check is exact over the same candidates.
    "s08_ivf_grid" -> ((s, dir) => ivfGridQuery(s, dir, Seq(1, 1))),

    // The wide probe of the SAME grid index: radius 2 = 5×5 cells,
    // the measured +0.29/+0.26 recall@1 point of the PLANS.md curve,
    // registered under its own oracle so the knob's semantics (probe
    // set = the 25 neighbor cells, exactly) are hash-checked, not
    // just soak-measured. One query body serves every variant.
    "s10_ivf_grid_wide" -> ((s, dir) => ivfGridQuery(s, dir, Seq(2, 2))),

    // The THIRD-AXIS grid index — the re-arm knob when the 2-axis
    // quantizer saturates (PLANS.md round-10 curve: ~10k
    // candidates/vector at sf1 r=1, the density limit of a 2-D
    // coarse grid at ~10⁵ vectors; a user at 10⁸ vectors needs more
    // cells, not a wider probe). Axis count multiplies cell count by
    // ~9 per axis (v₃ is ~N(0, 1/64) like v₁/v₂): ~729 populated
    // cells, so per-cell postings — the quantity that must stay
    // bounded for the landed index (s12) to skip data — drop ~9×,
    // and at EQUAL radii the probe's candidate pool strictly shrinks
    // (ExtSpec pins the subset; measured at sf1: (2,2,2) scores 8.5%
    // fewer candidates than (2,2) for recall 0.9455 vs 0.9622). The
    // registered point probes (2, 2, 1) — 5×5×3 = 75 cells — and
    // sits ABOVE the 2-axis recall-per-candidate frontier: at sf1 it
    // buys recall@1 0.806 at 234M candidates where interpolating the
    // 2-axis endpoints predicts 0.777 (full curve in PLANS.md round
    // 11). Same one query body; the oracle states the 3-axis BETWEEN
    // windows, so the probe-set semantics are hash-checked, not just
    // soak-measured.
    "s11_ivf_grid3" -> ((s, dir) => ivfGridQuery(s, dir, Seq(2, 2, 1))),

    // The grid IVF probed AGAINST ITS LANDED FORM — the deployment
    // shape of an index: postings are a cell-partitioned STORED TABLE
    // (SessionStore → Sink.write partitionBy (c1, c2); in deployment
    // the index was built long ago), and the probe is a broadcast of
    // the 9 query cells whose values DYNAMIC-PARTITION-PRUNE the
    // postings scan — Spark reuses the probe broadcast as an IN-subquery
    // partition filter, so the probe READS ONLY THE PROBED CELLS'
    // FILES. That is the property that makes a disk-resident IVF an
    // index at all: at 100 TB / ~81 cells, a 9-cell probe touches ~11%
    // of the bytes (finer grids via s11's axis knob push that down
    // geometrically), where s08's in-lineage form re-derives cells
    // from every vector on every query. Same cells, same candidates,
    // same answer as s08 — the oracle is s08's — only the storage
    // topology differs; PlanSpec pins the dynamicpruning expression on
    // the read-back scan.
    "s12_ivf_grid_stored" -> ((s, dir) => s12Probe(s, dir)),

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

    // MAXSIM — late-interaction retrieval (the ColBERT scoring shape,
    // Khattab & Zaharia 2020): entities are GROUPS of token vectors
    // (gid = vec_id div 8 over the embeddings fixture), and a query
    // group scores a candidate group by Σ over its tokens of the MAX
    // dot product against the candidate's tokens — the operator class
    // single-vector ANN can't express (per-token alignment, not one
    // pooled vector). Exact integers end-to-end: fixed-point dots via
    // the native sq_dist_long + precomputed norms (2ab = a²+b²−(a−b)²,
    // even ⇒ the arithmetic shift halves exactly).
    "s27_maxsim" -> ((s, dir) => maxsimQuery(s, dir)),

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

    // k-NN GRAPH construction by NN-descent (Dong et al., WWW 2011) —
    // the whole-corpus neighbor structure (k best per vector, not a
    // 10-query probe) SemDeDup-class pipelines build before
    // clustering. Init = md5 exploration draws ∪ sign-band
    // collisions; per round, neighbors-of-neighbors through the
    // symmetrized (forward ∪ k-capped reverse) lists are scored in
    // exact int64 and each list keeps its k best under (d, id) —
    // candidate volume ≤ (2k)²·N per round, never all-pairs, and
    // every step is deterministic, so the oracle unrolls the rounds
    // (the s13 Lloyd discipline). Emits (vec_id, nn_id, d, rk).
    "s29_knn_graph" -> ((s, dir) => knnRanked(knnDescentGraph(
      graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))))),

    // GREEDY GRAPH SEARCH over the s29 graph — the read-path
    // primitive of every graph-ANN index (HNSW layer-0 / NSG /
    // DiskANN all walk a neighbor graph greedily): fixed entry
    // vertex, per hop move to the best of {current} ∪ N(current) by
    // exact distance, (d, id) tie-breaks, fixed unrolled hop budget
    // (descent is monotone, so post-fixpoint hops are idempotent).
    // Per-query work after construction: ≤ (k+1)·hops candidates —
    // corpus-INDEPENDENT, the property billion-scale stores buy with
    // graph construction. One knnDescentGraph definition with
    // s29/d17.
    "s31_knn_graph_search" -> ((s, dir) => knnSearchQuery(s, dir)),

    // BEAM search over the s29 graph — HNSW's ef knob on s31's walk
    // (ONE knnBeamWalk loop; greedy IS its beam-1 case): the frontier
    // keeps the KnnBeamWidth best visited vertices per hop, escaping
    // the single-path local minima greedy descent stops in, for B×
    // hop work that stays corpus-independent. Emits the final
    // frontier ranked (qid, nn_id, d, rk).
    "s33_knn_beam_search" -> ((s, dir) =>
      knnWalkQuery(s, dir, beam = KnnBeamWidth)),

    // BATCH INSERT into the landed k-NN graph — the graph family's
    // missing CRUD arc (s18/s22 gave it to both IVF forms): descent
    // RESTRICTED to the batch's touched neighborhood (seeds = md5
    // draws + band collisions + stored-graph expansion, symmetrized;
    // KnnInsRounds rounds over the fixed touched set), then a
    // whole-key-group dynamic-partition upsert of exactly the touched
    // owners' lists. Per-batch work scales with the touched
    // neighborhood, never the corpus. Emits the touched owners'
    // ranked lists read back from the upserted store.
    "s34_knn_graph_insert" -> ((s, dir) => knnGraphInsertQuery(s, dir)),

    // BATCH DELETE from the landed k-NN graph — s34's reverse half:
    // the ':del' 1/16 retirement draw drops its owners' rows and
    // every surviving list that referenced a retired id HEALS from
    // (its own surviving edges ∪ the retired neighbors' surviving
    // lists), rescored exactly. No dangling edge survives; emptied
    // partitions drop explicitly (the s24 discipline). Emits the
    // healed owners' ranked lists from the post-delete store.
    "s35_knn_graph_delete" -> ((s, dir) => knnGraphDeleteQuery(s, dir)),

    // EF-SEARCH over the landed graph — s33's walk (ONE
    // knnBeamWalkFull loop), answering with the best KnnEfTopK of the
    // VISITED set instead of the final frontier (HNSW's ef-search
    // return semantics): the walk scores every visited vertex anyway,
    // so the deeper answer costs one bounded-heap agg — and k may
    // exceed the beam width, which the frontier never can.
    "s36_knn_efsearch" -> ((s, dir) => knnEfSearchQuery(s, dir)),

    // FILTERED graph search — s23/s26's query-time label predicate on
    // the GRAPH read path (every index family now has its filtered
    // read): the UNfiltered s36 walk, answer = best k of the visited
    // set WITHIN the query's label class; the filter costs one label
    // fetch restricted to the bounded visited frame.
    "s40_filtered_knn_search" -> ((s, dir) =>
      knnFilteredSearchQuery(s, dir)),

    // GRAPH REFINE — the s32-rebuild analogue closing the graph
    // lifecycle (build s29 → land → search s31/s33/s36 → insert s34 →
    // delete s35 → drift-detect s38 → refine s37): the post-delete
    // heal is LOCAL (own + retired-neighbors' survivors — lists come
    // back thin or suboptimal), so the refresh runs KnnRefineRounds
    // warm-start descent rounds over the survivor graph (no re-init
    // scan — the cheap rebuild NN-descent uniquely offers) and lands
    // a NEW generation store. Emits the refined graph ranked.
    "s37_knn_graph_refine" -> ((s, dir) => knnGraphRefineQuery(s, dir)),

    // GRAPH DRIFT — s30's discipline for the graph family, the
    // signal that schedules s37: per-partition owner/edge counts,
    // THIN-list count (< k — the heal's scar), and exact int64 edge
    // energy, base generation vs the post-delete state (LEFT join:
    // an emptied partition still reports, zeroed).
    "s38_knn_graph_drift" -> ((s, dir) => graphDriftQuery(s, dir)),

    // The k-NN graph as the DEDUP edge source — s29's edges verified
    // at exact cosine ≥ 0.99, then d13's contraction + canonical
    // (embClusterDecision — ONE decision layer, pair-source-
    // agnostic). The SemDeDup composition: a graph edge set instead
    // of band collisions, the decision unchanged.
    "d17_knn_graph_clusters" -> ((s, dir) => knnClustersQuery(s, dir)),

    // RANGE SEARCH over the landed trained index — the radius query
    // (all vectors with d² ≤ R², FAISS range_search semantics), the
    // third reader of the ONE s15 index: triangle-inequality cell
    // pruning via K-row landed stats, exact int64 verify, oracle =
    // the brute-force statement (completeness checked end to end).
    "s39_range_search" -> ((s, dir) => rangeSearchQuery(s, dir)),

    // RECALL ESTIMATION — answer-quality monitoring beside s30's
    // model-health drift: a deterministic 1/64 query sample, exact
    // NN-1 by the s03 block-grid as ground truth, the SAME landed
    // s15 probe the production path serves, per-query hit flags.
    "s41_recall_probe" -> ((s, dir) => recallProbeQuery(s, dir)),

    // RECALL ESTIMATION for the compressed family — the SAME draw,
    // the SAME cosine truth statement, probe = the s28 stored-index
    // read path (ADC shortlist + the ONE exact-rerank tail).
    "s42_recall_adc_probe" -> ((s, dir) => recallProbeAdcQuery(s, dir)),

    // RECALL ESTIMATION for the graph family — the SAME draw, truth
    // in the walk's own exact-int64 metric over the twin lattice
    // (exactNn1SqBetween — the walk's own metric), probe = the
    // s36 ef-search body over the landed graph.
    "s43_recall_graph_probe" -> ((s, dir) => recallProbeKnnQuery(s, dir)),

    // RECALL ESTIMATION for the grid family — the SAME draw and
    // cosine truth, probe = THE s12 landed-store read path; all four
    // index families now carry the monitor.
    "s44_recall_grid_probe" -> ((s, dir) => recallProbeGridQuery(s, dir)),

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
    "s45_rebuild_retire" -> ((s, dir) => indexRebuildRetireQuery(s, dir)),

    // SemDeDup — semantic dedup by trained-cell blocking: pairs
    // compared only within a k-means cell, each near-dup pair keeps
    // the member FARTHER from its centroid (exact int64 distance to
    // the exact-integer centroid — the float-mean objection recorded
    // in d13's Scaladoc, dissolved by s13's lattice Lloyd). Same
    // planted-twin corpus as d05/d13.
    "d20_semdedup" -> ((s, dir) =>
      semDedup(withPlantedTwins(emb(s, dir)), semK(corpusN(s, dir)))),

    // Embedding near-dup: each vector's single nearest neighbor — the
    // building block of cosine-threshold dedup (threshold applied
    // downstream; this corpus is random so a fixed 0.95 cut is empty).
    // This is the EXACT all-pairs baseline — compute is inherently
    // O(N²) (every vector scores every other) — but the PLAN is a
    // block-grid equi-join, not a corpus broadcast: the corpus side
    // keys by block = vec_id mod B, the probe side explodes each
    // vector to all B partner blocks, and a SHUFFLE_HASH join on the
    // block id meets every pair exactly once. Per-task resident state
    // is one block (N/B vectors) regardless of N — no
    // IdentityBroadcastMode, no BroadcastNestedLoopJoin, no memory
    // cliff. B is the scale knob: replication factor B on the streamed
    // probe side buys per-task memory N/B on the build side (the
    // classic block-grid tradeoff); size B so N/B vectors fit an
    // executor. The approximate sibling that also cuts the N² COMPUTE
    // is s05_blocked_nn1 (sign-band blocked candidates, same top-1
    // aggregate, oracle-checked).
    // Top-1 is a partial-aggregating max over an ordered struct —
    // map-side combine collapses the N² scored rows to one row per
    // vector per partition before any shuffle, where a window would
    // shuffle and sort all N² rows. Tie-break matches the window form:
    // highest cosine, then lowest nn_id (via negated id in the struct).
    "s03_embedding_nn1" -> ((s, dir) => exactNn1(emb(s, dir)))
  )

  /** The shared top-1 collapse of a scored (vec_id, nn_id, cos_sim)
    * frame: partial-aggregating max over an ordered struct — map-side
    * combine collapses scored rows to one candidate per vector per
    * partition before any shuffle. Tie-break matches the window form:
    * highest cosine, then lowest nn_id (negated id in the struct). */
  private def best1(scored: DataFrame): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cos_sim"), (-col("nn_id")).as("neg_id"),
        col("nn_id"))).as("best"))
      .select(col("vec_id"), col("best.nn_id").as("nn_id"),
        col("best.cos_sim").as("cos_sim"))

  /** s03's exact block-grid NN-1 over a (vec_id, v) frame — see the
    * s03 entry for the plan rationale. ONE definition for the
    * registered query and the recall specs' ground truth (ExtSpec). */
  private[graft] def exactNn1(e: DataFrame): DataFrame =
    exactNn1Between(e, e)

  /** The two-frame form of the block-grid exact NN-1: each PROBE
    * row's nearest corpus vector — ONE statement for s03 (probes =
    * corpus) and s41's sampled ground truth (probes = the recall
    * draw), so the measured recall's truth side is s03's operator. */
  private[graft] def exactNn1Between(probes: DataFrame,
      corpus: DataFrame): DataFrame = {
    // Corpus keyed by its block, probes exploded to every partner
    // block, SHUFFLE_HASH so neither AQE nor size estimates ever turn
    // the corpus side into a broadcast build.
    val c = corpus.select(col("vec_id").as("nn_id"), col("v").as("bv"),
      pmod(col("vec_id"), lit(Nn1Blocks.toLong)).cast("int").as("blk"))
    val p = probes.select(col("vec_id"), col("v"))
      .withColumn("blk", explode(array((0 until Nn1Blocks).map(lit): _*)))
    best1(p.join(c.hint("shuffle_hash"), Seq("blk"))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        cosine(col("v"), col("bv")).as("cos_sim")))
  }

  /** The SAME block-grid exact NN-1 in the GRAPH family's metric —
    * int64 squared distance on (vec_id, x) fixed-point frames, NN by
    * (d asc, id asc). ONE statement for s43's sampled ground truth
    * (probes = the recall draw over the twin lattice) and the
    * natural-corpus truth (probes = corpus; PLANS.md's round-13
    * graph-family recall table), so the graph monitors' truth side
    * is one definition — the [[exactNn1Between]] discipline with the
    * cosine family's metric swapped for the walk's own exact-integer
    * one. */
  private[graft] def exactNnKSqBetween(probes: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("nn_id"), col("x").as("cx"),
      pmod(col("vec_id"), lit(Nn1Blocks.toLong)).cast("int").as("blk"))
    val p = probes.select(col("vec_id"), col("x"))
      .withColumn("blk", explode(array((0 until Nn1Blocks).map(lit): _*)))
    p.join(c.hint("shuffle_hash"), Seq("blk"))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        graft.functions.SqDistLong.sqDist(col("x"), col("cx")).as("d"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("d")).as("nd"), (-col("nn_id")).as("ni"),
          col("nn_id")), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.nn_id").as("nn_id"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  private[graft] def exactNn1SqBetween(probes: DataFrame,
      corpus: DataFrame): DataFrame =
    exactNnKSqBetween(probes, corpus, 1)
      .select(col("vec_id"), col("nn_id"))

  /** s05's construction over an already-materialized (vec_id, v)
    * corpus: each vector's nearest neighbor AMONG ITS SIGN-BAND
    * COLLISIONS. ONE definition for the registered query (planted-twin
    * corpus) and the natural-corpus recall soak / ExtSpec floor pin,
    * so the measured recall is the recall of the REGISTERED
    * operator. */
  private[graft] def bandedNn1(all: DataFrame): DataFrame = {
    val bands = all.select(col("vec_id"), explode(signBandStructs(col("v"))).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // Both directions (=!=, not <): every vector needs ITS best
    // neighbor, so pairs are not symmetric-deduped here.
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"))
      .distinct()
    best1(cand.as("c")
      .join(all.as("sa"), col("c.vec_id") === col("sa.vec_id"))
      .join(all.as("sb"), col("c.nn_id") === col("sb.vec_id"))
      .select(col("c.vec_id").as("vec_id"), col("c.nn_id").as("nn_id"),
        cosine(col("sa.v"), col("sb.v")).as("cos_sim")))
  }

  /** The registered grid-IVF probe — ONE body for s08 (radii (1,1)),
    * s10 ((2,2)), and s11 (the 3-axis point), so the variants can
    * only ever differ by the probe set: 10 query vectors explode to
    * their ∏(2rᵢ+1) neighbor cells, equi-join the cell-keyed
    * postings, rank by bounded-heap top-5. `radii` is per-axis: its
    * LENGTH is the quantizer's axis count (more axes = finer cells =
    * fewer candidates per cell — the knob that re-arms the index when
    * a 2-axis grid saturates at ~10⁵ vectors), its VALUES the
    * per-axis probe widths (recall-vs-cost, non-decreasing in each
    * rᵢ by candidate-superset). */
  /** THE s12 read path — the landed cell-partitioned grid store
    * probed under dynamic partition pruning for a query filter: ONE
    * body for the registered s12 (the 10-query frame) and s44's
    * recall probe (the ':rq' draw), so the monitor measures exactly
    * the production read path. */
  private def s12Probe(s: SparkSession, dir: String,
      qFilter: Column = col("vec_id") < 10): DataFrame = {
    val postings = graft.sources.SessionStore.storedOrBuild(
      s, "s12_postings", dir, Seq("vec_id"), Seq("c1", "c2")) {
      emb(s, dir).select(col("vec_id"), col("v"),
        gridCell(col("v"), 1).as("c1"), gridCell(col("v"), 2).as("c2"))
    }
    val probes = emb(s, dir).filter(qFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        gridCell(col("v"), 1).as("qc1"), gridCell(col("v"), 2).as("qc2"))
      .withColumn("d", explode(probeOffsets(Seq(1, 1))))
      .select(col("qid"), col("qv"),
        (col("qc1") + col("d.d1")).as("c1"),
        (col("qc2") + col("d.d2")).as("c2"))
    val scored = postings.join(broadcast(probes), Seq("c1", "c2"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
    topK(scored, col("qid"), 5)
  }

  private def ivfGridQuery(s: SparkSession, dir: String,
      radii: Seq[Int]): DataFrame = {
    val n = radii.length
    val e = emb(s, dir)
    val g = e.select(col("vec_id") +: col("v") +:
      (1 to n).map(i => gridCell(col("v"), i).as(s"c$i")): _*)
    val probes = g.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid") +: col("v").as("qv") +:
        (1 to n).map(i => col(s"c$i").as(s"qc$i")): _*)
      .withColumn("d", explode(probeOffsets(radii)))
      .select(col("qid") +: col("qv") +:
        (1 to n).map(i => (col(s"qc$i") + col(s"d.d$i")).as(s"c$i")): _*)
    val scored = g.join(probes, (1 to n).map(i => s"c$i"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
    topK(scored, col("qid"), 5)
  }

  /** The multi-probe neighborhood of the grid quantizer: the
    * ∏(2rᵢ+1) integer offset tuples (fields d1..dn) a probe explodes
    * to — the cartesian product of per-axis windows −rᵢ..rᵢ.
    * Recall@k is non-decreasing in every rᵢ because a wider probe's
    * candidate set is a superset — ExtSpec pins the monotonicity;
    * PLANS.md's round-11 table records the measured (axes, radii)
    * curve. */
  private[graft] def probeOffsets(radii: Seq[Int]): Column = {
    val combos = radii.map(r => (-r to r).toSeq)
      .foldLeft(Seq(Seq.empty[Int]))((acc, rs) => acc.flatMap(c => rs.map(c :+ _)))
    array(combos.map(c => struct(c.zipWithIndex.map { case (o, i) =>
      lit(o).as(s"d${i + 1}") }: _*)): _*)
  }

  /** s08's coarse quantizer for axis `i` (1-based): ⌊vᵢ / 0.125⌋ —
    * division by a power of two and floor are single correctly-rounded
    * IEEE ops, so cell ids hash-match across engines. ONE definition
    * for the registered probes and [[gridNn1]]. Each coordinate of a
    * unit-normalized 64-d vector is ~N(0, 1/64) (std exactly 0.125),
    * so 0.125-wide cells give ~9 populated values per axis — cell
    * count ~9^axes, the density budget of the index. */
  private[graft] def gridCell(v: Column, i: Int): Column =
    floor(element_at(v, i) / lit(0.125)).cast("long")

  /** The scored grid-candidate set of [[gridNn1]]/[[gridTopKNn]]:
    * every (vector, candidate) pair inside the vector's ∏(2rᵢ+1)
    * probe neighborhood, with exact cosine. ONE definition of the
    * probe topology for both roll-ups, so the recall curve and the
    * NN-1 floor always measure the same index. */
  private def gridScored(all: DataFrame, radii: Seq[Int]): DataFrame = {
    val n = radii.length
    val g = all.select(col("vec_id") +: col("v") +:
      (1 to n).map(i => gridCell(col("v"), i).as(s"c$i")): _*)
    val probes = g
      .select(col("vec_id").as("qid") +: col("v").as("qv") +:
        (1 to n).map(i => col(s"c$i").as(s"qc$i")): _*)
      .withColumn("d", explode(probeOffsets(radii)))
      .select(col("qid") +: col("qv") +:
        (1 to n).map(i => (col(s"qc$i") + col(s"d.d$i")).as(s"c$i")): _*)
    g.join(probes, (1 to n).map(i => s"c$i"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid").as("vec_id"), col("vec_id").as("nn_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
  }

  /** The IVF topology generalized to per-vector NN-1: EVERY vector
    * probes its cell neighborhood (the registered queries probe 10
    * vectors at top-5). The every-vector recall twin of s08/s10/s11
    * — shares the cell quantizer, so the measured recall is the
    * registered index's, over 2 axes at a symmetric radius. */
  private[graft] def gridNn1(all: DataFrame, probeRadius: Int = 1): DataFrame =
    best1(gridScored(all, Seq(probeRadius, probeRadius)))

  /** Per-vector top-k over the same grid candidates (bounded-heap
    * partial agg, the s07/e10 discipline) — the recall@k side of the
    * probe-radius curve: recall@k = P(exact NN-1 ∈ grid top-k). */
  private[graft] def gridTopKNn(all: DataFrame, probeRadius: Int,
      k: Int): DataFrame =
    topK(gridScored(all, Seq(probeRadius, probeRadius))
        .select(col("vec_id").as("qid"), col("nn_id"),
          col("cos_sim").as("cos_sim")),
      col("qid"), k)
      .select(col("qid").as("vec_id"), col("nn_id"), col("rk"))

  /** The candidate-pair count a probe configuration pays — the cost
    * axis of the recall curve. */
  private[graft] def gridCandidateCount(all: DataFrame,
      probeRadius: Int): Long =
    gridCandidateCountR(all, Seq(probeRadius, probeRadius))

  private[graft] def gridCandidateCountR(all: DataFrame,
      radii: Seq[Int]): Long =
    gridScored(all, radii).count()

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

  /** Fixed-point lattice coordinates: ⌊vᵢ·2²⁰⌋ per dimension — exact
    * in every engine (power-of-two scale + floor). */
  private[graft] def fixedPoint(v: Column): Column =
    transform(v, e => floor(e * lit(1048576.0)).cast("long"))

  /** Exact int64 squared distance between two array<long> lattice
    * points — the fused native expression (bit-identical to the
    * `aggregate(zip_with(...))` fold: long addition is exact and
    * associative, so there is no accumulation order to preserve). */
  private def kmDist(x: Column, m: Column): Column =
    graft.functions.SqDistLong.sqDist(x, m)

  /** THE assignment: each vector's nearest centroid (ties → lowest
    * cid). The K-row centroid table collapses to ONE broadcast row
    * holding the cid-sorted centroid array, and assignment is a pure
    * map — an argmin fold over the array per corpus row. The corpus
    * NEVER shuffles: per Lloyd iteration the only exchange is the
    * partial-agged (cid, 64 sums) update frame (≤ K rows/task). */
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
    * wraps it in `Subplan.once`. */
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
    * run never evaluates it. */
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
    * radius constant). */
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

  // ---------------------------------------------------------------
  // d20: SemDeDup — semantic dedup by trained-cell blocking (Abbas
  // et al., "SemDeDup", 2023): k-means the embeddings, compare pairs
  // ONLY within a cell, and for every near-dup pair keep the member
  // FARTHER from its centroid (the paper's keep-the-outlier rule —
  // the duplicate nearer the cluster center is the redundant one).
  // The d13 Scaladoc records why this slot stayed empty: a float
  // centroid MEAN is an order-dependent sum no cross-engine hash
  // survives. s13's exact-integer Lloyd dissolved that objection —
  // the centroid is an integer lattice point and the keep rule's
  // score is [[kmDist]]'s exact int64, so the SemDeDup decision is
  // deterministic and oracle-able. Scale: the within-cell all-pairs
  // compare is the algorithm's actual cost model (the paper sizes K
  // so cells stay ~constant: K ~ N/cellsize); the pair join is
  // s03's block-grid INSIDE cells — key (cid, blk), per-task state
  // one cell-block regardless of N, no broadcast of the corpus, no
  // BNLJ. Cross-cell near-dups are missed BY DESIGN (the paper's
  // documented approximation; d05/d13 are the band-complete
  // alternatives on the same corpus).
  // ---------------------------------------------------------------

  /** d20's block count — the s03 grid knob applied inside cells:
    * replication factor B on the probe side buys per-task state
    * cell/B on the build side. */
  private val SemBlocks = 8

  /** SemDeDup's scale knob made REAL (the paper's rule: K ~
    * N/cellsize keeps the within-cell quadratic linear-in-N at fixed
    * cell size): the target natural-corpus rows per cell. With the
    * twin extension the cell holds ~2·SemCellSize vectors — the sf1
    * geometry (N=20k, K=8, ~5k/cell) that every d20 measurement rode,
    * now held CONSTANT across decades instead of letting cells grow
    * 10× per decade (the round-16 reason d20/t43's sf10 soak row was
    * skipped). */
  private[graft] val SemCellSize = 2500L

  /** THE SemDeDup cell count for a natural corpus of n rows —
    * max([[KmK]], n div [[SemCellSize]]): every stock fixture through
    * sf1 keeps the historical K=8 bit-for-bit (zero answer churn);
    * sf10 trains 80 cells. The SQL twin [[semKSql]] states the same
    * formula as a scalar subquery — change both or neither. */
  private[graft] def semK(n: Long): Int =
    math.max(KmK.toLong, n / SemCellSize).toInt

  private[graft] val semKSql: String =
    s"GREATEST($KmK, (SELECT count(*) FROM embeddings) // $SemCellSize)"

  /** THE semantic-decontamination decision over a (vec_id, v) corpus
    * — s09's body as ONE definition for the registered query and the
    * t43 composed chain: corpus-side (non-eval) vectors whose 4×16-bit
    * sign bands collide with a held-out eval vector's, verified at
    * exact cosine ≥ 0.99. Emits one row per contaminated corpus
    * vector: (vec_id, n_eval_matches, max_cos). */
  private[graft] def semanticDecontam(all: DataFrame): DataFrame = {
    def bandsOf(df: DataFrame): DataFrame = df
      .select(col("vec_id"), explode(signBandStructs(col("v"))).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = bandsOf(all.filter(!isEvalVec)).as("a")
      .join(bandsOf(all.filter(isEvalVec)).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.vec_id").as("cvec"), col("b.vec_id").as("evec"))
      .distinct()
    cand
      .join(all.as("sa"), col("cvec") === col("sa.vec_id"))
      .join(all.as("sb"), col("evec") === col("sb.vec_id"))
      .select(col("cvec"), cosine(col("sa.v"), col("sb.v")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.99)
      .groupBy(col("cvec"))
      .agg(count(lit(1)).as("n_eval_matches"), max(col("cos_sim")).as("max_cos"))
      .select(col("cvec").as("vec_id"), col("n_eval_matches"), col("max_cos"))
  }

  /** THE SemDeDup decision over a (vec_id, v) corpus: assignment +
    * exact centroid distance, within-cell verified pairs, the
    * keep-farther rule. One definition for the registered query and
    * ExtSpec's JVM replay. Emits (vec_id, cid, dc2, kept). */
  private[graft] def semDedup(all: DataFrame, k: Int = KmK): DataFrame = {
    val fx = graft.ops.Subplan.once(
      all.select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x")))
    val cents = graft.ops.Subplan.once(kmeansCentroids(fx, k))
    // Assignment + the keep rule's score in one pass: dc2 = exact
    // int64 distance to the OWN centroid (the K-row table broadcasts).
    val asg = graft.ops.Subplan.once(
      kmAssign(fx, cents)
        .join(broadcast(cents), Seq("cid"))
        .select(col("vec_id"), col("v"), col("cid"),
          kmDist(col("x"), col("m")).as("dc2")))
    val corpus = asg.select(col("cid"),
      pmod(col("vec_id"), lit(SemBlocks.toLong)).cast("int").as("blk"),
      col("vec_id").as("vb"), col("v").as("bv"), col("dc2").as("dc2_b"))
    val probes = asg.select(col("cid"), col("vec_id").as("va"),
        col("v").as("av"), col("dc2").as("dc2_a"))
      .withColumn("blk", explode(array((0 until SemBlocks).map(lit): _*)))
    // SHUFFLE_HASH for the s03 reason: the corpus side must never
    // become a broadcast build under AQE size misestimates.
    val pairs = probes.join(corpus.hint("shuffle_hash"), Seq("cid", "blk"))
      .filter(col("va") < col("vb"))
      .filter(cosine(col("av"), col("bv")) >= 0.99)
    // The pair's LOSER: nearer its centroid (smaller dc2); the exact
    // tie keeps the smaller id (drop the larger — d01's keep-lowest).
    val losers = pairs.select(
        when(col("dc2_a") < col("dc2_b"), col("va"))
          .when(col("dc2_b") < col("dc2_a"), col("vb"))
          .otherwise(greatest(col("va"), col("vb"))).as("vec_id"))
      .distinct()
      .select(col("vec_id"), lit(true).as("lost"))
    // Deliberately NOT force-broadcast: SemDeDup routinely drops a
    // large corpus fraction, so the loser set is corpus-PROPORTIONAL
    // — the flag-attach is an honest vec_id-keyed equi-join (one
    // linear shuffle; AQE broadcasts it when a gentle threshold
    // leaves the set small).
    asg.join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dc2"),
        col("lost").isNull.as("kept"))
  }

  // ---------------------------------------------------------------
  // s41: RECALL ESTIMATION — answer-quality monitoring for the landed
  // index, the missing half of the diagnostics pair (s30 watches the
  // MODEL drift; nothing watched whether the ANSWERS are still good).
  // "Measure, don't guess" as an operator: draw a deterministic 1/64
  // query sample, compute each sampled query's EXACT NN-1 by the s03
  // block-grid (ONE exactNn1Between statement — the truth side IS
  // s03's operator), probe the SAME landed s15 index the production
  // path serves, and emit per-query hit flags (probe rank-1 = exact;
  // exact ∈ probe top-5). Cost: the exact side is |sample|·N scored
  // pairs — the 1/64 draw is the knob that keeps ground truth
  // affordable at any corpus (recall estimates need dozens of
  // queries, not the corpus). Emitting per-query BOOLEANS (not a
  // double mean) keeps the row hash-portable and lets the consumer
  // aggregate at its own grain — the t38 report discipline.
  // ---------------------------------------------------------------

  /** The recall monitors' ABSOLUTE-size query sample — the md5 draw
    * discipline under its own ':rq' salt with a corpus-count-scaled
    * modulus. Rounds 14–16 rode a fixed 1/64 RATE, and the sf10 soak
    * measured the predicted quadratic arriving on schedule (10×
    * queries × 10× corpus = 100× exact-truth pairs per decade; s43
    * sf1→sf10 read 55×). A recall ESTIMATE needs dozens of queries,
    * not a corpus fraction, so the modulus is
    * max(64, N div [[RecallSampleTarget]]): below 64·target vectors
    * the historical 1/64 rate holds bit-for-bit (every stock fixture
    * through sf0.1 — zero answer churn there), above it the sample
    * pins near [[RecallSampleTarget]] absolute and the truth side is
    * sample·N — LINEAR per decade. N is the fixture's natural-corpus
    * (embeddings) count — ONE convention across all four family
    * monitors (s41 trained / s42 compressed / s43 graph / s44 grid),
    * stated identically by the oracle twin's scalar subquery. The
    * draw still bounds the same two downstream costs (the |sample| ×
    * nprobe query-frame broadcast and the |sample|·N exact-truth
    * side), now corpus-independently. */
  private[graft] val RecallSampleTarget = 256L

  /** THE modulus formula — Spark integer division on the
    * non-negative count ≡ DuckDB `//`, so engine and oracle compute
    * the same M from the same N. */
  private[graft] def recallDrawModulus(n: Long): Long =
    math.max(64L, n / RecallSampleTarget)

  /** The ':rq' md5 draw over an explicit modulus. */
  private[graft] def recallDrawOver(m: Long): Column =
    conv(substring(md5(concat(col("vec_id").cast("string"), lit(":rq"))),
      1, 8), 16, 10).cast("long") % m === 0

  /** The draw for a monitored corpus of `n` rows — the streaming
    * twins pass their accumulated corpus count (a cheap count on an
    * already-checkpointed state frame, off the fold hot path). */
  private[graft] def recallDraw(n: Long): Column =
    recallDrawOver(recallDrawModulus(n))

  /** The batch-query form: N = the fixture's embeddings count via
    * [[corpusN]], so the modulus is a plan LITERAL and the predicate
    * stays pushable (the d21 constant discipline). */
  private[graft] def recallDraw(s: SparkSession, dir: String): Column =
    recallDraw(corpusN(s, dir))

  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The fixture's natural-corpus size — a ONE-row bounded driver
    * count (the d21 constant discipline: a filter modulus must be a
    * literal/scalar, not a join-provided column), memoized per
    * fixture per JVM. The count runs outside the map: it is
    * deterministic, so two racing first calls only count twice. */
  private[graft] def corpusN(s: SparkSession, dir: String): Long =
    Option(corpusCounts.get(dir)).getOrElse {
      corpusCounts.putIfAbsent(dir, emb(s, dir).count())
      corpusCounts.get(dir)
    }.longValue()

  /** [[recallDraw]] as SQL over a named id column — ONE text for the
    * s41/s42 probe predicate (`s.vec_id`), s43's walk entry
    * (`vec_id` over the twin corpus) and its lattice truth side. The
    * modulus is the SAME max(64, N div target) formula as a scalar
    * subquery over the embeddings table. */
  private def recallDrawSqlOn(idCol: String): String =
    s"('0x' || substr(md5($idCol || ':rq'), 1, 8))::BIGINT % " +
      s"GREATEST(64, (SELECT count(*) FROM embeddings) // " +
      s"$RecallSampleTarget) = 0"

  private val recallDrawSql = recallDrawSqlOn("s.vec_id")

  /** THE hit-flag fold of a recall probe — the sampled exact truth
    * (qid, nn_exact) LEFT-joined to a ranked probe frame carrying
    * (qid, nn_id, rk ≤ 5), per-query BOOLEANS out (hit1: the probe's
    * rank-1 IS the exact NN; hit5: the exact NN appears in the
    * top-5). ONE statement for all three index families' monitors
    * (s41 trained, s42 compressed, s43 graph), so they cannot
    * disagree about what a hit IS; the t38 report rule keeps the
    * rows hash-portable and the aggregation grain the consumer's. */
  private[graft] def recallFlags(exact: DataFrame, probed: DataFrame): DataFrame =
    exact.join(probed, Seq("qid"), "left")
      .groupBy(col("qid"), col("nn_exact"))
      .agg(
        sum(when(col("rk") === 1 && col("nn_id") === col("nn_exact"), 1L)
          .otherwise(0L)).as("h1"),
        sum(when(col("nn_id") === col("nn_exact"), 1L)
          .otherwise(0L)).as("h5"))
      .select(col("qid"), col("nn_exact"),
        (col("h1") > 0).as("hit1"), (col("h5") > 0).as("hit5"))

  private def recallProbeQuery(s: SparkSession, dir: String): DataFrame = {
    lazy val fxOf = graft.ops.Subplan.once(
      emb(s, dir).select(col("vec_id"), col("label"), col("v"),
        fixedPoint(col("v")).as("x")))
    val (cents, post) = s15Store(s, dir, fxOf)
    val e = emb(s, dir)
    val qs = graft.ops.Subplan.once(e.filter(recallDraw(s, dir))
      .select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x")))
    val exact = exactNn1Between(qs.select(col("vec_id"), col("v")), e)
      .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
    val probed = kmProbedTop5(
      post.select(col("vec_id"), col("v"), col("cid")),
      kmProbeCells(qs, cents))
    recallFlags(exact, probed)
  }

  /** The s42 body — RECALL ESTIMATION for the COMPRESSED family: the
    * monitor symmetry s41 started, completed for the second of the
    * three production read paths. Probe = the registered s28 body on
    * the ':rq' draw (the stored s21 index probed under partition
    * pruning, ADC shortlist, the ONE [[exactRerankTail]]); truth =
    * the ONE [[exactNn1Between]] statement (cosine — the rerank's own
    * answer metric, so a perfect read path scores 1.0). Costs: truth
    * |sample|·N scored pairs, probe |sample| rerank fetches — both
    * governed by the [[recallDraw]] rate knob and its documented
    * bound. */
  private def recallProbeAdcQuery(s: SparkSession, dir: String): DataFrame = {
    val (cents, pqc, codes) = s21Store(s, dir)
    val e = emb(s, dir)
    val draw = recallDraw(s, dir)
    val qs = graft.ops.Subplan.once(e.filter(draw)
      .select(col("vec_id"), col("v"), fixedPoint(col("v")).as("x")))
    val exact = exactNn1Between(qs.select(col("vec_id"), col("v")), e)
      .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
    val probed = exactRerankTail(s, dir,
      adcScored(codes, qs, cents, pqc), draw)
    recallFlags(exact, probed)
  }

  /** The s44 body — RECALL ESTIMATION for the GRID family,
    * completing the monitor symmetry across ALL FOUR index families
    * (s41 trained / s42 compressed / s43 graph / s44 grid): probe =
    * THE s12 read path ([[s12Probe]] — the landed cell-partitioned
    * store under dynamic partition pruning) on the ':rq' draw; truth
    * = the ONE [[exactNn1Between]] cosine statement (the grid probe's
    * own answer metric); hits by the ONE [[recallFlags]] fold. */
  private def recallProbeGridQuery(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val draw = recallDraw(s, dir)
    val exact = exactNn1Between(
      e.filter(draw).select(col("vec_id"), col("v")), e)
      .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
    recallFlags(exact, s12Probe(s, dir, draw))
  }

  /** The s43 body — RECALL ESTIMATION for the GRAPH family, closing
    * the monitor symmetry (s41 trained / s42 compressed / s43 graph —
    * every production read path now has an answer-quality monitor
    * beside its model-health drift watcher). Probe = the registered
    * s36 body on the ':rq' draw (ONE [[knnBeamWalkFull]] loop over
    * the landed [[knnGraphStore]], visited set ranked by
    * [[knnEfRank]]); truth = [[exactNn1SqBetween]] over the SAME
    * twin-extended lattice the graph indexes, in the WALK'S OWN
    * metric (exact int64 squared distance: a perfect walk scores
    * 1.0; a cosine truth would cap the monitor below 1 by metric
    * mismatch, making drift unreadable).
    * On the planted corpus the exact NN of every natural vector is
    * its twin, so hit1 is the operational twin_rank1 number. */
  private def recallProbeKnnQuery(s: SparkSession, dir: String): DataFrame = {
    val draw = recallDraw(s, dir)
    val (fx, q) = knnQueryFrame(s, dir, draw)
    val (_, visited) =
      knnBeamWalkFull(q, fx, knnGraphStore(s, dir), KnnBeamWidth)
    val exact = exactNn1SqBetween(fx.filter(draw), fx)
      .select(col("vec_id").as("qid"), col("nn_id").as("nn_exact"))
    recallFlags(exact, knnEfRank(visited))
  }

  /** The s24 deletion draw — the md5 discipline read as a RETIREMENT
    * batch: the drawn 1/16 are vectors deleted AFTER the index was
    * built over everything. ONE definition with [[annDelSqlPred]]. */
  private[graft] def annDelVecOn(c: Column): Column =
    conv(substring(md5(concat(c.cast("string"), lit(":del"))),
      1, 8), 16, 10).cast("long") % 16 === 0

  private[graft] def annDelVec: Column = annDelVecOn(col("vec_id"))

  private def annDelSqlPredOn(sqlCol: String): String =
    s"('0x' || substr(md5($sqlCol || ':del'), 1, 8))::BIGINT % 16 = 0"

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

  /** The s18 batch draw — the t08 md5 split read as ARRIVAL ORDER:
    * the drawn 1/8 are vectors that arrive AFTER the index was built
    * over the rest. ONE definition with [[annBatchSqlPred]], its SQL
    * statement. */
  private[graft] def annBatchVec: Column =
    conv(substring(md5(concat(col("vec_id").cast("string"), lit(":ann"))),
      1, 8), 16, 10).cast("long") % 8 === 0

  private def annBatchSqlPredOn(sqlCol: String): String =
    s"('0x' || substr(md5($sqlCol || ':ann'), 1, 8))::BIGINT % 8 = 0"

  private val annBatchSqlPred = annBatchSqlPredOn("vec_id")

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
    * queries in one JVM stay idempotent (the s18/s22 rule). */
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
    // (stored rows of those cells) ∪ (batch rows); Sink.write
    // materializes it before the dynamic partition overwrite, which
    // replaces the files it reads. Batch and stored ids are disjoint
    // by the draw; the pk dedup makes a repeated upsert of the same
    // batch idempotent.
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
    * live metric. */
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
    * does. */
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

  /** The s27 body — MAXSIM late-interaction scoring (Khattab &
    * Zaharia, "ColBERT", SIGIR 2020): documents and queries are
    * GROUPS of token vectors (gid = vec_id div 8 — 8-token groups
    * over the embeddings fixture, reusing driver data rather than
    * synthesizing a new table); score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d}
    * qt·dt. The inherent work is |Q_tokens| × N dot products — a map
    * stage over the corpus against the broadcast query-token frame
    * (the s07 broadcast-scan discipline, ConstKey-keyed) with every
    * dot in exact int64: qt·dt = (|qt|² + |dt|² − |qt−dt|²) / 2,
    * where the squared norms are precomputed per token once and the
    * pair term is the native codegen'd [[graft.functions.SqDistLong]];
    * the difference is even, so the arithmetic shift halves exactly.
    * The per-(query-token, candidate-group) MAX and the per-(query,
    * candidate) SUM are partial aggregates — the one shuffle carries
    * ≤ |Q_tokens| · (N/8) skinny long rows (≈ 2N at the registered
    * probe), never the N² pair frame; the bounded-heap top-5 ends it.
    * At 100 TB the exact form is the rerank tail over a candidate
    * set (s17's pattern); registered here as the exact operator under
    * the full hash oracle. */
  private def maxsimQuery(s: SparkSession, dir: String): DataFrame = {
    val zeros = array((0 until 64).map(_ => lit(0L)): _*)
    val toks = graft.ops.Subplan.once(
      emb(s, dir).select(expr("vec_id div 8").as("gid"), col("vec_id"),
        fixedPoint(col("v")).as("x"))
        .withColumn("n2", graft.functions.SqDistLong.sqDist(col("x"), zeros)))
    val qt = toks.filter(col("gid") < 2)
      .select(col("gid").as("qid"), col("vec_id").as("qtok"),
        col("x").as("qx"), col("n2").as("qn2"))
      .withColumn("one", graft.ops.ConstKey.one(col("qtok")))
    val dots = toks.withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(qt), "one")
      .filter(col("qid") =!= col("gid"))
      .select(col("qid"), col("qtok"), col("gid").as("nn_id"),
        shiftright(col("qn2") + col("n2") -
          graft.functions.SqDistLong.sqDist(col("qx"), col("x")), 1)
          .as("dot"))
    val best = dots.groupBy(col("qid"), col("qtok"), col("nn_id"))
      .agg(max(col("dot")).as("m"))
    val sums = best.groupBy(col("qid"), col("nn_id"))
      .agg(sum(col("m")).as("maxsim"))
    sums.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("maxsim").as("ms"), (-col("nn_id")).as("ni"),
          col("nn_id"), col("maxsim")), 5).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.nn_id").as("nn_id"),
        col("col.maxsim").as("maxsim"), (col("pos") + 1).cast("int").as("rk"))
  }

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
  private def exactRerankTail(s: SparkSession, dir: String,
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

  // ---------------------------------------------------------------
  // s29/d17 — k-NN GRAPH construction by NN-descent (Dong, Moses &
  // Li, "Efficient k-nearest neighbor graph construction for generic
  // similarity measures", WWW 2011): every vector keeps its k best
  // neighbors so far; each round, neighbors-of-neighbors (through
  // the SYMMETRIZED lists — forward plus capped reverse) become
  // candidates, are scored exactly, and the lists improve
  // monotonically under the (d, id) order. The operator SemDeDup-
  // class pipelines run before clustering — a full neighbor graph,
  // not the NN-1/top-5 probes of the s-family. Everything is
  // deterministic (exact int64 distances on the 2²⁰ fixed-point
  // lattice, (d, id) tie-breaks, md5 init draws), so the DuckDB
  // oracle unrolls the rounds exactly (the s13 Lloyd discipline).
  // ---------------------------------------------------------------

  /** k-NN graph knobs: list width k, md5 exploration draws per
    * vector, fixed descent rounds. Rounds are fixed so the oracle can
    * unroll them, and 8 is the measured FIXPOINT on the spec fixture
    * (sf0.001 planted corpus: per-round changed-edge counts 2685,
    * 1729, 641, 113, 33, 7, 2, 0 — ExtSpec pins that round 9 changes
    * nothing). Rounds is the deployment knob: a larger corpus
    * converges in more rounds (log-ish growth), and production
    * NN-descent stops on a small-delta test instead — the fixed count
    * is the oracle-able form. */
  private[graft] val KnnK = 4
  private[graft] val KnnInitDraws = 8
  private[graft] val KnnRounds = 8

  /** Deterministic exploration edges — NN-descent's random init made
    * reproducible: each vector draws [[KnnInitDraws]] partner ROW
    * INDICES from the md5 family (the t08 draw discipline, key
    * ':knn<j>') over the planted corpus's 2·n0 rows, mapped to ids
    * through the planted layout (idx < n0 → idx, else 10⁹ + idx−n0).
    * The natural-count row rides a ConstKey broadcast (the
    * single-row-count rule) — no driver collect, no cross join. Init
    * needs BOTH edge families: band collisions alone seed only
    * near-dup pairs (disconnected 2-cliques whose neighbor-of-
    * neighbor closure is themselves — descent could never explore),
    * and random draws alone know nothing about geometry. */
  private def knnInitDraws(all: DataFrame): DataFrame = {
    val cnt = all.filter(col("vec_id") < 1000000000L)
      .agg(count(lit(1)).as("n0"))
      .withColumn("one", graft.ops.ConstKey.one(col("n0")))
    all.select(col("vec_id"))
      .withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(cnt), "one")
      .select(col("vec_id"), col("n0"),
        explode(array((1 to KnnInitDraws).map(lit): _*)).as("j"))
      .select(col("vec_id").as("v"),
        (conv(substring(md5(concat(col("vec_id").cast("string"),
          lit(":knn"), col("j").cast("string"))), 1, 8), 16, 10)
          .cast("long") % (col("n0") * 2)).as("idx"), col("n0"))
      .select(col("v"),
        when(col("idx") < col("n0"), col("idx"))
          .otherwise(col("idx") - col("n0") + 1000000000L).as("w"))
      .filter(col("v") =!= col("w"))
  }

  /** The long-form sign-band frame of a (vec_id, v) corpus — ONE
    * banding text for the descent init, the insert seeds, and s34's
    * LANDED corpus-band store. */
  private[graft] def knnBands(df: DataFrame): DataFrame =
    df.select(col("vec_id"), explode(signBandStructs(col("v"))).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))

  /** The init candidate set — md5 exploration draws ∪ sign-band
    * collisions, both directions. private[graft] so PlanSpec can pin
    * the pre-checkpoint join shapes the registered query runs (the
    * round checkpoints hide them behind ExistingRDD scans). */
  private[graft] def knnInit(all: DataFrame): DataFrame = {
    val bands = knnBands(all)
    val bandPairs = bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("v"), col("b.vec_id").as("w"))
    knnInitDraws(all).unionAll(bandPairs)
  }

  /** The fixed-point frame the graph scores against. */
  private[graft] def knnFx(all: DataFrame): DataFrame =
    all.select(col("vec_id"), fixedPoint(col("v")).as("x"))

  /** Exact scoring of a directed candidate edge set (v, w): two
    * id-keyed equi-joins onto the fixed-point corpus and the native
    * codegen [[graft.functions.SqDistLong]] — never an all-pairs
    * shape; candidate volume is the caller's bound.
    *
    * Deliberately NO pre-`.distinct()` (round-18 cut): every caller
    * feeds the set-semantics [[knnTopK]] heap, which absorbs a
    * duplicate (v, w) — identical exact struct — map-side, so the
    * dedup exchange (+ its two HashAggregates, once per descent
    * round) bought only fewer scored rows. Measured multiplicity of
    * the round-candidate multiset is 1.38× at sf0.1 (duplicates cost
    * ~38% more 64-dim sqdist flops and join rows, map-side in the
    * restricted folds where fx broadcasts), vs a FULL exchange of
    * the candidate frame — paired A/B: s29 −4..12%, s34 −7..20%,
    * s37 −10%. The multiplicity is bounded by the ≤ 2k adjacency
    * fan-in (knnRoundCand's multiset-union bound). */
  private[graft] def knnScore(cand: DataFrame, fx: DataFrame): DataFrame =
    cand
      .join(fx.select(col("vec_id").as("v"), col("x").as("xv")), "v")
      .join(fx.select(col("vec_id").as("w"), col("x").as("xw")), "w")
      .select(col("v"), col("w"),
        graft.functions.SqDistLong.sqDist(col("xv"), col("xw")).as("d"))

  /** Ascending top-k by (d, w) per source — the bounded-heap partial
    * agg ([[pqAdcTop5]]'s shape), under SET semantics
    * ([[graft.functions.TopKAgg.topKDistinct]]): distances are exact
    * longs, so a pair reaching the aggregate twice (current list ∪
    * rescored candidate, forward ∪ reverse) carries an IDENTICAL
    * (d, w) struct, and the k-row in-heap equality scan collapses it
    * into one slot — callers no longer pre-`.distinct()` their unions
    * (that exchange was one of the stages on the descent round's
    * floor; round-17 cut, FunctionsSpec pins the set≡multiset
    * identity). */
  private[graft] def knnTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("v"))
      .agg(graft.functions.TopKAgg.topKDistinct(
        struct((-col("d")).as("nd"), (-col("w")).as("nw"),
          col("w"), col("d")), k).as("top"))
      .select(col("v"), explode(col("top")).as("t"))
      .select(col("v"), col("t.w").as("w"), col("t.d").as("d"))

  /** The NN-descent driver: init lists from md5 draws ∪ sign-band
    * collisions, then [[KnnRounds]] improvement rounds. Per round:
    * symmetrize (forward lists ∪ reverse lists CAPPED at k by the
    * same (d, id) order — Dong et al.'s ρK reverse sample made
    * deterministic; without the cap a hub vector appearing in many
    * lists would square an unbounded degree), join adjacency with
    * itself on the intermediate id (≤ 2k partners per node ⇒ ≤ (2k)²
    * candidate pairs per node — linear in N per round, never
    * all-pairs), score exactly, keep each node's k best of old ∪ new.
    * Lists improve monotonically under (d, id), the state is finite,
    * so descent converges; rounds are fixed for the oracle and the
    * fixture fixpoint is ExtSpec's pin. Each round is checkpointed
    * ([[graft.ops.Subplan.once]]) so round r+1 reads round r's rows,
    * never an r-deep recomputed plan (the contraction discipline).
    * Emits the directed edge set (v, w, d), ≤ k rows per v. */
  /** One round's candidate pairs off the CURRENT lists: symmetrized
    * adjacency (forward ∪ k-capped reverse), self-joined on the
    * intermediate id — ≤ (2k)² pairs per node. private[graft] for
    * the same PlanSpec reason as [[knnInit]]. */
  private[graft] def knnRoundCand(nbr: DataFrame, k: Int = KnnK,
      restrict: Option[DataFrame] = None): DataFrame = {
    val rev = knnTopK(
      nbr.select(col("w").as("v"), col("v").as("w"), col("d")), k)
    // Deliberately a MULTISET union (no distinct): a (u, p) present
    // both forward and reversed duplicates a pair that the set-semantics
    // [[knnTopK]] heap absorbs downstream (knnScore has no distinct of
    // its own), the per-node bound is ≤ 2k
    // adjacency rows and ≤ (2k)² candidate pairs EITHER way, and the
    // dedup shuffle it saves is one of the five stages on the
    // restricted fold's per-round floor.
    val adj = nbr.select(col("v").as("u"), col("w").as("p"))
      .unionAll(rev.select(col("v").as("u"), col("w").as("p")))
    // The restricted folds (s34 insert / s37 refine) only let TOUCHED
    // owners' lists move: restricting the OWNER side of the pair join
    // before it runs states the same set the oracle's tch-restricted
    // cnd CTE does, and shrinks the join instead of filtering its
    // output.
    val aAdj = restrict
      .map(t => adj.join(t.select(col("v").as("p")), Seq("p"), "left_semi"))
      .getOrElse(adj)
    aAdj.as("a").join(adj.as("b"), Seq("u"))
      .select(col("a.p").as("v"), col("b.p").as("w"))
      .filter(col("v") =!= col("w"))
  }

  /** ONE descent-round statement — the loop body of the full build
    * (s29), the restricted insert fold (s34, via `restrict`), and the
    * warm-start refine (s37), plus the `knn_round` row of PlanSpec's
    * plan-shape ledger: current lists ∪ exactly-scored
    * neighbor-of-neighbor candidates, k-best per owner. */
  private[graft] def knnRound(nbr: DataFrame, fx: DataFrame, k: Int,
      restrict: Option[DataFrame] = None): DataFrame =
    knnTopK(nbr.unionAll(knnScore(knnRoundCand(nbr, k, restrict), fx)), k)

  private[graft] def knnDescentGraph(all: DataFrame, k: Int = KnnK,
      rounds: Int = KnnRounds): DataFrame = {
    val fx = graft.ops.Subplan.once(knnFx(all))
    var nbr = knnTopK(knnScore(knnInit(all), fx), k)
    for (_ <- 1 to rounds)
      nbr = knnRound(graft.ops.Subplan.once(nbr), fx, k)
    nbr
  }

  /** The ranked k-NN graph — (vec_id, nn_id, d, rk) with rk 1..k per
    * vector under the (d, id) order; the s29 output contract. */
  private[graft] def knnRanked(nbr: DataFrame): DataFrame =
    nbr.groupBy(col("v"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("d")).as("nd"), (-col("w")).as("nw"),
          col("w"), col("d")), KnnK).as("top"))
      .select(col("v"), posexplode(col("top")))
      .select(col("v").as("vec_id"), col("col.w").as("nn_id"),
        col("col.d").as("d"), (col("pos") + 1).cast("int").as("rk"))

  /** Greedy-search hop budget: the walk is a monotone descent under
    * (d, id) — each hop strictly improves or stays put — so extra
    * hops past the fixpoint are idempotent and a fixed unroll is the
    * oracle-able form (the KnnRounds discipline). 8 covers the spec
    * fixture's walks with slack. */
  private[graft] val KnnSearchHops = 8

  /** The s31 body — GREEDY GRAPH SEARCH over the s29 k-NN graph, the
    * read-path primitive of every graph-ANN index (HNSW's layer-0
    * descent, Malkov & Yashunin 2018; NSG, DiskANN — all walk a
    * neighbor graph greedily): start each query at a fixed entry
    * vertex, and per hop move to the best of {current} ∪ N(current)
    * by exact distance to the query — (d, id) tie-break — stopping
    * at the first vertex no neighbor beats. Where s13/s16 probe a
    * PARTITION of the corpus, the graph walk touches ≤ (k+1)·hops
    * candidates per query TOTAL — the per-query work is
    * corpus-independent once the graph exists, which is why
    * billion-scale stores pay for graph construction. The graph is
    * the ONE [[knnDescentGraph]] definition (s29's edges verbatim);
    * every hop is a candidates-sized equi-join + a partial-agg argmin
    * — never a corpus scan. Deterministic entry (vertex 0; query 0
    * enters at 1), deterministic hops ⇒ the oracle unrolls the walk
    * over its own unrolled graph. Emits (qid, nn_id, d). */
  /** THE landed k-NN graph — s29's edges in a stored table
    * ([[graft.sources.SessionStore.storedOrBuild]]), shared READ-ONLY
    * by d17 and s31 (the s15/s23 shared-store rule): a graph index is
    * built once and consumed many times — that asymmetry is the whole
    * economics of graph ANN, and the repeat timings should measure
    * the consumer's work, not a rebuild per query. s29 itself stays
    * the honest in-lineage construction (its cost IS construction,
    * exactly as s16 re-trains while s21 reads its store). */
  private def knnGraphStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionStore.storedOrBuild(s, "knn_graph", dir,
      Seq("v", "w")) {
      knnDescentGraph(graft.ops.Subplan.once(withPlantedTwins(emb(s, dir))))
    }

  private def knnSearchQuery(s: SparkSession, dir: String): DataFrame =
    knnWalkQuery(s, dir, beam = 1)
      .select(col("qid"), col("nn_id"), col("d"))

  /** The shared s31/s33 body: the registered 10-query frame walked
    * over the landed graph through [[knnBeamWalk]] at the given
    * width (s31 = greedy B = 1, dropping the degenerate rk; s33 =
    * [[KnnBeamWidth]], ranked frontier out). */
  private def knnWalkQuery(s: SparkSession, dir: String,
      beam: Int): DataFrame = {
    val (fx, q) = knnQueryFrame(s, dir)
    knnBeamWalk(q, fx, knnGraphStore(s, dir), beam)
  }

  /** The shared s31/s33/s36/s40/s43 query front: the checkpointed
    * fixed-point corpus and the entry frame over `qFilter` (default
    * the registered 10-query frame; s43 passes the ':rq' recall
    * draw). Entry rule: vertex 0 enters at 1, everyone else at 0 —
    * the walk drops the query itself from candidates, so a query may
    * never enter at its own id. */
  private def knnQueryFrame(s: SparkSession, dir: String,
      qFilter: Column = col("vec_id") < 10): (DataFrame, DataFrame) = {
    val fx = graft.ops.Subplan.once(knnFx(withPlantedTwins(emb(s, dir))))
    (fx, graft.ops.Subplan.once(knnQ0(fx, qFilter)))
  }

  /** The (qid, qx, cur) walk-entry frame of a lattice under a query
    * predicate — fixed entry vertex 0 (vertex 1 for query 0, which
    * cannot enter at itself). ONE construction for the dir-based
    * [[knnQueryFrame]] and the graph twin's live recall probe, so
    * the monitored walk enters exactly where the registered one
    * does. */
  private[graft] def knnQ0(fx: DataFrame, qFilter: Column): DataFrame =
    fx.filter(qFilter)
      .select(col("vec_id").as("qid"), col("x").as("qx"),
        when(col("vec_id") === 0, lit(1L)).otherwise(lit(0L)).as("cur"))

  /** s33's beam width — HNSW's ef knob: the frontier keeps the B
    * best visited vertices instead of one, trading B× hop work
    * (still corpus-independent) for escape from single-path local
    * minima. 4 is chosen BY the beam/entry sweep (the RerankR
    * r-sweep discipline; PLANS.md round-14 curve): on the
    * uniform natural corpus recall scales ~LINEARLY with B (each
    * beam slot explores a near-independent descent path — no knee
    * exists on structureless geometry) while entry count buys almost
    * nothing, so B is a per-query recall budget, not a plan-shape
    * choice; 4 ≈ 2.8× greedy's recall at ~flat fixture cost and
    * keeps the s33/s36 oracle unroll tractable. */
  private[graft] val KnnBeamWidth = 4

  /** THE walk loop over a graph `g` for a (qid, qx, cur) query frame
    * (one or more frontier rows per query) — beam search with greedy
    * as its B = 1 case, so s31 (greedy), s33 (beam), and the
    * graph-family recall sweeps (PLANS.md rounds 13-14) all ride ONE
    * loop and the measured recall is the recall of the registered
    * operators. Per hop:
    * candidates = frontier ∪ its graph neighbors (the frontier is
    * included, so the kept set improves monotonically under the
    * (d, id) order and post-fixpoint hops are idempotent), scored
    * exactly, top-B kept per query by bounded-heap partial agg.
    * Emits the final frontier ranked: (qid, nn_id, d, rk ≤ B). */
  private[graft] def knnBeamWalk(q0: DataFrame, fx: DataFrame,
      g: DataFrame, beam: Int = 1, hops: Int = KnnSearchHops): DataFrame =
    knnBeamWalkFull(q0, fx, g, beam, hops)._1

  /** [[knnBeamWalk]] plus the VISITED set — the loop scores every
    * visited vertex per hop anyway (each hop's SCORED candidate frame
    * is checkpointed as the next hop's input; the frontier derives
    * from it lazily), so accumulating the per-hop scored frames costs
    * NO extra scoring.
    * Returns (final ranked frontier — [[knnBeamWalk]]'s contract
    * verbatim, visited (qid, cand, d) rows — a MULTISET whose
    * duplicates, within and across hops, carry identical exact
    * distances, so every consumer dedups in its bounded set-semantics
    * heap — [[knnEfRank]]). s36 (ef-search) ranks the visited union;
    * s31/s33 keep the frontier-only form. ONE loop for all three (and
    * the recall sweeps), so measured recall is the registered
    * operators'. */
  /** One hop's SCORED candidate frame: frontier ∪ its graph
    * neighbors (≤ B(k+1) rows per query counting duplicates — the
    * frontier row itself plus ≤ k neighbors per beam slot), scored
    * exactly against the lattice. ONE statement for the
    * [[knnBeamWalkFull]] loop body and the `walk_hop` row of
    * PlanSpec's plan-shape ledger.
    *
    * Deliberately a MULTISET (round-18 cut, the knnRoundCand rule):
    * the `.distinct()` that stood here was a full exchange of the
    * widest hop frame (it shuffles the 64-dim qx per candidate row),
    * once per hop × 8 hops × 5 walk queries, and the per-query bound
    * is ≤ B(k+1) rows EITHER way — the distinct only shrank below a
    * constant. Duplicates carry IDENTICAL (qid, qx, cand) rows and
    * hence identical exact distances, so every consumer dedups in
    * the bounded heap instead: the frontier agg ([[knnHopFrontier]])
    * and the visited-set rank ([[knnEfRank]]) ride
    * `topKDistinct` (the O1 set-semantics aggregate, FunctionsSpec-
    * pinned set ≡ multiset). */
  private[graft] def knnHopScored(cur: DataFrame, fx: DataFrame,
      g: DataFrame): DataFrame =
    cur.select(col("qid"), col("qx"), col("cur").as("cand"))
      .unionAll(cur.join(g, cur("cur") === g("v"))
        .select(col("qid"), col("qx"), g("w").as("cand")))
      .filter(col("cand") =!= col("qid"))
      .join(fx.select(col("vec_id").as("cand"), col("x")), "cand")
      .select(col("qid"), col("qx"), col("cand"),
        graft.functions.SqDistLong.sqDist(col("qx"), col("x")).as("d"))

  /** One hop's next frontier off the scored frame: top-B per query
    * by bounded-heap partial agg, under SET semantics — a candidate
    * reached both as a frontier row and as a neighbor (or by two
    * beam slots) carries an identical struct and must occupy ONE
    * beam slot, exactly as the pre-hop `.distinct()` guaranteed.
    * The [[knnHopScored]] twin half of the loop body / plan
    * artifact. */
  private[graft] def knnHopFrontier(scored: DataFrame,
      beam: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(max(col("qx")).as("qx"),
        graft.functions.TopKAgg.topKDistinct(
          struct((-col("d")).as("nd"), (-col("cand")).as("nc"),
            col("cand")), beam).as("top"))
      .select(col("qid"), col("qx"), explode(col("top")).as("t"))
      .select(col("qid"), col("qx"), col("t.cand").as("cur"))

  private[graft] def knnBeamWalkFull(q0: DataFrame, fx: DataFrame,
      g: DataFrame, beam: Int = 1, hops: Int = KnnSearchHops)
      : (DataFrame, DataFrame) = {
    // A hop checkpoints its input, the previous hop's scored frame,
    // which the hop's frontier and the visited set both read; the
    // last hop's scored frame stays lazy for the one of them a caller
    // reads.
    var scored = knnHopScored(q0, fx, g)
    val hopScored = (2 to hops).map { _ =>
      val prev = graft.ops.Subplan.once(scored)
      scored = knnHopScored(knnHopFrontier(prev, beam), fx, g)
      prev
    } :+ scored
    val visited = hopScored.map(_.select(col("qid"), col("cand"), col("d")))
      .reduce(_ unionAll _)
    val frontier = knnHopFrontier(scored, beam)
      .join(fx.select(col("vec_id").as("cur"), col("x")), "cur")
      .select(col("qid"), col("qx"), col("cur"),
        graft.functions.SqDistLong.sqDist(col("qx"), col("x")).as("d"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("d")).as("nd"), (-col("cur")).as("nc"),
          col("cur"), col("d")), beam).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.cur").as("nn_id"),
        col("col.d").as("d"), (col("pos") + 1).cast("int").as("rk"))
    (frontier, visited)
  }

  /** s36's return depth — ef-search emits the best [[KnnEfTopK]] of
    * the VISITED set, which may exceed the beam width: the frontier
    * is provably the visited set's top-B under (d, id) (the kept set
    * improves monotonically, so anything ever dropped was beaten by
    * every later frontier), so k > B is strictly more answer for the
    * same walk. */
  private[graft] val KnnEfTopK = 5

  /** The s36 body — EF-SEARCH over the landed k-NN graph: the s33
    * beam walk (same entry, same hops, same width — ONE
    * [[knnBeamWalkFull]] loop), but the answer is the best
    * [[KnnEfTopK]] of EVERY vertex the walk ever scored, not the
    * final frontier (HNSW's ef-search return semantics, Malkov &
    * Yashunin 2018 §4 — the searcher maintains the best ef of the
    * visited set). The walk already scores each hop's candidates
    * exactly; ranking their union adds one bounded-heap agg over
    * ≤ hops·(k+1)·B rows per query — still corpus-independent. */
  private def knnEfSearchQuery(s: SparkSession, dir: String): DataFrame = {
    val (fx, q) = knnQueryFrame(s, dir)
    val (_, visited) =
      knnBeamWalkFull(q, fx, knnGraphStore(s, dir), KnnBeamWidth)
    knnEfRank(visited)
  }

  /** The s40 body — FILTERED graph search: s36's ef-search answering
    * only within the query's label class (the ann-benchmarks filtered
    * track, s23/s26's semantics on the GRAPH path — every index
    * family now has its filtered read: trained s23, compressed s26,
    * graph s40). The walk itself is UNfiltered (ONE
    * [[knnBeamWalkFull]] loop — edges don't carry labels, and
    * restricting expansion would disconnect the walk, the documented
    * failure mode of naive filtered graph search); the predicate
    * applies to the VISITED set, which the loop scores exactly
    * anyway, so filtering costs one label fetch restricted to the
    * bounded visited frame (≤ hops·(k+1)·B rows per query broadcast
    * against the label scan — the s17 restricted-fetch shape). Twins
    * inherit their original's label (a planted twin is the same
    * item; the oracle's lb CTE states the same union). Post-filter
    * semantics stated honestly: a query whose visited set holds < k
    * same-label vertices returns fewer rows — s23's documented trade,
    * now symmetric across all three index families. */
  private def knnFilteredSearchQuery(s: SparkSession,
      dir: String): DataFrame = {
    val (fx, q) = knnQueryFrame(s, dir)
    val (_, visited) =
      knnBeamWalkFull(q, fx, knnGraphStore(s, dir), KnnBeamWidth)
    val labOf = emb(s, dir).select(col("vec_id"), col("label"))
    val lab = labOf.unionAll(labOf.select(
      (col("vec_id") + lit(1000000000L)).as("vec_id"), col("label")))
    // The ten query labels ride as a literal map, a bounded driver-side
    // read: a join with the filtered label scan would have the
    // optimizer inject a runtime bloom filter, one more shuffle stage,
    // over the walk's lazy last hop.
    val qlab = typedLit(labOf.filter(col("vec_id") < 10 && col("label").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap)
    // Multiset visited straight into the bounded broadcast (round-18
    // cut with the hop fusion): the pre-`.distinct()` exchange only
    // shrank below the ≤ hops·B(k+1) rows-per-query constant, and
    // knnEfRank's set-semantics heap dedups the matched rows.
    val want = visited.select(col("qid"), col("cand").as("vec_id"),
      col("d"), element_at(qlab, col("qid")).as("qlabel"))
    val matched = lab.join(broadcast(want), Seq("vec_id"))
      .filter(col("label") === col("qlabel"))
      .select(col("qid"), col("vec_id").as("cand"), col("d"))
    knnEfRank(matched)
  }

  /** The ef ranking tail over a visited (qid, cand, d) frame — ONE
    * definition for the registered s36 and the beam/entry sweep
    * (PLANS.md round 14), so the measured ef recall is the registered
    * operator's. */
  private[graft] def knnEfRank(visited: DataFrame,
      k: Int = KnnEfTopK): DataFrame =
    // In-heap dedup (round-18 cut): the pre-`.distinct()` was a full
    // exchange of the accumulated visited union; duplicates — across
    // hops AND, since the hop fusion, within one — carry identical
    // (qid, cand, d) rows (exact int64 distances of the same pair),
    // so `topKDistinct` collapses them in the bounded heap instead.
    visited
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKDistinct(
        struct((-col("d")).as("nd"), (-col("cand")).as("nc"),
          col("cand"), col("d")), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.cand").as("nn_id"),
        col("col.d").as("d"), (col("pos") + 1).cast("int").as("rk"))

  /** The d17 body — the k-NN graph as d13's edge source: graph edges
    * verified at exact cosine ≥ 0.99 (d05's threshold — on the
    * planted corpus exactly the twin pairs, which are mutual NN-1 and
    * band-identical, so the graph cannot miss them), then the SAME
    * [[embClusterDecision]] contraction + canonical d13 runs. The
    * SemDeDup-class composition: at scale the graph's edge set is
    * richer than band collisions alone (descent finds near pairs
    * whose bands never collide), and the decision layer is unchanged
    * — pair-source-agnostic by construction. */
  private def knnClustersQuery(s: SparkSession, dir: String): DataFrame = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val verified = knnGraphStore(s, dir)
      .select(col("v").as("ia"), col("w").as("ib"))
      .join(all.select(col("vec_id").as("ia"), col("v").as("va")), "ia")
      .join(all.select(col("vec_id").as("ib"), col("v").as("vb")), "ib")
      .filter(cosine(col("va"), col("vb")) >= 0.99)
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"))
      .distinct()
    embClusterDecision(all, verified)
  }

  // ---------------------------------------------------------------
  // s34/s35 — k-NN GRAPH MAINTENANCE, the missing arc of the index
  // lifecycle (every other index family has CRUD: s18/s22 insert,
  // s24/s25 delete; the graph — the most expensive index to build —
  // had none): a production near-dup pipeline ingests batches daily
  // and cannot re-run full NN-descent per batch. Insert restricts
  // descent to the TOUCHED NEIGHBORHOOD (batch ∪ every vertex its
  // seeds reach), delete heals dangling lists from the retired
  // vertices' own surviving lists — both deterministic (the exact-
  // int64 machinery of s29), so the DuckDB oracles unroll them. The
  // reference's append-upsert sink semantics (ccdc/cassandra.py:45-63,
  // PK dedup per resources/schema.cql:142) is the same whole-key-group
  // discipline s18 ports.
  // ---------------------------------------------------------------

  /** Insert-descent round budget: fixed so the oracle can unroll (the
    * [[KnnRounds]] discipline) and the measured FIXPOINT on the spec
    * fixture (`Soak --knn-ins` at sf0.001: per-round changed-edge
    * counts 336, 194, 50, 14, 2, 0 — ExtSpec pins that round 7
    * changes nothing). Fewer rounds than the full build's 8: the
    * seeds start from the stored graph's fixpoint lists, not from
    * scratch. A knob change needs a fresh `--knn-ins` measurement. */
  private[graft] val KnnInsRounds = 6

  /** Hive-partition fan of the landed graph stores (pt = v mod this):
    * the unit of the dynamic-partition upsert. At 100 TB this is the
    * store's real partition count (thousands); the fixture keeps it
    * small so a batch still touches a proper subset. */
  private[graft] val KnnGraphParts = 16

  private def ptCol(c: Column): Column =
    pmod(c, lit(KnnGraphParts.toLong)).cast("int")

  /** The insert SEED pairs for a batch arriving into `all`: the
    * batch's own md5 exploration draws (the [[knnInitDraws]] family —
    * same ':knn' keys, same full-corpus index space), band collisions
    * touching the batch (batch bands probe ALL bands — batch–existing
    * and batch–batch), and the STORED GRAPH's neighbors of those
    * collision partners (a collision says "b lands near w"; w's list
    * is the cheapest description of near-w). Symmetrized, so every
    * existing vertex a seed reaches gets the chance to adopt the new
    * vector into its own list — without the flip, inserts could only
    * ever ADD vertices' knowledge of the batch, never the reverse. */
  private[graft] def knnBatchSeed(stored: DataFrame, all: DataFrame,
      batchIds: DataFrame,
      corpusBands: Option[DataFrame] = None): DataFrame = {
    val bt = broadcast(batchIds.select(col("vec_id")))
    val drw = knnInitDraws(all)
      .join(bt.select(col("vec_id").as("v")), Seq("v"), "left_semi")
    // Batch bands compute batch-side only; the probe side is the
    // LANDED corpus bands when the caller has them (s34 — at scale
    // re-banding the corpus per batch would be the fold's only
    // corpus-sized compute) ∪ the batch's own bands (batch–batch
    // collisions), else banded in lineage (the twin's in-memory
    // corpus; ONE knnBands text either way, so the keys can't
    // drift).
    // The batch-derived sides are batch-BOUNDED (the fold's stated
    // premise — the same bound that justifies the touched-set
    // broadcasts below), so they take the build side of both seed
    // joins: the band probe streams map-side over the LANDED corpus
    // bands (d19's zero-exchange economics), and the stored-graph
    // expansion streams map-side over the store scan.
    val batchBands = broadcast(
      knnBands(all.join(bt, Seq("vec_id"), "left_semi")))
    val probeBands = corpusBands.map(_.unionByName(batchBands))
      .getOrElse(knnBands(all))
    // The bp broadcast's bound is the fold's stated batch-boundedness
    // premise: collisions per batch band row are the band-bucket
    // occupancy, which the 4×16-bit banding keeps at ~corpus/2¹⁶ per
    // bucket — |bp| ≈ 4·|batch|·(N/2¹⁶), megabytes at any realistic
    // batch and far under broadcast limits until a degenerate
    // all-identical-vector corpus collapses the band space (SkewSpec's
    // hub-batch fixture pins the margins). A runtime gate here was
    // measured at ~+0.7 s/batch (a checkpoint + count job on the hot
    // path — round-16 note in PLANS.md): the observable-safety trade
    // goes the other way, so the bound is DOCUMENTED, not metered; if
    // a deployment's band space degenerates, swap in the t21
    // real-size gate (Text.T21BroadcastMaxKeys) at this hint.
    val bp = batchBands.as("a")
      .join(probeBands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("v"), col("b.vec_id").as("w"))
    val gx = broadcast(bp.select(col("v"), col("w").as("u")))
      .join(stored.select(col("v").as("u"), col("w").as("x")), Seq("u"))
      .select(col("v"), col("x").as("w"))
      .filter(col("v") =!= col("w"))
    val oneWay = drw.unionAll(bp).unionAll(gx)
    oneWay.unionAll(oneWay.select(col("w").as("v"), col("v").as("w")))
      .filter(col("v") =!= col("w"))
  }

  /** THE graph-insert fold — ONE definition for batch s34 and
    * [[graft.streaming.DocStreams.KnnGraphMaintenance]]: seed the
    * batch ([[knnBatchSeed]]), fix the touched set T = every seed
    * endpoint ONCE, then [[KnnInsRounds]] descent rounds RESTRICTED to
    * T (the same [[knnRoundCand]] candidate generator, semi-joined to
    * T on the owner side — only touched vertices' lists may move, so
    * the state stays batch-neighborhood-sized and the round cost
    * scales with |T|·(2k)², never the corpus). T-owners start from
    * their STORED lists merged with the scored seeds, so existing
    * knowledge is never lost and lists improve monotonically under
    * (d, id) exactly as the full build's do. Emits the touched
    * owners' final lists (v, w, d) — the rows to upsert; untouched
    * owners' stored rows are by construction unchanged. */
  private[graft] def knnInsertDelta(stored: DataFrame, all: DataFrame,
      batchIds: DataFrame, k: Int = KnnK,
      rounds: Int = KnnInsRounds,
      corpusBands: Option[DataFrame] = None): DataFrame = {
    val seed = graft.ops.Subplan.once(
      knnBatchSeed(stored, all, batchIds, corpusBands))
    val touched = broadcast(seed.select(col("v")).distinct())
    // The scoring lattice restricted to the fold's REACHABLE CLOSURE
    // — touched owners ∪ the members of their stored lists: every id
    // any stage can score (induction: L0's members are stored-list
    // members ∪ seed partners; a round's candidates pair members of
    // the current lists, and new members only ever enter from scored
    // candidates). A broadcast-keyed corpus scan (the reference's
    // keyed-read shape, chip.py:39-51) whose OUTPUT is
    // neighborhood-sized — never a full-lattice materialization per
    // batch. (Seed endpoints are raw, pre-scoring: on the full
    // corpus every referenced id exists; an id with no lattice row
    // simply never scores and owns no rows — harmless.)
    val fxKeys = broadcast(
      seed.select(col("v"))
        .unionAll(seed.select(col("w").as("v")))
        .unionAll(stored.join(touched, Seq("v"), "left_semi")
          .select(col("w").as("v")))
        .distinct())
    // The restricted lattice is neighborhood-BOUNDED (|fxKeys| ≤
    // |seed endpoints| + |touched|·k rows), so it broadcasts into
    // every scoring join — each round's two lattice joins plan as
    // broadcast hash joins instead of tiny-but-scheduled shuffles
    // (measured ~35% off the per-round floor at sf0.1; the full
    // build's corpus-sized fx must NOT take this hint, which is why
    // it rides the call site, not knnScore).
    val fx = broadcast(graft.ops.Subplan.once(knnFx(all)
      .join(fxKeys.select(col("v").as("vec_id")), Seq("vec_id"), "left_semi")))
    // Seed scores fold straight into the init list build — `seed` is
    // already checkpointed, and the scored frame is referenced
    // exactly once, so a second checkpoint here bought nothing but
    // one more per-batch job.
    var nbr = graft.ops.Subplan.once(knnTopK(
      stored.join(touched, Seq("v"), "left_semi")
        .unionAll(knnScore(seed, fx)), k))
    for (_ <- 1 to rounds)
      nbr = graft.ops.Subplan.once(knnRound(nbr, fx, k, Some(touched)))
    nbr
  }

  /** THE touched-partition upsert content — ONE merge statement for
    * s34's insert and s35's delete-heal: the READ-ONLY base
    * generation's touched partitions, minus retired owners (s35
    * only), minus the replaced owners, ∪ the replacement lists. The
    * source is the BASE store, never the mutated copy: the fold is a
    * pure function of (base, batch), so merging from base yields the
    * same content on every invocation (idempotent by construction)
    * WITHOUT the checkpoint-before-overwrite a self-read-write would
    * force — the round-15 store-mechanics decomposition's first
    * action, removed. The scan prunes by the STATIC pt values
    * (PlanSpec pins PartitionFilters + broadcast-only joins on this
    * very definition). */
  private[graft] def knnUpsertContent(s: SparkSession, basePath: String,
      ptVals: Seq[Int], repl: DataFrame,
      retired: Option[DataFrame] = None): DataFrame = {
    val touched = broadcast(repl.select(col("v")).distinct())
    val kept0 = s.read.parquet(basePath)
      .filter(col("pt").isin(ptVals: _*))
    val kept = retired.map(del => kept0.join(
        broadcast(del.select(col("vec_id").as("v"))), Seq("v"), "left_anti"))
      .getOrElse(kept0)
    kept.join(touched, Seq("v"), "left_anti")
      .select(col("v"), col("w"), col("d"))
      .unionByName(repl)
      .withColumn("pt", ptCol(col("v")))
  }

  /** THE graph-delete heal — ONE definition for batch s35 and the
    * streaming twin's retire: owners that survive but reference a
    * retired id rebuild their lists from (their own surviving edges) ∪
    * (each retired neighbor's surviving list — the classic graph-ANN
    * heal: when w dies, w's neighbors are the best candidates for the
    * hole w leaves), rescored exactly and re-topped at k (s24's
    * anti-join discipline on the edge rows; lists may come back
    * SHORTER than k when the pool is thin — honest, never padded).
    * Untouched owners keep their rows verbatim. Emits the touched
    * survivors' healed lists (v, w, d). */
  private[graft] def knnDeleteHeal(stored: DataFrame, fx: DataFrame,
      delIds: DataFrame, k: Int = KnnK): DataFrame = {
    val del = broadcast(delIds.select(col("vec_id")))
    val delV = broadcast(del.select(col("vec_id").as("v")))
    val delW = broadcast(del.select(col("vec_id").as("w")))
    val touched = broadcast(stored
      .join(delW, Seq("w"), "left_semi")
      .join(delV, Seq("v"), "left_anti")
      .select(col("v")).distinct())
    val own = stored.join(touched, Seq("v"), "left_semi")
      .join(delW, Seq("w"), "left_anti")
      .select(col("v"), col("w"))
    val inh = stored.join(touched, Seq("v"), "left_semi")
      .join(delW, Seq("w"), "left_semi")
      .select(col("v"), col("w").as("u"))
      .join(stored.select(col("v").as("u"), col("w").as("x")), Seq("u"))
      .join(broadcast(del.select(col("vec_id").as("x"))), Seq("x"), "left_anti")
      .select(col("v"), col("x").as("w"))
      .filter(col("v") =!= col("w"))
    knnTopK(knnScore(own.unionAll(inh), fx), k)
  }

  /** The s34 body — BATCH INSERT into the landed k-NN graph. Two
    * stores: `s34_base` holds the pre-batch graph (built over the
    * !annBatchVec subset, READ-ONLY — the generation the fold is
    * defined against, so the fold is a pure function of (base, batch)
    * and repeat invocations are idempotent by construction; the graph
    * fold is context-SENSITIVE, unlike s18's assignment, so folding
    * against an already-mutated store would drift), and `s34_graph`,
    * initialized as its copy and MUTATED by the whole-key-group
    * upsert: [[knnUpsertContent]] over the BASE store's touched
    * partitions, rewritten under dynamic partition overwrite
    * (untouched partitions' files are never opened; merging from the
    * read-only base means no checkpoint-before-overwrite — round
    * 16's store-mechanics cut). Emits the touched owners' ranked
    * lists FROM THE CHECKPOINTED DELTA — the upserted store's
    * touched-owner rows ARE the delta by the merge algebra
    * ((stored − touched) ∪ delta restricted to touched = delta), so
    * re-reading the store after the write bought a scan and nothing
    * else; ExtSpec pins store read-back ≡ answer so the identity
    * stays verified while the query no longer pays it. */
  private def knnGraphInsertQuery(s: SparkSession, dir: String): DataFrame = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val basePath = graft.sources.SessionStore.pathOrBuild(
      s, "s34_base", dir, Seq("v", "w"), Seq("pt")) {
      knnDescentGraph(graft.ops.Subplan.once(all.filter(!annBatchVec)))
        .withColumn("pt", ptCol(col("v")))
    }
    val gPath = graft.sources.SessionStore.pathOrBuild(
      s, "s34_graph", dir, Seq("v", "w"), Seq("pt")) {
      s.read.parquet(basePath)
    }
    val base = s.read.parquet(basePath).select(col("v"), col("w"), col("d"))
    // The existing corpus's bands live in a LANDED table (built once
    // beside the base generation — at scale re-banding the corpus per
    // batch would be the fold's only corpus-sized compute; the d19
    // landed-band-store prescription applied to the graph's seeds).
    val corpusBands = graft.sources.SessionStore.storedOrBuild(
      s, "s34_bands", dir, Seq("vec_id", "band")) {
      knnBands(all.filter(!annBatchVec))
    }
    val delta = knnInsertDelta(
      base, all, all.filter(annBatchVec).select(col("vec_id")),
      corpusBands = Some(corpusBands))
    // The touched partitions as STATIC pruning values — a bounded
    // ≤ [[KnnGraphParts]]-entry driver-side collect (deleteFromStore's
    // metadata-op discipline): the merge read opens ONLY those
    // partitions' files (PlanSpec pins the PartitionFilters on
    // knnUpsertContent), which is the whole point of the partitioned
    // upsert layout.
    val ptVals = delta.select(ptCol(col("v")).as("pt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    graft.sources.Sink.write(
      knnUpsertContent(s, basePath, ptVals, delta),
      gPath, Seq("v", "w"), Seq("pt"))
    knnRanked(delta)
  }

  /** The s35 body — BATCH DELETE from the landed k-NN graph, s34's
    * reverse half (same two-store discipline: `s35_base` read-only
    * pre-delete generation over the FULL corpus, `s35_graph` its
    * mutated copy): the md5 ':del' 1/16 retirement draw drops its
    * owners' rows, and every surviving list that referenced a retired
    * id heals from [[knnDeleteHeal]]'s candidate pools. The write
    * rewrites exactly the partitions holding retired owners or healed
    * owners; a partition emptied of every owner is dropped explicitly
    * (the s24 bounded metadata op — degenerate here, possible at a
    * hot-spot 100 TB layout). Emits the healed owners' ranked lists
    * from the checkpointed heal — identical to the post-delete
    * store's healed-owner rows by the merge algebra, and by
    * construction free of any retired id (ExtSpec pins both). */
  private def knnGraphDeleteQuery(s: SparkSession, dir: String): DataFrame = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val basePath = graft.sources.SessionStore.pathOrBuild(
      s, "s35_base", dir, Seq("v", "w"), Seq("pt")) {
      knnDescentGraph(all).withColumn("pt", ptCol(col("v")))
    }
    val gPath = graft.sources.SessionStore.pathOrBuild(
      s, "s35_graph", dir, Seq("v", "w"), Seq("pt")) {
      s.read.parquet(basePath)
    }
    val base = s.read.parquet(basePath).select(col("v"), col("w"), col("d"))
    val fx = graft.ops.Subplan.once(knnFx(all))
    val delIds = all.filter(annDelVec).select(col("vec_id"))
    val healed = graft.ops.Subplan.once(knnDeleteHeal(base, fx, delIds))
    // Touched partitions (healed owners' ∪ retired owners') as STATIC
    // pruning values — the bounded driver-side metadata op.
    val healedPt = healed.select(ptCol(col("v")).as("pt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val ptVals = (healedPt ++
      delIds.select(ptCol(col("vec_id")).as("pt")).distinct()
        .collect().map(_.getInt(0))).distinct
    // The merged content rides the ONE [[knnUpsertContent]] statement
    // FROM THE BASE store (s34's discipline — no self-read-write, no
    // checkpoint for overwrite safety); the Subplan.once here exists
    // because survivors is consumed TWICE (the emptied-partition
    // collect and the write), not as an overwrite guard.
    val survivors = graft.ops.Subplan.once(
      knnUpsertContent(s, basePath, ptVals, healed, Some(delIds)))
    val emptied = ptVals.toSet --
      survivors.select(col("pt")).distinct().collect().map(_.getInt(0))
    if (emptied.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(gPath)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      emptied.foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"pt=$p"), true)
      }
    }
    if (!survivors.isEmpty)
      graft.sources.Sink.write(survivors, gPath, Seq("v", "w"), Seq("pt"))
    // The post-delete store's healed-owner rows ARE the healed frame
    // (the s34 merge-algebra identity) — answer from the checkpoint;
    // ExtSpec pins store read-back ≡ answer.
    knnRanked(healed)
  }

  /** The POST-DELETE graph state assembled in lineage — (landed base
    * generation rows minus retired owners minus healed owners) ∪ the
    * healed lists, through the ONE [[knnDeleteHeal]] fold (the same
    * algebra s35's touched-partition `survivors` frame applies at
    * store granularity). Returns (base, postDel, fx). Shared by s38
    * (drift: base vs post-delete) and s37 (refine input, inside its
    * generation-build block); `ns` keys the base store per consumer
    * (the s18/s22 own-namespace rule). `postDel` stays lazy: s38 reads
    * it once, and [[knnRefine]]'s first round checkpoints it for s37. */
  private def knnPostDelete(s: SparkSession, dir: String,
      ns: String): (DataFrame, DataFrame, DataFrame) = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val fx = graft.ops.Subplan.once(knnFx(all))
    val basePath = graft.sources.SessionStore.pathOrBuild(
      s, s"${ns}_base", dir, Seq("v", "w"), Seq("pt")) {
      knnDescentGraph(all).withColumn("pt", ptCol(col("v")))
    }
    val base = s.read.parquet(basePath).select(col("v"), col("w"), col("d"))
    val delIds = all.filter(annDelVec).select(col("vec_id"))
    val healed = graft.ops.Subplan.once(knnDeleteHeal(base, fx, delIds))
    val postDel = base
      .join(broadcast(delIds.select(col("vec_id").as("v"))),
        Seq("v"), "left_anti")
      .join(broadcast(healed.select(col("v")).distinct()),
        Seq("v"), "left_anti")
      .unionByName(healed)
    (base, postDel, fx)
  }

  /** Refine-round budget: the [[KnnRounds]]/[[KnnInsRounds]] fixpoint
    * discipline — `Soak --knn-ref` at sf0.001 measures per-round
    * changed-edge counts 238, 32, 4, 2, 2, 0 (round 6 ≡ round 5, and
    * the refine GROWS the edge set 3661 → 3721 — the heal's thin
    * slots re-filled); ExtSpec pins that one more round changes
    * nothing. A knob change needs a fresh `--knn-ref` run. */
  private[graft] val KnnRefineRounds = 5

  /** THE warm-start descent — [[knnDescentGraph]]'s improvement round
    * without the cold init: `rounds` rounds of (symmetrized k-capped
    * adjacency → neighbor-of-neighbor candidates → exact score →
    * k-best merge) starting FROM an existing edge set. ONE definition
    * for s37's generation build and the streaming twin's `refine`.
    * Lists improve monotonically under (d, id) exactly as the cold
    * build's do; owners never grow beyond the input's vertex set
    * (candidates come from lists, which are survivor-only). */
  private[graft] def knnRefine(g0: DataFrame, fx: DataFrame,
      rounds: Int = KnnRefineRounds, k: Int = KnnK): DataFrame = {
    var nbr = g0
    for (_ <- 1 to rounds)
      nbr = knnRound(graft.ops.Subplan.once(nbr), fx, k)
    nbr
  }

  /** The s37 body — GRAPH REFINE, the s32-rebuild analogue for the
    * graph family (closing its lifecycle: build s29 → land → search
    * s31/s33/s36 → insert s34 → delete s35 → drift-detect s38 →
    * refine s37): the post-delete graph's healed lists are only as
    * good as their LOCAL candidate pools (own survivors + retired
    * neighbors' survivors — some come back thin, some suboptimal), so
    * the refresh runs [[KnnRefineRounds]] warm-start descent rounds
    * over the whole survivor graph and lands the result as a NEW
    * GENERATION store (s32's build-alongside-and-swap — never
    * in-place). A warm start costs rounds × survivors with NO re-init
    * scan — the cheap REPAIR NN-descent uniquely offers, priced like
    * one more descent round per round rather than s29's full 8+init.
    * Repair, not rebuild: without fresh exploration draws a few
    * far-tail slots can stay in local minima a cold re-init escapes
    * (ExtSpec measures 3 of ~280 edges on clusterable geometry and
    * pins exact rank-1 + full width + ≥95% tail agreement); the exact
    * reset remains the cold rebuild — s29 over the survivors, landed
    * as a generation exactly like s32. First access per JVM pays base
    * build + heal + refine once; repeats read the landed generation.
    * Emits the refined graph ranked. */
  private def knnGraphRefineQuery(s: SparkSession, dir: String): DataFrame = {
    val refined = graft.sources.SessionStore.storedOrBuild(
      s, "s37r_graph", dir, Seq("v", "w"), Seq("pt")) {
      val (_, postDel, fx) = knnPostDelete(s, dir, "s37")
      knnRefine(postDel, fx).withColumn("pt", ptCol(col("v")))
    }
    knnRanked(refined.select(col("v"), col("w"), col("d")))
  }

  /** THE graph-drift metric — s30's [[indexDriftStats]] discipline
    * for the graph family, the signal that schedules s37's refine
    * (deletes heal locally and never re-descend, so thin lists and
    * edge-energy growth accumulate silently otherwise): per
    * store-partition owner/edge counts, THIN-list count (< k edges —
    * the heal's visible scar), and exact int64 edge energy, for the
    * base generation vs the maintained state. Counts and sums are
    * exact; the means are the ONE final double division (the t22
    * discipline). ONE definition for the s38 batch query and
    * [[graft.streaming.DocStreams.KnnGraphMaintenance]]'s live
    * metric. */
  private[graft] def graphDriftStats(base: DataFrame,
      now: DataFrame): DataFrame = {
    def side(g: DataFrame, pfx: String) = g
      .groupBy(col("v")).agg(count(lit(1)).as("len"), sum(col("d")).as("sd"))
      .groupBy(ptCol(col("v")).as("pt"))
      .agg(count(lit(1)).as(pfx + "_owners"),
        sum(col("len")).as(pfx + "_edges"),
        sum(when(col("len") < KnnK, 1L).otherwise(0L)).as(pfx + "_thin"),
        sum(col("sd")).as(pfx + "_sum_d"))
    side(base, "base").join(side(now, "now"), Seq("pt"), "left")
      .select(col("pt"),
        col("base_owners"), col("base_edges"), col("base_thin"),
        col("base_sum_d"),
        coalesce(col("now_owners"), lit(0L)).as("now_owners"),
        coalesce(col("now_edges"), lit(0L)).as("now_edges"),
        coalesce(col("now_thin"), lit(0L)).as("now_thin"),
        coalesce(col("now_sum_d"), lit(0L)).as("now_sum_d"),
        (col("base_sum_d").cast("double") / col("base_edges"))
          .as("mean_d_base"),
        when(coalesce(col("now_edges"), lit(0L)) > 0,
          col("now_sum_d").cast("double") / col("now_edges"))
          .otherwise(lit(null).cast("double")).as("mean_d_now"))
  }

  /** The s38 body — drift of the post-delete maintained graph against
    * its base generation, per store partition (a LEFT join from the
    * base side: a partition whose owners all retired still reports —
    * with zeroed now-side counts — because an emptied partition is
    * exactly the row an operator must see). */
  private def graphDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val (base, postDel, _) = knnPostDelete(s, dir, "s38")
    graphDriftStats(base, postDel)
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
    * nothing here runs (the s15 fxOf lesson). */
  private def s21Store(s: SparkSession,
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
    * lands in; Sink.write materializes the merged content first, so
    * the overwrite never reads the files it replaces; the pk dedup
    * makes a repeated upsert idempotent). The probe is s21's: per-cell
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

  /** s03's block-grid width: the corpus splits into B = 32 blocks
    * (block = vec_id mod B), each probe vector is replicated to all B
    * blocks, and the exact NN-1 join runs as B co-partitioned
    * hash-join cells. Per-task build memory = N/B corpus vectors —
    * at deploy scale raise B so a block fits an executor (replication
    * cost on the probe side grows linearly with B; compute is N²
    * either way, that is what "exact" costs — s05 is the approximate
    * path that cuts compute too). 32 matches local shuffle
    * parallelism. */
  private val Nn1Blocks = 32

  // The JL ±1 sign matrix lives in [[graft.functions.RpProject.signs]]
  // (ONE definition for the native expression, the FunctionsSpec
  // composed-form pin, and this file's s04 registration).

  /** Per-vector int8 scalar quantization: [min,max] of each vector maps
    * linearly onto 0..255 (stored with its scale/offset). 4× smaller
    * embedding storage — at 100 TB the difference between an ANN corpus
    * that fits executor memory and one that doesn't. Pure column
    * algebra, fully codegen'd.
    *
    * Rounding is `floor(q + 0.5)` rather than `round()`: the codes are
    * non-negative so the two agree everywhere except a sub-ulp
    * boundary corner, and floor is a single exactly-specified IEEE op
    * in every engine — which is what lets s06 put the kernel under the
    * cross-engine hash check (Spark's round() goes through BigDecimal
    * HALF_UP string semantics that no SQL engine replicates).
    *
    * lo/scale are LET-BOUND via a single-element struct array whose
    * lambda the element loop nests inside: Catalyst's project collapse
    * otherwise inlines a plain `withColumn` lo/scale into the
    * per-element lambda, re-running both array reductions for every
    * element — O(d²) per row, a measured 12× slowdown at sf1 (10.1 s
    * → 0.8 s for 20k×64 vectors). Lambda-variable reads are free. */
  def quantize(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val q8 = element_at(transform(
      array(struct(array_min(v).as("lo"),
        ((array_max(v) - array_min(v)) / lit(255.0)).as("scale"))),
      s => transform(v, x =>
        when(s.getField("scale") === 0.0, lit(0))
          .otherwise(floor((x - s.getField("lo")) / s.getField("scale") + lit(0.5))
            .cast("int")))), 1)
    df
      .withColumn(s"${vecCol}_q8", q8)
      .withColumn(s"${vecCol}_offset", array_min(v).cast("double"))
      .withColumn(s"${vecCol}_scale",
        ((array_max(v) - array_min(v)) / lit(255.0)).cast("double"))
      .drop(vecCol)
  }

  /** Inverse of [[quantize]] (lossy: ≤ scale/2 absolute error/element). */
  def dequantize(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol, transform(col(s"${vecCol}_q8"), q =>
        q.cast("double") * col(s"${vecCol}_scale") + col(s"${vecCol}_offset")))
      .drop(s"${vecCol}_q8", s"${vecCol}_offset", s"${vecCol}_scale")

  /** The grid-IVF oracle at per-axis probe radii — the BETWEEN
    * windows are the SQL statement of [[probeOffsets]]'s cartesian
    * explode, ONE generator for s08 ((1,1)), s10 ((2,2)), and s11
    * ((2,2,1)). */
  /** The grid-probe CTE chain (e, g, q, cand, scored) — ONE text for
    * the s08/s10/s11/s12 oracles and s44's recall probe (`probeWhere`
    * re-points the query set at the draw, the kmeansChainCtesFrom
    * discipline). */
  private def ivfGridCtes(radii: Seq[Int],
      probeWhere: String = "vec_id < 10"): String = {
    val n = radii.length
    val cells = (1 to n).map(i =>
      s"    CAST(floor(v[$i] / 0.125) AS BIGINT) AS c$i").mkString(",\n")
    val qcells = (1 to n).map(i => s"c$i AS qc$i").mkString(", ")
    val windows = radii.zipWithIndex.map { case (r, i0) =>
      val i = i0 + 1
      s"g.c$i BETWEEN q.qc$i - $r AND q.qc$i + $r"
    }.mkString("\n   AND ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |g AS (SELECT vec_id, v,
       |$cells
       |  FROM e),
       |q AS (SELECT vec_id AS qid, v AS qv, $qcells
       |  FROM g WHERE $probeWhere),
       |cand AS (SELECT q.qid, q.qv, g.vec_id AS nn_id, g.v
       |  FROM q JOIN g
       |    ON $windows
       |   AND g.vec_id <> q.qid),
       |scored AS (SELECT qid, nn_id,
       |    list_dot_product(qv, v)
       |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
       |      AS cos_sim
       |  FROM cand)""".stripMargin
  }

  private def ivfGridOracleSql(radii: Seq[Int]): String =
    s"""WITH ${ivfGridCtes(radii)},
       |rk AS (SELECT qid, nn_id, cos_sim, ROW_NUMBER() OVER
       |    (PARTITION BY qid ORDER BY cos_sim DESC, nn_id ASC) AS rk
       |  FROM scored)
       |SELECT qid, nn_id, cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM rk WHERE rk <= 5""".stripMargin

  /** The s13 oracle: the exact-integer Lloyd loop unrolled to
    * [[KmIters]] CTE rounds — every arithmetic step (fixed-point
    * floor, int64 squared distance, truncating-division mean with the
    * 2²⁰ non-negative shift, LEFT JOIN + COALESCE empty-cluster rule)
    * restated in the SAME integer semantics the Spark body computes,
    * so centroids, postings, probe cells, and the final top-5 all
    * hash-match. DuckDB `//` truncates toward zero exactly like Spark
    * `div`; the shifted numerator is non-negative, so truncation =
    * floor in both engines. */
  /** Exact-integer squared distance in SQL over `n` dims — the one
    * statement of [[kmDist]]'s arithmetic every trained-quantizer
    * oracle shares. */
  private def sqlDist(x: String, m: String, n: Int = 64): String =
    s"list_sum([($x[i] - $m[i]) * ($x[i] - $m[i]) for i in generate_series(1, $n)])"

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

  private def ivfadcAdcCtesOver(trainPred: Option[String],
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

  private val cosSql =
    """list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"""
      .stripMargin

  /** The 4×16-bit sign banding of corpus CTE `src`, as a CTE named
    * `name` — ONE SQL statement of the banding formula however many
    * corpora an oracle bands (d05/d13/s09 band `al`; d15 bands its
    * extended `al2`), so no oracle's bands can drift from another's. */
  private def bandsCteOver(name: String, src: String): String =
    s"""$name AS (SELECT vec_id, b AS band,
      |    string_agg(CASE WHEN v[b*16 + i] >= 0 THEN '1' ELSE '0' END,
      |               '' ORDER BY i) AS sig
      |  FROM $src, unnest(generate_series(0, 3)) u(b),
      |           unnest(generate_series(1, 16)) w(i)
      |  GROUP BY vec_id, b)""".stripMargin

  /** Band-collision candidates + exact-cosine verify over a banded
    * corpus — the pair half of the d05 construction, parameterized the
    * same way as [[bandsCteOver]]. */
  private def pairsCteOver(al: String, bands: String): String =
    s"""cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM $bands a JOIN $bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
      |scored AS (SELECT c.vec_a, c.vec_b,
      |    list_dot_product(sa.v, sb.v)
      |      / (sqrt(list_dot_product(sa.v, sa.v))
      |         * sqrt(list_dot_product(sb.v, sb.v))) AS cos_sim
      |  FROM cand c
      |  JOIN $al sa ON sa.vec_id = c.vec_a
      |  JOIN $al sb ON sb.vec_id = c.vec_b)""".stripMargin

  /** The planted-twin corpus + sign-band CTE prefix (e/pert/al/bands)
    * shared by every sign-LSH oracle — one SQL statement of the
    * banding so no oracle can drift from another. */
  /** The planted-twin corpus as SQL ([[withPlantedTwins]] verbatim):
    * `e` (the raw read), `pert` (the 1.01-scaled twins), `al` (the
    * union) — ONE statement shared by [[signBaseCte]] (the sign-band
    * family) and the d20 oracle (which trains the coarse quantizer
    * over the same union). */
  private[graft] val twinCorpusCte =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |pert AS (SELECT vec_id + 1000000000 AS vec_id,
      |    [CASE WHEN i = 1 THEN v[i] * 1.01 ELSE v[i] END
      |     for i in generate_series(1, len(v))] AS v
      |  FROM e),
      |al AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM pert)"""
      .stripMargin

  private val signBaseCte =
    s"""$twinCorpusCte,
      |${bandsCteOver("bands", "al")}""".stripMargin

  /** s09's decision CTEs over an existing `al` corpus and `bands`
    * banding — the eval flag, the corpus×eval band collisions, the
    * exact cosine verify. ONE text for the s09 oracle (over
    * [[signBaseCte]]) and the composed t43 chain (over the d20 Lloyd
    * chain's `al` + a re-attached banding). */
  private[graft] val s09TailCtes =
    s"""fl AS (SELECT vec_id,
       |    ('0x' || substr(md5(vec_id || ':eval'), 1, 8))::BIGINT % 8 = 0
       |      AS is_eval
       |  FROM al),
       |cand AS (SELECT DISTINCT a.vec_id AS cvec, b.vec_id AS evec
       |  FROM bands a
       |  JOIN fl fa ON fa.vec_id = a.vec_id AND NOT fa.is_eval
       |  JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |  JOIN fl fb ON fb.vec_id = b.vec_id AND fb.is_eval),
       |scored AS (SELECT c.cvec,
       |    list_dot_product(sa.v, sb.v)
       |      / (sqrt(list_dot_product(sa.v, sa.v))
       |         * sqrt(list_dot_product(sb.v, sb.v))) AS cos_sim
       |  FROM cand c
       |  JOIN al sa ON sa.vec_id = c.cvec
       |  JOIN al sb ON sb.vec_id = c.evec)""".stripMargin

  /** s09's final flag statement over `scored` — the registered
    * oracle's answer and t43's `semflag` CTE body. */
  private[graft] val s09FlagSelect =
    """SELECT cvec AS vec_id, COUNT(*) AS n_eval_matches,
      |  MAX(cos_sim) AS max_cos
      |FROM scored WHERE cos_sim >= 0.99 GROUP BY cvec""".stripMargin

  /** d20's decision CTEs over the Lloyd chain's `post`/`cent`/`al` —
    * own-centroid distances, within-cell verified pairs, the
    * keep-farther losers. ONE text for the d20 oracle and the
    * composed t43 chain. */
  private[graft] val d20TailCtes =
    s"""dc AS (SELECT p.vec_id, p.cid,
       |    CAST(${sqlDist("p.x", "c.m")} AS BIGINT) AS dc2
       |  FROM post p JOIN cent$KmIters c ON c.cid = p.cid),
       |prs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |    a.dc2 AS dc2_a, b.dc2 AS dc2_b
       |  FROM dc a JOIN dc b ON b.cid = a.cid AND a.vec_id < b.vec_id
       |  JOIN al ea ON ea.vec_id = a.vec_id
       |  JOIN al eb ON eb.vec_id = b.vec_id
       |  WHERE list_dot_product(ea.v, eb.v)
       |      / (sqrt(list_dot_product(ea.v, ea.v))
       |         * sqrt(list_dot_product(eb.v, eb.v))) >= 0.99),
       |losers AS (SELECT DISTINCT CASE
       |    WHEN dc2_a < dc2_b THEN va
       |    WHEN dc2_b < dc2_a THEN vb
       |    ELSE greatest(va, vb) END AS vec_id
       |  FROM prs)""".stripMargin

  /** The banding CTE re-attachable to any corpus CTE — exposed for
    * the t43 composed oracle (its `al` comes from the Lloyd chain,
    * not [[signBaseCte]]). */
  private[graft] def bandsCteFor(name: String, src: String): String =
    bandsCteOver(name, src)

  /** The d05 pair-graph CTE skeleton (planted twins + 4×16-bit sign
    * bands + exact cosine verify) shared by the d05 and d13 oracles —
    * one SQL statement of the construction so the pair and cluster
    * oracles can never drift (the m06/m07 `ahashCte` discipline). */
  private val signPairsCte =
    s"""$signBaseCte,
      |${pairsCteOver("al", "bands")}""".stripMargin

  /** d15's corpus/pair skeleton: the d05 prefix extended with the
    * second twin family ([[d15Corpus]] — +2·10⁹, dim-1 × 1.02, every
    * tenth original), rebanded and rescored over the extended corpus
    * through the SAME parameterized CTEs d05 uses. */
  private val d15PairsCte =
    s"""$signBaseCte,
      |pert2 AS (SELECT vec_id + 2000000000 AS vec_id,
      |    [CASE WHEN i = 1 THEN v[i] * 1.02 ELSE v[i] END
      |     for i in generate_series(1, len(v))] AS v
      |  FROM e WHERE vec_id % 10 = 0),
      |al2 AS (SELECT vec_id, v FROM al UNION ALL SELECT vec_id, v FROM pert2),
      |${bandsCteOver("bands2", "al2")},
      |${pairsCteOver("al2", "bands2")}""".stripMargin

  /** One NN-descent improvement round as CTEs, n{r−1} → n{r}: capped
    * reverse lists, symmetrized adjacency, neighbor-of-neighbor
    * candidates, exact scoring, k-best merge — the same statements,
    * in the same (d, id) order, as the engine's round loop. ONE
    * generator for the build chain (s29/s31/s33/s36/d17, defaults)
    * and s34's restricted insert rounds: `p` prefixes every CTE name
    * (the insert chain runs beside the build chain in one oracle),
    * `fx` names the scoring lattice, `restrict` appends the insert
    * rounds' touched-owner semi-join to the candidate generator —
    * exactly [[knnInsertDelta]]'s T-restriction. */
  private def knnRoundCtes(r: Int, fx: String = "fx", p: String = "",
      restrict: String = ""): String =
    s"""${p}rev$r AS (SELECT w AS v, v AS w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY w ORDER BY d ASC, v ASC) AS rk FROM ${p}n${r - 1})
       |  WHERE rk <= $KnnK),
       |${p}adj$r AS MATERIALIZED (SELECT v AS u, w AS p FROM ${p}n${r - 1}
       |  UNION SELECT v AS u, w AS p FROM ${p}rev$r),
       |${p}cnd$r AS (SELECT DISTINCT a.p AS v, b.p AS w
       |  FROM ${p}adj$r a JOIN ${p}adj$r b ON a.u = b.u AND a.p <> b.p$restrict),
       |${p}sc$r AS (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM ${p}cnd$r c JOIN $fx fa ON fa.vec_id = c.v
       |  JOIN $fx fb ON fb.vec_id = c.w),
       |${p}mg$r AS (SELECT v, w, d FROM ${p}n${r - 1}
       |  UNION SELECT v, w, d FROM ${p}sc$r),
       |${p}n$r AS MATERIALIZED (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM ${p}mg$r)
       |  WHERE rk <= $KnnK)""".stripMargin

  /** The NN-descent chain (init draws + band seeds + k-best init +
    * [[KnnRounds]] rounds → CTE n[[KnnRounds]]) over a caller-named
    * corpus/bands/lattice triple — ONE generator for the full-corpus
    * build (s29/s31/s33/s36/d17/s35: `al`/`bands`/`fx`) and s34's
    * PRE-BATCH build (the same chain over the !annBatch subset —
    * subsetting is a WHERE on each frame, never a recomputation).
    * The draw count n_nat is the source's own natural count, exactly
    * as [[knnInitDraws]] counts its input frame. */
  private def knnChainCtes(al: String, bands: String, fx: String): String =
    s"""knn_cnt AS (SELECT COUNT(*) AS n_nat FROM $al
       |  WHERE vec_id < 1000000000),
       |drw AS (SELECT v, CASE WHEN idx < n_nat THEN idx
       |      ELSE idx - n_nat + 1000000000 END AS w
       |  FROM (SELECT a.vec_id AS v, c.n_nat,
       |      ('0x' || substr(md5(a.vec_id || ':knn' || u.j), 1, 8))::BIGINT
       |        % (2 * c.n_nat) AS idx
       |    FROM $al a, knn_cnt c,
       |         unnest(generate_series(1, $KnnInitDraws)) u(j))),
       |bp AS (SELECT a.vec_id AS v, b.vec_id AS w
       |  FROM $bands a JOIN $bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id <> b.vec_id),
       |c0 AS (SELECT DISTINCT v, w FROM (
       |    SELECT v, w FROM drw WHERE v <> w
       |    UNION ALL SELECT v, w FROM bp)),
       |s0 AS (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM c0 c JOIN $fx fa ON fa.vec_id = c.v
       |  JOIN $fx fb ON fb.vec_id = c.w),
       |n0 AS MATERIALIZED (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM s0)
       |  WHERE rk <= $KnnK),
       |${(1 to KnnRounds).map(r => knnRoundCtes(r, fx)).mkString(",\n")}""".stripMargin

  /** The fixed-point lattice CTE over a named corpus. */
  private def knnFxCte(name: String, al: String): String =
    s"""$name AS MATERIALIZED (SELECT vec_id,
       |    [CAST(floor(v[i] * 1048576.0) AS BIGINT)
       |     for i in generate_series(1, 64)] AS x
       |  FROM $al)""".stripMargin

  /** The s29/d17 shared oracle front — the d05 planted/banded prefix
    * ([[signBaseCte]] verbatim), the 2²⁰ fixed-point lattice, the md5
    * init draws mapped through the planted id layout, band-collision
    * seeds, the k-best init lists, then [[KnnRounds]] unrolled
    * improvement rounds ending at CTE n[[KnnRounds]]. */
  private def knnGraphCtes: String =
    s"""$signBaseCte,
       |${knnFxCte("fx", "al")},
       |${knnChainCtes("al", "bands", "fx")}""".stripMargin

  /** The s31/s33 walk CTEs — entry frame + the hops unrolled, each
    * keeping rank ≤ `beam` per query (greedy = beam 1): candidates =
    * frontier ∪ the graph rows' neighbors, ranked by (exact distance,
    * id). ONE generator for both widths AND both query sets (`qWhere`
    * defaults to the registered 10-query frame; s43 walks the recall
    * draw), the knnRoundCtes discipline. */
  private def knnWalkCtes(beam: Int,
      qWhere: String = "vec_id < 10"): String = {
    val hops = (1 to KnnSearchHops).map { t =>
      s"""wc$t AS (SELECT h.qid, h.cur AS cand FROM wh${t - 1} h
         |  UNION SELECT h.qid, g.w FROM wh${t - 1} h
         |    JOIN n$KnnRounds g ON g.v = h.cur),
         |wh$t AS (SELECT qid, cand AS cur FROM (
         |    SELECT c.qid, c.cand, ROW_NUMBER() OVER (PARTITION BY c.qid
         |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, c.cand ASC) AS rk
         |    FROM wc$t c JOIN fx f ON f.vec_id = c.cand
         |    JOIN fx q ON q.vec_id = c.qid
         |    WHERE c.cand <> c.qid) WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""wh0 AS (SELECT vec_id AS qid,
       |    CAST(CASE WHEN vec_id = 0 THEN 1 ELSE 0 END AS BIGINT) AS cur
       |  FROM al WHERE $qWhere),
       |$hops""".stripMargin
  }

  /** The s31 oracle: the unrolled graph chain + the width-1 walk. */
  private def knnSearchOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(1)}
       |SELECT h.qid, h.cur AS nn_id,
       |  CAST(${sqlDist("q.x", "f.x")} AS BIGINT) AS d
       |FROM wh$KnnSearchHops h JOIN fx f ON f.vec_id = h.cur
       |JOIN fx q ON q.vec_id = h.qid""".stripMargin

  /** The s33 oracle: the SAME walk at [[KnnBeamWidth]], final
    * frontier ranked by (exact distance, id). */
  private def knnBeamOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(KnnBeamWidth)}
       |SELECT qid, cur AS nn_id, CAST(dd AS BIGINT) AS d,
       |  CAST(rk AS INTEGER) AS rk
       |FROM (SELECT h.qid, h.cur,
       |    ${sqlDist("q.x", "f.x")} AS dd,
       |    ROW_NUMBER() OVER (PARTITION BY h.qid
       |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, h.cur ASC) AS rk
       |  FROM wh$KnnSearchHops h JOIN fx f ON f.vec_id = h.cur
       |  JOIN fx q ON q.vec_id = h.qid)
       |WHERE rk <= $KnnBeamWidth""".stripMargin

  private def knnGraphOracleSql: String =
    s"""WITH $knnGraphCtes
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |  FROM n$KnnRounds) WHERE rk <= $KnnK""".stripMargin

  /** The d17 oracle: the SAME unrolled graph, edges verified at exact
    * cosine ≥ 0.99, then d13's recursive-CTE components + canonical
    * verbatim. */
  private def knnClustersOracleSql: String =
    s"""WITH RECURSIVE $knnGraphCtes,
       |gp AS (SELECT DISTINCT LEAST(v, w) AS vec_a,
       |    GREATEST(v, w) AS vec_b FROM n$KnnRounds),
       |gsc AS (SELECT g.vec_a, g.vec_b FROM gp g
       |  JOIN al sa ON sa.vec_id = g.vec_a
       |  JOIN al sb ON sb.vec_id = g.vec_b
       |  WHERE list_dot_product(sa.v, sb.v)
       |      / (sqrt(list_dot_product(sa.v, sa.v))
       |         * sqrt(list_dot_product(sb.v, sb.v))) >= 0.99),
       |edges AS (SELECT vec_a AS u, vec_b AS v FROM gsc
       |  UNION SELECT vec_b, vec_a FROM gsc),
       |reach(u, v) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT r.u, g.v FROM reach r JOIN edges g ON r.v = g.u),
       |comp AS (SELECT u AS vec_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
       |nrm AS (SELECT vec_id, list_dot_product(v, v) AS nsq FROM al),
       |crk AS (SELECT c.cluster_id, c.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |      ORDER BY n.nsq DESC, c.vec_id ASC) AS rk,
       |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
       |  FROM comp c JOIN nrm n USING (vec_id)),
       |keep AS (SELECT cluster_id, vec_id AS keep_id, n_members
       |  FROM crk WHERE rk = 1)
       |SELECT c.vec_id, c.cluster_id, k.keep_id, k.n_members
       |FROM comp c JOIN keep k USING (cluster_id)""".stripMargin

  /** The s36 oracle: the SAME walk CTEs at [[KnnBeamWidth]], but the
    * answer ranks the UNION of every hop's candidate set (each wc$t is
    * exactly the frame the engine scores at hop t), best
    * [[KnnEfTopK]] per query by (exact distance, id). */
  private def knnEfOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(KnnBeamWidth)},
       |vis AS (${(1 to KnnSearchHops)
          .map(t => s"SELECT qid, cand FROM wc$t").mkString("\n  UNION\n  ")})
       |SELECT qid, cand AS nn_id, CAST(dd AS BIGINT) AS d,
       |  CAST(rk AS INTEGER) AS rk
       |FROM (SELECT h.qid, h.cand,
       |    ${sqlDist("q.x", "f.x")} AS dd,
       |    ROW_NUMBER() OVER (PARTITION BY h.qid
       |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, h.cand ASC) AS rk
       |  FROM vis h JOIN fx f ON f.vec_id = h.cand
       |  JOIN fx q ON q.vec_id = h.qid
       |  WHERE h.cand <> h.qid)
       |WHERE rk <= $KnnEfTopK""".stripMargin

  /** The s40 oracle: the SAME walk + visited union as s36, answer
    * restricted to the query's label class (lb = labels with the
    * twin inheritance union — one statement of the engine's lab
    * frame), re-ranked within the filtered set. */
  private def knnFilteredOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(KnnBeamWidth)},
       |vis AS (${(1 to KnnSearchHops)
          .map(t => s"SELECT qid, cand FROM wc$t").mkString("\n  UNION\n  ")}),
       |lb AS (SELECT vec_id, label FROM embeddings
       |  UNION ALL SELECT vec_id + 1000000000, label FROM embeddings)
       |SELECT qid, cand AS nn_id, CAST(dd AS BIGINT) AS d,
       |  CAST(rk AS INTEGER) AS rk
       |FROM (SELECT h.qid, h.cand,
       |    ${sqlDist("q.x", "f.x")} AS dd,
       |    ROW_NUMBER() OVER (PARTITION BY h.qid
       |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, h.cand ASC) AS rk
       |  FROM vis h JOIN fx f ON f.vec_id = h.cand
       |  JOIN fx q ON q.vec_id = h.qid
       |  JOIN lb cl ON cl.vec_id = h.cand
       |  JOIN lb ql ON ql.vec_id = h.qid
       |  WHERE h.cand <> h.qid AND cl.label = ql.label)
       |WHERE rk <= $KnnEfTopK""".stripMargin

  /** The s34 oracle — the restricted insert fold unrolled: the
    * PRE-BATCH graph is the SAME chain generator over the !annBatch
    * subset (n0..n[[KnnRounds]]), then batch seeds (draws over the
    * full id space, band collisions touching the batch, stored-graph
    * expansion of collision partners, symmetrized), the touched set,
    * the merged init lists, and [[KnnInsRounds]] restricted rounds
    * (the same round generator with the touched semi-join). Emits the
    * touched owners' final ranked lists — exactly the rows the engine
    * upserts and reads back. */
  private def knnInsertOracleSql: String =
    s"""WITH $signBaseCte,
       |${knnFxCte("fx", "al")},
       |alx AS (SELECT * FROM al WHERE NOT ($annBatchSqlPred)),
       |bandsx AS (SELECT * FROM bands WHERE NOT ($annBatchSqlPred)),
       |fxx AS (SELECT * FROM fx WHERE NOT ($annBatchSqlPred)),
       |${knnChainCtes("alx", "bandsx", "fxx")},
       |bt AS (SELECT vec_id FROM al WHERE $annBatchSqlPred),
       |cntf AS (SELECT COUNT(*) AS n_nat FROM al
       |  WHERE vec_id < 1000000000),
       |drwb AS (SELECT v, CASE WHEN idx < n_nat THEN idx
       |      ELSE idx - n_nat + 1000000000 END AS w
       |  FROM (SELECT a.vec_id AS v, c.n_nat,
       |      ('0x' || substr(md5(a.vec_id || ':knn' || u.j), 1, 8))::BIGINT
       |        % (2 * c.n_nat) AS idx
       |    FROM bt a, cntf c,
       |         unnest(generate_series(1, $KnnInitDraws)) u(j))),
       |bpb AS (SELECT a.vec_id AS v, b.vec_id AS w
       |  FROM bands a JOIN bt t ON t.vec_id = a.vec_id
       |  JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |    AND b.vec_id <> a.vec_id),
       |gxb AS (SELECT p.v, g.w FROM bpb p
       |  JOIN n$KnnRounds g ON g.v = p.w WHERE g.w <> p.v),
       |sd1 AS (SELECT v, w FROM drwb WHERE v <> w
       |  UNION ALL SELECT v, w FROM bpb
       |  UNION ALL SELECT v, w FROM gxb),
       |seed AS (SELECT DISTINCT v, w FROM (
       |    SELECT v, w FROM sd1
       |    UNION ALL SELECT w AS v, v AS w FROM sd1) WHERE v <> w),
       |ss AS MATERIALIZED (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM seed c JOIN fx fa ON fa.vec_id = c.v
       |  JOIN fx fb ON fb.vec_id = c.w),
       |tch AS MATERIALIZED (SELECT DISTINCT v FROM ss),
       |in0 AS MATERIALIZED (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |    FROM (SELECT g.v, g.w, g.d FROM n$KnnRounds g
       |        JOIN tch t ON t.v = g.v
       |      UNION SELECT v, w, d FROM ss))
       |  WHERE rk <= $KnnK),
       |${(1 to KnnInsRounds).map(r =>
          knnRoundCtes(r, "fx", "i", "\n  JOIN tch t ON t.v = a.p"))
          .mkString(",\n")}
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |  FROM in$KnnInsRounds) WHERE rk <= $KnnK""".stripMargin

  /** The delete fold as CTEs — retired draw, touched survivors, the
    * (surviving own ∪ inherited-from-retired-neighbor) candidate
    * pools, exact rescoring, the healed k-best, and the assembled
    * post-delete graph `pdel` — [[knnDeleteHeal]] statement for
    * statement. ONE generator for s35 (reads `healed`), s37 (refines
    * `pdel`), s38 (aggregates base vs `pdel`); CTEs an oracle doesn't
    * read stay lazy (the bpeChainCte rule). */
  private def knnDeleteCtes: String =
    s"""dl AS (SELECT vec_id FROM al WHERE ${annDelSqlPredOn("vec_id")}),
       |dtch AS (SELECT DISTINCT g.v FROM n$KnnRounds g
       |  JOIN dl d ON d.vec_id = g.w
       |  WHERE g.v NOT IN (SELECT vec_id FROM dl)),
       |own AS (SELECT g.v, g.w FROM n$KnnRounds g
       |  JOIN dtch t ON t.v = g.v
       |  WHERE g.w NOT IN (SELECT vec_id FROM dl)),
       |inh AS (SELECT a.v, b.w FROM n$KnnRounds a
       |  JOIN dtch t ON t.v = a.v
       |  JOIN dl d ON d.vec_id = a.w
       |  JOIN n$KnnRounds b ON b.v = a.w
       |  WHERE b.w NOT IN (SELECT vec_id FROM dl) AND b.w <> a.v),
       |pool AS (SELECT DISTINCT v, w FROM (
       |    SELECT v, w FROM own UNION ALL SELECT v, w FROM inh)),
       |psc AS (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM pool c JOIN fx fa ON fa.vec_id = c.v
       |  JOIN fx fb ON fb.vec_id = c.w),
       |healed AS (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM psc)
       |  WHERE rk <= $KnnK),
       |pdel AS (SELECT g.v, g.w, g.d FROM n$KnnRounds g
       |  WHERE g.v NOT IN (SELECT vec_id FROM dl)
       |    AND g.v NOT IN (SELECT v FROM dtch)
       |  UNION ALL SELECT v, w, d FROM healed)""".stripMargin

  /** The s35 oracle — the heal unrolled over the full-corpus chain,
    * ranked. */
  private def knnDeleteOracleSql: String =
    s"""WITH $knnGraphCtes,
       |$knnDeleteCtes
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM healed)
       |WHERE rk <= $KnnK""".stripMargin

  /** The s37 oracle — the post-delete graph refined through the SAME
    * round generator ([[knnRoundCtes]], prefix `g`, no restriction —
    * the warm-start rounds are unrestricted), final graph ranked. */
  private def knnRefineOracleSql: String =
    s"""WITH $knnGraphCtes,
       |$knnDeleteCtes,
       |gn0 AS MATERIALIZED (SELECT v, w, d FROM pdel),
       |${(1 to KnnRefineRounds).map(r =>
          knnRoundCtes(r, "fx", "g")).mkString(",\n")}
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |  FROM gn$KnnRefineRounds) WHERE rk <= $KnnK""".stripMargin

  /** The s38 oracle — [[graphDriftStats]] restated: per-owner
    * (length, energy), rolled up per store partition (pt = v mod
    * [[KnnGraphParts]] — deterministic, so it IS oracle-visible),
    * base generation LEFT-joined to the post-delete state. */
  private def graphDriftOracleSql: String =
    s"""WITH $knnGraphCtes,
       |$knnDeleteCtes,
       |bow AS (SELECT v, COUNT(*) AS len, SUM(d) AS sd
       |  FROM n$KnnRounds GROUP BY v),
       |bst AS (SELECT CAST(v % $KnnGraphParts AS INTEGER) AS pt,
       |    COUNT(*) AS base_owners, CAST(SUM(len) AS BIGINT) AS base_edges,
       |    CAST(SUM(CASE WHEN len < $KnnK THEN 1 ELSE 0 END) AS BIGINT)
       |      AS base_thin,
       |    CAST(SUM(sd) AS BIGINT) AS base_sum_d
       |  FROM bow GROUP BY 1),
       |nowo AS (SELECT v, COUNT(*) AS len, SUM(d) AS sd
       |  FROM pdel GROUP BY v),
       |nst AS (SELECT CAST(v % $KnnGraphParts AS INTEGER) AS pt,
       |    COUNT(*) AS now_owners, CAST(SUM(len) AS BIGINT) AS now_edges,
       |    CAST(SUM(CASE WHEN len < $KnnK THEN 1 ELSE 0 END) AS BIGINT)
       |      AS now_thin,
       |    CAST(SUM(sd) AS BIGINT) AS now_sum_d
       |  FROM nowo GROUP BY 1)
       |SELECT b.pt, b.base_owners, b.base_edges, b.base_thin, b.base_sum_d,
       |  CAST(coalesce(n.now_owners, 0) AS BIGINT) AS now_owners,
       |  CAST(coalesce(n.now_edges, 0) AS BIGINT) AS now_edges,
       |  CAST(coalesce(n.now_thin, 0) AS BIGINT) AS now_thin,
       |  CAST(coalesce(n.now_sum_d, 0) AS BIGINT) AS now_sum_d,
       |  CAST(b.base_sum_d AS DOUBLE) / b.base_edges AS mean_d_base,
       |  CASE WHEN coalesce(n.now_edges, 0) > 0
       |    THEN CAST(n.now_sum_d AS DOUBLE) / n.now_edges END AS mean_d_now
       |FROM bst b LEFT JOIN nst n USING (pt)""".stripMargin

  /** The cosine-family exact-NN-1 truth CTE of the recall monitors —
    * the naive per-query full-corpus ROW_NUMBER over `e`, restricted
    * to the ':rq' draw. ONE text for s41 and s42 (their truth IS the
    * same statement; only the probe side differs). */
  private def recallExCosCte: String =
    s"""ex AS (SELECT qid, nn_id AS nn_exact FROM (
       |  SELECT s.vec_id AS qid, t.vec_id AS nn_id,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |      list_dot_product(s.v, t.v)
       |        / (sqrt(list_dot_product(s.v, s.v))
       |           * sqrt(list_dot_product(t.v, t.v))) DESC,
       |      t.vec_id ASC) AS rn
       |  FROM e s JOIN e t ON t.vec_id <> s.vec_id
       |  WHERE $recallDrawSql) WHERE rn = 1)""".stripMargin

  /** The hit-flag tail of every recall-monitor oracle — the SQL
    * statement of [[recallFlags]], assuming CTEs `ex`(qid, nn_exact)
    * and `top5`(qid, nn_id, rk). ONE text for s41/s42/s43. */
  private def recallHitsSql: String =
    s"""SELECT ex.qid, ex.nn_exact,
       |  SUM(CASE WHEN t.rk = 1 AND t.nn_id = ex.nn_exact
       |      THEN 1 ELSE 0 END) > 0 AS hit1,
       |  SUM(CASE WHEN t.nn_id = ex.nn_exact THEN 1 ELSE 0 END) > 0
       |    AS hit5
       |FROM ex LEFT JOIN top5 t ON t.qid = ex.qid
       |GROUP BY 1, 2""".stripMargin

  val oracle: Map[String, String] = Map(
    "s29_knn_graph" -> knnGraphOracleSql,
    "s31_knn_graph_search" -> knnSearchOracleSql,
    "s33_knn_beam_search" -> knnBeamOracleSql,
    "s34_knn_graph_insert" -> knnInsertOracleSql,
    "s35_knn_graph_delete" -> knnDeleteOracleSql,
    "s36_knn_efsearch" -> knnEfOracleSql,
    "s37_knn_graph_refine" -> knnRefineOracleSql,
    "s38_knn_graph_drift" -> graphDriftOracleSql,
    "s40_filtered_knn_search" -> knnFilteredOracleSql,
    "d17_knn_graph_clusters" -> knnClustersOracleSql,
    // s41: the ONE Lloyd chain with the probe set re-pointed at the
    // recall draw, the probe top-5 restated relationally, and the
    // exact side as the naive per-query full-corpus ROW_NUMBER — the
    // engine's block-grid truth and bounded-heap probe must both
    // match the naive statements.
    "s41_recall_probe" ->
      s"""WITH ${kmeansChainCtesFrom(
             "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)",
             "e", None, recallDrawSql)},
         |cand AS (SELECT p.qid, g.vec_id AS nn_id
         |  FROM pr p JOIN post g ON g.cid = p.cid WHERE g.vec_id <> p.qid),
         |scored AS (SELECT c.qid, c.nn_id,
         |    list_dot_product(qe.v, ge.v)
         |      / (sqrt(list_dot_product(qe.v, qe.v))
         |         * sqrt(list_dot_product(ge.v, ge.v))) AS cos_sim
         |  FROM cand c JOIN e qe ON qe.vec_id = c.qid
         |  JOIN e ge ON ge.vec_id = c.nn_id),
         |top5 AS (SELECT qid, nn_id, rk FROM (
         |  SELECT qid, nn_id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM scored) WHERE rk <= 5),
         |$recallExCosCte
         |$recallHitsSql""".stripMargin,

    // s42: the SAME truth and hit statements as s41; the probe side
    // is the s17/s28 ADC + rerank chain with its probe set re-pointed
    // at the recall draw (one chain, one rerank text — the engine's
    // stored-index read path must match the naive statements end to
    // end).
    "s42_recall_adc_probe" ->
      s"""WITH ${ivfadcAdcCtesOver(None, recallDrawSql)},
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
         |top5 AS (SELECT qid, nn_id, rk FROM (
         |  SELECT qid, nn_id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM rescored) WHERE rk <= 5),
         |$recallExCosCte
         |$recallHitsSql""".stripMargin,

    // s43: the unrolled graph chain + the SAME walk CTEs re-pointed
    // at the recall draw, visited union ranked to top-5; truth = the
    // naive per-query exact-int64 NN-1 over the twin lattice (the
    // walk's own metric); the SAME hit statement.
    "s43_recall_graph_probe" ->
      s"""WITH $knnGraphCtes,
         |${knnWalkCtes(KnnBeamWidth, recallDrawSqlOn("vec_id"))},
         |vis AS (${(1 to KnnSearchHops)
            .map(t => s"SELECT qid, cand FROM wc$t").mkString("\n  UNION\n  ")}),
         |top5 AS (SELECT qid, cand AS nn_id, rk FROM (
         |  SELECT h.qid, h.cand, ROW_NUMBER() OVER (PARTITION BY h.qid
         |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, h.cand ASC) AS rk
         |    FROM vis h JOIN fx f ON f.vec_id = h.cand
         |    JOIN fx q ON q.vec_id = h.qid
         |    WHERE h.cand <> h.qid) WHERE rk <= $KnnEfTopK),
         |ex AS (SELECT qid, nn_id AS nn_exact FROM (
         |  SELECT s.vec_id AS qid, t.vec_id AS nn_id,
         |    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
         |      CAST(${sqlDist("s.x", "t.x")} AS BIGINT) ASC,
         |      t.vec_id ASC) AS rn
         |  FROM fx s JOIN fx t ON t.vec_id <> s.vec_id
         |  WHERE ${recallDrawSqlOn("s.vec_id")}) WHERE rn = 1)
         |$recallHitsSql""".stripMargin,

    // s44: the ONE grid-probe chain re-pointed at the draw + the
    // shared cosine truth and hit statements.
    "s44_recall_grid_probe" ->
      s"""WITH ${ivfGridCtes(Seq(1, 1), recallDrawSqlOn("vec_id"))},
         |top5 AS (SELECT qid, nn_id, rk FROM (
         |  SELECT qid, nn_id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM scored) WHERE rk <= 5),
         |$recallExCosCte
         |$recallHitsSql""".stripMargin,
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
    "d05_embedding_neardup" ->
      s"""WITH $signPairsCte
         |SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.99""".stripMargin,
    // d20: the SAME Lloyd chain ([[kmeansChainCtesFrom]]) trained
    // over the planted-twin union, then the SemDeDup decision stated
    // relationally: within-cell pairs at exact cosine ≥ 0.99, the
    // keep-farther-from-centroid rule, one LEFT JOIN for the flag.
    "d20_semdedup" ->
      s"""WITH ${kmeansChainCtesFrom(twinCorpusCte, "al", None,
              kSql = semKSql)},
         |$d20TailCtes
         |SELECT d.vec_id, d.cid, d.dc2, l.vec_id IS NULL AS kept
         |FROM dc d LEFT JOIN losers l ON l.vec_id = d.vec_id""".stripMargin,
    // The corpus-side × eval-side restatement of the band join (same
    // signBaseCte banding; the eval flag is the t08/t13 md5 draw).
    "s09_semantic_decontam" ->
      s"""WITH $signBaseCte,
         |$s09TailCtes
         |$s09FlagSelect""".stripMargin,
    // d07's recursive min-label walk over d05's exhaustive pair graph,
    // then the max-norm canonical (ties to the smallest vec_id).
    "d13_embedding_clusters" ->
      s"""WITH RECURSIVE $signPairsCte,
         |pairs AS (SELECT vec_a, vec_b FROM scored WHERE cos_sim >= 0.99),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
         |  UNION SELECT vec_b, vec_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT r.u, g.v FROM reach r JOIN edges g ON r.v = g.u),
         |comp AS (SELECT u AS vec_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
         |nrm AS (SELECT vec_id, list_dot_product(v, v) AS nsq FROM al),
         |rk AS (SELECT c.cluster_id, c.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
         |      ORDER BY n.nsq DESC, c.vec_id ASC) AS rk,
         |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM comp c JOIN nrm n USING (vec_id)),
         |keep AS (SELECT cluster_id, vec_id AS keep_id, n_members
         |  FROM rk WHERE rk = 1)
         |SELECT c.vec_id, c.cluster_id, k.keep_id, k.n_members
         |FROM comp c JOIN keep k USING (cluster_id)""".stripMargin,
    // The d14 oracle identity for embeddings: a full rebuild over the
    // extended corpus's exhaustive pair graph, restricted to the
    // components containing a batch (vec_id % 7 = 0) vector — the
    // incremental path may touch fewer components, never relabel one.
    "d15_incremental_embedding_clusters" ->
      s"""WITH RECURSIVE $d15PairsCte,
         |pairs AS (SELECT vec_a, vec_b FROM scored WHERE cos_sim >= 0.99),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
         |  UNION SELECT vec_b, vec_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT r.u, g.v FROM reach r JOIN edges g ON r.v = g.u),
         |comp AS (SELECT u AS vec_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
         |touched AS (SELECT DISTINCT cluster_id FROM comp WHERE vec_id % 7 = 0)
         |SELECT c.vec_id, c.cluster_id
         |FROM comp c JOIN touched USING (cluster_id)""".stripMargin,
    "s04_random_projection" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id, CAST(j AS INTEGER) AS j,
        |  list_sum([v[i] * (CASE WHEN ('0x' || substr(md5(i || ':' || j), 1, 1))::INT % 2 = 0
        |                    THEN 1.0 ELSE -1.0 END)
        |            for i in generate_series(1, 64)]) / 4.0 AS val
        |FROM e, unnest(generate_series(0, 15)) u(j)""".stripMargin,
    "s01_ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nn_id,
         |    $cosSql AS cos_sim
         |  FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |rk AS (SELECT qid, nn_id, cos_sim, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM scored)
         |SELECT qid, nn_id, cos_sim, CAST(rk AS INTEGER) AS rk
         |FROM rk WHERE rk <= 5""".stripMargin,
    "s02_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nn_id,
         |    $cosSql AS cos_sim
         |  FROM e a JOIN e b ON a.label = b.label
         |    AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
         |rk AS (SELECT qid, nn_id, cos_sim, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM scored)
         |SELECT qid, nn_id, cos_sim, CAST(rk AS INTEGER) AS rk
         |FROM rk WHERE rk <= 3""".stripMargin,
    // Same CTE skeleton as d05 (planted twins + 4×16-bit sign bands) —
    // candidates in both directions, then rank-1 per vector.
    "s05_blocked_nn1" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pert AS (SELECT vec_id + 1000000000 AS vec_id,
        |    [CASE WHEN i = 1 THEN v[i] * 1.01 ELSE v[i] END
        |     for i in generate_series(1, len(v))] AS v
        |  FROM e),
        |al AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM pert),
        |bands AS (SELECT vec_id, b AS band,
        |    string_agg(CASE WHEN v[b*16 + i] >= 0 THEN '1' ELSE '0' END,
        |               '' ORDER BY i) AS sig
        |  FROM al, unnest(generate_series(0, 3)) u(b),
        |           unnest(generate_series(1, 16)) w(i)
        |  GROUP BY vec_id, b),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nn_id
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id <> b.vec_id),
        |scored AS (SELECT c.vec_id, c.nn_id,
        |    list_dot_product(sa.v, sb.v)
        |      / (sqrt(list_dot_product(sa.v, sa.v))
        |         * sqrt(list_dot_product(sb.v, sb.v))) AS cos_sim
        |  FROM cand c
        |  JOIN al sa ON sa.vec_id = c.vec_id
        |  JOIN al sb ON sb.vec_id = c.nn_id),
        |rk AS (SELECT vec_id, nn_id, cos_sim, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rk
        |  FROM scored)
        |SELECT vec_id, nn_id, cos_sim FROM rk WHERE rk = 1""".stripMargin,
    "s06_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |rng AS (SELECT vec_id, v, list_min(v) AS lo,
        |    (list_max(v) - list_min(v)) / 255.0 AS scale
        |  FROM e)
        |SELECT vec_id, CAST(i AS INTEGER) AS i,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |       ELSE floor((v[i] - lo) / scale + 0.5) END AS INTEGER) AS q8,
        |  lo AS offset, scale
        |FROM rng, unnest(generate_series(1, len(v))) u(i)""".stripMargin,
    "s07_quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |rng AS (SELECT vec_id, v, list_min(v) AS lo,
        |    (list_max(v) - list_min(v)) / 255.0 AS scale
        |  FROM e),
        |q8 AS (SELECT vec_id, lo, scale,
        |    [CASE WHEN scale = 0 THEN 0
        |          ELSE CAST(floor((x - lo) / scale + 0.5) AS BIGINT) END
        |     for x in v] AS q
        |  FROM rng),
        |cs AS (SELECT vec_id, lo, scale, q,
        |    CAST(list_sum(q) AS BIGINT) AS qsum FROM q8),
        |scored AS (SELECT qv.vec_id AS qid, c.vec_id AS nn_id,
        |    (c.scale * qv.scale) * CAST(list_sum([c.q[i] * qv.q[i]
        |        for i in generate_series(1, len(c.q))]) AS BIGINT)
        |      + (qv.lo * c.scale) * c.qsum
        |      + (c.lo * qv.scale) * qv.qsum
        |      + CAST(len(c.q) AS DOUBLE) * (c.lo * qv.lo) AS qdot
        |  FROM cs c JOIN cs qv ON qv.vec_id < 10 AND qv.vec_id <> c.vec_id),
        |rk AS (SELECT qid, nn_id, qdot, ROW_NUMBER() OVER
        |    (PARTITION BY qid ORDER BY qdot DESC, nn_id ASC) AS rk
        |  FROM scored)
        |SELECT qid, nn_id, qdot, CAST(rk AS INTEGER) AS rk
        |FROM rk WHERE rk <= 5""".stripMargin,
    "s08_ivf_grid" -> ivfGridOracleSql(Seq(1, 1)),
    "s10_ivf_grid_wide" -> ivfGridOracleSql(Seq(2, 2)),
    "s11_ivf_grid3" -> ivfGridOracleSql(Seq(2, 2, 1)),
    // s12 lands the SAME index s08 derives in-lineage and probes the
    // same 9 cells — one oracle text states both (the storage topology
    // is not oracle-visible; the partition-pruned plan is PlanSpec's).
    "s12_ivf_grid_stored" -> ivfGridOracleSql(Seq(1, 1)),
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
    // s27: the maxsim chain — fixed-point token lattice, exhaustive
    // per-pair int64 dots (the oracle computes them directly; the
    // engine's norm identity yields the same exact integers), MAX per
    // (query-token, group), SUM per (query, group), rank.
    "s27_maxsim" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |fx AS (SELECT vec_id, vec_id // 8 AS gid,
         |    [CAST(floor(v[i] * 1048576.0) AS BIGINT)
         |     for i in generate_series(1, 64)] AS x
         |  FROM e),
         |q AS (SELECT gid AS qid, vec_id AS qtok, x AS qx
         |  FROM fx WHERE gid < 2),
         |dots AS (SELECT q.qid, q.qtok, g.gid AS nn_id,
         |    CAST(list_sum([q.qx[i] * g.x[i]
         |      for i in generate_series(1, 64)]) AS BIGINT) AS dot
         |  FROM q, fx g WHERE g.gid <> q.qid),
         |best AS (SELECT qid, qtok, nn_id, MAX(dot) AS m
         |  FROM dots GROUP BY 1, 2, 3),
         |sums AS (SELECT qid, nn_id, CAST(SUM(m) AS BIGINT) AS maxsim
         |  FROM best GROUP BY 1, 2),
         |rnk AS (SELECT qid, nn_id, maxsim, ROW_NUMBER() OVER
         |    (PARTITION BY qid ORDER BY maxsim DESC, nn_id ASC) AS rk
         |  FROM sums)
         |SELECT qid, nn_id, maxsim, CAST(rk AS INTEGER) AS rk
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
         |FROM rnk WHERE rk <= 5""".stripMargin,
    "s03_embedding_nn1" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    $cosSql AS cos_sim
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         |rk AS (SELECT vec_id, nn_id, cos_sim, ROW_NUMBER() OVER
         |    (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM scored)
         |SELECT vec_id, nn_id, cos_sim FROM rk WHERE rk = 1""".stripMargin
  )
}
