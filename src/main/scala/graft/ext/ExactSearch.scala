package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity._

/** Exact and grid search over the embeddings (s01–s08, s10–s12, s27):
  * brute-force and label-cell cosine top-k, the block-grid exact NN-1,
  * sign-band blocked NN-1, random projection, int8 scalar quantization,
  * the integer-grid IVF in-lineage and landed, and exact MaxSim.
  *
  * Scale path: s01 is the brute-force baseline (broadcast the query
  * set, stream the corpus — O(Q·N) but embarrassingly parallel, no
  * shuffle on the corpus side). s02 is the IVF pattern: a coarse
  * quantizer (here the `label` column as cell id) restricts each probe
  * to one cell, turning the scan into a co-partitioned equi-join —
  * the same topology an IVF index gives you at 100 TB.
  */
object ExactSearch {

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
    * the production read path.
    * PlanSpec pins the dynamicpruning expression on the stored postings
    * scan: the landed store is what lets a probe read only its cells'
    * files, so do not probe s08's in-lineage cells instead. */
  private[graft] def s12Probe(s: SparkSession, dir: String,
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
  private[graft] def ivfGridCtes(radii: Seq[Int],
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

  private val cosSql =
    """list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"""
      .stripMargin

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

  val oracle: Map[String, String] = Map(
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
