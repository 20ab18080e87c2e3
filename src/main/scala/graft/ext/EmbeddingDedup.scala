package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity._
import Quantizers.{KmIters, KmK, kmAssign, kmeansCentroids, kmeansChainCtesFrom}

/** Embedding dedup (d05, d13, d15, d20, s09): sign-band near-dup
  * pairs, their clusters and incremental cluster maintenance, SemDeDup
  * over trained cells, and semantic decontamination against a held-out
  * eval draw.
  */
object EmbeddingDedup {

  /** The t08/t13 md5 eval draw applied to vec_id — ONE split
    * discipline across n-gram (t13/t23) and embedding (s09)
    * decontamination; the oracle states the same expression. */
  private[graft] def isEvalVec: Column =
    conv(substring(md5(concat(col("vec_id").cast("string"), lit(":eval"))),
      1, 8), 16, 10).cast("long") % 8 === 0
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
  private[graft] def embClusterDecision(all: DataFrame,
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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

    // SemDeDup — semantic dedup by trained-cell blocking: pairs
    // compared only within a k-means cell, each near-dup pair keeps
    // the member FARTHER from its centroid (exact int64 distance to
    // the exact-integer centroid — the float-mean objection recorded
    // in d13's Scaladoc, dissolved by s13's lattice Lloyd). Same
    // planted-twin corpus as d05/d13.
    "d20_semdedup" -> ((s, dir) =>
      semDedup(withPlantedTwins(emb(s, dir)), semK(corpusN(s, dir))))
  )

  val oracle: Map[String, String] = Map(
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
         |FROM comp c JOIN touched USING (cluster_id)""".stripMargin
  )
}
