package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity._
import ExactSearch.{ivfGridCtes, s12Probe}
import KnnGraph.{KnnBeamWidth, KnnEfTopK, KnnSearchHops, knnBeamWalkFull,
  knnEfRank, knnGraphCtes, knnGraphStore, knnQueryFrame, knnWalkCtes}
import Quantizers.{RerankR, adcScored, exactRerankTail, ivfadcAdcCtesOver,
  kmProbeCells, kmProbedTop5, kmeansChainCtesFrom, s15Store, s21Store}

/** Recall probes (s41–s44): one monitor per index family, each the
  * family's production read path on the ':rq' draw against an exact
  * NN-1 truth, folded into per-query hit flags by [[recallFlags]].
  */
object RecallProbes {

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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
    "s44_recall_grid_probe" -> ((s, dir) => recallProbeGridQuery(s, dir))
  )

  val oracle: Map[String, String] = Map(
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
         |$recallHitsSql""".stripMargin
  )
}
