package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t43 — the MODERN curation pipeline composed end-to-end: the
  * ingest-admission chain a pre-training data build actually runs
  * over a new batch, as ONE Catalyst plan with per-doc verdict
  * provenance (t20's audit-artifact discipline extended to the
  * round-14/15 stages that previously lived only as standalone
  * queries). The batch is d11/t21/t38's ONE doc_id % 8 draw; each
  * batch doc's verdict is its FIRST failing stage:
  *
  *  1. `drift_blocked` — the t38 drift gate: [[Text.corpusDrift]]'s
  *     per-bucket report (batch vs existing, THE one definition),
  *     thresholded as an ADMISSION verdict at max |qdiff| ≤
  *     [[Curation.DriftGateMaxQ]]. qdiff = 2¹⁶·log₂(p/q) is exact
  *     int64, so the gate is hash-portable (t38 deliberately emits
  *     no double aggregate; this is the "consumer thresholds at its
  *     own grain" consumer, the t21/t30 admission-gate pattern). A
  *     failed gate blocks the WHOLE batch — that is what a drift
  *     gate is for.
  *  2. `eval_holdout` — the ':eval' md5 draw ([[Text.isEvalCol]];
  *     doc_id = vec_id is the t39 hybrid-item premise, so the doc
  *     holdout and s09's vector-side eval split are THE SAME draw).
  *  3. `sem_contaminated` — [[EmbeddingDedup.semanticDecontam]] (s09's
  *     one definition) over the planted-twin embedding corpus: the
  *     doc's vector near-matches a held-out eval vector.
  *  4. `sem_dup` — [[EmbeddingDedup.semDedup]] (d20's one definition):
  *     the doc's vector loses its within-cell near-dup pair.
  *  5. `dsir_dropped` / `selected` — [[Text.dsirWeights]] +
  *     [[Text.dsirSelect]] (t37's one chain), trained on the ':tgt'
  *     curated sample of the EXISTING corpus and scoring the
  *     surviving batch pool (the s18/s20 train-then-apply split);
  *     the exact top quarter of the pool is selected.
  *
  * Emits (doc_id, source, stage, qw) for every batch doc — qw is the
  * DSIR weight where the doc reached scoring, NULL elsewhere.
  *
  * Scale stance: the two semantic stages share ONE materialized
  * twin-corpus frame (Subplan.once — the dedup/ANN checkpoint rule);
  * the drift histogram, the batch frame, and the DSIR sides are
  * separate map-only passes over the documents scan; every model
  * side (gate row, DSIR coefficients, boundary bin) is a bounded
  * broadcast; the only corpus-proportional shuffles are the stages'
  * own (bucket counts, cell pairs — each argued at its definition).
  *
  * The oracle COMPOSES the existing stage texts (the round-16 ask):
  * [[Text.driftOracleCtes]] + [[Text.dsirOracleCtes]] (suffixed "38"
  * / "37" — two qlog chains in one statement), the d20 Lloyd chain
  * ([[Quantizers.kmeansChainCtesFrom]] over
  * [[Similarity.twinCorpusCte]]) with [[EmbeddingDedup.d20TailCtes]],
  * and s09's [[EmbeddingDedup.s09TailCtes]]/[[EmbeddingDedup.s09FlagSelect]]
  * — no stage's arithmetic is restated a second time.
  */
object Curation {

  /** The drift-gate threshold: max per-bucket |qdiff| ≤ 3·2¹⁶ — no
    * feature bucket's proportion may shift by more than 8× (|log₂
    * p/q| ≤ 3). Measured headroom on the uniform 1/8 fixtures'
    * no-drift splits: max |qdiff| 88209 (sf0.001), 26864 (sf0.01),
    * 20483 (sf0.1), 3962 (sf1), 16455 (sf1zipf) — the gate admits
    * every fixture with ≥ 2× margin, while a genuinely new-vocab
    * batch lands whole buckets at add-one-vs-thousands ratios far
    * beyond it (ExtSpec pins the blocked branch on a planted drifted
    * corpus, sized >> B per the t38 planting rule). Stated ONCE here
    * and interpolated into the oracle (the BM25-constants rule). */
  private[graft] val DriftGateMaxQ = 196608L

  /** The staged batch frame BEFORE DSIR — exposed for ExtSpec's
    * stage-replay pins. Emits (doc_id, source, text, stage) with
    * stage ∈ {drift_blocked, eval_holdout, sem_contaminated,
    * sem_dup, pool}. */
  private[graft] def stagedBatch(s: SparkSession, dir: String): DataFrame = {
    val d = Text.docs(s, dir).select(col("doc_id"), col("source"),
      col("text"), (col("doc_id") % 8 === 0).as("is_batch"))
    // Stage 1: the ONE corpusDrift statement, thresholded to a
    // single-row admission verdict (ConstKey broadcast — the t30
    // gate shape).
    val gate = Text.corpusDrift(
        d.select(col("doc_id"), col("is_batch"), col("text")))
      .agg(max(abs(col("qdiff"))).as("maxq"))
      .select((col("maxq") <= lit(DriftGateMaxQ)).as("admit"))
      .withColumn("one", graft.ops.ConstKey.one(col("admit")))
    // Stages 3-4: ONE twin-corpus materialization feeds both
    // semantic stages (the shared-scan note in PLANS.md).
    val all = graft.ops.Subplan.once(
      Similarity.plantedTwinCorpus(Similarity.emb(s, dir)))
    val semc = EmbeddingDedup.semanticDecontam(all)
      .select(col("vec_id").as("doc_id"), lit(true).as("sem_hit"))
    val semd = EmbeddingDedup.semDedup(all,
        EmbeddingDedup.semK(Similarity.corpusN(s, dir)))
      .select(col("vec_id").as("doc_id"), col("kept").as("sem_kept"))
    d.filter(col("is_batch"))
      .withColumn("one", graft.ops.ConstKey.one(col("doc_id")))
      .join(broadcast(gate), "one")
      .join(semc, Seq("doc_id"), "left")
      .join(semd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("text"),
        when(!col("admit"), lit("drift_blocked"))
          .when(Text.isEvalCol, lit("eval_holdout"))
          .when(col("sem_hit").isNotNull, lit("sem_contaminated"))
          .when(!coalesce(col("sem_kept"), lit(true)), lit("sem_dup"))
          .otherwise(lit("pool")).as("stage"))
  }

  private def curationChainQuery(s: SparkSession, dir: String): DataFrame = {
    val d = Text.docs(s, dir).select(col("doc_id"), col("source"),
      col("text"), (col("doc_id") % 8 === 0).as("is_batch"))
    val staged = graft.ops.Subplan.once(stagedBatch(s, dir))
    // Stage 5: t37's ONE chain — coefficients train on the existing
    // corpus's ':tgt' sample, the surviving pool scores against them
    // (dsirWeights scores exactly the !is_tgt rows).
    val dsirIn = d.filter(!col("is_batch") && Text.isTgtCol)
        .select(col("doc_id"), lit(true).as("is_tgt"), col("text"))
      .unionByName(staged.filter(col("stage") === "pool")
        .select(col("doc_id"), lit(false).as("is_tgt"), col("text")))
    val sel = Text.dsirSelect(Text.dsirWeights(dsirIn))
    staged.select(col("doc_id"), col("source"), col("stage"))
      .join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("stage") =!= lit("pool"), col("stage"))
          .when(coalesce(col("kept"), lit(false)), lit("selected"))
          .otherwise(lit("dsir_dropped")).as("stage"),
        when(col("stage") === lit("pool"), col("qw"))
          .otherwise(lit(null).cast("long")).as("qw"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t43_curation_chain" -> ((s, dir) => curationChainQuery(s, dir))
  )

  val oracle: Map[String, String] = Map(
    "t43_curation_chain" -> {
      val d38 =
        """d38 AS (SELECT doc_id, doc_id % 8 = 0 AS is_batch,
          |    regexp_split_to_array(trim(text), '\s+') AS tk
          |  FROM documents)""".stripMargin
      val d37 =
        s"""d37 AS (
           |  SELECT doc_id, TRUE AS is_tgt,
           |      regexp_split_to_array(trim(text), '\\s+') AS tk
           |    FROM documents
           |    WHERE doc_id % 8 <> 0 AND ${Text.tgtDrawSql}
           |  UNION ALL
           |  SELECT doc_id, FALSE AS is_tgt,
           |      regexp_split_to_array(trim(text), '\\s+') AS tk
           |    FROM stg WHERE stage = 'pool')""".stripMargin
      s"""WITH ${Text.driftOracleCtes(d38, "38")},
         |gate AS (SELECT MAX(ABS(qdiff)) <= $DriftGateMaxQ AS admit
         |  FROM qd38),
         |${Quantizers.kmeansChainCtesFrom(Similarity.twinCorpusCte,
              "al", None, kSql = EmbeddingDedup.semKSql)},
         |${Similarity.bandsCteFor("bands", "al")},
         |${EmbeddingDedup.s09TailCtes},
         |semflag AS (${EmbeddingDedup.s09FlagSelect}),
         |${EmbeddingDedup.d20TailCtes},
         |bd AS (SELECT doc_id, source, text FROM documents
         |  WHERE doc_id % 8 = 0),
         |stg AS (SELECT doc_id, source, text, CASE
         |    WHEN NOT (SELECT admit FROM gate) THEN 'drift_blocked'
         |    WHEN ${Text.evalDrawSql} THEN 'eval_holdout'
         |    WHEN doc_id IN (SELECT vec_id FROM semflag)
         |      THEN 'sem_contaminated'
         |    WHEN doc_id IN (SELECT vec_id FROM losers) THEN 'sem_dup'
         |    ELSE 'pool' END AS stage
         |  FROM bd),
         |${Text.dsirOracleCtes(d37, "37")}
         |SELECT s.doc_id, s.source,
         |  CASE WHEN s.stage <> 'pool' THEN s.stage
         |       WHEN r.doc_id IS NOT NULL AND r.rn <= (SELECT k FROM kk37)
         |         THEN 'selected'
         |       ELSE 'dsir_dropped' END AS stage,
         |  CASE WHEN s.stage = 'pool' THEN r.qw END AS qw
         |FROM stg s LEFT JOIN rnk37 r ON r.doc_id = s.doc_id""".stripMargin
    }
  )
}
