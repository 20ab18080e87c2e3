package graft

import org.apache.spark.sql.functions._

/** Dev plan-audit for the ITERATED folds (companion to [[Explain]]):
  * a registered query's `.explain` shows only its FINAL frame, whose
  * leaves are the loop rounds' checkpointed RDDs — the per-round plan
  * (where the round-floor exchanges live) never appears in it. This
  * main reconstructs ONE round frame per loop family, unexecuted, and
  * prints its formatted plan; the round-plan artifacts under
  * `plans/r17` are produced by exactly this command:
  *
  *   runMain graft.ExplainRound <sfDir>
  *
  * The frames are built from the SAME private[graft] pieces the
  * registered loops call (knnRoundCand/knnScore/knnTopK,
  * ccRound), so the printed plan is the loop body's, not a
  * reconstruction that can drift.
  */
object ExplainRound {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session()

    // ---- k-NN descent round (the s29/s34/s37 loop body) ----
    // One checkpointed list state + fixed-point frame, exactly as the
    // loop holds them between rounds; the printed plan is the round
    // frame the next Subplan.once would execute.
    val all = ops.Subplan.once(
      ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v")))
    val fx = ops.Subplan.once(ext.Similarity.knnFx(all))
    val nbr = ops.Subplan.once(ext.Similarity.knnTopK(
      ext.Similarity.knnScore(ext.Similarity.knnInit(all), fx),
      ext.Similarity.KnnK))
    println("==== knn_round (full build: s29 loop body) ====")
    ext.Similarity.knnRound(nbr, fx, ext.Similarity.KnnK)
      .explain("formatted")

    // ---- Walk hop (the s31/s33/s36/s40/s43 loop body) ----
    // One checkpointed frontier + the checkpointed lists as the graph
    // frame (the registered queries read the landed store instead —
    // same checkpointed-leaf shape, different leaf); the printed plan
    // is the full hop: candidate union → exact scoring → top-B
    // frontier agg.
    val q0 = ops.Subplan.once(
      ext.Similarity.knnQ0(fx, col("vec_id") < 10))
    println("==== walk_hop (s31/s33/s36/s40/s43 loop body) ====")
    ext.Similarity.knnHopFrontier(
      ext.Similarity.knnHopScored(q0, fx, nbr),
      ext.Similarity.KnnBeamWidth).explain("formatted")

    // ---- CC contraction round (the d07/d08 loop body) ----
    val pairs = ext.Dedup.jaccardPairsPrefix(
      ext.Dedup.shingles(spark, sfDir), 0.5)
      .select(col("doc_a"), col("doc_b"))
    val e = ops.Subplan.once(
      ext.Dedup.ccCanon(pairs.select(col("doc_a").as("u"),
        col("doc_b").as("v"))))
    println("==== cc_round (d07/d08 loop body: large-star + small-star) ====")
    ext.Dedup.ccRound(e).explain("formatted")

    // ---- BPE merge round (the t24/t25 loop body) ----
    // One checkpointed vocab frontier, exactly as the loop holds it;
    // two plans per round: the winner selection (an action per round)
    // and the vocab fold under a checkpointed 1-row winner.
    val bpeVocab = ops.Subplan.once(
      ext.Text.docs(spark, sfDir)
        .select(explode(ext.Text.toks).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("w"),
          regexp_extract_all(col("w"), lit("."), lit(0)).as("syms"),
          col("cnt")))
    println("==== bpe_best_pair (t24/t25 merge-round winner) ====")
    ext.Text.bpeBestPair(bpeVocab).explain("formatted")
    val bpeBest = ext.Text.bpeBestPair(bpeVocab).collect().head
    println("==== bpe_apply_winner (t24/t25 merge-round vocab fold) ====")
    ext.Text.bpeApplyWinner(bpeVocab, bpeBest.getString(0),
      bpeBest.getString(1)).explain("formatted")

    // ---- Unigram EM round (the t35/t36 loop body) ----
    val uniWf = ops.Subplan.once(
      ext.Text.docs(spark, sfDir)
        .select(explode(ext.Text.toks).as("w0"))
        .filter(col("w0") =!= "")
        .select(substring(col("w0"), 1, ext.Text.UniMaxWordLen).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val uniChars = ops.Subplan.once(
      uniWf.select(col("cnt"),
          explode(regexp_extract_all(col("w"), lit("."), lit(0))).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("pcnt")))
    println("==== uni_seg_counts (t35/t36 EM-round E-step + recount) ====")
    ext.Text.uniSegCounts(uniWf, uniChars).explain("formatted")
    val uniSc = ops.Subplan.once(ext.Text.uniSegCounts(uniWf, uniChars))
    println("==== uni_vocab_update (t35/t36 EM-round M-step) ====")
    ext.Text.uniVocabUpdate(uniChars, uniSc).explain("formatted")

    spark.stop()
  }
}
