package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-depth probes for the fixed-round loops (dev tool, like
  * [[Bench]]). Each mode prints ONE JSON line:
  *
  *   runMain graft.Soak <sfDir> --knn-ins <maxRounds>   s34 insert fixpoint
  *   runMain graft.Soak <sfDir> --knn-ref <maxRounds>   s37 refine fixpoint
  *   runMain graft.Soak <sfDir> --uni <rounds> [seedK]  t35 EM at depth
  *   runMain graft.Soak <sfDir> --bpe <rounds>          t24 merges at depth
  *
  * The frames are the registered loops' own pieces, so a measured
  * fixpoint or s/round is the registered operator's.
  */
object Soak {
  private val Usage = "usage: Soak <sfDir> (--knn-ins <maxRounds> | " +
    "--knn-ref <maxRounds> | --uni <rounds> [seedK] | --bpe <rounds>)"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.find(_.startsWith("--")).getOrElse {
      System.err.println(Usage); sys.exit(2)
    }
    val i = args.indexOf(mode)
    require(i + 1 < args.length, Usage)
    val rounds = args(i + 1).toInt
    val spark = Session()
    try {
      def corpus: DataFrame = ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v"))))
      val line = mode match {
        // The restricted insert delta (s34's knnInsertDelta — base
        // graph over the !annBatch subset, batch = the annBatch draw):
        // the KnnInsRounds fixpoint measurement.
        case "--knn-ins" =>
          val all = corpus
          val existing = ops.Subplan.once(all.filter(!ext.Similarity.annBatchVec))
          val base = ops.Subplan.once(ext.Similarity.knnDescentGraph(existing))
          val batchIds = all.filter(ext.Similarity.annBatchVec)
            .select(col("vec_id"))
          fixpoint(sfDir, "knn-ins", rounds)(r =>
            ext.Similarity.knnInsertDelta(base, all, batchIds, rounds = r))
        // The s37 warm-start descent over the post-delete graph: the
        // KnnRefineRounds fixpoint measurement.
        case "--knn-ref" =>
          val all = corpus
          val fx = ops.Subplan.once(ext.Similarity.knnFx(all))
          val base = ops.Subplan.once(ext.Similarity.knnDescentGraph(all))
          val delIds = all.filter(ext.Similarity.annDelVec).select(col("vec_id"))
          val healed = ops.Subplan.once(
            ext.Similarity.knnDeleteHeal(base, fx, delIds))
          val postDel = ops.Subplan.once(
            base.join(broadcast(delIds.select(col("vec_id").as("v"))),
                Seq("v"), "left_anti")
              .join(broadcast(healed.select(col("v")).distinct()),
                Seq("v"), "left_anti")
              .unionByName(healed))
          fixpoint(sfDir, "knn-ref", rounds)(r =>
            ext.Similarity.knnRefine(postDel, fx, rounds = r))
        // The t35 EM loop at tokenizer-realistic depth (the registered
        // query trains UniEmRounds=2 over a 48-multis seed so the
        // oracle's unrolled per-round qlog chains stay tractable). The
        // accepted cost model is "EM is frontier-sized, never
        // corpus-sized", so s/round should hold as rounds grow and move
        // only with seedK.
        case "--uni" =>
          val seedK = args.lift(i + 2).flatMap(_.toIntOption)
            .getOrElse(ext.Text.UniSeedK)
          val t0 = System.nanoTime()
          val (vocab, _) = ext.Text.uniTrainFull(
            Tables(spark, sfDir, "documents"), rounds, seedK)
          val nVocab = vocab.count()
          val sec = (System.nanoTime() - t0) / 1e9
          s"""{"dir":"$sfDir","mode":"uni","rounds":$rounds,""" +
            s""""seed_k":$seedK,"vocab":$nVocab,"sec":$sec,""" +
            s""""sec_per_round":${sec / rounds}}"""
        // The t24 training loop at a real tokenizer depth (the
        // registered query trains BpeMergeRounds=10 so the oracle's
        // unrolled CTE chain stays readable). The frontier shuffle is
        // paid once and every round after is vocab-bounded, so
        // s/round should hold flat as rounds grow.
        case "--bpe" =>
          val t0 = System.nanoTime()
          val merges = ext.Text.bpeTrain(
            Tables(spark, sfDir, "documents"), rounds).count()
          val sec = (System.nanoTime() - t0) / 1e9
          s"""{"dir":"$sfDir","mode":"bpe","rounds":$rounds,""" +
            s""""merges":$merges,"sec":$sec,"sec_per_round":${sec / rounds}}"""
        case other =>
          throw new IllegalArgumentException(s"unknown mode '$other'; $Usage")
      }
      println(line)
    } finally spark.stop()
  }

  /** Runs `delta` at every round budget 0..maxR and reports its edge
    * count, the edges changed against the previous budget, and wall
    * time — the measurement a fixed-round knob is chosen by. */
  private def fixpoint(sfDir: String, mode: String, maxR: Int)(
      delta: Int => DataFrame): String = {
    var prev: Set[(Long, Long, Long)] = null
    val rows = (0 to maxR).map { r =>
      val t0 = System.nanoTime()
      val d = delta(r).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val changed = if (prev == null) -1L
        else ((d -- prev).size + (prev -- d).size).toLong
      prev = d
      s""""r$r":{"edges":${d.size},"changed":$changed,"sec":$sec}"""
    }.mkString(",")
    s"""{"dir":"$sfDir","mode":"$mode",$rows}"""
  }
}
