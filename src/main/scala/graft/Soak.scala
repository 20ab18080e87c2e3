package graft

import org.apache.spark.sql.functions._

/** Skew soak for the shingle-join family (dev tool, like [[Bench]]):
  * counts CANDIDATES — the quantity the prefix filters exist to bound
  * — alongside verified pairs and wall time for d02 (symmetric
  * Jaccard) and d12 (asymmetric containment), plus the corpus-shape
  * stats that predict them (max shingle df, Σ df·(df−1)/2 = the
  * candidate count a naive share-a-shingle join would emit).
  *
  * Run on `scaledata/sf1` (uniform token mix) vs `scaledata/sf1zipf`
  * (Zipf(1.05) tokens + all-hot boiler docs — see tools/gen_sf1.py)
  * to measure how candidate volume tracks df skew. Prints ONE JSON
  * line.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session()

    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f
      (n, (System.nanoTime() - t0) / 1e9)
    }
    def timedv[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val v = f
      (v, (System.nanoTime() - t0) / 1e9)
    }

    // ANN-recall mode (`Soak <dir> --ann`): recall@1 of the two
    // approximate NN paths against s03's exact block-grid answer, on
    // the NATURAL corpus (no planted twins — the planting guarantees
    // collisions, which would inflate recall). Ground truth and both
    // approximations ride the registered operators' own library forms
    // (Similarity.exactNn1 / bandedNn1 / gridNn1), so the number is
    // the recall OF THE REGISTERED CONSTRUCTIONS. A vector whose
    // banded/grid candidate set is empty counts as a miss (the
    // denominator is every vector with an exact neighbor).
    // Trained-family-only recall (`Soak <dir> --ann-trained`): the
    // s13/s16 rows of the --ann report without re-paying the grid
    // curve — natural-corpus recall@1, candidate count, and the
    // planted-twin recall (see the --ann block for what each number
    // means).
    // The trained-family (s13/s16/s17) recall block — ONE definition
    // shared by --ann and --ann-trained (they printed a copy-pasted
    // drift-prone pair through round 11). Measures natural-corpus
    // recall@1 + candidate count + wall, the planted-twin recall (the
    // operational near-dup number — natural recall is margin-limited
    // on a random corpus), the s13 K sweep, and the nprobe sweep at
    // K=8. The registered point (k=8, nprobe=2) is measured ONCE and
    // reused as the s13 row, the K curve's k8 entry, and the nprobe
    // curve's np2 entry.
    // `all` is the CALLER's checkpointed corpus frame (both --ann and
    // --ann-trained already hold one) — rebuilding it here duplicated
    // the corpus scan + localCheckpoint inside a timing tool (r12
    // ADVICE).
    def trainedFamilyJson(all: org.apache.spark.sql.DataFrame,
        exact: org.apache.spark.sql.DataFrame, n: Long): String = {
      def recallOf(approx: org.apache.spark.sql.DataFrame): (Long, Double) =
        timed(exact.select(col("vec_id"), col("nn_id"))
          .join(approx.select(col("vec_id"), col("nn_id").as("a_nn")),
            Seq("vec_id"))
          .filter(col("nn_id") === col("a_nn")).count())
      val (hKm, tKm) = recallOf(ext.Similarity.kmNn1(all))
      val (kmCand, _) = timed(ext.Similarity.kmCandidateCount(all))
      val (hAdc, tAdc) = recallOf(ext.Similarity.ivfadcNn1(all))
      val (hRr, tRr) = recallOf(ext.Similarity.ivfadcRerankNn1(all))
      // Sampled-training recall (s19): same probe topology, centroids
      // from the 1/8 md5 draw — the row that backs "recall within
      // noise of full-corpus training".
      val (hSm, tSm) = recallOf(ext.Similarity.kmNn1(all,
        trainFilter = Some(ext.Similarity.trainSampleVec)))
      def twinRecallOf(nn1: org.apache.spark.sql.DataFrame): (Long, Double) =
        timed(nn1
          .filter(col("vec_id") < 1000000000L &&
            col("nn_id") === col("vec_id") + 1000000000L).count())
      val planted = ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v"))))
      val nOrig = planted.filter(col("vec_id") < 1000000000L).count()
      val (twKm, _) = twinRecallOf(ext.Similarity.kmNn1(planted))
      val (twAdc, _) = twinRecallOf(ext.Similarity.ivfadcNn1(planted))
      val (twRr, _) = twinRecallOf(ext.Similarity.ivfadcRerankNn1(planted))
      // The K sweep — recall-vs-cost as the cell count grows (a user
      // sizes K ~ √N; the registered K=8 is the oracle-demo point,
      // reused, not retrained). Candidates shrink ~2/K of N² while
      // recall tracks how well K cells carve the geometry.
      val kCurve = (s""""k8":{"recall1":${hKm.toDouble / n},""" +
        s""""cand":$kmCand,"sec":$tKm}""") +: Seq(16, 32).map { k =>
        val (hk, tk) = recallOf(ext.Similarity.kmNn1(all, k))
        val (ck, _) = timed(ext.Similarity.kmCandidateCount(all, k))
        s""""k$k":{"recall1":${hk.toDouble / n},"cand":$ck,"sec":$tk}"""
      }
      // The shortlist-depth sweep — s17's knob: how much of the
      // probed-cells exact bound (the s13 row) each rerank depth
      // recovers. r=RerankR (the registered point, reused) is the
      // deepest; the shallower points show the recall the depth
      // buys.
      val rCurve = Seq(ext.Similarity.RerankR / 10,
        ext.Similarity.RerankR / 3).map { r =>
          val (hr, tr) = recallOf(ext.Similarity.ivfadcRerankNn1(all, r))
          s""""r$r":{"recall1":${hr.toDouble / n},"sec":$tr}"""
        } :+ (s""""r${ext.Similarity.RerankR}":""" +
        s"""{"recall1":${hRr.toDouble / n},"sec":$tRr}""")
      // The nprobe sweep — the OTHER axis of the probed-cells bound:
      // at fixed K=8, probing more cells raises the candidate pool
      // (~nprobe/K of N²) and with it the exact-cosine recall
      // ceiling; the deployment law is "raise nprobe sublinearly as
      // K grows". np2 is the registered point, reused.
      val npCurve = (s""""np2":{"recall1":${hKm.toDouble / n},""" +
        s""""cand":$kmCand,"sec":$tKm}""") +: Seq(1, 4).map { np =>
        val (hp, tp) = recallOf(ext.Similarity.kmNn1(all, nprobe = np))
        val (cp, _) = timed(ext.Similarity.kmCandidateCount(all, nprobe = np))
        s""""np$np":{"recall1":${hp.toDouble / n},"cand":$cp,"sec":$tp}"""
      }
      s""""s13":{"recall1":${hKm.toDouble / n},"cand":$kmCand,"sec":$tKm,""" +
      s""""twin_recall":${twKm.toDouble / nOrig}},""" +
      s""""s16":{"recall1":${hAdc.toDouble / n},"sec":$tAdc,""" +
      s""""twin_recall":${twAdc.toDouble / nOrig}},""" +
      s""""s17":{"recall1":${hRr.toDouble / n},"sec":$tRr,""" +
      s""""twin_recall":${twRr.toDouble / nOrig}},""" +
      s""""s19":{"recall1":${hSm.toDouble / n},"sec":$tSm},""" +
      s""""s17_r_curve":{${rCurve.mkString(",")}},""" +
      s""""s13_k_curve":{${kCurve.mkString(",")}},""" +
      s""""s13_nprobe_curve":{${npCurve.mkString(",")}}"""
    }

    // Graph-family recall mode (`Soak <dir> --knn`): quality of the
    // NN-descent graph and the greedy walk on the NATURAL corpus (the
    // --ann discipline — no planted twins), against the exact L2 NN-1
    // (the graph's own metric; the --ann modes measure the cosine
    // family). Reports:
    //  - contain1: exact NN-1 appears anywhere in the vector's k-list
    //    (graph recall@k — what a SemDeDup edge consumer gets);
    //  - rank1: the list's rank-1 IS the exact NN-1;
    //  - walk1: the s31 greedy walk (every vector as a query, same
    //    knnBeamWalk loop at beam=1 as the registered operator) lands on the
    //    exact NN-1 — greedy-descent recall, local minima included.
    // On the natural corpus the md5 init draws that map into the twin
    // id range simply find no row (≈ half), so init degree is ~K/2 —
    // documented, not a bug.
    if (args.contains("--knn")) {
      val all = ops.Subplan.once(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v")))
      val fx = ops.Subplan.once(ext.Similarity.knnFx(all))
      val t0 = System.nanoTime()
      val g = ops.Subplan.once(ext.Similarity.knnDescentGraph(all))
      val tBuild = (System.nanoTime() - t0) / 1e9
      // Exact L2 ground truth by the ONE shared block-grid statement
      // (Similarity.exactNnKSqBetween — also s43's truth side, so the
      // soak's recall and the registered monitor's cannot diverge):
      // one pass computes the top-5, NN-1 is its rank-1 slice.
      // The exact NN-1 alone cannot show ef-search's value: if the
      // true NN-1 is ever VISITED it is visited rank-1 by definition,
      // so "NN-1 ∈ ef top-5" ≡ walk1 — the monotone theorem; what ef
      // buys is the 2nd..5th true neighbors.
      val exactK = ops.Subplan.once(
        ext.Similarity.exactNnKSqBetween(fx, fx, 5))
      val exact = ops.Subplan.once(exactK.filter(col("rk") === 1)
        .select(col("vec_id"), col("nn_id")))
      val exact5 = exactK.select(col("vec_id"), col("nn_id"))
      val n = exact.count()
      val (contain, _) = timed(exact
        .join(g.select(col("v").as("vec_id"), col("w").as("nn_id")),
          Seq("vec_id", "nn_id"), "left_semi").count())
      val (rank1, _) = timed(exact
        .join(ext.Similarity.knnRanked(g).filter(col("rk") === 1)
            .select(col("vec_id"), col("nn_id")),
          Seq("vec_id", "nn_id"), "left_semi").count())
      val q0 = fx.select(col("vec_id").as("qid"), col("x").as("qx"),
        when(col("vec_id") === 0, lit(1L)).otherwise(lit(0L)).as("cur"))
      val (walk1, tWalk) = timed(exact
        .join(ext.Similarity.knnBeamWalk(q0, fx, g)
            .select(col("qid").as("vec_id"), col("nn_id")),
          Seq("vec_id", "nn_id"), "left_semi").count())
      // Beam/entry recall sweep — the RerankR r-sweep discipline
      // applied to the graph knobs (every walk is the ONE registered
      // knnBeamWalkFull loop; the ef column is the ONE knnEfRank
      // tail, so the curve measures the registered s33/s36
      // operators): B sweeps at a single entry, entries sweep at the
      // registered B. For e entries every query starts at vertices
      // {0..e−1} (its own id remapped to e — the s31 entry rule
      // generalized). walk1 = frontier rank-1 IS the exact NN-1;
      // rec5 = |s36's visited top-5 ∩ exact top-5| / 5n — the metric
      // ef-search exists for (its NN-1 column would equal walk1 by
      // the monotone theorem).
      def sweepAt(b: Int, e: Int): String = {
        val qe = fx.select(col("vec_id").as("qid"), col("x").as("qx"))
          .withColumn("cur0",
            explode(array((0 until e).map(i => lit(i.toLong)): _*)))
          .select(col("qid"), col("qx"),
            when(col("cur0") === col("qid"), lit(e.toLong))
              .otherwise(col("cur0")).as("cur"))
        val t0 = System.nanoTime()
        val (frontier, visited) =
          ext.Similarity.knnBeamWalkFull(qe, fx, g, b)
        val w = exact.join(frontier.filter(col("rk") === 1)
            .select(col("qid").as("vec_id"), col("nn_id")),
          Seq("vec_id", "nn_id"), "left_semi").count()
        val ef = exact5.join(ext.Similarity.knnEfRank(visited)
            .select(col("qid").as("vec_id"), col("nn_id")),
          Seq("vec_id", "nn_id"), "left_semi").count()
        val sec = (System.nanoTime() - t0) / 1e9
        s""""b${b}_e$e":{"walk1":${w.toDouble / n},""" +
          s""""rec5":${ef.toDouble / (5.0 * n)},"sec":$sec}"""
      }
      val sweep = (Seq(1, 2, 4, 8, 16).map(b => sweepAt(b, 1)) ++
        Seq(2, 4).map(e => sweepAt(4, e))).mkString(",")
      // The OPERATIONAL number (the trained family's twin-recall
      // discipline): on the planted corpus every vector's true NN-1
      // is its twin — the near-dup case a SemDeDup edge consumer
      // cares about — and the graph must hold it at rank 1 (ExtSpec
      // pins 100%; this measures it at scale).
      val planted = ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v"))))
      val gp = ext.Similarity.knnRanked(
        ext.Similarity.knnDescentGraph(planted))
      val nOrig = planted.filter(col("vec_id") < 1000000000L).count()
      val (twin, _) = timed(gp.filter(col("rk") === 1 &&
        col("vec_id") < 1000000000L &&
        col("nn_id") === col("vec_id") + 1000000000L).count())
      println(s"""{"dir":"$sfDir","mode":"knn","n_vec":$n,""" +
        s""""build_sec":$tBuild,""" +
        s""""contain1":${contain.toDouble / n},""" +
        s""""rank1":${rank1.toDouble / n},""" +
        s""""walk1":${walk1.toDouble / n},"walk_sec":$tWalk,""" +
        s""""twin_rank1":${twin.toDouble / nOrig},""" +
        s""""sweep":{$sweep}}""")
      spark.stop()
      return
    }

    // Insert-fixpoint probe (`Soak <dir> --knn-ins <maxRounds>`): the
    // restricted insert delta (s34's knnInsertDelta — base graph over
    // the !annBatch subset, batch = the annBatch draw) at every round
    // budget 0..maxRounds, reporting edge count, changed edges vs the
    // previous budget, and wall time — the KnnRounds fixpoint
    // discipline applied to KnnInsRounds (a knob change needs this
    // measurement re-run).
    if (args.contains("--knn-ins")) {
      val i = args.indexOf("--knn-ins")
      require(i + 1 < args.length, "usage: Soak <dir> --knn-ins <maxRounds>")
      val maxR = args(i + 1).toInt
      val all = ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v"))))
      val existing = ops.Subplan.once(all.filter(!ext.Similarity.annBatchVec))
      val base = ops.Subplan.once(ext.Similarity.knnDescentGraph(existing))
      val batchIds = all.filter(ext.Similarity.annBatchVec)
        .select(col("vec_id"))
      var prev: Set[(Long, Long, Long)] = null
      val rows = (0 to maxR).map { r =>
        val t0 = System.nanoTime()
        val d = ext.Similarity.knnInsertDelta(base, all, batchIds, rounds = r)
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val changed = if (prev == null) -1L
          else ((d -- prev).size + (prev -- d).size).toLong
        prev = d
        s""""r$r":{"edges":${d.size},"changed":$changed,"sec":$sec}"""
      }.mkString(",")
      println(s"""{"dir":"$sfDir","mode":"knn-ins",$rows}""")
      spark.stop()
      return
    }

    // Refine-fixpoint probe (`Soak <dir> --knn-ref <maxRounds>`): the
    // s37 warm-start descent over the post-delete graph at every
    // round budget — the KnnRefineRounds fixpoint measurement (the
    // --knn-ins discipline; a knob change needs a re-run).
    if (args.contains("--knn-ref")) {
      val i = args.indexOf("--knn-ref")
      require(i + 1 < args.length, "usage: Soak <dir> --knn-ref <maxRounds>")
      val maxR = args(i + 1).toInt
      val all = ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v"))))
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
      var prev: Set[(Long, Long, Long)] = null
      val rows = (0 to maxR).map { r =>
        val t0 = System.nanoTime()
        val d = ext.Similarity.knnRefine(postDel, fx, rounds = r)
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val changed = if (prev == null) -1L
          else ((d -- prev).size + (prev -- d).size).toLong
        prev = d
        s""""r$r":{"edges":${d.size},"changed":$changed,"sec":$sec}"""
      }.mkString(",")
      println(s"""{"dir":"$sfDir","mode":"knn-ref",$rows}""")
      spark.stop()
      return
    }

    if (args.contains("--ann-trained")) {
      val all = ops.Subplan.once(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v")))
      val exact = ops.Subplan.once(ext.Similarity.exactNn1(all))
      val n = exact.count()
      println(s"""{"dir":"$sfDir","mode":"ann-trained","n_vec":$n,""" +
        trainedFamilyJson(all, exact, n) + "}")
      spark.stop()
      return
    }

    if (args.contains("--ann")) {
      val all = ops.Subplan.once(
        ext.Similarity.emb(spark, sfDir).select(col("vec_id"), col("v")))
      val t0 = System.nanoTime()
      val exact = ops.Subplan.once(ext.Similarity.exactNn1(all))
      val n = exact.count()
      val tExact = (System.nanoTime() - t0) / 1e9
      def recallOf(approx: org.apache.spark.sql.DataFrame): (Long, Double) =
        timed(exact.select(col("vec_id"), col("nn_id"))
          .join(approx.select(col("vec_id"), col("nn_id").as("a_nn")),
            Seq("vec_id"))
          .filter(col("nn_id") === col("a_nn")).count())
      val (h05, t05) = recallOf(ext.Similarity.bandedNn1(all))
      val (h08, t08) = recallOf(ext.Similarity.gridNn1(all))
      // The grid (axes, radii) recall-vs-cost curve: for each probe
      // configuration, recall@1 (grid NN-1 = exact NN-1), recall@5
      // (exact NN-1 lands anywhere in the grid top-5), and the
      // candidate-pair count the probe pays for it. Per-axis radii
      // beyond 2 add cells the ~N(0, 1/64) mass never reaches (cells
      // are 1 std wide), so each axis's window stops where the
      // geometry does; the AXIS COUNT is the density knob (cell count
      // ~9^axes) — the 3-axis configs measure the s11 re-arm point.
      val curve = Seq(
        "r1" -> Seq(1, 1), "r2" -> Seq(2, 2),
        "a3r111" -> Seq(1, 1, 1), "a3r221" -> Seq(2, 2, 1),
        "a3r222" -> Seq(2, 2, 2)).map { case (label, radii) =>
        val (h1, tr) = recallOf(ext.Similarity.gridNn1R(all, radii))
        val (h5, _) = timed(exact.select(col("vec_id"), col("nn_id"))
          .join(ext.Similarity.gridTopKNnR(all, radii, 5)
              .select(col("vec_id"), col("nn_id").as("a_nn")),
            Seq("vec_id"))
          .filter(col("nn_id") === col("a_nn")).count())
        val (cand, _) = timed(ext.Similarity.gridCandidateCountR(all, radii))
        s""""$label":{"recall1":${h1.toDouble / n},"recall5":${h5.toDouble / n},""" +
          s""""cand":$cand,"sec":$tr}"""
      }.mkString(",")
      // The TRAINED family (s13 probed-cells exact, s16 IVFADC, s17
      // rerank-restored) — the shared trainedFamilyJson block: the
      // s13→s16 gap IS the quantization loss, s16→s17 what the exact
      // rerank claws back, and the twin rows the operational near-dup
      // recall on the planted corpus (natural recall is
      // margin-limited on random vectors).
      println(
        s"""{"dir":"$sfDir","mode":"ann","n_vec":$n,"exact_sec":$tExact,""" +
        s""""s05":{"hits":$h05,"recall":${h05.toDouble / n},"sec":$t05},""" +
        s""""s08":{"hits":$h08,"recall":${h08.toDouble / n},"sec":$t08},""" +
        s""""s08_curve":{$curve},""" +
        trainedFamilyJson(all, exact, n) + "}")
      spark.stop()
      return
    }

    // Query-timing mode (`Soak <dir> --queries e02_...,e04_...`):
    // best-of-3 wall time of named REGISTERED queries — the per-family
    // soak probe (run at sf0.1 then scaledata/sf1 and compare ratios)
    // without paying a full-surface bench at each scale.
    if (args.contains("--queries")) {
      require(args.indexOf("--queries") + 1 < args.length,
        "usage: Soak <dir> --queries name1,name2,...")
      val names = args(args.indexOf("--queries") + 1).split(',').toSeq
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      val rows = names.map { name =>
        val fn = SparkEntry.queries(name)
        val (n, best) = (1 to 3).map(_ => timed(fn(spark, sfDir).count())).minBy(_._2)
        s""""$name":{"rows":$n,"sec":$best}"""
      }.mkString(",")
      println(s"""{"dir":"$sfDir","mode":"queries",$rows}""")
      spark.stop()
      return
    }

    // Unigram-depth mode (`Soak <dir> --uni <rounds> [seedK]`): the
    // t35 EM loop at tokenizer-realistic depth (the registered query
    // trains UniEmRounds=2 over a 48-multis seed so the oracle's
    // unrolled per-round qlog chains stay tractable; SentencePiece
    // runs more rounds over far wider seeds). Measures s/round and
    // the frontier sizes that bound every EM stage (distinct words,
    // final vocab) — the accepted cost model is "EM is
    // frontier-sized, never corpus-sized", so s/round should hold as
    // rounds grow and move only with seedK.
    if (args.contains("--uni")) {
      val i = args.indexOf("--uni")
      require(i + 1 < args.length, "usage: Soak <dir> --uni <rounds> [seedK]")
      val rounds = args(i + 1).toInt
      val seedK = if (i + 2 < args.length && args(i + 2).forall(_.isDigit))
        args(i + 2).toInt else ext.Text.UniSeedK
      val d = Tables(spark, sfDir, "documents")
      val t0 = System.nanoTime()
      val (vocab, _) = ext.Text.uniTrainFull(d, rounds, seedK)
      val nVocab = vocab.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"dir":"$sfDir","mode":"uni","rounds":$rounds,""" +
        s""""seed_k":$seedK,"vocab":$nVocab,"sec":$sec,""" +
        s""""sec_per_round":${sec / rounds}}""")
      spark.stop()
      return
    }

    // Block-max-WAND regime probe (`Soak <dir> --wand`): the
    // registered t42 rides the fixture's LONG-query model (a query =
    // a doc's ~75 distinct terms), where Σ-of-bounds is large
    // everywhere and little skips — WAND's known degenerate regime.
    // Production lexical queries are 2–10 terms; this measures THAT
    // regime over this corpus's own landed pieces: 10 deterministic
    // 3-term queries drawn from the df mid-tail (present in 20–200
    // docs — high-idf but answerable), exhaustive bm25Over vs the
    // pruned bmwOver (the registered bodies, frame-parameterized),
    // best-of-3 wall + the admitted/candidate block counts.
    if (args.contains("--wand")) {
      import spark.implicits._
      val docs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val idx = graft.ops.Subplan.once(ext.Text.blockedEntries(docs))
      val dl = graft.ops.Subplan.once(ext.Hybrid.docLenOf(idx))
      val imp = graft.ops.Subplan.once(ext.Hybrid.impactsOf(idx, dl))
      // The 30 rarest-but-answerable terms (df ≥ 20, lowest df first,
      // md5 tie-break) — adaptive because fixture vocabularies differ
      // by orders of magnitude (the zipf corpus is 1,000 hot words;
      // the copy corpora carry a long synthetic tail).
      val picks = idx.groupBy(col("term"))
        .agg(sum(size(col("entries")).cast("long")).as("df"))
        .filter(col("df") >= 20)
        .select(col("term"), col("df"),
          conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long")
            .as("h"))
        .orderBy(col("df"), col("h"), col("term")).limit(30)
        .collect().map(_.getString(0))
      require(picks.length == 30,
        s"corpus df tail too thin for the probe: ${picks.length}")
      // Probe qids live in the +10^9 twin-id space: a qid that
      // collides with a real doc_id would silently drop that doc from
      // its query's candidates through the self-exclusion (both sides
      // identically, so the equality check stayed valid — but the
      // absolute answers carried the artifact on corpora ≥ 9,010
      // docs).
      val qterms = picks.zipWithIndex
        .map { case (t, i) => (1_000_000_000L + i / 3, t) }.toSeq
        .toDF("qid", "term")
      val (exN, exBest) = (1 to 3)
        .map(_ => timed(ext.Hybrid.bm25Over(idx, dl, qterms).count()))
        .minBy(_._2)
      val pruned = (1 to 3).map(_ => timedv {
        val out = ext.Hybrid.bmwOver(idx, dl, imp, qterms)
        (out, out._3.count())
      })
      val prBest = pruned.map(_._2).min
      val ((cand, admitted, _), prN) = pruned.last._1
      require(exN == prN, s"pruned answer count $prN != exhaustive $exN")
      println(s"""{"dir":"$sfDir","mode":"wand","queries":10,""" +
        s""""terms_per_query":3,"rows":$exN,""" +
        s""""exhaustive_sec":$exBest,"pruned_sec":$prBest,""" +
        s""""cand_blocks":${cand.count()},""" +
        s""""admitted_blocks":${admitted.count()}}""")
      spark.stop()
      return
    }

    // Web-shaped WAND probe over a LANDED corpus (`Soak <dir>
    // --wand-web`, round 18): `--wand` above draws rare-only queries
    // — the regime where exhaustive is already cheap (few postings)
    // and the pruned path's extra phases can only lose. Block-max
    // exists for the web shape: ONE hot function word (its postings
    // are corpus-wide — the exhaustive scorer pays them in full) plus
    // rare content words (their high-idf seed blocks set θ high
    // enough that hot-only blocks skip). This probe states that
    // regime over the fixture's OWN landed pieces: query i = the
    // df-max term + 2 mid-tail terms (the --wand picks), same
    // registered bodies, same +10^9 qid rule, answers equality-
    // checked row-for-row. Needs a corpus with a real hot head
    // (df-max ≥ 20% of docs — the `--lex` fixture; stock fixtures'
    // 31-word vocabulary has no tail and fails the require in
    // `--wand`'s picks instead).
    if (args.contains("--wand-web")) {
      import spark.implicits._
      val docs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val idx = graft.ops.Subplan.once(ext.Text.blockedEntries(docs))
      val dl = graft.ops.Subplan.once(ext.Hybrid.docLenOf(idx))
      val imp = graft.ops.Subplan.once(ext.Hybrid.impactsOf(idx, dl))
      val nDocs = docs.count()
      val byDf = idx.groupBy(col("term"))
        .agg(sum(size(col("entries")).cast("long")).as("df"))
      val hot = byDf.orderBy(col("df").desc, col("term").asc).limit(1)
        .collect().head
      require(hot.getLong(1) * 5 >= nDocs,
        s"no hot head: df-max ${hot.getLong(1)} of $nDocs docs")
      val hotTerm = hot.getString(0)
      val tail = byDf.filter(col("df") >= 20 && col("term") =!= hotTerm)
        .select(col("term"), col("df"),
          conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long")
            .as("h"))
        .orderBy(col("df"), col("h"), col("term")).limit(20)
        .collect().map(_.getString(0))
      require(tail.length == 20,
        s"corpus df tail too thin for the probe: ${tail.length}")
      val qterms = (0 until 10).flatMap { i =>
        Seq((1_000_000_000L + i, hotTerm),
          (1_000_000_000L + i, tail(2 * i)),
          (1_000_000_000L + i, tail(2 * i + 1)))
      }.toDF("qid", "term")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      val (exR, exBest) = (1 to 3)
        .map(_ => timedv(rows(ext.Hybrid.bm25Over(idx, dl, qterms))))
        .minBy(_._2)
      val pruned = (1 to 3).map(_ => timedv {
        val out = ext.Hybrid.bmwOver(idx, dl, imp, qterms)
        (out, rows(out._3))
      })
      val prBest = pruned.map(_._2).min
      val ((cand, admitted, _), prR) = pruned.last._1
      require(exR == prR, s"pruned != exhaustive: " +
        s"missing=${(exR -- prR).take(3)} extra=${(prR -- exR).take(3)}")
      println(s"""{"dir":"$sfDir","mode":"wand_web","queries":10,""" +
        s""""hot_term":"$hotTerm","rows":${exR.size},""" +
        s""""exhaustive_sec":$exBest,"pruned_sec":$prBest,""" +
        s""""cand_blocks":${cand.count()},""" +
        s""""admitted_blocks":${admitted.count()}}""")
      spark.stop()
      return
    }

    // Synthetic-regime WAND probe (`Soak <dir> --wand-syn`): every
    // fixture corpus has a ≤ 1,000-word vocabulary (sf0.1's documents
    // carry 31 DISTINCT WORDS — the rarest appears in 44% of docs),
    // so no fixture HAS a selective term and block-max pruning cannot
    // skip by construction (`--wand` above measures exactly that
    // degenerate regime). This probe builds the corpus shape BMW
    // exists for — web text: every doc carries the hot function-word
    // head (20 tokens over 8 hot words) plus 2 long-tail content
    // words (md5-drawn from a 10,000-word tail, df ≈ 210), 1,048,576
    // docs = 8,192 postings blocks — and queries it the way users do:
    // 1 hot word + 2 tail words. The exhaustive scorer pays the hot term's
    // corpus-wide postings per query; the pruned probe's θ (set by
    // the tail terms' high-idf seed blocks) skips every hot-only
    // block. Answers compared row-for-row, not just counted.
    if (args.contains("--wand-syn")) {
      val tailW = 10000L
      def tailCol(salt: String) = concat(lit("t"),
        (conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(salt))), 1, 6), 16, 10).cast("long") % tailW).cast("string"))
      val hotText = lit((0 until 20).map(i => s"hot${i % 8}").mkString(" "))
      val nDocs = 1048576L  // 8,192 blocks; hot postings ~2.6M entries
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", hotText, tailCol(":a"), tailCol(":b")).as("text"))
      val idx = graft.ops.Subplan.once(ext.Text.blockedEntries(docs))
      val dl = graft.ops.Subplan.once(ext.Hybrid.docLenOf(idx))
      val imp = graft.ops.Subplan.once(ext.Hybrid.impactsOf(idx, dl))
      // Query i = {hot_(i%8), doc (1000+i·37)'s two tail words} — the
      // same md5 the corpus column computes, replayed driver-side.
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def tailOf(id: Long, salt: String): String =
        "t" + (java.lang.Long.parseLong(md5hex(s"$id$salt").take(6), 16) %
          tailW)
      import spark.implicits._
      // qids in the +10^9 twin-id space (the --wand rule): 9000-9009
      // are real doc_ids at this corpus size and would self-exclude.
      val qterms = (0 until 10).flatMap { i =>
        val src = 1000L + 37L * i
        Seq((1_000_000_000L + i, s"hot${i % 8}"),
          (1_000_000_000L + i, tailOf(src, ":a")),
          (1_000_000_000L + i, tailOf(src, ":b")))
      }.toDF("qid", "term")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      val t0 = System.nanoTime()
      val ex = rows(ext.Hybrid.bm25Over(idx, dl, qterms))
      val exSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (cand, admitted, scored) = ext.Hybrid.bmwOver(idx, dl, imp, qterms)
      val pr = rows(scored)
      val prSec = (System.nanoTime() - t1) / 1e9
      require(ex == pr, s"pruned != exhaustive: " +
        s"missing=${(ex -- pr).take(3)} extra=${(pr -- ex).take(3)}")
      println(s"""{"mode":"wand_syn","docs":$nDocs,"blocks":${nDocs / 128},""" +
        s""""queries":10,"rows":${ex.size},"exhaustive_sec":$exSec,""" +
        s""""pruned_sec":$prSec,"cand_blocks":${cand.count()},""" +
        s""""admitted_blocks":${admitted.count()}}""")
      spark.stop()
      return
    }

    // BPE-depth mode (`Soak <dir> --bpe <rounds>`): wall time of the
    // t24 training loop at a REAL tokenizer depth (the registered
    // query trains BpeMergeRounds=10 so the oracle's unrolled CTE
    // chain stays readable; production tokenizers run 30k-100k
    // merges). Measures the accepted per-round driver-loop bound: the
    // frontier shuffle is paid once, every round after is
    // vocab-bounded, so sec/round should hold flat as rounds grow and
    // corpus scale should move only the frontier term.
    if (args.contains("--bpe")) {
      require(args.indexOf("--bpe") + 1 < args.length,
        "usage: Soak <dir> --bpe <rounds>")
      val rounds = args(args.indexOf("--bpe") + 1).toInt
      val docs = Tables(spark, sfDir, "documents")
      val t0 = System.nanoTime()
      val merges = ext.Text.bpeTrain(docs, rounds).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"dir":"$sfDir","mode":"bpe","rounds":$rounds,""" +
        s""""merges":$merges,"sec":$sec,"sec_per_round":${sec / rounds}}""")
      spark.stop()
      return
    }

    // Batched-BPE depth mode (`Soak <dir> --bpe-batch <rounds> <batch>`):
    // t28's production-depth claim measured — total merges emitted and
    // s/MERGE (t24's bound is s/ROUND ≈ s/merge; batching divides the
    // round cost across up to `batch` merges).
    if (args.contains("--bpe-batch")) {
      val i = args.indexOf("--bpe-batch")
      require(i + 2 < args.length,
        "usage: Soak <dir> --bpe-batch <rounds> <batch>")
      val (rounds, batch) = (args(i + 1).toInt, args(i + 2).toInt)
      val docs = Tables(spark, sfDir, "documents")
      val t0 = System.nanoTime()
      val merges = ext.Text.bpeBatchTrain(docs, rounds, batch).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"dir":"$sfDir","mode":"bpe-batch","rounds":$rounds,""" +
        s""""batch":$batch,"merges":$merges,"sec":$sec,""" +
        s""""sec_per_round":${sec / rounds},""" +
        s""""sec_per_merge":${sec / math.max(merges, 1)}}""")
      spark.stop()
      return
    }

    val d = Tables(spark, sfDir, "documents")

    // Corpus shape: shingle document frequencies.
    val sh = ext.Dedup.shingles(spark, sfDir)
    val dfreq = sh.groupBy(col("x")).agg(count(lit(1)).as("df"))
    val shape = dfreq.agg(
      count(lit(1)).as("n_shingles"),
      max(col("df")).as("max_df"),
      sum(col("df") * (col("df") - 1) / 2).cast("long").as("naive_cand")).head()

    // d02 at the registered threshold.
    val sets02 = graft.ops.Subplan.once(ext.Dedup.orderedShingleSets(sh))
    val (c02, tc02) = timed(ext.Dedup.jaccardCandidates(sets02, 0.5).count())
    val (p02, tp02) = timed(
      ext.Dedup.jaccardPairsPrefix(ext.Dedup.shingles(spark, sfDir), 0.5).count())

    // d12 with the registered fixture (one definition: withPrefixTwins).
    val sh12 = ext.Dedup.shinglesOf(ext.Dedup.withPrefixTwins(d))
    val sets12 = graft.ops.Subplan.once(ext.Dedup.orderedShingleSets(sh12))
    val (c12, tc12) = timed(ext.Dedup.containmentCandidates(sets12, 0.9).count())
    val (p12, tp12) = timed(ext.Dedup.containmentPairsPrefix(sh12, 0.9).count())

    println(
      s"""{"dir":"$sfDir","docs":${d.count()},""" +
      s""""n_shingles":${shape.getLong(0)},"max_df":${shape.getLong(1)},""" +
      s""""naive_cand":${shape.getLong(2)},""" +
      s""""d02":{"cand":$c02,"cand_sec":$tc02,"pairs":$p02,"sec":$tp02},""" +
      s""""d12":{"cand":$c12,"cand_sec":$tc12,"pairs":$p12,"sec":$tp12}}""")
    spark.stop()
  }
}
