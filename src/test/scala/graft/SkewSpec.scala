package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew
import graft.sources.Timeseries

class SkewSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Deterministic Zipf-skewed corpus: heavy-head token draws plus a
    * 5% "boiler" class built ONLY from the 3 hottest words — the shape
    * that puts a hot shingle in rarest-first prefixes (tools/
    * gen_sf1.py --zipf is the sf1-sized sibling). */
  private lazy val zipfDocs = {
    import spark.implicits._
    // md5 → uniform [0,1): 7 bytes (56 bits) so the hex parse stays
    // inside signed-Long range — same distribution as gen_sf1.py's
    // 8-byte _u, narrower only to avoid parseUnsignedLong gymnastics.
    def h(k: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val b = md.digest(k.getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        b.take(7).map("%02x".format(_)).mkString, 16).toDouble) / 0xFFFFFFFFFFFFFFL
    }
    val V = 60
    (0 until 1500).map { j =>
      val toks =
        if (j % 20 == 3) // boiler: all-hot, short
          (0 until (8 + (h(s"bl$j") * 8).toInt))
            .map(i => s"w${(h(s"b$j|$i") * 3).toInt}")
        else // heavy head: cube bias toward rank 0
          (0 until (10 + (h(s"dl$j") * 30).toInt))
            .map(i => s"w${(math.pow(h(s"t$j|$i"), 3) * V).toInt}")
      (j.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("zipf skew: d02/d12 candidates track content, not hot-shingle df^2") {
    // The scale property the rarest-first prefix order buys (sf1 soak:
    // max_df = 24% of a 51k-doc corpus, naive share-a-shingle join =
    // 442M candidates, prefix-filtered d02 = 76k, one-sided d12 =
    // 585k). Pinned here on a 1,500-doc corpus with the same shape: a
    // boiler class whose shingles are simultaneously the corpus's
    // hottest and its own prefixes — the adversarial case for the
    // one-sided containment join.
    val sh = ext.Dedup.shinglesOf(zipfDocs)
    val dfreq = sh.groupBy(col("x")).agg(count(lit(1)).as("df"))
    val shape = dfreq.agg(
      max(col("df")).as("max_df"),
      sum(col("df") * (col("df") - 1) / 2).cast("long").as("naive")).head()
    val (maxDf, naive) = (shape.getLong(0), shape.getLong(1))
    assert(maxDf > 50, s"fixture must be genuinely skewed, max_df=$maxDf")

    val sets = ext.Dedup.orderedShingleSets(sh)
    val cand02 = ext.Dedup.jaccardCandidates(sets, 0.5).count()
    val cand12 = ext.Dedup.containmentCandidates(sets, 0.9).count()
    info(f"naive $naive, d02 $cand02 (${naive.toDouble / cand02}%.1fx), " +
      f"d12 $cand12 (${naive.toDouble / cand12}%.1fx)")
    // A df-blind blocking would emit ~naive candidates; the prefix
    // filters must stay an order of magnitude under it even with hot
    // prefixes present. The corpus is md5-seeded, so the margins are
    // fixed: naive 237,960 vs d02 1,372 (173×) and d12 1,862 (128×).
    assert(cand02 * 10 < naive,
      s"d02 candidates $cand02 vs naive $naive — prefix filter regressed")
    assert(cand12 * 10 < naive,
      s"d12 candidates $cand12 vs naive $naive — one-sided filter regressed")
  }

  test("zipf skew: prefix filtering loses no recall on the skewed corpus") {
    // Total-recall proofs must survive skew, not just the uniform
    // fixture: d02's prefix pairs == the exhaustive join's pairs at
    // the threshold, and d12's one-sided candidates cover every
    // exhaustive containment pair.
    val sh = ext.Dedup.shinglesOf(zipfDocs)
    val pref = ext.Dedup.jaccardPairsPrefix(sh, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val exh = ext.Dedup.jaccardPairsExhaustive(sh)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    assert(pref.exceptAll(exh).isEmpty && exh.exceptAll(pref).isEmpty,
      "d02 prefix pairs must equal exhaustive pairs under skew")

    // Exhaustive ordered containment: every (a, b) sharing a shingle,
    // C = |A∩B| / |A| >= 0.9.
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exh12 = sh.as("a").join(sh.as("b"),
        col("a.x") === col("b.x") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .filter(col("inter").cast("double") / col("sa.n") >= 0.9)
      .select(col("doc_a"), col("doc_b"))
    val got = ext.Dedup.containmentPairsPrefix(sh, 0.9)
      .select(col("doc_a"), col("doc_b"))
    assert(got.exceptAll(exh12).isEmpty && exh12.exceptAll(got).isEmpty,
      "d12 containment pairs must equal exhaustive pairs under skew")
  }

  test("hub skew: s29's k-capped reverse sample bounds NN-descent " +
      "candidates where uncapped reverse lists blow up") {
    // The e-family zipf analogue for embeddings: one point
    // near-duplicated into 20% of the corpus, every other vector
    // nearest to that cluster — so the hub members' in-degree is
    // ~the whole corpus and an UNCAPPED reverse adjacency squares it
    // (Dong et al.'s reason for the ρK reverse sample). The capped
    // candidate generator (knnRoundCand — the registered s29 round)
    // must stay within its N·(2k)² bound and well under the uncapped
    // blow-up.
    import spark.implicits._
    def coord(seed: String, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j".getBytes("UTF-8"))
      (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)).toDouble /
        (1 << 24).toDouble - 0.5
    }
    val n = 500
    val rows = (0L until n.toLong).map { i =>
      val v = (0 until 64).map { j =>
        val hub = coord("hub", j)
        if (i % 100 == 0) hub + 0.01 * coord(s"h$i", j) // 5 hub copies
        else hub + 2.0 * coord(s"bg$i", j) // background: hub is every
        // background's nearest (bg–bg distance ≈ √2 × bg–hub)
      }
      (i, v)
    }
    val tmp = java.nio.file.Files.createTempDirectory("s29_hub").toString
    rows.toDF("vec_id", "v").write.mode("overwrite").parquet(tmp)
    val all = graft.ops.Subplan.once(spark.read.parquet(tmp)
      .select(col("vec_id"), col("v").cast("array<double>").as("v")))
    val fx = graft.ops.Subplan.once(ext.Similarity.knnFx(all))
    // In-degree skew BUILDS as descent spreads the hub (init draws
    // alone touch the 5 copies rarely) — measure the round that runs
    // on near-converged lists, the steady state a maintained graph
    // lives at.
    val nbr = graft.ops.Subplan.once(
      ext.Similarity.knnDescentGraph(all, rounds = 3))
    val maxIn = nbr.groupBy(col("w")).agg(count(lit(1)).as("ind"))
      .agg(max(col("ind"))).head().getLong(0)
    assert(maxIn >= n / 10, s"fixture not hub-skewed: max in-degree $maxIn")
    val capped = ext.Similarity.knnRoundCand(nbr).count()
    // The uncapped counterfactual: the same symmetrize/self-join with
    // EVERY reverse edge kept.
    val adjU = nbr.select(col("v").as("u"), col("w").as("p"))
      .unionAll(nbr.select(col("w").as("u"), col("v").as("p")))
      .distinct()
    val uncapped = adjU.as("a").join(adjU.as("b"), Seq("u"))
      .select(col("a.p").as("x"), col("b.p").as("y"))
      .filter(col("x") =!= col("y")).distinct().count()
    assert(capped <= n.toLong * 8 * 8,
      s"capped candidates $capped exceed the N·(2k)² bound")
    assert(uncapped >= 4 * capped,
      s"fixture too tame to demonstrate the cap: uncapped $uncapped " +
        s"vs capped $capped")
  }

  test("hub-batch skew: s34's restricted insert fold and s35's heal stay " +
      "bounded when every insert/delete lands on one hub") {
    // The graph-maintenance worst case the round-14 soaks didn't
    // cover: a batch arriving ENTIRELY in one neighborhood (all
    // inserts near the hub), and the symmetric delete (the hub
    // cluster retired — every background list references it).
    import spark.implicits._
    def coord(seed: String, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j".getBytes("UTF-8"))
      (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)).toDouble /
        (1 << 24).toDouble - 0.5
    }
    val nBase = 400
    val nBatch = 80 // 20% of the grown corpus — every one a hub copy
    def rowOf(i: Long, hubCopy: Boolean): (Long, Seq[Double]) =
      (i, (0 until 64).map { j =>
        val hub = coord("hub", j)
        if (hubCopy) hub + 0.01 * coord(s"h$i", j)
        else hub + 2.0 * coord(s"bg$i", j)
      })
    val baseRows = (0L until nBase.toLong).map(i => rowOf(i, i % 100 == 0))
    val batchRows = (nBase.toLong until (nBase + nBatch).toLong)
      .map(i => rowOf(i, hubCopy = true))
    val tmp = java.nio.file.Files.createTempDirectory("s34_hub").toString
    (baseRows ++ batchRows).toDF("vec_id", "v")
      .write.mode("overwrite").parquet(tmp)
    val all = graft.ops.Subplan.once(spark.read.parquet(tmp)
      .select(col("vec_id"), col("v").cast("array<double>").as("v")))
    val baseCorpus = graft.ops.Subplan.once(all.filter(col("vec_id") < nBase))
    val batchIds = all.filter(col("vec_id") >= nBase).select(col("vec_id"))
    val g = graft.ops.Subplan.once(ext.Similarity.knnDescentGraph(baseCorpus))
    // Seed volume: band collisions of a one-neighborhood batch are
    // quadratic in the BATCH (all copies share all 4 band signatures)
    // plus batch×(hub occupants + their k-lists) — never in the
    // corpus. Pin the batch-quadratic bound with headroom for the
    // draw/graph-expansion terms.
    val seed = ext.Similarity.knnBatchSeed(g, all, batchIds).count()
    val hubOcc = nBatch + nBase / 100 // band-bucket occupants near the hub
    assert(seed <= 16L * hubOcc * hubOcc,
      s"hub-batch seed $seed exceeds the batch-quadratic band bound")
    // The restricted fold: the touched set is the seed's endpoints —
    // batch + the hub neighborhood — NOT the corpus; every descent
    // round's candidates stay within |T|·(2k)² and well under a full
    // rebuild's N·(2k)² round (the d02/d12 margin discipline).
    val delta = graft.ops.Subplan.once(
      ext.Similarity.knnInsertDelta(g, all, batchIds))
    val touched = delta.select(col("v")).distinct()
    val tCnt = touched.count()
    val k = ext.Similarity.KnnK
    val cand = ext.Similarity.knnRoundCand(delta, k,
      Some(broadcast(touched))).count()
    assert(cand <= tCnt * (2L * k) * (2L * k),
      s"restricted round candidates $cand exceed |T|·(2k)² = " +
        s"${tCnt * 4L * k * k}")
    val fullRound = ext.Similarity.knnRoundCand(
      g.unionByName(delta).select(col("v"), col("w"), col("d"))).count()
    assert(cand * 2 < fullRound,
      s"restricted round $cand not under the full-rebuild round $fullRound")
    // The touched-pt histogram: pt = v mod KnnGraphParts is an ID
    // hash, not a geometric key — a geometric hub therefore SPREADS
    // across partitions and the whole-key-group rewrite stays
    // parallel (the layout's point; an id-adversarial batch would
    // serialize the write into one partition but never change the
    // fold's bounds).
    val parts = ext.Similarity.KnnGraphParts
    val ptHist = touched
      .select(pmod(col("v"), lit(parts.toLong)).cast("int").as("pt"))
      .groupBy(col("pt")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(ptHist.length == parts,
      s"hub batch should touch every pt partition, got ${ptHist.length}")
    assert(ptHist.map(_._2).max * 4 <= tCnt,
      "one pt partition holds over a quarter of the touched owners")
    // Hub DELETE: the touched set is the retired cluster's graph
    // in-degree — which the k-capped reverse sample BOUNDS during
    // construction (measured 27 here, not the ~400 an uncapped hub
    // embedding would force): the same ρK cap that bounds descent
    // candidates bounds the heal's blast radius. The candidate pool
    // stays ≤ |touched|·k own edges + |touched|·k·k inherited —
    // linear in the touched set, never pairwise in the corpus.
    val grown = graft.ops.Subplan.once(ext.Similarity.knnTopK(
      g.unionByName(delta).select(col("v"), col("w"), col("d")), k))
    val fx = graft.ops.Subplan.once(ext.Similarity.knnFx(all))
    val hubIds = all.filter(col("vec_id") >= nBase ||
      col("vec_id") % 100 === 0).select(col("vec_id"))
    val healed = ext.Similarity.knnDeleteHeal(grown, fx, hubIds)
    val healTouched = healed.select(col("v")).distinct().count()
    val healRows = healed.count()
    assert(healRows <= healTouched * k,
      s"healed lists $healRows exceed k per touched owner")
    assert(healTouched <= nBase.toLong,
      "heal touched more owners than survivors exist")
    info(s"hub-batch: seed=$seed touched=$tCnt cand=$cand " +
      s"fullRound=$fullRound ptMax=${ptHist.map(_._2).max} " +
      s"healTouched=$healTouched")
  }

  test("salted join returns exactly the plain join's rows") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val plain = li.join(o, Seq("l_orderkey"), "inner")
    val salted = Skew.saltedJoin(li, o, Seq("l_orderkey"), 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("aux assembly round-trips a long-format aux frame") {
    import spark.implicits._
    val long = Seq(
      (1, 2, 3, 4, 730000, 100.0f, 5, 180, 0.5f, 2.0f, 1),
      (1, 2, 3, 4, 730010, 100.0f, 5, 180, 0.5f, 2.0f, 1),
      (1, 2, 9, 9, 730000, 50.0f, 2, 90, 0.1f, 1.0f, 0))
      .toDF("cx", "cy", "px", "py", "date", "dem", "trends", "aspect",
        "posidex", "slope", "mpw")
    val aux = Timeseries.assembleAux(long)
    assert(aux.count() == 2)
    val row = aux.filter(col("px") === 3).head()
    assert(row.dates == Seq(730010, 730000), "dates descending")
    assert(row.trends == Seq(5, 5))
    assert(row.dem.get == Seq(100.0f, 100.0f))
  }
}
