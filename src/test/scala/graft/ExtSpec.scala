package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtSpec extends AnyFunSuite {
  import SparkTestSession._

  test("d03 minhash-lsh candidates are a superset-verified subset of d02 exact jaccard") {
    val exact = SparkEntry.queries("d02_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("d03_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH+verify must never emit a false positive")
    assert(lsh.size >= (exact.size * 0.8).toInt, s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("s04 random projection preserves planted near-duplicates") {
    // The reduction's use case is dedup/ANN blocking in 16 dims: a
    // vector and its 1.01-scaled twin (the d05 planting) must stay at
    // reduced-space cosine ~1.
    val reduceExpr = org.apache.spark.sql.functions.expr(
      """transform(sequence(0, 15), j ->
        |  aggregate(sequence(1, 64), cast(0.0 as double),
        |    (acc, i) -> acc + element_at(v, i) *
        |      (case when conv(substring(md5(concat(
        |             cast(i as string), ':', cast(j as string))), 1, 1),
        |             16, 10) % 2 = 0
        |       then cast(1.0 as double) else cast(-1.0 as double) end))
        |  / cast(4.0 as double))""".stripMargin)
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val r1 = e.select(col("vec_id"), reduceExpr.as("r1"))
    val r2 = e.select(col("vec_id"), transform(col("v"),
        (x, i) => when(i === 0, x * 1.01).otherwise(x)).as("v"))
      .select(col("vec_id"), reduceExpr.as("r2"))
    val cos = r1.join(r2, "vec_id")
      .select(graft.functions.CosineSimilarity.cosineSim(col("r1"), col("r2"))
        .as("c"))
      .collect().map(_.getDouble(0))
    assert(cos.nonEmpty && cos.forall(_ > 0.999),
      s"reduced-space twin cosine degraded: min=${cos.min}")
  }

  test("d07 clusters equal a driver-side union-find over the d02 pairs") {
    val pairs = SparkEntry.queries("d02_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = SparkEntry.queries("d07_dedup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(x => x -> find(x)).toMap
    assert(want.nonEmpty && got == want,
      s"label propagation diverges from union-find on ${got.size} nodes")
  }

  test("d01 exact dedup collapses the self-unioned corpus 2→1") {
    val df = SparkEntry.queries("d01_exact_dedup")(spark, sf)
    assert(df.filter(col("n_copies") =!= 2).count() == 0)
  }

  test("s01 ann ranks are 1..5 per query and cosine in [-1,1]") {
    val rows = SparkEntry.queries("s01_ann_bruteforce")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 5))
    }
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos_sim")) <= 1.0 + 1e-9))
  }

  test("d05 embedding near-dup finds exactly the planted perturbed pairs") {
    val rows = SparkEntry.queries("d05_embedding_neardup")(spark, sf).collect()
    val n = Tables(spark, sf, "embeddings").count()
    assert(rows.length == n, s"expected $n planted pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_b") == r.getAs[Long]("vec_a") + 1000000000L,
        s"non-planted pair surfaced: $r")
      assert(r.getAs[Double]("cos_sim") >= 0.99)
    }
  }

  test("multimodal mapPartitions feature extraction round-trips") {
    val feats = ext.Multimodal.extractFeatures(spark, sf).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.n_bytes > 0 && f.mean_byte > 0 && f.head.length <= 8)
    }
    val sampled = ext.Multimodal.mediaTable(spark, sf)
      .mapPartitions(ext.Multimodal.StubDecoders.frameSample(16))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.BINARY))
      .collect()
    assert(sampled.forall(_._2.nonEmpty))
  }

  test("multimodal resize2x halves the raster and pools exact byte means") {
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").getBytes("UTF-8"))
      .toMap
    val w = 64
    val resized = ext.Multimodal.resizeMedia(spark, sf, w).collect()
    assert(resized.length == texts.size)
    resized.foreach { case (id, ow, oh, px) =>
      val bytes = texts(id)
      val h = (bytes.length + w - 1) / w
      assert(ow == (w + 1) / 2 && oh == (h + 1) / 2)
      assert(px.length == ow * oh)
      // spot-check the interior top-left pool against a recompute
      if (bytes.length >= w * 2 + 2) {
        val want = ((bytes(0) & 0xff) + (bytes(1) & 0xff) +
          (bytes(w) & 0xff) + (bytes(w + 1) & 0xff)) / 4
        assert((px(0) & 0xff) == want, s"doc $id pool(0,0): ${px(0) & 0xff} != $want")
      }
    }
  }

  test("s05 blocked NN-1 finds every vector's sign-identical planted twin") {
    // A 1.01× dim-0 scale never flips a sign, so each vector's twin
    // collides in ALL four bands — every one of the 2N vectors must
    // surface with a best candidate at least as close as its twin
    // (cos ≈ 0.9999; natural collisions on this random corpus top out
    // ~0.51, so anything above 0.999 IS the twin or better).
    val out = SparkEntry.queries("s05_blocked_nn1")(spark, sf).collect()
    val n = Tables(spark, sf, "embeddings").count()
    assert(out.length == 2 * n,
      s"every corpus+twin vector needs a neighbor: ${out.length} vs ${2 * n}")
    val minCos = out.map(_.getAs[Double]("cos_sim")).min
    assert(minCos > 0.999, s"some vector missed its planted twin: min cos $minCos")
    // and the pairing is the twin offset for every vector
    assert(out.forall(r => math.abs(
      r.getAs[Long]("nn_id") - r.getAs[Long]("vec_id")) == 1000000000L),
      "best neighbor should be the planted twin on this corpus")
  }

  test("row-local simhash fold equals the grouped d04 signature on the corpus") {
    // The streaming twin computes signatures per row (no groupBy per
    // doc); the two forms must be bit-identical or stream/batch band
    // keys drift.
    val base = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val grouped = ext.Dedup.simhashSignatures(base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val rowLocal = base.select(col("doc_id"),
        ext.Dedup.simhashOfTokenHashes(ext.Dedup.tokenHashesCol(
          split(trim(col("text")), "\\s+"))).as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rowLocal == grouped,
      s"diverging docs: ${(grouped.toSet -- rowLocal.toSet).take(3)}")
  }

  test("connected components: a 1,000-node chain converges in O(log n) rounds") {
    // The adversarial case for min-label propagation: a single
    // duplication CHAIN, diameter 999. Star contraction must collapse
    // it to one cluster (labelled by the minimum id) in ~2·log₂(n)
    // rounds, not ~n.
    import spark.implicits._
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = ext.Dedup.connectedComponentsWithRounds(pairs)
    val rows = labels.collect()
    assert(rows.length == 1000, s"every chain node must be labelled, got ${rows.length}")
    assert(rows.forall(_.getLong(1) == 0L),
      s"all labels must be the component min: ${rows.filter(_.getLong(1) != 0L).take(3).toSeq}")
    assert(rounds <= 20, s"expected <= ~2*log2(1000) rounds, took $rounds")
  }

  test("connected components: disjoint clusters keep distinct min labels") {
    import spark.implicits._
    // two triangles + one pair, ids interleaved so orientation matters
    val pairs = Seq((5L, 9L), (9L, 3L), (3L, 5L), (8L, 2L), (2L, 6L), (10L, 4L))
      .toDF("doc_a", "doc_b")
    val got = ext.Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      2L -> 2L, 6L -> 2L, 8L -> 2L, 4L -> 4L, 10L -> 4L))
  }

  test("m01 sampled column is NULL for empty and NULL text (DuckDB parity)") {
    // DuckDB: array_to_string([], ',') = NULL and NULL text propagates;
    // the Spark branch must agree (ADVICE r2) even though the sf corpora
    // contain no such rows.
    import spark.implicits._
    val got = Seq(Some("abc"), Some(""), None).toDF("text")
      .select(ext.Multimodal.sampledCol.as("sampled"))
      .collect().map(r => Option(r.getString(0)))
    assert(got(0).contains("97"), s"got ${got(0)}")
    assert(got(1).isEmpty, "empty text must sample to NULL")
    assert(got(2).isEmpty, "NULL text must sample to NULL")
  }

  test("tfidf vectors: one per doc, idf downweights ubiquitous terms") {
    val df = ext.Text.tfidf(spark, sf)
    assert(df.count() == Tables(spark, sf, "documents").count())
    val v = df.head().getAs[org.apache.spark.ml.linalg.Vector]("tfidf")
    assert(v.numNonzeros > 0)
  }

  test("e09 cohort retention matches a brute-force first-day cohort walk") {
    val dayUs = 86400L * 1000000L
    val events = Tables(spark, sf, "events").select("user_id", "ts").collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp]("ts")
        val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        (r.getAs[Long]("user_id"), Math.floorDiv(micros, dayUs))
      }
    val byUser = events.distinct.groupBy(_._1).map { case (u, g) =>
      u -> g.map(_._2).toSet
    }
    val want = byUser.toSeq.flatMap { case (u, ds) =>
      val c = ds.min
      ds.toSeq.map(d => (c, (d - c).toInt)).filter(_._2 <= 7).map(k => (k, u))
    }.groupBy(_._1).map { case (k, us) => k -> us.map(_._2).distinct.size.toLong }
    val got = SparkEntry.queries("e09_cohort_retention")(spark, sf).collect()
      .map { r =>
        val cd = r.getAs[java.sql.Timestamp]("cohort_day")
        ((Math.floorDiv(cd.getTime, 1000L) * 1000000L / dayUs,
          r.getAs[Int]("day_offset")), r.getAs[Long]("n_active"))
      }.toMap
    assert(got == want,
      s"retention matrix diverges: ${(want.toSet -- got.toSet).take(3)}")
    assert(want.exists(_._1._2 > 0), "some cohort must retain past day 0")
  }

  test("e04 sessions never overlap and gaps exceed 30min between sessions") {
    val df = SparkEntry.queries("e04_sessionize")(spark, sf)
      .orderBy(col("user_id"), col("sess")).collect()
    df.groupBy(_.getAs[Long]("user_id")).values.foreach { sessions =>
      val sorted = sessions.sortBy(_.getAs[Long]("sess"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gap = b.getAs[java.sql.Timestamp]("t_start").getTime -
            a.getAs[java.sql.Timestamp]("t_end").getTime
          assert(gap > 30 * 60 * 1000L, s"inter-session gap only ${gap}ms")
        case _ =>
      }
    }
  }

  test("e06 as-of join matches a brute-force most-recent-prior-purchase scan") {
    val events = Tables(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp]("ts")
        val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), micros,
          r.getAs[String]("event_type"))
      }
    val purchases = events.filter(_._4 == "purchase")
      .groupBy(e => (e._2, e._3))                       // same tie-break as the query:
      .map { case (_, g) => g.maxBy(_._1) }.toSeq       // max event_id per (user, ts)
    val expected = events.filter(_._4 == "click").map { c =>
      val prior = purchases.filter(p => p._2 == c._2 && p._3 <= c._3)
      c._1 -> (if (prior.isEmpty) None
               else Some(prior.maxBy(p => (p._3, p._1))._1))
    }.toMap
    val got = SparkEntry.queries("e06_asof_join")(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("p_event_id")).map(_.longValue)).toMap
    assert(got == expected)
    assert(got.nonEmpty && got.values.exists(_.isDefined))
  }

  test("e07 funnel matches a brute-force per-user stage walk") {
    val events = Tables(spark, sf, "events")
      .select("user_id", "ts", "event_type").collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp]("ts")
        val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        (r.getAs[Long]("user_id"), micros, r.getAs[String]("event_type"))
      }
    val byUser = events.groupBy(_._1)
    def stage(ts: Iterable[Long]): Option[Long] =
      if (ts.isEmpty) None else Some(ts.min)
    val walked = byUser.values.flatMap { g =>
      val t1 = stage(g.filter(_._3 == "signup").map(_._2))
      val t2 = t1.flatMap(t => stage(g.filter(e => e._3 == "click" && e._2 >= t).map(_._2)))
      val t3 = t2.flatMap(t => stage(g.filter(e => e._3 == "purchase" && e._2 >= t).map(_._2)))
      Some((t1, t2, t3))
    }.toSeq
    val row = SparkEntry.queries("e07_funnel")(spark, sf).head()
    assert(row.getAs[Long]("n_signup") == walked.count(_._1.isDefined))
    assert(row.getAs[Long]("n_click") == walked.count(_._2.isDefined))
    assert(row.getAs[Long]("n_purchase") == walked.count(_._3.isDefined))
    val sumMicros = walked.collect { case (Some(t1), _, Some(t3)) => t3 - t1 }.sum
    assert(row.getAs[Long]("sum_micros") == sumMicros)
    assert(row.getAs[Long]("n_purchase") > 0, "funnel should have completers at sf0.001")
  }

  test("e08 band join counts match a brute-force ±30min scan") {
    val events = Tables(spark, sf, "events")
      .select("event_id", "ts", "event_type").collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp]("ts")
        val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        (r.getAs[Long]("event_id"), micros, r.getAs[String]("event_type"))
      }
    val purch = events.filter(_._3 == "purchase").map(_._2)
    val expected = events.filter(_._3 == "error").map { e =>
      e._1 -> purch.count(p => math.abs(p - e._2) <= 1800000000L).toLong
    }.toMap
    val got = SparkEntry.queries("e08_band_join")(spark, sf).collect()
      .map(r => r.getAs[Long]("e_id") -> r.getAs[Long]("n_nearby")).toMap
    assert(got == expected)
    assert(got.values.exists(_ > 0), "some error should have a nearby purchase")
    assert(got.values.exists(_ == 0), "zero-match errors must survive the left join")
  }

  test("t14 sequence packing matches a driver-side running-sum recompute") {
    val rows = SparkEntry.queries("t14_sequence_pack")(spark, sf).collect()
    val docsArr = Tables(spark, sf, "documents").select("doc_id", "source", "text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").trim.split("\\s+").length))
    val want = docsArr.groupBy(_._2).toSeq.flatMap { case (src, g) =>
      var cum = 0L
      g.sortBy(_._1).toSeq.map { case (id, _, n) =>
        val start = cum; cum += n
        id -> ((src, n, start, start / 512, (cum - 1) / 512))
      }
    }.toMap
    val got = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("source"), r.getAs[Int]("n_tok"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("seq_start"),
        r.getAs[Long]("seq_end")))).toMap
    assert(got == want)
    assert(want.values.exists(v => v._5 > v._4),
      "some doc must span a sequence cut point")
  }

  test("d12 containment finds every planted prefix twin that Jaccard misses") {
    val rows = SparkEntry.queries("d12_containment")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment")))
    assert(rows.forall(_._3 >= 0.9))
    // every doc with >= 3 tokens plants a 12-token-prefix twin at
    // +1e9 whose shingles are a subset of its original's
    val eligible = Tables(spark, sf, "documents")
      .filter(size(split(trim(col("text")), "\\s+")) >= 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val twinPairs = rows.filter { case (a, b, c) =>
      a == b + 1000000000L && c == 1.0 }.map(_._2).toSet
    assert(eligible.subsetOf(twinPairs),
      s"missing twin containments for ${(eligible -- twinPairs).take(5)}")
    // the asymmetry is the point: most planted pairs sit far below the
    // d02/d03 Jaccard threshold, so the symmetric family cannot see them
    val jacc = SparkEntry.queries("d02_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val onlyHere = rows.count { case (a, b, _) =>
      !jacc.contains((math.min(a, b), math.max(a, b))) }
    assert(onlyHere > rows.length / 2,
      "the fixture must exercise containment-only pairs")
  }

  test("t20 corpus pipeline: every doc gets one verdict; packed is a budgeted prefix") {
    val rows = SparkEntry.queries("t20_corpus_pipeline")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("n_tok"), r.getAs[String]("stage"),
        Option(r.getAs[java.lang.Long]("tok_start")).map(_.toLong)))
    assert(rows.length == Tables(spark, sf, "documents").count())
    val stages = rows.map(_._4).toSet
    assert(stages == Set("eval_holdout", "low_quality", "exact_dup",
      "contaminated", "over_budget", "packed"),
      s"every pipeline stage must fire on the fixture: $stages")
    // dropped docs carry no packing coordinates; packed docs all do
    rows.foreach { case (id, _, _, stage, start) =>
      assert(start.isDefined == (stage == "packed"), s"doc $id $stage")
    }
    // per source: packed docs form a contiguous token prefix within budget
    rows.filter(_._4 == "packed").groupBy(_._2).foreach { case (src, g) =>
      val byStart = g.sortBy(_._5.get)
      assert(byStart.head._5.get == 0L, s"$src prefix must start at 0")
      byStart.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.get + a._3 == b._5.get, s"$src packing has a gap")
        case _ =>
      }
      val last = byStart.last
      assert(last._5.get + last._3 <=
        graft.streaming.DocStreams.budgetOf(src, 1000L),
        s"$src packed tokens exceed the budget")
    }
  }

  test("t19 inverted index: blocked postings are sorted, block-local, df-complete") {
    val rows = SparkEntry.queries("t19_inverted_index")(spark, sf).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("block"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"),
        r.getAs[String]("postings")))
    assert(rows.nonEmpty)
    rows.foreach { case (term, block, nDocs, nOcc, postings) =>
      val entries = postings.split(",").map { e =>
        val Array(d, t) = e.split(":"); (d.toLong, t.toLong)
      }
      assert(entries.length == nDocs && entries.map(_._2).sum == nOcc)
      assert(entries.map(_._1).toSeq == entries.map(_._1).sorted.toSeq,
        s"$term/$block postings out of doc order")
      assert(entries.forall(_._1 / 128 == block),
        s"$term/$block holds a doc outside its block")
    }
    assert(rows.map(_._2).distinct.length > 1,
      "fixture must span multiple blocks at width 128")
    // per-term doc counts reconcile with t06's document frequency
    val df6 = SparkEntry.queries("t06_term_stats")(spark, sf).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("df")).toMap
    val dfIdx = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(dfIdx == df6)
  }

  test("t21 index delta: merged rows equal the full rebuild on touched keys") {
    // t21's corpus+batch split covers ALL docs, so a merged (term,
    // block) row must equal the full t19 build's row for that key —
    // the incremental path may touch fewer rows, never produce
    // different ones.
    val t19 = SparkEntry.queries("t19_inverted_index")(spark, sf).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("block")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"),
          r.getAs[String]("postings"))).toMap
    val t21 = SparkEntry.queries("t21_index_delta")(spark, sf).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("block"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"),
        r.getAs[String]("postings"), r.getAs[Long]("n_new")))
    assert(t21.nonEmpty)
    t21.foreach { case (term, block, nDocs, nOcc, postings, nNew) =>
      assert(nNew >= 1, s"$term/$block emitted without a batch doc")
      val full = t19.get((term, block))
      assert(full.isDefined,
        s"$term/$block emitted by the delta but absent from the full rebuild")
      assert(full.get == ((nDocs, nOcc, postings)),
        s"$term/$block merged row diverges from the full rebuild")
      // the batch split is doc_id % 8 == 0 — count them in postings
      val batchDocs = postings.split(",")
        .count(_.split(":")(0).toLong % 8 == 0)
      assert(batchDocs == nNew, s"$term/$block n_new miscounts batch docs")
    }
    // untouched keys stay untouched: t21 emits a strict subset
    assert(t21.length < t19.size,
      "the delta must not rewrite the whole index")
  }

  test("d14 incremental clusters: merged assignment equals the full rebuild " +
      "on touched components") {
    // d14's corpus+batch split covers ALL docs, so the merged labels
    // must equal a full d07-style rebuild over the planted corpus,
    // restricted to components containing a batch doc — the
    // incremental path may touch fewer components, never relabel one.
    val planted = Tables(spark, sf, "documents").select(col("doc_id"),
      when(col("doc_id") % 20 === 4, lit(ext.Dedup.PressPlant))
        .otherwise(col("text")).as("text"))
    val full = ext.Dedup.connectedComponents(
        ext.Dedup.jaccardPairsPrefix(ext.Dedup.shinglesOf(planted), 0.5)
          .select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("lbl")))
    val touched = full.groupBy(_._2).collect {
      case (cid, members) if members.exists(_._1 % 8 == 0) => cid
    }.toSet
    val want = full.filter(p => touched(p._2)).toSet
    val got = SparkEntry.queries("d14_incremental_clusters")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSet
    assert(got == want,
      s"merged delta diverges from the full rebuild on touched components: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // untouched components stay untouched: the delta is a strict subset
    assert(got.size < full.length,
      "the delta must not rewrite the whole assignment")
    // the planted cross-split cluster genuinely merged: one component
    // holding both batch (id % 8 == 0) and corpus members
    val plantRows = got.filter(_._1 % 20 == 4)
    assert(plantRows.size >= 2 && plantRows.map(_._2).size == 1,
      "planted duplicates must collapse into one cluster")
    assert(plantRows.exists(_._1 % 8 == 0) && plantRows.exists(_._1 % 8 != 0),
      "the planted cluster must span the batch/corpus split")
  }

  test("d15 incremental embedding clusters: merged assignment equals the " +
      "full rebuild on touched components") {
    // The d14 identity, for the embedding pair family: the delta must
    // equal a full d13-style rebuild over the d15 corpus restricted to
    // components containing a batch (vec_id % 7 == 0) vector.
    val full = ext.Dedup.connectedComponents(
        ext.EmbeddingDedup.signNearDupPairs(
            graft.ops.Subplan.once(ext.EmbeddingDedup.d15Corpus(spark, sf)))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("lbl")))
    val touched = full.groupBy(_._2).collect {
      case (cid, members) if members.exists(_._1 % 7 == 0) => cid
    }.toSet
    val want = full.filter(p => touched(p._2)).toSet
    val got = SparkEntry.queries("d15_incremental_embedding_clusters")(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id")))
      .toSet
    assert(got == want,
      s"merged delta diverges from the full rebuild on touched components: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // untouched components stay untouched: the delta is a strict subset
    assert(got.size < full.length,
      "the delta must not rewrite the whole assignment")
    // the batch draw splits planted families (10⁹ ≡ 6, 2·10⁹ ≡ 5
    // mod 7), so the merge-INTO-stored-cluster path must actually
    // occur: some touched component holds one batch member and ≥ 2
    // existing members (a stored two-member cluster absorbing a batch
    // vector), not just fresh batch–singleton pairs.
    val byCluster = got.groupBy(_._2).values
    assert(byCluster.exists(ms =>
        ms.count(_._1 % 7 == 0) == 1 && ms.count(_._1 % 7 != 0) >= 2),
      "no touched component shows a stored multi-member cluster " +
        "absorbing a batch vector")
  }

  test("m09 incremental media clusters: merged assignment equals the " +
      "full rebuild on touched components") {
    // The d14/d15 identity, for the aHash-hamming pair family.
    val sigs = ext.Multimodal.ahashSigs(spark, sf)
    val full = ext.Dedup.connectedComponents(
        ext.Dedup.simhashPairs(sigs, 3).select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("lbl")))
    val touched = full.groupBy(_._2).collect {
      case (cid, members) if members.exists(_._1 % 7 == 0) => cid
    }.toSet
    val want = full.filter(p => touched(p._2)).toSet
    val got = SparkEntry.queries("m09_incremental_media_clusters")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("cluster_id")))
      .toSet
    assert(got == want,
      s"merged delta diverges from the full rebuild on touched components: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.size < full.length,
      "the delta must not rewrite the whole assignment")
    // m06's planted twins split across the % 7 draw (10⁹ ≡ 6 mod 7),
    // so the delta must contain genuinely cross-draw components.
    assert(got.groupBy(_._2).values.exists(ms =>
        ms.exists(_._1 % 7 == 0) && ms.exists(_._1 % 7 != 0)),
      "no touched component spans the batch/corpus draw")
  }

  test("t22 LM surprise: scores are >= 1, vary, and cover every scorable doc") {
    val rows = SparkEntry.queries("t22_lm_perplexity")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("surprise")))
    val scorable = Tables(spark, sf, "documents")
      .filter(size(split(trim(col("text")), "\\s+")) >= 2).count()
    assert(rows.length == scorable, "every >=2-token doc gets a score")
    // c2 <= c1 always (each bigram occurrence is a prefix occurrence
    // of u), so every quantized inverse probability is >= 2^20 and
    // the mean is >= 1 exactly.
    assert(rows.forall(_._3 >= 1.0), "inverse probability below 1")
    assert(rows.map(_._3).distinct.length > 1,
      "surprise must separate docs, not collapse to a constant")
  }

  test("t23 held-out LM: covers exactly the eval split, surprise >= 1, " +
      "strictly above the self-trained score on average") {
    val rows = SparkEntry.queries("t23_lm_heldout")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("surprise"))).toMap
    val evalDocs = Tables(spark, sf, "documents")
      .filter(size(split(trim(col("text")), "\\s+")) >= 2)
      .filter(ext.Text.isEvalCol).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.keySet == evalDocs,
      "every >=2-token held-out doc gets a score, and only those")
    // c2+1 <= c1+V always, so every quantized inverse probability is
    // >= 2^20 and the mean is >= 1 exactly (t22's invariant survives
    // the smoothing shift).
    assert(rows.values.forall(_ >= 1.0), "inverse probability below 1")
    assert(rows.values.toSeq.distinct.length > 1,
      "surprise must separate docs, not collapse to a constant")
    // A held-out doc is genuinely more surprising under the train-only
    // LM than under t22's corpus-self-trained one (its own mass is
    // gone + smoothing): compare means over the shared doc set.
    val self = SparkEntry.queries("t22_lm_perplexity")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("surprise"))).toMap
    val shared = rows.keySet intersect self.keySet
    assert(shared.nonEmpty)
    val meanHeld = shared.toSeq.map(rows).sum / shared.size
    val meanSelf = shared.toSeq.map(self).sum / shared.size
    assert(meanHeld > meanSelf,
      s"held-out scoring should raise mean surprise: $meanHeld vs $meanSelf")
  }

  test("ANN recall@1 vs exact on the natural corpus: grid IVF holds a floor, " +
      "banded NN-1 stays a near-dup blocker") {
    // The in-test recall gate (PLANS.md's approximate-ANN recall
    // table holds the sf0.1/sf1 curve): ground truth
    // and both approximations are the registered operators' own
    // library forms, natural corpus (planting guarantees collisions,
    // which would inflate recall).
    val all = ops.Subplan.once(
      ext.Similarity.emb(spark, sf).select(col("vec_id"), col("v")))
    val exact = ops.Subplan.once(ext.Similarity.exactNn1(all))
    val n = exact.count()
    def hits(approx: org.apache.spark.sql.DataFrame): Long =
      exact.select(col("vec_id"), col("nn_id"))
        .join(approx.select(col("vec_id"), col("nn_id").as("a_nn")),
          Seq("vec_id"))
        .filter(col("nn_id") === col("a_nn")).count()
    // Measured 0.648 at sf0.001 / 0.65 at sf0.1 — floor with margin.
    val g = hits(ext.ExactSearch.gridNn1(all))
    assert(g >= (n * 0.55).toLong, s"grid IVF recall@1 regressed: $g/$n")
    // The banded path's recall lives in its DESIGN regime
    // (sign-identical near-dups — total recall, pinned above); on a
    // natural random corpus the true NN (cos ~0.5) almost never shares
    // a 16-bit sign band, measured recall ~0.003. Pin the separation:
    // if this "improves" toward general-NN recall, the band width
    // collapsed (the round-4 8-bit saturation failure mode) and the
    // operator's scale story is broken, not better.
    val b = hits(ext.ExactSearch.bandedNn1(all))
    assert(b < n / 10,
      s"banded NN-1 suddenly behaves like a general-NN index — check the " +
        s"band width has not saturated: $b/$n")
  }

  test("s08 probe radius: recall is non-decreasing, candidates pay for it") {
    // The multi-probe knob's contract: a wider probe's candidate set
    // is a SUPERSET (same quantizer, more cells), so if the exact NN
    // was found at r it is still the cosine argmax at r+1 — recall@1
    // can only rise. The cost side must actually rise too, or the
    // "knob" is a no-op.
    val all = ops.Subplan.once(
      ext.Similarity.emb(spark, sf).select(col("vec_id"), col("v")))
    val exact = ops.Subplan.once(ext.Similarity.exactNn1(all))
    def hits(r: Int): Long =
      exact.select(col("vec_id"), col("nn_id"))
        .join(ext.ExactSearch.gridNn1(all, r)
            .select(col("vec_id"), col("nn_id").as("a_nn")), Seq("vec_id"))
        .filter(col("nn_id") === col("a_nn")).count()
    def hits5(r: Int): Long =
      exact.select(col("vec_id"), col("nn_id"))
        .join(ext.ExactSearch.gridTopKNn(all, r, 5)
            .select(col("vec_id"), col("nn_id").as("a_nn")), Seq("vec_id"))
        .filter(col("nn_id") === col("a_nn")).count()
    val (h1, h2) = (hits(1), hits(2))
    assert(h2 >= h1, s"recall@1 fell as the probe widened: $h2 < $h1")
    val (f1, f2) = (hits5(1), hits5(2))
    assert(f2 >= f1, s"recall@5 fell as the probe widened: $f2 < $f1")
    assert(f1 >= h1 && f2 >= h2, "recall@5 must dominate recall@1")
    val (c1, c2) = (ext.ExactSearch.gridCandidateCount(all, 1),
      ext.ExactSearch.gridCandidateCount(all, 2))
    assert(c2 > c1, s"the 5×5 probe must score more candidates: $c2 <= $c1")
    // The s11 AXIS knob's contract, density side: adding a third axis
    // at equal per-axis radii PARTITIONS every 2-axis cell (same c1/c2
    // plus a c3 constraint), so the candidate set is a SUBSET —
    // strictly cheaper at equal radii. The registered (2,2,1) point
    // must also stay a subset of the 2-axis r=2 probe (same first two
    // windows, plus the c3 cut).
    val c3 = ext.ExactSearch.gridCandidateCountR(all, Seq(2, 2, 2))
    val c221 = ext.ExactSearch.gridCandidateCountR(all, Seq(2, 2, 1))
    assert(c3 < c2, s"the third axis must cut the candidate pool: $c3 >= $c2")
    assert(c221 <= c3,
      s"narrowing the third window must not add candidates: $c221 > $c3")
  }

  test("s12 landed-index probe returns exactly s08's answer") {
    // The stored form changes the storage topology, never the answer:
    // the landed postings carry the same deterministic cells the
    // in-lineage s08 derives, so the probed candidates — and the
    // top-5 — are identical row-for-row.
    val s08 = SparkEntry.queries("s08_ivf_grid")(spark, sf)
      .collect().map(_.toSeq).toSet
    val s12 = SparkEntry.queries("s12_ivf_grid_stored")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s12 == s08)
    assert(s12.nonEmpty)
  }

  test("s15 landed trained-index probe returns exactly s13's answer") {
    // Storage topology (stored centroids + cell-partitioned postings)
    // never changes the answer: the training build is deterministic,
    // so the landed index carries the same cells s13 derives in
    // lineage and the probed top-5 is identical row-for-row.
    val s13 = SparkEntry.queries("s13_ivf_kmeans")(spark, sf)
      .collect().map(_.toSeq).toSet
    val s15 = SparkEntry.queries("s15_ivf_kmeans_stored")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s15 == s13)
    assert(s15.nonEmpty)
  }

  test("s21 landed IVFADC probe returns exactly s16's answer") {
    // The s12/s15 storage-identity discipline on the COMPRESSED
    // index: the two-quantizer build is deterministic exact-integer
    // arithmetic, so the landed (centroids, codebooks, codes) tables
    // carry what s16 derives in lineage and the partition-pruned ADC
    // probe is identical row-for-row.
    val s16 = SparkEntry.queries("s16_ivfadc")(spark, sf)
      .collect().map(_.toSeq).toSet
    val s21 = SparkEntry.queries("s21_ivfadc_stored")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s21 == s16)
    assert(s21.nonEmpty)
  }

  test("t35/t36 unigram-LM: the Spark Viterbi equals a JVM DP replay and " +
      "is optimal under the learned scores") {
    // Train the registered model, collect it, and replay every word's
    // segmentation with an independent plain-Scala DP over the same
    // (pw map, unkpw) — the s13 Lloyd-replay discipline for the EM
    // family. Then, for short words, enumerate EVERY segmentation by
    // brute force and pin that the DP value is the true maximum of
    // the combined objective (so t36's segmentation really is optimal
    // under the learned scores, not just self-consistent).
    val d = Tables(spark, sf, "documents")
    val (_, model) = ext.Text.uniTrainFull(d)
    val m = model.collect().head
    val pmap = m.getAs[Map[String, Long]]("pmap")
    val unkpw = m.getAs[Long]("unkpw")
    val Neg = -(1L << 40)
    def pw(piece: String): Long =
      pmap.getOrElse(piece,
        if (piece.length == 1) unkpw else Neg)
    // The reference DP — same recurrence, same (strict-improvement,
    // ascending start) tie-break.
    def dp(w: String): (Long, List[String]) = {
      val best = Array.fill(w.length + 1)((Neg, List.empty[String]))
      best(0) = (0L, Nil)
      for (i <- 1 to w.length) {
        var b = (Neg, List.empty[String])
        for (jj <- math.max(1, i - (ext.Text.UniMaxPieceLen - 1)) to i) {
          val piece = w.substring(jj - 1, i)
          val cand = (best(jj - 1)._1 + pw(piece),
            best(jj - 1)._2 :+ piece)
          if (cand._1 > b._1) b = cand
        }
        best(i) = b
      }
      best(w.length)
    }
    val words = d.select(explode(ext.Text.toks).as("w0"))
      .filter(col("w0") =!= "")
      .select(substring(col("w0"), 1, 24).as("w")).distinct()
    val got = ext.Text.uniSegmentWords(words, model)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getAs[Seq[String]](2).toList))).toMap
    assert(got.nonEmpty)
    got.foreach { case (w, (u, seg)) =>
      val (ru, rseg) = dp(w)
      assert(u == ru && seg == rseg,
        s"word '$w': engine ($u, $seg) != JVM replay ($ru, $rseg)")
    }
    // Brute-force optimality on short words: every split point subset.
    def allSegs(w: String): Iterator[List[String]] =
      if (w.isEmpty) Iterator(Nil)
      else (1 to math.min(ext.Text.UniMaxPieceLen, w.length)).iterator.flatMap(l =>
        allSegs(w.drop(l)).map(w.take(l) :: _))
    val short = got.keys.filter(_.length <= 10).take(200)
    assert(short.nonEmpty)
    short.foreach { w =>
      val bestEnum = allSegs(w).map(seg =>
        seg.map(pw).sum).max
      assert(got(w)._1 == bestEnum,
        s"word '$w': DP ${got(w)._1} != enumerated optimum $bestEnum")
    }
  }

  test("s29 NN-descent has converged at the registered round count and " +
      "puts every planted twin at rank 1") {
    // Convergence: lists improve monotonically under (d, id) over a
    // finite state space, so descent reaches a fixpoint; the
    // registered KnnRounds must already BE one on the fixture — one
    // more round changes nothing (the oracle unrolls exactly
    // KnnRounds, so a still-moving graph would mean the registered
    // query undershot its own operator).
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    def edges(rounds: Int) =
      ext.KnnGraph.knnDescentGraph(all, rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atR = edges(ext.KnnGraph.KnnRounds)
    val atR1 = edges(ext.KnnGraph.KnnRounds + 1)
    assert(atR == atR1, "one more descent round still changed the graph")
    // Twin recall: the planted twin is sign-band-identical (seeded at
    // init) and the exact NN-1 (its distance is the 0.01-scaled dim-0
    // perturbation; natural pairwise cosine tops out ~0.51), so every
    // vector's rank-1 edge must be its twin — in both directions.
    val rk1 = SparkEntry.queries("s29_knn_graph")(spark, sf)
      .filter(col("rk") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rk1.nonEmpty)
    rk1.foreach { case (v, nn) =>
      val expected = if (v < 1000000000L) v + 1000000000L else v - 1000000000L
      assert(nn == expected, s"vec $v rank-1 neighbor $nn is not its twin")
    }
  }

  test("m12 keyframes are each shot's per-sample-energy argmax " +
      "(JVM recompute)") {
    // Independent recompute off the shared cut chain: per (media,
    // shot), the keyframe must be the frame maximizing the 2²⁰
    // fixed-point per-sample quotient with ties to the earliest
    // frame, and n_frames must count the whole shot.
    val rows = ext.Multimodal.shotCutRows(spark, sf)
      .select(col("media_id"), col("shot"), col("frame"), col("energy"),
        expr("(energy * 1048576) div n_samples").as("eps"))
      .collect().map(r => ((r.getAs[Long]("media_id"), r.getAs[Int]("shot")),
        (r.getAs[Int]("frame"), r.getAs[Long]("energy"), r.getAs[Long]("eps"))))
    val want = rows.groupBy(_._1).map { case ((m, s0), fs) =>
      val best = fs.map(_._2).minBy(t => (-t._3, t._1))
      (m, s0, best._1, best._2, best._3, fs.length.toLong)
    }.toSet
    val got = SparkEntry.queries("m12_shot_keyframes")(spark, sf)
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("shot"),
        r.getAs[Int]("keyframe"), r.getAs[Long]("kf_energy"),
        r.getAs[Long]("kf_eps"), r.getAs[Long]("n_frames"))).toSet
    assert(got.nonEmpty)
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("s31 greedy graph search: JVM walk replay, monotone descent, and " +
      "hop-budget fixpoint") {
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val g = ext.KnnGraph.knnDescentGraph(all)
      .collect().groupBy(_.getLong(0))
      .map { case (v, rows) => v -> rows.map(_.getLong(1)).toList }
    val fx = ext.KnnGraph.knnFx(all)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]](1).toArray).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // The reference walk — same entry, same candidates, same (d, id)
    // argmin; returns the visited distance sequence for the
    // monotonicity pin.
    def walk(q: Long, hops: Int): (Long, Seq[Long]) = {
      var cur = if (q == 0L) 1L else 0L
      val ds = scala.collection.mutable.ArrayBuffer(dist(fx(q), fx(cur)))
      for (_ <- 1 to hops) {
        val cands = (cur :: g.getOrElse(cur, Nil)).filter(_ != q)
        cur = cands.minBy(c => (dist(fx(q), fx(c)), c))
        ds += dist(fx(q), fx(cur))
      }
      (cur, ds.toSeq)
    }
    val got = SparkEntry.queries("s31_knn_graph_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.size == 10)
    val want = (0L until 10L).map { q =>
      val (nn, _) = walk(q, ext.KnnGraph.KnnSearchHops)
      (q, nn, dist(fx(q), fx(nn)))
    }.toSet
    assert(got == want,
      s"engine walk diverges from the JVM replay: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    (0L until 10L).foreach { q =>
      val (atH, ds) = walk(q, ext.KnnGraph.KnnSearchHops)
      // monotone descent: each hop improves or stays.
      ds.sliding(2).foreach { case Seq(a, b) => assert(b <= a) }
      // the budget reaches the fixpoint on the fixture: more hops
      // change nothing (post-fixpoint hops are idempotent).
      val (atH4, _) = walk(q, ext.KnnGraph.KnnSearchHops + 4)
      assert(atH4 == atH, s"query $q still moving after the hop budget")
    }
  }

  test("s33 beam search: JVM beam replay, and the width-1 beam IS s31's " +
      "greedy walk") {
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val g = ext.KnnGraph.knnDescentGraph(all)
      .collect().groupBy(_.getLong(0))
      .map { case (v, rows) => v -> rows.map(_.getLong(1)).toList }
    val fx = ext.KnnGraph.knnFx(all)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]](1).toArray).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // The reference beam — frontier ∪ neighbors, dedup, top-B by
    // (d, id) per hop; final frontier ranked the same way.
    def beamWalk(q: Long, b: Int): List[(Long, Long, Int)] = {
      var frontier = List(if (q == 0L) 1L else 0L)
      for (_ <- 1 to ext.KnnGraph.KnnSearchHops) {
        val cands = (frontier ++ frontier.flatMap(c => g.getOrElse(c, Nil)))
          .distinct.filter(_ != q)
        frontier = cands.sortBy(c => (dist(fx(q), fx(c)), c)).take(b)
      }
      frontier.sortBy(c => (dist(fx(q), fx(c)), c)).take(b)
        .zipWithIndex.map { case (c, i) => (c, dist(fx(q), fx(c)), i + 1) }
    }
    val gotBeam = SparkEntry.queries("s33_knn_beam_search")(spark, sf)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getInt(3)))).groupBy(_._1)
      .map { case (q, rows) => q -> rows.map(_._2).sortBy(_._3).toList }
    assert(gotBeam.size == 10)
    gotBeam.foreach { case (q, rows) =>
      val want = beamWalk(q, ext.KnnGraph.KnnBeamWidth)
      assert(rows == want, s"query $q: engine $rows != JVM replay $want")
    }
    // Unification: the beam machinery at width 1 must reproduce the
    // registered greedy walk exactly — greedy IS beam-1, one loop.
    val s31 = SparkEntry.queries("s31_knn_graph_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val beam1 = gotBeam.keys.map { q =>
      val (c, d, _) = beamWalk(q, 1).head; (q, c, d)
    }.toSet
    assert(s31 == beam1, "width-1 beam diverges from the greedy walk")
  }

  test("walk hop fusion: the visited frame is a true multiset and " +
      "in-heap ef ranking equals distinct-then-rank") {
    // Round-18 pin for dropping the per-hop cand.distinct(): the
    // fused loop's visited union must actually CARRY duplicates (else
    // the set-semantics consumers are pinned vacuously), and ranking
    // the multiset in the topKDistinct heap must equal ranking its
    // distinct form.
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val fx = graft.ops.Subplan.once(ext.KnnGraph.knnFx(all))
    val g = graft.ops.Subplan.once(ext.KnnGraph.knnDescentGraph(all))
    val q0 = graft.ops.Subplan.once(
      ext.KnnGraph.knnQ0(fx, col("vec_id") < 10))
    val (_, visited) = ext.KnnGraph.knnBeamWalkFull(
      q0, fx, g, ext.KnnGraph.KnnBeamWidth)
    val vis = graft.ops.Subplan.once(visited)
    val total = vis.count()
    val unique = vis.distinct().count()
    assert(total > unique,
      s"visited carries no duplicates ($total rows) - the pin is vacuous")
    val inHeap = ext.KnnGraph.knnEfRank(vis)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val viaDistinct = ext.KnnGraph.knnEfRank(vis.distinct())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(inHeap.nonEmpty && inHeap == viaDistinct,
      "in-heap ef ranking diverges from distinct-then-rank")
  }

  test("d17 knn-graph clusters equal d13's band-collision clusters on the " +
      "planted fixture") {
    // On the planted corpus the verified (cos ≥ 0.99) edge sets
    // coincide — twins are band-identical AND mutual NN-1, naturals
    // never verify — so the two pair sources must feed the shared
    // decision layer identical components: same clusters, same
    // canonicals. (At scale they diverge — the graph finds near pairs
    // whose bands never collide; this pin is the agreement case.)
    val d13 = SparkEntry.queries("d13_embedding_clusters")(spark, sf)
      .collect().map(_.toSeq).toSet
    val d17 = SparkEntry.queries("d17_knn_graph_clusters")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(d17 == d13)
    assert(d17.nonEmpty)
  }

  test("s34 graph insert: restricted descent converged at the registered " +
      "rounds, twins adopt across the batch split, re-upsert is a no-op") {
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val existing = graft.ops.Subplan.once(
      all.filter(!ext.Similarity.annBatchVec))
    val base = graft.ops.Subplan.once(
      ext.KnnGraph.knnDescentGraph(existing))
    val batchIds = all.filter(ext.Similarity.annBatchVec).select(col("vec_id"))
    def delta(rounds: Int) =
      ext.KnnGraph.knnInsertDelta(base, all, batchIds, rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atR = delta(ext.KnnGraph.KnnInsRounds)
    assert(atR == delta(ext.KnnGraph.KnnInsRounds + 1),
      "one more restricted round still changed the touched lists")
    // Twin adoption across the draw — the operational insert guarantee:
    // a batch vector must find its twin at rank 1 AND an existing twin
    // partner must adopt the batch vector at rank 1 (the direction only
    // the symmetrized seeds + merge can deliver).
    val batch = batchIds.collect().map(_.getLong(0)).toSet
    val rank1 = atR.groupBy(_._1).map { case (v, rows) =>
      v -> rows.toSeq.minBy(t => (t._3, t._2))._2 }
    def twin(v: Long) =
      if (v < 1000000000L) v + 1000000000L else v - 1000000000L
    batch.foreach { b =>
      assert(rank1(b) == twin(b),
        s"batch vector $b rank-1 ${rank1(b)} is not its twin")
    }
    batch.filterNot(b => batch(twin(b))).foreach { b =>
      assert(rank1(twin(b)) == b,
        s"existing ${twin(b)} failed to adopt its batch twin $b")
    }
    // Registered-query idempotence: the fold is defined against the
    // READ-ONLY base generation, so two invocations in one JVM (the
    // bench's best-of) return identical rows and the second upsert
    // rewrites the same content.
    val run1 = SparkEntry.queries("s34_knn_graph_insert")(spark, sf)
      .collect().map(_.toSeq).toSet
    val run2 = SparkEntry.queries("s34_knn_graph_insert")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(run1.nonEmpty && run1 == run2)
    // Store contract: the upserted store's touched-owner rows ARE the
    // answer (the merge algebra the round-16 answer-from-checkpoint
    // rests on) — read the mutated store back and compare, so the
    // identity the registered query no longer pays for stays
    // verified here.
    val gPath = graft.sources.SessionStore.pathOrBuild(
      spark, "s34_graph", sf, Seq("v", "w"), Seq("pt"))(
      sys.error("s34_graph must already exist after the query ran"))
    val owners = run1.map(_.head.asInstanceOf[Long])
    val stored = spark.read.parquet(gPath)
      .filter(col("v").isin(owners.toSeq: _*))
      .select(col("v"), col("w"), col("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val answer = run1.map(t => (t(0).asInstanceOf[Long],
      t(1).asInstanceOf[Long], t(2).asInstanceOf[Long]))
    assert(stored == answer,
      s"store read-back diverged from the checkpointed answer: " +
        s"missing=${(answer -- stored).take(5)} extra=${(stored -- answer).take(5)}")
  }

  test("s34 maintained graph equals the full s29 rebuild AND the exact k-NN " +
      "graph on clusterable geometry; rank-1 edges agree on the sf fixture") {
    // The additive-delta identity (d14/t30 discipline) is pinned where
    // it is a THEOREM: on CLUSTERABLE geometry — the case graph ANN
    // exists for — NN-descent reaches the TRUE k-NN graph from either
    // start (band seeds connect cluster-mates, rounds close the
    // cluster transitively), so (base over existing) + (restricted
    // insert fold) must equal the full rebuild AND the brute-force
    // exact lists. (On the sf fixture's 1000 UNIFORM 64-d vectors the
    // two processes converge to different random-TAIL fixpoints —
    // their init draws differ by construction, the documented
    // dimension-collapse geometry; there the operational content,
    // every rank-1 edge, must still agree.)
    import spark.implicits._
    def coord(seed: String, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:vec".getBytes("UTF-8"))
      (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)).toDouble /
        (1 << 24).toDouble - 0.5
    }
    val nat = (0L until 40L).map { i =>
      val c = i % 4 // 4 clusters of 10: anchor + a small perturbation
      (i, (0 until 64).map(j =>
        coord(s"anchor$c", j) + 0.08 * coord(s"m$i", j)))
    }
    // Parquet round-trip: a LocalRelation-backed array column keeps
    // containsNull=false, which trips Union constraint rewriting
    // inside the planted-corpus union — the landed form is also what
    // every production corpus actually is.
    val tmp = java.nio.file.Files.createTempDirectory("s34_fixture").toString
    nat.toDF("vec_id", "v").write.mode("overwrite").parquet(tmp)
    val all = graft.ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
      spark.read.parquet(tmp).select(col("vec_id"),
        col("v").cast("array<double>").as("v"))))
    def maintainedAndRebuilt(corpus: org.apache.spark.sql.DataFrame) = {
      val existing = graft.ops.Subplan.once(
        corpus.filter(!ext.Similarity.annBatchVec))
      val base = graft.ops.Subplan.once(
        ext.KnnGraph.knnDescentGraph(existing))
      val batchIds = corpus.filter(ext.Similarity.annBatchVec)
        .select(col("vec_id"))
      val delta = ext.KnnGraph.knnInsertDelta(base, corpus, batchIds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val touched = delta.map(_._1)
      val maintained = base.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filterNot(t => touched(t._1)).toSet ++ delta
      val rebuilt = ext.KnnGraph.knnDescentGraph(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      (maintained, rebuilt)
    }
    val (maintained, rebuilt) = maintainedAndRebuilt(all)
    assert(maintained == rebuilt,
      s"missing=${(rebuilt -- maintained).take(5)} " +
        s"extra=${(maintained -- rebuilt).take(5)}")
    // Both must be the exact graph — brute force over the lattice.
    val fx = ext.KnnGraph.knnFx(all)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]](1).toArray).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = fx.keySet.flatMap { v =>
      fx.keySet.toSeq.filter(_ != v)
        .map(w => (w, dist(fx(v), fx(w))))
        .sortBy { case (w, d) => (d, w) }
        .take(ext.KnnGraph.KnnK)
        .map { case (w, d) => (v, w, d) }
    }
    assert(rebuilt == exact, "full rebuild missed the exact k-NN graph")
    // sf-fixture rank-1 agreement: the content a SemDeDup consumer
    // reads must be identical however the graph was maintained.
    val sfAll = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val (m2, r2) = maintainedAndRebuilt(sfAll)
    def rank1(g: Set[(Long, Long, Long)]) = g.groupBy(_._1).map {
      case (v, rows) => v -> rows.toSeq.minBy(t => (t._3, t._2))._2
    }
    assert(rank1(m2) == rank1(r2),
      "maintained and rebuilt graphs disagree on a rank-1 edge")
  }

  test("s35 graph delete: healed lists match a JVM heal replay, never " +
      "reference a retired id, and re-delete is a no-op") {
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val g = ext.KnnGraph.knnDescentGraph(all)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fx = ext.KnnGraph.knnFx(all)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]](1).toArray).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val del = all.filter(ext.Similarity.annDelVec)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val adj = g.groupBy(_._1).map { case (v, rows) => v -> rows.map(_._2) }
    val touched = g.collect { case (v, w) if !del(v) && del(w) => v }.toSet
    val want = touched.flatMap { u =>
      val own = adj(u).filterNot(del)
      val inh = adj(u).filter(del)
        .flatMap(w => adj.getOrElse(w, Nil))
        .filterNot(del).filterNot(_ == u)
      (own ++ inh).distinct
        .map(x => (x, dist(fx(u), fx(x))))
        .sortBy { case (x, d) => (d, x) }
        .take(ext.KnnGraph.KnnK)
        .zipWithIndex.map { case ((x, d), i) => (u, x, d, i + 1) }
    }
    val got = SparkEntry.queries("s35_knn_graph_delete")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    got.foreach { case (v, w, _, _) =>
      assert(!del(v) && !del(w), s"retired id survives in ($v, $w)")
    }
    val run2 = SparkEntry.queries("s35_knn_graph_delete")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == run2, "re-applying the delete changed the answer")
    // Store contract (s34's pin for the delete half): the post-delete
    // store's healed-owner rows ARE the answer, and no retired id
    // survives ANYWHERE in the store, not just in the healed lists.
    val gPath = graft.sources.SessionStore.pathOrBuild(
      spark, "s35_graph", sf, Seq("v", "w"), Seq("pt"))(
      sys.error("s35_graph must already exist after the query ran"))
    val stored = spark.read.parquet(gPath)
      .select(col("v"), col("w"), col("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val owners = got.map(_._1)
    val storedHealed = stored.filter(t => owners(t._1)).toSet
    assert(storedHealed == got.map(t => (t._1, t._2, t._3)),
      "store read-back diverged from the checkpointed heal")
    stored.foreach { case (v, w, _) =>
      assert(!del(v) && !del(w), s"retired id survives in store ($v, $w)")
    }
  }

  test("s37 graph refine: converged at the registered rounds, improves " +
      "monotonically, and recovers exact rank-1 + full width + >=95% tail " +
      "agreement vs the exact survivor graph on clusterable geometry") {
    // The post-delete state on the sf fixture, through the library
    // pieces the registered query rides.
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val fx = graft.ops.Subplan.once(ext.KnnGraph.knnFx(all))
    val base = graft.ops.Subplan.once(ext.KnnGraph.knnDescentGraph(all))
    val delIds = all.filter(ext.Similarity.annDelVec).select(col("vec_id"))
    val del = delIds.collect().map(_.getLong(0)).toSet
    val healed = graft.ops.Subplan.once(
      ext.KnnGraph.knnDeleteHeal(base, fx, delIds))
    val postDel = graft.ops.Subplan.once(
      base.join(broadcast(delIds.select(col("vec_id").as("v"))),
          Seq("v"), "left_anti")
        .join(broadcast(healed.select(col("v")).distinct()),
          Seq("v"), "left_anti")
        .unionByName(healed))
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atR = edges(ext.KnnGraph.knnRefine(postDel, fx))
    assert(atR == edges(ext.KnnGraph.knnRefine(postDel, fx,
        ext.KnnGraph.KnnRefineRounds + 1)),
      "one more refine round still changed the graph")
    // Monotone improvement over the post-delete state: per owner, the
    // refined list is at least as long and position-wise at least as
    // close; nothing references a retired id.
    val before = edges(postDel).groupBy(_._1)
      .map { case (v, rs) => v -> rs.map(_._3).toSeq.sorted }
    val after = atR.groupBy(_._1)
      .map { case (v, rs) => v -> rs.map(_._3).toSeq.sorted }
    assert(before.keySet == after.keySet,
      "refine changed the owner set")
    after.foreach { case (v, ds) =>
      val bs = before(v)
      assert(ds.size >= bs.size, s"owner $v list shrank in refine")
      ds.zip(bs).foreach { case (a, b) =>
        assert(a <= b, s"owner $v distance regressed $b -> $a")
      }
    }
    atR.foreach { case (v, w, _) =>
      assert(!del(v) && !del(w), s"retired id survives refine in ($v, $w)")
    }
    // The theorem case: on clusterable geometry the warm-start refine,
    // the cold rebuild over the survivors, and the brute-force exact
    // survivor graph all coincide (the s34 rebuild-identity corpus).
    import spark.implicits._
    def coord(seed: String, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:vec".getBytes("UTF-8"))
      (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)).toDouble /
        (1 << 24).toDouble - 0.5
    }
    val nat = (0L until 40L).map { i =>
      val c = i % 4
      (i, (0 until 64).map(j =>
        coord(s"anchor$c", j) + 0.08 * coord(s"m$i", j)))
    }
    val tmp = java.nio.file.Files.createTempDirectory("s37_fixture").toString
    nat.toDF("vec_id", "v").write.mode("overwrite").parquet(tmp)
    val cAll = graft.ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
      spark.read.parquet(tmp).select(col("vec_id"),
        col("v").cast("array<double>").as("v"))))
    val cFx = graft.ops.Subplan.once(ext.KnnGraph.knnFx(cAll))
    val cBase = graft.ops.Subplan.once(ext.KnnGraph.knnDescentGraph(cAll))
    val cDelIds = cAll.filter(ext.Similarity.annDelVec).select(col("vec_id"))
    val cDel = cDelIds.collect().map(_.getLong(0)).toSet
    val cHealed = graft.ops.Subplan.once(
      ext.KnnGraph.knnDeleteHeal(cBase, cFx, cDelIds))
    val cPostDel = graft.ops.Subplan.once(
      cBase.join(broadcast(cDelIds.select(col("vec_id").as("v"))),
          Seq("v"), "left_anti")
        .join(broadcast(cHealed.select(col("v")).distinct()),
          Seq("v"), "left_anti")
        .unionByName(cHealed))
    val refined = edges(ext.KnnGraph.knnRefine(cPostDel, cFx))
    val survivors = graft.ops.Subplan.once(
      cAll.join(broadcast(cDelIds), Seq("vec_id"), "left_anti"))
    val sFx = ext.KnnGraph.knnFx(survivors)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]](1).toArray).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = sFx.keySet.flatMap { v =>
      sFx.keySet.toSeq.filter(_ != v)
        .map(w => (w, dist(sFx(v), sFx(w))))
        .sortBy { case (w, d) => (d, w) }
        .take(ext.KnnGraph.KnnK)
        .map { case (w, d) => (v, w, d) }
    }
    // The REPAIR-vs-REBUILD distinction, pinned honestly: warm-start
    // refine has no fresh exploration draws, so correlated heal damage
    // can leave a few far-TAIL slots in local minima a cold re-init
    // escapes (measured: 3 of ~280 edges on this corpus). The
    // operational content must still be exact — every owner's rank-1
    // edge IS the exact survivor NN-1, lists are full width, and the
    // tail agreement stays ≥ 95% (the SkewSpec margin discipline).
    // The exact reset remains the cold rebuild — s29 over survivors,
    // the s32 generation story.
    def rank1Of(g: Set[(Long, Long, Long)]) = g.groupBy(_._1).map {
      case (v, rows) => v -> rows.toSeq.minBy(t => (t._3, t._2))._2
    }
    assert(rank1Of(refined) == rank1Of(exact),
      "a refined rank-1 edge diverges from the exact survivor NN-1")
    assert(refined.size == exact.size,
      s"refined width ${refined.size} != exact ${exact.size}")
    val agree = (refined intersect exact).size
    assert(agree >= (exact.size * 0.95).toInt,
      s"refine tail agreement too low: $agree/${exact.size}")
  }

  test("s38 graph drift matches a JVM per-partition recompute") {
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val fx = graft.ops.Subplan.once(ext.KnnGraph.knnFx(all))
    val base = graft.ops.Subplan.once(ext.KnnGraph.knnDescentGraph(all))
    val delIds = all.filter(ext.Similarity.annDelVec).select(col("vec_id"))
    val healed = graft.ops.Subplan.once(
      ext.KnnGraph.knnDeleteHeal(base, fx, delIds))
    val postDel = base.join(
        broadcast(delIds.select(col("vec_id").as("v"))), Seq("v"), "left_anti")
      .join(broadcast(healed.select(col("v")).distinct()),
        Seq("v"), "left_anti")
      .unionByName(healed)
    def sideStats(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(2)))
      rows.groupBy(_._1).toSeq.map { case (v, es) =>
        ((v % ext.KnnGraph.KnnGraphParts).toInt,
          (es.length.toLong, es.map(_._2).sum))
      }.groupBy(_._1).map { case (pt, owners) =>
        pt -> (owners.size.toLong,
          owners.map(_._2._1).sum,
          owners.count(_._2._1 < ext.KnnGraph.KnnK).toLong,
          owners.map(_._2._2).sum)
      }
    }
    val b = sideStats(base)
    val nMap = sideStats(postDel)
    val want = b.map { case (pt, (bo, be, bt, bd)) =>
      val (no, ne, nt, nd) = nMap.getOrElse(pt, (0L, 0L, 0L, 0L))
      (pt, bo, be, bt, bd, no, ne, nt, nd,
        bd.toDouble / be,
        if (ne > 0) Some(nd.toDouble / ne) else None)
    }.toSet
    val got = SparkEntry.queries("s38_knn_graph_drift")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getDouble(9),
        if (r.isNullAt(10)) None else Some(r.getDouble(10)))).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // The heal's scar is visible: some partition reports a thin list.
    assert(got.exists(_._8 > 0), "fixture delete left no thin list to report")
  }

  test("s36 ef-search: JVM visited-set replay, and the s33 frontier IS the " +
      "visited set's top-B") {
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val g = ext.KnnGraph.knnDescentGraph(all)
      .collect().groupBy(_.getLong(0))
      .map { case (v, rows) => v -> rows.map(_.getLong(1)).toList }
    val fx = ext.KnnGraph.knnFx(all)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]](1).toArray).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // The reference walk — the s33 beam with the visited set kept.
    def efWalk(q: Long, b: Int, k: Int): List[(Long, Long, Int)] = {
      var frontier = List(if (q == 0L) 1L else 0L)
      var visited = Set.empty[Long]
      for (_ <- 1 to ext.KnnGraph.KnnSearchHops) {
        val cands = (frontier ++ frontier.flatMap(c => g.getOrElse(c, Nil)))
          .distinct.filter(_ != q)
        visited ++= cands
        frontier = cands.sortBy(c => (dist(fx(q), fx(c)), c)).take(b)
      }
      visited.toList.sortBy(c => (dist(fx(q), fx(c)), c)).take(k)
        .zipWithIndex.map { case (c, i) => (c, dist(fx(q), fx(c)), i + 1) }
    }
    val got = SparkEntry.queries("s36_knn_efsearch")(spark, sf)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getInt(3)))).groupBy(_._1)
      .map { case (q, rows) => q -> rows.map(_._2).sortBy(_._3).toList }
    assert(got.size == 10)
    got.foreach { case (q, rows) =>
      val want = efWalk(q, ext.KnnGraph.KnnBeamWidth,
        ext.KnnGraph.KnnEfTopK)
      assert(rows == want, s"query $q: engine $rows != JVM replay $want")
    }
    // The monotone-improvement theorem made a test: the s33 frontier
    // must equal the visited set's top-B — ef-search strictly extends
    // the frontier answer, never disagrees with it.
    val s33 = SparkEntry.queries("s33_knn_beam_search")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val efTopB = got.toSeq.flatMap { case (q, rows) =>
      rows.take(ext.KnnGraph.KnnBeamWidth)
        .map { case (c, d, rk) => (q, c, d, rk) }
    }.toSet
    assert(s33 == efTopB, "s33 frontier diverges from visited top-B")
  }

  test("s32 rebuild of the drifted store returns exactly s13's full-corpus " +
      "answer") {
    // The lifecycle closure: the upserted store's content is the full
    // corpus, retraining on it is row-order-free exact-integer Lloyd,
    // so the rebuilt generation must serve s13's in-lineage
    // full-corpus answer row-for-row — drift erased by construction.
    val s13 = SparkEntry.queries("s13_ivf_kmeans")(spark, sf)
      .collect().map(_.toSeq).toSet
    val s32 = SparkEntry.queries("s32_index_rebuild")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s32 == s13)
    assert(s32.nonEmpty)
  }

  test("s45 rebuild-then-retire: answer ≡ s32, the superseded generation's " +
      "directory is gone, the new generation lives, repeats idempotent") {
    // The completed lifecycle: after the cut-over, the live (new)
    // generation serves exactly the rebuild answer (≡ s32 ≡ s13 by
    // the rebuild algebra)...
    val s32 = SparkEntry.queries("s32_index_rebuild")(spark, sf)
      .collect().map(_.toSeq).toSet
    val s45a = SparkEntry.queries("s45_rebuild_retire")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s45a.nonEmpty)
    assert(s45a == s32,
      "the new generation's probe diverges from the registered rebuild")
    // ...the SUPERSEDED generation (s45's own drifted-store namespace)
    // is retired — key forgotten AND directory deleted — while the new
    // generation's directory is alive on disk...
    assert(graft.sources.SessionStore.livePath("s45_postings", sf).isEmpty,
      "the superseded generation is still registered after the cut-over")
    val newGen = graft.sources.SessionStore.livePath("s45r_postings", sf)
      .getOrElse(fail("the new generation is not registered"))
    assert(new java.io.File(newGen).exists(),
      "the new generation's directory is missing from disk")
    // ...and a repeat invocation rebuilds the drifted generation from
    // the live corpus, retires it again, and reaches the same answer.
    val s45b = SparkEntry.queries("s45_rebuild_retire")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s45b == s45a, "a repeat rebuild-then-retire changed the answer")
    assert(graft.sources.SessionStore.livePath("s45_postings", sf).isEmpty)
  }

  test("SessionStore.retire: drops the directory, forgets the key, next " +
      "access rebuilds; unbuilt/already-retired retire is a false no-op") {
    val name = "spec_gc_probe"
    // retire before any build: no-op
    assert(!graft.sources.SessionStore.retire(spark, name, sf))
    var builds = 0
    def stored() = graft.sources.SessionStore.storedOrBuild(
      spark, name, sf, Seq("vec_id")) {
      builds += 1
      ext.Similarity.emb(spark, sf).select(col("vec_id"))
        .filter(col("vec_id") < 5)
    }
    val first = stored().collect().map(_.getLong(0)).toSet
    assert(builds == 1)
    val p0 = graft.sources.SessionStore.livePath(name, sf)
      .getOrElse(fail("store not registered after build"))
    assert(new java.io.File(p0).exists())
    stored()
    assert(builds == 1, "a read-back triggered a rebuild")
    // the GC verb: directory gone, key forgotten, second retire false
    assert(graft.sources.SessionStore.retire(spark, name, sf))
    assert(!new java.io.File(p0).exists(),
      "the retired generation's directory survives on disk")
    assert(graft.sources.SessionStore.livePath(name, sf).isEmpty)
    assert(!graft.sources.SessionStore.retire(spark, name, sf))
    // next access is a fresh build from the live corpus
    val again = stored().collect().map(_.getLong(0)).toSet
    assert(builds == 2, "the retired store was served from a stale cache")
    assert(again == first, "the rebuilt store content diverged")
  }

  test("s28 stored-index rerank returns exactly s17's answer") {
    // The deployment read path (landed s21 probe → ADC top-R → exact
    // rerank) must serve the in-lineage composition's answer
    // row-for-row: the stored build is deterministic exact-integer
    // arithmetic, and exactRerankTail is ONE definition for both, so
    // the only difference is where the ADC candidates came from — and
    // that difference must not be answer-visible.
    val s17 = SparkEntry.queries("s17_ivfadc_rerank")(spark, sf)
      .collect().map(_.toSeq).toSet
    val s28 = SparkEntry.queries("s28_ivfadc_stored_rerank")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s28 == s17)
    assert(s28.nonEmpty)
  }

  test("s23 filtered ANN equals the label-restricted re-rank of the " +
      "probed-cell candidates") {
    // Independent derivation: kmScoredAll scores EVERY probed-cell
    // candidate through the shuffle-hash soak topology (no store, no
    // (cid, label) join key); restricting its pairs to the query's
    // label and re-ranking must reproduce s23 exactly — i.e. the
    // filter is a candidate predicate (rk counts only same-label
    // candidates), not a post-rank cut of the unfiltered top-5.
    val got = SparkEntry.queries("s23_filtered_ann")(spark, sf)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Int]("rk"))).toSet
    val e = ext.Similarity.emb(spark, sf)
    val labels = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = ext.Quantizers.kmScoredAll(e.select(col("vec_id"), col("v")))
      .filter(col("qid") < 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Double]("cos_sim")))
      .filter { case (q, n, _) => labels(q) == labels(n) }
      .groupBy(_._1).iterator.flatMap { case (q, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case ((_, n, _), i) => (q, n, i + 1) }
      }.toSet
    assert(want.nonEmpty)
    assert(got == want)
    // the filter genuinely bit: some query's filtered top-5 differs
    // from its unfiltered s13 top-5 (labels are 10-ary, so this can
    // only fail if the fixture degenerates).
    val unfiltered = SparkEntry.queries("s13_ivf_kmeans")(spark, sf)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Int]("rk"))).toSet
    assert(got != unfiltered, "label filter changed nothing — degenerate fixture?")
  }

  test("s24 deleted landed index: probe ≡ full assignment minus the deleted " +
      "set, and re-deleting is a no-op") {
    // The retirement identity (s18's maintenance identity reversed):
    // after the batch delete, the stored postings must equal the full
    // assignment with the FULL-corpus-trained centroids minus the
    // deleted draw — the model never retrains on deletes. A second
    // invocation re-applies the delete to a store that no longer
    // holds those rows; the anti-join finds nothing, so the answer
    // must not move.
    val got = SparkEntry.queries("s24_ivf_kmeans_delete")(spark, sf)
      .collect().map(_.toSeq).toSet
    val fx = ops.Subplan.once(ext.Similarity.emb(spark, sf)
      .select(col("vec_id"), col("v"),
        org.apache.spark.sql.functions.transform(col("v"),
          e => floor(e * lit(1048576.0)).cast("long")).as("x")))
    val cents = ext.Quantizers.kmeansCentroids(fx)
    val expected = ext.Quantizers.kmProbedTop5(
      ext.Quantizers.kmAssign(fx, cents)
        .filter(!ext.Similarity.annDelVec)
        .select(col("vec_id"), col("v"), col("cid")),
      ext.Quantizers.kmProbeCells(fx.filter(col("vec_id") < 10), cents))
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // the delete genuinely bit: no deleted vector appears as a
    // neighbor, and the unfiltered s13 answer (same model, same
    // probe) differs.
    val s13 = SparkEntry.queries("s13_ivf_kmeans")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got != s13, "deletion changed nothing — degenerate draw?")
    val again = SparkEntry.queries("s24_ivf_kmeans_delete")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(again == got, "a re-applied delete must not change the store")
  }

  test("s26 filtered compressed ANN equals the label-restricted re-rank of " +
      "the in-lineage ADC scores") {
    // s23's independent-derivation pin on the compressed index: the
    // full in-lineage scored frame (no store, no (cid, label) key),
    // restricted to same-label pairs and re-ranked by (adc, nn_id),
    // must reproduce s26 exactly.
    val got = SparkEntry.queries("s26_filtered_ivfadc")(spark, sf)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Long]("adc"), r.getAs[Int]("rk"))).toSet
    val labels = ext.Similarity.emb(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = ext.Quantizers.ivfadcScored(spark, sf)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Long]("adc")))
      .filter { case (q, n, _) => labels(q) == labels(n) }
      .groupBy(_._1).iterator.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(5).zipWithIndex
          .map { case ((q, n, a), i) => (q, n, a, i + 1) }
      }.toSet
    assert(want.nonEmpty)
    assert(got == want)
    val s21 = SparkEntry.queries("s21_ivfadc_stored")(spark, sf)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Long]("adc"), r.getAs[Int]("rk"))).toSet
    assert(got != s21, "label filter changed nothing — degenerate fixture?")
  }

  test("s27 maxsim equals a JVM late-interaction recompute over the " +
      "fixed-point lattice") {
    // Independent derivation: direct int64 dots in plain Scala (the
    // engine computes them through the norm identity
    // 2ab = a²+b²−(a−b)² — same exact integers), Σ-of-max per
    // (query, group), (score desc, gid asc) top-5.
    val got = SparkEntry.queries("s27_maxsim")(spark, sf)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Long]("maxsim"), r.getAs[Int]("rk"))).toSet
    val xs = ext.Similarity.emb(spark, sf).select(col("vec_id"), col("v"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).map(d => math.floor(d * 1048576.0).toLong).toArray))
    val groups = xs.groupBy(_._1 / 8).map { case (g, ts) =>
      g -> ts.sortBy(_._1).map(_._2) }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.iterator.map(i => a(i) * b(i)).sum
    val want = (0L to 1L).flatMap { qid =>
      val qts = groups(qid)
      groups.toSeq.filter(_._1 != qid).map { case (g, ts) =>
        (qid, g, qts.map(q => ts.map(t => dot(q, t)).max).sum)
      }.sortBy { case (_, g, sc) => (-sc, g) }.take(5).zipWithIndex
        .map { case ((q, g, sc), i) => (q, g, sc, i + 1) }
    }.toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("s25 deleted compressed index: probe ≡ full encode minus the deleted " +
      "set, and re-deleting is a no-op") {
    // s24's retirement identity on the COMPRESSED store: per-candidate
    // ADC scores are independent table lookups, so deleting rows from
    // the code store must equal filtering the full in-lineage scored
    // frame to surviving candidates before the rank. Re-deleting
    // finds nothing to remove.
    val got = SparkEntry.queries("s25_ivfadc_delete")(spark, sf)
      .collect().map(_.toSeq).toSet
    val expected = ext.Quantizers.pqAdcTop5(
      ext.Quantizers.ivfadcScored(spark, sf)
        .filter(!ext.Similarity.annDelVecOn(col("nn_id"))))
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    val s16 = SparkEntry.queries("s16_ivfadc")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got != s16, "deletion changed nothing — degenerate draw?")
    val again = SparkEntry.queries("s25_ivfadc_delete")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(again == got, "a re-applied delete must not change the store")
  }

  test("s22 upserted compressed index: probe ≡ full encode with the stored " +
      "model, and the upsert is idempotent") {
    // s18's maintenance identity on the COMPRESSED index: the code
    // store after the batch upsert must equal encoding the FULL
    // corpus against the stored (pre-batch-trained) centroids AND
    // codebooks — kmAssign/pqEncode are the one assignment/encoding
    // definitions, so the pruned ADC probe must match
    // ivfadcScored(trainFilter = !batch) row-for-row. A second
    // invocation re-applies the same upsert; the pk dedup makes that
    // a rewrite of identical rows, so the answer must not move.
    val got = SparkEntry.queries("s22_ivfadc_upsert")(spark, sf)
      .collect().map(_.toSeq).toSet
    val expected = ext.Quantizers.pqAdcTop5(
      ext.Quantizers.ivfadcScored(spark, sf,
        Some(!ext.Similarity.annBatchVec)))
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    val again = SparkEntry.queries("s22_ivfadc_upsert")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(again == got, "a re-applied upsert must not change the store")
  }

  test("s18 upserted landed index: probe ≡ full assignment with the stored " +
      "model, and the upsert is idempotent") {
    // The maintenance identity (the d14/t21 discipline for ANN): the
    // stored postings after the batch upsert must equal assigning the
    // FULL corpus against the stored (pre-batch-trained) centroids —
    // kmAssign is the one assignment definition, so the probe answers
    // must match row-for-row. A second invocation re-applies the same
    // upsert onto the already-upserted store; the pk dedup makes that
    // a rewrite of identical rows, so the answer must not move.
    val got = SparkEntry.queries("s18_ivf_kmeans_upsert")(spark, sf)
      .collect().map(_.toSeq).toSet
    val fx = ops.Subplan.once(ext.Similarity.emb(spark, sf)
      .select(col("vec_id"), col("v"),
        org.apache.spark.sql.functions.transform(col("v"),
          e => floor(e * lit(1048576.0)).cast("long")).as("x")))
    val cents = ext.Quantizers.kmeansCentroids(
      fx.filter(!ext.Similarity.annBatchVec))
    val expected = ext.Quantizers.kmProbedTop5(
      ext.Quantizers.kmAssign(fx, cents)
        .select(col("vec_id"), col("v"), col("cid")),
      ext.Quantizers.kmProbeCells(fx.filter(col("vec_id") < 10), cents))
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    val again = SparkEntry.queries("s18_ivf_kmeans_upsert")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(again == got, "a re-applied upsert must not change the store")
  }

  test("s17 rerank with a full-depth shortlist restores the probed-cells exact NN-1") {
    // The rerank tail's whole contract: ADC only SHORTLISTS — the
    // exact-cosine rescore decides. With the shortlist deeper than
    // any query's candidate pool, every probed-cells candidate
    // reaches the exact stage, so s17's twin must equal s13's
    // probed-cells exact NN-1 (kmNn1) pair-for-pair; the registered
    // RerankR=20 can then only lose what the shortlist DEPTH cuts,
    // never what ADC mis-ranks inside it.
    val all = ops.Subplan.once(
      ext.Similarity.emb(spark, sf).select(col("vec_id"), col("v")))
    val exact = ext.Quantizers.kmNn1(all).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nn_id"))).toSet
    val rr = ext.Quantizers.ivfadcRerankNn1(all, r = 10000).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nn_id"))).toSet
    assert(rr == exact)
    assert(rr.nonEmpty)
  }

  test("s07 quantized rerank: exact integer ranks, near the float-cosine order") {
    val rows = SparkEntry.queries("s07_quantized_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Double]("qdot"), r.getAs[Int]("rk")))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 10 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1, 2, 3, 4, 5))
      // descending reconstructed dot with id tie-break
      assert(sorted.sliding(2).forall { case Array(a, b) =>
        a._3 > b._3 || (a._3 == b._3 && a._2 < b._2) })
    }
    // the int8 rerank should mostly agree with the float-cosine top-5
    // on a unit-norm corpus (quantization error ≤ scale/2 per element)
    val cos = SparkEntry.queries("s01_ann_bruteforce")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"))).toSet
    val overlap = rows.count(r => cos.contains((r._1, r._2)))
    assert(overlap >= 35, s"only $overlap/50 quantized picks in the exact top-5")
  }

  test("m06 ahash twins land near their originals; banding loses nothing") {
    import spark.implicits._
    val rows = SparkEntry.queries("m06_ahash_pairs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"),
        r.getAs[Int]("hamming")))
    assert(rows.nonEmpty && rows.forall(_._3 <= 3))
    assert(rows.exists(_._3 == 0), "some in-place edit must not move the hash")
    assert(rows.exists(_._3 > 0), "some in-place edit must flip bits")
    // recall vs the exhaustive filter: recompute signatures through the
    // same kernel over the same registered base and brute-force all
    // pairs at <= 3
    val sigs = ext.Multimodal.m06Base(spark, sf)
      .mapPartitions(ext.Multimodal.StubDecoders.ahash60)
      .collect()
    val want = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b, h)).toSet
    assert(rows.toSet == want,
      s"banding diverged from exhaustive: missing=${(want -- rows).take(3)} " +
        s"extra=${(rows.toSet -- want).take(3)}")
  }

  test("s09 semantic decontamination flags every cross-split planted twin") {
    val res = SparkEntry.queries("s09_semantic_decontam")(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_eval_matches"), r.getAs[Double]("max_cos"))).toMap
    assert(res.nonEmpty && res.values.forall { case (n, c) => n >= 1 && c >= 0.99 })
    // Replicate the registered md5 draw over originals AND twins; every
    // (original, twin) pair the draw splits across eval/corpus is a
    // guaranteed contamination hit for its corpus-side member.
    val e = ext.Similarity.emb(spark, sf)
    val flags = e.select(col("vec_id"))
      .unionAll(e.select((col("vec_id") + lit(1000000000L)).as("vec_id")))
      .select(col("vec_id"), ext.EmbeddingDedup.isEvalVec.as("ev"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val planted = e.select(col("vec_id")).collect().map(_.getLong(0)).flatMap { o =>
      val t = o + 1000000000L
      if (flags(o) && !flags(t)) Some(t)
      else if (!flags(o) && flags(t)) Some(o)
      else None
    }
    assert(planted.nonEmpty, "the md5 draw must split some twin pairs")
    planted.foreach { v =>
      assert(res.contains(v) && res(v)._2 >= 0.99,
        s"corpus vector $v has an eval-side twin but was not flagged")
    }
  }

  test("m08 clip containment: every full-frame planted clip is recovered " +
      "at exactly 1.0, and no hit overstates the exhaustive recompute") {
    val hits = SparkEntry.queries("m08_clip_containment")(spark, sf).collect()
      .map(r => ((r.getAs[Long]("clip_id"), r.getAs[Long]("media_id")),
        r.getAs[Double]("containment"))).toMap
    // Docs long enough that the planted clip (bytes [33, 128]) is 3
    // FULL frames must come back contained in their source at 1.0 —
    // the frame-aligned cut guarantees byte-identical frames.
    val longDocs = Tables(spark, sf, "documents")
      .filter(col("text").isNotNull && length(col("text")) >= 128)
      .select("doc_id").collect().map(_.getLong(0))
    assert(longDocs.nonEmpty)
    longDocs.foreach { id =>
      assert(hits.get((id + 2000000000L, id)).contains(1.0),
        s"planted clip of doc $id not recovered at containment 1.0")
    }
    // And the prefix filter must lose nothing: recompute exhaustively
    // over the same registered base through the same frame grid.
    val frames = ext.Multimodal.m08Base(spark, sf)
      .select(col("media_id"), ext.Multimodal.frameIdsCol.as("xs"))
      .collect().map(r => (r.getAs[Long]("media_id"),
        r.getSeq[Long](1).toSet))
    val want = (for {
      (a, xa) <- frames; (b, xb) <- frames if a != b
      inter = (xa & xb).size
      c = inter.toDouble / xa.size if c >= 0.9
    } yield ((a, b), c)).toMap
    assert(hits == want,
      s"prefix filter diverged from exhaustive: missing=${(want.keySet -- hits.keySet).take(3)} " +
        s"extra=${(hits.keySet -- want.keySet).take(3)}")
  }

  test("t15 pack stats: every non-final sequence is exactly 512 tokens full") {
    val rows = SparkEntry.queries("t15_pack_stats")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("seq"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_starts"),
        r.getAs[Long]("tok_filled")))
    val lastSeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    rows.foreach { case (src, seq, nDocs, nStarts, filled) =>
      assert(nDocs >= 1 && nStarts <= nDocs)
      if (seq < lastSeq(src))
        assert(filled == 512L, s"$src seq $seq filled $filled != 512")
      else assert(filled >= 1L && filled <= 512L)
    }
    // per-source filled tokens reconcile with the corpus token count
    val wantTok = Tables(spark, sf, "documents")
      .select(col("source"), size(split(trim(col("text")), "\\s+")).as("n"))
      .groupBy("source").agg(sum("n").as("t")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("t")).toMap
    val gotTok = rows.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(gotTok == wantTok)
  }

  test("t16 vocab coverage: the 16-token cut leaves real uncovered mass") {
    val rows = SparkEntry.queries("t16_vocab_coverage")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cov = r.getAs[Double]("coverage")
      assert(cov > 0.0 && cov <= 1.0)
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_tok"))
    }
    assert(rows.exists(_.getAs[Double]("coverage") < 1.0),
      "vocab cut must genuinely exclude tokens at this fixture's 31-word " +
        "vocabulary — a trivial 1.0 everywhere means the top-k is not cutting")
  }

  test("t17 budget mix: unclipped sources keep everything, clipped ones don't") {
    val rows = SparkEntry.queries("t17_budget_mix")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("tok_total"),
        r.getAs[Long]("budget"), r.getAs[Long]("tok_kept")))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, nKept, tokTotal, budget, tokKept) =>
      assert(nKept <= nDocs && tokKept <= tokTotal)
      if (budget >= tokTotal)
        assert(nKept == nDocs, s"$src under budget must keep all docs")
    }
    val clipped = rows.filter { case (_, _, _, tt, b, _) => b < tt }
    assert(clipped.nonEmpty, "fixture must exercise a clipped source")
    assert(clipped.exists { case (_, nDocs, nKept, _, _, _) => nKept < nDocs },
      "a clipped source must actually drop docs")
    // the exact-integer draw targets budget/tok_total acceptance: kept
    // tokens land within ±50% of budget (Bernoulli noise at 25 docs)
    clipped.foreach { case (src, _, _, _, b, tk) =>
      assert(tk > b / 2 && tk < b * 3 / 2, s"$src kept $tk vs budget $b")
    }
  }

  test("t14 packing is shard-width independent (two-level sum is exact)") {
    val defaultRun = SparkEntry.queries("t14_sequence_pack")(spark, sf)
    // default width 128 must genuinely exercise the two-level path
    assert(defaultRun.select(expr("doc_id div 128")).distinct().count() > 1,
      "fixture must span multiple shards at the registered width")
    def rows(w: Long) = ext.Text.sequencePack(spark, sf, shardWidth = w)
      .collect().map(_.toSeq).toSet
    // width 7: many tiny shards; width 1e9: degenerate single shard
    // (the old one-window-per-source plan). Identical integers.
    assert(rows(7L) == rows(1000000000L))
  }

  test("t27 epoch shard is bucket-width independent and matches a " +
      "one-window JVM recompute") {
    import org.apache.spark.sql.functions.{col, expr, size, split, trim}
    val fr = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n_tok"))
    val registered = SparkEntry.queries("t27_epoch_shard")(spark, sf)
    // the registered width (2^28 over the 2^32 draw space) must
    // genuinely exercise the two-level path: multiple draw-key buckets
    // must actually populate, or a width regression could silently
    // collapse the decomposition to the one-window plan
    val nBuckets = fr
      .select(expr("(conv(substring(md5(concat(cast(doc_id as string), " +
        "':ep1')), 1, 8), 16, 10) div 268435456) as bkt"))
      .distinct().count()
    assert(nBuckets > 1,
      s"fixture must span multiple 2^28 buckets, got $nBuckets")
    def rows(w: Long) = ext.Text.epochShard(fr, bucketWidth = w)
      .collect().map(_.toSeq).toSet
    val wide = rows(1L << 40) // degenerate: one bucket = one-window plan
    assert(rows(1L << 24) == wide, "bucket width must not change any integer")
    assert(registered.collect().map(_.toSeq).toSet == wide)
    // one-window ground truth recomputed in the JVM: per shard, docs
    // ordered by (draw, doc_id); pos/tok_start are rank and running
    // token offset; every shard's positions are 0..n-1 dense
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val frontier = fr.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_tok")))
    val expected = frontier
      .map { case (id, nt) =>
        (id, nt, java.lang.Long.parseLong(md5hex(s"$id:ep1").take(8), 16)) }
      .groupBy { case (_, _, h) => (h % 16).toInt }
      .toSeq.flatMap { case (shard, ds) =>
        val ordered = ds.sortBy { case (id, _, h) => (h, id) }
        val cum = ordered.scanLeft(0L) { case (acc, (_, nt, _)) => acc + nt }
        ordered.zipWithIndex.map { case ((id, nt, _), i) =>
          Seq[Any](id, shard, i.toLong, nt, cum(i)) }
      }.toSet
    assert(wide == expected)
  }

  test("t31 quota sample matches a one-window JVM recompute and keeps " +
      "at most the budget per source") {
    import org.apache.spark.sql.functions.{col, size, split, trim}
    val got = SparkEntry.queries("t31_quota_sample")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("n_tok"), r.getAs[Long]("pos"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("budget"),
        r.getAs[Boolean]("kept"))).toSet
    // ground truth: per source, docs ordered by (md5 ':qs' draw,
    // doc_id); kept iff the running token sum fits the t18 budget
    val frontier = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).as("n_tok")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("n_tok")))
    val expected = frontier
      .map { case (id, src, nt) =>
        (id, src, nt, java.lang.Long.parseLong(md5hex(s"$id:qs").take(8), 16)) }
      .groupBy(_._2).toSeq.flatMap { case (src, ds) =>
        val budget =
          (java.lang.Long.parseLong(md5hex(src).take(8), 16) % 2 + 1) * 1500L
        val ordered = ds.sortBy { case (id, _, _, h) => (h, id) }
        val cum = ordered.scanLeft(0L) { case (acc, (_, _, nt, _)) => acc + nt }
        ordered.zipWithIndex.map { case ((id, _, nt, _), i) =>
          (id, src, nt, i.toLong, cum(i), budget, cum(i) + nt <= budget) }
      }.toSet
    assert(got == expected,
      s"first diff: ${(expected -- got).take(2)} vs ${(got -- expected).take(2)}")
    // kept token mass never exceeds the budget, and the quota bites
    val bySource = got.groupBy(_._2)
    bySource.foreach { case (src, rows) =>
      val keptTok = rows.filter(_._7).map(_._3.toLong).sum
      assert(keptTok <= rows.head._6, s"$src kept $keptTok over budget")
    }
    assert(got.exists(!_._7), "the quota must bite somewhere on the fixture")
    // the draw matters: membership differs from t18's arrival prefix
    val t18kept = SparkEntry.queries("t18_budget_prefix")(spark, sf).collect()
      .filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("doc_id")).toSet
    val t31kept = got.filter(_._7).map(_._1)
    assert(t31kept != t18kept,
      "draw-ordered sampling must pick a different set than the arrival prefix")
  }

  test("t32 CMS holds the one-sided guarantee exactly and matches a JVM " +
      "sketch replay") {
    val got = SparkEntry.queries("t32_cms_counts")(spark, sf).collect()
      .map(r => r.getAs[String]("tok") -> (r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_est"), r.getAs[Long]("n_over"))).toMap
    assert(got.nonEmpty)
    // the CMS guarantee is EXACT, not probabilistic: est >= exact always
    got.foreach { case (t, (ex, est, over)) =>
      assert(est >= ex && over == est - ex, s"$t: est $est < exact $ex")
    }
    // w=16 must genuinely collide on the fixture vocab — if every token
    // were isolated in some row, the overestimate path would be dead code
    assert(got.values.exists(_._3 > 0), "no collisions: the sketch is exact")
    // JVM sketch replay: same salted cells, same counters, same min
    val toks = Tables(spark, sf, "documents").select(col("text")).collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
    def cell(t: String, j: Int): Long =
      (java.lang.Long.parseLong(md5hex(s"$t:cms").take(8), 16) >> (j * 4)) % 16
    val counters = toks.flatMap(t => (0 to 3).map(j => (j, cell(t, j))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val exact = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = exact.map { case (t, ex) =>
      t -> (ex, (0 to 3).map(j => counters((j, cell(t, j)))).min) }
    expected.foreach { case (t, (ex, est)) =>
      assert(got(t) == ((ex, est, est - ex)),
        s"$t: engine ${got(t)} vs JVM ($ex, $est, ${est - ex})")
    }
  }

  test("t09 KMV sketch estimates distinct tokens within sketch error bounds") {
    val rows = SparkEntry.queries("t09_kmv_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Double]("est_distinct")
      assert(est > 0)
      if (exact < 64) assert(est == exact, "small groups fall back to exact")
      // KMV relative error ~ 1/sqrt(k-1) ≈ 12.6% at k=64; allow 5 sigma
      else assert(math.abs(est - exact) / exact < 0.63,
        s"estimate $est too far from exact $exact")
    }
  }

  test("t08 deterministic sample matches a JVM md5 recompute and is stable") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def u(docId: Long): Double =
      java.lang.Long.parseLong(md5hex(s"$docId:graft").take(8), 16) / 4294967296.0
    def rate(source: String): Double =
      if (java.lang.Long.parseLong(md5hex(source).take(8), 16) % 2 == 0) 0.5 else 0.2
    val all = Tables(spark, sf, "documents").select("doc_id", "source").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    val expected = all.filter { case (id, src) => u(id) < rate(src) }.map(_._1).toSet
    val got = SparkEntry.queries("t08_det_sample")(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got == expected, s"sample mismatch: ${(expected -- got).take(3)} missing")
    val again = SparkEntry.queries("t08_det_sample")(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(again == got, "sampling must be run-to-run deterministic")
    assert(got.nonEmpty && got.size < all.length)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("d16 trim spans matches a JVM rewrite and cuts exactly the " +
      "cross-doc span positions") {
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    def grams(tk: Array[String]): Seq[(Int, Long)] =
      tk.sliding(5).zipWithIndex.collect { case (g, i) if g.length == 5 =>
        (i + 1, java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(9), 16))
      }.toSeq
    val toks = texts.map { case (id, t) => id -> t.trim.split("\\s+") }.toMap
    val df = toks.toSeq.flatMap { case (id, tk) =>
      grams(tk).map(_._2).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = toks.map { case (id, tk) =>
      val covered = grams(tk).collect {
        case (p, x) if df(x) >= 2 => p to p + 4 }.flatten.toSet
      val keptToks = tk.zipWithIndex.collect {
        case (w, i) if !covered.contains(i + 1) => w }
      id -> (tk.length.toLong, covered.count(_ <= tk.length).toLong,
        keptToks.mkString(" "))
    }
    val got = SparkEntry.queries("d16_trim_spans")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tok"),
        r.getAs[Long]("n_cut"), r.getAs[String]("clean_text"))).toMap
    assert(got.size == texts.length, "every doc must get a verdict")
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: engine ${got(id)} vs JVM $w")
    }
    assert(got.values.exists(_._2 > 0), "cross-doc spans must cut somewhere")
    assert(got.values.forall { case (n, c, t) =>
      c <= n && (t.isEmpty || t.split(" ").length == n - c) },
      "kept token count must equal n_tok - n_cut")
  }

  test("d09 repeated spans match a driver-side 5-gram recompute") {
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    // per doc: multiset of 36-bit 5-gram hashes (positions keep multiplicity)
    val perDoc = texts.map { case (id, t) =>
      val tk = t.trim.split("\\s+")
      id -> tk.sliding(5).filter(_.length == 5)
        .map(g => java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(9), 16))
        .toSeq
    }.filter(_._2.nonEmpty).toMap
    val dfreq = perDoc.toSeq.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (x, docs) => x -> docs.size }
    val want = perDoc.map { case (id, gs) =>
      val dup = gs.count(x => dfreq(x) >= 2)
      id -> ((gs.size.toLong, dup.toLong, gs.distinct.count(x => dfreq(x) >= 2).toLong))
    }
    val got = SparkEntry.queries("d09_repeated_spans")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Long]("n_dup_grams")))).toMap
    assert(got == want)
    assert(want.values.exists(_._2 > 0), "corpus should carry natural repeated spans")
    assert(want.values.exists(_._2 == 0), "not every doc should be span-duplicated")
  }

  test("t13 decontamination flags exactly the train docs sharing eval 8-grams") {
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val grams = texts.map { case (id, t) =>
      val planted = s"${t} canary c${id % 25} alpha beta gamma delta epsilon zeta"
      val tk = planted.trim.split("\\s+")
      (id, java.lang.Long.parseLong(md5hex(s"$id:eval").take(8), 16) % 8 == 0,
        tk.sliding(8).filter(_.length == 8)
          .map(g => java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(9), 16))
          .toSet)
    }
    val evalSet = grams.filter(_._2).flatMap(_._3).toSet
    val want = grams.collect { case (id, false, gs) =>
      id -> ((gs.size.toLong, gs.count(evalSet).toLong))
    }.toMap
    val got = SparkEntry.queries("t13_decontaminate")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hits")))).toMap
    assert(got == want)
    assert(want.values.exists(_._2 > 0), "planted canaries must contaminate some train docs")
    assert(want.nonEmpty && evalSet.nonEmpty)
  }

  test("d11 incremental dedup verdicts match a full driver-side recompute") {
    val plant = "shared press release body reused verbatim by every " +
      "mirror site in the batch and the corpus alike for this test"
    val P = 2305843009213693951L
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map { r =>
        val id = r.getAs[Long]("doc_id")
        id -> (if (id % 20 == 4) plant else r.getAs[String]("text"))
      }
    def shingleSet(t: String): Set[Long] = {
      val tk = t.trim.split("\\s+")
      if (tk.length < 3) Set.empty
      else tk.sliding(3).filter(_.length == 3)
        .map(g => java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(9), 16))
        .toSet
    }
    val sets = texts.map { case (id, t) => (id, id % 8 == 0, shingleSet(t)) }
      .filter(_._3.nonEmpty)
    def bandSig(xs: Set[Long]): Seq[(Int, String)] = {
      val mhs = (0 until 32).map(i =>
        xs.map(x => ((67108879L + 65537L * i) * x + 1000003L * i + 12345L) % P).min)
      (0 until 8).map(b => b -> (b * 4 until b * 4 + 4).map(mhs).mkString("_"))
    }
    val batch = sets.filter(_._2)
    val corpus = sets.filterNot(_._2)
    val corpusBands = corpus.flatMap { case (id, _, xs) =>
      bandSig(xs).map { case (b, s) => (b, s) -> id }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    def jac(a: Set[Long], b: Set[Long]): Double = {
      val i = (a intersect b).size
      i.toDouble / (a.size + b.size - i)
    }
    val byId = texts.toMap
    val corpusSets = corpus.map(c => c._1 -> c._3).toMap
    val corpusFps = corpus.map(c => md5hex(
      byId(c._1).trim.replaceAll("\\s+", " ").toLowerCase)).toSet
    val want = batch.map { case (id, _, xs) =>
      val fp = md5hex(byId(id).trim.replaceAll("\\s+", " ").toLowerCase)
      val candIds = bandSig(xs).flatMap(bs =>
        corpusBands.getOrElse(bs, Seq.empty[Long])).distinct
      val isNear = candIds.exists(c => jac(xs, corpusSets(c)) >= 0.5)
      id -> (if (corpusFps(fp)) "exact_dup" else if (isNear) "near_dup" else "new")
    }.toMap
    val got = SparkEntry.queries("d11_incremental_dedup")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(got == want,
      s"diverging verdicts: ${(want.toSet -- got.toSet).take(3)}")
    assert(want.values.exists(_ == "exact_dup"),
      "ids = 24 mod 40 are planted cross-split exact dups")
    assert(want.values.count(_ == "new") > want.size / 2)
  }

  test("d10 clean-corpus verdicts partition the corpus with correct reasons") {
    val boiler = "graft boilerplate page about nothing at all " +
      "repeated across mirrors of the same site with identical " +
      "wording every single time it appears anywhere online today"
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val scored = texts.map { case (id, t0) =>
      val t = if (id % 37 == 5) boiler else t0
      (id, t.trim.split("\\s+").length,
        md5hex(t.trim.replaceAll("\\s+", " ").toLowerCase))
    }
    val keep = scored.filter(_._2 >= 25).groupBy(_._3)
      .map { case (fp, g) => fp -> g.map(_._1).min }
    val want = scored.map { case (id, n, fp) =>
      id -> (if (n < 25) "low_quality"
             else if (keep(fp) == id) "kept" else "exact_dup")
    }.toMap
    val got = SparkEntry.queries("d10_clean_corpus")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(got == want)
    val byVerdict = want.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(byVerdict.getOrElse("exact_dup", 0) > 0, "planted dup group must dedup")
    assert(byVerdict.getOrElse("low_quality", 0) > 0, "token floor must fire")
    assert(byVerdict("kept") > byVerdict.getOrElse("exact_dup", 0))
  }

  test("m05 frame energies agree with a driver-side recompute") {
    val rows = SparkEntry.queries("m05_frame_energy")(spark, sf).collect()
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").getBytes("UTF-8"))
      .toMap
    val want = texts.toSeq.flatMap { case (id, bytes) =>
      bytes.grouped(64).zipWithIndex.map { case (c, i) =>
        (id, i, c.length, c.foldLeft(0L)((a, b) => a + (b & 0xff).toLong * (b & 0xff)))
      }
    }.toSet
    val got = rows.map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("frame"),
      r.getAs[Int]("n_samples"), r.getAs[Long]("energy"))).toSet
    assert(got == want)
    assert(want.exists(_._2 > 0), "multi-frame payloads must exist")
    assert(want.exists(_._3 < 64), "a short last frame must exist")
  }

  test("s13 exact-integer k-means: a JVM Lloyd recompute reproduces the " +
      "centroids bit-for-bit, and the query is the probed cells' exact top-5") {
    // Full independent JVM replay of the training loop — fixed-point
    // lattice, exact int64 distances, truncating-division means, the
    // empty-cluster keep rule — the t27 one-window-recompute
    // discipline applied to the trained quantizer.
    val raw = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("v").toArray).toMap
    val fx = raw.map { case (id, v) =>
      id -> v.map(e => math.floor(e * 1048576.0).toLong)
    }
    val k = ext.Quantizers.KmK
    val seeds = fx.keys.toSeq
      .sortBy(id => (java.lang.Long.parseLong(md5hex(s"$id:seed").take(8), 16), id))
      .take(k)
    var cents: Map[Int, Array[Long]] =
      seeds.zipWithIndex.map { case (id, i) => i -> fx(id) }.toMap
    def dist(x: Array[Long], m: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < x.length) { val t = x(i) - m(i); d += t * t; i += 1 }
      d
    }
    def assign(): Map[Long, Int] = fx.map { case (id, x) =>
      id -> (0 until k).minBy(c => (dist(x, cents(c)), c))
    }
    for (_ <- 1 to ext.Quantizers.KmIters) {
      val asg = assign()
      cents = (0 until k).map { c =>
        val members = asg.collect { case (id, `c`) => fx(id) }.toSeq
        if (members.isEmpty) c -> cents(c)
        else {
          val n = members.size.toLong
          c -> Array.tabulate(64) { i =>
            val s = members.map(_(i)).sum
            (s + 1048576L * n) / n - 1048576L
          }
        }
      }.toMap
    }
    val fxDf = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), ext.Similarity.fixedPoint(col("v")).as("x"))
    val gotCents = ext.Quantizers.kmeansCentroids(fxDf).collect()
      .map(r => r.getAs[Int]("cid") ->
        r.getAs[scala.collection.Seq[Long]]("m").toArray).toMap
    assert(gotCents.keySet == cents.keySet)
    cents.foreach { case (c, m) =>
      assert(gotCents(c).sameElements(m), s"centroid $c drifted from the JVM replay")
    }
    // Postings partition the corpus; every cell is populated here.
    val asg = assign()
    assert(asg.size == raw.size)
    assert(asg.values.toSet == (0 until k).toSet, "this fixture fills every cell")
    // The registered query = exact top-5 over the 2 nearest cells'
    // postings (recomputed from the replayed quantizer).
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = SparkEntry.queries("s13_ivf_kmeans")(spark, sf).collect()
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, g) =>
      val probed = (0 until k)
        .sortBy(c => (dist(fx(qid), cents(c)), c)).take(2).toSet
      val want = asg.collect {
        case (id, cell) if id != qid && probed(cell) => (id, cos(raw(id), raw(qid)))
      }.toSeq.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val gotIds = g.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("nn_id")).toSeq
      assert(gotIds == want, s"qid=$qid: $gotIds != $want")
    }
  }

  test("s14 product quantization: a JVM grouped-Lloyd replay reproduces " +
      "codebooks, codes, and the exact ADC top-5") {
    val raw = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("v").toArray).toMap
    val subsOf = raw.map { case (id, v) =>
      id -> Array.tabulate(8)(s =>
        v.slice(s * 8, s * 8 + 8).map(e => math.floor(e * 1048576.0).toLong))
    }
    val k = ext.Quantizers.PqK
    val seeds = subsOf.keys.toSeq
      .sortBy(id => (java.lang.Long.parseLong(md5hex(s"$id:seed").take(8), 16), id))
      .take(k)
    // cents(sub)(cid) = lattice point
    var cents: Array[Map[Int, Array[Long]]] = Array.tabulate(8)(s =>
      seeds.zipWithIndex.map { case (id, c) => c -> subsOf(id)(s) }.toMap)
    def dist(x: Array[Long], m: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < x.length) { val t = x(i) - m(i); d += t * t; i += 1 }
      d
    }
    def encode(): Map[Long, Array[Int]] = subsOf.map { case (id, subs) =>
      id -> Array.tabulate(8)(s =>
        cents(s).keys.toSeq.sorted.minBy(c => (dist(subs(s), cents(s)(c)), c)))
    }
    for (_ <- 1 to ext.Quantizers.PqIters) {
      val codes = encode()
      cents = Array.tabulate(8) { s =>
        cents(s).map { case (c, prev) =>
          val members = codes.collect {
            case (id, cs) if cs(s) == c => subsOf(id)(s)
          }.toSeq
          if (members.isEmpty) c -> prev
          else {
            val n = members.size.toLong
            c -> Array.tabulate(8) { i =>
              (members.map(_(i)).sum + 1048576L * n) / n - 1048576L
            }
          }
        }
      }
    }
    val codes = encode()
    // ADC replay: per query the [8][16] subdistance table, candidates
    // scored by code lookup, exact-int top-5 ascending (ties → id).
    val got = SparkEntry.queries("s14_pq_adc")(spark, sf).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, g) =>
      val qd = Array.tabulate(8)(s =>
        cents(s).keys.toSeq.sorted.map(c => dist(subsOf(qid)(s), cents(s)(c))).toArray)
      val want = codes.collect { case (id, cs) if id != qid =>
        (id, (0 until 8).map(s => qd(s)(cs(s))).sum)
      }.toSeq.sortBy { case (id, adc) => (adc, id) }.take(5)
      val gotRows = g.sortBy(_.getAs[Int]("rk"))
        .map(r => (r.getAs[Long]("nn_id"), r.getAs[Long]("adc"))).toSeq
      assert(gotRows == want, s"qid=$qid: $gotRows != $want")
    }
    // the compression claim: codes are 8 small ints (4-bit range)
    assert(codes.values.forall(_.forall(c => c >= 0 && c < k)))
  }

  test("s16 IVFADC: a JVM replay of the full composition (coarse Lloyd + " +
      "residual PQ + per-cell tables) reproduces the exact top-5") {
    val raw = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("v").toArray).toMap
    val fx = raw.map { case (id, v) =>
      id -> v.map(e => math.floor(e * 1048576.0).toLong)
    }
    def dist(x: Array[Long], m: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < x.length) { val t = x(i) - m(i); d += t * t; i += 1 }
      d
    }
    def drawRank(id: Long): (Long, Long) =
      (java.lang.Long.parseLong(md5hex(s"$id:seed").take(8), 16), id)
    // --- coarse: the s13 training replay ---
    val kc = ext.Quantizers.KmK
    var cents: Map[Int, Array[Long]] = fx.keys.toSeq.sortBy(drawRank).take(kc)
      .zipWithIndex.map { case (id, i) => i -> fx(id) }.toMap
    def assign(): Map[Long, Int] = fx.map { case (id, x) =>
      id -> (0 until kc).minBy(c => (dist(x, cents(c)), c))
    }
    for (_ <- 1 to ext.Quantizers.KmIters) {
      val asg = assign()
      cents = (0 until kc).map { c =>
        val members = asg.collect { case (id, `c`) => fx(id) }.toSeq
        if (members.isEmpty) c -> cents(c)
        else {
          val n = members.size.toLong
          c -> Array.tabulate(64)(i =>
            (members.map(_(i)).sum + 1048576L * n) / n - 1048576L)
        }
      }.toMap
    }
    val cell = assign()
    // --- residual PQ: the s14 training replay over x − m(cell) ---
    val rsubs = fx.map { case (id, x) =>
      val m = cents(cell(id))
      id -> Array.tabulate(8)(s =>
        Array.tabulate(8)(i => x(s * 8 + i) - m(s * 8 + i)))
    }
    val kp = ext.Quantizers.PqK
    val seeds = fx.keys.toSeq.sortBy(drawRank).take(kp)
    var pq: Array[Map[Int, Array[Long]]] = Array.tabulate(8)(s =>
      seeds.zipWithIndex.map { case (id, c) => c -> rsubs(id)(s) }.toMap)
    def encode(): Map[Long, Array[Int]] = rsubs.map { case (id, subs) =>
      id -> Array.tabulate(8)(s =>
        pq(s).keys.toSeq.sorted.minBy(c => (dist(subs(s), pq(s)(c)), c)))
    }
    for (_ <- 1 to ext.Quantizers.PqIters) {
      val codes = encode()
      pq = Array.tabulate(8) { s =>
        pq(s).map { case (c, prev) =>
          val members = codes.collect {
            case (id, cs) if cs(s) == c => rsubs(id)(s)
          }.toSeq
          if (members.isEmpty) c -> prev
          else {
            val n = members.size.toLong
            c -> Array.tabulate(8)(i =>
              (members.map(_(i)).sum + 1048576L * n) / n - 1048576L)
          }
        }
      }
    }
    val codes = encode()
    // --- probe: 2 nearest coarse cells, per-cell residual tables ---
    val got = SparkEntry.queries("s16_ivfadc")(spark, sf).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, g) =>
      val probed = (0 until kc)
        .sortBy(c => (dist(fx(qid), cents(c)), c)).take(2)
      val want = probed.flatMap { cc =>
        val m = cents(cc)
        val rq = Array.tabulate(8)(s =>
          Array.tabulate(8)(i => fx(qid)(s * 8 + i) - m(s * 8 + i)))
        val qd = Array.tabulate(8)(s =>
          pq(s).keys.toSeq.sorted.map(c => dist(rq(s), pq(s)(c))).toArray)
        codes.collect { case (id, cs) if id != qid && cell(id) == cc =>
          (id, (0 until 8).map(s => qd(s)(cs(s))).sum)
        }
      }.sortBy { case (id, adc) => (adc, id) }.take(5)
      val gotRows = g.sortBy(_.getAs[Int]("rk"))
        .map(r => (r.getAs[Long]("nn_id"), r.getAs[Long]("adc"))).toSeq
      assert(gotRows == want, s"qid=$qid: $gotRows != $want")
    }
  }

  test("m10 scene shots partition the m05 energy track and match a " +
      "JVM cut recompute") {
    val en = SparkEntry.queries("m05_frame_energy")(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("frame"),
        r.getAs[Int]("n_samples"), r.getAs[Long]("energy")))
    // JVM replay: cross-multiplied per-sample delta > 500, running cuts.
    val want = en.groupBy(_._1).flatMap { case (id, fr) =>
      val s = fr.sortBy(_._2)
      var shot = 0
      val tagged = s.zipWithIndex.map { case ((_, frame, n, e), i) =>
        if (i > 0) {
          val (_, _, pn, pe) = s(i - 1)
          if (math.abs(e * pn.toLong - pe * n.toLong) > 500L * n * pn) shot += 1
        }
        (frame, n, e, shot)
      }
      tagged.groupBy(_._4).map { case (sh, g) =>
        (id, sh, g.map(_._1).min, g.map(_._1).max, g.size.toLong,
          g.map(_._3).sum)
      }
    }.toSet
    val got = SparkEntry.queries("m10_scene_shots")(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("shot"),
        r.getAs[Int]("start_frame"), r.getAs[Int]("end_frame"),
        r.getAs[Long]("n_frames"), r.getAs[Long]("shot_energy"))).toSet
    assert(got == want)
    // Shots are contiguous frame ranges that tile each media's track.
    got.groupBy(_._1).foreach { case (id, shots) =>
      val s = shots.toSeq.sortBy(_._2)
      s.zip(s.tail).foreach { case (a, b) =>
        assert(b._3 == a._4 + 1, s"media $id: shot ${b._2} not contiguous")
      }
      val frames = en.filter(_._1 == id).map(_._2)
      assert(s.head._3 == frames.min && s.last._4 == frames.max)
    }
    assert(got.exists(_._2 > 0), "multi-shot payloads must exist")
  }

  test("m11 silence segments tile the m05 energy track, interleave labels, " +
      "and match a JVM run recompute") {
    val en = SparkEntry.queries("m05_frame_energy")(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("frame"),
        r.getAs[Int]("n_samples"), r.getAs[Long]("energy")))
    // JVM replay: cross-multiplied level flag, runs = flag-change count.
    val want = en.groupBy(_._1).flatMap { case (id, fr) =>
      val s = fr.sortBy(_._2)
      var seg = -1
      var prev: Option[Boolean] = None
      val tagged = s.map { case (_, frame, n, e) =>
        val silent = e < 9500L * n
        if (!prev.contains(silent)) seg += 1
        prev = Some(silent)
        (frame, e, silent, seg)
      }
      tagged.groupBy(_._4).map { case (sg, g) =>
        (id, sg, g.head._3, g.map(_._1).min, g.map(_._1).max,
          g.size.toLong, g.map(_._2).sum)
      }
    }.toSet
    val got = SparkEntry.queries("m11_silence_segments")(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("seg"),
        r.getAs[Boolean]("is_silence"), r.getAs[Int]("start_frame"),
        r.getAs[Int]("end_frame"), r.getAs[Long]("n_frames"),
        r.getAs[Long]("seg_energy"))).toSet
    assert(got == want,
      s"first diff: ${(want -- got).take(2)} vs ${(got -- want).take(2)}")
    // Segments tile each track contiguously and labels strictly
    // alternate (a run boundary means the flag flipped).
    got.groupBy(_._1).foreach { case (id, segs) =>
      val s = segs.toSeq.sortBy(_._2)
      s.zip(s.tail).foreach { case (a, b) =>
        assert(b._4 == a._5 + 1, s"media $id: seg ${b._2} not contiguous")
        assert(a._3 != b._3, s"media $id: adjacent segs share a label")
      }
    }
    assert(got.exists(_._3) && got.exists(!_._3),
      "both silent and voiced segments must exist on the fixture")
  }

  test("m02 media features agree with a driver-side recompute of the stub decoder") {
    val rows = SparkEntry.queries("m02_media_features")(spark, sf).collect()
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val text = texts(r.getAs[Long]("media_id"))
      val bytes = text.getBytes("UTF-8")
      assert(r.getAs[Int]("n_bytes") == bytes.length)
      val mean = if (bytes.isEmpty) 0.0
        else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
      assert(r.getAs[Double]("mean_byte") == mean) // exact: int sum, one division
      assert(r.getAs[String]("head_hex") ==
        bytes.take(8).map("%02X".format(_)).mkString)
    }
  }

  test("t24 bpe training resolves chains greedily and dries up to a no-op") {
    import spark.implicits._
    // aaa ×3: round 1 merges (a,a) — 2 in-word occurrences × 3 words =
    // 6, and the greedy fold yields (aa)·a, NOT a·(aa); round 2 merges
    // (aa,a) = 3; round 3 has an empty pair inventory and must emit
    // nothing (the left-join no-op), not fail.
    val rows = ext.Text.bpeTrain(Seq("aaa aaa aaa").toDF("text"), 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1, "a", "a", 6L), (2, "aa", "a", 3L)))
  }

  test("t24 bpe training: Sennrich fixture merges in frequency-then-pair order") {
    import spark.implicits._
    // low ×3, lower ×2, newest ×4, widest ×1 — the worked example from
    // the BPE paper. Round 1: (w,e) = 2+4 = 6. Round 2 is the
    // tie-break pin: (l,o) and (s,t) both count 5; pair-asc picks
    // (l,o). Round 3: (s,t) = 5 (newest ×4 + widest).
    val corpus = Seq("low low low lower lower",
      "newest newest newest newest widest").toDF("text")
    val rows = ext.Text.bpeTrain(corpus, 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1, "w", "e", 6L), (2, "l", "o", 5L), (3, "s", "t", 5L)))
  }

  test("t25 bpe segmentation: the trained vocab segments the Sennrich words") {
    import spark.implicits._
    // The same fixture's POST-merge vocab, hand-applied: after (w,e),
    // (l,o), (s,t) — low = lo·w, lower = lo·we·r, newest = n·e·we·st,
    // widest = w·i·d·e·st. The vocab IS t25's segmenter, so this pins
    // the apply side of the learn/apply split end to end.
    val corpus = Seq("low low low lower lower",
      "newest newest newest newest widest").toDF("text")
    val vocab = ext.Text.bpeTrainFull(corpus, 3)._2.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(vocab == Map(
      "low" -> List("lo", "w"),
      "lower" -> List("lo", "we", "r"),
      "newest" -> List("n", "e", "we", "st"),
      "widest" -> List("w", "i", "d", "e", "st")))
    // Chain corpus fully merges: aaa ends as the single symbol [aaa].
    val chain = ext.Text.bpeTrainFull(Seq("aaa aaa aaa").toDF("text"), 3)._2
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(chain == Map("aaa" -> List("aaa")))
  }

  test("t28 batched bpe equals sequential t24 when no batch pair interacts") {
    import spark.implicits._
    // The non-interaction contract, pinned on a corpus built so the
    // top pairs are symbol-disjoint AND independent (each word holds
    // exactly one mergeable pair, so no merge changes any other
    // pair's count): batched selection sees exactly Sennrich's counts
    // and must emit exactly Sennrich's merges, in Sennrich's order.
    val corpus = Seq("xy xy xy xy uv uv uv qr qr mn").toDF("text")
    val seq4 = ext.Text.bpeTrain(corpus, 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    val bat4 = ext.Text.bpeBatchTrain(corpus, rounds = 1, batch = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(bat4.toSeq == seq4.toSeq)
    assert(bat4.length == 4)
    // The interaction guard actually guards: with "ab" and "bc" both
    // frequent, (a,b) outranks and (b,c) shares b — one round must
    // select (a,b) but NOT (b,c).
    val clash = Seq("ab ab ab bc bc").toDF("text")
    val got = ext.Text.bpeBatchTrain(clash, rounds = 1, batch = 2).collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(got == Set(("a", "b")))
  }

  test("t29 naive Bayes: separates a planted-vocabulary corpus perfectly " +
      "and matches a bit-exact JVM replay of the quantized scoring") {
    import spark.implicits._
    import graft.functions.QLog2
    // Three classes with DISJOINT content vocabularies plus shared
    // stopwords — the lexical divergence the sf fixture lacks (its
    // languages share one generator vocabulary, so the registered
    // query's accuracy is prior-dominated; THIS is where learning
    // shows). 4 train + 2 eval docs per class, is_eval set explicitly.
    val classWords = Map("aa" -> "red blue", "bb" -> "green yellow",
      "cc" -> "black white")
    val rows = for {
      (c, ws) <- classWords.toSeq
      i <- 0 until 6
    } yield {
      val id = classWords.keys.toSeq.sorted.indexOf(c) * 10L + i
      val body = (ws + " ") * (i + 1) + "the of the"
      (id, c, i >= 4, body.trim)
    }
    val d = rows.toDF("doc_id", "lang", "is_eval", "text")
    val got = ext.Text.nbClassify(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("lang"),
        r.getAs[String]("pred_lang"), r.getAs[Long]("qsurp"),
        r.getAs[Long]("qmargin"))).toMap
    assert(got.size == 6, s"expected 6 eval docs, got ${got.size}")
    got.foreach { case (id, (truth, pred, _, margin)) =>
      assert(pred == truth, s"doc $id: predicted $pred, truth $truth")
      assert(margin > 0, s"doc $id: winner must be strict on this corpus")
    }
    // Bit-exact JVM replay: identical counts, identical QLog2.ref
    // logs, identical (qsurp, class) argmin + runner-up margin.
    def toks(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    def tid(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(9), 16)
    val train = rows.filter(!_._3)
    val eval = rows.filter(_._3)
    val ntc = train.flatMap(r => toks(r._4).map(w => (tid(w), r._2)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ctot = train.groupBy(_._2).view
      .mapValues(_.map(r => toks(r._4).size.toLong).sum).toMap
    val ndocs = train.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val v = train.flatMap(r => toks(r._4).map(tid)).distinct.size.toLong
    val n = ndocs.values.sum
    val classes = classWords.keys.toSeq.sorted
    eval.foreach { case (id, truth, _, text) =>
      val scored = classes.map { c =>
        val qd = QLog2.ref(ctot(c) + v)
        val qprior = QLog2.ref(n) - QLog2.ref(ndocs(c))
        val s = toks(text).groupBy(tid).map { case (t, occ) =>
          val qn = ntc.get((t, c)).map(x => QLog2.ref(x + 1L)).getOrElse(0L)
          occ.size.toLong * (qd - qn)
        }.sum
        (s + qprior, c)
      }.sorted
      val (wSurp, wC) = scored.head
      val (truthC, pred, qsurp, qmargin) = (truth, got(id)._2, got(id)._3,
        got(id)._4)
      assert(pred == wC && qsurp == wSurp &&
        qmargin == scored(1)._1 - wSurp,
        s"doc $id replay mismatch: engine ($pred, $qsurp, $qmargin) " +
          s"vs JVM ($wC, $wSurp, ${scored(1)._1 - wSurp}); truth $truthC")
    }
  }

  test("t33 exact log-perplexity matches a JVM replay and is bounded by " +
      "t22's AM surrogate") {
    import graft.functions.QLog2
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    def id9(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(9), 16)
    val posRows = texts.flatMap { case (id, t) =>
      val tk = t.trim.split("\\s+")
      tk.sliding(2).collect { case Array(a, b) =>
        (id, id9(a), id9(s"$a $b")) }
    }
    val c1 = posRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c2 = posRows.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val want = posRows.groupBy(_._1).map { case (id, rows) =>
      val sq = rows.map { case (_, u, b) =>
        QLog2.ref((c1(u) * 1048576L) / c2(b)) }.sum
      id -> (rows.size.toLong,
        sq.toDouble / (rows.size * 65536.0) - 20.0)
    }
    val got = SparkEntry.queries("t33_lm_logppl")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("logppl"))).toMap
    assert(got.size == want.size)
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: engine ${got(id)} vs JVM $w")
    }
    // AM >= GM: the exact log-perplexity never exceeds the log of
    // t22's mean-1/p surrogate (up to the 2^-16 quantization slack)
    val am = SparkEntry.queries("t22_lm_perplexity")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("surprise")).toMap
    got.foreach { case (id, (_, lp)) =>
      val bound = math.log(am(id)) / math.log(2.0)
      assert(lp <= bound + 1e-3,
        s"doc $id: logppl $lp exceeds the AM bound $bound")
    }
  }

  test("t34 held-out exact log-perplexity matches a JVM replay and is " +
      "bounded by t23's AM surrogate") {
    import graft.functions.QLog2
    val texts = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    def id9(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(9), 16)
    def isEval(id: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"$id:eval").take(8), 16) % 8 == 0
    val posRows = texts.flatMap { case (id, t) =>
      t.trim.split("\\s+").sliding(2).collect { case Array(a, b) =>
        (id, isEval(id), id9(a), id9(s"$a $b")) }
    }
    val c1 = posRows.filter(!_._2).groupBy(_._3).view
      .mapValues(_.size.toLong).toMap
    val c2 = posRows.filter(!_._2).groupBy(_._4).view
      .mapValues(_.size.toLong).toMap
    val v = c1.size.toLong
    val want = posRows.filter(_._2).groupBy(_._1).map { case (id, rows) =>
      val sq = rows.map { case (_, _, u, b) =>
        QLog2.ref(((c1.getOrElse(u, 0L) + v) * 1048576L) /
          (c2.getOrElse(b, 0L) + 1L)) }.sum
      id -> (rows.size.toLong, sq.toDouble / (rows.size * 65536.0) - 20.0)
    }
    val got = SparkEntry.queries("t34_lm_heldout_logppl")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("logppl"))).toMap
    assert(got.size == want.size && got.nonEmpty)
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: engine ${got(id)} vs JVM $w")
    }
    val am = SparkEntry.queries("t23_lm_heldout")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("surprise")).toMap
    got.foreach { case (id, (_, lp)) =>
      val bound = math.log(am(id)) / math.log(2.0)
      assert(lp <= bound + 1e-3,
        s"doc $id: logppl $lp exceeds the AM bound $bound")
    }
  }

  test("t30 nb model delta: merged rows equal a full retrain on touched keys") {
    // Counts are additive, so the delta-merged model must be EXACTLY
    // the full-corpus (t, lang) counts wherever the batch touched —
    // recomputed here in-engine from scratch, no store, no merge path.
    val got = SparkEntry.queries("t30_nb_delta")(spark, sf).collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_new"))).toMap
    val full = Tables(spark, sf, "documents")
      .select(col("lang"), (col("doc_id") % 8 === 0).as("is_batch"),
        split(trim(col("text")), "\\s+").as("tk"))
      .select(col("lang"), col("is_batch"),
        explode(ext.Dedup.ngramIdCol(1)).as("t"))
      .groupBy(col("t"), col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("n_new"))
      .filter(col("n_new") > 0)
      .collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_new"))).toMap
    assert(got.nonEmpty && got == full,
      s"merged model diverged from the rebuild: ${got.size} vs " +
        s"${full.size} keys, first diff ${
          (full.keySet ++ got.keySet).find(k => got.get(k) != full.get(k))}")
  }

  test("t26 bpe apply: merge replay reproduces the vocab for seen words " +
      "and segments unseen words through the merges") {
    import spark.implicits._
    // Learn/apply identity — the invariant t26 rests on: replaying the
    // learned merge table in rank order over a word's codepoints must
    // land EXACTLY where the training loop left that word's vocab
    // entry, for every word of the training corpus (replay step r ≡
    // training round r, by one shared bpeMergeFold). Pinned on the
    // real sf0.001 corpus, not a toy, so every chain/tie case the
    // corpus contains is covered.
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"))
    val (merges, vocab) = ext.Text.bpeTrainFull(corpus, 5)
    val replayed = ext.Text.bpeApplySegments(
      vocab.select(col("w")), merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val trained = vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(trained.nonEmpty)
    assert(replayed == trained,
      s"replay diverges from training on seen words: " +
        s"${trained.collect { case (w, s) if replayed.get(w) != Some(s) =>
          (w, s, replayed.get(w)) }.take(3)}")
    // OOV path: words the training corpus never saw still segment —
    // through the Sennrich fixture's merges (w,e), (l,o), (s,t):
    // "lowest" (unseen) = lo·we·st, and a fully-alien word falls back
    // to codepoints.
    val fixtureMerges = ext.Text.bpeTrainFull(
      Seq("low low low lower lower",
        "newest newest newest newest widest").toDF("text"), 3)._1
    val oov = ext.Text.bpeApplySegments(
      Seq("lowest", "xyz").toDF("w"), fixtureMerges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(oov == Map(
      "lowest" -> List("lo", "we", "st"),
      "xyz" -> List("x", "y", "z")))
  }

  test("s39 range search: isqrtCeil exact on a sweep; on clusterable " +
      "geometry pruning drops cells while the answer stays brute-force " +
      "exact; fixture answer equals the JVM range scan") {
    import spark.implicits._
    // isqrtCeil ≡ ⌈√x⌉ by BigInt, across small values, near-squares,
    // and the lattice magnitudes the pruning bound actually sees.
    val probe = ((0L to 2000L) ++
      (1L to 40L).map(k => k * k * 100000000L) ++
      (1L to 40L).flatMap(k => Seq(k * k * 100000000L - 1,
        k * k * 100000000L + 1)) ++
      Seq(1L << 48, (1L << 48) - 1, (1L << 50) - 3)).distinct
    val gotS = probe.toDF("x")
      .select(col("x"), ext.Quantizers.isqrtCeil(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probe.foreach { x =>
      val want = {
        var s = math.max(0L, math.sqrt(x.toDouble).toLong - 2)
        while (s * s < x) s += 1
        s
      }
      assert(gotS(x) == want, s"isqrtCeil($x) = ${gotS(x)}, want $want")
    }
    // Clusterable geometry (the s34 fixture shape): 4 well-separated
    // clusters of 10. With r2 inside the cluster diameter the bound
    // must PRUNE (admitted (q, cell) pairs < queries × K) and the
    // pruned answer must equal the JVM brute-force range scan.
    def coord(seed: String, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:vec".getBytes("UTF-8"))
      (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)).toDouble /
        (1 << 24).toDouble - 0.5
    }
    val nat = (0L until 40L).map { i =>
      val c = i % 4
      (i, (0 until 64).map(j =>
        coord(s"anchor$c", j) + 0.08 * coord(s"m$i", j)))
    }
    val tmp = java.nio.file.Files.createTempDirectory("s39_fixture").toString
    nat.toDF("vec_id", "v").write.mode("overwrite").parquet(tmp)
    val corpus = spark.read.parquet(tmp)
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val fxDf = graft.ops.Subplan.once(corpus.select(col("vec_id"), col("v"),
      ext.Similarity.fixedPoint(col("v")).as("x")))
    val cents = ext.Quantizers.kmeansCentroids(fxDf)
    val post = ext.Quantizers.kmAssign(fxDf, cents)
      .select(col("vec_id"), col("v"), col("cid"))
    val stats = ext.Quantizers.rangeCellStats(post, cents)
    val q = fxDf.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("x").as("qx"))
    // r2 sized to the cluster: within-cluster d² ≈ 0.07 real ≈ 8·10¹⁰
    // lattice; inter-cluster ≈ 10 real — three orders apart.
    val r2 = 200000000000L
    val admitted = ext.Quantizers.rangeAdmitted(q, cents, stats, r2)
    assert(admitted.count() < 10L * ext.Quantizers.KmK,
      "triangle bound admitted every cell on clusterable geometry")
    val got = ext.Quantizers.rangeVerify(post, admitted, r2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fx = fxDf.collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Long]](2).toArray).toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = (for {
      qi <- 0L until 10L
      v <- fx.keys if v != qi
      d = dist(fx(qi), fx(v)) if d <= r2
    } yield (qi, v, d)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty && want.size < 10 * 39,
      "fixture r2 degenerate (empty or all-pairs)")
    // The registered query is self-consistent across invocations (the
    // stored stats path) and non-empty on the sf fixture.
    val run1 = SparkEntry.queries("s39_range_search")(spark, sf)
      .collect().map(_.toSeq).toSet
    val run2 = SparkEntry.queries("s39_range_search")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(run1.nonEmpty && run1 == run2)
  }

  test("d20 semdedup: bit-exact JVM replay of the cell-blocked decision; " +
      "every same-cell planted twin pair drops exactly one member") {
    val all = graft.ops.Subplan.once(ext.Similarity.plantedTwinCorpus(
      Tables(spark, sf, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))))
    val got = SparkEntry.queries("d20_semdedup")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getBoolean(3)))).toMap
    // JVM replay: trained centroids collected, argmin assignment with
    // the lowest-cid tie-break, exact int64 dc2, within-cell pairs at
    // the SAME left-to-right double-fold cosine, the keep-farther rule.
    val fxDf = graft.ops.Subplan.once(all.select(col("vec_id"), col("v"),
      ext.Similarity.fixedPoint(col("v")).as("x")))
    val cents = ext.Quantizers.kmeansCentroids(fxDf)
      .collect().map(r => r.getInt(0) -> r.getAs[Seq[Long]](1).toArray)
      .sortBy(_._1).map(_._2)
    val rows = fxDf.collect().map(r => (r.getLong(0),
      r.getAs[Seq[Double]](1).toArray, r.getAs[Seq[Long]](2).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(p: Array[Double], q: Array[Double]) =
        p.zip(q).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val asg = rows.map { case (id, v, x) =>
      val cid = cents.indices.minBy(c => (d2(x, cents(c)), c))
      (id, v, cid, d2(x, cents(cid)))
    }
    val pairs = for {
      (ia, va, ca, da) <- asg
      (ib, vb, cb, db) <- asg
      if ia < ib && ca == cb && cos(va, vb) >= 0.99
    } yield (ia, ib, da, db)
    val losers = pairs.map { case (a, b, da, db) =>
      if (da < db) a else if (db < da) b else math.max(a, b)
    }.toSet
    val want = asg.map { case (id, _, cid, dc) =>
      id -> ((cid, dc, !losers(id)))
    }.toMap
    assert(pairs.nonEmpty, "fixture produced no same-cell twin pair")
    assert(got == want,
      s"diverges at ${want.collect { case (k, w) if got.get(k) != Some(w) =>
        (k, w, got.get(k)) }.take(3)}")
    // The decision semantics on the planted fixture: every twin pair
    // that lands in ONE cell decides exactly one member.
    val cellOf = asg.map(t => t._1 -> t._3).toMap
    val keptOf = want.map { case (k, (_, _, kp)) => k -> kp }
    val sameCellTwins = asg.map(_._1).filter(id =>
      id < 1000000000L && cellOf.get(id + 1000000000L) == cellOf.get(id))
    assert(sameCellTwins.nonEmpty)
    sameCellTwins.foreach { o =>
      assert(keptOf(o) ^ keptOf(o + 1000000000L),
        s"twin pair ($o, ${o + 1000000000L}) kept ${keptOf(o)}/" +
          s"${keptOf(o + 1000000000L)} — must decide exactly one")
    }
  }

  test("s40 filtered graph search: JVM visited-set replay within the " +
      "label class; every answer row matches the query's label") {
    val all = graft.ops.Subplan.once(
      ext.Similarity.plantedTwinCorpus(
        Tables(spark, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))))
    val g = ext.KnnGraph.knnDescentGraph(all)
      .collect().groupBy(_.getLong(0))
      .map { case (v, rows) => v -> rows.map(_.getLong(1)).toList }
    val fx = ext.KnnGraph.knnFx(all)
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]](1).toArray).toMap
    val labBase = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def lab(id: Long): Int =
      labBase.getOrElse(id, labBase(id - 1000000000L))
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // The s36 reference walk with the label filter on the answer.
    def filteredWalk(q: Long, b: Int, k: Int): List[(Long, Long, Int)] = {
      var frontier = List(if (q == 0L) 1L else 0L)
      var visited = Set.empty[Long]
      for (_ <- 1 to ext.KnnGraph.KnnSearchHops) {
        val cands = (frontier ++ frontier.flatMap(c => g.getOrElse(c, Nil)))
          .distinct.filter(_ != q)
        visited ++= cands
        frontier = cands.sortBy(c => (dist(fx(q), fx(c)), c)).take(b)
      }
      visited.toList.filter(c => lab(c) == lab(q))
        .sortBy(c => (dist(fx(q), fx(c)), c)).take(k)
        .zipWithIndex.map { case (c, i) => (c, dist(fx(q), fx(c)), i + 1) }
    }
    val got = SparkEntry.queries("s40_filtered_knn_search")(spark, sf)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getInt(3)))).groupBy(_._1)
      .map { case (q, rows) => q -> rows.map(_._2).sortBy(_._3).toList }
    assert(got.nonEmpty)
    got.foreach { case (q, rows) =>
      rows.foreach { case (nn, _, _) =>
        assert(lab(nn) == lab(q),
          s"query $q (label ${lab(q)}) answered $nn (label ${lab(nn)})")
      }
      val want = filteredWalk(q, ext.KnnGraph.KnnBeamWidth,
        ext.KnnGraph.KnnEfTopK)
      assert(rows == want, s"query $q: engine $rows != JVM replay $want")
    }
    // Queries whose replay is empty must be ABSENT, not zero-row noise.
    (0L until 10L).filterNot(got.contains).foreach { q =>
      assert(filteredWalk(q, ext.KnnGraph.KnnBeamWidth,
        ext.KnnGraph.KnnEfTopK).isEmpty,
        s"query $q missing from the answer but its replay is non-empty")
    }
  }

  test("t37 DSIR: bit-exact JVM replay of weights and exact top-K on the " +
      "fixture; a planted target vocabulary keeps only target-like pool docs") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def isTgt(id: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"$id:tgt").take(8), 16) % 8 == 0
    def bucket(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(9), 16) % 256
    def ql(x: Long): Long = graft.functions.QLog2.ref(x)
    // The full replay: hashed-bucket tf, two-distribution Laplace
    // model, QLog2.ref coefficients, exact top-(pool>>2).
    def replay(ds: Seq[(Long, String)]): Map[Long, (Long, Boolean)] = {
      val toks = ds.map { case (id, tx) =>
        (id, isTgt(id), tx.trim.split("\\s+").toSeq.filter(_.nonEmpty)) }
      val tf = toks.filter(_._3.nonEmpty).map { case (id, tgt, tk) =>
        (id, tgt, tk.groupBy(bucket).map { case (b, ws) =>
          b -> ws.size.toLong }) }
      val nT = new scala.collection.mutable.HashMap[Long, Long]()
      val nP = new scala.collection.mutable.HashMap[Long, Long]()
      tf.foreach { case (_, tgt, m) => m.foreach { case (b, c) =>
        val t = if (tgt) nT else nP
        t(b) = t.getOrElse(b, 0L) + c } }
      val (ntt, npt) = (nT.values.sum, nP.values.sum)
      def coef(b: Long): Long =
        ql(nT.getOrElse(b, 0L) + 1) - ql(nP.getOrElse(b, 0L) + 1) +
          ql(npt + 256) - ql(ntt + 256)
      val qw = tf.filter(!_._2).map { case (id, _, m) =>
        id -> m.map { case (b, c) => c * coef(b) }.sum }
      val k = qw.size >> 2
      val ranked = qw.sortBy { case (id, q) => (-q, id) }.zipWithIndex
      ranked.map { case ((id, q), i) => id -> ((q, i < k)) }.toMap
    }
    val fixture = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = replay(fixture)
    val got = SparkEntry.queries("t37_dsir_select")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.nonEmpty && got == want,
      s"diverges at ${want.collect { case (k2, w) if got.get(k2) != Some(w) =>
        (k2, w, got.get(k2)) }.take(3)}")
    // The learning pin: target docs speak vocabulary A; half the pool
    // is A-like, half B-like — the kept quarter must be all A-like.
    val planted = (0L until 80L).map { id =>
      val alike = isTgt(id) || id % 2 == 0
      (id, if (alike) "alpha beta gamma delta epsilon"
           else "omega sigma tau rho chi")
    }
    val sel = ext.Text.dsirSelect(ext.Text.dsirWeights(
      planted.toDF("doc_id", "text")
        .select(col("doc_id"), ext.Text.isTgtCol.as("is_tgt"), col("text"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val kept = sel.filter(_._3).map(_._1)
    assert(kept.nonEmpty)
    kept.foreach(id =>
      assert(id % 2 == 0, s"kept a B-vocabulary pool doc $id"))
    val aQw = sel.filter(t => t._1 % 2 == 0).map(_._2)
    val bQw = sel.filter(t => t._1 % 2 != 0).map(_._2)
    assert(aQw.min > bQw.max,
      "every A-like pool doc must outweigh every B-like one")
    // Degenerate pool (n < 4 ⇒ k = 0): no boundary bin exists; the
    // provenance contract still emits every row, all kept = false —
    // never a silent zero-row result.
    val tiny = ext.Text.dsirSelect(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "qw"))
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(tiny.length == 3 && tiny.forall(!_._2),
      s"degenerate pool must emit all rows unkept, got ${tiny.toSeq}")
  }

  test("s41 recall probe: the truth side IS s03's exact NN-1 on the " +
      "sampled queries; hit1 implies hit5; the draw is the row set") {
    val got = SparkEntry.queries("s41_recall_probe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, _, h1, h5) =>
      assert(!h1 || h5, s"query $q: hit1 without hit5") }
    // One-definition check: the ground-truth column must equal the
    // registered s03 operator's answer for every sampled query.
    val s03 = SparkEntry.queries("s03_embedding_nn1")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (q, ex, _, _) =>
      assert(s03(q) == ex, s"query $q: truth $ex != s03 ${s03(q)}") }
    // The row set is exactly the ':rq' draw.
    val drawIds = Tables(spark, sf, "embeddings")
      .filter(ext.Similarity.recallDraw(spark, sf))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet == drawIds)
  }

  test("s42 compressed-family recall probe: the truth side IS s03's exact " +
      "NN-1; hit1 implies hit5; the draw is the row set") {
    val got = SparkEntry.queries("s42_recall_adc_probe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, _, h1, h5) =>
      assert(!h1 || h5, s"query $q: hit1 without hit5") }
    // ONE truth statement across the cosine-family monitors: the
    // ground-truth column equals the registered s03 answer per query.
    val s03 = SparkEntry.queries("s03_embedding_nn1")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (q, ex, _, _) =>
      assert(s03(q) == ex, s"query $q: truth $ex != s03 ${s03(q)}") }
    val drawIds = Tables(spark, sf, "embeddings")
      .filter(ext.Similarity.recallDraw(spark, sf))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet == drawIds)
  }

  test("t39 hybrid RRF: JVM fusion replay (lexical ranker from scratch, " +
      "vector list = the registered s15 answer); an item ranked by BOTH " +
      "lists outranks every single-list item") {
    // Lexical ranker replay: tokenize, tf, df, QLog2.ref idf, exact
    // top-5 under (score desc, id asc), self excluded.
    val docsF = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def tk(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    val tf: Map[(Long, String), Long] = docsF.flatMap { case (id, t) =>
      tk(t).groupBy(identity).map { case (w, ws) => ((id, w), ws.size.toLong) }
    }.toMap
    val dfm = tf.keys.toSeq.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val n = docsF.length.toLong
    def ql(x: Long): Long = graft.functions.QLog2.ref(x)
    val lexLists: Map[Long, Seq[Long]] = docsF.filter(_._1 < 10).map {
      case (qid, qt) =>
        val qtf = tk(qt).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
        // Every doc sharing a query term participates — a shared
        // ubiquitous term has idf 0 but IS a match (score 0).
        val scores = docsF.filter(_._1 != qid).flatMap { case (id, _) =>
          if (!qtf.keys.exists(w => tf.contains((id, w)))) None
          else Some(id -> qtf.map { case (w, c) =>
            c * tf.getOrElse((id, w), 0L) * (ql(n + 1) - ql(dfm(w) + 1))
          }.sum)
        }
        qid -> scores.sortBy { case (id, sc) => (-sc, id) }
          .take(5).map(_._1).toSeq
    }.toMap
    val vecLists: Map[Long, Seq[Long]] = SparkEntry
      .queries("s15_ivf_kmeans_stored")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._3).map(_._2).toSeq }
    val C = ext.Hybrid.RrfC
    val K = ext.Hybrid.RrfK
    val want: Map[Long, Seq[(Long, Long)]] =
      (lexLists.keySet ++ vecLists.keySet).map { qid =>
        val contrib = scala.collection.mutable.HashMap[Long, Long]()
        for (lst <- Seq(lexLists.getOrElse(qid, Nil), vecLists.getOrElse(qid, Nil));
             (id, i) <- lst.zipWithIndex)
          contrib(id) = contrib.getOrElse(id, 0L) + C / (K + i + 1)
        qid -> contrib.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(5)
      }.toMap
    val got = SparkEntry.queries("t39_hybrid_rrf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    val gotBy = got.groupBy(_._1).map { case (q, rows) =>
      q -> rows.sortBy(_._4).map(r => (r._2, r._3)).toSeq }
    assert(gotBy == want, s"fusion replay diverges: " +
      s"${want.collect { case (k, w) if gotBy.get(k) != Some(w) =>
        (k, w, gotBy.get(k)) }.take(2)}")
    // Dominance: any item in BOTH top-5 lists must outrank every
    // single-list item (min 2C/(K+5) > max C/(K+1) — the RRF fusion
    // property the operator exists for). The knob-level guarantee is
    // pinned unconditionally; the per-query check fires whenever the
    // fixture's lists overlap.
    assert(2L * C / (K + ext.Hybrid.RrfTopK) > C / (K + 1),
      "RRF knobs must guarantee both-lists dominance")
    var dominanceSeen = false
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val both = lexLists.getOrElse(qid, Nil).toSet
        .intersect(vecLists.getOrElse(qid, Nil).toSet)
      if (both.nonEmpty) dominanceSeen = true
      val ranked = rows.sortBy(_._4).map(_._2)
      val lastBoth = ranked.zipWithIndex.filter(r => both(r._1)).map(_._2)
      val firstSingle = ranked.zipWithIndex.filter(r => !both(r._1)).map(_._2)
      if (lastBoth.nonEmpty && firstSingle.nonEmpty)
        assert(lastBoth.max < firstSingle.min,
          s"query $qid: single-list item outranks a both-lists item")
    }
  }

  test("s44 grid-family recall probe: the truth side IS s03's exact " +
      "NN-1; hit1 implies hit5; the draw is the row set") {
    val got = SparkEntry.queries("s44_recall_grid_probe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, _, h1, h5) =>
      assert(!h1 || h5, s"query $q: hit1 without hit5") }
    val s03 = SparkEntry.queries("s03_embedding_nn1")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (q, ex, _, _) =>
      assert(s03(q) == ex, s"query $q: truth $ex != s03 ${s03(q)}") }
    val drawIds = Tables(spark, sf, "embeddings")
      .filter(ext.Similarity.recallDraw(spark, sf))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet == drawIds)
  }

  test("t41 phrase match: JVM replay of the positional alignment; the " +
      "planted query matches every planted doc at position 0") {
    val plant = ext.Dedup.PressPlant
    val docsF = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().toSeq.map { r =>
        val id = r.getLong(0)
        (id, if (id % 20 == 4) plant else r.getString(1)) }
    def tk(t: String): Array[String] = t.trim.split("\\s+")
    val want = docsF.filter(_._1 < 10).flatMap { case (qid, qt) =>
      val toks = tk(qt)
      if (toks.length < 3) Nil
      else {
        val ph = toks.take(3).toSeq
        docsF.filter(_._1 != qid).flatMap { case (id, t) =>
          val dt = tk(t)
          val anchors = (0 to dt.length - 3)
            .filter(a => dt.slice(a, a + 3).toSeq == ph)
          if (anchors.isEmpty) None
          else Some((qid, id) -> ((anchors.size.toLong, anchors.min.toLong)))
        }
      }
    }.toMap
    val got = SparkEntry.queries("t41_phrase_match")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty && got == want, s"phrase replay diverges: " +
      s"missing=${(want.keySet -- got.keySet).take(3)} " +
      s"extra=${(got.keySet -- want.keySet).take(3)}")
    // The planted pin: query 4 (the PressPlant doc) finds EVERY other
    // planted doc, exactly once, at position 0.
    val planted = docsF.map(_._1).filter(id => id % 20 == 4 && id != 4)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(got.get((4L, id)).contains((1L, 0L)),
        s"planted doc $id not matched at (1, 0): ${got.get((4L, id))}") }
  }

  test("t43 curation chain: every batch doc gets exactly one verdict; " +
      "each stage agrees with its standalone query; the selected set is " +
      "the exact top quarter of the pool") {
    val rows = SparkEntry.queries("t43_curation_chain")(spark, sf)
      .collect()
    val batchDocs = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 8 === 0)
      .select(col("doc_id"), ext.Text.isEvalCol.as("ev"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows.length == batchDocs.size)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val stageOf = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    // The fixture's uniform 1/8 split is no-drift BY construction —
    // the gate admits (its measured headroom is documented at the
    // knob; the blocked branch is pinned on a planted corpus below).
    assert(!stageOf.values.exists(_ == "drift_blocked"))
    // Stage agreement with the standalone queries — each riding ONE
    // shared definition, so disagreement = the composition forked.
    val s09ids = SparkEntry.queries("s09_semantic_decontam")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val d20lost = SparkEntry.queries("d20_semdedup")(spark, sf)
      .collect().filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    batchDocs.foreach { case (id, ev) =>
      val want =
        if (ev) "eval_holdout"
        else if (s09ids(id)) "sem_contaminated"
        else if (d20lost(id)) "sem_dup"
        else null
      if (want != null)
        assert(stageOf(id) == want, s"doc $id: ${stageOf(id)} != $want")
      else assert(Set("selected", "dsir_dropped")(stageOf(id)),
        s"doc $id: pool doc got ${stageOf(id)}")
    }
    // The DSIR tail: pool rows carry weights and the selected set is
    // the exact top ⌊n/4⌋ under (qw desc, doc_id asc) — t37's rule on
    // the restricted pool.
    val pool = rows.filter(r =>
      r.getString(2) == "selected" || r.getString(2) == "dsir_dropped")
    assert(pool.nonEmpty && pool.forall(!_.isNullAt(3)))
    val k = pool.length / 4
    val wantSel = pool.map(r => (r.getLong(0), r.getLong(3)))
      .sortBy { case (id, qw) => (-qw, id) }.take(k).map(_._1).toSet
    val gotSel = rows.filter(_.getString(2) == "selected")
      .map(_.getLong(0)).toSet
    assert(gotSel == wantSel,
      s"selected set is not the top quarter: " +
        s"missing=${(wantSel -- gotSel).take(3)} extra=${(gotSel -- wantSel).take(3)}")
    assert(gotSel.size == k)
    // Non-pool rows never carry a weight.
    assert(rows.filter(r => !Set("selected", "dsir_dropped")(r.getString(2)))
      .forall(_.isNullAt(3)))
  }

  test("t43 drift gate: a new-vocabulary batch is blocked wholesale") {
    import spark.implicits._
    // Existing corpus: a small old vocabulary, token mass >> B = 256
    // (the t38 planting rule: size plants well past the add-one
    // smoothing mass). Batch: entirely NEW vocabulary — whole buckets
    // at add-one-vs-thousands ratios, |qdiff| far beyond the gate.
    val docsF = (0L until 512L).map { i =>
      val text =
        if (i % 8 == 0)
          (0 until 60).map(j => s"zz${i}w$j").mkString(" ")
        else
          (0 until 60).map(j => s"old${j % 4}").mkString(" ")
      (i, text, "en", s"src${i % 5}", 0L)
    }
    val tmp = java.nio.file.Files.createTempDirectory("t43_fixture").toString
    docsF.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rng = new scala.util.Random(7)
    (0L until 16L).map(i =>
        (i, (0 until 64).map(_ => rng.nextFloat()), i.toInt % 10))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val staged = ext.Curation.stagedBatch(spark, tmp).collect()
    assert(staged.nonEmpty)
    staged.foreach { r =>
      assert(r.getString(3) == "drift_blocked",
        s"doc ${r.getLong(0)} passed a drifted gate: ${r.getString(3)}")
    }
  }

  test("t44 5-gram phrase probe: JVM replay over the SAME positional " +
      "store; the planted query matches every planted doc at position 0") {
    val plant = ext.Dedup.PressPlant
    val docsF = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().toSeq.map { r =>
        val id = r.getLong(0)
        (id, if (id % 20 == 4) plant else r.getString(1)) }
    def tk(t: String): Array[String] = t.trim.split("\\s+")
    val len = ext.Hybrid.PhraseLen5
    val want = docsF.filter(_._1 < 10).flatMap { case (qid, qt) =>
      val toks = tk(qt)
      if (toks.length < len) Nil
      else {
        val ph = toks.take(len).toSeq
        docsF.filter(_._1 != qid).flatMap { case (id, t) =>
          val dt = tk(t)
          val anchors = (0 to dt.length - len)
            .filter(a => dt.slice(a, a + len).toSeq == ph)
          if (anchors.isEmpty) None
          else Some((qid, id) -> ((anchors.size.toLong, anchors.min.toLong)))
        }
      }
    }.toMap
    val got = SparkEntry.queries("t44_phrase_5gram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty && got == want, s"5-gram replay diverges: " +
      s"missing=${(want.keySet -- got.keySet).take(3)} " +
      s"extra=${(got.keySet -- want.keySet).take(3)}")
    // The planted pin at the contamination gram width: query 4 finds
    // EVERY other planted doc, exactly once, at position 0 — the same
    // guarantee as t41's trigram, one store serving both widths.
    val planted = docsF.map(_._1).filter(id => id % 20 == 4 && id != 4)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(got.get((4L, id)).contains((1L, 0L)),
        s"planted doc $id not matched at (1, 0): ${got.get((4L, id))}") }
  }

  test("t42 block-max WAND: answer equals the exhaustive statement while " +
      "admitting strictly fewer blocks on a skewed corpus") {
    import spark.implicits._
    // 2048 docs = 16 postings blocks. Background: a tiny common
    // vocabulary everywhere (block-uniform, near-zero impacts); block
    // 0's docs also carry a rare high-idf term at tf 4 — the skewed
    // per-block impact distribution block-max WAND exists for.
    val docsF = (0L until 2048L).map { i =>
      val base = "the quick brown fox jumps"
      (i, if (i < 128) base + " needle needle needle needle"
          else base + s" filler${i % 7}")
    }
    val tmp = java.nio.file.Files.createTempDirectory("t42_fixture").toString
    docsF.toDF("doc_id", "text").write.mode("overwrite").parquet(tmp)
    val idx = graft.ops.Subplan.once(
      ext.Text.blockedEntries(spark.read.parquet(tmp)))
    val dl = graft.ops.Subplan.once(ext.Hybrid.docLenOf(idx))
    val imp = graft.ops.Subplan.once(ext.Hybrid.impactsOf(idx, dl))
    // One query holding the rare term + a ubiquitous term: the seed
    // block's exact scores set θ far above every needle-free block's
    // summed bounds.
    val qterms = Seq((9999L, "needle"), (9999L, "the")).toDF("qid", "term")
    val (cand, admitted, answer) =
      ext.Hybrid.bmwOver(idx, dl, imp, qterms)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val got = rows(answer)
    val want = rows(ext.Hybrid.bm25Over(idx, dl, qterms))
    assert(got.nonEmpty && got == want,
      s"pruned answer diverged from exhaustive: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    val nCand = cand.count()
    val nAdm = admitted.count()
    assert(nAdm < nCand,
      s"no pruning happened: admitted $nAdm of $nCand candidate blocks")
    // The top-5 lives in block 0 (needle docs dominate): the skip set
    // should be nearly everything the ubiquitous term touches.
    assert(nAdm <= 2, s"expected <=2 admitted blocks, got $nAdm of $nCand")
  }

  test("t40 BM25: bit-exact JVM replay of the quantized scores; equal-tf " +
      "docs rank by length (the normalization BM25 exists for)") {
    val docsF = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def tk(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    val tf: Map[(Long, String), Long] = docsF.flatMap { case (id, t) =>
      tk(t).groupBy(identity).map { case (w, ws) => ((id, w), ws.size.toLong) }
    }.toMap
    val dl: Map[Long, Long] = docsF.map { case (id, t) =>
      id -> tk(t).size.toLong }.toMap
    val n = docsF.length.toLong
    val a = dl.values.sum
    val dfm = tf.keys.toSeq.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    def ql(x: Long): Long = graft.functions.QLog2.ref(x)
    val sc = ext.Hybrid.Bm25Scale
    def ldq(id: Long): Long = dl(id) * n * sc / a
    def termScore(idfq: Long, tfv: Long, l: Long): Long =
      (idfq * 44L * tfv * sc) / (20L * sc * tfv + 6L * sc + 18L * l)
    val want: Map[Long, Seq[(Long, Long)]] = docsF.filter(_._1 < 10).map {
      case (qid, qt) =>
        val terms = tk(qt).distinct
        val scores = docsF.filter(_._1 != qid).flatMap { case (id, _) =>
          val s0 = terms.flatMap { w =>
            tf.get((id, w)).map { tfv =>
              termScore(ql(2 * n + 2) - ql(2 * dfm(w) + 1), tfv, ldq(id)) }
          }
          if (s0.isEmpty) None else Some(id -> s0.sum)
        }
        qid -> scores.sortBy { case (id, v) => (-v, id) }.take(5).toSeq
    }.toMap
    val got = SparkEntry.queries("t40_bm25_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    val gotBy = got.groupBy(_._1).map { case (q, rows) =>
      q -> rows.sortBy(_._4).map(r => (r._2, r._3)).toSeq }
    assert(gotBy == want, s"BM25 replay diverges: " +
      s"${want.collect { case (k, w) if gotBy.get(k) != Some(w) =>
        (k, w, gotBy.get(k)) }.take(2)}")
    // The length-normalization pin, on the quantized arithmetic
    // itself: same tf, same idf, longer doc ⇒ strictly lower term
    // score (until quantization saturates — test well inside range).
    val idfq = ql(2 * n + 2) - ql(2 * 1 + 1)
    val short = termScore(idfq, 2, sc)      // dl = avgdl
    val long = termScore(idfq, 2, 4 * sc)   // dl = 4·avgdl
    assert(short > long,
      s"longer doc must score lower at equal tf: $short vs $long")
    // And tf saturation: doubling tf less than doubles the score.
    assert(termScore(idfq, 8, sc) < 2 * termScore(idfq, 4, sc),
      "BM25 tf saturation lost")
  }

  test("s43 graph-family recall probe: truth is the exact int64 NN-1 over " +
      "the twin lattice (JVM replay); hit1 implies hit5; the draw over the " +
      "twin corpus is the row set") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def drawn(id: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"$id:rq").take(8), 16) % 64 == 0
    // The twin-extended fixed-point lattice, replayed exactly: dim 0
    // scaled 1.01 BEFORE the 2^20 floor, ids offset by 1e9.
    val raw = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val lattice = (raw.map { case (id, v) =>
        (id, v.map(x => math.floor(x * 1048576.0).toLong)) } ++
      raw.map { case (id, v) =>
        (id + 1000000000L, v.zipWithIndex.map { case (x, i) =>
          math.floor((if (i == 0) x * 1.01 else x) * 1048576.0).toLong }) })
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = lattice.filter(t => drawn(t._1)).map { case (qid, qx) =>
      qid -> lattice.filter(_._1 != qid)
        .map { case (id, x) => (sq(qx, x), id) }.min._2
    }.toMap
    val got = SparkEntry.queries("s43_recall_graph_probe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, _, h1, h5) =>
      assert(!h1 || h5, s"query $q: hit1 without hit5") }
    assert(got.map(_._1).toSet == want.keySet,
      "row set must be the ':rq' draw over the twin corpus")
    got.foreach { case (q, ex, _, _) =>
      assert(want(q) == ex, s"query $q: truth $ex != replay ${want(q)}") }
  }

  test("d21 bloom-pruned incremental dedup: JVM replay of the naive " +
      "answer; the bloom genuinely prunes the existing-corpus scan") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def fp(text: String): String =
      md5hex(text.trim.replaceAll("\\s+", " ").toLowerCase)
    val fixture = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map { r =>
        val id = r.getLong(0)
        val tx = if (id % 20 == 4) ext.Dedup.PressPlant else r.getString(1)
        (id, id % 8 == 0, fp(tx))
      }
    val existingByFp = fixture.filterNot(_._2).groupBy(_._3)
      .view.mapValues(_.size.toLong).toMap
    val want = fixture.filter(_._2).flatMap { case (id, _, f) =>
      existingByFp.get(f).map(n => (id, f, n)) }.toSet
    val got = SparkEntry.queries("d21_bloom_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // The prune is real: the existing rows surviving might_contain are
    // a small fraction of the corpus (true dups + the bloom's bounded
    // false-positive allowance), never the whole scan.
    import spark.implicits._
    val fdf = fixture.toSeq.toDF("doc_id", "is_batch", "fp")
    val bf = fdf.filter(col("is_batch"))
      .agg(graft.functions.Bloom.bloomAgg(
        xxhash64(col("fp")), 100000L, 800000L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val nExisting = fixture.count(!_._2)
    val nSurvive = fdf.filter(!col("is_batch"))
      .filter(graft.functions.Bloom.mightContain(lit(bf),
        xxhash64(col("fp")))).count()
    val nTrue = want.map(_._3).sum
    assert(nSurvive >= nTrue, "the bloom dropped a true duplicate")
    assert(nSurvive < nExisting / 4,
      s"bloom pruned nothing: $nSurvive of $nExisting existing rows survive")
  }

  test("t38 corpus drift: bit-exact JVM replay; a planted batch-only " +
      "vocabulary dominates the per-bucket PSI report") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(9), 16) % 256
    def ql(x: Long): Long = graft.functions.QLog2.ref(x)
    def replay(ds: Seq[(Long, String)])
        : Map[Long, (Long, Long, Long, Double)] = {
      val rows = ds.map { case (id, tx) =>
        (id % 8 == 0, tx.trim.split("\\s+").toSeq.filter(_.nonEmpty)) }
      val nNew = new scala.collection.mutable.HashMap[Long, Long]()
      val nOld = new scala.collection.mutable.HashMap[Long, Long]()
      rows.foreach { case (batch, tk) => tk.foreach { w =>
        val t = if (batch) nNew else nOld
        val b = bucket(w)
        t(b) = t.getOrElse(b, 0L) + 1 } }
      val (ntn, nto) = (nNew.values.sum, nOld.values.sum)
      (nNew.keySet ++ nOld.keySet).map { b =>
        val (n1, n0) = (nNew.getOrElse(b, 0L), nOld.getOrElse(b, 0L))
        val qdiff = ql(n1 + 1) + ql(nto + 256) - ql(n0 + 1) - ql(ntn + 256)
        val term = ((n1 + 1).toDouble / (ntn + 256).toDouble
          - (n0 + 1).toDouble / (nto + 256).toDouble) *
          qdiff.toDouble / 65536.0
        b -> ((n1, n0, qdiff, term))
      }.toMap
    }
    val fixture = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = replay(fixture)
    val got = SparkEntry.queries("t38_corpus_drift")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.nonEmpty && got == want,
      s"diverges at ${want.collect { case (k, w) if got.get(k) != Some(w) =>
        (k, w, got.get(k)) }.take(3)}")
    // Planted drift: batch docs keep the steady vocabulary AND
    // introduce words the existing corpus never uses. PSI is
    // symmetric (vocabulary that DISAPPEARS drifts too — a batch of
    // nothing-but-new-words flags the steady buckets hardest, which
    // is correct), so the fixture keeps the steady share comparable
    // and the NEW buckets must then carry the top psi_term rows. The
    // corpus must dwarf the B=256 add-one mass (tokens >> B) or the
    // smoothing denominators swamp the proportions — 512 docs do.
    val planted = (0L until 512L).map { id =>
      (id, if (id % 8 == 0)
             "steady common regular text flow driftword poison anomaly"
           else "steady common regular text flow")
    }
    val rep = ext.Text.corpusDrift(planted.toDF("doc_id", "text")
        .select(col("doc_id"), (col("doc_id") % 8 === 0).as("is_batch"),
          col("text")))
      .collect().map(r => (r.getLong(0), r.getDouble(4)))
    val driftBuckets =
      Set("driftword", "poison", "anomaly").map(bucket)
    val top = rep.sortBy(-_._2).take(driftBuckets.size).map(_._1).toSet
    assert(top == driftBuckets,
      s"top PSI buckets $top != planted drift buckets $driftBuckets")
  }
}
