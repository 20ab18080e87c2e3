package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the plans that make these operators viable
  * at 100 TB, guarded against regression. (SURVEY.md §4: pushdown and
  * broadcast were implicit/manual in the reference; here they must be
  * provably present.)
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  // Memoized: plan construction is not free — Subplan.once queries run
  // their eager localCheckpoint jobs at build time, and the engine-wide
  // no-BNLJ loop and the plan-shape ledger visit every query the
  // per-query tests also visit.
  private val planCache =
    scala.collection.mutable.Map.empty[String, org.apache.spark.sql.execution.SparkPlan]
  private def physical(name: String) = planCache.getOrElseUpdate(name,
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
  private def plan(name: String): String = physical(name).toString

  test("Subplan.once of a checkpoint is that checkpoint: once(once(df)) " +
      "runs one job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = spark.range(1000).selectExpr("id", "id * id AS sq")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val twice = try {
      val t = ops.Subplan.once(ops.Subplan.once(df))
      org.apache.spark.ListenerDrain(spark.sparkContext)
      t
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(jobs.get == 1, s"once(once(df)) ran ${jobs.get} jobs")
    assert(twice.collect().toSet == df.collect().toSet)
  }

  test("q02: predicates push down to the parquet scan") {
    val p = plan("q02_filter_predicates")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("In(o_orderstatus") || p.contains("IsNotNull(o_orderstatus)"), p)
  }

  test("q01: scan prunes to the referenced columns only") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"),
      s"projection pruning failed, scan reads unrelated columns: $readSchema")
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q03: dimension joins broadcast, no shuffle of the fact side for join") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dims should broadcast, not sort-merge:\n$p")
  }

  test("q06: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q06_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation is partial (map-side combine before shuffle)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_"), s"expected partial aggregate:\n$p")
  }

  test("s03: top-1 neighbor is a partial aggregate, not a window sort") {
    val p = plan("s03_embedding_nn1")
    assert(p.contains("partial_max") || p.contains("partial_"), p)
    assert(!p.contains("Window"), s"window would shuffle+sort all N^2 rows:\n$p")
  }

  test("s03: exact NN-1 is a block-grid hash join, never a corpus broadcast") {
    val p = plan("s03_embedding_nn1")
    assert(p.contains("ShuffledHashJoin"),
      s"pairs must come from B co-partitioned block cells (per-task memory " +
        s"= one block), not a broadcast or nested loop:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the all-pairs nested loop is the round-3..6 scale-killer this " +
        s"block-grid formulation removes:\n$p")
    assert(!p.contains("IdentityBroadcastMode") && !p.contains("BroadcastHashJoin"),
      s"no side of the exact NN-1 may broadcast the corpus:\n$p")
  }

  test("e10: per-window top-3 is the bounded heap, not a window sort") {
    val p = plan("e10_trending")
    assert(!p.contains("Window"),
      s"rank-over-sort would shuffle+sort every (window, type) row:\n$p")
    assert(p.contains("partial_"), s"expected partial aggregates:\n$p")
  }

  test("engine-wide: no registered query broadcasts an unkeyed build " +
      "(zero BroadcastNestedLoopJoin / IdentityBroadcastMode)") {
    // The grading rule this pins: a plan with a full-relation
    // IdentityBroadcastMode broadcast is a scale-killer even when it
    // runs in 0.2 s at test SF. Every single-row count now rides a
    // constant-key BroadcastHashJoin (t12) and the exact NN-1 is a
    // block-grid ShuffledHashJoin (s03), so the whole surface planners
    // clean.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(name)
      if (p.contains("BroadcastNestedLoopJoin") || p.contains("IdentityBroadcastMode") ||
          p.contains("CartesianProduct"))
        Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"queries with nested-loop/identity/cartesian builds: $offenders")
  }

  test("d03: verify path joins gathered sets (array_intersect), no shingle re-join") {
    val p = plan("d03_minhash_lsh")
    assert(p.contains("sortedintersectcount"),
      s"candidate verification should merge-scan the gathered sorted sets:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("d02: candidate join input is the prefix-filtered set, not the full shingles") {
    val p = plan("d02_ngram_jaccard")
    assert(p.contains("slice("),
      s"candidate generation must explode only the per-doc prefix slice:\n$p")
    assert(p.contains("sortedintersectcount"),
      s"verification must merge-scan gathered sets, not re-join shingles:\n$p")
    // Behavioral half of the pin: the join's blocking input must be a
    // strict subset of the shingle rows (≈ half at t=0.5), so the
    // blowup shape — joining two full shingle explodes — is gone.
    val sh = ext.Dedup.shingles(spark, sf)
    val full = sh.count()
    val blocks = ext.Dedup.prefixBlocks(ext.Dedup.orderedShingleSets(sh), 0.5).count()
    assert(blocks < full,
      s"prefix blocks ($blocks) must be fewer than shingle rows ($full)")
    assert(blocks <= (full * 0.6).toLong + sh.select("doc_id").distinct().count(),
      s"prefix should be ~half the shingles at t=0.5, got $blocks of $full")
  }

  test("d02/d03/d05: shared subplans materialize once — no parquet re-scans") {
    // Round 3's regression: the shingle pipeline re-evaluated per plan
    // reference (16 `documents` scans inside one d02 plan). After the
    // Subplan.once cut, every leaf of the final plan is the checkpointed
    // RDD — zero parquet scans — and the one-time gather subplan reads
    // `documents` exactly once.
    for (q <- Seq("d02_ngram_jaccard", "d03_minhash_lsh", "d05_embedding_neardup",
        "d13_embedding_clusters")) {
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).isEmpty,
        s"$q must read the materialized sets, not re-scan parquet:\n$p")
      assert(p.contains("ExistingRDD"), s"$q should scan the checkpointed RDD:\n$p")
    }
    val g = ext.Dedup.gatherShingleSets(ext.Dedup.shingles(spark, sf))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(g).size == 1,
      s"the gather stage is the single corpus evaluation — exactly one scan:\n$g")
  }

  test("s05: blocked NN-1 bands, never broadcasts or nested-loops the corpus") {
    val p = plan("s05_blocked_nn1")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidates must come from (band, sig) equi-joins, never all pairs:\n$p")
    assert(!p.contains("IdentityBroadcastMode"),
      s"s03's full-corpus broadcast is exactly what s05 exists to avoid:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"all sides must read the one materialized corpus:\n$p")
    assert(p.contains("partial_max"),
      s"top-1 must partial-aggregate max(struct) map-side — a window/rank " +
        s"rewrite would shuffle every scored candidate row:\n$p")
  }

  test("d06: hamming pairs are a banded equi-join over materialized signatures") {
    val p = plan("d06_simhash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"signature pairing must band-bucket, never compare all pairs:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"both join sides must read the one materialized signature set:\n$p")
  }

  test("d12: containment candidates come from the one-sided prefix join") {
    val p = plan("d12_containment")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidates must come from the prefix-shingle equi-join, never all pairs:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"prefix, full, and verify sides must share the materialized ordered sets:\n$p")
    assert(p.contains("sortedintersectcount"),
      s"verification should merge-scan the gathered sorted sets:\n$p")
  }

  test("m06: ahash pairing is d06's banded topology over the kernel output") {
    val p = plan("m06_ahash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"perceptual-hash pairing must band-bucket, never compare all pairs:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"both join sides must read the one materialized signature set:\n$p")
    assert(p.contains("bit_count"),
      s"the exact hamming check runs on band collisions only:\n$p")
  }

  test("q27: lag and lead share one window spec — a single exchange + sort") {
    val p = plan("q27_lag_lead")
    assert("Window \\[".r.findAllIn(p).size == 1 &&
      "windowspecdefinition".r.findAllIn(p).size == 2,
      s"both offsets must ride ONE Window operator over one spec:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"one hash exchange on customer feeds both offset functions:\n$p")
    assert(!p.contains("rangepartitioning"), s"no global sort:\n$p")
  }

  test("t20: the corpus pipeline is one plan over materialized frontiers") {
    val p = plan("t20_corpus_pipeline")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"all six stages must share the staged frontier — a re-scan re-runs " +
        s"the tokenize/fingerprint/gram work:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"shard offsets broadcast back onto the survivor sums:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("rangepartitioning"),
      s"packing must stay within hash partitions, no global sort:\n$p")
  }

  test("t19: index build is two content-keyed shuffles, both partial-agg") {
    val p = plan("t19_inverted_index")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"(term, doc) tf counts then (term, block) gathers — two shuffles:\n$p")
    assert(p.contains("partial_count"),
      s"tf counts must combine map-side:\n$p")
    assert(!p.contains("rangepartitioning") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s08: grid IVF probes are a cell-key equi-join + bounded-heap top-k") {
    val p = plan("s08_ivf_grid")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidates must come from the (c1, c2) cell equi-join:\n$p")
    assert(p.contains("partial_top_k"),
      s"ranking must bounded-heap partial-aggregate, not window-sort:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("t21: the existing index never shuffles — batch side broadcasts everywhere") {
    val p = plan("t21_index_delta")
    assert(p.contains("BroadcastHashJoin"),
      s"touched-key pruning and the merge must broadcast the batch side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge would shuffle the existing postings — the regression " +
        s"the broadcast exists to prevent:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the batch delta is materialized once — the touched-key probe and " +
        s"the merge must read it, not re-tokenize the batch:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // The registered fixture sits under the T21BroadcastMaxKeys gate, so
    // the delta path must be shuffle-FREE end to end: the existing side
    // reads the landed store, both joins broadcast the batch-derived side, the
    // merge is row-local. One hash exchange here means the existing
    // index shuffled — the exact regression the gate's broadcast branch
    // exists to prevent.
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"the under-gate delta plan must contain zero shuffle exchanges:\n$p")
  }

  test("t30: the stored model never shuffles — batch counts broadcast everywhere") {
    val p = plan("t30_nb_delta")
    assert(p.contains("BroadcastHashJoin"),
      s"touched-key pruning and the merge must broadcast the batch side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge would shuffle the stored model — the regression " +
        s"the broadcast exists to prevent:\n$p")
    assert(p.contains("Scan parquet"),
      s"the existing model is the landed store — the delta path must " +
        s"read it, not rebuild it:\n$p")
    // Under the gate the delta path is shuffle-free: the stored model
    // streams map-only through two broadcasts of the checkpointed
    // batch counts. One hash exchange = the stored model shuffled.
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"the under-gate delta plan must contain zero shuffle exchanges:\n$p")
  }

  test("t29/t31/t32: the second-batch plans broadcast their model sides " +
      "and never sort-merge at fixture scale") {
    // t29: the classes cross and the model joins ride ConstKey
    // broadcasts; the only shuffles are the two corpus count
    // aggregations — a sort-merge join would mean a model-sized frame
    // shuffled the corpus.
    val p29 = plan("t29_nb_langid")
    assert(p29.contains("BroadcastHashJoin"),
      s"the class model must broadcast onto the eval side:\n$p29")
    assert(!p29.contains("SortMergeJoin"),
      s"no t29 join may sort-merge at fixture scale:\n$p29")
    // t31: the (part, bucket) offsets side is a broadcast back onto
    // the frontier; exactly the local-rank and offsets windows exist.
    val p31 = plan("t31_quota_sample")
    assert(p31.contains("BroadcastHashJoin"),
      s"the bucket offsets must broadcast onto the frontier:\n$p31")
    assert(!p31.contains("SortMergeJoin"), p31)
    assert("\\bWindow\\b".r.findAllIn(p31).size == 2,
      s"expected exactly the offsets + local-rank windows:\n$p31")
    // t32: the 64-row sketch broadcasts into the estimate join; the
    // sketch build is aggregation-only (no Window, no sort-merge).
    val p32 = plan("t32_cms_counts")
    assert(p32.contains("BroadcastHashJoin"),
      s"the d*w-row sketch must broadcast into the estimate join:\n$p32")
    assert(!p32.contains("SortMergeJoin") && !p32.contains("Window"), p32)
  }

  test("d14: the merged delta reads materialized frontiers only") {
    // The registered plan is the label pass over the contracted edge
    // checkpoint; every upstream stage (assignment build, batch-side
    // probes, re-contraction) materialized via Subplan.once — so the
    // final plan must scan checkpoints, never parquet, and the
    // engine-wide loop above already forbids nested-loop shapes in it.
    // The probe-side broadcast discipline is semantic here (the
    // contraction executes at build time): DedupSpec/ExtSpec pin the
    // merged labels against the full rebuild instead.
    val p = plan("d14_incremental_clusters")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"the delta must read the materialized contraction, not re-scan parquet:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("d15: the embedding delta reads materialized frontiers only") {
    // Same discipline as the d14 pin: the registered plan is the label
    // pass over the contracted edge checkpoint — parquet never
    // re-scans, and the engine-wide loop forbids nested-loop shapes.
    val p = plan("d15_incremental_embedding_clusters")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"the delta must read the materialized contraction, not re-scan parquet:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("m09: the media delta reads materialized frontiers only") {
    val p = plan("m09_incremental_media_clusters")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"the delta must read the materialized contraction, not re-scan parquet:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("stored-assignment delta: the read-back table streams through " +
      "broadcast probes and never shuffles") {
    // d14/d15/m09 now read their stored assignment back from parquet
    // (SessionStore — the deployment shape). The touched-star probe is
    // where the stored table meets the delta: under the gate BOTH
    // probe joins must broadcast the bounded batch-derived side, so
    // the assignment is scanned and STREAMED — a sort-merge or
    // shuffled-hash join here means the whole stored table shuffled
    // per batch, the exact cost the incremental path exists to avoid.
    // (The one expected exchange is the post-join cluster-id distinct
    // — a projected column of the touched rows only, batch-bounded.)
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_store").toString
    spark.range(0, 1000)
      .select(col("id").as("doc_id"), (col("id") % 50).as("cluster_id"))
      .write.mode("overwrite").parquet(dir)
    val assign = spark.read.parquet(dir)
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val p = ext.Dedup.touchedStar(assign, edges, df => broadcast(df))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"the stored assignment feeds both probes from its parquet scan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2,
      s"both probes must broadcast the batch-derived side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the stored assignment must never shuffle in the delta probe:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("s12: the landed IVF probe dynamic-partition-prunes the postings scan") {
    // s12's postings are a cell-partitioned stored table; the probe
    // broadcasts 9 query cells. The point of landing the index is that
    // Spark reuses that broadcast as an IN-subquery PARTITION filter on
    // the read-back scan (dynamic partition pruning) — the probe reads
    // only the probed cells' files, which is what makes a disk-resident
    // IVF an index. A plan without the dynamicpruning expression reads
    // all ~81 cells and has silently regressed to a full-index scan.
    val p = plan("s12_ivf_grid_stored")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the postings scan must carry a dynamic partition-pruning filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 9-cell probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the stored postings must stream through the probe join, not shuffle:\n$p")
  }

  test("s13/s14/s16: the trained-quantizer family joins only by broadcast, " +
      "and the native argmin stays inside whole-stage codegen") {
    // The family's scale contract: the corpus NEVER shuffles for a
    // join — centroids/codebooks/probe-tables are all broadcast-sized
    // state, so the only exchanges are tiny partial-agg collections
    // (Lloyd updates, seed top-K, the final top-5). A SortMergeJoin or
    // ShuffledHashJoin anywhere means corpus rows started moving for a
    // join — the shape regression that must not happen at 100 TB.
    Seq("s13_ivf_kmeans", "s14_pq_adc", "s16_ivfadc").foreach { name =>
      val p = plan(name)
      assert(!p.contains("SortMergeJoin"),
        s"$name: corpus rows must not shuffle for a join:\n$p")
      assert(!p.contains("ShuffledHashJoin"),
        s"$name: corpus rows must not shuffle for a join:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name:\n$p")
    }
    // s13's assignment is a plain projection, so the native nearest_id
    // must sit inside a WholeStageCodegen stage (`*(n)` prefix) — the
    // interpreted fold it replaced was a measured 5x sf1 regression.
    // Codegen stages only appear in the FINAL adaptive plan, so
    // execute first (the unexecuted AdaptiveSparkPlan shows none).
    val df = SparkEntry.queries("s13_ivf_kmeans")(spark, sf)
    df.collect() // count() would drive a DIFFERENT QueryExecution
    val p13 = df.queryExecution.executedPlan.toString
    assert(p13.linesIterator.exists(l =>
      l.toLowerCase.contains("nearestid") && l.trim.contains("*(")),
      s"nearest_id must be codegen'd in the assignment projection:\n$p13")
  }

  test("s15: the landed TRAINED index probe dynamic-partition-prunes " +
      "the postings scan") {
    // s12's pin applied to the learned quantizer: the stored form of
    // s13 must read only the 2 probed cells' partitions — without the
    // dynamicpruning filter the landed index silently regresses to a
    // full scan and storing it bought nothing.
    val p = plan("s15_ivf_kmeans_stored")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the postings scan must carry a dynamic partition-pruning filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 2-cell probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the stored postings must stream through the probe join, not shuffle:\n$p")
  }

  test("s39: the range probe dynamic-partition-prunes the postings scan " +
      "and broadcasts every model-sized side") {
    // s15's pin applied to the RANGE read path: the admitted-cell
    // probe frame (queries × surviving cells) must reach the
    // cid-partitioned postings scan as a dynamic partition-pruning
    // filter — on clusterable geometry the triangle bound admits few
    // cells, and without the filter the landed index regresses to a
    // full scan regardless of how tight the bound is. The centroid
    // and cell-stat sides are K-row stores: broadcast only.
    val p = plan("s39_range_search")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the postings scan must carry a dynamic partition-pruning filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the admitted-cell probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the stored postings must stream through the probe join, not shuffle:\n$p")
  }

  test("t37: the DSIR model rides broadcasts; the corpus never " +
      "sort-merge-joins") {
    // The B-row coefficient table and the single-row K/boundary
    // frames must all reach the corpus as broadcast builds — a
    // shuffle join on the bucket id would exchange the (doc, bucket)
    // frame a second time for a 256-row dimension.
    val p = plan("t37_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the model/boundary sides must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-side shuffle join belongs in the scoring plan:\n$p")
  }

  test("s18: the upserted landed index probes under dynamic partition " +
      "pruning; the batch assignment never shuffles the store") {
    // s15's probe pin holds ACROSS the upsert: the probe must read
    // only the 2 probed cells' partitions of the rewritten store, and
    // the whole maintenance plan (batch assign + probe) must never
    // shuffle corpus rows for a join — the batch side is the only
    // moving part.
    val p = plan("s18_ivf_kmeans_upsert")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the upserted postings scan must carry a dynamic partition-pruning " +
        s"filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 2-cell probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored postings must stream through the probe join, not shuffle:\n$p")
  }

  test("s34/s35: the maintenance answer rides the checkpointed fold — " +
      "no store re-read, no shuffle join") {
    // Round 16's store-mechanics contract: the upserted store's
    // touched-owner rows ARE the fold's output by the merge algebra,
    // so the answer comes from the checkpointed delta/heal frame —
    // a returned plan that re-scans parquet would mean the read-back
    // cost crept back in (ExtSpec pins the store ≡ answer identity).
    Seq("s34_knn_graph_insert", "s35_knn_graph_delete").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Scan parquet"),
        s"$name: the answer must ride the checkpointed fold, not " +
          s"re-read the store:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name: the ranked answer must not shuffle-join:\n$p")
    }
  }

  test("t42: the pruned scoring join keys on (term, block) — skipped " +
      "blocks never reach the entries explode") {
    // Block-max WAND's plan contract: the final scoring join's key
    // carries the admitted BLOCK, so a skipped block's postings row
    // drops at the broadcast join, before its entries array explodes
    // — the prune is in the plan, not a post-explode filter.
    val p = plan("t42_bm25_wand")
    assert(p.split('\n').exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("block#")),
      s"t42's scoring join must be a broadcast join keyed on block:\n$p")
  }

  test("knnUpsertContent: the merge scan prunes to the touched " +
      "partitions and joins only by broadcast") {
    // The store-side half of the s34/s35 contract, pinned on THE
    // shared merge definition: the bounded pt collect becomes a
    // STATIC partition filter on the base-store scan (untouched
    // partitions' files never open), and the owner/retired
    // restrictions are broadcast anti-joins of batch-bounded frames.
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("upsert_plan").toString
    Seq((1L, 2L, 10L, 0), (2L, 1L, 10L, 1), (3L, 1L, 20L, 2))
      .toDF("v", "w", "d", "pt")
      .write.partitionBy("pt").mode("overwrite").parquet(tmp)
    val repl = Seq((1L, 3L, 5L)).toDF("v", "w", "d")
    val del = Seq(2L).toDF("vec_id")
    val p = ext.Similarity
      .knnUpsertContent(spark, tmp, Seq(0, 1), repl, Some(del))
      .queryExecution.executedPlan.toString
    assert(p.split('\n').exists(l =>
        l.contains("PartitionFilters:") && l.contains("pt#") &&
          (l.contains(" IN ") || l.contains("INSET") || l.contains("="))),
      s"the merge scan must carry a static pt partition filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the owner restriction must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the stored graph must stream through the merge, not shuffle:\n$p")
  }

  test("s21: the landed IVFADC probe dynamic-partition-prunes the " +
      "stored code scan") {
    // s15's pin applied to the COMPRESSED index: the stored 8×4-bit
    // codes are cell-partitioned, and the ≤ 2·|Q|-cell broadcast of
    // query ADC tables must prune the read-back scan to the probed
    // cells' partitions — without it the landed compressed index
    // reads every code file and storing it bought nothing.
    val p = plan("s21_ivfadc_stored")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the stored code scan must carry a dynamic partition-pruning " +
        s"filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probed-cell ADC-table side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored codes must stream through the probe join, not shuffle:\n$p")
  }

  test("s22: the upserted compressed index probes under dynamic partition " +
      "pruning; the batch never shuffles") {
    // s21's pin survives the upsert: after the batch's ≤ K-cell
    // partition rewrite, the probe must still read only the probed
    // cells' code partitions — and every join in the delta + probe
    // broadcasts its bounded side (centroid map, codebook row, ADC
    // tables), so neither the stored codes nor the batch ever
    // shuffle.
    val p = plan("s22_ivfadc_upsert")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the upserted code scan must carry a dynamic partition-pruning " +
        s"filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probed-cell ADC-table side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored codes must stream through the probe join, not shuffle:\n$p")
  }

  test("s28: the stored-rerank read path prunes the code scan and fetches " +
      "raw vectors by broadcast only") {
    // The deployment composition keeps BOTH pins at once: the landed
    // code scan still dynamic-partition-prunes to the probed cells
    // (s21's pin — the resident index is the only corpus-sized scan
    // in the ADC stage), and the R·|Q| raw-vector fetch is a
    // broadcast-restricted scan of embeddings (s17's keyed-read
    // shape) — no join anywhere shuffles the corpus.
    val p = plan("s28_ivfadc_stored_rerank")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the stored code scan must carry a dynamic partition-pruning " +
        s"filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the ADC-table probe and the R-row fetch must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"neither the stored codes nor the raw-vector fetch may shuffle:\n$p")
  }

  test("d18: the bucketed-corpus dedup reads the bucket layout and never " +
      "shuffles") {
    // The d-family's on-disk prescription: once the fingerprinted
    // corpus lands bucketed by fp, the recurring dedup groupBy is a
    // map-side aggregate over co-located buckets — the scan must
    // report the bucket layout and the plan must contain NO
    // hash-partitioning exchange (at 100 TB this exchange IS the
    // dedup's cost).
    val p = plan("d18_exact_dedup_bucketed")
    assert(p.contains("Bucketed: true"),
      s"the stored corpus scan must use the bucket layout:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"dedup over the bucketed corpus must not shuffle:\n$p")
  }

  test("d19: the bucketed band store self-joins with no band exchange") {
    // d18's prescription for the NEAR-dup ingest: the landed band
    // signatures are bucketed by (band, sig), so the recurring LSH
    // candidate self-join must read the bucket layout and never
    // exchange the banded corpus (at 100 TB that exchange is the
    // recurring near-dup cost; the verify tail moves only
    // collision-sized frames).
    val p = plan("d19_minhash_lsh_bucketed")
    assert(p.contains("Bucketed: true"),
      s"the stored band scan must use the bucket layout:\n$p")
    assert(!p.split('\n').exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("band#")),
      s"the band self-join must not exchange the banded corpus:\n$p")
  }

  test("s32: the rebuilt generation probes under dynamic partition pruning") {
    // The lifecycle's last arc keeps the family's probe pin: the NEW
    // generation's cell-partitioned postings must scan only the
    // probed cells, and nothing shuffles through the probe join.
    val p = plan("s32_index_rebuild")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the rebuilt posting scan must carry a dynamic partition-pruning " +
        s"filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 2-cell probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the rebuilt postings must stream through the probe join:\n$p")
  }

  test("s45: the rebuild-then-retire answer keeps s32's probe pin on the " +
      "NEW generation") {
    // The retire is a driver-side metadata op that happens at query
    // CONSTRUCTION; the answer plan must be exactly the s32 shape —
    // the new generation's cell-partitioned scan pruned to the probed
    // cells, nothing shuffling through the probe join.
    val p = plan("s45_rebuild_retire")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the new generation's posting scan must carry a dynamic " +
        s"partition-pruning filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 2-cell probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the new generation's postings must stream through the probe join:\n$p")
  }

  test("s29: every NN-descent join is keyed — no cartesian shapes, and the " +
      "corpus count rides a ConstKey broadcast") {
    // The graph's whole scale story is that candidates come from
    // id-keyed equi-joins (band/sig collisions, adjacency on the
    // intermediate id, fixed-point fetches on vec_id) — (2k)²·N rows
    // a round, never an all-pairs shape; the single-row natural-count
    // frame must ride the ConstKey broadcast idiom, not a cross join.
    // The registered query's round checkpoints hide these stages
    // behind ExistingRDD scans, so the pin explains the SAME library
    // definitions the query runs (knnInit/knnScore/knnRoundCand),
    // pre-checkpoint. The engine-wide zero-BNLJ loop still covers the
    // registered s29/d17 tails.
    import org.apache.spark.sql.functions.col
    def explainOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val all = ext.Similarity.plantedTwinCorpus(
      Tables(spark, sf, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
    val fx = ext.Similarity.knnFx(all)
    val init = explainOf(
      ext.Similarity.knnScore(ext.Similarity.knnInit(all), fx))
    assert(!init.contains("CartesianProduct") &&
        !init.contains("BroadcastNestedLoopJoin"),
      s"init candidates must come from keyed joins only:\n$init")
    assert(init.contains("BroadcastHashJoin"),
      s"the ConstKey count join must be a keyed broadcast:\n$init")
    // One improvement round over an (unmaterialized) init list frame:
    // the adjacency self-join must key on the intermediate id u.
    val round = explainOf(ext.Similarity.knnScore(
      ext.Similarity.knnRoundCand(
        ext.Similarity.knnScore(ext.Similarity.knnInit(all), fx)
          .limit(1000)), fx))
    assert(!round.contains("CartesianProduct") &&
        !round.contains("BroadcastNestedLoopJoin"),
      s"round candidates must come from keyed joins only:\n$round")
  }

  test("s23: the filtered probe keys the broadcast join on (cid, label) " +
      "and still prunes the stored scan") {
    // The filtered-ANN contract: the label predicate is a JOIN KEY,
    // not a post-rank filter — wrong-label candidates drop at the
    // broadcast hash join before any cosine arithmetic — and the
    // shared s15 store still dynamic-partition-prunes to the probed
    // cells. One index serves s15 (unfiltered) and s23 (filtered).
    val p = plan("s23_filtered_ann")
    assert("BroadcastHashJoin \\[cid#\\d+L?, label#\\d+".r.findFirstIn(p).isDefined
        || "BroadcastHashJoin \\[label#\\d+L?, cid#\\d+".r.findFirstIn(p).isDefined,
      s"the label must be part of the probe join KEY:\n$p")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the stored posting scan must still partition-prune to probed cells:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored postings must stream through the probe join, not shuffle:\n$p")
  }

  test("s24: the post-delete probe prunes partitions; the retirement batch " +
      "broadcasts") {
    // s15's pin survives the delete: the probe still reads only the
    // probed cells' partitions of the rewritten store, and the
    // retired-id frame rides broadcast joins (semi to find touched
    // cells, anti to drop rows) — the stored postings never shuffle.
    val p = plan("s24_ivf_kmeans_delete")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the post-delete scan must carry a dynamic partition-pruning " +
        s"filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored postings must stream through the probe join, not shuffle:\n$p")
  }

  test("s25: the post-delete compressed probe prunes partitions; nothing " +
      "shuffles") {
    // s21's pin survives the delete on the code store, exactly as
    // s24's does on the posting store.
    val p = plan("s25_ivfadc_delete")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the post-delete code scan must carry a dynamic partition-pruning " +
        s"filter:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probed-cell ADC-table side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored codes must stream through the probe join, not shuffle:\n$p")
  }

  test("s26: the filtered compressed probe keys the broadcast join on " +
      "(cid, label) and still prunes the stored scan") {
    // s23's filter pin on the compressed index: the label is part of
    // the ADC-probe join KEY, the code scan still dynamic-partition-
    // prunes, and nothing shuffles.
    val p = plan("s26_filtered_ivfadc")
    assert("BroadcastHashJoin \\[cid#\\d+L?, label#\\d+".r.findFirstIn(p).isDefined
        || "BroadcastHashJoin \\[label#\\d+L?, cid#\\d+".r.findFirstIn(p).isDefined,
      s"the label must be part of the probe join KEY:\n$p")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"the stored code scan must still partition-prune to probed cells:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"stored codes must stream through the probe join, not shuffle:\n$p")
  }

  test("s27: maxsim is a broadcast token scan + partial max/sum aggregates, " +
      "no window, no pair shuffle") {
    // The late-interaction contract at scale: the Q·N dot products
    // are a map stage (query tokens broadcast onto the corpus scan),
    // the per-(qtok, group) MAX and per-(query, group) SUM are
    // partial aggregates, and the rank is the bounded heap — the N²
    // pair frame never shuffles and nothing sorts globally.
    val p = plan("s27_maxsim")
    assert(p.contains("BroadcastHashJoin"),
      s"query tokens must broadcast onto the corpus scan:\n$p")
    assert(p.contains("partial_max"), s"expected partial max:\n$p")
    assert(p.contains("partial_sum"), s"expected partial sum:\n$p")
    assert(!p.contains("Window"), s"rank must be the bounded heap:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing may sort-merge in the maxsim plan:\n$p")
  }

  test("s07: quantized top-k is a broadcast scan + bounded-heap partial agg") {
    val p = plan("s07_quantized_topk")
    assert(p.contains("top_k"), s"rank must use the bounded-heap aggregate:\n$p")
    assert(p.contains("partial_top_k"),
      s"heaps must merge map-side — the shuffle carries k rows per task, " +
        s"not every scored pair:\n$p")
    assert(!p.contains("Window"), s"window would shuffle+sort all scores:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"corpus and query sides must share the one quantized-code set:\n$p")
  }

  test("d09: span dedup is partial-agg over the one materialized gram frontier") {
    val p = plan("d09_repeated_spans")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"df aggregate and roll-up must both read the materialized (doc,gram) rows:\n$p")
    assert(p.contains("partial_"), s"gram df must combine map-side:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("t13: eval gram set broadcasts; the train corpus never shuffles wide") {
    val p = plan("t13_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the held-out gram set is the small side of a decontamination — broadcast it:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge would shuffle the full train gram stream:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"eval and train sides must split the one materialized gram frontier:\n$p")
    assert(p.contains("partial_"), s"per-doc roll-up must combine map-side:\n$p")
  }

  test("d11: every join broadcasts the batch side; the corpus never shuffles") {
    val p = plan("d11_incremental_dedup")
    assert(p.contains("BroadcastHashJoin"),
      s"the new batch is the small side of an incremental dedup — broadcast it:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge would shuffle the corpus side — the regression the batch " +
        s"broadcast exists to prevent:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidates must come from band/fingerprint equi-joins, never all pairs:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"exact, band, and verify paths must share the one materialized frontier:\n$p")
  }

  test("t14: packing is a two-level shard prefix sum, never a global sort") {
    val p = plan("t14_sequence_pack")
    assert(!p.contains("rangepartitioning"),
      s"a global (range-partitioned) sort would serialize packing across " +
        s"sources — windows must sort within their hash partitions only:\n$p")
    assert("windowspecdefinition".r.findAllIn(p).size == 2,
      s"two prefix sums: per-(source, shard) local + per-source shard " +
        s"offsets:\n$p")
    assert("""\], \[source#\d+, shard#\d+L\], \[doc_id#\d+L ASC""".r
      .findAllIn(p).nonEmpty,
      s"the big window must partition by (source, shard) — partitioning by " +
        s"source alone serializes a giant source into one task:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"shard offsets are rows/shardWidth — they broadcast back onto the " +
        s"local sums:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3,
      s"one big exchange on (source, shard) + two shard-count-sized ones " +
        s"on the offsets branch; anything more is a regression:\n$p")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"both levels must read the one tokenized frontier:\n$p")
    assert(p.contains("partial_sum"),
      s"shard totals must combine map-side:\n$p")
  }

  test("t16: vocab broadcasts back over the one materialized count frontier") {
    val p = plan("t16_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k vocab cut must keep k rows per task, not sort globally:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"k vocab rows are tiny — they broadcast onto the counts:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"vocab top-k and coverage roll-up must share the one (source, token, " +
        s"count) frontier:\n$p")
    assert(p.contains("partial_"), s"coverage sums must combine map-side:\n$p")
  }

  test("t17: per-source totals broadcast; the corpus streams map-only") {
    val p = plan("t17_budget_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"one row per source — the totals side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"totals and verdicts must share the one tokenized frontier:\n$p")
    assert(p.contains("partial_"), s"mix roll-up must combine map-side:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e09: retention matrix reads the one materialized (user, day) frontier") {
    val p = plan("e09_cohort_retention")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"cohort assignment and offset join must share the distinct frontier:\n$p")
    assert(p.contains("partial_"), s"retention counts must combine map-side:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("d10: clean-corpus pipeline is one materialized scan, equi-joined verdicts") {
    val p = plan("d10_clean_corpus")
    assert("Scan parquet".r.findAllIn(p).isEmpty && p.contains("ExistingRDD"),
      s"quality gate and dedup keep-set must share the one scored scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_min"), s"keep-id per fp must combine map-side:\n$p")
  }

  test("e05: the nondeterministic barrier keeps one from_json per row") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    val opt = SparkEntry.queries("e05_props_struct")(spark, sf)
      .queryExecution.optimizedPlan
    val parses = opt.collect { case node =>
      node.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
    }.sum
    assert(parses == 1, "a null-k filter pushed below the parsing projection " +
      s"parses each row twice (Filter + Project):\n$opt")
  }

  test("e06: as-of join is a single-shuffle window plan, not a range join") {
    val p = plan("e06_asof_join")
    assert(!p.contains("Join"), // no BroadcastNestedLoop/SortMerge range join
      s"as-of must be the union+last-over-window plan, never a range join:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
    assert("Exchange".r.findAllIn(p).size == 1,
      s"exactly one shuffle (hashpartitioning on user_id), no pre-dedup exchange:\n$p")
  }

  test("e07: funnel is join-free; per-user agg reuses the window's partitioning") {
    val p = plan("e07_funnel")
    assert(!p.contains("Join"), s"funnel must not self-join the event log:\n$p")
    // one user_id shuffle shared by windows+groupBy, one single-row gather
    assert("Exchange".r.findAllIn(p).size == 2,
      s"expected exactly [hashpartitioning(user_id), SinglePartition]:\n$p")
  }

  test("e08: band join is a bucketed equi-join, never a nested loop") {
    val p = plan("e08_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the raw theta predicate must be rewritten as a bucket equi-join:\n$p")
    assert(p.contains("Join"), p)
  }

  test("t09: KMV sketch is a partial top_k aggregate, not a per-group sort") {
    val p = plan("t09_kmv_distinct")
    assert(p.contains("partial_top_k") || p.contains("partial_"),
      s"the k-minimum heap must partial-merge map-side:\n$p")
    assert(!p.contains("Window"),
      s"a window row_number would sort every hashed token:\n$p")
  }

  test("q23: cube is one Expand pass, not one scan per grouping set") {
    val p = plan("q23_cube")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the grouping-set lattice must not rescan the fact table:\n$p")
  }

  test("t08: rates dim broadcasts; the corpus scan is never shuffled") {
    val p = plan("t08_det_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the tiny rates dim must broadcast, not shuffle the corpus:\n$p")
  }

  test("t12: corpus count broadcasts; tf/df are partial aggregates") {
    val p = plan("t12_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"the single-row N must broadcast on the constant key, never " +
        s"nested-loop or shuffle the tf side:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a crossJoin build is an IdentityBroadcastMode broadcast — the " +
        s"engine-wide pin forbids it:\n$p")
    assert(p.contains("partial_count"),
      s"tf/df must partial-aggregate map-side:\n$p")
  }

  test("s06: quantization is map-only — no shuffle, no join") {
    val p = plan("s06_quantize")
    assert(!p.contains("Exchange"), s"the 4x shrink must cost zero shuffles:\n$p")
    assert(!p.contains("Join"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("q24: pivot is one pass of conditional partial aggregates, not per-value scans") {
    val p = plan("q24_pivot")
    assert(p.contains("partial_"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      s"pivot must not rescan the fact table per pivot value:\n$p")
  }

  test("q18: both dims broadcast, all scans filtered+pruned, topk no global sort") {
    // (AQE leaves isFinalPlan=false before execution, so codegen `*(n)`
    // markers aren't visible here — assert the structural properties.)
    val p = plan("q18_shipping_priority")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert("PushedFilters: \\[Is".r.findAllIn(p).size == 3,
      s"every scan should push its filters:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("plan-shape ledger: every registered query and loop-round frame " +
      "matches plan_ledger.tsv") {
    // A registered loop's final plan shows only checkpointed leaves, so
    // each loop family also gets ONE round frame, built from the same
    // private[graft] pieces the loop body calls.
    val rows = SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> PlanShape.counts(physical(n))) ++
      roundFrames.map { case (n, df) =>
        n -> PlanShape.counts(df.queryExecution.executedPlan) }
    val out = java.nio.file.Paths.get("target", "plan_ledger.tsv")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, PlanShape.render(rows))
    val src = scala.io.Source.fromResource("plan_ledger.tsv")
    val ledger = try PlanShape.parse(src.mkString) finally src.close()
    val live = rows.toMap
    val diffs = (ledger.keySet ++ live.keySet).toSeq.sorted.flatMap { n =>
      (ledger.get(n), live.get(n)) match {
        case (Some(l), Some(v)) => PlanShape.Columns.indices
          .filter(i => l(i) != v(i))
          .map(i => s"$n ${PlanShape.Columns(i)}: ledger ${l(i)}, live ${v(i)}")
        case (None, _) => Seq(s"$n: not in the ledger")
        case (_, None) => Seq(s"$n: in the ledger, no longer live")
      }
    }
    if (diffs.nonEmpty) fail(s"plan shapes changed; the live ledger is at " +
      s"$out — commit it as src/test/resources/plan_ledger.tsv with the " +
      s"change that moved them:\n  " + diffs.mkString("\n  "))
  }

  test("checkpoint census: every checkpoint a registered query makes is " +
      "read at least twice") {
    // Runs last: it evaluates every query twice, which warms the
    // session stores the per-query plans above are built against.
    val bad = CheckpointCensus.unreused(CheckpointCensus.run(spark, sf)._1)
    assert(bad.isEmpty, "a checkpoint read fewer than twice is " +
      "an eager job and a block-manager copy the one reader could have " +
      "computed itself — drop it, or move it to the caller that reuses " +
      "the frame:\n  " + bad.mkString("\n  "))
  }

  /** One unexecuted round frame per loop family, each over the loop's
    * state checkpointed exactly as the loop holds it between rounds. */
  private lazy val roundFrames: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions.col
    import ext.{Dedup, Similarity => S, Text}
    val once = ops.Subplan.once _
    // k-NN descent (s29/s34/s37) and the walk hop (s31/s33/s36/s40/s43):
    // the walk reads the checkpointed lists as its graph frame.
    val all = once(S.emb(spark, sf).select(col("vec_id"), col("v")))
    val fx = once(S.knnFx(all))
    val nbr = once(S.knnTopK(S.knnScore(S.knnInit(all), fx), S.KnnK))
    val q0 = once(S.knnQ0(fx, col("vec_id") < 10))
    // Lloyd rounds of kmeansCentroids and pqCodebooks: each round
    // re-assigns the corpus against the checkpointed model.
    val kx = once(all.select(col("vec_id"), col("v"), S.fixedPoint(col("v")).as("x")))
    val cents = once(S.kmeansCentroids(kx))
    val subs = once(S.residFrame(kx, cents).select(col("vec_id"), col("subs")))
    val pqc = once(S.pqCodebooks(subs))
    // Star contraction (d07/d08).
    val e = once(Dedup.ccCanon(
      Dedup.jaccardPairsPrefix(Dedup.shingles(spark, sf), 0.5)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))))
    // BPE merges (t24/t25/t28): winners are collected, as the loops do.
    val docs = Text.docs(spark, sf)
    val vocab = once(Text.bpeVocab(docs))
    val best = Text.bpeBestPair(vocab).collect().head
    // Unigram EM (t35/t36).
    val wf = once(Text.uniWordFreqs(docs))
    val chars = once(Text.uniChars(wf))
    val segCounts = once(Text.uniSegCounts(wf, chars))
    Seq(
      "knn_round" -> S.knnRound(nbr, fx, S.KnnK),
      "walk_hop" -> S.knnHopFrontier(S.knnHopScored(q0, fx, nbr), S.KnnBeamWidth),
      "cc_round" -> Dedup.ccRound(e),
      "bpe_best_pair" -> Text.bpeBestPair(vocab),
      "bpe_apply_winner" -> Text.bpeApplyWinner(vocab, best.getString(0),
        best.getString(1)),
      "uni_seg_counts" -> Text.uniSegCounts(wf, chars),
      "uni_vocab_update" -> Text.uniVocabUpdate(chars, segCounts),
      "km_lloyd_round" -> S.kmUpdate(S.kmAssign(kx, cents), cents),
      "pq_lloyd_round" -> S.pqUpdate(S.pqEncode(subs, pqc), pqc),
      "bpe_batch_apply" -> Text.bpeApplyBatch(vocab,
        Seq(best.getString(0) -> best.getString(1))))
  }
}

/** Physical-operator counts of one plan: the columns of
  * `plan_ledger.tsv`. The walk covers the whole physical tree — AQE's
  * initial plan (exchanges included, as planned before any stage runs)
  * and every subquery's plan — and matches operator classes, never
  * substrings of the plan text. */
object PlanShape {
  import org.apache.spark.sql.catalyst.expressions.JsonToStructs
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
  import org.apache.spark.sql.execution.joins._

  val Columns: Seq[String] = Seq("exchange", "broadcast_exchange",
    "sort_merge_join", "broadcast_hash_join", "shuffled_hash_join",
    "nested_loop_or_cartesian", "parquet_scan", "rdd_scan", "from_json")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case _ => Nil
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(nodes)
  }

  def counts(p: SparkPlan): Seq[Int] = {
    val ns = nodes(p)
    def n(f: PartialFunction[SparkPlan, Unit]): Int = ns.count(f.isDefinedAt)
    Seq(
      n { case _: ShuffleExchangeExec => },
      n { case _: BroadcastExchangeExec => },
      n { case _: SortMergeJoinExec => },
      n { case _: BroadcastHashJoinExec => },
      n { case _: ShuffledHashJoinExec => },
      n { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => },
      n { case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] => },
      n { case _: RDDScanExec => },
      ns.map(_.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum).sum)
  }

  def render(rows: Seq[(String, Seq[Int])]): String =
    (("plan" +: Columns) +: rows.map { case (n, c) => n +: c.map(_.toString) })
      .map(_.mkString("\t")).mkString("", "\n", "\n")

  def parse(tsv: String): Map[String, Seq[Int]] =
    tsv.linesIterator.drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      f.head -> f.tail.toSeq.map(_.toInt)
    }.toMap
}

/** Which checkpoints the registered queries make, and how often executed
  * plans read each. Every query runs in two passes over the whole
  * registry, so each one is evaluated warm at least once whatever ran
  * before it. A checkpoint is a `Subplan.once` job: its call site is the
  * frame after `Subplan$.once` in the job's long-form call site, and its
  * reads are the `LogicalRDD` references to its RDD, subqueries
  * included, in the optimized plan of every executed action
  * (`localCheckpoint` itself is one). A frame that one plan references
  * twice is reused: without the checkpoint that plan derives it twice.
  * Run on another scale factor with `sbt "Test/runMain graft.CheckpointCensus <sf dir>"`. */
object CheckpointCensus {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
    SparkListenerStageCompleted}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
  import org.apache.spark.sql.util.QueryExecutionListener

  final case class Checkpoint(query: String, pass: Int, site: String, reads: Int)
  /** The Spark jobs and shuffle-map stages one evaluation ran. */
  final case class Eval(query: String, pass: Int, jobs: Int, shuffleStages: Int)

  /** `Sink.write`'s read-before-overwrite guard is read once by design:
    * it exists so the write never reads the files it replaces. */
  val Exempt: Set[String] = Set("graft.sources.Sink.write")

  private val OnceFrame = "graft.ops.Subplan$.once("

  def run(spark: SparkSession, sf: String): (Seq[Checkpoint], Seq[Eval]) = {
    val made = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val reads = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    var (jobs, shuffleStages) = (0, 0)
    val jobListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        made.synchronized {
          if (org.apache.spark.ShuffleMapStage(e.stageInfo)) shuffleStages += 1
        }
      override def onJobStart(e: SparkListenerJobStart): Unit = made.synchronized {
        jobs += 1
        val result = e.stageInfos.maxBy(_.stageId)
        val frames = result.details.split("\n").map(_.trim)
        val i = frames.indexWhere(_.startsWith(OnceFrame))
        if (i >= 0 && i + 1 < frames.length && result.rddInfos.nonEmpty)
          made += result.rddInfos.head.id -> siteOf(frames(i + 1))
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        made.synchronized {
          qe.optimizedPlan.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }
            .foreach(id => reads(id) += 1)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val drain = () => org.apache.spark.ListenerDrain(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val owned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Int, String)]
    val names = SparkEntry.queries.keys.toSeq.sorted
    val evals = try for (pass <- 1 to 2; n <- names) yield {
      val (j0, s0) = made.synchronized((jobs, shuffleStages))
      SparkEntry.queries(n)(spark, sf).collect()
      drain()
      made.synchronized {
        made.foreach { case (id, site) => owned += ((id, n, pass, site)) }
        made.clear()
        Eval(n, pass, jobs - j0, shuffleStages - s0)
      }
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    (owned.toSeq.map { case (id, n, pass, site) =>
      Checkpoint(n, pass, site, reads(id)) }, evals)
  }

  /** `graft.ext.Hybrid$.t39(Hybrid.scala:95)` → `graft.ext.Hybrid.t39 (Hybrid.scala:95)`. */
  private def siteOf(frame: String): String = {
    val qualified = frame.takeWhile(_ != '(')
    val dot = qualified.lastIndexOf('.')
    val method = qualified.drop(dot + 1).split('$').filter(m =>
      m.nonEmpty && m != "anonfun" && !m.forall(_.isDigit)).headOption
      .getOrElse("apply")
    s"${qualified.take(dot).split('$').head}.$method " + frame.dropWhile(_ != '(')
  }

  /** The checkpoints read fewer than twice, one line per
    * (query, call site), exemptions left out. */
  def unreused(cs: Seq[Checkpoint]): Seq[String] =
    cs.filter(c => c.reads < 2 && !Exempt(c.site.takeWhile(_ != ' ')))
      .groupBy(c => (c.query, c.site)).toSeq.sortBy(_._1).map { case ((q, s), g) =>
        s"$q at $s: ${g.size} checkpoint(s) read ${g.map(_.reads).distinct.sorted.mkString("/")} time(s)"
      }

  def main(args: Array[String]): Unit = {
    val spark = Session()
    val (cs, evals) = run(spark, args(0))
    evals.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (pass, es) =>
      val p = cs.filter(_.pass == pass)
      println(s"[census] pass $pass: ${p.size} checkpoints, " +
        s"${p.count(_.reads == 1)} read once, ${p.count(_.reads == 0)} " +
        s"read by none, ${es.map(_.jobs).sum} jobs")
    }
    evals.foreach(e => println(
      s"[census] eval\t${e.query}\t${e.pass}\t${e.jobs}\t${e.shuffleStages}"))
    unreused(cs).foreach(l => println(s"[census] $l"))
    val sites = cs.filter(c => c.reads < 2).map(_.site).distinct.sorted
    println(s"[census] ${sites.size} sites with a checkpoint read at most once:")
    sites.foreach(s => println(s"[census]   $s"))
    spark.stop()
  }
}
