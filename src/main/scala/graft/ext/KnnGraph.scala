package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity._
import EmbeddingDedup.embClusterDecision

/** The k-NN graph (s29, s31, s33–s38, s40, d17): NN-descent
  * construction, the landed graph's greedy, beam, ef and filtered
  * walks, batch insert and delete-heal, warm-start refine, graph drift,
  * and the graph as a dedup edge source.
  */
object KnnGraph {

  // ---------------------------------------------------------------
  // s29/d17 — k-NN GRAPH construction by NN-descent (Dong, Moses &
  // Li, "Efficient k-nearest neighbor graph construction for generic
  // similarity measures", WWW 2011): every vector keeps its k best
  // neighbors so far; each round, neighbors-of-neighbors (through
  // the SYMMETRIZED lists — forward plus capped reverse) become
  // candidates, are scored exactly, and the lists improve
  // monotonically under the (d, id) order. The operator SemDeDup-
  // class pipelines run before clustering — a full neighbor graph,
  // not the NN-1/top-5 probes of the s-family. Everything is
  // deterministic (exact int64 distances on the 2²⁰ fixed-point
  // lattice, (d, id) tie-breaks, md5 init draws), so the DuckDB
  // oracle unrolls the rounds exactly (the s13 Lloyd discipline).
  // ---------------------------------------------------------------

  /** k-NN graph knobs: list width k, md5 exploration draws per
    * vector, fixed descent rounds. Rounds are fixed so the oracle can
    * unroll them, and 8 is the measured FIXPOINT on the spec fixture
    * (sf0.001 planted corpus: per-round changed-edge counts 2685,
    * 1729, 641, 113, 33, 7, 2, 0 — ExtSpec "s29 NN-descent has
    * converged at the registered round count …" fails if round 9
    * changes anything). Rounds is the deployment knob: a larger corpus
    * converges in more rounds (log-ish growth), and production
    * NN-descent stops on a small-delta test instead — the fixed count
    * is the oracle-able form. */
  private[graft] val KnnK = 4
  private[graft] val KnnInitDraws = 8
  private[graft] val KnnRounds = 8

  /** Deterministic exploration edges — NN-descent's random init made
    * reproducible: each vector draws [[KnnInitDraws]] partner ROW
    * INDICES from the md5 family (the t08 draw discipline, key
    * ':knn<j>') over the planted corpus's 2·n0 rows, mapped to ids
    * through the planted layout (idx < n0 → idx, else 10⁹ + idx−n0).
    * The natural-count row rides a ConstKey broadcast (the
    * single-row-count rule) — no driver collect, no cross join. Init
    * needs BOTH edge families: band collisions alone seed only
    * near-dup pairs (disconnected 2-cliques whose neighbor-of-
    * neighbor closure is themselves — descent could never explore),
    * and random draws alone know nothing about geometry. */
  private def knnInitDraws(all: DataFrame): DataFrame = {
    val cnt = all.filter(col("vec_id") < 1000000000L)
      .agg(count(lit(1)).as("n0"))
      .withColumn("one", graft.ops.ConstKey.one(col("n0")))
    all.select(col("vec_id"))
      .withColumn("one", graft.ops.ConstKey.one(col("vec_id")))
      .join(broadcast(cnt), "one")
      .select(col("vec_id"), col("n0"),
        explode(array((1 to KnnInitDraws).map(lit): _*)).as("j"))
      .select(col("vec_id").as("v"),
        (conv(substring(md5(concat(col("vec_id").cast("string"),
          lit(":knn"), col("j").cast("string"))), 1, 8), 16, 10)
          .cast("long") % (col("n0") * 2)).as("idx"), col("n0"))
      .select(col("v"),
        when(col("idx") < col("n0"), col("idx"))
          .otherwise(col("idx") - col("n0") + 1000000000L).as("w"))
      .filter(col("v") =!= col("w"))
  }

  /** The long-form sign-band frame of a (vec_id, v) corpus — ONE
    * banding text for the descent init, the insert seeds, and s34's
    * LANDED corpus-band store. */
  private[graft] def knnBands(df: DataFrame): DataFrame =
    df.select(col("vec_id"), explode(signBandStructs(col("v"))).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))

  /** The init candidate set — md5 exploration draws ∪ sign-band
    * collisions, both directions. private[graft] so PlanSpec can pin
    * the pre-checkpoint join shapes the registered query runs (the
    * round checkpoints hide them behind ExistingRDD scans). */
  private[graft] def knnInit(all: DataFrame): DataFrame = {
    val bands = knnBands(all)
    val bandPairs = bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("v"), col("b.vec_id").as("w"))
    knnInitDraws(all).unionAll(bandPairs)
  }

  /** The fixed-point frame the graph scores against. */
  private[graft] def knnFx(all: DataFrame): DataFrame =
    all.select(col("vec_id"), fixedPoint(col("v")).as("x"))

  /** Exact scoring of a directed candidate edge set (v, w): two
    * id-keyed equi-joins onto the fixed-point corpus and the native
    * codegen [[graft.functions.SqDistLong]] — never an all-pairs
    * shape; candidate volume is the caller's bound.
    *
    * Deliberately NO pre-`.distinct()` (round-18 cut): every caller
    * feeds the set-semantics [[knnTopK]] heap, which absorbs a
    * duplicate (v, w) — identical exact struct — map-side, so the
    * dedup exchange (+ its two HashAggregates, once per descent
    * round) bought only fewer scored rows. Measured multiplicity of
    * the round-candidate multiset is 1.38× at sf0.1 (duplicates cost
    * ~38% more 64-dim sqdist flops and join rows, map-side in the
    * restricted folds where fx broadcasts), vs a FULL exchange of
    * the candidate frame — paired A/B: s29 −4..12%, s34 −7..20%,
    * s37 −10%. The multiplicity is bounded by the ≤ 2k adjacency
    * fan-in (knnRoundCand's multiset-union bound). */
  private[graft] def knnScore(cand: DataFrame, fx: DataFrame): DataFrame =
    cand
      .join(fx.select(col("vec_id").as("v"), col("x").as("xv")), "v")
      .join(fx.select(col("vec_id").as("w"), col("x").as("xw")), "w")
      .select(col("v"), col("w"),
        graft.functions.SqDistLong.sqDist(col("xv"), col("xw")).as("d"))

  /** Ascending top-k by (d, w) per source — the bounded-heap partial
    * agg ([[pqAdcTop5]]'s shape), under SET semantics
    * ([[graft.functions.TopKAgg.topKDistinct]]): distances are exact
    * longs, so a pair reaching the aggregate twice (current list ∪
    * rescored candidate, forward ∪ reverse) carries an IDENTICAL
    * (d, w) struct, and the k-row in-heap equality scan collapses it
    * into one slot — callers no longer pre-`.distinct()` their unions
    * (that exchange was one of the stages on the descent round's
    * floor; round-17 cut, FunctionsSpec pins the set≡multiset
    * identity). */
  private[graft] def knnTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("v"))
      .agg(graft.functions.TopKAgg.topKDistinct(
        struct((-col("d")).as("nd"), (-col("w")).as("nw"),
          col("w"), col("d")), k).as("top"))
      .select(col("v"), explode(col("top")).as("t"))
      .select(col("v"), col("t.w").as("w"), col("t.d").as("d"))

  /** The NN-descent driver: init lists from md5 draws ∪ sign-band
    * collisions, then [[KnnRounds]] improvement rounds. Per round:
    * symmetrize (forward lists ∪ reverse lists CAPPED at k by the
    * same (d, id) order — Dong et al.'s ρK reverse sample made
    * deterministic; without the cap a hub vector appearing in many
    * lists would square an unbounded degree), join adjacency with
    * itself on the intermediate id (≤ 2k partners per node ⇒ ≤ (2k)²
    * candidate pairs per node — linear in N per round, never
    * all-pairs), score exactly, keep each node's k best of old ∪ new.
    * Lists improve monotonically under (d, id), the state is finite,
    * so descent converges; rounds are fixed for the oracle and the
    * fixture fixpoint is ExtSpec's pin. Each round is checkpointed
    * ([[graft.ops.Subplan.once]]) so round r+1 reads round r's rows,
    * never an r-deep recomputed plan (the contraction discipline).
    * Emits the directed edge set (v, w, d), ≤ k rows per v. */
  /** One round's candidate pairs off the CURRENT lists: symmetrized
    * adjacency (forward ∪ k-capped reverse), self-joined on the
    * intermediate id — ≤ (2k)² pairs per node. private[graft] for
    * the same PlanSpec reason as [[knnInit]]. */
  private[graft] def knnRoundCand(nbr: DataFrame, k: Int = KnnK,
      restrict: Option[DataFrame] = None): DataFrame = {
    val rev = knnTopK(
      nbr.select(col("w").as("v"), col("v").as("w"), col("d")), k)
    // Deliberately a MULTISET union (no distinct): a (u, p) present
    // both forward and reversed duplicates a pair that the set-semantics
    // [[knnTopK]] heap absorbs downstream (knnScore has no distinct of
    // its own), the per-node bound is ≤ 2k
    // adjacency rows and ≤ (2k)² candidate pairs EITHER way, and the
    // dedup shuffle it saves is one of the five stages on the
    // restricted fold's per-round floor.
    val adj = nbr.select(col("v").as("u"), col("w").as("p"))
      .unionAll(rev.select(col("v").as("u"), col("w").as("p")))
    // The restricted folds (s34 insert / s37 refine) only let TOUCHED
    // owners' lists move: restricting the OWNER side of the pair join
    // before it runs states the same set the oracle's tch-restricted
    // cnd CTE does, and shrinks the join instead of filtering its
    // output.
    val aAdj = restrict
      .map(t => adj.join(t.select(col("v").as("p")), Seq("p"), "left_semi"))
      .getOrElse(adj)
    aAdj.as("a").join(adj.as("b"), Seq("u"))
      .select(col("a.p").as("v"), col("b.p").as("w"))
      .filter(col("v") =!= col("w"))
  }

  /** ONE descent-round statement — the loop body of the full build
    * (s29), the restricted insert fold (s34, via `restrict`), and the
    * warm-start refine (s37), plus the `knn_round` row of PlanSpec's
    * plan-shape ledger: current lists ∪ exactly-scored
    * neighbor-of-neighbor candidates, k-best per owner. */
  private[graft] def knnRound(nbr: DataFrame, fx: DataFrame, k: Int,
      restrict: Option[DataFrame] = None): DataFrame =
    knnTopK(nbr.unionAll(knnScore(knnRoundCand(nbr, k, restrict), fx)), k)

  private[graft] def knnDescentGraph(all: DataFrame, k: Int = KnnK,
      rounds: Int = KnnRounds): DataFrame = {
    val fx = graft.ops.Subplan.once(knnFx(all))
    var nbr = knnTopK(knnScore(knnInit(all), fx), k)
    for (_ <- 1 to rounds)
      nbr = knnRound(graft.ops.Subplan.once(nbr), fx, k)
    nbr
  }

  /** The ranked k-NN graph — (vec_id, nn_id, d, rk) with rk 1..k per
    * vector under the (d, id) order; the s29 output contract. */
  private[graft] def knnRanked(nbr: DataFrame): DataFrame =
    nbr.groupBy(col("v"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("d")).as("nd"), (-col("w")).as("nw"),
          col("w"), col("d")), KnnK).as("top"))
      .select(col("v"), posexplode(col("top")))
      .select(col("v").as("vec_id"), col("col.w").as("nn_id"),
        col("col.d").as("d"), (col("pos") + 1).cast("int").as("rk"))

  /** Greedy-search hop budget: the walk is a monotone descent under
    * (d, id) — each hop strictly improves or stays put — so extra
    * hops past the fixpoint are idempotent and a fixed unroll is the
    * oracle-able form (the KnnRounds discipline). 8 covers the spec
    * fixture's walks with slack. */
  private[graft] val KnnSearchHops = 8

  /** The s31 body — GREEDY GRAPH SEARCH over the s29 k-NN graph, the
    * read-path primitive of every graph-ANN index (HNSW's layer-0
    * descent, Malkov & Yashunin 2018; NSG, DiskANN — all walk a
    * neighbor graph greedily): start each query at a fixed entry
    * vertex, and per hop move to the best of {current} ∪ N(current)
    * by exact distance to the query — (d, id) tie-break — stopping
    * at the first vertex no neighbor beats. Where s13/s16 probe a
    * PARTITION of the corpus, the graph walk touches ≤ (k+1)·hops
    * candidates per query TOTAL — the per-query work is
    * corpus-independent once the graph exists, which is why
    * billion-scale stores pay for graph construction. The graph is
    * the ONE [[knnDescentGraph]] definition (s29's edges verbatim);
    * every hop is a candidates-sized equi-join + a partial-agg argmin
    * — never a corpus scan. Deterministic entry (vertex 0; query 0
    * enters at 1), deterministic hops ⇒ the oracle unrolls the walk
    * over its own unrolled graph. Emits (qid, nn_id, d). */
  /** THE landed k-NN graph — s29's edges in a stored table
    * ([[graft.sources.SessionStore.storedOrBuild]]), shared READ-ONLY
    * by d17 and s31 (the s15/s23 shared-store rule): a graph index is
    * built once and consumed many times — that asymmetry is the whole
    * economics of graph ANN, and the repeat timings should measure
    * the consumer's work, not a rebuild per query. s29 itself stays
    * the honest in-lineage construction (its cost IS construction,
    * exactly as s16 re-trains while s21 reads its store).
    * Readers: d17, s31, s33, s36, s40 and s43. A stored-schema change
    * reaches all six; each one's oracle in tools/check.py fails on a
    * reader it breaks. */
  private[graft] def knnGraphStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionStore.storedOrBuild(s, "knn_graph", dir,
      Seq("v", "w")) {
      knnDescentGraph(graft.ops.Subplan.once(withPlantedTwins(emb(s, dir))))
    }

  private def knnSearchQuery(s: SparkSession, dir: String): DataFrame =
    knnWalkQuery(s, dir, beam = 1)
      .select(col("qid"), col("nn_id"), col("d"))

  /** The shared s31/s33 body: the registered 10-query frame walked
    * over the landed graph through [[knnBeamWalk]] at the given
    * width (s31 = greedy B = 1, dropping the degenerate rk; s33 =
    * [[KnnBeamWidth]], ranked frontier out). */
  private def knnWalkQuery(s: SparkSession, dir: String,
      beam: Int): DataFrame = {
    val (fx, q) = knnQueryFrame(s, dir)
    knnBeamWalk(q, fx, knnGraphStore(s, dir), beam)
  }

  /** The shared s31/s33/s36/s40/s43 query front: the checkpointed
    * fixed-point corpus and the entry frame over `qFilter` (default
    * the registered 10-query frame; s43 passes the ':rq' recall
    * draw). Entry rule: vertex 0 enters at 1, everyone else at 0 —
    * the walk drops the query itself from candidates, so a query may
    * never enter at its own id. */
  private[graft] def knnQueryFrame(s: SparkSession, dir: String,
      qFilter: Column = col("vec_id") < 10): (DataFrame, DataFrame) = {
    val fx = graft.ops.Subplan.once(knnFx(withPlantedTwins(emb(s, dir))))
    (fx, graft.ops.Subplan.once(knnQ0(fx, qFilter)))
  }

  /** The (qid, qx, cur) walk-entry frame of a lattice under a query
    * predicate — fixed entry vertex 0 (vertex 1 for query 0, which
    * cannot enter at itself). ONE construction for the dir-based
    * [[knnQueryFrame]] and the graph twin's live recall probe, so
    * the monitored walk enters exactly where the registered one
    * does. */
  private[graft] def knnQ0(fx: DataFrame, qFilter: Column): DataFrame =
    fx.filter(qFilter)
      .select(col("vec_id").as("qid"), col("x").as("qx"),
        when(col("vec_id") === 0, lit(1L)).otherwise(lit(0L)).as("cur"))

  /** s33's beam width — HNSW's ef knob: the frontier keeps the B
    * best visited vertices instead of one, trading B× hop work
    * (still corpus-independent) for escape from single-path local
    * minima. 4 is chosen BY the beam/entry sweep (the RerankR
    * r-sweep discipline; PLANS.md round-14 curve): on the
    * uniform natural corpus recall scales ~LINEARLY with B (each
    * beam slot explores a near-independent descent path — no knee
    * exists on structureless geometry) while entry count buys almost
    * nothing, so B is a per-query recall budget, not a plan-shape
    * choice; 4 ≈ 2.8× greedy's recall at ~flat fixture cost and
    * keeps the s33/s36 oracle unroll tractable. */
  private[graft] val KnnBeamWidth = 4

  /** THE walk loop over a graph `g` for a (qid, qx, cur) query frame
    * (one or more frontier rows per query) — beam search with greedy
    * as its B = 1 case, so s31 (greedy), s33 (beam), and the
    * graph-family recall sweeps (PLANS.md rounds 13-14) all ride ONE
    * loop and the measured recall is the recall of the registered
    * operators. Per hop:
    * candidates = frontier ∪ its graph neighbors (the frontier is
    * included, so the kept set improves monotonically under the
    * (d, id) order and post-fixpoint hops are idempotent), scored
    * exactly, top-B kept per query by bounded-heap partial agg.
    * Emits the final frontier ranked: (qid, nn_id, d, rk ≤ B).
    * ExtSpec "s33 beam search: JVM beam replay, and the width-1 beam IS
    * s31's …" pins greedy as the beam-1 case. */
  private[graft] def knnBeamWalk(q0: DataFrame, fx: DataFrame,
      g: DataFrame, beam: Int = 1, hops: Int = KnnSearchHops): DataFrame =
    knnBeamWalkFull(q0, fx, g, beam, hops)._1

  /** [[knnBeamWalk]] plus the VISITED set — the loop scores every
    * visited vertex per hop anyway (each hop's SCORED candidate frame
    * is checkpointed as the next hop's input; the frontier derives
    * from it lazily), so accumulating the per-hop scored frames costs
    * NO extra scoring.
    * Returns (final ranked frontier — [[knnBeamWalk]]'s contract
    * verbatim, visited (qid, cand, d) rows — a MULTISET whose
    * duplicates, within and across hops, carry identical exact
    * distances, so every consumer dedups in its bounded set-semantics
    * heap — [[knnEfRank]]). s36 (ef-search) ranks the visited union;
    * s31/s33 keep the frontier-only form. ONE loop for all three (and
    * the recall sweeps), so measured recall is the registered
    * operators'. */
  /** One hop's SCORED candidate frame: frontier ∪ its graph
    * neighbors (≤ B(k+1) rows per query counting duplicates — the
    * frontier row itself plus ≤ k neighbors per beam slot), scored
    * exactly against the lattice. ONE statement for the
    * [[knnBeamWalkFull]] loop body and the `walk_hop` row of
    * PlanSpec's plan-shape ledger.
    *
    * Deliberately a MULTISET (round-18 cut, the knnRoundCand rule):
    * the `.distinct()` that stood here was a full exchange of the
    * widest hop frame (it shuffles the 64-dim qx per candidate row),
    * once per hop × 8 hops × 5 walk queries, and the per-query bound
    * is ≤ B(k+1) rows EITHER way — the distinct only shrank below a
    * constant. Duplicates carry IDENTICAL (qid, qx, cand) rows and
    * hence identical exact distances, so every consumer dedups in
    * the bounded heap instead: the frontier agg ([[knnHopFrontier]])
    * and the visited-set rank ([[knnEfRank]]) ride
    * `topKDistinct` (the O1 set-semantics aggregate, FunctionsSpec-
    * pinned set ≡ multiset). */
  private[graft] def knnHopScored(cur: DataFrame, fx: DataFrame,
      g: DataFrame): DataFrame =
    cur.select(col("qid"), col("qx"), col("cur").as("cand"))
      .unionAll(cur.join(g, cur("cur") === g("v"))
        .select(col("qid"), col("qx"), g("w").as("cand")))
      .filter(col("cand") =!= col("qid"))
      .join(fx.select(col("vec_id").as("cand"), col("x")), "cand")
      .select(col("qid"), col("qx"), col("cand"),
        graft.functions.SqDistLong.sqDist(col("qx"), col("x")).as("d"))

  /** One hop's next frontier off the scored frame: top-B per query
    * by bounded-heap partial agg, under SET semantics — a candidate
    * reached both as a frontier row and as a neighbor (or by two
    * beam slots) carries an identical struct and must occupy ONE
    * beam slot, exactly as the pre-hop `.distinct()` guaranteed.
    * The [[knnHopScored]] twin half of the loop body / plan
    * artifact. */
  private[graft] def knnHopFrontier(scored: DataFrame,
      beam: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(max(col("qx")).as("qx"),
        graft.functions.TopKAgg.topKDistinct(
          struct((-col("d")).as("nd"), (-col("cand")).as("nc"),
            col("cand")), beam).as("top"))
      .select(col("qid"), col("qx"), explode(col("top")).as("t"))
      .select(col("qid"), col("qx"), col("t.cand").as("cur"))

  private[graft] def knnBeamWalkFull(q0: DataFrame, fx: DataFrame,
      g: DataFrame, beam: Int = 1, hops: Int = KnnSearchHops)
      : (DataFrame, DataFrame) = {
    // A hop checkpoints its input, the previous hop's scored frame,
    // which the hop's frontier and the visited set both read; the
    // last hop's scored frame stays lazy for the one of them a caller
    // reads.
    var scored = knnHopScored(q0, fx, g)
    val hopScored = (2 to hops).map { _ =>
      val prev = graft.ops.Subplan.once(scored)
      scored = knnHopScored(knnHopFrontier(prev, beam), fx, g)
      prev
    } :+ scored
    val visited = hopScored.map(_.select(col("qid"), col("cand"), col("d")))
      .reduce(_ unionAll _)
    val frontier = knnHopFrontier(scored, beam)
      .join(fx.select(col("vec_id").as("cur"), col("x")), "cur")
      .select(col("qid"), col("qx"), col("cur"),
        graft.functions.SqDistLong.sqDist(col("qx"), col("x")).as("d"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("d")).as("nd"), (-col("cur")).as("nc"),
          col("cur"), col("d")), beam).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.cur").as("nn_id"),
        col("col.d").as("d"), (col("pos") + 1).cast("int").as("rk"))
    (frontier, visited)
  }

  /** s36's return depth — ef-search emits the best [[KnnEfTopK]] of
    * the VISITED set, which may exceed the beam width: the frontier
    * is provably the visited set's top-B under (d, id) (the kept set
    * improves monotonically, so anything ever dropped was beaten by
    * every later frontier), so k > B is strictly more answer for the
    * same walk. */
  private[graft] val KnnEfTopK = 5

  /** The s36 body — EF-SEARCH over the landed k-NN graph: the s33
    * beam walk (same entry, same hops, same width — ONE
    * [[knnBeamWalkFull]] loop), but the answer is the best
    * [[KnnEfTopK]] of EVERY vertex the walk ever scored, not the
    * final frontier (HNSW's ef-search return semantics, Malkov &
    * Yashunin 2018 §4 — the searcher maintains the best ef of the
    * visited set). The walk already scores each hop's candidates
    * exactly; ranking their union adds one bounded-heap agg over
    * ≤ hops·(k+1)·B rows per query — still corpus-independent. */
  private def knnEfSearchQuery(s: SparkSession, dir: String): DataFrame = {
    val (fx, q) = knnQueryFrame(s, dir)
    val (_, visited) =
      knnBeamWalkFull(q, fx, knnGraphStore(s, dir), KnnBeamWidth)
    knnEfRank(visited)
  }

  /** The s40 body — FILTERED graph search: s36's ef-search answering
    * only within the query's label class (the ann-benchmarks filtered
    * track, s23/s26's semantics on the GRAPH path — every index
    * family now has its filtered read: trained s23, compressed s26,
    * graph s40). The walk itself is UNfiltered (ONE
    * [[knnBeamWalkFull]] loop — edges don't carry labels, and
    * restricting expansion would disconnect the walk, the documented
    * failure mode of naive filtered graph search); the predicate
    * applies to the VISITED set, which the loop scores exactly
    * anyway, so filtering costs one label fetch restricted to the
    * bounded visited frame (≤ hops·(k+1)·B rows per query broadcast
    * against the label scan — the s17 restricted-fetch shape). Twins
    * inherit their original's label (a planted twin is the same
    * item; the oracle's lb CTE states the same union). Post-filter
    * semantics stated honestly: a query whose visited set holds < k
    * same-label vertices returns fewer rows — s23's documented trade,
    * now symmetric across all three index families.
    * ExtSpec "s40 filtered graph search: JVM visited-set replay …" pins
    * the unfiltered walk, and a query whose filtered visited set is
    * empty as absent. */
  private def knnFilteredSearchQuery(s: SparkSession,
      dir: String): DataFrame = {
    val (fx, q) = knnQueryFrame(s, dir)
    val (_, visited) =
      knnBeamWalkFull(q, fx, knnGraphStore(s, dir), KnnBeamWidth)
    val labOf = emb(s, dir).select(col("vec_id"), col("label"))
    val lab = labOf.unionAll(labOf.select(
      (col("vec_id") + lit(1000000000L)).as("vec_id"), col("label")))
    // The ten query labels ride as a literal map, a bounded driver-side
    // read: a join with the filtered label scan would have the
    // optimizer inject a runtime bloom filter, one more shuffle stage,
    // over the walk's lazy last hop.
    val qlab = typedLit(labOf.filter(col("vec_id") < 10 && col("label").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap)
    // Multiset visited straight into the bounded broadcast (round-18
    // cut with the hop fusion): the pre-`.distinct()` exchange only
    // shrank below the ≤ hops·B(k+1) rows-per-query constant, and
    // knnEfRank's set-semantics heap dedups the matched rows.
    val want = visited.select(col("qid"), col("cand").as("vec_id"),
      col("d"), element_at(qlab, col("qid")).as("qlabel"))
    val matched = lab.join(broadcast(want), Seq("vec_id"))
      .filter(col("label") === col("qlabel"))
      .select(col("qid"), col("vec_id").as("cand"), col("d"))
    knnEfRank(matched)
  }

  /** The ef ranking tail over a visited (qid, cand, d) frame — ONE
    * definition for the registered s36 and the beam/entry sweep
    * (PLANS.md round 14), so the measured ef recall is the registered
    * operator's. */
  private[graft] def knnEfRank(visited: DataFrame,
      k: Int = KnnEfTopK): DataFrame =
    // In-heap dedup (round-18 cut): the pre-`.distinct()` was a full
    // exchange of the accumulated visited union; duplicates — across
    // hops AND, since the hop fusion, within one — carry identical
    // (qid, cand, d) rows (exact int64 distances of the same pair),
    // so `topKDistinct` collapses them in the bounded heap instead.
    visited
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKDistinct(
        struct((-col("d")).as("nd"), (-col("cand")).as("nc"),
          col("cand"), col("d")), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.cand").as("nn_id"),
        col("col.d").as("d"), (col("pos") + 1).cast("int").as("rk"))

  /** The d17 body — the k-NN graph as d13's edge source: graph edges
    * verified at exact cosine ≥ 0.99 (d05's threshold — on the
    * planted corpus exactly the twin pairs, which are mutual NN-1 and
    * band-identical, so the graph cannot miss them), then the SAME
    * [[embClusterDecision]] contraction + canonical d13 runs. The
    * SemDeDup-class composition: at scale the graph's edge set is
    * richer than band collisions alone (descent finds near pairs
    * whose bands never collide), and the decision layer is unchanged
    * — pair-source-agnostic by construction. */
  private def knnClustersQuery(s: SparkSession, dir: String): DataFrame = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val verified = knnGraphStore(s, dir)
      .select(col("v").as("ia"), col("w").as("ib"))
      .join(all.select(col("vec_id").as("ia"), col("v").as("va")), "ia")
      .join(all.select(col("vec_id").as("ib"), col("v").as("vb")), "ib")
      .filter(cosine(col("va"), col("vb")) >= 0.99)
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"))
      .distinct()
    embClusterDecision(all, verified)
  }

  // ---------------------------------------------------------------
  // s34/s35 — k-NN GRAPH MAINTENANCE, the missing arc of the index
  // lifecycle (every other index family has CRUD: s18/s22 insert,
  // s24/s25 delete; the graph — the most expensive index to build —
  // had none): a production near-dup pipeline ingests batches daily
  // and cannot re-run full NN-descent per batch. Insert restricts
  // descent to the TOUCHED NEIGHBORHOOD (batch ∪ every vertex its
  // seeds reach), delete heals dangling lists from the retired
  // vertices' own surviving lists — both deterministic (the exact-
  // int64 machinery of s29), so the DuckDB oracles unroll them. The
  // reference's append-upsert sink semantics (ccdc/cassandra.py:45-63,
  // PK dedup per resources/schema.cql:142) is the same whole-key-group
  // discipline s18 ports.
  // ---------------------------------------------------------------

  /** Insert-descent round budget: fixed so the oracle can unroll (the
    * [[KnnRounds]] discipline) and the measured FIXPOINT on the spec
    * fixture (sf0.001: per-round changed-edge counts 336, 194, 50, 14,
    * 2, 0). ExtSpec "s34 graph insert: restricted descent converged at
    * the registered rounds, …" fails if one more round changes
    * anything. Fewer rounds than the full build's 8: the seeds start
    * from the stored graph's fixpoint lists, not from scratch. */
  private[graft] val KnnInsRounds = 6

  /** Hive-partition fan of the landed graph stores (pt = v mod this):
    * the unit of the dynamic-partition upsert. At 100 TB this is the
    * store's real partition count (thousands); the fixture keeps it
    * small so a batch still touches a proper subset. */
  private[graft] val KnnGraphParts = 16

  private def ptCol(c: Column): Column =
    pmod(c, lit(KnnGraphParts.toLong)).cast("int")

  /** The insert SEED pairs for a batch arriving into `all`: the
    * batch's own md5 exploration draws (the [[knnInitDraws]] family —
    * same ':knn' keys, same full-corpus index space), band collisions
    * touching the batch (batch bands probe ALL bands — batch–existing
    * and batch–batch), and the STORED GRAPH's neighbors of those
    * collision partners (a collision says "b lands near w"; w's list
    * is the cheapest description of near-w). Symmetrized, so every
    * existing vertex a seed reaches gets the chance to adopt the new
    * vector into its own list — without the flip, inserts could only
    * ever ADD vertices' knowledge of the batch, never the reverse. */
  private[graft] def knnBatchSeed(stored: DataFrame, all: DataFrame,
      batchIds: DataFrame,
      corpusBands: Option[DataFrame] = None): DataFrame = {
    val bt = broadcast(batchIds.select(col("vec_id")))
    val drw = knnInitDraws(all)
      .join(bt.select(col("vec_id").as("v")), Seq("v"), "left_semi")
    // Batch bands compute batch-side only; the probe side is the
    // LANDED corpus bands when the caller has them (s34 — at scale
    // re-banding the corpus per batch would be the fold's only
    // corpus-sized compute) ∪ the batch's own bands (batch–batch
    // collisions), else banded in lineage (the twin's in-memory
    // corpus; ONE knnBands text either way, so the keys can't
    // drift).
    // The batch-derived sides are batch-BOUNDED (the fold's stated
    // premise — the same bound that justifies the touched-set
    // broadcasts below), so they take the build side of both seed
    // joins: the band probe streams map-side over the LANDED corpus
    // bands (d19's zero-exchange economics), and the stored-graph
    // expansion streams map-side over the store scan.
    val batchBands = broadcast(
      knnBands(all.join(bt, Seq("vec_id"), "left_semi")))
    val probeBands = corpusBands.map(_.unionByName(batchBands))
      .getOrElse(knnBands(all))
    // The bp broadcast's bound is the fold's stated batch-boundedness
    // premise: collisions per batch band row are the band-bucket
    // occupancy, which the 4×16-bit banding keeps at ~corpus/2¹⁶ per
    // bucket — |bp| ≈ 4·|batch|·(N/2¹⁶), megabytes at any realistic
    // batch and far under broadcast limits until a degenerate
    // all-identical-vector corpus collapses the band space (SkewSpec's
    // hub-batch fixture pins the margins). A runtime gate here was
    // measured at ~+0.7 s/batch (a checkpoint + count job on the hot
    // path — round-16 note in PLANS.md): the observable-safety trade
    // goes the other way, so the bound is DOCUMENTED, not metered; if
    // a deployment's band space degenerates, swap in the t21
    // real-size gate (Text.T21BroadcastMaxKeys) at this hint.
    val bp = batchBands.as("a")
      .join(probeBands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("v"), col("b.vec_id").as("w"))
    val gx = broadcast(bp.select(col("v"), col("w").as("u")))
      .join(stored.select(col("v").as("u"), col("w").as("x")), Seq("u"))
      .select(col("v"), col("x").as("w"))
      .filter(col("v") =!= col("w"))
    val oneWay = drw.unionAll(bp).unionAll(gx)
    oneWay.unionAll(oneWay.select(col("w").as("v"), col("v").as("w")))
      .filter(col("v") =!= col("w"))
  }

  /** THE graph-insert fold — ONE definition for batch s34 and
    * [[graft.streaming.DocStreams.KnnGraphMaintenance]]: seed the
    * batch ([[knnBatchSeed]]), fix the touched set T = every seed
    * endpoint ONCE, then [[KnnInsRounds]] descent rounds RESTRICTED to
    * T (the same [[knnRoundCand]] candidate generator, semi-joined to
    * T on the owner side — only touched vertices' lists may move, so
    * the state stays batch-neighborhood-sized and the round cost
    * scales with |T|·(2k)², never the corpus). T-owners start from
    * their STORED lists merged with the scored seeds, so existing
    * knowledge is never lost and lists improve monotonically under
    * (d, id) exactly as the full build's do. Emits the touched
    * owners' final lists (v, w, d) — the rows to upsert; untouched
    * owners' stored rows are by construction unchanged.
    * StreamingSpec "streaming k-NN graph maintenance matches batch s34
    * insert …" pins the twin's fold equal to s34's. ExtSpec "s34
    * maintained graph equals the full s29 rebuild …" pins maintained ≡
    * rebuild on clusterable geometry only: on the uniform fixture the
    * init draws differ by construction, and only rank 1 agrees. */
  private[graft] def knnInsertDelta(stored: DataFrame, all: DataFrame,
      batchIds: DataFrame, k: Int = KnnK,
      rounds: Int = KnnInsRounds,
      corpusBands: Option[DataFrame] = None): DataFrame = {
    val seed = graft.ops.Subplan.once(
      knnBatchSeed(stored, all, batchIds, corpusBands))
    val touched = broadcast(seed.select(col("v")).distinct())
    // The scoring lattice restricted to the fold's REACHABLE CLOSURE
    // — touched owners ∪ the members of their stored lists: every id
    // any stage can score (induction: L0's members are stored-list
    // members ∪ seed partners; a round's candidates pair members of
    // the current lists, and new members only ever enter from scored
    // candidates). A broadcast-keyed corpus scan (the reference's
    // keyed-read shape, chip.py:39-51) whose OUTPUT is
    // neighborhood-sized — never a full-lattice materialization per
    // batch. (Seed endpoints are raw, pre-scoring: on the full
    // corpus every referenced id exists; an id with no lattice row
    // simply never scores and owns no rows — harmless.)
    val fxKeys = broadcast(
      seed.select(col("v"))
        .unionAll(seed.select(col("w").as("v")))
        .unionAll(stored.join(touched, Seq("v"), "left_semi")
          .select(col("w").as("v")))
        .distinct())
    // The restricted lattice is neighborhood-BOUNDED (|fxKeys| ≤
    // |seed endpoints| + |touched|·k rows), so it broadcasts into
    // every scoring join — each round's two lattice joins plan as
    // broadcast hash joins instead of tiny-but-scheduled shuffles
    // (measured ~35% off the per-round floor at sf0.1; the full
    // build's corpus-sized fx must NOT take this hint, which is why
    // it rides the call site, not knnScore).
    val fx = broadcast(graft.ops.Subplan.once(knnFx(all)
      .join(fxKeys.select(col("v").as("vec_id")), Seq("vec_id"), "left_semi")))
    // Seed scores fold straight into the init list build — `seed` is
    // already checkpointed, and the scored frame is referenced
    // exactly once, so a second checkpoint here bought nothing but
    // one more per-batch job.
    var nbr = graft.ops.Subplan.once(knnTopK(
      stored.join(touched, Seq("v"), "left_semi")
        .unionAll(knnScore(seed, fx)), k))
    for (_ <- 1 to rounds)
      nbr = graft.ops.Subplan.once(knnRound(nbr, fx, k, Some(touched)))
    nbr
  }

  /** THE touched-partition upsert content — ONE merge statement for
    * s34's insert and s35's delete-heal: the READ-ONLY base
    * generation's touched partitions, minus retired owners (s35
    * only), minus the replaced owners, ∪ the replacement lists. The
    * source is the BASE store, never the mutated copy: the fold is a
    * pure function of (base, batch), so merging from base yields the
    * same content on every invocation (idempotent by construction)
    * WITHOUT the checkpoint-before-overwrite a self-read-write would
    * force — the round-15 store-mechanics decomposition's first
    * action, removed. The scan prunes by the STATIC pt values
    * (PlanSpec pins PartitionFilters + broadcast-only joins on this
    * very definition). */
  private[graft] def knnUpsertContent(s: SparkSession, basePath: String,
      ptVals: Seq[Int], repl: DataFrame,
      retired: Option[DataFrame] = None): DataFrame = {
    val touched = broadcast(repl.select(col("v")).distinct())
    val kept0 = s.read.parquet(basePath)
      .filter(col("pt").isin(ptVals: _*))
    val kept = retired.map(del => kept0.join(
        broadcast(del.select(col("vec_id").as("v"))), Seq("v"), "left_anti"))
      .getOrElse(kept0)
    kept.join(touched, Seq("v"), "left_anti")
      .select(col("v"), col("w"), col("d"))
      .unionByName(repl)
      .withColumn("pt", ptCol(col("v")))
  }

  /** THE graph-delete heal — ONE definition for batch s35 and the
    * streaming twin's retire: owners that survive but reference a
    * retired id rebuild their lists from (their own surviving edges) ∪
    * (each retired neighbor's surviving list — the classic graph-ANN
    * heal: when w dies, w's neighbors are the best candidates for the
    * hole w leaves), rescored exactly and re-topped at k (s24's
    * anti-join discipline on the edge rows; lists may come back
    * SHORTER than k when the pool is thin — honest, never padded).
    * Untouched owners keep their rows verbatim. Emits the touched
    * survivors' healed lists (v, w, d).
    * ExtSpec "s35 graph delete: healed lists match a JVM heal replay …"
    * and StreamingSpec's k-NN twin test pin it. */
  private[graft] def knnDeleteHeal(stored: DataFrame, fx: DataFrame,
      delIds: DataFrame, k: Int = KnnK): DataFrame = {
    val del = broadcast(delIds.select(col("vec_id")))
    val delV = broadcast(del.select(col("vec_id").as("v")))
    val delW = broadcast(del.select(col("vec_id").as("w")))
    val touched = broadcast(stored
      .join(delW, Seq("w"), "left_semi")
      .join(delV, Seq("v"), "left_anti")
      .select(col("v")).distinct())
    val own = stored.join(touched, Seq("v"), "left_semi")
      .join(delW, Seq("w"), "left_anti")
      .select(col("v"), col("w"))
    val inh = stored.join(touched, Seq("v"), "left_semi")
      .join(delW, Seq("w"), "left_semi")
      .select(col("v"), col("w").as("u"))
      .join(stored.select(col("v").as("u"), col("w").as("x")), Seq("u"))
      .join(broadcast(del.select(col("vec_id").as("x"))), Seq("x"), "left_anti")
      .select(col("v"), col("x").as("w"))
      .filter(col("v") =!= col("w"))
    knnTopK(knnScore(own.unionAll(inh), fx), k)
  }

  /** The s34 body — BATCH INSERT into the landed k-NN graph. Two
    * stores: `s34_base` holds the pre-batch graph (built over the
    * !annBatchVec subset, READ-ONLY — the generation the fold is
    * defined against, so the fold is a pure function of (base, batch)
    * and repeat invocations are idempotent by construction; the graph
    * fold is context-SENSITIVE, unlike s18's assignment, so folding
    * against an already-mutated store would drift), and `s34_graph`,
    * initialized as its copy and MUTATED by the whole-key-group
    * upsert: [[knnUpsertContent]] over the BASE store's touched
    * partitions, rewritten under dynamic partition overwrite
    * (untouched partitions' files are never opened; merging from the
    * read-only base means no checkpoint-before-overwrite — round
    * 16's store-mechanics cut). Emits the touched owners' ranked
    * lists FROM THE CHECKPOINTED DELTA — the upserted store's
    * touched-owner rows ARE the delta by the merge algebra
    * ((stored − touched) ∪ delta restricted to touched = delta), so
    * re-reading the store after the write bought a scan and nothing
    * else; ExtSpec pins store read-back ≡ answer so the identity
    * stays verified while the query no longer pays it. */
  private def knnGraphInsertQuery(s: SparkSession, dir: String): DataFrame = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val basePath = graft.sources.SessionStore.pathOrBuild(
      s, "s34_base", dir, Seq("v", "w"), Seq("pt")) {
      knnDescentGraph(graft.ops.Subplan.once(all.filter(!annBatchVec)))
        .withColumn("pt", ptCol(col("v")))
    }
    val gPath = graft.sources.SessionStore.pathOrBuild(
      s, "s34_graph", dir, Seq("v", "w"), Seq("pt")) {
      s.read.parquet(basePath)
    }
    val base = s.read.parquet(basePath).select(col("v"), col("w"), col("d"))
    // The existing corpus's bands live in a LANDED table (built once
    // beside the base generation — at scale re-banding the corpus per
    // batch would be the fold's only corpus-sized compute; the d19
    // landed-band-store prescription applied to the graph's seeds).
    val corpusBands = graft.sources.SessionStore.storedOrBuild(
      s, "s34_bands", dir, Seq("vec_id", "band")) {
      knnBands(all.filter(!annBatchVec))
    }
    val delta = knnInsertDelta(
      base, all, all.filter(annBatchVec).select(col("vec_id")),
      corpusBands = Some(corpusBands))
    // The touched partitions as STATIC pruning values — a bounded
    // ≤ [[KnnGraphParts]]-entry driver-side collect (deleteFromStore's
    // metadata-op discipline): the merge read opens ONLY those
    // partitions' files (PlanSpec pins the PartitionFilters on
    // knnUpsertContent), which is the whole point of the partitioned
    // upsert layout.
    val ptVals = delta.select(ptCol(col("v")).as("pt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    graft.sources.Sink.write(
      knnUpsertContent(s, basePath, ptVals, delta),
      gPath, Seq("v", "w"), Seq("pt"))
    knnRanked(delta)
  }

  /** The s35 body — BATCH DELETE from the landed k-NN graph, s34's
    * reverse half (same two-store discipline: `s35_base` read-only
    * pre-delete generation over the FULL corpus, `s35_graph` its
    * mutated copy): the md5 ':del' 1/16 retirement draw drops its
    * owners' rows, and every surviving list that referenced a retired
    * id heals from [[knnDeleteHeal]]'s candidate pools. The write
    * rewrites exactly the partitions holding retired owners or healed
    * owners; a partition emptied of every owner is dropped explicitly
    * (the s24 bounded metadata op — degenerate here, possible at a
    * hot-spot 100 TB layout). Emits the healed owners' ranked lists
    * from the checkpointed heal — identical to the post-delete
    * store's healed-owner rows by the merge algebra, and by
    * construction free of any retired id (ExtSpec pins both). */
  private def knnGraphDeleteQuery(s: SparkSession, dir: String): DataFrame = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val basePath = graft.sources.SessionStore.pathOrBuild(
      s, "s35_base", dir, Seq("v", "w"), Seq("pt")) {
      knnDescentGraph(all).withColumn("pt", ptCol(col("v")))
    }
    val gPath = graft.sources.SessionStore.pathOrBuild(
      s, "s35_graph", dir, Seq("v", "w"), Seq("pt")) {
      s.read.parquet(basePath)
    }
    val base = s.read.parquet(basePath).select(col("v"), col("w"), col("d"))
    val fx = graft.ops.Subplan.once(knnFx(all))
    val delIds = all.filter(annDelVec).select(col("vec_id"))
    val healed = graft.ops.Subplan.once(knnDeleteHeal(base, fx, delIds))
    // Touched partitions (healed owners' ∪ retired owners') as STATIC
    // pruning values — the bounded driver-side metadata op.
    val healedPt = healed.select(ptCol(col("v")).as("pt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val ptVals = (healedPt ++
      delIds.select(ptCol(col("vec_id")).as("pt")).distinct()
        .collect().map(_.getInt(0))).distinct
    // The merged content rides the ONE [[knnUpsertContent]] statement
    // FROM THE BASE store (s34's discipline — no self-read-write, no
    // checkpoint for overwrite safety); the Subplan.once here exists
    // because survivors is consumed TWICE (the emptied-partition
    // collect and the write), not as an overwrite guard.
    val survivors = graft.ops.Subplan.once(
      knnUpsertContent(s, basePath, ptVals, healed, Some(delIds)))
    val emptied = ptVals.toSet --
      survivors.select(col("pt")).distinct().collect().map(_.getInt(0))
    if (emptied.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(gPath)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      emptied.foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"pt=$p"), true)
      }
    }
    if (!survivors.isEmpty)
      graft.sources.Sink.write(survivors, gPath, Seq("v", "w"), Seq("pt"))
    // The post-delete store's healed-owner rows ARE the healed frame
    // (the s34 merge-algebra identity) — answer from the checkpoint;
    // ExtSpec pins store read-back ≡ answer.
    knnRanked(healed)
  }

  /** The POST-DELETE graph state assembled in lineage — (landed base
    * generation rows minus retired owners minus healed owners) ∪ the
    * healed lists, through the ONE [[knnDeleteHeal]] fold (the same
    * algebra s35's touched-partition `survivors` frame applies at
    * store granularity). Returns (base, postDel, fx). Shared by s38
    * (drift: base vs post-delete) and s37 (refine input, inside its
    * generation-build block); `ns` keys the base store per consumer
    * (the s18/s22 own-namespace rule). `postDel` stays lazy: s38 reads
    * it once, and [[knnRefine]]'s first round checkpoints it for s37. */
  private def knnPostDelete(s: SparkSession, dir: String,
      ns: String): (DataFrame, DataFrame, DataFrame) = {
    val all = graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))
    val fx = graft.ops.Subplan.once(knnFx(all))
    val basePath = graft.sources.SessionStore.pathOrBuild(
      s, s"${ns}_base", dir, Seq("v", "w"), Seq("pt")) {
      knnDescentGraph(all).withColumn("pt", ptCol(col("v")))
    }
    val base = s.read.parquet(basePath).select(col("v"), col("w"), col("d"))
    val delIds = all.filter(annDelVec).select(col("vec_id"))
    val healed = graft.ops.Subplan.once(knnDeleteHeal(base, fx, delIds))
    val postDel = base
      .join(broadcast(delIds.select(col("vec_id").as("v"))),
        Seq("v"), "left_anti")
      .join(broadcast(healed.select(col("v")).distinct()),
        Seq("v"), "left_anti")
      .unionByName(healed)
    (base, postDel, fx)
  }

  /** Refine-round budget: the [[KnnRounds]]/[[KnnInsRounds]] fixpoint
    * discipline — at sf0.001 the per-round changed-edge counts are
    * 238, 32, 4, 2, 2, 0 (round 6 ≡ round 5, and the refine GROWS the
    * edge set 3661 → 3721 — the heal's thin slots re-filled). ExtSpec
    * "s37 graph refine: converged at the registered rounds, …" fails
    * if one more round changes anything. */
  private[graft] val KnnRefineRounds = 5

  /** THE warm-start descent — [[knnDescentGraph]]'s improvement round
    * without the cold init: `rounds` rounds of (symmetrized k-capped
    * adjacency → neighbor-of-neighbor candidates → exact score →
    * k-best merge) starting FROM an existing edge set. ONE definition
    * for s37's generation build and the streaming twin's `refine`.
    * Lists improve monotonically under (d, id) exactly as the cold
    * build's do; owners never grow beyond the input's vertex set
    * (candidates come from lists, which are survivor-only).
    * A REPAIR, not a rebuild: with no fresh draws a few far-tail slots
    * stay in local minima (3 of ~280 edges measured). ExtSpec "s37
    * graph refine: …" pins exact rank 1, full width and ≥95% tail
    * agreement, not full equality; the exact reset is s29 over the
    * survivors. */
  private[graft] def knnRefine(g0: DataFrame, fx: DataFrame,
      rounds: Int = KnnRefineRounds, k: Int = KnnK): DataFrame = {
    var nbr = g0
    for (_ <- 1 to rounds)
      nbr = knnRound(graft.ops.Subplan.once(nbr), fx, k)
    nbr
  }

  /** The s37 body — GRAPH REFINE, the s32-rebuild analogue for the
    * graph family (closing its lifecycle: build s29 → land → search
    * s31/s33/s36 → insert s34 → delete s35 → drift-detect s38 →
    * refine s37): the post-delete graph's healed lists are only as
    * good as their LOCAL candidate pools (own survivors + retired
    * neighbors' survivors — some come back thin, some suboptimal), so
    * the refresh runs [[KnnRefineRounds]] warm-start descent rounds
    * over the whole survivor graph and lands the result as a NEW
    * GENERATION store (s32's build-alongside-and-swap — never
    * in-place). A warm start costs rounds × survivors with NO re-init
    * scan — the cheap REPAIR NN-descent uniquely offers, priced like
    * one more descent round per round rather than s29's full 8+init.
    * Repair, not rebuild: without fresh exploration draws a few
    * far-tail slots can stay in local minima a cold re-init escapes
    * (ExtSpec measures 3 of ~280 edges on clusterable geometry and
    * pins exact rank-1 + full width + ≥95% tail agreement); the exact
    * reset remains the cold rebuild — s29 over the survivors, landed
    * as a generation exactly like s32. First access per JVM pays base
    * build + heal + refine once; repeats read the landed generation.
    * Emits the refined graph ranked. */
  private def knnGraphRefineQuery(s: SparkSession, dir: String): DataFrame = {
    val refined = graft.sources.SessionStore.storedOrBuild(
      s, "s37r_graph", dir, Seq("v", "w"), Seq("pt")) {
      val (_, postDel, fx) = knnPostDelete(s, dir, "s37")
      knnRefine(postDel, fx).withColumn("pt", ptCol(col("v")))
    }
    knnRanked(refined.select(col("v"), col("w"), col("d")))
  }

  /** THE graph-drift metric — s30's [[indexDriftStats]] discipline
    * for the graph family, the signal that schedules s37's refine
    * (deletes heal locally and never re-descend, so thin lists and
    * edge-energy growth accumulate silently otherwise): per
    * store-partition owner/edge counts, THIN-list count (< k edges —
    * the heal's visible scar), and exact int64 edge energy, for the
    * base generation vs the maintained state. Counts and sums are
    * exact; the means are the ONE final double division (the t22
    * discipline). ONE definition for the s38 batch query and
    * [[graft.streaming.DocStreams.KnnGraphMaintenance]]'s live
    * metric. */
  private[graft] def graphDriftStats(base: DataFrame,
      now: DataFrame): DataFrame = {
    def side(g: DataFrame, pfx: String) = g
      .groupBy(col("v")).agg(count(lit(1)).as("len"), sum(col("d")).as("sd"))
      .groupBy(ptCol(col("v")).as("pt"))
      .agg(count(lit(1)).as(pfx + "_owners"),
        sum(col("len")).as(pfx + "_edges"),
        sum(when(col("len") < KnnK, 1L).otherwise(0L)).as(pfx + "_thin"),
        sum(col("sd")).as(pfx + "_sum_d"))
    side(base, "base").join(side(now, "now"), Seq("pt"), "left")
      .select(col("pt"),
        col("base_owners"), col("base_edges"), col("base_thin"),
        col("base_sum_d"),
        coalesce(col("now_owners"), lit(0L)).as("now_owners"),
        coalesce(col("now_edges"), lit(0L)).as("now_edges"),
        coalesce(col("now_thin"), lit(0L)).as("now_thin"),
        coalesce(col("now_sum_d"), lit(0L)).as("now_sum_d"),
        (col("base_sum_d").cast("double") / col("base_edges"))
          .as("mean_d_base"),
        when(coalesce(col("now_edges"), lit(0L)) > 0,
          col("now_sum_d").cast("double") / col("now_edges"))
          .otherwise(lit(null).cast("double")).as("mean_d_now"))
  }

  /** The s38 body — drift of the post-delete maintained graph against
    * its base generation, per store partition (a LEFT join from the
    * base side: a partition whose owners all retired still reports —
    * with zeroed now-side counts — because an emptied partition is
    * exactly the row an operator must see). */
  private def graphDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val (base, postDel, _) = knnPostDelete(s, dir, "s38")
    graphDriftStats(base, postDel)
  }

  /** One NN-descent improvement round as CTEs, n{r−1} → n{r}: capped
    * reverse lists, symmetrized adjacency, neighbor-of-neighbor
    * candidates, exact scoring, k-best merge — the same statements,
    * in the same (d, id) order, as the engine's round loop. ONE
    * generator for the build chain (s29/s31/s33/s36/d17, defaults)
    * and s34's restricted insert rounds: `p` prefixes every CTE name
    * (the insert chain runs beside the build chain in one oracle),
    * `fx` names the scoring lattice, `restrict` appends the insert
    * rounds' touched-owner semi-join to the candidate generator —
    * exactly [[knnInsertDelta]]'s T-restriction. */
  private def knnRoundCtes(r: Int, fx: String = "fx", p: String = "",
      restrict: String = ""): String =
    s"""${p}rev$r AS (SELECT w AS v, v AS w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY w ORDER BY d ASC, v ASC) AS rk FROM ${p}n${r - 1})
       |  WHERE rk <= $KnnK),
       |${p}adj$r AS MATERIALIZED (SELECT v AS u, w AS p FROM ${p}n${r - 1}
       |  UNION SELECT v AS u, w AS p FROM ${p}rev$r),
       |${p}cnd$r AS (SELECT DISTINCT a.p AS v, b.p AS w
       |  FROM ${p}adj$r a JOIN ${p}adj$r b ON a.u = b.u AND a.p <> b.p$restrict),
       |${p}sc$r AS (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM ${p}cnd$r c JOIN $fx fa ON fa.vec_id = c.v
       |  JOIN $fx fb ON fb.vec_id = c.w),
       |${p}mg$r AS (SELECT v, w, d FROM ${p}n${r - 1}
       |  UNION SELECT v, w, d FROM ${p}sc$r),
       |${p}n$r AS MATERIALIZED (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM ${p}mg$r)
       |  WHERE rk <= $KnnK)""".stripMargin

  /** The NN-descent chain (init draws + band seeds + k-best init +
    * [[KnnRounds]] rounds → CTE n[[KnnRounds]]) over a caller-named
    * corpus/bands/lattice triple — ONE generator for the full-corpus
    * build (s29/s31/s33/s36/d17/s35: `al`/`bands`/`fx`) and s34's
    * PRE-BATCH build (the same chain over the !annBatch subset —
    * subsetting is a WHERE on each frame, never a recomputation).
    * The draw count n_nat is the source's own natural count, exactly
    * as [[knnInitDraws]] counts its input frame. */
  private def knnChainCtes(al: String, bands: String, fx: String): String =
    s"""knn_cnt AS (SELECT COUNT(*) AS n_nat FROM $al
       |  WHERE vec_id < 1000000000),
       |drw AS (SELECT v, CASE WHEN idx < n_nat THEN idx
       |      ELSE idx - n_nat + 1000000000 END AS w
       |  FROM (SELECT a.vec_id AS v, c.n_nat,
       |      ('0x' || substr(md5(a.vec_id || ':knn' || u.j), 1, 8))::BIGINT
       |        % (2 * c.n_nat) AS idx
       |    FROM $al a, knn_cnt c,
       |         unnest(generate_series(1, $KnnInitDraws)) u(j))),
       |bp AS (SELECT a.vec_id AS v, b.vec_id AS w
       |  FROM $bands a JOIN $bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id <> b.vec_id),
       |c0 AS (SELECT DISTINCT v, w FROM (
       |    SELECT v, w FROM drw WHERE v <> w
       |    UNION ALL SELECT v, w FROM bp)),
       |s0 AS (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM c0 c JOIN $fx fa ON fa.vec_id = c.v
       |  JOIN $fx fb ON fb.vec_id = c.w),
       |n0 AS MATERIALIZED (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM s0)
       |  WHERE rk <= $KnnK),
       |${(1 to KnnRounds).map(r => knnRoundCtes(r, fx)).mkString(",\n")}""".stripMargin

  /** The fixed-point lattice CTE over a named corpus. */
  private def knnFxCte(name: String, al: String): String =
    s"""$name AS MATERIALIZED (SELECT vec_id,
       |    [CAST(floor(v[i] * 1048576.0) AS BIGINT)
       |     for i in generate_series(1, 64)] AS x
       |  FROM $al)""".stripMargin

  /** The s29/d17 shared oracle front — the d05 planted/banded prefix
    * ([[signBaseCte]] verbatim), the 2²⁰ fixed-point lattice, the md5
    * init draws mapped through the planted id layout, band-collision
    * seeds, the k-best init lists, then [[KnnRounds]] unrolled
    * improvement rounds ending at CTE n[[KnnRounds]]. */
  private[graft] def knnGraphCtes: String =
    s"""$signBaseCte,
       |${knnFxCte("fx", "al")},
       |${knnChainCtes("al", "bands", "fx")}""".stripMargin

  /** The s31/s33 walk CTEs — entry frame + the hops unrolled, each
    * keeping rank ≤ `beam` per query (greedy = beam 1): candidates =
    * frontier ∪ the graph rows' neighbors, ranked by (exact distance,
    * id). ONE generator for both widths AND both query sets (`qWhere`
    * defaults to the registered 10-query frame; s43 walks the recall
    * draw), the knnRoundCtes discipline. */
  private[graft] def knnWalkCtes(beam: Int,
      qWhere: String = "vec_id < 10"): String = {
    val hops = (1 to KnnSearchHops).map { t =>
      s"""wc$t AS (SELECT h.qid, h.cur AS cand FROM wh${t - 1} h
         |  UNION SELECT h.qid, g.w FROM wh${t - 1} h
         |    JOIN n$KnnRounds g ON g.v = h.cur),
         |wh$t AS (SELECT qid, cand AS cur FROM (
         |    SELECT c.qid, c.cand, ROW_NUMBER() OVER (PARTITION BY c.qid
         |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, c.cand ASC) AS rk
         |    FROM wc$t c JOIN fx f ON f.vec_id = c.cand
         |    JOIN fx q ON q.vec_id = c.qid
         |    WHERE c.cand <> c.qid) WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""wh0 AS (SELECT vec_id AS qid,
       |    CAST(CASE WHEN vec_id = 0 THEN 1 ELSE 0 END AS BIGINT) AS cur
       |  FROM al WHERE $qWhere),
       |$hops""".stripMargin
  }

  /** The s31 oracle: the unrolled graph chain + the width-1 walk. */
  private def knnSearchOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(1)}
       |SELECT h.qid, h.cur AS nn_id,
       |  CAST(${sqlDist("q.x", "f.x")} AS BIGINT) AS d
       |FROM wh$KnnSearchHops h JOIN fx f ON f.vec_id = h.cur
       |JOIN fx q ON q.vec_id = h.qid""".stripMargin

  /** The s33 oracle: the SAME walk at [[KnnBeamWidth]], final
    * frontier ranked by (exact distance, id). */
  private def knnBeamOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(KnnBeamWidth)}
       |SELECT qid, cur AS nn_id, CAST(dd AS BIGINT) AS d,
       |  CAST(rk AS INTEGER) AS rk
       |FROM (SELECT h.qid, h.cur,
       |    ${sqlDist("q.x", "f.x")} AS dd,
       |    ROW_NUMBER() OVER (PARTITION BY h.qid
       |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, h.cur ASC) AS rk
       |  FROM wh$KnnSearchHops h JOIN fx f ON f.vec_id = h.cur
       |  JOIN fx q ON q.vec_id = h.qid)
       |WHERE rk <= $KnnBeamWidth""".stripMargin

  private def knnGraphOracleSql: String =
    s"""WITH $knnGraphCtes
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |  FROM n$KnnRounds) WHERE rk <= $KnnK""".stripMargin

  /** The d17 oracle: the SAME unrolled graph, edges verified at exact
    * cosine ≥ 0.99, then d13's recursive-CTE components + canonical
    * verbatim. */
  private def knnClustersOracleSql: String =
    s"""WITH RECURSIVE $knnGraphCtes,
       |gp AS (SELECT DISTINCT LEAST(v, w) AS vec_a,
       |    GREATEST(v, w) AS vec_b FROM n$KnnRounds),
       |gsc AS (SELECT g.vec_a, g.vec_b FROM gp g
       |  JOIN al sa ON sa.vec_id = g.vec_a
       |  JOIN al sb ON sb.vec_id = g.vec_b
       |  WHERE list_dot_product(sa.v, sb.v)
       |      / (sqrt(list_dot_product(sa.v, sa.v))
       |         * sqrt(list_dot_product(sb.v, sb.v))) >= 0.99),
       |edges AS (SELECT vec_a AS u, vec_b AS v FROM gsc
       |  UNION SELECT vec_b, vec_a FROM gsc),
       |reach(u, v) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT r.u, g.v FROM reach r JOIN edges g ON r.v = g.u),
       |comp AS (SELECT u AS vec_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
       |nrm AS (SELECT vec_id, list_dot_product(v, v) AS nsq FROM al),
       |crk AS (SELECT c.cluster_id, c.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |      ORDER BY n.nsq DESC, c.vec_id ASC) AS rk,
       |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
       |  FROM comp c JOIN nrm n USING (vec_id)),
       |keep AS (SELECT cluster_id, vec_id AS keep_id, n_members
       |  FROM crk WHERE rk = 1)
       |SELECT c.vec_id, c.cluster_id, k.keep_id, k.n_members
       |FROM comp c JOIN keep k USING (cluster_id)""".stripMargin

  /** The s36 oracle: the SAME walk CTEs at [[KnnBeamWidth]], but the
    * answer ranks the UNION of every hop's candidate set (each wc$t is
    * exactly the frame the engine scores at hop t), best
    * [[KnnEfTopK]] per query by (exact distance, id). */
  private def knnEfOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(KnnBeamWidth)},
       |vis AS (${(1 to KnnSearchHops)
          .map(t => s"SELECT qid, cand FROM wc$t").mkString("\n  UNION\n  ")})
       |SELECT qid, cand AS nn_id, CAST(dd AS BIGINT) AS d,
       |  CAST(rk AS INTEGER) AS rk
       |FROM (SELECT h.qid, h.cand,
       |    ${sqlDist("q.x", "f.x")} AS dd,
       |    ROW_NUMBER() OVER (PARTITION BY h.qid
       |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, h.cand ASC) AS rk
       |  FROM vis h JOIN fx f ON f.vec_id = h.cand
       |  JOIN fx q ON q.vec_id = h.qid
       |  WHERE h.cand <> h.qid)
       |WHERE rk <= $KnnEfTopK""".stripMargin

  /** The s40 oracle: the SAME walk + visited union as s36, answer
    * restricted to the query's label class (lb = labels with the
    * twin inheritance union — one statement of the engine's lab
    * frame), re-ranked within the filtered set. */
  private def knnFilteredOracleSql: String =
    s"""WITH $knnGraphCtes,
       |${knnWalkCtes(KnnBeamWidth)},
       |vis AS (${(1 to KnnSearchHops)
          .map(t => s"SELECT qid, cand FROM wc$t").mkString("\n  UNION\n  ")}),
       |lb AS (SELECT vec_id, label FROM embeddings
       |  UNION ALL SELECT vec_id + 1000000000, label FROM embeddings)
       |SELECT qid, cand AS nn_id, CAST(dd AS BIGINT) AS d,
       |  CAST(rk AS INTEGER) AS rk
       |FROM (SELECT h.qid, h.cand,
       |    ${sqlDist("q.x", "f.x")} AS dd,
       |    ROW_NUMBER() OVER (PARTITION BY h.qid
       |      ORDER BY ${sqlDist("q.x", "f.x")} ASC, h.cand ASC) AS rk
       |  FROM vis h JOIN fx f ON f.vec_id = h.cand
       |  JOIN fx q ON q.vec_id = h.qid
       |  JOIN lb cl ON cl.vec_id = h.cand
       |  JOIN lb ql ON ql.vec_id = h.qid
       |  WHERE h.cand <> h.qid AND cl.label = ql.label)
       |WHERE rk <= $KnnEfTopK""".stripMargin

  /** The s34 oracle — the restricted insert fold unrolled: the
    * PRE-BATCH graph is the SAME chain generator over the !annBatch
    * subset (n0..n[[KnnRounds]]), then batch seeds (draws over the
    * full id space, band collisions touching the batch, stored-graph
    * expansion of collision partners, symmetrized), the touched set,
    * the merged init lists, and [[KnnInsRounds]] restricted rounds
    * (the same round generator with the touched semi-join). Emits the
    * touched owners' final ranked lists — exactly the rows the engine
    * upserts and reads back. */
  private def knnInsertOracleSql: String =
    s"""WITH $signBaseCte,
       |${knnFxCte("fx", "al")},
       |alx AS (SELECT * FROM al WHERE NOT ($annBatchSqlPred)),
       |bandsx AS (SELECT * FROM bands WHERE NOT ($annBatchSqlPred)),
       |fxx AS (SELECT * FROM fx WHERE NOT ($annBatchSqlPred)),
       |${knnChainCtes("alx", "bandsx", "fxx")},
       |bt AS (SELECT vec_id FROM al WHERE $annBatchSqlPred),
       |cntf AS (SELECT COUNT(*) AS n_nat FROM al
       |  WHERE vec_id < 1000000000),
       |drwb AS (SELECT v, CASE WHEN idx < n_nat THEN idx
       |      ELSE idx - n_nat + 1000000000 END AS w
       |  FROM (SELECT a.vec_id AS v, c.n_nat,
       |      ('0x' || substr(md5(a.vec_id || ':knn' || u.j), 1, 8))::BIGINT
       |        % (2 * c.n_nat) AS idx
       |    FROM bt a, cntf c,
       |         unnest(generate_series(1, $KnnInitDraws)) u(j))),
       |bpb AS (SELECT a.vec_id AS v, b.vec_id AS w
       |  FROM bands a JOIN bt t ON t.vec_id = a.vec_id
       |  JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |    AND b.vec_id <> a.vec_id),
       |gxb AS (SELECT p.v, g.w FROM bpb p
       |  JOIN n$KnnRounds g ON g.v = p.w WHERE g.w <> p.v),
       |sd1 AS (SELECT v, w FROM drwb WHERE v <> w
       |  UNION ALL SELECT v, w FROM bpb
       |  UNION ALL SELECT v, w FROM gxb),
       |seed AS (SELECT DISTINCT v, w FROM (
       |    SELECT v, w FROM sd1
       |    UNION ALL SELECT w AS v, v AS w FROM sd1) WHERE v <> w),
       |ss AS MATERIALIZED (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM seed c JOIN fx fa ON fa.vec_id = c.v
       |  JOIN fx fb ON fb.vec_id = c.w),
       |tch AS MATERIALIZED (SELECT DISTINCT v FROM ss),
       |in0 AS MATERIALIZED (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |    FROM (SELECT g.v, g.w, g.d FROM n$KnnRounds g
       |        JOIN tch t ON t.v = g.v
       |      UNION SELECT v, w, d FROM ss))
       |  WHERE rk <= $KnnK),
       |${(1 to KnnInsRounds).map(r =>
          knnRoundCtes(r, "fx", "i", "\n  JOIN tch t ON t.v = a.p"))
          .mkString(",\n")}
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |  FROM in$KnnInsRounds) WHERE rk <= $KnnK""".stripMargin

  /** The delete fold as CTEs — retired draw, touched survivors, the
    * (surviving own ∪ inherited-from-retired-neighbor) candidate
    * pools, exact rescoring, the healed k-best, and the assembled
    * post-delete graph `pdel` — [[knnDeleteHeal]] statement for
    * statement. ONE generator for s35 (reads `healed`), s37 (refines
    * `pdel`), s38 (aggregates base vs `pdel`); CTEs an oracle doesn't
    * read stay lazy (the bpeChainCte rule). */
  private def knnDeleteCtes: String =
    s"""dl AS (SELECT vec_id FROM al WHERE ${annDelSqlPredOn("vec_id")}),
       |dtch AS (SELECT DISTINCT g.v FROM n$KnnRounds g
       |  JOIN dl d ON d.vec_id = g.w
       |  WHERE g.v NOT IN (SELECT vec_id FROM dl)),
       |own AS (SELECT g.v, g.w FROM n$KnnRounds g
       |  JOIN dtch t ON t.v = g.v
       |  WHERE g.w NOT IN (SELECT vec_id FROM dl)),
       |inh AS (SELECT a.v, b.w FROM n$KnnRounds a
       |  JOIN dtch t ON t.v = a.v
       |  JOIN dl d ON d.vec_id = a.w
       |  JOIN n$KnnRounds b ON b.v = a.w
       |  WHERE b.w NOT IN (SELECT vec_id FROM dl) AND b.w <> a.v),
       |pool AS (SELECT DISTINCT v, w FROM (
       |    SELECT v, w FROM own UNION ALL SELECT v, w FROM inh)),
       |psc AS (SELECT c.v, c.w,
       |    CAST(${sqlDist("fa.x", "fb.x")} AS BIGINT) AS d
       |  FROM pool c JOIN fx fa ON fa.vec_id = c.v
       |  JOIN fx fb ON fb.vec_id = c.w),
       |healed AS (SELECT v, w, d FROM (
       |    SELECT v, w, d, ROW_NUMBER() OVER
       |      (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM psc)
       |  WHERE rk <= $KnnK),
       |pdel AS (SELECT g.v, g.w, g.d FROM n$KnnRounds g
       |  WHERE g.v NOT IN (SELECT vec_id FROM dl)
       |    AND g.v NOT IN (SELECT v FROM dtch)
       |  UNION ALL SELECT v, w, d FROM healed)""".stripMargin

  /** The s35 oracle — the heal unrolled over the full-corpus chain,
    * ranked. */
  private def knnDeleteOracleSql: String =
    s"""WITH $knnGraphCtes,
       |$knnDeleteCtes
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk FROM healed)
       |WHERE rk <= $KnnK""".stripMargin

  /** The s37 oracle — the post-delete graph refined through the SAME
    * round generator ([[knnRoundCtes]], prefix `g`, no restriction —
    * the warm-start rounds are unrestricted), final graph ranked. */
  private def knnRefineOracleSql: String =
    s"""WITH $knnGraphCtes,
       |$knnDeleteCtes,
       |gn0 AS MATERIALIZED (SELECT v, w, d FROM pdel),
       |${(1 to KnnRefineRounds).map(r =>
          knnRoundCtes(r, "fx", "g")).mkString(",\n")}
       |SELECT v AS vec_id, w AS nn_id, d, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT v, w, d, ROW_NUMBER() OVER
       |    (PARTITION BY v ORDER BY d ASC, w ASC) AS rk
       |  FROM gn$KnnRefineRounds) WHERE rk <= $KnnK""".stripMargin

  /** The s38 oracle — [[graphDriftStats]] restated: per-owner
    * (length, energy), rolled up per store partition (pt = v mod
    * [[KnnGraphParts]] — deterministic, so it IS oracle-visible),
    * base generation LEFT-joined to the post-delete state. */
  private def graphDriftOracleSql: String =
    s"""WITH $knnGraphCtes,
       |$knnDeleteCtes,
       |bow AS (SELECT v, COUNT(*) AS len, SUM(d) AS sd
       |  FROM n$KnnRounds GROUP BY v),
       |bst AS (SELECT CAST(v % $KnnGraphParts AS INTEGER) AS pt,
       |    COUNT(*) AS base_owners, CAST(SUM(len) AS BIGINT) AS base_edges,
       |    CAST(SUM(CASE WHEN len < $KnnK THEN 1 ELSE 0 END) AS BIGINT)
       |      AS base_thin,
       |    CAST(SUM(sd) AS BIGINT) AS base_sum_d
       |  FROM bow GROUP BY 1),
       |nowo AS (SELECT v, COUNT(*) AS len, SUM(d) AS sd
       |  FROM pdel GROUP BY v),
       |nst AS (SELECT CAST(v % $KnnGraphParts AS INTEGER) AS pt,
       |    COUNT(*) AS now_owners, CAST(SUM(len) AS BIGINT) AS now_edges,
       |    CAST(SUM(CASE WHEN len < $KnnK THEN 1 ELSE 0 END) AS BIGINT)
       |      AS now_thin,
       |    CAST(SUM(sd) AS BIGINT) AS now_sum_d
       |  FROM nowo GROUP BY 1)
       |SELECT b.pt, b.base_owners, b.base_edges, b.base_thin, b.base_sum_d,
       |  CAST(coalesce(n.now_owners, 0) AS BIGINT) AS now_owners,
       |  CAST(coalesce(n.now_edges, 0) AS BIGINT) AS now_edges,
       |  CAST(coalesce(n.now_thin, 0) AS BIGINT) AS now_thin,
       |  CAST(coalesce(n.now_sum_d, 0) AS BIGINT) AS now_sum_d,
       |  CAST(b.base_sum_d AS DOUBLE) / b.base_edges AS mean_d_base,
       |  CASE WHEN coalesce(n.now_edges, 0) > 0
       |    THEN CAST(n.now_sum_d AS DOUBLE) / n.now_edges END AS mean_d_now
       |FROM bst b LEFT JOIN nst n USING (pt)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // k-NN GRAPH construction by NN-descent (Dong et al., WWW 2011) —
    // the whole-corpus neighbor structure (k best per vector, not a
    // 10-query probe) SemDeDup-class pipelines build before
    // clustering. Init = md5 exploration draws ∪ sign-band
    // collisions; per round, neighbors-of-neighbors through the
    // symmetrized (forward ∪ k-capped reverse) lists are scored in
    // exact int64 and each list keeps its k best under (d, id) —
    // candidate volume ≤ (2k)²·N per round, never all-pairs, and
    // every step is deterministic, so the oracle unrolls the rounds
    // (the s13 Lloyd discipline). Emits (vec_id, nn_id, d, rk).
    "s29_knn_graph" -> ((s, dir) => knnRanked(knnDescentGraph(
      graft.ops.Subplan.once(withPlantedTwins(emb(s, dir)))))),

    // GREEDY GRAPH SEARCH over the s29 graph — the read-path
    // primitive of every graph-ANN index (HNSW layer-0 / NSG /
    // DiskANN all walk a neighbor graph greedily): fixed entry
    // vertex, per hop move to the best of {current} ∪ N(current) by
    // exact distance, (d, id) tie-breaks, fixed unrolled hop budget
    // (descent is monotone, so post-fixpoint hops are idempotent).
    // Per-query work after construction: ≤ (k+1)·hops candidates —
    // corpus-INDEPENDENT, the property billion-scale stores buy with
    // graph construction. One knnDescentGraph definition with
    // s29/d17.
    "s31_knn_graph_search" -> ((s, dir) => knnSearchQuery(s, dir)),

    // BEAM search over the s29 graph — HNSW's ef knob on s31's walk
    // (ONE knnBeamWalk loop; greedy IS its beam-1 case): the frontier
    // keeps the KnnBeamWidth best visited vertices per hop, escaping
    // the single-path local minima greedy descent stops in, for B×
    // hop work that stays corpus-independent. Emits the final
    // frontier ranked (qid, nn_id, d, rk).
    "s33_knn_beam_search" -> ((s, dir) =>
      knnWalkQuery(s, dir, beam = KnnBeamWidth)),

    // BATCH INSERT into the landed k-NN graph — the graph family's
    // missing CRUD arc (s18/s22 gave it to both IVF forms): descent
    // RESTRICTED to the batch's touched neighborhood (seeds = md5
    // draws + band collisions + stored-graph expansion, symmetrized;
    // KnnInsRounds rounds over the fixed touched set), then a
    // whole-key-group dynamic-partition upsert of exactly the touched
    // owners' lists. Per-batch work scales with the touched
    // neighborhood, never the corpus. Emits the touched owners'
    // ranked lists read back from the upserted store.
    "s34_knn_graph_insert" -> ((s, dir) => knnGraphInsertQuery(s, dir)),

    // BATCH DELETE from the landed k-NN graph — s34's reverse half:
    // the ':del' 1/16 retirement draw drops its owners' rows and
    // every surviving list that referenced a retired id HEALS from
    // (its own surviving edges ∪ the retired neighbors' surviving
    // lists), rescored exactly. No dangling edge survives; emptied
    // partitions drop explicitly (the s24 discipline). Emits the
    // healed owners' ranked lists from the post-delete store.
    "s35_knn_graph_delete" -> ((s, dir) => knnGraphDeleteQuery(s, dir)),

    // EF-SEARCH over the landed graph — s33's walk (ONE
    // knnBeamWalkFull loop), answering with the best KnnEfTopK of the
    // VISITED set instead of the final frontier (HNSW's ef-search
    // return semantics): the walk scores every visited vertex anyway,
    // so the deeper answer costs one bounded-heap agg — and k may
    // exceed the beam width, which the frontier never can.
    "s36_knn_efsearch" -> ((s, dir) => knnEfSearchQuery(s, dir)),

    // FILTERED graph search — s23/s26's query-time label predicate on
    // the GRAPH read path (every index family now has its filtered
    // read): the UNfiltered s36 walk, answer = best k of the visited
    // set WITHIN the query's label class; the filter costs one label
    // fetch restricted to the bounded visited frame.
    "s40_filtered_knn_search" -> ((s, dir) =>
      knnFilteredSearchQuery(s, dir)),

    // GRAPH REFINE — the s32-rebuild analogue closing the graph
    // lifecycle (build s29 → land → search s31/s33/s36 → insert s34 →
    // delete s35 → drift-detect s38 → refine s37): the post-delete
    // heal is LOCAL (own + retired-neighbors' survivors — lists come
    // back thin or suboptimal), so the refresh runs KnnRefineRounds
    // warm-start descent rounds over the survivor graph (no re-init
    // scan — the cheap rebuild NN-descent uniquely offers) and lands
    // a NEW generation store. Emits the refined graph ranked.
    "s37_knn_graph_refine" -> ((s, dir) => knnGraphRefineQuery(s, dir)),

    // GRAPH DRIFT — s30's discipline for the graph family, the
    // signal that schedules s37: per-partition owner/edge counts,
    // THIN-list count (< k — the heal's scar), and exact int64 edge
    // energy, base generation vs the post-delete state (LEFT join:
    // an emptied partition still reports, zeroed).
    "s38_knn_graph_drift" -> ((s, dir) => graphDriftQuery(s, dir)),

    // The k-NN graph as the DEDUP edge source — s29's edges verified
    // at exact cosine ≥ 0.99, then d13's contraction + canonical
    // (embClusterDecision — ONE decision layer, pair-source-
    // agnostic). The SemDeDup composition: a graph edge set instead
    // of band collisions, the decision unchanged.
    "d17_knn_graph_clusters" -> ((s, dir) => knnClustersQuery(s, dir))
  )

  val oracle: Map[String, String] = Map(
    "s29_knn_graph" -> knnGraphOracleSql,
    "s31_knn_graph_search" -> knnSearchOracleSql,
    "s33_knn_beam_search" -> knnBeamOracleSql,
    "s34_knn_graph_insert" -> knnInsertOracleSql,
    "s35_knn_graph_delete" -> knnDeleteOracleSql,
    "s36_knn_efsearch" -> knnEfOracleSql,
    "s37_knn_graph_refine" -> knnRefineOracleSql,
    "s38_knn_graph_drift" -> graphDriftOracleSql,
    "s40_filtered_knn_search" -> knnFilteredOracleSql,
    "d17_knn_graph_clusters" -> knnClustersOracleSql
  )
}
