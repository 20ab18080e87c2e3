package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid (lexical + vector) retrieval — reciprocal-rank fusion of
  * the engine's two ranker families: the blocked inverted index
  * (t19's layout, [[Text.blockedEntries]] — ONE build statement with
  * t19/t21) scores a term query, the landed trained-IVF index
  * ([[Similarity.s15Store]] — the s15/s23/s39/s41 store, now with a
  * fifth reader) scores the query's embedding, and each item's fused
  * score is RRF (Cormack, Clarke & Buettcher, SIGIR 2009):
  * score(i) = Σ_lists 1/(K + rank_i). The composition shape is the
  * reference's keyed-read join of two result families on the query
  * key (segment.py:103-116).
  *
  * Query model: the registered 10-query frame — query qid's TERMS are
  * document qid's text, its VECTOR is embedding qid (the hybrid-item
  * premise: one id space, items carrying both modalities; items with
  * one modality still rank in that modality's list — RRF fuses
  * whatever each ranker returns, so doc-only ids can win lexically).
  *
  * Exact-integer discipline: ranks are ints, so RRF rides ONE
  * rational-sum statement — every contribution is [[RrfC]] div
  * (K + rank) with C = Π (K+1 .. K+TopK), which each denominator
  * divides EXACTLY; fused scores are integer sums, hash-portable,
  * and order-equal to the textbook 1/(K+r) sum scaled by C. The
  * lexical ranker's term weights are exact integers too:
  * tf · qtf · (qlog2(N+1) − qlog2(df+1)) — the t29 quantized-log
  * idf, nonnegative because df ≤ N.
  *
  * Scale stance (100 TB): the query side (terms, idf weights, probe
  * cells) is bounded by |queries| and broadcasts; the postings scan
  * streams map-side through the broadcast term join and aggregates
  * (qid, item) partials; the vector side is the s15 pruned probe.
  * Nothing corpus-sized ever shuffles on an unbounded key, and the
  * fusion operates on ≤ 2·TopK·|queries| rows. A doc ranked top-5 by
  * BOTH lists always outranks any single-list doc: min two-list
  * score 2C/(K+TopK) > max one-list score C/(K+1) at these knobs
  * (ExtSpec pins the property and a JVM fusion replay).
  */
object Hybrid {

  /** RRF smoothing constant — the paper's K = 60. */
  private[graft] val RrfK = 60L

  /** Per-list depth and fused answer depth. */
  private[graft] val RrfTopK = 5

  /** The exact-rational scale: Π (K+1 .. K+TopK), divisible by every
    * possible denominator, so `RrfC div (K + rank)` is EXACT and the
    * integer fused score orders identically to Σ 1/(K+rank). */
  private[graft] val RrfC: Long =
    (RrfK + 1 to RrfK + RrfTopK).product

  /** THE landed full-corpus retrieval index — t19's blocked-postings
    * layout in a stored table (the knnGraphStore economics: built
    * once, probed per query). Deliberately its OWN namespace: the
    * t21_index store's contract is the PRE-batch corpus (t21
    * maintains it); a retrieval operator answers over the whole
    * corpus. */
  private def t39Index(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionStore.storedOrBuild(s, "t39_index", dir,
      Seq("term", "block")) {
      Text.blockedEntries(Text.docs(s, dir)
        .select(col("doc_id"), col("text")))
    }

  /** The t39 body — see the object Scaladoc. Emits the fused
    * (qid, item_id, rrf, rk ≤ [[RrfTopK]]). */
  private def hybridRrfQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.QLog2.qlog2
    val d = Text.docs(s, dir)
    // Query terms: bounded (10 docs' vocabulary) — checkpointed once,
    // broadcast into every probe.
    val qterms = graft.ops.Subplan.once(
      d.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), explode(Text.toks).as("term"))
        .groupBy(col("qid"), col("term")).agg(count(lit(1)).as("qtf")))
    val idx = t39Index(s, dir)
    // Integer idf per QUERY term (semi-restricted before the df agg —
    // only the bounded query vocabulary aggregates): df = Σ blocks'
    // entry counts; the corpus count rides a ConstKey single-row
    // broadcast (the knnInitDraws rule).
    val nd = d.agg(count(lit(1)).as("n"))
      .withColumn("one", graft.ops.ConstKey.one(col("n")))
    val df = idx
      .join(broadcast(qterms.select(col("term")).distinct()),
        Seq("term"), "left_semi")
      .groupBy(col("term")).agg(sum(size(col("entries")).cast("long")).as("df"))
    val w = df.withColumn("one", graft.ops.ConstKey.one(col("df")))
      .join(broadcast(nd), "one")
      .select(col("term"),
        (qlog2(col("n") + 1) - qlog2(col("df") + 1)).as("idfq"))
    val qw = qterms.join(w, Seq("term"))
    // Lexical scores: the postings scan streams through the broadcast
    // query-term join; contributions partial-aggregate on (qid, item).
    val lexScore = idx.join(broadcast(qw), Seq("term"))
      .select(col("qid"), explode(col("entries")).as("e"),
        (col("qtf") * col("idfq")).as("wt"))
      .filter(col("e.doc_id") =!= col("qid"))
      .select(col("qid"), col("e.doc_id").as("item_id"),
        (col("e.tf") * col("wt")).as("c"))
      .groupBy(col("qid"), col("item_id")).agg(sum(col("c")).as("score"))
    val lex = lexScore.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("score"), (-col("item_id")).as("ni"), col("item_id")),
        RrfTopK).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.item_id").as("item_id"),
        (col("pos") + 1).cast("int").as("rk"))
    // Vector list: the s15 landed-store probe verbatim (the s15 read
    // path — kmProbeCells' 2-cell broadcast + kmProbedTop5).
    lazy val fxOf = graft.ops.Subplan.once(
      Similarity.emb(s, dir).select(col("vec_id"), col("label"), col("v"),
        Similarity.fixedPoint(col("v")).as("x")))
    val (cents, post) = Similarity.s15Store(s, dir, fxOf)
    val q = Similarity.emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), Similarity.fixedPoint(col("v")).as("x"))
    val vec = Similarity.kmProbedTop5(
        post.select(col("vec_id"), col("v"), col("cid")),
        Similarity.kmProbeCells(q, cents))
      .select(col("qid"), col("nn_id").as("item_id"), col("rk"))
    // Fusion: ONE rational-sum statement over both ranked lists.
    val fused = lex.unionByName(vec)
      .select(col("qid"), col("item_id"),
        expr(s"${RrfC}L div (${RrfK}L + rk)").as("c"))
      .groupBy(col("qid"), col("item_id")).agg(sum(col("c")).as("rrf"))
    fused.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("rrf"), (-col("item_id")).as("ni"), col("item_id")),
        RrfTopK).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.item_id").as("item_id"),
        col("col.rrf").as("rrf"), (col("pos") + 1).cast("int").as("rk"))
  }

  // ---------------------------------------------------------------
  // t40 — BM25 ranking over the SAME landed index (Robertson &
  // Zaragoza 2009; the Lucene practical form), completing the lexical
  // ranker family: t39's idf-weighted tf is the fusion-friendly
  // integer ranker; BM25 adds tf saturation (k1) and document-length
  // normalization (b) — the production default every retrieval stack
  // ships. Exact-integer discipline: with k1 = 6/5 and b = 3/4 the
  // per-term score is the rational
  //   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  //     = idf · 44·A·tf / (20·tf·A + 6·A + 18·dl·N)
  // (A = total corpus tokens, N = docs — both integers). To keep the
  // int64 headroom corpus-independent, the relative length folds into
  // ONE per-doc fixed-point quantity Ldq = (dl·N·2¹⁰) div A, and the
  // per-term score is the quantized
  //   s = (idf · 44·tf · 2¹⁰) div (20480·tf + 6144 + 18·Ldq)
  // — every operation exact integer (Spark `div` ≡ DuckDB `//` on
  // nonnegative operands), so scores hash-match; this is BM25 with a
  // 2⁻¹⁰-quantized length norm, stated as such. idf is the Lucene
  // log(1 + (N−df+½)/(df+½)) = log((2N+2)/(2df+1)), always positive,
  // as the qlog2 difference ql(2N+2) − ql(2df+1). Query terms are
  // DISTINCT (the short-query BM25 convention; qtf weighting is
  // t39's ranker). dl comes from a landed doc-length table built
  // FROM the stored postings (the s39_cellstats discipline — stats
  // and index can never describe different corpora). Scale: query
  // side broadcasts; candidates (docs sharing a query term) join the
  // dl table by ONE linear doc_id shuffle — corpus-proportional at
  // worst, deliberately not broadcast (the d20 rule).
  // ---------------------------------------------------------------

  /** BM25 length-norm quantization scale (2¹⁰). */
  private[graft] val Bm25Scale = 1024L

  /** The ONE per-doc length statement — [[t40DocLen]]'s build body and
    * ExtSpec's synthetic-corpus twin. */
  private[graft] def docLenOf(idx: DataFrame): DataFrame =
    idx.select(explode(col("entries")).as("e"))
      .groupBy(col("e.doc_id").as("doc_id"))
      .agg(sum(col("e.tf")).as("dl"))

  /** The landed per-doc token-length table — built FROM [[t39Index]]
    * (never from a second corpus scan), so index and lengths always
    * describe the same corpus. */
  private def t40DocLen(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionStore.storedOrBuild(s, "t40_dl", dir,
      Seq("doc_id")) { docLenOf(t39Index(s, dir)) }

  /** Corpus stats (n docs, a total tokens) as a ConstKey'd single row. */
  private def bm25StatsOf(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("a"))
      .withColumn("one", graft.ops.ConstKey.one(col("n")))

  /** Per-term quantized Lucene idf — ql(2N+2) − ql(2df+1), always
    * positive; df aggregated over the index, restricted to `vocab`
    * when the caller only needs query terms (t40's probe), global
    * when every term's weight is wanted (the t42 impacts build). */
  private def bm25IdfOf(idx: DataFrame, stats: DataFrame,
      vocab: Option[DataFrame]): DataFrame = {
    import graft.functions.QLog2.qlog2
    val base = vocab.map(v =>
        idx.join(broadcast(v), Seq("term"), "left_semi"))
      .getOrElse(idx)
    base.groupBy(col("term"))
      .agg(sum(size(col("entries")).cast("long")).as("df"))
      .withColumn("one", graft.ops.ConstKey.one(col("df")))
      .join(broadcast(stats), "one")
      .select(col("term"),
        (qlog2(lit(2L) * col("n") + 2) - qlog2(lit(2L) * col("df") + 1))
          .as("idfq"))
  }

  /** The 2⁻¹⁰-quantized relative doc length Ldq = (dl·N·2¹⁰) div A. */
  private def bm25LdOf(dl: DataFrame, stats: DataFrame): DataFrame =
    dl.withColumn("one", graft.ops.ConstKey.one(col("dl")))
      .join(broadcast(stats), "one")
      .select(col("doc_id").as("item_id"),
        expr(s"(dl * n * $Bm25Scale) div a").as("ldq"))

  /** THE quantized per-term BM25 contribution over (idfq, tf, ldq) —
    * one text for t40's scoring, the t42 impacts build, and the t42
    * probe, so the upper bounds and the scores can never drift. */
  private[graft] val Bm25Contrib: String =
    s"(idfq * 44L * tf * $Bm25Scale) div " +
      s"(${20 * Bm25Scale} * tf + ${6 * Bm25Scale} + 18L * ldq)"

  /** THE BM25 scoring statement: postings stream through the
    * broadcast query-side join (keyed on term, or on (term, block)
    * when the query side carries admitted blocks — t42), entries
    * explode, self is excluded, the per-doc quantized length attaches
    * by ONE linear doc_id join (deliberately not broadcast — the d20
    * rule), contributions partial-aggregate on (qid, item). */
  private def bm25ScoredOver(idx: DataFrame, qside: DataFrame,
      ld: DataFrame, keys: Seq[String]): DataFrame =
    idx.join(broadcast(qside), keys)
      .select(col("qid"), explode(col("entries")).as("e"), col("idfq"))
      .filter(col("e.doc_id") =!= col("qid"))
      .select(col("qid"), col("e.doc_id").as("item_id"),
        col("e.tf").as("tf"), col("idfq"))
      .join(ld, Seq("item_id"))
      .select(col("qid"), col("item_id"), expr(Bm25Contrib).as("c"))
      .groupBy(col("qid"), col("item_id")).agg(sum(col("c")).as("score"))

  /** The bounded-heap top-[[RrfTopK]] tail under (score desc, id asc). */
  private def bm25Top(scored: DataFrame): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("score"), (-col("item_id")).as("ni"), col("item_id")),
        RrfTopK).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.item_id").as("item_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rk"))

  /** Distinct query terms of the registered 10-doc query frame. */
  private def bm25QTerms(s: SparkSession, dir: String): DataFrame =
    graft.ops.Subplan.once(Text.docs(s, dir)
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"), explode(Text.toks).as("term"))
      .distinct())

  /** The t40 probe over FRAME inputs — exposed so ExtSpec can drive
    * the identical statement over a synthetic corpus beside the t42
    * pruned probe. */
  private[graft] def bm25Over(idx: DataFrame, dl: DataFrame,
      qterms: DataFrame): DataFrame = {
    val stats = bm25StatsOf(dl)
    val w = bm25IdfOf(idx, stats,
      Some(qterms.select(col("term")).distinct()))
    val qw = qterms.join(w, Seq("term"))
    bm25Top(bm25ScoredOver(idx, qw, bm25LdOf(dl, stats), Seq("term")))
  }

  private def bm25Query(s: SparkSession, dir: String): DataFrame =
    bm25Over(t39Index(s, dir), t40DocLen(s, dir), bm25QTerms(s, dir))

  // ---------------------------------------------------------------
  // t42 — BLOCK-MAX WAND pruned BM25 top-k (Broder et al., CIKM 2003;
  // Ding & Suel, SIGIR 2011 — Lucene's default since 8.0): t40 scores
  // EVERY candidate sharing a query term; production lexical
  // retrieval skips postings blocks whose score upper bounds cannot
  // reach the running k-th score. Relational form, the t37 two-phase
  // discipline:
  //   stats : a per-(term, block) MAX-IMPACT table lands beside the
  //     stored postings, built FROM the index + the landed lengths
  //     (the s39_cellstats rule — bounds and postings can never
  //     describe different corpora). BM25's per-term contribution is
  //     query-INDEPENDENT (distinct query terms select terms, never
  //     reweight them), so the stored bound is the exact max of the
  //     [[Bm25Contrib]] values in the block — the tightest bound that
  //     exists.
  //   phase 1 (threshold): per (qid, term) the single highest-impact
  //     block seeds; the seed blocks score EXACTLY through the ONE
  //     scoring statement, and θ_q = the 5th-best seeded per-doc
  //     score (0 when fewer) — a valid lower bound on the true 5th
  //     best, because partial scores under-estimate and the seeded
  //     docs are a subset.
  //   phase 2 (admit + score): a block admits iff Σ_{t∈q} ub(t, b)
  //     ≥ θ_q — a skipped block's every doc has full score ≤ ub < θ
  //     ≤ the true 5th best, so the answer ≡ t40 unconditionally
  //     (ONE oracle states both — the s39 verify-exact philosophy;
  //     ExtSpec pins admitted < candidate blocks on a skewed corpus
  //     while the answers stay equal).
  // Scale: the admission pass touches (query-vocab × block) METADATA
  // rows — 1/[[Text.PostingsBlock]] of the candidate entry volume,
  // never exploding postings — and only admitted blocks explode and
  // score (the join key carries block, PlanSpec pins it). The impacts
  // build is one linear index pass, landed once.
  // ---------------------------------------------------------------

  /** Phase-1 seed depth: the TopK highest-impact blocks per (query,
    * term) score exactly to set θ — see the seed-site comment for why
    * 1 is not enough and why deeper never hurts correctness. */
  private[graft] val BmwSeedBlocks = RrfTopK

  /** The ONE impacts-build statement — per-(term, block) exact max of
    * [[Bm25Contrib]]; the store's build body and ExtSpec's twin. The
    * idf side is GLOBAL (every term gets its bound); the length join
    * is the linear d20-rule join. */
  private[graft] def impactsOf(idx: DataFrame, dl: DataFrame): DataFrame = {
    val stats = bm25StatsOf(dl)
    idx.join(bm25IdfOf(idx, stats, None), Seq("term"))
      .select(col("term"), col("block"),
        explode(col("entries")).as("e"), col("idfq"))
      .select(col("term"), col("block"),
        col("e.doc_id").as("item_id"), col("e.tf").as("tf"), col("idfq"))
      .join(bm25LdOf(dl, stats), Seq("item_id"))
      .select(col("term"), col("block"), expr(Bm25Contrib).as("c"))
      .groupBy(col("term"), col("block")).agg(max(col("c")).as("ub"))
  }

  /** The landed max-impact table — built FROM the stored index and
    * the stored lengths (never a second corpus scan). */
  private def t42Impacts(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionStore.storedOrBuild(s, "t42_imp", dir,
      Seq("term", "block")) {
      impactsOf(t39Index(s, dir), t40DocLen(s, dir))
    }

  /** The t42 probe over FRAME inputs — returns (candidate (qid,
    * block) pairs, admitted (qid, block) pairs, the top-5 answer) so
    * ExtSpec can pin admitted < candidates while answer ≡ [[bm25Over]]
    * on the same frames. */
  private[graft] def bmwOver(idx: DataFrame, dl: DataFrame,
      imp: DataFrame, qterms: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val stats = bm25StatsOf(dl)
    val w = bm25IdfOf(idx, stats,
      Some(qterms.select(col("term")).distinct()))
    val qw = graft.ops.Subplan.once(qterms.join(w, Seq("term")))
    val ld = bm25LdOf(dl, stats)
    // Per-(qid, term, block) bounds: the impacts scan streams through
    // the broadcast query-vocab join — metadata rows only.
    val qimp = graft.ops.Subplan.once(
      imp.join(broadcast(qw.select(col("qid"), col("term")).distinct()),
        Seq("term")))
    // Phase 1: per (qid, term) the [[BmwSeedBlocks]] highest-impact
    // blocks (ties: lowest block), exact-scored through the ONE
    // statement. Seeding TopK blocks per term (not 1) matters: with a
    // single seed, a query whose rare terms post ≤ 1 entry per block
    // surfaces fewer than TopK real candidates and θ collapses to the
    // hot-term noise floor (quantized idf of a ubiquitous term is ~1,
    // never exactly 0), admitting everything — measured in the
    // synthetic-regime WAND probe (PLANS.md, "t42 seed depth").
    // Deeper seeds only RAISE θ (the
    // 5th best over a superset of true partial scores), so the
    // admission bound stays valid and skipping only improves.
    val seedBlocks = qimp.groupBy(col("qid"), col("term"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("ub"), (-col("block")).as("nb"), col("block")),
        BmwSeedBlocks).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.block").as("block")).distinct()
    val p1 = bm25ScoredOver(idx,
      qw.join(seedBlocks, Seq("qid")), ld, Seq("term", "block"))
    val theta = p1.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("score")), RrfTopK).as("top"))
      .select(col("qid"),
        when(size(col("top")) === RrfTopK,
          element_at(col("top"), RrfTopK).getField("score"))
          .otherwise(lit(0L)).as("theta"))
    // Phase 2: admit blocks whose summed per-term bounds can reach θ.
    val cand = qimp.select(col("qid"), col("block")).distinct()
    val admitted = qimp.groupBy(col("qid"), col("block"))
      .agg(sum(col("ub")).as("ub"))
      .join(broadcast(theta), Seq("qid"), "left")
      .filter(col("ub") >= coalesce(col("theta"), lit(0L)))
      .select(col("qid"), col("block"))
    val answer = bm25Top(bm25ScoredOver(idx,
      qw.join(admitted, Seq("qid")), ld, Seq("term", "block")))
    (cand, admitted, answer)
  }

  private def bmwQuery(s: SparkSession, dir: String): DataFrame =
    bmwOver(t39Index(s, dir), t40DocLen(s, dir), t42Impacts(s, dir),
      bm25QTerms(s, dir))._3

  // ---------------------------------------------------------------
  // t41 — PHRASE MATCH over a POSITIONAL index, completing the
  // inverted-index family (t19 build, t21 maintain, t39 fuse, t40
  // BM25, t41 phrase): the contamination/provenance query shape that
  // needs exact CONSECUTIVE-token evidence, not bag-of-words rank
  // (quote detection, benchmark-leak tracing — d12/t13's question
  // answered from a LANDED index instead of a corpus rescan).
  // Positional postings land once ((term, block) rows carrying
  // (doc_id, pos) entries — t19's blocked layout with positions);
  // a phrase probe is pure relational alignment: each phrase term i
  // joins the index, every occurrence votes for anchor = pos − i,
  // and an anchor with ALL [[PhraseLen]] distinct-i votes is an
  // exact occurrence. Per-query cost = Σ phrase-term postings — the
  // t39/t40 probe economics; nothing rescans text.
  // ---------------------------------------------------------------

  /** Phrase length of the registered probe — each query doc's first
    * 3 tokens (its own opening trigram; the planted PressPlant doc's
    * opening trigram ties the fixture to guaranteed matches). */
  private[graft] val PhraseLen = 3

  /** The contamination-gram probe length — d09's repeated-span gram
    * width, tying the positional index to the span-dedup family's
    * gram discipline (t44 probes the SAME [[t41Pos]] store at this
    * width: one store, two probes — the s15/s23 rule). */
  private[graft] val PhraseLen5 = 5

  /** The t41 corpus — d11/d21's PressPlant planting (doc_id % 20 == 4
    * docs share one verbatim paragraph), so exact cross-doc phrase
    * occurrences exist by construction. */
  private def t41Corpus(s: SparkSession, dir: String): DataFrame =
    Text.docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 20 === 4, lit(Dedup.PressPlant))
        .otherwise(col("text")).as("text"))

  /** The landed POSITIONAL postings — (term, block, entries:
    * array<struct<doc_id, pos>>), t19's blocked row-size discipline
    * with occurrence positions kept. */
  private def t41Pos(s: SparkSession, dir: String): DataFrame =
    graft.sources.SessionStore.storedOrBuild(s, "t41_pos", dir,
      Seq("term", "block")) {
      t41Corpus(s, dir)
        .select(col("doc_id"), posexplode(Text.toks).as(Seq("pos", "term")))
        .withColumn("block", expr(s"doc_id div ${Text.PostingsBlock}"))
        .groupBy(col("term"), col("block"))
        .agg(collect_list(struct(col("doc_id"), col("pos"))).as("entries"))
    }

  /** The phrase probe, parameterized over the gram length — ONE body
    * for the trigram t41 and the 5-gram t44, both over the SAME
    * landed positional store. */
  private def phraseMatchQuery(s: SparkSession, dir: String,
      len: Int = PhraseLen): DataFrame = {
    val q0 = t41Corpus(s, dir).filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"),
        posexplode(slice(Text.toks, 1, len)).as(Seq("i", "term")))
    // Only full-length phrases probe (a query doc with fewer tokens
    // has no such gram to ask about — emitted nowhere, honestly).
    val qn = q0.groupBy(col("qid")).agg(count(lit(1)).as("nq"))
      .filter(col("nq") === len).select(col("qid"))
    val q = q0.join(broadcast(qn), Seq("qid"), "left_semi")
    val votes = t41Pos(s, dir).join(broadcast(q), Seq("term"))
      .select(col("qid"), col("i"), explode(col("entries")).as("e"))
      .filter(col("e.doc_id") =!= col("qid"))
      .select(col("qid"), col("i"), col("e.doc_id").as("doc_id"),
        (col("e.pos") - col("i")).as("anchor"))
    votes.groupBy(col("qid"), col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === len && col("anchor") >= 0)
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"),
        min(col("anchor")).cast("long").as("first_pos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PHRASE MATCH over the landed positional index — every doc
    // containing the query's exact opening trigram, with occurrence
    // count and first position; see the t41 block comment.
    "t41_phrase_match" -> ((s, dir) => phraseMatchQuery(s, dir)),
    // The 5-GRAM probe over the SAME positional store — the
    // contamination gram width (d09's span discipline); one store,
    // two probes (the s15/s23 rule), one parameterized body.
    "t44_phrase_5gram" -> ((s, dir) =>
      phraseMatchQuery(s, dir, PhraseLen5)),
    // HYBRID RETRIEVAL — RRF fusion of the inverted-index term top-5
    // and the landed trained-IVF vector top-5, per query; see the
    // object Scaladoc.
    "t39_hybrid_rrf" -> ((s, dir) => hybridRrfQuery(s, dir)),

    // BM25 top-5 over the SAME landed index — tf saturation +
    // quantized length normalization, exact integers end to end; see
    // the t40 block comment.
    "t40_bm25_topk" -> ((s, dir) => bm25Query(s, dir)),

    // BLOCK-MAX-WAND pruned BM25 top-5 — t40's exact answer from a
    // bound-pruned probe over the landed max-impact table; see the
    // t42 block comment.
    "t42_bm25_wand" -> ((s, dir) => bmwQuery(s, dir))
  )

  // The oracle: the lexical ranker restated naively (tokenize → tf →
  // df → quantized-log idf from the ONE qlog recurrence → scores →
  // ROW_NUMBER top-5), the vector ranker as the s13/s15 probe chain
  // (the ONE kmeansChainCtes text), and the fusion as the naive
  // integer rational-sum + ROW_NUMBER — the engine's landed stores
  // and bounded-heap ranks must match the naive statements end to
  // end (storage topology is PlanSpec's to pin, never the oracle's).
  /** The ONE naive positional-phrase oracle text, parameterized over
    * the gram length — tokenize with positions, the same planted
    * corpus, every phrase-term occurrence votes for its anchor,
    * HAVING all `len` distinct-i votes = an exact occurrence (the
    * engine's landed positional index and blocked probe must match
    * the flat statement end to end, at BOTH registered widths). */
  private def phraseOracleOver(len: Int): String =
    s"""WITH d AS (SELECT doc_id,
       |    CASE WHEN doc_id % 20 = 4 THEN '${Dedup.PressPlant}'
       |         ELSE text END AS text
       |  FROM documents),
       |tok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS term FROM (
       |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |    FROM d), unnest(generate_series(1, len(tk))) g(i)),
       |q AS (SELECT doc_id AS qid, pos AS i, term FROM tok
       |  WHERE doc_id < 10 AND pos < $len),
       |qn AS (SELECT qid FROM q GROUP BY qid
       |  HAVING COUNT(*) = $len),
       |m AS (SELECT q.qid, t.doc_id, t.pos - q.i AS anchor
       |  FROM q JOIN qn USING (qid)
       |  JOIN tok t ON t.term = q.term
       |  WHERE t.doc_id <> q.qid),
       |occ AS (SELECT qid, doc_id, anchor FROM m
       |  GROUP BY 1, 2, 3 HAVING COUNT(*) = $len)
       |SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MIN(anchor) AS BIGINT) AS first_pos
       |FROM occ WHERE anchor >= 0 GROUP BY 1, 2""".stripMargin

  /** The naive BM25 statement — ONE text for t40 and t42. */
  private val bm25OracleSql: String =
    s"""WITH tok AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tfq AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dlt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
         |  FROM tfq GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS a FROM dlt),
         |qt AS (SELECT DISTINCT doc_id AS qid, term FROM tok
         |  WHERE doc_id < 10),
         |qv AS (SELECT DISTINCT term FROM qt),
         |dfx AS (SELECT t.term, COUNT(*) AS df FROM tfq t
         |  JOIN qv ON qv.term = t.term GROUP BY 1),
         |vals AS (SELECT DISTINCT x FROM (
         |    SELECT 2 * df + 1 AS x FROM dfx
         |    UNION ALL SELECT 2 * n + 2 FROM st)),
         |${Text.qlogChainCte("vals")},
         |w AS (SELECT d.term, qn.ql - qd.ql AS idfq
         |  FROM dfx d CROSS JOIN st s
         |  JOIN ql qd ON qd.x = 2 * d.df + 1
         |  JOIN ql qn ON qn.x = 2 * s.n + 2),
         |ld AS (SELECT dlt.doc_id AS item_id,
         |    (dlt.dl * s.n * $Bm25Scale) // s.a AS ldq
         |  FROM dlt CROSS JOIN st s),
         |sc AS (SELECT q.qid, t.doc_id AS item_id,
         |    CAST(SUM((w.idfq * 44 * t.tf * $Bm25Scale)
         |      // (${20 * Bm25Scale} * t.tf + ${6 * Bm25Scale}
         |          + 18 * l.ldq)) AS BIGINT) AS score
         |  FROM qt q JOIN w ON w.term = q.term
         |  JOIN tfq t ON t.term = q.term
         |  JOIN ld l ON l.item_id = t.doc_id
         |  WHERE t.doc_id <> q.qid GROUP BY 1, 2)
         |SELECT qid, item_id, score, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT qid, item_id, score, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, item_id ASC) AS rk
         |  FROM sc) WHERE rk <= 5""".stripMargin

  val oracle: Map[String, String] = Map(
    "t41_phrase_match" -> phraseOracleOver(PhraseLen),
    "t44_phrase_5gram" -> phraseOracleOver(PhraseLen5),

    // t40 AND t42 share ONE oracle text: the naive BM25 statement —
    // tokenize → tf → doc lengths → corpus stats → the ONE qlog
    // recurrence for the idf values → the SAME quantized per-term
    // rational ( // ≡ div on nonnegative ints) → ROW_NUMBER top-5.
    // The engine's landed index, landed lengths, and bounded-heap
    // rank (t40) and the block-max-pruned probe (t42) must BOTH match
    // the flat statement — the s39 verify-exact philosophy: the
    // oracle never restates the engine's shortcut.
    "t40_bm25_topk" -> bm25OracleSql,
    "t42_bm25_wand" -> bm25OracleSql,

    "t39_hybrid_rrf" ->
      s"""WITH ${Similarity.kmeansChainCtes},
         |vcand AS (SELECT p.qid, g.vec_id AS nn_id
         |  FROM pr p JOIN post g ON g.cid = p.cid WHERE g.vec_id <> p.qid),
         |vscored AS (SELECT c.qid, c.nn_id,
         |    list_dot_product(qe.v, ge.v)
         |      / (sqrt(list_dot_product(qe.v, qe.v))
         |         * sqrt(list_dot_product(ge.v, ge.v))) AS cos_sim
         |  FROM vcand c JOIN e qe ON qe.vec_id = c.qid
         |  JOIN e ge ON ge.vec_id = c.nn_id),
         |vtop AS (SELECT qid, nn_id AS item_id, rk FROM (
         |  SELECT qid, nn_id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, nn_id ASC) AS rk
         |  FROM vscored) WHERE rk <= $RrfTopK),
         |tok AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tfq AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |qt AS (SELECT doc_id AS qid, term, tf AS qtf FROM tfq
         |  WHERE doc_id < 10),
         |qv AS (SELECT DISTINCT term FROM qt),
         |dfx AS (SELECT t.term, COUNT(*) AS df FROM tfq t
         |  JOIN qv ON qv.term = t.term GROUP BY 1),
         |ndx AS (SELECT COUNT(*) AS n FROM documents),
         |vals AS (SELECT DISTINCT x FROM (
         |    SELECT df + 1 AS x FROM dfx
         |    UNION ALL SELECT n + 1 FROM ndx)),
         |${Text.qlogChainCte("vals")},
         |w AS (SELECT d.term, qn.ql - qd.ql AS idfq
         |  FROM dfx d CROSS JOIN ndx n
         |  JOIN ql qd ON qd.x = d.df + 1
         |  JOIN ql qn ON qn.x = n.n + 1),
         |lsc AS (SELECT q.qid, t.doc_id AS item_id,
         |    SUM(q.qtf * w.idfq * t.tf) AS score
         |  FROM qt q JOIN w ON w.term = q.term
         |  JOIN tfq t ON t.term = q.term
         |  WHERE t.doc_id <> q.qid GROUP BY 1, 2),
         |ltop AS (SELECT qid, item_id, rk FROM (
         |  SELECT qid, item_id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, item_id ASC) AS rk
         |  FROM lsc) WHERE rk <= $RrfTopK),
         |fused AS (SELECT qid, item_id, CAST(SUM(c) AS BIGINT) AS rrf FROM (
         |    SELECT qid, item_id, $RrfC // ($RrfK + rk) AS c FROM ltop
         |    UNION ALL
         |    SELECT qid, item_id, $RrfC // ($RrfK + rk) AS c FROM vtop)
         |  GROUP BY 1, 2)
         |SELECT qid, item_id, rrf, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT qid, item_id, rrf, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY rrf DESC, item_id ASC) AS rk
         |  FROM fused) WHERE rk <= $RrfTopK""".stripMargin
  )
}
