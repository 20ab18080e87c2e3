package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language-ID heuristic, quality
  * scoring, token counting, n-grams, fingerprinting).
  *
  * Everything here is pure `functions._` column algebra: codegen'd,
  * shuffle-free except the grouped n-gram count, and expressible 1:1 in
  * DuckDB SQL for the hash-match oracle. At 100 TB these are
  * embarrassingly parallel map stages over the document scan.
  */
object Text {

  private[graft] def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Whitespace tokens of `text`, after trim. */
  private[graft] def toks: Column = split(trim(col("text")), "\\s+")

  /** The inverted index's doc_id block width — bounds postings-row
    * size at 100 TB (a hot term shards across blocks instead of one
    * unbounded row). */
  private[graft] val PostingsBlock = 128

  /** (term, doc_id, tf, block) frequency rows of a (doc_id, text)
    * frame — the first shuffle of every inverted-index statement. */
  private[graft] def blockedTf(side: DataFrame): DataFrame = side
    .select(col("doc_id"), explode(toks).as("term"))
    .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    .withColumn("block", expr(s"doc_id div $PostingsBlock"))

  /** THE blocked-postings build — (term, block, entries:
    * array<struct<doc_id, tf>>), the (term, block) gather over
    * [[blockedTf]]. ONE statement for the t19 emit (which formats
    * it), the t21 maintained store, and t39's retrieval index, so no
    * index build can drift from another. Entry order within a row is
    * collect_list's (consumers needing doc order sort explicitly —
    * t19/t21 do; t39's probe explodes, order-free). */
  private[graft] def blockedEntries(side: DataFrame): DataFrame =
    blockedTf(side)
      .groupBy(col("term"), col("block"))
      .agg(collect_list(struct(col("doc_id"), col("tf"))).as("entries"))

  /** 36-bit md5-derived word-8-gram hashes of a tokens column named
    * `tk` — the [[Dedup.ngramIdCol]] template at width 8, ONE
    * definition shared by batch t13 and the streaming decontamination
    * filter (graft.streaming.DocStreams.decontaminate) so stream and
    * batch gram sets can never drift. */
  private[graft] def gram8Col: Column = Dedup.ngramIdCol(8)

  /** t13's deterministic fixture: the planted 8-token canary keyed by
    * doc_id % 25 (appended to `text`), and the md5 eval-split flag
    * (1/8 of docs). Shared with the streaming spec so the fixture the
    * twin replays is bit-identical to the batch one. */
  private[graft] def canaryText: Column = concat(col("text"),
    lit(" canary c"), (col("doc_id") % 25).cast("string"),
    lit(" alpha beta gamma delta epsilon zeta"))

  private[graft] def isEvalCol: Column =
    conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":eval"))), 1, 8), 16, 10).cast("long") % 8 === 0

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens + non-space char stats.
    "t01_token_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        length(col("text")).as("len_chars"),
        (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          size(toks)).as("avg_tok_len"))
    }),

    // Quality scoring: stopword ratio, punctuation ratio, length band.
    "t02_quality" -> ((s, dir) => {
      val nTok = size(toks)
      val stop = size(filter(toks,
        t => t.isin("the", "a", "of", "and", "to", "in", "is")))
      val punct = length(col("text")) -
        length(regexp_replace(col("text"), "[.,!?;:]", ""))
      docs(s, dir).select(
        col("doc_id"),
        (stop.cast("double") / nTok).as("stopword_ratio"),
        (punct.cast("double") / length(col("text"))).as("punct_ratio"),
        when(length(col("text")) < 100, lit("short"))
          .when(length(col("text")) < 400, lit("medium"))
          .otherwise(lit("long")).as("len_band"))
    }),

    // Language-ID heuristic: marker-token densities → predicted label.
    // (The synthetic corpus shares one vocabulary across langs, so this
    // checks the machinery, not linguistic accuracy.)
    "t03_lang_id" -> ((s, dir) => {
      val nTok = size(toks)
      val theRatio = size(filter(toks, t => t === "the")).cast("double") / nTok
      val sparkRatio = size(filter(toks, t => t === "spark")).cast("double") / nTok
      docs(s, dir).select(
        col("doc_id"),
        col("lang"),
        when(theRatio > 0.08, lit("en"))
          .when(sparkRatio > 0.05, lit("tech"))
          .otherwise(lit("other")).as("pred_lang"))
    }),

    // Document fingerprint: md5 of whitespace-normalized lowercase text.
    "t04_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
    }),

    // Term statistics: corpus-wide term frequency + document frequency
    // (the integer-exact core of TF-IDF; the float idf weighting lives
    // in tfidf() below via spark.ml), plus a regexp_extract feature.
    "t06_term_stats" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), explode(toks).as(Seq("tok")))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"),
          count(when(regexp_extract(col("tok"), "^(.*ing)$", 1) =!= "", 1))
            .as("n_ing"))
    }),

    // BPE-ish token counting: a GPT-2-style pretokenizer regex
    // (contraction suffixes, space-prefixed letter/digit runs,
    // punctuation runs, whitespace runs) — the token-budget estimator a
    // training pipeline runs before the real tokenizer. The pattern
    // stays inside the Java-regex ∩ RE2 subset (no lookarounds) so
    // Spark and DuckDB extract identical token streams.
    "t07_bpe_tokens" -> ((s, dir) => {
      val pat = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n]+|\\s+"
      val pieces = regexp_extract_all(col("text"), lit(pat), lit(0))
      docs(s, dir).select(
        col("doc_id"),
        size(pieces).as("n_bpe"),
        size(filter(pieces, p => p.rlike("^ ?[0-9]+$"))).as("n_num"),
        (size(pieces).cast("double") / size(toks)).as("bpe_per_word"))
    }),

    // Word-bigram counts across the corpus (n-gram surface); the HAVING
    // bound keeps the result set stable and skips the long tail.
    // PII redaction: scrub emails/phones to typed placeholders — a
    // standard pre-training scrub pass. The synthetic corpus carries
    // no natural PII, so each doc gets a deterministic planted contact
    // line first (the d05/d06 planting pattern); the redactor then
    // must find exactly those. Map-only column algebra; the patterns
    // stay in the regex subset Java and DuckDB RE engines share.
    "t10_pii_redact" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-000-"), col("doc_id"))
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+[0-9][0-9-]{6,}[0-9]"
      docs(s, dir).select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(email)).cast("int").as("n_email"),
          regexp_count(col("t"), lit(phone)).cast("int").as("n_phone"),
          regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
            phone, "<PHONE>").as("redacted"))
    }),

    // Repetition scoring (the Gopher-style quality rule): fraction of
    // duplicated word-3-grams and the top trigram's share — high
    // values flag boilerplate/spam. Same explode+group shape as t05;
    // the shuffle carries (doc, trigram) partial counts.
    "t11_repetition" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(tk) - 2),
            |  i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1),
            |              ' ', element_at(tk, i + 2)))""".stripMargin)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tri"),
          count(lit(1)).as("n_distinct_tri"),
          (max(col("c")).cast("double") / sum(col("c"))).as("top_share"),
          (lit(1.0) - count(lit(1)).cast("double") / sum(col("c")))
            .as("rep_ratio"))
    }),

    "t05_ngrams" -> ((s, dir) => {
      docs(s, dir)
        .select(toks.as("tk")) // hoisted: split once per row, not per lambda element
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(tk) - 1),
            |  i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"""
            .stripMargin)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
    }),

    // KMV (k-minimum-values) distinct sketch: estimate the distinct
    // token count per source from only the k smallest md5-derived
    // hashes — est = (k−1) · 2³² / kth_min. The mergeable-sketch shape
    // HLL/theta engines use, here carried by the bounded-heap `top_k`
    // aggregate (≤ k rows per group per task cross the shuffle, vs a
    // full sort for a window formulation). Unusually for a sketch,
    // it is hash-match ORACLE-CHECKED: the hash is md5-prefix (engine-
    // portable) so the kth minimum — and therefore the estimate — is
    // a deterministic double on both engines. Groups smaller than k
    // fall back to the exact count, as a real KMV does.
    "t09_kmv_distinct" -> ((s, dir) => {
      val k = 64
      val hashed = docs(s, dir)
        .select(col("source"), explode(toks).as("tok")).distinct()
        .select(col("source"),
          conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
      hashed.groupBy(col("source"))
        .agg(graft.functions.TopKAgg.topK(
            struct((-col("h")).as("nh"), col("h")), k).as("tops"),
          count(lit(1)).as("n_exact"))
        .select(col("source"), col("n_exact"),
          when(size(col("tops")) < k, col("n_exact").cast("double"))
            .otherwise(lit((k - 1) * 4294967296.0) /
              element_at(col("tops"), k).getField("h"))
            .as("est_distinct"))
    }),

    // Reproducible stratified sampling (corpus curation / train-eval
    // splits): each doc draws a deterministic uniform in [0,1) from an
    // md5 of (doc_id, salt), and a tiny broadcast rates dim — derived
    // from the distinct sources, md5-parity split into 0.5 / 0.2 keep
    // rates — sets the per-stratum probability (proportional mixing).
    // The same doc set falls out on every run, engine, and cluster
    // size: the property training-data splits need that rand()-based
    // sampling cannot give. At 100 TB this is a map-only scan plus one
    // broadcast; no shuffle of the corpus.
    "t08_det_sample" -> ((s, dir) => {
      val rates = docs(s, dir).select(col("source")).distinct()
        .withColumn("rate", when(srcHashCol % 2 === 0, 0.5).otherwise(0.2))
      val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":graft"))), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)).as("u")
      docs(s, dir)
        .join(broadcast(rates), "source")
        .withColumn("u", u)
        .filter(col("u") < col("rate"))
        .select(col("doc_id"), col("source"), col("u"), col("rate"))
    }),

    // TF-IDF under hash check: spark.ml's IDF uses ln() (libm floats
    // diverge cross-engine by ulps), so the oracle-checked variant uses
    // the RATIONAL idf (N+1)/(df+1) — one IEEE division and one
    // multiply, both correctly rounded, hence bit-identical in Spark
    // and DuckDB. Same ranking monotonicity as ln-idf (both strictly
    // decrease in df); [[tfidf]] remains the stock spark.ml path.
    // N rides in as a broadcast single-row corpus count — never a
    // driver-side collect. At 100 TB: one tokenize/groupBy for tf, one
    // token-keyed df aggregate, one broadcast join — all partial-agg.
    "t12_tfidf" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(toks).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tok.groupBy(col("term"))
        .agg(count_distinct(col("doc_id")).as("df"))
      // The single-row corpus count joins on a constant key so the
      // plan is a keyed BroadcastHashJoin, not a nested-loop
      // IdentityBroadcastMode build ([[graft.ops.ConstKey]]) — the
      // engine-wide PlanSpec pin holds zero BNLJ across every
      // registered query.
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        .withColumn("one", graft.ops.ConstKey.one(col("n_docs")))
      tf.join(df, "term")
        .withColumn("one", graft.ops.ConstKey.one(col("tf")))
        .join(broadcast(n), "one")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast("double") *
            ((col("n_docs") + lit(1)).cast("double") /
              (col("df") + lit(1)).cast("double"))).as("tfidf"))
    }),

    // Sequence packing — the step between a clean corpus and a
    // trainer: documents concatenate in deterministic (source,
    // doc_id) order and cut into fixed 512-token training sequences,
    // docs spanning cut points (the standard GPT-style packing).
    // Implemented as [[sequencePack]]'s two-level (source, shard)
    // prefix sum so one giant source can never serialize into a
    // single window task; the output is shard-width-independent and
    // hash-matches the one-window oracle exactly.
    "t14_sequence_pack" -> ((s, dir) => sequencePack(s, dir)),

    // Packing diagnostics — the sanity report a trainer reads before
    // consuming packed sequences: per 512-token sequence, how many
    // docs it draws from, how many docs BEGIN in it, and its filled
    // token count (== 512 everywhere but each source's final partial
    // sequence; ExtSpec pins that invariant). Explode factor is
    // tokens/512 rows — linear in corpus; the groupBy is partial-agg.
    "t15_pack_stats" -> ((s, dir) => {
      val b = 512
      sequencePack(s, dir)
        .select(col("source"), col("tok_start"), col("seq_start"),
          (col("tok_start") + col("n_tok")).as("tok_end"),
          explode(sequence(col("seq_start"), col("seq_end"))).as("seq"))
        .groupBy(col("source"), col("seq"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("seq_start") === col("seq"), 1)).as("n_starts"),
          sum(least(col("tok_end"), (col("seq") + 1) * b) -
            greatest(col("tok_start"), col("seq") * b)).as("tok_filled"))
    }),

    // Vocabulary coverage: the top-K corpus vocabulary (global token
    // frequency, ties broken by token — a total order, so the cut is
    // deterministic) broadcast back over the per-source token counts;
    // per source, the fraction of running tokens the vocab covers —
    // the coverage curve a tokenizer-budget decision reads. The
    // (source, token, count) frontier aggregates ONCE (Subplan.once)
    // and feeds both the vocab top-k and the coverage roll-up; its
    // size is distinct (source, token) pairs, not corpus tokens. The
    // top-k is TakeOrdered (every task keeps K rows, no global sort)
    // and K rows broadcast — at 100 TB the corpus shuffles once into
    // the count frontier and never again.
    "t16_vocab_coverage" -> ((s, dir) => {
      val k = 16
      val counts = graft.ops.Subplan.once(
        docs(s, dir).select(col("source"), explode(toks).as("tok"))
          .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt")))
      val vocab = counts.groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
        .orderBy(col("tf").desc, col("tok")).limit(k)
        .select(col("tok"), lit(1).as("in_vocab"))
      val covered = sum(when(col("in_vocab").isNotNull, col("cnt"))
        .otherwise(lit(0L)))
      counts.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_tok"), covered.as("n_covered"),
          (covered.cast("double") / sum(col("cnt"))).as("coverage"))
    }),

    // Token-budget source mixing — the data-mixing step that rescales
    // each source to a target token budget: per-source budgets are a
    // deterministic md5 weight (the t08 discipline), and each doc
    // survives an EXACT integer draw u32 · tokens_src < budget · 2³²
    // (acceptance probability = budget/tokens with zero float drift,
    // so the kept set is identical on every engine and cluster size).
    // The (doc, source, n_tok) frontier tokenizes once; per-source
    // totals are one tiny broadcast row per source; the corpus itself
    // streams map-only into the verdict + partial-agg roll-up. The
    // draw compares in DECIMAL, not Long: u32·tok_total wraps a Long
    // once a single source passes 2³¹ tokens (any real pre-training
    // source does) and a wrapped product silently flips verdicts;
    // decimal(19,0)·decimal(19,0) is exact for every Long pair (max
    // product ~8.5e37 < 10³⁸) at one cheap widening per row. The
    // DuckDB oracle mirrors with HUGEINT.
    "t17_budget_mix" -> ((s, dir) => {
      val fr = graft.ops.Subplan.once(docs(s, dir)
        .select(col("doc_id"), col("source"), size(toks).as("n_tok")))
      val tot = fr.groupBy(col("source"))
        .agg(sum(col("n_tok")).as("tok_total"))
        .withColumn("budget", budgetCol(1500L))
      val u32 = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":mix"))), 1, 8), 16, 10).cast("long")
      fr.join(broadcast(tot), "source")
        .withColumn("keep",
          u32.cast("decimal(19,0)") * col("tok_total").cast("decimal(19,0)") <
            col("budget").cast("decimal(19,0)") *
              lit(4294967296L).cast("decimal(19,0)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_kept"),
          max(col("tok_total")).as("tok_total"),
          max(col("budget")).as("budget"),
          sum(when(col("keep"), col("n_tok")).otherwise(lit(0)))
            .as("tok_kept"))
    }),

    // The END-TO-END corpus build — every pre-training data stage as
    // ONE Catalyst plan with per-doc verdict provenance, the audit
    // artifact a data pipeline actually ships: eval holdout (t13's
    // md5 split) → quality gate (d10's token floor) → exact dedup
    // (d01's normalized fingerprint, min-id keeps) → benchmark
    // decontamination (t13's broadcast eval-gram set) → token-budget
    // prefix (t18's closed-form verdict over the SURVIVING sequence)
    // → 512-token packing coordinates (t14) for what ships. Fixture:
    // d10's boiler plant (doc_id % 37 = 5) gives the dedup stage real
    // groups; the canary class is doc_id % 199 so only the ~30% of
    // train classes an eval doc covers get contaminated. One
    // tokenized frontier feeds every stage; the eval-gram set and
    // per-source budgets broadcast; the packing sum is the two-level
    // shard form. The DuckDB oracle restates the whole chain.
    "t20_corpus_pipeline" -> ((s, dir) => {
      val boiler = "graft boilerplate page about nothing at all " +
        "repeated across mirrors of the same site with identical " +
        "wording every single time it appears anywhere online today"
      val planted = docs(s, dir).select(col("doc_id"), col("source"),
        when(col("doc_id") % 37 === 5, lit(boiler))
          .otherwise(col("text")).as("text"))
      val ctext = concat(col("text"),
        lit(" canary c"), (col("doc_id") % 199).cast("string"),
        lit(" alpha beta gamma delta epsilon zeta"))
      val fr = graft.ops.Subplan.once(planted
        .select(col("doc_id"), col("source"), col("text"),
          split(trim(ctext), "\\s+").as("tk"), isEvalCol.as("is_eval"))
        .select(col("doc_id"), col("source"), col("is_eval"),
          size(col("tk")).as("n_tok"), Dedup.fingerprintCol.as("fp"),
          when(size(col("tk")) >= 8, array_distinct(gram8Col))
            .otherwise(array().cast("array<bigint>")).as("xs")))
      val evalGrams = fr.filter(col("is_eval"))
        .select(explode(col("xs")).as("x")).distinct()
        .withColumn("hit", lit(1))
      val keep = fr.filter(!col("is_eval") && col("n_tok") >= 25)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
      val contam = fr.filter(!col("is_eval"))
        .select(col("doc_id"), explode(col("xs")).as("x"))
        .join(broadcast(evalGrams), Seq("x"), "left")
        .groupBy(col("doc_id")).agg(count(col("hit")).as("n_hits"))
      val staged = graft.ops.Subplan.once(fr
        .join(keep, Seq("fp"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_tok"),
          when(col("is_eval"), lit("eval_holdout"))
            .when(col("n_tok") < 25, lit("low_quality"))
            .when(col("doc_id") =!= col("keep_id"), lit("exact_dup"))
            .when(col("n_hits") > 0, lit("contaminated"))
            .otherwise(lit("survivor")).as("stage")))
      val inBudget = col("cum") <= col("budget")
      val packed = twoLevelCum(staged.filter(col("stage") === "survivor")
          .select(col("doc_id"), col("source"), col("n_tok")), 128L)
        .withColumn("budget", budgetCol(1000L))
        .select(col("doc_id"), col("source"), col("n_tok"),
          when(inBudget, lit("packed")).otherwise(lit("over_budget"))
            .as("stage"),
          when(inBudget, col("cum") - col("n_tok")).as("tok_start"),
          when(inBudget, expr("(cum - n_tok) div 512")).as("seq_start"),
          when(inBudget, expr("(cum - 1) div 512")).as("seq_end"))
      packed.unionByName(staged.filter(col("stage") =!= "survivor")
        .select(col("doc_id"), col("source"), col("n_tok"), col("stage"),
          lit(null).cast("long").as("tok_start"),
          lit(null).cast("long").as("seq_start"),
          lit(null).cast("long").as("seq_end")))
    }),

    // Inverted-index build — the retrieval side of a training-data
    // pipeline (dedup provenance lookups, contamination tracing,
    // search-over-corpus). Emits BLOCKED postings: one row per (term,
    // doc_id-block of 128), postings = "doc:tf" entries sorted by
    // doc_id — the sharded physical layout an index at 100 TB needs
    // anyway (a hot term's postings can exceed any single row/task;
    // blocking bounds row size by construction and makes the gather
    // partial-agg-friendly). Exactly two shuffles: (term, doc) tf
    // counts, then (term, block) gathers; both content-keyed. ONE
    // build statement ([[blockedEntries]]) with the t21 maintained
    // store and t39's retrieval index; this emit formats it.
    "t19_inverted_index" -> ((s, dir) =>
      blockedEntries(docs(s, dir))
        .select(col("term"), col("block"),
          size(col("entries")).cast("long").as("n_docs"),
          aggregate(col("entries"), lit(0L),
            (acc, e) => acc + e.getField("tf")).as("n_occ"),
          array_join(transform(array_sort(col("entries")),
            e => concat(e.getField("doc_id").cast("string"), lit(":"),
              e.getField("tf").cast("string"))), ",").as("postings"))),

    // N-gram LM "perplexity" quality filter — the count-based LM cut
    // (CCNet-style) a pre-training pipeline runs after the cheap
    // heuristics: score each doc by how surprising its bigrams are
    // under a corpus-trained MLE bigram model p(v|u) = c(uv)/c(u·).
    // True perplexity exponentiates a mean of logs; logs are
    // engine-specific libm calls no hash check can survive, so the
    // registered score is the monotone-for-filtering surrogate
    //   surprise = mean over positions of 1/p(v|u)
    // with each inverse probability 2⁻²⁰-quantized to an INTEGER
    //   s_i = (c(u·) · 2²⁰) div c(uv)
    // — integer division and an order-free integer sum (t17's
    // exact-integer discipline; no float accumulates), then ONE
    // correctly-rounded double division sq / (m·2²⁰) at the end, so
    // scores hash-match DuckDB bit-for-bit. AM ≥ GM: the arithmetic
    // mean upper-bounds the geometric one perplexity uses — same tail
    // it exists to cut (c(u·) counts u as a bigram PREFIX, so p is a
    // proper conditional; every scored bigram has c ≥ 1 because the
    // model is corpus-self-trained — the fixture-deterministic stance;
    // a held-out LM adds smoothing, not new topology). Token/bigram
    // ids are the house 36-bit md5 ints (Dedup.ngramIdCol). Topology
    // at 100 TB: two content-keyed count shuffles (the LM "training"),
    // two content-keyed equi-joins to score, one per-doc partial agg —
    // nothing pairwise, nothing broadcast-unbounded; prune the count
    // tables to top-k + an OOV floor and they broadcast instead (knob,
    // same stance as t16's vocab cut).
    "t22_lm_perplexity" -> ((s, dir) => {
      val pos = graft.ops.Subplan.once(bigramPositions(docs(s, dir), "doc_id"))
      val (cu, cb) = bigramLm(pos)
      pos.join(cu, "u").join(cb, "b")
        .withColumn("s", quantizedInvP)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sq"))
        .select(col("doc_id"), col("n_bigrams"), surpriseCol.as("surprise"))
    }),

    // TRUE log-perplexity — the exact form [[graft.functions.QLog2]]
    // unlocks: t22 registers mean(1/p) as a monotone SURROGATE because
    // perplexity needs a log and float ln differs across engines; with
    // the quantized integer log₂ that excuse is gone, so this is the
    // actual CCNet quantity, log₂ PPL = mean over positions of
    // log₂(1/p), computed as
    //   logppl = (Σ qlog2(s_i)) / (m·2¹⁶) − 20
    // (s is 2²⁰-scaled, hence the −20). Same LM, same [[bigramLm]]
    // counts, same [[quantizedInvP]] — but the log attaches at the
    // MODEL grain: ql is computed once per DISTINCT bigram (the
    // vocab-bounded (u, b) frame; t29's model-sized-logs discipline)
    // and positions join it, so the corpus never runs qlog2. The sum
    // of logs is an order-free exact integer (ql ≤ 43·2¹⁶, m ≤ 2²²
    // ⟹ Σ < 2⁴⁴ — the same fail-loud guard as t22's surpriseCol);
    // ONE final double division and an exact −20.0 make the score,
    // so it hash-matches the DuckDB restatement, whose qlog chain
    // runs over the model's distinct s values. AM ≥ GM ties the pair:
    // logppl ≤ log₂(t22's surprise) always (ExtSpec pins it, plus a
    // bit-exact JVM replay).
    "t33_lm_logppl" -> ((s, dir) => {
      import graft.functions.QLog2.qlog2
      val pos = graft.ops.Subplan.once(bigramPositions(docs(s, dir), "doc_id"))
      val (cu, cb) = bigramLm(pos)
      val model = pos.select(col("u"), col("b")).distinct()
        .join(cu, "u").join(cb, "b")
        .withColumn("s", quantizedInvP)
        .select(col("u"), col("b"), qlog2(col("s")).as("ql"))
      pos.join(model, Seq("u", "b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("ql")).as("sq"))
        .select(col("doc_id"), col("n_bigrams"),
          when(col("n_bigrams") > lit(1L << 22), expr(
            "raise_error('t33: document exceeds 2^22 bigrams - " +
              "restate the quantized sum in DECIMAL(38,0)')"))
          .otherwise(col("sq").cast("double") /
            (col("n_bigrams") * lit(65536.0)) - 20.0).as("logppl"))
    }),

    // Held-out smoothed LM filter — t22's DEPLOYMENT shape: the LM
    // trains on a deterministic md5 split of the corpus (the
    // t08/t13 draw: md5(doc_id || ':eval') % 8 == 0 is held out) and
    // scores the HELD-OUT docs, so unseen prefixes and unseen
    // continuations are routine rather than impossible — handled by
    // add-one smoothing with an OOV floor, kept inside t22's
    // exact-integer discipline: p(v|u) = (c2 + 1) / (c1 + V) with
    // TRAIN counts (0 when unseen) and V = the train prefix
    // vocabulary, so the quantized inverse probability is
    //   s = ((c1 + V) · 2²⁰) div (c2 + 1)
    // — literally [[quantizedInvP]] over the shifted counts (ONE
    // definition, t22's fail-loud overflow guards riding along; an
    // unseen prefix scores the uniform floor V · 2²⁰). c2 ≤ c1 and
    // V ≥ 1 keep every s ≥ 2²⁰, so surprise stays ≥ 1 exactly like
    // t22. Topology adds one single-row vocabulary count to t22's
    // shape, broadcast on a [[graft.ops.ConstKey]] key (t12's
    // discipline — never a nested loop). The two scoring joins are
    // LEFT joins (held-out grams may be absent from train); the LM
    // sides broadcast at test SF and shuffle on content keys at
    // deploy SF, either way linear.
    "t23_lm_heldout" -> ((s, dir) => {
      val pos = graft.ops.Subplan.once(bigramPositions(
        docs(s, dir).select(col("doc_id"), isEvalCol.as("is_eval"),
          col("text")),
        "doc_id", "is_eval"))
      val train = pos.filter(!col("is_eval"))
      val (cu, cb) = bigramLm(train)
      val vocab = train.select(col("u")).distinct()
        .agg(count(lit(1)).as("v_size"))
        .withColumn("one", graft.ops.ConstKey.one(col("v_size")))
      pos.filter(col("is_eval"))
        .join(cu, Seq("u"), "left")
        .join(cb, Seq("b"), "left")
        .withColumn("one", graft.ops.ConstKey.one(col("u")))
        .join(broadcast(vocab), "one")
        .withColumn("c1", coalesce(col("c1"), lit(0L)) + col("v_size"))
        .withColumn("c2", coalesce(col("c2"), lit(0L)) + lit(1L))
        .withColumn("s", quantizedInvP)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sq"))
        .select(col("doc_id"), col("n_bigrams"), surpriseCol.as("surprise"))
    }),

    // Held-out TRUE log-perplexity — t33's exact form in t23's
    // DEPLOYMENT shape, completing the (surrogate, exact) pair on
    // both sides: t22/t33 are the corpus-self-trained pair, t23/t34
    // the held-out-smoothed pair a production filter actually runs.
    // Same md5 split, same add-one smoothing and OOV floor, same
    // [[quantizedInvP]] over the shifted counts — and the log again
    // attaches at the MODEL grain: the eval split's DISTINCT (u, b)
    // pairs (vocab-bounded) left-join the train counts, quantize, and
    // qlog2 once per pair; positions join that model, so the corpus
    // never runs the log. Exact-integer sum, ONE double division,
    // −20.0. ExtSpec pins the JVM replay and AM ≥ GM against t23.
    "t34_lm_heldout_logppl" -> ((s, dir) => {
      import graft.functions.QLog2.qlog2
      val pos = graft.ops.Subplan.once(bigramPositions(
        docs(s, dir).select(col("doc_id"), isEvalCol.as("is_eval"),
          col("text")),
        "doc_id", "is_eval"))
      val train = pos.filter(!col("is_eval"))
      val (cu, cb) = bigramLm(train)
      val vocab = train.select(col("u")).distinct()
        .agg(count(lit(1)).as("v_size"))
        .withColumn("one", graft.ops.ConstKey.one(col("v_size")))
      val evalPos = pos.filter(col("is_eval"))
      val model = evalPos.select(col("u"), col("b")).distinct()
        .join(cu, Seq("u"), "left")
        .join(cb, Seq("b"), "left")
        .withColumn("one", graft.ops.ConstKey.one(col("u")))
        .join(broadcast(vocab), "one")
        .withColumn("c1", coalesce(col("c1"), lit(0L)) + col("v_size"))
        .withColumn("c2", coalesce(col("c2"), lit(0L)) + lit(1L))
        .withColumn("s", quantizedInvP)
        .select(col("u"), col("b"), qlog2(col("s")).as("ql"))
      evalPos.join(model, Seq("u", "b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("ql")).as("sq"))
        .select(col("doc_id"), col("n_bigrams"),
          when(col("n_bigrams") > lit(1L << 22), expr(
            "raise_error('t34: document exceeds 2^22 bigrams - " +
              "restate the quantized sum in DECIMAL(38,0)')"))
          .otherwise(col("sq").cast("double") /
            (col("n_bigrams") * lit(65536.0)) - 20.0).as("logppl"))
    }),

    // Incremental postings maintenance — the index-side sibling of
    // d11's incremental dedup: merge a small NEW batch into the big
    // EXISTING blocked index (t19's layout) touching ONLY the (term,
    // block) rows the batch lands in. The asymmetry is the scale
    // story: the existing index is the landed store, read by one
    // scan, and the batch side's touched keys and entries
    // BROADCAST into every join, so the existing postings never
    // shuffle — untouched rows are never even rewritten. The "tiny
    // batch" premise is ENFORCED, not assumed: the hints are
    // size-gated on the materialized delta's key count
    // ([[T21BroadcastMaxKeys]]) — a batch too big to broadcast drops
    // the hints and lets Catalyst/AQE re-plan the two joins as
    // ordinary (term, block) shuffle joins (linear, no driver OOM),
    // instead of force-broadcasting TBs. The merge (array_sort over
    // concat) reproduces exactly what a full t19 rebuild would emit
    // for the touched keys, which is what the oracle states. Fixture:
    // batch = doc_id % 8 == 0 (d11's split — 12.5% of the corpus by
    // count but far under the gate at any test SF, so the registered
    // plan IS the broadcast path; PlanSpec pins zero shuffle
    // exchanges in it). Emits (term, block, n_docs, n_occ, postings,
    // n_new).
    "t21_index_delta" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        (col("doc_id") % 8 === 0).as("is_batch"), col("text"))
      // The existing index rides the session store (the d14_sets
      // discipline): a deployed index IS a stored table (t19 built
      // it; this query maintains it), so a repeat invocation reads
      // the landed postings and times the touched-key probe + merge
      // — the per-batch work — not the full corpus re-index. ONE
      // build statement (blockedEntries) with t19 and t39.
      val existing = graft.sources.SessionStore.storedOrBuild(s,
        "t21_index", dir, Seq("term", "block"))(
        blockedEntries(base.filter(!col("is_batch"))))
      // The batch slice feeds the gate's count, the touched-key probe
      // and the merge — materialize once so the tokenize + double
      // aggregation doesn't run three times.
      val delta = graft.ops.Subplan.once(
        blockedEntries(base.filter(col("is_batch")))
          .withColumnRenamed("entries", "new_entries"))
      // The broadcast gate: delta is already checkpointed, so this
      // count scans the materialized rows (never a recompute) and the
      // decision is made on the REAL batch size, not the contract's
      // word. gate = identity above the threshold.
      val gate: DataFrame => DataFrame =
        if (delta.count() <= T21BroadcastMaxKeys) df => broadcast(df)
        else identity
      // Touched existing rows: the index streams map-only through a
      // broadcast of the batch's keys; everything untouched drops here.
      val touched = existing
        .join(gate(delta.select(col("term"), col("block"))),
          Seq("term", "block"))
      // Merge: every output key is in the delta by construction, so a
      // left join FROM the delta over the (tiny) touched rows loses
      // nothing; sorting the concatenated entries reproduces the
      // full-rebuild postings order (doc_ids are disjoint across
      // sides — a doc is batch or corpus, never both).
      delta.join(gate(touched), Seq("term", "block"), "left")
        .withColumn("entries", array_sort(concat(
          coalesce(col("entries"),
            array().cast("array<struct<doc_id:bigint,tf:bigint>>")),
          col("new_entries"))))
        .select(col("term"), col("block"),
          size(col("entries")).cast("long").as("n_docs"),
          aggregate(col("entries"), lit(0L),
            (acc, e) => acc + e.getField("tf")).as("n_occ"),
          array_join(transform(col("entries"),
            e => concat(e.getField("doc_id").cast("string"), lit(":"),
              e.getField("tf").cast("string"))), ",").as("postings"),
          size(col("new_entries")).cast("long").as("n_new"))
    }),

    // Greedy budget prefix — the deterministic sibling of t17's
    // probabilistic mixing: each source contributes its FIRST docs in
    // (source, doc_id) order until its token budget is crossed; every
    // doc from the crossing on is dropped (the running sum only
    // grows, so the kept set is a true prefix). Rides t14's two-level
    // exact running sum — the verdict is closed-form off tok_start,
    // no new shuffle beyond the packing itself. The streaming twin
    // (DocStreams.budgetPrefix) is the ingest admission gate: same
    // verdicts in arrival order with ONE long of state per source.
    "t18_budget_prefix" -> ((s, dir) => {
      sequencePack(s, dir)
        .withColumn("budget", budgetCol(1500L))
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("tok_start"), col("budget"),
          (col("tok_start") + col("n_tok") <= col("budget")).as("kept"))
    }),

    // Benchmark decontamination: the pre-training pass that flags
    // train docs sharing word-8-grams with a held-out eval set. The
    // eval split is a deterministic md5 draw (1/8 of docs — the t08
    // discipline, so the split is identical on every engine and
    // cluster size); every doc also carries a planted 8-token canary
    // keyed by doc_id % 25, so same-key train docs genuinely overlap
    // the eval set (the t10/d06 planting pattern — natural 8-gram
    // overlap is near zero on a synthetic corpus, 3 docs at sf0.01).
    // Topology for 100 TB: the benchmark side of a decontamination is
    // tiny (MBs of eval sets vs TBs of train), so the eval gram set
    // BROADCASTS and the train corpus streams map-only into a
    // per-doc partial agg — the corpus itself never shuffles wide.
    // The per-doc gram frontier is computed once (Subplan.once) and
    // feeds both split sides.
    "t13_decontaminate" -> ((s, dir) => {
      val sets = graft.ops.Subplan.once(docs(s, dir)
        .select(col("doc_id"), isEvalCol.as("is_eval"),
          split(trim(canaryText), "\\s+").as("tk"))
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), col("is_eval"),
          array_distinct(gram8Col).as("xs")))
      val evalGrams = sets.filter(col("is_eval"))
        .select(explode(col("xs")).as("x")).distinct()
        .withColumn("hit", lit(1))
      sets.filter(!col("is_eval"))
        .select(col("doc_id"), explode(col("xs")).as("x"))
        .join(broadcast(evalGrams), Seq("x"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(col("hit")).as("n_hits"),
          (count(col("hit")).cast("double") / count(lit(1)))
            .as("contam_ratio"))
    }),

    // BPE vocabulary TRAINING — the tokenizer-training job a pipeline
    // runs before t07/t14/t17 can be configured (t07 APPLIES a fixed
    // tokenization; this LEARNS the merge table). Classic iterative
    // most-frequent-adjacent-pair merging (Sennrich et al., "Neural
    // Machine Translation of Rare Words with Subword Units"), kept
    // inside the house discipline end to end: exact integer pair
    // counts (occurrences × word frequency — no sampling, no floats),
    // a total deterministic tie-break (count desc, then pair asc), and
    // a BOUNDED driver loop of aggregations with Subplan.once between
    // rounds — the d07 contraction shape; the driver carries only the
    // round counter, never data. Applying a merge is the greedy
    // left-to-right fold (acc's last symbol + next == the pair ⟹
    // replace, else append) as an `aggregate` higher-order function —
    // per-word, map-side, codegen'd; the oracle restates the identical
    // fold via DuckDB's list_reduce, so the two engines agree on
    // chain cases like a·a·a → (aa)·a exactly. The chosen pair rides
    // a ConstKey-keyed broadcast back over the vocab (never a nested
    // loop; an empty pair inventory degrades to a no-op via the left
    // join, not a driver branch). Scale: ONE corpus-wide shuffle
    // builds the (word, count) vocab frontier; every round after that
    // touches only the vocab — bounded by DISTINCT words, not corpus
    // size — so 100 TB of text trains at the same per-round cost as
    // 100 GB once the frontier is built. Emits the merge table
    // (merge_rank, lhs, rhs, pair_count).
    "t24_bpe_train" -> ((s, dir) =>
      bpeTrain(docs(s, dir), BpeMergeRounds)),

    // BATCHED BPE training — the production-depth variant of t24
    // (exact Sennrich order costs one driver round per merge; a
    // 30k-merge tokenizer needs the round cost amortized): each round
    // pays ONE pair count over the vocab frontier and then selects +
    // applies up to BpeBatchSize NON-INTERACTING merges together —
    // candidates in t24's exact winner order, survivors only where no
    // higher-ranked candidate shares a symbol, application one
    // nested fold in rank order (bpeMergeFold unchanged — still the
    // one merge definition). Sennrich-exact when no batch pair
    // interacts (ExtSpec pins the equality on a disjoint-pair
    // corpus); elsewhere an honest, DOCUMENTED approximation ranked
    // by pre-batch counts — which is why t24 keeps the exact order
    // and t28 registers separately under its own oracle. Scale: the
    // per-merge driver cost drops ~batch-fold (PLANS.md's round-12
    // batched-BPE soak measures s/merge); everything else is t24's
    // topology.
    "t28_bpe_batch_train" -> ((s, dir) =>
      bpeBatchTrain(docs(s, dir), BpeBatchRounds, BpeBatchSize)),

    // UNIGRAM-LM tokenizer TRAINING (Kudo 2018 — the SentencePiece
    // trainer class, completing the tokenizer family beside BPE's
    // t24–t28): seed vocab = every character plus the top-K 2..4-char
    // substrings by occurrence-weighted frequency, then UniEmRounds
    // EM rounds — E-step Viterbi-segments the word frontier under
    // quantized-integer piece scores (ql(cnt+1) − ql(T), the native
    // qlog2; the combined DP weight TieK·score − 1 makes the optimum
    // lexicographic in (score, fewer pieces) and every tie-break
    // pinned), M-step recounts pieces from those segmentations,
    // pruning keeps all characters + the top UniPruneK multi-char
    // pieces. Deterministic end-to-end, so the oracle unrolls both
    // EM rounds (each with its own qlog chain over that round's
    // counts) and hash-checks the final vocab exactly. Emits
    // (piece, pcnt, score).
    "t35_unigram_lm_train" -> ((s, dir) =>
      uniScored(uniTrainFull(docs(s, dir))._1)
        .select(col("p").as("piece"), col("pcnt"), col("score"))),

    // UNIGRAM-LM segmentation APPLY — the t26 deployment split for
    // the unigram family: train on the NOT-eval docs (the t08/t13 md5
    // draw), Viterbi-segment the held-out docs' words under the
    // LEARNED scores — including words (and characters) training
    // never saw: unknown single chars fall back to the model's
    // count-0 smoothing weight, so every word stays segmentable.
    // ONE training loop serves t35 and t36 (uniTrainFull — the
    // t24/t25 discipline); ONE DP expression serves the E-step and
    // this apply. Emits t25/t26's per-doc shape.
    "t36_unigram_lm_segment" -> ((s, dir) => {
      val model = uniTrainFull(docs(s, dir).filter(!isEvalCol))._2
      val heldOut = docs(s, dir).filter(isEvalCol)
      val words = heldOut.select(explode(toks).as("w0"))
        .filter(col("w0") =!= "")
        .select(substring(col("w0"), 1, UniMaxWordLen).as("w")).distinct()
      heldOut.select(col("doc_id"), explode(toks).as("w0"))
        .filter(col("w0") =!= "")
        .select(col("doc_id"), substring(col("w0"), 1, UniMaxWordLen).as("w"))
        .join(uniSegmentWords(words, model)
          .select(col("w"), size(col("seg")).as("n_pieces")), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_subtok"),
          (sum(col("n_pieces")).cast("double") / count(lit(1)))
            .as("subtok_per_word"))
    }),

    // BPE segmentation APPLY — t24's other half, closing the
    // learn/apply split the pipeline honors for RF (SURVEY §2: train
    // once, apply everywhere): tokenize the corpus with the LEARNED
    // merge table by joining each word occurrence to the trained
    // vocab's final symbol sequence (the post-all-merges vocab IS the
    // segmenter — one loop, so learn and apply can never disagree).
    // Per doc: word count, subword count, and the fertility ratio a
    // budget planner feeds on (t01 counts words, t07 estimates with a
    // fixed regex; this is the true learned-tokenizer count). Scale:
    // the apply side is ONE (word-keyed) shuffle join of the exploded
    // corpus against the vocab — the t06 term-stats topology; the
    // vocab is bounded by distinct words, never corpus size, and at
    // deploy the hot head of the vocab AQE-broadcasts on its own.
    "t25_bpe_segment" -> ((s, dir) => {
      val vocab = bpeTrainFull(docs(s, dir), BpeMergeRounds)._2
      docs(s, dir)
        .select(col("doc_id"), explode(toks).as("w"))
        .filter(col("w") =!= "")
        .join(vocab.select(col("w"), size(col("syms")).as("n_pieces")),
          Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_subtok"),
          (sum(col("n_pieces")).cast("double") / count(lit(1)))
            .as("subtok_per_word"))
    }),

    // BPE merge-table APPLY to UNSEEN words — the deployment half of
    // the tokenizer story t25's vocab join cannot cover: t25 segments
    // by looking a word up in the training vocab, which only works
    // because its apply corpus IS its training corpus. A production
    // tokenizer meets out-of-vocabulary words and segments them by
    // replaying the LEARNED MERGE TABLE in rank order — the reason
    // the merge table exists at all (the reference's own learn/apply
    // split: randomforest.py:42-81 trains a model once, :90-103
    // applies it to chips the fit never saw). Here: train on the
    // NON-eval split (the t08/t13 md5 draw on doc_id holds 1/8 of
    // docs out), then segment the held-out docs' words — including
    // words that never occurred in training — via
    // [[bpeApplySegments]]: fold merges 1..R in rank order over each
    // word's codepoint symbols, each merge the SAME greedy
    // left-to-right `aggregate` fold t24's training loop applies
    // (replay after R merges ≡ training state after round R, so a
    // word seen in training segments EXACTLY as t25's vocab says —
    // ExtSpec pins the identity). Emits t25's per-doc shape over the
    // held-out split. Scale: the merge table is `rounds` rows — a
    // trivial ConstKey broadcast; segmentation is map-side column
    // algebra over the DISTINCT held-out words (one distinct
    // shuffle); the occurrence roll-up is one word-keyed join (the
    // t06/t25 topology). Nothing anywhere scales with training-corpus
    // size at apply time — exactly the deployment property a
    // tokenizer needs.
    "t26_bpe_apply" -> ((s, dir) => {
      val merges = bpeTrainFull(docs(s, dir).filter(!isEvalCol),
        BpeMergeRounds)._1
      val heldOut = docs(s, dir).filter(isEvalCol)
      val words = heldOut.select(explode(toks).as("w"))
        .filter(col("w") =!= "").distinct()
      heldOut.select(col("doc_id"), explode(toks).as("w"))
        .filter(col("w") =!= "")
        .join(bpeApplySegments(words, merges)
          .select(col("w"), size(col("syms")).as("n_pieces")), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_subtok"),
          (sum(col("n_pieces")).cast("double") / count(lit(1)))
            .as("subtok_per_word"))
    }),

    // Epoch shuffle + sharding — the LAST step between a packed corpus
    // and the trainer's file reader: every doc draws a deterministic
    // per-epoch pseudo-random key (md5(doc_id || ':ep1'), the t08
    // discipline — same docs, different epoch salt, different order),
    // lands in shard = key mod 16, and gets its exact within-shard
    // position and token offset in (key, doc_id) order — the manifest
    // a sharded-file writer consumes (shard file s, seek to tok_start,
    // write doc at pos). rand()-based shuffles cannot give this: the
    // epoch order must be reproducible across reruns, engines, and
    // cluster sizes, or a resumed training run sees different data.
    // Scale: ONE hash exchange of the narrow frontier on (shard,
    // bucket); the within-shard rank/prefix-sum does NOT serialize one
    // window task per shard (6 TB of sort at 100 TB/16 shards) —
    // [[epochShard]] decomposes it over contiguous draw-key buckets
    // exactly, the [[twoLevelCum]] discipline keyed by the DRAW
    // instead of doc_id. Uniformity of the md5 draw balances both
    // shards and buckets by construction — no skew key exists.
    "t27_epoch_shard" -> ((s, dir) =>
      epochShard(docs(s, dir).select(col("doc_id"), size(toks).as("n_tok")))),

    // Model-based classification — the fastText-classifier role in a
    // curation pipeline (CCNet's language/quality gate): a multinomial
    // naive Bayes language classifier trained in-engine on the md5
    // train split (the t08/t13 draw) and scored on the held-out docs,
    // kept deterministic end to end by scoring in QUANTIZED INTEGER
    // LOG space: every log₂ is [[graft.functions.QLog2]]'s exact
    // fixed-point recurrence, so the per-class negative log-likelihood
    //   qsurp(d, c) = Σ_t tf·(qlog2(n(c)+V) − qlog2(n(t,c)+1))
    //              + qlog2(N) − qlog2(n_docs(c))
    // is a sum of integers — order-free, overflow-safe (≤ 2⁴⁵ per
    // doc), and hash-identical to the DuckDB oracle, which unrolls the
    // SAME recurrence as chained CTEs over the distinct count values
    // ([[qlogChainCte]] — change both or neither). Laplace add-one
    // smoothing makes unseen (token, class) pairs score qlog2(1) = 0
    // likelihood mass exactly (the COALESCE 0 both engines state).
    // argmin with the house tie-break (score, then class asc); qmargin
    // = runner-up − winner is the decision confidence. On THIS fixture
    // the languages share one generator vocabulary, so accuracy sits
    // at the majority-class baseline (prior-dominated — measured and
    // documented in PLANS.md); ExtSpec pins perfect separation + a
    // bit-exact JVM replay on a planted-vocabulary corpus, which is
    // where the learning machinery shows. Scale: training is ONE
    // content-keyed count shuffle over the corpus (the t22 LM shape);
    // qlog2 runs on the vocab×classes MODEL, never the corpus; scoring
    // joins the eval side to the model on content keys and the
    // classes×eval cross rides a ConstKey broadcast (n_classes rows).
    "t29_nb_langid" -> ((s, dir) =>
      nbClassify(docs(s, dir).select(col("doc_id"), col("lang"),
        isEvalCol.as("is_eval"), col("text")))),

    // Incremental classifier-model maintenance — t21's delta
    // discipline applied to t29's model: NB token-class counts are
    // ADDITIVE, so merging a new batch's counts into the stored model
    // is EXACTLY a full retrain on the touched keys (a stronger
    // identity than t21's postings merge — no ordering to reproduce,
    // just integer addition; the oracle states the full-corpus counts
    // directly). The existing model rides the session store (a
    // deployed classifier IS a stored table; repeats read the landed
    // parquet and time only the batch work), the batch's vocab-sized
    // count frame materializes once and BROADCASTS both ways under
    // the t21 gate — the stored model never shuffles; above the gate
    // the hints drop and both joins re-plan as (t, lang) shuffle
    // joins. Fixture: batch = doc_id % 8 == 0 (d11/t21's split).
    // Emits the touched model rows (t, lang, n, n_new).
    "t30_nb_delta" -> ((s, dir) => {
      def cnts(side: DataFrame): DataFrame = side
        .select(col("lang"), toks.as("tk"))
        .select(col("lang"), explode(Dedup.ngramIdCol(1)).as("t"))
        .groupBy(col("t"), col("lang")).agg(count(lit(1)).as("n"))
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
        (col("doc_id") % 8 === 0).as("is_batch"), col("text"))
      val existing = graft.sources.SessionStore.storedOrBuild(
        s, "t30_model", dir, Seq("t", "lang"))(
        cnts(base.filter(!col("is_batch"))))
      val delta = graft.ops.Subplan.once(
        cnts(base.filter(col("is_batch")))
          .select(col("t"), col("lang"), col("n").as("n_new")))
      // The same REAL-size broadcast gate as t21: the count scans the
      // materialized batch counts (frontier-sized, never a recompute).
      val gate: DataFrame => DataFrame =
        if (delta.count() <= T21BroadcastMaxKeys) df => broadcast(df)
        else identity
      val touched = existing.select(col("t"), col("lang"),
          col("n").as("n_old"))
        .join(gate(delta.select(col("t"), col("lang"))), Seq("t", "lang"))
      delta.join(gate(touched), Seq("t", "lang"), "left")
        .select(col("t"), col("lang"),
          (coalesce(col("n_old"), lit(0L)) + col("n_new")).as("n"),
          col("n_new"))
    }),

    // Quota sampling — the data-mixing recipe step (Dolma/RedPajama
    // style): down-sample each over-represented source to a per-source
    // TOKEN quota, uniformly at random but deterministically. t18
    // admits a PREFIX in arrival order (the ingest gate — biased
    // toward early docs by design); t31 draws the SAME budgets'
    // ([[budgetCol]], one definition) worth of tokens by per-doc md5
    // rank, so the kept set is an unbiased, engine- and
    // cluster-size-independent sample of the whole source. Machinery
    // is ENTIRELY reused: the draw-ordered rank + running token sum is
    // [[drawBucketedRank]] (t27's two-level decomposition keyed by the
    // draw — a source holding half the corpus still ranks in
    // bucket-sized window tasks, no skew case exists) and the verdict
    // is t18's closed form off the prefix sum. Emits every doc with
    // its draw rank, token offset, budget, and kept flag — provenance
    // for the recipe, not just the survivors.
    "t31_quota_sample" -> ((s, dir) =>
      drawBucketedRank(docs(s, dir)
        .select(col("doc_id"), col("source").as("part"),
          size(toks).as("n_tok"))
        .withColumn("h", conv(substring(md5(concat(
          col("doc_id").cast("string"), lit(":qs"))), 1, 8), 16, 10)
          .cast("long")), 1L << 28)
        .withColumnRenamed("part", "source")
        .withColumn("budget", budgetCol(1500L))
        .select(col("doc_id"), col("source"), col("n_tok"), col("pos"),
          col("tok_start"), col("budget"),
          (col("tok_start") + col("n_tok") <= col("budget")).as("kept"))),

    // Count-min-sketch token frequencies — the bounded-memory
    // frequency sketch (Cormode & Muthukrishnan 2005), the mergeable-
    // sketch sibling of t09's KMV-for-distinct: d=4 rows × w=16 cells
    // of exact integer counters. The d "hash functions" are disjoint
    // 4-bit fields of ONE md5-derived 32-bit word per occurrence
    // (cell_j = (v >> 4j) mod 16 — the standard split-one-wide-hash
    // construction; md5 bits are independent). The shape is MEASURED,
    // not assumed: the first cut (4 md5+conv chains inside a
    // transform lambda, struct explode, Subplan.once on the exploded
    // corpus) ran 13-15 s at sf1; one md5 + one conv + shiftright
    // fields + posexplode of a bare long array runs 3.9 s — the
    // lambda doesn't hoist loop-invariant hashes and struct
    // generators cost real time (PLANS.md round-12 note). The sketch
    // build is ONE partial aggregate whose combiner state is the
    // sketch itself — d·w rows REGARDLESS of corpus size, which is
    // the whole point: at 100 TB the sketch replaces the full
    // content-keyed count shuffle (map-side combine to 64 longs per
    // task, one 64-row reduce). The exploded token frame is
    // deliberately NOT checkpointed: both branches rescan the pruned
    // text column — re-tokenizing is two cheap map passes,
    // materializing an exploded 100 TB corpus is not. The registered
    // query keeps the exact count alongside as the yardstick (the
    // honest-measurement pattern): per token, n_est = min over the d
    // counters ≥ n_exact ALWAYS (the CMS one-sided guarantee — ExtSpec
    // pins it exactly, plus that w=16 genuinely collides on the
    // 31-token fixture vocab so the overestimate path is exercised).
    // Counters, cells, and the min are all exact integers — the
    // sketch hash-matches DuckDB bit-for-bit, unusual for a sketch
    // and exactly why the house can register one. Estimates join the
    // (vocab × d) cell keys to the 64-row sketch — model-sized,
    // auto-broadcast.
    "t32_cms_counts" -> ((s, dir) => {
      val d = 4
      val w = 16
      val tok = docs(s, dir).select(explode(toks).as("tok"))
      val v = conv(substring(md5(concat(col("tok"), lit(":cms"))),
        1, 8), 16, 10).cast("long")
      val cellsOfV = expr(
        s"transform(sequence(0, ${d - 1}), j -> shiftright(v, j * 4) % $w)")
      val sketch = tok.select(v.as("v"))
        .select(posexplode(cellsOfV))
        .groupBy(col("pos").as("j"), col("col").as("cell"))
        .agg(count(lit(1)).as("counter"))
      val exact = tok.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      exact
        .withColumn("v", v)
        .select(col("tok"), col("n_exact"), posexplode(cellsOfV))
        .withColumnRenamed("pos", "j").withColumnRenamed("col", "cell")
        .join(sketch, Seq("j", "cell"))
        .groupBy(col("tok"))
        .agg(max(col("n_exact")).as("n_exact"),
          min(col("counter")).as("n_est"))
        .select(col("tok"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("n_over"))
    }),

    // DSIR — data selection via importance resampling: hashed-unigram
    // likelihood-ratio weights against the ':tgt' curated sample
    // (quantized-integer logs, the t29 discipline on a
    // two-distribution model), then the exact top quarter of the pool
    // by histogram threshold + boundary-bin rank. Emits every pool
    // doc with its weight and kept flag (t31's provenance rule).
    "t37_dsir_select" -> ((s, dir) =>
      dsirSelect(dsirWeights(docs(s, dir)
        .select(col("doc_id"), isTgtCol.as("is_tgt"), col("text"))))),

    // CORPUS-DRIFT monitoring — per-bucket quantized PSI between the
    // ingest batch (d11/t21's doc_id % 8 draw) and the existing
    // corpus over t37's hashed feature buckets: counts and the
    // 2¹⁶-quantized log-ratio exact int64, psi_term the ONE final
    // double step per row. The drift signal a recurring ingest
    // thresholds before a batch poisons the mix (s30/s38's
    // discipline for the text family).
    "t38_corpus_drift" -> ((s, dir) =>
      corpusDrift(docs(s, dir)
        .select(col("doc_id"), (col("doc_id") % 8 === 0).as("is_batch"),
          col("text"))))
  )

  /** GPT-style sequence packing via a two-level (source, shard)
    * prefix sum. Docs concatenate in (source, doc_id) order and cut
    * into fixed `block`-token training sequences; each doc's placement
    * (global token offset, first/last sequence touched) is closed-form
    * off its running token sum.
    *
    * A single running sum per source serializes: one window task per
    * source, however big the source. Here the sum is decomposed
    * exactly — shard = doc_id div `shardWidth` splits each source into
    * contiguous doc_id ranges, a per-(source, shard) window computes
    * local running sums in parallel, and a second, shard-count-sized
    * prefix sum over the per-shard totals supplies each shard's
    * starting offset, broadcast back onto the local sums. cum =
    * shard_offset + local_cum is the identical integer, so the result
    * is independent of `shardWidth` (ExtSpec pins this) and
    * hash-matches DuckDB's one-window formulation.
    *
    * Scale: the narrow (doc_id, source, n_tok) frontier is tokenized
    * once (Subplan.once — ~20 bytes/doc, not the text) and feeds both
    * levels; the big side sees ONE hash exchange on (source, shard)
    * and per-shard window sorts bounded by `shardWidth` docs. The
    * offsets side is rows/shardWidth — at 100 TB pick shardWidth
    * ~2^20 so a 10^11-doc corpus yields ~10^5 offset rows (an easy
    * broadcast) and ~10^6-doc window partitions. The test default 128
    * keeps every fixture tier genuinely multi-shard. */
  def sequencePack(s: SparkSession, dir: String, block: Int = 512,
      shardWidth: Long = 128L): DataFrame =
    twoLevelCum(docs(s, dir).select(col("doc_id"), col("source"),
      size(toks).as("n_tok")), shardWidth)
      .select(col("doc_id"), col("source"), col("n_tok"),
        (col("cum") - col("n_tok")).as("tok_start"),
        expr(s"(cum - n_tok) div $block").as("seq_start"),
        expr(s"(cum - 1) div $block").as("seq_end"))

  /** The two-level running token sum over a (doc_id, source, n_tok)
    * frontier: appends `cum`, each doc's exact global token offset in
    * (source, doc_id) order, via per-(source, shard) local window
    * sums plus a shard-count-sized broadcast offset pass (see
    * [[sequencePack]] for the full scale argument). ONE definition
    * serving t14/t15/t18 and t20's survivor packing, so a fix to the
    * packing sum can never land in one and miss the other. The
    * frontier is materialized here (Subplan.once) because both levels
    * read it.
    * PropertySpec "twoLevelCum equals the per-source scan at every
    * shard width" fails if the two levels stop summing to the one-
    * window scan. */
  private[graft] def twoLevelCum(frontier: DataFrame,
      shardWidth: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val sharded = graft.ops.Subplan.once(
      frontier.withColumn("shard", expr(s"doc_id div $shardWidth")))
    val offsets = sharded
      .groupBy(col("source"), col("shard"))
      .agg(sum(col("n_tok")).as("shard_tok"))
      .select(col("source"), col("shard"),
        (sum(col("shard_tok")).over(
          w.partitionBy(col("source")).orderBy(col("shard")))
          - col("shard_tok")).as("shard_off"))
    sharded
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("cum", col("shard_off") + sum(col("n_tok")).over(
        w.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))))
  }

  /** t27's epoch-shuffle manifest over a (doc_id, n_tok) frontier:
    * (doc_id, shard, pos, n_tok, tok_start) where shard = draw mod
    * `shards` and pos / tok_start are the doc's exact rank and running
    * token offset within its shard in (draw, doc_id) order.
    *
    * The within-shard rank is a prefix COUNT, so it decomposes the
    * same way [[twoLevelCum]]'s token sum does — but keyed by the
    * DRAW, not doc_id: bucket = draw div `bucketWidth` is a contiguous
    * range of the order key, a per-(shard, bucket) window ranks
    * locally in parallel, and a (shards × buckets)-row prefix pass
    * over per-bucket (row, token) totals supplies each bucket's
    * starting offsets, broadcast back. pos = bucket row offset +
    * local row_number − 1 is the identical integer for every
    * `bucketWidth` (ExtSpec pins width-independence and the
    * one-window equality), and hash-matches DuckDB's single-window
    * restatement. The md5 draw is uniform, so bucket population is
    * binomial-tight around rows/(shards·buckets) — the decomposition
    * has no skew case. At 100 TB: the frontier is ~20 bytes/doc,
    * bucketWidth ~2²⁰ yields ~4096 buckets × shards offset rows (an
    * easy broadcast) and per-task sorts of ~rows/65k docs. The test
    * default 2²⁸ (16 buckets over the 2³² draw space) keeps every
    * fixture tier genuinely multi-bucket. */
  private[graft] def epochShard(frontier: DataFrame, shards: Int = 16,
      bucketWidth: Long = 1L << 28): DataFrame =
    drawBucketedRank(frontier
      .withColumn("h", conv(substring(md5(concat(
        col("doc_id").cast("string"), lit(":ep1"))), 1, 8), 16, 10)
        .cast("long"))
      .withColumn("part", pmod(col("h"), lit(shards.toLong)).cast("int")),
      bucketWidth)
      .withColumnRenamed("part", "shard")

  /** The draw-keyed two-level rank + running-token-sum core — ONE
    * definition serving t27's epoch sharding (part = draw mod shards)
    * and t31's quota sampling (part = source): over a frame with
    * (doc_id, n_tok, h, part), appends `pos` (dense rank within part
    * in (h, doc_id) order) and `tok_start` (the exact running token
    * offset) via per-(part, bucket) local windows plus a broadcast
    * (part × buckets)-row offset pass. bucket = h div `bucketWidth`
    * is a contiguous range of the order key, so bucket-local rank +
    * offset is the identical integer for every width (ExtSpec pins
    * width-independence through t27) — and because the md5 draw is
    * uniform, bucket population is binomial-tight: the decomposition
    * has no skew case even when `part` itself is hot (the t27 scale
    * argument, now also t31's: a source holding half the corpus still
    * ranks in ~rows/buckets-sized window tasks). Emits (doc_id, part,
    * pos, n_tok, tok_start). */
  private def drawBucketedRank(withPart: DataFrame,
      bucketWidth: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val fr = graft.ops.Subplan.once(
      withPart.withColumn("bkt", expr(s"h div $bucketWidth")))
    val offsets = fr.groupBy(col("part"), col("bkt"))
      .agg(count(lit(1)).as("bkt_rows"), sum(col("n_tok")).as("bkt_tok"))
      .select(col("part"), col("bkt"),
        (sum(col("bkt_rows")).over(
          w.partitionBy(col("part")).orderBy(col("bkt")))
          - col("bkt_rows")).as("row_off"),
        (sum(col("bkt_tok")).over(
          w.partitionBy(col("part")).orderBy(col("bkt")))
          - col("bkt_tok")).as("tok_off"))
    val local = w.partitionBy(col("part"), col("bkt"))
      .orderBy(col("h"), col("doc_id"))
    fr.join(broadcast(offsets), Seq("part", "bkt"))
      .select(col("doc_id"), col("part"),
        (col("row_off") + row_number().over(local) - 1).as("pos"),
        col("n_tok"),
        (col("tok_off") + sum(col("n_tok")).over(local) - col("n_tok"))
          .as("tok_start"))
  }

  /** t29's classifier core over a (doc_id, lang, is_eval, text) frame:
    * train multinomial-NB token counts on `NOT is_eval`, score the
    * eval docs in quantized-integer log space, and emit (doc_id, lang,
    * pred_lang, qsurp, qmargin) — ONE definition serving the
    * registered query, t30's rebuilt-model cross-check, and ExtSpec's
    * planted-vocabulary accuracy/replay pins. Token ids are the house
    * 36-bit md5 ints ([[Dedup.ngramIdCol]] at width 1); all logs are
    * [[graft.functions.QLog2]] applied ONLY to model-sized frames
    * (vocab × classes counts + per-class totals), never the corpus.
    * The MODEL (the (t, lang) count table) materializes once
    * (Subplan.once — three consumers); the exploded corpus never
    * does. */
  private[graft] def nbClassify(d: DataFrame): DataFrame = {
    import graft.functions.QLog2.qlog2
    val w = org.apache.spark.sql.expressions.Window
    // The corpus is deliberately NOT checkpointed in exploded form
    // (the t32 lesson: materializing one row per token occurrence is
    // a scale anti-pattern) — it appears in exactly two token-explode
    // passes, train and eval. Everything else derives from the
    // MODEL-sized (t, lang) count table, which IS checkpointed (three
    // consumers: per-class totals, the vocab size, the scoring join)
    // — plus one explosion-free doc-frontier scan for the per-class
    // doc counts.
    val base = d.select(col("doc_id"), col("lang"), col("is_eval"),
      toks.as("tk"))
    val ntc = graft.ops.Subplan.once(
      base.filter(!col("is_eval"))
        .select(col("lang"), explode(Dedup.ngramIdCol(1)).as("t"))
        .groupBy(col("t"), col("lang")).agg(count(lit(1)).as("n")))
    val nc = ntc.groupBy(col("lang")).agg(sum(col("n")).as("ctot"))
      .join(d.filter(!col("is_eval")).groupBy(col("lang"))
        .agg(count(lit(1)).as("ndocs")), "lang")
    val vs = ntc.select(col("t")).distinct()
      .agg(count(lit(1)).as("v"))
      .withColumn("one", graft.ops.ConstKey.one(col("v")))
    val nd = nc.agg(sum(col("ndocs")).as("ntot"))
      .withColumn("one", graft.ops.ConstKey.one(col("ntot")))
    // The class model: n_classes rows of (class, smoothing denominator
    // log, prior log) — the only place qlog2 touches per-class totals.
    val cls = nc.withColumn("one", graft.ops.ConstKey.one(col("ctot")))
      .join(broadcast(vs), "one").join(broadcast(nd), "one")
      .select(col("lang").as("c"),
        qlog2(col("ctot") + col("v")).as("qd"),
        (qlog2(col("ntot")) - qlog2(col("ndocs"))).as("qprior"))
      .withColumn("one", graft.ops.ConstKey.one(col("qd")))
    // Per-(token, class) smoothed numerator logs — vocab-bounded.
    val qn = ntc.select(col("t"), col("lang").as("c"),
      qlog2(col("n") + lit(1L)).as("qn"))
    val etf = base.filter(col("is_eval"))
      .select(col("doc_id"), col("lang"), explode(Dedup.ngramIdCol(1)).as("t"))
      .groupBy(col("doc_id"), col("lang"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("one", graft.ops.ConstKey.one(col("tf")))
    val perClass = etf.join(broadcast(cls), "one")
      .join(qn, Seq("t", "c"), "left")
      .withColumn("s", col("tf") * (col("qd") - coalesce(col("qn"), lit(0L))))
      .groupBy(col("doc_id"), col("lang"), col("c"))
      .agg((sum(col("s")) + max(col("qprior"))).as("qsurp"))
    val pick = w.partitionBy(col("doc_id")).orderBy(col("qsurp"), col("c"))
    perClass
      .withColumn("rn", row_number().over(pick))
      .withColumn("q2", lead(col("qsurp"), 1).over(pick))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("c").as("pred_lang"),
        col("qsurp"), (col("q2") - col("qsurp")).as("qmargin"))
  }

  // ---------------------------------------------------------------
  // t37: DSIR — data selection via importance resampling (Xie et
  // al., NeurIPS 2023): score every pool document by the quantized
  // log likelihood ratio of a hashed-unigram bag model fit on a
  // small curated TARGET sample vs the pool itself, then keep the
  // exact top quarter. The weights are t29's integer discipline
  // applied to a two-distribution model: features hash into
  // [[DsirB]] buckets, counts Laplace-smooth, every log₂ is
  // [[graft.functions.QLog2]] on MODEL-sized frames, so
  //   qw(d) = Σ_b tf·(ql(n_t[b]+1) − ql(n_p[b]+1)
  //                   + ql(N_p+B) − ql(N_t+B))
  // is a sum of exact integers (the per-token normalizer folds into
  // each bucket's coefficient). Selection is an EXACT distributed
  // top-K: a histogram on qw's high bits finds the threshold bin
  // (bin frame is bounded by qw's RANGE — corpus-independent), bins
  // above it are kept wholesale, and one window ranks only the
  // boundary bin (a frame spanning 1/16 of a log₂ unit of likelihood
  // ratio). The oracle states top-K directly (ROW_NUMBER over the
  // same total order), so the two-phase selection is hash-checked
  // against the naive form end to end — the s39 oracle philosophy.
  // ---------------------------------------------------------------

  /** The t37 target draw — the ':eval' md5 discipline under its own
    * salt, so target membership is independent of every other split. */
  private[graft] def isTgtCol: Column =
    conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":tgt"))), 1, 8), 16, 10).cast("long") % 8 === 0

  private[graft] val tgtDrawSql =
    "('0x' || substr(md5(doc_id || ':tgt'), 1, 8))::BIGINT % 8 = 0"

  /** Hashed-feature bucket count — DSIR's 10⁴ buckets scaled to the
    * fixture vocabulary; the model is 2·B+2 integers regardless of
    * corpus size. */
  private[graft] val DsirB = 256L

  /** Histogram bin width for the top-K threshold: qw >> 12 ≈ 1/16 of
    * a log₂ unit of likelihood ratio per bin — narrow enough that the
    * boundary bin stays window-able, coarse enough that the bin frame
    * is small. */
  private val DsirBinShift = 12

  /** DSIR importance weights over a (doc_id, is_tgt, text) frame:
    * (doc_id, qw) for every POOL doc with ≥ 1 token. ONE definition
    * for the registered query and ExtSpec's planted-corpus/JVM-replay
    * pins. Scale: one (doc, bucket)-grain count shuffle + one
    * doc-grain sum; the model (B rows + totals) broadcasts; qlog2
    * never touches the corpus. */
  /** The hashed-feature bucket rows of a (doc_id, <flag>, text)
    * frame: one (doc_id, <flag>, b) row per token occurrence — ONE
    * bucket statement for t37's per-doc tf and t38's per-side
    * histograms, so the two operators' feature spaces can never
    * drift apart. */
  private def bucketRows(d: DataFrame, flag: String): DataFrame =
    d.select(col("doc_id"), col(flag), toks.as("tk"))
      .select(col("doc_id"), col(flag),
        explode(Dedup.ngramIdCol(1)).as("t"))
      .select(col("doc_id"), col(flag), pmod(col("t"), lit(DsirB)).as("b"))

  /** THE per-bucket DSIR coefficient model over a flagged
    * (doc_id, is_tgt, b, tf) frame — the normalizer folded into the
    * [[DsirB]] bucket coefficients (one broadcast join downstream).
    * ONE statement for the batch t37 training and the streaming
    * twin's fixed model ([[graft.streaming.DocStreams
    * .DsirScoreMaintenance]] — the t29-model discipline: the model
    * trains in batch, the stream scores against it). */
  private[graft] def dsirCoef(tf: DataFrame): DataFrame = {
    import graft.functions.QLog2.qlog2
    val nb = tf.groupBy(col("b")).agg(
      sum(when(col("is_tgt"), col("tf")).otherwise(0L)).as("n_t"),
      sum(when(!col("is_tgt"), col("tf")).otherwise(0L)).as("n_p"))
    val tot = nb.agg(sum(col("n_t")).as("ntt"), sum(col("n_p")).as("npt"))
      .withColumn("one", graft.ops.ConstKey.one(col("ntt")))
    nb.withColumn("one", graft.ops.ConstKey.one(col("b")))
      .join(broadcast(tot), "one")
      .select(col("b"),
        (qlog2(col("n_t") + 1) - qlog2(col("n_p") + 1)
          + qlog2(col("npt") + lit(DsirB))
          - qlog2(col("ntt") + lit(DsirB))).as("c"))
  }

  /** THE DSIR scoring statement — a (doc_id, b, tf) pool frame
    * against a broadcast (b, c) model: qw = Σ_b tf·c, exact int64.
    * ONE statement for batch t37 and the streaming twin's per-trigger
    * score, so live and batch weights can never drift. */
  private[graft] def dsirScore(poolTf: DataFrame, coef: DataFrame): DataFrame =
    poolTf.join(broadcast(coef), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("c")).as("qw"))

  /** The flagged (doc_id, is_tgt, b, tf) frequency frame of a
    * (doc_id, is_tgt, text) corpus — [[bucketRows]] counted; the
    * input to both the coefficient training and the pool scoring. */
  private[graft] def dsirTf(d: DataFrame): DataFrame =
    bucketRows(d, "is_tgt")
      .groupBy(col("doc_id"), col("is_tgt"), col("b"))
      .agg(count(lit(1)).as("tf"))

  /** The trained DSIR model of a flagged corpus — what the streaming
    * twin broadcasts as its FIXED scorer. */
  private[graft] def dsirModel(d: DataFrame): DataFrame =
    dsirCoef(dsirTf(d))

  /** Score an unflagged (doc_id, text) pool batch against a trained
    * (b, c) model — the streaming twin's per-trigger statement:
    * [[bucketRows]]' feature space (ONE statement with training) and
    * [[dsirScore]]'s fold. */
  private[graft] def dsirScoreOf(pool: DataFrame, coef: DataFrame): DataFrame =
    dsirScore(
      bucketRows(pool.select(col("doc_id"), lit(false).as("is_tgt"),
          col("text")), "is_tgt")
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("tf")),
      coef)

  private[graft] def dsirWeights(d: DataFrame): DataFrame = {
    val tf = graft.ops.Subplan.once(dsirTf(d))
    dsirScore(tf.filter(!col("is_tgt")), dsirCoef(tf))
  }

  /** t38 — CORPUS-DRIFT monitoring: the population-stability report
    * an ingest pipeline runs per batch (PSI over hashed-unigram
    * buckets, the feature-drift metric model-monitoring uses; Taplin
    * & Hunt 2019 survey it). Per bucket b, with add-one smoothing
    * over [[DsirB]] buckets (ONE [[bucketRows]] feature statement
    * with t37):
    *   p = (n_new+1)/(N_new+B), q = (n_old+1)/(N_old+B),
    *   qdiff = ql(n_new+1) + ql(N_old+B) − ql(n_old+1) − ql(N_new+B)
    *         (= 2¹⁶·log₂(p/q), exact integers via [[QLog2]]),
    *   psi_term = (p − q) · qdiff / 2¹⁶.
    * Counts and qdiff are exact int64 end to end; psi_term is the
    * t22 discipline's ONE final double step PER ROW (two exact-int
    * divisions, a subtraction, one multiply, one power-of-two scale
    * — identical IEEE ops in both engines; there is deliberately NO
    * double aggregate: the report is per-bucket, and a consumer
    * thresholds or sums at whatever grain it wants). Emits
    * (b, n_new, n_old, qdiff, psi_term), B rows. Scale: the corpus
    * appears in one explode + map-side partial count to 2·B rows;
    * qlog2 runs on ≤ 2B+2 values. Like [[quantizedInvP]], the int64
    * products hold to ~2⁴⁶-token corpora per side; past that the
    * DECIMAL(38,0) restatement is the drop-in (stated loudly, not
    * silently). */
  private[graft] def corpusDrift(d: DataFrame): DataFrame =
    corpusDriftFrom(bucketRows(d, "is_batch")
      .groupBy(col("b")).agg(
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_batch"), 1L).otherwise(0L)).as("n_old")))

  /** The per-corpus bucket histogram (b, n) — the twin's side-at-a-
    * time form of [[bucketRows]]' flagged union (ONE feature
    * statement: this routes through bucketRows, so the live and
    * batch feature spaces are the same expression). */
  private[graft] def bucketHist(d: DataFrame): DataFrame =
    bucketRows(d.select(col("doc_id"), lit(true).as("_f"), col("text")),
      "_f")
      .groupBy(col("b")).agg(count(lit(1)).as("n"))

  /** THE drift metric over a (b, n_new, n_old) histogram frame — ONE
    * definition for batch t38 and the streaming twin's live report
    * ([[graft.streaming.DocStreams.CorpusDriftMaintenance]]), so the
    * two can never disagree about what drift IS. */
  private[graft] def corpusDriftFrom(nb: DataFrame): DataFrame = {
    import graft.functions.QLog2.qlog2
    val tot = nb.agg(sum(col("n_new")).as("ntn"), sum(col("n_old")).as("nto"))
      .withColumn("one", graft.ops.ConstKey.one(col("ntn")))
    nb.withColumn("one", graft.ops.ConstKey.one(col("b")))
      .join(broadcast(tot), "one")
      .select(col("b"), col("n_new"), col("n_old"),
        (qlog2(col("n_new") + 1) + qlog2(col("nto") + lit(DsirB))
          - qlog2(col("n_old") + 1)
          - qlog2(col("ntn") + lit(DsirB))).as("qdiff"),
        col("ntn"), col("nto"))
      .select(col("b"), col("n_new"), col("n_old"), col("qdiff"),
        (((col("n_new") + 1).cast("double")
            / (col("ntn") + lit(DsirB)).cast("double")
          - (col("n_old") + 1).cast("double")
            / (col("nto") + lit(DsirB)).cast("double"))
          * col("qdiff").cast("double") / lit(65536.0)).as("psi_term"))
  }

  /** Exact top-(n>>2) selection over a (doc_id, qw) frame by
    * histogram threshold + boundary-bin rank: every doc in a bin
    * above the threshold bin is kept wholesale; the one boundary bin
    * ranks under (qw desc, doc_id asc) for the remaining slots — the
    * classic two-phase distributed top-K, exact because bins are
    * monotone in qw. Emits (doc_id, qw, kept) for every pool doc —
    * t31's provenance discipline. A degenerate pool (n < 4 ⇒ k = 0)
    * has NO boundary bin; the boundary frame attaches by LEFT join so
    * the empty selection still emits every row with kept = false
    * (the provenance contract) instead of silently returning zero
    * rows. */
  private[graft] def dsirSelect(wts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val q = graft.ops.Subplan.once(
      wts.withColumn("bin", shiftright(col("qw"), DsirBinShift)))
    val k = q.agg(count(lit(1)).as("n"))
      .select(shiftright(col("n"), 2).as("k"))
      .withColumn("one", graft.ops.ConstKey.one(col("k")))
    val bins = q.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val cum = bins.withColumn("above",
      coalesce(sum(col("cnt")).over(w.orderBy(col("bin").desc)
        .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
    val boundary = cum.withColumn("one", graft.ops.ConstKey.one(col("bin")))
      .join(broadcast(k), "one")
      .filter(col("above") < col("k") &&
        col("above") + col("cnt") >= col("k"))
      .select(col("bin").as("bstar"), (col("k") - col("above")).as("r"))
      .withColumn("one", graft.ops.ConstKey.one(col("bstar")))
    val qq = q.withColumn("one", graft.ops.ConstKey.one(col("doc_id")))
      .join(broadcast(boundary), Seq("one"), "left")
    val rnk = qq.filter(col("bin") === col("bstar"))
      .withColumn("rn", row_number().over(
        w.partitionBy(col("bstar")).orderBy(col("qw").desc, col("doc_id"))))
      .select(col("doc_id"), col("rn"))
    qq.join(rnk, Seq("doc_id"), "left")
      .select(col("doc_id"), col("qw"),
        coalesce(col("bin") > col("bstar") ||
          (col("bin") === col("bstar") && col("rn") <= col("r")),
          lit(false)).as("kept"))
  }

  /** First-8-hex-digits-of-md5(source) as a long — the per-source
    * deterministic draw every rate/budget fixture derives from (t08's
    * rates, the t17/t18/t20 budgets). */
  private[graft] def srcHashCol: Column =
    conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long")

  /** The md5-weighted per-source token budget (srcHash % 2 + 1) ·
    * unit — ONE column definition for t17/t18/t20, with
    * [[graft.streaming.DocStreams.budgetOf]] as its pinned JVM twin
    * (ExtSpec's t20 test cross-checks the two). */
  private[graft] def budgetCol(unit: Long): Column =
    (srcHashCol % 2 + 1) * lit(unit)

  /** t22's quantization unit: inverse probabilities are scaled by 2²⁰
    * and truncated to integers so per-doc accumulation is order-free
    * exact arithmetic. */
  private[graft] val LmQ = 1048576L

  /** t21's broadcast gate: the batch-derived sides are force-broadcast
    * only while the delta holds ≤ 2²⁰ (term, block) keys. The LARGER
    * of the two broadcasts is `touched` (existing postings restricted
    * to delta keys), whose row width t19's 128-entry blocking bounds
    * by construction (~1–2 KB ceiling) — so the gate caps the
    * worst-case build at low GBs and typical deltas at MBs. A bigger
    * batch is not an error: above the gate the hints drop away and
    * both joins re-plan as ordinary (term, block) shuffle joins. */
  private[graft] val T21BroadcastMaxKeys = 1L << 20

  /** (keep..., u, b) bigram-position rows of a frame with a `text`
    * column: u = 36-bit id of the prefix token, b = 36-bit id of the
    * bigram ([[Dedup.ngramIdCol]] — the house hash). ONE definition
    * for batch t22 and the streaming LM scorer
    * ([[graft.streaming.DocStreams.lmSurprise]]) so the gram ids can
    * never drift. */
  private[graft] def bigramPositions(d: DataFrame, keep: String*): DataFrame =
    d.select(keep.map(col) :+ toks.as("tk"): _*)
      .filter(size(col("tk")) >= 2)
      .select(keep.map(col) :+ explode(arrays_zip(
        slice(Dedup.ngramIdCol(1), lit(1), size(col("tk")) - 1),
        Dedup.ngramIdCol(2))).as("z"): _*)
      .select(keep.map(col) :+ col("z.0").as("u") :+ col("z.1").as("b"): _*)

  /** The MLE bigram LM: (prefix-token counts c1, bigram counts c2)
    * over a bigram-position frame. p(v|u) = c2/c1. */
  private[graft] def bigramLm(pos: DataFrame): (DataFrame, DataFrame) =
    (pos.groupBy(col("u")).agg(count(lit(1)).as("c1")),
      pos.groupBy(col("b")).agg(count(lit(1)).as("c2")))

  /** The 2⁻²⁰-quantized inverse conditional probability
    * s = (c1 · 2²⁰) div c2 over columns `c1`/`c2`, with t17's
    * overflow lesson applied loudly instead of silently: c1·2²⁰ wraps
    * a Long once a prefix token passes 2⁴² occurrences, and the
    * per-doc sum needs s ≤ 2⁴⁰ — both plausible ONLY at deploy
    * scale, where the DECIMAL(38,0) restatement of this expression
    * (and a HUGEINT oracle) is the drop-in. Until then an oversized
    * corpus fails with an error, never a wrapped verdict. ONE
    * definition for batch t22 and the streaming scorer. */
  private[graft] def quantizedInvP: Column =
    when(col("c1") > lit(1L << 42), expr(
      "raise_error('t22: prefix-token count exceeds 2^42 - " +
        "restate the quantized draw in DECIMAL(38,0)')"))
    .when(expr(s"(c1 * $LmQ) div c2") > lit(1L << 40), expr(
      "raise_error('t22: quantized inverse probability exceeds " +
        "2^40 - restate the quantized draw in DECIMAL(38,0)')"))
    .otherwise(expr(s"(c1 * $LmQ) div c2"))

  /** Per-doc mean surprise over columns `sq`/`n_bigrams` — the ONE
    * float division in the t22 family, with the third fail-loud
    * guard: under the s ≤ 2⁴⁰ cap the Long sum stays exact only
    * while a doc has ≤ 2²² bigrams. */
  private[graft] def surpriseCol: Column =
    when(col("n_bigrams") > lit(1L << 22), expr(
      "raise_error('t22: document exceeds 2^22 bigrams - " +
        "restate the quantized draw in DECIMAL(38,0)')"))
    .otherwise(col("sq").cast("double") /
      (col("n_bigrams") * lit(LmQ)).cast("double"))

  /** TF-IDF document vectors via the spark.ml path SURVEY.md §2.8b
    * names (Tokenizer → HashingTF → IDF). Float idf weights are
    * JVM-side (no cross-engine oracle); the integer core (tf/df) is
    * oracle-checked by t06_term_stats. Returns (doc_id, tfidf vector). */
  def tfidf(s: SparkSession, dir: String,
      numFeatures: Int = 1 << 12): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
    val toksDf = new Tokenizer().setInputCol("text").setOutputCol("words")
      .transform(docs(s, dir).select(col("doc_id"), col("text")))
    val tf = new HashingTF().setInputCol("words").setOutputCol("tf")
      .setNumFeatures(numFeatures).transform(toksDf)
    new IDF().setInputCol("tf").setOutputCol("tfidf").fit(tf)
      .transform(tf).select(col("doc_id"), col("tfidf"))
  }

  /** t24's merge-round bound: the driver loop runs exactly this many
    * most-frequent-pair merges (Sennrich BPE trains to a vocab-size
    * budget; the fixture trains a fixed, small merge table so the
    * oracle's unrolled restatement stays readable). Shared by the
    * query registration and the oracle generator — ONE definition, so
    * the two sides can never train different table sizes. */
  private[graft] val BpeMergeRounds = 10

  /** BPE vocabulary training (design + scale argument at the t24
    * registration comment). Returns the learned merge table
    * (merge_rank, lhs, rhs, pair_count) — `rounds` rows, fewer only if
    * the pair inventory dries up first.
    *
    * Loop shape is the d07 contraction discipline: the corpus touches
    * ONE wide shuffle (word frequencies), every round after that is
    * column algebra over the [[graft.ops.Subplan.once]]-materialized
    * (syms, cnt) vocab — bounded by DISTINCT words, not corpus size —
    * and the driver carries only the round counter. The chosen pair
    * re-enters the vocab as a [[graft.ops.ConstKey]]-keyed broadcast
    * hash join (the Zero-BNLJ invariant); a 0-row pair inventory
    * degrades to a no-op through the left join, never a driver branch.
    * Merge application is the greedy left-to-right `aggregate` fold
    * (acc's last symbol = lhs ∧ next = rhs ⟹ replace-last-with-merged,
    * else append), which resolves chains like a·a·a → (aa)·a exactly
    * as the oracle's DuckDB list_reduce restatement does. */
  private[graft] def bpeTrain(d: DataFrame, rounds: Int): DataFrame =
    bpeTrainFull(d, rounds)._1

  /** The one corpus-wide shuffle of the BPE family (t24/t25/t28):
    * whitespace-word frequencies, each word split to its codepoint
    * symbol sequence. Everything after reads this frontier, never the
    * corpus. */
  private[graft] def bpeVocab(d: DataFrame): DataFrame =
    d.select(explode(toks).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        regexp_extract_all(col("w"), lit("."), lit(0)).as("syms"),
        col("cnt"))

  /** [[bpeTrain]] plus the trained SEGMENTER state: returns
    * (merge table, final vocab (w, syms, cnt)) — the vocab after all
    * `rounds` merges IS the word → subword segmentation t25 applies,
    * so learn and apply can never disagree on a word's pieces. The
    * word string rides the loop untouched (pair counting reads only
    * syms/cnt); ONE loop serves both queries. */
  private[graft] def bpeTrainFull(d: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    import graft.ops.Subplan
    var vocab = bpeVocab(d)
    // The winner is collected, not checkpointed (round-18 cut): ONE
    // bounded row per round — the t28/d21 driver-side-constant
    // discipline — and folding it as literals makes the vocab update
    // a pure map over the checkpointed frontier, dropping the
    // winner's localCheckpoint job AND the 1-row broadcast build per
    // round (2 of the 4 per-round job units; the pair-count action
    // and the frontier checkpoint are the sequential minimum). The
    // selection semantics are bpeBestPair's verbatim.
    val spark = d.sparkSession
    import spark.implicits._
    // A round's input vocab is read by its pair count and by the next
    // round, so it is checkpointed; the last round's input is read by
    // its count and at most once more, by a caller of the final vocab.
    val merged = (1 to rounds).flatMap { r =>
      if (r < rounds) vocab = Subplan.once(vocab)
      bpeBestPair(vocab).collect().headOption.map { b =>
        val (lhs, rhs, cnt) =
          (b.getString(0), b.getString(1), b.getLong(2))
        vocab = bpeApplyWinner(vocab, lhs, rhs)
        (r, lhs, rhs, cnt)
      }
    }
    (merged.toDF("merge_rank", "lhs", "rhs", "pair_count"), vocab)
  }

  /** The `n` best merge candidates off the current vocab frontier:
    * exact-integer adjacent-pair counts — each in-word occurrence
    * weighted by the word's corpus frequency (the t22 bigram zip —
    * no per-position row explosion survives past the partial agg) —
    * in the total deterministic winner order: count desc, (lhs, rhs)
    * asc (binary UTF-8 string order on both engines). ONE statement
    * for [[bpeTrainFull]]'s winner and [[bpeBatchTrain]]'s candidate
    * window. */
  private[graft] def bpeTopPairs(vocab: DataFrame, n: Int): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))).as("z"))
      .groupBy(col("z.0").as("lhs"), col("z.1").as("rhs"))
      .agg(sum(col("cnt")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
      .limit(n)

  /** One merge round's winner: [[bpeTopPairs]]'s `n = 1` case, and the
    * `bpe_best_pair` row of PlanSpec's plan-shape ledger. */
  private[graft] def bpeBestPair(vocab: DataFrame): DataFrame =
    bpeTopPairs(vocab, 1)

  /** One merge round's vocab update: fold the collected winner —
    * literal (lhs, rhs) — into every word's symbol sequence, a pure
    * map over the checkpointed frontier. The [[bpeBestPair]] twin
    * half of the round body / ledger row; [[bpeMergeFold]] stays
    * the one merge definition. */
  private[graft] def bpeApplyWinner(vocab: DataFrame, lhs: String,
      rhs: String): DataFrame =
    vocab.select(col("w"),
      bpeMergeFold(col("syms"), lit(lhs), lit(rhs)).as("syms"),
      col("cnt"))

  /** t28's knobs: rounds × batch size. The registered fixture keeps
    * the oracle's unrolled chain readable (2 × 5 ≈ t24's 10-merge
    * table); PLANS.md's round-12 batched-BPE soak measured production
    * depth. ONE
    * definition shared by the registration and the oracle
    * generator. */
  private[graft] val BpeBatchRounds = 2
  private[graft] val BpeBatchSize = 5

  /** BATCHED BPE training — the production-depth variant of
    * [[bpeTrainFull]] (t24 is exact Sennrich order: one driver round
    * per merge, the honest-but-30k-rounds bound the PLANS.md BPE note
    * measures; a 30k-merge tokenizer needs the per-merge ROUND cost
    * amortized). Per round: ONE pair count over the vocab, then up to
    * `batch` merges chosen and applied together —
    *
    *  - candidates = the top `batch` pairs in t24's exact winner
    *    order (count desc, then (lhs, rhs) asc);
    *  - selected  = candidates whose symbols do not overlap a
    *    HIGHER-ranKED candidate's ({lhs,rhs} ∩ {lhs,rhs} = ∅ — the
    *    anti-join is over the ≤ batch² candidate grid, never the
    *    vocab), the non-interacting-merges rule: a merge only enters
    *    a batch if the merges chosen above it cannot change the
    *    symbols it touches;
    *  - application = ONE vocab pass folding the whole selected batch
    *    in rank order ([[bpeApplySegments]]'s nested-aggregate
    *    replay, [[bpeMergeFold]] unchanged — still the one merge
    *    definition).
    *
    * Stale-count semantics stated honestly: merges 2..B of a batch
    * rank by counts computed BEFORE the batch; when no batch pair
    * interacts those counts are exactly Sennrich's (ExtSpec pins
    * batched ≡ sequential on a disjoint-pair corpus), otherwise the
    * batch is a documented approximation — which is why t24 keeps
    * the exact order under its own oracle and t28 is registered
    * SEPARATELY under this one.
    *
    * The selection is the ONE deliberate driver-side pick in the
    * engine outside the grid worklist (the P9 pattern, SURVEY §2):
    * the candidate window is CONSTANT-bounded (4·batch rows at any
    * corpus size — collected AFTER the distributed count+top-K), and
    * greedy-vs-selected is a sequential dependency no single SQL
    * window states; the oracle restates it as a recursive CTE walking
    * the same window in the same order. The heavy work — pair counts
    * over the vocab frontier, the batch fold over every word — stays
    * fully distributed. Emits (merge_rank, lhs, rhs, pair_count)
    * with merge_rank global across rounds. */
  private[graft] def bpeBatchTrain(d: DataFrame, rounds: Int,
      batch: Int): DataFrame = {
    import graft.ops.Subplan
    val spark = d.sparkSession
    var vocab = bpeVocab(d)
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (round <- 1 to rounds) {
      // The round-input rule of bpeTrainFull; the final vocab is
      // never read.
      if (round < rounds) vocab = Subplan.once(vocab)
      // Candidate WINDOW = 4×batch pairs in the exact t24 winner
      // order: on natural text the very top pairs share symbols (the
      // 'e'/'t' cluster), so a window exactly `batch` wide starves
      // the batch; the wider window lets lower-ranked disjoint pairs
      // fill it while the SELECTED count stays capped at `batch`.
      val cand = bpeTopPairs(vocab, batch * 4)
        .collect()
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
          r.getAs[Long]("pair_count")))
      // Greedy non-interacting selection in rank order: take a pair
      // unless a symbol of an ALREADY-SELECTED pair of this batch
      // matches its lhs or rhs (merged symbols can't collide — they
      // don't exist in the pre-batch counts).
      val taken = scala.collection.mutable.Set[String]()
      val selected = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      for ((l, rh, c) <- cand if selected.size < batch)
        if (!taken(l) && !taken(rh)) {
          selected += ((l, rh, c)); taken += l; taken += rh
        }
      selected.foreach { case (l, rh, c) =>
        out += ((out.size + 1, l, rh, c))
      }
      if (selected.nonEmpty)
        vocab = bpeApplyBatch(vocab,
          selected.map { case (l, rh, _) => (l, rh) }.toSeq)
    }
    import spark.implicits._
    out.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
      .select(col("merge_rank").cast("int").as("merge_rank"),
        col("lhs"), col("rhs"), col("pair_count"))
  }

  /** One batched round's vocab update: ONE vocab pass applies the
    * whole selected batch in rank order — the [[bpeApplySegments]]
    * replay with the batch as a LITERAL column (it is driver data
    * already; no join at all). The [[bpeApplyWinner]] of t28: ONE
    * statement for [[bpeBatchTrain]]'s round and the
    * `bpe_batch_apply` row of PlanSpec's plan-shape ledger. */
  private[graft] def bpeApplyBatch(vocab: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    vocab.select(col("w"),
      aggregate(typedlit(merges), col("syms"),
        (accSyms, m) => bpeMergeFold(accSyms,
          m.getField("_1"), m.getField("_2"))).as("syms"),
      col("cnt"))

  /** ONE application of a single BPE merge (lhs, rhs) to a symbol
    * array: the greedy left-to-right `aggregate` fold (acc's last
    * symbol = lhs ∧ next = rhs ⟹ replace-last-with-merged, else
    * append), which resolves chains like a·a·a → (aa)·a exactly as
    * the oracle's DuckDB list_reduce restatement does. THE one
    * definition of merge application, shared by [[bpeTrainFull]]'s
    * training rounds and [[bpeApplySegments]]'s rank-ordered replay —
    * so learn and apply can never disagree on what a merge does. */
  private def bpeMergeFold(syms: Column, lhs: Column, rhs: Column): Column =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      slice(syms, 1, 1),
      (acc, x) => when(
        element_at(acc, -1) === lhs && x === rhs,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(lhs, rhs))))
        .otherwise(concat(acc, array(x))))

  /** t26's segmenter: apply a learned merge table to a frame of words
    * `w` — ANY words, seen in training or not — by replaying the
    * merges in rank order over each word's codepoint symbols (the
    * standard BPE apply; Sennrich's learn/apply split). Returns
    * (w, syms).
    *
    * Replay after R merges ≡ the training vocab's state after round R
    * (same [[bpeMergeFold]], same order — a round-R training step IS
    * one replay step applied vocab-wide), so for words the training
    * corpus contained this reproduces t25's vocab lookup exactly
    * (ExtSpec pins it); for OOV words it produces what a deployed
    * tokenizer produces. Shape: the merge table collapses to ONE
    * rank-sorted array row (array_sort on (merge_rank, lhs, rhs)
    * structs orders by rank) and rides a [[graft.ops.ConstKey]]-keyed
    * broadcast onto the words — bounded by `rounds`, never corpus
    * size; the replay itself is a map-side nested `aggregate` fold
    * (merges outer, symbols inner), zero shuffles. */
  private[graft] def bpeApplySegments(words: DataFrame,
      merges: DataFrame): DataFrame = {
    import graft.ops.ConstKey
    val ms = merges.agg(array_sort(collect_list(
      struct(col("merge_rank"), col("lhs"), col("rhs")))).as("ms"))
    words
      .withColumn("k", ConstKey.one(length(col("w"))))
      .join(broadcast(ms.select(
        ConstKey.one(size(col("ms"))).as("k"), col("ms"))), Seq("k"))
      .select(col("w"),
        aggregate(col("ms"),
          regexp_extract_all(col("w"), lit("."), lit(0)),
          (accSyms, m) => bpeMergeFold(accSyms,
            m.getField("lhs"), m.getField("rhs")))
          .as("syms"))
  }

  // ---------------------------------------------------------------
  // t35/t36 — UNIGRAM-LM (SentencePiece-class) tokenizer: the OTHER
  // mainstream trainer beside BPE (Kudo, "Subword Regularization",
  // ACL 2018). Where BPE grows a vocab bottom-up by merges, the
  // unigram LM starts from a substring seed vocab and runs EM: the
  // E-step Viterbi-segments every word under the current piece
  // scores, the M-step recounts pieces from those segmentations, and
  // pruning keeps the surviving multi-char pieces (single characters
  // are never pruned — they guarantee every word stays segmentable).
  // Everything is deterministic and exact-integer: scores live in
  // qlog2's quantized log space (score(p) = ql(cnt+1) − ql(T), the
  // one add-one smoothing), the Viterbi objective is the combined
  // integer u = Σ (TieK·score(p) − 1) — lexicographically (total
  // score, fewer pieces) because TieK = 128 exceeds the max piece
  // count — and all ties in the DP break toward the LONGEST piece
  // ending at each position (strict-improvement fold over ascending
  // start positions). The oracle unrolls both EM rounds, each with
  // its own qlog chain over that round's count values.
  //
  // Scale: the corpus touches ONE wide shuffle (the word-frequency
  // frontier — bpeTrainFull's discipline); every EM stage after is
  // bounded by DISTINCT words × word length, never corpus size, and
  // the model (≤ chars + UniPruneK pieces) rides a one-row ConstKey
  // broadcast. The word cap and piece cap are operator parameters:
  // words truncate to UniMaxWordLen chars before counting (both
  // engines state the same truncation), pieces to UniMaxPieceLen.
  // ---------------------------------------------------------------

  private[graft] val UniMaxPieceLen = 4
  private[graft] val UniMaxWordLen = 24
  private[graft] val UniSeedK = 48
  private[graft] val UniPruneK = 32
  private[graft] val UniEmRounds = 2

  /** The tie-break multiplier: u = Σ (TieK·score − 1) decomposes
    * uniquely back into (Σ score, n_pieces) because n ≤
    * [[UniMaxWordLen]] < TieK.
    * Do not drop the −1: ExtSpec "t35/t36 unigram-LM: the Spark Viterbi
    * equals a JVM DP replay …" fails once ties stop preferring fewer
    * pieces. */
  private val UniTieK = 128L

  /** The unreachable-path sentinel: far below any real path sum
    * (|pw| ≲ TieK·2¹⁶·log₂T ≈ 2²⁸ per piece, ≤ 24 pieces) yet safe
    * against int64 overflow across 24 sentinel additions. */
  private val UniNeg = -(1L << 40)

  /** The one corpus-wide shuffle: truncated-word frequencies. */
  private[graft] def uniWordFreqs(d: DataFrame): DataFrame =
    d.select(explode(toks).as("w0"))
      .filter(col("w0") =!= "")
      .select(substring(col("w0"), 1, UniMaxWordLen).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** The character inventory — every codepoint of every word, with
    * occurrence-weighted counts. Never pruned: the coverage floor. */
  private[graft] def uniChars(wf: DataFrame): DataFrame =
    wf.select(col("cnt"),
        explode(regexp_extract_all(col("w"), lit("."), lit(0))).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("pcnt"))

  /** Seed multi-char candidates: every substring of length
    * 2..[[UniMaxPieceLen]], occurrence-weighted (top-K selection is
    * the caller's). Spark's sequence() DESCENDS when from > to, so
    * short words guard to an empty array explicitly. */
  private def uniSeedMultis(wf: DataFrame): DataFrame =
    wf.select(col("cnt"), explode(flatten(transform(
        sequence(lit(2), lit(UniMaxPieceLen)), l =>
          when(length(col("w")) >= l,
            transform(sequence(lit(1), length(col("w")) - l + 1),
              pos => col("w").substr(pos, l)))
            .otherwise(array().cast("array<string>"))))).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("pcnt"))

  /** Per-piece quantized scores of a (p, pcnt) vocab: score =
    * ql(pcnt+1) − ql(T), T = Σ (pcnt+1) — add-one smoothing so a
    * zero-count character still scores, every log the native
    * [[graft.functions.QLog2]]. */
  private def uniScored(vocab: DataFrame): DataFrame = {
    import graft.functions.QLog2.qlog2
    import graft.ops.ConstKey
    val t = vocab.agg(sum(col("pcnt") + 1).as("tt"))
      .withColumn("k", ConstKey.one(col("tt")))
    vocab.withColumn("k", ConstKey.one(col("pcnt") + 1))
      .join(broadcast(t), Seq("k"))
      .select(col("p"), col("pcnt"), col("tt"),
        (qlog2(col("pcnt") + 1) - qlog2(col("tt"))).as("score"))
  }

  /** The one-row segmenter model: piece → pw map (pw = TieK·score −
    * 1, the combined Viterbi weight) plus the unknown-single-char
    * weight (a count-0 piece under the same smoothing: TieK·(ql(1) −
    * ql(T)) − 1 = −TieK·ql(T) − 1) — how t36 segments eval words
    * whose characters training never saw. */
  private def uniModel(vocab: DataFrame): DataFrame = {
    import graft.functions.QLog2.qlog2
    uniScored(vocab)
      .select(col("p"), (lit(UniTieK) * col("score") - 1).as("pw"), col("tt"))
      .groupBy()
      .agg(map_from_entries(collect_list(struct(col("p"), col("pw"))))
          .as("pmap"),
        max(col("tt")).as("tt"))
      .select(col("pmap"),
        (lit(UniTieK) * (lit(0L) - qlog2(col("tt"))) - 1).as("unkpw"))
  }

  /** THE Viterbi fold — the DP chain over positions 1..len(w):
    * chain[i+1] = best (u, seg) over pieces ending at i, candidate
    * starts jj descending in piece length (ascending jj, strict-
    * improvement keep ⇒ ties break to the longest piece). Unknown
    * pieces: single chars fall back to `unkpw`, longer ones are
    * unreachable. ONE expression for training's E-step and t36's
    * apply — the t26 fold discipline; the oracle restates it as the
    * same nested list_reduce ([[uniDpSql]]). */
  private def uniDpChain: Column = {
    val emptySeg = array().cast("array<string>")
    aggregate(
      sequence(lit(1), length(col("w"))),
      array(struct(lit(0L).as("u"), emptySeg.as("seg"))),
      (acc, i) => concat(acc, array(
        aggregate(
          sequence(greatest(lit(1), i - lit(UniMaxPieceLen - 1)), i),
          struct(lit(UniNeg).as("u"), emptySeg.as("seg")),
          (b, jj) => {
            val piece = col("w").substr(jj, i - jj + lit(1))
            val pw = coalesce(element_at(col("pmap"), piece),
              when(jj === i, col("unkpw")).otherwise(lit(UniNeg)))
            val cand = struct(
              (element_at(acc, jj).getField("u") + pw).as("u"),
              concat(element_at(acc, jj).getField("seg"), array(piece))
                .as("seg"))
            when(cand.getField("u") > b.getField("u"), cand).otherwise(b)
          }))))
  }

  /** Viterbi-segment a (w) word frame under a model row: (w, u,
    * seg). The model is a one-row ConstKey broadcast; the DP is
    * map-side column algebra — nothing here scales past the distinct
    * words. */
  private[graft] def uniSegmentWords(words: DataFrame,
      model: DataFrame): DataFrame = {
    import graft.ops.ConstKey
    words.withColumn("k", ConstKey.one(length(col("w"))))
      .join(broadcast(model.withColumn("k", ConstKey.one(col("unkpw")))),
        Seq("k"))
      .select(col("w"),
        element_at(uniDpChain, length(col("w")) + 1).as("best"))
      .select(col("w"), col("best").getField("u").as("u"),
        col("best").getField("seg").as("seg"))
  }

  /** The EM training loop — ONE loop for t35 (which reads the final
    * scored vocab) and t36 (which segments with the final model), the
    * t24/t25 discipline. Returns (final (p, pcnt) vocab, final model
    * row). Per round: score the vocab, Viterbi-segment the word
    * frontier, recount pieces from the segmentations, keep all
    * characters (count 0 if now unused) plus the top [[UniPruneK]]
    * multi-char pieces by (count, piece). Each stage is checkpointed
    * so round r+1 reads round r's rows (the contraction
    * discipline). */
  private[graft] def uniTrainFull(d: DataFrame): (DataFrame, DataFrame) = {
    import graft.ops.Subplan
    val wf = Subplan.once(uniWordFreqs(d))
    val chars = Subplan.once(uniChars(wf))
    var vocab = Subplan.once(chars.unionByName(
      uniSeedMultis(wf)
        .orderBy(col("pcnt").desc, col("p").asc).limit(UniSeedK)))
    for (_ <- 1 to UniEmRounds) {
      val segCounts = Subplan.once(uniSegCounts(wf, vocab))
      vocab = Subplan.once(uniVocabUpdate(chars, segCounts))
    }
    (vocab, uniModel(vocab))
  }

  /** One EM round's E-step + recount: Viterbi-segment the word
    * frontier under the current vocab's model, then piece counts
    * from the segmentations. ONE statement for [[uniTrainFull]]'s
    * round and the `uni_seg_counts` row of PlanSpec's plan-shape
    * ledger. */
  private[graft] def uniSegCounts(wf: DataFrame,
      vocab: DataFrame): DataFrame =
    uniSegmentWords(wf.select(col("w")), uniModel(vocab))
      .join(wf, Seq("w"))
      .select(col("cnt"), explode(col("seg")).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("pcnt"))

  /** One EM round's M-step vocab: every character (count 0 if now
    * unused) plus the top [[UniPruneK]] multi-char pieces by
    * (count, piece) — the [[uniSegCounts]] twin half of the round
    * body / ledger row. */
  private[graft] def uniVocabUpdate(chars: DataFrame,
      segCounts: DataFrame): DataFrame =
    chars.select(col("p"))
      .join(segCounts, Seq("p"), "left")
      .select(col("p"), coalesce(col("pcnt"), lit(0L)).as("pcnt"))
      .unionByName(segCounts.filter(length(col("p")) >= 2)
        .orderBy(col("pcnt").desc, col("p").asc).limit(UniPruneK))

  /** [[uniDpChain]] restated for DuckDB — the same nested reduce
    * (outer: positions via dummy fold, DuckDB's list_reduce seeds
    * from the first element so the chain starts as the prepended
    * [best₀]; inner: candidate starts ascending, strict-improvement
    * keep = longest-piece tie-break), the same unknown-single-char
    * fallback, the same sentinel. `vm` is the model table alias
    * carrying (m, unkpw). ONE statement for every oracle
    * segmentation — the bpeFoldCase discipline. */
  private def uniDpSql(vm: String): String =
    s"""list_reduce(
       |  list_prepend([{'u': 0::BIGINT, 'seg': []::VARCHAR[]}],
       |    list_transform(generate_series(1, length(w)), i -> NULL)),
       |  (acc, dummy) -> list_append(acc,
       |     list_reduce(
       |       list_prepend({'u': ($UniNeg)::BIGINT, 'seg': []::VARCHAR[]},
       |         list_transform(generate_series(
       |             greatest(1, len(acc) - ${UniMaxPieceLen - 1}), len(acc)),
       |           jj ->
       |           {'u': acc[jj].u + coalesce($vm.m[w[jj:len(acc)]][1]::BIGINT,
       |                   CASE WHEN jj = len(acc) THEN $vm.unkpw
       |                        ELSE ($UniNeg)::BIGINT END),
       |            'seg': list_append(acc[jj].seg, w[jj:len(acc)])})),
       |       (b, c) -> CASE WHEN c.u > b.u THEN c ELSE b END)))""".stripMargin

  /** The scored-model CTEs for vocab CTE `v` under suffix `sfx`:
    * total mass, the qlog chain over that round's distinct count
    * values ([[qlogChainCteNamed]] — round-dependent, hence the
    * suffix), and the one-row (m, unkpw) model table. */
  private def uniModelCtes(v: String, sfx: String): String =
    s"""utv$sfx AS (SELECT CAST(SUM(pcnt + 1) AS BIGINT) AS tt FROM $v),
       |uvl$sfx AS (SELECT DISTINCT x FROM (
       |    SELECT pcnt + 1 AS x FROM $v UNION ALL SELECT tt FROM utv$sfx)),
       |${qlogChainCteNamed(s"uvl$sfx", s"u$sfx")},
       |uvm$sfx AS MATERIALIZED (SELECT
       |    map(list(p ORDER BY p), list(pw ORDER BY p)) AS m,
       |    (SELECT $UniTieK * (0 - qt.ql) - 1 FROM qlu$sfx qt, utv$sfx t
       |      WHERE qt.x = t.tt) AS unkpw
       |  FROM (SELECT v.p, $UniTieK * (qa.ql - qb.ql) - 1 AS pw
       |    FROM $v v, utv$sfx t, qlu$sfx qa, qlu$sfx qb
       |    WHERE qa.x = v.pcnt + 1 AND qb.x = t.tt))""".stripMargin

  /** One EM round as CTEs, uv{r−1} → uv{r}: score, segment the word
    * frontier, recount from the segmentations, re-assemble chars +
    * top-K multis — the same statements, same tie-breaks, as
    * [[uniTrainFull]]'s round. MATERIALIZED breaks the cross-round
    * CTE inlining blowup (the knn-chain lesson). */
  private def uniRoundCtes(r: Int): String =
    s"""${uniModelCtes(s"uv${r - 1}", s"$r")},
       |usg$r AS MATERIALIZED (SELECT w, cnt,
       |    chain[len(chain)].seg AS seg FROM (
       |    SELECT w, cnt, ${uniDpSql(s"uvm$r")} AS chain
       |    FROM uw, uvm$r)),
       |usc$r AS MATERIALIZED (SELECT p, CAST(SUM(cnt) AS BIGINT) AS pcnt
       |  FROM (SELECT unnest(seg) AS p, cnt FROM usg$r) GROUP BY p),
       |uv$r AS MATERIALIZED (
       |  SELECT c.p, COALESCE(s.pcnt, 0::BIGINT) AS pcnt
       |  FROM uch c LEFT JOIN usc$r s ON s.p = c.p
       |  UNION ALL
       |  SELECT p, pcnt FROM (
       |    SELECT p, pcnt, ROW_NUMBER() OVER (ORDER BY pcnt DESC, p ASC) AS rk
       |    FROM usc$r WHERE len(p) >= 2) WHERE rk <= $UniPruneK)""".stripMargin

  /** The word frontier + seed vocab + `rounds` unrolled EM rounds —
    * the shared front of the t35 and t36 oracles (`where` restricts
    * the training corpus for t36's split, the bpeChainCte
    * discipline). Ends at CTE uv`rounds`. */
  private def uniChainCte(rounds: Int, where: String): String =
    s"""uw AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT w0[1:$UniMaxWordLen] AS w FROM (
       |      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w0
       |      FROM documents$where)
       |    WHERE w0 <> '') GROUP BY w),
       |uch AS MATERIALIZED (SELECT p, CAST(SUM(cnt) AS BIGINT) AS pcnt
       |  FROM (SELECT unnest(regexp_extract_all(w, '.')) AS p, cnt FROM uw)
       |  GROUP BY p),
       |umu AS (SELECT p, pcnt FROM (
       |    SELECT p, pcnt, ROW_NUMBER() OVER (ORDER BY pcnt DESC, p ASC) AS rk
       |    FROM (SELECT p, CAST(SUM(cnt) AS BIGINT) AS pcnt FROM (
       |      SELECT unnest(flatten(list_transform(
       |          generate_series(2, $UniMaxPieceLen), l ->
       |          list_transform(generate_series(1, len(w) - l + 1), pos ->
       |            w[pos:pos+l-1])))) AS p, cnt
       |      FROM uw) GROUP BY p)) WHERE rk <= $UniSeedK),
       |uv0 AS MATERIALIZED (
       |  SELECT p, pcnt FROM uch UNION ALL SELECT p, pcnt FROM umu),
       |${(1 to rounds).map(uniRoundCtes).mkString(",\n")}""".stripMargin

  private def uniTrainOracleSql: String = {
    val r = UniEmRounds
    s"""WITH ${uniChainCte(r, "")},
       |${uniModelCtes(s"uv$r", "F")}
       |SELECT v.p AS piece, v.pcnt AS pcnt, qa.ql - qb.ql AS score
       |FROM uv$r v, utvF t, qluF qa, qluF qb
       |WHERE qa.x = v.pcnt + 1 AND qb.x = t.tt""".stripMargin
  }

  private def uniSegmentOracleSql: String = {
    val r = UniEmRounds
    s"""WITH ${uniChainCte(r, s" WHERE NOT ($evalDrawSql)")},
       |${uniModelCtes(s"uv$r", "F")},
       |ew AS (SELECT doc_id, w FROM (
       |    SELECT doc_id, w0[1:$UniMaxWordLen] AS w FROM (
       |      SELECT doc_id,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS w0
       |      FROM documents WHERE $evalDrawSql)
       |    WHERE w0 <> '')),
       |edw AS (SELECT DISTINCT w FROM ew),
       |esg AS MATERIALIZED (SELECT w,
       |    len(chain[len(chain)].seg) AS n_pieces FROM (
       |    SELECT w, ${uniDpSql("uvmF")} AS chain FROM edw, uvmF))
       |SELECT e.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(s.n_pieces) AS BIGINT) AS n_subtok,
       |  CAST(SUM(s.n_pieces) AS DOUBLE) / COUNT(*) AS subtok_per_word
       |FROM ew e JOIN esg s ON s.w = e.w
       |GROUP BY e.doc_id""".stripMargin
  }

  /** The one-merge fold of [[bpeMergeFold]], restated for DuckDB: the
    * space-joined list_reduce over `$alias.syms` against the round's
    * b-row. Symbols are \s+-split word fragments, so ' ' can never
    * occur inside one; '[^ ]*$' is the accumulator's last symbol,
    * replace-first rewrites it to the merged pair. The NULL guard
    * mirrors the Spark side's empty-inventory no-op (LEFT JOIN ON
    * TRUE). ONE statement for the training chain's v_r blocks and the
    * apply chain's a_r blocks — the SQL twin of [[bpeMergeFold]]'s
    * one-definition rule. */
  private def bpeFoldCase(alias: String): String =
    s"""CASE WHEN b.lhs IS NULL THEN $alias.syms
       |    ELSE string_split(list_reduce($alias.syms, (acc, x) -> CASE
       |      WHEN regexp_extract(acc, '[^ ]*$$') = b.lhs AND x = b.rhs
       |      THEN regexp_replace(acc, '[^ ]*$$', '') || b.lhs || b.rhs
       |      ELSE acc || ' ' || x END), ' ') END""".stripMargin

  /** The unrolled training chain shared by the t24, t25, and t26
    * oracles: v0 (word-frequency vocab over `documents$where`, word
    * string threaded through) and, per round r, pair counts p_r →
    * deterministic best b_r → folded vocab v_r. t24 reads the b_r
    * rows, t25 the final v_rounds, t26 replays the b_r rows over its
    * held-out words (CTEs are lazy, so each oracle pays only for what
    * it references). `where` restricts the training corpus (t26
    * trains on the non-eval split; t24/t25 pass the empty default). */
  private def bpeV0Cte(where: String): String =
    s"""v0 AS (
      |  SELECT w, regexp_extract_all(w, '.') AS syms, cnt FROM (
      |    SELECT w, COUNT(*) AS cnt FROM (
      |      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      |      FROM documents$where)
      |    WHERE w <> '' GROUP BY w))""".stripMargin

  /** Round-r adjacent-pair counts over `v${r-1}` — shared by the
    * sequential (t24/t25/t26) and batched (t28) chains. */
  private def bpePairsCte(r: Int): String =
    s""", p$r AS (
       |  SELECT p.lhs AS lhs, p.rhs AS rhs, SUM(cnt) AS pair_count FROM (
       |    SELECT unnest([{'lhs': syms[i], 'rhs': syms[i+1]}
       |      for i in generate_series(1, len(syms) - 1)]) AS p, cnt
       |    FROM v${r - 1} WHERE len(syms) >= 2) GROUP BY 1, 2)""".stripMargin

  private def bpeChainCte(rounds: Int, where: String = ""): String = {
    val blocks = (1 to rounds).map { r =>
      s"""${bpePairsCte(r)}
         |, b$r AS (
         |  SELECT lhs, rhs, pair_count FROM p$r
         |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1)
         |, v$r AS (
         |  SELECT v.w AS w, ${bpeFoldCase("v")} AS syms, v.cnt AS cnt
         |  FROM v${r - 1} v LEFT JOIN b$r b ON TRUE)""".stripMargin
    }.mkString
    bpeV0Cte(where) + blocks
  }

  /** t28's batched chain: per round, `c_r` = the top-4·batch
    * candidate window in the exact t24 winner order; `g_r` = the
    * RECURSIVE greedy walk over it in rank order (take a pair unless
    * an already-taken symbol matches its lhs/rhs, stop taking at
    * `batch` — the SQL statement of the Spark side's driver-side
    * greedy, one row per step, the list columns carrying the selected
    * structs and taken symbols); `s_r` = the final step's selected
    * list unnested; then `batch` unrolled applications of the SAME
    * [[bpeFoldCase]] fold in brn order (the j-th sub-step's join is
    * empty when the batch selected fewer than j pairs — the NULL
    * guard makes it a no-op, exactly the Spark side's fold over the
    * ≤ batch-element literal array).
    *
    * The MATERIALIZED hints are load-bearing: `c_r` is referenced
    * ONLY from inside the recursive arm, so DuckDB inlines it and
    * re-evaluates the whole upstream chain (v0 → … → p_r) on EVERY
    * recursion step — ~4·batch iterations × rounds of full-chain
    * evaluations (a measured >45-min stall at sf1 where the hinted
    * form runs in minutes); `s_r`/`v_r` are referenced `batch`+ times
    * by the unrolled sub-steps and the next round. */
  private def bpeBatchChainCte(rounds: Int, batch: Int): String = {
    val blocks = (1 to rounds).map { r =>
      val subSteps = (1 to batch).map { j =>
        s"""
           |, v${r}_$j AS (
           |  SELECT v.w AS w, ${bpeFoldCase("v")} AS syms, v.cnt AS cnt
           |  FROM v${r}_${j - 1} v
           |  LEFT JOIN (SELECT lhs, rhs FROM s$r WHERE brn = $j) b ON TRUE)"""
          .stripMargin
      }.mkString
      s"""${bpePairsCte(r)}
         |, c$r AS MATERIALIZED (SELECT * FROM (
         |    SELECT lhs, rhs, pair_count, ROW_NUMBER() OVER
         |        (ORDER BY pair_count DESC, lhs, rhs) AS rn
         |    FROM p$r) WHERE rn <= ${batch * 4})
         |, g$r(i, sel, taken) AS (
         |  SELECT CAST(0 AS BIGINT),
         |    []::STRUCT(brn BIGINT, lhs VARCHAR, rhs VARCHAR,
         |               pair_count BIGINT)[],
         |    []::VARCHAR[]
         |  UNION ALL
         |  SELECT c.rn,
         |    CASE WHEN NOT list_contains(g.taken, c.lhs)
         |          AND NOT list_contains(g.taken, c.rhs)
         |          AND len(g.sel) < $batch
         |      THEN list_append(g.sel, {'brn': len(g.sel) + 1,
         |        'lhs': c.lhs, 'rhs': c.rhs,
         |        'pair_count': CAST(c.pair_count AS BIGINT)})
         |      ELSE g.sel END,
         |    CASE WHEN NOT list_contains(g.taken, c.lhs)
         |          AND NOT list_contains(g.taken, c.rhs)
         |          AND len(g.sel) < $batch
         |      THEN g.taken || [c.lhs, c.rhs] ELSE g.taken END
         |  FROM g$r g JOIN c$r c ON c.rn = g.i + 1)
         |, s$r AS MATERIALIZED (
         |  SELECT unnest(f.sel, recursive := true)
         |  FROM (SELECT sel FROM g$r ORDER BY i DESC LIMIT 1) f)
         |, v${r}_0 AS (SELECT * FROM v${r - 1})$subSteps
         |, v$r AS MATERIALIZED (SELECT * FROM v${r}_$batch)""".stripMargin
    }.mkString
    bpeV0Cte("") + blocks
  }

  private def bpeBatchOracleSql(rounds: Int, batch: Int): String = {
    val union = (1 to rounds).map(r =>
      s"SELECT $r AS round, brn, lhs, rhs, pair_count FROM s$r")
      .mkString("\n    UNION ALL\n    ")
    s"""WITH RECURSIVE ${bpeBatchChainCte(rounds, batch)}
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, brn) AS INTEGER)
       |    AS merge_rank,
       |  lhs, rhs, CAST(pair_count AS BIGINT) AS pair_count
       |FROM ($union)""".stripMargin
  }

  /** t26's replay chain: a0 = the DISTINCT words of
    * `documents$where` as codepoint symbols, then per round r the
    * SAME fold as v_r against the training chain's b_r — the SQL
    * statement of [[bpeApplySegments]]'s rank-ordered replay. */
  private def bpeApplyCte(rounds: Int, where: String): String = {
    val a0 =
      s"""a0 AS (
         |  SELECT w, regexp_extract_all(w, '.') AS syms FROM (
         |    SELECT DISTINCT
         |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |    FROM documents$where)
         |  WHERE w <> '')""".stripMargin
    val blocks = (1 to rounds).map { r =>
      s"""
         |, a$r AS (
         |  SELECT v.w AS w, ${bpeFoldCase("v")} AS syms
         |  FROM a${r - 1} v LEFT JOIN b$r b ON TRUE)""".stripMargin
    }.mkString
    a0 + blocks
  }

  /** The t08/t13 md5 eval draw as DuckDB SQL (the doc_id form). */
  private[graft] val evalDrawSql =
    "('0x' || substr(md5(doc_id || ':eval'), 1, 8))::BIGINT % 8 = 0"

  /** [[graft.functions.QLog2]]'s recurrence unrolled as chained DuckDB
    * CTEs over `valsCte`'s distinct positive `x` values — the oracle
    * half of the qlog2 one-definition (constants come FROM QLog2, so a
    * Q/S change moves both engines together or fails the hash). Emits
    * `ql AS (SELECT x, ql ...)`: the msb via a comparison ladder, the
    * mantissa normalization with the same truncating shift, then
    * FracBits square-and-shift rounds referencing each step's
    * PREVIOUS y exactly as the JVM loop does. */
  private[graft] def qlogChainCte(valsCte: String): String =
    qlogChainCteNamed(valsCte, "")

  /** The suffixed form — oracles whose chain needs MORE than one ql
    * table (t35's two EM rounds look up logs of round-dependent
    * counts, and round 2's inputs depend on round 1's ql) emit one
    * chain per suffix; the recurrence text is this ONE generator
    * either way. */
  private def qlogChainCteNamed(valsCte: String, sfx: String): String = {
    val S = graft.functions.QLog2.MantBits
    val Q = graft.functions.QLog2.FracBits
    val msb = (1 to 62).map(k =>
      s"CASE WHEN x >= ${1L << k} THEN 1 ELSE 0 END").mkString(" + ")
    val head =
      s"""qm$sfx AS (SELECT x, ($msb) AS m FROM $valsCte),
         |q${sfx}_0 AS (SELECT x, m,
         |    CASE WHEN m <= $S THEN x * (1::BIGINT << ($S - m))
         |         ELSE x // (1::BIGINT << (m - $S)) END AS y,
         |    0::BIGINT AS r FROM qm$sfx)""".stripMargin
    val steps = (1 to Q).map { i =>
      s"""q${sfx}_$i AS (SELECT x, m,
         |    CASE WHEN (y * y) // ${1L << S} >= ${1L << (S + 1)}
         |         THEN ((y * y) // ${1L << S}) // 2
         |         ELSE (y * y) // ${1L << S} END AS y,
         |    r * 2 + CASE WHEN (y * y) // ${1L << S} >= ${1L << (S + 1)}
         |            THEN 1 ELSE 0 END AS r
         |    FROM q${sfx}_${i - 1})""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s",\nql$sfx AS (SELECT x, m * ${1L << Q} + r AS ql FROM q${sfx}_$Q)"
  }

  /** t37's oracle CTE chain — tokenize → hashed buckets → per-doc tf
    * → per-bucket model counts → the ONE qlog recurrence → folded
    * coefficients → pool weights → histogram-free exact ROW_NUMBER
    * top quarter. Parameterized over the flagged-source CTE text
    * (must define `d$sfx` with (doc_id, is_tgt, tk)) and a CTE
    * suffix, because the composed t43 oracle runs this chain beside
    * the t38 drift chain (both build histogram + qlog tables). Ends
    * at kk$sfx (the k row) and rnk$sfx (doc_id, qw, rn). ONE text
    * with the registered t37 oracle (sfx = ""). */
  private[graft] def dsirOracleCtes(dCte: String, sfx: String): String =
    s"""$dCte,
       |tok$sfx AS (SELECT doc_id, is_tgt,
       |    ('0x' || substr(md5(w), 1, 9))::BIGINT % $DsirB AS b
       |  FROM (SELECT doc_id, is_tgt, unnest(tk) AS w FROM d$sfx)),
       |tf$sfx AS (SELECT doc_id, is_tgt, b, COUNT(*) AS tf
       |  FROM tok$sfx GROUP BY 1, 2, 3),
       |nb$sfx AS (SELECT b,
       |    CAST(SUM(CASE WHEN is_tgt THEN tf ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(SUM(CASE WHEN NOT is_tgt THEN tf ELSE 0 END) AS BIGINT)
       |      AS n_p
       |  FROM tf$sfx GROUP BY b),
       |tots$sfx AS (SELECT CAST(SUM(n_t) AS BIGINT) AS ntt,
       |    CAST(SUM(n_p) AS BIGINT) AS npt FROM nb$sfx),
       |vals$sfx AS (SELECT DISTINCT x FROM (
       |    SELECT n_t + 1 AS x FROM nb$sfx
       |    UNION ALL SELECT n_p + 1 FROM nb$sfx
       |    UNION ALL SELECT ntt + $DsirB FROM tots$sfx
       |    UNION ALL SELECT npt + $DsirB FROM tots$sfx)),
       |${qlogChainCteNamed(s"vals$sfx", sfx)},
       |coef$sfx AS (SELECT nb.b,
       |    (SELECT ql FROM ql$sfx WHERE x = nb.n_t + 1)
       |    - (SELECT ql FROM ql$sfx WHERE x = nb.n_p + 1)
       |    + (SELECT ql FROM ql$sfx
       |       WHERE x = (SELECT npt + $DsirB FROM tots$sfx))
       |    - (SELECT ql FROM ql$sfx
       |       WHERE x = (SELECT ntt + $DsirB FROM tots$sfx))
       |      AS c
       |  FROM nb$sfx nb),
       |qw$sfx AS (SELECT tf.doc_id, CAST(SUM(tf.tf * coef.c) AS BIGINT) AS qw
       |  FROM tf$sfx tf JOIN coef$sfx coef ON coef.b = tf.b
       |  WHERE NOT tf.is_tgt GROUP BY 1),
       |kk$sfx AS (SELECT COUNT(*) // 4 AS k FROM qw$sfx),
       |rnk$sfx AS (SELECT doc_id, qw,
       |    ROW_NUMBER() OVER (ORDER BY qw DESC, doc_id) AS rn FROM qw$sfx)"""
      .stripMargin

  /** t38's oracle CTE chain — the same hashed buckets counted per
    * side, the ONE qlog recurrence, and the exact-integer qdiff =
    * 2¹⁶·log₂(p/q). Same (dCte, sfx) parameterization as
    * [[dsirOracleCtes]] (the source must define `d$sfx` with
    * (doc_id, is_batch, tk)); ends at qd$sfx (b, n_new, n_old, ntn,
    * nto, qdiff). ONE text with the registered t38 oracle (sfx = "")
    * and the t43 drift gate. */
  private[graft] def driftOracleCtes(dCte: String, sfx: String): String =
    s"""$dCte,
       |tok$sfx AS (SELECT doc_id, is_batch,
       |    ('0x' || substr(md5(w), 1, 9))::BIGINT % $DsirB AS b
       |  FROM (SELECT doc_id, is_batch, unnest(tk) AS w FROM d$sfx)),
       |nb$sfx AS (SELECT b,
       |    CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_new,
       |    CAST(SUM(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_old
       |  FROM tok$sfx GROUP BY b),
       |tots$sfx AS (SELECT CAST(SUM(n_new) AS BIGINT) AS ntn,
       |    CAST(SUM(n_old) AS BIGINT) AS nto FROM nb$sfx),
       |vals$sfx AS (SELECT DISTINCT x FROM (
       |    SELECT n_new + 1 AS x FROM nb$sfx
       |    UNION ALL SELECT n_old + 1 FROM nb$sfx
       |    UNION ALL SELECT ntn + $DsirB FROM tots$sfx
       |    UNION ALL SELECT nto + $DsirB FROM tots$sfx)),
       |${qlogChainCteNamed(s"vals$sfx", sfx)},
       |qd$sfx AS (SELECT nb.b, nb.n_new, nb.n_old, t.ntn, t.nto,
       |    (SELECT ql FROM ql$sfx WHERE x = nb.n_new + 1)
       |    + (SELECT ql FROM ql$sfx WHERE x = t.nto + $DsirB)
       |    - (SELECT ql FROM ql$sfx WHERE x = nb.n_old + 1)
       |    - (SELECT ql FROM ql$sfx WHERE x = t.ntn + $DsirB) AS qdiff
       |  FROM nb$sfx nb, tots$sfx t)""".stripMargin

  /** t29's oracle: the naive-Bayes scoring restated over the same
    * md5 train split, with every log₂ read from [[qlogChainCte]]'s
    * table of the model's distinct count values. */
  private def nbLangidOracleSql: String =
    s"""WITH d AS (SELECT doc_id, lang, $evalDrawSql AS is_eval,
       |    regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents),
       |tok AS (SELECT doc_id, lang, is_eval,
       |    ('0x' || substr(md5(w), 1, 9))::BIGINT AS t
       |  FROM (SELECT doc_id, lang, is_eval, unnest(tk) AS w FROM d)),
       |ntc AS (SELECT t, lang, COUNT(*) AS n
       |  FROM tok WHERE NOT is_eval GROUP BY 1, 2),
       |nc AS (SELECT lang, COUNT(*) AS ctot,
       |    COUNT(DISTINCT doc_id) AS ndocs
       |  FROM tok WHERE NOT is_eval GROUP BY 1),
       |vs AS (SELECT COUNT(DISTINCT t) AS v FROM tok WHERE NOT is_eval),
       |nd AS (SELECT CAST(SUM(ndocs) AS BIGINT) AS ntot FROM nc),
       |vals AS (SELECT DISTINCT x FROM (
       |    SELECT n + 1 AS x FROM ntc
       |    UNION ALL SELECT ctot + v FROM nc, vs
       |    UNION ALL SELECT ndocs FROM nc
       |    UNION ALL SELECT ntot FROM nd)),
       |${qlogChainCte("vals")},
       |qn AS (SELECT c.t, c.lang, ql.ql AS qn
       |  FROM ntc c JOIN ql ON ql.x = c.n + 1),
       |cls AS (SELECT nc.lang,
       |    (SELECT ql FROM ql WHERE x = nc.ctot + (SELECT v FROM vs))
       |      AS qd,
       |    (SELECT ql FROM ql WHERE x = (SELECT ntot FROM nd)) -
       |    (SELECT ql FROM ql WHERE x = nc.ndocs) AS qprior
       |  FROM nc),
       |etf AS (SELECT doc_id, lang, t, COUNT(*) AS tf
       |  FROM tok WHERE is_eval GROUP BY 1, 2, 3),
       |term AS (SELECT e.doc_id, e.lang, c.lang AS c, c.qprior,
       |    e.tf * (c.qd - COALESCE(q.qn, 0)) AS s
       |  FROM etf e CROSS JOIN cls c
       |  LEFT JOIN qn q ON q.t = e.t AND q.lang = c.lang),
       |pc AS (SELECT doc_id, lang, c,
       |    CAST(SUM(s) + MAX(qprior) AS BIGINT) AS qsurp
       |  FROM term GROUP BY 1, 2, 3),
       |r AS (SELECT doc_id, lang, c, qsurp,
       |    ROW_NUMBER() OVER w AS rn, LEAD(qsurp) OVER w AS q2
       |  FROM pc WINDOW w AS (PARTITION BY doc_id ORDER BY qsurp, c))
       |SELECT doc_id, lang, c AS pred_lang, qsurp,
       |  CAST(q2 - qsurp AS BIGINT) AS qmargin
       |FROM r WHERE rn = 1""".stripMargin

  private def bpeApplyOracleSql(rounds: Int): String =
    s"""WITH ${bpeChainCte(rounds, s" WHERE NOT ($evalDrawSql)")},
       |${bpeApplyCte(rounds, s" WHERE $evalDrawSql")},
       |seg AS (SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents WHERE $evalDrawSql)
       |  WHERE w <> '')
       |SELECT s.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(len(a.syms)) AS BIGINT) AS n_subtok,
       |  CAST(SUM(len(a.syms)) AS DOUBLE) / COUNT(*) AS subtok_per_word
       |FROM seg s JOIN a$rounds a ON a.w = s.w
       |GROUP BY s.doc_id""".stripMargin

  private def bpeOracleSql(rounds: Int): String = {
    val sel = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS merge_rank, lhs, rhs,
         |  CAST(pair_count AS BIGINT) AS pair_count FROM b$r""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "")
    "WITH " + bpeChainCte(rounds) + sel
  }

  private def bpeSegmentOracleSql(rounds: Int): String =
    s"""WITH ${bpeChainCte(rounds)},
       |seg AS (SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents)
       |  WHERE w <> '')
       |SELECT s.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(len(v.syms)) AS BIGINT) AS n_subtok,
       |  CAST(SUM(len(v.syms)) AS DOUBLE) / COUNT(*) AS subtok_per_word
       |FROM seg s JOIN v$rounds v ON v.w = s.w
       |GROUP BY s.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "t27_epoch_shard" ->
      """WITH fr AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+'))::INTEGER AS n_tok,
        |    ('0x' || substr(md5(doc_id || ':ep1'), 1, 8))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 16 AS INTEGER) AS shard,
        |  CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS pos, n_tok,
        |  CAST(SUM(n_tok) OVER (PARTITION BY h % 16 ORDER BY h, doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS tok_start
        |FROM fr
        |WINDOW w AS (PARTITION BY h % 16 ORDER BY h, doc_id)""".stripMargin,
    "t24_bpe_train" -> bpeOracleSql(BpeMergeRounds),
    "t29_nb_langid" -> nbLangidOracleSql,
    "t32_cms_counts" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text),
        |    '\s+')) AS tok FROM documents),
        |tj AS (SELECT tok,
        |    ('0x' || substr(md5(tok || ':cms'), 1, 8))::BIGINT AS v, j
        |  FROM tok, generate_series(0, 3) g(j)),
        |sk AS (SELECT j, (v >> (j * 4)) % 16 AS cell, COUNT(*) AS counter
        |  FROM tj GROUP BY 1, 2),
        |ex AS (SELECT tok, COUNT(*) AS n_exact FROM tok GROUP BY 1),
        |est AS (SELECT e.tok, MAX(e.n_exact) AS n_exact,
        |    MIN(sk.counter) AS n_est
        |  FROM ex e, generate_series(0, 3) g(j)
        |  JOIN sk ON sk.j = g.j AND sk.cell =
        |    (('0x' || substr(md5(e.tok || ':cms'), 1, 8))::BIGINT
        |      >> (g.j * 4)) % 16
        |  GROUP BY e.tok)
        |SELECT tok, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(n_est AS BIGINT) AS n_est,
        |  CAST(n_est - n_exact AS BIGINT) AS n_over
        |FROM est""".stripMargin,
    "t34_lm_heldout_logppl" ->
      s"""WITH d AS (SELECT doc_id,
        |    $evalDrawSql
        |      AS is_eval,
        |    regexp_split_to_array(trim(text), '\\s+') AS tk
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
        |pos AS (SELECT doc_id, is_eval,
        |    ('0x' || substr(md5(tk[i]), 1, 9))::BIGINT AS u,
        |    ('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 9))::BIGINT AS b
        |  FROM d, unnest(generate_series(1, len(tk) - 1)) g(i)),
        |cu AS (SELECT u, COUNT(*) AS c1 FROM pos WHERE NOT is_eval GROUP BY 1),
        |cb AS (SELECT b, COUNT(*) AS c2 FROM pos WHERE NOT is_eval GROUP BY 1),
        |vs AS (SELECT COUNT(DISTINCT u) AS v_size FROM pos WHERE NOT is_eval),
        |m0 AS (SELECT u, b,
        |    ((COALESCE(c1, 0) + v_size) * 1048576) // (COALESCE(c2, 0) + 1)
        |      AS s
        |  FROM (SELECT DISTINCT u, b FROM pos WHERE is_eval)
        |  LEFT JOIN cu USING (u) LEFT JOIN cb USING (b), vs),
        |vals AS (SELECT DISTINCT s AS x FROM m0),
        |${qlogChainCte("vals")},
        |m AS (SELECT u, b, ql.ql AS l FROM m0 JOIN ql ON ql.x = m0.s),
        |sc AS (SELECT doc_id, l FROM pos JOIN m USING (u, b)
        |  WHERE is_eval)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(l) AS DOUBLE) / (COUNT(*) * 65536.0) - 20.0 AS logppl
        |FROM sc GROUP BY doc_id""".stripMargin,
    "t33_lm_logppl" ->
      s"""WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\\s+') AS tk
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
        |pos AS (SELECT doc_id,
        |    ('0x' || substr(md5(tk[i]), 1, 9))::BIGINT AS u,
        |    ('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 9))::BIGINT AS b
        |  FROM d, unnest(generate_series(1, len(tk) - 1)) g(i)),
        |cu AS (SELECT u, COUNT(*) AS c1 FROM pos GROUP BY 1),
        |cb AS (SELECT b, COUNT(*) AS c2 FROM pos GROUP BY 1),
        |m0 AS (SELECT u, b, (c1 * 1048576) // c2 AS s
        |  FROM (SELECT DISTINCT u, b FROM pos)
        |  JOIN cu USING (u) JOIN cb USING (b)),
        |vals AS (SELECT DISTINCT s AS x FROM m0),
        |${qlogChainCte("vals")},
        |m AS (SELECT u, b, ql.ql AS l FROM m0 JOIN ql ON ql.x = m0.s),
        |sc AS (SELECT doc_id, l FROM pos JOIN m USING (u, b))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(l) AS DOUBLE) / (COUNT(*) * 65536.0) - 20.0 AS logppl
        |FROM sc GROUP BY doc_id""".stripMargin,
    "t31_quota_sample" ->
      """WITH fr AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::INTEGER AS n_tok,
        |    ('0x' || substr(md5(doc_id || ':qs'), 1, 8))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS pos,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS tok_start,
        |    (('0x' || substr(md5(source), 1, 8))::BIGINT % 2 + 1) * 1500
        |      AS budget
        |  FROM fr WINDOW w AS (PARTITION BY source ORDER BY h, doc_id))
        |SELECT doc_id, source, n_tok, pos, tok_start,
        |  CAST(budget AS BIGINT) AS budget,
        |  tok_start + n_tok <= budget AS kept
        |FROM c""".stripMargin,
    "t30_nb_delta" ->
      """WITH base AS (SELECT doc_id, lang, doc_id % 8 = 0 AS is_batch,
        |    text FROM documents),
        |tok AS (SELECT lang, is_batch,
        |    ('0x' || substr(md5(w), 1, 9))::BIGINT AS t
        |  FROM (SELECT lang, is_batch,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM base)),
        |touched AS (SELECT t, lang, COUNT(*) AS n_new
        |  FROM tok WHERE is_batch GROUP BY 1, 2),
        |full_c AS (SELECT t, lang, COUNT(*) AS n FROM tok GROUP BY 1, 2)
        |SELECT f.t, f.lang, CAST(f.n AS BIGINT) AS n,
        |  CAST(u.n_new AS BIGINT) AS n_new
        |FROM full_c f JOIN touched u ON f.t = u.t AND f.lang = u.lang""".stripMargin,
    "t28_bpe_batch_train" -> bpeBatchOracleSql(BpeBatchRounds, BpeBatchSize),
    "t35_unigram_lm_train" -> uniTrainOracleSql,
    "t36_unigram_lm_segment" -> uniSegmentOracleSql,
    // t37: weights restated over the same hashed buckets with every
    // log read from the ONE qlog chain; selection stated as the NAIVE
    // exact top-K (ROW_NUMBER over (qw desc, doc_id)) — the engine's
    // two-phase histogram pick must equal it row for row.
    "t37_dsir_select" ->
      s"""WITH ${dsirOracleCtes(
             s"""d AS (SELECT doc_id, $tgtDrawSql AS is_tgt,
                |    regexp_split_to_array(trim(text), '\\s+') AS tk
                |  FROM documents)""".stripMargin, "")}
         |SELECT doc_id, qw, rn <= (SELECT k FROM kk) AS kept
         |FROM rnk""".stripMargin,
    // t38: the same bucket histograms with every log from the ONE
    // qlog chain; psi_term restates the identical IEEE expression
    // (two exact-int divisions, subtract, multiply, power-of-two
    // scale — per row, never aggregated).
    "t38_corpus_drift" ->
      s"""WITH ${driftOracleCtes(
             s"""d AS (SELECT doc_id, doc_id % 8 = 0 AS is_batch,
                |    regexp_split_to_array(trim(text), '\\s+') AS tk
                |  FROM documents)""".stripMargin, "")}
         |SELECT b, n_new, n_old, qdiff,
         |  (CAST(n_new + 1 AS DOUBLE) / CAST(ntn + $DsirB AS DOUBLE)
         |   - CAST(n_old + 1 AS DOUBLE) / CAST(nto + $DsirB AS DOUBLE))
         |  * CAST(qdiff AS DOUBLE) / 65536.0 AS psi_term
         |FROM qd""".stripMargin,
    "t25_bpe_segment" -> bpeSegmentOracleSql(BpeMergeRounds),
    "t26_bpe_apply" -> bpeApplyOracleSql(BpeMergeRounds),
    "t01_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |  CAST(length(text) AS INTEGER) AS len_chars,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS avg_tok_len
        |FROM documents""".stripMargin,
    "t02_quality" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CASE WHEN length(text) < 100 THEN 'short'
        |       WHEN length(text) < 400 THEN 'medium'
        |       ELSE 'long' END AS len_band
        |FROM documents""".stripMargin,
    "t03_lang_id" ->
      """SELECT doc_id, lang,
        |  CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |         t -> t = 'the')) AS DOUBLE)
        |         / len(regexp_split_to_array(trim(text), '\s+')) > 0.08 THEN 'en'
        |       WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |         t -> t = 'spark')) AS DOUBLE)
        |         / len(regexp_split_to_array(trim(text), '\s+')) > 0.05 THEN 'tech'
        |       ELSE 'other' END AS pred_lang
        |FROM documents""".stripMargin,
    "t04_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "t06_term_stats" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents)
        |SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df,
        |  COUNT(CASE WHEN regexp_extract(tok, '^(.*ing)$', 1) <> ''
        |        THEN 1 END) AS n_ing
        |FROM tok GROUP BY tok""".stripMargin,
    "t07_bpe_tokens" ->
      """WITH p AS (SELECT doc_id,
        |    regexp_extract_all(text,
        |      '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+|\s+') AS pieces,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(pieces) AS INTEGER) AS n_bpe,
        |  CAST(len(list_filter(pieces,
        |    x -> regexp_matches(x, '^ ?[0-9]+$'))) AS INTEGER) AS n_num,
        |  CAST(len(pieces) AS DOUBLE) / n_words AS bpe_per_word
        |FROM p""".stripMargin,
    "t10_pii_redact" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || doc_id
        |      || '@example.com or +1-555-000-' || doc_id AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '\+[0-9][0-9-]{6,}[0-9]')) AS INTEGER) AS n_phone,
        |  regexp_replace(regexp_replace(t,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM p""".stripMargin,
    "t11_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |tri AS (
        |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |    for i in generate_series(1, len(t) - 2)]) AS g FROM tk),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY doc_id, g)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_tri,
        |  COUNT(*) AS n_distinct_tri,
        |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_share,
        |  1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS rep_ratio
        |FROM cnt GROUP BY doc_id""".stripMargin,
    "t05_ngrams" ->
      """WITH tk AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |bg AS (
        |  SELECT unnest([t[i] || ' ' || t[i+1]
        |    for i in generate_series(1, len(t) - 1)]) AS bigram FROM tk)
        |SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
        |HAVING COUNT(*) >= 20""".stripMargin,
    "t09_kmv_distinct" ->
      """WITH t0 AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tok AS (SELECT DISTINCT source, tok FROM t0),
        |h AS (SELECT source,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok),
        |r AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        |kth AS (SELECT source, MAX(h) AS kh FROM r WHERE rn <= 64
        |  GROUP BY source),
        |n AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source)
        |SELECT n.source, n.n_exact,
        |  CASE WHEN n.n_exact < 64 THEN CAST(n.n_exact AS DOUBLE)
        |       ELSE 63 * 4294967296.0 / kth.kh END AS est_distinct
        |FROM n JOIN kth USING (source)""".stripMargin,
    "t08_det_sample" ->
      """WITH rates AS (
        |  SELECT source,
        |    CASE WHEN ('0x' || substr(md5(source), 1, 8))::BIGINT % 2 = 0
        |         THEN 0.5 ELSE 0.2 END AS rate
        |  FROM (SELECT DISTINCT source FROM documents)),
        |drawn AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(doc_id || ':graft'), 1, 8))::BIGINT
        |      / 4294967296.0 AS u
        |  FROM documents)
        |SELECT d.doc_id, d.source, d.u, r.rate
        |FROM drawn d JOIN rates r USING (source)
        |WHERE d.u < r.rate""".stripMargin,
    "t12_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  tf.tf * ((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
        |FROM tf JOIN df USING (term), n""".stripMargin,
    "t14_sequence_pack" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok,
        |  CAST(cum - n_tok AS BIGINT) AS tok_start,
        |  CAST((cum - n_tok) // 512 AS BIGINT) AS seq_start,
        |  CAST((cum - 1) // 512 AS BIGINT) AS seq_end
        |FROM c""".stripMargin,
    "t15_pack_stats" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t),
        |p AS (SELECT source,
        |    CAST(cum - n_tok AS BIGINT) AS tok_start,
        |    CAST(cum AS BIGINT) AS tok_end,
        |    CAST((cum - n_tok) // 512 AS BIGINT) AS seq_start,
        |    CAST((cum - 1) // 512 AS BIGINT) AS seq_end
        |  FROM c),
        |ex AS (SELECT source, tok_start, tok_end, seq_start,
        |    unnest(range(seq_start, seq_end + 1)) AS seq FROM p)
        |SELECT source, CAST(seq AS BIGINT) AS seq,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(CASE WHEN seq_start = seq THEN 1 END) AS BIGINT)
        |    AS n_starts,
        |  CAST(SUM(LEAST(tok_end, (seq + 1) * 512)
        |    - GREATEST(tok_start, seq * 512)) AS BIGINT) AS tok_filled
        |FROM ex GROUP BY 1, 2""".stripMargin,
    "t16_vocab_coverage" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |counts AS (SELECT source, tok, COUNT(*) AS cnt
        |  FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT tok FROM (
        |    SELECT tok, SUM(cnt) AS tf FROM counts GROUP BY 1)
        |  ORDER BY tf DESC, tok LIMIT 16)
        |SELECT c.source, CAST(SUM(c.cnt) AS BIGINT) AS n_tok,
        |  CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN c.cnt ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  SUM(CASE WHEN v.tok IS NOT NULL THEN c.cnt ELSE 0 END)::DOUBLE
        |    / SUM(c.cnt) AS coverage
        |FROM counts c LEFT JOIN vocab v ON c.tok = v.tok
        |GROUP BY c.source""".stripMargin,
    "t20_corpus_pipeline" ->
      s"""WITH planted AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 37 = 5 THEN 'graft boilerplate page about nothing at all repeated across mirrors of the same site with identical wording every single time it appears anywhere online today'
        |         ELSE text END AS text
        |  FROM documents),
        |p AS (SELECT doc_id, source, text,
        |    text || ' canary c' || (doc_id % 199)
        |      || ' alpha beta gamma delta epsilon zeta' AS ctext,
        |    $evalDrawSql
        |      AS is_eval
        |  FROM planted),
        |fr AS (SELECT doc_id, source, is_eval,
        |    len(regexp_split_to_array(trim(ctext), '\\s+'))::BIGINT AS n_tok,
        |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
        |    regexp_split_to_array(trim(ctext), '\\s+') AS t
        |  FROM p),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    [('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |      || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]
        |      || ' ' || t[i+6] || ' ' || t[i+7]), 1, 9))::BIGINT
        |      for i in generate_series(1, len(t) - 7)])) AS x
        |  FROM fr WHERE len(t) >= 8),
        |ev AS (SELECT DISTINCT g.x FROM g JOIN fr USING (doc_id)
        |  WHERE fr.is_eval),
        |hits AS (SELECT g.doc_id, COUNT(ev.x) AS n_hits
        |  FROM g JOIN fr USING (doc_id) LEFT JOIN ev ON g.x = ev.x
        |  WHERE NOT fr.is_eval GROUP BY g.doc_id),
        |keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM fr
        |  WHERE NOT is_eval AND n_tok >= 25 GROUP BY fp),
        |staged AS (SELECT fr.doc_id, fr.source, fr.n_tok,
        |    CASE WHEN fr.is_eval THEN 'eval_holdout'
        |         WHEN fr.n_tok < 25 THEN 'low_quality'
        |         WHEN fr.doc_id <> k.keep_id THEN 'exact_dup'
        |         WHEN COALESCE(h.n_hits, 0) > 0 THEN 'contaminated'
        |         ELSE 'survivor' END AS stage
        |  FROM fr LEFT JOIN keep k ON fr.fp = k.fp
        |  LEFT JOIN hits h ON fr.doc_id = h.doc_id),
        |c AS (SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    (('0x' || substr(md5(source), 1, 8))::BIGINT % 2 + 1) * 1000
        |      AS budget
        |  FROM staged WHERE stage = 'survivor')
        |SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok,
        |  CASE WHEN cum <= budget THEN 'packed' ELSE 'over_budget' END
        |    AS stage,
        |  CASE WHEN cum <= budget THEN CAST(cum - n_tok AS BIGINT) END
        |    AS tok_start,
        |  CASE WHEN cum <= budget THEN CAST((cum - n_tok) // 512 AS BIGINT)
        |    END AS seq_start,
        |  CASE WHEN cum <= budget THEN CAST((cum - 1) // 512 AS BIGINT) END
        |    AS seq_end
        |FROM c
        |UNION ALL
        |SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, stage,
        |  NULL, NULL, NULL
        |FROM staged WHERE stage <> 'survivor'""".stripMargin,
    "t19_inverted_index" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
        |SELECT term, CAST(doc_id // 128 AS BIGINT) AS block,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tf) AS BIGINT) AS n_occ,
        |  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY term, doc_id // 128""".stripMargin,
    "t22_lm_perplexity" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |pos AS (SELECT doc_id,
        |    ('0x' || substr(md5(tk[i]), 1, 9))::BIGINT AS u,
        |    ('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 9))::BIGINT AS b
        |  FROM d, unnest(generate_series(1, len(tk) - 1)) g(i)),
        |cu AS (SELECT u, COUNT(*) AS c1 FROM pos GROUP BY 1),
        |cb AS (SELECT b, COUNT(*) AS c2 FROM pos GROUP BY 1),
        |sc AS (SELECT doc_id, (c1 * 1048576) // c2 AS s
        |  FROM pos JOIN cu USING (u) JOIN cb USING (b))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) * 1048576 AS DOUBLE)
        |    AS surprise
        |FROM sc GROUP BY doc_id""".stripMargin,
    "t23_lm_heldout" ->
      s"""WITH d AS (SELECT doc_id,
        |    $evalDrawSql
        |      AS is_eval,
        |    regexp_split_to_array(trim(text), '\\s+') AS tk
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
        |pos AS (SELECT doc_id, is_eval,
        |    ('0x' || substr(md5(tk[i]), 1, 9))::BIGINT AS u,
        |    ('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 9))::BIGINT AS b
        |  FROM d, unnest(generate_series(1, len(tk) - 1)) g(i)),
        |cu AS (SELECT u, COUNT(*) AS c1 FROM pos WHERE NOT is_eval GROUP BY 1),
        |cb AS (SELECT b, COUNT(*) AS c2 FROM pos WHERE NOT is_eval GROUP BY 1),
        |vs AS (SELECT COUNT(DISTINCT u) AS v_size FROM pos WHERE NOT is_eval),
        |sc AS (SELECT doc_id,
        |    ((COALESCE(c1, 0) + v_size) * 1048576) // (COALESCE(c2, 0) + 1) AS s
        |  FROM pos LEFT JOIN cu USING (u) LEFT JOIN cb USING (b), vs
        |  WHERE is_eval)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) * 1048576 AS DOUBLE)
        |    AS surprise
        |FROM sc GROUP BY doc_id""".stripMargin,
    // The merged delta equals a full t19 rebuild restricted to the
    // touched (term, block) keys — the oracle states that rebuild.
    "t21_index_delta" ->
      """WITH base AS (SELECT doc_id, doc_id % 8 = 0 AS is_batch, text
        |  FROM documents),
        |tok AS (SELECT doc_id, is_batch,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM base),
        |tf AS (SELECT term, doc_id, is_batch, COUNT(*) AS tf
        |  FROM tok GROUP BY 1, 2, 3),
        |tfb AS (SELECT term, doc_id, is_batch, tf,
        |    CAST(doc_id // 128 AS BIGINT) AS block FROM tf),
        |touched AS (SELECT DISTINCT term, block FROM tfb WHERE is_batch)
        |SELECT t.term, t.block,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tf) AS BIGINT) AS n_occ,
        |  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings,
        |  CAST(COUNT(CASE WHEN is_batch THEN 1 END) AS BIGINT) AS n_new
        |FROM tfb t JOIN touched u ON t.term = u.term AND t.block = u.block
        |GROUP BY t.term, t.block""".stripMargin,
    "t18_budget_prefix" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    (('0x' || substr(md5(source), 1, 8))::BIGINT % 2 + 1) * 1500
        |      AS budget
        |  FROM t)
        |SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok,
        |  CAST(cum - n_tok AS BIGINT) AS tok_start,
        |  CAST(budget AS BIGINT) AS budget,
        |  cum <= budget AS kept
        |FROM c""".stripMargin,
    "t17_budget_mix" ->
      """WITH fr AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tok
        |  FROM documents),
        |tot AS (SELECT source, SUM(n_tok)::BIGINT AS tok_total,
        |    (('0x' || substr(md5(source), 1, 8))::BIGINT % 2 + 1) * 1500
        |      AS budget
        |  FROM fr GROUP BY source),
        |k AS (SELECT f.source, f.n_tok, t.tok_total, t.budget,
        |    (('0x' || substr(md5(f.doc_id || ':mix'), 1, 8))::BIGINT)::HUGEINT
        |      * t.tok_total < t.budget::HUGEINT * 4294967296 AS keep
        |  FROM fr f JOIN tot t USING (source))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
        |  CAST(MAX(tok_total) AS BIGINT) AS tok_total,
        |  CAST(MAX(budget) AS BIGINT) AS budget,
        |  CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS tok_kept
        |FROM k GROUP BY source""".stripMargin,
    "t13_decontaminate" ->
      s"""WITH p AS (SELECT doc_id,
        |    text || ' canary c' || (doc_id % 25)
        |      || ' alpha beta gamma delta epsilon zeta' AS text,
        |    $evalDrawSql
        |      AS is_eval
        |  FROM documents),
        |tk AS (SELECT doc_id, is_eval,
        |    regexp_split_to_array(trim(text), '\\s+') AS t FROM p
        |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 8),
        |g AS (SELECT doc_id, is_eval, unnest(list_distinct(
        |    [('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |      || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]
        |      || ' ' || t[i+6] || ' ' || t[i+7]), 1, 9))::BIGINT
        |      for i in generate_series(1, len(t) - 7)])) AS x
        |  FROM tk),
        |ev AS (SELECT DISTINCT x FROM g WHERE is_eval),
        |tr AS (SELECT doc_id, x FROM g WHERE NOT is_eval)
        |SELECT tr.doc_id, COUNT(*) AS n_grams,
        |  COUNT(ev.x) AS n_hits,
        |  CAST(COUNT(ev.x) AS DOUBLE) / COUNT(*) AS contam_ratio
        |FROM tr LEFT JOIN ev ON tr.x = ev.x
        |GROUP BY tr.doc_id""".stripMargin
  )
}
