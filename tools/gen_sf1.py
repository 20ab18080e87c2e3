#!/usr/bin/env python3
"""Deterministic sf1 slice for the scale soak (dev tool, driver-side
python only — the engine never reads this code).

Grows the two LLM-pipeline tables 10x over sf0.1 while preserving the
statistics the dedup/ANN operators key on:

- documents (5,000 -> 50,000): ten copies of the sf0.1 corpus. Copy 0
  is verbatim; copies 1-9 replace every token at position i with
  i % 3 == c % 3 by a hash-picked word from the same vocabulary. Every
  word-3-gram window contains exactly one replaced position, so ALL
  shingles change and cross-copy Jaccard collapses to ~0, while
  replacements depend only on (copy, position, original word) so the
  ~25 within-copy near-dup pairs survive in each copy: d02/d03 output
  grows ~10x (linearly), matching corpus growth -- the property the
  soak measures. Exact-dup structure (8 dup texts/copy) also scales.

- embeddings (2,000 -> 20,000): fresh seeded unit-normalized 64-d
  gaussian vectors, labels uniform over 10 cells -- same distribution
  as the driver corpus (element std 1/8 = unit norm at d=64).

- events (100,000 -> 1,000,000): ten user-shards of the sf0.1 log --
  copy c keeps every row's ts/type/value/props but maps user_id ->
  user_id + c*1500 and event_id -> event_id + c*10,000,000, then the
  union is re-sorted by (ts, event_id). Per-user statistics (events
  per user, session gaps, funnel step order) are EXACTLY preserved, so
  the stateful plans (e04 sessionize, e07 funnel) grow in KEY COUNT --
  the web-scale growth direction -- not in per-key state; window
  densities (e02/e03/e10) grow exactly 10x. Events queries touch no
  other table, so the shard offset breaks nothing.

Usage: python3 tools/gen_sf1.py [outdir]   (default scaledata/sf1)
Other tables are symlinked from sf0.1 so graft.Bench runs unmodified.

sf10 mode: python3 tools/gen_sf1.py --sf10 [outdir=scaledata/sf10]
applies the SAME copy trick at 100 copies (documents 5,000 -> 500,000;
embeddings 200,000 fresh vectors; events symlinked from scaledata/sf1's
real 1M-row table) — the second measured decade for the doc/embedding
soak curves (round-16 scale evidence: every claimed-linear ratio gets
two decades, sf0.1 -> sf1 -> sf10). The near-dup/exact-dup structure
still scales linearly: each copy c > 0 replaces positions i % 3 ==
c % 3 with copy-keyed vocabulary picks, so within-copy pair structure
survives per copy and cross-copy Jaccard stays ~0.

Lex mode: python3 tools/gen_sf1.py --lex [outdir=scaledata/sflex]
writes a 131,072-doc corpus with a REALISTIC long-tail vocabulary —
the regime every stock fixture is blind to (sf0.1's documents carry 31
distinct words, so every term is ubiquitous, BM25's idf spread is
degenerate, and block-max pruning can never skip). The shape is the
synthetic-regime WAND probe's (PLANS.md, "t42 seed depth") promoted
into a fixture so ORACLES can run on it: every doc = a 20-token hot
function-word head drawn from 8 hot words (df = N, the idf noise
floor) + 10-40 Zipf(1.1) content
tokens over a 10,000-word tail (df spectrum ~N down to ~20 — the
WAND probe's mid-tail picks exist at fixture scale). Queries stay
the registered convention (doc_id < 10 texts), so t40 ≡ t42's one-text
pin and the admission machinery are exercised where pruning actually
prunes. Other tables symlink from sf0.1.

sf10 events: --sf10 now writes a REAL 100x event log (100 user-shards
of the sf0.1 log — the sf1 trick applied at 100 copies, per-user
statistics exactly preserved, 10M rows) instead of symlinking sf1's,
so the e-family skew-soak queries get a second measured decade.

Zipf mode: python3 tools/gen_sf1.py --zipf [outdir=scaledata/sf1zipf]
writes a 50,000-doc corpus whose tokens are Zipf(1.05) over a 1,000-word
vocabulary — the shingle-df skew a real web corpus has and the uniform
sf1 slice lacks. Three planted structures:
- ~2% "boiler" docs (doc_id % 53 == 11): 15-30 tokens drawn ONLY from
  the top-8 words. Their shingles are the hottest in the corpus AND
  fill their own rarest-first prefixes — the worst case for the
  one-sided d12 join (hot shingle on the prefix side against every
  container holding it).
- ~2% near-dup twins (doc_id % 100 < 2: one token changed at position
  7, twin id + 500,000) so d02 has real pairs to find.
- everything else: independent Zipf draws (near-dup-free background).
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
COPIES = 10


def _fresh(dst):
    """Remove dst before writing: an outdir generated by an older
    script version may hold events.parquet as a SYMLINK into the
    read-only source fixture — writing through it would clobber (or
    crash on) /root/testdata. Also clears stale regular files."""
    if os.path.islink(dst) or os.path.exists(dst):
        os.remove(dst)


def gen_events(outdir, copies=COPIES):
    """copies-x events as user-shards of the sf0.1 log (see module doc)."""
    ev = pq.read_table(f"{SRC}/events.parquet")
    n_users = pc.max(ev["user_id"]).as_py() + 1
    parts = []
    for c in range(copies):
        parts.append(pa.table({
            "event_id": pc.add(ev["event_id"], c * 10_000_000),
            "ts": ev["ts"],
            "user_id": pc.add(ev["user_id"], c * n_users),
            "event_type": ev["event_type"],
            "value": ev["value"],
            "props": ev["props"],
        }))
    big = pa.concat_tables(parts).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")])
    _fresh(f"{outdir}/events.parquet")
    pq.write_table(big, f"{outdir}/events.parquet")
    return big.num_rows


def _u(key):
    """Deterministic uniform [0,1) from a string key."""
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big") / 2.0**64


def gen_zipf_events(outdir):
    """Hot-USER events for the zipf soak: the 10x shard union of
    gen_events, but each of the 15,000 shard-users is REMAPPED to a
    Zipf(1.2)-drawn target user, so whole per-user event streams
    collapse onto few hot keys (the top target absorbs ~15-20% of the
    1M-row log; realistic web telemetry, where one bot/integration
    account dwarfs everyone). This is the skew that bites the PER-KEY
    stateful plans — e04's per-user session windows and e07's per-user
    funnel fold get one partition holding ~200k rows — while the
    time-window family (e02/e03/e10) keys on ts buckets and should not
    care. Event ids keep the shard offsets (globally unique); ts/type/
    value/props ride unchanged, so merged streams interleave real
    session structure."""
    ev = pq.read_table(f"{SRC}/events.parquet")
    n_users = pc.max(ev["user_id"]).as_py() + 1
    total_users = COPIES * n_users
    w = 1.0 / np.power(np.arange(1, total_users + 1), 1.2)
    cdf = np.cumsum(w / w.sum())
    target = pa.array(
        [int(np.searchsorted(cdf, _u(f"zu|{u}")))
         for u in range(total_users)], pa.int64())
    parts = []
    for c in range(COPIES):
        shard_user = pc.add(ev["user_id"], c * n_users)
        parts.append(pa.table({
            "event_id": pc.add(ev["event_id"], c * 10_000_000),
            "ts": ev["ts"],
            "user_id": pc.take(target, shard_user),
            "event_type": ev["event_type"],
            "value": ev["value"],
            "props": ev["props"],
        }))
    big = pa.concat_tables(parts).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")])
    _fresh(f"{outdir}/events.parquet")
    pq.write_table(big, f"{outdir}/events.parquet")
    counts = pa.table({"u": big["user_id"]}).group_by("u").aggregate(
        [("u", "count")])
    top = sorted(counts["u_count"].to_pylist(), reverse=True)[:3]
    return big.num_rows, len(counts), top


def gen_zipf(outdir):
    os.makedirs(outdir, exist_ok=True)
    V, N = 1000, 50000
    vocab = [f"w{r:04d}" for r in range(V)]
    w = 1.0 / np.power(np.arange(1, V + 1), 1.05)
    cdf = np.cumsum(w / w.sum())

    out = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}

    def emit(doc_id, toks):
        text = " ".join(toks)
        out["doc_id"].append(doc_id)
        out["text"].append(text)
        out["lang"].append("en")
        out["source"].append(f"src{doc_id % 5}")
        out["n_chars"].append(len(text))

    for j in range(N):
        if j % 53 == 11:  # boiler: all-hot tokens, short
            length = 15 + int(_u(f"bl|{j}") * 16)
            toks = [vocab[int(_u(f"bt|{j}|{i}") * 8)] for i in range(length)]
        else:
            length = 30 + int(_u(f"dl|{j}") * 121)
            toks = [vocab[int(np.searchsorted(cdf, _u(f"zt|{j}|{i}")))]
                    for i in range(length)]
        emit(j, toks)
        if j % 100 < 2:  # near-dup twin: one replaced token
            tw = list(toks)
            if len(tw) > 7:
                tw[7] = vocab[int(np.searchsorted(cdf, _u(f"tw|{j}")))]
            emit(j + 500000, tw)

    _fresh(f"{outdir}/documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(out["doc_id"], pa.int64()),
        "text": pa.array(out["text"], pa.string()),
        "lang": pa.array(out["lang"], pa.string()),
        "source": pa.array(out["source"], pa.string()),
        "n_chars": pa.array(out["n_chars"], pa.int64()),
    }), f"{outdir}/documents.parquet")
    n_ev, n_eu, top = gen_zipf_events(outdir)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings"):
        dst = f"{outdir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    print(f"wrote {outdir}: documents={len(out['doc_id'])} (zipf) "
          f"events={n_ev} users={n_eu} top3={top}")


def gen_lex(outdir):
    """Long-tail-vocabulary corpus — the lexical regime de-blinder
    (see module doc). Deterministic via one seeded Generator; the df
    spectrum (hot head df=N, Zipf content tail df ~N..~20) is the
    property the t42/t40 pair needs, not the exact draws."""
    os.makedirs(outdir, exist_ok=True)
    N, V = 131072, 10000
    hot = [f"hot{h}" for h in range(8)]
    vocab = [f"c{r:04d}" for r in range(V)]
    w = 1.0 / np.power(np.arange(1, V + 1), 1.1)
    p = w / w.sum()
    rng = np.random.default_rng(20260816)
    klen = rng.integers(10, 41, size=N)
    head = rng.integers(0, 8, size=(N, 20))
    content = rng.choice(V, size=int(klen.sum()), p=p)
    texts = []
    off = 0
    for j in range(N):
        toks = [hot[h] for h in head[j]]
        toks.extend(vocab[c] for c in content[off:off + klen[j]])
        off += int(klen[j])
        texts.append(" ".join(toks))
    _fresh(f"{outdir}/documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(N), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * N, pa.string()),
        "source": pa.array([f"src{j % 5}" for j in range(N)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{outdir}/documents.parquet")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        dst = f"{outdir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    # df summary so the regime claim is checkable at generation time
    dfc = {}
    for t in texts:
        for word in set(t.split()):
            dfc[word] = dfc.get(word, 0) + 1
    dfs = sorted(dfc.values(), reverse=True)
    print(f"wrote {outdir}: documents={N} vocab={len(dfc)} "
          f"df[max,p50,p90,min]={dfs[0]},{dfs[len(dfs)//2]},"
          f"{dfs[9*len(dfs)//10]},{dfs[-1]}")


def main(outdir, copies=COPIES, m=20000):
    os.makedirs(outdir, exist_ok=True)

    docs = pq.read_table(f"{SRC}/documents.parquet").to_pydict()
    n = len(docs["doc_id"])
    vocab = sorted({w for t in docs["text"] for w in t.split()})
    V = len(vocab)

    out = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    for c in range(copies):
        for j in range(n):
            toks = docs["text"][j].split()
            if c > 0:
                toks = [
                    vocab[int.from_bytes(
                        hashlib.md5(f"{c}|{i}|{w}".encode()).digest()[:4],
                        "big") % V]
                    if i % 3 == c % 3 else w
                    for i, w in enumerate(toks)
                ]
            text = " ".join(toks)
            out["doc_id"].append(c * 100000 + docs["doc_id"][j])
            out["text"].append(text)
            out["lang"].append(docs["lang"][j])
            out["source"].append(docs["source"][j])
            out["n_chars"].append(len(text))
    _fresh(f"{outdir}/documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(out["doc_id"], pa.int64()),
        "text": pa.array(out["text"], pa.string()),
        "lang": pa.array(out["lang"], pa.string()),
        "source": pa.array(out["source"], pa.string()),
        "n_chars": pa.array(out["n_chars"], pa.int64()),
    }), f"{outdir}/documents.parquet")

    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _fresh(f"{outdir}/embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array([v for v in vecs.tolist()],
                              pa.list_(pa.float32())),
        "label": pa.array((np.arange(m) % 10).astype(np.int32), pa.int32()),
    }), f"{outdir}/embeddings.parquet")

    # A REAL log at every decade: the user-shard trick preserves
    # per-user statistics at any copy count, so the sf10 fixture now
    # carries a 10M-row log (copies=100) and the e-family skew-soak
    # queries get a second measured decade (round-17 scale evidence).
    n_ev = gen_events(outdir, copies=copies)

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        dst = f"{outdir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    print(f"wrote {outdir}: documents={copies * n} embeddings={m} "
          f"events={n_ev}")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--zipf":
        gen_zipf(sys.argv[2] if len(sys.argv) > 2 else "scaledata/sf1zipf")
    elif len(sys.argv) > 1 and sys.argv[1] == "--sf10":
        main(sys.argv[2] if len(sys.argv) > 2 else "scaledata/sf10",
             copies=100, m=200000)
    elif len(sys.argv) > 1 and sys.argv[1] == "--lex":
        gen_lex(sys.argv[2] if len(sys.argv) > 2 else "scaledata/sflex")
    else:
        main(sys.argv[1] if len(sys.argv) > 1 else "scaledata/sf1")
