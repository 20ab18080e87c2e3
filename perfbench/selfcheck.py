#!/usr/bin/env python3
"""Self-checks of the benchmark's own rules, on tiny inputs.

    python3 perfbench/selfcheck.py        # from a checkout root

  - generator determinism: the same seed gives the same input digest
    (Python tables and the Spark-generated ARD), another seed does not
  - the tail-percentile rule
  - self-time arithmetic of nested spans
  - call-site attribution: a checkpoint, a sink write and a store
    build, each traced on a tiny input, land in their layers

Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def check(cond, what):
    if not cond:
        print("FAIL " + what)
        sys.exit(1)
    print("ok   " + what)


def generators(tmp, cp):
    def tables(seed, name):
        d = os.path.join(tmp, name)
        os.makedirs(d)
        gen.gen_relational(d, seed, 0.001)
        gen.gen_corpus(d, seed, 200)
        gen.gen_embeddings(d, seed, 100)
        return gen.digest(d)
    a, b, c = tables(7, "a"), tables(7, "b"), tables(8, "c")
    check(a == b, "tables: same seed, same digest")
    check(a != c, "tables: another seed, another digest")

    def ard(seed, name):
        d = os.path.join(tmp, name)
        os.makedirs(d)
        with open(os.path.join(d, "ard_params.json"), "w") as f:
            json.dump({"seed": seed, "chips": 1, "rows": 1, "obs": 60,
                       "break_every": 3}, f)
        w = os.path.join(tmp, "w-" + name)
        run.java(cp, w, ["--generate", "1", "--data", d, "--work", w,
                         "--cpus", "2"], os.path.join(tmp, name + ".log"),
                 time.monotonic() + 170)
        shutil.rmtree(w)
        return gen.digest(d)
    a, b, c = ard(7, "ard-a"), ard(7, "ard-b"), ard(8, "ard-c")
    check(a == b, "ARD on Spark: same seed, same digest")
    check(a != c, "ARD on Spark: another seed, another digest")


def tail_rule():
    check(metrics.tail(list(range(1, 101))) == (90, 90),
          "tail: 100 samples -> p90, ten beyond it")
    pct, _ = metrics.tail([1.0] * 74)
    check(pct == 86, "tail: 74 samples -> p86")
    check(metrics.tail(list(range(19)))[0] == 50,
          "tail: under 20 samples -> p50")
    xs = list(range(1, 201))
    pct, v = metrics.tail(xs)
    check(pct == 95 and sum(1 for x in xs if x > v) == 10,
          "tail: 200 samples -> p95 with exactly ten beyond")


def self_time():
    spans = [
        {"id": 0, "parent": -1, "start": 0, "end": 100},
        {"id": 1, "parent": 0, "start": 10, "end": 30},
        {"id": 2, "parent": 0, "start": 20, "end": 40},   # overlaps 1
        {"id": 3, "parent": 0, "start": 90, "end": 120},  # clipped to 100
        {"id": 4, "parent": 1, "start": 12, "end": 18},
    ]
    st = metrics.self_times(spans)
    check(st == {0: 60, 1: 14, 2: 20, 3: 30, 4: 6},
          "self time: duration minus the union of children")
    check(metrics.covered_ms([(0, 5), (3, 8), (10, 12)], 1, 11) == 8,
          "covered time: union clipped to a window")


def attribution(tmp, cp):
    check(metrics.layer_of("graft.ops.Subplan.once") == "checkpoint"
          and metrics.layer_of("graft.sources.Sink.write") == "sink"
          and metrics.layer_of("graft.ml.Rf.train") == "ml.train"
          and metrics.layer_of("graft.ext.Dedup.nearDupClusters") == "ext.Dedup"
          and metrics.layer_of("unknown") == "unknown",
          "layer_of maps innermost frames to layers")
    w = os.path.join(tmp, "attr")
    run.java(cp, w, ["--selfcheck", "1", "--work", w],
             os.path.join(tmp, "attr.log"), time.monotonic() + 170)
    with open(os.path.join(w, "selfcheck.json")) as f:
        trace = json.load(f)
    spans = {s["id"]: s for s in trace["spans"]}
    by_span = {}
    for j in trace["jobs"]:
        by_span.setdefault(spans[j["span"]]["name"] if j["span"] in spans else "-",
                           []).append(j)
    check(any(metrics.layer_of(j["site"]) == "checkpoint"
              for j in by_span.get("checkpoint", [])),
          "a Subplan.once job is attributed to the checkpoint layer")
    check(any(metrics.layer_of(j["site"]) == "sink" for j in by_span.get("sink", [])),
          "a Sink.write job is attributed to the sink layer")
    check(any(j["store"] for j in by_span.get("store", []))
          and not any(j["store"] for j in by_span.get("checkpoint", [])),
          "store-build jobs, and only they, pass through SessionStore")
    check(all(j["trace"] == 1 for j in trace["jobs"]),
          "every job is parented into the open trace")


def main():
    root = os.getcwd()
    work = run.work_dir(root)
    cp = run.build(root, work)
    tmp = os.path.join(work, "selfcheck-%d" % os.getpid())
    os.makedirs(tmp)
    try:
        tail_rule()
        self_time()
        generators(tmp, cp)
        attribution(tmp, cp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("all self-checks passed")


if __name__ == "__main__":
    main()
