#!/usr/bin/env python3
"""Markdown report of benchmark results: end-to-end medians and spreads
over seeds, and the per-layer table of traced runs.

    python3 perfbench/report.py .bench_build/perfbench/results/*.json

For each workload and end-to-end metric: the median over the untraced
runs given and the interquartile range as a share of the median
(statistics.quantiles, n=4), beside a third of the metric's bound in
BENCHMARK.json. Traced runs add one per-layer column per workload.
"""
import json
import os
import statistics
import sys


def main(paths):
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    plain, traced = {}, {}
    for p in sorted(paths):
        with open(p) as f:
            r = json.load(f)
        (traced if r["trace"] else plain).setdefault(r["workload"], []).append(r)

    worst = 0.0
    for w, runs in sorted(plain.items()):
        r0 = runs[0]
        print("### %s — %d untraced runs, seeds %s, %d cpus, heap %s\n"
              % (w, len(runs), ",".join(str(r["seed"]) for r in runs),
                 r0["cpus"], r0["heap"]))
        print("| metric | median | IQR / median | bound / 3 |")
        print("|---|---|---|---|")
        for name, bound in bounds.items():
            xs = [r["result"]["line"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(xs)
            spread = 0.0
            if len(xs) >= 2:
                q1, _, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med if med else float("inf")
            if name != "setup_s":
                worst = max(worst, spread / bound)
            print("| %s | %.4g | %.3f | %.3f |" % (name, med, spread, bound / 3))
        extras = {}
        for r in runs:
            for k, v in r["result"]["extra"].items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    extras.setdefault(k, []).append(v)
        print("\nWorkload figures (medians): " + ", ".join(
            "%s %.4g" % (k, statistics.median(v)) for k, v in sorted(extras.items())))
        print("Failed calls: %d of %d\n" % (
            sum(r["result"]["line"]["failed"] for r in runs),
            sum(r["result"]["line"]["attempted"] for r in runs)))
    if plain:
        print("Worst spread / bound (setup_s excluded): %.2f\n" % worst)

    if traced:
        names = [m["name"] for m in bench["per_layer"]]
        ws = sorted(traced)
        print("### Per-layer (traced run, seed %s)\n" % ", ".join(
            "%s %d" % (w, traced[w][0]["seed"]) for w in ws))
        print("| layer metric | unit | " + " | ".join(ws) + " |")
        print("|---|---|" + "---|" * len(ws))
        for n in names:
            vals = [traced[w][0]["result"]["line"]["metrics"][n] for w in ws]
            print("| %s | %s | %s |" % (n, vals[0]["unit"], " | ".join(
                "%.4g" % v["value"] for v in vals)))


if __name__ == "__main__":
    main(sys.argv[1:])
