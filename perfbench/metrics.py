"""Turns a harness record into the benchmark's metrics.

End-to-end metrics come from untraced runs only; per-layer metrics from
the traced run's spans and job records. Every metric is computed here
from raw wall times and listener counters, so the rules (tail
percentile, self time, job attribution) live in one place and are
covered by selfcheck.py.
"""
import collections
import statistics

# Names and units of the end-to-end metrics every workload reports.
END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
    ("throughput_per_s", "1/s")]

FUNCTIONS = ["minhash_all", "rp_project", "cosine_sim", "sq_dist_long", "top_k"]
# Busy seconds per module (and Similarity phase): harness call module -> metric.
MODULES = {
    "ext.Dedup": "ext.Dedup.s", "ext.Text": "ext.Text.s",
    "ext.Similarity.maintain": "ext.Similarity.maintain_s",
    "ext.Similarity.search": "ext.Similarity.search_s",
    "ext.Events": "ext.Events.s", "ops.Relational": "ops.Relational.s"}
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.jobs_cold", "count"),
     ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.outside_jobs_s", "s"), ("spark.task_cpu_s", "s"),
     ("spark.task_run_s", "s"), ("spark.cpu_util", "ratio"),
     ("spark.task_wait_s", "s"), ("spark.stage_skew", "ratio"),
     ("spark.shuffle_write_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
     ("spark.spill_bytes", "B"), ("spark.gc_s", "s"),
     ("spark.task_failures", "count"),
     ("ops.checkpoint_jobs", "count"), ("ops.checkpoint_jobs_cold", "count"),
     ("ops.checkpoint_s", "s"),
     ("sources.store_builds", "count"), ("sources.store_builds_cold", "count"),
     ("sources.store_build_s", "s"), ("sources.store_build_s_cold", "s"),
     ("sources.sink_write_s", "s"), ("sources.written_bytes", "B"),
     ("sources.scan_s", "s"),
     ("ccd.kernel_us_per_pixel", "us"), ("ccd.segments_per_pixel", "count"),
     ("ccd.kernel_share", "ratio"),
     ("pipeline.changedetection_s", "s"), ("pipeline.classification_s", "s"),
     ("ml.train_s", "s")]
    + [("functions.%s_ns_per_row" % k, "ns") for k in FUNCTIONS]
    + [(name, "s") for name in MODULES.values()]
    + [("ext.Similarity.build_s", "s"), ("ext.Curation.s", "s")]
    + [("trace.overhead_frac", "ratio"), ("trace.spans", "count")])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), as (percentile, value). Fewer than 20 samples leave
    no such percentile above the median, so the tail is the p50."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 50, 0.0
    best = 50
    for p in range(99, 50, -1):
        rank = -(-p * n // 100)  # ceil(p/100 * n), nearest-rank
        if n - rank >= 10:
            best = p
            break
    rank = max(1, -(-best * n // 100))
    return best, xs[rank - 1]


def self_times(spans):
    """Each span's duration minus the time its children cover (the
    union of the children's intervals clipped to the span)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"]) - covered_ms(
        [(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
        for s in spans}


def layer_of(site):
    """The layer a job belongs to, from its innermost graft.* frame."""
    if site.startswith("graft.ops.Subplan."):
        return "checkpoint"
    if site.startswith("graft.sources.Sink."):
        return "sink"
    if site.startswith(("graft.ml.Rf.train", "graft.ml.Features.")):
        return "ml.train"
    if site.startswith("graft.perfbench."):
        return "harness"
    if site.startswith("graft."):
        return ".".join(site.split(".")[1:3])
    return "unknown"


def job_layer(job, spans_by_id):
    """layer_of, except that a job whose innermost graft frame is the
    harness (it landed a lazy query's answer, so it ran the query's
    plan) belongs to the module of the call it ran in."""
    layer = layer_of(job["site"])
    span = spans_by_id.get(job["span"])
    if layer == "harness" and span and not span["name"].startswith(("pass ", "probes")):
        return span["name"].split(" ")[0]
    return layer


def covered_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_errors(record):
    ops = [op for p in record["passes"] for op in p["ops"]]
    return len(ops), sum(1 for op in ops if op["errors"])


def warm_calls(record):
    """Wall times of the calls in the first warm pass: a fixed sample
    count, so the tail percentile does not move with speed."""
    first = next(p for p in record["passes"] if p["kind"] == "warm")
    return [op["s"] for op in first["ops"]]


def workload_extras(record):
    """The workload's own end-to-end figures (kept in the full record
    and the summary line)."""
    w = record["workload"]
    warm = [p for p in record["passes"] if p["kind"] == "warm"]
    cold = record["passes"][0]
    x = {}
    if w == "ccdc_tile":
        def verb(p, name):
            return next(op for op in p["ops"] if op["name"] == name)
        cd = [verb(p, "changedetection") for p in warm]
        cl = [verb(p, "classification") for p in warm]
        pixels = cd[0]["counts"].get("pixels", 0) if cd else 0
        segs = cl[0]["counts"].get("predictions", 0) if cl else 0
        x["cd_pixels_per_s"] = pixels / median([op["s"] for op in cd])
        x["cl_segments_per_s"] = segs / median([op["s"] for op in cl])
        x["throughput_per_s"] = x["cd_pixels_per_s"]
        cdc = verb(cold, "changedetection")["counts"]
        x["segments_per_pixel"] = cdc.get("segments", 0) / max(1, cdc.get("pixels", 1))
    elif w == "query_mix":
        x["throughput_per_s"] = len(warm[0]["ops"]) / median([p["wall_s"] for p in warm])
    if record.get("input_bytes"):
        x["written_bytes_ratio"] = record.get("landed_bytes", 0) / record["input_bytes"]
    per_query = {}
    for p in record["passes"]:
        for op in p["ops"]:
            per_query.setdefault((op["name"], p["kind"]), []).append(op["s"])
    x["calls"] = {"%s.%s_s" % k: median(v) for k, v in sorted(per_query.items())}
    return x


def end_to_end(record):
    warm = [p["wall_s"] for p in record["passes"] if p["kind"] == "warm"]
    x = workload_extras(record)
    s = warm_calls(record)
    pct, tail_s = tail(s)
    m = {
        "setup_s": record["setup_s"],
        "cold_s": record["passes"][0]["wall_s"],
        "warm_s": median(warm),
        "throughput_per_s": x.pop("throughput_per_s"),
    }
    x["peak_rss_mb"] = record["vm_hwm_kb"] / 1024.0
    x["call_p50_s"] = median(s)
    x["call_tail_pct"], x["call_tail_s"], x["call_n"] = pct, tail_s, len(s)
    return m, x


def per_layer(record):
    """Per-layer metrics of a traced run. Plain names are per traced
    warm pass (mean over them); `_cold` names are the cold pass."""
    cores = record["cpus"]
    trace = record["tracer"]
    spans = trace["spans"]
    jobs = trace["jobs"]
    passes = record["passes"]
    # Traced passes get trace ids 1, 2, ... in pass order.
    tid, traced = 0, {}
    for p in passes:
        if p["traced"]:
            tid += 1
            traced[tid] = p
    warm_ids = [t for t, p in traced.items() if p["kind"] == "warm"]
    cold_id = next(t for t, p in traced.items() if p["kind"] == "cold")

    def jobs_of(t):
        return [j for j in jobs if j["trace"] == t]

    def per_pass(f):
        return statistics.mean(f(t) for t in warm_ids) if warm_ids else 0.0

    def s(js):
        return sum(j["end"] - j["start"] for j in js) / 1000.0

    by_id = {sp["id"]: sp for sp in spans}

    def layer(t, name):
        return [j for j in jobs_of(t) if job_layer(j, by_id) == name]

    def window(t):
        p = traced[t]
        return p["start_ms"], p["start_ms"] + p["wall_s"] * 1000.0

    def outside(t):
        lo, hi = window(t)
        iv = [(j["start"], j["end"]) for j in jobs_of(t)]
        return (hi - lo - covered_ms(iv, lo, hi)) / 1000.0

    def cpu(t):
        return sum(j["cpu_ns"] for j in jobs_of(t)) / 1e9

    m = {
        "spark.jobs": per_pass(lambda t: len(jobs_of(t))),
        "spark.jobs_cold": len(jobs_of(cold_id)),
        "spark.stages": per_pass(lambda t: sum(j["stages"] for j in jobs_of(t))),
        "spark.tasks": per_pass(lambda t: sum(j["tasks"] for j in jobs_of(t))),
        "spark.outside_jobs_s": per_pass(outside),
        "spark.task_cpu_s": per_pass(cpu),
        "spark.task_run_s": per_pass(lambda t: sum(j["run_ms"] for j in jobs_of(t)) / 1000.0),
        "spark.cpu_util": per_pass(lambda t: cpu(t) / (traced[t]["wall_s"] * cores)),
        "spark.task_wait_s": per_pass(lambda t: sum(j["wait_ms"] for j in jobs_of(t)) / 1000.0),
        "spark.stage_skew": max([j["skew"] for t in warm_ids for j in jobs_of(t)] or [1.0]),
        "spark.shuffle_write_bytes": per_pass(lambda t: sum(j["shuffle_write"] for j in jobs_of(t))),
        "spark.shuffle_read_bytes": per_pass(lambda t: sum(j["shuffle_read"] for j in jobs_of(t))),
        "spark.spill_bytes": per_pass(lambda t: sum(j["spill"] for j in jobs_of(t))),
        "spark.gc_s": per_pass(lambda t: sum(j["gc_ms"] for j in jobs_of(t)) / 1000.0),
        "spark.task_failures": sum(j["failures"] for j in jobs if j["trace"] in traced),
        "ops.checkpoint_jobs": per_pass(lambda t: len(layer(t, "checkpoint"))),
        "ops.checkpoint_jobs_cold": len(layer(cold_id, "checkpoint")),
        "ops.checkpoint_s": per_pass(lambda t: s(layer(t, "checkpoint"))),
        "sources.store_builds": per_pass(lambda t: sum(j["store"] for j in jobs_of(t))),
        "sources.store_builds_cold": sum(j["store"] for j in jobs_of(cold_id)),
        "sources.store_build_s": per_pass(lambda t: s([j for j in jobs_of(t) if j["store"]])),
        "sources.store_build_s_cold": s([j for j in jobs_of(cold_id) if j["store"]]),
        "sources.sink_write_s": per_pass(lambda t: s(layer(t, "sink"))),
        "sources.written_bytes": record["landed_bytes"],
        "sources.scan_s": record["probes"]["scan_s"],
        "ml.train_s": per_pass(lambda t: s(layer(t, "ml.train"))),
    }
    # Busy seconds per module and pipeline verb: the calls' wall times.
    busy = {}
    for t in warm_ids:
        for op in traced[t]["ops"]:
            busy[op["module"]] = busy.get(op["module"], 0.0) + op["s"] / len(warm_ids)
    for mod, name in MODULES.items():
        m[name] = busy.get(mod, 0.0)
    # The store-backed search call of the cold pass builds its store.
    m["ext.Similarity.build_s"] = sum(
        op["s"] for op in traced[cold_id]["ops"] if op["module"] == "ext.Similarity.search")
    # The curation chain runs after the passes: its repeat call.
    m["ext.Curation.s"] = sum(op["s"] for p in passes if p["kind"] == "probe_warm"
                              for op in p["ops"])
    m["pipeline.changedetection_s"] = busy.get("pipeline.changedetection", 0.0)
    m["pipeline.classification_s"] = busy.get("pipeline.classification", 0.0)
    probes = record["probes"]
    for k in FUNCTIONS:
        m["functions.%s_ns_per_row" % k] = probes.get("functions", {}).get(k, 0.0)
    kernel = probes.get("kernel_us_per_pixel", 0.0)
    m["ccd.kernel_us_per_pixel"] = kernel
    m["ccd.segments_per_pixel"] = 0.0
    m["ccd.kernel_share"] = 0.0
    if record["workload"] == "ccdc_tile":
        cd = [op for p in passes for op in p["ops"] if op["name"] == "changedetection"]
        pixels = cd[0]["counts"].get("pixels", 0)
        m["ccd.segments_per_pixel"] = cd[0]["counts"].get("segments", 0) / max(1, pixels)
        wall = m["pipeline.changedetection_s"]
        m["ccd.kernel_share"] = pixels * kernel / 1e6 / (cores * wall) if wall else 0.0
    # Untraced warm passes after the first, which warms the JIT up.
    traced_w = [traced[t]["wall_s"] for t in warm_ids]
    plain_w = [p["wall_s"] for p in passes if p["kind"] == "warm" and not p["traced"]][1:]
    m["trace.overhead_frac"] = (median(traced_w) / median(plain_w) - 1.0
                                if traced_w and plain_w else 0.0)
    m["trace.spans"] = len(spans)
    # Self time summed by span name (jobs by call site, stages as one),
    # for the full record.
    st = self_times(spans)
    agg = collections.Counter()
    for sp in spans:
        words = sp["name"].split(" ")
        key = {"job": "job " + " ".join(words[2:]), "stage": "stage"}.get(words[0], sp["name"])
        agg[key] += st[sp["id"]]
    return m, {"self_ms_top": agg.most_common(25),
               "jobs_by_layer": collections.Counter(job_layer(j, by_id) for j in jobs)}


def summarize(record):
    attempted, failed = op_errors(record)
    if record["trace"]:
        m, extra = per_layer(record)
        units = dict(PER_LAYER)
    else:
        m, extra = end_to_end(record)
        units = dict(END_TO_END)
    extra["failed_frac"] = failed / attempted if attempted else 1.0
    extra["host_steal_frac"] = record.get("host_steal_frac", 0.0)
    extra["errors"] = sorted({e for p in record["passes"] for op in p["ops"]
                              for e in op["errors"]})[:10]
    line = {"correct": failed == 0 and attempted > 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": m[k], "unit": units[k]} for k in units}}
    return {"line": line, "extra": extra}


def summary_line(record, result):
    """A short human line for the stdout tail (the full record is on
    disk): the workload, seed, input digest and every figure."""
    m = result["line"]["metrics"]
    x = result["extra"]
    figs = " ".join("%s=%.4g" % (k, v["value"]) for k, v in m.items())
    own = " ".join("%s=%.4g" % (k, v) for k, v in sorted(x.items())
                   if isinstance(v, (int, float)))
    s = "perfbench %s seed=%d trace=%d digest=%s cpus=%d heap=%s %s %s" % (
        record["workload"], record["seed"], record["trace"],
        record["input_digest"][:12], record["cpus"], record["heap"], figs, own)
    return s[:1990]
