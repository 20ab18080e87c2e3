#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, end-to-end or traced.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
together with the harness (perfbench/build.sbt, offline sbt); later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed and cached per seed. The harness JVM (graft.perfbench.Harness)
times the calls; this script checks every answer, lands the full record
under the build directory and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ccdc_tile", "query_mix")
HEAP = "2g"
# Every JVM of a run (input generation, the measured one) must end
# within this many seconds of the build.
JVM_BUDGET_S = 165
KEEP_SEEDS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def work_dir(root):
    """Where builds, inputs, runs and results go: perfbench/ under
    $CARGO_TARGET_DIR, or under .bench_build, in the checkout."""
    work = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench"))
    os.makedirs(work, exist_ok=True)
    return work


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        for root, dirs, files in os.walk(base):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            for n in sorted(files):
                if n.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(root, n)
                    h.update(p.encode() + b"\0")
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile engine + harness with sbt (offline) once per source tree;
    returns the runtime classpath."""
    bench = os.path.join(root, "perfbench")
    srcs = [os.path.join(root, "src", "main", "scala"), os.path.join(bench, "src"),
            os.path.join(bench, "build.sbt"), os.path.join(bench, "project")]
    stamp = tree_hash(srcs)
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    # sbt's global base, ivy home and temp dir stay under the build
    # directory. Its server and boot sockets would live there too, but a
    # unix socket path may not exceed ~100 bytes, which a deep checkout
    # exceeds: no server, and the build goes on without a boot socket.
    os.makedirs(os.path.join(work, "sbt-tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=true",
            "-Djava.io.tmpdir=" + os.path.join(work, "sbt-tmp"),
            "-Dsbt.global.base=" + os.path.join(work, "sbt-global"),
            "-Dsbt.ivy.home=" + os.path.join(work, "ivy2")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=bench, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = proc.stdout.splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and "classes" in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java(cp, run_dir, args, log, deadline):
    """Runs the harness JVM; it is killed at `deadline` (time.monotonic)."""
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.callstack.depth=64",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -9
    if code != 0:
        # The run directory is removed on exit; keep the log beside it.
        kept = os.path.join(os.path.dirname(run_dir), "failed-" + os.path.basename(log))
        shutil.copyfile(log, kept)
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness exited with %d (log %s)" % (code, kept))


def evict(data_root, workload, keep):
    """Keep only the most recently used seeds' inputs of a workload."""
    if not os.path.isdir(data_root):
        return
    dirs = [os.path.join(data_root, d) for d in os.listdir(data_root)
            if d.startswith(workload + "-")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def inputs(work, workload, seed, cp, deadline):
    """The seed's generated inputs, cached per seed. The ccdc_tile ARD
    and aux rasters are generated on Spark, in a JVM of their own, so
    the measured JVM has run no Spark job before its cold pass."""
    data = os.path.join(work, "data", "%s-%d" % (workload, seed))
    done = os.path.join(data, "_generated")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(workload, seed, data)
        if os.path.exists(os.path.join(data, "ard_params.json")):
            gen_dir = os.path.join(work, "gen-%d" % os.getpid())
            try:
                java(cp, gen_dir, ["--generate", "1", "--data", data,
                                   "--work", gen_dir, "--cpus", str(cpus())],
                     os.path.join(gen_dir, "generate.log"), deadline)
            finally:
                shutil.rmtree(gen_dir, ignore_errors=True)
        open(done, "w").close()
    os.utime(data)
    evict(os.path.join(work, "data"), workload, KEEP_SEEDS)
    return data


def load_check(root):
    """tools/check.py's frame_key: the oracle hash-match row canon."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_key


def frame_digest(frame_key, df):
    rows = frame_key(df)
    h = hashlib.sha256(("|".join(sorted(df.columns)) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return "%d:%s" % (len(rows), h.hexdigest())


def materialized(sql):
    """The oracle SQL with every CTE marked MATERIALIZED. DuckDB 1.0
    inlines a CTE at each reference, so chains of CTEs that each read
    the previous one twice (t43's) take minutes; the marker changes
    how a CTE is evaluated, not its rows."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def oracle_digests(root, data, oracle_sql):
    """DuckDB digests of each query's oracle SQL, computed once per seed
    (outside any timed pass) and cached beside the inputs."""
    import duckdb
    cache = os.path.join(data, "_oracle_digests.json")
    known = {}
    if os.path.exists(cache):
        with open(cache) as f:
            known = json.load(f)
    frame_key = load_check(root)
    key = lambda name, sql: name + ":" + hashlib.sha256(sql.encode()).hexdigest()[:16]
    missing = {n: s for n, s in oracle_sql.items() if key(n, s) not in known}
    if missing:
        con = duckdb.connect()
        con.execute("SET threads TO %d" % cpus())
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                            % (f[:-8], os.path.join(data, f)))
        for name, sql in sorted(missing.items()):
            try:
                known[key(name, sql)] = frame_digest(
                    frame_key, con.sql(materialized(sql)).df())
            except duckdb.Error as e:  # every call of this query then fails
                known[key(name, sql)] = "oracle error: %s" % e
        con.close()
        with open(cache, "w") as f:
            json.dump(known, f, indent=0, sort_keys=True)
    return {n: known[key(n, s)] for n, s in oracle_sql.items()}


def check_outputs(root, record, oracle):
    """Compares each landed query answer with its oracle digest; adds
    the mismatches to the call's errors."""
    import duckdb
    frame_key = load_check(root)
    con = duckdb.connect()
    for p in record["passes"]:
        for op in p["ops"]:
            if op["errors"] or op["name"] not in oracle:
                continue
            path = os.path.join(p["out"], op["name"])
            try:
                got = frame_digest(frame_key, con.sql(
                    "SELECT * FROM '%s/*.parquet'" % path).df())
            except Exception as e:  # noqa: BLE001 - any read failure is a wrong answer
                op["errors"].append("output unreadable: %s" % e)
                continue
            if got != oracle[op["name"]]:
                op["errors"].append("digest %s != oracle %s"
                                    % (got[:24], oracle[op["name"]][:24]))
    con.close()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, (0, 0) where
    it does not exist."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def du(path):
    total = 0
    for r, _, files in os.walk(path):
        for n in files:
            total += os.path.getsize(os.path.join(r, n))
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no engine sources under %s/src/main/scala (run from a checkout root)" % root)
    if not os.path.exists(os.path.join(root, "tools", "check.py")):
        fail("tools/check.py (the oracle row canon) is missing")
    work = work_dir(root)
    cp = build(root, work)
    deadline = time.monotonic() + JVM_BUDGET_S
    data = inputs(work, a.workload, a.seed, cp, deadline)

    run_dir = os.path.join(work, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0, total0 = cpu_ticks()
    try:
        java(cp, run_dir, [
            "--workload", a.workload, "--data", data, "--work", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus())],
            os.path.join(run_dir, "harness.log"), deadline)
        steal1, total1 = cpu_ticks()
        with open(os.path.join(run_dir, "record.json")) as f:
            record = json.load(f)
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # the usual cause of a run that is slow for no reason in the code.
        record["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        digest = gen.digest(data)
        oracle = oracle_digests(root, data, record["oracle"])
        check_outputs(root, record, oracle)
        # Bytes landed by the engine's sinks and stores in this run: the
        # CLI products of the cold pass, SessionStore directories and
        # bucketed store tables.
        tmp = os.path.join(run_dir, "tmp")
        record["landed_bytes"] = (
            du(os.path.join(record["passes"][0]["out"], "products"))
            + du(os.path.join(run_dir, "warehouse"))
            + sum(du(os.path.join(tmp, d)) for d in os.listdir(tmp)
                  if d.startswith("graft_store_")))
        record["input_bytes"] = du(data)
    finally:
        # Landed answers, stores (graft_store_* under the JVM's tmpdir)
        # and Spark scratch all live under the run directory.
        shutil.rmtree(run_dir, ignore_errors=True)

    record.update(seed=a.seed, input_digest=digest, seconds=a.seconds,
                  trace=a.trace, heap=HEAP)
    result = metrics.summarize(record)
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    full = os.path.join(work, "results", "%s-seed%d-trace%d.json"
                        % (a.workload, a.seed, a.trace))
    with open(full, "w") as f:
        json.dump(dict(record, result=result), f, indent=1, sort_keys=True)
    print(metrics.summary_line(record, result))
    print(json.dumps(result["line"], sort_keys=True))


if __name__ == "__main__":
    main()
