#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
tracing harness (perfbench/harness) from source with sbt; later runs reuse
the build while the sources are unchanged. Everything a run writes goes
under `.bench_build/perfbench/` in the checkout.

Workloads (see perfbench/README.md):
  etl_gen3         a pass is one fresh `graft.RunEtl ... --force` process
                   over seeded Gen3 text dumps
  suite_iterative  a pass is one fresh JVM running SparkEntry queries over
                   seeded tables: iterative, driver-bound graph_pagerank and
                   the expressions-bound dedup_minhash_lsh

With `--trace 0` the result holds the end-to-end metrics, with `--trace 1`
the per-layer metrics of a separately traced run. The last line of standard
output is the result; the line before it records the environment. Any
failed operation or output check exits with code 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen3gen  # noqa: E402
import tpcgen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")

GEN3_SUBJECTS = 2000
# every pass is a fresh JVM; one cold process is a noisy sample
MIN_PASSES = 2
SUITE_SCALE = 0.5
SUITES = {
    # graph_pagerank: driver- and scheduler-bound, many small jobs;
    # dedup_minhash_lsh: the native expressions (graft_shingles,
    # graft_minhash, graft_md5long), which no other workload reaches
    "suite_iterative": ["graph_pagerank", "dedup_minhash_lsh"],
}
WORKLOADS = ["etl_gen3"] + sorted(SUITES)
# The heap of every benchmark JVM: a fixed size and a fixed young generation,
# not pre-touched. Peak RSS is then the young generation, the old
# generation's peak and native memory, so it follows what the program
# retains. Left to grow, G1 sized the heap by GC timing: the suite's peak RSS
# spread 11-27 % over ten seeds. Spark sizes its execution and storage
# memory from the heap size.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn256m"]
PASS_TIMEOUT_S = 75  # a pass takes ~20-30 s; a run must end within 180 s

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

CHILDREN = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HARNESS, "src")):
        for root, _, names in os.walk(base):
            files += [os.path.join(root, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the sources are unchanged; returns
    (classpath, source digest)."""
    for f in (os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HARNESS, "build.sbt")):
        if not os.path.exists(f):
            die(f"not a graft checkout (missing {os.path.relpath(f, ROOT)}); "
                "run from the repository root")
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    log("building engine + harness with sbt (first run in this checkout)")
    os.makedirs(WORK, exist_ok=True)
    p = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], cwd=HARNESS,
                  log_path=os.path.join(WORK, "build.log"), timeout=850)
    if p != 0:
        die(f"build failed (exit {p}), see {os.path.join(WORK, 'build.log')}")
    with open(os.path.join(WORK, "build.log")) as f:
        lines = [l.strip() for l in f if ".jar" in l and not l.startswith("[")]
    if not lines:
        die("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1], digest


# ------------------------------------------------------------- processes

def run_child(cmd, cwd, log_path, timeout, env=None, usage=None):
    """Runs one child to completion; returns its exit code. `usage`, a dict,
    receives the child's wall time and peak RSS."""
    with open(log_path, "w") as out:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        CHILDREN.append(p)
        deadline = t0 + timeout
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                _kill(p)
                pid, status, ru = os.wait4(p.pid, 0)
                break
            time.sleep(0.02)
        wall = time.monotonic() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        CHILDREN.remove(p)
    if usage is not None:
        usage["wall_s"] = wall
        usage["rss_mb"] = ru.ru_maxrss / 1024.0
    return p.returncode


def _kill(p):
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            return
        for _ in range(100):
            if p.poll() is not None:
                return
            time.sleep(0.05)


def _cleanup(*_):
    for p in list(CHILDREN):
        _kill(p)
        try:
            p.wait(timeout=10)
        except Exception:
            pass
    sys.exit(1)


def java_cmd(cp, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS]
    # no perf-data file: it would be written outside the checkout
    return (["java"] + HEAP + ["-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", cp, main] + args)


def java_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


def cores():
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------- helpers

def med(xs):
    return statistics.median(xs) if xs else 0.0


def timed(make, times):
    """Runs one set-up, `make()`, and appends its wall time to `times`."""
    t0 = time.monotonic()
    res = make()
    times.append(time.monotonic() - t0)
    return res


def spark_version(cp):
    """The Spark version the engine was built against, from the spark-core
    jar on the classpath (spark-core_<scala>-<version>.jar)."""
    for jar in cp.split(os.pathsep):
        name = os.path.basename(jar)
        if name.startswith("spark-core_") and name.endswith(".jar"):
            return name[:-len(".jar")].split("-")[-1]
    return None


def environment(cp, workload, seed, digest, in_rows, in_bytes, extra):
    mem = None
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem = int(line.split()[1]) * 1024
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except Exception:
        pass
    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    env = {"workload": workload, "seed": seed, "nproc": cores(),
           "mem_total_bytes": mem, "jvm": java[0] if java else None,
           "spark": spark_version(cp),
           "git_commit": commit, "source_sha256": digest,
           "input_rows": in_rows, "input_bytes": in_bytes}
    env.update(extra)
    return env


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_trace(workload, seed, traces):
    """The run's trace artifact: every traced process's spans and counters."""
    path = os.path.join(WORK, f"trace-{workload}-{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "runs": traces}, f)
    log(f"trace written to {path}")


# ------------------------------------------------------------------- etl

def etl_pass(cp, inputs, out, main, extra, log_path, usage):
    """One ETL process: `graft.RunEtl`, or the traced harness replica."""
    args = ([] if main == "graft.RunEtl" else ["etl"]) + [
            os.path.join(inputs, "schema.json"),
            os.path.join(inputs, "etlMapping.yaml"),
            os.path.join(inputs, "dumps"), out] + extra
    return run_child(java_cmd(cp, main, args), cwd=fresh(os.path.join(WORK, "cwd")),
                     log_path=log_path, timeout=PASS_TIMEOUT_S,
                     env=java_env(), usage=usage)


def published_ok(log_path, names):
    with open(log_path) as f:
        text = f.read()
    if "up to date" in text:
        return ["RunEtl skipped the publish (up to date)"]
    return [f"{n} not published" for n in names
            if f"published {n} -> " not in text]


def run_etl(cp, seed, seconds, trace, failures, counts):
    inputs = os.path.join(WORK, "gen3")
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    def setup():
        return gen3gen.write_all(fresh(inputs), seed, GEN3_SUBJECTS)
    setups = []
    expected = timed(setup, setups)
    in_rows, in_bytes = gen3gen.input_stats(os.path.join(inputs, "dumps"))
    out = os.path.join(WORK, "etl_out")
    walls, rss, per_doc, traced = [], [], [], []
    t_start = time.monotonic()
    i = 0
    # a traced run alternates untraced and traced passes, so it also holds
    # the untraced time its overhead is measured against
    while i < MIN_PASSES or time.monotonic() - t_start < seconds:
        tracing = trace and i % 2 == 1
        # set-up again before every pass: the same seed writes the same
        # bytes. Timed across the run, set-up samples more of the host's
        # speed changes, and the median drops the first set-up, which pays
        # the generator's imports
        timed(setup, setups)
        fresh(out)
        lp = os.path.join(logs, f"etl_{i}.log")
        usage = {}
        counts["attempted"] += len(checks.INDICES)  # one per index publish
        if tracing:
            res = os.path.join(WORK, f"etl_trace_{i}.json")
            rc = etl_pass(cp, inputs, out, "graftbench.Main",
                          ["--force", f"--result={res}"], lp, usage)
        else:
            rc = etl_pass(cp, inputs, out, "graft.RunEtl", ["--force"], lp,
                          usage)
        problems = [f"exit {rc}, see {lp}"] if rc != 0 else (
            [] if tracing else published_ok(lp, checks.INDICES))
        problems += checks.etl_problems(out, expected)
        if problems:
            failures += [f"etl pass {i}: {p}" for p in problems]
        elif tracing:
            with open(res) as f:
                r = json.load(f)
            r["wall_s"] = usage["wall_s"]
            r["out_bytes"] = checks.published_bytes(out)
            traced.append(r)
        else:
            walls.append(usage["wall_s"])
            rss.append(usage["rss_mb"])
            docs = sum(expected[x]["docs"] for x in checks.INDICES)
            per_doc.append(checks.published_bytes(out) / docs)
        i += 1
    if trace:
        cdc = etl_cdc_traced(cp, inputs, out, seed, failures, counts)
        write_trace("etl_gen3", seed, [r["trace"] for r in traced] +
                    ([cdc["trace"]] if cdc else []))
        metrics = etl_layers(traced, cdc, walls)
    else:
        metrics = {"setup_s": (med(setups), "s"),
                   "pass_s": (med(walls), "s"),
                   "peak_rss_mb": (med(rss), "MiB"),
                   "out_bytes_per_doc": (med(per_doc), "B/doc")}
    shutil.rmtree(out, ignore_errors=True)
    return metrics, {"passes": len(walls), "traced_passes": len(traced),
                     "setups": len(setups)}, \
        in_rows, in_bytes


def etl_cdc_traced(cp, inputs, out, seed, failures, counts):
    """One traced `--cdc --backup` pass on top of the last pass's full
    publish, after node_diagnosis changed: subject_idx and file_idx must
    re-publish, project_idx must be gated out (checks.cdc_problems)."""
    before = checks.aliases(out)
    time.sleep(0.05)  # the rewritten table must be newer than the stamp
    expected = gen3gen.variant(inputs, seed, GEN3_SUBJECTS, 1)
    res = os.path.join(WORK, "etl_trace_cdc.json")
    lp = os.path.join(WORK, "logs", "etl_cdc.log")
    counts["attempted"] += 2  # the two re-publishes
    rc = etl_pass(cp, inputs, out, "graftbench.Main",
                  ["--cdc", "--backup", f"--result={res}"], lp, {})
    problems = [f"exit {rc}, see {lp}"] if rc != 0 else \
        checks.cdc_problems(before, out, expected)
    if problems:
        failures += [f"cdc pass: {p}" for p in problems]
        return None
    with open(res) as f:
        return json.load(f)


SPARK_LAYERS = [  # (metric, result key, unit)
    ("spark.jobs", "jobs", "count"), ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.driver_gap_s", "driver_gap_s", "s"),
    ("spark.plan_s", "plan_s", "s"),
    ("spark.checkpoint_jobs", "checkpoint_jobs", "count"),
    ("spark.exec_run_s", "run_s", "s"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "shuffle_read_bytes", "B"),
    ("spark.shuffle_fetch_wait_s", "fetch_wait_s", "s"),
    ("spark.spill_bytes", "spill_bytes", "B"),
    ("spark.gc_s", "gc_s", "s"),
]


def spark_layers(records, wall_of, cpus):
    """Per-layer Spark metrics: the median over traced passes."""
    m = {name: (med([r[k] for r in records]), unit)
         for name, k, unit in SPARK_LAYERS}
    m["spark.tasks_per_stage"] = (
        med([r["tasks"] / max(1, r["stages"]) for r in records]), "count")
    m["spark.core_busy_ratio"] = (
        med([r["run_s"] / (cpus * r["busy_s"]) if r["busy_s"] else 0.0
             for r in records]), "ratio")
    m["trace.pass_s"] = (med([wall_of(r) for r in records]), "s")
    return m


def etl_layers(traced, cdc, walls):
    m = {name: (0.0, unit) for name, unit in ALL_LAYERS}
    if not traced:
        return m
    m.update(spark_layers(traced, lambda r: r["wall_s"], traced[0]["cores"]))
    m["spark.session_start_s"] = (med([r["session_start_s"] for r in traced]), "s")
    m["schema.load_s"] = (med([r["schema_load_s"] for r in traced]), "s")
    m["pipeline.translate_s"] = (med([r["translate_s"] for r in traced]), "s")
    for idx in checks.INDICES:
        m[f"sinks.publish_s.{idx}"] = (
            med([r["publish_s"].get(idx, 0.0) for r in traced]), "s")
    m["sinks.out_bytes"] = (med([r["out_bytes"] for r in traced]), "B")
    m["sources.in_bytes"] = (med([r["in_bytes"] for r in traced]), "B")
    m["sources.in_rows"] = (med([r["in_rows"] for r in traced]), "count")
    if cdc:
        m["pipeline.gate_s"] = (cdc["gate_s"], "s")
        m["sinks.backup_s"] = (cdc["backup_s"], "s")
        m["sinks.cdc_publish_s"] = (sum(cdc["publish_s"].values()), "s")
    if walls:
        m["trace.overhead_ratio"] = (m["trace.pass_s"][0] / med(walls), "ratio")
    return m


# ----------------------------------------------------------------- suites

def run_suite(cp, workload, seed, seconds, trace, failures, counts):
    queries = SUITES[workload]
    data = os.path.join(WORK, "suite_data")
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    def setup():
        tpcgen.generate(fresh(data), seed, SUITE_SCALE)
    setups = []
    timed(setup, setups)
    in_files = glob.glob(os.path.join(data, "*.parquet"))
    in_bytes = sum(os.path.getsize(f) for f in in_files)
    in_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in in_files)
    out = os.path.join(WORK, "suite_out")
    diffcheck = os.path.join(ROOT, "tools", "diffcheck.py")
    walls, rss, per_row, traced = [], [], [], []
    t_start = time.monotonic()
    i = 0
    # the same pass structure as etl_gen3: fresh JVMs, at least two, traced
    # and untraced alternating in a traced run
    while i < MIN_PASSES or time.monotonic() - t_start < seconds:
        tracing = trace and i % 2 == 1
        timed(setup, setups)  # as in run_etl
        fresh(out)
        res = os.path.join(WORK, f"suite_{i}.json")
        lp = os.path.join(logs, f"suite_{i}.log")
        usage = {}
        counts["attempted"] += len(queries)
        rc = run_child(java_cmd(cp, "graftbench.Main", [
            "suite", f"--data={data}", f"--out={out}",
            f"--queries={','.join(queries)}", f"--seed={seed}",
            f"--trace={int(tracing)}", f"--result={res}"]),
            cwd=fresh(os.path.join(WORK, "cwd")), log_path=lp,
            timeout=PASS_TIMEOUT_S, env=java_env(), usage=usage)
        if rc != 0 or not os.path.exists(res):
            failures.append(f"suite pass {i}: exit {rc}, see {lp}")
            i += 1
            continue
        with open(res) as f:
            r = json.load(f)
        problems = r["failures"] + checks.oracle_problems(out, data,
                                                          diffcheck, WORK)
        if problems:
            failures += [f"suite pass {i}: {p}" for p in problems]
        elif tracing:
            r["wall_s"] = usage["wall_s"]
            traced.append(r)
        else:
            walls.append(usage["wall_s"])
            rss.append(usage["rss_mb"])
            files = glob.glob(os.path.join(out, "*", "*.parquet"))
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            per_row.append(sum(os.path.getsize(f) for f in files) / max(1, rows))
        i += 1
    if trace:
        write_trace(workload, seed, [r["trace"] for r in traced])
        metrics = suite_layers(traced, walls, queries)
    else:
        metrics = {"setup_s": (med(setups), "s"),
                   "pass_s": (med(walls), "s"),
                   "peak_rss_mb": (med(rss), "MiB"),
                   "out_bytes_per_doc": (med(per_row), "B/doc")}
    shutil.rmtree(out, ignore_errors=True)
    return metrics, {"passes": len(walls), "traced_passes": len(traced),
                     "setups": len(setups)}, \
        in_rows, in_bytes


def suite_layers(traced, walls, queries):
    m = {name: (0.0, unit) for name, unit in ALL_LAYERS}
    if not traced:
        return m
    m.update(spark_layers(traced, lambda r: r["wall_s"], traced[0]["cores"]))
    m["spark.session_start_s"] = (med([r["session_start_s"] for r in traced]), "s")
    m["sources.in_bytes"] = (med([r["in_bytes"] for r in traced]), "B")
    m["sources.in_rows"] = (med([r["in_rows"] for r in traced]), "count")
    for q in queries:
        rows = [r["queries"][q] for r in traced]
        m[f"{q}.s"] = (med([x["s"] for x in rows]), "s")
        m[f"{q}.jobs"] = (med([x["jobs"] for x in rows]), "count")
        m[f"{q}.driver_gap_s"] = (med([x["driver_gap_s"] for x in rows]), "s")
        m[f"{q}.shuffle_bytes"] = (
            med([x["shuffle_write_bytes"] for x in rows]), "B")
    if walls:
        m["trace.overhead_ratio"] = (m["trace.pass_s"][0] / med(walls), "ratio")
    return m


# every per-layer metric; a traced run reports all of them, 0 where its
# workload does not exercise the layer
ALL_LAYERS = [
    ("schema.load_s", "s"), ("pipeline.gate_s", "s"),
    ("pipeline.translate_s", "s"),
    ("sinks.publish_s.subject_idx", "s"), ("sinks.publish_s.file_idx", "s"),
    ("sinks.publish_s.project_idx", "s"), ("sinks.cdc_publish_s", "s"),
    ("sinks.backup_s", "s"),
    ("sinks.out_bytes", "B"), ("sources.in_bytes", "B"),
    ("sources.in_rows", "count"),
] + [(name, unit) for name, _, unit in SPARK_LAYERS] + [
    ("spark.tasks_per_stage", "count"), ("spark.core_busy_ratio", "ratio"),
    ("spark.session_start_s", "s"),
    ("trace.pass_s", "s"), ("trace.overhead_ratio", "ratio"),
] + [(f"{q}.{k}", u) for qs in SUITES.values() for q in qs
     for k, u in (("s", "s"), ("jobs", "count"), ("driver_gap_s", "s"),
                  ("shuffle_bytes", "B"))]


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r} (known: {', '.join(WORKLOADS)})")
    signal.signal(signal.SIGTERM, _cleanup)
    signal.signal(signal.SIGINT, _cleanup)
    cp, digest = build()
    failures, counts = [], {"attempted": 0}
    if a.workload == "etl_gen3":
        metrics, info, in_rows, in_bytes = run_etl(
            cp, a.seed, a.seconds, bool(a.trace), failures, counts)
    else:
        metrics, info, in_rows, in_bytes = run_suite(
            cp, a.workload, a.seed, a.seconds, bool(a.trace), failures, counts)
    env = environment(cp, a.workload, a.seed, digest, in_rows, in_bytes, info)
    for f in failures:
        log(f"FAIL {f}")
    failed = min(len(failures), max(1, counts["attempted"]))
    print(json.dumps({"environment": env}))
    print(json.dumps({
        "correct": not failures,
        "attempted": max(1, counts["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
