#!/usr/bin/env python3
"""The repository's benchmark: the query library and the sql-submit
streaming pipeline, end to end and per layer, in one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (perfbench/build.sbt) and keeps the
classpath in .bench_build/; later runs reuse it while the sources are
unchanged. The batch workloads read the seed-42 sf0.01 tables kept in
perfbench/data/. Tests of the arithmetic:
python3 -m unittest perfbench/test_metrics.py

Workloads (one JVM each, local[nproc]):
  batch_sql       Relational, Joins, Windows, SetOps, Events,
                  PatternQueries, Coverage and Dialect queries
  batch_ext       TextAnalysis, Dedup, VectorSearch, MultimodalQueries,
                  Sampling and Curation queries
  stream_agg_ttl  test.sql's GROUP BY through SqlSubmitAction, with a
                  state TTL, so it runs on UnboundedAggTracker with JSON
                  state, exact distinct and timers

--trace 0 prints the end-to-end metrics, measured with no listener
added. --trace 1 prints the per-layer metrics: it registers a Spark
listener, a query-execution listener and (streams) a streaming-query
listener for part of its run, records spans, and reports self time per
layer and the traced-minus-untraced overhead. BENCHMARK.json names the
metrics and their units; perfbench/layers.json says what each metric is
and which end-to-end metric it should move.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics. The line before it records the run's environment.
"""
import argparse
from datetime import datetime
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# Batch inputs are fixed: the seed-42 tables at scale factor 0.01, whose
# oracle row counts are in expected_counts.json (make_expected_counts.py)
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170
HEAP = "-Xmx3g"

WORKLOADS = {
    "batch_sql": {"kind": "batch"},
    "batch_ext": {"kind": "batch"},
    "stream_agg_ttl": {"kind": "stream", "rate": 8000},
}

PRICE_MIN, PRICE_MAX = 50.0, 1000.0

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program and benchmark once per source state; returns the
    runtime classpath."""
    stamp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")

    def cached():
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read().strip()
        return None

    cp = cached()
    if cp:
        return cp, stamp
    log("building program and benchmark with sbt")
    t = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in r.stdout.splitlines() if ln.strip()][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return cp, stamp


def data_sha256():
    """Digest of the batch tables, recorded with their expected counts."""
    h = hashlib.sha256()
    for n in sorted(os.listdir(DATA)):
        h.update(n.encode())
        with open(os.path.join(DATA, n), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


# ------------------------------------------------------------------ run

def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(cp, work, args, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java(), *OPENS, HEAP, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main", *args]
    # the program's own defaults: SqlSubmitAction sizes its shuffle and
    # state partitions by SPARK_GRAFT_CPUS, 32 when unset
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    out = open(os.path.join(work, "stdout.txt"), "w")
    err = open(os.path.join(work, "stderr.txt"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err, env=env,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def kill(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: stopped")

    # the JVM has its own process group: take it down with this process
    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        code = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = "timeout"
    finally:
        out.close()
        err.close()
    if code != 0:
        with open(os.path.join(work, "stderr.txt")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: workload JVM ended with {code}")


def median(xs):
    return metrics.percentile(xs, 50)


def declared_metrics(trace):
    """{name: unit} of the metrics BENCHMARK.json declares for a run:
    end_to_end untraced, per_layer traced. A run prints all of them; a
    per-layer metric of a layer the workload does not use is 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def batch_result(raw, expected, trace):
    """(metrics, attempted, failed, record) of a batch run."""
    execs = raw["execs"]
    bad = [e for e in execs if e["error"] or e["rows"] != expected.get(e["name"])]
    for e in bad[:10]:
        log(f"FAILED {e['name']}: rows={e['rows']} expected="
            f"{expected.get(e['name'])} {e['error'][:200]}")
    record = {"queries": len({e["name"] for e in execs}), "executions": len(execs)}

    def per_query(sel):
        by = {}
        for e in execs:
            if sel(e) and not e["error"]:
                by.setdefault(e["name"], []).append(e["build_ms"] + e["run_ms"])
        return {k: median(v) for k, v in by.items()}

    if not trace:
        med = per_query(lambda e: True)
        busy_s = sum(med.values()) / 1000
        record.update(batch_total_s=busy_s, samples=len(med),
                      tail_percentile=metrics.highest_percentile(len(med)))
        m = {"setup_s": raw["setup_s"], "op_p50_ms": median(list(med.values())),
             "capacity_per_s": len(med) / busy_s, "live_heap_mb": raw["live_heap_mb"]}
        return m, len(execs), len(bad), record

    # per-layer figures are for each query's one traced execution
    traced = [e for e in execs if e["traced"]]
    groups = raw["trace"]["groups"]
    shapes = raw["trace"]["shapes"]
    spans = raw["spans"]
    m = {}
    for mod in sorted({e["module"] for e in traced}):
        es = [e for e in traced if e["module"] == mod]
        m[f"operators.{mod}.wall_s"] = sum(e["build_ms"] + e["run_ms"] for e in es) / 1000
        m[f"operators.{mod}.jobs"] = sum(
            groups.get(f"{e['name']}#{e['pass']}", {}).get("jobs", 0) for e in es)
    m["operators.build_s"] = sum(e["build_ms"] for e in traced) / 1000
    m["operators.run_s"] = sum(e["run_ms"] for e in traced) / 1000
    for ph, name in (("analysis", "analysis_ms"), ("optimization", "optimizer_ms"),
                     ("planning", "planning_ms")):
        m[f"plans.{name}"] = sum(s["end"] - s["start"] for s in spans
                                 if s["name"] == f"plans.{ph}")
    m.update(spark_metrics(list(groups.values()),
                           sum(e["build_ms"] + e["run_ms"] for e in traced), 1))
    graft_traces = {s["trace"] for s in shapes if s["graft_exprs"]}
    m["functions.queries"] = len(graft_traces)
    m["functions.cpu_ms"] = sum(groups.get(g, {}).get("executor_cpu_ms", 0)
                                for g in graft_traces)
    for k in ("exchanges", "parquet_scans", "checkpoint_scans", "broadcasts", "cartesian"):
        m[f"plan.{k}"] = sum(s[k] for s in shapes)
    nodes = sum(s["nodes"] for s in shapes)
    m["plan.codegen_share"] = sum(s["codegen_nodes"] for s in shapes) / nodes if nodes else 0.0
    m.update(self_metrics(spans, 1))
    untraced, traced_q = per_query(lambda e: not e["traced"]), per_query(lambda e: e["traced"])
    both = [k for k in untraced if k in traced_q]
    base = sum(untraced[k] for k in both)
    m["trace.overhead_share"] = sum(traced_q[k] for k in both) / base - 1 if base else 0.0
    return m, len(execs), len(bad), record


def spark_metrics(groups, wall_ms, per):
    """Scheduler and task counters summed over `groups`, divided by `per`."""
    def tot(k):
        return sum(g[k] for g in groups) / per

    skews = [x for g in groups for x in g["stage_skews"]]
    m = {f"spark.{k}": tot(k) for k in (
        "jobs", "stages", "tasks", "task_wait_ms", "executor_run_ms",
        "executor_cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_bytes", "input_bytes")}
    run_ms = sum(g["executor_run_ms"] for g in groups)
    m["spark.busy_share"] = run_ms / (wall_ms * nproc()) if wall_ms else 0.0
    m["spark.task_skew"] = median(skews) if skews else 1.0
    return m


def self_metrics(spans, per):
    layers = metrics.self_time_by_layer(spans) if spans else {}
    return {f"self.{k}_ms": layers.get(k, 0.0) / per
            for k in ("harness", "plans", "operators", "microbatch", "streaming", "spark")}


# micro-batch phases in the order MicroBatchExecution runs them
PHASES = [("latestOffset", "microbatch.latest_offset"),
          ("walCommit", "microbatch.wal_commit"),
          ("getBatch", "microbatch.get_batch"),
          ("queryPlanning", "plans.microbatch_planning"),
          ("addBatch", "streaming.add_batch"),
          ("commitOffsets", "microbatch.commit_offsets")]

PLAN_NODE = {"exchanges": "Exchange hashpartitioning", "parquet_scans": "Scan parquet",
             "checkpoint_scans": "Scan ExistingRDD", "broadcasts": "BroadcastExchange",
             "cartesian": "CartesianProduct"}


def read_sink(stdout_path, sink):
    """The print sink's latest row per (dim, minute): [pv, uv, sum, max, min]."""
    latest = {}
    prefix = sink + "> "
    with open(stdout_path) as f:
        for line in f:
            if line.startswith(prefix):
                body = line[len(prefix):].strip()
                vals = body[body.index("[") + 1:body.rindex("]")].split(", ")
                latest[(vals[0], vals[6])] = [float(v) for v in vals[1:6]]
    return latest


def stream_result(raw, stdout_path, spec, trace):
    """(metrics, attempted, failed, record) of a stream run."""
    progress = [json.loads(b) for b in raw["batches"]]
    toggles = raw["trace"]["toggles"]
    for p in progress:
        p["_start"] = datetime.fromisoformat(p["timestamp"]).timestamp() * 1000
        p["_ms"] = p["durationMs"].get("triggerExecution", 0)
        # the listeners see a batch's Spark jobs and its progress event,
        # all from addBatch on: a switch before that does not mix it
        end = p["_start"] + p["_ms"]
        tail = p["durationMs"].get("addBatch", 0) + p["durationMs"].get("commitOffsets", 0)
        p["_traced"] = metrics.tracing_during(toggles, end - tail, end)
    # the window: batches after the warm-up that ended by the deadline
    window = [p for p in progress if p["batchId"] > raw["warm_last_batch"]
              and p["_start"] + p["_ms"] <= raw["deadline_ms"]]
    data = [p for p in window if p["numInputRows"] > 0]

    latest = read_sink(stdout_path, raw["sink"])
    rows_in = sum(p["numInputRows"] for p in progress)
    pv = sum(v[0] for v in latest.values())
    checks = {}
    # a batch cut by the stop may have printed part of its rows
    if not raw["interrupted"]:
        checks["sink_pv_equals_input_rows"] = pv == rows_in and rows_in > 0
    checks["uv_within_pv"] = bool(latest) and all(
        1 <= v[1] <= v[0] for v in latest.values())
    checks["prices_within_bounds"] = bool(latest) and all(
        PRICE_MIN <= v[4] <= v[2] / v[0] <= v[3] <= PRICE_MAX for v in latest.values())
    # a GROUP BY key the TTL rewrite does not admit would silently stay
    # on the native state store
    plan = raw["plan"]
    checks["plan_path"] = "FlatMapGroupsWithState" in plan
    checks["no_query_failure"] = raw["failure"] == ""
    checks["enough_batches"] = len(data) >= 3
    cap = metrics.capacity([p["numInputRows"] for p in data],
                           [p["_ms"] for p in data]) if data else 0.0
    # the source is open loop: a query that cannot keep up gets ever
    # larger batches; more than a second of input of growth fails
    growth = metrics.backlog_growth([p["numInputRows"] for p in window], spec["rate"]) \
        if len(window) >= 2 else float("inf")
    checks["backlog_bounded"] = growth <= 1
    for k, ok in checks.items():
        if not ok:
            log(f"FAILED check {k}")
    attempted = len(data) + len(checks)
    failed = sum(1 for ok in checks.values() if not ok)
    record = {"checks": checks, "samples": len(data),
              "tail_percentile": metrics.highest_percentile(len(data)),
              "input_rows": rows_in, "backlog_growth_s": growth,
              "sink_pv": pv, "sink_keys": len(latest), "interrupted": raw["interrupted"]}

    if not trace:
        m = {"setup_s": raw["setup_s"],
             "op_p50_ms": median([p["_ms"] for p in data]) if data else 0.0,
             "capacity_per_s": cap, "live_heap_mb": raw["live_heap_mb"]}
        return m, attempted, failed, record

    # per-layer figures are medians (times) or means (counters) per
    # traced data batch, unless named otherwise; a batch during which
    # the listeners switched is in neither set
    tdata = [p for p in data if p["_traced"] is True]
    udata = [p for p in data if p["_traced"] is False]
    record.update(traced_batches=len(tdata), untraced_batches=len(udata))

    def med(f, ps=tdata):
        return median([f(p) for p in ps]) if ps else 0.0

    def ops(p):
        return p["stateOperators"][0] if p["stateOperators"] else {}

    first = [p for p in progress if p["numInputRows"] > 0]
    last = ops(window[-1]) if window else {}
    m = {"harness.parse_ms": median(raw["parse_ms"]),
         "harness.statements": raw["statements"],
         "harness.submit_ms": median(raw["submit_ms"]),
         "harness.first_batch_ms": first[0]["_start"] + first[0]["_ms"] - raw["submitted_ms"]
         if first else 0.0,
         "plans.microbatch_planning_ms": med(lambda p: p["durationMs"].get("queryPlanning", 0)),
         "microbatch.count": len(window),
         "microbatch.nodata_share": 1 - len(data) / len(window) if window else 0.0,
         "microbatch.input_rows_p50": med(lambda p: p["numInputRows"], data),
         "state.rows_total": last.get("numRowsTotal", 0),
         "state.memory_bytes": last.get("memoryUsedBytes", 0),
         "state.disk_bytes": raw["state_disk_bytes"],
         "state.update_ms": med(lambda p: ops(p).get("allUpdatesTimeMs", 0)),
         "state.removal_ms": med(lambda p: ops(p).get("allRemovalsTimeMs", 0)),
         "state.commit_ms": med(lambda p: ops(p).get("commitTimeMs", 0)),
         "state.rows_removed": sum(ops(p).get("numRowsRemoved", 0) for p in window),
         "state.rows_dropped_late": sum(ops(p).get("numRowsDroppedByWatermark", 0)
                                        for p in window),
         "state.instances": last.get("numStateStoreInstances", 0)}
    for k, name in PHASES:
        if name.startswith("microbatch."):
            m[name + "_ms"] = med(lambda p: p["durationMs"].get(k, 0))
    m["microbatch.add_batch_ms"] = med(lambda p: p["durationMs"].get("addBatch", 0))

    groups = raw["trace"]["groups"]
    tg = [groups[str(p["batchId"])] for p in tdata if str(p["batchId"]) in groups]
    m.update(spark_metrics(tg, sum(p["_ms"] for p in tdata), max(len(tg), 1)))
    # micro-batch spans: the progress phases laid out in execution order,
    # the batch's Spark jobs under addBatch
    spans = []
    sid = 0
    for p in tdata:
        root = sid
        spans.append({"id": root, "parent": -1, "name": "microbatch.trigger",
                      "start": p["_start"], "end": p["_start"] + p["_ms"]})
        t = p["_start"]
        add_id = None
        for k, name in PHASES:
            sid += 1
            d = p["durationMs"].get(k, 0)
            spans.append({"id": sid, "parent": root, "name": name, "start": t, "end": t + d})
            add_id = sid if k == "addBatch" else add_id
            t += d
        for s, e in groups.get(str(p["batchId"]), {}).get("job_spans", []):
            sid += 1
            spans.append({"id": sid, "parent": add_id, "name": "spark.job",
                          "start": s, "end": e})
        sid += 1
    m.update(self_metrics(spans, max(len(tdata), 1)))
    # the harness works once per run, at submit
    m["self.harness_ms"] = median(raw["submit_ms"])
    for k, node in PLAN_NODE.items():
        m[f"plan.{k}"] = plan.count(node)
    base = med(lambda p: p["_ms"], udata)
    m["trace.overhead_share"] = med(lambda p: p["_ms"]) / base - 1 if base and tdata else 0.0
    return m, attempted, failed, record


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from a checkout of the repository; "
                         "the program's sources are missing")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, stamp = build()
    # the 170 s budget of a run starts once the build is done
    t_start = time.time()
    spec = WORKLOADS[a.workload]
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    # the seed varies no input yet (see layers.json); it is recorded
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]
    if spec["kind"] == "batch":
        args += ["--data", DATA]
    else:
        args += ["--script", os.path.join(HERE, f"{a.workload}.sql"),
                 "--rate", str(spec["rate"])]
    try:
        run_jvm(cp, work, args, RUN_LIMIT_S - (time.time() - t_start))
        with open(out) as f:
            raw = json.load(f)
        if spec["kind"] == "batch":
            with open(os.path.join(HERE, "expected_counts.json")) as f:
                exp = json.load(f)
            if exp["data_sha256"] != data_sha256():
                raise SystemExit("perfbench: expected_counts.json is for other tables; "
                                 "run perfbench/make_expected_counts.py")
            m, attempted, failed, record = batch_result(raw, exp["counts"], a.trace == 1)
        else:
            m, attempted, failed, record = stream_result(
                raw, os.path.join(work, "stdout.txt"), spec, a.trace == 1)
        shutil.copy(out, os.path.join(BUILD, f"last-{a.workload}-trace{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        m["run.failed_share"] = metrics.failed_share(failed, attempted)
    units = declared_metrics(a.trace == 1)
    assert set(m) <= set(units), sorted(set(m) - set(units))
    values = {k: float(m.get(k, 0.0)) for k in units}
    record.update(raw["env"])
    record.update({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "git_commit": git_commit(), "source_sha256": stamp,
                   "failed_share": metrics.failed_share(failed, attempted)})
    print("perfbench run: " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
