#!/usr/bin/env python3
"""Per-PR benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root.  The first run builds the engine and the
harness with sbt (cached under perfbench/.build, keyed by a hash of the
sources) and computes the DuckDB expected results over the query tables in
perfbench/data (cached under perfbench/.data).  Every run then starts one harness JVM at
local[N] (N = usable cores), runs the workload as a closed loop for about
S seconds, checks every result, writes a durable record under
perfbench/runs/ and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the harness registers its
listeners and the metrics are the per-layer ones.  See README.md.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402
import datagen   # noqa: E402

ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
DATA = os.path.join(BENCH, ".data")
# a copy of the engine's fixed sf0.01 test tables (seed 42)
TABLES = os.path.join(BENCH, "data", "sf0.01")
RUNS = os.path.join(BENCH, "runs")

HEAP = "3g"
# The harness JVM compiles with C1 only.  With HotSpot's default tiered C2
# it kept compiling for the whole run (60-125 s of compiler CPU in a one-
# minute run on 4 cores), and the warm passes sped up in sudden steps
# whenever a large compilation landed, earlier or later with the host's
# speed; C1 spends a fraction of that.  The heap is fixed at its maximum
# so that heap resizing does not vary between passes either.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1"]
WORKLOADS = {
    # panels from each family of the reference's dashboard surface:
    # analytics, stage skew, log search, Kuery, search aggregations and
    # saved objects
    "dashboard": """q01_pricing_summary q03_group_skewness q09_log_search
        q11_join_enrich q181_kuery_search q211_panel_moving
        q279_saved_search""".split(),
    "ingest": ["metrics", "stateful", "tws", "logs"],
}
# Passes (or ingest rounds) per run: the first WARMUP are left out of every
# metric, because the JVM is still warming up through them (a dashboard
# pass keeps getting faster until its third run); at least MEASURED follow.
WARMUP = {"dashboard": 2, "ingest": 1}
MEASURED = {"dashboard": 2, "ingest": 2}
INGEST_ROUNDS = 12  # flushes generated per run; the harness stops when time is up
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ---- build -----------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise BenchError("engine sources not found: run from the repository root")
    key = source_hash()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if not os.path.exists(cp_file):
        log(f"building engine and harness ({key})")
        os.makedirs(BUILD, exist_ok=True)
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, capture_output=True, text=True, timeout=840)
        lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ":" in l
                 and not l.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            raise BenchError("sbt build failed")
        tmp = cp_file + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(lines[-1].strip())
        os.replace(tmp, cp_file)
    with open(cp_file) as fh:
        return fh.read().strip(), key


def java(cp, main, args, work, timeout, logname):
    """Run one JVM in its own process group; kill the group on timeout."""
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_FLAGS, "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, main] + args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, logname), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{main} timed out after {timeout} s")
    if rc != 0:
        with open(os.path.join(work, logname)) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise BenchError(f"{main} exited {rc}")


# ---- inputs and expected results -------------------------------------------

def expected(cp, key, names, tables_dir, work):
    """DuckDB results of each query's oracle SQL (SparkEntry.oracleSql),
    cached per engine source state."""
    path = os.path.join(DATA, f"expected-{key}.json")
    want = {}
    if os.path.exists(path):
        with open(path) as fh:
            want = json.load(fh)
    missing = [n for n in names if n not in want]
    if missing:
        java(cp, "graft.DumpOracle", [work], work, 120, "oracle.log")
        with open(os.path.join(work, "oracle_sql.json")) as fh:
            sql = json.load(fh)
        con = duckdb.connect()
        for t in os.listdir(tables_dir):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, t)}')")
        for q in missing:
            cur = con.execute(sql[q])
            want[q] = {"columns": [c[0] for c in cur.description],
                       "rows": [[benchlib.canon(v) for v in r] for r in cur.fetchall()]}
        os.makedirs(DATA, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(want, fh)
        os.replace(tmp, path)
    return {n: want[n] for n in names}


def spools(seed, work):
    """Seeded ingest flushes, one per round; returns the spool directory
    and each flush's expectations."""
    root = os.path.join(work, "spool")
    exp = [datagen.write_spool(os.path.join(root, f"round-{r:03d}"), seed * 1000 + r, r)
           for r in range(INGEST_ROUNDS)]
    return root, exp


# ---- checks ----------------------------------------------------------------

def load_rows(path):
    with open(path) as fh:
        r = json.load(fh)
    return r["columns"], r["rows"]


def check_queries(rec, want, work):
    """Mark each op ok/failed; a wrong result counts as failed."""
    for p in rec["passes"]:
        for op in p["ops"]:
            if op["err"] is None:
                w = want[op["name"]]
                op["err"] = benchlib.compare(
                    load_rows(os.path.join(work, "results", str(p["pass"]), op["name"] + ".json")),
                    (w["columns"], w["rows"]))
            op["ok"] = op["err"] is None


STAGE_COLS = ["appId", "jobId", "stageId", "inputBytesReadSkewness", "maxInputBytesRead",
              "shuffleBytesReadSkewness", "maxShuffleBytesRead", "last_ms"]


def stage_rows(stages, key_has_time=False):
    rows = []
    for k, v in stages.items():
        parts = k.split("|")
        app, job, stage = parts[0], parts[1], int(parts[2])
        last = int(parts[3]) if key_has_time else v["last_ms"]
        rows.append([app, job, stage, v["in_skew"], v["max_in"], v["sh_skew"], v["max_sh"], last])
    return STAGE_COLS, rows


def check_ingest(rec, exp, work):
    """Exactly-once row counts and every stage-agg sink against the
    generator's own per-stage min/max/sum/count, over the rounds that ran.
    The sinks are read once, at the end, so a wrong sink fails every
    drain of its pipeline."""
    ran = exp[:len(rec["rounds"])]
    e = {k: sum(x[k] for x in ran) for k in ("task_rows", "log_rows")}
    for k in ("stages", "windows", "passthrough"):
        e[k] = {key: v for x in ran for key, v in x[k].items()}
    s = rec["sinks"]
    res = lambda n: load_rows(os.path.join(work, "results", "ingest", n + ".json"))
    bad = {
        "metrics": (s["task_rows"] != e["task_rows"] and
                    f"task rows {s['task_rows']} != {e['task_rows']}")
        or benchlib.compare(res("passthrough"), stage_rows(e["passthrough"]))
        or benchlib.compare(res("derived"), stage_rows(e["windows"], key_has_time=True)),
        "stateful": benchlib.compare(res("stateful"), stage_rows(e["stages"])),
        "tws": benchlib.compare(res("tws"), stage_rows(e["stages"])),
        "logs": s["log_rows"] != e["log_rows"] and f"log rows {s['log_rows']} != {e['log_rows']}",
    }
    for _, op in ops_of(rec):
        err = op["err"] or bad[op["pipeline"]]
        op["err"] = f"{op['pipeline']}: {err}" if err else None
        op["ok"] = op["err"] is None


# ---- metrics ---------------------------------------------------------------

def op_events(op):
    """Jobs, Catalyst phase intervals, stages and plan counts of one op."""
    starts, ends, phases, stages, plans = {}, {}, {}, [], []
    for ev in op["events"]:
        k = ev["ev"]
        if k == "job_start":
            starts[ev["job"]] = ev["t"]
        elif k == "job_end":
            ends[ev["job"]] = ev["t"]
        elif k == "stage":
            stages.append(ev)
        elif k == "action":
            plans.append(ev["plan"])
            for name, (a, b) in ev["phases"].items():
                phases.setdefault("analysis" if name == "parsing" else name, []).append((a, b))
    jobs = [(starts[j], ends.get(j, op["t1"])) for j in starts]
    return jobs, phases, stages, plans


def builds(op):
    """Intervals spent in the engine's build call: the `queries(...)`
    call of a query, or the `Pipelines.start*` call of a pipeline."""
    return [(op["t0"], op["tb"])]


def split(op):
    jobs, phases, _, _ = op_events(op)
    return benchlib.split_op({"t0": op["t0"], "t1": op["t1"], "builds": builds(op),
                              "jobs": jobs, "phases": phases})


def progress(op):
    return op.get("progress", [])


def ops_of(rec):
    """(unit index, op) for every op; unit = pass or ingest round."""
    units = rec.get("passes") or rec.get("rounds")
    key = "pass" if "passes" in rec else "round"
    return [(u[key], op) for u in units for op in u["ops"]]


def measured(rec, workload):
    """Ops of the measured units (after the warm-up), grouped by unit."""
    by = {}
    for u, op in ops_of(rec):
        if u >= WARMUP[workload]:
            by.setdefault(u, []).append(op)
    return by


def per_unit(by, f):
    """Median over measured units of f(ops of the unit)."""
    return benchlib.median([f(ops) for ops in by.values()])


def first_error(rec):
    return next((f"{op['name']}: {op['err']}" for _, op in ops_of(rec) if op["err"]), None)


def end_to_end(rec, workload, setup):
    by = measured(rec, workload)
    ok_units = {u: ops for u, ops in by.items() if all(o["ok"] for o in ops)}
    if not ok_units:
        raise BenchError(f"no measured pass or round completed without a failure ({first_error(rec)})")
    wall_s = per_unit(ok_units, lambda ops: sum(o["wall_ms"] for o in ops) / 1000.0)
    if workload == "ingest":
        lat = [p["durationMs"]["triggerExecution"] for ops in ok_units.values()
               for o in ops for p in progress(o)]
        p50 = benchlib.percentile(lat, 50)
    else:
        # one median per panel, combined by geometric mean: the pooled
        # median would jump between the latency clusters of whichever
        # panels sit in the middle of the mix
        by_query = {}
        for ops in ok_units.values():
            for o in ops:
                by_query.setdefault(o["name"], []).append(o["wall_ms"])
        lat = [w for ws in by_query.values() for w in ws]
        p50 = benchlib.geomean([benchlib.median(ws) for ws in by_query.values()])
    return {
        "setup_s": (setup, "s"),
        "wall_s": (wall_s, "s"),
        "p50_ms": (p50, "ms"),
        "heap_after_gc_mb": (rec["heap_after_gc_mb"], "MB"),
    }, len(lat)


def per_layer(rec, workload, cores_n):
    by = {u: ops for u, ops in measured(rec, workload).items() if all(o["ok"] for o in ops)}
    if not by:
        raise BenchError(f"no measured pass or round completed without a failure ({first_error(rec)})")
    m = {}

    def put(name, unit, f):
        m[name] = (per_unit(by, f), unit)

    def split_sum(ops, part):
        total = 0.0
        for o in ops:
            total += split(o)[part]
        return total

    for part in ("queries.build_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
                 "catalyst.planning_ms", "driver.gap_ms", "exec.job_ms"):
        put(part, "ms", lambda ops, part=part: split_sum(ops, part))
    put("queries.build_jobs", "count", lambda ops: sum(
        1 for o in ops for s, _ in op_events(o)[0]
        if any(a <= s < b for a, b in builds(o))))

    def stages(ops):
        return [s for o in ops for s in op_events(o)[2]]

    def ssum(key, scale=1.0):
        return lambda ops: sum(s[key] for s in stages(ops)) * scale

    put("exec.jobs", "count", lambda ops: sum(len(op_events(o)[0]) for o in ops))
    put("exec.stages", "count", lambda ops: len(stages(ops)))
    put("exec.tasks", "count", ssum("tasks"))
    put("exec.task_ms", "ms", ssum("task_ms"))
    put("exec.cpu_ms", "ms", ssum("cpu_ms"))
    put("exec.task_gc_ms", "ms", ssum("gc_ms"))
    put("exec.deser_ms", "ms", ssum("deser_ms"))
    put("exec.core_util", "ratio", lambda ops: sum(s["task_ms"] for s in stages(ops)) /
        (sum(o["wall_ms"] for o in ops) * cores_n))
    skews = [benchlib.skew(s["rt_max"], s["rt_min"], s["rt_sum"], s["rt_n"])
             for ops in by.values() for s in stages(ops) if s["rt_n"] >= 2]
    m["exec.stage_skew_p50"] = (benchlib.median(skews) if skews else 0.0, "ratio")
    m["exec.stage_skew_max"] = (max(skews) if skews else 0.0, "ratio")
    put("shuffle.write_mb", "MB", ssum("shuffle_w", 1 / 1048576))
    put("shuffle.read_mb", "MB", ssum("shuffle_r", 1 / 1048576))
    put("shuffle.fetch_wait_ms", "ms", ssum("fetch_wait_ms"))
    put("spill.mb", "MB", ssum("spill", 1 / 1048576))
    m["exec.peak_mem_mb"] = (max([s["peak_mem"] for ops in by.values() for s in stages(ops)],
                                 default=0) / 1048576, "MB")
    plan_keys = ("exchanges", "smj", "shj", "bhj", "broadcast_exchanges", "reused_exchanges")
    put("plan.actions", "count", lambda ops: sum(len(op_events(o)[3]) for o in ops))
    for k in plan_keys:
        put(f"plan.{k}", "count", lambda ops, k=k: sum(p[k] for o in ops for p in op_events(o)[3]))

    # streaming progress (ingest); zero on the query workloads
    def prog(ops):
        return [p for o in ops for p in progress(o)]

    def dur(key):
        return lambda ops: sum(p["durationMs"].get(key, 0) for p in prog(ops))

    put("ingest.batches", "count", lambda ops: len(prog(ops)))
    put("ingest.input_rows", "count", lambda ops: sum(p["numInputRows"] for p in prog(ops)))
    put("ingest.add_batch_ms", "ms", dur("addBatch"))
    put("ingest.query_planning_ms", "ms", dur("queryPlanning"))
    put("ingest.wal_commit_ms", "ms", dur("walCommit"))
    put("ingest.commit_offsets_ms", "ms", dur("commitOffsets"))
    put("ingest.latest_offset_ms", "ms", dur("latestOffset"))
    put("ingest.fixed_ms_per_batch", "ms", lambda ops: (
        (dur("triggerExecution")(ops) - dur("addBatch")(ops)) / len(prog(ops)) if prog(ops) else 0.0))
    for name in WORKLOADS["ingest"]:
        put(f"ingest.{name}_s", "s", lambda ops, name=name: sum(
            o["wall_ms"] for o in ops if o.get("pipeline") == name) / 1000.0)

    def state(key, agg=sum):
        return lambda ops: agg([s.get(key, 0) for p in prog(ops) for s in p.get("stateOperators", [])]
                               or [0])

    put("state.commit_ms", "ms", state("commitTimeMs"))
    put("state.rows_total", "count", state("numRowsTotal", max))
    put("state.mem_mb", "MB", lambda ops: state("memoryUsedBytes", max)(ops) / 1048576)
    put("state.rows_dropped_by_watermark", "count", state("numRowsDroppedByWatermark"))
    s = rec.get("sinks")
    m["sink.files"] = (s["files"] / len(rec["rounds"]) if s else 0.0, "count")
    m["sink.mb_per_mevent"] = (s["bytes"] / s["task_rows"] if s else 0.0, "MB")

    first = [o for u, o in ops_of(rec) if u == 0]
    m["cold_s"] = (sum(o["wall_ms"] for o in first) / 1000.0, "s")
    m["jvm.gc_ms"] = (rec["jvm"]["gc_ms"], "ms")
    m["jvm.jit_ms"] = (rec["jvm"]["jit_ms"], "ms")
    m["jvm.heap_peak_mb"] = (rec["jvm"]["heap_peak_mb"], "MB")
    return m


def spans(rec, workload):
    """The traced run's span tree: workload > pass or round > query or
    pipeline > build, action (queries) and micro-batches (pipelines) >
    jobs; each span names its parent."""
    out = [{"id": 0, "parent": None, "kind": "workload", "name": workload}]

    def add(parent, kind, name, a, b):
        out.append({"id": len(out), "parent": parent, "kind": kind, "name": name,
                    "start": a, "end": b})
        return len(out) - 1

    def add_op(parent, o):
        query = "passes" in rec
        oid = add(parent, "query" if query else "pipeline", o["name"], o["t0"], o["t1"])
        bid = add(oid, "build", o["name"], o["t0"], o["tb"])
        aid = add(oid, "action", o["name"], o["tb"], o["t1"]) if query else oid
        for p in progress(o):
            t = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            a = int(t.timestamp() * 1000)
            add(oid, "micro-batch", str(p["batchId"]), a, a + p["durationMs"]["triggerExecution"])
        for a, b in op_events(o)[0]:
            add(bid if a < o["tb"] else aid, "job", "", a, b)

    units = rec.get("passes") or rec.get("rounds")
    for u in units:
        ops = u["ops"]
        uid = add(0, "pass" if "pass" in u else "round", str(u.get("pass", u.get("round"))),
                  min(o["t0"] for o in ops), max(o["t1"] for o in ops))
        for o in ops:
            add_op(uid, o)
    return out


# ---- main ------------------------------------------------------------------

def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, key = build()
    n = cores()
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    work = os.path.join(BENCH, ".work", f"{stamp}-{os.getpid()}")
    for d in ("tmp", "scratch", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        if args.workload == "ingest":
            data, exp = spools(args.seed, work)
        else:
            data = TABLES
            want = expected(cp, key, WORKLOADS[args.workload], data, work)
        out = os.path.join(work, "record.json")
        java(cp, "perfbench.Harness", [
            f"workload={args.workload}", f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}", f"cores={n}",
            f"data={data}", f"work={work}", f"out={out}", f"min_units={WARMUP[args.workload] + MEASURED[args.workload]}",
            "queries=" + ",".join(WORKLOADS[args.workload])], work, 150, "harness.log")
        with open(out) as fh:
            rec = json.load(fh)
        if args.workload == "ingest":
            check_ingest(rec, exp, work)
        else:
            check_queries(rec, want, work)
        if rec.get("exhausted"):
            raise BenchError("the ingest spool ran out before --seconds had passed")
        ops = [op for _, op in ops_of(rec)]
        attempted = len(ops)
        failed = sum(not op["ok"] for op in ops)
        if args.trace:
            metrics = per_layer(rec, args.workload, n)
            samples = None
        else:
            metrics, samples = end_to_end(rec, args.workload, rec["setup_s"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(RUNS, exist_ok=True)
    path = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": n,
        "seconds": args.seconds, "commit": commit(), "source_hash": key, "time": stamp,
        "latency_samples": samples,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "ops": [{k: v for k, v in op.items() if k not in ("events", "progress")}
                | {"unit": u} for u, op in ops_of(rec)],
        "sinks": rec.get("sinks"),
        "spans": spans(rec, args.workload) if args.trace else None,
        "jvm": rec["jvm"],
    }
    with open(path, "x") as fh:
        json.dump(record, fh)
    print(f"record: {os.path.relpath(path)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
