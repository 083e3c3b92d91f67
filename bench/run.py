#!/usr/bin/env python3
"""graft benchmark: build, run one workload, check its outputs, report.

Run from the repository root:

    python3 bench/run.py --workload youtube_pipeline --seed 1 --seconds 5 --trace 0
    python3 bench/run.py --list-metrics        # every metric name and unit
    python3 -m unittest discover -s bench      # the benchmark's own tests

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. A fuller record (all
samples with quartiles, min and max, the host shape and, when tracing, the
span tree) is written under `bench/.work/results/`. See bench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
CORES = 4
HEAP = "3g"
MB = 1024.0 * 1024.0

# --------------------------------------------------------------------------
# Workloads. `stages` groups queries into the reference pipeline's stages.
# `fixture` names the directory under bench/fixture/ the workload reads:
# copies of the repo's seed-42 parquet test fixtures, holding only the
# tables the workload reads. Each workload runs at the largest scale whose
# runs fit the benchmark's time budget (see README.md, "Fixtures").
# --------------------------------------------------------------------------
# Nine of the 22 TPC-H queries, chosen to cover Catalyst's rewrites:
# aggregation (q1), correlated scalar subqueries (q2, q17, q22), EXISTS /
# NOT EXISTS (q4, q21, q22), many-way joins (q2, q9), LIKE (q9), an outer
# join with nested aggregation (q13) and nested IN subqueries (q20). All 22,
# with their warm pass, would not fit the benchmark's time budget.
TPCH = [f"m_sql_q{i}" for i in (1, 2, 4, 9, 13, 17, 20, 21, 22)]
WORKLOADS = {
    "youtube_pipeline": {
        "fixture": "sf0.001",
        "sink": "parquet",
        "stages": {
            "ingest": ["a3_scan_tree", "a4_tsv_parse", "a6_load_stats"],
            "links": ["d1_explode_links", "e1_links_join"],
            "corr": ["f8_corr_matrix"],
            "scc": ["k1_scc", "k2_component_agg"],
            "trending": ["j5_trending_score", "g3_topk_trending"],
        },
        "tables": ["orders", "lineitem", "videos", "edges"],
        "query_jobs": True,
    },
    "tpch_sql": {
        "fixture": "sf0.01",
        "sink": "noop",
        "queries": TPCH,
        "tables": ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem"],
        "query_jobs": False,
    },
}
for _w in WORKLOADS.values():
    _w.setdefault("queries", [q for qs in _w.get("stages", {}).values() for q in qs])

# --------------------------------------------------------------------------
# Metric catalogue: (name, unit).
# --------------------------------------------------------------------------
END_TO_END = [("pass_s", "s"), ("setup_s", "s"), ("cache_mb", "MiB")]
STAGES = ["ingest", "links", "corr", "scc", "trending"]
SPAN_KINDS = ["pass", "query", "build", "sink", "job", "plan"]
LAYER_METRICS = (
    [("tables.load_s", "s"), ("tables.cached_mb", "MiB"),
     ("build_s", "s"), ("build.jobs", "count"), ("build.idle_s", "s"),
     ("plan_s", "s"), ("qe_count", "count"),
     ("exec_s", "s"), ("jobs", "count"), ("stages", "count"),
     ("tasks", "count"), ("task_failures", "count"),
     ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
     ("shuffle_write_mb", "MiB"), ("shuffle_read_mb", "MiB"),
     ("spill_mb", "MiB"), ("core_busy_frac", "fraction"),
     ("sink_s", "s"), ("sink_mb", "MiB")]
    + [(f"stage.{s}_s", "s") for s in STAGES]
    + [(f"self.{k}_s", "s") for k in SPAN_KINDS]
    + [("trace.overhead_s", "s"), ("trace.pass_s", "s"),
       ("failed_frac", "fraction"), ("host.calibration_s", "s")])


def query_metrics(workloads):
    out = []
    for w in workloads:
        spec = WORKLOADS[w]
        for q in spec["queries"]:
            out.append((f"q.{q}.wall_s", "s"))
            if spec["query_jobs"]:
                out.append((f"q.{q}.jobs", "count"))
    return out


PER_LAYER = LAYER_METRICS + query_metrics(WORKLOADS)


def pass_order(spec, seed):
    """The query order of a pass, a permutation set by `seed`. A staged
    workload keeps its first stage (ingest) first and each stage's queries
    in order, because later queries read what earlier ones build (k2 reuses
    k1's SCC labels); only the independent stages after it are shuffled."""
    rng = random.Random(seed)
    if "stages" not in spec:
        order = list(spec["queries"])
        rng.shuffle(order)
        return order
    first, *rest = spec["stages"].values()
    rng.shuffle(rest)
    return [q for stage in [first, *rest] for q in stage]


# --------------------------------------------------------------------------
# Statistics and span arithmetic (unit-tested in test_run.py).
# --------------------------------------------------------------------------
def summary(values):
    """Median, first and third quartile (statistics.quantiles, n=4),
    min, max and sample count of a non-empty list."""
    vals = sorted(values)
    if len(vals) > 1:
        q1, med, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = med = q3 = vals[0]
    return {"median": med, "q1": q1, "q3": q3, "min": vals[0],
            "max": vals[-1], "n": len(vals)}


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of every span: its duration minus the union of its direct
    children's intervals. `spans` maps id -> dict(start, end, parent)."""
    children = {}
    for sid, s in spans.items():
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {sid: (s["end"] - s["start"])
            - union_length(children.get(sid, []), s["start"], s["end"])
            for sid, s in spans.items()}


def pass_layers(p, spec, cores):
    """Per-layer metrics of one traced pass, from its span tree."""
    tr = p["trace"]
    spans = {s["id"]: {"kind": s["kind"], "name": s["name"],
                       "start": s["start_ms"], "end": s["end_ms"],
                       "parent": s["parent"]} for s in tr["spans"]}
    containers = sorted((s for s in spans.items() if s[1]["kind"] in ("build", "sink")),
                        key=lambda kv: kv[1]["start"])

    def container_at(t):  # the latest-starting build/sink span open at t
        for sid, s in reversed(containers):
            if s["start"] <= t <= s["end"]:
                return sid
        return next((sid for sid, s in spans.items() if s["kind"] == "pass"), 0)

    nid = max(spans, default=0)
    for j in tr["jobs"]:
        nid += 1
        parent = j["parent"] if j["parent"] in spans else container_at(j["start_ms"])
        spans[nid] = {"kind": "job", "name": str(j["id"]), "start": j["start_ms"],
                      "end": j["end_ms"], "parent": parent, "job": j}
    for qe in tr["qes"]:
        for phase, ph in qe["phases"].items():
            nid += 1
            spans[nid] = {"kind": "plan", "name": phase, "start": ph["start_ms"],
                          "end": ph["end_ms"], "parent": container_at(ph["start_ms"])}
    selfs = self_times(spans)

    def of(kind):
        return [(sid, s) for sid, s in spans.items() if s["kind"] == kind]

    def total(kind):
        return sum(s["end"] - s["start"] for _, s in of(kind)) / 1000.0

    def query_of(sid):
        while sid in spans and spans[sid]["kind"] != "query":
            sid = spans[sid]["parent"]
        return spans[sid]["name"] if sid in spans else None

    jobs = [s["job"] for _, s in of("job")]
    job_sum = lambda k: sum(j[k] for j in jobs)
    build_ids = {sid for sid, _ in of("build")}
    build_jobs = [s for _, s in of("job") if s["parent"] in build_ids]
    idle = sum((s["end"] - s["start"]) - union_length(
        [(j["start"], j["end"]) for j in build_jobs if j["parent"] == sid],
        s["start"], s["end"]) for sid, s in of("build")) / 1000.0
    sink_plan = sum(s["end"] - s["start"] for _, s in of("plan")
                    if spans.get(s["parent"], {}).get("kind") == "sink") / 1000.0
    m = {
        "build_s": total("build"),
        "build.jobs": len(build_jobs),
        "build.idle_s": idle,
        "plan_s": total("plan"),
        "qe_count": len(tr["qes"]),
        "exec_s": total("sink") - sink_plan,
        "jobs": len(jobs),
        "stages": job_sum("stages"),
        "tasks": job_sum("tasks"),
        "task_failures": job_sum("task_failures"),
        "executor_run_s": job_sum("executor_run_ms") / 1000.0,
        "executor_cpu_s": job_sum("executor_cpu_ns") / 1e9,
        "gc_s": job_sum("gc_ms") / 1000.0,
        "shuffle_write_mb": job_sum("shuffle_write_bytes") / MB,
        "shuffle_read_mb": job_sum("shuffle_read_bytes") / MB,
        "spill_mb": job_sum("spill_bytes") / MB,
        "core_busy_frac": job_sum("executor_run_ms") / 1000.0 / (p["pass_s"] * cores),
        "sink_s": total("sink") if spec["sink"] == "parquet" else 0.0,
        "sink_mb": sum(q["sink_bytes"] for q in p["queries"]) / MB,
        "trace.pass_s": p["pass_s"],
    }
    for kind in SPAN_KINDS:
        m[f"self.{kind}_s"] = sum(selfs[sid] for sid, _ in of(kind)) / 1000.0
    walls = {q["name"]: q["wall_s"] for q in p["queries"]}
    for stage in STAGES:
        m[f"stage.{stage}_s"] = sum(walls.get(q, 0.0)
                                    for q in spec.get("stages", {}).get(stage, []))
    for q in spec["queries"]:
        m[f"q.{q}.wall_s"] = walls.get(q, 0.0)
        if spec["query_jobs"]:
            m[f"q.{q}.jobs"] = sum(1 for sid, s in of("job") if query_of(sid) == q)
    for sid in selfs:
        spans[sid]["self"] = selfs[sid]
        spans[sid].pop("job", None)
    return m, spans


# --------------------------------------------------------------------------
# Build and harness launch.
# --------------------------------------------------------------------------
def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if f.endswith((".scala", ".sbt", ".properties")))
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation: $SPARK_HOME, else the first PATH entry
    holding a spark-submit next to a jars/ directory (a pip-installed
    spark-submit wrapper has none)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.get_exec_path()
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit(fail("no Spark installation found; set SPARK_HOME"))


def build():
    """Compiles the harness and the engine's main sources (sbt, offline)
    unless the stamped classes are current."""
    stamp = os.path.join(WORK, "build.stamp")
    want = tree_hash([ENGINE_SRC, os.path.join(HERE, "src"),
                      os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")])
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == want:
        return
    log("building harness + engine (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.exit(fail(f"build failed (rc {rc}); see {out.name}"))
    with open(stamp, "w") as f:
        f.write(want)


def jvm_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    return [a for p in pkgs for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def run_harness(args, order, fx_dir, run_dir):
    raw = os.path.join(run_dir, "raw.json")
    spec = WORKLOADS[args.workload]
    cmd = (["java", *jvm_opens(), f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", f"{CLASSES}{os.pathsep}{spark_home()}/jars/*", "graftbench.Harness",
            "--fixture", fx_dir, "--queries", ",".join(order),
            "--tables", ",".join(spec["tables"]), "--sink", spec["sink"],
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES),
            "--work", run_dir, "--out", raw])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "harness.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait()
        finally:  # interrupted or terminated: stop the JVM before leaving
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(raw):
        with open(err.name) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        sys.exit(fail(f"harness failed ({rc})"))
    with open(raw) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# Oracle check: every query's output against its DuckDB oracle.
# --------------------------------------------------------------------------
def canon_hash(df):
    """sha256 over a canonical rendering: columns sorted by name, rows
    sorted, floats quantized at 1e-9 (-0.0 folded into 0.0)."""
    import numpy as np
    df = df[sorted(df.columns)]
    key = df.copy()
    for c in key.columns:
        if key[c].dtype.kind == "f":
            key[c] = np.round(key[c].to_numpy(), 9) + 0.0
        elif key[c].dtype.kind == "O":
            key[c] = key[c].astype(str)
    if len(key.columns):
        key = key.sort_values(by=list(key.columns), kind="mergesort")
    h = hashlib.sha256("|".join(key.columns).encode())
    for c in key.columns:
        col = key[c]
        kind = df[c].dtype.kind
        vals = (["NaN" if v != v else "%.9f" % v for v in col.to_numpy()]
                if kind == "f" else [repr(v) for v in col.astype(str).to_numpy()])
        h.update(f"{kind}:".encode() + "\x1f".join(vals).encode() + b"\x1e")
    return h.hexdigest()


def check_outputs(fx_dir, raw):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(fx_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(fx_dir, f)}'")
    results = {}
    for q in sorted({q["name"] for q in raw["warm_queries"]}):
        sql = raw["oracle_sql"].get(q)
        out = os.path.join(raw["check_dir"], q)
        try:
            if sql is None:
                raise ValueError("no oracle")
            got = canon_hash(con.execute(f"SELECT * FROM '{out}/*.parquet'").df())
            want = canon_hash(con.execute(sql).df())
            results[q] = {"match": got == want, "spark": got, "oracle": want}
        except Exception as e:  # a missing or unreadable output is a mismatch
            results[q] = {"match": False, "error": str(e)[:300]}
    return results


# --------------------------------------------------------------------------
# Report.
# --------------------------------------------------------------------------
def fail(msg):
    log(msg)
    return 1


def report(args, raw, checks, order, timing):
    spec = WORKLOADS[args.workload]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    traced = [p for p in raw["passes"] if p["traced"]]
    # Every query execution and every output check is one attempt.
    attempted = raw["attempted"] + len(checks)
    failed = len(raw["failures"]) + sum(1 for c in checks.values() if not c["match"])
    detail = {
        "pass_s": summary([p["pass_s"] for p in untraced]),
        "setup_s": summary([raw["context_start_s"] + raw["setup_s"]]),
        "cache_mb": summary([raw["cache_mb"]]),
        "tables.load_s": summary([p["load_s"] for p in raw["passes"]]),
        "tables.cached_mb": summary([p["tables_cached_mb"] for p in raw["passes"]]),
        "host.calibration_s": summary(raw["calibration_s"]),
    }
    span_dump = []
    if traced:
        per_pass = []
        for p in traced:
            m, spans = pass_layers(p, spec, CORES)
            per_pass.append(m)
            span_dump.append({"pass": p["pass"], "spans": spans})
        for k in per_pass[0]:
            detail[k] = summary([m[k] for m in per_pass])
        detail["trace.overhead_s"] = summary(
            [detail["trace.pass_s"]["median"] - detail["pass_s"]["median"]])
    detail["failed_frac"] = summary([failed / attempted])
    names = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": detail[n]["median"] if n in detail else 0.0, "unit": u}
               for n, u in names}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "order": order, "host": raw["host"],
              "cores_used": CORES, "timing": timing, "attempted": attempted,
              "context_start_s": raw["context_start_s"],
              "passes": [{k: p[k] for k in ("pass", "traced", "pass_s", "load_s")}
                         for p in raw["passes"]],
              "warm_queries": raw["warm_queries"],
              "failures": raw["failures"], "checks": checks, "metrics": detail,
              "spans": span_dump}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    host = dict(raw["host"], seed=args.seed, cores_used=CORES,
                calibration_s=detail["host.calibration_s"]["median"])
    print(json.dumps({"host": host, "record": os.path.relpath(path, ROOT)}))
    for n, _ in names:
        if n in detail:
            d = detail[n]
            log(f"{n:28s} median {d['median']:.4f}  q1 {d['q1']:.4f}  q3 {d['q3']:.4f}"
                f"  min {d['min']:.4f}  max {d['max']:.4f}  n {d['n']}")
    for q, c in checks.items():
        if not c["match"]:
            log(f"oracle mismatch: {q} {c}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def list_metrics():
    print("end-to-end (--trace 0):")
    for n, u in END_TO_END:
        print(f"  {n}  [{u}]")
    print("per-layer (--trace 1):")
    for n, u in PER_LAYER:
        print(f"  {n}  [{u}]")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list-metrics", action="store_true")
    args = ap.parse_args(argv)
    if args.list_metrics:
        list_metrics()
        return 0
    if not args.workload:
        ap.error("--workload is required")
    # A terminated run unwinds through the finally blocks, which stop the
    # JVM and delete the run's scratch directory.
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        return fail(f"engine sources not found under {ENGINE_SRC}")
    os.makedirs(WORK, exist_ok=True)
    build()
    fx_dir = os.path.join(HERE, "fixture", WORKLOADS[args.workload]["fixture"])
    t0 = time.time()
    order = pass_order(WORKLOADS[args.workload], args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw = run_harness(args, order, fx_dir, run_dir)
        t1 = time.time()
        checks = check_outputs(fx_dir, raw)
        return report(args, raw, checks, order,
                      {"harness_s": t1 - t0, "check_s": time.time() - t1})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
