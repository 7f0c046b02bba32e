"""The repo benchmark: one command, four workloads, end-to-end and
per-layer metrics, outputs checked on every run.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run it from the repo root. Each run reads the fixture in perfbench/data/
(the engine's sf0.01 test tables), sets the engine up, warms and checks
it, then measures for ``--seconds``; the seed draws the query order and
the request parameters. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``, the end-to-end
metrics of BENCHMARK.json with ``--trace 0`` or its per-layer metrics
with ``--trace 1``. The line before it is the full report: provenance,
per-query figures and every layer this workload touches. DESIGN.md says
what each workload and metric is for.

A run keeps everything it writes (warehouse dir, audit log,
pipeline output, Spark scratch, event log) in its own directory under
perfbench/runs/, removed at exit; traced runs also leave their spans and
report in perfbench/out/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORKLOADS = ("warehouse", "corpus", "serving", "pipeline")
# Fixture scale: lineitem has 6M x SF rows, 60k here.
SF = 0.01


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def isolate(run_dir: str, trace: bool) -> None:
    """Point every place the engine or Spark writes at this run's dir.
    Must run before pyspark or the engine is imported."""
    for d in ("scratch", "warehouse", "out", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")  # engine index caches
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    tmp = os.path.join(run_dir, "tmp")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    # JVM temp files too; no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def fixture_md5() -> tuple[dict, list[str]]:
    """md5 of every fixture file, and the files that differ from
    data/MD5SUMS (the sums of the engine's sf0.01 test tables)."""
    with open(os.path.join(DATA, "MD5SUMS")) as fh:
        want = dict(reversed(line.split()) for line in fh if line.strip())
    got = {}
    for name in sorted(want):
        with open(os.path.join(DATA, name), "rb") as fh:
            got[name] = hashlib.md5(fh.read()).hexdigest()
    return got, [f"{n}: md5 {got[n]} != {want[n]}" for n in want if got[n] != want[n]]


def provenance(args, md5: dict) -> dict:
    sha, dirty = "unknown", None
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or "unknown"
        if sha != "unknown":
            dirty = bool(subprocess.run(
                ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no",
                 "--", "healthcare_data_warehouse_spark", "__spark_entry__.py",
                 "bench.py", "tools"],
                capture_output=True, text=True, timeout=10).stdout.strip())
    except (OSError, subprocess.SubprocessError):
        pass
    tree = hashlib.md5()
    for base, _dirs, files in sorted(os.walk(os.path.join(ROOT, "healthcare_data_warehouse_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    tree.update(f.encode() + fh.read())
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "engine_git_sha": sha, "engine_dirty": dirty,
        "engine_tree_md5": tree.hexdigest(), "fixture_md5": md5,
        "python": platform.python_version(), "host": platform.machine(),
    }


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit;
    Python workers are the JVM's children and exit with it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(res, setup: dict) -> dict:
    """Per run. A batch pass times a fixed set of distinct queries whose
    times cluster in two groups, so its median jumps between them with
    noise; the geometric mean weighs every query alike and does not."""
    from spans import pct

    lat = res.latencies
    return {
        "setup_s": setup["setup_s"],
        "op_geomean_s": statistics.geometric_mean(lat) if lat else 0.0,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_p90_s": pct(lat, 90) if lat else 0.0,
        "op_samples": len(lat),
        "goodput_ops": res.extra["goodput_ops"],
        "peak_rss_mb": res.peak_rss_mb,
    }


# First letter of each workload's operation ids, and so of its Spark job
# groups: batch passes "t<pass>|<query>", requests "r<n>", DAG runs "p<n>".
OP_PREFIX = {"warehouse": "t", "corpus": "t", "serving": "r", "pipeline": "p"}
PIPELINE_LAYERS = ("star.dims", "star.fact_write", "sinks.upsert", "privacy.audit",
                   "ml.predict", "ml.anomaly")


def serving_layers(spans: dict, res) -> dict:
    """Serving layers, per request, from one stream's spans."""
    n = max(len(res.latencies), 1)

    def per(name, key="total"):
        return spans.get(name, {}).get(key, 0.0) / n

    x = res.extra
    return {"serving.run_s": per("serving.run"),
            "audit.log_audit_s": per("audit.log_audit"),
            "audit.files_end": x.get("audit.files_end", 0),
            "http.collect_s": per("http.run_cached", "self"),
            "http.overhead_s": per("http.handle", "self"),
            "http.cache_hit_ratio": (x["cache_hits"] / x["cache_lookups"]
                                     if x.get("cache_lookups") else 0.0),
            "gen.late_s": x.get("gen.late_s", 0.0)}


def pipeline_layers(spans: dict, res) -> dict:
    """Write-path layers, per DAG run."""
    return {f"{name}_s": spans.get(name, {}).get("total", 0.0) / max(res.rounds, 1)
            for name in PIPELINE_LAYERS}


def per_layer(ctx, res, setup: dict, fold: dict) -> tuple[dict, dict]:
    """Per-layer figures per round (pass / stream / DAG run); serving
    layers per request. A batch run takes its serving and pipeline
    layers from its tails. Returns (metrics, extras): extras are every
    span's total and self time and the span counts."""
    r = res.rounds
    spans = ctx.tracer.totals()
    prefix = OP_PREFIX[ctx.workload]

    def tot(name, key="total"):
        return spans.get(name, {}).get(key, 0.0) / r

    groups = {n: g for n, g in fold["groups"].items() if n.startswith(prefix)}

    def gsum(suffix, key):
        return sum(g[key] for name, g in groups.items() if name.endswith(suffix)) / r

    if ctx.workload == "serving":
        exec_s = tot("http.run_cached", "self")
    elif ctx.workload == "pipeline":
        exec_s = gsum("|exec", "sql_s")
    else:
        exec_s = tot("exec")
    leaked = res.extra.get("blocks.leaked_rdds") or [0]
    storage = res.extra.get("blocks.storage_mb_end") or [0.0]
    m = {
        "setup.session_s": setup["setup.session_s"],
        "setup.tables_s": setup["setup.tables_s"],
        "setup.layout_s": setup["setup.layout_s"],
        "setup.warm_s": res.warm_s,
        "peak_rss_mb": res.peak_rss_mb,
        "catalog.build_s": tot("catalog.build"),
        "catalog.eager_jobs": gsum("|build", "jobs"),
        "catalyst.plan_s": tot("catalyst.plan"),
        "exec.s": exec_s,
        "loaders.load_table_calls": spans.get("loaders.load_table", {}).get("count", 0) / r,
        "loaders.load_table_s": tot("loaders.load_table"),
        "blocks.leaked_rdds": statistics.mean(leaked),
        "blocks.storage_mb_end": statistics.mean(storage),
    }
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"exec.{key}"] = gsum("|exec", key)
    m["exec.peak_exec_mem_mb"] = max(
        [g["peak_exec_mem_mb"] for n, g in groups.items() if n.endswith("|exec")] or [0.0])
    if "audit.files_end" in res.extra:  # serving and pipeline
        m["audit.files_end"] = res.extra["audit.files_end"]
    tails = dict(res.tails)
    if ctx.workload in ("serving", "pipeline"):
        tails[ctx.workload] = (ctx.tracer, res)
    if "serving" in tails:
        m.update(serving_layers(tails["serving"][0].totals(), tails["serving"][1]))
    if "pipeline" in tails:
        m.update(pipeline_layers(tails["pipeline"][0].totals(), tails["pipeline"][1]))
    extras = {f"{name}.{k}_s": v[k] / r for name, v in spans.items()
              for k in ("total", "self")}
    extras["span_counts"] = {name: v["count"] / r for name, v in spans.items()}
    extras["audit.jobs"] = gsum("|audit", "jobs")
    for name, (tracer, tail) in res.tails.items():
        extras[f"tail.{name}"] = {
            "attempted": tail.attempted, "failed": tail.failed, "timed_s": tail.timed_s,
            "op_p50_s": statistics.median(tail.latencies) if tail.latencies else None,
            "spans": tracer.totals()}
    return m, extras


def batch_report(res, fold: dict | None) -> dict:
    """Per-query median wall and, traced (``fold`` given), its build /
    plan / exec split and its exec jobs, stages and tasks per pass."""
    out = {}
    for q, runs in res.extra["per_query"].items():
        if not runs:
            continue
        b, p, e = (statistics.median(x[i] for x in runs) for i in range(3))
        out[f"q.{q}"] = ({"s": b + p + e, "build_s": b, "plan_s": p, "exec_s": e}
                         if fold else {"s": statistics.median(sum(x) for x in runs)})
        if fold:
            groups = [g for n, g in fold["groups"].items()
                      if n.startswith("t") and n.endswith(f"|{q}|exec")]
            out[f"q.{q}"].update({k: sum(g[k] for g in groups) / res.rounds
                                  for k in ("jobs", "stages", "tasks")})
    return {"queries": out, "pass_walls_s": res.extra["pass_walls_s"],
            "regimes": res.extra["regimes"]}


def measure(args, spec: dict, run_dir: str):
    """Set-up, workload, fold. Returns (report, result, metric values)."""
    import spans
    import workloads

    md5, bad = fixture_md5()
    ctx = workloads.Ctx(args.workload, args.seed, args.seconds, bool(args.trace),
                        DATA, run_dir, spans.Tracer(bool(args.trace)))
    try:
        setup = workloads.setup(ctx)
        res = workloads.RUNNERS[args.workload](ctx)
    finally:
        stop_jvm(ctx.spark)
    if bad:
        res.problems["fixture"] = bad
    fold = spans.fold_event_log(spans.read_event_log(ctx.path("eventlog"))) \
        if args.trace else {"groups": {}}
    e2e = end_to_end(res, setup)
    report = {"provenance": provenance(args, md5),
              "setup": setup, "warm_s": res.warm_s, "timed_s": res.timed_s,
              "end_to_end": e2e, "rounds": res.rounds,
              "attempted": res.attempted, "failed": res.failed,
              "failed_ratio": res.failed / max(res.attempted, 1),
              "problems": res.problems}
    if args.workload in ("warehouse", "corpus"):
        report.update(batch_report(res, fold if args.trace else None))
    report["workload_extra"] = {k: v for k, v in res.extra.items()
                                if k not in ("per_query", "pass_walls_s", "regimes")}
    if args.trace:
        layers, extras = per_layer(ctx, res, setup, fold)
        report["per_layer"] = layers
        report["layers"] = extras
        report["trace.span_cost_s"] = spans.span_cost_s()
        report["trace.spans"] = len(ctx.tracer.spans)
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}")
        ctx.tracer.dump(stem + "-spans.jsonl", ctx.tracer.spans[0].start if ctx.tracer.spans else 0.0)
        with open(stem + "-report.json", "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        return report, res, layers
    return report, res, e2e


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "healthcare_data_warehouse_spark")):
        print("perfbench: engine package not found next to perfbench/; run from the repo root",
              file=sys.stderr)
        return 2
    spec = load_spec()
    run_dir = os.path.join(HERE, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]

    try:
        report, res, values = measure(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    # A traced batch run has every per-layer metric; a traced serving or
    # pipeline run (not registered) has only the layers it touches.
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in names if m["name"] in values}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": res.failed == 0 and not res.problems,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Each workload in its own process (fresh JVM); the last line merges."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        res = json.loads(lines[-1])
        print(json.dumps({"workload": w, **res}))
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
