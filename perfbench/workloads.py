"""The four workloads: set-up, warm-up with output check, timed region.

Each ``run_*`` takes a prepared ``Ctx`` (session already set up) and
returns a ``Result``: the timed operations, their failures, and the raw
figures the per-layer fold needs. A traced batch run ends with two
tails, a short serving stream and one pipeline DAG run, so that the
serving and write-path layers are measured on the batch workloads too.
Nothing here edits engine code; spans wrap engine functions from
outside (see ``spans.Tracer.patch``).
"""

from __future__ import annotations

import dataclasses
import http.client
import json
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from spans import RssSampler, Tracer, current_op, pct, reset_op, set_op

pc = time.perf_counter

# Headline queries split by the operators their builders call. `corpus`
# queries call operators.{text,dedup,similarity,bpe,curation,sketches}
# and run Arrow/pandas workers; `warehouse` queries stay in the JVM.
CORPUS = (
    "dedup_minhash_lsh", "ann_cosine_topk", "dedup_embedding_cosine",
    "corpus_clean", "token_heavy_hitters", "text_redact_pii",
    "chunk_documents", "vocab_bigrams", "quality_bigram_lm",
    "dedup_rare_shingle_pairs", "bm25_topk", "hybrid_search_rrf",
    "dedup_substring_spans", "vocab_bpe_segment", "dedup_embedding_topk",
    "ann_knn_join",
)


# Fewest timed passes per run. Pass-to-pass noise in one run is about
# ±8% on corpus (Python workers), as large as the noise between runs, so
# corpus times two passes; warehouse is steady enough with one.
MIN_PASSES = {"warehouse": 1, "corpus": 2}


def batch_queries(workload: str) -> list[str]:
    from bench import HEADLINE

    if workload == "corpus":
        return [q for q in HEADLINE if q in CORPUS]
    return [q for q in HEADLINE if q not in CORPUS]


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    sf_dir: str
    run_dir: str
    tracer: Tracer
    spark: object = None

    def group(self, name: str) -> None:
        """Tag this thread's next Spark jobs with ``name`` (traced only)."""
        if self.trace and self.tracer.active:
            self.spark.sparkContext.setJobGroup(name, name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


@dataclass
class Result:
    latencies: list = field(default_factory=list)   # one per timed op, s
    attempted: int = 0
    failed: int = 0
    problems: dict = field(default_factory=dict)     # op → mismatch text
    timed_s: float = 0.0                              # wall of the timed region
    rounds: int = 1                                   # passes / streams / DAG runs
    peak_rss_mb: float = 0.0
    warm_s: float = 0.0
    extra: dict = field(default_factory=dict)         # workload-specific report
    tails: dict = field(default_factory=dict)         # name → (Tracer, Result)


# -- set-up ------------------------------------------------------------------

def setup(ctx: Ctx, reps: int = 3) -> dict:
    """Set the engine up ``reps`` times: start the session, resolve every
    fixture table (``load_table``'s relation cache) and, for warehouse,
    build the order-bucketed layout that ``join_3way_bucketed`` and the
    order-grained joins auto-routed onto it read.

    The first start launches the JVM; later ones restart the
    SparkContext in it after wiping the warehouse dir, so every layout
    build is a fresh build. Reports medians, plus the JVM launch."""
    from healthcare_data_warehouse_spark.config import TABLES
    from healthcare_data_warehouse_spark.session import get_spark, tune_session
    from healthcare_data_warehouse_spark.sources.bucketing import (
        ensure_order_bucketed_layout)
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    parts: dict[str, list] = {"session": [], "tables": [], "layout": []}
    for _ in range(reps):
        if ctx.spark is not None:
            ctx.spark.stop()
            shutil.rmtree(ctx.path("warehouse"), ignore_errors=True)
        t0 = pc()
        spark = tune_session(get_spark("perfbench"))
        t1 = pc()
        for t in TABLES:
            load_table(spark, ctx.sf_dir, t)
        t2 = pc()
        if ctx.workload == "warehouse":  # the only queries that read it
            ensure_order_bucketed_layout(spark, ctx.sf_dir)
        parts["session"].append(t1 - t0)
        parts["tables"].append(t2 - t1)
        parts["layout"].append(pc() - t2)
        ctx.spark = spark
    total = [sum(x) for x in zip(*parts.values())]
    out = {f"setup.{k}_s": statistics.median(v) for k, v in parts.items()}
    out.update({"setup_s": statistics.median(total), "jvm_launch_s": parts["session"][0],
                "setup_runs_s": total})
    return out


def blocks(spark) -> tuple[int, float]:
    """(persistent RDDs, MB they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
    return jsc.getPersistentRDDs().size(), mb


def release(spark) -> tuple[int, float]:
    """Evict every persisted/checkpointed block; return what was found."""
    found = blocks(spark)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return found


def plan(df) -> None:
    """Force Catalyst (analysis, optimization, physical planning)."""
    df._jdf.queryExecution().executedPlan()


# -- batch: warehouse and corpus ---------------------------------------------

def run_batch(ctx: Ctx) -> Result:
    import __spark_entry__ as entry
    from healthcare_data_warehouse_spark import decisions
    from tools import oracle_check

    names = batch_queries(ctx.workload)
    qs = entry.queries()
    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    if ctx.trace:
        _patch_loaders(tr)

    # Warm-up doubles as the output check: every query runs once through
    # tools/oracle_check (hash, tolerance, recall, containment or band
    # mode against DuckDB over the same files), outside the timed region.
    # check_query converts the Spark result to a frame before it touches
    # DuckDB, so the first arrow_to_frame call of a check ends the
    # query's Spark part; warm_s sums those parts.
    spark_done: list = []
    to_frame = oracle_check.arrow_to_frame

    def first_frame(table):
        spark_done.append(pc())
        return to_frame(table)

    oracle_check.arrow_to_frame = first_frame
    try:
        for q in names:
            spark_done.clear()
            t = pc()
            try:
                probs = oracle_check.check_query(spark, q, ctx.sf_dir)
            except Exception as exc:  # noqa: BLE001 — a crash is a failed check
                probs = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            res.warm_s += (spark_done[0] if spark_done else pc()) - t
            if probs:
                res.problems[q] = probs
            release(spark)
    finally:
        oracle_check.arrow_to_frame = to_frame
    decisions.drain()

    # Timed passes over every query, in an order drawn from the seed,
    # until --seconds have passed and MIN_PASSES are done.
    rng = random.Random(ctx.seed)
    per_q: dict[str, list] = {q: [] for q in names}  # (build, plan, exec) s
    leaked, storage, pass_walls = [], [], []
    regimes: dict = {}
    sampler = RssSampler().start()
    t_start, p = pc(), 0
    tr.active = ctx.trace
    while True:
        order = list(names)
        rng.shuffle(order)
        n_leak, mb_leak, t_pass = 0, 0.0, pc()
        for q in order:
            op = f"t{p}|{q}"
            tok = set_op(op)
            try:
                ctx.group(op + "|build")
                t0 = pc()
                with tr.span("catalog.build"):
                    df = qs[q](spark, ctx.sf_dir)
                t1 = pc()
                if ctx.trace:
                    with tr.span("catalyst.plan"):
                        plan(df)
                    ctx.group(op + "|exec")
                t2 = pc()
                with tr.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                t3 = pc()
                res.latencies.append(t3 - t0)
                per_q[q].append((t1 - t0, t2 - t1, t3 - t2))
            except Exception as exc:  # noqa: BLE001 — count, keep measuring
                res.failed += 1
                res.problems[op] = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            finally:
                reset_op(tok)
            res.attempted += 1
            for k, v in decisions.drain().items():
                regimes.setdefault(q if k == "<anonymous>" else k, {}).update(v)
            tr.active = False
            n, mb = release(spark)
            tr.active = ctx.trace
            n_leak += n
            mb_leak += mb
        pass_walls.append(pc() - t_pass)
        leaked.append(n_leak)
        storage.append(mb_leak)
        p += 1
        if p >= MIN_PASSES[ctx.workload] and pc() - t_start >= ctx.seconds:
            break
    tr.active = False
    res.peak_rss_mb = sampler.stop()
    res.rounds = p
    # a query whose output check failed fails every timed execution of it
    res.failed += sum(len(per_q[q]) for q in names if q in res.problems)
    res.timed_s = sum(pass_walls)
    ok = len(res.latencies) - res.failed
    res.extra = {"goodput_ops": max(ok, 0) / sum(res.latencies) if res.latencies else 0.0,
                 "queries": names, "pass_walls_s": pass_walls,
                 "per_query": per_q, "regimes": regimes,
                 "blocks.leaked_rdds": leaked, "blocks.storage_mb_end": storage}
    tr.unpatch()
    if ctx.trace:
        run_tails(ctx, res)
    return res


# Tails of a traced batch run: a serving stream of TAIL_STREAM_S at
# TAIL_RATE (after a warm-up of TAIL_WARM_S), then one pipeline DAG run.
# At RATE the stream would hold about ten requests, too few for the
# dashboard routes to repeat and hit the cache on most seeds; the tail
# reports per-request layer times, not latency, so it may queue.
TAIL_STREAM_S = 10.0
TAIL_RATE = 2.0
TAIL_WARM_S = 3.0


def run_tails(ctx: Ctx, res: Result) -> None:
    """Run the serving and pipeline tails, each under its own tracer so
    the batch pass's layers stay apart; their operations and failures
    count toward the run's."""
    # The main thread still carries the last query's job group.
    ctx.spark.sparkContext.setJobGroup("untimed", "untimed")
    for name, runner, seconds, kw in (
            ("serving", run_serving, TAIL_STREAM_S,
             {"warm_s": TAIL_WARM_S, "rate": TAIL_RATE}),
            ("pipeline", run_pipeline, 0.0, {"warm": False})):
        tctx = dataclasses.replace(ctx, workload=name, seconds=seconds,
                                   tracer=Tracer(True))
        try:
            tail = runner(tctx, **kw)
        except Exception as exc:  # noqa: BLE001 — a crashed tail is one failed op
            tail = Result(attempted=1, failed=1)
            tail.problems["crash"] = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        res.tails[name] = (tctx.tracer, tail)
        res.attempted += tail.attempted
        res.failed += tail.failed
        res.problems.update({f"{name}:{k}": v for k, v in tail.problems.items()})


# -- serving -----------------------------------------------------------------

# Request mix: (kind, weight). Dashboard routes repeat, so after their
# first miss they are answered from the API's result cache.
MIX = (("point", 0.35), ("history", 0.25), ("topk", 0.1), ("range", 0.1),
       ("dash", 0.2))
DASH = (("/analytics/kpis", "kpi_block", {}),
        ("/analytics/age-groups", "agg_by_agegroup", {}),
        ("/analytics/providers", "provider_utilization", {}),
        ("/analytics/diagnoses?limit=5", "topk_diagnoses", {"k": 5}))
# Open-loop arrival rate, requests/s: about two thirds of what one
# connection sustains on this mix (closed loop: 1.5-1.9 req/s at the
# fixture scale on 4 cores, falling as the audit log grows).
RATE = 1.0
# Connections in flight. With more than one, concurrent audit-log
# appends collide inside the engine and requests fail (DESIGN.md,
# "Known defect").
CONNS = 1
LATENCY_LIMIT_S = 2.0


def request_stream(seed: int, seconds: float, n_cust: int,
                   rate: float = RATE) -> list[tuple]:
    """Seeded Poisson schedule: (due time, path, query, params)."""
    rng = random.Random(seed)
    kinds, weights = zip(*MIX)
    out, t = [], 0.0
    while True:
        t += rng.expovariate(rate)
        if t >= seconds:
            return out
        kind = rng.choices(kinds, weights)[0]
        if kind == "point":
            k = rng.randrange(n_cust)
            out.append((t, f"/query/point_lookup?patient_key={k}",
                        "point_lookup", {"patient_key": k}))
        elif kind == "history":
            k = rng.randrange(n_cust)
            out.append((t, f"/patients/{k}/visits", "patient_history",
                        {"patient_key": k}))
        elif kind == "topk":
            thr = rng.choice((100000.0, 250000.0, 400000.0, 450000.0))
            k = rng.choice((5, 10, 20))
            out.append((t, f"/query/topk_highcost?cost_threshold={thr}&k={k}",
                        "topk_highcost", {"cost_threshold": thr, "k": k}))
        elif kind == "range":
            d0 = 9131 + rng.randrange(2300)  # 1995-01-01 + up to ~6.3 years
            a = time.strftime("%Y-%m-%d", time.gmtime(d0 * 86400))
            b = time.strftime("%Y-%m-%d", time.gmtime((d0 + 30) * 86400))
            out.append((t, f"/query/filter_date_range?date_from={a}&date_to={b}",
                        "filter_date_range", {"date_from": a, "date_to": b}))
        else:
            out.append((t, *rng.choice(DASH)))


def _canon(rows) -> list[str]:
    from healthcare_data_warehouse_spark.plans.http_api import _json_default

    return sorted(json.dumps(r, default=_json_default, sort_keys=True) for r in rows)


def run_serving(ctx: Ctx, warm_s: float = 6.0, rate: float = RATE) -> Result:
    import duckdb

    from healthcare_data_warehouse_spark.plans import catalog, http_api, serving

    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    _patch_serving(ctx, catalog, http_api, serving)
    svc = serving.QueryService(spark, ctx.sf_dir)
    api = http_api.ApiServer(svc)
    port = api.serve()
    try:
        token = _token(port)
        con = duckdb.connect()
        n_cust = con.execute(
            f"SELECT count(*) FROM read_parquet('{os.path.join(ctx.sf_dir, 'customer.parquet')}')"
        ).fetchone()[0]
        con.close()

        # Warm-up: every route kind once, then an empty cache.
        t = pc()
        for _, path, *_ in request_stream(ctx.seed + 1, warm_s, n_cust, rate=2.0):
            _get(port, token, path, -1)
        _post(port, token, "/cache/clear")
        res.warm_s = pc() - t

        reqs = request_stream(ctx.seed, ctx.seconds, n_cust, rate)
        hits0, miss0 = api.cache.hits, api.cache.misses
        tr.active = ctx.trace
        sampler = RssSampler().start()
        out, late, res.timed_s = _open_loop(port, token, reqs)
        res.peak_rss_mb = sampler.stop()
        tr.active = False
        hits, misses = api.cache.hits - hits0, api.cache.misses - miss0
        n_rdds, mb = blocks(spark)

        # Output check: each distinct request against the same query run
        # directly (no service, no cache), outside the timed region.
        direct: dict[str, list[str]] = {}
        good = 0
        for i, ((_, path, name, params), (status, body, lat)) in enumerate(zip(reqs, out)):
            res.attempted += 1
            res.latencies.append(lat)
            key = json.dumps([name, sorted(params.items())])
            if key not in direct:
                df = catalog.queries()[name](spark, ctx.sf_dir, **params)
                direct[key] = _canon(r.asDict(recursive=True)
                                     for r in df.limit(api.max_rows).collect())
            want = direct[key]
            ok = (status == 200 and _canon(body) == want) or (
                status == 404 and name == "patient_history" and not want)
            if ok:
                good += lat <= LATENCY_LIMIT_S
            else:
                res.failed += 1
                res.problems[f"req{i} {path}"] = [f"status {status}"]
        res.extra = {
            "requests": len(reqs), "rate_rps": rate, "connections": CONNS,
            "latency_limit_s": LATENCY_LIMIT_S,
            "goodput_ops": good / res.timed_s if res.timed_s else 0.0,
            "gen.late_s": pct(late, 99) if late else 0.0,
            "cache_hits": hits, "cache_lookups": hits + misses,
            "blocks.leaked_rdds": [n_rdds], "blocks.storage_mb_end": [mb],
            "audit.files_end": _audit_files(),
            "distinct_checked": len(direct),
        }
    finally:
        api.shutdown()
        tr.unpatch()
    return res


def _patch_serving(ctx, catalog, http_api, serving) -> None:
    """Spans and job groups around the serving path, from outside:
    handler → run_cached → QueryService.run → builder / log_audit, then
    the explicit plan and the collect."""
    tr = ctx.tracer
    if not ctx.trace:
        return
    from healthcare_data_warehouse_spark.sources import audit

    orig_queries = catalog.queries

    def queries():
        def wrap(fn):
            def build(*a, **k):
                ctx.group(f"{current_op()}|build")
                with tr.span("catalog.build"):
                    return fn(*a, **k)
            return build
        return {n: wrap(f) for n, f in orig_queries().items()}

    tr.replace(catalog, "queries", queries)

    orig_log = audit.log_audit

    def log_audit(*a, **k):
        ctx.group(f"{current_op()}|audit")
        with tr.span("audit.log_audit"):
            return orig_log(*a, **k)

    for mod in (audit, serving):
        tr.replace(mod, "log_audit", log_audit)

    orig_run = serving.QueryService.run

    def run(self, name, limit=None, **params):
        with tr.span("serving.run"):
            df = orig_run(self, name, limit=limit, **params)
        with tr.span("catalyst.plan"):
            plan(df)
        ctx.group(f"{current_op()}|exec")
        return df

    tr.replace(serving.QueryService, "run", run)
    tr.patch(http_api.ApiServer, "run_cached", "http.run_cached")

    orig_get = http_api._Handler.do_GET

    def do_get(self):
        tok = set_op(f"r{self.headers.get('X-Bench-Op', '?')}")
        try:
            with tr.span("http.handle"):
                return orig_get(self)
        finally:
            reset_op(tok)

    tr.replace(http_api._Handler, "do_GET", do_get)
    _patch_loaders(tr)


def _patch_loaders(tr: Tracer) -> None:
    from healthcare_data_warehouse_spark.sources import loaders

    tr.patch_everywhere(loaders, "load_table", "loaders.load_table")


def _audit_files() -> int:
    from healthcare_data_warehouse_spark.sources.audit import audit_log_path

    path = audit_log_path()
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def _open_loop(port: int, token: str, reqs: list) -> tuple[list, list, float]:
    """Send each request at its scheduled time from a pool of ``CONNS``
    connections; latency counts from the scheduled send time, so a
    request that waits for a free connection is charged the wait.
    Returns (status, body, latency) per request, the generator's lateness
    per send, and the wall time from the first due time to the last reply."""
    out: list = [None] * len(reqs)
    late: list = []
    t0 = pc() + 0.05

    def one(i: int, path: str, due: float) -> None:
        status, body = _get(port, token, path, i)
        out[i] = (status, body, pc() - due)

    with ThreadPoolExecutor(max_workers=CONNS) as pool:
        for i, (t, path, *_) in enumerate(reqs):
            due = t0 + t
            wait = due - pc()
            if wait > 0:
                time.sleep(wait)
            late.append(max(pc() - due, 0.0))
            pool.submit(one, i, path, due)
    return out, late, pc() - t0


def _get(port: int, token: str, path: str, op: int) -> tuple[int, object]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path, headers={"Authorization": f"Bearer {token}",
                                           "X-Bench-Op": str(op)})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def _post(port: int, token: str | None, path: str, body: dict | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        conn.request("POST", path, body=json.dumps(body or {}), headers=headers)
        resp = conn.getresponse()
        return json.loads(resp.read() or b"null")
    finally:
        conn.close()


def _token(port: int) -> str:
    return _post(port, None, "/auth/token",
                 {"username": "admin", "password": "admin"})["access_token"]


# -- pipeline ----------------------------------------------------------------

def run_pipeline(ctx: Ctx, warm: bool = True) -> Result:
    """Whole DAG runs for ``ctx.seconds`` (at least one), after one warm
    run unless ``warm`` is false."""
    import duckdb

    from healthcare_data_warehouse_spark import runner
    from healthcare_data_warehouse_spark.sources.audit import read_audit_log

    tr = ctx.tracer
    res = Result()
    _patch_pipeline(ctx, runner)

    def expected() -> dict:
        con = duckdb.connect()

        def one(sql):
            return con.execute(sql).fetchone()[0]

        d = ctx.sf_dir
        out = {
            "dim_customer_rows": one(f"SELECT count(*) FROM read_parquet('{d}/customer.parquet')"),
            "dim_supplier_rows": one(f"SELECT count(*) FROM read_parquet('{d}/supplier.parquet')"),
            "fact_rows": one(f"SELECT count(*) FROM read_parquet('{d}/orders.parquet')"),
            "years": [r[0] for r in con.execute(
                f"SELECT DISTINCT year(o_orderdate) y FROM read_parquet('{d}/orders.parquet') ORDER BY y"
            ).fetchall()],
        }
        con.close()
        return out

    want = expected()
    events0 = read_audit_log(ctx.spark).count()  # other writers' events
    runs = 0

    def check(summary: dict) -> list[str]:
        st = summary["stages"]
        got = {
            "dim_customer_rows": st["dims"]["dim_customer_rows"],
            "dim_supplier_rows": st["dims"]["dim_supplier_rows"],
            "fact_rows": st["fact"]["rows"],
            "years": [int(y) for y in st["fact"]["partitions"]],
        }
        probs = [f"{k}: got {got[k]} want {want[k]}" for k in want if got[k] != want[k]]
        if st["audit_log"]["events"] != events0 + 3 * runs:
            probs.append(f"audit events {st['audit_log']['events']} != {events0 + 3 * runs}")
        if st["ml"]["predictions"] != want["fact_rows"]:
            probs.append(f"predictions {st['ml']['predictions']} != {want['fact_rows']}")
        return probs

    # Warm run: untimed, checked, and the reference for the rest.
    ref = None
    if warm:
        t = pc()
        runs += 1
        ref = runner.run_pipeline(ctx.spark, ctx.sf_dir, ctx.path("out", "warm"))
        res.warm_s = pc() - t
        probs = check(ref)
        if probs:
            res.problems["warm"] = probs
    stable = ("privacy_audit", "ml") if ref else ()

    sampler = RssSampler().start()
    t_start, i = pc(), 0
    while True:
        tr.active = ctx.trace
        op = f"p{i}"
        tok = set_op(op)
        ctx.group(op + "|exec")
        out = ctx.path("out", op)
        t0 = pc()
        try:
            summary = runner.run_pipeline(ctx.spark, ctx.sf_dir, out)
            res.latencies.append(pc() - t0)
            runs += 1
            probs = check(summary)
            probs += [f"{k} differs from the warm run" for k in stable
                      if json.dumps(summary["stages"][k], sort_keys=True, default=str)
                      != json.dumps(ref["stages"][k], sort_keys=True, default=str)]
            if probs:
                res.failed += 1
                res.problems[op] = probs
        except Exception as exc:  # noqa: BLE001
            res.failed += 1
            res.problems[op] = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        finally:
            reset_op(tok)
        tr.active = False
        shutil.rmtree(out, ignore_errors=True)
        res.attempted += 1
        i += 1
        if pc() - t_start >= ctx.seconds:
            break
    res.timed_s = pc() - t_start
    res.peak_rss_mb = sampler.stop()
    res.rounds = i
    n_rdds, mb = blocks(ctx.spark)
    res.extra = {"goodput_ops": (i - res.failed) / res.timed_s,
                 "blocks.leaked_rdds": [n_rdds], "blocks.storage_mb_end": [mb],
                 "audit.files_end": _audit_files()}
    tr.unpatch()
    return res


def _patch_pipeline(ctx: Ctx, runner) -> None:
    """Spans on the names run_pipeline looks up: its module globals and
    the modules it imports from at call time."""
    tr = ctx.tracer
    if not ctx.trace:
        return
    from healthcare_data_warehouse_spark.ml import pipeline as ml
    from healthcare_data_warehouse_spark.sources import audit, sinks

    for attr, name in (("dim_customer", "star.dims"), ("dim_supplier", "star.dims"),
                       ("fact_orders", "star.fact_build"),
                       ("write_fact_partitioned", "star.fact_write"),
                       ("privacy_audit_report", "privacy.audit"),
                       ("read_audit_log", "audit.read_audit_log")):
        tr.patch(runner, attr, name)
    tr.patch_everywhere(audit, "log_audit", "audit.log_audit")
    tr.patch(ml, "predict_readmission", "ml.predict")
    tr.patch(ml, "anomaly_scores", "ml.anomaly")
    tr.patch(sinks, "upsert_to_path", "sinks.upsert")
    _patch_loaders(tr)


RUNNERS = {"warehouse": run_batch, "corpus": run_batch,
           "serving": run_serving, "pipeline": run_pipeline}
