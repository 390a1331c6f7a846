"""The benchmark workloads.

Each workload function takes a ``Ctx`` and returns an ``Outcome``: the
set-up time, the latency of every fine-grained operation and of every
heavy step, how many operations were attempted and how many failed
(raised, or failed their check), the workload's own named figures, and,
in a traced run, its per-layer metrics.

Load model: one client in the driver process, closed loop: the next
operation starts when the previous one has finished. A round is the
loop's unit of work (a day, a pass over the query set, a lifecycle
cycle). Rounds repeat until ``ctx.seconds`` have passed
and at least ``min_rounds`` are done; the minimum is set so that, on
4 cores, it alone fills the window, which keeps the number of samples
per run fixed and the figures comparable across seeds.

Every workload fills the same two latency series, so that the
end-to-end metrics have one meaning per workload:

=================  ========================  ==========================
workload           ``ops`` (op_*)            ``steps`` (step_s)
=================  ========================  ==========================
warehouse_daily    one dashboard view drain  one ``run_day``
query_mix          one query                 one pass over the query set
corpus_index_day   one ``run_index_day``     one ``curate_corpus``
=================  ========================  ==========================
"""

from __future__ import annotations

import gc
import importlib
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import date

import tracing

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3  # input preparation is repeated; set-up reports its median


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory inside the checkout
    session_s: float  # SparkSession start-up, counted in set-up time
    tracer: tracing.Tracer | None = None
    log: dict | None = None  # parsed event log, filled after the session stops

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


@dataclass
class Outcome:
    setup_s: float
    ops: list[float] = field(default_factory=list)
    steps: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    figures: dict = field(default_factory=dict)  # name -> (value, unit, n)
    layers: object = None  # callable(ctx) -> {metric: value}, traced runs


def _median_setup(prepare) -> tuple[float, object]:
    """Run ``prepare`` SETUP_REPS times; (median seconds, last result)."""
    times, result = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        result = prepare()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), result


def _keep_going(ctx: Ctx, t_start: float, rounds: int, min_rounds: int) -> bool:
    return rounds < min_rounds or time.perf_counter() - t_start < ctx.seconds


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# warehouse_daily: the paper's write path
# ---------------------------------------------------------------------------

POSTINGS_PER_DAY = 2000
# the bootstrap day is Jan 31, the first measured day Feb 1: every run
# crosses a month boundary, so two load_month fact partitions exist
FIRST_DAY = date(2026, 1, 31)
WD_MIN_DAYS = 2
WD_MAX_DAYS = 8


def _prepare_days(seed: int, n_days: int, dest: str):
    import topcv_gen

    shutil.rmtree(dest, ignore_errors=True)
    days = topcv_gen.generate_days(seed, n_days, POSTINGS_PER_DAY, FIRST_DAY)
    for d in days:
        topcv_gen.write_batch(d, f"{dest}/{d.as_of.isoformat()}/part-0.parquet")
    return days


def _warehouse(ctx: Ctx):
    from jobinsight_data_pipeline_v2_spark.quality.monitoring import MetricsStore
    from jobinsight_data_pipeline_v2_spark.storage import WarehouseStorage

    root = f"{ctx.work}/warehouse"
    return root, WarehouseStorage(ctx.spark, root), MetricsStore(ctx.spark, root)


def _run_checked_day(ctx: Ctx, storage, metrics, raw_dir: str, day) -> tuple[float, bool]:
    """One ``run_day`` on a generated batch; (seconds, outputs correct).
    The check runs after the clock stops."""
    from jobinsight_data_pipeline_v2_spark.pipelines import run_day
    from jobinsight_data_pipeline_v2_spark.schemas import RAW_JOBS

    raw = ctx.spark.read.schema(RAW_JOBS).parquet(f"{raw_dir}/{day.as_of.isoformat()}")
    with ctx.span("day"):
        t0 = time.perf_counter()
        w, report = run_day(
            ctx.spark, storage, raw, day.as_of, day.crawled_at, metrics=metrics
        )
        dt = time.perf_counter() - t0
    exp = day.expected
    dims = dict(w.dim_job.groupBy("is_current").count().collect())
    ok = (
        report.crawl_gate.status == "success"
        and report.staging_gate.status == "success"
        and report.staging_rows == exp["staging_rows"]
        and report.fact_rows_today == exp["fact_rows"]
        and dims.get(True, 0) == exp["dim_job_current"]
        and dims.get(False, 0) == exp["dim_job_history"]
    )
    if not ok:
        print(
            f"# check failed on {day.as_of}: staging={report.staging_rows} "
            f"fact={report.fact_rows_today} dim_job={dims} expected={exp}",
            file=sys.stderr,
        )
    return dt, ok


def _wrap_write_path(tracer: tracing.Tracer) -> None:
    from jobinsight_data_pipeline_v2_spark import pipelines
    from jobinsight_data_pipeline_v2_spark.quality.monitoring import MetricsStore
    from jobinsight_data_pipeline_v2_spark.storage import WarehouseStorage

    for fn in ("crawl_validation", "staging_validation", "business_rule_violations"):
        tracer.wrap(pipelines, fn, "quality.validate")
    tracer.wrap(pipelines, "staging_transform", "warehouse.staging_transform")
    tracer.wrap(pipelines, "build_warehouse_day", "warehouse.build")
    tracer.wrap(pipelines, "register_views", "views.register")
    tracer.wrap(WarehouseStorage, "write_staging", "storage.write_staging")
    tracer.wrap(WarehouseStorage, "write_day", "storage.write_day")
    tracer.wrap(WarehouseStorage, "load", "storage.load")
    tracer.wrap(MetricsStore, "record_etl", "monitoring.record")
    tracer.wrap(MetricsStore, "record_quality", "monitoring.record")


HEALTH_VIEWS = ("vw_etl_health", "vw_quality_health")


def _dashboard() -> tuple[str, ...]:
    """The 18 views a dashboard refresh reads: the 16 that ``run_day``
    registers and the two monitoring health views."""
    from jobinsight_data_pipeline_v2_spark.views import ALL_VIEWS

    return (*ALL_VIEWS, *HEALTH_VIEWS)


def _refresh(ctx: Ctx, views) -> tuple[dict, int | None]:
    """Drain every registered dashboard view through ``noop``;
    ({view: seconds}, index of the refresh span in a traced run)."""
    from bench import drain

    times = {}
    with ctx.span("views.refresh") as rs:
        for name in views:
            layer = "monitoring" if name in HEALTH_VIEWS else "views"
            with ctx.span(f"{layer}.{name}"):
                t0 = time.perf_counter()
                drain(ctx.spark.table(name))
                times[name] = time.perf_counter() - t0
    return times, rs.idx if rs else None


def _refresh_ok(ctx: Ctx, days_built) -> bool:
    """Row counts of the views the generator can predict: one
    ``vw_daily_summary`` row per day built, one ``vw_monthly_stats`` row
    per month, ``vw_jobs_today`` as derived, and non-empty health views."""
    count = lambda name: ctx.spark.table(name).count()  # noqa: E731
    day = days_built[-1]
    got = {
        "vw_daily_summary": count("vw_daily_summary"),
        "vw_monthly_stats": count("vw_monthly_stats"),
        "vw_jobs_today": count("vw_jobs_today"),
    }
    want = {
        "vw_daily_summary": len(days_built),
        "vw_monthly_stats": len({(d.as_of.year, d.as_of.month) for d in days_built}),
        "vw_jobs_today": day.expected["jobs_today"],
    }
    ok = got == want and all(count(v) > 0 for v in HEALTH_VIEWS)
    if not ok:
        print(f"# view check failed on {day.as_of}: {got} expected {want}", file=sys.stderr)
    return ok


def _files_since(root: str, since: float) -> int:
    """Data files under ``root`` modified at or after ``since``."""
    n = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            if os.path.getmtime(os.path.join(dirpath, f)) >= since:
                n += 1
    return n


def warehouse_daily(ctx: Ctx) -> Outcome:
    raw_dir = f"{ctx.work}/raw"
    prep_s, days = _median_setup(lambda: _prepare_days(ctx.seed, WD_MAX_DAYS, raw_dir))
    root, storage, metrics = _warehouse(ctx)
    views = _dashboard()
    t0 = time.perf_counter()
    _, boot_ok = _run_checked_day(ctx, storage, metrics, raw_dir, days[0])
    if boot_ok:
        # an untimed refresh compiles the 18 view plans once, as a
        # dashboard that is already open has done
        _refresh(ctx, views)
        boot_ok = _refresh_ok(ctx, days[:1])
    out = Outcome(setup_s=ctx.session_s + prep_s + time.perf_counter() - t0)
    if not boot_ok:
        out.attempted = out.failed = 1
        return out

    if ctx.tracer:
        _wrap_write_path(ctx.tracer)
    n_spans_before = len(ctx.tracer.spans) if ctx.tracer else 0
    postings, files_written, t_start = 0, [], time.perf_counter()
    refresh_s, refresh_spans = [], []
    for i, day in enumerate(days[1:], start=2):
        if not _keep_going(ctx, t_start, len(out.steps), WD_MIN_DAYS):
            break
        # a round is one day: the build (a step), then one dashboard
        # refresh (one op per view)
        out.attempted += 2
        t_day = time.time()
        try:
            dt, ok = _run_checked_day(ctx, storage, metrics, raw_dir, day)
            files_written.append(_files_since(root, t_day))
            times, rs = _refresh(ctx, views)
        except Exception as e:  # a failed day is counted, not fatal
            print(f"# day {day.as_of} raised: {e!r}", file=sys.stderr)
            out.failed += 2
            break
        out.failed += (not ok) + (not _refresh_ok(ctx, days[:i]))
        out.steps.append(dt)
        postings += day.expected["raw_rows"]
        out.ops.extend(times.values())
        refresh_s.append(sum(times.values()))
        refresh_spans.append(rs)
    if ctx.tracer:
        ctx.tracer.unpatch()
    built = sum(out.steps)
    out.figures = {
        "day_build_p50_s": (_median(out.steps), "s", len(out.steps)),
        "postings_per_s": (postings / built if built else 0.0, "1/s", len(out.steps)),
        "view_p50_s": (_median(out.ops), "s", len(out.ops)),
        "view_p90_s": (_quantile(out.ops, 0.9), "s", len(out.ops)),
        "dashboard_refresh_s": (_median(refresh_s), "s", len(refresh_s)),
    }

    def layers(ctx: Ctx) -> dict:
        tr, log = ctx.tracer, ctx.log
        day_spans = [
            s.idx for s in tr.spans[n_spans_before:]
            if s.name == "day" and s.parent is None
        ]
        per_day = []
        for idx, day, n_files, rs in zip(day_spans, days[1:], files_written, refresh_spans):
            row = {}
            for k, v in tracing.span_stats(tr, log, rs).items():
                row[f"views.refresh.{k}"] = v
            for c in tr.spans[rs].children:
                row[f"{tr.spans[c].name}.s"] = tr.spans[c].wall
            for name in (
                "quality.validate", "warehouse.staging_transform",
                "warehouse.build", "storage.write_staging", "storage.write_day",
                "storage.load", "monitoring.record", "views.register",
            ):
                for k, v in tracing.named_stats(tr, log, idx, name).items():
                    row[f"{name}.{k}"] = v
            for k, v in tracing.span_stats(tr, log, idx).items():
                row[f"day.{k}"] = v
            written = row.get("storage.write_staging.output_bytes", 0) + row.get(
                "storage.write_day.output_bytes", 0
            )
            row["storage.bytes_per_posting"] = written / day.expected["raw_rows"]
            row["storage.files_written"] = n_files
            per_day.append(row)
        keys = set().union(*per_day) if per_day else set()
        return {k: _median([r.get(k, 0) for r in per_day]) for k in keys}

    out.layers = layers
    return out


def _quantile(xs, q: float) -> float:
    """The q-quantile by the inclusive method (a sample value for small n)."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


# ---------------------------------------------------------------------------
# query_mix: the registry's breadth
# ---------------------------------------------------------------------------

QM_SF = 0.1
QM_STRIDE = 12  # 17 queries; a warm pass takes about 5 s on 4 cores
QM_MIN_PASSES = 2
PLAN_MODULES = ("core", "events", "text", "corpus", "vectors", "sampling", "curation")


def query_set(registry: dict) -> list[str]:
    """A fixed subset of ``bench.BENCH_QUERIES``: every QM_STRIDE-th name,
    plus the first bench query of any plans module the stride missed."""
    from bench import BENCH_QUERIES

    picked = list(BENCH_QUERIES[::QM_STRIDE])
    have = {_module(registry, n) for n in picked}
    for n in BENCH_QUERIES:
        m = _module(registry, n)
        if m not in have:
            picked.append(n)
            have.add(m)
    return picked


def _module(registry: dict, name: str) -> str:
    return registry[name][0].__module__.rsplit(".", 1)[-1]


def _tool(name: str):
    """Import a module from the repository's ``tools/`` directory."""
    tools = os.path.join(REPO, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    return importlib.import_module(name)


def _gen_testdata(sf: float, seed: int, dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    _tool("gen_testdata").generate(sf, dest, seed=seed)


def query_mix(ctx: Ctx) -> Outcome:
    from bench import drain

    from jobinsight_data_pipeline_v2_spark.plans import load_all

    sf_dir = f"{ctx.work}/sf{QM_SF}"
    prep_s, _ = _median_setup(lambda: _gen_testdata(QM_SF, ctx.seed, sf_dir))
    t0 = time.perf_counter()
    registry = load_all()
    queries = query_set(registry)
    # one untimed pass fills the JIT and codegen caches, as bench.py's
    # warm-up pass does; measured passes then see steady-state costs
    for name in queries:
        drain(registry[name][0](ctx.spark, sf_dir))
        gc.collect()
    out = Outcome(setup_s=ctx.session_s + prep_s + time.perf_counter() - t0)

    rng = random.Random(ctx.seed)
    raised: set[str] = set()
    passes, per_module, best = [], {}, {}
    query_spans = []
    t_start = time.perf_counter()
    while _keep_going(ctx, t_start, len(passes), QM_MIN_PASSES):
        pass_s = 0.0
        for name in rng.sample(queries, len(queries)):
            out.attempted += 1
            # as in bench.py: drop the previous query's checkpointed
            # RDDs before the clock starts, so they do not slow this one
            gc.collect()
            with ctx.span("query") as qs:
                t1 = time.perf_counter()
                try:
                    with ctx.span("query_mix.build"):
                        df = registry[name][0](ctx.spark, sf_dir)
                    with ctx.span("query_mix.drain"):
                        drain(df)
                    del df
                except Exception as e:
                    print(f"# {name} raised: {e!r}", file=sys.stderr)
                    raised.add(name)
                    out.failed += 1
                    continue
                dt = time.perf_counter() - t1
            best[name] = min(dt, best.get(name, dt))
            pass_s += dt
            mod = _module(registry, name)
            per_module[mod] = per_module.get(mod, 0.0) + dt
            if qs:
                query_spans.append(qs.idx)
        passes.append(pass_s)
    # as in bench.py, a query's latency is its best pass: each pass runs
    # in its own shuffled order, and the best one is the least disturbed
    # by the checkpoints of the queries that ran just before it
    out.ops = list(best.values())
    out.steps = passes
    wrong = _oracle_check(ctx, registry, [q for q in queries if q not in raised], sf_dir)
    out.failed += len(wrong) * len(passes)
    out.figures = {
        "query_p50_s": (_median(out.ops), "s", len(out.ops)),
        "query_p90_s": (_quantile(out.ops, 0.9), "s", len(out.ops)),
        "query_mix_s": (_median(passes), "s", len(passes)),
    }

    def layers(ctx: Ctx) -> dict:
        tr, log = ctx.tracer, ctx.log
        n = len(passes)
        build = [tracing.named_stats(tr, log, i, "query_mix.build") for i in query_spans]
        drain = [tracing.named_stats(tr, log, i, "query_mix.drain") for i in query_spans]
        whole = [tracing.span_stats(tr, log, i) for i in query_spans]
        tot = {k: sum(w[k] for w in whole) for k in whole[0]}
        res = {
            "query_mix.build_s": sum(b.get("s", 0) for b in build) / n,
            "query_mix.drain_s": sum(d.get("s", 0) for d in drain) / n,
            "query_mix.build_jobs": sum(b.get("jobs", 0) for b in build) / n,
            "query_mix.drain_jobs": sum(d.get("jobs", 0) for d in drain) / n,
            "query_mix.jobs_per_query_p50": _median([w["jobs"] for w in whole]),
            "query_mix.parallelism": tot["task_s"] / tot["s"] if tot["s"] else 0.0,
        }
        for k in ("stages", "tasks", "driver_only_s", "task_s", "cpu_s",
                  "shuffle_write_bytes", "spill_bytes"):
            res[f"query_mix.{k}"] = tot[k] / n
        for m in PLAN_MODULES:
            res[f"plans.{m}.s"] = per_module.get(m, 0.0) / n
        return res

    out.layers = layers
    return out


def _oracle_check(ctx: Ctx, registry: dict, names: list[str], sf_dir: str) -> list[str]:
    """Names whose Spark result differs from the DuckDB oracle (row count,
    columns, order-insensitive value hash: tools/check_correctness.py)."""
    import duckdb

    from jobinsight_data_pipeline_v2_spark.tables import TESTDATA_TABLES

    canon_frame = _tool("check_correctness").canon_frame

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        wrong = []
        for name in names:
            fn, oracle = registry[name]
            if oracle is None:
                continue
            s = canon_frame(fn(ctx.spark, sf_dir).toPandas())
            o = canon_frame(con.sql(oracle).fetchdf())
            if s[:3] != o[:3]:
                print(f"# {name} differs from its oracle", file=sys.stderr)
                wrong.append(name)
        return wrong
    finally:
        con.close()


# ---------------------------------------------------------------------------
# corpus_index_day: the corpus-curation and vector-index lifecycles
# ---------------------------------------------------------------------------

CI_SF = 0.01  # 500 documents, 500 embeddings
CI_MIN_CYCLES = 2
QUANT = 1_000_000  # embeddings are stored as round(x * QUANT) integers
N_QUERIES = 32
SERVE_BATCHES = 3
INDEX_KW = dict(k=8, kmeans_iters=3, train_sample_mod=2)
# (span, drift threshold): bootstrap, incremental upsert, forced retrain
# (the batch mean cosine is always below 1.01)
INDEX_DAYS = (("index.bootstrap", None), ("index.upsert", None), ("index.retrain", 1.01))


def _prepare_corpus(seed: int, dest: str) -> list[int]:
    """Documents and embeddings from gen_testdata, the embeddings split
    into three index batches plus a query set; returns the batch sizes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    _gen_testdata(CI_SF, seed, dest)
    emb = pq.read_table(f"{dest}/embeddings.parquet")
    ids = emb.column("vec_id").to_numpy()
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    q = np.rint(vecs.astype(np.float64) * QUANT).astype(np.int64)
    rng = random.Random(seed)
    split = [rng.randrange(3) for _ in ids]
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.int64()))])
    sizes = []
    for part in range(3):
        rows = [i for i, s in enumerate(split) if s == part]
        sizes.append(len(rows))
        pq.write_table(
            pa.table([pa.array(ids[rows]), pa.array(list(q[rows]))], schema=schema),
            f"{dest}/batch{part}.parquet",
        )
    picked = sorted(rng.sample(range(len(ids)), N_QUERIES))
    pq.write_table(
        pa.table(
            [pa.array(ids[picked]), pa.array(list(q[picked]))],
            names=["query_id", "embedding"],
        ),
        f"{dest}/queries.parquet",
    )
    return sizes


def _funnel_ok(r: dict) -> bool:
    chain = [
        r["n_input"], r["n_exact_kept"], r["n_span_kept"], r["n_semantic_kept"],
        r["n_gopher_kept"], r["n_quality_kept"], r["n_selected"],
    ]
    return all(a >= b for a, b in zip(chain, chain[1:]))


def corpus_index_day(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from bench import drain
    from jobinsight_data_pipeline_v2_spark.corpus_pipeline import curate_corpus
    from jobinsight_data_pipeline_v2_spark.index_pipeline import run_index_day, serve_topk

    data = f"{ctx.work}/corpus"
    prep_s, sizes = _median_setup(lambda: _prepare_corpus(ctx.seed, data))
    sp = ctx.spark
    docs = sp.read.parquet(f"{data}/documents.parquet").select("doc_id", "text")
    batches = [sp.read.parquet(f"{data}/batch{i}.parquet") for i in range(3)]
    queries = sp.read.parquet(f"{data}/queries.parquet")
    out = Outcome(setup_s=ctx.session_s + prep_s)

    index_s, serve_s = {n: [] for n, _ in INDEX_DAYS}, []
    curate_spans, index_spans, serve_spans, kept = [], [], [], []
    t_start = time.perf_counter()
    cycle = 0
    while _keep_going(ctx, t_start, cycle, CI_MIN_CYCLES):
        shards = f"{ctx.work}/shards/{cycle}"
        root = f"{ctx.work}/index/{cycle}"
        out.attempted += 1
        with ctx.span("corpus.curate") as cs:
            t0 = time.perf_counter()
            r = curate_corpus(sp, docs, shards, gopher=True, semantic=True, normalize=True)
            dt = time.perf_counter() - t0
        out.steps.append(dt)
        curate_spans.append(cs.idx if cs else None)
        kept.append(r["n_selected"] / r["n_input"])
        if not (_funnel_ok(r) and sp.read.parquet(shards).count() == r["n_selected"]):
            print(f"# curation check failed: {r}", file=sys.stderr)
            out.failed += 1
        for i, (name, drift) in enumerate(INDEX_DAYS):
            out.attempted += 1
            with ctx.span(name) as s:
                t0 = time.perf_counter()
                rep = run_index_day(
                    sp, root, batches[i], f"2026-03-0{i + 1}",
                    drift_min_sim=drift, **INDEX_KW,
                )
                dt = time.perf_counter() - t0
            index_s[name].append(dt)
            out.ops.append(dt)
            index_spans.append(s.idx if s else None)
            want_gen = 1 if name == "index.retrain" else 0
            if rep["n_fresh"] != sizes[i] or rep["gen"] != want_gen:
                print(f"# {name} check failed: {rep}", file=sys.stderr)
                out.failed += 1
        for _ in range(SERVE_BATCHES):
            out.attempted += 1
            with ctx.span("index.serve") as s:
                t0 = time.perf_counter()
                drain(serve_topk(sp, root, queries, topk=10, nprobe=2))
                dt = time.perf_counter() - t0
            serve_s.append(dt)
            serve_spans.append(s.idx if s else None)
        # every query is a standing vector, so it must rank itself first
        top = serve_topk(sp, root, queries, topk=10, nprobe=2).filter(F.col("rank") == 1)
        if top.filter(F.col("vec_id") != F.col("query_id")).count() or top.count() != N_QUERIES:
            print("# serve_topk check failed", file=sys.stderr)
            out.failed += SERVE_BATCHES
        cycle += 1

    out.figures = {
        "curate_s": (_median(out.steps), "s", len(out.steps)),
        "index_day_p50_s": (_median(out.ops), "s", len(out.ops)),
        "serve_topk_p50_s": (_median(serve_s), "s", len(serve_s)),
    }

    def layers(ctx: Ctx) -> dict:
        tr, log = ctx.tracer, ctx.log
        cur = [tracing.span_stats(tr, log, i) for i in curate_spans]
        res = {f"corpus.curate.{k}": _median([c[k] for c in cur]) for k in (
            "s", "jobs", "stages", "tasks", "task_s", "driver_only_s",
            "parallelism", "shuffle_write_bytes", "spill_bytes", "output_bytes",
        )}
        res["corpus.kept_ratio"] = _median(kept)
        for name, ts in index_s.items():
            res[f"{name}.s"] = _median(ts)
        res["index.day.jobs"] = _median(
            [tracing.span_stats(tr, log, i)["jobs"] for i in index_spans]
        )
        res["index.serve.s"] = _median(serve_s)
        res["index.serve.jobs"] = _median(
            [tracing.span_stats(tr, log, i)["jobs"] for i in serve_spans]
        )
        return res

    out.layers = layers
    return out


WORKLOADS = {
    "warehouse_daily": warehouse_daily,
    "query_mix": query_mix,
    "corpus_index_day": corpus_index_day,
}
