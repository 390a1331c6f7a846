"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds its inputs from ``--seed`` under
``.perfbench_work/`` (removed at exit), runs one workload on
``local[nproc]`` through the package's public entry points, checks the
outputs, prints every metric as ``name value unit (n=samples)`` and, as
the last line, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
wraps each layer's public functions in spans, tags Spark jobs with one
job group per span, reads Spark's event log and reports the per-layer
metrics instead. See README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# (name, unit); each is measured on every workload: ``op_*`` over the
# workload's fine-grained operations, ``step_s`` over its heavy steps
# (workloads.py says which they are). The typical operation is their
# geometric mean: over a few dozen unlike operations the median is one
# of them, and which one it is changes from run to run. peak_rss_mb is printed but is not
# one of them: at the default driver heap it moves by a third between
# runs of the same workload.
END_TO_END = (
    ("setup_s", "s"),
    ("op_geomean_s", "s"),
    ("op_p90_s", "s"),
    ("step_s", "s"),
)

# (name, unit); a traced run reports all of them, 0 for a layer its
# workload does not reach
PER_LAYER = (
    # write path, per-day medians on warehouse_daily
    ("quality.validate.s", "s"), ("quality.validate.jobs", "count"),
    ("warehouse.staging_transform.s", "s"),
    ("warehouse.build.s", "s"), ("warehouse.build.jobs", "count"),
    ("storage.write_staging.s", "s"), ("storage.write_staging.output_bytes", "bytes"),
    ("storage.write_day.s", "s"), ("storage.write_day.jobs", "count"),
    ("storage.write_day.tasks", "count"), ("storage.write_day.task_s", "s"),
    ("storage.write_day.shuffle_write_bytes", "bytes"),
    ("storage.write_day.output_bytes", "bytes"),
    ("storage.write_day.parallelism", "ratio"),
    ("storage.load.s", "s"),
    ("monitoring.record.s", "s"), ("monitoring.record.calls", "count"),
    ("monitoring.record.jobs", "count"),
    ("views.register.s", "s"),
    ("day.s", "s"), ("day.self_s", "s"), ("day.jobs", "count"),
    ("day.stages", "count"), ("day.tasks", "count"), ("day.task_s", "s"),
    ("day.driver_only_s", "s"), ("day.parallelism", "ratio"),
    ("storage.bytes_per_posting", "bytes"), ("storage.files_written", "count"),
    # read path, per-refresh medians on warehouse_daily
    *((f"views.{v}.s", "s") for v in (
        "vw_current_jobs", "vw_job_locations", "vw_monthly_stats",
        "vw_top_companies", "vw_top_locations", "vw_job_full_details",
        "vw_jobs_today", "vw_jobs_hanoi", "vw_jobs_hcm", "vw_jobs_expiring_soon",
        "vw_salary_distribution", "vw_verified_employers", "vw_location_stats",
        "vw_company_stats", "vw_daily_summary", "vw_skills_demand")),
    ("monitoring.vw_etl_health.s", "s"), ("monitoring.vw_quality_health.s", "s"),
    ("views.refresh.jobs", "count"), ("views.refresh.stages", "count"),
    ("views.refresh.tasks", "count"), ("views.refresh.task_s", "s"),
    ("views.refresh.input_bytes", "bytes"),
    ("views.refresh.shuffle_write_bytes", "bytes"),
    ("views.refresh.driver_only_s", "s"), ("views.refresh.parallelism", "ratio"),
    # query engine, per pass on query_mix
    ("query_mix.build_s", "s"), ("query_mix.drain_s", "s"),
    ("query_mix.build_jobs", "count"), ("query_mix.drain_jobs", "count"),
    ("query_mix.stages", "count"), ("query_mix.tasks", "count"),
    ("query_mix.jobs_per_query_p50", "count"), ("query_mix.driver_only_s", "s"),
    ("query_mix.task_s", "s"), ("query_mix.cpu_s", "s"),
    ("query_mix.parallelism", "ratio"),
    ("query_mix.shuffle_write_bytes", "bytes"), ("query_mix.spill_bytes", "bytes"),
    *((f"plans.{m}.s", "s") for m in (
        "core", "events", "text", "corpus", "vectors", "sampling", "curation")),
    # lifecycles, per-call medians on corpus_index_day
    ("corpus.curate.s", "s"), ("corpus.curate.jobs", "count"),
    ("corpus.curate.stages", "count"), ("corpus.curate.tasks", "count"),
    ("corpus.curate.task_s", "s"), ("corpus.curate.driver_only_s", "s"),
    ("corpus.curate.parallelism", "ratio"),
    ("corpus.curate.shuffle_write_bytes", "bytes"),
    ("corpus.curate.spill_bytes", "bytes"), ("corpus.curate.output_bytes", "bytes"),
    ("corpus.kept_ratio", "ratio"),
    ("index.bootstrap.s", "s"), ("index.upsert.s", "s"), ("index.retrain.s", "s"),
    ("index.day.jobs", "count"), ("index.serve.s", "s"), ("index.serve.jobs", "count"),
    # every workload
    ("trace.overhead_s", "s"),
)


def _prepare_env(work: str) -> None:
    """Environment read when the package and the JVM start: nproc cores,
    the package importable by Python workers, scratch inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts keeps its temp files and no perf-data
    # file in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [REPO, HERE]


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit, so that its
    peak RSS is accounted to this process's children."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=120)


def _peak_rss_mb() -> float:
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + jvm) / 1024.0


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(REPO, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(work, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _run(work: str, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    _prepare_env(work)

    from jobinsight_data_pipeline_v2_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx = workloads.Ctx(
        spark=spark, seed=seed, seconds=seconds, work=work,
        session_s=time.perf_counter() - t0,
    )
    if trace:
        ctx.tracer = tracing.Tracer(spark)
    try:
        out = workloads.WORKLOADS[workload](ctx)
    finally:
        _stop_spark(spark)

    lines, metrics = [], {}
    if trace:
        ctx.log = tracing.parse_event_log(log_dir)
        layers = out.layers(ctx) if out.layers and out.ops else {}
        layers["trace.overhead_s"] = ctx.tracer.overhead_s
        for name, unit in PER_LAYER:
            metrics[name] = _metric(float(layers.get(name, 0.0)), unit)
    else:
        e2e = {
            "setup_s": (out.setup_s, 1),
            "op_geomean_s": (
                statistics.geometric_mean(out.ops) if out.ops else 0.0, len(out.ops)
            ),
            "op_p90_s": (workloads._quantile(out.ops, 0.9), len(out.ops)),
            "step_s": (workloads._median(out.steps), len(out.steps)),
        }
        for name, unit in END_TO_END:
            value, n = e2e[name]
            metrics[name] = _metric(value, unit)
            lines.append(f"{name} {value:.6g} {unit} (n={n})")
        lines.append(f"peak_rss_mb {_peak_rss_mb():.6g} MB (n=1)")
    fail_ratio = out.failed / out.attempted if out.attempted else 1.0
    lines.append(f"fail_ratio {fail_ratio:.6g} ratio (n={out.attempted})")
    for name, (value, unit, n) in out.figures.items():
        lines.append(f"{workload}.{name} {value:.6g} {unit} (n={n})")
    for name, m in metrics.items():
        if trace:
            lines.append(f"{name} {m['value']:.6g} {m['unit']}")
    return {
        "lines": lines,
        "result": {
            "correct": out.attempted > 0 and out.failed == 0,
            "attempted": max(out.attempted, 1),
            "failed": out.failed if out.attempted else 1,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("jobinsight_data_pipeline_v2_spark", "bench.py", "tools"):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}", file=sys.stderr)
            return 2
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in res["lines"]:
        print(line)
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
