"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.py``) on a Spark session from the
package's own ``session.get_spark`` (``local[<cores>]``), checks its
outputs, and prints two JSON lines: a report with every metric the
workload defines, each with its unit, and the failures by name; then the
result line. With ``--trace 0`` the result line holds the end-to-end
metrics; with ``--trace 1`` it holds the per-layer metrics from spans and
the Spark event log, and a per-span profile is written to
``.perfbench_out/``.

Everything the run writes stays under the checkout: inputs, the warehouse,
Spark's scratch and the event log go to ``.perfbench_work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("op_latency_p50_s", "s"),
    ("cycle_s", "s"),
]
TAIL_PERCENTILE = 90
MODULES = ["relational", "olap", "stats", "analytics", "warehouse",
           "governance", "enrichment", "extension"]
SPARK_STEPS = ["sources", "plans.transform_load", "plans.quality", "plans.kpis",
               "plans.summary", "contract.build", "contract.plan",
               "contract.execute"]
SPARK_TOTALS = [("stages", "count"), ("tasks", "count"), ("executor_run_ms", "ms"),
                ("gc_ms", "ms"), ("shuffle_read_bytes", "bytes"),
                ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")]
STORAGE_WRITES = ["storage.append", "storage.overwrite", "storage.overwrite_partitions",
                  "storage.set_watermark", "plans.dims.overwrite"]
# (metric, unit, span labels whose wall time it sums)
WALL_METRICS = [
    ("sources.events_adapter_s", ["sources.events_adapter"]),
    ("sources.land_batch_s", ["sources.land_batch"]),
    ("plans.transform_load_s", ["plans.pipeline.step_transform_and_load"]),
    ("plans.staging.stage_events_s", ["plans.staging.stage_events"]),
    ("plans.dims.overwrite_s", ["plans.dims.overwrite"]),
    ("plans.facts.upsert_s", ["plans.facts.upsert_facts_partitioned"]),
    ("plans.quality_s", ["plans.pipeline.step_quality"]),
    ("plans.kpis_s", ["plans.pipeline.step_kpis", "plans.kpis.materialise"]),
    ("plans.summary_s", ["plans.pipeline.summary"]),
    ("storage.write_s", STORAGE_WRITES),
    ("contract.build_s", ["contract.build"]),
    ("contract.plan_s", ["contract.plan"]),
    ("contract.execute_s", ["contract.execute"]),
]
# (metric, unit, tracer sample name, how samples reduce)
SAMPLE_METRICS = [
    ("sources.rows_loaded_per_fetched", "ratio", "sources.rows_loaded_per_fetched", "mean"),
    ("plans.facts.buckets_rewritten_ratio", "ratio",
     "plans.facts.buckets_rewritten_ratio", "mean"),
    ("storage.files_written", "count", "storage.files_written", "mean"),
    ("storage.bytes_written_per_input_byte", "ratio",
     "storage.bytes_written_per_input_byte", "mean"),
    ("storage.live_files", "count", "storage.live_files", "last"),
]
PER_LAYER = (
    [(m, "s") for m, _ in WALL_METRICS]
    + [(m, u) for m, u, _, _ in SAMPLE_METRICS]
    + [("storage.read_calls", "count"), ("storage.write_calls", "count")]
    + [(f"contract.{m}_s", "s") for m in MODULES]
    + [(f"contract.{m}.shuffle_bytes", "bytes") for m in MODULES]
    + [(f"spark.{s}.{k}", u) for s in SPARK_STEPS
       for k, u in (("jobs", "count"), ("driver_s", "s"))]
    + [("spark.jobs", "count"), ("spark.driver_s", "s")]
    + [(f"spark.{k}", u) for k, u in SPARK_TOTALS]
)


def _quantile(values: list[float], pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def end_to_end(ctx) -> dict[str, float]:
    return {
        "setup_s": ctx.setup_s,
        "op_latency_p50_s": statistics.median(ctx.latencies),
        "cycle_s": statistics.mean(ctx.cycles),
    }


def per_layer(ctx, rows: list[dict]) -> dict[str, float]:
    """Per-layer metrics per cycle (one batch, or one pass over the query
    list); layers a workload does not use read 0."""
    import spans

    cycles = len(ctx.cycles)
    out = {}
    for metric, labels in WALL_METRICS:
        out[metric] = sum(r["wall_s"] for r in rows if r["label"] in labels) / cycles
    samples = ctx.tracer.samples
    for metric, _, name, how in SAMPLE_METRICS:
        vals = samples.get(name) or [0.0]
        out[metric] = vals[-1] if how == "last" else statistics.mean(vals)
    for kind in ("read_calls", "write_calls"):
        out[f"storage.{kind}"] = ctx.tracer.counts[f"storage.{kind}"] / cycles
    roots = [r for r in rows if r["parent"] is None]
    for m in MODULES:
        mine = [r for r in roots if r.get("module") == m]
        out[f"contract.{m}_s"] = sum(r["wall_s"] for r in mine) / cycles
        out[f"contract.{m}.shuffle_bytes"] = sum(
            r["tree_shuffle_read_bytes"] + r["tree_shuffle_write_bytes"]
            for r in mine) / cycles
    for step in SPARK_STEPS:
        mine = [r for r in roots if spans.STEP_OF.get(r["label"]) == step]
        out[f"spark.{step}.jobs"] = sum(r["tree_jobs"] for r in mine) / cycles
        out[f"spark.{step}.driver_s"] = sum(r["driver_s"] for r in mine) / cycles
    out["spark.jobs"] = sum(r["tree_jobs"] for r in roots) / cycles
    out["spark.driver_s"] = sum(r["driver_s"] for r in roots) / cycles
    for k, _ in SPARK_TOTALS:
        out[f"spark.{k}"] = sum(r["tree_" + k] for r in roots) / cycles
    return out


def _prepare_env(work: str) -> None:
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, traced: bool,
        sf: float | None = None, corrupt: bool = False) -> tuple[dict, dict]:
    """Run one workload; returns (report, result line)."""
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        import spans
        import workloads
        from _event_intelligence_data_warehouse_spark.session import get_spark

        fn, default_sf = workloads.WORKLOADS[workload]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        }
        if traced:
            conf.update(spans.spark_conf(os.path.join(work, "eventlog")))
        spark = get_spark("perfbench", extra_conf=conf)
        restore = lambda: None  # noqa: E731
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = spans.Tracer(spark.sparkContext, traced)
            if traced:
                restore = spans.patch_layers(tracer)
            ctx = workloads.Ctx(spark=spark, tracer=tracer, seed=seed,
                                seconds=seconds, work=work,
                                sf=sf if sf is not None else default_sf,
                                corrupt=corrupt, t_start=t_start)
            fn(ctx)
            rss_mb = spans.peak_rss_mb([os.getpid()] + spans.jvm_pids())
        finally:
            restore()
            _stop_spark(spark)
        e2e = end_to_end(ctx)
        tail = _quantile(ctx.latencies, TAIL_PERCENTILE)
        report = {
            "workload": workload, "seed": seed, "sf": ctx.sf, "trace": int(traced),
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "end_to_end": {k: [e2e[k], u] for k, u in END_TO_END},
            # The tail is reported, not bounded: with one batch or one pass
            # per run it is the slowest operation or two, which a burst of
            # load on the host moves by more than a bound of 0.25.
            "op_latency_tail_s": [tail, "s"],
            "tail_percentile": TAIL_PERCENTILE,
            "ops": len(ctx.latencies),
            "samples_beyond_tail": sum(v > tail for v in ctx.latencies),
            "latencies_s": ctx.latencies,
            # Peak RSS is reported, not bounded: the JVM's adaptive heap
            # sizing spreads it by about 20% between runs of one workload.
            "peak_rss_mb": [rss_mb, "MB"],
            "failed_ops_ratio": len(ctx.failures) / ctx.attempted,
            "failures": ctx.failures,
            **{k: list(v) for k, v in ctx.report.items()},
        }
        if traced:
            rows = spans.profile(ctx.tracer.spans, spans.parse_event_log(
                os.path.join(work, "eventlog")))
            metrics = per_layer(ctx, rows)
            units = dict(PER_LAYER)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            side = os.path.join(out_dir, f"{workload}-seed{seed}.json")
            with open(side, "w") as f:
                json.dump({"report": report, "spans": rows, "storage": ctx.storage}, f)
            report["side_file"] = os.path.relpath(side, ROOT)
        else:
            metrics, units = e2e, dict(END_TO_END)
        line = {
            "correct": not ctx.failures,
            "attempted": ctx.attempted,
            "failed": len(ctx.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return report, line
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["incremental_batches", "query_mix", "full_load"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="scale factor override (the self-test uses 0.001)")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt the first checked result (self-test only)")
    args = p.parse_args(argv)
    report, line = run(args.workload, args.seed, args.seconds, bool(args.trace),
                       sf=args.sf, corrupt=args.corrupt)
    print(json.dumps(report, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
