"""The benchmark's workloads. Each runs one client on a closed loop: the
next operation starts when the previous one has finished.

- ``incremental_batches``: set-up lands and loads the earliest 90% of the
  event hours, which is also the warm-up operation: it runs every layer a
  batch runs. Each operation lands the next hour of events plus a seeded
  share of already-landed rows, runs the pipeline and publishes the KPIs.
- ``query_mix``: each operation is one registered contract query written to
  the noop sink; a pass runs the fixed list in a seeded order.
- ``full_load``: each operation loads every event into a fresh warehouse
  and publishes the KPIs.

A workload records in its ``Ctx`` the latency samples, the operations
attempted, the failures the checks found and its report values.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import datagen
import spans

KPI_VIEWS = ["kpi_events_by_category", "kpi_events_by_city", "kpi_monthly_trend",
             "kpi_weekend_vs_weekday", "kpi_pipeline_health", "kpi_data_quality"]
SETUP_HOURS = int(datagen.EVENT_HOURS * 0.9)
REPLAY_SHARE = 0.1

# One query per contract module at least, plus a manifest-mode storage
# round trip, an iterative graph query and a text/dedup query.
MIX = [
    "join_star_revenue",          # relational
    "olap_pricing_summary",       # olap
    "stats_benford_screen",       # stats
    "window_rank_family",         # analytics
    "fact_build_star",            # warehouse
    "governance_bot_regularity",  # governance
    "graph_label_propagation",    # enrichment: iterative graph
    "storage_dv_roundtrip",       # enrichment: manifest-mode writes
    "text_decontaminate",         # extension: text decontamination
]
MIX_TABLES = ["events", "region", "nation", "customer", "orders", "lineitem",
              "documents"]


@dataclass
class Ctx:
    spark: object
    tracer: spans.Tracer
    seed: int
    seconds: float
    work: str
    sf: float
    corrupt: bool
    t_start: float
    corrupt_pending: bool = False
    latencies: list[float] = field(default_factory=list)
    cycles: list[float] = field(default_factory=list)
    attempted: int = 0
    failures: dict[str, list[str]] = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    storage: list[dict] = field(default_factory=list)
    setup_s: float = 0.0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, op: str, why: str) -> None:
        self.failures.setdefault(op, []).append(why)

    def start_measuring(self) -> float:
        """Start recording spans; the first measured operation's output is
        corrupted when the self-test asks for it."""
        self.tracer.recording = True
        self.corrupt_pending = self.corrupt
        return time.perf_counter()

    def measuring(self, t0: float) -> bool:
        return time.perf_counter() - t0 < self.seconds


# --------------------------------------------------------------------------
# Pipeline workloads
# --------------------------------------------------------------------------

def _pipeline_op(ctx: Ctx, wh_root: str, batch_path: str):
    """Land one batch file and publish the KPIs: the user-visible unit of
    work, from landing to materialised KPI views."""
    from _event_intelligence_data_warehouse_spark.plans import pipeline
    from _event_intelligence_data_warehouse_spark.sources import bronze, events_adapter
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    spark, tr = ctx.spark, ctx.tracer
    wh = Warehouse(spark, wh_root)
    with tr.span("sources.events_adapter"):
        raw = events_adapter.events_as_raw(spark.read.parquet(batch_path))
    with tr.span("sources.land_batch"):
        landed = bronze.land_batch(wh, raw, source="stream")
    result = pipeline.run_pipeline(
        spark, wh_root, pipeline.parse_args(["--skip-ingest"]))
    with tr.span("plans.kpis.materialise"):
        for view in KPI_VIEWS:
            spark.table(view).write.format("noop").mode("overwrite").save()
    return landed, result["summary"]


def _timed_pipeline_op(ctx, name, wh_root, batch_path, fresh, n_new, cutoff_us,
                       runs, con, events_path, check_views):
    """Run one pipeline operation with storage walks around it and its
    checks after it; returns its latency."""
    before = spans.walk(wh_root)
    t0 = time.perf_counter()
    try:
        landed, summary = _pipeline_op(ctx, wh_root, batch_path)
    except Exception as exc:  # a failed operation is counted and reported
        ctx.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
        return time.perf_counter() - t0
    dt = time.perf_counter() - t0
    after = spans.walk(wh_root)
    files, nbytes = spans.written(before, after)
    in_bytes = os.path.getsize(batch_path)
    ctx.storage.append({"op": name, "input_bytes": in_bytes,
                        "files_written": files, "bytes_written": nbytes,
                        "live_files": len(after), "tables": spans.per_table(after)})
    ctx.tracer.sample("storage.files_written", files)
    ctx.tracer.sample("storage.bytes_written_per_input_byte", nbytes / in_bytes)
    ctx.tracer.sample("storage.live_files", len(after))
    ctx.tracer.sample("sources.rows_loaded_per_fetched",
                      landed["records_loaded"] / max(landed["records_fetched"], 1))

    if ctx.corrupt_pending:
        ctx.corrupt_pending = False
        summary = dict(summary, fact_events=summary["fact_events"] + 1)
    if (landed["records_fetched"], landed["records_loaded"]) != (fresh, n_new):
        ctx.fail(name, f"land_batch fetched/loaded "
                       f"{landed['records_fetched']}/{landed['records_loaded']}"
                       f" != {fresh}/{n_new}")
    expected = checks.expected_summary(con, events_path, cutoff_us, runs)
    if summary != expected:
        ctx.fail(name, f"summary {summary} != duckdb {expected}")
    if check_views:
        bad = checks.compare_views(checks.collect_views(ctx.spark),
                                   checks.reference_views(con, events_path, cutoff_us))
        if bad:
            ctx.fail(name, f"KPI views differ from the reference: {bad}")
    return dt


def _events(ctx: Ctx):
    events_path = ctx.path("input", "events.parquet")
    datagen.write_tables(ctx.path("input"), ctx.seed, ctx.sf, ["events"])
    table = pq.read_table(events_path)
    hours = pc.divide(pc.subtract(table["ts"].cast(pa.int64()), datagen.EPOCH_US),
                      datagen.HOUR_US)
    return events_path, table, hours.to_numpy()


def incremental_batches(ctx: Ctx) -> None:
    events_path, table, hours = _events(ctx)
    con = duckdb.connect()
    wh_root = ctx.path("warehouse")

    def batch(hour: int) -> float:
        """Land hour ``hour`` plus replays of already-landed rows."""
        rng = np.random.default_rng([ctx.seed, 4, hour])
        new = np.flatnonzero(hours == hour)
        n_rep = max(1, round(REPLAY_SHARE * len(new)))
        replays = rng.choice(np.flatnonzero(hours < hour), n_rep, replace=False)
        batch_path = ctx.path("input", f"batch_{hour}.parquet")
        pq.write_table(table.take(np.concatenate([new, replays])), batch_path)
        ctx.attempted += 1
        return _timed_pipeline_op(
            ctx, f"batch-hour-{hour}", wh_root, batch_path, len(new) + n_rep,
            len(new), datagen.EPOCH_US + (hour + 1) * datagen.HOUR_US,
            hour - SETUP_HOURS + 2, con, events_path, check_views=False)

    setup_path = ctx.path("input", "setup.parquet")
    pq.write_table(table.filter(pa.array(hours < SETUP_HOURS)), setup_path)
    n_setup = int((hours < SETUP_HOURS).sum())
    ctx.tracer.describe("setup")
    t0 = time.perf_counter()
    ctx.attempted += 1
    _timed_pipeline_op(ctx, "setup-load", wh_root, setup_path, n_setup, n_setup,
                       datagen.EPOCH_US + SETUP_HOURS * datagen.HOUR_US, 1, con,
                       events_path, check_views=False)
    setup_load_s = time.perf_counter() - t0
    ctx.storage.clear()
    ctx.setup_s = time.perf_counter() - ctx.t_start

    start = ctx.start_measuring()
    hour = SETUP_HOURS
    while hour < datagen.EVENT_HOURS:
        dt = batch(hour)
        ctx.latencies.append(dt)
        ctx.cycles.append(dt)
        hour += 1
        if not ctx.measuring(start):
            break
    ctx.tracer.recording = False
    ctx.tracer.describe("checks")
    # The end state covers the set-up load too: the views over every landed
    # event must equal a full load's, i.e. the exact reference.
    cutoff = datagen.EPOCH_US + hour * datagen.HOUR_US
    bad = checks.compare_views(checks.collect_views(ctx.spark),
                               checks.reference_views(con, events_path, cutoff))
    if bad:
        ctx.fail(f"batch-hour-{hour - 1}", f"KPI views differ from the reference: {bad}")
    con.close()
    total_bytes = sum(v[0] for v in spans.walk(wh_root).values())
    ctx.report.update({
        "setup_full_load_s": (setup_load_s, "s"),
        "setup_full_load_rows_per_s": (n_setup / setup_load_s, "1/s"),
        "batch_rows_mean": (float(statistics.mean(
            int((hours == h).sum()) for h in range(SETUP_HOURS, hour))), "count"),
        "stored_bytes_per_input_byte": (
            total_bytes / os.path.getsize(events_path), "ratio"),
    })


def full_load(ctx: Ctx) -> None:
    events_path, table, _ = _events(ctx)
    con = duckdb.connect()
    n = table.num_rows
    cutoff = datagen.EPOCH_US + datagen.EVENT_HOURS * datagen.HOUR_US

    def op(i: int) -> float:
        wh_root = ctx.path(f"warehouse_{i}")
        shutil.rmtree(ctx.path(f"warehouse_{i - 1}"), ignore_errors=True)
        ctx.attempted += 1
        return _timed_pipeline_op(ctx, f"full-load-{i}", wh_root, events_path, n, n,
                                  cutoff, 1, con, events_path, check_views=True)

    ctx.tracer.describe("setup")
    op(0)
    ctx.storage.clear()
    ctx.setup_s = time.perf_counter() - ctx.t_start
    start, i = ctx.start_measuring(), 1
    while True:
        dt = op(i)
        ctx.latencies.append(dt)
        ctx.cycles.append(dt)
        i += 1
        if not ctx.measuring(start):
            break
    ctx.tracer.recording = False
    con.close()
    stored = sum(v[0] for v in spans.walk(ctx.path(f"warehouse_{i - 1}")).values())
    ctx.report.update({
        "full_load_rows_per_s": (n / statistics.median(ctx.latencies), "1/s"),
        "stored_bytes_per_input_byte": (stored / os.path.getsize(events_path), "ratio"),
    })


# --------------------------------------------------------------------------
# Query mix
# --------------------------------------------------------------------------

def _module(name: str) -> str:
    from _event_intelligence_data_warehouse_spark import contract

    return contract.QUERIES[name].__module__.rsplit(".", 1)[1].removesuffix("_queries")


def _query_op(ctx: Ctx, name: str, sf_dir: str) -> None:
    from _event_intelligence_data_warehouse_spark import cache, contract

    tr, module = ctx.tracer, _module(name)
    try:
        with tr.span("contract.build", module=module, query=name):
            df = contract.QUERIES[name](ctx.spark, sf_dir)
        if tr.active:
            with tr.span("contract.plan", module=module, query=name):
                df._jdf.queryExecution().executedPlan()
        with tr.span("contract.execute", module=module, query=name):
            df.write.format("noop").mode("overwrite").save()
    finally:
        cache.release_all()


def query_mix(ctx: Ctx) -> None:
    from _event_intelligence_data_warehouse_spark import cache, contract

    sf_dir = ctx.path("input", "sf")
    datagen.write_tables(sf_dir, ctx.seed, ctx.sf, MIX_TABLES)
    ctx.tracer.describe("setup")
    results, broken = {}, {}
    for name in MIX:  # first warm-up pass; its results are the ones checked
        ctx.attempted += 1
        try:
            df = contract.QUERIES[name](ctx.spark, sf_dir)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # a failed operation is counted and reported
            broken[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            cache.release_all()
    rng = np.random.default_rng([ctx.seed, 5])
    # A second, untimed pass the way passes are timed: the first measured
    # pass otherwise still runs about 10-25% slow while the JIT warms.
    for name in rng.permutation(MIX):
        ctx.attempted += 1
        try:
            _query_op(ctx, name, sf_dir)
        except Exception as exc:  # a failed operation is counted and reported
            ctx.fail(f"{name}@warmup2", f"{type(exc).__name__}: {str(exc)[:300]}")
    ctx.setup_s = time.perf_counter() - ctx.t_start

    per_query: dict[str, list[float]] = {name: [] for name in MIX}
    start = ctx.start_measuring()
    while True:
        pass_s = 0.0
        for name in rng.permutation(MIX):
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                _query_op(ctx, name, sf_dir)
            except Exception as exc:  # a failed operation is counted and reported
                ctx.fail(f"{name}@pass{len(ctx.cycles)}",
                         f"{type(exc).__name__}: {str(exc)[:300]}")
            dt = time.perf_counter() - t0
            per_query[name].append(dt)
            ctx.latencies.append(dt)
            pass_s += dt
        ctx.cycles.append(pass_s)
        if not ctx.measuring(start):
            break
    ctx.tracer.recording = False

    ctx.tracer.describe("checks")
    con = duckdb.connect()
    for t in MIX_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    if ctx.corrupt:
        cols, rows = results[MIX[0]]
        results[MIX[0]] = (cols, rows[:-1])
    for name in MIX:
        why = broken.get(name)
        if why is None:
            why = checks.compare_result(
                results[name], checks.oracle_result(con, contract.ORACLES[name]))
        if why is not None:
            # a wrong query fails its warm-up executions and every timed one
            ctx.fail(f"{name}@warmup", why)
            ctx.fail(f"{name}@warmup2", why)
            for p in range(len(per_query[name])):
                ctx.fail(f"{name}@pass{p}", why)
    con.close()
    ctx.report.update({
        "passes": (len(ctx.cycles), "count"),
        "queries_per_pass": (len(MIX), "count"),
        **{f"query.{q}_s": (statistics.median(v), "s") for q, v in per_query.items()},
    })


WORKLOADS = {
    "incremental_batches": (incremental_batches, 0.1),
    "query_mix": (query_mix, 0.01),
    "full_load": (full_load, 0.1),
}
