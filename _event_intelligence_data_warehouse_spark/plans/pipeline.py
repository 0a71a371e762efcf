"""Pipeline orchestrator (SURVEY.md §2.13 G1, §3 E1).

Same six-step DAG as the reference CLI
(/root/reference/scripts/run_pipeline.py:142-179): ingest -> transform ->
load facts -> quality -> KPI views -> summary, with the same flags
(--source, --csv-path, --generate-sample, --skip-ingest). Differences by
design:

- Incrementality is a persisted high-watermark on ``ingested_at`` instead
  of a mutable ``is_processed`` flag (SURVEY.md §2.5 U7 rebuild decision):
  a pure predicate that becomes parquet min/max or partition pruning at
  scale, with no bronze rewrite per batch.
- Each SQL script step is a DataFrame program; one fact-load path with the
  canonical key (SURVEY.md §0.2).
"""

from __future__ import annotations

import argparse
import functools
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.plans import dims as dims_mod
from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
from _event_intelligence_data_warehouse_spark.plans import kpis as kpis_mod
from _event_intelligence_data_warehouse_spark.plans import quality as quality_mod
from _event_intelligence_data_warehouse_spark.plans.staging import stage_events
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.storage import Warehouse

WATERMARK = "fact_load.ingested_at"

GOLD = ("dim_date", "dim_venue", "dim_category", "dim_source", "fact_events")

# The 7 invariant post-run counts (run_pipeline.py:65-87).
SUMMARY_TABLES = ("raw_events", "dim_date", "dim_venue", "dim_category",
                  "dim_source", "fact_events", "quality_log")


def read_table(wh: Warehouse, table: str) -> DataFrame:
    """A warehouse table read with its declared schema (no inference job;
    an empty frame when the table does not exist yet)."""
    return wh.read(table, schemas.TABLES[table])


def step_ingest(wh: Warehouse, args, spark: SparkSession) -> dict:
    if args.source == "csv":
        from _event_intelligence_data_warehouse_spark.sources.csv_source import (
            read_events_csv,
        )

        if args.generate_sample:
            from _event_intelligence_data_warehouse_spark.sources.synthetic import (
                generate_sample_events,
            )

            batch = generate_sample_events(spark, args.sample_rows, dirty=args.dirty)
        else:
            batch = read_events_csv(spark, args.csv_path)
        return bronze.land_batch(wh, batch, source="csv")
    if args.source == "api":
        from _event_intelligence_data_warehouse_spark.sources.api_source import (
            ingest_api,
        )

        batch = ingest_api(spark, args.api_key)
        return bronze.land_batch(wh, batch, source="ticketmaster")
    raise ValueError(f"unknown source {args.source!r}")


def unprocessed_raw(wh: Warehouse) -> DataFrame:
    """Bronze rows past the fact-load watermark — the incremental filter
    (transform_events.sql:75 re-expressed)."""
    raw = read_table(wh, bronze.RAW_TABLE)
    wm = wh.get_watermark(WATERMARK)
    if wm is not None:
        raw = raw.filter(F.col("ingested_at") > F.lit(wm).cast("timestamp"))
    return raw


def step_transform_and_load(wh: Warehouse, spark: SparkSession) -> dict:
    """Staging cleanse + dim maintenance + fact upsert, then advance the
    watermark to exactly the batch that was loaded (fixes the reference's
    broken mark-processed — SURVEY.md §0.3)."""
    stg = stage_events(unprocessed_raw(wh), only_unprocessed=False).cache()
    # One aggregate fills the cache and yields the batch size and the
    # next watermark.
    staged, max_ts = stg.agg(F.count("*"), F.max("ingested_at")).first()
    if staged == 0:
        stg.unpersist()
        return {"staged": 0}
    now = F.current_timestamp()

    # A dimension is rewritten only when the batch changes it.
    dims = dims_mod.DIMENSIONS
    existing = {name: read_table(wh, name) for name in dims}
    deltas = {name: delta(existing[name], stg)
              for name, (delta, _) in dims.items()}
    changed = dims_mod.changed(deltas)
    for name, (_, image) in dims.items():
        if name in changed or not wh.exists(name):
            wh.overwrite(name, image(existing[name], deltas[name], now))

    fact_rows = facts_mod.build_fact_rows(
        stg,
        read_table(wh, "dim_date"),
        read_table(wh, "dim_venue"),
        read_table(wh, "dim_category"),
        read_table(wh, "dim_source"),
        loaded_at=now,
    ).select([f.name for f in schemas.FACT_EVENTS.fields if f.name != "event_sk"]
             + ["_ingest_id"])
    # Partition-pruned upsert: only the hash buckets containing this
    # batch's keys are read and rewritten (storage.overwrite_partitions).
    facts_mod.upsert_facts_partitioned(wh, fact_rows)

    if max_ts is not None:
        wh.set_watermark(WATERMARK, max_ts.isoformat(sep=" "))
    stg.unpersist()
    return {"staged": staged}


def step_quality(wh: Warehouse, spark: SparkSession, run_id: str) -> DataFrame:
    """The five logged checks: checks 1-4 in one scan of ``raw_events``,
    then the orphan check over the fact and its dimensions."""
    out = quality_mod.run_raw_checks_one_pass(
        read_table(wh, bronze.RAW_TABLE), run_id
    ).unionByName(
        quality_mod.check_orphan_fact_records(
            read_table(wh, "fact_events"),
            read_table(wh, "dim_date"),
            read_table(wh, "dim_venue"),
            read_table(wh, "dim_category"),
            read_table(wh, "dim_source"),
            run_id,
        )
    )
    wh.append(bronze.QUALITY_LOG_TABLE, out)
    return read_table(wh, bronze.QUALITY_LOG_TABLE)


def step_kpis(wh: Warehouse, spark: SparkSession) -> dict[str, DataFrame]:
    tables = {name: read_table(wh, name) for name in GOLD}
    tables["ingestion_runs"] = bronze.current_runs(wh)
    tables["quality_log"] = read_table(wh, bronze.QUALITY_LOG_TABLE)
    return kpis_mod.register_views(spark, tables)


def summary(wh: Warehouse) -> dict[str, int]:
    """Row count per ``SUMMARY_TABLES`` entry, 0 for a missing table: the
    tables' scans are unioned and counted in one groupBy."""
    tagged = [
        read_table(wh, t).select(F.lit(t).alias("table"))
        for t in SUMMARY_TABLES
    ]
    counted = functools.reduce(DataFrame.union, tagged).groupBy(
        "table"
    ).count()
    counts = dict(counted.collect())
    return {t: counts.get(t, 0) for t in SUMMARY_TABLES}


def run_pipeline(spark: SparkSession, warehouse_dir: str, args=None) -> dict:
    args = args or parse_args([])
    wh = Warehouse(spark, warehouse_dir,
                   manifest=getattr(args, "manifest", False))
    run_id = str(uuid.uuid4())
    result: dict = {"run_id": run_id}
    if not args.skip_ingest:
        result["ingest"] = step_ingest(wh, args, spark)
    result["load"] = step_transform_and_load(wh, spark)
    step_quality(wh, spark, run_id)
    step_kpis(wh, spark)
    result["summary"] = summary(wh)
    return result


def parse_args(argv):
    p = argparse.ArgumentParser(description="event-intelligence warehouse pipeline")
    p.add_argument("--source", choices=["csv", "api"], default="csv")
    p.add_argument("--csv-path", default=None)
    p.add_argument("--generate-sample", action="store_true")
    p.add_argument("--sample-rows", type=int, default=500)
    p.add_argument("--dirty", action="store_true",
                   help="inject the FIXTURES.md defect mix into the sample")
    p.add_argument("--skip-ingest", action="store_true")
    p.add_argument("--api-key", default=None)
    p.add_argument("--warehouse-dir", default="./warehouse_data")
    p.add_argument("--manifest", action="store_true",
                   help="run the warehouse in manifest-commit mode "
                        "(object-store-safe atomic publishes, time "
                        "travel, data skipping)")
    return p.parse_args(argv)


def main(argv=None) -> None:
    from _event_intelligence_data_warehouse_spark.session import get_spark

    args = parse_args(argv)
    spark = get_spark("eidw-pipeline")
    result = run_pipeline(spark, args.warehouse_dir, args)
    for k, v in result.items():
        print(f"{k}: {v}")


if __name__ == "__main__":
    main()
