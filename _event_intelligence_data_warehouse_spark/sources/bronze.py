"""Bronze landing: land source rows into ``raw_events`` with dedup-on-write
and run logging (SURVEY.md §2.1 S7/S9).

The reference batches ``INSERT ... ON CONFLICT DO NOTHING`` into
``raw.events`` (api_ingestor.py:94-117, csv_ingestor.py:120-136) — but its
raw table has no unique constraint, so the conflict clause never fires; the
documented *intent* (README.md:30) is dedup on (source, raw_event_id).
Here that intent is implemented explicitly as a left-anti join against the
live bronze keys before append. At 100 TB the anti-join's build side is
only the key columns, pruned from parquet, and the new batch is the (small)
probe side — no full-table shuffle.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.operators.validate import (
    observe_metrics,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse

RAW_TABLE = "raw_events"
INGESTION_LOG = "ingestion_log"
QUALITY_LOG_TABLE = "quality_log"

# CSV-contract column -> raw landing column (csv_ingestor.py:96-117)
_CSV_TO_RAW = {"event_id": "raw_event_id"}


def land_batch(
    wh: Warehouse,
    batch: DataFrame,
    *,
    source: str,
    run_id: str | None = None,
    ingested_at: datetime | None = None,
) -> dict:
    """Append a CSV-contract batch to bronze, dedup-on-write; returns run
    stats and writes the ingestion_log rows (running -> success/failed)."""
    run_id = run_id or str(uuid.uuid4())
    ingested_at = ingested_at or datetime.now(timezone.utc).replace(tzinfo=None)
    spark = batch.sparkSession

    started_at = datetime.now(timezone.utc).replace(tzinfo=None)
    _log(wh, spark, run_id, source, started_at, None, 0, 0, "running", None)

    try:
        rows = batch
        for src, dst in _CSV_TO_RAW.items():
            if src in rows.columns:
                rows = rows.withColumnRenamed(src, dst)
        fetched = rows.count()

        landed = rows.select(
            F.lit(None).cast("long").alias("ingest_id"),
            F.lit(source).alias("source"),
            *[
                (F.col(f.name).cast(f.dataType) if f.name in rows.columns
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in schemas.RAW_EVENTS.fields
                if f.name
                not in ("ingest_id", "source", "ingested_at", "is_processed",
                        "process_error")
            ],
            F.lit(ingested_at).cast("timestamp").alias("ingested_at"),
            F.lit(False).alias("is_processed"),
            F.lit(None).cast("string").alias("process_error"),
        )

        # Dedup-on-write: drop in-batch duplicates (keep first by id), then
        # anti-join the already-landed (source, raw_event_id) keys.
        landed = landed.dropDuplicates(["source", "raw_event_id"])
        existing = wh.read(RAW_TABLE, schemas.TABLES[RAW_TABLE]).select(
            "source", "raw_event_id"
        )
        fresh = landed.join(
            F.broadcast(existing) if _small(wh, RAW_TABLE) else existing,
            ["source", "raw_event_id"],
            "left_anti",
        )
        # Deterministic ingest_id: stable hash of the natural key + run.
        fresh = fresh.withColumn(
            "ingest_id", F.xxhash64(F.col("source"), F.col("raw_event_id"))
        ).select([f.name for f in schemas.RAW_EVENTS.fields])
        # records_loaded rides the append instead of a second anti-join.
        fresh, landed_obs = observe_metrics(
            fresh, "land_batch", {"loaded": F.count("*")}
        )
        wh.append(RAW_TABLE, fresh)
        loaded = landed_obs.get["loaded"]

        finished_at = datetime.now(timezone.utc).replace(tzinfo=None)
        _log(wh, spark, run_id, source, started_at, finished_at, fetched, loaded,
             "success", None)
        return {"run_id": run_id, "records_fetched": fetched,
                "records_loaded": loaded, "status": "success"}
    except Exception as exc:  # pragma: no cover - failure path
        finished_at = datetime.now(timezone.utc).replace(tzinfo=None)
        _log(wh, spark, run_id, source, started_at, finished_at, 0, 0,
             "failed", str(exc)[:500])
        raise


def _small(wh: Warehouse, table: str) -> bool:
    """Heuristic: broadcast the existing-keys side only while tiny. At real
    scale AQE's size-based broadcast decision takes over."""
    import os

    path = wh.path(table)
    if not os.path.isdir(path):
        return True
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    return total < 64 * 1024 * 1024


def _log(wh, spark, run_id, source, started_at, finished_at, fetched, loaded,
         status, error) -> None:
    """Append-only run log; 'current state' of a run = its last row
    (schema_raw.sql:44-54 as an event log, SURVEY.md §2.1 S9). The one
    row is written as one file by one task."""
    row = spark.createDataFrame(
        [
            (
                None,
                run_id,
                source,
                started_at,
                finished_at,
                fetched,
                loaded,
                status,
                error,
            )
        ],
        schemas.INGESTION_LOG,
    )
    wh.append(INGESTION_LOG, row.coalesce(1))


def current_runs(wh: Warehouse) -> DataFrame:
    """Latest state per run_id from the append-only log."""
    from pyspark.sql.window import Window

    log = wh.read(INGESTION_LOG, schemas.TABLES[INGESTION_LOG])
    w = (
        Window.partitionBy("run_id")
        .orderBy(
            F.desc_nulls_last("finished_at"),
            F.desc("status"),
        )
    )
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
