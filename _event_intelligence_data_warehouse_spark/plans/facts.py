"""Fact load: batch dedup -> star join -> merge upsert
(/root/reference/warehouse/load_facts.sql re-expressed; SURVEY.md §2.5-2.6).

One fact-load path with key ``source || '_' || raw_event_id`` — the
reference has two conflicting key formulas (SURVEY.md §0.2); the loader's
is canonical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.functions.keys import (
    event_nk,
    price_avg_expr,
    price_to_eur,
    venue_nk,
)
from _event_intelligence_data_warehouse_spark.operators.upsert import (
    SURROGATE_GLOBAL_WINDOW_MAX_ROWS,
    dedup_keys,
    merge_upsert,
)


def build_fact_rows(
    stg: DataFrame,
    dim_date: DataFrame,
    dim_venue: DataFrame,
    dim_category: DataFrame,
    dim_source: DataFrame,
    *,
    loaded_at: Column,
) -> DataFrame:
    """Deduped staging batch -> fact rows with resolved dimension keys.

    Joins (load_facts.sql:75-90): all LEFT on equi-keys; the venue join is
    on the md5 expression key with the ``is_current`` residual (J2). Dims
    are broadcast — at 100 TB the fact side streams and no shuffle occurs
    on the fact table at all for this stage.
    """
    batch = dedup_keys(
        stg,
        ["source", "raw_event_id"],
        [F.desc("ingested_at"), F.desc("ingest_id")],
    ).withColumn("_venue_nk", venue_nk("venue_name", "venue_city"))

    dd = F.broadcast(dim_date.select("date_id", "full_date"))
    dv = F.broadcast(
        dim_venue.filter(F.col("is_current")).select("venue_sk", "venue_nk")
    )
    dc = F.broadcast(
        dim_category.select(
            "category_sk", F.col("category_name"), F.col("subcategory").alias(
                "_subcat"
            )
        )
    )
    ds = F.broadcast(dim_source.select("source_sk", "source_name"))

    joined = (
        batch.join(dd, batch.event_date == dd.full_date, "left")
        .join(dv, batch._venue_nk == dv.venue_nk, "left")
        .join(
            dc,
            (batch.category == dc.category_name)
            & (batch.subcategory == dc._subcat),
            "left",
        )
        .join(ds, batch.source == ds.source_name, "left")
    )

    return joined.select(
        event_nk("source", "raw_event_id").alias("event_nk"),
        F.col("date_id").cast("long"),
        F.col("venue_sk").cast("long"),
        F.col("category_sk").cast("long"),
        F.col("source_sk").cast("long"),
        F.col("event_name"),
        F.col("url").alias("event_url"),
        F.col("event_status"),
        F.col("price_min"),
        F.col("price_max"),
        price_avg_expr("price_min", "price_max").alias("price_avg"),
        F.col("currency"),
        price_to_eur("price_min", "currency").alias("price_min_eur"),
        F.col("ingested_at"),
        loaded_at.alias("loaded_at"),
        F.lit(False).alias("is_deleted"),
        F.col("ingest_id").alias("_ingest_id"),
    )


def upsert_facts(
    existing: DataFrame,
    incoming: DataFrame,
    *,
    sk_source: DataFrame | None = None,
    bulk: bool = False,
) -> DataFrame:
    """Merge semantics of load_facts.sql:92-98: on event_nk match refresh
    the mutable attrs and loaded_at, preserving event_sk and the original
    ingested_at; new keys get deterministic surrogate keys.

    ``sk_source`` supplies the frame whose max(event_sk) seeds new keys —
    pass the FULL table when ``existing`` is a partition-pruned subset
    (partitioned upsert), so continuation stays globally unique.
    ``bulk`` marks a batch too large to broadcast (see merge_upsert)."""
    return merge_upsert(
        existing,
        incoming.drop("_ingest_id"),
        ["event_nk"],
        preserve=["ingested_at"],
        sk_col="event_sk",
        sk_source=sk_source,
        bulk=bulk,
    )


# Bucket count for the partitioned fact layout. 16 keeps test-scale file
# counts sane; a 100 TB deployment raises it (and/or adds a date column as
# the leading partition) so one bucket ~ one rewrite unit of a few GB.
FACT_BUCKETS = 16
FACT_PART_COL = "p_bucket"


def fact_bucket(nk_col: str = "event_nk", n: int = FACT_BUCKETS) -> Column:
    """Immutable partition bucket for a fact row: xxhash64 of the natural
    key. Re-ingesting a key always lands in its original bucket, so an
    upsert touches exactly the buckets of its incoming keys."""
    return F.pmod(F.xxhash64(F.col(nk_col)), F.lit(n)).cast("int")


def upsert_facts_partitioned(
    wh,
    incoming: DataFrame,
    *,
    table: str = "fact_events",
    n_buckets: int = FACT_BUCKETS,
) -> list[int]:
    """Partition-pruned fact upsert: the 100 TB path.

    The fact table lives hash-bucketed on ``p_bucket(event_nk)``. An
    incremental batch (1) tags its rows with their buckets, (2) reads ONLY
    those buckets of the existing table (partition pruning on the scan),
    (3) merges, and (4) writes back with dynamic partition overwrite —
    untouched buckets' files are never read or rewritten. The rewrite is
    every affected bucket in full, so it tracks the increment only while
    a batch has far fewer keys than there are buckets: at
    ``FACT_BUCKETS`` = 16 an hourly batch of ~140 keys touches all 16.
    The surrogate-key base comes from a column-pruned max over the full
    table (one column of every bucket). Returns the affected bucket ids
    (for observability/tests)."""
    from _event_intelligence_data_warehouse_spark import schemas

    # One job yields both the affected buckets and the batch size that
    # picks the surrogate-key regime.
    per_bucket = incoming.groupBy(
        fact_bucket(n=n_buckets).alias(FACT_PART_COL)
    ).count().collect()
    affected = sorted(r[0] for r in per_bucket)
    bulk = sum(r[1] for r in per_bucket) > SURROGATE_GLOBAL_WINDOW_MAX_ROWS
    full = wh.read(table, schemas.FACT_EVENTS)
    bucketed = FACT_PART_COL in full.columns
    # A stored table without the partition column predates the bucketed
    # layout: no pruning is possible this batch — merge against the full
    # image and write it back partitioned (one-time migration); every
    # later batch prunes.
    migrating = not bucketed and wh.exists(table)
    existing_aff = (
        full.filter(F.col(FACT_PART_COL).isin(affected)).drop(FACT_PART_COL)
        if bucketed else full
    )
    merged = upsert_facts(
        existing_aff, incoming, sk_source=full, bulk=bulk
    ).withColumn(FACT_PART_COL, fact_bucket(n=n_buckets))
    if migrating:
        # Dynamic overwrite would leave the legacy flat files at the
        # table root beside the new partition dirs (double-counted on
        # read), and an in-place static overwrite would truncate its own
        # input scan — so replace the full image with a partitioned
        # write: staged-dir + swap in legacy mode, snapshot + manifest
        # publish in manifest mode (atomic either way).
        wh.overwrite(table, merged, FACT_PART_COL)
    else:
        wh.overwrite_partitions(table, merged, FACT_PART_COL)
    return affected
