"""Dimension builds (SURVEY.md §2.5 U1/U3/U5/U6, §2.3 D1-D6).

Every change to a dimension adds rows: an insert-if-absent insert, or a
new SCD2 version. So each dimension is two steps: ``*_delta`` takes the
existing image and the staged batch and returns the batch's key-level
delta; ``*_image`` builds the new full image from that delta. The
pipeline collects which deltas are non-empty in one action and writes a
dimension only when the batch changes it (or the table does not exist
yet). All surrogate keys are deterministic (row_number over the natural
key, continuing from the existing max) — reproducibility is a
correctness feature here, not a nicety.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.functions.datetime_fns import (
    is_weekend,
    pg_day_number,
    weekday_name,
)
from _event_intelligence_data_warehouse_spark.functions.keys import (
    source_type_expr,
    venue_nk,
)
from _event_intelligence_data_warehouse_spark.operators.scd2 import (
    scd2_changes,
    scd2_image,
)
from _event_intelligence_data_warehouse_spark.operators.upsert import (
    assign_surrogate_keys,
    dedup_keys,
    insert_if_absent,
)


def date_attributes(full_date: Column) -> list[Column]:
    """dim_date attribute expressions (transform_events.sql:81-97),
    Postgres conventions preserved (DOW 0=Sunday, ISO week, trimmed
    names)."""
    d = full_date
    return [
        weekday_name(d).alias("day_of_week"),
        pg_day_number(d).alias("day_number"),
        F.weekofyear(d).cast("smallint").alias("week_number"),
        F.month(d).cast("smallint").alias("month_number"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.quarter(d).cast("smallint").alias("quarter"),
        F.year(d).cast("smallint").alias("year"),
        is_weekend(d).alias("is_weekend"),
        F.lit(False).alias("is_holiday"),
    ]


def date_delta(existing: DataFrame, stg: DataFrame) -> DataFrame:
    """The batch's distinct dates not yet in dim_date
    (transform_events.sql:81-97)."""
    dates = (
        stg.filter(F.col("event_date").isNotNull())
        .select(F.col("event_date").alias("full_date"))
        .distinct()
    )
    return insert_if_absent(existing, dates, ["full_date"])


def date_image(
    existing: DataFrame, delta: DataFrame, now: Column
) -> DataFrame:
    """``now`` is unused: dim_date has no load-time column."""
    d = F.col("full_date")
    new = delta.select(d, *date_attributes(d))
    new = assign_surrogate_keys(
        existing, new, "date_id", ["full_date"], bulk=False
    )
    return existing.unionByName(new.select(existing.columns))


def category_delta(existing: DataFrame, stg: DataFrame) -> DataFrame:
    """UNIQUE(category_name, subcategory) insert-if-absent
    (transform_events.sql:118-124)."""
    cats = stg.select(
        F.col("category").alias("category_name"), F.col("subcategory")
    ).distinct()
    return insert_if_absent(existing, cats, ["category_name", "subcategory"])


def category_image(
    existing: DataFrame, delta: DataFrame, now: Column
) -> DataFrame:
    new = (
        delta.withColumn("segment", F.lit(None).cast("string"))
        .withColumn("created_at", now)
    )
    new = assign_surrogate_keys(
        existing, new, "category_sk", ["category_name", "subcategory"],
        bulk=False,
    )
    return existing.unionByName(new.select(existing.columns))


def source_delta(existing: DataFrame, stg: DataFrame) -> DataFrame:
    """UNIQUE(source_name) insert-if-absent (transform_events.sql:127-138)."""
    srcs = stg.select(F.col("source").alias("source_name")).distinct()
    return insert_if_absent(existing, srcs, ["source_name"])


def source_image(
    existing: DataFrame, delta: DataFrame, now: Column
) -> DataFrame:
    new = (
        delta.withColumn("source_type", source_type_expr("source_name"))
        .withColumn("created_at", now)
    )
    new = assign_surrogate_keys(
        existing, new, "source_sk", ["source_name"], bulk=False
    )
    return existing.unionByName(new.select(existing.columns))


VENUE_ATTRS = ["venue_name", "city", "country", "latitude", "longitude"]


def venue_delta(existing: DataFrame, stg: DataFrame) -> DataFrame:
    """Real SCD2 on venue (U5): the venues that are new or whose
    attributes changed. Incoming = one row per venue_nk, deterministic
    tie-break (the reference's DISTINCT ON is order-undefined —
    transform_events.sql:106)."""
    incoming = (
        stg.select(
            venue_nk("venue_name", "venue_city").alias("venue_nk"),
            F.col("venue_name"),
            F.col("venue_city").alias("city"),
            F.col("venue_country").alias("country"),
            F.col("venue_lat").alias("latitude"),
            F.col("venue_lon").alias("longitude"),
        )
        .withColumn("_pos", F.struct("venue_name", "city"))
    )
    incoming = dedup_keys(
        incoming, ["venue_nk"], [F.asc_nulls_last("_pos")]
    ).drop("_pos")
    return scd2_changes(existing, incoming, nk="venue_nk", attrs=VENUE_ATTRS)


def venue_image(
    existing: DataFrame, delta: DataFrame, now: Column
) -> DataFrame:
    """Close + version on attribute change."""
    return scd2_image(
        existing,
        delta,
        nk="venue_nk",
        sk_col="venue_sk",
        effective_ts=now,
        order_by=["venue_nk"],
        defaults={"created_at": now},
    )


# name -> (delta, image): the delta decides whether the dimension is
# rewritten, the image is built from that same delta.
DIMENSIONS = {
    "dim_date": (date_delta, date_image),
    "dim_category": (category_delta, category_image),
    "dim_source": (source_delta, source_image),
    "dim_venue": (venue_delta, venue_image),
}


def changed(deltas: dict[str, DataFrame]) -> set[str]:
    """The dimensions whose delta has a row, in one action. A delta holds
    one row per new key or version, a dimension's worth at most."""
    tagged = [d.select(F.lit(name).alias("dim")) for name, d in deltas.items()]
    return {r.dim for r in functools.reduce(DataFrame.union, tagged).collect()}
