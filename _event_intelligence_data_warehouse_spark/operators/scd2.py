"""SCD Type 2 versioning (SURVEY.md §2.5 U5).

The reference declares SCD2 columns on dim_venue
(/root/reference/warehouse/schema_star.sql:39-41) and joins on
``is_current = TRUE`` (load_facts.sql:83-84) but never actually expires a
version — no UPDATE ever sets valid_to. This operator implements the
documented intent (docs/data_model.md:59-61): on attribute change, close
the current version and append a new one.

Validity is timestamp-grained (the reference's DATE-grained valid_from
collapses two same-day changes — SURVEY.md §7.3e).

Pure DataFrame program: one join + three unions, no driver collects.
The change detection (:func:`scd2_changes`) is its own step, so a caller
can ask whether a batch changes the dimension before rewriting it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scd2_changes(
    current_table: DataFrame, incoming: DataFrame, *, nk: str, attrs: list[str]
) -> DataFrame:
    """The incoming rows ``nk, *attrs`` that need a new version: their nk
    has no current version, or a NULL-safe attribute comparison with the
    current version differs. ``__known`` marks the changed ones, whose
    current version closes. ``incoming`` holds at most one row per nk
    (pre-dedup with operators.upsert.dedup_keys)."""
    cur = current_table.filter(F.col("is_current")).select(
        nk, *attrs, F.lit(True).alias("__known")
    )
    joined = incoming.select(nk, *attrs).alias("i").join(
        cur.alias("c"), nk, "left"
    )
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(f"i.{a}").eqNullSafe(F.col(f"c.{a}"))
    known = F.col("c.__known").isNotNull()
    return joined.filter(~known | changed).select(
        nk, *[F.col(f"i.{a}").alias(a) for a in attrs], known.alias("__known")
    )


def scd2_image(
    current_table: DataFrame,
    changes: DataFrame,
    *,
    nk: str,
    sk_col: str,
    effective_ts: Column,
    order_by: list[str] | None = None,
    defaults: dict[str, Column] | None = None,
) -> DataFrame:
    """The new full image of an SCD2 dimension given its
    :func:`scd2_changes`: each changed nk's current version closes
    (``valid_to=effective_ts``, ``is_current=false``), every change
    appends a current version with a new surrogate key, and every other
    row passes through untouched."""
    cols = current_table.columns
    cur = current_table.filter(F.col("is_current"))
    hist = current_table.filter(~F.col("is_current"))
    changed_nks = changes.filter(F.col("__known")).select(nk)

    closed = (
        cur.join(changed_nks, nk, "left_semi")
        .withColumn("valid_to", effective_ts)
        .withColumn("is_current", F.lit(False))
    )
    untouched_current = cur.join(changed_nks, nk, "left_anti")

    # New version rows: surrogate keys continue deterministically.
    from _event_intelligence_data_warehouse_spark.operators.upsert import (
        assign_surrogate_keys,
    )

    fresh = (
        changes.drop("__known")
        .withColumn("valid_from", effective_ts)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    defaults = defaults or {}
    types = dict(current_table.dtypes)
    for c in cols:
        if c not in fresh.columns and c != sk_col:
            fresh = fresh.withColumn(
                c, defaults.get(c, F.lit(None).cast(types[c]))
            )
    # bulk=False: SCD2 change slices are dimension-cardinality
    fresh = assign_surrogate_keys(
        current_table, fresh, sk_col, order_by or [nk], bulk=False
    ).select(cols)

    return (
        hist.select(cols)
        .unionByName(closed.select(cols))
        .unionByName(untouched_current.select(cols))
        .unionByName(fresh)
    )


def scd2_apply(
    current_table: DataFrame,
    incoming: DataFrame,
    *,
    nk: str,
    attrs: list[str],
    sk_col: str,
    effective_ts: Column,
    order_by: list[str] | None = None,
    defaults: dict[str, Column] | None = None,
) -> DataFrame:
    """Return the new full image of an SCD2 dimension table.

    ``current_table`` carries ``sk_col, nk, *attrs, valid_from, valid_to,
    is_current`` (+ any passthrough columns preserved per-row).
    ``incoming`` carries ``nk, *attrs`` — at most one row per nk
    (pre-dedup with operators.upsert.dedup_keys).

    Semantics per natural key:
    - unknown nk            -> insert version (valid_from=effective_ts, current)
    - known nk, same attrs  -> unchanged
    - known nk, changed     -> close current version (valid_to=effective_ts,
                               is_current=false) + append new version
    Historical (already-closed) rows always pass through untouched.
    """
    return scd2_image(
        current_table,
        scd2_changes(current_table, incoming, nk=nk, attrs=attrs),
        nk=nk,
        sk_col=sk_col,
        effective_ts=effective_ts,
        order_by=order_by,
        defaults=defaults,
    )


def point_in_time_join(
    facts: DataFrame,
    versions: DataFrame,
    *,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Resolve each fact row against the dimension VERSION valid at its
    event time: equi-join on the natural key plus the validity residual
    ``valid_from <= ts < valid_to`` (open current version matches any
    later ts). The point-in-time complement of the reference's
    ``is_current = TRUE`` join — historical facts resolve historical
    attribute values, the defining query of an SCD2 warehouse.

    Scale: the join is hash-partitioned on the key; the interval check is
    a residual predicate, so each fact row meets only its key's versions
    (dim-change cadence, typically a handful) — no range explosion. For
    keys with very long version chains, the as-of union trick
    (operators.asof) is the fallback."""
    f = facts.alias("f")
    v = versions.alias("v")
    cond = (
        (F.col(f"f.{key}") == F.col(f"v.{key}"))
        & (F.col(f"f.{ts_col}") >= F.col(f"v.{valid_from}"))
        & (
            F.col(f"v.{valid_to}").isNull()
            | (F.col(f"f.{ts_col}") < F.col(f"v.{valid_to}"))
        )
    )
    return f.join(v, cond, how).select(
        *[F.col(f"f.{c}") for c in facts.columns],
        *[
            F.col(f"v.{c}").alias(f"v_{c}")
            for c in versions.columns
            if c != key
        ],
    )
