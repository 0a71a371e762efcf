"""Upsert operators: the Spark replacements for ``ON CONFLICT``
(SURVEY.md §2.5 U3/U4).

Spark has no in-place mutation, so:
- *insert-if-absent* = left-anti join of the incoming batch against the
  existing keys, then append;
- *merge upsert* = matched rows take incoming mutable attrs (preserving
  requested existing columns such as surrogate keys), unmatched existing
  rows pass through, unmatched incoming rows insert — produced as one
  logical plan, written back via atomic overwrite-swap.

Scale notes: the incoming batch is typically ≪ the existing table, so
``merge_upsert`` broadcasts the batch (and the ≤ batch-sized set of
existing keys it matched) and streams the existing side through
broadcast joins: existing rows are scanned, never shuffled. The
full-image rewrite is the price of raw parquet — behind Delta/Iceberg
the same plan becomes a MERGE with file-level pruning; the operator's
interface doesn't change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from _event_intelligence_data_warehouse_spark import cache


def dedup_keys(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Top-1-per-group with a deterministic ordering (U2): the engine's
    ``DISTINCT ON ... ORDER BY`` (load_facts.sql:12-17)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def insert_if_absent(existing: DataFrame, incoming: DataFrame,
                     keys: list[str]) -> DataFrame:
    """Rows of ``incoming`` whose key is not in ``existing`` (U3:
    ON CONFLICT DO NOTHING, transform_events.sql:97,115,124,138)."""
    return incoming.join(existing.select(*keys).distinct(), keys, "left_anti")


def merge_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    *,
    preserve: list[str] | None = None,
    sk_col: str | None = None,
    sk_source: DataFrame | None = None,
    bulk: bool = False,
) -> DataFrame:
    """Full merged table image (U4: ON CONFLICT DO UPDATE,
    load_facts.sql:92-98), as the union of two parts:

    - ``existing`` LEFT JOIN the broadcast batch: matched rows take the
      incoming value of every column except the ``preserve`` ones;
      unmatched rows pass through unchanged. A NULL key never matches,
      so its row keeps every value, surrogate key included.
    - incoming rows whose key is not in ``existing``: anti-joined
      against the existing keys the batch matched (a key-only semi-join
      against the broadcast batch keys, at most one row per batch key).

    Neither part shuffles ``existing``. Incoming keys must be unique.
    ``bulk`` marks a batch too large to broadcast (a backfill): the
    joins are then left to the planner, and new keys take the bulk
    regime of :func:`assign_surrogate_keys`.

    With ``sk_col`` the incoming frame lacks that column: matched rows
    keep their key and inserted rows get new ones from
    :func:`assign_surrogate_keys`, continuing from the max over
    ``sk_source`` (default ``existing``; pass the full table when
    ``existing`` is a partition-pruned subset). Otherwise the column
    sets must match and inserted rows keep their incoming values.
    """
    preserve = set(preserve or [])
    if sk_col is not None:
        preserve.add(sk_col)
    bc = (lambda df: df) if bulk else F.broadcast
    attrs = [c for c in incoming.columns if c not in keys]
    batch = bc(incoming.select(
        *keys,
        *[F.col(c).alias(f"__i_{c}") for c in attrs],
        F.lit(True).alias("__matched"),
    ))
    updated = existing.join(batch, keys, "left").select(*[
        F.when(F.col("__matched"), F.col(f"__i_{c}"))
        .otherwise(F.col(c)).alias(c)
        if c in attrs and c not in preserve else F.col(c)
        for c in existing.columns
    ])
    hit = existing.select(*keys).join(
        bc(incoming.select(*keys)), keys, "left_semi"
    )
    inserted = incoming.join(bc(hit), keys, "left_anti")
    if sk_col is not None:
        inserted = assign_surrogate_keys(
            existing if sk_source is None else sk_source,
            inserted, sk_col, keys, bulk=bulk,
        )
    return updated.unionByName(inserted.select(existing.columns))


#: Above this many new rows the global-window surrogate path would sort
#: the whole batch on ONE reducer; assign_surrogate_keys switches to the
#: range-partitioned two-phase plan instead. Steady-state dimension
#: batches sit far below it; an initial fact backfill (where every row
#: is new) sits far above.
SURROGATE_GLOBAL_WINDOW_MAX_ROWS = 1_000_000


def assign_surrogate_keys(
    existing: DataFrame,
    new_rows: DataFrame,
    sk_col: str,
    order_by: list[str],
    *,
    bulk: bool = False,
) -> DataFrame:
    """Deterministic surrogate keys for new rows (U6): continue from
    max(existing sk) in the total order of ``order_by`` — which must be
    a UNIQUE key of ``new_rows`` (the natural key), or the total order
    (and therefore the assignment) is not well defined.

    Two value-identical physical regimes, chosen by the caller, who
    knows its batch size:

    - **incremental** (``bulk=False``): one unpartitioned row_number
      window. The batch sorts on a single reducer — fine for dimension
      batches and the bounded new-key slices of a steady-state load, a
      scale-killer for a backfill.
    - **bulk** (``bulk=True``; the fact path sets it when the batch
      exceeds :data:`SURROGATE_GLOBAL_WINDOW_MAX_ROWS`):
      repartitionByRange on the natural key, per-range-partition
      row_number, plus an exclusive prefix-sum of partition counts as
      offsets. Every partition sorts in parallel; the only global
      window runs over O(#partitions) count rows. Keys are identical
      to the incremental path because range partitions tile the same
      total order (pinned by tests/test_upsert_scd2.py).
    """
    base = existing.agg(
        F.coalesce(F.max(sk_col), F.lit(0)).cast("long").alias("__base")
    )
    if not bulk:
        w = Window.orderBy(*order_by)
        return (
            new_rows.crossJoin(F.broadcast(base))
            .withColumn(
                sk_col,
                (F.row_number().over(w) + F.col("__base")).cast("long"),
            )
            .drop("__base")
        )
    ranked = cache.persist(
        new_rows.repartitionByRange(*[F.col(c) for c in order_by])
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__pid").orderBy(*order_by)
            ),
        )
    )
    # exclusive prefix-sum over O(#partitions) rows — bounded frame
    counts = ranked.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    off_w = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(base))
        .withColumn(
            sk_col,
            (F.col("__rn") + F.col("__off") + F.col("__base")).cast("long"),
        )
        .drop("__pid", "__rn", "__off", "__base")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style change feed between two table snapshots: one row per
    changed key with ``change`` in {'insert', 'delete', 'update'} —
    insert = key only in new, delete = key only in old, update = key in
    both with any compared column differing (null-safe, so NULL -> value
    and value -> NULL both count as changes; unchanged rows are absent).

    The derivational complement of MERGE: upsert APPLIES a batch,
    snapshot_diff RECOVERS the batch that separates two images — the
    feed a downstream incremental consumer (rollup refresh, cache
    invalidation, replication) wants when the source has no native CDC.

    Scale: one full outer equi-join on the key — the minimum possible;
    comparisons are codegen'd null-safe equality per column, no hashing,
    no UDFs. At table-format maturity this is read from the commit log
    instead; the semantics here are identical."""
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c not in key_cols
        ]
    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"__ov_{c}") for c in compare_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"__nk_{c}") for c in key_cols],
        *[F.col(c).alias(f"__nv_{c}") for c in compare_cols],
        F.lit(True).alias("__in_new"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__ok_{c}") == F.col(f"__nk_{c}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"__ov_{c}").eqNullSafe(
            F.col(f"__nv_{c}")
        )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"__ok_{c}"), F.col(f"__nk_{c}")).alias(c)
        for c in key_cols
    ]
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*out_keys, "change")
    )
