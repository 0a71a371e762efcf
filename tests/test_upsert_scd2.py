"""Upsert and SCD2 operator semantics (SURVEY.md §2.5 U2-U6)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.operators.scd2 import scd2_apply
from _event_intelligence_data_warehouse_spark.operators.upsert import (
    assign_surrogate_keys,
    dedup_keys,
    insert_if_absent,
    merge_upsert,
)


def test_dedup_latest_wins(spark):
    df = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 1, "only")],
        "k string, v int, tag string",
    )
    out = dedup_keys(df, ["k"], [F.desc("v")]).orderBy("k").collect()
    assert [(r.k, r.tag) for r in out] == [("a", "new"), ("b", "only")]


def test_insert_if_absent(spark):
    existing = spark.createDataFrame([("a", 1)], "k string, v int")
    incoming = spark.createDataFrame([("a", 9), ("b", 2)], "k string, v int")
    out = insert_if_absent(existing, incoming, ["k"]).collect()
    assert [(r.k, r.v) for r in out] == [("b", 2)]


def test_merge_upsert_preserves_requested_columns(spark):
    existing = spark.createDataFrame(
        [("a", "olds", 100), ("b", "keep", 200)], "k string, status string, first_seen int"
    )
    incoming = spark.createDataFrame(
        [("a", "news", 999), ("c", "ins", 300)], "k string, status string, first_seen int"
    )
    out = {
        r.k: (r.status, r.first_seen)
        for r in merge_upsert(existing, incoming, ["k"], preserve=["first_seen"]).collect()
    }
    assert out == {
        "a": ("news", 100),   # updated attr, preserved first_seen
        "b": ("keep", 200),   # untouched existing
        "c": ("ins", 300),    # inserted
    }


def test_assign_surrogate_keys_deterministic_continuation(spark):
    existing = spark.createDataFrame([(5, "x")], "sk long, nk string")
    new = spark.createDataFrame([("b",), ("a",)], "nk string")
    out = {r.nk: r.sk for r in assign_surrogate_keys(existing, new, "sk", ["nk"]).collect()}
    assert out == {"a": 6, "b": 7}


def _ts(d):
    return datetime.datetime(2026, 1, d)


def test_scd2_insert_change_close(spark):
    cur = spark.createDataFrame(
        [
            (1, "nk1", "Arena", "Berlin", _ts(1), None, True, _ts(1)),
            (2, "nk2", "Halle", "Munich", _ts(1), None, True, _ts(1)),
        ],
        "sk long, nk string, name string, city string, "
        "valid_from timestamp, valid_to timestamp, is_current boolean, "
        "created_at timestamp",
    )
    incoming = spark.createDataFrame(
        [
            ("nk1", "Arena", "Berlin"),     # unchanged
            ("nk2", "Halle Neu", "Munich"), # changed -> close + version
            ("nk3", "Dom", "Cologne"),      # new
        ],
        "nk string, name string, city string",
    )
    out = scd2_apply(
        cur,
        incoming,
        nk="nk",
        attrs=["name", "city"],
        sk_col="sk",
        effective_ts=F.lit(_ts(5)).cast("timestamp"),
        defaults={"created_at": F.lit(_ts(5)).cast("timestamp")},
    )
    rows = {(r.nk, r.is_current): r for r in out.collect()}
    assert len(rows) == 4
    # unchanged row untouched
    assert rows[("nk1", True)].sk == 1
    # changed: old version closed at effective ts
    closed = rows[("nk2", False)]
    assert closed.sk == 2 and closed.valid_to == _ts(5)
    new_v = rows[("nk2", True)]
    assert new_v.name == "Halle Neu" and new_v.valid_from == _ts(5)
    # surrogate keys continue deterministically: nk2-v2 and nk3 get 3/4
    # ordered by nk
    assert {rows[("nk2", True)].sk, rows[("nk3", True)].sk} == {3, 4}


def test_scd2_idempotent_reapply(spark):
    cur = spark.createDataFrame(
        [(1, "nk1", "Arena", "Berlin", _ts(1), None, True, _ts(1))],
        "sk long, nk string, name string, city string, "
        "valid_from timestamp, valid_to timestamp, is_current boolean, "
        "created_at timestamp",
    )
    incoming = spark.createDataFrame(
        [("nk1", "Arena", "Berlin")], "nk string, name string, city string"
    )
    out = scd2_apply(
        cur, incoming, nk="nk", attrs=["name", "city"], sk_col="sk",
        effective_ts=F.lit(_ts(9)).cast("timestamp"),
    )
    assert out.count() == 1
    assert out.filter(F.col("is_current")).count() == 1


def test_snapshot_diff_classifies_all_change_kinds(spark):
    """insert/delete/update each detected; unchanged keys absent;
    NULL -> value and value -> NULL count as updates (null-safe)."""
    from _event_intelligence_data_warehouse_spark.operators import upsert as up

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),      # unchanged
            (2, "b", 21.0),      # value update
            (3, "c", 30.0),      # NULL -> value: update
            (5, "e", 50.0),      # insert
        ],                        # 4 deleted
        "k long, name string, v double",
    )
    got = {r.k: r.change for r in up.snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "update", 3: "update", 4: "delete", 5: "insert"}


def test_snapshot_diff_respects_compare_cols(spark):
    """Columns outside compare_cols never trigger an update."""
    from _event_intelligence_data_warehouse_spark.operators import upsert as up

    old = spark.createDataFrame([(1, "x", 1.0)], "k long, name string, v double")
    new = spark.createDataFrame([(1, "y", 1.0)], "k long, name string, v double")
    assert up.snapshot_diff(old, new, ["k"], compare_cols=["v"]).count() == 0
    assert (
        up.snapshot_diff(old, new, ["k"]).collect()[0].change == "update"
    )


def test_validate_rules_counts_planted_violations(spark):
    from _event_intelligence_data_warehouse_spark.operators import validate as vl

    df = spark.createDataFrame(
        [
            (1, "ok", 5.0, 100),
            (1, "ok", 5.0, 100),      # duplicate key
            (None, "ok", 5.0, 100),   # null key
            (3, "BAD", 5.0, 100),     # bad status
            (4, "ok", -1.0, 100),     # out of range
            (5, "ok", None, 999),     # null value (not a range violation),
                                      # orphan fk
        ],
        "k long, status string, v double, fk long",
    )
    ref = spark.createDataFrame([(100,)], "rk long")
    rules = [
        vl.not_null("k_nn", "k"),
        vl.unique("k_uq", ["k"]),
        vl.accepted_values("status_ok", "status", ["ok"]),
        vl.value_range("v_rng", "v", 0, 10),
        vl.referential("fk_ok", "fk", ref, "rk"),
    ]
    got = {r.rule_name: (r.n_violations, r.passed)
           for r in vl.validate(df, rules).collect()}
    assert got == {
        "k_nn": (1, False),
        "k_uq": (1, False),
        "status_ok": (1, False),
        "v_rng": (1, False),
        "fk_ok": (1, False),
    }

    clean = spark.createDataFrame(
        [(1, "ok", 5.0, 100)], "k long, status string, v double, fk long"
    )
    assert all(r.passed for r in vl.validate(clean, rules).collect())


def test_validate_unique_struct_key_semantics(spark):
    """Composite unique keys compare as tuples, not string concats:
    ('ab','c') vs ('a','bc') are distinct; keys with any NULL component
    never count as duplicates (oracle COUNT(col) NULL-exclusion)."""
    from _event_intelligence_data_warehouse_spark.operators import validate as vl

    df = spark.createDataFrame(
        [
            ("ab", "c"),    # adjacency pair 1 — NOT a dup of pair 2
            ("a", "bc"),    # adjacency pair 2
            (None, "x"),    # NULL-bearing keys fold under concat_ws,
            (None, "y"),    # but must not count as duplicates
            ("k", None),
            ("dup", "dup"),
            ("dup", "dup"),  # the only real duplicate
        ],
        "a string, b string",
    )
    got = vl.validate(df, [vl.unique("ab_uq", ["a", "b"])]).collect()[0]
    assert (got.n_violations, got.passed) == (1, False)


def test_validate_row_local_rules_share_one_scan(spark):
    """However many row-local rules are declared, the frame is scanned
    once (a single aggregate node; no unions of per-rule scans)."""
    from _event_intelligence_data_warehouse_spark.operators import validate as vl

    df = spark.range(100).selectExpr("id as k", "'ok' as status",
                                     "cast(id as double) as v")
    rules = [
        vl.not_null("a", "k"),
        vl.unique("b", ["k"]),
        vl.accepted_values("c", "status", ["ok"]),
        vl.value_range("d", "v", 0, 1000),
    ]
    plan = (
        vl.validate(df, rules)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Range (0, 100") == 1, (
        "row-local rules re-scanned the input instead of sharing one pass"
    )


def test_assign_surrogate_keys_bulk_path_identical(spark):
    """The bulk regime (repartitionByRange + per-partition row_number +
    exclusive prefix-sum offsets) must assign EXACTLY the keys the
    global-window regime assigns — the r8 verdict item 4 contract."""
    existing = spark.createDataFrame([(100, "zzz")], "sk long, nk string")
    new = spark.range(0, 5000).selectExpr(
        "concat('k', lpad(cast(id as string), 6, '0')) as nk",
        "id * 2 as payload",
    )
    incremental = {
        r.nk: r.sk
        for r in assign_surrogate_keys(
            existing, new, "sk", ["nk"], bulk=False
        ).collect()
    }
    bulk = {
        r.nk: r.sk
        for r in assign_surrogate_keys(
            existing, new, "sk", ["nk"], bulk=True
        ).collect()
    }
    assert bulk == incremental
    assert incremental["k000000"] == 101
    assert incremental["k004999"] == 5100
    assert len(set(incremental.values())) == 5000


def test_assign_surrogate_keys_bulk_plan_has_no_global_sort(spark):
    """The bulk plan's row-scale sort must be range-partitioned (every
    partition sorts in parallel); the only single-partition window runs
    over the O(#partitions) count frame."""
    from _event_intelligence_data_warehouse_spark.operators.upsert import (
        assign_surrogate_keys,
    )

    existing = spark.createDataFrame([(0, "x")], "sk long, nk string")
    new = spark.range(0, 10000).selectExpr("cast(id as string) as nk")
    plan = (
        assign_surrogate_keys(existing, new, "sk", ["nk"], bulk=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning(nk" in plan, plan[:1500]
    # the row-scale window partitions by __pid — never an empty
    # PARTITION BY over the new-rows frame
    assert "windowspecdefinition(__pid" in plan or "__pid" in plan


def test_merge_upsert_null_key_rows_keep_surrogate_key(spark):
    """A stored row whose natural key is NULL never matches a batch key,
    so it must pass through with its surrogate key, and new keys continue
    from the true max, which that row may hold. Two batches in a row."""
    existing = spark.createDataFrame(
        [(1, "a_1", "old"), (2, None, "orphan")], "sk long, nk string, v string"
    )
    batch1 = spark.createDataFrame(
        [("a_1", "new"), ("b_2", "ins")], "nk string, v string"
    )
    once = merge_upsert(existing, batch1, ["nk"], sk_col="sk")
    assert sorted(once.collect(), key=lambda r: r.sk) == [
        (1, "a_1", "new"), (2, None, "orphan"), (3, "b_2", "ins"),
    ]
    batch2 = spark.createDataFrame([("c_3", "ins2")], "nk string, v string")
    twice = merge_upsert(once, batch2, ["nk"], sk_col="sk")
    assert sorted(twice.collect(), key=lambda r: r.sk) == [
        (1, "a_1", "new"), (2, None, "orphan"), (3, "b_2", "ins"),
        (4, "c_3", "ins2"),
    ]
