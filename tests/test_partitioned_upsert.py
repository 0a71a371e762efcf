"""Partition-pruned fact upsert: result-equality with the full-rewrite
merge, and the physical property that makes it the 100 TB path — buckets
not containing incoming keys are neither read nor rewritten."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.storage import Warehouse


def _fact_batch(spark, ids, *, status="onsale", ts="2026-01-01 00:00:00"):
    import datetime as dt

    from pyspark.sql import types as T

    when = dt.datetime.fromisoformat(ts)
    rows = [
        (
            f"csv_MOCK_{i:05d}", 1, 1, 1, 1, f"event {i}",
            "https://example.com", status, None, None, None, "EUR", None,
            when, when, False, i,
        )
        for i in ids
    ]
    fields = [f for f in schemas.FACT_EVENTS.fields if f.name != "event_sk"]
    schema = T.StructType(fields + [T.StructField("_ingest_id", T.LongType())])
    return spark.createDataFrame(rows, schema)


def _snapshot(table_dir: str) -> dict[str, tuple[str, ...]]:
    """partition dir -> sorted data file names (parquet part files are
    uniquely named per write, so identical names == not rewritten)."""
    out = {}
    for entry in sorted(os.listdir(table_dir)):
        sub = os.path.join(table_dir, entry)
        if os.path.isdir(sub) and "=" in entry:
            out[entry] = tuple(sorted(
                f for f in os.listdir(sub) if f.endswith(".parquet")
            ))
    return out


def _rows(df):
    cols = [f.name for f in schemas.FACT_EVENTS.fields]
    return sorted(tuple(r) for r in df.select(cols).collect())


def test_partitioned_upsert_matches_full_rewrite(spark, tmp_path):
    wh_p = Warehouse(spark, str(tmp_path / "part"))
    base = _fact_batch(spark, range(40))
    upd = _fact_batch(spark, range(30, 50), status="cancelled",
                      ts="2026-02-01 00:00:00")

    facts_mod.upsert_facts_partitioned(wh_p, base)
    facts_mod.upsert_facts_partitioned(wh_p, upd)

    empty = spark.createDataFrame([], schemas.FACT_EVENTS)
    full1 = facts_mod.upsert_facts(empty, base)
    full2 = facts_mod.upsert_facts(full1, upd)

    got = _rows(wh_p.read("fact_events"))
    want = _rows(full2)
    assert got == want, "partitioned upsert diverged from full-rewrite merge"
    # surrogate keys unique and complete
    sks = [r[0] for r in wh_p.read("fact_events").select("event_sk").collect()]
    assert len(sks) == len(set(sks)) == 50


def test_untouched_buckets_are_not_rewritten(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    facts_mod.upsert_facts_partitioned(wh, _fact_batch(spark, range(60)))
    before = _snapshot(wh.path("fact_events"))
    assert len(before) > 4, "test needs several populated buckets"

    touched = facts_mod.upsert_facts_partitioned(
        wh, _fact_batch(spark, [0], status="cancelled")
    )
    after = _snapshot(wh.path("fact_events"))

    touched_dirs = {f"{facts_mod.FACT_PART_COL}={b}" for b in touched}
    assert len(touched_dirs) == 1, "a single key must touch a single bucket"
    for part, files in before.items():
        if part in touched_dirs:
            assert after[part] != files, "touched bucket was not rewritten"
        else:
            assert after[part] == files, (
                f"untouched bucket {part} was rewritten"
            )
    # and the update actually landed
    row = (wh.read("fact_events")
           .filter(F.col("event_nk") == "csv_MOCK_00000").first())
    assert row["event_status"] == "cancelled"


def test_legacy_flat_fact_table_migrates_on_first_upsert(spark, tmp_path):
    """A warehouse whose fact table predates the bucketed layout (flat
    parquet, no p_bucket) must migrate transparently on the next upsert:
    full merge once, partitioned layout + correct rows after."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], schemas.FACT_EVENTS)
    legacy = facts_mod.upsert_facts(empty, _fact_batch(spark, range(25)))
    wh.overwrite("fact_events", legacy)  # old flat layout
    assert "p_bucket" not in wh.read("fact_events").columns

    facts_mod.upsert_facts_partitioned(
        wh, _fact_batch(spark, range(20, 35), status="cancelled")
    )
    out = wh.read("fact_events")
    assert facts_mod.FACT_PART_COL in out.columns, "layout did not migrate"
    assert out.count() == 35
    assert _snapshot(wh.path("fact_events")), "no partition dirs after migration"
    assert (
        out.filter(F.col("event_nk") == "csv_MOCK_00020").first()[
            "event_status"
        ]
        == "cancelled"
    )
    sks = [r[0] for r in out.select("event_sk").collect()]
    assert len(sks) == len(set(sks)) == 35


def test_pipeline_fact_table_is_bucket_partitioned(spark, tmp_path):
    whdir = str(tmp_path / "wh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "80"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    parts = _snapshot(os.path.join(whdir, "fact_events"))
    assert parts and all(
        p.startswith(f"{facts_mod.FACT_PART_COL}=") for p in parts
    )


def test_compact_unpartitioned_reduces_files_preserves_rows(spark, tmp_path):
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # simulate many tiny incremental appends
    for i in range(8):
        wh.append("t", spark.range(i * 10, (i + 1) * 10).toDF("id"))
    before = sorted(r.id for r in wh.read("t").collect())
    n_before, _ = wh.file_stats("t")
    assert n_before >= 8, "appends should have left many part files"

    report = wh.compact("t", target_file_bytes=1 << 30)
    assert report["files_before"] == n_before
    assert report["files_after"] == 1, "1 GiB target should yield one file"
    after = sorted(r.id for r in wh.read("t").collect())
    assert after == before, "compaction changed table contents"


def test_compact_partitions_one_file_per_partition(spark, tmp_path):
    from pyspark.sql import functions as F

    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 60).select(
        "id", (F.col("id") % 3).alias("p")
    )
    # several appends -> multiple files per partition
    for i in range(4):
        (
            df.filter(F.col("id") % 4 == i)
            .write.mode("append").partitionBy("p")
            .parquet(wh.path("t"))
        )
    before = sorted((r.id, r.p) for r in wh.read("t").collect())
    n_before, _ = wh.file_stats("t")
    assert n_before > 3

    wh.compact_partitions("t", "p")
    n_after, _ = wh.file_stats("t")
    assert n_after == 3, "expected exactly one file per partition"
    after = sorted((r.id, r.p) for r in wh.read("t").collect())
    assert after == before
    import os
    parts = [d for d in os.listdir(wh.path("t")) if d.startswith("p=")]
    assert sorted(parts) == ["p=0", "p=1", "p=2"], "partition layout lost"


def _scan_paths(node, above=()):
    """(scan node, its ancestors nearest-first) for every parquet scan."""
    if node.nodeName().startswith("Scan parquet"):
        yield node, list(reversed(above))
    kids = node.children()
    for i in range(kids.size()):
        yield from _scan_paths(kids.apply(i), above + (node,))


def test_hourly_upsert_never_shuffles_existing_rows(spark, tmp_path):
    """An hourly-size batch merges into the stored fact table through
    broadcast joins: the existing rows stream to the write. Walking up
    from each scan of the stored table, the first Exchange is either
    absent (the merged rows), a broadcast (the keys the batch matched,
    at most one per batch key) or the one-row-per-task gather of the
    partial max(event_sk) that seeds new keys — never a hash or range
    shuffle of stored rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    facts_mod.upsert_facts_partitioned(wh, _fact_batch(spark, range(2000)))
    full = wh.read("fact_events", schemas.FACT_EVENTS)
    existing = full.filter(F.col(facts_mod.FACT_PART_COL).isin(list(range(16))))
    batch = _fact_batch(spark, range(1990, 2130), status="cancelled")
    merged = facts_mod.upsert_facts(
        existing.drop(facts_mod.FACT_PART_COL), batch, sk_source=full
    )
    root = merged._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()  # the initial plan, exchanges included

    streamed = 0
    scans = list(_scan_paths(root))
    assert len(scans) == 3, "expected merged rows, matched keys, key base"
    for _, above in scans:
        first = next((n for n in above if "Exchange" in n.nodeName()), None)
        if first is None:
            streamed += 1
        elif first.nodeName() == "Exchange":
            assert first.outputPartitioning().toString() == "SinglePartition"
            assert "partial_max(event_sk" in first.child().simpleString(50)
        else:
            assert first.nodeName() == "BroadcastExchange", first.nodeName()
    assert streamed == 1, "the stored rows must stream to the union"
    # the merge is still right: 140 batch keys, 10 of them updates
    assert merged.count() == 2130
    assert merged.filter(F.col("event_status") == "cancelled").count() == 140
