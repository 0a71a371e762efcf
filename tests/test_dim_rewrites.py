"""An hourly batch rewrites only the dimensions it changes: an unchanged
dimension keeps its files (and, in manifest mode, its version), and the
images equal those of rewriting every dimension every batch."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.plans import dims as dims_mod
from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.sources.synthetic import (
    generate_sample_events,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse

DIMS = tuple(dims_mod.DIMENSIONS)
# Set from current_timestamp() at write time, so two runs never agree.
CLOCK_COLS = {"created_at", "valid_from", "valid_to"}


def _files(wh: Warehouse) -> dict[str, list[str]]:
    return {
        name: sorted(
            f for f in os.listdir(wh.path(name)) if f.endswith(".parquet")
        )
        for name in DIMS
    }


def _land_and_load(
    spark, wh: Warehouse, batch, tag: str, source: str = "csv"
) -> dict:
    """Land ``batch`` under fresh event ids and run the pipeline on it."""
    batch = batch.withColumn("event_id", F.concat("event_id", F.lit(tag)))
    bronze.land_batch(wh, batch, source=source)
    return pipeline.run_pipeline(
        spark, wh.root,
        pipeline.parse_args(["--skip-ingest"] + (["--manifest"] if wh.manifest
                                                 else [])),
    )


def test_unchanged_batch_keeps_every_dimension_file(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = generate_sample_events(spark, 60)
    _land_and_load(spark, wh, base, "")
    before = _files(wh)
    r = _land_and_load(spark, wh, base, "_b")
    assert r["load"] == {"staged": 60}
    assert r["summary"]["fact_events"] == 120
    assert _files(wh) == before


def test_unchanged_batch_adds_no_dimension_version_in_manifest_mode(
    spark, tmp_path
):
    wh = Warehouse(spark, str(tmp_path / "mwh"), manifest=True)
    base = generate_sample_events(spark, 60)
    _land_and_load(spark, wh, base, "")
    versions = {name: wh._current_version(name) for name in DIMS}
    fact_version = wh._current_version("fact_events")
    _land_and_load(spark, wh, base, "_b")
    assert {name: wh._current_version(name) for name in DIMS} == versions
    assert wh._current_version("fact_events") > fact_version


def test_new_date_rewrites_only_dim_date(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = generate_sample_events(spark, 60)
    _land_and_load(spark, wh, base, "")
    before = _files(wh)
    n_dates = wh.read("dim_date").count()
    _land_and_load(
        spark, wh, base.limit(1).withColumn("event_date", F.lit("2031-03-04")),
        "_d",
    )
    after = _files(wh)
    assert [n for n in DIMS if after[n] != before[n]] == ["dim_date"]
    dates = wh.read("dim_date")
    assert dates.count() == n_dates + 1
    new = dates.filter(F.col("full_date") == F.lit("2031-03-04").cast("date"))
    assert new.first().date_id == n_dates + 1


def test_venue_attribute_change_closes_and_versions(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = generate_sample_events(spark, 60)
    _land_and_load(spark, wh, base, "")
    before = _files(wh)
    n_venues = wh.read("dim_venue").count()
    _land_and_load(
        spark, wh, base.limit(1).withColumn("venue_lat", F.lit("12.3456789")),
        "_v",
    )
    after = _files(wh)
    assert [n for n in DIMS if after[n] != before[n]] == ["dim_venue"]

    venues = wh.read("dim_venue").collect()
    assert len(venues) == n_venues + 1
    by_nk: dict[str, list] = {}
    for r in venues:
        by_nk.setdefault(r.venue_nk, []).append(r)
    [(old, new)] = [
        sorted(vs, key=lambda r: r.venue_sk)
        for vs in by_nk.values() if len(vs) > 1
    ]
    assert not old.is_current and old.valid_to is not None
    assert new.is_current and new.valid_to is None
    assert new.valid_from == old.valid_to
    assert float(new.latitude) == 12.3456789
    assert new.venue_sk == n_venues + 1
    assert (old.venue_name, old.city) == (new.venue_name, new.city)


def _image(wh: Warehouse, name: str) -> list[tuple]:
    df = wh.read(name)
    cols = [c for c in df.columns if c not in CLOCK_COLS]
    if "valid_to" in df.columns:
        df = df.withColumn("__open", F.col("valid_to").isNull())
        cols.append("__open")
    return sorted(tuple(r) for r in df.select(cols).collect())


def test_dimension_images_equal_always_rewrite_path(
    spark, tmp_path, monkeypatch
):
    """Six batches: the first load, an unchanged one, a new date, a venue
    change, a new category from a new source, a second change of the
    same venue. Rewriting every dimension every batch (the probe patched
    to report all four changed) yields the same images."""
    base = generate_sample_events(spark, 60)
    batches = [
        (base, "", "csv"),
        (base.limit(20), "_same", "csv"),
        (base.limit(2).withColumn("event_date", F.lit("2031-05-06")),
         "_date", "csv"),
        (base.limit(1).withColumn("venue_lon", F.lit("-1.2345678")),
         "_venue", "csv"),
        (base.limit(3).withColumn("category", F.lit("Opera")), "_cat", "api"),
        (base.limit(1).withColumn("venue_lon", F.lit("2.5")),
         "_venue2", "csv"),
    ]

    def load_all(wh: Warehouse) -> dict[str, int]:
        for batch, tag, source in batches:
            _land_and_load(spark, wh, batch, tag, source)
        return pipeline.summary(wh)

    only_changed = Warehouse(spark, str(tmp_path / "changed"))
    counts = load_all(only_changed)
    monkeypatch.setattr(dims_mod, "changed", lambda deltas: set(deltas))
    always = Warehouse(spark, str(tmp_path / "always"))
    assert load_all(always) == counts
    assert counts["dim_source"] == 2 and counts["dim_category"] == 6
    for name in DIMS:
        assert _image(only_changed, name) == _image(always, name), name
