"""bench.py's regression guard compares a run with the newest recorded
bench run taken on the same core count."""

from __future__ import annotations

import json

import bench


def _record(tmp_path, name: str, cpus: int) -> str:
    path = tmp_path / name
    path.write_text(json.dumps(
        {"cpus": cpus, "parsed": {"queries": {"q": name}}}
    ))
    return str(path)


def test_reference_record_matches_core_count_then_newest_round(tmp_path):
    paths = [
        _record(tmp_path, name, cpus)
        for name, cpus in [
            ("BENCH_r9.json", 32), ("BENCH_r10.json", 32),
            ("BENCH_r12_c8.json", 8), ("BENCH_r13.json", 32),
            ("BENCH_r13_c8.json", 8),
        ]
    ]
    (tmp_path / "BENCH_r14.json").write_text("{not json")
    paths.append(str(tmp_path / "BENCH_r14.json"))
    assert bench._reference_record(paths, 32) == {"q": "BENCH_r13.json"}
    assert bench._reference_record(paths, 8) == {"q": "BENCH_r13_c8.json"}
    assert bench._reference_record(paths, 4) is None
    assert bench._reference_record(paths[:2], 32) == {"q": "BENCH_r10.json"}
