"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Checks that every workload runs once untraced and once traced, that each
prints every metric named in BENCHMARK.json with its unit, that its checks
pass, that a deliberately corrupted result is counted as a failed
operation, and that the benchmark fails without a result in a directory
holding only BENCHMARK.json and the benchmark's files. Exits 0 when all
hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def _run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    sys.path.insert(0, HERE)
    import run as bench_run

    problems = []
    if want[0] != dict(bench_run.END_TO_END) or want[1] != dict(bench_run.PER_LAYER):
        problems.append("BENCHMARK.json metric names/units differ from run.py")

    workloads = [w["name"] for w in bench["workloads"]] + ["full_load"]
    for workload in workloads:
        for trace, extra in ((0, ()), (1, ()), (0, ("--corrupt",))):
            tag = f"{workload} trace={trace} {' '.join(extra)}".strip()
            rc, lines, err = _run(ROOT, workload, trace, "--sf", SF, *extra)
            if rc != 0 or len(lines) < 2:
                problems.append(f"{tag}: exit {rc}\n{err[-2000:]}")
                continue
            report, line = json.loads(lines[-2]), json.loads(lines[-1])
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want[trace]))}"
                                " missing or extra, or units differ")
            if extra:
                if line["correct"] or line["failed"] < 1 or not report["failures"]:
                    problems.append(f"{tag}: corrupted result not counted as failed")
            elif not line["correct"] or line["failed"]:
                problems.append(f"{tag}: checks failed: {report['failures']}")
            print(f"{tag}: attempted={line['attempted']} failed={line['failed']} "
                  f"failures={list(report['failures'])[:3]}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines, _ = _run(bare, workloads[0], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any(ln.startswith('{"correct"') for ln in lines):
        problems.append("bare directory: expected a non-zero exit and no result")
    else:
        print(f"bare directory: exit {rc}, no result")

    for p in problems:
        print("PROBLEM:", p)
    print("self-test", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
