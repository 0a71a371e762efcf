"""Spans around calls into the warehouse's layers, Spark event-log parsing,
storage walks and process memory.

Spans are recorded from the benchmark's own files: :func:`patch_layers`
wraps the package's public functions in place for the life of one run.
Each span labels the Spark jobs it submits with ``setJobDescription``
(``<root>#<root id>/<label>#<id>``), so the event log attributes every job
to the innermost span and to the top-level step that caused it.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import os
import time

# Top-level span label -> the step its Spark counters are reported under.
STEP_OF = {
    "sources.events_adapter": "sources",
    "sources.land_batch": "sources",
    "plans.pipeline.step_transform_and_load": "plans.transform_load",
    "plans.pipeline.step_quality": "plans.quality",
    "plans.pipeline.step_kpis": "plans.kpis",
    "plans.kpis.materialise": "plans.kpis",
    "plans.pipeline.summary": "plans.summary",
    "contract.build": "contract.build",
    "contract.plan": "contract.plan",
    "contract.execute": "contract.execute",
}
JOB_COUNTERS = ["stages", "tasks", "executor_run_ms", "gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]


class Tracer:
    """Records spans while ``recording`` is set; a disabled tracer makes
    :meth:`span` a no-op so untraced runs carry no labelling."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.recording = False
        self.spans: list[dict] = []
        self.counts: collections.Counter = collections.Counter()
        self.samples: dict[str, list[float]] = collections.defaultdict(list)
        self._stack: list[tuple[str, int]] = []
        self._next_id = 0

    @property
    def active(self) -> bool:
        return self.enabled and self.recording

    def describe(self, text: str | None) -> None:
        """Label the jobs submitted outside spans (set-up, checks)."""
        if self.enabled:
            self.sc.setJobDescription(text)

    @contextlib.contextmanager
    def span(self, label: str, **attrs):
        if not self.active:
            yield
            return
        self._next_id += 1
        sid = self._next_id
        root = self._stack[0] if self._stack else (label, sid)
        parent = self._stack[-1] if self._stack else None
        self._stack.append((label, sid))
        self.sc.setJobDescription(f"{root[0]}#{root[1]}/{label}#{sid}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{root[0]}#{root[1]}/{parent[0]}#{parent[1]}" if parent
                else None
            )
            self.spans.append({
                "label": label, "id": sid, "root": root[0], "root_id": root[1],
                "parent": parent[1] if parent else None, "t0": t0, "t1": t1,
                **attrs,
            })

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counts[name] += n

    def sample(self, name: str, value: float) -> None:
        if self.active:
            self.samples[name].append(value)


def _wrap(tracer: Tracer, fn, label, on_call=None, on_result=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if on_call is not None:
            on_call(args, kwargs)
        with tracer.span(label(args, kwargs) if callable(label) else label):
            out = fn(*args, **kwargs)
        if on_result is not None:
            on_result(out)
        return out
    return wrapper


def patch_layers(tracer: Tracer):
    """Wrap the layers' public functions with spans and call counters.
    Returns a function that restores the originals."""
    from _event_intelligence_data_warehouse_spark import storage
    from _event_intelligence_data_warehouse_spark.plans import facts, pipeline

    saved = []

    def patch(owner, attr, label, on_call=None, on_result=None):
        original = getattr(owner, attr)
        saved.append((owner, attr, original))
        setattr(owner, attr, _wrap(tracer, original, label, on_call, on_result))

    for step in ("step_transform_and_load", "step_quality", "step_kpis",
                 "summary"):
        patch(pipeline, step, f"plans.pipeline.{step}")
    patch(pipeline, "stage_events", "plans.staging.stage_events")
    patch(facts, "upsert_facts_partitioned",
          "plans.facts.upsert_facts_partitioned",
          on_result=lambda buckets: tracer.sample(
              "plans.facts.buckets_rewritten_ratio",
              len(buckets) / facts.FACT_BUCKETS))

    def counter(name):
        return lambda args, kwargs: tracer.count(name)

    def overwrite_label(args, kwargs):
        table = args[1] if len(args) > 1 else kwargs["table"]
        return "plans.dims.overwrite" if table.startswith("dim_") else "storage.overwrite"

    wh = storage.Warehouse
    patch(wh, "read", "storage.read", counter("storage.read_calls"))
    for method in ("append", "overwrite_partitions", "set_watermark"):
        patch(wh, method, f"storage.{method}", counter("storage.write_calls"))
    patch(wh, "overwrite", overwrite_label, counter("storage.write_calls"))

    def restore():
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)
    return restore


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def spark_conf(event_dir: str) -> dict[str, str]:
    """Uncompressed, single-file event log (zstd needs a module this
    environment lacks)."""
    os.makedirs(event_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(event_dir: str) -> list[dict]:
    """Jobs with description, submit/complete times (s) and counters summed
    over their tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for name in os.listdir(event_dir):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = dict(
                        id=jid, desc=props.get("spark.job.description"),
                        submit=ev["Submission Time"] / 1000.0, complete=None,
                        **{c: 0 for c in JOB_COUNTERS},
                    )
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["complete"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    job = jobs[jid]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["tasks"] += 1
                    job["executor_run_ms"] += m.get("Executor Run Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return sorted(jobs.values(), key=lambda j: j["id"])


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def _span_ids(desc: str | None) -> tuple[int, int] | None:
    """(root span id, span id) from a ``<root>#<id>/<label>#<id>`` label."""
    if not desc or "/" not in desc:
        return None
    root, leaf = desc.split("/", 1)
    try:
        return int(root.rsplit("#", 1)[1]), int(leaf.rsplit("#", 1)[1])
    except (IndexError, ValueError):
        return None


def profile(spans: list[dict], jobs: list[dict]) -> list[dict]:
    """One row per span: wall and self time, and the Spark counters of the
    jobs it submitted itself. Top-level spans also get ``tree_*`` counters
    over every job submitted under them and ``driver_s``: wall time not
    covered by any of those jobs."""
    own, tree = collections.defaultdict(list), collections.defaultdict(list)
    for job in jobs:
        ids = _span_ids(job["desc"])
        if ids:
            tree[ids[0]].append(job)
            own[ids[1]].append(job)
    child_s = collections.Counter()
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["t1"] - s["t0"]
    rows = []
    for s in spans:
        wall = s["t1"] - s["t0"]
        row = dict(s, wall_s=wall, self_s=wall - child_s[s["id"]],
                   jobs=len(own[s["id"]]))
        for c in JOB_COUNTERS:
            row[c] = sum(j[c] for j in own[s["id"]])
        if s["parent"] is None:
            under = tree[s["id"]]
            busy = _union_s([(max(j["submit"], s["t0"]),
                              min(j["complete"] or s["t1"], s["t1"]))
                             for j in under])
            row["tree_jobs"] = len(under)
            row["driver_s"] = max(wall - busy, 0.0)
            for c in JOB_COUNTERS:
                row["tree_" + c] = sum(j[c] for j in under)
        rows.append(row)
    return rows


# --------------------------------------------------------------------------
# Storage and memory, read from outside the program
# --------------------------------------------------------------------------

def walk(root: str) -> dict[str, tuple[int, int, int]]:
    """Every file under ``root``: relative path -> (size, mtime_ns, inode)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[os.path.relpath(path, root)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or changed."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(v[0] for v in new)


def per_table(snapshot: dict) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = collections.defaultdict(
        lambda: {"files": 0, "bytes": 0})
    for path, (size, _, _) in snapshot.items():
        table = path.split(os.sep, 1)[0]
        out[table]["files"] += 1
        out[table]["bytes"] += size
    return dict(out)


def _children(pid: int) -> list[int]:
    kids = []
    task_dir = f"/proc/{pid}/task"
    try:
        for tid in os.listdir(task_dir):
            with open(f"{task_dir}/{tid}/children") as f:
                kids += [int(k) for k in f.read().split()]
    except OSError:
        pass
    return kids


def jvm_pids() -> list[int]:
    """Java processes among this process's descendants."""
    out, todo = [], _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            continue
        todo += _children(pid)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
