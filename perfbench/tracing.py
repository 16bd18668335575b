"""Spans recorded around calls into the engine's layers, and the Spark task
metrics of each span read back from the Spark event log.

Every span sets its id as the Spark job description while it is open, so a
job in the event log belongs to the innermost span that submitted it. Spans
are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

DESC_PREFIX = "perfbench-span-"

# task metrics summed per span; names are the per-span keys in the trace file
_TASK_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "input_records",
    "file_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "spill_bytes",
    "python_bytes_sent",
    "python_bytes_received",
    "failed_tasks",
    "tasks",
    "stages",
    "jobs",
)


class Tracer:
    def __init__(self):
        self._sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def bind(self, spark) -> None:
        """Label the Spark jobs of later spans with their span ids."""
        self._sc = spark.sparkContext

    def _describe(self, span_id: int | None) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(None if span_id is None else f"{DESC_PREFIX}{span_id}")

    @contextmanager
    def span(self, name: str, pass_id: int | None = None, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass_id": pass_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.by_name(name)]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus its children's; spans nest on one thread, so
        children never overlap."""
        s = self.spans[sid]
        return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in self.children(sid))

    def attach_spark_metrics(self, event_log_dir: Path) -> None:
        """Sum each span's task metrics from the event logs, then roll them
        up so a span also carries its descendants' work."""
        own, stage_runs = read_event_logs(event_log_dir)
        for s in self.spans:
            s["spark_self"] = own.get(s["id"], _empty())
            s["stage_run_ms"] = stage_runs.get(s["id"], {})
        for s in reversed(self.spans):  # children always follow parents
            total = dict(s["spark_self"])
            for c in self.children(s["id"]):
                for k, v in c["spark"].items():
                    total[k] += v
            s["spark"] = total

    def subtree_stage_runs(self, sid: int) -> dict[int, list[int]]:
        out = dict(self.spans[sid]["stage_run_ms"])
        for c in self.children(sid):
            out.update(self.subtree_stage_runs(c["id"]))
        return out

    def write(self, path: Path, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k != "stage_run_ms"}
            rec["start"] = s["start"] - t0
            rec["end"] = s["end"] - t0
            rec["self_s"] = self.self_time(s["id"])
            spans.append(rec)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": spans}, indent=1))


def _empty() -> dict:
    return dict.fromkeys(_TASK_FIELDS, 0)


def _acc(task_info: dict, name: str) -> int:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return int(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0
    return 0


def _span_of(desc: str | None) -> int | None:
    if desc and desc.startswith(DESC_PREFIX):
        return int(desc[len(DESC_PREFIX):])
    return None


def _scan_size_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the parquet scans' "size of files read" metric."""
    for m in plan.get("metrics", ()):
        if m.get("name") == "size of files read":
            out.add(m["accumulatorId"])
    for c in plan.get("children", ()):
        _scan_size_ids(c, out)


def read_event_logs(log_dir: Path) -> tuple[dict[int, dict], dict[int, dict[int, list[int]]]]:
    """Per span id: summed task metrics plus the parquet bytes its scans
    opened, and per stage the run times (ms) of its tasks (for skew).

    Task input bytes also count reads of cached blocks, so file bytes come
    from the scans' driver-side metric instead."""
    per_span: dict[int, dict] = defaultdict(_empty)
    stage_runs: dict[int, dict[int, list[int]]] = defaultdict(lambda: defaultdict(list))
    stage_span: dict[int, int] = {}
    stages_seen: set[int] = set()
    scan_ids: set[int] = set()
    exec_span: dict[int, int] = {}
    driver_updates: list[tuple[int, int, int]] = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")):
        with open(f) as fh:
            for line in fh:
                if '"sparkPlanInfo"' in line:
                    e = json.loads(line)
                    _scan_size_ids(e["sparkPlanInfo"], scan_ids)
                    sid = _span_of(e.get("description"))
                    if sid is not None:
                        exec_span.setdefault(e["executionId"], sid)
                elif "SparkListenerDriverAccumUpdates" in line:
                    e = json.loads(line)
                    driver_updates.extend((e["executionId"], a, v) for a, v in e["accumUpdates"])
                elif '"Event":"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    sid = _span_of((e.get("Properties") or {}).get("spark.job.description"))
                    if sid is None:
                        continue
                    per_span[sid]["jobs"] += 1
                    for st in e.get("Stage IDs", ()):
                        stage_span[st] = sid
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    sid = stage_span.get(e["Stage ID"])
                    if sid is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    agg = per_span[sid]
                    agg["tasks"] += 1
                    if e["Stage ID"] not in stages_seen:
                        stages_seen.add(e["Stage ID"])
                        agg["stages"] += 1
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        agg["failed_tasks"] += 1
                    run_ms = m.get("Executor Run Time", 0)
                    agg["executor_run_s"] += run_ms / 1e3
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    inp = m.get("Input Metrics") or {}
                    agg["input_bytes"] += inp.get("Bytes Read", 0)
                    agg["input_records"] += inp.get("Records Read", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    agg["shuffle_write_records"] += wr.get("Shuffle Records Written", 0)
                    agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    agg["python_bytes_sent"] += _acc(info, "data sent to Python workers")
                    agg["python_bytes_received"] += _acc(info, "data returned from Python workers")
                    if rd.get("Total Records Read", 0) > 0:
                        stage_runs[sid][e["Stage ID"]].append(run_ms)
    for eid, acc, value in driver_updates:
        if acc in scan_ids and eid in exec_span:
            per_span[exec_span[eid]]["file_bytes"] += value
    return dict(per_span), {k: dict(v) for k, v in stage_runs.items()}


def task_skew(stage_runs: dict[int, list[int]]) -> float:
    """Largest max ÷ median task run time over the shuffle-reading stages
    (1.0 when there are none)."""
    ratios = [
        max(runs) / max(statistics.median(runs), 1.0) for runs in stage_runs.values() if runs
    ]
    return max(ratios, default=1.0)
