"""Tracing and measurement helpers: spans, Spark event-log counters,
process memory and the machine fingerprint.

Spans are recorded by the benchmark around its calls into the package's
public entry points; nothing inside the package is instrumented. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled, ``span`` yields without
    recording, so untraced runs pay one generator frame per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {
            "name": name,
            "op": op,
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: span duration minus the time its
        direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def tag_jobs(spark, group: str) -> None:
    """Label every Spark job the calling thread starts from here on, so the
    event log can be split by benchmark operation."""
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, shuffle bytes written, input bytes read,
    GC seconds and broadcast bytes, parsed from Spark's JSON event log.
    Streaming micro-batch jobs are grouped as ``batch-<queryId>-<batchId>``
    (their thread inherits whatever job group the starting thread had)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    bcast_accums: dict[int, int] = {}  # accumulator id -> execution id
    acc = defaultdict(lambda: defaultdict(float))

    def walk(plan, eid):
        for m in plan.get("metrics", []):
            if plan.get("nodeName", "").startswith("BroadcastExchange") and (
                m.get("name") == "data size"
            ):
                bcast_accums[m["accumulatorId"]] = eid
        for c in plan.get("children", []):
            walk(c, eid)

    files = sorted(
        os.path.join(log_dir, n) for n in os.listdir(log_dir) if not n.startswith(".")
    )
    pending_bcast: list[tuple[int, int]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if "streaming.sql.batchId" in props:
                        group = (
                            f"batch-{props.get('sql.streaming.queryId')}-"
                            f"{props['streaming.sql.batchId']}"
                        )
                    else:
                        group = props.get("spark.jobGroup.id") or "untagged"
                    acc[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "untagged")
                    tm = ev.get("Task Metrics") or {}
                    a = acc[group]
                    a["tasks"] += 1
                    a["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    a["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    a["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    walk(ev.get("sparkPlanInfo", {}), ev["executionId"])
                elif kind.endswith("DriverAccumUpdates"):
                    for aid, val in ev.get("accumUpdates", []):
                        pending_bcast.append((aid, val))
    for aid, val in pending_bcast:
        eid = bcast_accums.get(aid)
        if eid is not None:
            acc[exec_group.get(eid, "untagged")]["broadcast_bytes"] += val
    return {g: dict(v) for g, v in acc.items()}


def _status_kb(pid: int | str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the Spark JVM."""
    kb = _status_kb("self", "VmHWM")
    if jvm_pid is not None:
        kb += _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0


def _cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off-Linux."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return None


class Fingerprint:
    """Start/end load average and hypervisor steal share over the run."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()[0]
        self.cpu_start = _cpu_times()

    def finish(self) -> dict:
        out = {
            "cpus": os.cpu_count(),
            "loadavg_start": self.load_start,
            "loadavg_end": os.getloadavg()[0],
        }
        end = _cpu_times()
        if self.cpu_start and end and end[1] > self.cpu_start[1]:
            out["steal_pct"] = (
                100.0 * (end[0] - self.cpu_start[0]) / (end[1] - self.cpu_start[1])
            )
        return out
