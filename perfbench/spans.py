"""Spans, Spark event-log aggregation and sample summaries.

Pure Python (no Spark import), so the aggregation can be tested on a tiny
hand-written event log.

A span is one layer call made by the benchmark. While a span is open its
name is the Spark job group of the calling thread, so every job the layer
triggers carries ``spark.jobGroup.id = <span name>`` in the event log.
:func:`aggregate_event_log` sums ``SparkListenerTaskEnd`` metrics per job
group; :func:`span_metrics` joins those sums with the spans' wall times
into the flat ``<span>.<metric>`` names the benchmark reports.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

#: Per-span metrics and their units, in report order.
SPAN_FIELDS = (
    ("wall_s", "s"),
    ("exec_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("input_bytes", "bytes"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
)


class Tracer:
    """Records spans in memory; sets the Spark job group while one is open.

    Its ``sc`` attribute is the SparkContext once there is one; until then
    spans record wall time only (the session span opens before any
    context exists)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None

    @contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if self.sc else None
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "wall_s": time.perf_counter() - t0})
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)


def event_log_lines(log_dir: str):
    """Lines of every uncompressed event-log file under ``log_dir``
    (rolling ``eventlog_v2_*/events_*`` directories or single-file logs)."""
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(("events_", "local-", "app-")) and not f.endswith(
                    (".zstd", ".lz4", ".snappy", ".lzf", ".crc")):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    yield from fh


def _empty() -> dict:
    return {name: 0 for name, _unit in SPAN_FIELDS if name != "wall_s"} | {"jobs": 0}


def aggregate_event_log(lines, group_alias: dict[str, str] | None = None) -> dict[str, dict]:
    """Sum task metrics per job group over event-log JSON lines.

    ``group_alias`` renames groups (a streaming query's jobs run under its
    run id; the benchmark maps that id to a span name). Jobs without a
    group are counted under ``""``."""
    alias = group_alias or {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            group = alias.get(group, group)
            out.setdefault(group, _empty())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            agg = out.setdefault(group, _empty())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            agg["tasks"] += 1
            agg["failed_tasks"] += int(bool(info.get("Failed")) or bool(info.get("Killed")))
            agg["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            agg["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out


def span_metrics(names, walls: dict[str, float], groups: dict[str, dict]) -> dict[str, dict]:
    """Flat ``{"<span>.<field>": {"value", "unit"}}`` for every span name;
    a span that did not run on this workload reports zeros."""
    out = {}
    for name in names:
        agg = groups.get(name, {})
        for field, unit in SPAN_FIELDS:
            value = walls.get(name, 0.0) if field == "wall_s" else agg.get(field, 0)
            out[f"{name}.{field}"] = {"value": value, "unit": unit}
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default), ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values) -> dict:
    """Median, sample count, and the highest of p90/p75 that has at least
    ten samples beyond it (None when even p75 has fewer)."""
    xs = list(values)
    out = {"n": len(xs), "p50": percentile(xs, 50)}
    for q in (90, 75):
        if len(xs) * (100 - q) / 100.0 >= 10:
            out[f"p{q}"] = percentile(xs, q)
            break
    return out
