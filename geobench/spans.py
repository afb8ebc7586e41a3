"""Layer spans and Spark event-log attribution for the traced run.

A span wraps one call into a layer from the benchmark's own code.  With
tracing on, each span tags the Spark jobs it submits with
``setJobGroup(<name>#<id>)``; after the session stops, the event log
(enabled only in the traced run) attributes every task's metrics to the
span that submitted it.  Spans live in memory and are written once,
when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op,
    so the untraced run measures the program alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs of ``spark`` (None: the session is stopping)."""
        self._sc = spark.sparkContext if spark is not None else None

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "group": f"{name}#{sid}",
               "parent": parent["id"] if parent else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._set_group(parent)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}

    def write(self, path: str, task_stats: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]],
                                    "tasks": task_stats.get(s["group"])}) + "\n")


def _empty_stats() -> dict:
    return {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "input_records": 0, "output_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "jobs": 0, "task_run_s": []}


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """job group -> summed task metrics over every event log in
    ``log_dir`` (one per SparkContext the run started)."""
    stats: dict[str, dict] = defaultdict(_empty_stats)
    for fn in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stats[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    s = stats[group]
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    s["tasks"] += 1
                    s["run_s"] += run_s
                    s["task_run_s"].append(run_s)
                    s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    inp = m.get("Input Metrics") or {}
                    s["input_bytes"] += inp.get("Bytes Read", 0)
                    s["input_records"] += inp.get("Records Read", 0)
                    s["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
    return dict(stats)


def merge_stats(parts: list[dict]) -> dict:
    out = _empty_stats()
    for p in parts:
        for k, v in p.items():
            out[k] = out[k] + v
    return out


def task_skew(task_run_s: list[float]) -> float:
    """max / median task run time (1.0 = perfectly even)."""
    if not task_run_s:
        return 0.0
    med = statistics.median(task_run_s)
    return max(task_run_s) / med if med > 0 else 0.0
