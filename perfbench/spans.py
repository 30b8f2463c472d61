"""Spans recorded from the benchmark's own files, and Spark accounting per
layer read back from the event log.

A span is (name, layer, parent, start, end). While a span is open every
Spark job the driver thread submits carries the span's job group, so the
event log attributes tasks to spans and from there to layers. Spans stay
in memory; the workloads sum them per layer when the run ends.

With tracing disabled (``Tracer(None)``, or ``on`` false for a plain
unit of a traced run) ``span`` only yields and ``force`` returns its
argument, so workload code has one shape in both modes.
"""
from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    group: str
    start: float
    unit: int = 0
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = spark is not None
        self.on = False  # the current unit is traced
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._cached = []
        self.unit = 0  # the workload's current unit (window, query, pass)

    def begin(self, unit: int, traced: bool) -> None:
        """Start a workload unit (window, query, pass); spans are recorded
        only for traced units."""
        self.unit = unit
        self.on = self.enabled and traced

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.on:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(name, layer, parent, f"pb{sid}", time.perf_counter(), self.unit)
        self.spans.append(s)
        self._stack.append(sid)
        sc.setJobGroup(s.group, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setJobGroup("pb-none", "untraced", interruptOnCancel=False)
            else:
                sc.setJobGroup(self.spans[parent].group, self.spans[parent].name,
                               interruptOnCancel=False)

    def force(self, df):
        """Materialize a lazy layer output under the open span (cache +
        ``noop`` write), so the next layer's span times only its own work."""
        if not self.on:
            return df
        df = df.cache()
        df.write.format("noop").mode("overwrite").save()
        self._cached.append(df)
        return df

    def release(self) -> None:
        while self._cached:
            self._cached.pop().unpersist()


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


ACCOUNTING = ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s",
              "tasks", "task_failures")


def layer_accounting(log_dir: str, group_layer: dict[str, str]) -> dict:
    """Sum task metrics per layer from the (completed) event log.

    ``group_layer`` maps a span's job group to its layer; jobs submitted
    outside any span are not attributed.
    """
    stage_layer: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ACCOUNTING, 0))
    for path in glob.glob(os.path.join(log_dir, "*")):
        if path.endswith(".inprogress"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    layer = group_layer.get(group)
                    if layer:
                        for sid in ev.get("Stage IDs", []):
                            stage_layer[sid] = layer
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev.get("Stage ID"))
                    if layer is None:
                        continue
                    acc = out[layer]
                    acc["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        acc["task_failures"] += 1
                    m = ev.get("Task Metrics") or {}
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    acc["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
    return dict(out)
