"""In-memory spans around the bench's calls into each layer, and Spark
task metrics read back from the event log of a traced run."""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# Layers a traced run reports self time for: "bench" is the benchmark's own
# work (output checks, the spans that group a phase), "spark" the plain
# Spark calls the bench makes itself (opening the input).
LAYERS = ("bench", "spark", "session", "plans.columns", "plans.variant", "functions.udf", "runner")


class Tracer:
    """Records (name, layer, start, end, parent, run id) spans in memory.

    A disabled tracer records nothing, so untraced runs pay only the cost
    of entering a context manager."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str = "bench"):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span. Spans nest and
        never overlap their siblings (the bench is single-threaded), so the
        covered part of a span is the sum of its children's durations."""
        child_total: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child_total.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def event_log_confs(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def task_metrics(log_dir: str) -> dict[str, float]:
    """Totals over every SparkListenerTaskEnd in the finished event logs."""
    tasks = failed = 0
    cpu_ns = gc_ms = shuffle_w = spill = peak_mem = 0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                tasks += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    failed += 1
                m = ev.get("Task Metrics") or {}
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                peak_mem = max(peak_mem, m.get("Peak Execution Memory", 0))
    return {
        "spark.task_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": shuffle_w / 2**20,
        "spark.spill_mb": spill / 2**20,
        "spark.peak_exec_mem_mb": peak_mem / 2**20,
        "spark.tasks": tasks,
        "spark.failed_tasks": failed,
    }
