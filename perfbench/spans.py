"""Spans recorded around calls into the engine, and Spark's own event log.

Everything here observes the engine from outside: ``Recorder.wrap``
replaces a public function in a module's namespace with a timing wrapper
for the life of one benchmark process, and ``EventLog`` reads the
uncompressed, non-rolling event log Spark writes when the benchmark's
session turns it on. A span is ``(name, key, start, end)`` in epoch
seconds; Spark jobs, stages and tasks are attributed to a span by their
own start time (submission or launch), so attribution needs no hook
inside the engine.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    key: str
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Spans kept in memory for the run; read out when it ends."""

    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, key: str = ""):
        s = Span(name, key, time.time(), 0.0)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self.spans.append(s)

    def wrap(self, module, attr: str, name: str, key_of: Callable[..., str]) -> None:
        """Replace ``module.attr`` with a wrapper that records one span per
        call; ``key_of(*args, **kwargs)`` names the call (e.g. a table)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name, key_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        setattr(module, attr, timed)

    def of(self, name: str, within: Span | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (within is None or within.start <= s.start <= within.end)
        ]


def _in(t: float, windows: Iterable[Span]) -> bool:
    return any(w.start <= t <= w.end for w in windows)


class EventLog:
    """Jobs, stages and tasks from one application's event log."""

    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: list[float] = []  # submission times
        self.stages: dict[tuple[int, int], dict] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                            "start": info["Submission Time"] / 1000.0,
                            "end": info.get("Completion Time", info["Submission Time"]) / 1000.0,
                        }
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                    self.tasks.append(_task_row(ev))

    def jobs_in(self, windows: list[Span]) -> int:
        return sum(_in(t, windows) for t in self.jobs)

    def tasks_in(self, windows: list[Span]) -> list[dict]:
        return [t for t in self.tasks if _in(t["launch"], windows)]

    def summary(self, windows: list[Span], cores: int) -> dict[str, float]:
        """Totals over the given windows (the timed repetitions), divided
        by their number so each reads per repetition."""
        n = max(1, len(windows))
        tasks = self.tasks_in(windows)
        stages = [s for s in self.stages.values() if _in(s["start"], windows)]
        wall = sum(w.dur for w in windows)
        mb = 1024.0 * 1024.0

        def total(key: str) -> float:
            return sum(t[key] for t in tasks)

        return {
            "spark.jobs": self.jobs_in(windows) / n,
            "spark.stages": len(stages) / n,
            "spark.tasks": len(tasks) / n,
            "spark.executor_run_s": total("run_s") / n,
            "spark.executor_cpu_s": total("cpu_s") / n,
            "spark.gc_s": total("gc_s") / n,
            "spark.slot_util": total("run_s") / (wall * cores) if wall else 0.0,
            "spark.scheduler_delay_s": total("sched_s") / n,
            "spark.input_mb": total("input_b") / mb / n,
            "spark.shuffle_read_mb": total("shuffle_read_b") / mb / n,
            "spark.shuffle_write_mb": total("shuffle_write_b") / mb / n,
            "spark.spill_mb": total("spill_b") / mb / n,
            "spark.result_mb": total("result_b") / mb / n,
            "spark.peak_concurrent_stages": float(_peak_overlap(stages)),
        }


def _task_row(ev: dict) -> dict:
    info, m = ev["Task Info"], ev["Task Metrics"]
    launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    shuffle_read = m.get("Shuffle Read Metrics", {})
    return {
        "launch": launch,
        "run_s": run_ms / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "sched_s": max(0.0, (finish - launch) * 1000.0 - run_ms - overhead_ms) / 1000.0,
        "input_b": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_rows": m.get("Input Metrics", {}).get("Records Read", 0),
        "output_rows": m.get("Output Metrics", {}).get("Records Written", 0),
        "shuffle_read_b": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Disk Bytes Spilled", 0),
        "result_b": m.get("Result Size", 0),
    }


def _peak_overlap(stages: list[dict]) -> int:
    edges = sorted([(s["start"], 1) for s in stages] + [(s["end"], -1) for s in stages],
                   key=lambda e: (e[0], e[1]))
    peak = cur = 0
    for _, step in edges:
        cur += step
        peak = max(peak, cur)
    return peak
