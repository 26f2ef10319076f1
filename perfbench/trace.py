"""Measurement helpers: spans, the Spark event log, process-tree memory and
the host's cold-page probe.

Spans are recorded by the benchmark around its calls into each layer; they
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np


class Tracer:
    """Nested spans (name, start, end, parent, operation id). Calls into the
    engine are sequential, so one stack serves the driver thread and the
    streaming thread that runs ``foreachBatch`` while the driver waits."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[tuple[int, str], float]:
        """(op, span name) -> summed self time: duration minus children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[tuple[int, str], float] = defaultdict(float)
        for s in self.spans:
            out[(s["op"], s["name"])] += s["end"] - s["start"] - child[s["id"]]
        return out

    def median_self(self, name: str) -> float:
        vals = [v for (_, n), v in self.self_times().items() if n == name]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> tuple[int, dict[str, list[int]]]:
        """Total RSS of the tree, and the RSS of each process by command name."""
        parent, rss, comm = {}, {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, fields = f.read().rsplit(")", 1)
                fields = fields.split()
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * self._page
                comm[int(d)] = head.split("(", 1)[1]
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we read it
        me = os.getpid()
        by_name: dict[str, list[int]] = defaultdict(list)
        for pid in rss:
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                by_name[comm[pid]].append(rss[pid])
        return sum(map(sum, by_name.values())), by_name

    def _run(self) -> None:
        while not self._stop.is_set():
            total, by_name = self._tree_rss()
            if total > self.peak_bytes:
                self.peak_bytes = total
                # what the tree held at its peak, in MB (for reading a run)
                self.peak_parts = {n: [round(v / 2**20) for v in vs] for n, vs in by_name.items()}
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cold_page_gbps() -> float:
    """First-touch copy bandwidth of 80 MB of fresh pages, as ``bench.py``
    measures it. Recorded for context only; the benchmark never waits on it."""
    x = np.zeros(10_000_000)
    t = time.perf_counter()
    x.copy()
    return 8 * 10_000_000 / max(time.perf_counter() - t, 1e-9) / 1e9


def spark_counts(event_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Median per operation of the Spark work in each (start, end) window,
    read from the event log the way ``tools/plan_metrics.py`` reads its
    counters: jobs, stages, tasks, failed tasks, shuffle bytes written,
    executor run time and JVM GC time."""
    job_time, stage_job, per_stage = {}, {}, defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job_time[e["Job ID"]] = e["Submission Time"] / 1000.0
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    per_stage[e["Stage Info"]["Stage ID"]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    st = per_stage[e["Stage ID"]]
                    st["tasks"] += 1
                    st["tasks_failed"] += e["Task End Reason"]["Reason"] != "Success"
                    m = e.get("Task Metrics") or {}
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    names = ("stages", "tasks", "tasks_failed", "shuffle_write_bytes", "executor_run_s", "gc_s")
    per_op = []
    for start, end in windows:
        jobs = {j for j, t in job_time.items() if start <= t <= end}
        row = {"jobs": float(len(jobs))} | {n: 0.0 for n in names}
        for sid, j in stage_job.items():
            if j in jobs:
                for n in names:
                    row[n] += per_stage[sid][n]
        per_op.append(row)
    keys = ("jobs",) + names
    return {
        f"spark.{n}": statistics.median(r[n] for r in per_op) if per_op else 0.0 for n in keys
    }
