"""Measurement from outside the library: spans, Spark job counters and
process RSS.

A :class:`Tracer` records one span per call the benchmark makes into a
layer (name, start, end, parent, run id), keeps the spans in memory and
writes them out once when the run ends. With tracing on, each span also
tags the Spark jobs it starts with its own job group and counts them
through the status tracker; with tracing off a span only times the call.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[tuple[int, str, str]] = []  # (span id, job group, name)
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the enclosed call; with tracing on, also tag its jobs
        with a job group and record how many jobs it started."""
        self._seq += 1
        group = f"{self.run_id}/{self._seq}/{name}"
        rec = {
            "name": name,
            "run": self.run_id,
            "id": self._seq,
            "parent": self._open[-1][0] if self._open else None,
        }
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(group, name)
        self._open.append((self._seq, group, name))
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if sc is not None:
                settle(self.spark)
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                if self._open:
                    sc.setJobGroup(self._open[-1][1], self._open[-1][2])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def jobs(self, name: str) -> list[int]:
        """Jobs started inside each traced span of this name."""
        return [s["jobs"] for s in self.spans if s["name"] == name and "jobs" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def settle(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store reflects all jobs that have ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids(spark) -> set[int]:
    """Every job id the status store knows."""
    settle(spark)
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
    out = set()
    while it.hasNext():
        out.add(it.next().jobId())
    return out


def job_counters(spark, jobs: set[int]) -> dict:
    """Jobs, executed stages, tasks, shuffle-write and spill bytes of
    the given jobs, read from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for j in jobs:
        it = store.job(j).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0}
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            continue
        if str(st.status().toString()) != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


# ---------------------------------------------------------------------------
# process RSS
# ---------------------------------------------------------------------------


def _tree_rss_kb(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants (the driver,
    the JVM it launched and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, enabled: bool, interval_s: float = 0.2):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# summaries
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

