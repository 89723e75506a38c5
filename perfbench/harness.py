"""Measurement plumbing shared by the workloads: layer spans with Spark job
and task counts, a process-tree RSS sampler, and small statistics helpers.

Everything here observes the engine from outside: a span wraps one call
into a public function of the package, tags the Spark jobs it launches
with a job group, and reads the job and stage counts back from the status
tracker when the call returns.  With tracing off, `Probe.layer` is a no-op
so the end-to-end timings carry no bookkeeping.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def median(values) -> float:
    return float(statistics.median(values))


def plan_depth(df) -> int:
    """Line count of the frame's analyzed logical plan (lineage size)."""
    return str(df._jdf.queryExecution().analyzed().toString()).count("\n") + 1


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:  # removed while walking
                pass
    return total


def tree_pids(root_pid: int) -> list[int]:
    """`root_pid` and all its descendants, from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # process ended between listdir and open
            continue
        # the field after the parenthesised command name and state is ppid
        children[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes mapping them, so a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # process ended
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process tree (Python driver, the JVM,
    Spark's Python workers), summed as PSS so pages the forked workers
    share are counted once."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(pss_bytes(pid) for pid in tree_pids(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / (1 << 20)


class Probe:
    """Layer spans and per-layer samples for one benchmark run.

    `layer(name)` times the enclosed call as `<name>_s` and counts the Spark
    jobs and tasks it launched as `<name>_jobs` / `<name>_tasks`.  Other
    samples go in through `add`.  Spans nest: a span's parent is the span
    open around it, and jobs are counted for the innermost open span.
    """

    def __init__(self, spark, trace: bool, run_id: str):
        self.sc = spark.sparkContext
        self.trace = trace
        self.run_id = run_id
        self.batch: int | None = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._open: list[dict] = []
        self._ids = itertools.count()

    def add(self, metric: str, value: float) -> None:
        self.samples[metric].append(float(value))

    @contextmanager
    def layer(self, name: str, jobs: str | None = None):
        if not self.trace:
            yield
            return
        t_book = time.perf_counter()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "run": self.run_id,
            "batch": self.batch,
        }
        group = f"{self.run_id}-{span['id']}"
        self.sc.setJobGroup(group, name)
        self._open.append(span)
        self.bookkeeping_s += time.perf_counter() - t_book
        span["start"] = time.perf_counter()
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            t_book = span["end"]
            self._open.pop()
            if self._open:
                parent = self._open[-1]
                self.sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            n_jobs, n_tasks = self._count(group)
            span.update(jobs=n_jobs, tasks=n_tasks)
            self.spans.append(span)
            self.add(f"{name}_s", span["end"] - span["start"])
            self.add(jobs or f"{name}_jobs", n_jobs)
            self.add(f"{name}_tasks", n_tasks)
            self.bookkeeping_s += time.perf_counter() - t_book

    def _count(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(job_ids), tasks

    def self_times(self) -> dict[str, float]:
        """Σ self time per span name: duration minus the part covered by
        direct child spans."""
        child_cover = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_cover[s["id"]]
        return dict(out)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)
