"""Measurement helpers: in-memory spans, Spark's status store, and
process memory and lifetime read from /proc."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.
    Each span records its name, start, end (seconds since the tracer
    started) and the id of the span that encloses it."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, span_id: int) -> float:
        """Duration minus the part covered by direct children (children
        never overlap: spans nest on one thread)."""
        s = self.spans[span_id]
        covered = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == span_id)
        return (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            s["self"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


class SparkJobs:
    """Stage and task facts of the jobs run since a mark, read from the
    driver's status store (populated with the UI off)."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._jvm = gw.jvm

    def _settle(self) -> None:
        # the status store is filled by an asynchronous listener
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._settle()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def since(self, mark: int) -> dict:
        """Totals over jobs with id > mark."""
        self._settle()
        jobs = self._store.jobsList(None)
        stage_ids = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() > mark:
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = {"stages": 0, "tasks": 0, "single_task_stages": 0, "failed_tasks": 0,
               "shuffle_write_bytes": 0, "task_ms": []}
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for a in range(attempts.size()):
                st = attempts.apply(a)
                ran = st.numCompleteTasks() + st.numFailedTasks()
                if ran == 0:  # skipped: its output was reused
                    continue
                out["stages"] += 1
                out["tasks"] += ran
                out["single_task_stages"] += int(st.numTasks() == 1)
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tasks = self._store.taskList(sid, st.attemptId(), 1_000_000)
                for t in range(tasks.size()):
                    d = tasks.apply(t).duration()
                    if d.isDefined():
                        out["task_ms"].append(d.get())
        return out


def _children() -> dict:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of peak resident sets (VmHWM) of ``root`` and its
    descendants: the JVM and its Python workers."""
    per_pid = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        per_pid[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    jvm = per_pid.pop(root, 0.0)
    print(f"perfbench: peak RSS {jvm:.0f} MB JVM + {sum(per_pid.values()):.0f} MB in "
          f"{len(per_pid)} Python processes", file=sys.stderr)
    return jvm + sum(per_pid.values())


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it started have exited."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    pids = process_tree(proc.pid)
    try:
        spark.stop()
    finally:
        sc._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 20
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in pids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
