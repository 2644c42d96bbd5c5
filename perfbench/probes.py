"""Measurements taken beside the engine: machine calibration, process
memory from ``/proc`` and Spark's stage metrics from its REST API."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from typing import Dict, List, Set

import numpy as np

SAMPLE_S = 0.2  # RSS sampling interval
RESCAN_S = 1.0  # how often the sampler looks for new worker processes
SETTLE_S = 10.0  # how long to wait for the listener to close the stages


def calibrate() -> dict:
    """A fixed pure-Python loop and a NumPy copy-bandwidth probe (medians of
    three), so figures can be compared across machines. Shares no engine
    code."""

    def python_loop() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        return time.perf_counter() - t0

    src = np.ones(4 << 20, dtype=np.float64)  # 32 MiB
    dst = np.empty_like(src)

    def copy_gbps() -> float:
        t0 = time.perf_counter()
        for _ in range(4):
            np.copyto(dst, src)
        return 4 * src.nbytes / (time.perf_counter() - t0) / 1e9

    return {
        "python_loop_s": statistics.median(python_loop() for _ in range(3)),
        "numpy_copy_gbps": statistics.median(copy_gbps() for _ in range(3)),
    }


def _children() -> Dict[int, List[int]]:
    tree: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(pid: int, tree: Dict[int, List[int]]) -> Set[int]:
    """Every process below ``pid`` in the parent → children ``tree``."""
    out: Set[int] = set()
    todo = [pid]
    while todo:
        for child in tree.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


def rss_bytes(pids: Set[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of the driver JVM (this process's child) and its
    Python workers (the JVM's descendants), sampled every ``SAMPLE_S``
    seconds in a thread. ``peak_jvm`` and ``peak_workers`` are the peaks
    of the two shares on their own."""

    def __init__(self):
        self.peak = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        jvm: Set[int] = set()
        workers: Set[int] = set()
        scanned = -RESCAN_S
        while True:
            now = time.monotonic()
            if now - scanned >= RESCAN_S:
                tree = _children()
                jvm = set(tree.get(os.getpid(), []))
                workers = set().union(*(descendants(pid, tree) for pid in jvm))
                scanned = now
            j, w = rss_bytes(jvm), rss_bytes(workers)
            self.peak = max(self.peak, j + w)
            self.peak_jvm = max(self.peak_jvm, j)
            self.peak_workers = max(self.peak_workers, w)
            if self._stop.wait(SAMPLE_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class StageMetrics:
    """Executor metrics of the stages a block of work ran, read from the
    Spark UI's REST API (``spark.ui.enabled=true``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def floor(self) -> int:
        """Highest stage id so far; later stages belong to later work."""
        return max((s["stageId"] for s in self._get("stages")), default=-1)

    def collect(self, floor: int) -> dict:
        """Sum the metrics of every stage after ``floor``, once the
        listener has reported all of them complete."""
        deadline = time.monotonic() + SETTLE_S
        while True:
            stages = [s for s in self._get("stages") if s["stageId"] > floor]
            if all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.2)
        out = {
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "tasks": 0,
        }
        task_s: List[float] = []
        for s in stages:
            if s["status"] != "COMPLETE":
                continue
            out["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
            out["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            out["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            out["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
            tasks = self._get(
                f"stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000"
            )
            task_s.extend(t["taskMetrics"]["executorRunTime"] / 1e3 for t in tasks)
        out["tasks"] = len(task_s)
        out["task_p50_s"] = float(np.median(task_s)) if task_s else 0.0
        out["task_max_s"] = max(task_s, default=0.0)
        return out


def versions() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
    }
