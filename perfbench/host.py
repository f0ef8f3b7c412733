"""Process-tree memory sampling, child-process shutdown and the fixed
host probe. Reads only ``/proc``."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples the summed RSS of this process (the Python driver) and
    its ``java`` descendants (the Spark JVM) every ``interval`` seconds.
    Python workers are left out: how many are alive at a given moment
    depends on task scheduling, not on the program's memory use."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = descendants(me)
            self.seen.update(tree)
            jvms = [p for p in tree if _comm(p) == "java"]
            self.peak = max(self.peak, rss_bytes(me) + sum(rss_bytes(p) for p in jvms))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark, also_wait_for: set[int], timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down, and wait until it and every
    other process in ``also_wait_for`` has ended (killing stragglers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    pids = set(also_wait_for)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def cpu_probe_s() -> float:
    """Seconds for a fixed amount of single-threaded Python work."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def spark_probe_s(spark) -> float:
    """Seconds for a fixed Spark job over every local core."""
    n = spark.sparkContext.defaultParallelism
    t = time.perf_counter()
    spark.range(0, 5_000_000, 1, n).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t
