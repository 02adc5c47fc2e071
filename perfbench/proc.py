"""Process-tree CPU and memory sampling, and shutdown, read from /proc.

The tree is this Python process, the Spark driver JVM it launches, and
the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, _, rest = f.read().rpartition(")")
    except OSError:
        return None
    return [head.partition("(")[2], *rest.split()]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        st = _stat(int(entry)) if entry.isdigit() else None
        if st is not None:
            kids.setdefault(int(st[2]), []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_HZ = os.sysconf("SC_CLK_TCK")


def _jvm_threads(pid: int) -> dict[str, float]:
    """CPU seconds of the JVM's JIT compiler and GC threads."""
    out = {"jit": 0.0, "gc": 0.0}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        st = _stat(f"{pid}/task/{tid}")
        if st is None:
            continue
        name = st[0]
        kind = ("jit" if "CompilerThre" in name
                else "gc" if name.startswith(("GC Thread", "G1 ")) else None)
        if kind:
            out[kind] += (int(st[12]) + int(st[13])) / _HZ
    return out


def cpu_sample() -> dict[str, float]:
    """CPU seconds used so far by each part of the process tree (this
    driver process, the JVM, the Python workers), and the seconds the
    host has stolen from this machine's vCPUs, at wall time ``at``.
    Reaped children count in their parent's total. ``jit`` and ``gc``
    are the JVM's compiler and collector threads, part of ``jvm``."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "jit": 0.0, "gc": 0.0,
           "at": time.perf_counter()}
    for pid in [me, *descendants(me)]:
        st = _stat(pid)
        if st is None:
            continue
        part = "driver" if pid == me else "jvm" if st[0] == "java" else "workers"
        # utime stime cutime cstime
        out[part] += sum(int(x) for x in st[12:16]) / _HZ
        if part == "jvm":
            for k, v in _jvm_threads(pid).items():
                out[k] += v
    with open("/proc/stat") as f:
        out["steal"] = int(f.readline().split()[8]) / _HZ
    return out


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    d = {k: b[k] - a[k] for k in a}
    d["total"] = d["driver"] + d["jvm"] + d["workers"]
    d["work"] = d["total"] - d["jit"]
    return d


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the process tree, sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def abort(reason: str) -> None:
    """Kill every process this one started and exit without a result."""
    import sys

    print(f"perfbench: {reason}", file=sys.stderr, flush=True)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end its JVM and wait for every process it started."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
