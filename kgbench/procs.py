"""Child-process bookkeeping: peak memory sampling and clean shutdown.

Linux only (reads ``/proc``).  The JVM is a child of this process and the
Python workers are children of the JVM, so "descendants of this process"
is exactly the JVM plus its Python workers.
"""

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
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid or os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked Python workers
    are split among them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory (PSS) of all descendants on a
    background thread."""

    def __init__(self, interval: float = 0.25):
        self._interval = interval
        self._stop = threading.Event()
        self.peak = 0
        self.at_peak: dict[str, int] = {}  # command name -> RSS at the peak
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        rss = {p: _pss_bytes(p) for p in descendants()}
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            at_peak: dict[str, int] = {}
            for p, b in rss.items():
                comm = _comm(p)
                at_peak[comm] = at_peak.get(comm, 0) + b
            self.at_peak = at_peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark_processes(timeout: float = 60.0) -> None:
    """Stop the SparkContext, close the gateway JVM and wait until every
    descendant (JVM, Python workers) has exited; kill stragglers."""
    from pyspark import SparkContext

    procs = descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout / 2)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout / 2
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
