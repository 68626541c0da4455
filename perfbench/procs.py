"""Peak RSS of the process tree, CPU steal ticks, and shutting down the
Spark JVM together with its Python workers."""

from __future__ import annotations

import os
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def _hwm_bytes(pid: int) -> tuple[str, int] | None:
    """(command, peak RSS since the last reset) of a java or python
    process.  Other commands are left out: a child the JVM forks shows
    the JVM's whole RSS under the forking thread's name until it execs."""
    try:
        with open(f"/proc/{pid}/status") as f:
            status = dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return None
    name = status.get("Name", "").strip()
    if "VmHWM" not in status or not (name == "java"
                                     or name.startswith("python")):
        return None
    return name, int(status["VmHWM"].split()[0]) * 1024


class PeakRss:
    """Peak RSS of this process and its descendants (driver JVM, Python
    daemon and workers) while the context is open, summed per command
    name in `peak_by_comm`: the kernel's per-process high-water mark
    (VmHWM), reset on entry through /proc/<pid>/clear_refs.  A thread
    re-lists the process tree every `rescan` seconds so that processes
    which end before the exit still count; nothing is sampled between
    listings."""

    def __init__(self, rescan: float = 1.0):
        self.rescan = rescan
        self.peak_by_comm: dict[str, int] = {}
        self._hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _read(self):
        pid = os.getpid()
        for p in [pid] + descendants(pid):
            got = _hwm_bytes(p)
            if got and got[1] >= self._hwm.get(p, ("", 0))[1]:
                self._hwm[p] = got

    def _run(self):
        while not self._stop.wait(self.rescan):
            self._read()

    def __enter__(self):
        pid = os.getpid()
        for p in [pid] + descendants(pid):
            try:
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._read()
        for comm, rss in self._hwm.values():
            self.peak_by_comm[comm] = self.peak_by_comm.get(comm, 0) + rss
        return False


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8])


def stop_jvm() -> None:
    """Shut down the py4j gateway, close the JVM's stdin (it exits on
    EOF) and wait until the JVM and every process it started have
    ended.  Call after the last SparkSession is stopped."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    pids = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(map(_alive, pids)):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
