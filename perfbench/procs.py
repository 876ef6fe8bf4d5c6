"""Process bookkeeping from /proc: the Spark-JVM guard, the process tree
under the benchmark, its peak RSS while a window is timed, and waiting
for every child to end."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:                    # the process ended between listing and reading
        return None


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def spark_jvms() -> list[int]:
    """Pids of running Spark JVMs (launched through spark-submit, as
    pyspark does)."""
    return [pid for pid in _pids()
            if "org.apache.spark.deploy.SparkSubmit" in (_read(f"/proc/{pid}/cmdline") or "")]


def descendants(root: int) -> list[int]:
    """Every live process below `root` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        stat = _read(f"/proc/{pid}/stat")
        if not stat:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    steal is time the host ran something else while a CPU had work."""
    fields = [int(x) for x in (_read("/proc/stat") or "cpu 0").split("\n")[0].split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by `root` and every live
    process below it, with the children each of them has reaped. Time the
    host gives to other guests (steal) is not in it."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        stat = _read(f"/proc/{pid}/stat")
        if stat:
            # fields 14-17: utime, stime, cutime, cstime
            ticks += sum(map(int, stat.rsplit(")", 1)[1].split()[11:15]))
    return ticks / _TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        statm = _read(f"/proc/{pid}/statm")
        if statm:
            total += int(statm.split()[1]) * _PAGE
    return total


class PeakRss:
    """Samples the RSS of the whole process tree (this process, the JVM,
    Python workers) on a background thread while the `with` block runs; `peak`
    accumulates over every block it is used for."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; SIGKILL what is left at the
    deadline and return those pids."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def _alive(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    # a zombie has exited; its parent reaps it
    return bool(stat) and stat.rsplit(")", 1)[1].split()[0] != "Z"
