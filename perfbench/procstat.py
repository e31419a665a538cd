"""CPU and memory of the Spark process tree, read from ``/proc``.

``psutil`` is not available, so this reads ``/proc/<pid>/stat``,
``statm`` and ``smaps_rollup`` directly. The tree is every descendant of the
benchmark process: the driver JVM that PySpark launches, the
``pyspark.daemon`` it forks and the Python workers forked from that.
The benchmark process itself is excluded; its work is the harness, not
the engine.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live descendants of ``root``,
    including the reaped children they waited for (a worker that exited
    is counted through its parent's cutime/cstime)."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def memory_mb(pids: list[int]) -> float:
    """Memory of the tree: the JVM's resident pages plus the proportional
    set size (PSS) of every other process. PSS counts a page shared by n
    processes 1/n in each, so the copy-on-write pages the Python workers
    share with ``pyspark.daemon`` count once, whatever the number of
    workers. The JVM shares its heap with no process, and reading its
    ``smaps_rollup`` walks gigabytes of page tables (about 10 ms a
    sample), so its ``statm`` is read instead."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            if java:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process exited between listing and reading
            continue
    return total / 2**20


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive (gone or a zombie)."""
    end = time.time() + timeout_s
    while time.time() < end:
        alive = [p for p in pids if (f := _stat_fields(p)) is not None and f[0] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    names = {}
    for p in alive:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                names[p] = f.read().replace(b"\0", b" ").decode(errors="replace")[:200]
        except OSError:
            pass
    raise RuntimeError(f"processes still running after {timeout_s:.0f}s: {names}")


class PeakMemory:
    """Samples the tree's memory (``memory_mb``) on a background thread
    until closed; ``peak_mb`` is the largest sample. Use as a context
    manager around the measured call. The process list is re-read every
    tenth sample only: listing ``/proc`` costs far more than reading a
    few files, and the sampler shares the CPUs it measures."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while True:
            if n % 10 == 0:
                pids = descendants(self.root)
            n += 1
            self.peak_mb = max(self.peak_mb, memory_mb(pids))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, memory_mb(descendants(self.root)))
