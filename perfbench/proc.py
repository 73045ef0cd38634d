"""CPU time and resident memory of this process and all its descendants.

The benchmark's Python process, the Spark JVM it launches and the Python
UDF workers the JVM forks form one process tree; these helpers read it from
``/proc`` (Linux only).  CPU time includes ``cutime``/``cstime``, so a worker
that exited and was reaped during a measured window still counts, through its
parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, fields of /proc/<pid>/stat after it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    end = raw.rindex(")")
    return raw[raw.index("(") + 1 : end], raw[end + 2 :].split()


def _stat_fields(pid: int) -> list[str] | None:
    st = _stat(pid)
    return None if st is None else st[1]


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime + reaped children's times, summed over the tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of the machine's CPUs since boot: the share
    of steal over a window is CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _pss_pages(pid: int) -> int | None:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 // _PAGE
    except OSError:
        pass
    return None


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, with shared pages counted once.

    Python processes count their PSS: the UDF workers are forked from one
    daemon and share most of their pages with it, so summed RSS would count
    those pages once per worker and move with how many workers happen to be
    alive.  A JVM counts its RSS: it shares almost nothing, and reading its
    PSS walks every page of the heap (~27 ms a sample for a 2 GB heap).  A
    JVM's child that has forked but not yet exec'd (the JVM forks to run
    shell commands) is left out: it still maps the JVM's pages."""
    stats = {pid: _stat(pid) for pid in tree_pids(root)}
    pages = 0
    for pid, st in stats.items():
        if st is None:
            continue
        comm, fields = st
        parent = stats.get(int(fields[1]))
        if comm == "java":
            if parent is None or parent[0] != "java":
                pages += int(fields[21])
            continue
        pss = _pss_pages(pid)
        pages += int(fields[21]) if pss is None else pss
    return pages * _PAGE / 2**20


class RssSampler:
    """Background thread recording the peak summed RSS of a process tree
    while ``active`` is set."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
