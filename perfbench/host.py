"""Host diagnostics read from ``/proc``: CPU busy/steal shares, process
start time, and the peak summed RSS of the benchmark's process tree
(the benchmark's own Python process, the JVM and its Python workers)."""

from __future__ import annotations

import os
import threading

from . import stats

_CPU_FIELDS = (
    "user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal",
)


def cpu_snapshot() -> dict:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return {k: int(v) for k, v in zip(_CPU_FIELDS, parts[1:])}


def process_age(pid: int | str = "self") -> float:
    """Seconds since ``pid`` started: ``/proc/uptime`` minus the start
    time ``/proc/<pid>/stat`` gives in clock ticks since boot."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_table() -> dict:
    """pid -> (ppid, rss_bytes) for every process visible in ``/proc``."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited between listdir and open
            continue
        out[int(name)] = (int(fields[1]), int(fields[21]) * page)
    return out


def _by_command(table: dict, root: int) -> dict:
    out: dict = {}
    for pid in [root] + descendants(root, table):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        n, mb = out.get(name, (0, 0.0))
        out[name] = (n + 1, mb + table[pid][1] / 2**20)
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    table = process_table() if table is None else table
    kids = {}
    for pid, (ppid, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """One daemon thread that samples the summed RSS of this process's
    tree every ``interval`` seconds and keeps the peak of the rolling
    median of three samples.  Use as a context manager; ``peak_bytes`` is
    final after exit."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        #: command name -> [processes, summed RSS MB] at the peak
        self.peak_by_process: dict = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="rss-sampler", daemon=True
        )

    def _loop(self) -> None:
        root = os.getpid()
        last = []
        while not self._stop.is_set():
            table = process_table()
            last = (last + [stats.tree_rss(table, root)])[-3:]
            # the peak of a 3-sample rolling median: a child caught between
            # vfork and exec shares the JVM's pages and would count twice
            rss = stats.median(last)
            if rss > self.peak_bytes:
                self.peak_bytes = rss
                self.peak_by_process = _by_command(table, root)
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def filesystem_of(path: str) -> dict:
    """Mount point and filesystem type holding ``path`` (longest
    matching mount in ``/proc/mounts``)."""
    path = os.path.realpath(path)
    best = ("", "?")
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, fstype = line.split()[:3]
            mnt = mnt.replace("\\040", " ")
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    return {"mount": best[0], "fstype": best[1]}


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.isfile(p) and not os.path.islink(p):
                n += 1
                size += os.path.getsize(p)
    return n, size
