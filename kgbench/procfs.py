"""Process-tree CPU and memory from /proc, plus the host facts every run
records. The facts are reported next to the metrics and never used to
adjust them."""

from __future__ import annotations

import hashlib
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    return raw.rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(name)
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the process tree, including children
    already reaped by a tree member (cutime/cstime), so a Python worker
    that exits keeps its CPU counted through its parent."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK_TCK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited since the tree was listed
        pass
    return 0


class PeakMemory:
    """Samples the tree's summed PSS (proportional set size) on a thread.
    PSS splits each shared page between the processes mapping it, so a
    forked Python worker's copy-on-write pages are not counted twice, as
    a plain RSS sum would count them."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root, self.interval_s = root, interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in tree_pids(self.root))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._loop, name="kgbench-pss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def reference_loop_s() -> float:
    """A fixed single-thread Python loop: how fast this host runs plain
    interpreter work right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def source_digest(root: str, dirs: tuple[str, ...] = ("kgc", "kgbench")) -> str:
    """sha256 over the Python sources the run executed: the commit's
    identity in a checkout that is not a git repository."""
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in os.walk(os.path.join(root, d)):
            subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(base, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


class HostFacts:
    """nproc, load average before/after, CPU steal share over the run from
    /proc/stat, a reference-loop timing at start and end, and the commit."""

    def __init__(self, root: str):
        self.facts: dict = {
            "nproc": os.cpu_count(),
            "affinity": len(os.sched_getaffinity(0)),
            "commit": git_commit(root),
            "source_digest": source_digest(root),
            "loadavg_start": os.getloadavg(),
            "ref_loop_start_s": round(reference_loop_s(), 4),
        }
        self._jiffies0 = _cpu_jiffies()

    def finish(self) -> dict:
        j1 = _cpu_jiffies()
        delta = [b - a for a, b in zip(self._jiffies0, j1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is already in user
        self.facts["steal_share"] = round(delta[7] / total, 5) if len(delta) > 7 else None
        self.facts["host_busy_share"] = round(1 - (delta[3] + delta[4]) / total, 4)
        self.facts["loadavg_end"] = os.getloadavg()
        self.facts["ref_loop_end_s"] = round(reference_loop_s(), 4)
        return self.facts
