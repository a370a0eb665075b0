"""Host fit and host-disturbance record.

The benchmark sizes Spark to the machine it finds: ``local[cores]`` and
a driver heap derived from MemTotal. It records, for every run, what a
reader needs to judge the window the numbers came from: load average at
start and end, and the wall time of a fixed single-process compute
kernel (``calib_s``) timed just before the run.
"""

from __future__ import annotations

import contextlib
import os
import platform
import statistics
import subprocess
import threading
import time

def cores() -> int:
    """Usable cores as ``env -u OMP_NUM_THREADS nproc`` reports them
    (nproc honours OMP_NUM_THREADS, which says nothing about the host)."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        out = subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                             timeout=10, check=True).stdout
        return max(1, int(out.strip()))
    except (OSError, ValueError, subprocess.SubprocessError):
        return max(1, len(os.sched_getaffinity(0)))


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gib(n_cores: int, total_gib: float) -> int:
    """Heap for the local-mode driver JVM: leave 2 GiB for the OS and
    the driver's own Python, 0.5 GiB per core for the Python workers,
    and take a third of the rest — the machine is shared, and the
    benchmark's corpora need far less than that."""
    spare = total_gib - 2.0 - 0.5 * n_cores
    return int(min(8, max(1, spare / 3)))


def calibrate(reps: int = 3) -> float:
    """Median wall of a fixed pure-Python integer loop. It uses one core
    and no memory bandwidth to speak of, so a slow reading means the
    core was taken or clocked down, not that the program changed."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def loadavg() -> float:
    return os.getloadavg()[0]


def versions() -> dict:
    import pyspark

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                          text=True, timeout=30).stderr.splitlines()
    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "java": java[0] if java else "unknown"}


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, virtual size), from /proc/<pid>/stat."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces or parentheses: fields resume after the last ')'
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[20]))
    return out


def _tree(root: int, procs: dict[int, tuple[int, int]] | None = None) -> set[int]:
    """``root`` and every live descendant."""
    procs = _procs() if procs is None else procs
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, (pp, _) in procs.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def descendants(root: int) -> set[int]:
    """Live processes started, directly or not, by ``root``."""
    return _tree(root) - {root}


def alive(pid: int) -> bool:
    """The process exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def become_subreaper() -> None:
    """Adopt the orphans of this process tree. Processes outlive their
    parent here: the Python workers once the JVM has exited, the
    multiprocessing resource tracker until this process exits. As a
    subreaper this process becomes their parent, so end_children() can
    find each of them and wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()[:120]
    except OSError:
        return ""


def end_children(grace: float = 2.0, limit: float = 30.0) -> dict[int, str]:
    """Stop every process this one started, directly or not, and wait
    until each has ended. Called after the session was stopped the
    orderly way, so whatever is still alive is a straggler: it gets
    SIGTERM, and SIGKILL after ``grace`` seconds. Returns the command
    lines of the processes that had to be signalled."""
    import signal

    me, signalled = os.getpid(), {}
    t0 = time.monotonic()
    sent_kill = False
    while True:
        _reap()
        left = descendants(me)
        if not left:
            return signalled
        waited = time.monotonic() - t0
        if waited > limit:
            raise RuntimeError(f"processes {sorted(left)} did not exit")
        if not signalled or (waited > grace and not sent_kill):
            sig = signal.SIGKILL if signalled else signal.SIGTERM
            sent_kill = sig == signal.SIGKILL
            for pid in left:
                signalled.setdefault(pid, _cmdline(pid))
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by the tree, counting the
    children each process has already reaped. Unlike wall time it leaves
    out the time a shared host's other tenants took the cores away."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        total += sum(map(int, stat[stat.rindex(")") + 2:].split()[11:15]))
    return total / _TICK


def _kib(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


# Above this resident size a process is taken to share no pages with the
# rest of the tree (the JVM), and its RSS stands for its PSS: reading
# smaps_rollup walks every page under the process's mmap lock, about
# 45 ms for a 3 GiB JVM, which would stall it on every sample.
_PSS_MAX_KIB = 1 << 20


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of the tree: pages shared between processes
    (the Python workers are forked from one daemon) are split among
    them instead of counted once per process, as a plain RSS sum would."""
    procs, total = _procs(), 0
    for pid in _tree(root, procs):
        try:
            rss = _kib(f"/proc/{pid}/status", "VmRSS:")
            if rss < _PSS_MAX_KIB:
                rss = _kib(f"/proc/{pid}/smaps_rollup", "Pss:")
            elif procs[pid][1] == procs.get(procs[pid][0], (0, 0))[1]:
                # the JVM starting a Python worker: between fork and exec
                # the child is a copy of the JVM sharing its memory
                continue
        except OSError:
            continue  # exited, or not ours to read
        total += rss * 1024
    return total


class PeakRss:
    """Samples the resident memory (PSS) of this process tree: driver
    Python, the JVM it launched and the JVM's Python workers, every
    ``period`` seconds on a daemon thread. ``peak`` is the highest sum
    seen while ``measuring`` was set (the timed operations), ``run_peak``
    the highest over the whole run."""

    def __init__(self, period: float = 0.25):
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.measuring = False
        self.peak = 0
        self.run_peak = 0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            now = tree_pss_bytes(me)
            self.run_peak = max(self.run_peak, now)
            if self.measuring:
                self.peak = max(self.peak, now)
            self._stop.wait(self._period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
