"""Host-fit defaults for the measurement scripts: the cores, driver heap
and test-data scale that fit the host they run on, instead of fixed
figures from a bigger machine.

    from hostfit import host_cores, host_heap_gib, largest_sf_dir

(``tools/`` on sys.path: a script in ``tools/`` has it already.)
"""

from __future__ import annotations

import glob
import os
import subprocess


def host_cores() -> int:
    """Usable cores as ``env -u OMP_NUM_THREADS nproc`` reports them."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        return max(1, int(subprocess.run(["nproc"], env=env, capture_output=True,
                                         text=True, check=True).stdout))
    except (OSError, ValueError, subprocess.SubprocessError):
        return max(1, len(os.sched_getaffinity(0)))


def host_heap_gib(cores: int) -> int:
    """Driver heap: half of MemTotal left after 2 GiB for the OS and
    0.5 GiB per core for the Python workers."""
    with open("/proc/meminfo") as f:
        total = next(int(ln.split()[1]) for ln in f
                     if ln.startswith("MemTotal:")) / (1 << 20)
    return max(1, int((total - 2.0 - 0.5 * cores) / 2))


def largest_sf_dir(root: str) -> str | None:
    """The ``<root>/sf<scale>`` directory with the largest scale, or
    None when there is none."""
    dirs = []
    for d in glob.glob(os.path.join(root, "sf*")):
        try:
            dirs.append((float(os.path.basename(d)[2:]), d))
        except ValueError:
            continue
    return max(dirs)[1] if dirs else None
