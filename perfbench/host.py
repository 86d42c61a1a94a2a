"""Host fit and host fingerprint, read from outside the program.

The engine's session factory takes its heap from
``SPARK_GRAFT_DRIVER_MEM`` and its core count from ``SPARK_GRAFT_CPUS``;
the benchmark sets both from what this host actually has, so the same
command runs on a 4-core / 15 GB box and on a large bench host.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys

#: share of usable memory given to the driver heap; the rest is left to
#: Python workers, the page cache holding the fixtures, and neighbours.
#: Over ten search runs each on a 16 GB host, a DataFrame-lane query
#: took 16-26 times as long as an exact scan at 1/8 (2 GB), and 16-21
#: times at 1/4
HEAP_SHARE = 0.25
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 16 * 1024


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cgroup_limit_mb() -> int | None:
    for p in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < 1 << 60:
            return int(raw) // (1024 * 1024)
    return None


def usable_mem_mb() -> int:
    limit = cgroup_limit_mb()
    total = mem_total_mb()
    return min(total, limit) if limit else total


def heap_mb() -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, int(usable_mem_mb() * HEAP_SHARE)))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def free_disk_mb(path: str) -> int:
    return shutil.disk_usage(path).free // (1024 * 1024)


def _first_line(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout or out.stderr).strip()
    return text.splitlines()[0] if text else "unknown"


def source_digest(root: str, packages: tuple[str, ...] = ("laion_spark", "perfbench")) -> str:
    """A digest of the program's and the benchmark's ``.py`` sources as
    they are on disk, uncommitted edits included."""
    import hashlib

    h = hashlib.sha256()
    for pkg in packages:
        for dirpath, dirnames, files in os.walk(os.path.join(root, pkg)):
            dirnames.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    h.update(os.path.relpath(full, root).encode())
                    with open(full, "rb") as f:
                        h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def source_version(root: str) -> str:
    """The git commit when run from a clone; otherwise the source
    digest, so two checkouts of one commit stamp the same."""
    if os.path.isdir(os.path.join(root, ".git")):
        rev = _first_line(["git", "-C", root, "rev-parse", "HEAD"])
        if rev != "unknown":
            return rev
    return source_digest(root)


def fingerprint(root: str, heap: int) -> dict:
    import pyspark

    return {
        "cores": cpus(),
        "mem_total_mb": mem_total_mb(),
        "cgroup_limit_mb": cgroup_limit_mb(),
        "heap_mb": heap,
        "free_disk_mb": free_disk_mb(root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _first_line(["java", "-version"]),
        "source": source_version(root),
        "digest": source_digest(root),
        "platform": platform.platform(),
        "executable": sys.executable,
    }


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the worker process, its JVM
    and every Python worker the JVM forks share one session)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 6 is the session id; the command name (field 2) may hold
        # spaces, so split after its closing parenthesis
        fields = stat[stat.rfind(")") + 2 :].split()
        if len(fields) > 3 and int(fields[3]) == sid:
            out.append(int(name))
    return out


def peak_rss_mb(exclude: int) -> float:
    """Sum of VmHWM over the session's processes except ``exclude``
    (the benchmark's own Python process): the driver JVM plus every
    Python worker."""
    sid = os.getsid(0)
    kb = sum(_status_kb(p, "VmHWM") for p in session_pids(sid) if p != exclude)
    return kb / 1024.0
