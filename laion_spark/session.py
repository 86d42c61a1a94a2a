"""SparkSession factory and runtime tuning.

Local-mode testing config mirrors a 1000-executor posture: AQE on
(runtime coalesce + skew-join handling), shuffle partitions sized to
cores locally (on a real cluster: 2-3x total cores), Arrow enabled for
every pandas boundary, UTC session timezone so results are comparable
with external engines (parquet timestamps are instants; DuckDB reads
them UTC-naive).
"""

from __future__ import annotations

import atexit
import os
import sys
import zipimport

from pyspark.sql import SparkSession

# Runtime-settable confs — safe to apply to an externally created
# session (e.g. the verification driver's); everything here can be set
# after startup via spark.conf.set.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 768-d float64 embeddings ~6 KB/row: 10k-row Arrow batches keep the
    # Python-boundary transfer ~60 MB per batch worst case.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Spark has no TIMESTAMP(NANOS) type; read nanos as raw bigint
    # (events.parquet uses nanos) and convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Per-task zip directory re-reads in Python workers. PySpark calls
# importlib.invalidate_caches() at the start of EVERY task
# (worker_util.setup_spark_files), and before Python 3.13 (gh-103200
# made it lazy) that makes each zipimporter on sys.path re-read its
# whole archive directory, changed or not. A reused worker holds 17
# importers: 12 on pyspark.zip (1,328 entries, 11.7 ms a read), 2 on
# the spark-core jar (5,359 entries, 34-48 ms), 2 on py4j's zip and 1
# on this package's shipped zip. Measured on a 4-core host, Python
# 3.11.7, PySpark 4.1.2, a no-op mapInArrow over 4 partitions with
# reused workers: 17 reads and a median 284 ms of invalidate_caches()
# per task, 848 ms per job; with the gate below, 0 reads and 0.16 ms
# per task, 246 ms per job (a JVM-only job: 86-107 ms). Gated on the
# archive's stat, a worker reads each archive again only when it
# changed. Installed only in workers (the driver's import system stays
# stock): every engine closure imports this package when it unpickles
# or runs, so a reused worker is gated from its first or second engine
# task on.
_stdlib_zip_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key, directory dict) of its last gated read
_zip_dir_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _gated_zip_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its (inode, size, mtime_ns) changed since it was last read; a
    failed stat (archive gone) falls back to the stdlib behaviour."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _zip_dir_reads.pop(self.archive, None)
        return _stdlib_zip_invalidate(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    seen = _zip_dir_reads.get(self.archive)
    if seen is not None and seen[0] == key:
        self._files = seen[1]
        return
    _stdlib_zip_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:  # the read succeeded
        _zip_dir_reads[self.archive] = (key, self._files)


def _install_zip_invalidation_gate() -> None:
    if sys.version_info >= (3, 13):
        return
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # pyspark-connect only: no classic workers
        return
    if SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = _gated_zip_invalidate


_install_zip_invalidation_gate()


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _ship_package(spark: SparkSession) -> None:
    """Ship laion_spark to executor Python workers via addPyFile.

    Worker-side closures (mapInPandas/mapInArrow) reference functions
    from this package; workers unpickle them by module reference, so the
    package must be importable there. Locally that only holds when the
    driver's cwd is the repo; on a real cluster it never holds. Zipping
    the package and addPyFile-ing it is the standard, cluster-correct
    fix (and is idempotent per session). The zip is removed when the
    driver exits, not after ``addPyFile``: a cluster's file server
    serves executors from this path for the session's lifetime."""
    if getattr(spark, "_laion_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    import laion_spark

    pkg_dir = os.path.dirname(os.path.abspath(laion_spark.__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"laion_spark_pkg_{os.getpid()}.zip")
    atexit.register(_remove_quietly, zpath)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    arc = os.path.join("laion_spark", os.path.relpath(full, pkg_dir))
                    z.write(full, arc)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # e.g. Spark Connect — closures are shipped differently there
    spark._laion_pkg_shipped = True


def tune_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host — keep its value
    n = shuffle_partitions or default_parallelism()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    except Exception:
        pass
    _ship_package(spark)
    return spark


def _tune_worker_malloc() -> None:
    """Pin glibc so python workers KEEP freed large buffers (r14).

    Measured on this sandbox: first-touch of freshly mapped anonymous
    memory intermittently costs ~100-1100 us PER 4 KB PAGE (the
    hypervisor backs guest pages on demand under host memory
    overcommit), i.e. 10-17 s to touch a fresh 64 MB buffer — while
    re-touching an already-backed buffer costs microseconds. glibc's
    default M_MMAP_THRESHOLD (<=32 MB) mmap/munmaps every larger
    allocation, so each numpy temporary in the scorer/generator hot
    loops could re-fault its whole footprint every call. Disabling
    trim and raising the mmap threshold to 256 MB keeps those buffers
    in the arena: each worker pays first-touch once per working-set
    byte and never again. Env must be set BEFORE a process starts
    (glibc reads it at startup) — setting it here, before the JVM
    spawns, propagates JVM -> python daemon -> every worker. Harmless
    on healthy hosts (slightly higher steady-state RSS)."""
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))


def _read_first_int(path: str, prefix: str = "") -> int | None:
    """First integer in ``path`` on a line starting with ``prefix``;
    None if the file is missing or holds none (cgroup v2 ``max``)."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(prefix):
                    tok = line[len(prefix):].split()
                    return int(tok[0]) if tok and tok[0].isdigit() else None
    except OSError:
        pass
    return None


def default_driver_mem(
    meminfo: str = "/proc/meminfo",
    cgroup_limits: tuple[str, ...] = (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ),
) -> str:
    """Driver heap for a local session: 40% of min(MemTotal, cgroup
    limit), clamped to 1-16 GB, as a JVM size string ("6428m").

    The heap is committed up front (Xms == Xmx), so it must fit beside
    the Python workers and the page cache on whatever host runs it:
    a fixed 16g cannot be committed at all on a 15.7 GB swapless host.
    40% leaves the rest to workers and to cached fixtures; the full
    test suite passed at 6g on that host."""
    kb = _read_first_int(meminfo, "MemTotal:")
    if kb is not None:
        usable = kb * 1024
    else:  # no /proc (macOS): physical memory from sysconf
        usable = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for p in cgroup_limits:
        lim = _read_first_int(p)
        if lim is not None and lim < 1 << 60:  # v1 "unlimited" is ~2^63
            usable = min(usable, lim)
            break
    return f"{max(1024, min(16 * 1024, int(usable * 0.4) // (1024 * 1024)))}m"


def get_session(app_name: str = "laion_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) a local session tuned for this engine.

    On a real cluster the master/memory settings come from
    spark-submit; only the runtime confs in ``tune_session`` apply.
    """
    _tune_worker_malloc()
    n = cpus or default_parallelism()
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", mem)
        # Xms == Xmx: G1 never uncommits heap regions, so the JVM too
        # pays this host's slow first-touch (see _tune_worker_malloc)
        # at most once per heap page instead of refaulting after every
        # periodic uncommit
        .config("spark.driver.extraJavaOptions", f"-Xms{mem}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(n))
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark, shuffle_partitions=n)
