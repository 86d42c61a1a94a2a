"""Session factory host fit: heap sizing and the shipped package zip."""

import os
import subprocess
import sys

from laion_spark.session import default_driver_mem

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemFree:         1000 kB\nMemTotal:       {kb} kB\nSwapTotal: 0 kB\n")
    return str(p)


def _cgroup(tmp_path, name: str, raw: str) -> str:
    p = tmp_path / name
    p.write_text(raw + "\n")
    return str(p)


def test_heap_is_forty_percent_of_memtotal(tmp_path):
    # a 15.7 GB host with no cgroup limit: 6,428 MB
    mi = _meminfo(tmp_path, 16456384)
    assert default_driver_mem(mi, ()) == "6428m"
    assert default_driver_mem(mi, (str(tmp_path / "absent"),)) == "6428m"


def test_heap_follows_a_lower_cgroup_limit(tmp_path):
    mi = _meminfo(tmp_path, 64 * 1024 * 1024)
    v2 = _cgroup(tmp_path, "memory.max", str(8 * 1024**3))
    assert default_driver_mem(mi, (v2,)) == "3276m"
    # v2 "max" is no limit; the v1 file after it still applies
    unlimited = _cgroup(tmp_path, "v2max", "max")
    v1 = _cgroup(tmp_path, "limit_in_bytes", str(4 * 1024**3))
    assert default_driver_mem(mi, (unlimited, v1)) == "1638m"
    # v1 reports "unlimited" as ~2^63: MemTotal applies (capped at 16 GB)
    v1_unl = _cgroup(tmp_path, "v1unl", "9223372036854771712")
    assert default_driver_mem(mi, (v1_unl,)) == "16384m"
    # a cgroup limit above MemTotal does not raise the heap
    assert default_driver_mem(_meminfo(tmp_path, 4 * 1024 * 1024), (v2,)) == "1638m"


def test_heap_is_clamped_to_one_and_sixteen_gb(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 1024 * 1024), ()) == "1024m"
    assert default_driver_mem(_meminfo(tmp_path, 256 * 1024 * 1024), ()) == "16384m"


def test_shipped_package_zip_removed_at_interpreter_exit(tmp_path):
    """The per-pid package zip lives until the driver exits (a cluster's
    file server serves from it), then is removed."""
    child = (
        "import os, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from laion_spark.session import _ship_package\n"
        "class Ctx:\n"
        "    def addPyFile(self, path):\n"
        "        assert os.path.exists(path)\n"
        "        print(path)\n"
        "class Spark:\n"
        "    sparkContext = Ctx()\n"
        "_ship_package(Spark())\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", child], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    zpath = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(zpath) == str(tmp_path)
    assert os.path.basename(zpath).startswith("laion_spark_pkg_")
    assert not os.path.exists(zpath)
