"""The stat-gated ``zipimporter.invalidate_caches`` that
``laion_spark.session`` installs in PySpark workers.

PySpark invalidates the import caches at the start of every Python
task; before Python 3.13 that re-reads every zip archive on sys.path.
The gate re-reads an archive only when its (inode, size, mtime_ns)
changed. The in-process tests install it with monkeypatch, since the
driver (this process) must keep the stock importer."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from laion_spark import session


def _write_zip(path, modname: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{modname}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def gated(monkeypatch, tmp_path):
    """Gate installed; a fresh zip on sys.path with one module imported
    from it. Yields (archive path, module name, reads of that archive)."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", session._gated_zip_invalidate)
    monkeypatch.setattr(session, "_zip_dir_reads", {})
    zpath = str(tmp_path / "mods.zip")
    reads: list[str] = []
    stdlib_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    mod = f"gate_mod_{uuid.uuid4().hex}"
    _write_zip(zpath, mod, 1)
    monkeypatch.syspath_prepend(zpath)
    assert importlib.import_module(mod).VALUE == 1
    yield zpath, mod, lambda: reads.count(zpath)
    for name in [m for m in sys.modules if m.startswith("gate_mod_")]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(zpath, None)
    sys.path_importer_cache.pop(zpath, None)


def test_unchanged_archive_is_not_reread(gated):
    zpath, _mod, n_reads = gated
    importlib.invalidate_caches()  # first gated call: one read, recorded
    after_first = n_reads()
    for _ in range(5):
        importlib.invalidate_caches()
    assert n_reads() == after_first
    assert session._zip_dir_reads[zpath][0][1] > 0  # (ino, size, mtime_ns)


def test_rewritten_archive_is_reread_and_new_module_imports(gated):
    zpath, mod, n_reads = gated
    importlib.invalidate_caches()
    before = n_reads()
    new_mod = mod + "_v2"
    with zipfile.ZipFile(zpath, "w") as z:  # same inode, new size and mtime
        z.writestr(f"{mod}.py", "VALUE = 1\n")
        z.writestr(f"{new_mod}.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert n_reads() == before + 1
    assert importlib.import_module(new_mod).VALUE == 2
    importlib.invalidate_caches()
    assert n_reads() == before + 1


def test_deleted_archive_falls_back_to_stdlib(gated, tmp_path):
    zpath, _mod, n_reads = gated
    importlib.invalidate_caches()
    before = n_reads()
    importer = sys.path_importer_cache[zpath]
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    # stdlib: the read is attempted, fails, and empties the directory
    assert n_reads() == before + 1
    assert importer._files == {}
    assert zpath not in session._zip_dir_reads


def test_driver_keeps_stock_invalidation(spark):
    from pyspark.core.files import SparkFiles

    assert not SparkFiles._is_running_on_worker
    assert zipimport.zipimporter.invalidate_caches is session._stdlib_zip_invalidate


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="invalidation is lazy from 3.13 on; no gate installed"
)
def test_engine_worker_installs_gate(spark):
    gate = session._gated_zip_invalidate

    def report(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        # `gate` unpickles by reference: the worker imports laion_spark
        yield pa.RecordBatch.from_pydict(
            {"gated": [zipimport.zipimporter.invalidate_caches is gate]}
        )

    rows = spark.range(0, 2, 1, 2).mapInArrow(report, "gated boolean").collect()
    assert len(rows) == 2 and all(r.gated for r in rows)
