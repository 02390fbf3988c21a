"""The engine's Python worker daemon (dumpr_spark/worker_daemon.py): stat-
checked zipimport invalidation, checked without Spark and inside real
workers, and the worker path entry `get_spark` adds for it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from dumpr_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "wd_probe_pkg"


def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        for name in modules:
            z.writestr(f"{PKG}/{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip holding `wd_probe_pkg.a`, imported so that two importers over it
    (the archive root and the package prefix) sit in the importer cache,
    with the stat-checked invalidation installed for this test only and
    `zipimport._read_directory` calls over the archive counted."""
    archive = str(tmp_path / "probe.zip")
    write_zip(archive, ["a"])
    # so that teardown puts the stock method back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{PKG}.a")
    importers = [sys.path_importer_cache[archive],
                 sys.path_importer_cache[os.path.join(archive, PKG)]]
    assert all(isinstance(i, zipimport.zipimporter) for i in importers)

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    worker_daemon.install_stat_checked_invalidation()
    yield archive, importers, reads
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(probe_zip):
    archive, importers, reads = probe_zip
    importlib.invalidate_caches()  # the first call stamps the archive
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    assert all(i._files is zipimport._zip_directory_cache[archive] for i in importers)


def test_rewritten_archive_is_read_once_and_imports(probe_zip):
    archive, importers, reads = probe_zip
    importlib.invalidate_caches()
    write_zip(archive, ["a", "b"])  # in place: same inode, new size
    del reads[:]
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert all(f"{PKG}/b.py" in i._files for i in importers)
    assert importlib.import_module(f"{PKG}.b").NAME == "b"
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_deleted_archive_gets_empty_directory(probe_zip):
    archive, importers, reads = probe_zip
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # no raise, as with the stock method
    assert all(i._files == {} for i in importers)
    assert archive not in zipimport._zip_directory_cache
    write_zip(archive, ["a"])  # back again: read anew
    del reads[:]
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert all(f"{PKG}/a.py" in i._files for i in importers)


def test_python_tasks_do_not_reread_zip_directories(spark):
    """Inside real Python workers, a task's `importlib.invalidate_caches()`
    reads no archive directory, in a fresh and in a reused worker; the
    stock method reads one per zipimporter (about 18)."""

    def count_reads(batches):
        import zipimport as zi

        import pandas as pd

        stock_read = zi._read_directory
        reads = []

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zi._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = stock_read
        for _ in batches:
            pass
        importers = sum(isinstance(i, zi.zipimporter)
                        for i in sys.path_importer_cache.values())
        yield pd.DataFrame({"reads": [len(reads)], "importers": [importers]})

    df = spark.range(2, numPartitions=2).mapInPandas(count_reads, "reads long, importers long")
    for _ in range(2):
        rows = df.collect()
        assert len(rows) == 2
        assert all(r.importers > 0 for r in rows), rows
        assert all(r.reads == 0 for r in rows), rows


def test_udf_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    """A session started outside the checkout with no PYTHONPATH still runs
    Python UDFs: `get_spark` puts the package on the workers' path, merged
    with a caller's `spark.executorEnv.PYTHONPATH` (whose module the UDF
    imports)."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "wd_extra_mod.py").write_text("OFFSET = 10\n")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from dumpr_spark.session import get_spark

        spark = get_spark("foreign_cwd", cpus=1, extra_conf={{
            "spark.executorEnv.PYTHONPATH": {str(extra)!r}}})

        def shift(batches):
            import wd_extra_mod
            for b in batches:
                yield b + wd_extra_mod.OFFSET

        rows = spark.range(3).mapInPandas(shift, "id long").collect()
        print("IDS", sorted(r.id for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "IDS [10, 11, 12]" in out.stdout
