"""The Python worker daemon: zip importers re-read an archive only when
its stamp changed, and the test session's workers run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from sstable_migrator_spark import worker_daemon
from sstable_migrator_spark.session import DAEMON_MODULE


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("zd_first").VALUE == 1
        importlib.invalidate_caches()  # first read under the patch
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        # a rewritten archive (new stamp) is re-read and its new module imports
        _write_zip(archive, {"zd_first": "VALUE = 1\n", "zd_second": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zd_second").VALUE == 2
    finally:
        for name in ("zd_first", "zd_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_run_under_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE

    def count_reads(batches):
        import importlib as il
        import sys as sy
        import zipimport as zi

        import pyarrow as pa

        for _ in batches:
            pass
        importers = sum(
            isinstance(f, zi.zipimporter) for f in sy.path_importer_cache.values()
        )
        reads = []
        real_read = zi._read_directory

        def counting(path):
            reads.append(path)
            return real_read(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
            il.invalidate_caches()
        finally:
            zi._read_directory = real_read
        yield pa.RecordBatch.from_pydict({"importers": [importers], "reads": [len(reads)]})

    rows = spark.range(1, numPartitions=1).mapInArrow(
        count_reads, "importers long, reads long"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["importers"] > 0  # the worker really imports from zips
    assert rows[0]["reads"] == 0
