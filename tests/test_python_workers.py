"""The Python worker daemon of local sessions (``worker_daemon``): zip
import caches that last across tasks.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from terraform_aws_lambda_kinesis_to_s3_spark import worker_daemon as W

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 re-reads zip directories lazily: stock daemon"
)


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)
    return str(path)


@pytest.fixture
def cache_rule(monkeypatch):
    """The daemon's two replacements, as its ``__main__`` installs them,
    undone after the test."""
    monkeypatch.setattr(W, "_read_as", {})
    monkeypatch.setattr(zipimport, "_read_directory", W._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", W.invalidate_caches)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    inner = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return inner(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@before_313
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, cache_rule):
    archive = _write_zip(tmp_path / "mods.zip", {"zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zmod_a", raising=False)
    assert importlib.import_module("zmod_a").X == 1
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@before_313
def test_changed_archive_is_reread(tmp_path, monkeypatch, cache_rule):
    archive = _write_zip(tmp_path / "mods.zip", {"zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zmod_a")
    reads = _count_reads(monkeypatch, archive)
    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zmod_b").Y == 2
    importlib.invalidate_caches()
    assert reads == [archive]


def test_importing_the_daemon_module_patches_nothing():
    stock = (zipimport._read_directory, zipimport.zipimporter.invalidate_caches)
    importlib.reload(W)
    assert (zipimport._read_directory, zipimport.zipimporter.invalidate_caches) == stock
    assert stock != (W._read_directory, W.invalidate_caches)


@before_313
def test_workers_keep_zip_caches_across_tasks(spark):
    """Three one-task jobs: each task's worker was forked by the one
    daemon of the session with the replacement in place, and an
    invalidation inside the task (after the one PySpark made before it)
    reads no archive directory."""

    def probe(batches):
        """One row from inside the worker: the file of its
        ``invalidate_caches``, its pid and its daemon's, and how many archive
        directories a further invalidation reads."""
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        reads = []
        inner = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or inner(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = inner
        yield pa.RecordBatch.from_pydict(
            {
                "file": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
                "pid": [os.getpid()],
                "daemon": [os.getppid()],
                "reads": [len(reads)],
            }
        )

    rows = [
        spark.range(4, numPartitions=1)
        .mapInArrow(probe, "file string, pid long, daemon long, reads long")
        .collect()[0]
        for _ in range(3)
    ]
    assert {os.path.basename(r.file) for r in rows} == {"worker_daemon.py"}, rows
    assert [r.reads for r in rows] == [0, 0, 0], rows
    assert len({r.daemon for r in rows}) == 1, rows
