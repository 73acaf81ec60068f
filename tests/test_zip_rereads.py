"""``session.skip_unchanged_zip_rereads``: a Python worker re-reads a
zip archive on its path only when the archive changed.

Each PySpark task starts with ``importlib.invalidate_caches()``, which
on CPython 3.11/3.12 re-reads every zip archive's directory on the
worker path (pyspark.zip, the spark-core jar, py4j: ~0.2 s a task).
"""

from __future__ import annotations

import contextlib
import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import types as T

from pgloader_spark.session import skip_unchanged_zip_rereads
from pgloader_spark.sources.jdbc import key_ranges, read_ranges


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        pytest.skip("this runtime reads zip directories lazily")
    # restored at teardown, so the guard does not outlive the test
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zr_first"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zr_first").NAME == "zr_first"
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    skip_unchanged_zip_rereads()
    skip_unchanged_zip_rereads()  # a second call is a no-op
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    # a re-shipped archive that gains a module is re-read
    _write_zip(archive, ["zr_first", "zr_second"])
    importlib.invalidate_caches()
    assert reads.count(archive) >= 1
    assert importlib.import_module("zr_second").NAME == "zr_second"
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    # an archive that cannot be stat'ed is re-read (and found gone)
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert reads.count(archive) >= 1
    sys.path_importer_cache.pop(archive, None)
    for name in ("zr_first", "zr_second"):
        sys.modules.pop(name, None)


def test_guard_leaves_lazy_runtimes_alone(monkeypatch):
    """CPython 3.13 reads a zip directory lazily (``_get_files``):
    there ``invalidate_caches`` is cheap and stays as it is."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(cls, "_get_files", lambda self: {}, raising=False)
    before = cls.__dict__["invalidate_caches"]
    skip_unchanged_zip_rereads()
    assert cls.__dict__["invalidate_caches"] is before


def test_read_ranges_tasks_skip_unchanged_rereads(spark):
    """Inside a range-read task, a second ``invalidate_caches()`` re-reads
    no archive: the task's own start-up call already read them all and
    none changed since."""

    def fetch(conn, lo, hi):
        import importlib
        import sys
        import zipimport

        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        lazy = hasattr(zipimport.zipimporter, "_get_files")
        n = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            n[0] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return [[n[0]], [zips], [lazy]]

    schema = T.StructType(
        [
            T.StructField("reads", T.LongType()),
            T.StructField("zips", T.LongType()),
            T.StructField("lazy", T.BooleanType()),
        ]
    )
    rows = read_ranges(
        spark, key_ranges(0, 8, 1), schema, contextlib.nullcontext, fetch
    ).collect()
    assert len(rows) == 8
    if any(r.lazy for r in rows) or not all(r.zips for r in rows):
        pytest.skip("no eager zip importer on the worker path")
    assert [r.reads for r in rows] == [0] * 8


def test_query_kernel_leaves_its_worker_skipping_unchanged_rereads(spark):
    """A query's ``mapInPandas`` kernel (``image_metadata``) installs the
    guard in its Python worker, so the next task that worker runs reads
    no unchanged archive.  A unique environment entry gives this test's
    jobs a Python worker pool of their own, which only the kernel's
    task has used before the probe task reuses its worker."""
    import uuid

    from pgloader_spark.operators.multimodal import image_metadata

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        n = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            n[0] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame(
            {"reads": [n[0]], "zips": [zips],
             "lazy": [hasattr(zipimport.zipimporter, "_get_files")]}
        )

    sc = spark.sparkContext
    sc.environment["PGLOADER_SPARK_TEST_POOL"] = uuid.uuid4().hex
    try:
        docs = spark.createDataFrame(
            [(1, bytearray(b"not an image"))], "doc_id long, payload binary"
        ).coalesce(1)
        assert len(image_metadata(docs).collect()) == 1
        (row,) = (
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "reads long, zips long, lazy boolean")
            .collect()
        )
    finally:
        del sc.environment["PGLOADER_SPARK_TEST_POOL"]
    if row.lazy or not row.zips:
        pytest.skip("no eager zip importer on the worker path")
    assert row.reads == 0
