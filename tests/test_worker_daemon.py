"""The Python worker daemon's zip importer (``dataclass_array_spark._daemon``):
a task's ``importlib.invalidate_caches()`` re-reads an archive only when
the archive changed on disk, and the sessions ``get_spark`` builds run
their workers under it."""

import importlib.util
import zipfile

import pytest

from dataclass_array_spark._daemon import _StatZipImporter


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _load(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_is_not_reread(tmp_path):
    path = str(tmp_path / "deps.zip")
    _write_zip(path, {"das_zip_a": "X = 1\n"})
    imp = _StatZipImporter(path)
    assert _load(imp, "das_zip_a").X == 1
    files = imp._files
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert imp._files is files  # the listing was not re-parsed


def test_rewritten_archive_is_reread(tmp_path):
    path = str(tmp_path / "deps.zip")
    _write_zip(path, {"das_zip_b": "X = 1\n"})
    imp = _StatZipImporter(path)
    other = _StatZipImporter(path)  # a second importer of the same archive
    files = imp._files
    assert imp.find_spec("das_zip_c") is None
    _write_zip(path, {"das_zip_b": "X = 1\n", "das_zip_c": "Y = 2 * 21\n"})
    imp.invalidate_caches()
    assert imp._files is not files
    assert _load(imp, "das_zip_c").Y == 42
    other.invalidate_caches()  # picks up the listing the first one re-read
    assert other._files is imp._files


def test_plain_udf_runs_on_the_daemon(spark):
    """A UDF that references nothing from the package still runs: the
    daemon only swaps the zip path hook."""
    from pyspark.sql import functions as F

    plus_one = F.udf(lambda x: x + 1, "long")
    assert [r[0] for r in spark.range(3).select(plus_one("id")).collect()] == [1, 2, 3]


def test_workers_use_the_stat_checked_importer(spark):
    """A worker resolves its path's zips through the package's importer.
    The worker looks up a module that exists nowhere, so every
    ``sys.path`` entry gets an importer from the current path hooks."""

    def report(batches):
        import importlib.util
        import sys

        import pyarrow as pa

        for _ in batches:
            pass
        importlib.util.find_spec("das_no_such_module")
        zips = [p for p in sys.path if p.endswith("pyspark.zip")]
        kinds = [type(sys.path_importer_cache.get(p)).__name__ for p in zips]
        yield pa.RecordBatch.from_pydict({"kind": kinds}, schema=pa.schema([("kind", pa.string())]))

    kinds = {r.kind for r in spark.range(1, numPartitions=1).mapInArrow(report, "kind string").collect()}
    if not kinds:
        pytest.skip("the worker path holds no pyspark.zip")
    assert kinds == {_StatZipImporter.__name__}
