"""session.drop_zip_finders: the zip finders go, other finders stay, and
modules in the zips still import."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pyarrow as pa
from pyspark.sql import types as T

from raster_join_spark.session import drop_zip_finders


def _zip_finders() -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_in_process(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_rjs_zip_probe_a.py", "VALUE = 'a'\n")
        z.writestr("_rjs_zip_probe_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, archive)
    try:
        import _rjs_zip_probe_a

        assert _rjs_zip_probe_a.VALUE == "a"
        assert archive in _zip_finders()
        others = {
            p: f
            for p, f in sys.path_importer_cache.items()
            if not isinstance(f, zipimport.zipimporter)
        }
        assert others

        drop_zip_finders()
        assert _zip_finders() == []
        for p, f in others.items():
            assert sys.path_importer_cache[p] is f

        # the next import rebuilds the finder from the cached directory:
        # the archive is not read again
        def no_read(path):
            raise AssertionError(f"re-read {path}")

        monkeypatch.setattr(zipimport, "_read_directory", no_read)
        import _rjs_zip_probe_b

        assert _rjs_zip_probe_b.VALUE == "b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for m in ("_rjs_zip_probe_a", "_rjs_zip_probe_b"):
            sys.modules.pop(m, None)


def test_worker_holds_no_zip_finder_after_helper(spark):
    """A one-partition mapInArrow through the helper: the worker's path
    holds Spark's archives (pyspark.zip, the py4j zip, the spark-core
    jar), a lookup of a missing module gives each its zip finder, and
    after the helper the worker holds none."""

    def fn(batches):
        import importlib.machinery
        import sys
        import zipimport

        def count():
            return sum(
                isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
            )

        # walks every sys.path entry, caching a finder for each
        importlib.machinery.PathFinder.find_spec("_rjs_no_such_module")
        before = count()
        drop_zip_finders()
        after = count()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays(
            [pa.array([before]), pa.array([after])], names=["before", "after"]
        )

    schema = T.StructType(
        [T.StructField("before", T.LongType()), T.StructField("after", T.LongType())]
    )
    (row,) = spark.range(0, 1, 1, 1).mapInArrow(fn, schema).collect()
    assert row["before"] > 0 and row["after"] == 0
