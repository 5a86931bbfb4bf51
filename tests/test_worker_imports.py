"""Python-worker zip imports (anofox_forecast_spark/_worker.py).

Every task runs ``importlib.invalidate_caches()`` in pyspark's
``setup_spark_files``. With the package imported in a worker, unchanged zip
archives are not re-read by it; a rewritten one still is; the driver keeps
the stdlib ``zipimporter.invalidate_caches``.
"""

from __future__ import annotations

import zipfile
import zipimport


def test_unchanged_archives_are_not_reread_per_task(spark):
    """Count ``zipimport._read_directory`` calls per worker process between
    two tasks that the same worker runs: that span holds the second task's
    ``setup_spark_files``."""

    def probe(it):
        import os
        import sys
        import zipimport as zi

        import pandas as pd

        import anofox_forecast_spark  # noqa: F401  (as an engine UDF's unpickling does)

        for _ in it:
            pass
        if not hasattr(zi, "_probe_reads"):
            zi._probe_reads = [0]
            read = zi._read_directory

            def counting(archive):
                zi._probe_reads[0] += 1
                return read(archive)

            zi._read_directory = counting
        importers = sum(isinstance(i, zi.zipimporter)
                        for i in sys.path_importer_cache.values())
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [zi._probe_reads[0]],
                            "importers": [importers]})

    df = spark.range(1, numPartitions=1)
    schema = "pid long, reads long, importers long"
    # Idle workers are taken in turn, so a worker runs again only after
    # every other idle worker has: repeat until some workers ran twice.
    runs, last_reads, checked = [], {}, 0
    while checked < 2 and len(runs) < 64:
        r = df.mapInPandas(probe, schema).collect()[0]
        runs.append(r)
        if r.pid in last_reads:
            assert r.reads - last_reads[r.pid] == 0, runs
            checked += 1
        last_reads[r.pid] = r.reads
    assert checked == 2, runs
    assert all(r.importers > 0 for r in runs), runs


def test_rewritten_archive_is_reread(spark, tmp_path):
    """Import from a zip on a worker's ``sys.path``, rewrite the zip, call
    ``importlib.invalidate_caches()`` and re-import: the new contents load,
    and an unchanged archive is not re-read."""
    zpath = str(tmp_path / "probe_pkg.zip")

    def write(value: str) -> None:
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("probe_zip_mod.py", f"VALUE = {value!r}\n")

    def probe(it):
        import importlib
        import sys
        import zipimport as zi

        import pandas as pd

        import anofox_forecast_spark  # noqa: F401

        for _ in it:
            pass
        write("first")
        sys.path.insert(0, zpath)
        try:
            first = importlib.import_module("probe_zip_mod").VALUE
            importlib.invalidate_caches()  # the first call for a new archive reads it
            reads = [0]
            read = zi._read_directory

            def counting(archive):
                if archive == zpath:
                    reads[0] += 1
                return read(archive)

            zi._read_directory = counting
            try:
                importlib.invalidate_caches()
                unchanged_reads = reads[0]
                write("second, longer")
                del sys.modules["probe_zip_mod"]
                importlib.invalidate_caches()
                second = importlib.import_module("probe_zip_mod").VALUE
            finally:
                zi._read_directory = read
        finally:
            sys.path.remove(zpath)
            sys.modules.pop("probe_zip_mod", None)
        hooked = zi.zipimporter.invalidate_caches.__module__
        yield pd.DataFrame({"first": [first], "second": [second],
                            "unchanged_reads": [unchanged_reads],
                            "changed_reads": [reads[0] - unchanged_reads],
                            "hook": [hooked]})

    schema = "first string, second string, unchanged_reads long, changed_reads long, hook string"
    r = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()[0]
    assert r.hook == "anofox_forecast_spark._worker"
    assert (r.first, r.second) == ("first", "second, longer")
    assert r.unchanged_reads == 0
    assert r.changed_reads == 1


def test_driver_keeps_stdlib_invalidate_caches(spark):
    import anofox_forecast_spark  # noqa: F401

    spark.range(4).mapInPandas(lambda it: it, "id long").collect()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
