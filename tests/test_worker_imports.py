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


#: webtext closures that reference only numpy, pandas or the standard
#: library; each is marked with ``_worker.hooked``
HOOKED_CLOSURES = {
    "repetition_stats.<locals>.rep_udf",
    "fingerprint.<locals>.fp",
    "_chunk_key_udf.<locals>.key_udf",
    "exact_dedup_incremental.<locals>._partial_blooms",
    "exact_dedup_incremental.<locals>.might_contain",
    "minhash_signatures.<locals>.sig_udf",
    "simhash_signatures.<locals>.bitvote",
    "normalize_text.<locals>._norm",
    "pack_greedy.<locals>._pack",
    "_probe_topk.<locals>.score",
}


def test_webtext_closures_import_the_package_when_unpickled(spark, tmp_path, monkeypatch):
    """Capture the command each webtext operator ships to workers, unpickle
    it in a fresh interpreter and check that the package got imported
    there, so a worker that runs only these closures installs the hook."""
    import os
    import subprocess
    import sys

    import pyspark.core.rdd as rdd
    from pyspark.serializers import CloudPickleSerializer

    import anofox_forecast_spark
    from anofox_forecast_spark.webtext.clean import normalize_text
    from anofox_forecast_spark.webtext.dedup import (
        exact_dedup_incremental,
        line_dedup,
        minhash_signatures,
        simhash_signatures,
    )
    from anofox_forecast_spark.webtext.pipeline import pack_greedy
    from anofox_forecast_spark.webtext.similarity import lsh_cosine_topk
    from anofox_forecast_spark.webtext.text_stats import fingerprint, repetition_stats

    shipped = {}
    prepare = rdd._prepare_for_python_RDD

    def capture(sc, command):
        func = command[0] if isinstance(command, tuple) else command
        shipped.setdefault(getattr(func, "__qualname__", None), command)
        return prepare(sc, command)

    monkeypatch.setattr(rdd, "_prepare_for_python_RDD", capture)

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat. the cat sat."), (2, "a dog ran far away")],
        "id long, text string")
    repetition_stats(docs, "id", "text")
    fingerprint(docs, "id", "text")
    line_dedup(docs, "id", "text")
    exact_dedup_incremental(docs, docs, "id", "text", bloom_bits=1 << 10)
    minhash_signatures(docs, "id", "text")
    simhash_signatures(docs, "id", "text")
    normalize_text(docs, "id", "text")
    pack_greedy(docs.selectExpr("id", "'d' AS domain", "length(text) AS n"),
                "id", "domain", "n", budget=16)
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(4)], "vec_id long, embedding array<double>")
    lsh_cosine_topk(vecs, vecs, dim=4, n_tables=2, n_planes=2)

    assert HOOKED_CLOSURES <= shipped.keys(), sorted(HOOKED_CLOSURES - shipped.keys())
    env = dict(os.environ,
               PYTHONPATH=os.path.dirname(os.path.dirname(anofox_forecast_spark.__file__)))
    check = ("import pickle, sys\n"
             "pickle.loads(open(sys.argv[1], 'rb').read())\n"
             "print('anofox_forecast_spark' in sys.modules)\n")
    ser = CloudPickleSerializer()
    imported = {}
    for i, name in enumerate(sorted(HOOKED_CLOSURES)):
        path = tmp_path / f"command{i}.pkl"
        path.write_bytes(ser.dumps(shipped[name]))
        out = subprocess.run([sys.executable, "-c", check, str(path)], cwd=tmp_path,
                             env=env, capture_output=True, text=True, check=True)
        imported[name] = out.stdout.strip()
    assert imported == {name: "True" for name in HOOKED_CLOSURES}
