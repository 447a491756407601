"""The zip-importer guard in ``ccspark/__init__.py``: an unchanged archive
is not re-read on ``importlib.invalidate_caches()``, a rewritten one is,
and Spark Python workers running ccspark code carry the guard."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import ccspark  # noqa: F401 — installs the guard


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_zip_not_reread_and_rewritten_zip_picked_up(tmp_path, monkeypatch):
    archive = tmp_path / "guarded.zip"
    _write_zip(archive, {"zg_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zg_mod_a", "zg_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zg_mod_a").VALUE == 1
    importlib.invalidate_caches()  # the importer's first call may re-read once

    calls = _count_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert [c for c in calls if c == str(archive)] == []

    # rewritten in place (a new --py-files build): re-read, new module importable
    _write_zip(archive, {"zg_mod_a": "VALUE = 1\n", "zg_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert calls.count(str(archive)) == 1
    assert importlib.import_module("zg_mod_b").VALUE == 2

    # stat fails: the stock re-read runs and finds nothing
    archive.unlink()
    importlib.invalidate_caches()
    assert calls.count(str(archive)) == 2


def test_spark_worker_does_not_reread_zips(spark):
    """Workers import pyspark from pyspark.zip and hold the py4j zip and
    the spark-core jar on their path; once ccspark is imported, a
    per-task cache invalidation must parse none of those archives."""

    def probe(batches):
        import importlib
        import zipimport

        import ccspark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()  # first call per importer may re-read once
        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"reads": [len(calls)]})

    rows = spark.range(0, 10, 1, 2).mapInPandas(probe, "reads long").collect()
    assert [r["reads"] for r in rows] == [0, 0]
