"""Per-task zip re-read guard installed by ``corenlp_spark.session``.

PySpark workers call ``importlib.invalidate_caches()`` at the start of every
task; the guard makes that skip zip archives whose (mtime, size) did not
change since the importer last read them."""

import importlib
import sys
import zipfile
import zipimport

import corenlp_spark  # noqa: F401  (installs the guard)


def _write_module_zip(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m.py", source)


def _count_directory_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mod.zip"
    _write_module_zip(archive, "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "m", raising=False)
    import m

    assert m.X == 1
    importlib.invalidate_caches()  # first call per importer still reads
    calls = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []

    _write_module_zip(archive, "X = 22\n")  # a different size
    importlib.invalidate_caches()
    del sys.modules["m"]
    import m

    assert m.X == 22
    sys.modules.pop("m", None)
    sys.path_importer_cache.pop(str(archive), None)


def test_missing_archive_falls_back_to_the_original(tmp_path, monkeypatch):
    archive = tmp_path / "gone.zip"
    _write_module_zip(archive, "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    archive.unlink()
    importer.invalidate_caches()  # stat fails → original: empties the cache
    assert importer.find_spec("m") is None


def test_reused_worker_skips_the_reread(spark):
    """A worker that imported the package in an earlier task installed the
    guard before this task's ``setup_spark_files``, so by the time the UDF
    runs every importer is recorded and nothing is re-read."""
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        warm = "corenlp_spark" in sys.modules
        import corenlp_spark  # noqa: F401

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
        for _ in batches:
            pass
        yield pd.DataFrame({"warm": [warm], "reads": [len(calls)]})

    def run():
        df = spark.range(0, 4, numPartitions=4).mapInPandas(
            probe, "warm boolean, reads long")
        return [(r.warm, r.reads) for r in df.collect()]

    run()  # every worker it lands on imports the package
    second = run()
    warm = [reads for is_warm, reads in second if is_warm]
    assert warm, second
    assert warm == [0] * len(warm), second
