"""The stat-keyed ``zipimporter.invalidate_caches`` the package installs:
an unchanged archive's index is not re-parsed on every
``importlib.invalidate_caches()`` (which pyspark's worker calls before
every task), a rewritten archive still is, and Python workers running a
package UDF have it installed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import pdf_extraction_spark  # noqa: F401 — installs the stat-keyed method


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path holding module ``zmod_a``, and a counter
    of ``zipimport._read_directory`` calls (one per index parse)."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 'a'\n")
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(archive))
    yield archive, reads
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def _importer(archive):
    imp = sys.path_importer_cache[str(archive)]
    assert isinstance(imp, zipimport.zipimporter)
    return imp


def test_unchanged_archive_index_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zmod_a").VALUE == "a"
    imp = _importer(archive)
    imp.invalidate_caches()
    n = reads.count(str(archive))
    imp.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == n
    assert importlib.import_module("zmod_a").VALUE == "a"


def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zmod_a")
    imp = _importer(archive)
    imp.invalidate_caches()
    n = reads.count(str(archive))
    with zipfile.ZipFile(archive, "w") as z:  # rewritten in place
        z.writestr("zmod_a.py", "VALUE = 'a'\n")
        z.writestr("zmod_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == n + 1
    assert importlib.import_module("zmod_b").VALUE == "b"


def test_python_workers_run_the_stat_keyed_method(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        from pdf_extraction_spark import _stat_keyed_invalidate_caches

        for _ in batches:
            yield pd.DataFrame(
                {"stat_keyed": [zipimport.zipimporter.invalidate_caches
                                is _stat_keyed_invalidate_caches]}
            )

    rows = spark.range(0, 64, numPartitions=8).mapInPandas(report, "stat_keyed boolean").collect()
    assert rows and all(r["stat_keyed"] for r in rows)
