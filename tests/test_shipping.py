"""The worker-side zip finder that makes per-task cache invalidation cheap."""

from __future__ import annotations

import importlib
import json
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from pdf_extraction_tests_spark.shipping import (
    StatCheckedZipImporter,
    install_zip_stat_check,
)

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    saved_path = list(sys.path)
    saved_hooks = list(sys.path_hooks)
    saved_cache = dict(sys.path_importer_cache)
    saved_modules = dict(sys.modules)
    stock = [f for f in saved_cache.values()
             if type(f) is zipimport.zipimporter]
    archive = tmp_path / "first.zip"
    _write_zip(archive, {"m1": "X = 1\n"})
    try:
        sys.path.insert(0, str(archive))
        importlib.import_module("m1")
        assert type(sys.path_importer_cache[str(archive)]) \
            is zipimport.zipimporter
        install_zip_stat_check()
        assert StatCheckedZipImporter in sys.path_hooks
        assert zipimport.zipimporter not in sys.path_hooks
        assert type(sys.path_importer_cache[str(archive)]) \
            is StatCheckedZipImporter

        reads: list[str] = []
        real_read = zipimport._read_directory

        def counting_read(path):
            if path == str(archive):
                reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module("m2").Y == 2

        later = tmp_path / "later.zip"
        _write_zip(later, {"m3": "Z = 3\n"})
        sys.path.insert(0, str(later))
        assert importlib.import_module("m3").Z == 3
        assert type(sys.path_importer_cache[str(later)]) \
            is StatCheckedZipImporter
    finally:
        sys.path[:] = saved_path
        sys.path_hooks[:] = saved_hooks
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for finder in stock:
            finder.__class__ = zipimport.zipimporter
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]


def test_workers_reuse_zip_finders_without_rereading(tmp_path):
    """A fresh session's Python workers import the package from the shipped
    zip, and that import swaps every zip finder in the worker for the
    stat-checked one.  Subprocess so the session is genuinely fresh; the
    reporting task imports the package too, so it holds on any worker."""
    code = f"""
import json
import sys
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]").appName("zipstat")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
from pdf_extraction_tests_spark.pipeline import extract_docs
from pdf_extraction_tests_spark.schema import DOCS
d = spark.createDataFrame(
    [(f"d{{i}}", [("text", "the cat sat on the mat", None, 0)])
     for i in range(8)], DOCS).repartition(4)
for _ in range(2):
    assert len(extract_docs(d, num_parts=4).select("spans").collect()) == 8

def report(batches):
    import sys
    import zipimport
    import pandas as pd
    import pdf_extraction_tests_spark  # noqa: F401
    for _ in batches:
        pass
    names = [type(f).__name__ for f in list(sys.path_importer_cache.values())
             if isinstance(f, zipimport.zipimporter)]
    yield pd.DataFrame({{"cls": names}})

rows = d.coalesce(1).mapInPandas(report, "cls string").collect()
print("FINDERS", json.dumps(sorted(r.cls for r in rows)))
spark.stop()
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd=str(tmp_path), timeout=300)
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("FINDERS")]
    assert line, res.stderr[-2000:]
    names = json.loads(line[0][len("FINDERS "):])
    assert len(names) >= 3
    assert set(names) == {"StatCheckedZipImporter"}, names
