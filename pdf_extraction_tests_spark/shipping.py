"""Ship the package to Spark python workers; the one Python-boundary site.

On a real cluster the job is submitted as ``spark-submit --py-files
pipeline.zip job.py`` (north rule).  When the engine is embedded in an
externally-created SparkSession (the driver harness, notebooks), the UDF
closures are pickled *by reference* to this package, so executors must be
able to import it — :func:`ship_package` zips the package once per process
and registers it with ``sparkContext.addPyFile``.

The package crosses the Python boundary in two ways, each built here so
no operator can forget to ship the package first: every batched Python
stage is a ``mapInPandas`` plan built by :func:`map_batches`, and every
scalar pandas UDF (the language-ID and ``bpe`` token-count columns) is
built by :func:`pandas_column`.

Inside a worker, :func:`install_zip_stat_check` makes PySpark's per-task
``importlib.invalidate_caches()`` cheap (see :class:`StatCheckedZipImporter`).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

_shipped: set[int] = set()


def ship_package(spark) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    _shipped.add(key)


def map_batches(df, fn, schema):
    """``fn`` as a ``mapInPandas`` stage over ``df`` yielding ``schema``,
    with the package shipped to the workers of ``df``'s session.  Empty pandas batches are dropped from
    the iterator ``fn`` consumes, so ``fn`` is still called once per task
    and state it keeps across batches (and any end-of-input check) holds."""
    ship_package(df.sparkSession)

    def run(batches):
        return fn(pdf for pdf in batches if not pdf.empty)

    return df.mapInPandas(run, schema=schema)


def pandas_column(spark, fn, return_type):
    """``fn`` as a scalar ``pandas_udf`` returning ``return_type``, with
    the package shipped to the workers of ``spark``'s session (``fn`` is
    pickled by reference to this package)."""
    from pyspark.sql.functions import pandas_udf

    ship_package(spark)
    return pandas_udf(fn, return_type)


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


class StatCheckedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches()`` re-reads the archive
    directory only when the archive's ``(st_ino, st_size, st_mtime_ns)``
    has changed since this finder last read it.

    PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
    at the start of every task, and the stock ``zipimporter`` answers by
    re-reading its whole archive directory.  A worker holds one finder per
    ``pyspark.zip`` package path, the py4j zip and the 15 MB spark-core jar,
    so that call cost ~150 ms per task on a 4-core host; with this class it
    costs one ``stat`` per finder.  A missing archive has no stamp and is
    re-read every time, as before.
    """

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _archive_stamp(self.archive)

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and stamp == self._stamp:
            return
        super().invalidate_caches()
        self._stamp = stamp


def install_zip_stat_check() -> None:
    """Swap :class:`StatCheckedZipImporter` in for the stock ``zipimporter``
    path hook and for every cached finder whose type is exactly
    ``zipimporter``.  A swapped finder keeps the directory it already read
    and is stamped now, so an archive rewritten between that read and this
    call is not noticed; worker archives do not change under a running
    worker.  Idempotent."""
    sys.path_hooks[:] = [
        StatCheckedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = StatCheckedZipImporter
            finder._stamp = _archive_stamp(finder.archive)
