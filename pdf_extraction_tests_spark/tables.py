"""Table persistence abstraction: Iceberg when available, Parquet otherwise.

The engine targets Iceberg tables (north rule).  The sandbox image has no
``iceberg-spark-runtime`` jar, so writes fall back to partitioned Parquet
directories behind the same three-call interface; swapping in Iceberg on a
real cluster is a config change (catalog + ``USE_ICEBERG=1``), not a code
change.  Replaces the reference's per-document ``.RData`` side-effect files
(Document_Processor_DocLayout_YOLO_Code_v10.R:194-207, 738-739).

When the table-format PROPERTIES matter (atomic commit, snapshot
isolation, time travel, optimistic concurrency, expiry), use
:mod:`.snapshots` — Iceberg-style manifest snapshots over the same
parquet fallback, tested in tests/test_snapshots.py.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    if os.environ.get("USE_ICEBERG") != "1":
        return False
    try:
        spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: SLF001
        return True
    except Exception:
        return False


def write_table(df: DataFrame, location: str, mode: str = "append",
                partition_by: list[str] | None = None) -> None:
    """Append/overwrite a table.  ``location`` is a path (parquet fallback)
    or a catalog identifier (iceberg)."""
    spark = df.sparkSession
    if iceberg_available(spark):
        writer = df.writeTo(location)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(location)


def read_table(spark: SparkSession, location: str, schema=None) -> DataFrame | None:
    """Read a table; None if it does not exist yet (first run)."""
    if iceberg_available(spark):
        try:
            return spark.read.table(location)
        except Exception:
            return None
    # probe first: a failed read logs a FileNotFoundException stack trace
    path = spark._jvm.org.apache.hadoop.fs.Path(location)  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    if not path.getFileSystem(conf).exists(path):
        return None
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    try:
        return r.parquet(location)
    except AnalysisException as e:
        # a directory with no data files yet: a first write that died
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise
