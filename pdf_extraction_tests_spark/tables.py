"""Reading the pipeline's plain Parquet tables.

The design targets Iceberg tables, but the Spark image ships no
``iceberg-spark-runtime`` jar, so ``run_pipeline`` writes plain Parquet
directories (hive-partitioned by run and attempt) in place of the
reference's per-document ``.RData`` side-effect files
(Document_Processor_DocLayout_YOLO_Code_v10.R:194-207, 738-739).
:func:`read_table` is the one read path: it tells a table that does not
exist yet from one that does.

When the table-format PROPERTIES matter (atomic commit, snapshot
isolation, time travel, optimistic concurrency, expiry), use
:mod:`.snapshots` — Iceberg-style manifest snapshots over plain parquet,
tested in tests/test_snapshots.py.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, location: str, schema=None) -> DataFrame | None:
    """Read a table; None if it does not exist yet (first run)."""
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
