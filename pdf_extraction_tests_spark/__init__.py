"""PySpark-native main-content extraction engine.

A from-scratch re-expression of the query/data-processing capabilities of
RENAISSANCE-UIC/PDF_Extraction_Tests (an R + reticulate PDF layout/OCR
pipeline, see SURVEY.md) as a single idiomatic Spark batch job over tables of
interleaved text + media documents:

    docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
      -> extracted(doc_id, spans array<struct<kind,text,media_ref,order>>,
                   title, authors, abstract, main_text, boundaries, ...)

All per-document logic runs inside vectorized pandas/Arrow UDFs
(``mapInPandas`` and scalar pandas UDFs, both built in :mod:`.shipping`);
there is no per-row Python anywhere on the hot path.  Relational /
analytical operators are exposed as named queries in
:mod:`pdf_extraction_tests_spark.queries` and cross-checked against DuckDB.
"""

__version__ = "0.1.0"

import sys as _sys

# In a Spark Python worker (SparkFiles is imported and flagged by the
# worker's setup_spark_files before any task code unpickles this package),
# stop the per-task importlib.invalidate_caches() from re-reading every zip
# archive on sys.path.
_spark_files = _sys.modules.get("pyspark.core.files")
if _spark_files is not None and _spark_files.SparkFiles._is_running_on_worker:
    from .shipping import install_zip_stat_check

    install_zip_stat_check()
