#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Cluster usage (north rule)::

  python -m zipfile -c pipeline.zip pdf_extraction_tests_spark
  spark-submit --py-files pipeline.zip job.py \\
      --input  <docs table path or catalog id> \\
      --output <output root (extracted/ + checkpoint/ land under it)> \\
      [--run-id RID] [--num-parts P] [--synthesize-from SF_DIR] \\
      [--publish-snapshot TABLE_DIR]

Local smoke::

  python job.py --synthesize-from /root/testdata/sf0.001 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="input docs table (parquet path)")
    ap.add_argument("--synthesize-from",
                    help="synthesize the corpus from <dir>/documents.parquet instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--num-parts", type=int, default=64)
    ap.add_argument("--oversize-chars", type=int, default=1_000_000)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--publish-snapshot", default=None, metavar="TABLE_DIR",
        help="after the run, publish this run's COMMITTED extracted rows "
             "into a snapshot table (snapshots.py: atomic manifest commit, "
             "tagged run-<run_id> so a re-submitted run publishes exactly "
             "once)")
    args = ap.parse_args(argv)

    from pdf_extraction_tests_spark.corpus import corpus_spark
    from pdf_extraction_tests_spark.pipeline import run_pipeline
    from pdf_extraction_tests_spark.schema import DOCS
    from pdf_extraction_tests_spark.session import get_spark

    spark = get_spark(app="extract-job", master=args.master)
    if args.synthesize_from:
        docs = corpus_spark(spark, args.synthesize_from)
    elif args.input:
        docs = spark.read.schema(DOCS).parquet(args.input)
    else:
        ap.error("one of --input / --synthesize-from is required")
    metrics = run_pipeline(
        spark,
        docs,
        args.output,
        run_id=args.run_id,
        num_parts=args.num_parts,
        oversize_chars=args.oversize_chars,
    )
    if args.publish_snapshot:
        from pyspark.sql import functions as F

        from pdf_extraction_tests_spark import snapshots as S
        from pdf_extraction_tests_spark.pipeline import read_extracted

        # --output may hold earlier runs: publish only this one's rows.  A
        # re-submitted run's tag is already published: the commit reads
        # and writes nothing and returns None
        committed = read_extracted(spark, args.output).filter(
            F.col("run_id") == metrics["run_id"])
        metrics["snapshot_version"] = S.commit_snapshot(
            committed.drop("run_id", "attempt_id"),
            args.publish_snapshot, mode="append",
            tag=f"run-{metrics['run_id']}")
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
