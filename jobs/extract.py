"""Cluster job entrypoint: resumable extraction over a pages table.

Launch (north_rule deployment shape):

    spark-submit \
      --py-files pypdfproc_spark.zip \
      jobs/extract.py \
      --input  <pages parquet/iceberg path> \
      --results <results path> --checkpoint <ckpt path> --metrics <metrics path> \
      [--buckets 4096]

On a 1000-executor cluster against 10^12 rows, set --buckets to O(100k)
(each bucket = one resumable commit unit).  The extraction stage sizes
itself: the pages are hash-partitioned by url into whole waves of Python
tasks (defaultParallelism x ceil(input bytes / (defaultParallelism x
spark.sql.adaptive.advisoryPartitionSizeInBytes))), so the knobs that
move it are the executor count and the AQE advisory partition size.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--results", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--buckets", type=int, default=4096)
    ap.add_argument(
        "--input-table", default=None,
        help="read a url-bucketed CATALOG TABLE instead of --input: the "
        "dedup window then runs with zero Exchange (see "
        "pipeline.write_pages_bucketed; on Iceberg use bucket(N, url))",
    )
    args = ap.parse_args()
    if not (args.input or args.input_table):
        ap.error("one of --input / --input-table is required")

    from pypdfproc_spark.spark.pipeline import run_resumable

    spark = SparkSession.builder.appName("pypdfproc-extract").getOrCreate()
    if args.input_table:
        pages = spark.table(args.input_table)
    else:
        pages = spark.read.parquet(args.input)
    run_resumable(
        spark,
        pages,
        results_path=args.results,
        checkpoint_path=args.checkpoint,
        metrics_path=args.metrics,
        n_buckets=args.buckets,
    )
    spark.stop()


if __name__ == "__main__":
    main()
