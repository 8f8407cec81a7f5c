"""SparkSession construction with scale-appropriate defaults.

Key knobs (SURVEY.md §4):
- AQE on (runtime skew-join/coalesce re-planning)
- Arrow-batched Python UDF transfer, with maxRecordsPerBatch tuned DOWN:
  payloads are MB-scale binaries, so the 10k-row default would make a
  single Arrow batch several GB on a real corpus
- shuffle partitions sized for the local harness; on a real cluster this
  is set per-job (rule of thumb: 2-3x total cores, larger for 100 TB
  inputs so a partition stays < ~1 GB of shuffle data)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def arrow_rows_for_payload(avg_payload_bytes: int,
                           target_batch_bytes: int = 8 << 20,
                           lo: int = 16, hi: int = 4096) -> int:
    """Size Arrow batches by BYTES, not rows: batch_rows ~ target/avg.
    Bigger batches amortize Python dispatch (measured: 64 -> 1024 rows is
    +60% throughput on ~4 KB docs) but a fixed row count explodes memory
    on MB-scale payloads; the byte budget keeps both regimes safe."""
    rows = max(lo, min(hi, target_batch_bytes // max(1, avg_payload_bytes)))
    return int(rows)


def build_session(
    app: str = "pypdfproc-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    arrow_batch_rows: int = 64,
) -> SparkSession:
    if master is None:
        master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r06: AQE coalescing is byte-based, but the LSH/cosine pair
        # stages carry narrow id rows with heavy per-row compute — at
        # 1 MB (default) such stages collapse to a handful of tasks.
        # With parallelismFirst (default true) lowering the floor only
        # ever RAISES parallelism toward defaultParallelism (scale-
        # adaptive); at production byte volumes the floor never binds.
        # Measured (sf1.0, medians of 3): minhash 0.97->0.67 s,
        # embedding-cosine 2.21->1.52 s.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r06 (guide §3.1): allow shuffled-hash join where the per-
        # partition build side fits — the pairwise dedup/verify family is
        # all equi-joins on id/hash keys whose build sides are candidate-
        # bounded, and skipping the SMJ sorts is a straight win; AQE can
        # also convert SMJ->SHJ at runtime below the local map threshold.
        # Sort-merge remains the fallback whenever the planner's size
        # conditions are not met.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        # r06: whole-stage codegen OFF for this workload class
        # — one-shot analytic queries over seconds of data pay janino
        # compilation (measured 2-3.5 s per unique query: minhash first
        # run 5.2 -> 1.5 s, embedding-cosine 3.9 -> 2.7 s) that dwarfs
        # the interpreted-execution penalty (warm execution measured
        # equal within noise, incl. the 500k-doc extraction: 11.2/8.8 s
        # codegen vs 9.5/8.9 s interpreted, interleaved).  Results are
        # identical either way (execution mode only).
        .config("spark.sql.codegen.wholeStage", "false")
        # r06 (guide §2.3): shuffle/spill codec lz4 — zstd measured no
        # better on this host's payload mix (see OPTIMIZATION_r06.md)
        .config("spark.io.compression.codec", "lz4")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        # binary payloads: smaller input splits so a single large parquet
        # file still fans out across all cores (splits are row-group
        # aligned; the pages writer uses small row groups)
        .config("spark.sql.files.maxPartitionBytes", "16777216")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # bucketed saveAsTable targets (pipeline.write_pages_bucketed) land
        # outside the repo; metadata lives in the session catalog
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()
