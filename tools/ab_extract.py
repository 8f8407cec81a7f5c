"""Isolated A/B bench for the plain-path extraction pipeline (round 3).

Attributes the r02 plain-path regression (BENCH_r02 extract_pipeline
10.87 s vs r01 8.93 s at repl=10): each variant runs in its OWN Spark
session, interleaved across repeats so host load drift hits all variants
equally; medians reported.

Variants:
  salted   — dedup -> salted_repartition (one more full payload shuffle
             keyed by url-hash, giants salted)
  waves    — the pipeline's policy: pages hash-partitioned by url into
             whole waves of UDF tasks (latest_in_waves) before the dedup
             window, no redistribution after it; on the bucketed layout a
             narrow coalesce of the windowed buckets to the same count

Usage: python tools/ab_extract.py [repeats]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _run(variant: str, pages_path: str) -> float:
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    from bench import build
    from pypdfproc_spark.spark import pipeline as P

    spark = build("local[%d]" % CPUS)
    try:
        pages = spark.read.parquet(pages_path)
        warm = pages.limit(CPUS * 64).repartition(CPUS * 2)
        P.extract(P.route(warm)).agg({"doc.n_pages": "sum"}).collect()
        t0 = time.time()
        snap = (P.latest_in_waves if variant == "waves"
                else P.latest_snapshot)(pages)
        df = P.with_bucket(P.route(snap), 64)
        if variant == "salted":
            df = P.salted_repartition(df, CPUS)
        elif variant != "waves":
            raise ValueError(variant)
        obs = Observation("m")
        ex = P.extract(df).observe(obs, F.count(F.lit(1)).alias("docs"))
        n = P.results(ex).count()
        docs = obs.get["docs"]
        wall = time.time() - t0
        print("  %-6s wall=%.2fs docs=%d rows=%d" % (variant, wall, docs, n),
              flush=True)
        return wall
    finally:
        spark.stop()


def main() -> None:
    from bench import pages_parquet

    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    pages_path, _ = pages_parquet(os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    variants = ["salted", "waves"]
    walls: dict[str, list] = {v: [] for v in variants}
    for i in range(repeats):
        print("round %d/%d" % (i + 1, repeats), flush=True)
        for v in variants:
            walls[v].append(_run(v, pages_path))
    out = {
        v: {
            "walls": [round(w, 2) for w in walls[v]],
            "median": round(statistics.median(walls[v]), 2),
        }
        for v in variants
    }
    print(json.dumps(out))


def _run_bucketed(variant: str, pages_path: str) -> float:
    import pyspark.sql.functions as F

    from bench import build
    from pypdfproc_spark.spark import pipeline as P

    spark = build("local[%d]" % CPUS)
    try:
        pages = spark.read.parquet(pages_path)
        warm = pages.limit(CPUS * 64).repartition(CPUS * 2)
        P.extract(P.route(warm)).agg({"doc.n_pages": "sum"}).collect()
        spark.sql("DROP TABLE IF EXISTS ab_pages_bucketed")
        P.write_pages_bucketed(pages, "ab_pages_bucketed", n_buckets=64)
        t0 = time.time()
        snap = (P.latest_in_waves if variant == "waves"
                else P.latest_snapshot)(spark.table("ab_pages_bucketed"))
        df = P.with_bucket(P.route(snap), 64)
        if variant == "salted":
            df = P.salted_repartition(df, CPUS)
        elif variant != "waves":
            raise ValueError(variant)
        n = P.results(P.extract(df)).count()
        wall = time.time() - t0
        print("  bucketed/%-6s wall=%.2fs rows=%d" % (variant, wall, n),
              flush=True)
        spark.sql("DROP TABLE IF EXISTS ab_pages_bucketed")
        return wall
    finally:
        spark.stop()


def main_bucketed() -> None:
    from bench import pages_parquet

    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    pages_path, _ = pages_parquet(os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    variants = ["salted", "waves"]
    walls = {v: [] for v in variants}
    for i in range(repeats):
        print("round %d/%d" % (i + 1, repeats), flush=True)
        for v in variants:
            walls[v].append(_run_bucketed(v, pages_path))
    print(json.dumps({
        v: {"walls": [round(w, 2) for w in walls[v]],
            "median": round(statistics.median(walls[v]), 2)}
        for v in variants
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--bucketed":
        main_bucketed()
    else:
        main()
