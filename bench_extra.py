"""Round-6 optimization measurement harness (bench.py is FROZEN; extra
benchmarks live here per the round rules).

Modes:
  --queries [names...]   isolated per-query timing with the noop sink
                         (guide §1.4): each query's DataFrame is fully
                         computed and discarded, repeated --repeats times
                         inside one session, min+median reported.  Jobs
                         are labeled (setJobDescription).
  --plans [names...]     capture .explain("formatted") for each query into
                         plans/r06/<query>_<tag>.txt (--tag before|after).
                         Both default to every query of
                         __spark_entry__.queries().
  --extract              time the two extraction pipelines (same windows
                         as bench.py but against the cached pages table).

Uses the same session construction as bench.py (bench.build) so numbers
are comparable with the frozen harness.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def explain_str(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _session():
    from bench import build

    return build("local[%s]" % CPUS)


def _query_df(spark, name):
    import __spark_entry__ as E

    return E.queries()[name](spark, SF_DIR)


def time_queries(names, repeats: int) -> None:
    spark = _session()
    out = {}
    try:
        # warm: parquet footers + JVM
        from pypdfproc_spark.spark import textops as T

        T.load_documents(spark, SF_DIR).count()
        for name in names:
            walls = []
            for r in range(repeats):
                spark.sparkContext.setJobDescription("%s rep%d" % (name, r))
                df = _query_df(spark, name)
                t0 = time.time()
                noop(df)
                walls.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = {
                "walls": walls,
                "min": min(walls),
                "median": round(statistics.median(walls), 3),
            }
            print(json.dumps({name: out[name]}), flush=True)
    finally:
        spark.stop()
    print(json.dumps({"sf": SF_DIR, "results": out}))


def capture_plans(names, tag: str) -> None:
    os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
    spark = _session()
    try:
        for name in names:
            df = _query_df(spark, name)
            p = explain_str(df)
            path = os.path.join(REPO, "plans", "r06",
                                "%s_%s.txt" % (name, tag))
            with open(path, "w") as fh:
                fh.write(p)
            print("wrote", path, flush=True)
    finally:
        spark.stop()


def time_extract(repeats: int, tag: str | None = None) -> None:
    from bench import pages_parquet, run_extraction, run_extraction_bucketed

    pages_path, _ = pages_parquet(SF_DIR)
    spark = _session()
    out = {"extract_pipeline": [], "extract_pipeline_bucketed": []}
    try:
        for _ in range(repeats):
            w, docs, rows = run_extraction(spark, pages_path)
            out["extract_pipeline"].append(round(w, 3))
            wb, rb = run_extraction_bucketed(spark, pages_path)
            out["extract_pipeline_bucketed"].append(round(wb, 3))
            print(json.dumps({"extract": round(w, 3),
                              "bucketed": round(wb, 3)}), flush=True)
        if tag:
            # capture the extraction plan too
            from pypdfproc_spark.spark import pipeline as P

            pages = spark.read.parquet(pages_path)
            res, _m = P.run_pipeline(pages, n_buckets=64,
                                     partitions=int(CPUS))
            os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
            with open(os.path.join(REPO, "plans", "r06",
                                   "extract_pipeline_%s.txt" % tag),
                      "w") as fh:
                fh.write(explain_str(res))
    finally:
        spark.stop()
    summary = {
        k: {"walls": v, "min": min(v),
            "median": round(statistics.median(v), 3)}
        for k, v in out.items() if v
    }
    print(json.dumps({"sf": SF_DIR, "results": summary}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--plans", nargs="*", default=None)
    ap.add_argument("--extract", action="store_true")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()
    import __spark_entry__ as E

    if args.plans is not None:
        capture_plans(args.plans or list(E.queries()), args.tag)
    if args.queries is not None:
        time_queries(args.queries or list(E.queries()), args.repeats)
    if args.extract:
        time_extract(args.repeats, tag=args.tag)


if __name__ == "__main__":
    main()
