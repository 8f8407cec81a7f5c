"""Which extraction partitioning policy SCALES 8->32 at repl=100 (500k docs)?

``waves`` is the pipeline's policy (url-hash partitions in whole waves of
UDF tasks before the dedup window); ``salted`` adds a second full payload
shuffle — a disk-bound, thread-insensitive stage that caps scaling
efficiency.  Measure each variant at local[8] and local[32]
(fresh session per run, interleaved), report eff = (w8/w32)/4.
"""
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run(variant, cores, pages_path):
    import pyspark.sql.functions as F
    from bench import build
    from pypdfproc_spark.spark import pipeline as P

    spark = build("local[%d]" % cores)
    try:
        pages = spark.read.parquet(pages_path)
        warm = pages.limit(cores * 64).repartition(cores * 2)
        P.extract(P.route(warm)).agg({"doc.n_pages": "sum"}).collect()
        t0 = time.time()
        snap = (P.latest_in_waves if variant == "waves"
                else P.latest_snapshot)(pages)
        df = P.with_bucket(P.route(snap), 64)
        if variant == "salted":
            df = P.salted_repartition(df, cores)
        P.results(P.extract(df)).count()
        w = time.time() - t0
        print("  %-6s local[%d] %.2fs" % (variant, cores, w), flush=True)
        return w
    finally:
        spark.stop()


def main():
    from bench import pages_parquet

    repl = int(os.environ.get("SPARK_GRAFT_SCALING_REPL", "100"))
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    pages_path, _ = pages_parquet("/root/testdata/sf0.1", repl=repl)
    variants = ["waves", "salted"]
    walls = {(v, c): [] for v in variants for c in (8, 32)}
    for i in range(runs):
        print("round %d/%d" % (i + 1, runs), flush=True)
        for v in variants:
            for c in (8, 32):
                walls[(v, c)].append(run(v, c, pages_path))
    out = {}
    for v in variants:
        w8 = statistics.median(walls[(v, 8)])
        w32 = statistics.median(walls[(v, 32)])
        out[v] = {"w8": round(w8, 2), "w32": round(w32, 2),
                  "walls8": [round(x, 2) for x in walls[(v, 8)]],
                  "walls32": [round(x, 2) for x in walls[(v, 32)]],
                  "eff": round((w8 / w32) / 4.0, 3)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
