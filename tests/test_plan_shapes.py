"""Physical-plan regression gates: the plans that make the operators
scale-safe must not silently regress (SURVEY.md §4; docs/PLANS.md).

Each test compiles the executed plan string and asserts the property the
100 TB argument rests on — no cartesian stages in the pairwise family,
broadcasts where a side is small, partial aggregation where the shuffle
must carry collapsed rows.
"""

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from pypdfproc_spark.spark.session import build_session

    s = build_session(app="plan-tests", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_verified_no_cartesian(spark):
    from pypdfproc_spark.spark import textops

    plan = _plan(textops.dedup_verified(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pairwise_family_no_cartesian(spark):
    from pypdfproc_spark.spark import similarity, textops

    for fn in (textops.dedup_minhash_lsh, textops.dedup_simhash_pairs,
               similarity.dedup_embedding_cosine):
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_minhash_pair_gen_join_free(spark):
    """r06 rewrite gate: the MinHash/SimHash candidate stages generate
    pairs by bucket grouping — no self-join, no occupancy window, and no
    SortAggregate (the per-row array_min signatures removed the
    min(string) agg)."""
    from pypdfproc_spark.spark import textops

    for fn in (textops.dedup_minhash_lsh, textops.dedup_simhash_pairs):
        plan = _plan(fn(spark, SF))
        assert "Join" not in plan, fn.__name__
        assert "Window" not in plan, fn.__name__
        assert "SortAggregate" not in plan, fn.__name__


def test_embedding_cosine_pair_gen_window_free(spark):
    """r06 rewrite gate: dedup_embedding_cosine scores bucket-locally —
    no occupancy window, no self-join, no payload-attach joins; the
    quadratic pair stream never crosses an exchange."""
    from pypdfproc_spark.spark import similarity

    plan = _plan(similarity.dedup_embedding_cosine(spark, SF))
    assert "Window" not in plan
    assert "Join" not in plan


def test_ann_bruteforce_broadcasts_queries(spark):
    """The cross join IS brute force by definition — but the tiny query
    side must be the broadcast side, and top-k must push below the
    shuffle (WindowGroupLimit)."""
    from pypdfproc_spark.spark import similarity

    plan = _plan(similarity.ann_topk_bruteforce(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_ivf_assignment_partial_aggregates(spark):
    """BUILD-time gate: the candidate x centroid expansion must collapse
    map-side — the aggregate over neighbor_id appears as partial+final
    around ONE narrow exchange."""
    from pyspark.sql import functions as F

    from pypdfproc_spark.spark import similarity

    emb = similarity.load_embeddings(spark, SF).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        similarity._norm(F.col("embedding").cast("array<double>")).alias("vn"),
    )
    cents = similarity.ivf_train_centroids(emb, 5, 16, iters=0)
    cands = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "v", "vn"
    )
    plan = _plan(similarity.ivf_assignment(cents, cands))
    assert "partial_max_by" in plan or "partial_first" in plan
    assert "hashpartitioning(neighbor_id" in plan


def test_ivf_probe_contains_no_training(spark, tmp_path):
    """PROBE-time gate (r03 verdict item 1): ann_ivf_topk given a built
    index must read codebook + lists from parquet and contain NO k-means
    stage — no avg aggregates, no per-iteration agg, no assignment
    groupBy(neighbor_id)."""
    from pypdfproc_spark.spark import similarity

    idx = similarity.ivf_build_index(spark, SF, path=str(tmp_path / "ivf"))
    plan = _plan(similarity.ann_ivf_topk(spark, SF, index_dir=idx))
    assert "partial_avg" not in plan and " avg(" not in plan
    assert "hashpartitioning(neighbor_id" not in plan
    # both index sides are parquet scans
    assert plan.count("Scan parquet") >= 2


def test_funnel_single_aggregate(spark):
    """quality_filter_funnel is one pass: a single partial+final agg,
    no joins at all.  r06: the deliberate scan-spread repartition
    (textops.spread_scan — parallelizes the single-row-group input) adds
    one RoundRobin exchange before the agg; the aggregation itself still
    crosses exactly one SinglePartition exchange."""
    from pypdfproc_spark.spark import textops

    plan = _plan(textops.quality_filter_funnel(spark, SF))
    assert "Join" not in plan
    agg_ex = len(re.findall(r"Exchange SinglePartition", plan))
    rr_ex = len(re.findall(r"Exchange RoundRobinPartitioning", plan))
    assert agg_ex == 1, plan
    assert len(re.findall(r"Exchange", plan)) == agg_ex + rr_ex
    assert rr_ex <= 1, plan


def test_extract_plain_path_single_payload_shuffle(spark):
    """r03 skew policy: the dedup path has exactly ONE exchange of
    payload rows (the window shuffle) — no salted second shuffle."""
    import datetime

    from pypdfproc_spark.spark import pipeline as P

    rows = [("u%d" % i, datetime.datetime(2024, 1, 1), b"x", None, "en")
            for i in range(4)]
    df = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    res, _ = P.run_pipeline(df, n_buckets=4, partitions=4)
    plan = _plan(res)
    # one hashpartitioning(url) exchange; no RoundRobin/salt exchange
    assert len(re.findall(r"Exchange hashpartitioning\(url", plan)) == 1
    assert "RoundRobinPartitioning" not in plan
    assert len(re.findall(r"Exchange", plan)) == 1


@pytest.mark.parametrize("size,cores,advisory,shuffle,tasks", [
    (5_000, 4, 64 << 20, 32, 4),              # tiny input: one wave
    (0, 4, 64 << 20, 32, 4),                  # empty input: still one wave
    (256 << 20, 4, 64 << 20, 32, 4),          # exactly one wave's bytes
    ((256 << 20) + 1, 4, 64 << 20, 32, 8),    # one byte more: two waves
    (1 << 30, 8, 16 << 20, 32, 64),           # 8 waves of 8 cores
    ((1 << 63) - 1, 4, 64 << 20, 30, 32),     # no estimate: 30 -> 8 waves
    ((1 << 63) - 1, 4, 64 << 20, 2, 4),       # no estimate, few partitions
])
def test_wave_tasks(size, cores, advisory, shuffle, tasks):
    """The extraction stage is sized in whole waves of ``cores`` tasks."""
    from pypdfproc_spark.spark import pipeline as P

    assert P.wave_tasks(size, cores, advisory, shuffle) == tasks


def test_extract_dedup_path_whole_wave_exchange(spark, tmp_path):
    """The dedup window's one payload Exchange is the explicit url-hash
    partitioning into whole waves: hashpartitioning(url, n) with n a
    multiple of defaultParallelism, which AQE does not re-coalesce."""
    import datetime

    from pypdfproc_spark.spark import pipeline as P

    cores = spark.sparkContext.defaultParallelism
    rows = [("u%d" % i, datetime.datetime(2024, 1, 1), b"x", None, "en")
            for i in range(8)]
    local = spark.createDataFrame(rows, P.PAGES_SCHEMA)  # no size estimate
    local.write.parquet(str(tmp_path / "pages"))
    scanned = spark.read.parquet(str(tmp_path / "pages"))  # file-size estimate
    # shuffle.partitions 8 on 4 cores: two waves; the parquet: one wave
    for pages, tasks in ((local, 2 * cores), (scanned, cores)):
        res, _ = P.run_pipeline(pages, n_buckets=4, partitions=4)
        plan = _plan(res)
        found = re.findall(r"Exchange hashpartitioning\(url#\d+, (\d+)\)", plan)
        assert found == [str(tasks)], plan
        assert len(re.findall(r"Exchange", plan)) == 1, plan


def test_dedup_funnel_survivors_plan(spark):
    """The composed extract->dedup->quality funnel must stay join-free and
    window-free: two hash aggregations (url doc-assembly, md5 min_by
    representative) and a projection filter — nothing pairwise, nothing
    that breaks partial aggregation (r05)."""
    import datetime

    from pypdfproc_spark.spark import pipeline as P

    rows = [
        ("http://p/%d" % i, datetime.datetime(2025, 1, 1), None,
         "t" * (i + 1), None, i % 3, "text %d words here ok" % i, [],
         "html", None)
        for i in range(6)
    ]
    res = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, page_no int, text2 string, spans array<string>, "
        "parser string, error string",
    ).selectExpr("url", "page_no", "text2 as text", "parser", "error")
    plan = _plan(P.dedup_funnel_survivors(res))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # both aggregations keep map-side partials (partial_ markers)
    assert plan.count("partial_") >= 1, plan
