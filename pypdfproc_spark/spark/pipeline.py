"""The extraction pipeline: pages table -> results + metrics, resumably.

DataFrame-level shape (SURVEY.md §2.9, §3 E1):

    pages(url, warc_ts, html, text, lang)
      -> latest-snapshot dedup        (window by url, newest warc_ts, over
                                       url-hash partitions sized to whole
                                       waves of UDF tasks: latest_in_waves)
      -> route                        (kind = pdf | html, by magic bytes)
      -> extract                      (Arrow-batched pandas UDF running
                                       core.extract.extract_document per
                                       payload INSIDE the batch loop; zero
                                       per-row Python dispatch at Spark level)
      -> results                      (url, page_no, text, spans, parser,
                                       error) exploded per page
      -> metrics                      (per work-bucket lineage: docs, pages,
                                       drops, decode failures, fallbacks)

Resumability: work is keyed by a deterministic ``bucket`` = pmod(xxhash64(
url), n_buckets).  Completed buckets are committed to a checkpoint table;
a restart left-anti-joins pages against it, re-processing only missing
buckets.  On Iceberg the same layout maps to ``bucket(N, url)`` partition
transforms with per-partition appends; here the sink is parquet
partitioned by bucket so the mechanism is identical and testable locally.
"""

from __future__ import annotations

import functools
import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

_EXTRACT_FIELDS = [
    T.StructField("pages", T.ArrayType(T.StringType())),
    # per page: list of (page, start, end, x, y) span records, kept as a
    # NATIVE nested array (Arrow list<list<list<double>>>): no driver-side
    # json.dumps and no JVM from_json re-parse on the hot path
    T.StructField(
        "spans_raw", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
    ),
    T.StructField("parser", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("pages_dropped", T.IntegerType()),
    T.StructField("decode_failures", T.IntegerType()),
    T.StructField("fallbacks", T.IntegerType()),
    T.StructField("error", T.StringType()),
]
EXTRACT_STRUCT = T.StructType(_EXTRACT_FIELDS)

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.LongType()),
                        T.StructField("end", T.LongType()),
                        T.StructField("x", T.DoubleType()),
                        T.StructField("y", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("parser", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


import os as _os

_PKG_ROOT = _os.path.dirname(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
)


def _make_extract_batch(pkg_root: str, columns: list, extended: bool):
    """Factory: the returned closure is cloudpickled BY VALUE (module-level
    functions are pickled by reference and would require the package to be
    importable on the worker before any code of ours runs).  The closure
    bootstraps sys.path on local-mode workers whatever the driver's CWD;
    real clusters ship the package via --py-files."""

    def _extract_batch(html):
        import sys as _sys
        import zipimport as _zipimport

        import pandas as _pd

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        from pypdfproc_spark.core.extract import extract_document

        # lone-surrogate -> U+FFFD boundary rule: the SHARED helper
        # (core/extract.py utf8_safe) also used by the expectations twin
        # and the golden-parity test — one definition, no drift
        from pypdfproc_spark.core.extract import utf8_safe as _utf8_safe

        # imports done: drop the zip importers, see run_pipeline's docstring
        for _k, _f in list(_sys.path_importer_cache.items()):
            if isinstance(_f, _zipimport.zipimporter):
                del _sys.path_importer_cache[_k]

        rows = []
        for payload in html:
            r = extract_document(payload, extended)
            rows.append(
                (
                    [_utf8_safe(p) for p in r.pages],
                    # tuples -> lists; Arrow casts the int fields to double
                    [[list(s) for s in page] for page in r.spans],
                    r.parser,
                    r.n_pages,
                    r.pages_dropped,
                    r.decode_failures,
                    r.fallbacks,
                    r.error,
                )
            )
        return _pd.DataFrame(rows, columns=columns)

    return _extract_batch


@functools.cache
def _extract_udf(extended: bool):
    """The extraction pandas UDF for one filter mode, built once per
    process so each mode's closure is pickled once."""
    return F.pandas_udf(
        _make_extract_batch(_PKG_ROOT, [f.name for f in _EXTRACT_FIELDS],
                            extended),
        returnType=EXTRACT_STRUCT,
    )


# -----------------------------------------------------------------------------
# pipeline stages (each is a pure DataFrame -> DataFrame function)


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """Keep the newest capture per url (reference analog: newest-wins
    incremental-update resolution, generalized across documents)."""
    # tie-break on the payload hash: two captures with equal warc_ts must
    # pick a deterministic winner or resume/idempotence and any byte-level
    # output hash break (mirrors the event_id tiebreak in
    # textops.latest_snapshot_events).  xxhash64, not md5: the sort key is
    # evaluated for EVERY row's payload, and at corpus scale a
    # cryptographic hash per MB payload is pure waste (the pure-Python
    # oracle twin, fixtures/freeze_expectations.py, implements the same
    # xxh64 from spec)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.xxhash64("html").desc()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def route(pages: DataFrame) -> DataFrame:
    """Content-type router on magic bytes (no trust in upstream headers).

    Mirrors core.extract.is_pdf (r05): the reference's ParseHeader
    accepts non-EOL unicode whitespace before %PDF- on the first line,
    so the router must too — decode the head latin-1 (1:1 bytes ->
    codepoints) and regex-match the same prefix class JVM-side."""
    head = F.decode(F.substring(F.col("html"), 1, 256), "ISO-8859-1")
    is_pdf = head.rlike("^[\\t\\x0B\\f\\x1C-\\x1F \\x85\\xA0]*%PDF-")
    return pages.withColumn("kind", F.when(is_pdf, "pdf").otherwise("html"))


def with_bucket(pages: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Deterministic work/checkpoint bucket by url hash (Iceberg
    bucket(N, url) analog)."""
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def salted_repartition(
    pages: DataFrame, partitions: int = 32, salts: int = 4,
    big_doc_bytes: int = 1 << 20,
) -> DataFrame:
    """Explicit skew handling for the UDF map stage.

    - base key: url hash (keeps a url's work co-located and deterministic)
    - salt: oversized payloads get a per-row salt so a burst of giant
      documents sharing a hash bucket cannot serialize onto one task
    """
    salt = F.when(
        F.length("html") > big_doc_bytes,
        F.pmod(F.xxhash64("url", "warc_ts"), F.lit(partitions * salts)),
    ).otherwise(F.pmod(F.xxhash64("url"), F.lit(partitions)))
    return pages.withColumn("_salt", salt).repartition(
        partitions, "_salt"
    ).drop("_salt")


def wave_tasks(size_bytes: int, cores: int, advisory_bytes: int,
               shuffle_partitions: int) -> int:
    """Extraction-stage tasks in whole waves of ``cores``: one wave per
    ``cores`` x ``advisory_bytes`` of input, at least one.  An unusable
    size estimate (Long.MaxValue, Catalyst's "unknown") falls back to
    shuffle.partitions rounded up to a whole wave."""
    if size_bytes < (1 << 63) - 1:
        waves = -(-size_bytes // (cores * advisory_bytes))
    else:
        waves = -(-shuffle_partitions // cores)
    return cores * max(1, waves)


def latest_in_waves(pages: DataFrame) -> DataFrame:
    """latest_snapshot feeding the UDF in whole waves of ``wave_tasks``
    (sized from Catalyst's estimate of ``pages`` and the session's conf;
    policy: run_pipeline).  If the window needs an Exchange, the pages are
    first hash-partitioned by url into that count, which the window reuses
    (AQE does not re-coalesce an explicit count); a url-bucketed scan
    needs none and is narrowly coalesced."""
    spark, conf = pages.sparkSession, pages.sparkSession.conf
    size = pages._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    n = wave_tasks(int(size), spark.sparkContext.defaultParallelism,
                   advisory, int(conf.get("spark.sql.shuffle.partitions")))
    snap = latest_snapshot(pages)
    plan = snap._jdf.queryExecution().executedPlan().toString()
    if "Exchange hashpartitioning(url" in plan:
        return latest_snapshot(pages.repartition(n, "url"))
    return snap.coalesce(n)


def extract(pages: DataFrame, extended_filters: bool = False) -> DataFrame:
    """Run the per-document extractor; one row out per input document.

    The MB-scale binary payload is dropped immediately after the UDF (only
    its length survives, for metrics) so any downstream persist/shuffle
    carries kilobytes per row, not megabytes.

    ``extended_filters``: opt out of strict filter parity — decode
    LZW/ASCIIHex/ASCII85/RunLength/filter-chain streams the reference
    drops (more yield, no longer byte-identical per url on those docs)."""
    return (
        pages.withColumn("doc", _extract_udf(extended_filters)(F.col("html")))
        .withColumn("bytes_in", F.length("html"))
        .drop("html", "text")
    )


def results(extracted: DataFrame) -> DataFrame:
    """Explode per-document page arrays into the results table shape."""
    ex = extracted.select(
        "url",
        "bucket",
        F.col("doc.parser").alias("parser"),
        F.col("doc.error").alias("error"),
        F.col("doc.pages").alias("pages"),
        F.col("doc.spans_raw").alias("spans_all"),
    )

    exploded = ex.select(
        "url",
        "bucket",
        "parser",
        "error",
        F.posexplode_outer("pages").alias("page_no", "text"),
        "spans_all",
    )
    span_struct = F.transform(
        F.element_at("spans_all", F.col("page_no") + 1),
        lambda s: F.struct(
            s[1].cast("long").alias("start"),
            s[2].cast("long").alias("end"),
            s[3].alias("x"),
            s[4].alias("y"),
        ),
    )
    return exploded.select(
        "url",
        "bucket",
        "page_no",
        "text",
        span_struct.alias("spans"),
        "parser",
        "error",
    )


def metrics(extracted: DataFrame) -> DataFrame:
    """Per-bucket lineage + extraction metrics (north_star: pages parsed,
    decode failures, fallback rate).  Partial aggregation (map-side combine)
    is free from Catalyst for these hash aggregates."""
    return extracted.groupBy("bucket").agg(
        F.count("*").alias("docs"),
        F.sum("doc.n_pages").alias("pages_parsed"),
        F.sum("doc.pages_dropped").alias("pages_dropped"),
        F.sum("doc.decode_failures").alias("decode_failures"),
        F.sum("doc.fallbacks").alias("fallbacks"),
        F.avg(
            ((F.col("doc.fallbacks") + F.col("doc.decode_failures")) > 0)
            .cast("int")
        ).alias("fallback_rate"),
        F.sum("bytes_in").alias("bytes_in"),
    )


def run_pipeline(
    pages: DataFrame,
    n_buckets: int = 64,
    partitions: int = 32,
    dedup: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline; returns (results_df, metrics_df).

    Task policy: the extraction UDF runs in whole waves of Python tasks
    (latest_in_waves), because each Python task pays a fixed cost before
    the UDF sees a row: pyspark's worker calls importlib.invalidate_caches()
    per task, and CPython 3.11's zipimporter then re-reads the directory of
    pyspark.zip, py4j or a Spark jar for each cached importer (0.14-0.21 s
    in a worker; 32 trivial Python tasks took 2.58 s against 0.34 s
    without Python on local[4], 0.84 s once the extraction batch's drop of
    those importers applies).  Left to AQE, the window's exchange coalesces
    by bytes into 4 or 5 tasks on 4 cores, and 5 is a second, idle wave.

    Without dedup, salted_repartition into ``partitions`` is the one
    payload shuffle: it spreads giants and evens task sizes."""
    if dedup:
        df = with_bucket(route(latest_in_waves(pages)), n_buckets)
    else:
        df = with_bucket(route(pages), n_buckets)
        df = salted_repartition(df, partitions)
    ex = extract(df)
    # extraction runs once; both outputs read the exploded/aggregated views
    return results(ex), metrics(ex)


# -----------------------------------------------------------------------------
# bucketed layout: the shuffle-free dedup path


def write_pages_bucketed(pages: DataFrame, table: str,
                         n_buckets: int = 64) -> None:
    """Persist the pages table BUCKETED BY url (parquet ``bucketBy`` via the
    session catalog locally; Iceberg ``bucket(N, url)`` in production).

    Why: the latest-snapshot window partitions by url, and on an unbucketed
    input that window shuffles the FULL MB-scale payloads — at 100 TB the
    dominant byte-mover of the whole pipeline (docs/PLANS.md).  A scan of a
    url-bucketed table already satisfies the window's clustering
    requirement, so Catalyst plans Scan -> Sort -> Window with NO Exchange:
    payload bytes never cross the network (verified by
    tests/test_pipeline_spark.py::test_bucketed_dedup_has_no_exchange and
    the captured plan in docs/PLANS.md)."""
    spark = pages.sparkSession
    # a PREVIOUS session's managed table leaves an orphaned warehouse dir
    # the in-memory catalog no longer knows about; creation then fails with
    # LOCATION_ALREADY_EXISTS.  Drop both the catalog entry and the
    # location.  (Iceberg/Hive catalogs persist metadata, so this local
    # housekeeping does not apply there.)
    spark.sql("DROP TABLE IF EXISTS %s" % table)
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    if wh and "/" not in table:
        import shutil as _shutil

        loc = _os.path.join(wh, table.lower())
        # only delete what LOOKS like an orphaned Spark table directory
        # (_SUCCESS / part files / empty) — a user-set SPARK_WAREHOUSE_DIR
        # colliding with unrelated data must never be silently destroyed
        if _os.path.isdir(loc):
            entries = _os.listdir(loc)
            looks_like_table = not entries or any(
                e == "_SUCCESS" or e.startswith("part-") or e.startswith(".part-")
                for e in entries
            )
            if looks_like_table:
                _shutil.rmtree(loc, ignore_errors=True)
    (
        pages.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "url")
        .sortBy("url")
        .saveAsTable(table)
    )


def run_pipeline_bucketed(
    spark: SparkSession,
    table: str,
    n_buckets: int = 64,
    partitions: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """run_pipeline over a url-bucketed pages table: identical semantics,
    with ZERO payload exchange end-to-end — the bucketed scan satisfies
    the dedup window's clustering, and latest_in_waves narrowly coalesces
    the windowed buckets into whole waves of UDF tasks (plan: Scan -> Sort
    -> Window -> Coalesce -> UDF -> explode); giants are spread by the
    url-hash bucket layout.

    ``partitions`` is unused; the frozen bench.py still passes it."""
    df = with_bucket(route(latest_in_waves(spark.table(table))), n_buckets)
    ex = extract(df)
    return results(ex), metrics(ex)


# -----------------------------------------------------------------------------
# checkpoint / resume


def committed_buckets(spark: SparkSession, checkpoint_path: str) -> DataFrame:
    try:
        return spark.read.parquet(checkpoint_path).select("bucket").distinct()
    except Exception:
        return spark.createDataFrame(
            [], T.StructType([T.StructField("bucket", T.IntegerType())])
        )


def resume_filter(
    pages_bucketed: DataFrame, spark: SparkSession, checkpoint_path: str
) -> DataFrame:
    """Left-anti join against committed buckets: a restarted job processes
    only unfinished work (the Iceberg-checkpoint analog, SURVEY.md §2.9)."""
    done = committed_buckets(spark, checkpoint_path)
    return pages_bucketed.join(F.broadcast(done), "bucket", "left_anti")


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    results_path: str,
    checkpoint_path: str,
    metrics_path: str | None = None,
    n_buckets: int = 64,
) -> None:
    """Resumable run: skip committed buckets, write results/metrics with
    DYNAMIC partition overwrite keyed by bucket, then commit the buckets.

    Idempotence under mid-run failure: a crash AFTER the results write but
    BEFORE the checkpoint commit means the restart re-processes those
    buckets — with dynamic overwrite the rewritten bucket partitions
    REPLACE the orphaned ones instead of appending duplicate rows (the
    exact failure window resume exists to cover).  On Iceberg the same
    contract is the atomic REPLACE of bucket(N, url) partitions."""
    # the broadcast resume anti-join keeps latest_in_waves' partitioning
    df = with_bucket(route(latest_in_waves(pages)), n_buckets)
    todo = resume_filter(df, spark, checkpoint_path)
    if todo.isEmpty():
        return
    ex = extract(todo)
    # materialize extraction once for both sinks
    ex = ex.persist()
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(mode_key, "static")
    try:
        spark.conf.set(mode_key, "dynamic")
        results(ex).write.mode("overwrite").partitionBy("bucket").parquet(
            results_path
        )
        m = metrics(ex)
        if metrics_path:
            m.withColumn("committed_ts", F.current_timestamp()).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(metrics_path)
        m.select("bucket").write.mode("append").parquet(checkpoint_path)
    finally:
        spark.conf.set(mode_key, prev_mode)
        ex.unpersist()


# -----------------------------------------------------------------------------
# Composed LLM-corpus pipeline over extraction OUTPUT (r05): a real 100 TB
# run chains extract -> exact-dedup -> quality funnel over the EXTRACTED
# text, not over a pre-made documents table.  These operate on the
# results() row shape (url, page_no, text, parser, ...) and are
# oracle-gated against the frozen pure-Python extraction twin
# (fixtures/expectations) with the same funnel expressed in DuckDB SQL.

QUALITY_MIN_LEN = 40
QUALITY_MIN_SPACES = 4


def doc_texts(res: DataFrame) -> DataFrame:
    """Per-document text from extraction rows: pages '\\n'-joined in
    page order.  (url, doc_text, n_pages).  Documents whose every page
    dropped (the posexplode_outer null row) have no non-null pages and
    produce no row here.

    Scale shape: one hash-agg on url (the pipeline's existing
    partitioning key — zero extra Exchange on the bucketed path);
    array_sort(collect_list(struct)) keeps the join-order deterministic
    without a window."""
    return (
        res.where(F.col("page_no").isNotNull())
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page_no", "text"))),
                    lambda x: x["text"],
                ),
                "\n",
            ).alias("doc_text"),
            F.count("*").cast("long").alias("n_pages"),
        )
    )


def dedup_funnel_survivors(res: DataFrame) -> DataFrame:
    """extract -> exact-dedup -> quality filter, composed: the lowest url
    of each identical-text group survives, then the cheap quality gate
    (length + whitespace-token floor) drops boilerplate shards.
    Returns (url, n_pages, doc_len, doc_md5).

    Scale shape: md5 hash-agg (min_by representative — map-side partial)
    then a pure projection filter; no joins, no window, no pairwise
    stage."""
    doc = doc_texts(res).where(F.length("doc_text") > 0)
    uniq = (
        doc.withColumn("doc_md5", F.md5(F.col("doc_text").cast("binary")))
        .groupBy("doc_md5")
        .agg(
            F.min("url").alias("url"),
            F.min_by("n_pages", "url").alias("n_pages"),
            F.min_by(F.length("doc_text").cast("long"), "url").alias(
                "doc_len"),
            F.min_by("doc_text", "url").alias("doc_text"),
        )
    )
    spaces = F.length("doc_text") - F.length(F.translate("doc_text", " ", ""))
    return (
        uniq.where(
            (F.col("doc_len") >= QUALITY_MIN_LEN)
            & (spaces >= QUALITY_MIN_SPACES)
        )
        .select("url", "n_pages", "doc_len", "doc_md5")
    )


def dedup_funnel_counts(res: DataFrame) -> DataFrame:
    """Stage-by-stage funnel over extraction output:
    extracted_docs -> docs_with_text -> unique_docs -> quality_pass.
    One row per stage (stage, n).

    Scale shape: each stage is a count over the previous projection —
    Spark computes them as independent aggregates here (clarity for the
    oracle); a production variant would fuse them into one conditional
    agg pass like textops.quality_filter_funnel."""
    spark = res.sparkSession
    total = res.select("url").distinct().count()
    doc = doc_texts(res).where(F.length("doc_text") > 0).persist()
    with_text = doc.count()
    uniq = doc.withColumn(
        "doc_md5", F.md5(F.col("doc_text").cast("binary"))
    ).select("doc_md5").distinct().count()
    survivors = dedup_funnel_survivors(res).count()
    doc.unpersist()
    rows = [
        ("extracted_docs", total),
        ("docs_with_text", with_text),
        ("unique_docs", uniq),
        ("quality_pass", survivors),
    ]
    return spark.createDataFrame(rows, "stage string, n long")
