"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship extraction: synthesize the Common-Crawl-style pages
               table from sf0.001 documents, run the full pipeline
               (dedup -> route -> salt -> Arrow-batched extract -> explode),
               return the results DataFrame.
``queries``  — one entry per implemented operator (SURVEY.md §2 relational
               shell + training-data operators).  Each callable takes
               (spark, sf_dir) and returns a DataFrame with aliased columns.
``oracle_sql`` — exact DuckDB twins over the pre-registered views; omitted
               only for the extraction UDF paths (rows-only check), whose
               value-correctness gate is the byte-identical golden test
               suite (tests/test_golden_parity.py) against the reference.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# make package + fixture imports work regardless of the driver's CWD
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_N_ENTRY_DOCS = 200

# token pipeline shared by Spark (textops.tokens_col) and the oracles
_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

_STOP_EN = "['the','and','of','to','a','in','is','it','that','for']"
_STOP_DE = "['der','die','das','und','ist','nicht','ein','zu','mit']"
_STOP_FR = "['le','la','les','et','est','un','une','pour','dans']"
_STOP_ES = "['el','los','las','y','es','un','una','para','con']"


def _pages_df(spark: SparkSession, sf_dir: str, limit: int | None = None):
    from fixtures.pagesgen import build_pages_rows, load_documents
    from pypdfproc_spark.spark.pipeline import PAGES_SCHEMA

    rows = build_pages_rows(load_documents(sf_dir, limit))
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full extraction pipeline on sf0.001-derived pages."""
    from pypdfproc_spark.spark import pipeline as P

    pages = _pages_df(spark, "/root/testdata/sf0.001", limit=_N_ENTRY_DOCS)
    res, _metrics = P.run_pipeline(pages, n_buckets=16, partitions=8)
    return res.select("url", "page_no", "text", "parser", "error")


# -----------------------------------------------------------------------------


def _q_extract_pages(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypdfproc_spark.spark import pipeline as P

    pages = _pages_df(spark, sf_dir, limit=150)
    res, _ = P.run_pipeline(pages, n_buckets=16, partitions=8)
    # page_no cast to long: the frozen expectations parquet (and therefore
    # the DuckDB oracle) carries BIGINT, and the driver hash is type-aware
    return res.select(
        "url", F.col("page_no").cast("long").alias("page_no"),
        "text", "parser",
    )


def _q_extract_pages_bucketed(spark, sf_dir):
    """Same rows as extract_pages, but through the url-bucketed layout
    (write_pages_bucketed + run_pipeline_bucketed, the zero-Exchange dedup
    path) — checked against the SAME frozen expectations, so the driver
    itself verifies the bucketed plan is value-identical."""
    from pyspark.sql import functions as F

    from pypdfproc_spark.spark import pipeline as P

    pages = _pages_df(spark, sf_dir, limit=150)
    spark.sql("DROP TABLE IF EXISTS oracle_pages_bucketed")
    P.write_pages_bucketed(pages, "oracle_pages_bucketed", n_buckets=16)
    res, _ = P.run_pipeline_bucketed(
        spark, "oracle_pages_bucketed", n_buckets=16, partitions=8
    )
    return res.select(
        "url", F.col("page_no").cast("long").alias("page_no"),
        "text", "parser",
    )


def _q_extract_spans(spark, sf_dir):
    """Flattened span rows — one row per assembled line span — so the
    driver's scalar value hash covers the span arrays (r03 verdict item 3:
    spans were tested but not oracle-gated).  page/span indices come from
    posexplode (plain, not outer: empty span lists produce no rows, same
    as the frozen pure-Python twin)."""
    from pyspark.sql import functions as F

    from pypdfproc_spark.spark import pipeline as P

    pages = _pages_df(spark, sf_dir, limit=150)
    res, _ = P.run_pipeline(pages, n_buckets=16, partitions=8)
    ex = res.select(
        "url", F.col("page_no").cast("long").alias("page_no"),
        F.posexplode("spans").alias("span_no", "s"),
    )
    return ex.select(
        "url", "page_no", F.col("span_no").cast("long").alias("span_no"),
        F.col("s.start").alias("span_start"),
        F.col("s.end").alias("span_end"),
        F.round("s.x", 4).alias("x"),
        F.round("s.y", 4).alias("y"),
    )


def _q_stream_batch_equivalence(spark, sf_dir):
    """Streaming-vs-batch equivalence, driver-gated (r03 verdict stretch
    item): the SAME 150-doc input runs through streaming/ingest.py's
    stream_extract (readStream -> route -> Arrow extract -> writeStream,
    availableNow trigger), and the emitted rows must equal the frozen
    pure-Python extraction twin computed over ALL captures (the stream
    path performs no latest-snapshot dedup)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pypdfproc_spark.streaming.ingest import stream_extract

    base = tempfile.mkdtemp(prefix="stream_oracle_")
    inp = os.path.join(base, "input")
    outp = os.path.join(base, "results")
    ckpt = os.path.join(base, "ckpt")
    try:
        pages = _pages_df(spark, sf_dir, limit=150)
        pages.write.mode("overwrite").parquet(inp)
        q = stream_extract(spark, inp, outp, ckpt, n_buckets=16,
                           available_now=True)
        q.awaitTermination()
        res = spark.read.parquet(outp).select(
            "url", F.col("page_no").cast("long").alias("page_no"),
            "text", "parser",
        )
        # materialize before the temp dir disappears
        collected = res.collect()
        return spark.createDataFrame(collected, res.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_extract_metrics(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypdfproc_spark.spark import pipeline as P

    pages = _pages_df(spark, sf_dir, limit=150)
    _, met = P.run_pipeline(pages, n_buckets=16, partitions=8)
    return met.select(
        F.col("bucket").cast("long").alias("bucket"),
        "docs", "pages_parsed", "pages_dropped", "decode_failures",
        F.round("fallback_rate", 4).alias("fallback_rate"),
    )


def _q_pipeline_dedup_survivors(spark, sf_dir):
    """Composed corpus pipeline (r05): run the REAL extraction, then
    exact-dedup the per-document text and apply the quality gate — the
    chain a 100 TB training-data run executes over extraction output.
    Oracle: identical funnel in DuckDB SQL over the frozen pure-Python
    extraction twin."""
    from pypdfproc_spark.spark import pipeline as P

    pages = _pages_df(spark, sf_dir, limit=150)
    res, _ = P.run_pipeline(pages, n_buckets=16, partitions=8)
    return P.dedup_funnel_survivors(res)


def _q_pipeline_near_dedup(spark, sf_dir):
    """Composed NEAR-dedup over extraction output (r05): the per-document
    text assembled from the real extraction runs through the same
    MinHash+LSH banding as the documents table, with url as the doc id —
    the candidate-pair stage of a 100 TB post-extraction dedup."""
    from pyspark.sql import functions as F

    from pypdfproc_spark.spark import pipeline as P
    from pypdfproc_spark.spark import textops

    pages = _pages_df(spark, sf_dir, limit=150)
    res, _ = P.run_pipeline(pages, n_buckets=16, partitions=8)
    docs = P.doc_texts(res).select(
        F.col("url").alias("doc_id"), F.col("doc_text").alias("text")
    )
    return textops.dedup_minhash_lsh(spark, sf_dir, docs=docs)


def _q_pipeline_dedup_funnel(spark, sf_dir):
    """Stage counts for the composed pipeline: extracted_docs ->
    docs_with_text -> unique_docs -> quality_pass."""
    from pypdfproc_spark.spark import pipeline as P

    pages = _pages_df(spark, sf_dir, limit=150)
    res, _ = P.run_pipeline(pages, n_buckets=16, partitions=8)
    return P.dedup_funnel_counts(res)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pypdfproc_spark.spark import multimodal, similarity, textops

    return {
        # relational shell of the pipeline (SURVEY.md §2.9)
        "route_filter": textops.route_filter,
        "latest_snapshot": textops.latest_snapshot_events,
        "metrics_rollup": textops.metrics_rollup,
        "resume_anti_join": textops.resume_anti_join,
        "topk_skew": textops.topk_skew,
        "events_sessionize": textops.events_sessionize,
        "pricing_summary": textops.pricing_summary,
        "order_revenue_by_region": textops.order_revenue_by_region,
        # dedup family
        "dedup_exact": textops.dedup_exact,
        "dedup_exact_keep_first": textops.dedup_exact_keep_first,
        "dedup_minhash_lsh": textops.dedup_minhash_lsh,
        "dedup_simhash": textops.dedup_simhash,
        "dedup_simhash_pairs": textops.dedup_simhash_pairs,
        "dedup_ngram_jaccard": textops.dedup_ngram_jaccard,
        "dedup_verified": textops.dedup_verified,
        "dedup_verified_keep": textops.dedup_verified_keep,
        "dedup_components": textops.dedup_components,
        "doc_fingerprint": textops.doc_fingerprint,
        # text analysis
        "lang_id": textops.lang_id,
        "quality_score": textops.quality_score,
        "token_count": textops.token_count,
        "token_count_bpe": textops.token_count_bpe,
        "quality_filter_funnel": textops.quality_filter_funnel,
        "pii_scan": textops.pii_scan,
        "dedup_text_prefix": textops.dedup_text_prefix,
        "length_histogram": textops.length_histogram,
        # similarity search
        "ann_topk_bruteforce": similarity.ann_topk_bruteforce,
        "ann_lsh_bucketed": similarity.ann_lsh_bucketed,
        "ann_ivf_topk": similarity.ann_ivf_topk,
        "embedding_buckets": similarity.embedding_buckets,
        "dedup_embedding_cosine": similarity.dedup_embedding_cosine,
        # multimodal plumbing
        "blob_metadata": multimodal.blob_metadata_query,
        "blob_byte_histogram": multimodal.blob_byte_histogram_query,
        # extraction paths (oracle = frozen expectations parquet; text
        # values further gated by the byte-identical golden suite)
        "extract_pages": _q_extract_pages,
        "extract_pages_bucketed": _q_extract_pages_bucketed,
        "extract_metrics": _q_extract_metrics,
        "extract_spans": _q_extract_spans,
        "stream_batch_equivalence": _q_stream_batch_equivalence,
        # composed pipeline over extraction OUTPUT (r05): extract ->
        # exact dedup -> quality funnel, oracle = same funnel in DuckDB
        # over the frozen extraction twin
        "pipeline_dedup_funnel": _q_pipeline_dedup_funnel,
        "pipeline_dedup_survivors": _q_pipeline_dedup_survivors,
        "pipeline_near_dedup": _q_pipeline_near_dedup,
    }


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["route_filter"] = """
        SELECT source, count(*) AS docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents WHERE n_chars >= 100 GROUP BY source
    """

    sql["latest_snapshot"] = """
        SELECT user_id, event_id, event_type, round(value, 4) AS value
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """

    sql["metrics_rollup"] = """
        SELECT lang, count(*) AS docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY lang
    """

    sql["resume_anti_join"] = """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """

    sql["topk_skew"] = """
        SELECT doc_id, n_chars FROM documents
        ORDER BY n_chars DESC, doc_id ASC LIMIT 10
    """

    sql["events_sessionize"] = """
        WITH g AS (
          SELECT user_id, ts, event_id, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
                 THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT *, CAST(sum(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM g)
        SELECT user_id, session_id, count(*) AS events,
               round(sum(value), 4) AS session_value
        FROM s GROUP BY user_id, session_id
    """

    sql["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["order_revenue_by_region"] = """
        SELECT r.r_name AS region, count(*) AS orders,
               round(sum(o.o_totalprice), 4) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """

    sql["dedup_exact"] = """
        SELECT md5(text) AS text_hash, count(*) AS dup_count,
               min(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1 HAVING count(*) > 1
    """

    sql["dedup_exact_keep_first"] = """
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    """

    _sig = ", ".join(
        "min(substr(%s, %d, 8)) AS s%d"
        % ("md5(tok)" if i < 4 else "md5(tok || 'x')", 8 * (i % 4) + 1, i)
        for i in range(8)
    )
    _bands = " UNION ALL ".join(
        "SELECT doc_id, %d AS band_id, md5(s%d || s%d) AS band_hash FROM sigs"
        % (j, 2 * j, 2 * j + 1)
        for j in range(4)
    )
    sql["dedup_minhash_lsh"] = f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
        ), sigs AS (
          SELECT doc_id, {_sig} FROM toks GROUP BY doc_id
        ), bands0 AS ({_bands}),
        bands AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS _n
            FROM bands0) WHERE _n <= 50
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """

    _bitsums = ", ".join(
        "sum(((strpos('0123456789abcdef', substr(h, %d, 1)) - 1) %% 2) * 2 - 1)"
        " AS b%d" % (j + 1, j)
        for j in range(16)
    )
    _compose = " + ".join(
        "(CASE WHEN b%d > 0 THEN 1 ELSE 0 END) * %d" % (j, 2 ** j)
        for j in range(16)
    )
    _sim_cte = f"""
        toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
        ), h AS (SELECT doc_id, md5(tok) AS h FROM toks),
        sums AS (SELECT doc_id, {_bitsums} FROM h GROUP BY doc_id),
        sim AS (SELECT doc_id, {_compose} AS simhash16 FROM sums)
    """
    sql["dedup_simhash"] = f"WITH {_sim_cte} SELECT doc_id, simhash16 FROM sim"

    _sim_bands = " UNION ALL ".join(
        "SELECT doc_id, simhash16, %d AS band_id,"
        " (simhash16 >> %d) & 15 AS band_val FROM sim" % (j, 4 * j)
        for j in range(4)
    )
    sql["dedup_simhash_pairs"] = f"""
        WITH {_sim_cte},
        bands0 AS ({_sim_bands}),
        bands AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_val) AS _n
            FROM bands0) WHERE _n <= 100
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash16, b.simhash16)) AS BIGINT)
                 AS hamming
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
    """

    _sh = (
        "list_transform(generate_series(1, len(toks) - 2), "
        "k -> array_to_string(list_slice(toks, k, k + 2), ' '))"
    )
    # LSH candidates -> exact Jaccard verification (the flagship dedup):
    # same minhash/banding CTE chain as dedup_minhash_lsh, then shingles
    # restricted to candidate members and intersections to candidate pairs
    sql["dedup_verified"] = f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
        ), sigs AS (
          SELECT doc_id, {_sig} FROM toks GROUP BY doc_id
        ), bands0 AS ({_bands}),
        bands AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS _n
            FROM bands0) WHERE _n <= 50
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        ),
        ids AS (SELECT doc_a AS doc_id FROM cand
                UNION SELECT doc_b AS doc_id FROM cand),
        d AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
          WHERE doc_id IN (SELECT doc_id FROM ids)
        ),
        sh AS (
          SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest({_sh}) AS sh FROM d WHERE len(toks) >= 3)
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.2
    """
    sql["dedup_ngram_jaccard"] = f"""
        WITH d AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 150
        ), sh AS (
          SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest({_sh}) AS sh FROM d WHERE len(toks) >= 3)
        ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.2
    """

    # survivors: drop the higher id of every verified pair
    _dv = sql["dedup_verified"]
    sql["dedup_verified_keep"] = f"""
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT doc_b FROM ({_dv}))
    """

    # transitive-closure components over the verified pairs: DuckDB's
    # recursive CTE computes min-reachable-id exactly, the twin of the
    # engine's min-label-propagation fixpoint (iterated to convergence,
    # so the fixed-point values match regardless of iteration schedule)
    sql["dedup_components"] = f"""
        WITH RECURSIVE vp AS ({_dv}),
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM vp
          UNION ALL
          SELECT doc_b AS s, doc_a AS d FROM vp
        ),
        reach(s, d) AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        )
        SELECT s AS doc_id, least(s, min(d)) AS component
        FROM reach GROUP BY s
    """

    sql["doc_fingerprint"] = f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest({_sh}) AS sh FROM d WHERE len(toks) >= 3)
        )
        SELECT doc_id, min(md5(sh)) AS fingerprint FROM sh GROUP BY doc_id
    """

    sql["lang_id"] = f"""
        WITH s AS (
          SELECT doc_id,
            len(list_filter({_TOKS}, x -> list_contains({_STOP_EN}, x))) AS s_en,
            len(list_filter({_TOKS}, x -> list_contains({_STOP_DE}, x))) AS s_de,
            len(list_filter({_TOKS}, x -> list_contains({_STOP_FR}, x))) AS s_fr,
            len(list_filter({_TOKS}, x -> list_contains({_STOP_ES}, x))) AS s_es
          FROM documents)
        SELECT doc_id, CASE
          WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          WHEN s_de > 0 AND s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
          WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
          WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
          ELSE 'und' END AS pred_lang
        FROM s
    """

    # floor(x * 10000 + 0.5) / 10000: textops.round4_half_up, the same
    # IEEE operations (DuckDB's round() breaks half-way ties differently)
    sql["quality_score"] = f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (
          SELECT doc_id, len(toks) AS n_tokens,
            len(list_filter(toks, x -> list_contains({_STOP_EN}, x)))
              / len(toks) AS stop_ratio,
            0.4 * least(1.0, len(toks) / 100.0)
              + 0.3 * (len(list_filter(toks, x -> list_contains({_STOP_EN}, x)))
                       / len(toks))
              + 0.3 * least(1.0,
                  (list_sum(list_transform(toks, x -> length(x))) / len(toks))
                  / 8.0) AS score
          FROM d WHERE len(toks) > 0)
        SELECT doc_id, n_tokens,
          floor(stop_ratio * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
          floor(score * 10000.0 + 0.5) / 10000.0 AS quality
        FROM s
    """

    sql["token_count"] = f"""
        SELECT doc_id, len({_TOKS}) AS n_tokens,
               length(text) AS n_chars_text
        FROM documents
    """

    sql["quality_filter_funnel"] = f"""
        SELECT count(*) AS total,
               CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
                    AS BIGINT) AS pass_length,
               CAST(sum(CASE WHEN n_chars >= 200 AND lang = 'en'
                             THEN 1 ELSE 0 END) AS BIGINT) AS pass_lang,
               CAST(sum(CASE WHEN n_chars >= 200 AND lang = 'en'
                             AND len({_TOKS}) >= 50
                             THEN 1 ELSE 0 END) AS BIGINT) AS pass_tokens
        FROM documents
    """

    _pii_email = r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'"
    _pii_digits = "'[0-9]{9,}'"
    sql["pii_scan"] = f"""
        WITH scanned AS (
          SELECT 'documents' AS source, doc_id AS record_id,
                 len(regexp_extract_all(text, {_pii_email})) AS emails,
                 len(regexp_extract_all(text, {_pii_digits})) AS digit_runs
          FROM documents
          UNION ALL
          SELECT 'customer', c_custkey,
                 len(regexp_extract_all(c_name, {_pii_email})),
                 len(regexp_extract_all(c_name, {_pii_digits}))
          FROM customer
        )
        SELECT * FROM scanned WHERE emails > 0 OR digit_runs > 0
    """

    sql["dedup_text_prefix"] = f"""
        SELECT md5(array_to_string(list_slice({_TOKS}, 1, 10), ' '))
                 AS prefix_hash,
               count(*) AS dup_count, min(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1 HAVING count(*) > 1
    """

    sql["length_histogram"] = """
        SELECT least(CAST(floor(n_chars / 500) AS BIGINT), 20) AS len_bucket,
               count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1
    """

    _cos = (
        "round(list_dot_product(qv, cv) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4)"
    )
    sql["ann_topk_bruteforce"] = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id >= 5),
        s AS (SELECT query_id, neighbor_id, {_cos} AS cosine
              FROM q CROSS JOIN c)
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM s) WHERE rank <= 5
    """

    _bucket = " + ".join(
        "(CASE WHEN embedding[%d] > 0 THEN 1 ELSE 0 END) * %d" % (j + 1, 2 ** j)
        for j in range(6)
    )
    sql["ann_lsh_bucketed"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          {_bucket} AS bucket FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM e WHERE vec_id >= 5),
        s AS (SELECT query_id, neighbor_id,
                round(list_dot_product(qv, cv) /
                  (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                  4) AS cosine
              FROM q JOIN c USING (bucket))
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM s) WHERE rank <= 3
    """

    sql["embedding_buckets"] = f"""
        SELECT {_bucket} AS bucket, count(*) AS vectors
        FROM embeddings GROUP BY 1
    """

    def _vcos(a: str, b: str) -> str:
        return (
            "round(list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s))"
            " * sqrt(list_dot_product(%s, %s))), 4)" % (a, b, a, a, b, b)
        )

    # k-means-trained codebook (2 distributed Lloyd iterations, seed =
    # first 16 candidate vectors, coordinates rounded to 4 decimals per
    # update — the exact twin of similarity.ivf_train_centroids)
    _avg_list = "[" + ", ".join(
        "round(avg(v[%d]), 4)" % (i + 1) for i in range(64)
    ) + "]"

    def _ivf_assign(cents: str) -> str:
        return f"""(
          SELECT neighbor_id, v, cent_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY neighbor_id ORDER BY ccos DESC, cent_id ASC) AS rn
            FROM (SELECT neighbor_id, v, cent_id, {_vcos('v', 'cv')} AS ccos
                  FROM cands CROSS JOIN {cents})) WHERE rn = 1)"""

    _lloyd = ""
    for t in range(2):
        _lloyd += f"""
        asg{t} AS {_ivf_assign('cents%d' % t)},
        upd{t} AS (SELECT cent_id, {_avg_list} AS ncv
                   FROM asg{t} GROUP BY cent_id),
        cents{t + 1} AS (
          SELECT c.cent_id, coalesce(u.ncv, c.cv) AS cv
          FROM cents{t} c LEFT JOIN upd{t} u USING (cent_id)),"""

    sql["ann_ivf_topk"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents0 AS (SELECT vec_id - 5 AS cent_id, v AS cv FROM e
                   WHERE vec_id >= 5 AND vec_id < 21),
        cands AS (SELECT vec_id AS neighbor_id, v FROM e WHERE vec_id >= 5),
        {_lloyd}
        assign AS {_ivf_assign('cents2')},
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, qv, cent_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY qcos DESC, cent_id ASC) AS rn
            FROM (SELECT query_id, qv, cent_id, {_vcos('qv', 'cv')} AS qcos
                  FROM q CROSS JOIN cents2)) WHERE rn <= 4
        ),
        s AS (SELECT query_id, neighbor_id, {_vcos('qv', 'v')} AS cosine
              FROM probes JOIN assign USING (cent_id))
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM s) WHERE rank <= 5
    """

    def _emb_band(band: int) -> str:
        return " + ".join(
            "(CASE WHEN v[%d] > 0 THEN 1 ELSE 0 END) * %d"
            % (band * 8 + j + 1, 2 ** j)
            for j in range(8)
        )

    _emb_bands = " UNION ALL ".join(
        "SELECT vec_id, %d AS band_id, %s AS bucket FROM e" % (k, _emb_band(k))
        for k in range(4)
    )
    _ecos = (
        "round(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * "
        "sqrt(list_dot_product(eb.v, eb.v))), 4)"
    )
    sql["dedup_embedding_cosine"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bands0 AS ({_emb_bands}),
        bands AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, bucket) AS _n
            FROM bands0) WHERE _n <= 100
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, {_ecos} AS cosine
        FROM cand
        JOIN e ea ON ea.vec_id = cand.vec_a
        JOIN e eb ON eb.vec_id = cand.vec_b
        WHERE {_ecos} >= 0.4
    """

    sql["token_count_bpe"] = r"""
        SELECT doc_id,
               len(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
               )) AS n_bpe_tokens
        FROM documents
    """

    sql["blob_metadata"] = """
        SELECT doc_id,
          octet_length(encode(coalesce(text, ''))) AS n_bytes,
          sha256(coalesce(text, '')) AS sha256,
          CASE WHEN starts_with(coalesce(text, ''), 'GIF8') THEN 'gif'
               WHEN starts_with(coalesce(text, ''), 'RIFF') THEN 'riff'
               WHEN starts_with(coalesce(text, ''), '%PDF-') THEN 'pdf'
               ELSE 'bin' END AS magic
        FROM documents
    """

    sql["blob_byte_histogram"] = """
        WITH b AS (
          SELECT doc_id, encode(coalesce(text, '')) AS blob FROM documents
        ), pos AS (
          SELECT doc_id, hex(blob) AS h,
                 unnest(generate_series(1, octet_length(blob)::INT)) AS i
          FROM b
        ), v AS (
          SELECT doc_id,
                 strpos('0123456789ABCDEF', substr(h, 2 * i - 1, 1)) - 1
                   AS bin
          FROM pos
        ), c AS (SELECT doc_id, bin, count(*) AS n FROM v GROUP BY 1, 2),
        bins AS (
          SELECT doc_id, unnest(generate_series(0, 15)) AS bin FROM b
        )
        SELECT bins.doc_id, bins.bin, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        FROM bins LEFT JOIN c ON c.doc_id = bins.doc_id AND c.bin = bins.bin
    """

    # extract_pages / extract_metrics: the extraction UDF itself is not
    # SQL-expressible, so the oracle is a SELECT from expectations frozen by
    # fixtures/freeze_expectations.py — a pure-Python (Spark-free) twin of
    # the pipeline semantics (md5-tiebreak dedup, magic routing, per-payload
    # extract_document, xxhash64 bucketing).  The text values are further
    # gated by the byte-identical golden suite vs the reference.
    _exp = os.path.join(_REPO, "fixtures", "expectations")
    sql["extract_pages"] = """
        SELECT url, page_no, text, parser
        FROM read_parquet('%s/extract_pages_sf001.parquet')
    """ % _exp
    sql["extract_pages_bucketed"] = sql["extract_pages"]
    sql["extract_metrics"] = """
        SELECT bucket, docs, pages_parsed, pages_dropped, decode_failures,
               fallback_rate
        FROM read_parquet('%s/extract_metrics_sf001.parquet')
    """ % _exp
    sql["extract_spans"] = """
        SELECT url, page_no, span_no, span_start, span_end, x, y
        FROM read_parquet('%s/extract_spans_sf001.parquet')
    """ % _exp
    # streaming == batch on the same input: the frozen twin extracts ALL
    # captures (no dedup on the stream path)
    sql["stream_batch_equivalence"] = """
        SELECT url, page_no, text, parser
        FROM read_parquet('%s/extract_stream_sf001.parquet')
    """ % _exp
    # composed pipeline (r05): the SAME dedup+funnel semantics expressed
    # in DuckDB over the frozen twin — string_agg ordered by page_no
    # mirrors array_sort(collect_list(struct)); md5 over the VARCHAR's
    # utf-8 bytes mirrors F.md5(text cast to binary); counts are BIGINT
    # (never bare SUM -> HUGEINT).
    _funnel_doc = """
        WITH pages AS (
            SELECT url, page_no, text
            FROM read_parquet('%s/extract_pages_sf001.parquet')
        ), doc AS (
            SELECT url,
                   string_agg(text, chr(10) ORDER BY page_no) AS doc_text,
                   CAST(count(*) AS BIGINT) AS n_pages
            FROM pages WHERE page_no IS NOT NULL GROUP BY url
        ), with_text AS (
            SELECT * FROM doc WHERE length(doc_text) > 0
        ), uniq AS (
            SELECT md5(doc_text) AS doc_md5,
                   min(url) AS url,
                   arg_min(n_pages, url) AS n_pages,
                   CAST(arg_min(length(doc_text), url) AS BIGINT) AS doc_len,
                   arg_min(doc_text, url) AS doc_text
            FROM with_text GROUP BY md5(doc_text)
        ), survivors AS (
            SELECT url, n_pages, doc_len, doc_md5
            FROM uniq
            WHERE doc_len >= 40
              AND length(doc_text) - length(replace(doc_text, ' ', '')) >= 4
        )
    """ % _exp
    sql["pipeline_dedup_survivors"] = (
        _funnel_doc + " SELECT url, n_pages, doc_len, doc_md5 FROM survivors"
    )
    # composed near-dedup (r05): the dedup_minhash_lsh CTE chain verbatim,
    # but over documents REBUILT from the frozen extraction twin (url as
    # the doc id; string ids compare binary in both engines)
    sql["pipeline_near_dedup"] = f"""
        WITH pages AS (
            SELECT url, page_no, text
            FROM read_parquet('{_exp}/extract_pages_sf001.parquet')
        ), exdocs AS (
            SELECT url AS doc_id,
                   string_agg(text, chr(10) ORDER BY page_no) AS text
            FROM pages WHERE page_no IS NOT NULL GROUP BY url
        ), toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM exdocs)
        ), sigs AS (
          SELECT doc_id, {_sig} FROM toks GROUP BY doc_id
        ), bands0 AS ({_bands}),
        bands AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS _n
            FROM bands0) WHERE _n <= 50
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """
    sql["pipeline_dedup_funnel"] = _funnel_doc + """
        SELECT 'extracted_docs' AS stage,
               CAST(count(DISTINCT url) AS BIGINT) AS n
        FROM read_parquet('%s/extract_pages_sf001.parquet')
        UNION ALL
        SELECT 'docs_with_text', CAST(count(*) AS BIGINT) FROM with_text
        UNION ALL
        SELECT 'unique_docs', CAST(count(DISTINCT doc_md5) AS BIGINT)
        FROM uniq
        UNION ALL
        SELECT 'quality_pass', CAST(count(*) AS BIGINT) FROM survivors
    """ % _exp
    return sql
