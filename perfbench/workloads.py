"""The benchmark workloads.

Each workload sets up (inputs, session, Python-worker warm-up, build
artifacts), runs its timed window, checks every output it produced, and
returns a ``Result``.  End-to-end metrics are always measured; per-layer
metrics only when ``ctx.trace`` is set (a separate traced run).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from perfbench import inputs as I
from perfbench import sparkstats as S
from perfbench.trace import CoreTracer

# the oracle-backed query set that bench.py times, in its order, less
# quality_score: its round(double, 4) and that of its DuckDB twin break
# half-way ties differently (Spark 0.3138, DuckDB 0.3137, and the reverse),
# so a few rows of every generated table differ from the oracle.  It joins
# the set again once the query and its oracle round alike.
QUERY_NAMES = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_simhash_pairs", "dedup_embedding_cosine",
    "dedup_ngram_jaccard", "dedup_verified", "dedup_components",
    "doc_fingerprint", "lang_id", "token_count",
    "ann_topk_bruteforce", "ann_lsh_bucketed", "ann_ivf_topk",
    "blob_metadata", "blob_byte_histogram", "latest_snapshot",
    "events_sessionize", "metrics_rollup", "topk_skew",
    "quality_filter_funnel", "pii_scan", "dedup_text_prefix",
    "length_histogram",
]

# input sizes
WEB_DOCS = 5000            # documents behind the web pages table (sf0.1)
# documents, embeddings, events, customer rows; the DuckDB twin of
# dedup_components (a recursive CTE) bounds how large a check stays cheap
CORPUS_TABLES = (1000, 1000, 20000, 1500)
CORPUS_WEB_DOCS = 400      # web extraction persisted for the funnel queries
MIN_PASSES = 3             # extraction passes per timed window, at least
# untimed extraction passes before the window: pass walls kept falling for
# the first three or so (JIT), so one warm-up pass left a trend in the window
WARMUP_PASSES = 3

PIPELINE_WRITE = ("pipeline.write.files", "pipeline.write.bytes",
                  "pipeline.extract_only_s", "pipeline.write_share",
                  "pipeline.resume_noop_s")


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    cpus: int
    work: str               # per-run scratch directory
    out: str                # where traced spans are written
    cache: I.InputCache
    stamp: dict = field(default_factory=dict)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 5:
                print("perfbench: check failed: %s" % what, file=sys.stderr)

    def compare(self, got: dict, expected: dict, what: str) -> None:
        """One check per expected key; keys nobody expected fail too."""
        for key, exp in expected.items():
            self.check(got.get(key) == exp, "%s %s: %r != %r"
                       % (what, key, got.get(key), exp))
        for key in set(got) - set(expected):
            self.check(False, "%s: unexpected %s" % (what, key))

    def finish(self, ctx: Ctx, e2e: dict, layer: dict) -> "Result":
        failed_frac = self.failed / max(1, self.attempted)
        if ctx.trace:
            self.metrics = dict(layer, failed_frac=failed_frac)
        else:
            self.metrics = dict(e2e, ok_frac=1.0 - failed_frac)
        return self


def query_metric_names() -> list[str]:
    import __spark_entry__ as E

    q = E.queries()
    names = ["%s.%s_s" % (q[n].__module__.rsplit(".", 1)[1], n) for n in QUERY_NAMES]
    return names + ["pipeline.dedup_funnel_survivors_s", "textops.near_dedup_s",
                    "similarity.ivf_build_s"]


def _e2e(docs: int, walls: list, setup: float, rss: float) -> dict:
    wall = statistics.median(walls)
    return {"docs_per_s": docs / wall, "wall_s": wall, "setup_s": setup,
            "peak_rss_mb": rss}


def md5_text(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))]


# -----------------------------------------------------------------------------
# extraction


def start_session(ctx: Ctx, avg_payload: int):
    from pypdfproc_spark.spark.session import arrow_rows_for_payload, build_session

    spark = build_session(
        app="perfbench", master="local[%d]" % ctx.cpus,
        arrow_batch_rows=arrow_rows_for_payload(avg_payload_bytes=avg_payload),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def page_digest_df(res):
    from pyspark.sql import functions as F

    return res.select("url", "page_no", F.md5("text").alias("h"), "parser", "error")


def error_class(error: str | None) -> str | None:
    """The exception class (or typed prefix) of an ``error`` text.  The
    rest of the text is not compared: a RecursionError's message names the
    operation that hit the limit, which depends on the stack depth the
    extractor runs at (a Spark worker's differs from an in-process loop's)."""
    return None if error is None else error.split(":", 1)[0]


def rows_by_url(rows) -> dict:
    """Collected (url, page_no, md5, parser, error) rows ->
    {url: (parser, error class, (md5 per page in page order))}."""
    pages: dict = {}
    head: dict = {}
    for url, page_no, h, parser, error in rows:
        head[url] = (parser, error_class(error))
        if page_no is not None:
            pages.setdefault(url, []).append((page_no, h))
    return {
        url: (p, e, tuple(h for _n, h in sorted(pages.get(url, []))))
        for url, (p, e) in head.items()
    }


def extraction_pass(spark, pages_path: str):
    """One whole-pipeline pass (scan -> latest_snapshot -> route -> Arrow
    UDF -> explode) whose sink collects one md5 per page.
    Returns (wall, results by url, the executed DataFrame)."""
    from pypdfproc_spark.spark import pipeline as P

    res, _ = P.run_pipeline(spark.read.parquet(pages_path), n_buckets=64)
    df = page_digest_df(res)
    t0 = time.perf_counter()
    rows = df.collect()
    return time.perf_counter() - t0, rows_by_url(rows), df


def newest_payloads(inp: dict) -> tuple[list, list]:
    latest = I.latest_payloads(I.read_pages(inp["path"]))
    urls = sorted(latest)
    return urls, [latest[u] for u in urls]


def core_loop(payloads: list) -> tuple[list, list, float]:
    """Untraced single-thread extraction: (results, per-doc seconds, wall)."""
    from pypdfproc_spark.core.extract import extract_document

    for p in payloads[:50]:  # AFM / encoding tables load once per process
        extract_document(p)
    out, times = [], []
    clock = time.perf_counter
    t_all = clock()
    for p in payloads:
        t0 = clock()
        out.append(extract_document(p))
        times.append(clock() - t0)
    return out, times, clock() - t_all


def page_md5s(result) -> tuple:
    from pypdfproc_spark.core.extract import utf8_safe

    return tuple(md5_text(utf8_safe(p)) for p in result.pages)


def core_metrics(ctx: Ctx, name: str, payloads: list, core: tuple) -> dict:
    """Per-layer core metrics: the untraced loop's ceiling, latencies and
    behaviour fractions, then a traced loop for layer self times/counts."""
    from pypdfproc_spark.core import extract as extract_mod

    results, times, wall = core
    n = len(payloads)
    found = sum(r.n_pages for r in results)
    kept = sum(r.n_pages - r.pages_dropped for r in results)
    tracer = CoreTracer()
    with tracer:
        traced_extract = extract_mod.extract_document
        t0 = time.perf_counter()
        for p in payloads:
            traced_extract(p)
        traced_wall = time.perf_counter() - t0
    tracer.dump(os.path.join(ctx.out, "spans-%s.npz" % name))
    st = tracer.layer_stats()
    return {
        "core.extract.docs_per_s": n / wall,
        "core.extract.doc_p50_ms": 1e3 * percentile(times, 50),
        "core.extract.doc_p99_ms": 1e3 * percentile(times, 99),
        "core.extract.error_doc_frac": sum(1 for r in results if r.error) / n,
        "core.extract.page_keep_frac": kept / found if found else 1.0,
        "core.extract.self_s": st["core.extract"]["self_s"],
        "core.cos.open_self_s": st["core.cos.open"]["self_s"],
        "core.cos.pages_self_s": st["core.cos.pages"]["self_s"],
        "core.cos.page_content_self_s": st["core.cos.page_content"]["self_s"],
        "core.filters.decode_self_s": st["core.filters.decode"]["self_s"],
        "core.filters.decode_calls": st["core.filters.decode"]["calls"],
        "core.filters.decoded_bytes": tracer.counts["decoded_bytes"],
        "core.content.tokenize_self_s": st["core.content.tokenize"]["self_s"],
        "core.content.ops": tracer.counts["ops"],
        "core.interp.interpret_self_s": st["core.interp.interpret"]["self_s"],
        "core.fonts.get_glyph_self_s": st["core.fonts.get_glyph"]["self_s"],
        "core.fonts.get_glyph_calls": st["core.fonts.get_glyph"]["calls"],
        "core.fonts.fallbacks": sum(r.fallbacks for r in results),
        "core.assemble.self_s": st["core.assemble"]["self_s"],
        "core.htmltext.self_s": st["core.htmltext"]["self_s"],
        # summed layer self times over the traced loop's wall
        "core.trace.coverage":
            sum(st[k]["self_s"] for k in tracer.layer_id) / traced_wall,
        # untraced / traced core.extract.docs_per_s
        "core.trace.overhead": traced_wall / wall,
    }


# -----------------------------------------------------------------------------
# web_extract


def _listing(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def resumable_path(ctx: Ctx, spark, pages_path: str, extract_only: float):
    """``run_resumable`` into fresh results/metrics/checkpoint dirs, then a
    second call that must commit nothing.  Returns (layer metrics, whether
    the second call left every file as it was, results by url read back
    from the written table)."""
    from pypdfproc_spark.spark import pipeline as P

    paths = [os.path.join(ctx.work, "resumable", k)
             for k in ("results", "ckpt", "metrics")]

    def resume():
        t0 = time.perf_counter()
        P.run_resumable(spark, spark.read.parquet(pages_path), *paths[:2],
                        metrics_path=paths[2], n_buckets=64)
        return time.perf_counter() - t0

    wall = resume()
    before = [_listing(p) for p in paths]
    noop = resume()
    unchanged = before == [_listing(p) for p in paths]
    parts = {p: s for p, s in before[0].items()
             if os.path.basename(p).startswith("part-")}
    written = rows_by_url(page_digest_df(spark.read.parquet(paths[0])).collect())
    return ({
        "pipeline.write.files": len(parts),
        "pipeline.write.bytes": sum(parts.values()),
        "pipeline.extract_only_s": extract_only,
        "pipeline.write_share": (wall - extract_only) / wall,
        "pipeline.resume_noop_s": noop,
    }, unchanged, written)


def load_goldens() -> dict[str, tuple]:
    """fixture name -> (parser, md5 per expected page after ``utf8_safe``)."""
    from pypdfproc_spark.core.extract import utf8_safe

    gdir = os.path.join(I.REPO, "fixtures", "goldens")
    with open(os.path.join(gdir, "pdf_goldens.json")) as fh:
        pdf = json.load(fh)
    with open(os.path.join(gdir, "html_goldens.json")) as fh:
        html = json.load(fh)
    out = {n: ("pdf", tuple(md5_text(utf8_safe(p)) for p in pages))
           for n, pages in pdf.items()}
    out.update({n: ("html", (md5_text(utf8_safe(t)),)) for n, t in html.items()})
    return out


def web_extract(ctx: Ctx) -> Result:
    res = Result()
    t_setup = time.perf_counter()
    inp = ctx.cache.web_pages(ctx.seed, WEB_DOCS)
    ctx.stamp["input_digest"] = inp["input_digest"]
    pages_path = os.path.join(inp["path"], "pages")
    t_inputs = time.perf_counter()
    spark = start_session(ctx, inp["avg_payload"])
    t_session = time.perf_counter()
    try:
        # warm-up: starts the Python workers and JIT-compiles the plan
        for _ in range(WARMUP_PASSES):
            extraction_pass(spark, pages_path)
        setup = time.perf_counter() - t_setup
        ctx.stamp["setup_phases_s"] = {
            "inputs": t_inputs - t_setup, "session": t_session - t_inputs,
            "warm_up": t_setup + setup - t_session}
        # the timed window: passes until ctx.seconds elapsed, MIN_PASSES at least
        walls, outs = [], []
        t_end = time.perf_counter() + ctx.seconds
        while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
            wall, got, df = extraction_pass(spark, pages_path)
            walls.append(wall)
            outs.append(got)
        rss = S.peak_rss_mb(spark)
        if ctx.trace:
            plan = S.plan_metrics(df)
            write, unchanged, written = resumable_path(
                ctx, spark, pages_path, statistics.median(walls))
    finally:
        S.stop_spark(spark)
    ctx.stamp["pass_walls_s"] = [round(w, 4) for w in walls]

    urls, payloads = newest_payloads(inp)
    core = core_loop(payloads)
    expected = {u: (r.parser, error_class(r.error), page_md5s(r))
                for u, r in zip(urls, core[0])}
    goldens = load_goldens()
    with open(os.path.join(inp["path"], "names.json")) as fh:
        fixture_pages = {url: goldens[name] for url, name in json.load(fh).items()}
    for got in outs:
        res.compare(got, expected, "url")
        # the fixtures' pages are byte-compared against the goldens too
        res.compare({u: (got[u][0], got[u][2]) for u in fixture_pages if u in got},
                    fixture_pages, "golden fixture url")
    e2e = _e2e(len(urls), walls, setup, rss)
    layer = {}
    if ctx.trace:
        res.compare(written, expected, "run_resumable url")
        res.check(unchanged, "second run_resumable changed the written files")
        layer = core_metrics(ctx, "web_extract", payloads, core)
        layer.update(plan)
        layer["spark.pipeline.parallel_eff"] = e2e["docs_per_s"] / (
            ctx.cpus * layer["core.extract.docs_per_s"])
        layer.update(write)
        layer.update({m: 0 for m in query_metric_names()})
    return res.finish(ctx, e2e, layer)


# -----------------------------------------------------------------------------
# corpus_queries


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (int, bool, str)):
        return v
    return str(v)


def _norm_rows(cols, rows):
    """Column-name-ordered, order-insensitive rows with exact float reprs
    (the rule of tests/test_oracle_parity.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


def oracle_equal(got, con, sql: str) -> bool:
    """``got`` = (columns, rows) from Spark, or None when the query raised."""
    if got is None:
        return False
    cur = con.execute(sql)
    d_cols = [c[0] for c in cur.description]
    return _norm_rows(*got) == _norm_rows(d_cols, cur.fetchall())


def unique_docs(results: dict) -> dict:
    """In-process twin of the exact-dedup step over extraction output:
    url -> ExtractResult  ->  md5 -> (lowest url, n_pages, text) for every
    document with non-empty '\\n'-joined page text."""
    from pypdfproc_spark.core.extract import utf8_safe

    rep: dict = {}
    for url in sorted(results):
        pages = results[url].pages
        text = "\n".join(utf8_safe(p) for p in pages)
        if text:
            rep.setdefault(md5_text(text), (url, len(pages), text))
    return rep


def funnel_expected(uniq: dict) -> list:
    """pipeline.dedup_funnel_survivors rows: the length/whitespace gate over
    the unique documents."""
    from pypdfproc_spark.spark.pipeline import QUALITY_MIN_LEN, QUALITY_MIN_SPACES

    out = []
    for h, (url, n_pages, text) in uniq.items():
        spaces = len(text) - len(text.replace(" ", ""))
        if len(text) >= QUALITY_MIN_LEN and spaces >= QUALITY_MIN_SPACES:
            out.append((url, n_pages, len(text), h))
    return sorted(out)


def query_pass(steps: list) -> tuple[float, dict, dict, list]:
    """One pass over ``steps`` = [(metric, name, build)], each collected.
    Returns (wall, seconds per metric, name -> (columns, rows) or None when
    the step raised, the collected DataFrames)."""
    times, got, dfs = {}, {}, []
    t_pass = time.perf_counter()
    for metric, name, build in steps:
        t0 = time.perf_counter()
        try:
            sdf = build()
            rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            traceback.print_exc()
            got[name] = None
            continue
        times[metric] = time.perf_counter() - t0
        got[name] = (sdf.columns, rows)
        dfs.append(sdf)
    return time.perf_counter() - t_pass, times, got, dfs


def corpus_queries(ctx: Ctx) -> Result:
    import duckdb
    import pyarrow as pa
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from pypdfproc_spark.spark import pipeline as P
    from pypdfproc_spark.spark import similarity as SIM
    from pypdfproc_spark.spark import textops as T

    res = Result()
    queries, oracles = E.queries(), E.oracle_sql()
    q_metric = dict(zip(QUERY_NAMES, query_metric_names()))
    t_setup = time.perf_counter()
    tables = ctx.cache.corpus_tables(ctx.seed, *CORPUS_TABLES)
    web = ctx.cache.web_pages(ctx.seed, CORPUS_WEB_DOCS, n_files=4)
    ctx.stamp["input_digest"] = hashlib.sha256(
        (tables["input_digest"] + web["input_digest"]).encode()).hexdigest()
    sf_dir = tables["path"]
    pages_path = os.path.join(web["path"], "pages")
    t_inputs = time.perf_counter()
    spark = start_session(ctx, web["avg_payload"])
    t_session = time.perf_counter()
    plan = Counter({n: 0 for n in S.PLAN_METRICS})
    try:
        # this extraction also starts the Python workers
        extracted, _ = P.run_pipeline(spark.read.parquet(pages_path), n_buckets=64)
        extracted = extracted.persist()
        extracted.count()
        t_ivf = time.perf_counter()
        SIM.ivf_build_index(spark, sf_dir)
        ivf_build = time.perf_counter() - t_ivf

        uniq = (
            P.doc_texts(extracted).where(F.length("doc_text") > 0)
            .groupBy(F.md5(F.col("doc_text").cast("binary")).alias("doc_md5"))
            .agg(F.min("url").alias("doc_id"),
                 F.min_by("doc_text", "url").alias("text"))
            .select("doc_id", "text")
        )
        steps = [(q_metric[n], n, lambda n=n: queries[n](spark, sf_dir))
                 for n in QUERY_NAMES]
        steps += [
            ("pipeline.dedup_funnel_survivors_s", "funnel",
             lambda: P.dedup_funnel_survivors(extracted)),
            ("textops.near_dedup_s", "near_dedup",
             lambda: T.dedup_minhash_lsh(spark, "", docs=uniq)),
        ]
        setup = time.perf_counter() - t_setup
        ctx.stamp["setup_phases_s"] = {
            "inputs": t_inputs - t_setup, "session": t_session - t_inputs,
            "extraction": t_ivf - t_session, "ivf_build": ivf_build}
        # the timed window: one cold pass in this fresh session, the way a
        # one-shot job pays plan compilation every time
        wall, times, got, dfs = query_pass(steps)
        if ctx.trace:
            for sdf in dfs:
                plan.update(S.plan_metrics(sdf))
        rss = S.peak_rss_mb(spark)
        extracted.unpersist()
    finally:
        S.stop_spark(spark)

    ctx.stamp["query_s"] = {n: round(times[m], 3)
                            for m, n, _b in steps if m in times}

    # checks: the DuckDB twins of the 24 queries; an in-process twin for the
    # funnel, and the DuckDB MinHash twin over the same unique texts
    with duckdb.connect() as con:
        for t in tables["tables"]:
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                        % (t, sf_dir, t))
        for name in QUERY_NAMES:
            res.check(oracle_equal(got[name], con, oracles[name]),
                      "query %s vs its DuckDB oracle" % name)
    urls, payloads = newest_payloads(web)
    core = core_loop(payloads)
    uniq_docs = unique_docs(dict(zip(urls, core[0])))
    res.check(got["funnel"] is not None
              and sorted(got["funnel"][1]) == funnel_expected(uniq_docs),
              "dedup_funnel_survivors vs its in-process twin")
    with duckdb.connect() as con:
        con.register("documents", pa.table({
            "doc_id": [u for u, _n, _t in uniq_docs.values()],
            "text": [t for _u, _n, t in uniq_docs.values()],
        }))
        res.check(oracle_equal(got["near_dedup"], con, oracles["dedup_minhash_lsh"]),
                  "near-dedup over extraction vs the DuckDB MinHash twin")

    e2e = _e2e(CORPUS_TABLES[0], [wall], setup, rss)
    layer = {}
    if ctx.trace:
        layer = core_metrics(ctx, "corpus_queries", payloads, core)
        layer.update(plan)
        layer["spark.pipeline.parallel_eff"] = 0.0
        layer.update({m: 0 for m in PIPELINE_WRITE})
        layer.update({m: times.get(m, 0.0) for m in query_metric_names()})
        layer["similarity.ivf_build_s"] = ivf_build
    return res.finish(ctx, e2e, layer)


WORKLOADS = {
    "web_extract": web_extract,
    "corpus_queries": corpus_queries,
}
