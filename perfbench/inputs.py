"""Seeded input generators for the benchmark workloads, with an on-disk cache.

Every input is a pure function of (workload, seed, size) and of the
generator sources: the cache key carries a digest of this file and of the
repo's fixture generators, so editing ``fixtures/pagesgen.py`` (or any
other generator) can never serve a stale input.  Each entry records the
digest of the rows it holds (``input_digest``): the same seed gives the
same digest, another seed a different one.

Inputs:

- ``corpus_tables``: ``documents``, ``embeddings``, ``events`` and
  ``customer`` parquet tables shaped like the repo's synthetic sf tables
  (30-word vocabulary, 10-100 words per document, ~5% "dup"-tagged
  documents of which a few are exact copies, 64-dim unit embeddings in 10
  weak clusters, a 30-day event stream), written in a seeded row order.
- ``web_pages``: the pages table of ``fixtures.pagesgen`` built over
  generated documents at a seeded doc-id offset (≈50/50 HTML and one-page
  Helvetica Flate PDFs, ~1% stale duplicate captures, ~0.2% 50-page giants),
  plus one copy of each ``fixtures/pdfgen`` and ``fixtures/htmlgen``
  fixture under a seeded url, with the url -> fixture name map the golden
  check needs.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EMB_DIM = 64
N_LABELS = 10
_EPOCH = datetime.datetime(2024, 1, 1)

_GENERATOR_SOURCES = (
    os.path.join(HERE, "inputs.py"),
    os.path.join(REPO, "fixtures", "pagesgen.py"),
    os.path.join(REPO, "fixtures", "pdfgen.py"),
    os.path.join(REPO, "fixtures", "htmlgen.py"),
)
# cache entries kept on disk; older ones are pruned
_KEEP_ENTRIES = 6


def source_digest() -> str:
    h = hashlib.sha256()
    for p in _GENERATOR_SOURCES:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class _RowDigest:
    """Order-sensitive digest over generated rows."""

    def __init__(self):
        self._h = hashlib.sha256()

    def add(self, *cells) -> None:
        for c in cells:
            if isinstance(c, bytes):
                self._h.update(b"b%d:" % len(c))
                self._h.update(c)
            else:
                s = repr(c).encode("utf-8", "surrogatepass")
                self._h.update(b"s%d:" % len(s))
                self._h.update(s)

    def hexdigest(self) -> str:
        return self._h.hexdigest()


# -----------------------------------------------------------------------------
# row generators


def documents(seed: int, n: int, id_offset: int = 0) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) rows; doc ids count up from
    ``id_offset``."""
    rng = random.Random("documents:%d" % seed)
    rows = []
    dup_texts: list[str] = []
    for i in range(n):
        doc_id = id_offset + i
        if rng.random() < 0.05:
            if dup_texts and rng.random() < 0.04:
                text = rng.choice(dup_texts)
            else:
                words = [rng.choice(VOCAB) for _ in range(rng.randint(9, 99))]
                text = " ".join(words) + " dup"
            dup_texts.append(text)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        rows.append((doc_id, text, rng.choice(LANGS), "src%d" % (i % 20), len(text)))
    return rows


def embeddings(seed: int, n: int) -> list[tuple]:
    """(vec_id, embedding[64] unit float32, label) rows."""
    import numpy as np

    rng = np.random.default_rng([seed, 1])
    cents = rng.normal(size=(N_LABELS, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n)
    v = rng.normal(size=(n, EMB_DIM)) + 0.6 * cents[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return [(i, v[i].tolist(), int(labels[i])) for i in range(n)]


def events(seed: int, n: int) -> list[tuple]:
    """(event_id, ts, user_id, event_type, value, props) rows, ts ascending
    over 30 days."""
    rng = random.Random("events:%d" % seed)
    n_users = max(50, n // 67)
    span_us = 30 * 86400 * 10**6
    offs = sorted(rng.randrange(span_us) for _ in range(n))
    return [
        (
            i,
            _EPOCH + datetime.timedelta(microseconds=offs[i]),
            rng.randrange(n_users),
            rng.choice(EVENT_TYPES),
            round(rng.expovariate(1 / 50.0), 2),
            '{"k": %d}' % rng.randrange(100),
        )
        for i in range(n)
    ]


def customers(seed: int, n: int) -> list[tuple]:
    """(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment) rows."""
    rng = random.Random("customer:%d" % seed)
    return [
        (i, "Customer#%09d" % i, rng.randrange(25),
         round(rng.uniform(-999.99, 9999.99), 2), rng.choice(SEGMENTS))
        for i in range(n)
    ]


def _shuffled(rows: list, seed: int, salt: str) -> list:
    rows = list(rows)
    random.Random("%s:%d" % (salt, seed)).shuffle(rows)
    return rows


# -----------------------------------------------------------------------------
# parquet writers


def _fields(table: str) -> list[tuple]:
    import pyarrow as pa

    return {
        "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())],
        "embeddings": [("vec_id", pa.int64()),
                       ("embedding", pa.list_(pa.float32())),
                       ("label", pa.int32())],
        "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())],
        "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                     ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                     ("c_mktsegment", pa.string())],
        "pages": [("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                  ("html", pa.binary()), ("text", pa.string()),
                  ("lang", pa.string())],
    }[table]


def _write(path: str, table: str, rows: list[tuple], **kwargs) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(
        pa.table({name: pa.array(col, typ)
                  for (name, typ), col in zip(_fields(table), cols)}),
        path, **kwargs)


def _write_pages(path: str, rows: list[tuple], n_files: int) -> None:
    """pages(url, warc_ts, html, text, lang) sharded into ``n_files`` files
    with small row groups, like ``fixtures.pagesgen.build_pages_parquet``."""
    os.makedirs(path, exist_ok=True)
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(0, len(rows), chunk):
        _write(os.path.join(path, "part-%04d.parquet" % (i // chunk)), "pages",
               rows[i:i + chunk], row_group_size=4096)


# -----------------------------------------------------------------------------
# cached inputs


class InputCache:
    """Generated inputs under ``root``, one directory per
    (kind, seed, size, generator-source digest)."""

    def __init__(self, root: str):
        self.root = root
        self.src = source_digest()

    def _entry(self, kind: str, seed: int, size: str, build) -> dict:
        key = "%s-%s-s%d-%s" % (kind, size, seed, self.src)
        path = os.path.join(self.root, key)
        meta_path = os.path.join(path, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
        else:
            shutil.rmtree(path, ignore_errors=True)
            tmp = path + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            meta = build(tmp)
            meta.update(kind=kind, seed=seed, size=size, source_digest=self.src)
            with open(os.path.join(tmp, "meta.json"), "w") as fh:
                json.dump(meta, fh)
            os.rename(tmp, path)
            self._prune(keep=path)
        os.utime(path)
        meta["path"] = path
        return meta

    def _prune(self, keep: str) -> None:
        entries = [
            os.path.join(self.root, e) for e in os.listdir(self.root)
            if not e.endswith(".tmp")
        ]
        entries.sort(key=os.path.getmtime, reverse=True)
        for e in entries[_KEEP_ENTRIES:]:
            if e != keep:
                shutil.rmtree(e, ignore_errors=True)

    def corpus_tables(self, seed: int, n_docs: int, n_emb: int,
                      n_events: int, n_customers: int) -> dict:
        tables = {
            "documents": (documents, n_docs),
            "embeddings": (embeddings, n_emb),
            "events": (events, n_events),
            "customer": (customers, n_customers),
        }

        def build(path):
            dig = _RowDigest()
            for name, (gen, n) in tables.items():
                rows = _shuffled(gen(seed, n), seed, name)
                for r in rows:
                    dig.add(*r)
                _write(os.path.join(path, name + ".parquet"), name, rows)
            return {"input_digest": dig.hexdigest(), "tables": sorted(tables)}

        size = "%d_%d_%d_%d" % (n_docs, n_emb, n_events, n_customers)
        return self._entry("corpus", seed, size, build)

    def web_pages(self, seed: int, n_docs: int, n_files: int = 8) -> dict:
        """The pagesgen table over ``n_docs`` generated documents, plus one
        copy of every pdfgen/htmlgen fixture under a seeded url (listed in
        ``names.json``, url -> fixture name, for the golden check)."""
        def build(path):
            from fixtures.htmlgen import build_all as build_html
            from fixtures.pagesgen import page_rows
            from fixtures.pdfgen import build_all as build_pdf

            rng = random.Random("web:%d" % seed)
            rows = []
            for doc_id, text, lang, _src, _n in documents(
                    seed, n_docs, rng.randrange(1, 1 << 40)):
                rows.extend(page_rows(doc_id, text, lang))
            fixtures = dict(build_pdf())
            fixtures.update(build_html())
            names = {}
            ts = _EPOCH + datetime.timedelta(seconds=rng.randrange(10**7))
            for name in sorted(fixtures):
                url = "https://fixture.test/%016x/%s" % (rng.getrandbits(64), name)
                names[url] = name
                rows.append((url, ts, fixtures[name], "", "en"))
            rows = _shuffled(rows, seed, "pages")
            dig = _RowDigest()
            for r in rows:
                dig.add(*r)
            _write_pages(os.path.join(path, "pages"), rows, n_files)
            with open(os.path.join(path, "names.json"), "w") as fh:
                json.dump(names, fh)
            return {"input_digest": dig.hexdigest(), "rows": len(rows),
                    "avg_payload": sum(len(r[2]) for r in rows) // len(rows)}

        return self._entry("web", seed, str(n_docs), build)


def read_pages(path: str) -> list[tuple]:
    """(url, warc_ts, html) rows of a generated pages table."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, "pages"),
                      columns=["url", "warc_ts", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("warc_ts").to_pylist(),
                    t.column("html").to_pylist()))


def latest_payloads(rows: list[tuple]) -> dict[str, bytes]:
    """url -> payload of the newest capture (the pipeline's snapshot rule;
    generated captures of one url never share a timestamp)."""
    best: dict[str, tuple] = {}
    for url, ts, payload in rows:
        cur = best.get(url)
        if cur is None or ts > cur[0]:
            best[url] = (ts, payload)
    return {u: p for u, (_ts, p) in best.items()}
