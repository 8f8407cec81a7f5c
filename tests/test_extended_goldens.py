"""Extended filter mode end-to-end gate (VERDICT r04 item 4).

The opt-in superset path (LZW / ASCIIHex / ASCII85 / RunLength, chains,
abbreviations, TIFF/PNG predictors) previously had unit tests only — a
regression there was invisible to the parity gates.  This pins it with
e01+ fixtures and OWN-output frozen goldens
(fixtures/goldens/extended_goldens.json, frozen by
fixtures/freeze_goldens.py), plus the structural claim that STRICT mode
drops every one of them (reference parity: its decoder raises on every
filter but FlateDecode — f57/f58).
"""

import json
import os

import pytest

from fixtures.extgen import EXT_FIXTURES, build_all
from pypdfproc_spark.core.extract import extract_document

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS = json.load(
    open(os.path.join(REPO, "fixtures", "goldens", "extended_goldens.json"))
)
PDFS = build_all()


def test_all_extended_fixtures_have_goldens():
    assert set(PDFS) == set(GOLDENS)


@pytest.mark.parametrize("name", sorted(EXT_FIXTURES))
def test_extended_mode_matches_golden(name):
    r = extract_document(PDFS[name], extended=True)
    assert r.pages == GOLDENS[name], name
    assert r.pages, "extended fixtures must extract text"


@pytest.mark.parametrize("name", sorted(EXT_FIXTURES))
def test_strict_mode_drops(name):
    """Strict (reference-parity) mode must page-drop every e-fixture with
    a decode failure — never silently mis-decode."""
    r = extract_document(PDFS[name])
    assert r.pages == []
    assert r.decode_failures >= 1


@pytest.fixture(scope="module")
def spark():
    from pypdfproc_spark.spark.session import build_session

    s = build_session(app="extended-goldens", master="local[4]",
                     shuffle_partitions=8)
    yield s
    s.stop()


def test_pipeline_extended_udf(spark):
    """Drive the Arrow UDF in extended mode end-to-end: the same pages rows run
    through pipeline.extract twice — strict drops them (decode_failures),
    extended extracts the golden text — and a strict batch AFTER an
    extended batch still drops: the filter mode is an argument of each
    batch's extract_document call, so nothing a reused Python worker ran
    before can change it (pinned here against regression)."""
    import datetime

    from pypdfproc_spark.spark import pipeline as P

    rows = [
        ("http://ext.test/%s" % name, datetime.datetime(2025, 1, 1),
         bytearray(data), None, None)
        for name, data in sorted(PDFS.items())
    ]
    pages = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    routed = P.route(P.with_bucket(pages, n_buckets=4))

    ext = P.extract(routed, extended_filters=True)
    got = {
        r["url"].rsplit("/", 1)[1]: list(r["doc"]["pages"])
        for r in ext.select("url", "doc").collect()
    }
    assert got == {name: GOLDENS[name] for name in PDFS}

    strict = P.extract(routed)
    for r in strict.select("url", "doc").collect():
        assert list(r["doc"]["pages"]) == []
        assert r["doc"]["decode_failures"] >= 1
