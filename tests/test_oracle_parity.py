"""Driver-mimicking oracle check: every queries() entry with an oracle must
match DuckDB exactly (row count + order-insensitive values) at sf0.01."""

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def spark():
    from pypdfproc_spark.spark.session import build_session

    s = build_session(app="oracle-tests", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            "CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, SF_DIR, t)
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # EXACT repr: the driver value-hashes results, so any ulp
        # divergence between Spark and DuckDB must fail here first
        return repr(v)
    if isinstance(v, (int, bool, str)):
        return v
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# engine-type canonicalization: the driver's value hash is type-sensitive
# across SOME type boundaries (proven in round 1: DuckDB HUGEINT from a bare
# SUM vs Spark BIGINT hash-mismatched despite equal values).  Integer widths
# hash alike (simhash16 is Spark BIGINT vs DuckDB INTEGER and matched), so
# all plain ints canonicalize together; HUGEINT and FLOAT32 are the
# poisonous ones and must never appear on either side.
_CANON = {
    "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
    "bigint": "int", "ubigint": "int", "uinteger": "int",
    "double": "float64", "float": "float32", "real": "float32",
    "string": "str", "varchar": "str",
    "boolean": "bool",
    "timestamp": "ts", "timestamp_ntz": "ts",
    "date": "date", "binary": "binary", "blob": "binary",
    "hugeint": "POISON-hugeint",
}


def _canon(t: str) -> str:
    t = t.lower()
    return _CANON.get(t, t)


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, ddb):
    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_types = {c: _canon(t) for c, t in sdf.dtypes}
    s_rows = [tuple(r) for r in sdf.collect()]

    d_types = {
        r[0]: _canon(r[1])
        for r in ddb.execute("DESCRIBE " + ORACLES[name]).fetchall()
    }
    assert s_types == d_types, (
        "engine result types diverge (driver hash is type-sensitive): "
        "spark=%s duckdb=%s" % (s_types, d_types)
    )

    cur = ddb.execute(ORACLES[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()

    sc, sr = _norm_rows(s_cols, s_rows)
    dc, dr = _norm_rows(d_cols, d_rows)
    assert sc == dc, "column sets differ: %s vs %s" % (sc, dc)
    assert len(sr) == len(dr), "row counts differ: %d vs %d" % (len(sr), len(dr))
    mismatches = [
        (a, b) for a, b in zip(sr, dr) if a != b
    ]
    assert not mismatches, "first mismatches: %s" % mismatches[:5]


def _tie_text(n_tokens: int, n_stop: int, token_chars: int) -> str:
    """A document of ``n_tokens`` tokens, ``n_stop`` of them the stopword
    'the', whose tokens total ``token_chars`` characters (fillers are runs
    of 'q', never a stopword)."""
    rest, fill = token_chars - 3 * n_stop, n_tokens - n_stop
    sizes = [rest // fill + (i < rest % fill) for i in range(fill)]
    return " ".join(["the"] * n_stop + ["q" * k for k in sizes])


def test_quality_score_ties_match_oracle(spark, tmp_path):
    """Rows whose exact score or stopword ratio sits half-way between two
    4-decimal values: F.round (half-up on the double's decimal string)
    and DuckDB's round() (on the scaled double) used to disagree on such
    rows (0.3138 vs 0.3137); both engines now round the same double with
    the same IEEE operations."""
    from fractions import Fraction

    import pandas as pd

    shapes = [(10, 2, 41), (30, 1, 147), (60, 2, 270), (160, 1, 640)]
    ties = 0
    for n, s, chars in shapes:
        score = (Fraction(2, 5) * min(1, Fraction(n, 100))
                 + Fraction(3, 10) * Fraction(s, n)
                 + Fraction(3, 10) * min(1, Fraction(chars, 8 * n)))
        ties += (score * 10000).denominator == 2
        ties += (Fraction(s, n) * 10000).denominator == 2
    assert ties >= len(shapes)  # the rows do land on ties

    d = tmp_path / "tie_docs"
    d.mkdir()
    pd.DataFrame({
        "doc_id": list(range(len(shapes))),
        "text": [_tie_text(*shape) for shape in shapes],
    }).to_parquet(d / "documents.parquet")
    sdf = QUERIES["quality_score"](spark, str(d))
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM '%s'"
                    % (d / "documents.parquet"))
        cur = con.execute(ORACLES["quality_score"])
        want = _norm_rows([c[0] for c in cur.description], cur.fetchall())
    finally:
        con.close()
    assert len(got) == len(shapes)
    assert _norm_rows(sdf.columns, got) == want
