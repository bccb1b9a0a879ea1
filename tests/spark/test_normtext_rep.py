"""normtext.normalize_text and its DuckDB twin."""

import duckdb
import pandas as pd
import pytest

from deduce_spark.spark.normtext import (
    normalize_text,
    normalize_text_oracle_sql,
)

# explicit escapes: pasted literals would hide composed-vs-decomposed
DOCS = [
    (1, "plain ascii stays"),                          # unchanged
    (2, "de\u0301composed cafe\u0301"),                # NFC composes
    (3, "\u201cquoted\u201d \u2014 and \u2019s"),      # typographic folds
    (4, "nbsp\u00a0here"),                             # nbsp -> space
    (5, "\ufb01ne ligature kept"),        # NFC keeps U+FB01 (honesty)
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_normalize_semantics(spark, docs_df):
    out = {
        r["doc_id"]: (r["norm_text"], r["changed"])
        for r in normalize_text(docs_df).collect()
    }
    assert out[1] == ("plain ascii stays", 0)
    assert out[2] == ("d\u00e9composed caf\u00e9", 1)
    assert out[3] == ('"quoted" - and \'s', 1)
    assert out[4] == ("nbsp here", 1)
    # NFC (not NFKC): the ligature survives, row unchanged
    assert out[5] == ("\ufb01ne ligature kept", 0)


def test_normalize_null_text_unchanged(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "ok")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["norm_text"], r["changed"])
        for r in normalize_text(docs).collect()
    }
    # NULL normalizes to NULL and is NOT flagged as changed (parity
    # with the SQL twin's NULL-comparison semantics)
    assert out == {1: (None, 0), 2: ("ok", 0)}
    con = duckdb.connect()
    con.register(
        "n_src", pd.DataFrame({"doc_id": [1, 2], "text": [None, "ok"]})
    )
    want = con.execute(
        normalize_text_oracle_sql("SELECT * FROM n_src")
        + " ORDER BY doc_id"
    ).df()
    assert list(want["changed"]) == [0, 0]


def test_normalize_oracle_parity(spark, docs_df):
    got = normalize_text(docs_df).orderBy("doc_id").toPandas()
    con = duckdb.connect()
    con.register("d_src", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    want = con.execute(
        normalize_text_oracle_sql("SELECT * FROM d_src")
        + " ORDER BY doc_id"
    ).df()
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert list(got[c]) == list(want[c]), c


CLUSTERS = [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 30)]
SCORES = [(1, 5), (2, 9), (3, 9), (4, 7), (5, 7), (6, 1)]
