"""Property-based tests for the round-5 integer kernels.

No Spark session: the Q10 log2 / CMS / funnel forms are exercised
through their DuckDB twins (the same SQL strings the oracles use), so
these properties ALSO pin the oracle side of the cross-engine contract.
"""

import math

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from deduce_spark.spark.lmscore import _plog2_duck
from deduce_spark.spark.sketches import (
    cms_oracle_sql, cms_query_oracle_sql,
)
from deduce_spark.spark.relational import funnel_oracle_sql


@given(st.lists(st.integers(min_value=1, max_value=2**50), min_size=2,
                max_size=30))
@settings(max_examples=40, deadline=None)
def test_plog2_monotone_and_close_to_log2(xs):
    """Q10 fixed-point log2: strictly monotone in x (ties only for equal
    x) and within 0.09 bits of the real log2 — the bound the LM-score
    docstring claims."""
    duck = duckdb.connect()
    duck.register("t", pd.DataFrame({"x": sorted(xs)}))
    got = [
        r[0]
        for r in duck.sql(
            f"SELECT {_plog2_duck('x')} FROM t ORDER BY x"
        ).fetchall()
    ]
    for (a, b), (pa, pb) in zip(
        zip(sorted(xs), sorted(xs)[1:]), zip(got, got[1:])
    ):
        assert pa <= pb
        if a == b:
            assert pa == pb
    for x, p in zip(sorted(xs), got):
        assert abs(p / 1024 - math.log2(x)) <= 0.09


@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                max_size=300))
@settings(max_examples=30, deadline=None)
def test_cms_twin_overcounts_only(keys):
    """est >= exact count for every probed value, through the DuckDB
    twins alone (width forced small so collisions actually occur)."""
    duck = duckdb.connect()
    vals = [f"k{k}" for k in keys]
    duck.register("t", pd.DataFrame({"w": vals}))
    grid = cms_oracle_sql("SELECT * FROM t", "w", width=8, depth=3)
    est = dict(
        duck.sql(
            cms_query_oracle_sql(grid, "SELECT * FROM t", "w", 8, 3)
        ).fetchall()
    )
    true = pd.Series(vals).value_counts()
    for k, c in true.items():
        assert est[k] >= c


@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=8),
              st.sampled_from(["a", "b", "c"]),
              st.integers(min_value=0, max_value=1000)),
    min_size=1, max_size=120))
@settings(max_examples=30, deadline=None)
def test_funnel_counts_never_increase(events):
    """Down-funnel user counts are non-increasing for ANY event log
    (each step's reachers are a subset of the previous step's)."""
    duck = duckdb.connect()
    pdf = pd.DataFrame(events, columns=["user_id", "event_type", "off"])
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        pdf.pop("off"), unit="s"
    )
    duck.register("events", pdf)
    rows = duck.sql(funnel_oracle_sql(["a", "b", "c"])).fetchall()
    users = [r[2] for r in sorted(rows)]
    assert all(x >= y for x, y in zip(users, users[1:]))


def _rand_edges(draw_pairs):
    return [(f"n{a}", f"n{b}") for a, b in draw_pairs]


@given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)),
                min_size=1, max_size=40))
@settings(max_examples=15, deadline=None)
def test_kcore_twin_matches_reference_peel(pairs):
    """kcore SQL twin with rounds=|V| equals an independent pure-Python
    peel-to-convergence (true k-core) on arbitrary digraphs."""
    from deduce_spark.spark.webgraph import kcore_oracle_sql

    edges = _rand_edges(pairs)
    # reference: symmetrize/simplify then peel to fixpoint
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    k = 2
    changed = True
    while changed:
        drop = {v for v, ns in adj.items() if len(ns) < k}
        changed = bool(drop)
        for v in drop:
            adj.pop(v)
        for v in adj:
            adj[v] -= drop
    want = sorted((v, len(ns)) for v, ns in adj.items())

    duck = duckdb.connect()
    duck.sql("SET threads TO 1")
    duck.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
    rounds = max(len({x for p in edges for x in p}), 1)
    got = sorted(
        duck.sql(
            kcore_oracle_sql("SELECT src, dst FROM e", k=k, rounds=rounds)
        ).fetchall()
    )
    assert got == [(v, int(d)) for v, d in want]
