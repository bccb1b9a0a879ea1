"""Self-check of the driver contract: every oracle-SQL query must match its
Spark twin at sf0.01 (row count, column names, sorted values) — a local
replica of the driver's CORRECTNESS gate."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_df, duck_df, name):
    a, b = normalize(spark_df), normalize(duck_df)
    assert list(a.columns) == list(b.columns), f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = [
                (math.isnan(x) and math.isnan(y)) or abs(float(x) - float(y)) <= 1e-9
                for x, y in zip(av.astype(float), bv.astype(float))
            ]
            assert all(ok), f"{name}: float drift in {c}"
        else:
            mism = (av.astype(str) != bv.astype(str))
            assert not mism.any(), (
                f"{name}: value mismatch in {c}: "
                f"{a[mism].head(3).to_dict()} vs {b[mism].head(3).to_dict()}"
            )


ORACLED = sorted(entry_mod.oracle_sql())
DEMOTED = sorted(entry_mod.demoted_oracle_sql())


def test_driver_window_contract():
    """The driver scores at most 50 queries — queries() must be EXACTLY 50
    (every entry scored, none invisible) and every one oracled; the
    unscored queries live in demoted_queries(), all oracled, disjoint
    from scored, and cover every HEADLINE name the benches time."""
    import bench
    import bench_extra

    q, d = entry_mod.queries(), entry_mod.demoted_queries()
    assert len(q) == 50, f"queries() must stay exactly 50, got {len(q)}"
    assert list(q) == list(entry_mod.oracle_sql())
    assert list(d) == list(entry_mod.demoted_oracle_sql())
    assert set(d) == {"tpch_q1", "tpch_q3ish", "embed_topk",
                      "doc_scan_filter"}
    assert not set(q) & set(d)
    for headline in (bench.HEADLINE, bench_extra.HEADLINE):
        assert set(headline) <= set(q) | set(d)


@pytest.mark.parametrize("name", ORACLED)
def test_oracled_query(spark, duck, name):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(entry_mod.oracle_sql()[name]).df()
    compare(spark_pdf, duck_pdf, name)


@pytest.mark.parametrize("name", DEMOTED)
def test_demoted_query(spark, duck, name):
    """Unscored queries get the same rows+schema+values gate the driver
    applies to scored queries."""
    q = entry_mod.demoted_queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(entry_mod.demoted_oracle_sql()[name]).df()
    compare(spark_pdf, duck_pdf, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 4
    preds = {r["pred"] for r in rows}
    assert "mentions" in preds and "hasType" in preds


def test_golden_oracle_paths_parameterized_by_sf():
    """oracle_sql(sf) must point golden-fixture oracles at that sf's
    committed fixtures (ADVICE r2: hard-coded sf0.01 paths made the gate
    wrong at other tiers)."""
    import re
    from pathlib import Path

    import __spark_entry__ as entry_mod

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        oracles = {
            **entry_mod.oracle_sql(sf),
            **entry_mod.demoted_oracle_sql(sf),
        }
        golden = {
            name: sql
            for name, sql in oracles.items()
            if "parquet_scan" in sql
        }
        # the 17 scored golden-fixture oracles (no unscored query has one)
        assert len(golden) == 17
        for name, sql in golden.items():
            m = re.search(r"parquet_scan\(\s*'([^']+)'", sql)
            assert m, name
            path = Path(m.group(1))
            assert f"/golden/{sf}/" in str(path), (name, sf, path)
            assert path.exists(), f"missing committed fixture {path}"
    # driver default (no argument) is the sf0.01 tier it compares at
    assert "/golden/sf0.01/" in entry_mod.oracle_sql()["kg_pagerank"]


def test_golden_oracle_paths_follow_the_checkout(monkeypatch, tmp_path):
    """Golden-fixture oracles read the fixtures of the checkout that
    holds __spark_entry__.py, not of some fixed directory: a copy of the
    repo elsewhere checks against its own goldens."""
    import re

    monkeypatch.setattr(entry_mod, "_REPO", tmp_path)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        paths = [
            m.group(1)
            for sql in entry_mod.oracle_sql(sf).values()
            for m in re.finditer(r"parquet_scan\(\s*'([^']+)'", sql)
        ]
        assert len(paths) == 17
        for path in paths:
            assert path.startswith(f"{tmp_path}/data/golden/{sf}/"), path


def test_mv_fingerprint_fresh_all_tiers(spark):
    """A kernel/fixture/stage/kg edit rotates _mentions_fingerprint(), and
    the MVs under data/mv/<sf>-<fingerprint>/ (gitignored, built on
    demand) must follow it.  Warming every tier with the loop
    ``python -m jobs.warm_mv`` runs has the real builders write all five
    tables under the current fingerprint at each tier."""
    from pathlib import Path

    fp = entry_mod._mentions_fingerprint()
    root = Path(entry_mod.__file__).resolve().parent / "data" / "mv"
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for table in entry_mod._MV_TABLES:
            entry_mod._mv(spark, str(Path(SF_DIR).with_name(sf)), table)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        base = root / f"{sf}-{fp}"
        for table in (
            "mentions.parquet", "surface_map.parquet", "nodes.parquet",
            "triples.parquet", "cooc_edges.parquet",
        ):
            assert (base / table / "_SUCCESS").exists(), (
                f"stale MV: {base / table} missing for current fingerprint "
                f"{fp} — rebuild the MVs (run the kg_* queries at {sf} or "
                f"python -m jobs.warm_mv) before the driver benches"
            )


def test_mv_helper_builds_once_rebuilds_partial_and_caches_per_table(
    spark, tmp_path, monkeypatch
):
    """_mv's contract, engine-free: the MV root points at tmp_path and every
    builder is swapped for a spark.range table (partitions and cache flags
    stay the real ones).  A second call neither rebuilds nor re-reads; a
    directory without _SUCCESS is rebuilt; surface_map and nodes come from
    one build; only surface_map, nodes and cooc_edges are .cache()d."""
    builds = []

    def fake(*tables):
        def build(spark_, sf_dir):
            builds.append(tables)
            return {t: spark_.range(40).withColumnRenamed("id", t)
                    for t in tables}
        return build

    canon = fake("surface_map", "nodes")
    builders = {"mentions": fake("mentions"), "surface_map": canon,
                "nodes": canon, "triples": fake("triples"),
                "cooc_edges": fake("cooc_edges")}
    monkeypatch.setattr(entry_mod, "_MV_ROOT", tmp_path)
    monkeypatch.setattr(entry_mod, "_MV_MEMO", {})
    monkeypatch.setattr(entry_mod, "_MV_TABLES", {
        t: (builders[t], parts, cache)
        for t, (_, parts, cache) in entry_mod._MV_TABLES.items()
    })
    sf_dir = "/data/sf0.001"
    base = tmp_path / f"sf0.001-{entry_mod._mentions_fingerprint()}"

    dfs = {t: entry_mod._mv(spark, sf_dir, t) for t in builders}
    assert builds == [("mentions",), ("surface_map", "nodes"), ("triples",),
                      ("cooc_edges",)]
    assert {t for t, df in dfs.items() if df.is_cached} == {
        "surface_map", "nodes", "cooc_edges"}
    parts = {t: len(list((base / f"{t}.parquet").glob("part-*")))
             for t in builders}
    assert parts == {"mentions": 8, "surface_map": 4, "nodes": 4,
                     "triples": 8, "cooc_edges": 4}
    for t, df in dfs.items():
        assert df.columns == [t] and df.count() == 40
        assert entry_mod._mv(spark, sf_dir, t) is df
    assert len(builds) == 4

    # a new session's memo is empty: the committed MVs are read, not rebuilt
    monkeypatch.setattr(entry_mod, "_MV_MEMO", {})
    entry_mod._mv(spark, sf_dir, "triples")
    assert len(builds) == 4

    # a partial directory (no _SUCCESS) is rebuilt, the complete sibling of
    # the same build is kept as is
    (base / "nodes.parquet" / "_SUCCESS").unlink()
    kept = sorted(p.name for p in (base / "surface_map.parquet").iterdir())
    rebuilt = entry_mod._mv(spark, sf_dir, "nodes")
    assert rebuilt.count() == 40 and rebuilt.is_cached
    assert builds[4:] == [("surface_map", "nodes")]
    assert (base / "nodes.parquet" / "_SUCCESS").exists()
    assert sorted(
        p.name for p in (base / "surface_map.parquet").iterdir()
    ) == kept
    for df in [*dfs.values(), rebuilt]:
        df.unpersist()
