"""Web-graph analytics beyond the KG pipeline: k-core peeling.

The k-core (maximal subgraph where every node has degree >= k) is a
classic crawl-curation signal next to PageRank (which
``kg.pagerank_quantized`` covers): link-farm and template cores are
dense (high k), genuine content sits in shallow cores.  Exact k-core
needs data-dependent convergence; this module fixes the ROUND COUNT so
the loop unrolls into plain joins and the DuckDB twin
(:func:`kcore_oracle_sql`) replays it CTE by CTE, bit-for-bit.
Peeling removes degree-<k nodes each round; once a round removes
nothing the iteration is a fixpoint, so for any graph whose peeling
converges within ``rounds`` the output IS the true k-core (pytest pins
a chain that needs the full budget).

Scale shape: the edge list is the only big table.  Per round: one
map-combinable degree aggregate + one edge semi-join against the
(<= |V|-row, already-aggregated) survivor table — 2 bounded shuffles
per round, no driver-side loops over data.  :func:`kcore_peel` takes
``broadcast_tables`` (default True: hint the <=|V|-row survivor table
broadcast; False: let Catalyst/AQE pick a shuffled join — required at
|V| ~ 10^8-10^9 where a forced broadcast OOMs) and ``checkpoint``
(injectable per-round lineage-cut strategy, see
:mod:`deduce_spark.spark.checkpointing`).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduce_spark.spark.checkpointing import CheckpointArg, make_checkpointer


def _side_hint(
    broadcast_tables: bool,
) -> Callable[[DataFrame], DataFrame]:
    """Join hint for the per-round <=|V|-row survivor table.

    ``True`` (default) forces ``F.broadcast`` — the right call up to
    |V| ~ 10^7 hosts, where the table is tens of MB and a shuffle of
    the full edge list per round would dominate.  ``False`` removes
    the hint so Catalyst/AQE choose (shuffled hash / sort-merge at
    runtime sizes): mandatory at web scale, |V| ~ 10^8-10^9, where a
    forced broadcast of a |V|-row table OOMs executors and AQE cannot
    override an explicit hint.  Same discipline as
    ``lmscore.score_documents(broadcast_model=False)``."""
    if broadcast_tables:
        return lambda df: F.broadcast(df)
    return lambda df: df


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_tables: bool = True,
    checkpoint: CheckpointArg = None,
) -> DataFrame:
    """(node, deg) of the graph left after ``rounds`` peels of
    degree-< ``k`` nodes, degrees measured on that final subgraph.

    The input digraph is symmetrized and simplified first (k-core is
    defined on the undirected simple graph; self-loops dropped).  Empty
    result = the k-core is empty (or everything peeled so far).

    ``broadcast_tables`` controls the join hint on the per-round
    survivor set (see :func:`_side_hint`); pass ``False`` at web scale
    so the two endpoint semi-joins shuffle instead of force-
    broadcasting a |V|-row table.

    Lineage is cut per round (the pagerank_quantized discipline,
    kg.py): each round references the previous graph three times
    (degree agg + both endpoint semi-joins), so without the cut the
    upstream subtree — often an expensive extract_links chain — would
    re-execute 3^rounds times.  ``checkpoint`` picks the cut strategy
    (default eager localCheckpoint; directory or callable for a real
    cluster)."""
    if k < 1 or rounds < 1:
        raise ValueError(f"bad kcore shape ({k=}, {rounds=})")
    cut = make_checkpointer(checkpoint)
    hint = _side_hint(broadcast_tables)
    fwd = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
    )
    g = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))) \
        .distinct()
    for _ in range(rounds):
        g = cut(g)
        deg = g.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        g = (
            g.join(hint(keep), "a")
            .join(
                hint(keep.select(F.col("a").alias("b"))), "b"
            )
            .select("a", "b")
        )
    return (
        g.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .orderBy("node")
    )


def kcore_oracle_sql(edges_sql: str, k: int = 2, rounds: int = 3) -> str:
    """DuckDB twin of :func:`kcore_peel`: ``edges_sql`` must yield
    (src, dst); returns (node, deg) ordered by node."""
    if k < 1 or rounds < 1:
        raise ValueError(f"bad kcore shape ({k=}, {rounds=})")
    ctes = [
        f"""fwd AS (SELECT src AS a, dst AS b FROM ({edges_sql})
             WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)""",
        "g0 AS (SELECT DISTINCT a, b FROM "
        "(SELECT a, b FROM fwd UNION ALL SELECT b, a FROM fwd))",
    ]
    # AS MATERIALIZED (DuckDB-only; oracles never run on Spark): each
    # round references the previous graph three times, so the default
    # CTE inlining re-plans it 3^rounds times — measured 0.06 s at
    # rounds=3 but 34 s at rounds=7 on a 6-edge graph without it
    for r in range(1, rounds + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED "
            f"(SELECT a, COUNT(*) AS deg FROM g{r - 1} GROUP BY 1)"
        )
        ctes.append(
            f"""g{r} AS MATERIALIZED (SELECT g.a, g.b FROM g{r - 1} g
                 JOIN d{r} da ON g.a = da.a AND da.deg >= {k}
                 JOIN d{r} db ON g.b = db.a AND db.deg >= {k})"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT a AS node, COUNT(*)::BIGINT AS deg
        FROM g{rounds} GROUP BY 1 ORDER BY 1
    """
    )
