"""Output checks.  Each ``check_*`` function takes plain Python / pandas
values read back from the committed tables and returns a list of problems
(empty = correct), so the checks run and are tested without Spark.

The expected values come from ``deduce_spark.golden``'s sequential
replicas (``canonicalize_seq``, ``triples_seq``), computed in set-up on the
same generated mentions the job reads.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

PREDS = ("mentions", "hasType", "hasSurfaceForm", "publishedAt", "coOccursWith")
VERDICTS = {"keep", "too_short", "too_long", "repetitive", "dominated",
            "duplicate", "contaminated", "off_model"}


def kg_oracle(mentions: pd.DataFrame) -> dict:
    """Expected surface map, node rows and per-predicate edge counts of a
    full stage-B build over ``mentions``."""
    from deduce_spark.golden import canonicalize_seq, triples_seq

    surface_map, nodes = canonicalize_seq(mentions)
    fam = triples_seq(mentions, surface_map)
    return {
        "surface_map": surface_map,
        "nodes": {(int(e), t, f, int(n)) for e, t, f, n in nodes},
        "edges": {p: int(fam[p]) for p in PREDS},
    }


def _diff_counts(got: dict, want: dict, what: str) -> list[str]:
    return [
        f"{what} {p}: got {got.get(p, 0)}, want {want[p]}"
        for p in PREDS if got.get(p, 0) != want[p]
    ]


def check_build(nodes: set, edges: dict, oracle: dict) -> list[str]:
    """``nodes``: {(entity_id, type, canonical_form, n_mentions)};
    ``edges``: {pred: rows}."""
    problems = []
    want = oracle["nodes"]
    if nodes != want:
        problems.append(
            f"nodes: {len(nodes - want)} unexpected, {len(want - nodes)} missing "
            f"of {len(want)}"
        )
    return problems + _diff_counts(edges, oracle["edges"], "edges")


def check_fold(
    surface_map: pd.DataFrame,
    edges: dict,
    base: dict,
    batch: pd.DataFrame,
) -> list[str]:
    """One incremental fold of ``batch`` into the graph ``base`` described.

    ``surface_map`` is the committed map after the fold (surface, type,
    surface_id, entity_id, n_mentions); ``edges`` the per-predicate row
    counts of the whole edge table after the fold.  Every base surface
    must keep its entity id and gain exactly its batch mentions; the
    appended edges must equal ``triples_seq`` over the batch with the
    updated map."""
    from deduce_spark.golden import _node_type, _normalize_surface, triples_seq

    problems = []
    rows = list(zip(surface_map["surface"], surface_map["type"],
                    surface_map["surface_id"].astype("int64"),
                    surface_map["entity_id"].astype("int64"),
                    surface_map["n_mentions"].astype("int64")))
    by_key = {(s, t): (int(e), int(n)) for s, t, _sid, e, n in rows}
    if len(by_key) != len(rows):
        problems.append(f"surface_map: {len(rows) - len(by_key)} duplicate keys")
    added = Counter(
        (_normalize_surface(t), _node_type(g))
        for t, g in zip(batch["text"], batch["tag"])
    )
    moved = grew_wrong = 0
    for s, t, _sid, eid, n in base["surface_map"]:
        got = by_key.get((s, t))
        if got is None or got[0] != eid:
            moved += 1
        elif got[1] != n + added.get((s, t), 0):
            grew_wrong += 1
    if moved:
        problems.append(f"surface_map: {moved} base surfaces changed entity id")
    if grew_wrong:
        problems.append(f"surface_map: {grew_wrong} base surfaces miscounted")
    missing = [k for k in added if k not in by_key]
    if missing:
        problems.append(f"surface_map: {len(missing)} batch surfaces missing")
        return problems
    fam = triples_seq(batch, rows)
    appended = {p: edges.get(p, 0) - base["edges"][p] for p in PREDS}
    return problems + _diff_counts(
        appended, {p: int(fam[p]) for p in PREDS}, "appended edges"
    )


def check_curate(
    verdicts: pd.DataFrame,
    expected_ids: set,
    fingerprints: dict,
    reference: dict | None,
) -> list[str]:
    """``verdicts``: (doc_id, verdict) rows of the committed verdicts
    table.  They must partition the input: one row per input document,
    each with a known verdict.  ``fingerprints`` ({table: fingerprint} of
    the kept and packs tables) must equal ``reference`` — the values
    pinned for the seed."""
    problems = []
    ids = verdicts["doc_id"].astype("int64")
    if len(ids) != len(expected_ids) or set(ids) != expected_ids:
        problems.append(
            f"verdicts: {len(ids)} rows / {ids.nunique()} ids for "
            f"{len(expected_ids)} input pages"
        )
    unknown = set(verdicts["verdict"]) - VERDICTS
    if unknown:
        problems.append(f"verdicts: unknown values {sorted(unknown)}")
    if reference is not None:
        for table, fp in reference.items():
            if fingerprints.get(table) != fp:
                problems.append(
                    f"{table}: fingerprint {fingerprints.get(table)} != pinned {fp}"
                )
    return problems
