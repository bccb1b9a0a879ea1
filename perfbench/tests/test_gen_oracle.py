"""Generator determinism and output checks that fail on perturbed results.
No Spark: the lookup structures are small stand-ins with the same shape.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pandas as pd

from perfbench import gen, oracle


class _Phrases:
    """Shape of a lookup ``PhraseSet``: first token -> [(n, {suffix})]."""

    def __init__(self, phrases):
        self.by_first = {}
        for p in phrases:
            first, *rest = p.split(" ")
            self.by_first.setdefault(first, [(len(rest), set())])[0][1].add(tuple(rest))

    def freeze(self):
        pass


def _words(stem, n):
    return [f"{stem}{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(n)]


DS = {
    "first_name": _Phrases(_words("Jan", 40)),
    "surname": _Phrases(_words("Visser", 40)),
    "placename": _Phrases(_words("Utrecht", 60)),
    "hospital": _Phrases([f"ziekenhuis {w}" for w in _words("west", 30)]),
    "healthcare_institution": _Phrases([f"praktijk {w}" for w in _words("oost", 30)]),
}


def _mentions(seed, first=0, n=60, batch_id=None):
    pool = gen.entity_pool(DS, seed, 80)
    return pool, gen.kg_mentions(seed, pool, first, n, batch_id=batch_id)


def test_generator_is_deterministic_per_seed():
    pool_a, a = _mentions(7)
    pool_b, b = _mentions(7)
    assert pool_a == pool_b
    pd.testing.assert_frame_equal(a, b)
    _pool_c, c = _mentions(8)
    assert not a["text"].equals(c["text"])


def test_generator_properties():
    pool, m = _mentions(3, n=200)
    per_page = m.groupby("url").size()
    assert per_page.between(*gen.MENTIONS_PER_PAGE).all()
    assert {"datum", "persoon", "locatie"} <= set(m["tag"])
    assert set(m["tag"]) & set(gen._PHI_TAGS)
    props = gen.mention_properties(m, pool)
    assert props["pages"] == 200 and props["mentions"] == len(m)
    assert 0.1 < props["variant_share"] < 0.3
    assert list(m.columns) == ["url", "warc_ts", "text", "start_char",
                               "end_char", "tag", "priority", "part_id"]


def test_check_build_flags_perturbed_nodes_and_edges():
    _pool, m = _mentions(5)
    want = oracle.kg_oracle(m)
    assert oracle.check_build(set(want["nodes"]), dict(want["edges"]), want) == []
    nodes = set(want["nodes"])
    e, t, f, n = nodes.pop()
    nodes.add((e, t, f, n + 1))
    assert oracle.check_build(nodes, dict(want["edges"]), want)
    edges = dict(want["edges"], coOccursWith=want["edges"]["coOccursWith"] - 1)
    assert oracle.check_build(set(want["nodes"]), edges, want)


def _folded(base_oracle, batch):
    """A correct fold result: base surfaces keep their ids and gain the
    batch counts; novel surfaces are their own entities."""
    from collections import Counter

    from deduce_spark.golden import _node_type, _normalize_surface, triples_seq
    from deduce_spark.kernel.xxh64 import spark_xxhash64

    added = Counter((_normalize_surface(t), _node_type(g))
                    for t, g in zip(batch["text"], batch["tag"]))
    rows = {(s, t): [s, t, sid, eid, n] for s, t, sid, eid, n in base_oracle["surface_map"]}
    for key, k in added.items():
        if key in rows:
            rows[key][4] += k
        else:
            sid = spark_xxhash64(*key)
            rows[key] = [key[0], key[1], sid, sid, k]
    sm = pd.DataFrame(list(rows.values()), columns=[
        "surface", "type", "surface_id", "entity_id", "n_mentions"])
    fam = triples_seq(batch, [tuple(r) for r in rows.values()])
    edges = {p: base_oracle["edges"][p] + fam[p] for p in oracle.PREDS}
    return sm, edges


def test_check_fold_flags_moved_ids_and_wrong_appends():
    pool, base = _mentions(9, batch_id=0)
    batch = gen.kg_mentions(9, pool, 60, 10, batch_id=1)
    base_oracle = oracle.kg_oracle(base)
    sm, edges = _folded(base_oracle, batch)
    assert oracle.check_fold(sm, edges, base_oracle, batch) == []
    moved = sm.copy()
    moved.loc[0, "entity_id"] += 1
    assert oracle.check_fold(moved, edges, base_oracle, batch)
    assert oracle.check_fold(
        sm, dict(edges, mentions=edges["mentions"] + 1), base_oracle, batch)


def test_check_curate_flags_non_partition_and_fingerprint_drift():
    ids = {11, 12, 13}
    verdicts = pd.DataFrame({"doc_id": [11, 12, 13],
                             "verdict": ["keep", "duplicate", "keep"]})
    fps = {"kept": "2-abc", "packs": "2-def"}
    assert oracle.check_curate(verdicts, ids, fps, dict(fps)) == []
    assert oracle.check_curate(verdicts.iloc[:2], ids, fps, fps)
    dup = pd.concat([verdicts, verdicts.iloc[:1]])
    assert oracle.check_curate(dup, ids, fps, fps)
    odd = verdicts.assign(verdict=["keep", "maybe", "keep"])
    assert oracle.check_curate(odd, ids, fps, fps)
    assert oracle.check_curate(verdicts, ids, fps, dict(fps, packs="2-000"))
