"""Sequential golden-fixture generator for the non-SQL-expressible queries.

The driver's correctness gate runs each Spark query against a DuckDB
oracle.  Full NLP/sketch pipelines (KG construction, MinHash/SimHash,
multi-table LSH) cannot be written as ANSI SQL — but they CAN be replayed
sequentially: this module recomputes each query's expected output with the
SAME per-row kernels the Spark UDFs call (``kernel.engine.Engine``,
``dedup.minhash_sig``, ``kg.surface_sig``, ``textstats.winnow_doc``, …)
but pure pandas/python orchestration — no Spark, no JVM, no partitioning.
The outputs are written as parquet fixtures under ``data/golden/<sf>/``
and ``oracle_sql()`` reads them via DuckDB ``parquet_scan``, giving the
driver VALUE oracles (rows+schema+hash) for these pipelines.

What this validates: the distributed orchestration — partitioning, Arrow
batching, joins, shuffles, window ranks, connected components — against a
single-threaded reference.  Kernel semantics themselves are pinned
separately by the 463-case reference regression corpus.

Spark-specific functions are replicated bit-exactly:
- ``xxhash64``           -> kernel.xxh64 (validated vs Spark in unit tests)
- ``round(x, n)``        -> Decimal HALF_UP (Spark rounds via BigDecimal)
- float32 dot products   -> float32 elementwise mult + sequential float64
                            accumulation (zip_with + aggregate's fold order)

Run:  python -m deduce_spark.golden   (regenerates all fixtures)
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations, product
from pathlib import Path

import numpy as np
import pandas as pd

from deduce_spark.kernel.xxh64 import spark_xxhash64

REPO = Path(__file__).resolve().parent.parent
GOLDEN_DIR = REPO / "data" / "golden"
SF_PAGES = {"sf0.001": 500, "sf0.01": 5000, "sf0.1": 50000}

FUZZY_TYPES = ("PERSOON", "LOCATIE", "INSTELLING")
PHI_TAGS = ("bsn", "id", "telefoonnummer", "emailadres", "url", "leeftijd")


def _round_spark(x: float, n: int) -> float:
    """Spark's round(): BigDecimal.valueOf(double).setScale(n, HALF_UP).

    BigDecimal.valueOf goes through Double.toString — the SHORTEST
    round-trip decimal representation — not the exact binary expansion, so
    the replica must parse ``repr(x)`` (Python's repr is also shortest
    round-trip, producing the same digits): Decimal(0.08335) is
    0.0833499999999...9 and would round DOWN where Spark rounds up."""
    q = Decimal(1).scaleb(-n)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _node_type(tag: str) -> str:
    if tag in ("patient", "persoon"):
        return "PERSOON"
    if tag == "locatie":
        return "LOCATIE"
    if tag in ("ziekenhuis", "zorginstelling"):
        return "INSTELLING"
    if tag == "datum":
        return "DATUM"
    if tag in PHI_TAGS:
        return "PHI"
    return "OVERIG"


def _normalize_surface(s: str) -> str:
    # Spark: regexp_replace(lower(trim(col)), r"\s+", " ") — trim strips
    # only 0x20 spaces, and Java's \s (no UNICODE_CHARACTER_CLASS) matches
    # ONLY [ \t\n\x0b\f\r]; Python's \s is Unicode-aware (would also eat
    # \xa0 from &nbsp;), so the ASCII class is spelled out explicitly
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", s.strip(" ").lower())


class _UnionFind:
    """Min-root union-find (canonical id = min member, matching kg.py)."""

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    def union(self, a: int, b: int) -> None:
        p = self.parent
        p.setdefault(a, a)
        p.setdefault(b, b)
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            p[hi] = lo

    def labels(self) -> dict[int, int]:
        return {x: self.find(x) for x in self.parent}


# ---------------------------------------------------------------------------
# KG pipeline (sequential replica of stages.AnnotatePipeline + spark.kg)
# ---------------------------------------------------------------------------


def annotated_pages_seq(n_pages: int) -> list[tuple]:
    """[(url, warc_ts, mentions, redacted_text)] for lang='nl' pages,
    mentions = [(text, start, end, tag, priority)] in sort_key order —
    the exact per-page loop annotate_pages runs inside mapInPandas."""
    from deduce_spark.fixtures import generate_pages
    from deduce_spark.kernel.engine import Engine
    from deduce_spark.kernel.html_text import extract_text

    engine = Engine()
    cols = generate_pages(n_pages)
    out = []
    for url, ts, html, lang in zip(
        cols["url"], cols["warc_ts"], cols["html"], cols["lang"]
    ):
        if lang != "nl":
            continue
        doc = engine.deidentify(extract_text(html))
        ms = [
            (m.text, m.start, m.end, m.tag, m.priority)
            for m in sorted(doc.mentions, key=lambda m: m.sort_key())
        ]
        out.append((url, ts, ms, doc.metadata.get("redacted_text")))
    return out


def mentions_long_seq(pages: list[tuple]) -> pd.DataFrame:
    rows = []
    for url, ts, ms, _red in pages:
        for text, start, end, tag, _prio in ms:
            rows.append((url, ts, text, tag))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "text", "tag"])


def _surface_rows(mentions: pd.DataFrame) -> list[tuple]:
    """Distinct (surface, type, surface_id, n_mentions), as kg.surfaces."""
    counts = Counter(
        (_normalize_surface(t), _node_type(g))
        for t, g in zip(mentions["text"], mentions["tag"])
    )
    return [(s, ty, spark_xxhash64(s, ty), n) for (s, ty), n in counts.items()]


def _fuzzy_buckets(rows) -> tuple[dict, dict]:
    """({surface_id: signature}, {(type, band, slice): [surface_id]}) over
    the fuzzy-type rows of ``rows`` (surface, type, surface_id, …).

    The LSH rules kg.local_lsh_components and a fold's kg._adoption_pairs
    apply on the driver (twin of the distributed kg.lsh_components ->
    kg.candidate_pairs): 16 bands x 4 rows keyed by type, buckets over 64
    members dropped, est-jaccard >= 0.7 i.e. >= 45/64 equal positions."""
    from deduce_spark.spark.kg import surface_sig  # numpy kernel, no Spark

    sigs: dict[int, list[int]] = {}
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for s, ty, sid, *_rest in rows:
        if ty in FUZZY_TYPES:
            sig = sigs[sid] = surface_sig(s)
            for band in range(16):
                buckets[(ty, band, tuple(sig[band * 4 : band * 4 + 4]))].append(sid)
    return sigs, buckets


def _similar(a: list[int], b: list[int]) -> bool:
    return sum(x == y for x, y in zip(a, b)) >= 45


def _lsh_labels(sigs: dict, buckets: dict) -> dict[int, int]:
    """{surface_id: component} for the ids in a verified pair."""
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) <= 64:
            pairs.update(combinations(sorted(members), 2))
    uf = _UnionFind()
    for a, b in pairs:
        if _similar(sigs[a], sigs[b]):
            uf.union(a, b)
    return uf.labels()


def _nodes_seq(surface_map: list) -> list[tuple]:
    # canonical form: most mentions, tie-break min surface
    by_entity: dict[tuple, list] = defaultdict(list)
    for s, ty, sid, eid, n in surface_map:
        by_entity[(eid, ty)].append((s, n))
    nodes = []
    for (eid, ty), forms in by_entity.items():
        canon = min(forms, key=lambda fn: (-fn[1], fn[0]))[0]
        nodes.append((eid, ty, canon, sum(n for _s, n in forms)))
    return nodes


def canonicalize_seq(mentions: pd.DataFrame):
    """Replica of kg.canonicalize: returns (surface_map rows, nodes rows).

    surface_map: list of (surface, type, surface_id, entity_id, n_mentions)
    nodes:       list of (entity_id, type, canonical_form, n_mentions)
    """
    surf = _surface_rows(mentions)
    comp = _lsh_labels(*_fuzzy_buckets(surf))
    surface_map = [(s, ty, sid, comp.get(sid, sid), n) for s, ty, sid, n in surf]
    return surface_map, _nodes_seq(surface_map)


def incremental_canonicalize_seq(
    base_mentions: pd.DataFrame, new_mentions: pd.DataFrame
):
    """Replica of kg.canonicalize over ``base_mentions``, then
    kg.incremental_canonicalize of ``new_mentions``; same shapes as
    canonicalize_seq.  A novel fuzzy surface adopts the minimum entity id
    among the base surfaces it shares a bucket with and verifies against,
    skipping buckets of more than 64 BASE surfaces; novel surfaces cluster
    under the batch rules, and a cluster takes the minimum id its members
    adopted, else its component id."""
    base, _ = canonicalize_seq(base_mentions)
    entity = {sid: eid for _s, _ty, sid, eid, _n in base}
    new = _surface_rows(new_mentions)
    novel = [r for r in new if r[2] not in entity]
    bsigs, bbuckets = _fuzzy_buckets(base)
    nsigs, nbuckets = _fuzzy_buckets(novel)
    cluster = _lsh_labels(nsigs, nbuckets)
    adopted: dict[int, int] = {}
    for key, members in nbuckets.items():
        olds = bbuckets.get(key, [])
        for a, b in product(members, olds if len(olds) <= 64 else []):
            if _similar(nsigs[a], bsigs[b]):
                c = cluster.get(a, a)
                adopted[c] = min(adopted.get(c, entity[b]), entity[b])
    added = {sid: n for _s, _ty, sid, n in new}
    surface_map = [(s, ty, sid, e, n + added.get(sid, 0)) for s, ty, sid, e, n in base]
    for s, ty, sid, n in novel:
        c = cluster.get(sid, sid)
        surface_map.append((s, ty, sid, adopted.get(c, c), n))
    return surface_map, _nodes_seq(surface_map)


def triples_seq(mentions: pd.DataFrame, surface_map: list) -> dict:
    """Replica of kg.triples (counting form): returns the per-family rows
    needed by the kg_* queries (not the full 5-column table)."""
    ent_of = {(s, ty): eid for s, ty, _sid, eid, _n in surface_map}
    m = mentions.copy()
    m["surface"] = [_normalize_surface(t) for t in m["text"]]
    m["type"] = [_node_type(t) for t in m["tag"]]
    m["entity_id"] = [ent_of[(s, ty)] for s, ty in zip(m["surface"], m["type"])]

    n_mentions = len(m)
    has_type = len({(eid, ty) for eid, ty in zip(m["entity_id"], m["type"])})
    has_surface = len(
        {(eid, s) for eid, s in zip(m["entity_id"], m["surface"])}
    )
    published = len({(u, ts) for u, ts in zip(m["url"], m["warc_ts"])})

    # coOccursWith: per page, cap 128 entities by (-n_on_page, entity_id),
    # pairs a < b (int64 order), one row per (url, pair)
    cooc_rows: list[tuple[int, int]] = []
    for _url, grp in m.groupby("url", sort=False):
        per_ent = Counter(grp["entity_id"])
        kept = sorted(per_ent.items(), key=lambda kv: (-kv[1], kv[0]))[:128]
        ids = sorted(kv[0] for kv in kept)
        for a, b in combinations(ids, 2):
            cooc_rows.append((a, b))
    return {
        "mentions": n_mentions,
        "hasType": has_type,
        "hasSurfaceForm": has_surface,
        "publishedAt": published,
        "coOccursWith": len(cooc_rows),
        "_cooc_rows": cooc_rows,
    }


# ---------------------------------------------------------------------------
# per-query golden outputs
# ---------------------------------------------------------------------------


def golden_kg(n_pages: int) -> dict[str, pd.DataFrame]:
    from deduce_spark.kernel.engine import Engine
    from deduce_spark.spark.kg import build_link_dicts, score_form

    pages = annotated_pages_seq(n_pages)
    mentions = mentions_long_seq(pages)
    surface_map, nodes = canonicalize_seq(mentions)
    fam = triples_seq(mentions, surface_map)

    out: dict[str, pd.DataFrame] = {}

    tag_counts = Counter(mentions["tag"])
    out["kg_mentions_by_tag"] = pd.DataFrame(
        sorted(tag_counts.items()), columns=["tag", "n"]
    ).astype({"n": "int64"})

    out["kg_triples_by_pred"] = pd.DataFrame(
        sorted((p, fam[p]) for p in
               ("mentions", "hasType", "hasSurfaceForm", "publishedAt",
                "coOccursWith")),
        columns=["pred", "n"],
    ).astype({"n": "int64"})

    # degree histogram over the coOccursWith graph (ids compared as the
    # STRING casts the Spark query uses — distinct-count is cast-invariant)
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in fam["_cooc_rows"]:
        nbrs[a].add(b)
        nbrs[b].add(a)
    deg_hist = Counter(len(v) for v in nbrs.values())
    out["kg_entity_degree"] = pd.DataFrame(
        sorted(deg_hist.items()), columns=["degree", "n_entities"]
    ).astype({"degree": "int64", "n_entities": "int64"})

    # top co-occurring pairs with canonical forms
    pair_counts = Counter(
        (str(a), str(b)) for a, b in fam["_cooc_rows"]
    )
    top = sorted(
        pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )[:20]
    form_of: dict[str, str] = {}
    for eid, _ty, canon, _n in nodes:
        key = str(eid)
        form_of[key] = min(canon, form_of[key]) if key in form_of else canon
    rows = [
        (form_of[a], form_of[b], n) for (a, b), n in top
    ]
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    out["kg_top_cooccurrence"] = pd.DataFrame(
        rows, columns=["subj_form", "obj_form", "n_pages"]
    ).astype({"n_pages": "int64"})

    # link scores grouped by (type, evidence)
    dicts = build_link_dicts(Engine())
    groups: dict[tuple, list[float]] = defaultdict(list)
    for _eid, ty, canon, _n in nodes:
        score, evidence = score_form(ty, canon, dicts)
        groups[(ty, evidence)].append(score)
    rows = [
        (ty, ev, len(ss), _round_spark(sum(ss) / len(ss), 4))
        for (ty, ev), ss in sorted(groups.items())
    ]
    out["kg_link_scores"] = pd.DataFrame(
        rows, columns=["type", "link_evidence", "n_entities", "avg_score"]
    ).astype({"n_entities": "int64", "avg_score": "float64"})

    red = sorted(
        (url, r) for url, _ts, _ms, r in pages if r and "[" in r
    )[:50]
    out["kg_redact_sample"] = pd.DataFrame(
        red, columns=["url", "redacted_text"]
    )

    # graph analytics over the distinct coOccursWith edge set -------------
    dedges = sorted(set(fam["_cooc_rows"]))  # (a, b) with a < b

    # pagerank_quantized replica: same int64 units / DIV arithmetic
    nbrs2: dict[int, set[int]] = defaultdict(set)
    for a, b in dedges:
        nbrs2[a].add(b)
        nbrs2[b].add(a)
    unit = 1_000_000_000
    base = (15 * unit) // 100
    rank = {v: unit for v in nbrs2}
    for _ in range(5):
        sums: dict[int, int] = defaultdict(int)
        for v, ns in nbrs2.items():
            contrib = rank[v] // len(ns)
            for n in ns:
                sums[n] += contrib
        rank = {v: base + (85 * sums.get(v, 0)) // 100 for v in nbrs2}
    top = sorted(rank.items(), key=lambda vr: (-vr[1], vr[0]))[:50]
    out["kg_pagerank"] = pd.DataFrame(
        top, columns=["entity_id", "rank"]
    ).astype("int64")

    # triangle_count replica: hub cap 64, oriented wedge close
    deg = {v: len(ns) for v, ns in nbrs2.items()}
    kept = {v for v, d in deg.items() if d <= 64}
    kedges = [(a, b) for a, b in dedges if a in kept and b in kept]
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in kedges:
        adj[a].add(b)
    n_tri = sum(
        1
        for a, bs in adj.items()
        for b in bs
        for c in adj[a]
        if b < c and c in adj.get(b, ())
    )
    knodes = {v for e in kedges for v in e}
    out["kg_triangles"] = pd.DataFrame(
        [(len(knodes), len(kedges), n_tri)],
        columns=["n_nodes_kept", "n_edges_kept", "n_triangles"],
    ).astype("int64")

    # kg_anchor_canon replica: anchor-text canonical-form evidence ---------
    # The query builds a deterministic external crawl — one <a href=page>
    # anchor per PERSOON mention whose text xxhash64 lands in the 1/7
    # slice — runs it through weburl.extract_anchors, and feeds the
    # (surface, anchor_n) votes into nodes_from_surface_map.  The skewed
    # subsample means a runner-up surface can out-vote the mention-count
    # argmax, flipping the canonical form (kg.py anchor_surface_weights).
    votes: Counter = Counter()
    for text, tag in zip(mentions["text"], mentions["tag"]):
        if _node_type(tag) != "PERSOON":
            continue
        if spark_xxhash64(text) % 7 != 0:
            continue
        votes[_normalize_surface(text)] += 1
    by_ent: dict[tuple, list] = defaultdict(list)
    for s, ty, _sid, eid, n in surface_map:
        by_ent[(eid, ty)].append((s, n))
    tot: Counter = Counter()
    flipped: Counter = Counter()
    for (eid, ty), forms in by_ent.items():
        tot[ty] += 1
        before = min(forms, key=lambda fn: (-fn[1], fn[0]))[0]
        after = min(
            forms, key=lambda fn: (-(fn[1] + votes.get(fn[0], 0)), fn[0])
        )[0]
        if after != before:
            flipped[ty] += 1
    out["kg_anchor_canon"] = pd.DataFrame(
        sorted((ty, tot[ty], flipped.get(ty, 0)) for ty in tot),
        columns=["type", "n_entities", "n_flipped"],
    ).astype({"n_entities": "int64", "n_flipped": "int64"})
    return out


def golden_minhash(docs: pd.DataFrame) -> pd.DataFrame:
    """Replica of dedup.minhash_dedup(threshold=0.5, max_bucket=256)."""
    from deduce_spark.spark.dedup import minhash_sig

    sigs = {int(d): minhash_sig(t) for d, t in zip(docs["doc_id"], docs["text"])}
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for did, sig in sigs.items():
        for band in range(16):
            buckets[(band, tuple(sig[band * 4 : band * 4 + 4]))].append(did)
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) > 256:
            continue
        for a, b in combinations(sorted(members), 2):
            pairs.add((a, b))
    uf = _UnionFind()
    for a, b in pairs:
        if sum(x == y for x, y in zip(sigs[a], sigs[b])) >= 32:
            uf.union(a, b)
    comp = uf.labels()
    ids = sorted(sigs)
    return pd.DataFrame(
        {"doc_id": ids, "canonical_id": [comp.get(d, d) for d in ids]}
    ).astype("int64")


def golden_simhash(docs: pd.DataFrame) -> pd.DataFrame:
    """Replica of dedup.simhash_near_dupes(max_hamming=10, max_bucket=1024)."""
    from deduce_spark.spark.dedup import simhash64

    sig = {int(d): simhash64(t) for d, t in zip(docs["doc_id"], docs["text"])}
    u64 = {d: s & ((1 << 64) - 1) for d, s in sig.items()}
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for d, s in u64.items():
        for i in range(4):
            buckets[(i, (s >> (16 * i)) & 0xFFFF)].append(d)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) > 1024:
            continue
        for a, b in combinations(sorted(members), 2):
            cand.add((a, b))
    rows = []
    for a, b in sorted(cand):
        h = bin(u64[a] ^ u64[b]).count("1")
        if h <= 10:
            rows.append((a, b, h))
    return pd.DataFrame(rows, columns=["a", "b", "hamming"]).astype("int64")


def _dot32_seq(a32: np.ndarray, b32: np.ndarray) -> float:
    """zip_with(a,b,x*y) + aggregate(…, 0.0D, acc+v): float32 elementwise
    products, then SEQUENTIAL left-to-right float64 accumulation."""
    prod = a32 * b32
    return float(np.cumsum(prod.astype(np.float64))[-1])


def golden_lsh_topk(emb: pd.DataFrame, k: int = 3) -> pd.DataFrame:
    """Replica of similarity.lsh_topk(k=3): 8 tables x 4 hyperplanes,
    max_bucket=4096, exact cosine rerank."""
    from deduce_spark.spark.similarity import ivf_quant_scores

    ids = emb["vec_id"].astype("int64").to_numpy()
    mat = np.vstack([np.asarray(v, dtype=np.float32) for v in emb["embedding"]])
    planes = (
        np.random.RandomState(1234).standard_normal((8, 4, mat.shape[1]))
        .astype(np.float32)
    )
    weights = 1 << np.arange(4, dtype=np.int64)
    cand: dict[int, set[int]] = defaultdict(set)
    for t in range(8):
        # same integer-quantized sign decision as hyperplane_buckets
        signs = ivf_quant_scores(mat, planes[t]) > 0
        buckets = signs @ weights
        by_bucket: dict[int, list[int]] = defaultdict(list)
        for vid, bk in zip(ids, buckets):
            by_bucket[int(bk)].append(int(vid))
        for members in by_bucket.values():
            if len(members) > 4096:
                continue
            for q in members:
                for n in members:
                    if q != n:
                        cand[q].add(n)
    idx_of = {int(v): i for i, v in enumerate(ids)}
    norm = {
        int(v): np.sqrt(_dot32_seq(mat[i], mat[i])) for v, i in idx_of.items()
    }
    rows = []
    for q in sorted(cand):
        scored = []
        for n in cand[q]:
            cos = _dot32_seq(mat[idx_of[q]], mat[idx_of[n]]) / (
                norm[q] * norm[n]
            )
            scored.append((cos, n))
        scored.sort(key=lambda cn: (-cn[0], cn[1]))
        for rank, (cos, n) in enumerate(scored[:k], start=1):
            rows.append((q, n, rank, _round_spark(cos, 6)))
    return pd.DataFrame(
        rows, columns=["query_id", "neighbor_id", "rank", "cosine"]
    ).astype({"query_id": "int64", "neighbor_id": "int64", "rank": "int64",
              "cosine": "float64"})


def golden_ivf(
    emb: pd.DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 5,
    n_queries: int = 10,
) -> pd.DataFrame:
    """Replica of similarity.ivf_topk(vecs, vecs.filter(id<10), k=3).

    Exactness rests on the quantized-integer design in similarity.py:
    assignment/probe scores and Lloyd sums are int64 (associative), so the
    sequential replay here matches the distributed run bit-for-bit; the
    only float steps (normalization, final cosine, np.linalg.norm) use the
    same elementwise / sequential-fold order as the Spark expressions."""
    from deduce_spark.spark.similarity import IVF_QUANT, ivf_quant_scores

    ids = emb["vec_id"].astype("int64").to_numpy()
    raw32 = np.vstack(
        [np.asarray(v, dtype=np.float32) for v in emb["embedding"]]
    )
    raw64 = raw32.astype(np.float64)

    # -- train (ivf_train) — shared replica ---------------------------------
    cents, _vn = _golden_kmeans(ids, raw64, n_centroids, n_iters)

    # -- index + probe + exact rerank (ivf_topk) ----------------------------
    assigned = ivf_quant_scores(raw64, cents).argmax(axis=1)
    members_of: dict[int, list[int]] = defaultdict(list)
    for i, c in enumerate(assigned):
        members_of[int(c)].append(i)
    q_mask = ids < n_queries
    q_idx = np.nonzero(q_mask)[0]
    probes = np.argsort(
        -ivf_quant_scores(raw64[q_idx], cents), axis=1, kind="stable"
    )[:, :n_probe]

    def norm32(i: int) -> float:
        return float(np.sqrt(_dot32_seq(raw32[i], raw32[i])))

    rows = []
    for qi, plist in zip(q_idx, probes):
        qid = int(ids[qi])
        cand = {
            m for c in plist for m in members_of.get(int(c), ())
        } - {qi}
        scored = []
        for m in cand:
            cos = _dot32_seq(raw32[qi], raw32[m]) / (norm32(qi) * norm32(m))
            scored.append((cos, int(ids[m])))
        scored.sort(key=lambda cn: (-cn[0], cn[1]))
        for rank, (cos, nid) in enumerate(scored[:k], start=1):
            rows.append((qid, nid, rank, _round_spark(cos, 6)))
    rows.sort()
    return pd.DataFrame(
        rows, columns=["query_id", "neighbor_id", "rank", "cosine"]
    ).astype({"query_id": "int64", "neighbor_id": "int64", "rank": "int64",
              "cosine": "float64"})


def _golden_kmeans(
    ids: np.ndarray, raw64: np.ndarray, n_centroids: int, n_iters: int
):
    """Shared sequential replica of similarity.ivf_train: returns
    (cents, vn) — the quantized-Lloyd centroids and the normalized
    vectors (Spark's aggregate-fold norm = sequential cumsum).  Used by
    BOTH golden_ivf and golden_semantic_dedup so a training-replica fix
    can never desynchronize the two oracles."""
    from deduce_spark.spark.similarity import IVF_QUANT, ivf_quant_scores

    init_idx = np.argsort(ids, kind="stable")[:n_centroids]
    cents = raw64[init_idx].copy()
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    nrm = np.sqrt(np.cumsum(raw64 * raw64, axis=1)[:, -1])
    vn = raw64 / nrm[:, None]
    for _ in range(n_iters):
        cid = ivf_quant_scores(vn, cents).argmax(axis=1)
        new = cents.copy()
        for c in range(n_centroids):
            members = vn[cid == c]
            if not len(members):
                continue
            acc = np.floor(members * IVF_QUANT).astype(np.int64).sum(axis=0)
            vec = acc.astype(np.float64)
            n2 = np.linalg.norm(vec)
            if n2 > 0:
                new[c] = vec / n2
        cents = new
    return cents, vn


def golden_semantic_dedup(
    emb: pd.DataFrame,
    tau: float = 0.35,
    n_centroids: int = 16,
    n_iters: int = 5,
    max_cluster: int = 4096,
) -> pd.DataFrame:
    """Replica of similarity.semantic_dedup (SemDeDup-style): spherical
    k-means -> within-cluster quantized-cosine pairs -> min-root
    components.  Training/assignment mirror golden_ivf; the pair score is
    int64 (floor(vn * 2^20) per side), so the >= threshold compare is
    exact in both engines."""
    from deduce_spark.spark.similarity import PAIR_QUANT, ivf_quant_scores

    ids = emb["vec_id"].astype("int64").to_numpy()
    raw64 = np.vstack(
        [np.asarray(v, dtype=np.float32) for v in emb["embedding"]]
    ).astype(np.float64)
    cents, vn = _golden_kmeans(ids, raw64, n_centroids, n_iters)

    # assign on the normalized vectors (matches semantic_dedup)
    cid = ivf_quant_scores(vn, cents).argmax(axis=1)
    qv = np.floor(vn * PAIR_QUANT).astype(np.int64)
    thresh = int(tau * PAIR_QUANT * PAIR_QUANT)
    by_cluster: dict[int, list[int]] = defaultdict(list)
    for i, c in enumerate(cid):
        by_cluster[int(c)].append(i)
    uf = _UnionFind()
    for members in by_cluster.values():
        if len(members) > max_cluster:
            continue
        for ii, i in enumerate(members):
            for j in members[ii + 1:]:
                a, b = (i, j) if ids[i] < ids[j] else (j, i)
                if int(qv[a] @ qv[b]) >= thresh:
                    uf.union(int(ids[a]), int(ids[b]))
    comp = uf.labels()
    order = sorted(int(v) for v in ids)
    return pd.DataFrame(
        {"vec_id": order, "canonical_id": [comp.get(v, v) for v in order]}
    ).astype("int64")


def golden_winnow(docs: pd.DataFrame) -> pd.DataFrame:
    from deduce_spark.spark.textstats import winnow_doc

    rows = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        w = winnow_doc(text)
        xor = 0
        for v in w:
            xor ^= v
        rows.append((int(did), len(w), xor))
    return pd.DataFrame(
        rows, columns=["doc_id", "n_grams", "winnow_xor"]
    ).astype("int64")


def golden_substr_rolling(docs: pd.DataFrame) -> pd.DataFrame:
    """Sequential replay of exact_substr_dup(method='rolling'): the same
    substr_hashes_doc kernel per document, then plain-dict duplicate
    accounting — pins the distributed two-shuffle path bit-for-bit."""
    from collections import Counter

    from deduce_spark.spark.textstats import substr_hashes_doc

    per_doc = {
        int(did): substr_hashes_doc(text)
        for did, text in zip(docs["doc_id"], docs["text"])
    }
    owners = Counter()
    for did, ghs in per_doc.items():
        for gh in set(ghs):
            owners[gh] += 1
    rows = []
    for did in sorted(per_doc):
        ghs = per_doc[did]
        n = len(ghs)
        dup = sum(1 for gh in ghs if owners[gh] > 1)
        rows.append((did, n, dup, (1000 * dup) // n if n else 0))
    return pd.DataFrame(
        rows, columns=["doc_id", "n_grams", "n_dup_grams", "dup_permille"]
    ).astype("int64")


def golden_media() -> dict[str, pd.DataFrame]:
    from deduce_spark.spark.multimodal import (
        probe_one,
        synthetic_media_real_rows,
        synthetic_media_rows,
        wav_stats_one,
    )

    rows = synthetic_media_rows(64)
    probe = [(mid, *probe_one(blob)) for mid, blob, _t in rows]
    audio = [
        (mid,) + wav_stats_one(blob)
        for mid, blob, _t in synthetic_media_real_rows(32)
    ]
    return {
        "media_probe": pd.DataFrame(
            probe, columns=["media_id", "detected_type", "n_bytes", "checksum"]
        ).astype({"media_id": "int64", "n_bytes": "int64", "checksum": "int64"}),
        "media_audio_stats": pd.DataFrame(
            audio,
            columns=["media_id", "sample_rate", "n_channels", "n_frames",
                     "rms_q", "peak", "zero_crossings"],
        ).astype("int64"),
    }


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def generate_all(sf_dir: str = "/root/testdata/sf0.01") -> Path:
    sf_name = Path(sf_dir).name
    out_dir = GOLDEN_DIR / sf_name
    out_dir.mkdir(parents=True, exist_ok=True)

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")

    outputs: dict[str, pd.DataFrame] = {}
    outputs.update(golden_kg(SF_PAGES.get(sf_name, 500)))
    outputs["minhash_dedup_docs"] = golden_minhash(docs)
    outputs["simhash_pairs_docs"] = golden_simhash(docs)
    outputs["lsh_topk_embeddings"] = golden_lsh_topk(emb)
    outputs["ivf_topk_embeddings"] = golden_ivf(emb)
    outputs["semantic_dedup_embeddings"] = golden_semantic_dedup(emb)
    outputs["winnow_fingerprints"] = golden_winnow(docs)
    outputs["substr_dup_rolling"] = golden_substr_rolling(docs)
    outputs.update(golden_media())

    for name, df in outputs.items():
        df.to_parquet(out_dir / f"{name}.parquet", index=False)
    return out_dir


if __name__ == "__main__":
    import sys

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    path = generate_all(sf)
    print(f"golden fixtures written to {path}")
