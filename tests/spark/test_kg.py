"""KG canonicalization + triples over synthetic pages."""

import pytest
from pyspark.sql import functions as F

from deduce_spark.spark import kg


@pytest.fixture(scope="module")
def mentions(spark, pipeline, pages_path):
    pages = spark.read.parquet(pages_path)
    annotated = pipeline.annotate_pages(pages, lang="nl")
    return pipeline.mentions_long(annotated).cache()


def test_surfaces_dedupe(mentions):
    surf = kg.surfaces(mentions)
    rows = surf.collect()
    assert len(rows) == surf.select("surface_id").distinct().count()
    assert all(r["n_mentions"] >= 1 for r in rows)


def test_minhash_deterministic(spark, mentions):
    surf = kg.surfaces(mentions)
    s1 = kg.surface_signatures(surf.withColumn("type", F.lit("PERSOON"))).orderBy("surface_id").collect()
    s2 = kg.surface_signatures(surf.withColumn("type", F.lit("PERSOON"))).orderBy("surface_id").collect()
    assert s1 == s2
    assert all(len(r["sig"]) == kg.N_HASHES for r in s1)


def test_candidate_pairs_merge_typo_variants(spark):
    surf = spark.createDataFrame(
        [(1, "INSTELLING", "albert schweitzer ziekenhuis"),
         (2, "INSTELLING", "albert schweizer ziekenhuis"),
         (3, "INSTELLING", "dagblad van het noorden")],
        ["surface_id", "type", "surface"],
    )
    sigs = kg.surface_signatures(surf)
    pairs = {(r["a"], r["b"]) for r in kg.candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


@pytest.mark.parametrize("op, retained", [
    ("canonicalize", 1), ("incremental_canonicalize", 1), ("minhash_dedup", 0),
])
def test_lsh_ops_release_intermediate_caches(spark, op, retained):
    """Input, signature and band caches are released once the components
    exist; only the caches an operator hands back stay cached (the
    surface map for canonicalize and incremental_canonicalize, nothing for
    minhash_dedup)."""
    from deduce_spark.spark.dedup import minhash_dedup

    names = ["jan de vries", "jan de vries", "jan de vriess", "piet jansen"]
    m = spark.createDataFrame(
        [(n, "persoon") for n in names] + [("10 oktober 2018", "datum")],
        ["text", "tag"],
    )
    if op == "incremental_canonicalize":
        base, _ = kg.canonicalize(m)
        base.count()
    jsc = spark.sparkContext._jsc
    # ids, not a count: the JVM's persisted-RDD map is weak-valued, so a
    # GC can drop caches earlier tests left and hide a leak of that size
    before = set(jsc.getPersistentRDDs().keys())
    if op == "canonicalize":
        surface_map, nodes = kg.canonicalize(m)
        nodes.count()
        surface_map.count()
    elif op == "incremental_canonicalize":
        inc = spark.createDataFrame(
            [("jan de vriesss", "persoon"), ("piet janssen", "persoon"),
             ("jan de vries", "persoon"), ("utrecht", "locatie")],
            ["text", "tag"],
        )
        surface_map, nodes = kg.incremental_canonicalize(inc, base)
        nodes.count()
        surface_map.count()
    else:
        docs = spark.createDataFrame(
            [(i, f"{n} woont in een huis") for i, n in enumerate(names)],
            ["doc_id", "text"],
        )
        minhash_dedup(docs, threshold=0.5).count()
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= retained
    if op != "minhash_dedup":
        surface_map.unpersist()
    if op == "incremental_canonicalize":
        base.unpersist()


def _synthetic_signatures():
    """(ids, types, sig) exercising every local/distributed LSH rule: a
    65-member bucket (dropped) and a 64-member one (kept), each holding a
    pair that shares only that bucket; pairs at exactly 45/64 and 44/64
    equal positions; one band slice shared by two types."""
    import random

    rng = random.Random(7)
    rows: list[tuple[str, list[int]]] = []

    def fresh(ty: str) -> list[int]:
        rows.append((ty, [rng.randrange(1, 1 << 40) for _ in range(kg.N_HASHES)]))
        return rows[-1][1]

    def near(sig: list[int], ty: str) -> None:
        # shares band 0 whole and 3 of 4 positions of every other band:
        # 49 equal positions, one shared bucket
        new = fresh(ty)
        new[:4] = sig[:4]
        for b in range(1, kg.N_BANDS):
            new[4 * b : 4 * b + 3] = sig[4 * b : 4 * b + 3]

    def bucket(ty: str, size: int, key: int) -> None:
        first = fresh(ty)
        first[:4] = [key] * 4
        near(first, ty)
        for _ in range(size - 2):
            fresh(ty)[:4] = [key] * 4

    bucket("PERSOON", 65, 11)  # capped: its near pair stays apart
    bucket("PERSOON", 64, 22)  # kept: its near pair merges
    # 40 + 40 rows share one slice across two types: under the cap per
    # type, so the PERSOON near pair merges; the LOCATIE copy of it does not
    bucket("PERSOON", 40, 33)
    rows.append(("LOCATIE", list(rows[-40][1])))
    for _ in range(39):
        fresh("LOCATIE")[:4] = [33] * 4
    for n_equal in (45, 44):
        a = fresh("INSTELLING")
        b = fresh("INSTELLING")
        b[:n_equal] = a[:n_equal]
    ids = list(range(1000, 1000 + len(rows)))
    return ids, [t for t, _ in rows], [s for _, s in rows]


def test_local_lsh_components_match_distributed(spark):
    import numpy as np

    ids, types, sigs = _synthetic_signatures()
    local = kg.local_lsh_components(
        np.array(ids), np.array(types, dtype=object), np.array(sigs)
    )
    local = dict(zip(local["surface_id"].tolist(), local["component"].tolist()))
    sigs_df = spark.createDataFrame(
        list(zip(ids, types, sigs)), kg._SIG_SCHEMA
    )
    dist = {r["surface_id"]: r["component"] for r in
            kg.connected_components(kg.candidate_pairs(sigs_df)).collect()}
    assert local == dist
    # rows 0-64: the 65-bucket, whose near pair (0, 1) stays apart
    assert ids[0] not in local and ids[1] not in local
    # rows 65-128: the 64-bucket, whose near pair merges
    assert local[ids[66]] == ids[65]
    # rows 129-168 PERSOON and 169-208 LOCATIE share one slice: the PERSOON
    # near pair merges, row 169 (a LOCATIE copy of row 129) pairs with none
    assert local[ids[130]] == ids[129] and ids[169] not in local
    # rows 209-212: 45/64 merges, 44/64 does not
    assert local[ids[210]] == ids[209]
    assert ids[211] not in local and ids[212] not in local
    assert len(ids) == 213


def test_union_find_matches_loop_reference():
    """The vectorized union-find labels like the golden oracle's loop,
    including long paths whose ids run against the path order."""
    import random

    import numpy as np

    from deduce_spark.golden import _UnionFind

    rng = random.Random(3)
    for trial in range(60):
        ids = [rng.randrange(-(1 << 62), 1 << 62) for _ in range(rng.choice([2, 40, 400]))]
        if trial % 3:
            edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(len(ids))]
        else:
            edges = list(zip(ids, ids[1:]))
        uf = _UnionFind()
        for a, b in edges:
            uf.union(a, b)
        out = kg._union_find(*(np.array(c, dtype=np.int64) for c in zip(*edges)))
        assert dict(zip(out["surface_id"], out["component"])) == uf.labels()


def test_canonicalize_spark_job_count(spark):
    """Pins the Spark jobs canonicalize and one surface-map count launch on
    a small frame, so a reintroduced action or Python stage fails here."""
    m = spark.createDataFrame(
        [("jan de vries", "persoon"), ("jan de vriess", "persoon"),
         ("utrecht", "locatie"), ("10 oktober 2018", "datum")],
        ["text", "tag"],
    )
    sc = spark.sparkContext
    group = "test_canonicalize_spark_job_count"
    sc.setJobGroup(group, "canonicalize jobs")
    try:
        surface_map, _nodes = kg.canonicalize(m)
        surface_map.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    surface_map.unpersist()
    assert n_jobs == 9


def test_incremental_canonicalize_spark_job_count(spark):
    """Pins the Spark jobs one fold and one count of the updated surface
    map launch on small frames, as the batch pin above does."""
    m = spark.createDataFrame(
        [("jan de vries", "persoon"), ("utrecht", "locatie"),
         ("10 oktober 2018", "datum")],
        ["text", "tag"],
    )
    base, _ = kg.canonicalize(m)
    inc = spark.createDataFrame(
        [("jan de vriess", "persoon"), ("utrecht", "locatie"),
         ("rotterdam", "locatie"), ("11 oktober 2018", "datum")],
        ["text", "tag"],
    )
    sc = spark.sparkContext
    group = "test_incremental_canonicalize_spark_job_count"
    sc.setJobGroup(group, "incremental_canonicalize jobs")
    try:
        surface_map, _nodes = kg.incremental_canonicalize(inc, base)
        surface_map.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    surface_map.unpersist()
    base.unpersist()
    assert n_jobs == 15


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    comp = {r["surface_id"]: r["component"]
            for r in kg.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10


def test_canonicalize_and_triples(mentions):
    surface_map, nodes = kg.canonicalize(mentions)
    nrows = nodes.collect()
    assert len(nrows) > 10
    types = {r["type"] for r in nrows}
    assert {"PERSOON", "LOCATIE", "DATUM", "PHI"} <= types

    t = kg.triples(mentions, surface_map)
    preds = {r["pred"] for r in t.select("pred").distinct().collect()}
    assert preds == {
        "mentions", "hasType", "hasSurfaceForm", "publishedAt", "coOccursWith"
    }
    # every mention row yields exactly one `mentions` triple
    assert t.filter(F.col("pred") == "mentions").count() == mentions.count()


def test_salted_repartition(mentions):
    df = kg.salted_repartition(mentions, 8)
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == mentions.count()


def test_link_scores(spark, pipeline, engine, pages_path):
    from deduce_spark.spark import kg

    pages = spark.read.parquet(pages_path)
    mentions = pipeline.mentions_long(
        pipeline.annotate_pages(pages, lang="nl", with_text=False,
                                with_redacted=False)
    )
    _sm, nodes = kg.canonicalize(mentions)
    bc = spark.sparkContext.broadcast(kg.build_link_dicts(engine))
    scored = kg.link_scores(nodes, bc).collect()
    assert len(scored) == nodes.count()
    by_type = {}
    for r in scored:
        assert 0.0 <= r.link_score <= 1.0
        by_type.setdefault(r.type, []).append(r)
    # DATUM/PHI have no dictionaries -> structural 1.0
    for t in ("DATUM", "PHI"):
        for r in by_type.get(t, []):
            assert r.link_evidence == "structural" and r.link_score == 1.0
    # fixture persons/institutions come FROM the reference lists, so the
    # bulk of name-like entities must link with positive evidence
    name_like = [r for t in ("PERSOON", "INSTELLING") for r in by_type.get(t, [])]
    assert name_like
    linked = [r for r in name_like if r.link_score > 0]
    assert len(linked) >= 0.8 * len(name_like)
    exact = [r for r in name_like if r.link_evidence == "exact"]
    assert exact, "expected at least some exact dictionary hits"


def test_connected_components_distributed_agrees_with_local(spark):
    # deterministic pseudo-random graph: chains, stars, a cycle, singleton
    # pairs — force the distributed min-label path with local_threshold=0
    # and require bit-identical labels vs the driver union-find path
    edges = []
    x = 1
    for i in range(60):
        x = (x * 48271) % 2147483647
        a = x % 500
        x = (x * 48271) % 2147483647
        b = x % 500
        if a != b:
            edges.append((int(a), int(b)))
    edges += [(1000, 1001), (1001, 1002), (1002, 1000)]  # cycle
    df = spark.createDataFrame(edges, ["a", "b"])
    local = {r["surface_id"]: r["component"]
             for r in kg.connected_components(df).collect()}
    dist = {r["surface_id"]: r["component"]
            for r in kg.connected_components(df, local_threshold=0).collect()}
    assert dist == local
    # canonical label is the minimum member of each component
    for node, comp in dist.items():
        assert comp <= node


def test_salted_repartition_defuses_hot_domain(spark):
    # 90% of rows from one hot domain: unsalted domain-hash partitioning
    # puts them all in ONE partition; salting must spread them
    rows = [(f"https://hot.example/{i}", None) for i in range(900)]
    rows += [(f"https://site{i}.example/x", None) for i in range(100)]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    from pyspark.sql import functions as F

    dom = F.regexp_extract(F.col("url"), r"https?://([^/]+)/", 1)
    unsalted_sizes = (
        df.repartition(8, F.hash(dom)).rdd.glom().map(len).collect()
    )
    salted_sizes = (
        kg.salted_repartition(df, 8).rdd.glom().map(len).collect()
    )
    assert max(unsalted_sizes) >= 900          # hot domain lands whole
    assert max(salted_sizes) <= 450            # spread over salt buckets
    assert sum(salted_sizes) == 1000


def test_kg_output_is_partitioning_invariant(spark, pipeline, pages_path):
    """Identical triples regardless of input partitioning — hashes, LSH
    bucketing, CC labels, canonical-form and cooc-cap tie-breaks must all
    be layout-independent (exact-resume prerequisite)."""
    def build(pages):
        mentions = pipeline.mentions_long(
            pipeline.annotate_pages(pages, lang="nl", with_text=False,
                                    with_redacted=False)
        ).cache()
        sm, nodes = kg.canonicalize(mentions)
        tr = kg.triples(mentions, sm)
        return sorted(
            (r.subj, r.pred, r.obj, r.url) for r in tr.collect()
        ), sorted((r.entity_id, r.type, r.canonical_form, r.n_mentions)
                  for r in nodes.collect())

    base = spark.read.parquet(pages_path)
    t1, n1 = build(base.repartition(1))
    t2, n2 = build(base.repartition(13))
    assert n1 == n2
    assert t1 == t2


def test_cc_two_phase_long_chain(spark):
    # a 2,000-node path graph has diameter 1,999: min-label propagation
    # would need ~2,000 rounds, the small-star/large-star alternation
    # converges within the 12-round cap (O(log^2 n))
    from pyspark.sql import functions as F

    edges = spark.range(0, 1999).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    comp = {
        r["surface_id"]: r["component"]
        for r in kg.connected_components(edges, local_threshold=0).collect()
    }
    assert len(comp) == 2000
    assert set(comp.values()) == {0}


class TestGraphAnalytics:
    def test_pagerank_partitioning_invariant(self, spark):
        from deduce_spark.spark.kg import pagerank_quantized

        # path + triangle + isolate-pair: known structure
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)], "a long, b long"
        )
        a = sorted(map(tuple, pagerank_quantized(edges).collect()))
        b = sorted(map(tuple, pagerank_quantized(edges.repartition(7)).collect()))
        assert a == b
        r = dict(a)
        # triangle members outrank the pendant, pendant outranks nothing odd
        assert r[3] > r[4]
        assert r[1] == r[2]          # symmetric positions -> identical rank
        assert r[10] == r[11]

    def test_triangle_count_exact_and_hub_cap(self, spark):
        from deduce_spark.spark.kg import triangle_count

        # K4 has 4 triangles
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        edges = spark.createDataFrame(k4, "a long, b long")
        row = triangle_count(edges).collect()[0]
        assert (row["n_nodes_kept"], row["n_edges_kept"], row["n_triangles"]) == (4, 6, 4)
        # hub cap: star node with degree 5 removed -> no triangles left
        star = [(0, i) for i in range(1, 6)] + [(1, 2)]
        edges2 = spark.createDataFrame(star, "a long, b long")
        row2 = triangle_count(edges2, max_degree=4).collect()[0]
        assert row2["n_triangles"] == 0 and row2["n_nodes_kept"] == 2


class TestIncrementalCanonicalize:
    def _mentions(self, spark, rows):
        return spark.createDataFrame(rows, "text string, tag string")

    def test_increment_matches_batch_rules(self, spark):
        from deduce_spark.spark.kg import canonicalize, incremental_canonicalize

        base = self._mentions(
            spark,
            [
                ("Jan Jansen", "persoon"),
                ("Jan Jansen", "persoon"),
                ("Utrecht", "locatie"),
                ("12 maart 2020", "datum"),
            ],
        )
        sm0, n0 = canonicalize(base)
        ent = {
            (r["surface"], r["type"]): r["entity_id"] for r in sm0.collect()
        }

        inc = self._mentions(
            spark,
            [
                ("Jan Jansen", "persoon"),     # exact repeat -> count merge
                ("Jan  Jansen", "persoon"),    # normalizes to the same surface
                ("Jan Jansenn", "persoon"),    # fuzzy variant -> adopts entity
                ("Rotterdam", "locatie"),      # brand new -> new entity
                ("Pietersen BV", "zorginstelling"),  # new; below: its near-dup
                ("Pietersen B.V", "zorginstelling"),
            ],
        )
        sm1, n1 = incremental_canonicalize(inc, sm0)
        got = {
            (r["surface"], r["type"]): (r["entity_id"], r["n_mentions"])
            for r in sm1.collect()
        }

        jj = ("jan jansen", "PERSOON")
        # exact + normalized repeats merged: 2 old + 2 new mentions
        assert got[jj][0] == ent[jj]
        assert got[jj][1] == 4
        # fuzzy variant adopted the existing entity
        assert got[("jan jansenn", "PERSOON")][0] == ent[jj]
        # untouched existing surface kept entity and count
        assert got[("utrecht", "LOCATIE")] == (ent[("utrecht", "LOCATIE")], 1)
        # brand-new independent surface got a fresh entity (its own id)
        rot = got[("rotterdam", "LOCATIE")]
        assert rot[0] not in {e for e in ent.values()}
        # two novel near-dups clustered together into ONE new entity
        p1 = got[("pietersen bv", "INSTELLING")]
        p2 = got[("pietersen b.v", "INSTELLING")]
        assert p1[0] == p2[0]
        assert p1[0] not in {e for e in ent.values()}
        # nodes table consistent: canonical form of the jj entity unchanged
        forms = {
            (r["entity_id"], r["type"]): (r["canonical_form"], r["n_mentions"])
            for r in n1.collect()
        }
        assert forms[(ent[jj], "PERSOON")][0] == "jan jansen"
        assert forms[(ent[jj], "PERSOON")][1] == 5  # 4 + fuzzy variant

    def test_empty_increment_is_identity(self, spark):
        from deduce_spark.spark.kg import canonicalize, incremental_canonicalize

        base = self._mentions(spark, [("Jan Jansen", "persoon")])
        sm0, _ = canonicalize(base)
        empty = self._mentions(spark, []) if False else spark.createDataFrame(
            [], "text string, tag string"
        )
        sm1, n1 = incremental_canonicalize(empty, sm0)
        assert sorted(map(tuple, sm1.collect())) == sorted(map(tuple, sm0.collect()))


    @pytest.fixture(scope="class")
    def pool_ds(self):
        from perfbench.workloads import load_engine

        return load_engine().ds

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_fold_matches_sequential_oracle(self, spark, pool_ds, seed):
        """A perfbench base graph plus its fold batch: every surface-map
        and node row, novel entity ids included, equals the pure-Python
        replica."""
        from deduce_spark.golden import (
            canonicalize_seq, incremental_canonicalize_seq,
        )
        from perfbench import gen
        from perfbench.workloads import FOLD_PAGES, KG_ENTITIES, KG_PAGES

        pool = gen.entity_pool(pool_ds, seed, KG_ENTITIES)
        base = gen.kg_mentions(seed, pool, 0, KG_PAGES)[["text", "tag"]]
        batch = gen.kg_mentions(seed, pool, KG_PAGES, FOLD_PAGES)[["text", "tag"]]
        sm0, _ = kg.canonicalize(spark.createDataFrame(base))
        sm1, n1 = kg.incremental_canonicalize(spark.createDataFrame(batch), sm0)
        want_sm, want_nodes = incremental_canonicalize_seq(base, batch)
        got_sm = {
            (r["surface"], r["type"], r["surface_id"], r["entity_id"],
             r["n_mentions"]) for r in sm1.collect()
        }
        got_nodes = {tuple(r) for r in n1.collect()}
        sm1.unpersist()
        sm0.unpersist()
        assert got_sm == set(want_sm)
        assert got_nodes == set(want_nodes)
        # the batch brings novel fuzzy surfaces, adopted and not
        base_sm, _ = canonicalize_seq(base)
        base_ids = {e for _s, _t, _sid, e, _n in base_sm}
        novel = want_sm[len(base_sm):]
        assert any(e in base_ids for _s, t, _sid, e, _n in novel
                   if t in kg.FUZZY_TYPES)
        assert any(e not in base_ids for _s, t, _sid, e, _n in novel
                   if t in kg.FUZZY_TYPES)

    def test_adoption_probe_rules(self, spark, monkeypatch):
        """Synthetic signatures through the whole fold: the novel-vs-
        existing probe skips a bucket of 65 existing rows but keeps 64
        existing rows plus 10 novel ones, verifies at 45/64 and not 44/64,
        keys buckets by type, and keeps full-range (negative) entity ids
        exact while a novel cluster takes its members' minimum adoption."""
        import numpy as np

        existing, novel = _synthetic_fold()
        sig_of = {
            tuple(kg._shingle_hashes(s).tolist()): sig
            for s, _ty, sig in existing + novel
        }
        monkeypatch.setattr(
            kg, "minhash_matrix",
            lambda arrays: np.array(
                [sig_of[tuple(a.tolist())] for a in arrays], dtype=np.int64
            ).reshape(-1, kg.N_HASHES),
        )
        ent = {s: _ENTITY.get(s, -(1 << 63) + 11 + 2 * i)
               for i, (s, _ty, _sig) in enumerate(existing)}
        sm0 = spark.createDataFrame(
            [(s, ty, 1, i + 1, ent[s]) for i, (s, ty, _sig) in enumerate(existing)],
            "surface string, type string, n_mentions long, surface_id long,"
            " entity_id long",
        )
        tag = {"PERSOON": "persoon", "LOCATIE": "locatie",
               "INSTELLING": "zorginstelling"}
        inc = spark.createDataFrame(
            [(s, tag[ty]) for s, ty, _sig in novel], "text string, tag string"
        )
        sm1, _ = kg.incremental_canonicalize(inc, sm0)
        rows = sm1.collect()
        sm1.unpersist()
        got = {r["surface"]: r["entity_id"] for r in rows}
        sid = {r["surface"]: r["surface_id"] for r in rows}
        assert len(rows) == len(existing) + len(novel)
        assert all(got[s] == ent[s] for s in ent)
        own = [s for s, _ty, _sig in novel
               if s not in ("nb0", "n45", "np", "nm", "c1", "c2", "d1", "d2")]
        # 65-bucket, the 9 other novel rows of the 64-bucket, 44/64, and
        # the LOCATIE copy of a PERSOON signature: own entities
        assert {"na", "n44", "nl", "nb1", "nb9"} <= set(own)
        assert all(got[s] == sid[s] for s in own)
        assert got["nb0"] == ent["b0"]
        assert got["n45"] == ent["e45"]
        assert got["np"] == ent["p0"]
        assert got["nm"] == min(ent["m1"], ent["m2"]) == -(1 << 63) + 3
        assert got["c1"] == got["c2"] == min(ent["x1"], ent["x2"])
        assert got["d1"] == got["d2"] == min(sid["d1"], sid["d2"])


# entity ids the probe test pins: full-range, and odd near the int64
# minimum, where a float64 round trip would move them
_ENTITY = {"m1": (1 << 63) - 1, "m2": -(1 << 63) + 3, "x1": 5, "x2": -7}


def _synthetic_fold():
    """(existing, novel) rows of (surface, type, signature) for the
    adoption probe; each novel row is named for the case it pins."""
    import random

    rng = random.Random(11)
    existing: list[tuple[str, str, list[int]]] = []
    novel: list[tuple[str, str, list[int]]] = []

    def add(rows, name, ty, sig=None):
        if sig is None:
            sig = [rng.randrange(1, 1 << 40) for _ in range(kg.N_HASHES)]
        rows.append((name, ty, sig))
        return sig

    def near(sig):
        # shares band 0 whole and 3 of 4 positions of every other band:
        # 49 equal positions, one shared bucket
        new = [rng.randrange(1, 1 << 40) for _ in range(kg.N_HASHES)]
        new[:4] = sig[:4]
        for b in range(1, kg.N_BANDS):
            new[4 * b : 4 * b + 3] = sig[4 * b : 4 * b + 3]
        return new

    def changed(sig, positions):
        new = list(sig)
        for i in positions:
            new[i] = rng.randrange(1, 1 << 40)
        return new

    def keyed(rows, name, ty, key):
        sig = add(rows, name, ty)
        sig[:4] = [key] * 4
        return sig

    # 65 existing rows in one bucket: skipped, so its near novel row
    a0 = keyed(existing, "a0", "PERSOON", 11)
    for i in range(1, 65):
        keyed(existing, f"a{i}", "PERSOON", 11)
    add(novel, "na", "PERSOON", near(a0))
    # 64 existing rows plus 10 novel ones: kept, novel rows do not count
    b0 = keyed(existing, "b0", "PERSOON", 22)
    for i in range(1, 64):
        keyed(existing, f"b{i}", "PERSOON", 22)
    add(novel, "nb0", "PERSOON", near(b0))
    for i in range(1, 10):
        keyed(novel, f"nb{i}", "PERSOON", 22)
    # 45/64 equal positions adopt, 44/64 do not
    for n_equal in (45, 44):
        e = add(existing, f"e{n_equal}", "INSTELLING")
        add(novel, f"n{n_equal}", "INSTELLING", e[:n_equal] + changed(
            e, range(kg.N_HASHES))[n_equal:])
    # 40 PERSOON + 40 LOCATIE existing rows share one slice: under the cap
    # per type, so a near PERSOON row adopts; a LOCATIE copy of a PERSOON
    # signature matches nothing
    p0 = keyed(existing, "p0", "PERSOON", 33)
    for i in range(1, 40):
        keyed(existing, f"p{i}", "PERSOON", 33)
    for i in range(40):
        keyed(existing, f"l{i}", "LOCATIE", 33)
    add(novel, "np", "PERSOON", near(p0))
    add(novel, "nl", "LOCATIE", list(p0))
    # one novel row verifies against two existing entities: the minimum
    m1 = add(existing, "m1", "LOCATIE")
    add(existing, "m2", "LOCATIE", list(m1))
    add(novel, "nm", "LOCATIE", changed(m1, range(8)))
    # a novel cluster whose members adopt different entities takes the
    # minimum; one that adopts none takes its component id
    c1 = add(novel, "c1", "INSTELLING")
    c2 = add(novel, "c2", "INSTELLING", changed(c1, range(8)))
    add(existing, "x1", "INSTELLING", changed(c1, range(20, 36)))
    add(existing, "x2", "INSTELLING", changed(c2, range(8, 20)))
    d1 = add(novel, "d1", "PERSOON")
    add(novel, "d2", "PERSOON", changed(d1, range(8)))
    return existing, novel


class TestCompaction:
    """Entity-merge compaction: incremental ingest never merges EXISTING
    entities (documented caveat), so a bridge surface arriving late leaves
    one real entity split in two.  compact_canonicalize re-runs the batch
    rules and emits an old->new id map that converges the split."""

    # est-jaccard chain (verified against surface_sig):
    #   X~Z = 0.812, Z~Y = 0.766 (both >= 0.7), X~Y = 0.641 (< 0.7)
    X = "Sint Anna Hospitaal"
    Z = "Sint Anna Hospitaal Delft"
    Y = "Sint Anna Hospitaal Delft West"

    def _mentions(self, spark, rows):
        return spark.createDataFrame(rows, "text string, tag string")

    def _split_map(self, spark):
        from deduce_spark.spark.kg import canonicalize, incremental_canonicalize

        sm0, _ = canonicalize(
            self._mentions(spark, [(self.X, "ziekenhuis")])
        )
        # Y is not similar enough to X -> own entity
        sm1, _ = incremental_canonicalize(
            self._mentions(spark, [(self.Y, "ziekenhuis")]), sm0
        )
        # Z bridges X and Y but adopts only the minimum entity -> split
        sm2, _ = incremental_canonicalize(
            self._mentions(spark, [(self.Z, "ziekenhuis")]), sm1
        )
        return sm2

    def test_compaction_converges_split(self, spark):
        from deduce_spark.spark.kg import canonicalize, compact_canonicalize

        sm2 = self._split_map(spark)
        ents = {r["surface"]: r["entity_id"] for r in sm2.collect()}
        assert len(set(ents.values())) == 2  # the split exists pre-compaction

        new_sm, new_nodes, id_map = compact_canonicalize(sm2)
        got = {r["surface"]: r["entity_id"] for r in new_sm.collect()}
        assert len(set(got.values())) == 1  # converged to one entity

        # batch path over ALL mentions gives the same labels
        batch_sm, _ = canonicalize(
            self._mentions(
                spark,
                [(self.X, "ziekenhuis"), (self.Y, "ziekenhuis"),
                 (self.Z, "ziekenhuis")],
            )
        )
        batch = {r["surface"]: r["entity_id"] for r in batch_sm.collect()}
        assert got == batch

        # id_map covers both old entities and sends them to the one new id
        mapping = {
            r["old_entity_id"]: r["new_entity_id"] for r in id_map.collect()
        }
        assert set(mapping.keys()) == set(ents.values())
        assert set(mapping.values()) == set(got.values())

        # n_mentions preserved through compaction
        n = {r["surface"]: r["n_mentions"] for r in new_sm.collect()}
        assert n == {r["surface"]: r["n_mentions"] for r in sm2.collect()}
        # nodes table consistent with the compacted map
        node_rows = new_nodes.collect()
        assert len(node_rows) == 1
        assert node_rows[0]["n_mentions"] == 3

    def test_remap_triples(self, spark):
        from deduce_spark.spark.kg import compact_canonicalize, remap_triples

        sm2 = self._split_map(spark)
        ents = {r["surface"]: r["entity_id"] for r in sm2.collect()}
        e_ids = sorted(set(ents.values()))
        e1, e2 = str(e_ids[0]), str(e_ids[1])
        _, _, id_map = compact_canonicalize(sm2)

        triples = spark.createDataFrame(
            [
                ("http://a/", "mentions", e1, "http://a/", "t0"),
                ("http://a/", "mentions", e2, "http://a/", "t0"),
                (e1, "hasType", "INSTELLING", "http://a/", "t0"),
                (e2, "hasType", "INSTELLING", "http://a/", "t0"),
                (min(e1, e2, key=int), "coOccursWith",
                 max(e1, e2, key=int), "http://a/", "t0"),
                ("http://a/", "publishedAt", "t0", "http://a/", "t0"),
            ],
            "subj string, pred string, obj string, url string, warc_ts string",
        )
        out = remap_triples(triples, id_map)
        rows = {tuple(r) for r in out.collect()}
        new_id = str(
            id_map.select("new_entity_id").distinct().collect()[0][0]
        )
        # both mentions rows collapse onto the merged entity (distinct)
        assert ("http://a/", "mentions", new_id, "http://a/", "t0") in rows
        # hasType rows collapse to one
        assert (new_id, "hasType", "INSTELLING", "http://a/", "t0") in rows
        # the cooc edge became a self-loop -> dropped
        assert not any(r[1] == "coOccursWith" for r in rows)
        # url-subject families untouched
        assert ("http://a/", "publishedAt", "t0", "http://a/", "t0") in rows
        assert len(rows) == 3

    def test_compaction_identity_when_no_split(self, spark):
        from deduce_spark.spark.kg import canonicalize, compact_canonicalize

        sm0, _ = canonicalize(
            self._mentions(
                spark, [(self.X, "ziekenhuis"), ("Utrecht", "locatie")]
            )
        )
        new_sm, _, id_map = compact_canonicalize(sm0)
        assert sorted(map(tuple, new_sm.collect())) == sorted(
            map(tuple, sm0.collect())
        )
        mapping = {
            r["old_entity_id"]: r["new_entity_id"] for r in id_map.collect()
        }
        assert all(k == v for k, v in mapping.items())

    def test_remap_preserves_mention_multiplicity(self, spark):
        # two byte-identical 'mentions' rows (one per mention occurrence)
        # must BOTH survive remapping — only the cooc family deduplicates
        from deduce_spark.spark.kg import compact_canonicalize, remap_triples

        sm2 = self._split_map(spark)
        _, _, id_map = compact_canonicalize(sm2)
        ents = sorted({r["entity_id"] for r in sm2.collect()})
        e1 = str(ents[0])
        triples = spark.createDataFrame(
            [
                ("http://a/", "mentions", e1, "http://a/", "t0"),
                ("http://a/", "mentions", e1, "http://a/", "t0"),
            ],
            "subj string, pred string, obj string, url string, warc_ts string",
        )
        out = remap_triples(triples, id_map).collect()
        assert len(out) == 2


def test_cc_and_pagerank_directory_checkpoint(spark, tmp_path):
    # round-6 injectable lineage-cut: a reliable checkpoint directory
    # must reproduce the default (localCheckpoint) results bit-for-bit
    # on both iterative kg operators.
    from deduce_spark.spark.kg import connected_components, pagerank_quantized

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11), (11, 12)],
        "a long, b long",
    )
    ck = str(tmp_path / "kgck")
    cc_def = sorted(map(tuple, connected_components(
        edges, local_threshold=0
    ).collect()))
    cc_dir = sorted(map(tuple, connected_components(
        edges, local_threshold=0, checkpoint=ck
    ).collect()))
    assert cc_def == cc_dir and len(cc_def) == 7
    pr_def = sorted(map(tuple, pagerank_quantized(edges).collect()))
    pr_dir = sorted(map(tuple, pagerank_quantized(
        edges, checkpoint=ck
    ).collect()))
    assert pr_def == pr_dir and len(pr_def) == 7


class TestAnchorEvidence:
    """Round-6: anchor text as canonical-form naming evidence
    (kg.anchor_surface_weights / nodes_from_surface_map anchor_weights /
    canonicalize(anchors=))."""

    def test_weights_normalize_count_and_restrict(self, spark):
        anchors = spark.createDataFrame(
            [("s1", "https://a.nl/x", "  Jan  JANSEN "),
             ("s2", "https://a.nl/x", "jan jansen"),
             ("s3", "https://gone.nl/y", "jan jansen"),  # dst never crawled
             ("s4", "https://a.nl/x", " ")],             # empty after norm
            "src_url string, dst_url string, anchor string",
        )
        m = spark.createDataFrame(
            [("https://a.nl/x", "Jan Jansen", "persoon")],
            "url string, text string, tag string",
        )
        w = {r["surface"]: r["anchor_n"]
             for r in kg.anchor_surface_weights(anchors, m).collect()}
        assert w == {"jan jansen": 2}
        w_all = {r["surface"]: r["anchor_n"]
                 for r in kg.anchor_surface_weights(anchors).collect()}
        assert w_all == {"jan jansen": 3}

    def test_votes_flip_canonical_form_not_identity(self, spark):
        sm = spark.createDataFrame(
            [("jan jansen", "PERSOON", 1, 10, 5),
             ("j jansen", "PERSOON", 2, 10, 3),
             ("piet", "PERSOON", 3, 20, 2)],
            "surface string, type string, surface_id long, "
            "entity_id long, n_mentions long",
        )
        before = {r["entity_id"]: r["canonical_form"]
                  for r in kg.nodes_from_surface_map(sm).collect()}
        assert before == {10: "jan jansen", 20: "piet"}
        weights = spark.createDataFrame(
            [("j jansen", 4)], "surface string, anchor_n long"
        )
        after = {r["entity_id"]: (r["canonical_form"], r["n_mentions"])
                 for r in kg.nodes_from_surface_map(sm, weights).collect()}
        # 3 + 4 votes beat 5; n_mentions output stays the pure mention sum
        assert after == {10: ("j jansen", 8), 20: ("piet", 2)}

    def test_tie_after_votes_breaks_on_surface(self, spark):
        sm = spark.createDataFrame(
            [("bb", "PERSOON", 1, 10, 5), ("aa", "PERSOON", 2, 10, 3)],
            "surface string, type string, surface_id long, "
            "entity_id long, n_mentions long",
        )
        weights = spark.createDataFrame(
            [("aa", 2)], "surface string, anchor_n long"
        )
        got = kg.nodes_from_surface_map(sm, weights).collect()
        assert got[0]["canonical_form"] == "aa"  # 5 == 5 tie -> lex min

    def test_canonicalize_anchors_passthrough(self, spark):
        # two LSH-mergeable surfaces; anchors out-vote the mention argmax
        rows = [("https://h.nl/p%d" % i, "2024-01-01",
                 "jan van der vries", "persoon") for i in range(3)]
        rows.append(("https://h.nl/p9", "2024-01-01",
                     "jan van der vriess", "persoon"))
        m = spark.createDataFrame(
            rows, "url string, warc_ts string, text string, tag string"
        )
        sm0, nodes0 = kg.canonicalize(m)
        forms0 = {r["canonical_form"] for r in nodes0.collect()}
        if "jan van der vries" not in forms0 or len(nodes0.collect()) != 1:
            pytest.skip("fixture surfaces did not LSH-merge")
        anchors = spark.createDataFrame(
            [("https://ext%d.nl" % i, "https://h.nl/p9",
              "Jan van der Vriess") for i in range(5)],
            "src_url string, dst_url string, anchor string",
        )
        _sm1, nodes1 = kg.canonicalize(m, anchors=anchors)
        got = nodes1.collect()
        assert len(got) == 1
        assert got[0]["canonical_form"] == "jan van der vriess"
        assert got[0]["n_mentions"] == 4


def test_anchor_evidence_flips_on_committed_fixture():
    """E2e assertion (round-6 verdict #6): on the real page fixture the
    anchor-evidence query changes at least one entity's canonical surface
    at every committed tier (golden replica = Spark query, pinned by the
    driver compare; this pins the EFFECT is non-trivial)."""
    import pandas as pd
    from pathlib import Path

    root = Path(__file__).resolve().parents[2] / "data" / "golden"
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        df = pd.read_parquet(root / sf / "kg_anchor_canon.parquet")
        assert int(df["n_flipped"].sum()) >= 1, sf
        assert int(df["n_entities"].sum()) > 100, sf

    def test_weights_match_canonicalized_dst(self, spark):
        # review fix: real crawls store RAW urls in mentions while
        # extract_anchors canonicalizes link targets — the semi join must
        # canonicalize the mention side too or every vote drops
        anchors = spark.createDataFrame(
            [("s1", "https://site.nl/a", "jan jansen")],
            "src_url string, dst_url string, anchor string",
        )
        m = spark.createDataFrame(
            [("HTTPS://WWW.Site.nl:443/a?utm_source=x", "Jan Jansen",
              "persoon")],
            "url string, text string, tag string",
        )
        w = {r["surface"]: r["anchor_n"]
             for r in kg.anchor_surface_weights(anchors, m).collect()}
        assert w == {"jan jansen": 1}
