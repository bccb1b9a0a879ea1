"""Knowledge-graph construction: entity canonicalization + triple tables.

Stages (SURVEY.md §1 tail / north_star):

1. surface normalization (native Spark expressions — stays in codegen);
2. MinHash signatures over char 3-shingles (the tiled
   :func:`minhash_matrix` kernel);
3. LSH banding -> candidate pairs (16 bands x 4 rows keyed by type,
   buckets over 64 members dropped whole, est-jaccard verify);
4. connected components with min-member labels.

   Every LSH caller runs stages 2-4 on the driver
   (:func:`local_lsh_components`): batch canonicalization, compaction,
   incremental folds (plus their probe of the existing surfaces,
   :func:`_adoption_pairs`) and ``dedup.minhash_dedup``.  The distributed
   twin — an Arrow-batched UDF (:func:`surface_signatures`),
   :func:`lsh_bands` and a bucket self-join under ``parallel.cap_buckets``
   (:func:`candidate_pairs`), then :func:`connected_components` — serves
   no LSH caller: it stays as the reference the parity test and
   perfbench's replay read (``similarity.semantic_dedup`` still labels its
   own pairs with :func:`connected_components`).  Both give the same
   labels;
5. canonical entity id = min stable hash in the component;
6. nodes / edges (triples) materialization, salted against hot-domain skew.

Every hash is deterministic across processes (crc32 / xxhash64 via Spark,
numpy permutations seeded with a fixed constant) — required for the
exact-resume and differential-test guarantees.

Stages 2-4 are the one MinHash-LSH core of the package: ``dedup`` signs
documents with :func:`minhash_matrix` and clusters them with
:func:`local_lsh_components` under one constant bucket type; both
union-finds are :func:`_union_find`.
"""

from __future__ import annotations

import threading
import zlib
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduce_spark.spark.checkpointing import CheckpointArg, make_checkpointer
from deduce_spark.spark.parallel import cap_buckets

N_HASHES = 64
# 16 bands x 4 rows RECALLS jaccard >= 0.7 with p > 0.99, and the
# signature-estimated-jaccard verify restores PRECISION.  Surface
# canonicalization wants near-identical strings only (typos, case,
# whitespace variants), hence its 0.7 threshold; document dedup passes its
# own.
N_BANDS = 16
SURFACE_JACCARD = 0.7
# buckets with more members are dropped whole (parallel.cap_buckets)
SURFACE_MAX_BUCKET = 64
_MERSENNE = (1 << 61) - 1
_RNG = np.random.RandomState(42)
_PERM_A = _RNG.randint(1, _MERSENNE, size=N_HASHES, dtype=np.uint64)
_PERM_B = _RNG.randint(0, _MERSENNE, size=N_HASHES, dtype=np.uint64)

PHI_TAGS = ("bsn", "id", "telefoonnummer", "emailadres", "url", "leeftijd")


def node_type(tag_col):
    """Mention tag -> KG node type (SURVEY.md §1: PERSOON/LOCATIE/
    INSTELLING/DATUM/PHI)."""
    return (
        F.when(tag_col.isin("patient", "persoon"), "PERSOON")
        .when(tag_col == "locatie", "LOCATIE")
        .when(tag_col.isin("ziekenhuis", "zorginstelling"), "INSTELLING")
        .when(tag_col == "datum", "DATUM")
        .when(tag_col.isin(*PHI_TAGS), "PHI")
        .otherwise("OVERIG")
    )


def normalize_surface(col):
    """Lowercase, strip accents-ish chars, collapse whitespace (native)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def surfaces(mentions: DataFrame) -> DataFrame:
    """Distinct (surface, type) with stable 64-bit ids and mention counts."""
    return (
        mentions.select(
            normalize_surface(F.col("text")).alias("surface"),
            node_type(F.col("tag")).alias("type"),
        )
        .groupBy("surface", "type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .withColumn("surface_id", F.xxhash64("surface", "type"))
    )


# -- MinHash signatures ------------------------------------------------------

_SIG_SCHEMA = T.StructType(
    [
        T.StructField("surface_id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ]
)


def _shingle_hashes(s: str) -> np.ndarray:
    b = s.encode("utf-8")
    if len(b) < 3:
        return np.array([zlib.crc32(b)], dtype=np.uint64)
    return np.array(
        [zlib.crc32(b[i : i + 3]) for i in range(len(b) - 2)], dtype=np.uint64
    )


def minhash(shingles: np.ndarray) -> list[int]:
    """Reference MinHash of one non-empty shingle-hash array:
    sig[k] = min((a_k * h + b_k) mod p) over the hashes h.  The per-item
    kernel that :func:`minhash_matrix` is pinned against."""
    v = (np.outer(_PERM_A, shingles) + _PERM_B[:, None]) % _MERSENNE
    return [int(x) for x in v.min(axis=1)]


def surface_sig(s: str) -> list[int]:
    """Per-surface minhash signature over char-3-shingle crc32 hashes
    (module-level so the golden-fixture generator replays the EXACT kernel
    outside Spark)."""
    return minhash(_shingle_hashes(s))


# Tile size for the vectorized permute: 64 x 4096 x 8B = 2 MB per
# temporary, so the multiply/add/mod working set stays cache-resident.
# The old 1M-shingle chunks streamed ~0.5 GB temporaries through DRAM,
# which collapses under concurrency (32 parallel workers measured 30x
# slower per doc than this tile — memory bandwidth, not ALU, was the
# wall).  Per-item results are bit-identical for any tile size; a single
# item longer than the tile still forms one chunk.
_MAX_CHUNK_SHINGLES = 1 << 12


def minhash_matrix(shingle_arrays: Iterable[np.ndarray]) -> np.ndarray:
    """Batch-vectorized :func:`minhash` of many non-empty shingle-hash
    arrays as one (items, N_HASHES) int64 matrix (every value is below the
    Mersenne prime 2^61 - 1, so int64 holds it): one (N_HASHES,
    chunk_shingles) permute matrix + segmented min (np.minimum.reduceat)
    instead of a per-item outer product.  Bit-identical to ``minhash``
    (same arithmetic on the same values, only the loop structure changes)
    — pinned by test and by the golden fixtures.  Each caller brings its
    own shingler (char-3 for surfaces, word-3 for documents).

    Items are processed in chunks of at most ``_MAX_CHUNK_SHINGLES`` total
    shingles so the permute matrix (and its arithmetic temporaries) stays
    bounded regardless of Arrow batch size × item length.  The bound is
    across items, NOT within one: a single item larger than the cap still
    forms one chunk (the reduceat segment must cover the whole item), so
    its peak memory is ``64 × its_shingles × 8 B`` — callers clamp long
    items before shingling (``dedup.minhash_signatures``'s
    ``max_doc_words``)."""
    out: list[np.ndarray] = [np.empty((0, N_HASHES), dtype=np.int64)]
    chunk: list[np.ndarray] = []
    chunk_shingles = 0

    def flush():
        nonlocal chunk, chunk_shingles
        if not chunk:
            return
        lengths = np.array([len(a) for a in chunk])
        flat = np.concatenate(chunk)
        v = (np.outer(_PERM_A, flat) + _PERM_B[:, None]) % _MERSENNE
        starts = np.zeros(len(lengths), dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        mins = np.minimum.reduceat(v, starts, axis=1)  # (N_HASHES, n_items)
        out.append(mins.T.astype(np.int64))
        chunk, chunk_shingles = [], 0

    for sh in shingle_arrays:
        if chunk_shingles + len(sh) > _MAX_CHUNK_SHINGLES and chunk:
            flush()
        chunk.append(sh)
        chunk_shingles += len(sh)
    flush()
    return np.concatenate(out)


def surface_signatures(surf: DataFrame) -> DataFrame:
    """(surface_id, type, surface) -> (surface_id, type, minhash sig)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            sigs = minhash_matrix(
                _shingle_hashes(s) for s in batch["surface"]
            ).tolist()
            yield pd.DataFrame(
                {"surface_id": batch["surface_id"], "type": batch["type"],
                 "sig": sigs}
            )

    return surf.select("surface_id", "type", "surface").mapInPandas(
        run, schema=_SIG_SCHEMA
    )


# -- LSH: banding, bucket self-join, est-jaccard verify ----------------------


def lsh_bands(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(surface_id, type, band, band_key): one row per signature band,
    keyed by xxhash64 over (band index, the band's slice of the signature)
    — two signatures share a bucket when they agree on a whole band.
    Native Spark expressions, no UDF."""
    rows_per_band = N_HASHES // n_bands
    return sigs.select(
        "surface_id",
        "type",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def candidate_pairs(
    sigs: DataFrame,
    n_bands: int = N_BANDS,
    min_jaccard: float = SURFACE_JACCARD,
    max_bucket: int = SURFACE_MAX_BUCKET,
) -> DataFrame:
    """LSH banding over surface signatures -> bucket self-join within the
    node type -> (a, b) surface-id pairs, a < b, whose signature-estimated
    jaccard (the share of equal signature positions) reaches
    ``min_jaccard``.

    Buckets larger than ``max_bucket`` are dropped whole
    (:func:`deduce_spark.spark.parallel.cap_buckets`).

    The distributed twin of :func:`local_lsh_components`' pairs, kept as
    its reference: no LSH caller runs it.  The band table is read by the
    bucket count and both join sides, and nothing is cached here, so a
    caller that reuses ``sigs`` caches it itself."""
    bucket = ["type", "band", "band_key"]
    banded = cap_buckets(lsh_bands(sigs, n_bands), bucket, max_bucket)
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            [F.col(f"l.{c}") == F.col(f"r.{c}") for c in bucket]
            + [F.col("l.surface_id") < F.col("r.surface_id")],
        )
        .select(F.col("l.surface_id").alias("a"), F.col("r.surface_id").alias("b"))
        .distinct()
    )
    sig_a, sig_b = (
        sigs.select(F.col("surface_id").alias(n), F.col("sig").alias(f"sig_{n}"))
        for n in "ab"
    )
    # zip_with avoids the per-element struct allocation of arrays_zip+filter:
    # measured 6x faster on the verify stage
    equal = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
        " 0, (acc, v) -> acc + v)"
    )
    return (
        pairs.join(sig_a, "a").join(sig_b, "b")
        .filter(equal / F.lit(N_HASHES) >= min_jaccard)
        .select("a", "b")
    )


def _band_buckets(types: np.ndarray, sig: np.ndarray) -> Iterator[tuple]:
    """Per band, (order, gid): the rows sorted by bucket — (type, the
    band's slice of the signature) — and the bucket number of each sorted
    position.  The sort is stable, so a bucket's rows keep their input
    order."""
    codes = np.unique(np.asarray(types), return_inverse=True)[1]
    rows = N_HASHES // N_BANDS
    for b in range(N_BANDS if len(sig) else 0):
        keys = np.column_stack([codes, sig[:, b * rows : (b + 1) * rows]])
        order = np.lexsort(keys.T)
        sk = keys[order]
        gid = np.concatenate([[0], np.cumsum(np.any(sk[1:] != sk[:-1], 1))])
        yield order, gid


def _verified(sig_a: np.ndarray, a: np.ndarray,
              sig_b: np.ndarray, b: np.ndarray,
              min_jaccard: float = SURFACE_JACCARD) -> np.ndarray:
    """Mask of the pairs (sig_a[a[i]], sig_b[b[i]]) with
    ``equal / N_HASHES >= min_jaccard``; in slices, as the gathered
    signature pairs are 1 KB each."""
    ok = np.empty(len(a), dtype=bool)
    for i in range(0, len(a), 1 << 16):
        part = slice(i, i + (1 << 16))
        equal = np.count_nonzero(sig_a[a[part]] == sig_b[b[part]], axis=1)
        ok[part] = equal / N_HASHES >= min_jaccard
    return ok


def local_lsh_components(
    ids: np.ndarray,
    types: np.ndarray,
    sig: np.ndarray,
    min_jaccard: float = SURFACE_JACCARD,
    max_bucket: int = SURFACE_MAX_BUCKET,
) -> pd.DataFrame:
    """The package's MinHash-LSH core, run on the driver over an (items,
    N_HASHES) signature matrix: (surface_id, component) for the ids in a
    verified pair.  ``N_BANDS`` slices keyed by (type, band, slice),
    buckets over ``max_bucket`` rows dropped whole, pairs kept when
    ``equal / N_HASHES >= min_jaccard``, min-root union-find — the rules
    of the distributed :func:`candidate_pairs` +
    :func:`connected_components`.  Vectorized per band (one lexsort, then
    one pass per in-bucket offset)."""
    sig = np.asarray(sig, dtype=np.int64)
    lo, hi = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for order, gid in _band_buckets(types, sig):
        size = np.bincount(gid)
        kept = size[gid] <= max_bucket
        # members of one bucket are adjacent in ``order``: the pairs at
        # offset d are the adjacent-by-d positions that share a bucket
        largest = int(size[size <= max_bucket].max(initial=1))
        for d in range(1, largest):
            m = (gid[d:] == gid[:-d]) & kept[d:]
            lo.append(order[:-d][m])
            hi.append(order[d:][m])
    lo, hi = np.concatenate(lo), np.concatenate(hi)
    n = max(len(sig), 1)
    pair = np.unique(np.minimum(lo, hi) * n + np.maximum(lo, hi))
    lo, hi = pair // n, pair % n
    ok = _verified(sig, lo, sig, hi, min_jaccard)
    ids = np.asarray(ids, dtype=np.int64)
    return _union_find(ids[lo[ok]], ids[hi[ok]])


def _adoption_pairs(new_types, new_sig, old_types, old_sig) -> tuple:
    """(new row, old row) index pairs that share a bucket under
    :func:`local_lsh_components`' banding and verify.  A bucket holding
    more than ``SURFACE_MAX_BUCKET`` old rows is skipped; new rows do not
    count toward the cap.  Each kept old row pairs with every new row of
    its bucket, which the stable sort puts first in the bucket."""
    n = len(new_sig)
    sig = np.concatenate([new_sig, old_sig])
    a, b = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for order, gid in _band_buckets(np.concatenate([new_types, old_types]), sig):
        old = order >= n
        n_old = np.bincount(gid[old], minlength=gid[-1] + 1)
        n_new = np.bincount(gid[~old], minlength=gid[-1] + 1)
        probe = np.flatnonzero(old & (n_old[gid] <= SURFACE_MAX_BUCKET))
        reps = n_new[gid[probe]]
        at = np.repeat(probe, reps)
        nth = np.arange(len(at)) - np.repeat(np.cumsum(reps) - reps, reps)
        a.append(order[np.searchsorted(gid, gid[at]) + nth])
        b.append(order[at] - n)
    a, b = np.concatenate(a), np.concatenate(b)
    ok = _verified(new_sig, a, old_sig, b)
    return a[ok], b[ok]


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): every node connects its strictly-larger neighbours to the
    minimum of its neighbourhood (including itself)."""
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nbr_min = sym.groupBy("a").agg(F.min("b").alias("mn"))
    m = F.least(F.col("a"), F.col("mn"))
    return (
        sym.join(nbr_min, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), m.alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small; every node connects its
    smaller-or-equal neighbours (and itself) to its minimum neighbour."""
    oriented = edges.filter(F.col("a") != F.col("b")).select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    nbr_min = oriented.groupBy("a").agg(F.min("b").alias("mn"))
    joined = oriented.join(nbr_min, "a")
    to_min = joined.filter(F.col("b") != F.col("mn")).select(
        F.col("b").alias("a"), F.col("mn").alias("b")
    )
    self_edge = joined.select("a", F.col("mn").alias("b"))
    return to_min.union(self_edge).distinct()


def _union_find(a: np.ndarray, b: np.ndarray) -> pd.DataFrame:
    """(surface_id, component) over the undirected edges a[i]-b[i] by a
    driver-side union-find; the min root wins, so every node's component
    is its component's minimum member, the distributed path's label.

    Vectorized over all edges per round: every root hooks onto the
    smallest root across its edges, then parent pointers are jumped to
    their roots.  Roots only ever decrease, so it terminates, and at the
    fixpoint no edge joins two roots."""
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = idx[: len(a)], idx[len(a) :]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[ea], parent[eb]
        hooked = parent.copy()
        np.minimum.at(hooked, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, parent):
            break
        parent = hooked
    return pd.DataFrame({"surface_id": nodes, "component": nodes[parent]})


def connected_components(
    edges: DataFrame,
    max_iter: int = 12,
    local_threshold: int = 2_000_000,
    checkpoint: CheckpointArg = None,
) -> DataFrame:
    """(a, b) undirected edges -> (surface_id, component).

    Near-dup graphs are sparse (edges only between near-identical strings),
    so up to ``local_threshold`` edges a driver-side union-find is both
    exact and orders of magnitude cheaper than iterative joins; above it,
    alternating small-star/large-star rounds (Kiveris et al. 2014) take
    over — O(log² n) rounds regardless of cluster diameter, vs O(diameter)
    for plain min-label propagation, which matters when a 10^12-page corpus
    chains template strings into long paths.  Lineage is truncated per
    round with localCheckpoint; the fixpoint test is an exact aggregate
    signature (count + bit_xor of edge hashes), not a join.  Both paths are
    deterministic and agree (tests/spark/test_kg.py pins bit-identical
    labels).
    """
    cut = make_checkpointer(checkpoint)
    spark = edges.sparkSession
    edges = edges.cache()  # consumed by count + either CC path
    n_edges = edges.count()
    if n_edges == 0:
        connected_components.last_rounds = 0  # don't leak a prior call's
        edges.unpersist()
        return spark.createDataFrame([], "surface_id long, component long")
    if n_edges <= local_threshold:
        pdf = edges.select("a", "b").toPandas()  # Arrow transfer, bounded
        edges.unpersist()
        connected_components.last_rounds = 0  # local union-find path
        # Arrow path: ~10x faster than a list-of-tuples createDataFrame
        return spark.createDataFrame(
            _union_find(pdf["a"].to_numpy(), pdf["b"].to_numpy())
        )
    # every node must appear in the output, including those that converge
    # to roots (roots stop appearing on the `a` side of star edges)
    all_nodes = cut(
        edges.select(F.col("a").alias("surface_id"))
        .union(edges.select(F.col("b").alias("surface_id")))
        .distinct()
    )

    def _signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)
            ).alias("x"),
        ).collect()[0]
        return int(row["n"]), int(row["x"])

    cur = cut(edges.filter(F.col("a") != F.col("b")).distinct())
    # all_nodes and cur are both eagerly checkpointed; nothing reads the
    # input cache again — release it here instead of leaking it per call
    edges.unpersist()
    sig = _signature(cur)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        nxt = cut(_small_star(_large_star(cur)))
        nsig = _signature(nxt)
        cur = nxt
        rounds += 1
        if nsig == sig:
            converged = True
            break
        sig = nsig
    # observability: the 800k-scale stage breakdown reports convergence
    # rounds (logarithmic in component diameter by construction)
    connected_components.last_rounds = rounds
    if not converged:
        # an unconverged star set can label a node with a non-root
        # intermediate (split components) — surface it instead of silently
        # returning wrong clusters.  max_iter rounds cover component
        # diameters ~2^max_iter; hitting this means pathological input.
        raise RuntimeError(
            f"connected_components: small-star/large-star did not converge "
            f"within max_iter={max_iter} rounds ({sig[0]} edges remain "
            "changing); raise max_iter for this input"
        )
    # converged edge set is a union of stars (member -> component min)
    labels = cur.groupBy(F.col("a").alias("surface_id")).agg(
        F.min("b").alias("component")
    )
    return all_nodes.join(labels, "surface_id", "left").select(
        "surface_id", F.coalesce("component", F.col("surface_id")).alias("component")
    )


FUZZY_TYPES = ("PERSOON", "LOCATIE", "INSTELLING")


def canonicalize(
    mentions: DataFrame,
    fuzzy_types: tuple[str, ...] = FUZZY_TYPES,
    anchors: DataFrame | None = None,
    anchor_weights: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """mentions -> (surface_map, nodes).

    surface_map: (surface, type, surface_id, entity_id)
    nodes:       (entity_id, type, canonical_form, n_mentions)

    Only name-like types go through MinHash-LSH fuzzy merging; DATUM/PHI
    surfaces are identity-canonicalized — '10 oktober 2018' and
    '11 oktober 2018' are different entities even though their edit
    distance is 1 (fuzzy-merging dates also creates quadratic hot
    clusters at scale).

    ``anchors`` (optional, extract_anchors output) feeds anchor text in
    as canonical-form naming evidence: votes from anchors resolving to
    crawled pages are added to each surface's mention count when the
    canonical form is picked (see :func:`anchor_surface_weights` /
    :func:`nodes_from_surface_map`).  Entity identity (surface_map) is
    NOT affected — anchors name entities, they don't merge them.
    ``anchor_weights`` passes a PRECOMPUTED (surface, anchor_n) table
    instead (wins over ``anchors``) — the persisted-table path
    jobs/build_kg.py uses so incremental folds and compactions keep the
    anchor-voted canonical forms instead of silently reverting them.
    """
    surface_map = _entity_map(surfaces(mentions), fuzzy_types)
    weights = anchor_weights
    if weights is None and anchors is not None:
        weights = anchor_surface_weights(anchors, mentions)
    return surface_map, nodes_from_surface_map(surface_map, weights)


def _signed(
    surf: DataFrame, fuzzy_types: tuple[str, ...], *cols: str
) -> tuple[pd.DataFrame, np.ndarray]:
    """The fuzzy-type rows of ``surf`` collected as (surface_id, type,
    surface, *cols), and their (rows, N_HASHES) signature matrix."""
    pdf = (
        surf.filter(F.col("type").isin(*fuzzy_types))
        .select("surface_id", "type", "surface", *cols)
        .toPandas()
    )
    return pdf, minhash_matrix(_shingle_hashes(s) for s in pdf["surface"])


def _entity_map(surf: DataFrame, fuzzy_types: tuple[str, ...]) -> DataFrame:
    """``surf`` (surface_id, type, surface, …) + entity_id under the batch
    canonicalization rules: MinHash-LSH components over the fuzzy-type
    surfaces, identity for every other surface.

    The fuzzy-type surfaces are collected once and canonicalized on the
    driver (:func:`minhash_matrix` + :func:`local_lsh_components`), which
    gives the components the distributed :func:`candidate_pairs` +
    :func:`connected_components` chain would at a fraction of its Spark
    jobs.  Measured on 4 cores over letter-permuted copies of the
    50k-fixture-page surfaces (dense near-duplicate clusters), the driver
    path beat the distributed one at every size tried, up to 247k
    surfaces (22 vs 72-75 s).  Its driver cost is ~3.3 KB a surface at
    peak on those surfaces (signatures, band pairs, verify slices; plus
    ~150 B a surface for the collected frame): ~0.8 GB at 247k, against
    the 15-17k fuzzy surfaces the 50k- and 800k-page builds hold.

    The result is cached and materialized, and the ``surf`` cache is
    released: the map is consumed by the canonical-form pick AND by the
    caller's triples() broadcast join — uncached, every consumer re-runs
    the collect and the driver pass (when this chain ran distributed,
    caching measured 78s -> 31s for the sf0.1 triples query)."""
    surf = surf.cache()
    pdf, sig = _signed(surf, fuzzy_types)
    comp = surf.sparkSession.createDataFrame(
        local_lsh_components(
            pdf["surface_id"].to_numpy(), pdf["type"].to_numpy(), sig
        ),
        "surface_id long, component long",
    )
    out = (
        surf.join(comp, "surface_id", "left")
        .withColumn("entity_id", F.coalesce("component", "surface_id"))
        .drop("component")
    ).cache()
    out.count()
    surf.unpersist()
    return out


def anchor_surface_weights(
    anchors: DataFrame, mentions: DataFrame | None = None
) -> DataFrame:
    """(surface, anchor_n) — external-vote counts per normalized anchor
    text, the classic "what does the web call this page?" evidence
    (ref: deduce has no web layer; this is graft-new, consumed by
    :func:`canonicalize` and jobs/build_kg.py).

    ``anchors`` is :func:`deduce_spark.spark.weburl.extract_anchors`
    output (src_url, dst_url, anchor).  When ``mentions`` is given, only
    anchors whose destination resolves to a crawled page (a url that
    actually produced mentions) count — links into pages we never saw
    carry no naming evidence for OUR entities.  extract_anchors emits
    CANONICALIZED destinations by default, so the mention urls are
    canonicalized too before the semi join — raw crawl urls
    ('https://www.x.nl/a?utm_source=y') otherwise never match their
    canonical link-target form and every vote silently drops.

    Scale shape: one left-semi join on dst_url + one groupBy on the
    normalized anchor string; both plain shuffles (no broadcast hint —
    at web scale the distinct-url and distinct-anchor tables are each
    potentially huge, so the hint is left to AQE)."""
    a = anchors
    if mentions is not None:
        from deduce_spark.spark.weburl import canonicalize_url

        a = a.join(
            mentions.select(
                canonicalize_url(F.col("url")).alias("dst_url")
            ).distinct(),
            "dst_url",
            "leftsemi",
        )
    return (
        a.select(normalize_surface(F.col("anchor")).alias("surface"))
        .filter(F.length("surface") > 0)
        .groupBy("surface")
        .agg(F.count(F.lit(1)).alias("anchor_n"))
    )


def nodes_from_surface_map(
    surface_map: DataFrame, anchor_weights: DataFrame | None = None
) -> DataFrame:
    """(entity_id, type, canonical_form, n_mentions) from a surface map —
    canonical form = highest-voted surface in the entity (deterministic
    tie-break on the surface string).

    The vote is ``n_mentions`` alone by default; with ``anchor_weights``
    ((surface, anchor_n) from :func:`anchor_surface_weights`) each
    surface's vote becomes ``n_mentions + anchor_n`` — anchor text is
    naming evidence, so a surface the web links with can out-vote a
    surface the page text uses more often.  ``n_mentions`` in the output
    stays the pure mention count (the vote only picks the form)."""
    from pyspark.sql import Window

    sm = surface_map
    if anchor_weights is not None:
        sm = sm.join(anchor_weights, "surface", "left").withColumn(
            "_vote",
            F.col("n_mentions") + F.coalesce(F.col("anchor_n"), F.lit(0)),
        )
    else:
        sm = sm.withColumn("_vote", F.col("n_mentions"))
    w = Window.partitionBy("entity_id", "type").orderBy(
        F.desc("_vote"), F.asc("surface")
    )
    canon = (
        sm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("entity_id", "type", F.col("surface").alias("canonical_form"))
    )
    return (
        surface_map.groupBy("entity_id", "type")
        .agg(F.sum("n_mentions").alias("n_mentions"))
        .join(canon, ["entity_id", "type"])
        .select("entity_id", "type", "canonical_form", "n_mentions")
    )


def triples(
    mentions: DataFrame,
    surface_map: DataFrame,
    with_cooccurrence: bool = True,
    max_cooc_entities: int = 128,
    broadcast_map: bool = True,
    caches: list | None = None,
) -> DataFrame:
    """Emit (subj, pred, obj, url, warc_ts) edge rows.

    Predicates: mentions, hasType, hasSurfaceForm, publishedAt,
    coOccursWith (per page, deduplicated, a<b).

    ``broadcast_map``: the surface_map is distinct (surface, type) — at
    local/test scale it is dictionary-sized and a broadcast hint wins; on a
    10^12-page corpus it is billions of rows, so pass False and let the
    shuffled hash join (AQE-planned) handle it.

    ``max_cooc_entities``: a page citing E entities emits E·(E-1)/2
    co-occurrence edges — one 10k-entity link-farm page would emit 50M
    rows and stall its task.  Pages keep only their ``max_cooc_entities``
    most-mentioned entities (deterministic tie-break on entity_id) for the
    co-occurrence family; the other four triple families are unaffected.

    The five families share one cache of the linked mentions; pass
    ``caches`` (a list) to receive it for unpersisting after the edges
    are written.
    """
    map_cols = surface_map.select("surface", "type", "entity_id")
    if broadcast_map:
        map_cols = F.broadcast(map_cols)
    linked = mentions.withColumn(
        "surface", normalize_surface(F.col("text"))
    ).withColumn("type", node_type(F.col("tag"))).join(
        map_cols,
        ["surface", "type"],
        "left",
    )
    # five triple families branch off `linked`; without caching, Spark
    # recomputes the full upstream annotate chain once per branch
    linked = linked.cache()
    if caches is not None:
        caches.append(linked)
    ent = F.col("entity_id").cast("string")
    t_mentions = linked.select(
        F.col("url").alias("subj"),
        F.lit("mentions").alias("pred"),
        ent.alias("obj"),
        "url",
        "warc_ts",
    )
    # hasType / hasSurfaceForm are entity-level facts; the witnessing
    # (url, warc_ts) must be DETERMINISTIC — dropDuplicates keeps whichever
    # row a partition delivers first, which varies with input layout and
    # breaks exact-resume equality.  min(struct) pins the lexicographically
    # first witness.
    def _entity_fact(obj_col, pred):
        return (
            linked.groupBy(ent.alias("subj"), obj_col.alias("obj"))
            .agg(F.min(F.struct("url", "warc_ts")).alias("w"))
            .select(
                "subj",
                F.lit(pred).alias("pred"),
                "obj",
                F.col("w.url").alias("url"),
                F.col("w.warc_ts").alias("warc_ts"),
            )
        )

    t_type = _entity_fact(F.col("type"), "hasType")
    t_surface = _entity_fact(F.col("surface"), "hasSurfaceForm")
    t_published = mentions.select("url", "warc_ts").distinct().select(
        F.col("url").alias("subj"),
        F.lit("publishedAt").alias("pred"),
        F.col("warc_ts").cast("string").alias("obj"),
        "url",
        "warc_ts",
    )
    out = t_mentions.unionByName(t_type).unionByName(t_surface).unionByName(t_published)
    if with_cooccurrence:
        from pyspark.sql import Window

        page_entities = (
            linked.groupBy("url", "warc_ts", "entity_id")
            .agg(F.count(F.lit(1)).alias("n_on_page"))
        )
        cap_w = Window.partitionBy("url").orderBy(
            F.desc("n_on_page"), F.asc("entity_id")
        )
        page_entities = (
            page_entities.withColumn("rk", F.row_number().over(cap_w))
            .filter(F.col("rk") <= max_cooc_entities)
            .select("url", "warc_ts", "entity_id")
        )
        l, r = page_entities.alias("l"), page_entities.alias("r")
        cooc = (
            l.join(r, (F.col("l.url") == F.col("r.url"))
                   & (F.col("l.entity_id") < F.col("r.entity_id")))
            .select(
                F.col("l.entity_id").cast("string").alias("subj"),
                F.lit("coOccursWith").alias("pred"),
                F.col("r.entity_id").cast("string").alias("obj"),
                F.col("l.url").alias("url"),
                F.col("l.warc_ts").alias("warc_ts"),
            )
        )
        out = out.unionByName(cooc)
    return out


def salted_repartition(df: DataFrame, n_partitions: int, salt_buckets: int = 8) -> DataFrame:
    """Break hot-domain skew: partition by (hash(domain), salt) so one hot
    domain spreads over ``salt_buckets`` partitions (north_rule: explicit
    skew handling; AQE alone does not rebalance UDF stages)."""
    dom = F.regexp_extract(F.col("url"), r"https?://([^/]+)/", 1)
    salt = (F.xxhash64("url") % salt_buckets).cast("int")
    return df.repartition(n_partitions, F.hash(dom), salt)


# ---------------------------------------------------------------------------
# entity-link scoring (north_star: "entity-link scoring against broadcast
# name/institution dictionaries"; the reference has no counterpart — design
# is ours, determinism is what matters)
# ---------------------------------------------------------------------------

_LINK_SOURCES = {
    "PERSOON": ("first_name", "surname"),
    "LOCATIE": ("placename", "street"),
    "INSTELLING": ("hospital", "healthcare_institution"),
}


# one slot (SparkContext, engine.ds, broadcast), holding references, not
# ids, so a key cannot be recycled
_link_bc_memo: tuple | None = None
_link_lock = threading.Lock()


def build_link_dicts(engine) -> dict:
    """Driver-side: lowercased full-phrase sets + token vocabularies per
    node type, derived from the engine's lookup structures.

    On the tracked lookup pickle they hold 686k phrases and 302k
    vocabulary words, 19.8 MB pickled, and take 2-2.5 s to derive.  They
    depend only on ``engine.ds``, so ship them with
    :func:`link_dicts_broadcast`, which derives and broadcasts them once
    per session and engine."""
    out: dict[str, tuple[frozenset, frozenset]] = {}
    for ntype, struct_names in _LINK_SOURCES.items():
        phrases: set[str] = set()
        vocab: set[str] = set()
        for name in struct_names:
            ps = engine.ds[name]
            ps.freeze()
            for first, buckets in ps.by_first.items():
                fl = first.lower()
                vocab.add(fl)
                head = fl + " "
                for n_suffix, sset in buckets:
                    if not n_suffix:
                        phrases.add(fl)
                        continue
                    # a lookup word may itself hold a space ("van den"):
                    # it is one vocabulary entry, never split
                    for suffix in sset:
                        vocab.update(map(str.lower, suffix))
                        phrases.add(head + " ".join(suffix).lower())
        out[ntype] = (frozenset(phrases), frozenset(vocab))
    return out


def link_dicts_broadcast(spark, engine):
    """The one broadcast of ``engine``'s link dictionaries for ``spark``'s
    session.

    Kept per live SparkContext and ``engine.ds`` object: stage-B calls
    that repeat in one process with the same Engine object reuse it
    instead of deriving, pickling and shipping the dictionaries again
    (``__spark_entry__``'s engine singleton does; a one-shot build, or a
    caller making a fresh ``Engine()`` per call, derives and broadcasts
    once per call as before).  A call with another engine or context
    replaces it and destroys the replaced broadcast (unless its context
    is stopped, which already released it); a broadcast of a stopped
    context is never returned."""
    global _link_bc_memo
    sc = spark.sparkContext
    ds = engine.ds
    with _link_lock:
        if _link_bc_memo is not None:
            held_sc, held_ds, held_bc = _link_bc_memo
            if held_sc is sc and held_ds is ds and sc._jsc is not None:
                return held_bc
            _link_bc_memo = None
            if held_sc._jsc is not None:
                held_bc.destroy()
        bc = sc.broadcast(build_link_dicts(engine))
        _link_bc_memo = (sc, ds, bc)
        return bc


def link_scores(nodes: DataFrame, link_dicts_bc) -> DataFrame:
    """nodes -> nodes + (link_score double, link_evidence string).

    Scoring (deterministic, per canonical form):
      exact full-phrase dictionary hit        -> 1.0 'exact'
      every token in the dictionary vocab     -> 0.8 'tokens'
      some tokens in vocab                    -> 0.5 * fraction, 'partial'
      no dictionary for the type (DATUM/PHI)  -> 1.0 'structural'
        (those surfaces were validated structurally at detection time:
         date shapes, elfproef, phone digit rules)
      nothing matches                         -> 0.0 'none'

    Runs as one Arrow pass over the NODES table (distinct canonical
    entities — orders of magnitude smaller than mentions), dictionaries
    shipped via broadcast; no shuffle, no join.
    """
    import pyspark.sql.types as T

    schema = T.StructType(
        nodes.schema.fields
        + [
            T.StructField("link_score", T.DoubleType()),
            T.StructField("link_evidence", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dicts = link_dicts_bc.value
        for batch in batches:
            scored = [
                score_form(ntype, form, dicts)
                for ntype, form in zip(batch["type"], batch["canonical_form"])
            ]
            batch = batch.copy()
            batch["link_score"] = [s for s, _ in scored]
            batch["link_evidence"] = [e for _, e in scored]
            yield batch

    return nodes.mapInPandas(run, schema=schema)


def score_form(ntype: str, form: str, dicts: dict) -> tuple[float, str]:
    """(link_score, link_evidence) for one canonical form — module-level so
    the golden-fixture generator replays the EXACT scoring outside Spark."""
    entry = dicts.get(ntype)
    if entry is None:
        return 1.0, "structural"
    phrases, vocab = entry
    if form in phrases:
        return 1.0, "exact"
    toks = [t for t in form.split(" ") if t]
    hits = sum(t in vocab for t in toks)
    if toks and hits == len(toks):
        return 0.8, "tokens"
    if hits:
        return round(0.5 * hits / len(toks), 4), "partial"
    return 0.0, "none"


# ---------------------------------------------------------------------------
# graph analytics over the coOccursWith edge table
# ---------------------------------------------------------------------------


def pagerank_quantized(
    edges: DataFrame,
    n_iter: int = 5,
    unit: int = 1_000_000_000,
    checkpoint: CheckpointArg = None,
) -> DataFrame:
    """PageRank over undirected (a, b) long edges in EXACT integer space.

    Ranks live in int64 "units" (initial rank = ``unit`` per node, damping
    0.85 applied as ``(85 * x) DIV 100``): contribution division, damping,
    and the neighbour sum are all integer ops, so — like the quantized IVF
    — the result is bit-identical no matter how the edge table is
    partitioned, and the sequential golden-fixture generator can replay it
    exactly.  Float PageRank cannot make that promise (the per-node sum
    order varies with the shuffle).

    Per iteration: one join of the cached (src, dst, src_degree) edge list
    with the current rank table + one map-side-combinable long-sum groupBy.
    Lineage is cut with localCheckpoint so n_iter rounds don't stack a
    growing plan."""
    # materialize the edge list once: the input is typically the tail of a
    # long pipeline (triples fanout), and sym/deg are consumed every
    # iteration — without this the whole upstream chain re-executes 2x per
    # round
    cut = make_checkpointer(checkpoint)
    # in-loop rank cuts stay LAZY on the default path (materialized in one
    # pass by the final eager cut); a reliable-checkpoint strategy is
    # always eager
    lazy_cut = (
        (lambda df: df.localCheckpoint(eager=False))
        if checkpoint is None
        else cut
    )
    edges = cut(edges)
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).cache()
    adj = sym.join(deg, "src").cache()
    ranks = deg.select("src", F.lit(int(unit)).cast("long").alias("rank"))
    base = int(15 * unit) // 100
    for _ in range(n_iter):
        sums = (
            adj.join(ranks, "src")
            .select("dst", F.expr("rank DIV degree").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            deg.join(sums, deg.src == sums.dst, "left")
            .select(
                deg.src,
                (
                    F.lit(base)
                    + F.expr("(85 * coalesce(s, 0L)) DIV 100")
                ).cast("long").alias("rank"),
            )
        )
        ranks = lazy_cut(ranks)
    # materialize the final ranks BEFORE dropping the caches: nothing in
    # the loop is eager (lazy checkpoints), so unpersisting first would
    # unmark adj/deg before any action populates them and every iteration
    # would recompute the symmetrization+degree chain
    ranks = cut(ranks)
    adj.unpersist()
    deg.unpersist()
    return ranks.select(F.col("src").alias("entity_id"), "rank")


def triangle_count(edges: DataFrame, max_degree: int = 64) -> DataFrame:
    """Global triangle count over undirected (a, b) long edges, hub-capped.

    Nodes with degree > ``max_degree`` are dropped first (the standard
    scale guard: a celebrity entity on every page would otherwise create
    deg² wedges); the remaining count is the two-join wedge-close pattern
    with edges oriented a<b so each triangle is counted exactly once.
    Returns one row (n_nodes_kept, n_edges_kept, n_triangles)."""
    e = edges.filter(F.col("a") < F.col("b")).distinct().localCheckpoint(
        eager=True
    )
    deg = (
        e.select(F.col("a").alias("v")).union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keep = F.broadcast(deg.filter(F.col("d") <= max_degree).select("v"))
    e = (
        e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
        .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
        .select("a", "b")
        .cache()
    )
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.a") == F.col("e2.a"))
        .filter(F.col("e1.b") < F.col("e2.b"))
        .select(F.col("e1.b").alias("x"), F.col("e2.b").alias("y"))
    )
    tri = wedge.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    )
    n_nodes = e.select(F.col("a").alias("v")).union(
        e.select(F.col("b").alias("v"))
    ).distinct().count()
    n_edges = e.count()
    n_tri = tri.count()
    e.unpersist()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(n_nodes, n_edges, n_tri)],
        "n_nodes_kept long, n_edges_kept long, n_triangles long",
    )


# ---------------------------------------------------------------------------
# incremental canonicalization (streaming / batch-append KG maintenance)
# ---------------------------------------------------------------------------


def incremental_canonicalize(
    new_mentions: DataFrame,
    surface_map: DataFrame,
    fuzzy_types: tuple[str, ...] = FUZZY_TYPES,
    anchor_weights: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fold a batch of NEW mentions into an existing canonicalization
    without recomputing the whole entity graph.

    Returns (updated_surface_map, updated_nodes) with the same schemas as
    ``canonicalize``.  Existing entity ids are STABLE: a surface already in
    the map keeps its entity and only its mention count grows; a novel
    surface joins an existing entity when its minhash signature
    LSH-matches one of that entity's surfaces (same banding + est-jaccard
    verify as the batch path, bucket-capped on the existing side); novel
    surfaces that match only each other form new entities via connected
    components; everything else becomes its own entity — identical rules
    to the batch path, applied one increment at a time.

    Incremental-vs-batch caveat (inherent to any online entity
    resolution): a later surface can be similar to two existing entities
    that a full recompute would have bridged into one; the increment
    adopts the MINIMUM matched entity id (deterministic) and does not
    merge existing entities — merges are a compaction concern
    (re-canonicalize), not an ingest concern.

    Runs on the driver core of :func:`_entity_map`: the novel and the
    existing fuzzy surfaces are collected and signed (existing signatures
    are recomputed per fold), :func:`local_lsh_components` clusters the
    novel ones and :func:`_adoption_pairs` matches them to existing ones."""
    new_surf = surfaces(new_mentions).cache()
    existing = surface_map.select(
        "surface", "type", "n_mentions", "surface_id", "entity_id"
    )
    novel = new_surf.join(
        existing.select("surface_id"), "surface_id", "left_anti"
    ).cache()
    add_counts = (
        new_surf.join(existing.select("surface_id"), "surface_id", "left_semi")
        .select("surface_id", F.col("n_mentions").alias("add_n"))
    )

    new, new_sig = _signed(novel, fuzzy_types)
    old, old_sig = _signed(existing, fuzzy_types, "entity_id")
    ids, types = new["surface_id"].to_numpy(), new["type"].to_numpy()
    comp = local_lsh_components(ids, types, new_sig)
    cluster = ids.copy()
    cluster[pd.Index(ids).get_indexer(comp["surface_id"])] = comp["component"]
    # a cluster adopts the minimum existing entity any member matched; the
    # ids are full-range xxhash64 values, so they never pass through floats
    a, b = _adoption_pairs(types, new_sig, old["type"].to_numpy(), old_sig)
    adopted = pd.Series(old["entity_id"].to_numpy()[b]).groupby(cluster[a]).min()
    entity = np.where(np.isin(cluster, adopted.index),
                      adopted.reindex(cluster, fill_value=0), cluster)
    assigned = new_surf.sparkSession.createDataFrame(
        pd.DataFrame({"surface_id": ids, "entity_id": entity}),
        "surface_id long, entity_id long",
    )
    novel_rows = (
        novel.join(assigned, "surface_id", "left")
        .withColumn("entity_id", F.coalesce("entity_id", "surface_id"))
        .select("surface", "type", "n_mentions", "surface_id", "entity_id")
    )

    updated_sm = (
        existing.join(add_counts, "surface_id", "left")
        .withColumn(
            "n_mentions",
            F.col("n_mentions") + F.coalesce(F.col("add_n"), F.lit(0)),
        )
        .drop("add_n")
        .unionByName(novel_rows)
    ).cache()
    new_surf.unpersist()
    novel.unpersist()
    return updated_sm, nodes_from_surface_map(updated_sm, anchor_weights)


# ---------------------------------------------------------------------------
# compaction: converge incremental entity splits back to the batch labels
# ---------------------------------------------------------------------------


def compact_canonicalize(
    surface_map: DataFrame,
    fuzzy_types: tuple[str, ...] = FUZZY_TYPES,
    caches: list | None = None,
    anchor_weights: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Periodic entity-merge compaction over an accumulated surface map.

    ``incremental_canonicalize`` never merges two EXISTING entities (a new
    surface similar to both adopts the minimum — the documented ingest
    caveat), so a stream of increments can leave one real-world entity
    split across several ids.  Compaction re-runs the BATCH
    canonicalization rules (same signatures, banding, verify threshold,
    connected components) over the full surface inventory and returns

        (new_surface_map, new_nodes, id_map)

    where ``id_map`` is (old_entity_id, new_entity_id): every old id maps
    to the single batch component that now contains all its surfaces.
    Incremental assignments only ever link surfaces the batch rules also
    link (adoption uses the same est-jaccard verify), so an old entity's
    surfaces always land in ONE new component — asserted cheaply below,
    because a violation (possible only if bucket caps truncated different
    pairs across runs) would silently corrupt downstream joins.

    The returned frames are backed by two retained caches (the new
    surface map and the id map — the LSH+CC chain must not recompute per
    consumer).  Pass ``caches`` (a list) to receive those frames for
    unpersisting once all writes are done; a caller that skips it simply
    lets the session own them (fine for short-lived jobs, a leak for
    long-lived maintenance loops — ADVICE r3 #2).

    Persist ``id_map`` next to the KG tables and remap edge tables with
    ``remap_triples`` so historical triples stay joinable.  Scale shape:
    that of ``canonicalize`` plus one groupBy over the surface map.
    """
    new_sm = _entity_map(
        surface_map.select(
            "surface", "type", "n_mentions", "surface_id",
            F.col("entity_id").alias("old_entity_id"),
        ),
        fuzzy_types,
    )
    id_map = (
        new_sm.groupBy("old_entity_id")
        .agg(
            F.min("entity_id").alias("new_entity_id"),
            F.countDistinct("entity_id").alias("n_new"),
        )
    ).cache()
    n_split = id_map.filter(F.col("n_new") > 1).count()
    if n_split:
        id_map.unpersist()
        new_sm.unpersist()
        raise RuntimeError(
            f"compaction split {n_split} existing entities across batch "
            "components (bucket-cap truncation differed between runs); "
            "refusing to emit an ambiguous id_map"
        )
    if caches is not None:
        caches.extend([new_sm, id_map])
    id_map = id_map.select("old_entity_id", "new_entity_id")
    # same column order canonicalize() emits (join key first)
    out_sm = new_sm.select(
        "surface_id", "surface", "type", "n_mentions", "entity_id"
    )
    return out_sm, nodes_from_surface_map(out_sm, anchor_weights), id_map


def remap_triples(triples_df: DataFrame, id_map: DataFrame) -> DataFrame:
    """Rewrite entity ids in a triple table through a compaction id_map.

    Column-aware per predicate family: ``subj`` is an entity id for
    hasType / hasSurfaceForm / coOccursWith (url for mentions /
    publishedAt); ``obj`` is an entity id for mentions / coOccursWith.
    Ids missing from the map (never-compacted entities) pass through.

    Two left joins keyed on a cast entity id — at KG scale the id_map is
    entity-count sized, so this stays a shuffled hash join (no broadcast
    assumption); row count and non-id columns are untouched."""
    m = id_map.select(
        F.col("old_entity_id").cast("string").alias("old_id"),
        F.col("new_entity_id").cast("string").alias("new_id"),
    )
    subj_is_entity = F.col("pred").isin("hasType", "hasSurfaceForm", "coOccursWith")
    obj_is_entity = F.col("pred").isin("mentions", "coOccursWith")
    out = (
        triples_df.withColumn(
            "subj_key", F.when(subj_is_entity, F.col("subj"))
        )
        .withColumn("obj_key", F.when(obj_is_entity, F.col("obj")))
        .join(
            m.withColumnRenamed("old_id", "subj_key")
            .withColumnRenamed("new_id", "subj_new"),
            "subj_key", "left",
        )
        .join(
            m.withColumnRenamed("old_id", "obj_key")
            .withColumnRenamed("new_id", "obj_new"),
            "obj_key", "left",
        )
        .withColumn("subj", F.coalesce("subj_new", "subj"))
        .withColumn("obj", F.coalesce("obj_new", "obj"))
        .drop("subj_key", "obj_key", "subj_new", "obj_new")
    )
    # merging two co-mentioned entities can leave a coOccursWith edge as a
    # self-loop (drop) or flip the a<b ordering / collapse two page edges
    # into byte-identical rows — normalize + distinct, but ONLY on the
    # cooc family: 'mentions' legitimately repeats byte-identical rows
    # (one per mention occurrence), so a global distinct would silently
    # drop mention multiplicity that a full batch rebuild preserves.
    cols = triples_df.columns
    is_cooc = F.col("pred") == "coOccursWith"
    a, b = F.col("subj").cast("long"), F.col("obj").cast("long")
    non_cooc = out.filter(~is_cooc).select(*cols)
    cooc = (
        out.filter(is_cooc & (F.col("subj") != F.col("obj")))
        .withColumn("subj2", F.least(a, b).cast("string"))
        .withColumn("obj2", F.greatest(a, b).cast("string"))
        .drop("subj", "obj")
        .withColumnRenamed("subj2", "subj")
        .withColumnRenamed("obj2", "obj")
        .select(*cols)
        .distinct()
    )
    return non_cooc.unionByName(cooc)
