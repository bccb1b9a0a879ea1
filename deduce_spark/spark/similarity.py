"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact cosine top-k with native higher-order functions
  (zip_with + aggregate) — JVM-side, no Python; broadcast the (small)
  query side;
- ``lsh_topk``: signed random hyperplane projections (seeded numpy pandas
  UDF) -> bucket join -> exact rerank within buckets.  At 100 TB the
  exact rerank is per bucket; the bucketing bounds the join;
- ``ivf_topk``: centroid-partitioned (IVF) search over ``ivf_train``'s
  centroids with integer-quantized scores;
- ``semantic_dedup``: SemDeDup-style near-duplicate collapse within IVF
  clusters.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduce_spark.spark.parallel import cap_buckets, fan_out


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For every query vector, the k nearest vectors by cosine similarity
    (self-matches excluded).  Queries are broadcast; the big side streams."""
    # norms are per-row, so compute each ONCE per side instead of once per
    # (query, neighbor) pair — same expression over the same values, the
    # per-pair work drops to the dot product alone.  fan_out parallelizes
    # the interpreted higher-order-function evaluation across cores when
    # the scan arrives as a single partition.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("qnorm", _norm(F.col("qvec")))
    v = fan_out(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
        )
    ).withColumn("nnorm", _norm(F.col("nvec")))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qvec"), F.col("nvec"))
            / (F.col("qnorm") * F.col("nnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"),
                F.round("cosine", 6).alias("cosine"))
    )


_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("table_idx", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def hyperplane_buckets(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, n_planes: int = 4, n_tables: int = 8,
) -> DataFrame:
    """Multi-table sign-of-projection LSH: one (table_idx, bucket) row per
    table per vector.  Recall for neighbors at angle θ is
    1-(1-p^b)^L with p = 1-θ/π, b = n_planes, L = n_tables — tune b up for
    precision (smaller buckets), L up for recall."""
    # fresh RandomState per call: consuming a module-level RNG would make a
    # second call in the same process derive DIFFERENT planes (state
    # advanced) — results must be idempotent per (dim, n_planes, n_tables)
    planes = (
        np.random.RandomState(1234)
        .standard_normal((n_tables, n_planes, dim))
        .astype(np.float32)
    )
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            mat = np.vstack([np.asarray(v, dtype=np.float32) for v in batch[vec_col]])
            ids = batch[id_col].astype("int64")
            out_ids, out_tables, out_buckets = [], [], []
            for t in range(n_tables):
                # integer-quantized projections (see ivf_quant_scores): a
                # float32 sgemm's rounding can depend on batch shape/BLAS
                # kernel, and a projection within rounding of 0 would flip
                # its bucket bit between the Arrow-batched run and the
                # golden generator's full-matrix replay
                signs = ivf_quant_scores(mat, planes[t]) > 0
                buckets = signs @ weights
                out_ids.append(ids)
                out_tables.append(np.full(len(ids), t, dtype=np.int32))
                out_buckets.append(buckets.astype(np.int64))
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_ids),
                    "table_idx": np.concatenate(out_tables),
                    "bucket": np.concatenate(out_buckets),
                }
            )

    return fan_out(vectors.select(id_col, vec_col)).mapInPandas(
        run, schema=_BUCKET_SCHEMA
    )


_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cid", T.IntegerType()),
    ]
)


IVF_QUANT = float(1 << 40)


def ivf_quant_scores(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Integer-quantized dot-product scores (n, n_centroids).

    floor(x * 2^40) per element, then int64 matmul: EXACT arithmetic, so
    argmax/argsort over the scores is bit-identical no matter how rows are
    batched across Arrow chunks or replayed sequentially by the
    golden-fixture generator — float BLAS reductions are not (blocking
    varies with matrix shape).  Magnitudes: |x| <= 1 after normalization,
    so a 64-dim score is <= 64 * 2^80 … too big for naive products, hence
    BOTH sides are quantized at 2^20 each (product 2^40, 64-dim sum
    < 2^47 — comfortably inside int64)."""
    q = np.int64(1 << 20)
    qm = np.floor(mat * q).astype(np.int64)
    qc = np.floor(cents * q).astype(np.int64)
    return qm @ qc.T


def ivf_train(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer.

    Init = the ``n_centroids`` vectors with the smallest ids (deterministic,
    no RNG over data).  Each Lloyd iteration is distributed: assignment is
    an Arrow pass with broadcast centroids; the update aggregates per
    (centroid, dimension) natively — only n_centroids x dim rows ever reach
    the driver.  At corpus scale this trains on a fixed-size sample the
    same way (the quantizer needs thousands of points, not 10^12).

    Both the assignment scores and the centroid sums run in QUANTIZED
    INTEGER space (``ivf_quant_scores``, floor(v * 2^40) sums): integer
    addition is associative, so the result is independent of partitioning,
    shuffle order, and Arrow batch boundaries — float sums are not, and a
    last-ULP difference can flip an argmax and cascade into different
    clusters.  This is what makes the whole pipeline value-oracle-able."""
    spark = vectors.sparkSession
    dim = len(
        vectors.select(vec_col).first()[0]
    )
    init = (
        vectors.orderBy(id_col)
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    cents = np.vstack([np.asarray(r[0], dtype=np.float64) for r in init])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vnorm = (
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v0"),
        )
        .withColumn("nrm", _norm(F.col("v0")))
        .select(
            "vec_id",
            F.transform("v0", lambda x: x / F.col("nrm")).alias("v"),
        )
        .cache()
    )
    for _ in range(n_iters):
        assigned = _ivf_assign(vnorm, spark.sparkContext.broadcast(cents), "v")
        # quantized-integer dimension sums: long addition is associative, so
        # the collected totals are exact and partition-order independent
        sums = (
            vnorm.join(assigned, "vec_id")
            .select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("x") * F.lit(IVF_QUANT)).cast("long")
                ).alias("s")
            )
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((n_centroids, dim), dtype=np.int64)
        seen = set()
        for r in sums:
            acc[r["cid"], r["pos"]] = r["s"]
            seen.add(r["cid"])
        for c in seen:
            vec = acc[c].astype(np.float64)
            nrm = np.linalg.norm(vec)
            if nrm > 0:
                new[c] = vec / nrm
        cents = new
    vnorm.unpersist()
    return cents


def _ivf_assign(vectors: DataFrame, cents_bc, vec_col: str) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = cents_bc.value
        for batch in batches:
            mat = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in batch[vec_col]]
            )
            cid = ivf_quant_scores(mat, cents).argmax(axis=1).astype(np.int32)
            yield pd.DataFrame(
                {"vec_id": batch["vec_id"].astype("int64"), "cid": cid}
            )

    return fan_out(vectors.select("vec_id", vec_col)).mapInPandas(
        run, schema=_ASSIGN_SCHEMA
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate nearest neighbours: train a coarse quantizer, build
    the inverted lists once (one shuffle by centroid id), then each query
    proves only its ``n_probe`` nearest lists — the scan shrinks by
    ~n_centroids/n_probe versus brute force while the rerank inside the
    probed lists stays exact.  Complements lsh_topk: IVF gives tunable,
    data-adaptive partitioning (template-heavy web embeddings cluster
    tightly); LSH is data-independent and needs no training pass."""
    spark = vectors.sparkSession
    cents = ivf_train(vectors, n_centroids, n_iters, id_col, vec_col)
    cents_bc = spark.sparkContext.broadcast(cents)
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    assigned = _ivf_assign(v, cents_bc, "v").join(v, "vec_id")

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )

    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cid", T.IntegerType()),
        ]
    )

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = cents_bc.value
        for batch in batches:
            mat = np.vstack(
                [np.asarray(x, dtype=np.float64) for x in batch["qvec"]]
            )
            # quantized scores + stable sort: tie order batch-independent
            top = np.argsort(
                -ivf_quant_scores(mat, c), axis=1, kind="stable"
            )[:, :n_probe]
            n = len(batch)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        batch["query_id"].astype("int64").to_numpy(), n_probe
                    ),
                    "cid": top.reshape(-1).astype(np.int32),
                }
            )

    probe_df = q.mapInPandas(probes, schema=probe_schema)
    cand = (
        probe_df.join(assigned, "cid")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qvec"), F.col("v"))
            / (_norm(F.col("qvec")) * _norm(F.col("v"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def lsh_topk(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    max_bucket: int = 4096,
) -> DataFrame:
    """Approximate all-pairs top-k: exact cosine rerank over the union of
    same-bucket candidates from every LSH table.

    Buckets above ``max_bucket`` are dropped whole before the self-join
    (:func:`deduce_spark.spark.parallel.cap_buckets`), e.g. the all-zero
    region of a skewed embedding distribution.  Vectors in a dropped
    bucket usually still meet in another of the ``n_tables`` independent
    tables, so recall degrades gracefully."""
    # eagerly cached: the hot-bucket count and both self-join sides would
    # otherwise concurrently recompute the Python bucketing stage
    buckets = hyperplane_buckets(
        vectors, id_col, vec_col, dim, n_planes, n_tables
    ).cache()
    buckets.count()
    buckets = cap_buckets(buckets, ["table_idx", "bucket"], max_bucket)
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.table_idx") == F.col("r.table_idx"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") != F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("query_id"),
            F.col("r.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    scored = (
        cand.join(v.withColumnRenamed("vid", "query_id")
                  .withColumnRenamed("vec", "qvec"), "query_id")
        .join(v.withColumnRenamed("vid", "neighbor_id")
              .withColumnRenamed("vec", "nvec"), "neighbor_id")
        .withColumn(
            "cosine",
            _dot(F.col("qvec"), F.col("nvec"))
            / (_norm(F.col("qvec")) * _norm(F.col("nvec"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"),
                F.round("cosine", 6).alias("cosine"))
    )


PAIR_QUANT = 1 << 20  # per-side quantization for pair dots (cf. ivf_quant_scores)


def semantic_dedup(
    vectors: DataFrame,
    tau: float = 0.7,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 4096,
    checkpoint=None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate removal (Abbas et al. 2023):
    cluster the embedding space, compare only within clusters, collapse
    each near-dup group to one representative.  Returns
    ``(vec_id, canonical_id)`` for every input vector — canonical is the
    smallest id in the vector's near-dup component (singletons map to
    themselves), the same contract as ``dedup.minhash_dedup`` so the two
    drop-in compose in a curation job.

    Pipeline (every stage deterministic and partitioning-invariant):

    1. spherical k-means coarse clustering (:func:`ivf_train` — integer-
       quantized Lloyd, no RNG over data);
    2. one Arrow assignment pass on the NORMALIZED vectors;
    3. within-cluster pair mining as a per-cluster Arrow kernel
       (``applyInPandas``): both sides floor-quantized at 2^20
       (``PAIR_QUANT``), the c×c similarity computed as a CHUNKED int64
       matmul (64-dim products < 2^47 — exact), only pairs with
       quantized dot >= ``int(tau * PAIR_QUANT**2)`` are EMITTED — the
       integer threshold means both engines compare the same numbers,
       and the n² never touches a shuffle (a join formulation would
       materialize cluster²-row exchanges: measured catastrophic at 1M
       vectors × 2k-member clusters; the kernel emits only matches);
    4. :func:`deduce_spark.spark.kg.connected_components` over the pair
       graph (small-star/large-star; component label = min id).

    Scale shape: the O(n²) lives strictly inside a cluster's kernel, in
    512-row × c int64 blocks (``max_cluster`` 4096 → ≤16 MB per block),
    and clusters above ``max_cluster`` are skipped whole (the
    minhash/LSH bucket-cap discipline — a degenerate embedding region
    must not cost B²; at corpus scale raise ``n_centroids`` so clusters
    stay small: SemDeDup uses ~50k clusters for 10^8+ docs)."""
    from deduce_spark.spark.kg import connected_components

    spark = vectors.sparkSession
    cents = ivf_train(vectors, n_centroids, n_iters, id_col, vec_col)
    vnorm = (
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v0"),
        )
        .withColumn("nrm", _norm(F.col("v0")))
        .select(
            "vec_id",
            F.transform("v0", lambda x: x / F.col("nrm")).alias("v"),
        )
    )
    # eagerly cached: consumed by the hot-cluster count and the anti-join —
    # a lazy plan would run the Arrow assignment pass twice concurrently
    assigned = _ivf_assign(vnorm, spark.sparkContext.broadcast(cents), "v").cache()
    assigned.count()
    qv = vnorm.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.floor(x * F.lit(float(PAIR_QUANT))).cast("long")
        ).alias("q"),
    )
    members = (
        cap_buckets(assigned, ["cid"], max_cluster)
        .join(qv, "vec_id")
        .select("cid", "vec_id", "q")
    )
    thresh = int(tau * PAIR_QUANT * PAIR_QUANT)

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        q = np.vstack([np.asarray(x, dtype=np.int64) for x in pdf["q"]])
        order = np.argsort(ids, kind="stable")
        ids, q = ids[order], q[order]
        outs_a, outs_b = [], []
        step = 512  # bounds the block to step x c int64 (<=16 MB at 4096)
        for s in range(0, len(ids), step):
            blk = q[s:s + step] @ q.T  # exact int64
            ri, ci = np.nonzero(blk >= thresh)
            keep = (ri + s) < ci  # upper triangle only: a < b by id order
            outs_a.append(ids[ri[keep] + s])
            outs_b.append(ids[ci[keep]])
        if outs_a:
            return pd.DataFrame(
                {"a": np.concatenate(outs_a), "b": np.concatenate(outs_b)}
            )
        return pd.DataFrame({"a": ids[:0], "b": ids[:0]})

    pairs = members.groupBy("cid").applyInPandas(
        cluster_pairs, schema="a long, b long"
    )
    comp = connected_components(pairs, checkpoint=checkpoint)
    # comp is materialized; the result no longer reads the assignment
    assigned.unpersist()
    return (
        vectors.select(F.col(id_col).cast("long").alias("vec_id"))
        .join(comp, F.col("vec_id") == F.col("surface_id"), "left")
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("canonical_id"),
        )
    )
