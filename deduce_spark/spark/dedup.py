"""Document deduplication operators for training-data pipelines.

All operators are DataFrame -> DataFrame, deterministic, and shuffle-aware:

- minhash:   word shingles -> 64-perm signatures (Arrow numpy UDF) ->
             one collect -> the kg LSH core on the driver
             (``kg.local_lsh_components``: bands, capped buckets,
             signature-estimated jaccard filter, union-find) -> canonical
             doc per cluster;
- simhash:   64-bit simhash, bucketed by four 16-bit chunks (any pair with
             hamming distance <= 3 shares a chunk by pigeonhole), under the
             ``parallel.cap_buckets`` hot-bucket cap;
- ngram jaccard: exact set jaccard via explode + join (SQL-expressible —
             serves as the DuckDB oracle form of near-dup detection).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduce_spark.spark.kg import (
    N_HASHES, local_lsh_components, minhash, minhash_matrix,
)
from deduce_spark.spark.parallel import cap_buckets, fan_out


def _word_shingles(
    text: str, n: int = 3, max_words: int | None = None
) -> np.ndarray:
    words = text.split()
    if max_words is not None:
        words = words[:max_words]
    if len(words) < n:
        joined = " ".join(words)
        return np.array([zlib.crc32(joined.encode("utf-8"))], dtype=np.uint64)
    return np.array(
        [
            zlib.crc32(" ".join(words[i : i + n]).encode("utf-8"))
            for i in range(len(words) - n + 1)
        ],
        dtype=np.uint64,
    )


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ]
)


def minhash_sig(text: str, shingle_words: int = 3) -> list[int]:
    """Per-document minhash signature (module-level so the golden-fixture
    generator replays the EXACT kernel outside Spark)."""
    return minhash(_word_shingles(text, shingle_words))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    max_doc_words: int | None = None,
) -> DataFrame:
    """(doc_id, sig) over word shingles, signed by the tiled
    :func:`deduce_spark.spark.kg.minhash_matrix` kernel.

    ``max_doc_words`` clamps each document to its first ``max_doc_words``
    whitespace tokens BEFORE shingling, so one document's shingles — and
    with them the kernel's permute matrix — are hard-bounded at
    ``64 × max_doc_words × 8 B`` no matter what the crawl feeds in (a
    multi-hundred-MB book-dump page signs on its prefix instead of blowing
    out the worker).  ``None`` keeps the exact full-document semantics (the
    golden fixtures' form)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids = [int(d) for d in batch[id_col]]
            sigs = minhash_matrix(
                _word_shingles(t, shingle_words, max_doc_words)
                for t in batch[text_col]
            ).tolist()
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    # single-row-group inputs otherwise sign the whole corpus on ONE core
    return fan_out(df.select(id_col, text_col)).mapInPandas(
        run, schema=_SIG_SCHEMA
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_words: int = 3,
    max_bucket: int = 256,
    max_doc_words: int | None = None,
) -> DataFrame:
    """(doc_id, canonical_id) for every input doc; a doc in a near-dup
    cluster maps to the cluster's minimum doc id, any other to itself.

    The signatures (:func:`minhash_signatures`, the only Python stage) are
    collected once and clustered on the driver by the kg LSH core,
    :func:`deduce_spark.spark.kg.local_lsh_components`, under one constant
    bucket type: a pair is kept at ``equal / N_HASHES >= threshold``.
    Buckets larger than ``max_bucket`` are dropped whole: a pair is still
    found through any other band it shares (exact duplicates share every
    band); the cap trades a sliver of near-dup recall for bounded pairs.
    The result is built from the collected ids, so the input is scanned
    once.  Its driver cost, measured with ``tracemalloc`` over 50k fixture
    pages plus 5k near-duplicate twins, is ~2.1 KB a doc at peak (the
    stacked signatures, band sort keys, pairs and verify slices; plus
    ~640 B a doc for the collected frame): ~0.15 GB at 55k docs.  On 4
    cores it took 1.06 s warm there against 2.38 s for the distributed
    chain it replaced (3 Spark jobs against 22), with identical output.

    ``max_doc_words`` (recommended at crawl scale, e.g. ``1_000_000``)
    bounds the signature worker's peak memory against pathological single
    documents — see :func:`minhash_signatures`."""
    pdf = minhash_signatures(
        df, text_col, id_col, shingle_words, max_doc_words
    ).toPandas()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    sig = np.array(pdf["sig"].tolist(), dtype=np.int64).reshape(-1, N_HASHES)
    comp = local_lsh_components(
        ids, np.zeros(len(ids), dtype=np.int8), sig, threshold, max_bucket
    )
    # by position in ``comp``: a doc id can repeat in the input
    at = pd.Index(comp["surface_id"]).get_indexer(ids)
    canonical = ids.copy()
    canonical[at >= 0] = comp["component"].to_numpy()[at[at >= 0]]
    return df.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": ids, "canonical_id": canonical}),
        "doc_id long, canonical_id long",
    )


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


# Cache-resident tile (see kg._MAX_CHUNK_SHINGLES): 4096 x 64 x 8B = 2 MB
# per temporary vs the old 512 MB — 20x faster per doc under 32-way
# worker concurrency (DRAM-bandwidth bound before).  Bit-identical for
# any tile size.
_MAX_CHUNK_WORDS = 1 << 12


def _batch_simhash(texts: list[str]) -> list[int]:
    """Batch-vectorized simhash: one (chunk_words, 64) bit matrix with
    segmented vote sums (np.add.reduceat) — bit-identical to ``simhash64``
    (same word hashes, same votes, same sign threshold), pinned by test
    and by the golden fixtures.  Chunked at ``_MAX_CHUNK_WORDS`` total
    words so the bit matrix stays bounded regardless of Arrow batch size
    × document length (same rationale as ``kg.minhash_matrix``)."""
    out = np.zeros(len(texts), dtype=np.int64)

    def flush(idx: list[int], word_lists: list[list[str]]):
        if not idx:
            return
        flat = [w for words in word_lists for w in words]
        h1 = np.array(
            [zlib.crc32(w.encode("utf-8")) for w in flat], dtype=np.uint64
        )
        h2 = np.array(
            [zlib.crc32(w.encode("utf-8")[::-1]) ^ 0x9E3779B9 for w in flat],
            dtype=np.uint64,
        )
        h = (h1 << np.uint64(32)) | h2
        bits = ((h[:, None] >> _BIT_COLS) & np.uint64(1)).astype(np.int64)
        votes = 2 * bits - 1  # (chunk_words, 64)
        lengths = np.array([len(w) for w in word_lists])
        starts = np.zeros(len(lengths), dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        v = np.add.reduceat(votes, starts, axis=0)  # (n_docs_in_chunk, 64)
        sims = ((v > 0).astype(np.uint64) << _BIT_COLS[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out[idx] = sims.astype(np.int64)  # two's-complement reinterpret

    idx: list[int] = []
    word_lists: list[list[str]] = []
    n_words = 0
    for i, t in enumerate(texts):
        words = t.split()
        if not words:
            continue  # empty doc -> simhash 0 (matches simhash64)
        if n_words + len(words) > _MAX_CHUNK_WORDS and idx:
            flush(idx, word_lists)
            idx, word_lists, n_words = [], [], 0
        idx.append(i)
        word_lists.append(words)
        n_words += len(words)
    flush(idx, word_lists)
    return [int(x) for x in out]


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit simhash over word features (crc32-seeded, deterministic)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids = [int(d) for d in batch[id_col]]
            hashes = _batch_simhash(list(batch[text_col]))
            yield pd.DataFrame({"doc_id": ids, "simhash": hashes})

    # single-row-group inputs otherwise hash the whole corpus on ONE core
    return fan_out(df.select(id_col, text_col)).mapInPandas(
        run, schema=_SIMHASH_SCHEMA
    )


_BIT_COLS = np.arange(64, dtype=np.uint64)


def simhash64(text: str) -> int:
    """Per-document 64-bit simhash as a signed long (module-level for the
    golden-fixture generator)."""
    words = text.split()
    if not words:
        return 0
    h1 = np.array(
        [zlib.crc32(w.encode("utf-8")) for w in words], dtype=np.uint64
    )
    # widen to 64 bits with a second independent crc
    h2 = np.array(
        [zlib.crc32(w.encode("utf-8")[::-1]) ^ 0x9E3779B9 for w in words],
        dtype=np.uint64,
    )
    h = (h1 << np.uint64(32)) | h2
    bits = ((h[:, None] >> _BIT_COLS) & np.uint64(1)).astype(np.int64)
    v = (2 * bits - 1).sum(axis=0)
    sim = int(((v > 0).astype(np.uint64) << _BIT_COLS).sum(dtype=np.uint64))
    return sim - (1 << 64) if sim >= (1 << 63) else sim


def simhash_near_dupes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """(a, b, hamming) pairs with hamming(simhash) <= max_hamming.

    Pigeonhole bucketing by four 16-bit chunks; buckets above ``max_bucket``
    are dropped whole before the self-join
    (:func:`deduce_spark.spark.parallel.cap_buckets`)."""
    # sigs feeds only the chunk explode (the simhash value rides along in
    # chunks), so the cache worth having is chunks, not sigs
    sigs = simhash_signatures(df, text_col, id_col)
    # cached EAGERLY: three downstream subtrees consume it (hot-chunk
    # count, anti-join, self-join l/r) and would otherwise concurrently
    # recompute the whole Python simhash stage, racing to populate the cache
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftrightunsigned(simhash, {16 * i}) & 65535")
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    ).cache()
    chunks.count()
    chunks = cap_buckets(chunks, ["chunk_idx", "chunk_val"], max_bucket)
    cand = (
        chunks.alias("l")
        .join(
            chunks.alias("r"),
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
    )
    # hamming filter BEFORE the distinct: the predicate is a cheap
    # map-side bit_count, so the dedup shuffle carries only qualifying
    # pairs instead of every candidate row (guide §2.3)
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram (word) jaccard similarity pairs — explode + join form,
    fully relational (this is the operator the DuckDB oracle replays)."""
    words = F.split(F.col(text_col), " ")
    gram_list = F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = df.select(
        F.col(id_col).alias("doc_id"), gram_list.alias("grams")
    ).filter(F.size("grams") > 0)
    sizes = grams.select("doc_id", F.size("grams").alias("n_grams"))
    exploded = grams.select("doc_id", F.explode("grams").alias("gram"))
    inter = (
        exploded.alias("l")
        .join(
            exploded.alias("r"),
            (F.col("l.gram") == F.col("r.gram"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_grams", "size_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_grams", "size_b"), "b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "n_common", "jaccard")
    )
