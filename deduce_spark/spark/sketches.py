"""Distributed cardinality sketches: HyperLogLog register tables.

``approx_count_distinct`` (Spark's built-in HLL++) returns an estimate
whose exact value depends on internal hashing, so it cannot be
value-oracled across engines.  This module instead materializes the HLL
REGISTER TABLE itself with engine-portable integer arithmetic:

- 32-bit hash from the first 8 hex chars of md5 (same trick the other
  oracles use — DuckDB replays it exactly);
- bucket = top ``p`` bits, rho = 1 + leading-zero count of the remaining
  ``32-p`` bits, computed via the length of the binary string (``bin``
  exists in both engines) — no floats anywhere;
- registers = groupBy(bucket).max(rho): a map-side-combinable aggregate
  over at most 2^p groups, the textbook mergeable-sketch shape — at
  10^12 rows each partition reduces to <=2^p integers before the (tiny)
  shuffle, and unioning corpora is a max() of their register tables.

``hll_estimate`` turns a collected register table into the standard HLL
estimate (driver-side; 2^p <= a few KB).  Exposed separately so the
distributed artifact stays integer-exact for the correctness gate while
the float estimate remains available to callers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_registers(df: DataFrame, col: str, p: int = 9) -> DataFrame:
    """(bucket, max_rho) HLL register table for the values of ``col``.

    Null values are ignored (SQL COUNT DISTINCT semantics).  Output has
    at most 2^p rows; absent buckets mean register value 0.  Register
    sets merge by max, so sketches shard, roll up, and union across
    corpora without ever rescanning.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    rem_bits = 32 - p
    h32 = f"CAST(conv(substring(md5(CAST({col} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    bucket = f"({h32}) DIV {2 ** rem_bits}"
    rem = f"({h32}) % {2 ** rem_bits}"
    rho = (
        f"CASE WHEN {rem} = 0 THEN {rem_bits + 1} "
        f"ELSE {rem_bits} - length(bin({rem})) + 1 END"
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            F.expr(bucket).cast("int").alias("bucket"),
            F.expr(rho).cast("int").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_oracle_sql(source_sql: str, col: str, p: int = 9) -> str:
    """DuckDB twin of ``hll_registers`` over ``source_sql`` (a query or
    table exposing ``col``)."""
    rem_bits = 32 - p
    h32 = f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT)"
    rem = f"(({h32}) % {2 ** rem_bits})"
    return f"""
        SELECT CAST(({h32}) // {2 ** rem_bits} AS INT) AS bucket,
               CAST(MAX(CASE WHEN {rem} = 0 THEN {rem_bits + 1}
                        ELSE {rem_bits} - length(bin({rem})) + 1 END) AS INT)
                   AS max_rho
        FROM ({source_sql})
        WHERE {col} IS NOT NULL
        GROUP BY 1
    """


def hll_estimate(registers: list[tuple[int, int]], p: int = 9) -> float:
    """Standard HLL estimate from (bucket, max_rho) pairs (absent buckets
    count as register 0).  Includes the small-range linear-counting
    correction; large-range correction is omitted (32-bit hash caps the
    usable range well below where it matters for corpus-level counts)."""
    m = 2 ** p
    regs = [0] * m
    for b, r in registers:
        regs[b] = max(regs[b], r)
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    raw = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    if raw <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return raw


# ---------------------------------------------------------------------------
# Bloom filter (mergeable bitmap membership sketch)
# ---------------------------------------------------------------------------
#
# The 100 TB decontamination path: build a Bloom filter over the benchmark
# set ONCE (a groupBy(word_idx).bit_or aggregate — map-side-combinable, so
# each partition reduces to <= m_words int64s before a tiny shuffle), then
# broadcast the <= m_words-row bitmap and probe petabyte-scale corpora
# join-free.  Engine-portable by construction: double hashing h_i = h1 +
# i*h2 (Kirsch-Mitzenmacher) over the md5-hex-prefix integers every other
# oracle in this repo uses, 63 usable bits per int64 word (bit 63 never
# set, so Spark's wrapping shiftleft and DuckDB's << agree and bit_or
# stays non-negative).  Merging two filters of the same shape is
# bit_or(bits) per word_idx; no false negatives ever (pytest-pinned).


def _bloom_h12(col_sql: str, duck: bool) -> tuple[str, str]:
    if duck:
        h = f"md5(CAST({col_sql} AS VARCHAR))"
        return (
            f"CAST(('0x' || substr({h}, 1, 8)) AS BIGINT)",
            f"CAST(('0x' || substr({h}, 9, 8)) AS BIGINT)",
        )
    h = f"md5(CAST({col_sql} AS STRING))"
    return (
        f"CAST(conv(substring({h}, 1, 8), 16, 10) AS BIGINT)",
        f"CAST(conv(substring({h}, 9, 8), 16, 10) AS BIGINT)",
    )


def _dh_expand(
    df: DataFrame, col: str, n: int, modulus: int, keep: tuple = ()
) -> DataFrame:
    """Kirsch-Mitzenmacher expansion shared by the Bloom and Count-Min
    sketches: one row per (non-null value, hash index i in [0, n)) with
    ``slot = (h1 + i*h2) % modulus``, carrying the ``keep`` columns.
    Any change to the probing scheme goes HERE and in :func:`_dh_sql`
    (its DuckDB twin) — nowhere else."""
    h1, h2 = _bloom_h12(col, duck=False)
    return (
        df.filter(F.col(col).isNotNull())
        .select(*keep, F.expr(h1).alias("h1"), F.expr(h2).alias("h2"))
        .select(
            *keep, "h1", "h2",
            F.explode(F.array(*[F.lit(i) for i in range(n)])).alias("i"),
        )
        .select(
            *keep, "i",
            F.expr(f"(h1 + i * h2) % {modulus}").alias("slot"),
        )
    )


def _dh_sql(
    source_sql: str, col: str, n: int, modulus: int, keep: tuple = ()
) -> str:
    """DuckDB twin of :func:`_dh_expand` over ``source_sql`` — identical
    arithmetic, columns (keep..., i, slot)."""
    h1, h2 = _bloom_h12(col, duck=True)
    keep_cols = "".join(f"{c}, " for c in keep)
    return f"""
        SELECT {keep_cols}i, ({h1} + i * {h2}) % {modulus} AS slot
        FROM ({source_sql}), range({n}) t(i)
        WHERE {col} IS NOT NULL
    """


def bloom_build(
    df: DataFrame, col: str, m_words: int = 1024, n_hashes: int = 4
) -> DataFrame:
    """(word_idx, bits) Bloom bitmap over the values of ``col``.

    ``m_words * 63`` bits total; nulls ignored.  Output has at most
    ``m_words`` rows — broadcastable up to tens of millions of words
    (a 2^24-word filter is 128 MB; size to the benchmark set, not the
    probed corpus)."""
    if m_words < 1 or not 1 <= n_hashes <= 16:
        raise ValueError(f"bad bloom shape ({m_words=}, {n_hashes=})")
    return (
        _dh_expand(df, col, n_hashes, m_words * 63)
        .select(
            F.expr("slot DIV 63").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(slot % 63 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    col: str,
    m_words: int = 1024,
    n_hashes: int = 4,
) -> DataFrame:
    """(value, member) for the DISTINCT non-null values of ``col`` in
    ``probes``, against a :func:`bloom_build` bitmap of the SAME shape.
    member=true may be a false positive; member=false is definitive."""
    distinct_vals = (
        probes.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("value"))
        .distinct()
    )
    expanded = _dh_expand(
        distinct_vals, "value", n_hashes, m_words * 63, keep=("value",)
    ).select(
        "value",
        F.expr("slot DIV 63").alias("word_idx"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(slot % 63 AS INT))"
        ).alias("mask"),
    )
    hit = F.coalesce(
        F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"),
        F.lit(False),
    )
    return (
        expanded.join(F.broadcast(bloom), "word_idx", "left")
        .groupBy("value")
        .agg(F.bool_and(hit).alias("member"))
    )


def bloom_oracle_sql(
    source_sql: str, col: str, m_words: int = 1024, n_hashes: int = 4
) -> str:
    """DuckDB twin of :func:`bloom_build` over ``source_sql``."""
    return f"""
        SELECT slot // 63 AS word_idx,
               bit_or(1::BIGINT << CAST(slot % 63 AS INT)) AS bits
        FROM ({_dh_sql(source_sql, col, n_hashes, m_words * 63)})
        GROUP BY 1
    """


def bloom_probe_oracle_sql(
    bloom_sql: str,
    probe_sql: str,
    col: str,
    m_words: int = 1024,
    n_hashes: int = 4,
) -> str:
    """DuckDB twin of :func:`bloom_probe`: (value, member) for distinct
    non-null probe values against ``bloom_sql``'s (word_idx, bits)."""
    distinct_sql = (
        f"SELECT DISTINCT {col} AS value FROM ({probe_sql}) "
        f"WHERE {col} IS NOT NULL"
    )
    expand = _dh_sql(
        distinct_sql, "value", n_hashes, m_words * 63, keep=("value",)
    )
    return f"""
        SELECT value,
               bool_and(COALESCE((bits & mask) = mask, FALSE)) AS member
        FROM (
            SELECT value, slot // 63 AS word_idx,
                   1::BIGINT << CAST(slot % 63 AS INT) AS mask
            FROM ({expand})
        )
        LEFT JOIN ({bloom_sql}) USING (word_idx)
        GROUP BY value
    """


# -- Count-Min sketch ------------------------------------------------------
# The frequency-estimation member of the mergeable-sketch family (HLL =
# cardinality, Bloom = membership, CMS = point frequency; Cormode &
# Muthukrishnan 2005).  Same scale shape as
# the others: build is a map-side-combinable SUM over at most
# depth*width cells (each 10^12-row partition reduces to the tiny grid
# before the shuffle), merging two sketches of the same shape is
# SUM(cnt) per cell, and the grid broadcasts for join-free probing.
# Estimates overcount only (est >= true count; pytest-pinned), with the
# standard eps = e/width, delta = e^-depth guarantees.  Double hashing
# h_i = h1 + i*h2 reuses the md5-hex-prefix integers of the Bloom/HLL
# oracles, so DuckDB replays the exact grid.


def cms_build(
    df: DataFrame, col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """(row_i, bucket, cnt) Count-Min grid over the values of ``col``.

    Nulls ignored; at most ``depth * width`` rows; absent cells mean
    count 0.  Merge sketches of the same shape by summing cnt per
    (row_i, bucket)."""
    if width < 1 or not 1 <= depth <= 16:
        raise ValueError(f"bad cms shape ({width=}, {depth=})")
    return (
        _dh_expand(df, col, depth, width)
        .select(F.col("i").alias("row_i"), F.col("slot").alias("bucket"))
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_query(
    cms: DataFrame,
    probes: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """(value, est) for the DISTINCT non-null values of ``col`` in
    ``probes`` against a :func:`cms_build` grid of the SAME shape.
    ``est >= true count`` always (collisions only ever add)."""
    distinct_vals = (
        probes.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("value"))
        .distinct()
    )
    expanded = _dh_expand(
        distinct_vals, "value", depth, width, keep=("value",)
    ).select(
        "value",
        F.col("i").alias("row_i"),
        F.col("slot").alias("bucket"),
    )
    return (
        expanded.join(F.broadcast(cms), ["row_i", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_oracle_sql(
    source_sql: str, col: str, width: int = 1024, depth: int = 4
) -> str:
    """DuckDB twin of :func:`cms_build` over ``source_sql``."""
    return f"""
        SELECT i AS row_i, slot AS bucket, COUNT(*)::BIGINT AS cnt
        FROM ({_dh_sql(source_sql, col, depth, width)})
        GROUP BY 1, 2
    """


def cms_query_oracle_sql(
    cms_sql: str,
    probe_sql: str,
    col: str,
    width: int = 1024,
    depth: int = 4,
) -> str:
    """DuckDB twin of :func:`cms_query`: (value, est) for distinct
    non-null probe values against ``cms_sql``'s (row_i, bucket, cnt)."""
    distinct_sql = (
        f"SELECT DISTINCT {col} AS value FROM ({probe_sql}) "
        f"WHERE {col} IS NOT NULL"
    )
    expand = _dh_sql(distinct_sql, "value", depth, width, keep=("value",))
    return f"""
        SELECT value, MIN(COALESCE(cnt, 0))::BIGINT AS est
        FROM (
            SELECT value, i AS row_i, slot AS bucket FROM ({expand})
        )
        LEFT JOIN ({cms_sql}) USING (row_i, bucket)
        GROUP BY value
    """
