"""Scale-adaptive input fan-out for CPU-heavy stages, and the hot-bucket
cap every bucketed self-join applies before it goes quadratic.

A parquet fixture written as one row group yields a ONE-partition scan no
matter how small ``spark.sql.files.maxPartitionBytes`` is (row groups do
not split), so an Arrow/pandas UDF or higher-order-function compute stage
fed straight from such a scan runs on a single core.  ``fan_out`` inserts
a repartition ONLY when the input is small; at production scale the
input exceeds the size gate and the helper is a provable no-op — the
guard keeps it from ADDING a shuffle where the scan already provides
parallelism (optimization guide §2.4: remove shuffles, don't introduce
them).

The decision uses the optimizer's size ESTIMATE (``optimizedPlan().
stats().sizeInBytes``), which costs ~50 ms of analysis — NOT
``df.rdd.getNumPartitions()``, which runs full physical planning plus an
RDD conversion and measured ~0.9 s per fresh plan, a real tax on every
operator that calls this once per query.  For a sub-``max_bytes`` input
the repartition shuffle itself is ~0.1 s, so fanning out even an input
that already has enough partitions is cheaper than probing precisely.

The shuffled bytes are the narrow projection the compute stage needs
(id + text / id + vector), not the full row — callers project first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(
    df: DataFrame,
    key: str | None = None,
    waves: int = 1,
    max_bytes: int = 1 << 30,
) -> DataFrame:
    """Repartition ``df`` to ``waves`` task waves per core when its
    estimated size is below ``max_bytes``; return it unchanged otherwise.

    One wave (the default) measures best for these sub-GB inputs: every
    extra task pays a fixed Python round-trip (~0.25 s of arrow stream
    setup + scheduling), which outweighs tail-packing benefits when a
    task's compute is tens of milliseconds (A/B: minhash 6.8-7.5 s at 1
    wave vs 7.6-8.3 s at 2, simhash likewise).  At production scale the
    size gate makes this a no-op, so the knob only affects small inputs
    where overhead dominates.

    Default is ROUND-ROBIN repartition: it spreads both row count and
    bytes evenly (hash-partitioning on an id can correlate with payload
    size and leave stragglers — measured 2.2x slower than round-robin on
    the 50k-doc minhash signature stage), and it is retry-stable because
    ``spark.sql.execution.sortBeforeRepartition`` (default on) sorts the
    partition locally before dealing rows.  ``key`` opts into
    deterministic hash partitioning when a downstream operation needs
    co-partitioning by that column."""
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism, 1) * waves
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # pragma: no cover - planning quirks never fatal
        return df
    if 0 <= size <= max_bytes:
        pass  # provably small: fan out
    elif size == (1 << 63) - 1:
        # stats unknown (Long.MaxValue, e.g. a local relation behind a
        # coalesce): fall back to the partition-count probe — pays the
        # physical-planning cost, but only on statless inputs, which real
        # scans and cached relations never are
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:  # pragma: no cover
            return df
    else:
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def cap_buckets(df: DataFrame, keys: list[str], max_size: int) -> DataFrame:
    """Drop whole every ``keys`` group of ``df`` with more than ``max_size``
    rows (deterministic: a group is kept or dropped entirely).

    A bucket with B members costs B²/2 rows in the self-join that follows,
    so one hot bucket — boilerplate text, template dates, a degenerate
    embedding region — can dominate the whole stage at scale.

    The cap is a map-combinable count per group, the OVER-cap keys, and a
    broadcast ``left_anti`` join of ``df`` against them.  It is not a
    window keyed on the bucket: a window materializes each hot bucket
    (sorted) on one task before filtering it, the very straggler the cap
    exists to prevent.  The over-cap side is the broadcast side because it
    is small by construction (at most ``n / max_size`` keys, none on
    healthy data); the under-cap key set is as large as the input.

    ``df`` is read twice (count and join): callers pass a cached frame when
    it is expensive to recompute.  The output lists ``keys`` first."""
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_size)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")
