"""Reusable relational operators for the scale path.

These are generic DataFrame -> DataFrame operators that the KG pipeline's
relational stages (and the driver queries) share.  Both are shapes Spark
lacks as single built-ins but that compose cleanly from native functions —
no UDFs, fully whole-stage-codegen, and each has an exact ANSI-SQL twin
for the DuckDB oracle.

- ``salted_count``: two-phase aggregation that defuses hot-key skew.  A
  plain ``groupBy(key).count()`` sends every row of a hot key to one
  reduce task; at 100 TB a 50%-hot domain makes that task the whole job.
  Salting splits each key over ``n_salts`` partial groups (map-side
  combinable), then sums the partials — the second shuffle moves only
  ``n_keys * n_salts`` rows.  Result is bit-identical to the plain
  group-by (the oracle's form).

- ``asof_join``: "most recent prior event" join.  The naive relational
  form is an inequality self-join (``l.ts >= r.ts``) which Spark executes
  as a broadcast-nested-loop — quadratic per user.  The scalable form used
  here is the union-and-window trick: tag right-side rows, sort once per
  key, and carry the last right-side timestamp forward with
  ``last(..., ignorenulls=True)`` over ``rowsBetween(unboundedPreceding,
  -1)``.  One shuffle on the key, linear scan per partition — survives any
  key cardinality because the window never materializes pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """groupBy(key).count() with hot-key salting; returns (key, n).

    Phase 1 groups on (key, salt) — each hot key spreads over ``n_salts``
    reduce tasks; phase 2 sums the ≤ ``n_salts`` partials per key.
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias("n"))


def exact_ntile(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_tiles: int = 10,
    n_buckets: int = 256,
    out_col: str = "tile",
    resplit_share: float = 0.5,
    debug: dict | None = None,
) -> DataFrame:
    """Global ``NTILE(n)`` without a global sort (bit-identical result).

    ``Window.orderBy(value)`` with no partition executes the entire input
    on ONE task — the classic unbounded-input scale killer.  Instead:

    1. one cheap aggregate gives (min, max, count) of ``value_col``;
    2. rows are range-bucketed on value (``n_buckets`` equal-width bins —
       a pure function of the value, so bucket order coarsens the
       (value, tiebreak) sort order);
    3. ``row_number`` within each bucket — ``n_buckets`` parallel tasks;
    4. per-bucket counts (a ≤ ``n_buckets``-row table) are collected —
       bounded by construction — prefix-summed into exclusive offsets on
       the driver, and broadcast-joined back;
    5. global rank = offset + within-bucket row_number, and the NTILE
       index follows arithmetically: with n rows and t tiles,
       q, r = divmod(n, t); ranks ≤ r*(q+1) land in tile
       ceil(rank/(q+1)); the rest in r + ceil((rank - r*(q+1))/q).

    Equal-width bins are CORRECT regardless of skew (bucket order always
    coarsens the (value, tiebreak) order), but a hot VALUE collapses into
    one bin and its ``row_number`` serializes.  The collected bin counts
    make that visible for free: when the largest bin exceeds
    ``resplit_share`` of all rows, the operator detects the hot VALUES
    inside the oversized bins (a second bounded aggregation, filtered to
    counts above the threshold before collecting) and rebuckets with a
    deterministic composite key: each hot value gets its OWN block of
    buckets, equal-width-binned on the TIEBREAK (value is constant
    there, so tiebreak bins coarsen the order), and cold rows keep the
    value bins, re-indexed by how many hot values precede them.  The
    composite (2·|{h < v}| for cold, 2i+1 for hot h_i; then value-bin or
    tiebreak-bin) is monotone in (value, tiebreak) — proof in the code —
    so the same offsets + rank arithmetic stays exact.  Every expression
    is a pure function of the row and driver constants: no sampling, so
    repeated evaluations of the plan agree (``repartitionByRange`` was
    rejected for exactly that reason — RangePartitioner re-samples per
    job).  Residual serialization only when one (value, tiebreak) PAIR
    exceeds the threshold, i.e. the rows are genuinely indistinguishable
    to the sort — supply a higher-cardinality tiebreak then (the
    operator's determinism contract already asks for one).

    String tiebreaks bin on their first 8 UTF-8 bytes via
    ``conv(hex(substring))`` — monotone under Spark's binary string
    collation, and float rounding of the 2^64 range is monotone too, so
    order-consistency survives any precision loss.

    NULL values rank first (bucket ``-1``, before every composite key) —
    the same placement ``ntile() OVER (ORDER BY value)`` gives, so the
    operator is a drop-in for the window form on nullable columns too.
    """
    stats = df.agg(
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = int(stats["n"])
    if n == 0:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    # min/max are NULL when every value is NULL; any finite anchor works
    # then, since all rows land in the NULL bucket
    lo = float(stats["lo"]) if stats["lo"] is not None else 0.0
    hi = float(stats["hi"]) if stats["hi"] is not None else 0.0
    width = (hi - lo) / n_buckets or 1.0
    bkt = F.when(F.col(value_col).isNull(), F.lit(-1)).otherwise(
        F.least(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
            F.lit(n_buckets - 1),
        )
    ).cast("long")
    bucketed = df.withColumn("_bkt", bkt)
    counts = {
        int(r["_bkt"]): int(r["_cnt"])
        for r in bucketed.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()  # ≤ n_buckets + 1 rows by construction
    }
    hot_bins = [
        b for b, c in counts.items()
        if b >= 0 and c > resplit_share * n and n > n_buckets
    ]
    did_resplit = False
    if hot_bins:
        # order-preserving tiebreak surrogate: numeric as-is; strings by
        # their first 8 UTF-8 bytes (monotone under binary collation;
        # double rounding of the 2^64 range is monotone, so precision
        # loss can only merge neighboring sub-bins, never reorder them)
        tb_type = dict(df.dtypes)[tiebreak_col]
        if tb_type in ("string", "varchar"):
            s_expr = F.expr(
                f"CAST(conv(hex(substring({tiebreak_col}, 1, 8)), 16, 10) "
                "AS DOUBLE)"
            )
        else:
            s_expr = F.col(tiebreak_col).cast("double")
        hot = sorted(
            (
                (
                    r["_v"],
                    float(r["_slo"]) if r["_slo"] is not None else 0.0,
                    float(r["_shi"]) if r["_shi"] is not None else 0.0,
                )
                for r in df.withColumn("_bkt", bkt)
                .filter(F.col("_bkt").isin([int(b) for b in hot_bins]))
                .groupBy(F.col(value_col).alias("_v"))
                .agg(
                    F.count(F.lit(1)).alias("_c"),
                    F.min(s_expr).alias("_slo"),
                    F.max(s_expr).alias("_shi"),
                )
                .filter(F.col("_c") > resplit_share * n)  # ≤ 1/share rows
                .collect()
            ),
            key=lambda t: t[0],
        )
        if hot:
            # composite bucket, monotone in (value, tiebreak): primary =
            # 2 * |{hot h < v}| for cold rows, 2i+1 for hot value h_i;
            # secondary = global value bin (cold) or tiebreak bin (hot).
            # Monotonicity: cold v1 < cold v2 -> |{h<v1}| <= |{h<v2}| and
            # same primary means same hot-gap, where the value bin is
            # monotone; cold v < h_i -> primary <= 2i < 2i+1; h_i < cold
            # v -> 2i+1 < 2(i+1) <= primary; h_i rows order by tiebreak,
            # which the tiebreak bin coarsens (value constant).  NULL
            # value keeps bucket -1, below every composite key.
            K = n_buckets + 1
            prim = F.lit(0)
            for i, (h, _, _) in enumerate(hot):
                prim = prim + F.when(F.col(value_col) > F.lit(h), 2).otherwise(0)
            sec = F.least(
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
                F.lit(n_buckets - 1),
            )
            comp = prim * K + sec
            for i, (h, slo, shi) in enumerate(hot):
                swidth = (shi - slo) / n_buckets or 1.0
                # NULL surrogate (NULL tiebreak, or e.g. conv('') for an
                # empty string) sorts first -> sub-bin 0, matching the
                # window's asc-nulls-first tiebreak order
                tbin = F.coalesce(
                    F.least(
                        F.floor((s_expr - F.lit(slo)) / F.lit(swidth)),
                        F.lit(n_buckets - 1),
                    ),
                    F.lit(0),
                )
                comp = F.when(
                    F.col(value_col) == F.lit(h),
                    F.lit((2 * i + 1) * K) + tbin,
                ).otherwise(comp)
            did_resplit = True
            bkt = F.when(
                F.col(value_col).isNull(), F.lit(-1)
            ).otherwise(comp).cast("long")
            bucketed = df.withColumn("_bkt", bkt)
            counts = {
                int(r["_bkt"]): int(r["_cnt"])
                for r in bucketed.groupBy("_bkt")
                .agg(F.count(F.lit(1)).alias("_cnt"))
                .collect()  # ≤ (2·|hot|+1)·(n_buckets+1) rows, bounded
            }
    if debug is not None:  # caller-owned observability (tests, jobs)
        debug.update(
            n_buckets_used=len(counts),
            max_bucket_rows=max(counts.values()),
            resplit=did_resplit,
        )
    acc = 0
    offs = []
    for b in sorted(counts):
        offs.append((b, acc))
        acc += counts[b]
    offsets = F.broadcast(
        df.sparkSession.createDataFrame(offs, "_bkt long, _off long")
    )
    w_in = Window.partitionBy("_bkt").orderBy(
        F.col(value_col).asc_nulls_first(), tiebreak_col
    )
    q, r = divmod(n, n_tiles)
    rank = F.col("_off") + F.row_number().over(w_in)
    if q == 0:
        # fewer rows than tiles: tile == rank
        tile = rank
    else:
        # integer ceil(a/b) = floor((a-1)/b) + 1 for a >= 1
        head = F.floor((rank - 1) / F.lit(q + 1)) + 1
        tail = F.lit(r) + F.floor((rank - F.lit(r * (q + 1)) - 1) / F.lit(q)) + 1
        tile = F.when(rank <= r * (q + 1), head).otherwise(tail) if r else tail
    return (
        bucketed.join(offsets, "_bkt")
        .withColumn(out_col, tile.cast("long"))
        .drop("_bkt", "_off")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_col: str | None = None,
    strict: bool = True,
) -> DataFrame:
    """For each left row, attach the greatest right ``right_ts`` that is
    (strictly, by default) before the left row's ``left_ts``, per ``key``.

    Output: left columns + ``asof_ts`` (null when no prior right row).
    When ``value_col`` is given, that right column rides along as
    ``asof_value``.

    Implementation: union the two sides with a side tag, one window per
    key ordered by (ts, side) — right rows sort before left rows at equal
    timestamps iff ``strict`` is False — then ``last(ignorenulls=True)``
    carries the most recent right timestamp forward.  No pair
    materialization, one shuffle.
    """
    l_cols = left.columns
    r_ts = F.col(right_ts).alias("_ts")
    rv = (F.col(value_col) if value_col else F.lit(None)).alias("_rv")
    tagged_r = right.select(
        F.col(key).alias(key), r_ts, F.lit(1).alias("_is_right"), rv
    )
    tagged_l = left.select(
        *l_cols, F.col(left_ts).alias("_ts"), F.lit(0).alias("_is_right"),
        F.lit(None).cast(tagged_r.schema["_rv"].dataType).alias("_rv"),
    )
    for c in l_cols:
        if c not in (key,):
            tagged_r = tagged_r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = tagged_l.unionByName(tagged_r, allowMissingColumns=False)

    # strict: at equal ts a right row must NOT match a left row at the same
    # instant -> left sorts first; non-strict: right sorts first
    side_order = F.col("_is_right") if strict else -F.col("_is_right")
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts"), side_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r_ts_only = F.when(F.col("_is_right") == 1, F.col("_ts"))
    r_val_only = F.when(F.col("_is_right") == 1, F.col("_rv"))
    out = (
        unioned.withColumn("asof_ts", F.last(r_ts_only, ignorenulls=True).over(w))
        .withColumn("asof_value", F.last(r_val_only, ignorenulls=True).over(w))
        .filter(F.col("_is_right") == 0)
        .drop("_ts", "_is_right", "_rv")
    )
    if value_col is None:
        out = out.drop("asof_value")
    return out


def fuzzy_pairs_dl1(
    names: DataFrame, id_col: str = "doc_id", name_col: str = "name"
) -> DataFrame:
    """All (a, b, na, nb) id pairs whose names are within Damerau-Levenshtein
    distance 1, via deletion-variant blocking (the SymSpell scheme).

    Blocking is EXACT for DL<=1: two strings one edit apart — insert,
    delete, substitute, or adjacent transposition — always share a member of
    variants(s) = {s} ∪ {s with one char deleted}.  (For a transposition
    ..ab.. / ..ba.., deleting the 'a' from one and the other yields the same
    string; for a substitution, deleting the differing char from both does.)
    Candidates come from a hash join on the variant — O(n · avg_len) rows
    instead of the O(n²) all-pairs join — and are verified exactly by the
    kernel's banded OSA distance in one Arrow pass.  A variant shared by
    many names means a genuine near-dup cluster, whose pair output is
    irreducibly quadratic in the cluster size; there is no artificial hot
    bucket to cap.  Matches rapidfuzz DamerauLevenshtein score_cutoff=1
    semantics pinned at reference tests/unit/test_utils.py:17-29.
    """
    import pandas as pd

    from deduce_spark.kernel.distance import within_edit_distance

    variants = F.when(
        F.length(name_col) > 0,
        F.array_union(
            F.array(F.col(name_col)),
            F.expr(
                f"transform(sequence(1, length({name_col})), "
                f"i -> concat(substring({name_col}, 1, i - 1), "
                f"substring({name_col}, i + 1)))"
            ),
        ),
    ).otherwise(F.array(F.col(name_col)))
    exploded = names.select(
        F.col(id_col).alias("id"), F.col(name_col).alias("nm"),
        F.explode(variants).alias("variant"),
    )
    cand = (
        exploded.alias("l")
        .join(
            exploded.alias("r"),
            (F.col("l.variant") == F.col("r.variant"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"), F.col("r.id").alias("b"),
            F.col("l.nm").alias("na"), F.col("r.nm").alias("nb"),
        )
        .distinct()
    )

    def run(batches):
        for batch in batches:
            mask = [
                within_edit_distance(x, y, 1)
                for x, y in zip(batch["na"], batch["nb"])
            ]
            yield batch[pd.Series(mask, index=batch.index)]

    return cand.mapInPandas(run, schema="a long, b long, na string, nb string")


# -- behavioral analytics: funnel -------------------------------------------
# The classic event-log reduction.  Exact-integer over epoch seconds
# (Spark CAST(ts AS LONG) == DuckDB epoch_us(ts) // 1_000_000 — floor for
# positive epochs) so the DuckDB twin value-hash matches.  Scale shape:
# every join and aggregate is keyed on user_id (co-partitioned chain, one
# shuffle key throughout), per-step tables are pre-aggregated (<= |users|
# rows) before joining, and the final output is tiny (|steps| rows).


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """(step_idx, step, users) — users whose events complete each prefix
    of ``steps`` in strict time order (earliest-completion semantics:
    step i+1 must occur strictly after the user's EARLIEST completion of
    step i; ties at identical timestamps do not advance the funnel)."""
    if not steps:
        raise ValueError("steps must be non-empty")
    if len(set(steps)) != len(steps):
        raise ValueError("steps must be distinct")
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    ev = events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t"),
        epoch.alias("s"),
    )
    reached = (
        ev.filter(F.col("t") == steps[0])
        .groupBy("u")
        .agg(F.min("s").alias("s"))
    )
    out = reached.agg(
        F.lit(0).alias("step_idx"), F.lit(steps[0]).alias("step"),
        F.count(F.lit(1)).cast("long").alias("users"),
    )
    for i, step in enumerate(steps[1:], start=1):
        nxt = (
            ev.filter(F.col("t") == step)
            .join(reached.withColumnRenamed("s", "prev_s"), "u")
            .filter(F.col("s") > F.col("prev_s"))
            .groupBy("u")
            .agg(F.min("s").alias("s"))
        )
        reached = nxt
        out = out.unionAll(
            reached.agg(
                F.lit(i).alias("step_idx"), F.lit(step).alias("step"),
                F.count(F.lit(1)).cast("long").alias("users"),
            )
        )
    return out.orderBy("step_idx")


def funnel_oracle_sql(
    steps: list[str],
    table: str = "events",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`funnel_counts`."""
    if not steps:
        raise ValueError("steps must be non-empty")

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    epoch = f"epoch_us({ts_col}) // 1000000"
    ctes = [
        f"""ev AS (SELECT {user_col} AS u, {type_col} AS t,
              {epoch} AS s FROM {table})""",
        f"""r0 AS (SELECT u, MIN(s) AS s FROM ev
              WHERE t = {lit(steps[0])} GROUP BY 1)""",
    ]
    for i, step in enumerate(steps[1:], start=1):
        ctes.append(
            f"""r{i} AS (SELECT ev.u, MIN(ev.s) AS s
                 FROM ev JOIN r{i - 1} p ON ev.u = p.u AND ev.s > p.s
                 WHERE ev.t = {lit(step)} GROUP BY 1)"""
        )
    arms = " UNION ALL ".join(
        f"SELECT {i} AS step_idx, {lit(s)} AS step, "
        f"COUNT(*)::BIGINT AS users FROM r{i}"
        for i, s in enumerate(steps)
    )
    return "WITH " + ",\n".join(ctes) + f" {arms} ORDER BY step_idx"
