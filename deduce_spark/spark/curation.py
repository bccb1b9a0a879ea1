"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, deterministic stratified sampling, token-budget mixing.

All three are native DataFrame compositions (no UDF) with exact ANSI-SQL
twins for the DuckDB oracle; determinism comes from hash-ordered windows
instead of RNG, so a re-run (or a resumed partition) selects identical
rows — the property a reproducible data release needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def decontam_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_max_grams: int = 5_000_000,
    gate: str = "auto",
) -> DataFrame:
    """Per-document benchmark-contamination score: the fraction (permille)
    of the document's word ``n``-grams that appear in ANY benchmark text.

    The standard decontamination pass before LLM training (e.g. GPT-3
    appendix C: 13-gram overlap): training docs whose n-grams collide with
    an eval set are dropped or flagged.  Shape: the benchmark n-gram set is
    SMALL (eval suites are thousands of items), so it broadcasts; the scan
    over training docs is one explode + broadcast semi-join + count —
    no shuffle of the big side at all.  Exact-integer permille keeps the
    value hash stable across engines.

    ``broadcast_max_grams`` guards the broadcast: a caller who passes a
    mega-"benchmark" (say, another training corpus for cross-corpus
    overlap) would OOM every executor with an unconditional broadcast.
    Above the gate the join downgrades to a shuffled left-semi join —
    AQE still picks the cheapest physical join, and correctness is
    unchanged; only the no-shuffle fast path is lost.

    Gate cost (round-4 reshape): the decision uses a METADATA-CHEAP upper
    bound first — total benchmark words from one narrow aggregate (no
    explode, no distinct, no shuffle; n-grams per row ≤ words per row).
    Only when the bound is loose enough to matter (within 20× of the
    threshold, where dedup could pull the true gram count back under) is
    the exact distinct-gram count paid; that path recomputes the
    benchmark explode once more inside the join instead of persisting it
    — the benchmark side is small by construction, and nothing is left
    cached for the session (ADVICE r3 #1).
    """
    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        # split materialized once: inlined into the transform lambda it
        # re-evaluates per n-gram (no CSE inside higher-order functions)
        # — O(words^2) per doc, a single 30k-word page took ~57 s
        g = (
            f"case when size(ws) < {n} then array() "
            f"else transform(sequence(1, size(ws) - {n - 1}), "
            f"i -> array_join(slice(ws, i, {n}), ' ')) end"
        )
        cols = [F.col(id_col).alias("doc_id")] if keep_id else []
        base = df.select(*cols, F.split(F.col(text_col), " ").alias("ws"))
        return base.select(
            *(["doc_id"] if keep_id else []),
            F.explode(F.expr(g)).alias("gram"),
        )

    bench_grams = grams(benchmark, keep_id=False).distinct()
    # gate="broadcast"/"shuffle" skips the probe job entirely (zero jobs at
    # construction) for callers who already know their benchmark's size
    if gate == "broadcast":
        return _decontam_tail(docs, F.broadcast(bench_grams), grams)
    if gate == "shuffle":
        return _decontam_tail(docs, bench_grams, grams)
    if gate != "auto":
        raise ValueError(f"unknown gate {gate!r}")
    word_bound = (
        benchmark.select(
            F.sum(F.size(F.split(F.col(text_col), " "))).alias("w")
        ).first()["w"]
        or 0
    )
    if word_bound <= broadcast_max_grams or (
        word_bound <= 20 * broadcast_max_grams
        and bench_grams.count() <= broadcast_max_grams
    ):
        bench_grams = F.broadcast(bench_grams)
    return _decontam_tail(docs, bench_grams, grams)


def _decontam_tail(docs: DataFrame, bench_grams, grams) -> DataFrame:
    doc_grams = grams(docs, keep_id=True)
    totals = doc_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        doc_grams.join(bench_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.expr(
                "case when n_grams = 0 then 0 "
                "else (1000 * coalesce(n_hits, 0)) DIV n_grams end"
            ).alias("contam_permille"),
        )
    )


def sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt_buckets: int = 32,
) -> DataFrame:
    """Deterministic stratified sample: the ``k`` rows per group with the
    smallest ``md5(id)`` — a uniform pseudo-random draw that every
    re-run (and every resumed partition) reproduces exactly, unlike
    ``df.sample`` whose output depends on partitioning.  (md5-of-string
    rather than xxhash64 so the DuckDB oracle can replay the exact order;
    a production mix would use the cheaper ``F.xxhash64`` — the plan shape
    is identical.)

    Scale shape — salted partial top-k, then a bounded global re-rank:
    a single ``Window.partitionBy(group)`` executes each group's sort on
    ONE task, so a dominant group (e.g. lang='en' ≈ most of the web)
    serializes at 10^12 docs.  Instead:

    1. phase 1 ranks within (group, salt) — ``salt_buckets`` tasks per
       group — keeping at most ``k`` rows per salt bucket;
    2. phase 2 re-ranks the ≤ k·salt_buckets survivors per group — a
       per-group window again, but over a BOUNDED row count that is
       independent of corpus size, so the single task per group touches
       at most k·salt_buckets rows no matter how skewed the input.

    A group's true top-k all survive phase 1 (each ranks ≤ k inside its
    own salt bucket), so the result is identical to the direct window."""
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(salt_buckets))
    w1 = Window.partitionBy(group_col, "salt").orderBy("h", id_col)
    w2 = Window.partitionBy(group_col).orderBy("h", id_col)
    return (
        df.withColumn("h", F.md5(F.col(id_col).cast("string")))
        .withColumn("salt", salt)
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= k)
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .drop("h", "salt", "rk1", "rk")
    )


def token_budget_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus mixing under per-source token budgets: keep documents from
    each source in hash order until the source's running token total
    reaches its budget (the last admitted document may overshoot — budget
    semantics are "stop after crossing", which keeps the cutoff a pure
    row-local predicate over the running sum).

    This is how training mixes are assembled ("100B tokens web, 20B code,
    5B wiki"): deterministic hash order de-biases the take (no
    crawl-order artifacts) and the budget map rides along as a broadcast
    literal.

    Scale shape — two-phase prefix sums: a single
    ``Window.partitionBy(source)`` running sum executes each source on ONE
    task, so the dominant source serializes at 10^12 docs.  Instead the
    hash order is range-bucketed by the first two hex chars of ``h`` (256
    buckets whose lexicographic order coarsens the (h, id) sort order):

    1. within-(source, bucket) running sums — 256 tasks per source;
    2. per-(source, bucket) totals — a tiny source×256-row table whose
       cumulative-offset window costs nothing and broadcasts back;
    3. global running = bucket offset + within-bucket running, and the
       budget cutoff stays a row-local predicate.

    The result is row-identical to one global per-source prefix sum."""
    spark = docs.sparkSession
    budget_df = F.broadcast(
        spark.createDataFrame(
            [(s, int(b)) for s, b in sorted(budgets.items())],
            f"{group_col} string, budget long",
        )
    )
    hashed = docs.withColumn(
        "h", F.md5(F.col(id_col).cast("string"))
    ).withColumn("bkt", F.substring("h", 1, 2))
    w_in = (
        Window.partitionBy(group_col, "bkt")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # per-(source, bucket) totals -> exclusive cumulative offset per bucket.
    # This aggregate is at most |sources|*256 rows, so its per-source
    # window is trivially cheap regardless of corpus size.
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = F.broadcast(
        hashed.groupBy(group_col, "bkt")
        .agg(F.sum(tokens_col).alias("bkt_total"))
        .withColumn("offset", F.coalesce(F.sum("bkt_total").over(w_off), F.lit(0)))
        .drop("bkt_total")
    )
    return (
        hashed.withColumn("running_in", F.sum(tokens_col).over(w_in))
        .join(offsets, [group_col, "bkt"])
        .withColumn("running", F.col("offset") + F.col("running_in"))
        .join(budget_df, group_col)
        .filter((F.col("running") - F.col(tokens_col)) < F.col("budget"))
        .drop("h", "bkt", "running_in", "offset", "budget")
    )


def pack_sequences(
    docs: DataFrame,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seq_len: int = 2048,
) -> DataFrame:
    """Concat-and-split sequence packing: the deterministic document ->
    training-pack assignment used to turn a curated corpus into
    fixed-length model-input sequences (documents are laid out in a
    deterministic hash order, concatenated, and sliced every ``seq_len``
    tokens; a document may straddle pack boundaries).

    Emits per document: ``start_tok`` (global exclusive token offset),
    ``pack_id`` (= start_tok DIV seq_len), ``pack_offset`` (= start_tok %
    seq_len) and ``n_spans`` (how many packs the document touches — the
    shard writer uses it to know which packs need this document's
    bytes).  Zero-token documents count as touching the single pack at
    their offset.

    The global prefix sum reuses :func:`token_budget_mix`'s two-phase
    shape (one global ``Window.orderBy`` would serialize the corpus on a
    single task): md5-bucket running sums in 256 parallel tasks, then —
    following ``exact_ntile``'s offsets discipline — the <=256-row
    bucket-total table is collected (bounded by construction) and
    prefix-summed on the driver into broadcast offsets.  Row-identical
    to a single global window; every output column is exact integer
    arithmetic, so the DuckDB twin is the one-window textbook form."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    hashed = docs.withColumn(
        "h", F.md5(F.col(id_col).cast("string"))
    ).withColumn("bkt", F.substring("h", 1, 2))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = hashed.groupBy("bkt").agg(
        F.sum(tokens_col).alias("t")
    ).collect()  # <= 256 rows by construction
    acc = 0
    offs = []
    for r in sorted(totals, key=lambda r: r["bkt"]):
        offs.append((r["bkt"], acc))
        acc += int(r["t"] or 0)
    offsets = F.broadcast(
        docs.sparkSession.createDataFrame(offs, "bkt string, offset long")
    )
    return (
        hashed.withColumn("running", F.sum(tokens_col).over(w_in))
        .join(offsets, "bkt")
        .withColumn(
            "start_tok",
            (F.col("offset") + F.col("running") - F.col(tokens_col))
            .cast("long"),
        )
        .withColumn("pack_id", F.expr(f"start_tok DIV {int(seq_len)}"))
        .withColumn("pack_offset", F.expr(f"start_tok % {int(seq_len)}"))
        .withColumn(
            "n_spans",
            F.expr(
                f"(start_tok + greatest({tokens_col}, 1) - 1) "
                f"DIV {int(seq_len)}"
            ) - F.col("pack_id") + 1,
        )
        .select(
            id_col, F.col(tokens_col).cast("long").alias(tokens_col),
            "start_tok", "pack_id", "pack_offset",
            F.col("n_spans").cast("long").alias("n_spans"),
        )
    )


def corpus_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int | None = None,
) -> DataFrame:
    """End-to-end keep/drop verdict per document — the composition a
    cleaning pipeline actually materializes before training.

    Rules in precedence order (first failing rule names the drop reason;
    all thresholds integer-exact so both engines agree bit-for-bit):

      too_short   n_words < 20
      too_long    n_words > max_words (only when ``max_words`` is set —
                  the crawl-scale memory bound: drops pathological
                  multi-million-word pages BEFORE any shingling /
                  signature stage sees them)
      repetitive  dup_bigram_permille >= 150 (Gopher-style repetition)
      dominated   top_word_permille >= 300  (one token owns the text)
      duplicate   another doc with a smaller id has identical text
      keep        otherwise

    Scale shape: repetition signals are per-row expressions + one
    groupBy(doc); the duplicate rule is a map-side-combinable
    min-per-md5(text) aggregate joined back — one groupBy on md5(text),
    no per-group window materialization."""
    from deduce_spark.spark.textstats import repetition_stats

    rep = repetition_stats(
        docs.select(id_col, text_col), text_col, id_col=id_col
    )
    # duplicate rule via map-combinable min + equi-join, NOT a window over
    # md5(text): WindowExec materializes (and sorts) each hash group on one
    # task, so a pathological 100M-copies-of-one-page corpus hot-spots a
    # single straggler; the aggregate is partial-combined map-side and the
    # join probe streams (AQE skew-split eligible).  md5 is coalesced to ''
    # (never a real 32-hex digest) so NULL texts stay one group, exactly
    # as PARTITION BY groups them.  Same is_dup verdicts bit-for-bit.
    doc_h = F.coalesce(F.md5(F.col(text_col)), F.lit(""))
    dup_min = docs.groupBy(doc_h.alias("_h")).agg(
        F.min(id_col).alias("_min_id")
    )
    dup = (
        docs.select(F.col(id_col).alias("doc_id"), doc_h.alias("_h"))
        .join(dup_min, "_h")
        .select("doc_id", (F.col("doc_id") > F.col("_min_id")).alias("is_dup"))
    )
    return (
        rep.join(dup, "doc_id")
        .select(
            "doc_id",
            "n_words",
            F.expr(
                "case when n_words < 20 then 'too_short' "
                + (
                    f"when n_words > {int(max_words)} then 'too_long' "
                    if max_words is not None
                    else ""
                )
                + "when dup_bigram_permille >= 150 then 'repetitive' "
                "when top_word_permille >= 300 then 'dominated' "
                "when is_dup then 'duplicate' "
                "else 'keep' end"
            ).alias("verdict"),
        )
        .withColumn("keep", F.col("verdict") == "keep")
    )


def split_assign(
    df: DataFrame,
    weights: dict[str, int] | None = None,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id.

    ``weights`` maps split name -> integer weight out of their sum (default
    96/2/2).  The bucket is the first 8 hex chars of md5(salt || id) mod
    total-weight: stable across runs, partitionings, and engines (the
    DuckDB oracle replays it exactly); changing ``salt`` re-rolls the
    split without touching data.  Row-local — no shuffle at all."""
    weights = weights or {"train": 96, "val": 2, "test": 2}
    total = sum(weights.values())
    bucket = F.expr(
        f"conv(substring(md5(concat('{salt}', cast({id_col} as string))),"
        f" 1, 8), 16, 10) % {total}"
    ).cast("long")
    expr, lo = None, 0
    out = F.lit(None).cast("string")
    for name, wgt in sorted(weights.items()):
        cond = (F.col("_bucket") >= lo) & (F.col("_bucket") < lo + wgt)
        out = F.when(cond, name).otherwise(out)
        lo += wgt
    return (
        df.withColumn("_bucket", bucket)
        .withColumn("split", out)
        .drop("_bucket")
    )


def distinctive_terms(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` most distinctive terms per group — TF-IDF in exact-integer
    form: score = tf_in_group * 1_000_000 DIV df_groups (cross-multiplied
    instead of float idf, so Spark and the oracle rank identically; libm
    ``ln`` differs in the last ulp across engines).

    Two map-side-combinable aggregations (term counts per group, group
    document frequency per term) + one broadcast-size join + one windowed
    top-k — the standard "characteristic vocabulary" report at corpus
    scale."""
    words = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(text_col, " ")).alias("w"),
    ).filter(F.col("w") != "")
    tf = words.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_groups = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df_groups"))
    w = Window.partitionBy("grp").orderBy(
        F.desc("score"), F.asc("w")
    )
    return (
        tf.join(df_groups, "w")
        .withColumn("score", F.expr("(tf * 1000000) DIV df_groups"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("grp", F.col("rk").cast("long").alias("rk"), "w", "tf",
                "df_groups", "score")
    )
