"""Text-analysis operators: token counting, quality scoring, language id,
document fingerprinting.

Everything except the winnowing fingerprint is built from native
``pyspark.sql.functions`` (JVM-side, whole-stage codegen) and has an exact
ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduce_spark.spark.parallel import fan_out

# a regex in the BPE-pretokenizer family (GPT-2 style, simplified to the
# RE2-compatible subset so Spark and DuckDB agree): word pieces, numbers,
# punctuation runs
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

STOPWORDS = {
    "nl": ("de", "het", "een", "en", "van", "ik", "te", "dat", "die", "in",
           "is", "op", "aan", "met", "als", "voor", "er", "maar", "om",
           "door", "over", "ze", "bij", "ook", "tot", "je", "mijn", "zich",
           "uit", "naar", "heeft", "hij", "niet", "zijn"),
    "en": ("the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
           "he", "was", "for", "on", "are", "as", "with", "his", "they",
           "at", "be", "this", "have", "from", "or", "had", "by", "but"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit",
           "sich", "des", "auf", "für", "ist", "im", "dem", "nicht", "ein",
           "eine", "als", "auch", "es", "an", "werden", "aus", "er", "hat"),
}


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish piece count per document."""
    return df.select(
        "doc_id",
        F.size(F.split(F.col(text_col), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).alias(
            "bpe_tokens"
        ),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality signals: length, mean word length, punctuation ratio,
    uppercase ratio, distinct-word ratio, and a composite score."""
    text = F.col(text_col)
    words = F.split(text, r"\s+")
    n_chars = F.length(text)
    n_words = F.size(words)
    punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    distinct_ratio = F.size(F.array_distinct(words)) / n_words
    mean_word_len = (n_chars - n_words + 1) / n_words
    score = (
        F.when((n_words >= 5) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), 0.25).otherwise(0.0)
        + F.when(punct / n_chars <= 0.2, 0.25).otherwise(0.0)
        + 0.25 * distinct_ratio
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(punct / n_chars, 4).alias("punct_ratio"),
        F.round(upper / n_chars, 4).alias("upper_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(score, 4).alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language id over {nl, en, de}: the language whose
    stopword list overlaps the document's distinct lowercase words most
    (count of matching stopword TYPES); deterministic de>en>nl tie-break via
    greatest()-first ordering."""
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    scores = {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in sw])))
        for lang, sw in STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["nl"] == best, "nl")
        .when(scores["en"] == best, "en")
        .otherwise("de")
    )
    return df.select(
        "doc_id",
        scores["nl"].alias("score_nl"),
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        F.when(best > 0, pred).otherwise("unknown").alias("pred_lang"),
    )


def fingerprint_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-normalized md5 content fingerprint (SQL-expressible)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))


def textstats_all(df: DataFrame, text_col: str = "text") -> DataFrame:
    """token_count + quality_score + lang_id + fingerprint_md5 fused into a
    SINGLE projection: one parquet scan, every expression JVM-native inside
    one whole-stage-codegen span.  At 100 TB this is the shape you want —
    the four stats never justify four passes over the corpus.  Column
    values are bit-identical to the individual functions (pinned by
    tests/spark/test_operators.py)."""
    text = F.col(text_col)
    words = F.split(text, r"\s+")
    n_chars = F.length(text)
    n_words = F.size(words)
    punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    distinct_ratio = F.size(F.array_distinct(words)) / n_words
    mean_word_len = (n_chars - n_words + 1) / n_words
    score = (
        F.when((n_words >= 5) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), 0.25).otherwise(0.0)
        + F.when(punct / n_chars <= 0.2, 0.25).otherwise(0.0)
        + 0.25 * distinct_ratio
    )
    lwords = F.array_distinct(F.split(F.lower(text), r"\s+"))
    lang_scores = {
        lang: F.size(F.array_intersect(lwords, F.array(*[F.lit(w) for w in sw])))
        for lang, sw in STOPWORDS.items()
    }
    best = F.greatest(*lang_scores.values())
    pred = (
        F.when(lang_scores["nl"] == best, "nl")
        .when(lang_scores["en"] == best, "en")
        .otherwise("de")
    )
    norm = F.regexp_replace(F.lower(text), r"\s+", " ")
    return df.select(
        "doc_id",
        F.size(words).alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)).alias(
            "bpe_tokens"
        ),
        n_chars.alias("n_chars"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(punct / n_chars, 4).alias("punct_ratio"),
        F.round(upper / n_chars, 4).alias("upper_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(score, 4).alias("quality"),
        lang_scores["nl"].alias("score_nl"),
        lang_scores["en"].alias("score_en"),
        lang_scores["de"].alias("score_de"),
        F.when(best > 0, pred).otherwise("unknown").alias("pred_lang"),
        F.md5(norm).alias("fingerprint"),
    )


_WINNOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("winnow", T.ArrayType(T.LongType())),
    ]
)


def winnowing_fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al. 2003): rolling
    polynomial hash of k-grams, min-sampled per window.  Loops are
    per-document -> Arrow-batched numpy UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, prints = [], []
            for did, text in zip(batch["doc_id"], batch[text_col]):
                ids.append(int(did))
                prints.append(winnow_doc(text, k, window))
            yield pd.DataFrame({"doc_id": ids, "winnow": prints})

    # single-row-group inputs otherwise fingerprint on ONE core
    return fan_out(df.select("doc_id", text_col)).mapInPandas(
        run, schema=_WINNOW_SCHEMA
    )


_HASH_BASE = 1000003
# base is odd, hence a unit mod 2^64 — the prefix trick below divides by
# base powers via this inverse instead of an impossible integer division
_HASH_IBASE = pow(_HASH_BASE, -1, 1 << 64)


def _rolling_kgram_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """All k-gram 61-bit polynomial hashes of a uint64 byte array.

    ``h[i] = (sum_j data[i+j] * base^(k-1-j)) mod 2^61``, computed in a
    constant number of vectorized uint64 passes (independent of both n and
    k) via weighted prefix sums: with ``Q[m] = sum_{j<m} data[j] *
    base^(len-1-j)`` (wrapped cumsum), ``h[i] * base^(len-k-i) = Q[i+k] -
    Q[i]`` mod 2^64, and base is invertible mod 2^64, so one multiply by
    the precomputed inverse power recovers each window hash.  Bit-identical
    to the previous sequential masked per-byte loop: every step here is
    exact arithmetic mod 2^64, masking to the low 61 bits at the end is
    reduction mod 2^61, and 2^61 | 2^64 — the same residue the masked
    Horner recurrence produced.
    """
    m = data.size
    n = m - k + 1
    base = np.uint64(_HASH_BASE)
    ibase = np.uint64(_HASH_IBASE)
    # pows[t] = base^t mod 2^64, t in [0, m)
    pows = np.full(m, base, dtype=np.uint64)
    pows[0] = np.uint64(1)
    np.multiply.accumulate(pows, out=pows)
    # Q[j] = prefix sum of data[j] * base^(m-1-j), wrapped mod 2^64
    q = np.empty(m + 1, dtype=np.uint64)
    q[0] = np.uint64(0)
    np.add.accumulate(data * pows[::-1], out=q[1:])
    # ipows[t] = ibase^t mod 2^64, t in [0, n); window i divides by
    # base^(m-k-i) i.e. multiplies by ipows reversed
    ipows = np.full(n, ibase, dtype=np.uint64)
    ipows[0] = np.uint64(1)
    np.multiply.accumulate(ipows, out=ipows)
    h = (q[k:] - q[:-k]) * ipows[::-1]
    return h & np.uint64((1 << 61) - 1)


def winnow_doc(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Winnowing fingerprint of one document (module-level so the
    golden-fixture generator replays the EXACT kernel outside Spark)."""
    raw = text.lower().encode("utf-8", "replace")
    data = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
    if data.size < k:
        return [int(data.sum())] if data.size else []
    h = _rolling_kgram_hashes(data, k)
    n = h.size
    # min per sliding window, dedup consecutive picks
    if n <= window:
        return [int(h.min())]
    wins = np.lib.stride_tricks.sliding_window_view(h, window)
    # argmin takes the FIRST minimum per window — same tie-break as the
    # previous per-window loop, so picked positions are identical
    idx = np.arange(n - window + 1, dtype=np.int64) + wins.argmin(axis=1)
    return h[np.unique(idx)].tolist()


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_para: int = 10,
) -> DataFrame:
    """ccnet-style paragraph-level dedup accounting, fully native.

    "Paragraphs" are consecutive ``words_per_para``-word blocks (the corpus
    fixture is newline-free word salad; on real web text swap the splitter
    for ``split(text, '\\n\\n')`` — everything downstream is identical).
    Output per document: total paragraph count and how many of its
    paragraphs also occur in at least one OTHER document — the quantity a
    cleaning pass removes.

    Scale shape: explode -> md5(paragraph) so the groupBy/join shuffle
    carries 32-byte keys instead of full paragraph text; the group count is
    map-side combinable; the join back to documents is on the same hashed
    key.  This is exactly the boilerplate-paragraph removal pipeline from
    ccnet run as two shuffles, no UDF anywhere."""
    # split materialized once (same O(words^2) lambda-inlining trap as
    # repetition_stats — see the comment there)
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ws"),
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(ws) / "
                f"{words_per_para}.0)) - 1), "
                f"i -> array_join(slice(ws, i * {words_per_para} + 1, "
                f"{words_per_para}), ' '))"
            )
        ).alias("para"),
    ).select("doc_id", F.md5("para").alias("ph"))
    shared = (
        paras.groupBy("ph")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("ph")
    )
    return (
        # plain semi join: AQE broadcasts when the shared set is small and
        # falls back to shuffle when boilerplate is abundant at web scale
        paras.join(shared, "ph", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_paras"))
        .join(
            paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras")),
            "doc_id",
            "right",
        )
        .select(
            "doc_id",
            "n_paras",
            F.coalesce("n_shared_paras", F.lit(0)).alias("n_shared_paras"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals, exact-integer ratios, no UDF.

    Per document:
      n_words            whitespace word count
      top_word_permille  floor(1000 * occurrences of the most frequent
                         word / n_words) — dominance of one token
      dup_bigram_permille floor(1000 * (bigrams - distinct bigrams) /
                         bigrams) — text that loops on itself
    Integer DIV keeps Spark and the DuckDB oracle bit-identical (float
    rounding at a boundary would flip the driver's value hash).

    Output id column is always named ``doc_id`` (aliased from ``id_col``),
    matching corpus_filter's join expectations."""
    if id_col != "doc_id":
        df = df.select(F.col(id_col).alias("doc_id"), text_col)
    # materialize the split ONCE: inlining split() into the transform
    # lambda re-evaluates it per element (no common-subexpression
    # elimination inside higher-order functions) — O(words^2) per doc,
    # measured 57 s for a single 30k-word page vs <2 s with this column
    base = df.select("doc_id", F.split(F.col(text_col), " ").alias("ws"))
    bigrams = (
        "case when size(ws) < 2 then array() "
        "else transform(sequence(1, size(ws) - 1), "
        "i -> concat(element_at(ws, i), ' ', "
        "element_at(ws, i + 1))) end"
    )
    exploded = base.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.explode("ws").alias("w"),
    )
    top = (
        exploded.groupBy("doc_id", "n_words", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n_words")
        .agg(F.max("c").alias("top_c"))
    )
    bg = base.select(
        "doc_id",
        F.size(F.expr(bigrams)).alias("n_bigrams"),
        F.size(F.array_distinct(F.expr(bigrams))).alias("n_distinct_bigrams"),
    )
    return (
        top.join(bg, "doc_id")
        .select(
            "doc_id",
            "n_words",
            F.expr("(1000 * top_c) DIV n_words").alias("top_word_permille"),
            F.expr(
                "case when n_bigrams = 0 then 0 else "
                "(1000 * (n_bigrams - n_distinct_bigrams)) DIV n_bigrams end"
            ).alias("dup_bigram_permille"),
        )
    )


def substr_hashes_doc(text: str, k: int = 50, stride: int = 10) -> list[int]:
    """Selected k-byte-window rolling hashes for ONE document — the O(n)
    production selection kernel for :func:`exact_substr_dup`
    (``method="rolling"``).  Module-level so the golden-fixture generator
    (deduce_spark/golden.py) replays the EXACT kernel sequentially.

    Same 61-bit polynomial rolling hash as :func:`winnow_doc`; a window is
    selected iff ``h % stride == 0`` (content-defined, position-
    independent — identical selection guarantee as the md5 path, just a
    different, constant-per-position hash).  Returns the selected windows'
    hash values in document order; the 61-bit hash doubles as the dedup
    join key (collision odds ~2^-61 per pair — negligible for a permille
    statistic).  Windows are k BYTES of the UTF-8 encoding (equal to k
    chars on ASCII corpora; documented divergence from the char-based md5
    oracle form)."""
    raw = text.encode("utf-8", "replace")
    data = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
    if data.size < k:
        return []
    h = _rolling_kgram_hashes(data, k)
    return h[h % np.uint64(stride) == 0].tolist()


_SUBSTR_SEL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ghs", T.ArrayType(T.LongType())),
    ]
)


def exact_substr_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    stride: int = 10,
    method: str = "md5",
) -> DataFrame:
    """Exact-substring duplication accounting (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): detect
    character spans that occur verbatim in more than one document.

    Instead of a suffix array (which needs a global sort of every suffix —
    a genuinely different infrastructure), this uses CONTENT-DEFINED gram
    sampling: every ``k``-char window whose hash is ≡ 0 (mod ``stride``)
    is selected.  Selection depends only on the gram's BYTES, never on its
    position, so two copies of a span at different offsets select the
    IDENTICAL grams — the alignment problem that breaks naive
    fixed-stride sampling.  A duplicated span is detected iff it contains
    at least one selected window, a property of its content (expected
    density 1/stride, deterministic per span; same idea as 0-mod-p
    winnowing).

    Output per document: n_grams selected, n_dup_grams (selected grams
    shared with at least one OTHER document), dup_permille
    (integer, engine-exact).

    Two selection hashes behind ``method``:

    - ``"md5"`` (default): md5 per character position, pure SQL
      expressions — O(n·k) hashing per document but exactly replayable by
      the DuckDB oracle.  The correctness form.
    - ``"rolling"``: O(n) 61-bit polynomial rolling hash
      (:func:`substr_hashes_doc`), Arrow-batched ``mapInPandas``; the
      hash value itself is the dedup key (8-byte long vs 32-byte md5
      string — a 4× lighter shuffle).  The production form; pinned by a
      sequential golden fixture (golden.py) rather than a SQL twin.

    Scale shape (both methods): per-row selection with no k× text blowup
    (grams/hashes materialize only for selected positions, expected
    density 1/stride), then the same two map-combinable shuffles as
    paragraph_dedup.  The selection output is evaluated once per consuming
    subtree here (mirroring paragraph_dedup); a production job
    materializes the selection table first and runs the accounting over
    the parquet — jobs/ follow that pattern."""
    if method == "rolling":

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for batch in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": [int(d) for d in batch["doc_id"]],
                        "ghs": [
                            substr_hashes_doc(t, k, stride)
                            for t in batch[text_col]
                        ],
                    }
                )

        sel = (
            fan_out(df.select(F.col(id_col).alias("doc_id"), text_col))
            .mapInPandas(run, schema=_SUBSTR_SEL_SCHEMA)
        )
        # Single-evaluation tail (the md5 form keeps the generic
        # _substr_dup_tail; as the oracle twin it is never the scale
        # path).  Every consumer sits above ONE (doc_id, gh) aggregation
        # exchange, so Catalyst's ReuseExchange runs the Python kernel
        # once and the other branches replay shuffle files — vs 3
        # kernel evaluations through the generic tail.  Grouping by
        # (doc_id, gh) up front also turns the shared-gram test from a
        # countDistinct into a plain count of pre-deduped rows, and
        # explode_outer keeps zero-gram docs alive (null gh never joins,
        # so they contribute n_dup_grams = 0).
        per = (
            sel.select(
                "doc_id",
                F.size("ghs").cast("long").alias("n_grams"),
                F.explode_outer("ghs").alias("gh"),
            )
            .groupBy("doc_id", "gh")
            .agg(
                F.count(F.lit(1)).alias("_m"),
                F.max("n_grams").alias("n_grams"),
            )
        )
        shared = (
            per.filter(F.col("gh").isNotNull())
            .groupBy("gh")
            .agg(F.count(F.lit(1)).alias("_n_docs"))
            .filter(F.col("_n_docs") > 1)
            .select("gh", F.lit(1).alias("_sh"))
        )
        return (
            per.join(shared, "gh", "left")
            .groupBy("doc_id")
            .agg(
                F.max("n_grams").alias("n_grams"),
                F.sum(
                    F.when(F.col("_sh") == 1, F.col("_m")).otherwise(0)
                ).cast("long").alias("n_dup_grams"),
            )
            .select(
                "doc_id",
                "n_grams",
                "n_dup_grams",
                F.expr(
                    "CASE WHEN n_grams = 0 THEN 0 "
                    "ELSE (1000 * n_dup_grams) DIV n_grams END"
                ).cast("long").alias("dup_permille"),
            )
        )
    if method != "md5":
        raise ValueError(f"unknown method {method!r}")
    h = (
        f"CAST(conv(substring(md5(substring({text_col}, i + 1, {k})), 1, 8), "
        f"16, 10) AS BIGINT)"
    )
    sel = (
        f"CASE WHEN length({text_col}) < {k} THEN array() "
        f"ELSE filter(sequence(0, length({text_col}) - {k}), "
        f"i -> {h} % {stride} = 0) END"
    )
    n_grams_expr = f"size({sel})"
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(
                f"transform({sel}, i -> substring({text_col}, i + 1, {k}))"
            )
        ).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("gh"))
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(n_grams_expr).cast("long").alias("n_grams"),
    )
    return _substr_dup_tail(totals, grams)


def _substr_dup_tail(totals: DataFrame, grams: DataFrame) -> DataFrame:
    """Shared accounting tail: (doc_id, n_grams) totals + (doc_id, gh)
    selected grams -> per-doc duplication stats.  Two map-combinable
    shuffles on the gram key, identical for both selection methods."""
    shared = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("gh")
    )
    dups = (
        grams.join(shared, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    return (
        totals.join(dups, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.expr(
                "CASE WHEN n_grams = 0 THEN 0 "
                "ELSE (1000 * coalesce(n_dup_grams, 0)) DIV n_grams END"
            ).cast("long").alias("dup_permille"),
        )
    )
