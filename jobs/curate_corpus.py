"""End-to-end corpus-curation job — the training-data production path.

    python jobs/package_pyfiles.py                   # -> dist/kgspark.zip
    spark-submit --py-files dist/kgspark.zip \\
        jobs/curate_corpus.py --input /root/testdata/sf0.01/documents.parquet \\
        --output /tmp/curated

Composes the curation operators into the pipeline an LLM training corpus
actually flows through, in order:

    normalize (optional, --normalize) unicode normalization — typographic
              folds + NFC — so byte-variant spellings of the same text
              dedup as equals; downstream stages consume the normalized
              form
    stats     textstats_all — tokens/quality/lang/fingerprint, ONE scan
    lm        bigram_lm_score vs a reference slice (CCNet-style quality)
    verdicts  corpus_filter rules + contamination + LM threshold, one
              verdict per doc with the FIRST failing rule as drop reason
              (too_short | too_long | repetitive | dominated | duplicate |
               contaminated | off_model | keep); too_long enforces
              --max-doc-words (default 1M) so one pathological page can
              never build an unbounded shingle/signature chunk downstream
    dedup     minhash_dedup over kept docs — near-dup clusters collapse
              to their canonical doc
    semdedup  (optional, --embeddings PATH) SemDeDup pass over the
              survivors' embeddings — semantic near-dups collapse to
              their canonical doc; docs without an embedding pass through
    packs     pack_sequences over surviving docs — deterministic
              doc -> training-pack assignment

Outputs under --output (Iceberg-layout tables, see icetable.py):
    [normalized/]  doc_stats/  lm_scores/  verdicts/  kept/  [kept_sem/]
    packs/  _lineage/

Each stage appends a lineage record AFTER its table commits, carrying
the run input's content fingerprint (count + bit_xor of xxhash64) and
row/wall metrics.  Re-running the same command resumes: stages whose
lineage already shows an ok record for the SAME input fingerprint and
whose output table exists are skipped; ``--no-resume`` forces a full
rebuild.  Stage order is a dependency chain, so a changed input
invalidates every stage (the fingerprint differs) while a crash between
stages restarts exactly at the first uncommitted stage.
"""

from __future__ import annotations

import argparse
import sys
import time
import uuid
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

CONTAM_MAX_PERMILLE = 100
LM_MAX_MILLIBITS = 15_000


def run_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    resume: bool = True,
    seq_len: int = 2048,
    lm_ref_mod: int = 7,
    bench_mod: int = 101,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_words: int = 1_000_000,
    normalize: bool = False,
    embeddings_path: str | None = None,
    emb_id_col: str = "vec_id",
    semantic_tau: float = 0.35,
    semantic_centroids: int = 16,
) -> dict:
    from deduce_spark.spark.curation import (
        corpus_filter, decontam_overlap, pack_sequences,
    )
    from deduce_spark.spark.dedup import minhash_dedup
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.lineage import (
        LineageLog,
        content_fingerprint,
        stage_done,
        stage_record,
    )
    from deduce_spark.spark.lmscore import bigram_lm_score
    from deduce_spark.spark.textstats import textstats_all

    out = Path(output_path)
    out.mkdir(parents=True, exist_ok=True)
    log = LineageLog(out / "_lineage")
    run_id = uuid.uuid4().hex[:12]
    raw = spark.read.parquet(input_path)
    if id_col == "doc_id":
        docs = raw.select("doc_id", F.col(text_col).alias("text"))
    else:
        # crawl tables key on url — derive a stable numeric doc id (the
        # slice selectors below need integer arithmetic); pmod keeps the
        # reference/bench slices non-empty for negative hashes
        docs = raw.select(
            F.xxhash64(F.col(id_col)).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    # the normalize flag changes every downstream stage's EFFECTIVE
    # input, so it must be part of the resume key — toggling it on an
    # existing output dir rebuilds instead of serving stale tables
    fp = content_fingerprint(docs, "doc_id", "text") + (
        "+norm" if normalize else ""
    )
    summary: dict = {"run_id": run_id, "input_fp": fp, "stages": {}}

    def stage(name: str, build, table_name: str, partition_by=()):
        table = IceTable(out / table_name)
        if resume and stage_done(log, table, name, fp):
            summary["stages"][name] = {"skipped": True}
            return table.read(spark)
        t0 = time.time()
        df = build()
        man = table.write(df, partition_by=list(partition_by))
        rows = man["summary"]["total_rows"]
        log.append([
            stage_record(
                name, log.next_seq(), run_id, rows,
                time.time() - t0, input_fp=fp,
            )
        ])
        summary["stages"][name] = {"rows": rows,
                                   "wall_s": round(time.time() - t0, 2)}
        return table.read(spark)

    if normalize:
        # unicode normalization FIRST so every downstream signal
        # (fingerprints, shingles, n-grams, LM) sees one canonical byte
        # form — a composed and a decomposed spelling of the same text
        # must dedup as equals.  The stage keys on the RAW input
        # fingerprint like every other stage (normalization is
        # deterministic), and downstream stages consume norm_text.
        from deduce_spark.spark.normtext import normalize_text

        normalized = stage(
            "normalize", lambda: normalize_text(docs), "normalized"
        )
        docs = normalized.select(
            "doc_id", F.col("norm_text").alias("text")
        )

    stats = stage("stats", lambda: textstats_all(docs), "doc_stats")

    lm = stage(
        "lm",
        lambda: bigram_lm_score(
            docs, docs.filter(F.pmod(F.col("doc_id"), F.lit(lm_ref_mod)) == 0)
        ),
        "lm_scores",
    )

    def build_verdicts():
        base = corpus_filter(docs, max_words=max_doc_words)
        bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0)
        contam = decontam_overlap(docs, bench)
        return (
            base.join(contam.select("doc_id", "contam_permille"), "doc_id")
            .join(lm.select("doc_id", "ppl_millibits"), "doc_id", "left")
            .select(
                "doc_id", "n_words", "contam_permille",
                F.coalesce("ppl_millibits", F.lit(0)).alias(
                    "ppl_millibits"
                ),
                F.expr(
                    "case when verdict <> 'keep' then verdict "
                    f"when contam_permille >= {CONTAM_MAX_PERMILLE} "
                    "then 'contaminated' "
                    f"when ppl_millibits > {LM_MAX_MILLIBITS} "
                    "then 'off_model' else 'keep' end"
                ).alias("verdict"),
            )
            .withColumn("keep", F.col("verdict") == "keep")
        )

    verdicts = stage("verdicts", build_verdicts, "verdicts")

    def build_kept():
        kept_docs = docs.join(
            verdicts.filter("keep").select("doc_id"), "doc_id"
        )
        # verdicts already drop > max_doc_words docs (too_long), so the
        # clamp here is defense in depth: signature memory stays bounded
        # even if a caller disables the verdict rule
        clusters = minhash_dedup(kept_docs, max_doc_words=max_doc_words)
        return clusters.filter("canonical_id = doc_id").select("doc_id")

    kept = stage("dedup", build_kept, "kept")

    if embeddings_path is not None:
        # optional SemDeDup pass after minhash: the modern pipeline stacks
        # exact -> minhash (lexical) -> semantic (embedding) dedup.  Docs
        # without an embedding row pass through untouched (no evidence to
        # drop them on).  NOTE: stage resume keys on the DOCS fingerprint;
        # swap the output dir when the embeddings table changes.
        from deduce_spark.spark.similarity import semantic_dedup

        def build_semdedup():
            raw_emb = spark.read.parquet(embeddings_path)
            key = F.col(emb_id_col)
            if dict(raw_emb.dtypes).get(emb_id_col) == "string":
                # url-keyed embeddings: derive the SAME numeric id the
                # docs path derives (a bare cast('long') on strings is
                # silently NULL and the join matches nothing)
                key = F.xxhash64(key)
            emb = raw_emb.select(
                key.cast("long").alias("vec_id"), "embedding"
            )
            kept_emb = emb.join(
                kept.select(F.col("doc_id").alias("vec_id")), "vec_id"
            )
            if not kept_emb.limit(1).count():
                # no kept doc has an embedding: nothing to judge —
                # pass the kept set through rather than crash in
                # ivf_train on an empty frame
                return kept
            clusters = semantic_dedup(
                kept_emb, tau=semantic_tau, n_centroids=semantic_centroids
            )
            survivors = kept.join(
                clusters.filter("vec_id = canonical_id").select(
                    F.col("vec_id").alias("doc_id")
                ),
                "doc_id",
                "leftsemi",
            )
            no_emb = kept.join(
                emb.select(F.col("vec_id").alias("doc_id")),
                "doc_id",
                "left_anti",
            )
            return survivors.union(no_emb)

        kept = stage("semdedup", build_semdedup, "kept_sem")

    def build_packs():
        toks = kept.join(
            stats.select("doc_id", "ws_tokens"), "doc_id"
        )
        return pack_sequences(toks, tokens_col="ws_tokens",
                              seq_len=seq_len)

    stage("packs", build_packs, "packs")
    return summary


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--max-doc-words", type=int, default=1_000_000)
    p.add_argument("--normalize", action="store_true",
                   help="prepend a unicode-normalization stage (typographic "
                        "folds + NFC) so byte-variant spellings dedup as "
                        "equals")
    p.add_argument("--embeddings", default=None, metavar="PATH",
                   help="optional embeddings parquet keyed like the docs "
                        "(enables the SemDeDup stage after minhash)")
    p.add_argument("--emb-id-col", default="vec_id")
    p.add_argument("--semantic-tau", type=float, default=0.35)
    p.add_argument("--semantic-centroids", type=int, default=16)
    args = p.parse_args(argv)
    spark = (
        SparkSession.builder.appName("curate_corpus")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    try:
        summary = run_job(
            spark, args.input, args.output,
            resume=not args.no_resume, seq_len=args.seq_len,
            id_col=args.id_col, text_col=args.text_col,
            max_doc_words=args.max_doc_words,
            normalize=args.normalize,
            embeddings_path=args.embeddings,
            emb_id_col=args.emb_id_col,
            semantic_tau=args.semantic_tau,
            semantic_centroids=args.semantic_centroids,
        )
        print(summary)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
