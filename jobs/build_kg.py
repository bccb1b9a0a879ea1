"""End-to-end KG build job — the spark-submit entry point.

    python jobs/package_pyfiles.py                   # -> dist/kgspark.zip
    spark-submit --py-files dist/kgspark.zip \\
        jobs/build_kg.py --input /root/testdata/sf0.01-pages \\
        --output /tmp/kg --n-parts 64

Re-running the same command resumes: parts whose (part_id, input_hash)
already have an ok lineage row are skipped; changed or new parts are
recomputed and their output partitions swapped atomically (icetable
dynamic partition overwrite).  ``--no-resume`` forces a full rebuild.

Outputs under --output (all Iceberg-layout tables, see icetable.py):
    mentions/   (url, warc_ts, text, start_char, end_char, tag, priority)
                partitioned by part_id — the resumable checkpoint
    nodes/      (entity_id, type, canonical_form, n_mentions)
    edges/      (subj, pred, obj, url, warc_ts) partitioned by pred
    _lineage/   per-part + per-stage lineage/metrics (JSON-lines)

Stage A (annotate -> mentions) is the CPU-bound, shuffle-free, resumable
phase.  Stage B (LSH canonicalization -> nodes/edges) is global — it
recomputes from the committed mentions table, which keeps resume exact
without trying to checkpoint a shuffle.
"""

from __future__ import annotations

import argparse
import sys
import time
import uuid
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _read_pages(spark: SparkSession, path: str):
    from deduce_spark.spark.icetable import IceTable

    t = IceTable(path)
    if t.exists():
        return t.read(spark)
    return spark.read.parquet(path)


def run_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    n_parts: int = 64,
    resume: bool = True,
    lang: str | None = "nl",
    from_html: bool = True,
    with_cooccurrence: bool = True,
    engine=None,
    expire_keep: int = 0,
    kg_only: bool = False,
    person_col: str | None = None,
    incremental: bool = False,
    commit_waves: int = 1,
    anchor_evidence: bool = True,
) -> dict:
    from deduce_spark.spark import lineage as lin
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.stages import AnnotatePipeline

    if engine is None:
        from deduce_spark.kernel.engine import Engine

        engine = Engine()  # one instance serves annotate + link scoring
    out = Path(output_path)
    log = lin.LineageLog(out / "_lineage")
    run_id = uuid.uuid4().hex[:12]
    seq = log.next_seq()
    mentions_table = IceTable(out / "mentions")

    # -- plan ---------------------------------------------------------------
    if kg_only:
        # stage B only: rebuild nodes/edges from an EXISTING mentions table
        # (e.g. one fed by jobs/stream_ingest.py — its (batch_id, part_id)
        # layout differs from the batch layout, but reading is layout-
        # agnostic; only stage A's writes are spec-bound)
        if not mentions_table.exists():
            raise SystemExit(f"--kg-only: no mentions table under {out}")
        summary: dict = {"run_id": run_id, "kg_only": True}
        if incremental and IceTable(out / "surface_map").exists():
            # streaming integration: fold only the stream batches not yet
            # canonicalized (batch_id comes from stream_ingest's
            # (batch_id, part_id) layout; folded ids are tracked as
            # lineage stage records)
            mentions_all = mentions_table.read(spark)
            if "batch_id" not in mentions_all.columns:
                raise SystemExit(
                    "--kg-only --incremental needs a batch_id column "
                    "(stream_ingest layout); batch checkpoints use "
                    "--incremental without --kg-only"
                )
            folded = {
                int(b)
                for r in log.records()
                if r.get("stage") == "fold_stream_batches"
                for b in r.get("batch_ids", [])
            }
            present = {
                int(r["batch_id"])
                for r in mentions_all.select("batch_id").distinct().collect()
            }
            unseen = sorted(present - folded)
            summary["batches_folded"] = unseen
            if not unseen:
                summary["incremental"] = True
                summary["kg_wall_s"] = 0.0
                return summary
            new_mentions = mentions_all.filter(
                F.col("batch_id").isin(unseen)
            )
            marker = lin.stage_record(
                "fold_stream_batches", seq, run_id,
                rows=0, wall_s=0.0, batch_ids=[int(b) for b in unseen],
            )
            return _stage_b_incremental(
                spark, out, log, run_id, seq, mentions_table, engine,
                with_cooccurrence, summary, new_mentions,
                extra_records=[marker], expire_keep=expire_keep,
            )
        res = _stage_b(
            spark, out, log, run_id, seq, mentions_table, engine,
            with_cooccurrence, expire_keep, summary,
        )
        # the committed schema answers this without listing or reading data
        if "batch_id" in mentions_table.schema().fieldNames():
            # a full rebuild canonicalizes every present batch: record them
            # so a later --incremental run folds only NEWER ones
            present = sorted(
                int(r["batch_id"])
                for r in mentions_table.read(spark)
                .select("batch_id").distinct().collect()
            )
            log.append([lin.stage_record(
                "fold_stream_batches", seq, run_id,
                rows=0, wall_s=0.0, batch_ids=present,
            )])
            res["batches_folded"] = present
        return res
    pages = lin.with_part_id(_read_pages(spark, input_path), n_parts)
    manifest_rows = [r.asDict() for r in lin.part_manifest(pages).collect()]
    # changing n_parts relabels every row: prior partitions are garbage, so
    # the checkpoint must be rebuilt whole (overwrite-partitions would leave
    # stale part dirs from the old layout live in the manifest)
    prior_n_parts = (
        mentions_table.manifest()["summary"].get("n_parts")
        if mentions_table.exists()
        else None
    )
    layout_changed = prior_n_parts is not None and prior_n_parts != n_parts
    if resume and mentions_table.exists() and not layout_changed:
        todo, skipped = lin.plan_resume(manifest_rows, log)
    else:
        todo = sorted(int(r["part_id"]) for r in manifest_rows)
        skipped = []
    summary: dict = {
        "run_id": run_id,
        "n_parts": n_parts,
        "parts_total": len(manifest_rows),
        "parts_skipped": len(skipped),
        "parts_processed": len(todo),
    }

    # -- stage A: annotate -> mentions checkpoint (resumable) ---------------
    # ``commit_waves > 1`` splits the todo parts into that many separately
    # committed sub-jobs.  One giant write means a DRIVER failure anywhere
    # in stage A loses every annotated row (Spark survives executor/task
    # failures, not the driver); with waves, each committed wave's parts
    # carry ok lineage rows, so a kill-restart resumes from the last
    # committed wave instead of from zero — the checkpoint granularity a
    # multi-hour 100 TB stage A needs.  A kill mid-wave is safe: the
    # icetable snapshot commit is atomic and the lineage rows land only
    # after it, so a torn wave is invisible and simply re-runs.
    if todo:
        t0 = time.monotonic()
        pipe = AnnotatePipeline(spark, engine)
        n_waves = max(1, min(int(commit_waves), len(todo)))
        wave_size = -(-len(todo) // n_waves)
        waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
        total_rows = 0
        for w_i, wave in enumerate(waves):
            t_w = time.monotonic()
            subset = pages.filter(F.col("part_id").isin([int(p) for p in wave]))
            annotated = pipe.annotate_pages(
                subset, lang=lang, from_html=from_html,
                with_text=False, with_redacted=False,
                person_col=person_col,
            )
            mentions = (
                pipe.mentions_long(annotated)
                .withColumn("part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int"))
                .repartition("part_id")  # one output file per part, not tasks x parts
            )
            man = mentions_table.write(
                mentions,
                partition_by=("part_id",),
                # a layout change must wipe the old-layout table exactly
                # once; later waves add their partitions to the new layout
                mode="overwrite" if (layout_changed and w_i == 0)
                else "overwrite-partitions",
                summary={"run_id": run_id, "stage": "annotate",
                         "n_parts": n_parts},
            )
            wall_w = time.monotonic() - t_w
            rows_out = {
                int(e["partition"]["part_id"]): e["rows"]
                for e in man["entries"]
                if "part_id" in e["partition"]
            }
            log.append(
                lin.part_records(
                    manifest_rows, wave, rows_out, seq, run_id,
                    man["snapshot_id"], wall_w,
                )
            )
            total_rows += man["summary"]["added_rows"]
        wall = time.monotonic() - t0
        log.append([lin.stage_record(
            "annotate", seq, run_id,
            rows=total_rows, wall_s=wall,
            snapshot_id=man["snapshot_id"], parts=len(todo),
            waves=len(waves),
        )])
        summary["annotate_wall_s"] = round(wall, 3)
        summary["annotate_waves"] = len(waves)
        summary["mentions_rows_written"] = total_rows

    # -- stage B: canonicalize + triples ------------------------------------
    # layout change relabels every part: the fold bookkeeping below is
    # meaningless across layouts, so only the full rebuild is correct
    if (incremental and not layout_changed
            and IceTable(out / "surface_map").exists()):
        # fold every annotated-but-not-yet-folded part: normally just this
        # run's todo, but a run that crashed between stage A's commit and
        # the fold would otherwise leave its mentions out of the graph
        # forever (todo would be [] on the retry)
        folded = {
            int(p)
            for r in log.records()
            if r.get("stage") == "fold_parts"
            for p in r.get("part_ids", [])
        }
        # this run's todo ALWAYS refolds (their partitions were just
        # replaced, e.g. a changed input re-annotated them); plus any part
        # a crashed earlier run annotated but never folded
        pending = sorted(
            {int(p) for p in todo} | (set(log.completed()) - folded)
        )
        if not pending:
            summary["incremental"] = True
            summary["kg_wall_s"] = 0.0  # nothing new: stage B is a no-op
            summary["parts_folded"] = []
            return summary
        summary["parts_folded"] = pending
        new_mentions = mentions_table.read(spark).filter(
            F.col("part_id").isin(pending)
        )
        marker = lin.stage_record(
            "fold_parts", seq, run_id, rows=0, wall_s=0.0,
            part_ids=pending,
        )
        return _stage_b_incremental(
            spark, out, log, run_id, seq, mentions_table, engine,
            with_cooccurrence, summary, new_mentions,
            extra_records=[marker], expire_keep=expire_keep,
        )
    # full (also the --incremental bootstrap when no surface_map exists
    # yet, and the layout-change path); mark every completed part folded
    # so a later --incremental run starts from here
    anchors = None
    if anchor_evidence and input_path and from_html and not kg_only:
        # anchor text is canonical-form naming evidence (kg.canonicalize
        # anchors=): one extra scan of the crawl html at stage B — href
        # resolution + anchor pairing are native regexp expressions, and
        # only the tiny (surface, anchor_n) aggregate reaches the join
        from deduce_spark.spark.weburl import extract_anchors

        # same layout-aware read as stage A (_read_pages): a bare
        # read.parquet on an Iceberg-layout table either fails schema
        # inference or scans superseded snap-* dirs, double-counting
        anchors = extract_anchors(_read_pages(spark, input_path))
    res = _stage_b(
        spark, out, log, run_id, seq, mentions_table, engine,
        with_cooccurrence, expire_keep, summary, anchors=anchors,
    )
    done = sorted(set(log.completed()))
    if done:
        log.append([lin.stage_record(
            "fold_parts", seq, run_id, rows=0, wall_s=0.0, part_ids=done,
        )])
    return res


def _stage_b(
    spark, out, log, run_id, seq, mentions_table, engine,
    with_cooccurrence, expire_keep, summary, anchors=None,
) -> dict:
    from deduce_spark.spark import lineage as lin
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.kg import (
        canonicalize, link_dicts_broadcast, link_scores, salted_repartition,
        triples,
    )

    t0 = time.monotonic()
    mentions_all = mentions_table.read(spark)
    weights = None
    if anchors is not None:
        from deduce_spark.spark.kg import anchor_surface_weights

        weights = anchor_surface_weights(anchors, mentions_all)
    surface_map, nodes = canonicalize(mentions_all, anchor_weights=weights)
    # the surface map and triples' linked mentions stay cached until the
    # last commit, and are released even if a commit fails
    held_caches: list = [surface_map]
    try:
        nodes = link_scores(nodes, link_dicts_broadcast(spark, engine))
        edges = triples(
            mentions_all, surface_map, with_cooccurrence=with_cooccurrence,
            caches=held_caches,
        )
        edges = salted_repartition(
            edges, spark.sparkContext.defaultParallelism
        )
        # the surface map is the base an --incremental run folds new
        # batches into (stable entity ids); persisted alongside nodes/edges
        IceTable(out / "surface_map").write(
            surface_map, mode="overwrite",
            summary={"run_id": run_id, "stage": "kg"},
        )
        if weights is not None:
            # persisted so --incremental folds and maintain_kg
            # compactions keep the anchor-voted canonical forms instead of
            # reverting to the bare mention-count argmax (a full rebuild
            # refreshes it)
            IceTable(out / "anchor_weights").write(
                weights, mode="overwrite",
                summary={"run_id": run_id, "stage": "kg"},
            )
        nodes_man = IceTable(out / "nodes").write(
            nodes, mode="overwrite",
            summary={"run_id": run_id, "stage": "kg"},
        )
        edges_man = IceTable(out / "edges").write(
            edges, partition_by=("pred",), mode="overwrite",
            summary={"run_id": run_id, "stage": "kg"},
        )
    finally:
        for frame in held_caches:
            frame.unpersist()
    wall = time.monotonic() - t0
    log.append(
        [
            lin.stage_record(
                "canonicalize_nodes", seq, run_id,
                rows=nodes_man["summary"]["total_rows"], wall_s=wall,
                snapshot_id=nodes_man["snapshot_id"],
            ),
            lin.stage_record(
                "triples_edges", seq, run_id,
                rows=edges_man["summary"]["total_rows"], wall_s=wall,
                snapshot_id=edges_man["snapshot_id"],
            ),
        ]
    )
    summary["kg_wall_s"] = round(wall, 3)
    summary["nodes_rows"] = nodes_man["summary"]["total_rows"]
    summary["edges_rows"] = edges_man["summary"]["total_rows"]
    if expire_keep:
        freed = 0
        for t in ("mentions", "surface_map", "nodes", "edges"):
            freed += IceTable(out / t).expire_snapshots(expire_keep)["freed_bytes"]
        summary["expired_freed_bytes"] = freed
    return summary


def _stage_b_incremental(
    spark, out, log, run_id, seq, mentions_table, engine,
    with_cooccurrence, summary, new_mentions, extra_records=(),
    expire_keep: int = 0,
) -> dict:
    """Fold ONLY ``new_mentions`` (the parts processed this run, or the
    stream batches not yet folded) into the persisted canonicalization:
    existing entity ids stay stable, novel surfaces adopt LSH-matched
    entities or mint new ones, and only the new mentions' triples are
    APPENDED to the edges table — the whole edge table is never
    rewritten.  Assumes an append-style feed; a reprocessed part
    double-counts mentions until the next full rebuild, which is the
    compaction path (run without --incremental)."""
    from deduce_spark.spark import lineage as lin
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.kg import (
        incremental_canonicalize, link_dicts_broadcast, link_scores,
        salted_repartition, surfaces, triples,
    )

    t0 = time.monotonic()
    sm_table = IceTable(out / "surface_map")
    existing_sm = sm_table.read(spark)
    # keep anchor-voted canonical forms stable across folds: reuse the
    # persisted weight table when the full build wrote one (new pages'
    # anchors are folded in on the next full rebuild — documented)
    aw_table = IceTable(out / "anchor_weights")
    anchor_weights = aw_table.read(spark) if aw_table.exists() else None
    updated_sm, nodes = incremental_canonicalize(
        new_mentions, existing_sm, anchor_weights=anchor_weights
    )
    # as in _stage_b: released after the last commit, or on failure
    held_caches: list = [updated_sm]
    try:
        nodes = link_scores(nodes, link_dicts_broadcast(spark, engine))

        # upsert only the touched surface rows (novel + count-merged)
        touched = updated_sm.join(
            surfaces(new_mentions).select("surface_id"), "surface_id",
            "left_semi",
        )
        sm_man = sm_table.upsert(
            touched, keys=["surface_id"],
            summary={"run_id": run_id, "stage": "kg_incremental"},
        )
        nodes_man = IceTable(out / "nodes").write(
            nodes, mode="overwrite",
            summary={"run_id": run_id, "stage": "kg_incremental"},
        )
        edges_new = triples(
            new_mentions, updated_sm, with_cooccurrence=with_cooccurrence,
            caches=held_caches,
        )
        edges_new = salted_repartition(
            edges_new, spark.sparkContext.defaultParallelism
        )
        edges_man = IceTable(out / "edges").write(
            edges_new, partition_by=("pred",), mode="append",
            summary={"run_id": run_id, "stage": "kg_incremental"},
        )
    finally:
        for frame in held_caches:
            frame.unpersist()
    wall = time.monotonic() - t0
    log.append(
        [
            lin.stage_record(
                "incremental_canonicalize", seq, run_id,
                rows=sm_man["summary"]["total_rows"], wall_s=wall,
                snapshot_id=sm_man["snapshot_id"],
            ),
            lin.stage_record(
                "incremental_edges", seq, run_id,
                rows=edges_man["summary"]["added_rows"], wall_s=wall,
                snapshot_id=edges_man["snapshot_id"],
            ),
        ]
        + list(extra_records)
    )
    summary["kg_wall_s"] = round(wall, 3)
    summary["incremental"] = True
    summary["nodes_rows"] = nodes_man["summary"]["total_rows"]
    summary["edges_rows_appended"] = edges_man["summary"]["added_rows"]
    if expire_keep:
        # incremental runs are exactly the append-per-run cadence that
        # accumulates snapshots — GC must not be full-rebuild-only
        freed = 0
        for t in ("mentions", "surface_map", "nodes", "edges"):
            tbl = IceTable(out / t)
            if tbl.exists():
                freed += tbl.expire_snapshots(expire_keep)["freed_bytes"]
        summary["expired_freed_bytes"] = freed
    return summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", default=None,
                    help="pages parquet dir or icetable root (omit with --kg-only)")
    ap.add_argument("--kg-only", action="store_true",
                    help="skip annotate; rebuild nodes/edges from the existing "
                         "mentions table under --output (e.g. after stream_ingest)")
    ap.add_argument("--output", required=True, help="KG output root")
    ap.add_argument("--n-parts", type=int, default=64)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--commit-waves", type=int, default=1, metavar="W",
                    help="split stage A into W separately committed waves "
                         "so a driver failure resumes from the last "
                         "committed wave instead of re-annotating "
                         "everything (1 = single commit)")
    ap.add_argument("--lang", default="nl", help="'' disables the lang filter")
    ap.add_argument("--from-text", action="store_true",
                    help="use the text column instead of extracting from html")
    ap.add_argument("--no-cooccurrence", action="store_true")
    ap.add_argument("--no-anchor-evidence", action="store_true",
                    help="skip anchor-text canonical-form evidence (on by "
                         "default for html inputs; kg-only/incremental "
                         "runs never recompute it)")
    ap.add_argument("--person-col", default=None, metavar="COL",
                    help="optional per-page known-person struct column "
                         "(first_names array<string>, initials, surname) "
                         "fed to the A8 annotator")
    ap.add_argument("--incremental", action="store_true",
                    help="fold only newly-processed parts into the persisted "
                         "surface_map (stable entity ids) and APPEND their "
                         "triples instead of rebuilding the whole graph; "
                         "bootstraps to a full build when no surface_map "
                         "table exists yet")
    ap.add_argument("--expire-keep", type=int, default=0, metavar="N",
                    help="after the run, keep only the last N snapshots per "
                         "output table and GC unreferenced data (0 = keep all)")
    ap.add_argument("--master", default=None, help="e.g. local[8]; default from env")
    args = ap.parse_args(argv)

    if not args.kg_only and not args.input:
        ap.error("--input is required unless --kg-only is set")

    # plain `python jobs/build_kg.py` convenience; spark-submit ships the
    # package via --py-files and this insert is a no-op there
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from deduce_spark.spark.session import get_spark

    spark = get_spark(master=args.master, app_name="build_kg")
    try:
        summary = run_job(
            spark,
            args.input,
            args.output,
            n_parts=args.n_parts,
            resume=not args.no_resume,
            lang=args.lang or None,
            from_html=not args.from_text,
            with_cooccurrence=not args.no_cooccurrence,
            expire_keep=args.expire_keep,
            kg_only=args.kg_only,
            person_col=args.person_col,
            incremental=args.incremental,
            commit_waves=args.commit_waves,
            anchor_evidence=not args.no_anchor_evidence,
        )
    finally:
        spark.stop()
    import json

    print(json.dumps(summary, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
