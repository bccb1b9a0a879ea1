"""Traced replays and the per-layer metrics they yield.

A traced run replays each op family as its sequence of public calls,
one span per call, forcing every lazy result inside its own span (a
``noop`` write) so that the Spark work lands where it was caused:

* ``kg_build``: ``_stage_b`` of ``jobs/build_kg.py`` -- link dicts,
  MinHash signatures, LSH candidate pairs, connected components, the
  whole ``canonicalize`` call, link scoring, triples, three table
  commits;
* ``kg_fold``: ``_stage_b_incremental`` -- ``incremental_canonicalize``,
  link scoring, the surface-map ``upsert``, the nodes overwrite, triples
  of the batch, the edges append;
* ``curate``: each operator ``jobs/curate_corpus.run_job`` calls, on the
  inputs the job gives it (where the job derives an input from an earlier
  stage's table, the untraced op's committed table is read), followed by
  its table commit.

Each family also runs one untraced op through the job entry point; the
traced replay's wall time over that op's wall time is the tracing
overhead (``<family>.trace.overhead``).  A traced run of a kg workload
replays both kg families; a traced run of ``curate`` replays ``curate``.
Metrics of families a run does not replay read 0.

Spark task metrics come from the event log (``perfbench/trace.py``),
summed per module over each family's spans.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from perfbench import trace
from perfbench.trace import span

SPARK_METRICS = (
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("tasks", "count"), ("task_skew", "ratio"),
)
SPARK_MODULES = {
    "kg_build": ("kg", "icetable"),
    "kg_fold": ("kg", "icetable"),
    "curate": ("dedup", "textstats", "lmscore", "curation", "icetable"),
}
PREDS = ("mentions", "hasType", "hasSurfaceForm", "publishedAt", "coOccursWith")

# (family, metric, unit): "<span name>_s" metrics are the summed self time
# of that span name inside the family's replay
_LAYER = [
    ("kg_build", "kg.build_link_dicts_s", "s"),
    ("kg_build", "kg.surface_signatures_s", "s"),
    ("kg_build", "kg.candidate_pairs_s", "s"),
    ("kg_build", "kg.candidate_pairs.pairs", "count"),
    ("kg_build", "kg.connected_components_s", "s"),
    ("kg_build", "kg.connected_components.rounds", "count"),
    ("kg_build", "kg.canonicalize_s", "s"),
    ("kg_build", "kg.link_scores_s", "s"),
    ("kg_build", "kg.triples_s", "s"),
    *[("kg_build", f"kg.triples.rows.{p}", "count") for p in PREDS],
    ("kg_build", "icetable.write_s", "s"),
    ("kg_build", "icetable.write.bytes", "bytes"),
    ("kg_build", "icetable.write.files", "count"),
    ("kg_build", "session.persisted_rdds_after_op", "count"),
    ("kg_build", "trace.overhead", "ratio"),
    ("kg_fold", "kg.incremental_canonicalize_s", "s"),
    ("kg_fold", "kg.incremental_canonicalize.plan_chars", "chars"),
    ("kg_fold", "kg.build_link_dicts_s", "s"),
    ("kg_fold", "kg.link_scores_s", "s"),
    ("kg_fold", "kg.triples_s", "s"),
    ("kg_fold", "icetable.upsert_s", "s"),
    ("kg_fold", "icetable.upsert.rows_rewritten_per_touched", "ratio"),
    ("kg_fold", "icetable.write_s", "s"),
    ("kg_fold", "icetable.write.bytes", "bytes"),
    ("kg_fold", "icetable.write.files", "count"),
    ("kg_fold", "session.persisted_rdds_after_op", "count"),
    ("kg_fold", "trace.overhead", "ratio"),
    ("curate", "lineage.content_fingerprint_s", "s"),
    ("curate", "textstats.textstats_all_s", "s"),
    ("curate", "lmscore.bigram_lm_score_s", "s"),
    ("curate", "curation.corpus_filter_s", "s"),
    ("curate", "curation.decontam_overlap_s", "s"),
    ("curate", "dedup.minhash_signatures_s", "s"),
    ("curate", "dedup.minhash_dedup_s", "s"),
    ("curate", "curation.pack_sequences_s", "s"),
    ("curate", "icetable.write_s", "s"),
    ("curate", "session.persisted_rdds_after_op", "count"),
    ("curate", "trace.overhead", "ratio"),
]


PER_LAYER = (
    [(f"{fam}.{m}", u, "lower") for fam, m, u in _LAYER]
    + [
        (f"{fam}.spark.{mod}.{m}", u, "lower")
        for fam, mods in SPARK_MODULES.items()
        for mod in mods
        for m, u in SPARK_METRICS
    ]
    + [("trace.jobs", "count", "lower"), ("trace.jobs_unassigned", "count", "lower")]
)


def _force(df) -> None:
    """Run ``df``'s whole plan without producing output."""
    df.write.format("noop").mode("overwrite").save()


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _unpersist_all(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def _new_bytes_files(man: dict) -> tuple[int, int]:
    """Bytes and files a commit added (entries under its own snap dir)."""
    snap = f"data/snap-{man['snapshot_id']}"
    new = [e for e in man["entries"] if e["dir"].split("/")[:2] == snap.split("/")]
    return sum(e["bytes"] for e in new), sum(len(e["files"]) for e in new)


def _untraced(wl, rec, tally, family: str, fn, check) -> dict:
    """One untraced op (the overhead baseline) and its check; returns
    {"wall_s", "persisted_delta"}."""
    before = _persisted(wl.spark)
    out = {}

    def op():
        with span(rec, "jobs.run_job", family=family, untraced=True):
            wall = fn()
        with span(rec, "bench.check"):
            return {"wall_s": wall, "problems": check()}

    res = tally.run(op)
    out["wall_s"] = res["wall_s"] if res else 0.0
    out["persisted_delta"] = _persisted(wl.spark) - before
    return out


# -- kg_build ----------------------------------------------------------------


def _kg_build(wl, rec, tally) -> dict:
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.kg import (
        FUZZY_TYPES, build_link_dicts, canonicalize, candidate_pairs,
        connected_components, link_scores, salted_repartition,
        surface_signatures, surfaces, triples,
    )
    from pyspark.sql import functions as F

    spark, sc = wl.spark, wl.spark.sparkContext
    done = wl.work / "trace-build-untraced"
    raw = _untraced(wl, rec, tally, "kg_build", lambda: wl.build(done)[0],
                    lambda: wl.check(done))
    shutil.rmtree(done, ignore_errors=True)

    out = wl.work / "trace-build-traced"
    with span(rec, "bench.input"):
        shutil.copytree(wl.src, out)
    writes = []
    with span(rec, "jobs.build_kg.stage_b", family="kg_build") as root:
        t0 = time.perf_counter()
        with span(rec, "kg.build_link_dicts"):
            link_bc = sc.broadcast(build_link_dicts(wl.engine))
        with span(rec, "icetable.read"):
            mentions = IceTable(out / "mentions").read(spark)
        with span(rec, "kg.surface_signatures"):
            surf = surfaces(mentions).cache()
            sigs = surface_signatures(
                surf.filter(F.col("type").isin(*FUZZY_TYPES))
            ).cache()
            _force(sigs)
        with span(rec, "kg.candidate_pairs"):
            pairs = candidate_pairs(sigs).cache()
            raw["pairs"] = pairs.count()
        with span(rec, "kg.connected_components"):
            _force(connected_components(pairs))
            raw["rounds"] = connected_components.last_rounds
        for df in (pairs, sigs, surf):
            df.unpersist()
        with span(rec, "kg.canonicalize"):
            surface_map, nodes = canonicalize(mentions)
            nodes = nodes.cache()
            _force(nodes)
        with span(rec, "kg.link_scores"):
            nodes = link_scores(nodes, link_bc).cache()
            _force(nodes)
        with span(rec, "kg.triples"):
            edges = salted_repartition(
                triples(mentions, surface_map), sc.defaultParallelism
            ).cache()
            _force(edges)
        for name, df, parts in (("surface_map", surface_map, ()),
                                ("nodes", nodes, ()),
                                ("edges", edges, ("pred",))):
            with span(rec, "icetable.write", table=name):
                writes.append(IceTable(out / name).write(
                    df, partition_by=parts, mode="overwrite"))
        raw["traced_wall_s"] = time.perf_counter() - t0
    raw["root"] = root["id"]
    raw["rows_by_pred"] = {
        e["partition"]["pred"]: e["rows"] for e in writes[-1]["entries"]
    }
    raw["write_bytes"], raw["write_files"] = map(
        sum, zip(*(_new_bytes_files(m) for m in writes)))
    with span(rec, "bench.check"):
        _unpersist_all(spark)
        tally.run(lambda: {"problems": wl.check(out)})
    shutil.rmtree(out, ignore_errors=True)
    return raw


# -- kg_fold -----------------------------------------------------------------


def _kg_fold(wl, rec, tally) -> dict:
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.kg import (
        build_link_dicts, incremental_canonicalize, link_scores,
        salted_repartition, surfaces, triples,
    )
    from pyspark.sql import functions as F

    from perfbench.workloads import _commit_mentions

    spark, sc = wl.spark, wl.spark.sparkContext
    fold_u = wl.work / "trace-fold-untraced"
    raw = _untraced(wl, rec, tally, "kg_fold", lambda: wl.fold(fold_u)[0],
                    lambda: wl.check_fold(fold_u))
    shutil.rmtree(fold_u, ignore_errors=True)

    out = wl.work / "trace-fold-traced"
    with span(rec, "bench.input"):
        shutil.copytree(wl.base, out)
        _commit_mentions(spark, out / "mentions", wl.batch, "append")
    writes = []
    with span(rec, "jobs.build_kg.stage_b_incremental", family="kg_fold") as root:
        t0 = time.perf_counter()
        with span(rec, "icetable.read"):
            new = IceTable(out / "mentions").read(spark).filter(
                F.col("batch_id") == 1)
            existing = IceTable(out / "surface_map").read(spark)
        with span(rec, "kg.incremental_canonicalize"):
            updated_sm, nodes = incremental_canonicalize(new, existing)
            raw["plan_chars"] = sum(
                len(df._jdf.queryExecution().optimizedPlan().toString())
                for df in (updated_sm, nodes)
            )
            nodes = nodes.cache()
            _force(nodes)
        with span(rec, "kg.build_link_dicts"):
            link_bc = sc.broadcast(build_link_dicts(wl.engine))
        with span(rec, "kg.link_scores"):
            nodes = link_scores(nodes, link_bc).cache()
            _force(nodes)
        touched = updated_sm.join(
            surfaces(new).select("surface_id"), "surface_id", "left_semi")
        with span(rec, "bench.inspect"):
            n_touched = touched.count()
        with span(rec, "icetable.upsert"):
            man = IceTable(out / "surface_map").upsert(touched, keys=["surface_id"])
        raw["rewritten_per_touched"] = (
            man["summary"]["added_rows"] / n_touched if n_touched else 0.0)
        writes.append(man)
        with span(rec, "icetable.write", table="nodes"):
            writes.append(IceTable(out / "nodes").write(nodes, mode="overwrite"))
        with span(rec, "kg.triples"):
            edges = salted_repartition(
                triples(new, updated_sm), sc.defaultParallelism).cache()
            _force(edges)
        with span(rec, "icetable.write", table="edges"):
            writes.append(IceTable(out / "edges").write(
                edges, partition_by=("pred",), mode="append"))
        raw["traced_wall_s"] = time.perf_counter() - t0
    raw["root"] = root["id"]
    raw["write_bytes"], raw["write_files"] = map(
        sum, zip(*(_new_bytes_files(m) for m in writes[1:])))
    with span(rec, "bench.check"):
        _unpersist_all(spark)
        tally.run(lambda: {"problems": wl.check_fold(out)})
    shutil.rmtree(out, ignore_errors=True)
    return raw


# -- curate ------------------------------------------------------------------


def _curate(wl, rec, tally) -> dict:
    from deduce_spark.spark.curation import (
        corpus_filter, decontam_overlap, pack_sequences,
    )
    from deduce_spark.spark.dedup import minhash_dedup, minhash_signatures
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.lineage import content_fingerprint
    from deduce_spark.spark.lmscore import bigram_lm_score
    from deduce_spark.spark.textstats import textstats_all
    from pyspark.sql import functions as F

    spark = wl.spark
    done = wl.work / "trace-curate-untraced"
    raw = _untraced(wl, rec, tally, "curate", lambda: wl.run(done),
                    lambda: wl.check(done))
    out = wl.work / "trace-curate-traced"
    max_words = 1_000_000

    def stage(name, build, table):
        with span(rec, name):
            df = build().cache()
            _force(df)
        with span(rec, "icetable.write", table=table):
            IceTable(out / table).write(df)
        with span(rec, "icetable.read"):
            IceTable(out / table).read(spark).count()
        return df

    with span(rec, "jobs.curate_corpus.run_job", family="curate") as root:
        t0 = time.perf_counter()
        with span(rec, "icetable.read"):
            docs = spark.read.parquet(str(wl.pages)).select(
                F.xxhash64(F.col("url")).alias("doc_id"), "text")
        with span(rec, "lineage.content_fingerprint"):
            content_fingerprint(docs, "doc_id", "text")
        stage("textstats.textstats_all", lambda: textstats_all(docs), "doc_stats")
        stage("lmscore.bigram_lm_score", lambda: bigram_lm_score(
            docs, docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0)), "lm_scores")
        stage("curation.corpus_filter",
              lambda: corpus_filter(docs, max_words=max_words), "base_verdicts")
        stage("curation.decontam_overlap", lambda: decontam_overlap(
            docs, docs.filter(F.pmod(F.col("doc_id"), F.lit(101)) == 0)), "contam")
        kept_docs = docs.join(
            IceTable(done / "verdicts").read(spark).filter("keep").select("doc_id"),
            "doc_id")
        stage("dedup.minhash_signatures", lambda: minhash_signatures(
            kept_docs, max_doc_words=max_words), "signatures")
        stage("dedup.minhash_dedup", lambda: minhash_dedup(
            kept_docs, max_doc_words=max_words), "clusters")
        toks = IceTable(done / "kept").read(spark).join(
            IceTable(done / "doc_stats").read(spark).select("doc_id", "ws_tokens"),
            "doc_id")
        stage("curation.pack_sequences", lambda: pack_sequences(
            toks, tokens_col="ws_tokens", seq_len=2048), "packs")
        raw["traced_wall_s"] = time.perf_counter() - t0
    raw["root"] = root["id"]
    with span(rec, "bench.check"):
        _unpersist_all(spark)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(done, ignore_errors=True)
    return raw


def run(wl, rec, tally) -> dict:
    """Replay every op family ``wl`` covers (a kg workload is a ``KgFold``
    here: it holds both the build inputs and a fold base); returns raw
    values per family."""
    if wl.name == "curate":
        return {"curate": _curate(wl, rec, tally)}
    raw = {"kg_build": _kg_build(wl, rec, tally)}
    raw["kg_fold"] = _kg_fold(wl, rec, tally)
    return raw


# -- summary -----------------------------------------------------------------


def _subtree(spans: list[dict], root: int) -> set:
    ids, changed = {root}, True
    while changed:
        changed = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                changed = True
    return ids


def summarize(rec, raw: dict, log_dir: Path) -> tuple[dict, dict]:
    """(per-layer metrics, record) from the spans, raw values and the
    event log."""
    spans = rec.spans
    selfs = trace.self_times(spans)
    log = trace.parse_event_log(trace.find_event_log(log_dir))
    per_span, summary = trace.span_task_metrics(log, spans)
    metrics = {name: 0.0 for name, _u, _b in PER_LAYER}
    for fam, r in raw.items():
        ids = _subtree(spans, r["root"])
        for s in spans:
            if s["id"] in ids and s["id"] != r["root"]:
                key = f"{fam}.{s['name']}_s"
                if key in metrics:
                    metrics[key] += selfs[s["id"]]
        mods = trace.module_metrics(per_span, spans, ids)
        for mod in SPARK_MODULES[fam]:
            for m, _u in SPARK_METRICS:
                metrics[f"{fam}.spark.{mod}.{m}"] = float(mods.get(mod, {}).get(m, 0))
        metrics[f"{fam}.session.persisted_rdds_after_op"] = r["persisted_delta"]
        metrics[f"{fam}.trace.overhead"] = (
            r["traced_wall_s"] / r["wall_s"] if r["wall_s"] else 0.0)
        if fam == "kg_build":
            metrics["kg_build.kg.candidate_pairs.pairs"] = r["pairs"]
            metrics["kg_build.kg.connected_components.rounds"] = r["rounds"]
            for p in PREDS:
                metrics[f"kg_build.kg.triples.rows.{p}"] = r["rows_by_pred"].get(p, 0)
        if fam == "kg_fold":
            metrics["kg_fold.kg.incremental_canonicalize.plan_chars"] = r["plan_chars"]
            metrics["kg_fold.icetable.upsert.rows_rewritten_per_touched"] = (
                r["rewritten_per_touched"])
        if fam in ("kg_build", "kg_fold"):
            metrics[f"{fam}.icetable.write.bytes"] = r["write_bytes"]
            metrics[f"{fam}.icetable.write.files"] = r["write_files"]
    metrics["trace.jobs"] = summary["jobs"]
    metrics["trace.jobs_unassigned"] = summary["jobs_unassigned"]
    record = {
        "spans": [
            {"id": s["id"], "name": s["name"], "parent": s["parent"],
             "self_s": round(selfs[s["id"]], 4),
             "executor_run_s": round(per_span.get(s["id"], {}).get(
                 "executor_run_s", 0.0), 3)}
            for s in spans
        ],
        "untraced_op_s": {f: round(r["wall_s"], 4) for f, r in raw.items()},
        "traced_op_s": {f: round(r["traced_wall_s"], 4) for f, r in raw.items()},
    }
    return metrics, record
