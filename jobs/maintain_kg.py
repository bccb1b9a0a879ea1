"""Table maintenance job — the spark-submit entry for keeping the KG's
Iceberg-layout tables healthy between build runs.

    spark-submit --py-files dist/kgspark.zip jobs/maintain_kg.py \\
        --root /tmp/kg --tables mentions,nodes,edges \\
        --compact --max-files 4 --expire-keep 2

Operations (each optional, applied in this order per table):
  --merge-compact  re-canonicalize the accumulated surface_map with the
                 BATCH rules, converging entity splits that incremental
                 ingest left behind (ingest adopts but never merges
                 existing entities); remaps the edges table through the
                 old->new id map and appends the map to entity_id_map so
                 external holders of old ids stay joinable
  --compact      rewrite partitions with more than --max-files files into
                 one file each (icetable.compact; new snapshot, time
                 travel intact until expiry)
  --expire-keep N  drop all but the last N snapshots and GC unreferenced
                 partition dirs (icetable.expire_snapshots)

Every operation appends a lineage row, so the maintenance history is
auditable next to the build history.  Idempotent: re-running compacts
nothing and expires nothing new.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path


def run_merge_compaction(spark, root: str, engine=None) -> dict:
    """Converge incremental entity splits to the batch-path labels.

    Reads surface_map, re-runs the batch canonicalization rules
    (kg.compact_canonicalize), and when any entity id changes:

    - overwrites surface_map and nodes (link scores recomputed, since a
      merge can change an entity's canonical form),
    - rewrites edges through kg.remap_triples (pred partitioning kept),
    - APPENDS the (old_entity_id, new_entity_id, run_id) rows that
      actually changed to the entity_id_map table — consumers holding ids
      from before compaction N must fold the maps of runs <= N in seq
      order (each compaction's map composes on the previous state).

    No-op (and no new snapshots) when the map is already converged."""
    from deduce_spark.spark import lineage as lin
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.kg import (
        compact_canonicalize, link_dicts_broadcast, link_scores,
        remap_triples, salted_repartition,
    )
    from pyspark.sql import functions as F

    out = Path(root)
    log = lin.LineageLog(out / "_lineage")
    run_id = f"mergecompact-{log.next_seq()}"
    t0 = time.monotonic()

    sm_table = IceTable(out / "surface_map")
    if not sm_table.exists():
        return {"skipped": "no surface_map table"}
    held_caches: list = []
    # anchor-voted canonical forms survive compaction when the build
    # persisted a weight table (jobs/build_kg.py stage B)
    aw_table = IceTable(out / "anchor_weights")
    anchor_weights = aw_table.read(spark) if aw_table.exists() else None
    new_sm, new_nodes, id_map = compact_canonicalize(
        sm_table.read(spark), caches=held_caches,
        anchor_weights=anchor_weights,
    )
    changed = id_map.filter(
        F.col("old_entity_id") != F.col("new_entity_id")
    ).cache()
    n_changed = changed.count()
    if n_changed == 0:
        changed.unpersist()
        for frame in held_caches:
            frame.unpersist()
        return {"merged_entities": 0, "noop": True}

    if engine is None:
        from deduce_spark.kernel.engine import Engine

        engine = Engine()
    new_nodes = link_scores(new_nodes, link_dicts_broadcast(spark, engine))

    seq = log.next_seq()
    sm_man = sm_table.write(
        new_sm, mode="overwrite",
        summary={"run_id": run_id, "stage": "merge_compaction"},
    )
    nodes_man = IceTable(out / "nodes").write(
        new_nodes, mode="overwrite",
        summary={"run_id": run_id, "stage": "merge_compaction"},
    )
    report: dict = {
        "merged_entities": n_changed,
        "surface_map_rows": sm_man["summary"]["total_rows"],
        "nodes_rows": nodes_man["summary"]["total_rows"],
    }
    edges_table = IceTable(out / "edges")
    if edges_table.exists():
        remapped = remap_triples(edges_table.read(spark), changed)
        remapped = salted_repartition(
            remapped, spark.sparkContext.defaultParallelism
        )
        edges_man = edges_table.write(
            remapped, partition_by=("pred",), mode="overwrite",
            summary={"run_id": run_id, "stage": "merge_compaction"},
        )
        report["edges_rows"] = edges_man["summary"]["total_rows"]
    IceTable(out / "entity_id_map").write(
        changed.withColumn("run_id", F.lit(run_id)),
        mode="append",
        summary={"run_id": run_id, "stage": "merge_compaction"},
    )
    changed.unpersist()
    # release exactly the caches compact_canonicalize retained — a global
    # clearCache() would also evict OTHER jobs' cached MVs in a shared
    # session (ADVICE r3 #2)
    for frame in held_caches:
        frame.unpersist()
    wall = time.monotonic() - t0
    report["wall_s"] = round(wall, 3)
    log.append(
        [
            lin.stage_record(
                "merge_compaction", seq, run_id,
                rows=n_changed, wall_s=wall,
                snapshot_id=sm_man["snapshot_id"],
            )
        ]
    )
    return report


def run_maintenance(
    spark,
    root: str,
    tables: list[str],
    compact: bool = False,
    max_files: int = 4,
    expire_keep: int = 0,
) -> dict:
    from deduce_spark.spark import lineage as lin
    from deduce_spark.spark.icetable import IceTable

    out = Path(root)
    log = lin.LineageLog(out / "_lineage")
    report: dict = {}
    for name in tables:
        t = IceTable(out / name)
        if not t.exists():
            report[name] = {"skipped": "missing"}
            continue
        entry: dict = {}
        if compact:
            t0 = time.monotonic()
            entry["compact"] = t.compact(spark, max_files_per_partition=max_files)
            entry["compact"]["wall_s"] = round(time.monotonic() - t0, 3)
        if expire_keep > 0:
            entry["expire"] = t.expire_snapshots(keep_last=expire_keep)
        report[name] = entry
        log.append(
            [
                {
                    "kind": "maintenance",
                    "seq": log.next_seq(),
                    "table": name,
                    "ops": entry,
                    "status": "ok",
                }
            ]
        )
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--root", required=True, help="KG output root (build_kg --output)")
    ap.add_argument("--tables", default="mentions,nodes,edges")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--merge-compact", action="store_true")
    ap.add_argument("--max-files", type=int, default=4)
    ap.add_argument("--expire-keep", type=int, default=0)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from deduce_spark.spark.session import get_spark

    spark = get_spark(master=args.master, app_name="maintain_kg")
    out: dict = {}
    if args.merge_compact:
        # an ambiguous-split refusal (compact_canonicalize RuntimeError)
        # must not abort routine compaction/snapshot-expiry below — record
        # it in the report and carry on (ADVICE r3 #3)
        try:
            out["merge_compaction"] = run_merge_compaction(spark, args.root)
        except RuntimeError as exc:
            out["merge_compaction"] = {"error": str(exc)}
    report = run_maintenance(
        spark,
        args.root,
        [t.strip() for t in args.tables.split(",") if t.strip()],
        compact=args.compact,
        max_files=args.max_files,
        expire_keep=args.expire_keep,
    )
    out["maintenance"] = report
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
