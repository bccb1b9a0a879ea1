"""Per-partition lineage, metrics, and exact resume.

north_rule: "resumable from checkpoint with per-partition lineage + metrics".

Unit of resume = the **part**: ``part_id = pmod(xxhash64(url), n_parts)``, a
pure function of the row key, so the same page lands in the same part on
every run and on every cluster size.  The expensive stage (per-page
annotate, CPU-bound, no shuffle) is checkpointed at part granularity:

1. ``part_manifest`` fingerprints each part of the *input* with an
   order-independent content hash (bit_xor of per-row xxhash64 — commutative,
   so partition layout / task order cannot change it);
2. completed parts are recorded as lineage rows
   ``(run_id, part_id, input_hash, rows_in, rows_out, status, wall_s)``,
   appended ONLY AFTER the output snapshot committed (see icetable.write —
   its version-hint replace is the commit point), so a crash anywhere
   leaves lineage ⊆ committed output;
3. on restart, a part is skipped iff a lineage row matches BOTH part_id and
   input_hash with status='ok' — if the input changed (late-arriving pages,
   re-crawl), the hash differs and the part is recomputed, and the
   icetable's dynamic partition overwrite swaps its output idempotently.

Downstream global stages (LSH canonicalization, triples) are cheap relative
to annotate and recompute from the committed mentions table; their metrics
are still recorded per snapshot.

The lineage store itself is driver-written JSON-lines (one file per commit,
unique name, append-only) — tiny (n_parts rows per run), human-readable,
and crash-safe by construction (a half-written file is ignored because
records only count once their file is fully parseable; files are written
via tmp+rename).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_N_PARTS = 64


def with_part_id(pages: DataFrame, n_parts: int = DEFAULT_N_PARTS) -> DataFrame:
    """Deterministic part assignment from the row key (url)."""
    return pages.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )


def part_manifest(pages_with_part: DataFrame) -> DataFrame:
    """(part_id, input_hash, rows_in) — content fingerprint per part.

    bit_xor is commutative/associative: the hash is independent of row
    order, task count, and file layout.  One narrow aggregation over the
    key columns only (Catalyst prunes everything else from the scan).
    """
    return pages_with_part.groupBy("part_id").agg(
        F.expr("bit_xor(xxhash64(url, cast(warc_ts as string)))").alias("input_hash"),
        F.count(F.lit(1)).alias("rows_in"),
    )


class LineageLog:
    """Append-only lineage/metrics store under ``<dir>/``."""

    def __init__(self, log_dir: str | Path) -> None:
        self.dir = Path(log_dir)

    def records(self) -> list[dict]:
        if not self.dir.exists():
            return []
        out: list[dict] = []
        for p in sorted(self.dir.glob("lineage-*.jsonl")):
            try:
                lines = p.read_text().splitlines()
            except OSError:
                continue
            out.extend(json.loads(ln) for ln in lines if ln.strip())
        return out

    def append(self, records: list[dict]) -> Path:
        self.dir.mkdir(parents=True, exist_ok=True)
        name = f"lineage-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}.jsonl"
        path = self.dir / name
        tmp = path.with_name(path.name + ".tmp")
        tmp.write_text("".join(json.dumps(r, sort_keys=True) + "\n" for r in records))
        os.replace(tmp, path)
        return path

    def completed(self) -> dict[int, int]:
        """{part_id: input_hash} for parts whose LATEST record is ok."""
        latest: dict[int, dict] = {}
        for r in self.records():
            if r.get("kind", "part") != "part":
                continue
            prev = latest.get(r["part_id"])
            if prev is None or r["seq"] >= prev["seq"]:
                latest[r["part_id"]] = r
        return {
            pid: r["input_hash"]
            for pid, r in latest.items()
            if r.get("status") == "ok"
        }

    def next_seq(self) -> int:
        return 1 + max((r.get("seq", 0) for r in self.records()), default=0)

    def stage_metrics(self) -> list[dict]:
        return [r for r in self.records() if r.get("kind") == "stage"]


def plan_resume(
    manifest_rows: list[dict], log: LineageLog
) -> tuple[list[int], list[int]]:
    """-> (todo_part_ids, skipped_part_ids).

    A part is skipped iff lineage has status=ok for the SAME input_hash;
    changed input → recompute (exact resume, not best-effort)."""
    done = log.completed()
    todo, skipped = [], []
    for row in manifest_rows:
        pid, h = int(row["part_id"]), int(row["input_hash"])
        if done.get(pid) == h:
            skipped.append(pid)
        else:
            todo.append(pid)
    return sorted(todo), sorted(skipped)


def part_records(
    manifest_rows: list[dict],
    todo: list[int],
    rows_out_by_part: dict[int, int],
    seq: int,
    run_id: str,
    snapshot_id: int,
    wall_s: float,
    status: str = "ok",
) -> list[dict]:
    by_pid = {int(r["part_id"]): r for r in manifest_rows}
    recs = []
    for pid in todo:
        m = by_pid[pid]
        recs.append(
            {
                "kind": "part",
                "seq": seq,
                "run_id": run_id,
                "part_id": pid,
                "input_hash": int(m["input_hash"]),
                "rows_in": int(m["rows_in"]),
                "rows_out": int(rows_out_by_part.get(pid, 0)),
                "snapshot_id": snapshot_id,
                "status": status,
                "wall_s": round(wall_s, 3),
            }
        )
    return recs


def content_fingerprint(df: DataFrame, *cols: str) -> str:
    """Order-independent content fingerprint of a frame over ``cols``:
    ``"<rowcount>-<hex bit_xor of xxhash64(cols)>"`` — the stage-resume
    key of jobs/curate_corpus.py."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("x"),
    ).collect()[0]
    return f"{int(row['n'])}-{int(row['x'] or 0):x}"


def stage_done(log: "LineageLog", table, name: str, fp: str) -> bool:
    """True iff ``table`` exists and the stage's LATEST lineage record
    is ok at this input fingerprint — the shared resume predicate for
    stage-chain jobs.  Latest-record (not any-record) matters when
    inputs alternate: after a run at fp2, the tables hold fp2's output,
    so an old fp1 record must NOT satisfy a new fp1 run."""
    if not table.exists():
        return False
    recs = [r for r in log.records() if r.get("stage") == name]
    if not recs:
        return False
    latest = max(recs, key=lambda r: r.get("seq", 0))
    return latest.get("status") == "ok" and latest.get("input_fp") == fp


def stage_record(
    name: str, seq: int, run_id: str, rows: int, wall_s: float, **extra
) -> dict:
    return {
        "kind": "stage",
        "seq": seq,
        "run_id": run_id,
        "stage": name,
        "rows": int(rows),
        "wall_s": round(wall_s, 3),
        "status": "ok",
        **extra,
    }
