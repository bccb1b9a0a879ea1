"""Iceberg-layout Parquet tables: snapshots, manifests, partition overwrite.

No Iceberg jars ship with the installed pyspark (SURVEY.md env fact #2), so
the north_rule's "partitioned Iceberg outputs" are implemented as the same
*contract* over plain Parquet plus our own metadata layer:

    <root>/
      data/snap-<N>/<part_col>=<v>/...parquet   (immutable once committed)
      metadata/
        snap-<N>.json          one manifest per snapshot: the complete list
                               of live partition directories with row/byte
                               stats (footer-derived, no data read)
        v<N>.metadata.json     table metadata: schema, partition spec,
                               current snapshot, snapshot log
        version-hint.text      current version (atomic os.replace commit,
                               same trick as Iceberg's HadoopTableOperations)

Semantics carried over from Iceberg proper:

* **snapshot isolation** — readers resolve version-hint once and only ever
  see the file set of a committed manifest; a writer crash before the final
  ``os.replace`` leaves orphan data files but no visible change;
* **dynamic partition overwrite** — ``mode="overwrite-partitions"`` replaces
  exactly the partitions present in the incoming DataFrame and inherits the
  rest from the previous snapshot (this is what makes per-partition resume
  idempotent: re-running a part swaps its output, never duplicates it);
* **manifest-side partition pruning** — ``read(partition_filter=...)``
  selects partition directories from the manifest before Spark ever lists a
  file (on a 10^12-row table the file listing itself is the bottleneck;
  Iceberg prunes from manifests for the same reason);
* **time travel** — ``read(snapshot_id=...)`` and ``snapshots()``.
"""

from __future__ import annotations

import json
import os
from pathlib import Path
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

_FORMAT_VERSION = 1


_STATS_TYPES = (int, float, str, bool)


def _merge_column_stats(stats: dict, meta) -> None:
    """Fold one parquet file's footer min/max into the partition entry.

    Only JSON-safe primitive types are kept (ints/floats/strings/bools);
    anything else — or a column missing stats in any row group — drops the
    column from skipping (absence means 'cannot prune', never wrong
    results)."""
    seen: dict[str, tuple] = {}
    dropped = set(stats.get("_dropped", ()))
    for rg in range(meta.num_row_groups):
        row_group = meta.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in dropped:
                continue  # nested columns not skippable
            st = col.statistics
            if (
                st is None
                or not st.has_min_max
                or not isinstance(st.min, _STATS_TYPES)
                or not isinstance(st.max, _STATS_TYPES)
            ):
                dropped.add(name)
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                dropped.add(name)
                continue
            cur = seen.get(name)
            seen[name] = (
                (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
            )
    for name, (lo, hi) in seen.items():
        if name in dropped:
            continue
        cur = stats.get(name)
        stats[name] = (
            [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
        )
    for name in dropped:
        stats.pop(name, None)
    if dropped:
        stats["_dropped"] = sorted(dropped)


def _atomic_write(path: Path, text: str) -> None:
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(text)
    os.replace(tmp, path)  # POSIX-atomic within a directory


def _parse_partition_dir(rel: str) -> dict[str, str]:
    """'part_id=3/pred=mentions' -> {'part_id': '3', 'pred': 'mentions'}."""
    out: dict[str, str] = {}
    for seg in rel.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = v
    return out


def _hive_unescape(v: str) -> str:
    """Invert Hive/Spark partition-dir escaping ('%3A' -> ':').

    Spark writes partition values through ExternalCatalogUtils.escapePathName
    (percent-encodes ':', '=', '#', control chars, ...), so manifest values
    parsed from directory names are escaped.  Comparisons against values
    taken from a DataFrame must unescape first — a timestamp partition
    '2024-01-01 00:00:00' lives on disk as '2024-01-01 00%3A00%3A00'.

    Hive escapes per UTF-8 BYTE, so consecutive %XX runs are one encoded
    byte string: decoding each %XX independently via chr() mangles any
    non-ASCII partition value (e.g. 'café' -> '%C3%A9' must become 'é',
    not 'Ã©').  Mirrors ExternalCatalogUtils.unescapePathName: collect the
    run, decode as UTF-8 once, fall back to the raw text if invalid."""
    if "%" not in v:
        return v
    out: list[str] = []
    i = 0
    while i < len(v):
        if v[i] == "%" and i + 3 <= len(v):
            # collect the maximal run of %XX byte escapes, decode once
            buf = bytearray()
            j = i
            while j + 3 <= len(v) and v[j] == "%":
                try:
                    buf.append(int(v[j + 1 : j + 3], 16))
                except ValueError:
                    break
                j += 3
            if buf:
                try:
                    out.append(buf.decode("utf-8"))
                except UnicodeDecodeError:
                    # not valid UTF-8: keep the raw escaped text verbatim
                    out.append(v[i:j])
                i = j
                continue
        out.append(v[i])
        i += 1
    return "".join(out)


class IceTable:
    """One table rooted at ``root``; all mutation goes through ``write``."""

    def __init__(self, root: str | Path) -> None:
        self.root = Path(root)
        self.meta_dir = self.root / "metadata"

    # -- metadata plumbing -------------------------------------------------

    def exists(self) -> bool:
        return (self.meta_dir / "version-hint.text").exists()

    def current_version(self) -> int:
        hint = self.meta_dir / "version-hint.text"
        if not hint.exists():
            return 0
        return int(hint.read_text().strip())

    def _metadata(self, version: Optional[int] = None) -> dict:
        v = self.current_version() if version is None else version
        return json.loads((self.meta_dir / f"v{v}.metadata.json").read_text())

    def schema(self):
        """The current schema, from the table metadata (no data read)."""
        import pyspark.sql.types as T

        return T.StructType.fromJson(json.loads(self._metadata()["schema_json"]))

    def manifest(self, snapshot_id: Optional[int] = None) -> dict:
        sid = snapshot_id
        if sid is None:
            sid = self._metadata()["current_snapshot_id"]
        return json.loads((self.meta_dir / f"snap-{sid}.json").read_text())

    def snapshots(self) -> list[dict]:
        if not self.exists():
            return []
        return self._metadata()["snapshot_log"]

    def partition_stats(self, snapshot_id: Optional[int] = None) -> list[dict]:
        """Per-partition (values, rows, bytes, files) from the manifest —
        the metrics table the north_rule asks for, derived without reading
        a single data row."""
        return [
            {
                "partition": e["partition"],
                "rows": e["rows"],
                "bytes": e["bytes"],
                "files": len(e["files"]),
            }
            for e in self.manifest(snapshot_id)["entries"]
        ]

    # -- write ---------------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        partition_by: Sequence[str] = (),
        mode: str = "overwrite-partitions",
        summary: Optional[dict] = None,
    ) -> dict:
        """Commit ``df`` as a new snapshot; returns the manifest.

        mode: 'append' | 'overwrite' (whole table) | 'overwrite-partitions'
        (replace only partitions present in ``df``; == 'overwrite' for an
        unpartitioned table).
        """
        if mode not in ("append", "overwrite", "overwrite-partitions"):
            raise ValueError(f"unknown mode {mode!r}")
        if mode != "overwrite" and self.exists():
            prev_spec = self._metadata().get("partition_spec", [])
            if prev_spec != list(partition_by):
                raise ValueError(
                    f"partition spec change {prev_spec} -> {list(partition_by)} "
                    f"requires mode='overwrite' (append/overwrite-partitions "
                    f"would mix layouts in one manifest)"
                )
        version = self.current_version() + 1
        snap_rel = f"data/snap-{version}"
        snap_dir = self.root / snap_rel
        writer = df.write.mode("overwrite")  # fresh snap dir — never shared
        if partition_by:
            writer = writer.partitionBy(*list(partition_by))
        writer.parquet(str(snap_dir))

        new_entries = self._scan_snap_dir(snap_rel, tuple(partition_by))
        if mode == "append" and self.exists():
            prev = self.manifest()["entries"]
            entries = prev + new_entries
        elif mode == "overwrite-partitions" and self.exists() and partition_by:
            written = {json.dumps(e["partition"], sort_keys=True) for e in new_entries}
            prev = [
                e
                for e in self.manifest()["entries"]
                if json.dumps(e["partition"], sort_keys=True) not in written
            ]
            entries = prev + new_entries
        else:
            entries = new_entries

        man = {
            "snapshot_id": version,
            "operation": mode,
            "partition_spec": list(partition_by),
            "entries": entries,
            "summary": dict(
                summary or {},
                total_rows=sum(e["rows"] for e in entries),
                total_bytes=sum(e["bytes"] for e in entries),
                total_files=sum(len(e["files"]) for e in entries),
                added_rows=sum(e["rows"] for e in new_entries),
                added_files=sum(len(e["files"]) for e in new_entries),
            ),
        }
        self.meta_dir.mkdir(parents=True, exist_ok=True)
        _atomic_write(self.meta_dir / f"snap-{version}.json", json.dumps(man, indent=1))
        log = self.snapshots() + [
            {"snapshot_id": version, "operation": mode, "summary": man["summary"]}
        ]
        meta = {
            "format_version": _FORMAT_VERSION,
            "schema_json": df.schema.json(),
            "partition_spec": list(partition_by),
            "current_snapshot_id": version,
            "snapshot_log": log,
        }
        _atomic_write(self.meta_dir / f"v{version}.metadata.json", json.dumps(meta, indent=1))
        # the commit point: everything before this is invisible to readers
        _atomic_write(self.meta_dir / "version-hint.text", str(version))
        return man

    def _scan_snap_dir(self, snap_rel: str, partition_by: tuple) -> list[dict]:
        """Footer-only stats for every partition dir under one snap dir."""
        import pyarrow.parquet as pq

        snap_dir = self.root / snap_rel
        by_part: dict[str, dict] = {}
        for p in sorted(snap_dir.rglob("*.parquet")):
            rel_in_snap = p.parent.relative_to(snap_dir).as_posix()
            part_vals = _parse_partition_dir(rel_in_snap) if partition_by else {}
            key = json.dumps(part_vals, sort_keys=True)
            entry = by_part.setdefault(
                key,
                {
                    "partition": part_vals,
                    "dir": f"{snap_rel}/{rel_in_snap}" if rel_in_snap != "." else snap_rel,
                    "files": [],
                    "rows": 0,
                    "bytes": 0,
                },
            )
            meta = pq.ParquetFile(p).metadata
            entry["files"].append(p.name)
            entry["rows"] += meta.num_rows
            entry["bytes"] += p.stat().st_size
            _merge_column_stats(entry.setdefault("stats", {}), meta)
        return list(by_part.values())

    # -- read ----------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        snapshot_id: Optional[int] = None,
        partition_filter: Optional[Callable[[dict], bool]] = None,
        column_range: Optional[dict] = None,
    ) -> DataFrame:
        """DataFrame of the snapshot's live file set.

        ``partition_filter`` prunes partition directories manifest-side
        (receives the partition-values dict, e.g. {'part_id': '3'}) before
        Spark lists anything.  ``column_range`` is manifest-level data
        skipping (Iceberg metrics-pruning parity): ``{"col": (lo, hi)}``
        declares the caller will only keep rows with col BETWEEN lo AND hi,
        so partitions whose footer-derived [min, max] cannot intersect are
        skipped without listing a file.  Entries lacking stats for a column
        are always kept (absence = cannot prune, never wrong results) — the
        caller still applies the actual row filter.  Entries are grouped
        per snap dir so Spark's own partition-column discovery (basePath)
        still applies; the final plan is a union of parquet scans — column
        pruning and predicate pushdown reach every leaf.
        """
        man = self.manifest(snapshot_id)
        entries = man["entries"]
        if partition_filter is not None:
            entries = [e for e in entries if partition_filter(e["partition"])]
        if column_range:
            def _may_match(e: dict) -> bool:
                stats = e.get("stats") or {}
                for col, (lo, hi) in column_range.items():
                    rng = stats.get(col)
                    if rng is None:
                        continue
                    if (hi is not None and rng[0] > hi) or (
                        lo is not None and rng[1] < lo
                    ):
                        return False
                return True

            entries = [e for e in entries if _may_match(e)]
        if not entries:
            return spark.createDataFrame([], self.schema())
        by_snap: dict[str, list[str]] = {}
        for e in entries:
            snap_rel = "/".join(e["dir"].split("/")[:2])  # data/snap-N
            by_snap.setdefault(snap_rel, []).append(str(self.root / e["dir"]))
        dfs = []
        for snap_rel, dirs in sorted(by_snap.items()):
            reader = spark.read.option("basePath", str(self.root / snap_rel))
            dfs.append(reader.parquet(*sorted(dirs)))
        out = dfs[0]
        for d in dfs[1:]:
            # snapshots written before a column was added lack it in their
            # parquet leaves; missing columns read as null (schema
            # evolution, Iceberg add-column semantics)
            out = out.unionByName(d, allowMissingColumns=True)
        # align to the table's CURRENT schema: back-fill added columns with
        # nulls and normalize types (partition-dir values re-infer as int
        # otherwise), matching how Iceberg reads old snapshots with the
        # latest schema
        from pyspark.sql import functions as F

        cols = []
        for f in self.schema().fields:
            if f.name in out.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return out.select(*cols)

    def upsert(
        self,
        df: DataFrame,
        keys: Sequence[str],
        summary: Optional[dict] = None,
    ) -> dict:
        """Keyed upsert (MERGE INTO parity): rows in ``df`` replace
        current rows with equal ``keys``; others are inserted.

        Partition-scoped: only partitions that receive rows from ``df``
        are rewritten (their surviving old rows are read back, anti-joined
        on the keys, unioned with the new rows and committed via dynamic
        partition overwrite).  Untouched partitions are inherited as-is —
        at corpus scale an upsert touching one day's partitions must not
        rewrite the other 10^3.  NOTE: a key that MOVES partitions (its
        partition-column value changed) leaves the old row in the old
        partition — like Iceberg, partition columns of a keyed table
        should be derived from the key.
        """
        from pyspark.sql import functions as F  # local to avoid cycle

        if not self.exists():
            spec = ()
            return self.write(df, partition_by=spec, mode="overwrite",
                              summary=dict(summary or {}, upsert=True))
        spec = tuple(self._metadata().get("partition_spec", []))
        key_list = list(keys)
        # MERGE INTO never drops target columns: align df to the current
        # table schema (null-backfill columns the source lacks) so a narrow
        # source cannot silently narrow the table schema-wide.  Extra df
        # columns are kept — that is add-column schema evolution, which
        # write()/read() already handle.
        for f in self.schema().fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        if spec:
            touched_rows = df.select(*spec).distinct().collect()
            for r in touched_rows:
                for k in spec:
                    if r[k] is None:
                        raise ValueError(
                            f"upsert: null partition value for '{k}' — null "
                            "partitions land in __HIVE_DEFAULT_PARTITION__ "
                            "and cannot be matched reliably; filter or "
                            "backfill the partition column first"
                        )
            touched_keys = {
                json.dumps({k: str(r[k]) for k in spec}, sort_keys=True)
                for r in touched_rows
            }
            # manifest partition values are raw Hive-escaped dir segments;
            # unescape before comparing to DataFrame-derived values, else a
            # timestamp/special-char partition never matches and its
            # survivors would be dropped by the partition overwrite
            current = self.read(
                self._require_session(df),
                partition_filter=lambda p: json.dumps(
                    {k: _hive_unescape(v) for k, v in p.items()},
                    sort_keys=True,
                )
                in touched_keys,
            )
        else:
            current = self.read(self._require_session(df))
        survivors = current.join(
            df.select(*key_list).distinct(), on=key_list, how="left_anti"
        )
        merged = survivors.unionByName(df, allowMissingColumns=True)
        if spec:
            merged = merged.repartition(*spec)
        return self.write(
            merged,
            partition_by=spec,
            mode="overwrite-partitions" if spec else "overwrite",
            summary=dict(summary or {}, upsert=True,
                         upsert_keys=key_list),
        )

    @staticmethod
    def _require_session(df: DataFrame) -> SparkSession:
        return df.sparkSession

    # -- maintenance -----------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        max_files_per_partition: int = 4,
        files_per_partition: int = 1,
    ) -> dict:
        """Small-file compaction (Iceberg rewriteDataFiles parity).

        Streaming/append workloads leave many small files per partition;
        at corpus scale every file is an open/seek/footer round-trip per
        task, so scan cost grows with file COUNT, not bytes.  Partitions
        whose file count exceeds ``max_files_per_partition`` are rewritten
        into ``files_per_partition`` file(s) each, committed as a NEW
        snapshot (operation 'compact') that replaces only those
        partitions — untouched partitions are inherited, prior snapshots
        stay readable (time travel intact) until expire_snapshots.
        """
        if not self.exists():
            return {"compacted_partitions": 0, "files_before": 0, "files_after": 0}
        man = self.manifest()
        spec = man["partition_spec"]
        fat = [e for e in man["entries"] if len(e["files"]) > max_files_per_partition]
        if not fat:
            return {"compacted_partitions": 0, "files_before": 0, "files_after": 0}
        fat_keys = {json.dumps(e["partition"], sort_keys=True) for e in fat}
        df = self.read(
            spark,
            partition_filter=lambda p: json.dumps(p, sort_keys=True) in fat_keys,
        )
        if spec:
            # one output file per (partition, slot): repartition on the
            # partition columns so every partitionBy dir gets exactly
            # files_per_partition task outputs
            df = df.repartition(
                max(1, len(fat) * files_per_partition), *spec
            )
        else:
            df = df.coalesce(files_per_partition)
        before = sum(len(e["files"]) for e in fat)
        man2 = self.write(
            df,
            partition_by=tuple(spec),
            mode="overwrite-partitions" if spec else "overwrite",
            summary={"compaction": True,
                     "compacted_partitions": len(fat),
                     "files_before": before},
        )
        after = sum(
            len(e["files"])
            for e in man2["entries"]
            if json.dumps(e["partition"], sort_keys=True) in fat_keys
        )
        return {
            "compacted_partitions": len(fat),
            "files_before": before,
            "files_after": after,
            "snapshot_id": man2["snapshot_id"],
        }

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop all but the last ``keep_last`` snapshots (Iceberg
        expireSnapshots parity): partition directories referenced by no
        kept manifest are deleted, expired metadata files removed, and the
        snapshot log trimmed.  Readers of kept snapshots are unaffected —
        inherited partitions (dirs living under an old snap dir but still
        referenced by a kept manifest) are preserved.
        """
        import shutil

        if not self.exists():
            return {"deleted_dirs": 0, "freed_bytes": 0}
        log = self.snapshots()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        kept = [s["snapshot_id"] for s in log[-keep_last:]]
        expired = [s["snapshot_id"] for s in log[:-keep_last]]
        referenced = {
            e["dir"] for sid in kept for e in self.manifest(sid)["entries"]
        }
        deleted_dirs = 0
        freed = 0
        for snap_dir in sorted((self.root / "data").glob("snap-*")):
            snap_rel_root = f"data/{snap_dir.name}"
            # every partition dir (deepest dirs holding parquet) under snap
            part_dirs = {p.parent for p in snap_dir.rglob("*.parquet")}
            for d in sorted(part_dirs):
                rel = d.relative_to(self.root).as_posix()
                if rel in referenced or snap_rel_root in referenced:
                    continue
                freed += sum(f.stat().st_size for f in d.rglob("*") if f.is_file())
                shutil.rmtree(d)
                deleted_dirs += 1
            # remove now-empty snap dirs
            if snap_dir.exists() and not any(snap_dir.rglob("*.parquet")):
                shutil.rmtree(snap_dir)
        for sid in expired:
            (self.meta_dir / f"snap-{sid}.json").unlink(missing_ok=True)
        # trim the snapshot log in a NEW metadata version (commit via hint)
        version = self.current_version() + 1
        meta = self._metadata()
        meta["snapshot_log"] = [s for s in log if s["snapshot_id"] in kept]
        _atomic_write(self.meta_dir / f"v{version}.metadata.json", json.dumps(meta, indent=1))
        _atomic_write(self.meta_dir / "version-hint.text", str(version))
        return {"deleted_dirs": deleted_dirs, "freed_bytes": freed,
                "expired": expired, "kept": kept}
