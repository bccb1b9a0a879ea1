"""Incremental page ingestion via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.6: per-page processing is
embarrassingly parallel, no temporal semantics), so streaming here is an
*ingestion wrapper*, not new query semantics: a file-source stream over a
pages directory feeds the SAME fused annotate stage through
``foreachBatch`` into an Iceberg-layout mentions table partitioned by
(batch_id, part_id) — one code path for batch and streaming.

Exactly-once: Spark's checkpoint gives at-least-once ``foreachBatch``
delivery; the sink is idempotent because a batch only ever overwrites its
own (batch_id, *) partitions, and committed batch_ids are additionally
recorded in the lineage log so clean replays skip the compute entirely.

At cluster scale the same wrapper runs against a cloud-files / Kafka
source; the per-batch body is source-agnostic.  ``jobs/stream_ingest.py``
drives it.
"""

from __future__ import annotations

import time
from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduce_spark.spark import lineage as lin
from deduce_spark.spark.icetable import IceTable
from deduce_spark.spark.stages import AnnotatePipeline

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


class StreamingMentionsWriter:
    """foreachBatch body: annotate a micro-batch, append to mentions table."""

    def __init__(
        self,
        pipe: AnnotatePipeline,
        out_root: str | Path,
        n_parts: int = lin.DEFAULT_N_PARTS,
        lang: Optional[str] = "nl",
        from_html: bool = True,
    ) -> None:
        self.pipe = pipe
        self.table = IceTable(Path(out_root) / "mentions")
        self.log = lin.LineageLog(Path(out_root) / "_lineage")
        self.n_parts = n_parts
        self.lang = lang
        self.from_html = from_html

    def _committed_batches(self) -> set[int]:
        return {
            r["batch_id"]
            for r in self.log.records()
            if r.get("kind") == "stream_batch" and r.get("status") == "ok"
        }

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed_batches():
            return  # replay after restart: already committed, skip whole
        t0 = time.monotonic()
        annotated = self.pipe.annotate_pages(
            batch_df, lang=self.lang, from_html=self.from_html,
            with_text=False, with_redacted=False,
        )
        mentions = (
            self.pipe.mentions_long(annotated)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .withColumn(
                "part_id",
                F.pmod(F.xxhash64("url"), F.lit(self.n_parts)).cast("int"),
            )
        )
        # (batch_id, part_id) partitioning makes the write idempotent: a
        # replay (crash between table commit and lineage append) overwrites
        # exactly its own batch partitions instead of appending duplicates,
        # so the sink is exactly-once end to end
        man = self.table.write(
            mentions, partition_by=("batch_id", "part_id"),
            mode="overwrite-partitions",
            summary={"stream_batch_id": batch_id, "n_parts": self.n_parts},
        )
        self.log.append(
            [
                {
                    "kind": "stream_batch",
                    "seq": self.log.next_seq(),
                    "batch_id": int(batch_id),
                    "rows_out": man["summary"]["added_rows"],
                    "snapshot_id": man["snapshot_id"],
                    "status": "ok",
                    "wall_s": round(time.monotonic() - t0, 3),
                }
            ]
        )


def stream_pages_to_mentions(
    spark: SparkSession,
    pages_dir: str,
    out_root: str | Path,
    checkpoint_dir: str,
    pipe: Optional[AnnotatePipeline] = None,
    n_parts: int = lin.DEFAULT_N_PARTS,
    lang: Optional[str] = "nl",
    from_html: bool = True,
    max_files_per_trigger: int = 64,
):
    """Start the incremental pipeline; returns the StreamingQuery.

    Caller drives it with ``q.processAllAvailable()`` (tests / backfill)
    or lets the trigger run (continuous ingestion)."""
    pipe = pipe or AnnotatePipeline(spark)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    writer = StreamingMentionsWriter(
        pipe, out_root, n_parts=n_parts, lang=lang, from_html=from_html
    )
    return (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
