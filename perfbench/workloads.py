"""The workloads: input set-up, one op through the job entry point, and the
op's output check.

``kg_build`` and ``kg_fold`` run stage B of ``jobs/build_kg.run_job``
(``kg_only=True``) over a generated mentions table; ``curate`` runs
``jobs/curate_corpus.run_job`` over generated pages.  Each op writes into
a fresh output root under the benchmark's work directory.
"""

from __future__ import annotations

import json
import pickle
import shutil
import statistics
import time
import types
from pathlib import Path

import pandas as pd

from perfbench import gen, oracle

ROOT = Path(__file__).resolve().parent.parent
LOOKUP_PICKLE = ROOT / "data" / "cache" / "lookup_structs_2ac432b4ec9e0f78.pkl"
PINNED = Path(__file__).resolve().parent / "pinned_curate.json"

KG_PAGES = 600
KG_ENTITIES = 2000
FOLD_PAGES = KG_PAGES // 10
CURATE_PAGES = 1500


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def load_engine():
    """An object whose ``.ds`` is the tracked lookup pickle -- what
    ``Engine().ds`` loads, and all stage B reads from the engine."""
    if not LOOKUP_PICKLE.is_file():
        raise FileNotFoundError(f"lookup pickle missing: {LOOKUP_PICKLE}")
    with open(LOOKUP_PICKLE, "rb") as fh:
        return types.SimpleNamespace(ds=pickle.load(fh))


class Workload:
    """One workload.  ``prepare`` generates and commits the inputs and the
    oracle (repeated ``prepare_reps`` times in set-up, the median is
    reported); ``op`` runs one timed job and checks its outputs."""

    name = ""
    prepare_reps = 1
    warmup_ops = 0  # untimed ops in set-up before the timed ones

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rows = 0  # input rows one op processes
        self.properties: dict = {}
        self._n_dirs = 0

    def fresh_dir(self, tag: str) -> Path:
        self._n_dirs += 1
        path = self.work / f"{tag}-{self._n_dirs}"
        shutil.rmtree(path, ignore_errors=True)
        return path

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self) -> dict:
        """{"wall_s", "bytes", "problems"} of one op."""
        raise NotImplementedError


def _read_nodes(spark, out: Path) -> set:
    from deduce_spark.spark.icetable import IceTable

    pdf = (
        IceTable(out / "nodes").read(spark)
        .select("entity_id", "type", "canonical_form", "n_mentions").toPandas()
    )
    return {(int(e), t, f, int(n)) for e, t, f, n in pdf.itertuples(index=False)}


def _read_edge_counts(spark, out: Path) -> dict:
    from deduce_spark.spark.icetable import IceTable

    rows = IceTable(out / "edges").read(spark).groupBy("pred").count().collect()
    return {r["pred"]: int(r["count"]) for r in rows}


def _commit_mentions(spark, table: Path, mentions: pd.DataFrame, mode: str) -> None:
    from deduce_spark.spark.icetable import IceTable

    parts = ("batch_id", "part_id") if "batch_id" in mentions else ("part_id",)
    IceTable(table).write(
        spark.createDataFrame(mentions), partition_by=parts, mode=mode)


class KgBuild(Workload):
    """Full stage-B build: canonicalize, link scoring, triples, commits."""

    name = "kg_build"
    prepare_reps = 2
    # the first op in a session spreads ~0.17 across seeds, the second ~0.12
    warmup_ops = 1
    batch_id: int | None = None  # kg_fold commits its base as batch 0

    def __init__(self, spark, work, seed, engine) -> None:
        super().__init__(spark, work, seed)
        self.engine = engine
        self.src: Path | None = None

    def prepare(self) -> None:
        pool = gen.entity_pool(self.engine.ds, self.seed, KG_ENTITIES)
        self.mentions = gen.kg_mentions(
            self.seed, pool, 0, KG_PAGES, batch_id=self.batch_id)
        self.src = self.fresh_dir("src")
        _commit_mentions(self.spark, self.src / "mentions", self.mentions, "overwrite")
        self.oracle = oracle.kg_oracle(self.mentions)
        self.pool = pool
        self.rows = len(self.mentions)
        self.properties = gen.mention_properties(self.mentions, pool)

    def build(self, out: Path) -> tuple[float, int]:
        """Untimed copy of the inputs into ``out``, then the timed job."""
        from jobs.build_kg import run_job

        shutil.copytree(self.src, out)
        before = dir_bytes(out)
        t0 = time.perf_counter()
        run_job(self.spark, None, str(out), kg_only=True, engine=self.engine)
        wall = time.perf_counter() - t0
        return wall, dir_bytes(out) - before

    def check(self, out: Path) -> list[str]:
        return oracle.check_build(
            _read_nodes(self.spark, out), _read_edge_counts(self.spark, out),
            self.oracle,
        )

    def op(self) -> dict:
        out = self.fresh_dir("op")
        wall, written = self.build(out)
        problems = self.check(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "bytes": written, "problems": problems}


class KgFold(KgBuild):
    """Incremental fold of one new batch (a tenth of the base pages) into
    a built base graph.  Every op folds the same batch into a fresh copy
    of the same base, so the ops do equal work."""

    name = "kg_fold"
    prepare_reps = 1
    batch_id = 0  # the stream-ingest layout an incremental kg-only run folds

    def prepare(self) -> None:
        super().prepare()
        self.base_oracle = self.oracle
        self.batch = gen.kg_mentions(
            self.seed, self.pool, KG_PAGES, FOLD_PAGES, batch_id=1
        )
        self.base = self.fresh_dir("base")
        self.build(self.base)
        problems = self.check(self.base)
        if problems:
            raise RuntimeError(f"base build failed its check: {problems}")
        self.rows = len(self.batch)
        self.properties = dict(
            base=self.properties, **gen.mention_properties(self.batch, self.pool)
        )

    def fold(self, out: Path) -> tuple[float, int]:
        from jobs.build_kg import run_job

        shutil.copytree(self.base, out)
        _commit_mentions(self.spark, out / "mentions", self.batch, "append")
        before = dir_bytes(out)
        t0 = time.perf_counter()
        run_job(self.spark, None, str(out), kg_only=True, incremental=True,
                engine=self.engine)
        wall = time.perf_counter() - t0
        return wall, dir_bytes(out) - before

    def check_fold(self, out: Path) -> list[str]:
        from deduce_spark.spark.icetable import IceTable

        sm = IceTable(out / "surface_map").read(self.spark).select(
            "surface", "type", "surface_id", "entity_id", "n_mentions"
        ).toPandas()
        return oracle.check_fold(
            sm, _read_edge_counts(self.spark, out), self.base_oracle, self.batch
        )

    def op(self) -> dict:
        out = self.fresh_dir("op")
        wall, written = self.fold(out)
        problems = self.check_fold(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "bytes": written, "problems": problems}


def curate_fingerprints(spark, out: Path) -> dict:
    from deduce_spark.spark.icetable import IceTable
    from deduce_spark.spark.lineage import content_fingerprint

    kept = IceTable(out / "kept").read(spark)
    packs = IceTable(out / "packs").read(spark)
    return {
        "kept": content_fingerprint(kept, *kept.columns),
        "packs": content_fingerprint(packs, *packs.columns),
    }


def pinned_fingerprints(seed: int) -> dict | None:
    if not PINNED.is_file():
        return None
    pins = json.loads(PINNED.read_text())
    return pins.get(str(CURATE_PAGES), {}).get(str(seed))


class Curate(Workload):
    """Corpus curation: textstats, LM score, verdicts, MinHash dedup and
    sequence packing over generated pages; no ``kg`` work."""

    name = "curate"
    prepare_reps = 3
    # the first op spreads ~0.08 across seeds; the one after it ~0.24, as
    # the session is still warming, so the first op is the timed one

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from deduce_spark.fixtures import write_pages_parquet
        from deduce_spark.kernel.xxh64 import spark_xxhash64

        self.pages = write_pages_parquet(
            self.fresh_dir("pages"), CURATE_PAGES, self.seed
        )
        table = pq.read_table(self.pages, columns=["url", "text"])
        urls, texts = (table.column(c).to_pylist() for c in ("url", "text"))
        self.expected_ids = {spark_xxhash64(u) for u in urls}
        self.reference = pinned_fingerprints(self.seed)
        self.pinned = self.reference is not None
        self.rows = len(urls)
        words = [len(t.split()) for t in texts]
        self.properties = {
            "pages": len(urls),
            "distinct_texts": len(set(texts)),
            "words_per_page": round(statistics.mean(words), 2),
            "max_words_per_page": max(words),
        }

    def run(self, out: Path) -> float:
        from jobs.curate_corpus import run_job

        t0 = time.perf_counter()
        run_job(self.spark, str(self.pages), str(out), resume=False, id_col="url")
        return time.perf_counter() - t0

    def check(self, out: Path) -> list[str]:
        from deduce_spark.spark.icetable import IceTable

        verdicts = IceTable(out / "verdicts").read(self.spark).select(
            "doc_id", "verdict").toPandas()
        fps = curate_fingerprints(self.spark, out)
        if self.reference is None:
            # seed not pinned: the first op's fingerprints pin the rest
            self.reference = fps
        return oracle.check_curate(verdicts, self.expected_ids, fps, self.reference)

    def op(self) -> dict:
        out = self.fresh_dir("op")
        wall = self.run(out)
        written = dir_bytes(out)
        problems = self.check(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "bytes": written, "problems": problems}


WORKLOADS = {"kg_build": KgBuild, "kg_fold": KgFold, "curate": Curate}
