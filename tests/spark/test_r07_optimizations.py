"""Round-7 optimization regression pins.

Covers: cache-resident signature tiles (bit-identical to the scalar
kernels across tile boundaries), the scale-adaptive ``fan_out`` helper,
and the bucket-cap rewrite (no window keyed on a raw bucket column).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestSignatureTiles:
    """_MAX_CHUNK_SHINGLES/_MAX_CHUNK_WORDS are now small cache-resident
    tiles; results must stay bit-identical to the scalar kernels even for
    documents larger than one tile (a single oversized doc forms its own
    chunk)."""

    def test_minhash_tile_boundary_exact(self):
        from deduce_spark.spark.dedup import _word_shingles, minhash_sig
        from deduce_spark.spark.kg import _MAX_CHUNK_SHINGLES, minhash_matrix

        big = " ".join(f"w{i % 1009}" for i in range(_MAX_CHUNK_SHINGLES + 500))
        docs = ["short doc one", big, "short doc two", ""]
        got = minhash_matrix(_word_shingles(d) for d in docs).tolist()
        assert got == [minhash_sig(d) for d in docs]

    def test_surface_sig_tile_boundary_exact(self):
        # the char-3 shingler through the same kernel: many short surfaces
        # fill several tiles, and one surface alone exceeds a tile
        from deduce_spark.spark.kg import (
            _MAX_CHUNK_SHINGLES, _shingle_hashes, minhash_matrix, surface_sig,
        )

        surfs = [f"albert schweitzer ziekenhuis {i}" for i in range(400)]
        surfs[200:200] = ["x" * (_MAX_CHUNK_SHINGLES + 500), "ab", ""]
        got = minhash_matrix(_shingle_hashes(s) for s in surfs).tolist()
        assert got == [surface_sig(s) for s in surfs]

    def test_simhash_tile_boundary_exact(self):
        from deduce_spark.spark.dedup import (
            _MAX_CHUNK_WORDS, _batch_simhash, simhash64,
        )

        big = " ".join(f"w{i % 1009}" for i in range(_MAX_CHUNK_WORDS + 500))
        docs = ["short doc one", big, "", "short doc two"]
        assert _batch_simhash(docs) == [simhash64(d) for d in docs]


class TestFanOut:
    def test_fans_out_single_partition_input(self, spark):
        from deduce_spark.spark.parallel import fan_out

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(100)], ["doc_id", "text"]
        ).coalesce(1)
        out = fan_out(df)
        target = spark.sparkContext.defaultParallelism  # one wave per core
        assert out.rdd.getNumPartitions() == target
        # fan-out only moves rows
        assert sorted(r["doc_id"] for r in out.collect()) == list(range(100))

    def test_noop_above_size_gate(self, spark):
        # an input estimated above max_bytes must come back UNCHANGED —
        # this is the at-scale path where adding a shuffle is forbidden
        from deduce_spark.spark.parallel import fan_out

        df = spark.range(1000).selectExpr("id as doc_id", "repeat('x', 10) as text")
        out = fan_out(df, max_bytes=1)
        assert out is df  # unchanged plan, no added exchange


class TestBucketCapPlanShape:
    """The bucket-size caps are groupBy counts + broadcast anti-joins now;
    a Window keyed on the raw bucket column would materialize each hot
    bucket (sorted) on one task — assert none sneaks back in."""

    def test_minhash_lsh_plans_have_no_window(self, spark):
        from deduce_spark.spark.dedup import minhash_dedup, minhash_signatures
        from deduce_spark.spark.kg import candidate_pairs, surface_signatures

        surf = spark.createDataFrame(
            [(i, "PERSOON", f"jan de vries {i % 3}") for i in range(40)],
            ["surface_id", "type", "surface"],
        )
        docs = spark.createDataFrame(
            [(i, f"w{i} x y z common text") for i in range(40)],
            ["doc_id", "text"],
        )
        for out in (
            candidate_pairs(surface_signatures(surf)),
            # minhash_dedup's own call; its result plan reads only the
            # materialized components, checked as well
            candidate_pairs(minhash_signatures(docs), min_jaccard=0.7,
                            max_bucket=256, id_col="doc_id", key=None),
            minhash_dedup(docs, threshold=0.5),
        ):
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Window" not in plan

    def test_simhash_plan_has_no_window(self, spark):
        from deduce_spark.spark.dedup import simhash_near_dupes

        df = spark.createDataFrame(
            [(i, f"w{i} x y z common text") for i in range(40)],
            ["doc_id", "text"],
        )
        out = simhash_near_dupes(df, max_hamming=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan

    def test_lsh_topk_plan_has_no_window_before_rerank(self, spark):
        from deduce_spark.spark.similarity import lsh_topk

        vecs = spark.createDataFrame(
            [(i, [float(i % 7), 1.0, 0.5, 2.0]) for i in range(30)],
            "vec_id long, embedding array<float>",
        )
        out = lsh_topk(vecs, k=2, dim=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the only window remaining is the per-query rank of the rerank —
        # none keyed on the raw (table_idx, bucket) columns
        import re

        for frag in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
            assert "bucket" not in frag and "table_idx" not in frag


class TestCorpusFilterDupRule:
    """The duplicate rule is a min-per-md5 aggregate + equi-join now, not
    a Window over md5(text): a window materializes each identical-text
    group (sorted) on one task — the exact straggler a 100M-copy
    boilerplate page creates at crawl scale."""

    def test_plan_has_no_window(self, spark):
        from deduce_spark.spark.curation import corpus_filter

        df = spark.createDataFrame(
            [(i, f"some document text number {i} " * 10) for i in range(20)],
            ["doc_id", "text"],
        )
        plan = (
            corpus_filter(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan

    def test_duplicate_and_null_text_verdicts(self, spark):
        from deduce_spark.spark.curation import corpus_filter

        body = "unique words " + " ".join(f"w{i}" for i in range(30))
        rows = [(1, body), (2, body), (3, body + " extra"), (4, None), (5, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["verdict"], r["is_dup"] if "is_dup" in r else None)
            for r in corpus_filter(df).collect()
        }
        # identical texts: smallest id is the keeper, later ids duplicates
        assert out[1][0] == "keep"
        assert out[2][0] == "duplicate"
        assert out[3][0] == "keep"
        # NULL-text docs are dropped by the repetition_stats inner join —
        # the pre-rewrite window implementation behaved identically
        # (verified side by side); the null-coalesced join key only keeps
        # the dup-rule side consistent with PARTITION BY's null grouping
        assert 4 not in out and 5 not in out


class TestEngineWarmup:
    def test_warm_once_per_application(self, spark):
        from deduce_spark.spark import session as sess

        # the shared fixture session was built through get_spark, so its
        # application id must already be registered as warmed
        assert spark.sparkContext.applicationId in sess._WARMED
        before = set(sess._WARMED)
        again = sess.get_spark(master="local[4]", app_name="deduce_spark_tests")
        assert again.sparkContext.applicationId == spark.sparkContext.applicationId
        assert sess._WARMED == before  # no re-warm on getOrCreate reuse

    def test_env_disable(self, monkeypatch):
        from deduce_spark.spark import session as sess

        monkeypatch.setenv("SPARK_GRAFT_WARM_ENGINE", "0")
        saved = set(sess._WARMED)
        sess._WARMED.clear()
        try:
            s = sess.get_spark(master="local[4]", app_name="deduce_spark_tests")
            assert s.sparkContext.applicationId not in sess._WARMED
        finally:
            sess._WARMED.update(saved)
