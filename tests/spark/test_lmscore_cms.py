"""Bigram-LM quality scoring + Count-Min sketch: semantics and twins."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduce_spark.spark.lmscore import (
    bigram_lm_score, bigram_lm_score_oracle_sql,
)
from deduce_spark.spark.sketches import (
    cms_build, cms_oracle_sql, cms_query, cms_query_oracle_sql,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBigramLM:
    def test_on_model_text_scores_lower(self, spark):
        # a doc repeating the reference's bigrams must cost fewer
        # bits/bigram than unseen-vocabulary gibberish
        ref_text = "the cat sat on the mat and the dog sat on the rug"
        rows = [
            (1, ref_text),
            (2, "the cat sat on the mat"),
            (3, "qzx vbnm wwq plk qzx nmv"),
        ]
        docs = _docs(spark, rows)
        got = {
            r["doc_id"]: r["ppl_millibits"]
            for r in bigram_lm_score(
                docs, docs.filter("doc_id = 1")
            ).collect()
        }
        assert got[2] < got[3]

    def test_short_docs_excluded_and_cost_nonnegative(self, spark):
        rows = [(1, "a b c"), (2, "single"), (3, ""), (4, "x y")]
        docs = _docs(spark, rows)
        out = bigram_lm_score(docs, docs).collect()
        assert sorted(r["doc_id"] for r in out) == [1, 4]
        assert all(r["cost_q10"] >= 0 for r in out)
        assert all(r["n_bigrams"] >= 1 for r in out)

    def test_empty_reference_raises(self, spark):
        # V = 0 would make every cost -1024 and the ranking constant —
        # must fail fast instead
        docs = _docs(spark, [(1, "a b c"), (2, "single")])
        with pytest.raises(ValueError, match="no bigrams"):
            bigram_lm_score(docs, docs.filter("doc_id = 2"))

    def test_partitioning_invariant(self, spark):
        rows = [
            (i, " ".join(f"w{(i * j) % 13}" for j in range(12)))
            for i in range(40)
        ]
        docs = _docs(spark, rows)
        ref = docs.filter("doc_id % 3 = 0")
        a = bigram_lm_score(docs, ref).collect()
        b = bigram_lm_score(docs.repartition(7), ref.repartition(3)).collect()
        assert a == b

    def test_twin_parity(self, spark):
        rows = [
            (i, " ".join(f"t{(i + j * j) % 17}" for j in range(3 + i % 9)))
            for i in range(60)
        ] + [(100, "t1  t2   t3"), (101, "lone")]
        docs = _docs(spark, rows)
        got = [
            tuple(r)
            for r in bigram_lm_score(
                docs, docs.filter("doc_id % 4 = 1")
            ).collect()
        ]
        duck = duckdb.connect()
        duck.register("d", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = [
            tuple(r)
            for r in duck.sql(
                bigram_lm_score_oracle_sql(
                    "SELECT doc_id, text FROM d",
                    "SELECT text FROM d WHERE doc_id % 4 = 1",
                )
            ).fetchall()
        ]
        assert got == want


class TestCountMin:
    def _items(self, spark, vals):
        return spark.createDataFrame(
            pd.DataFrame({"w": vals}), "w string"
        )

    def test_exact_when_collision_free(self, spark):
        # grid much wider than the domain: est == true count exactly
        vals = [f"k{i % 5}" for i in range(50)]
        df = self._items(spark, vals)
        est = {
            r["value"]: r["est"]
            for r in cms_query(
                cms_build(df, "w", width=4096, depth=4),
                df, "w", width=4096, depth=4,
            ).collect()
        }
        assert est == {f"k{i}": 10 for i in range(5)}

    def test_overcount_only_under_collisions(self, spark):
        vals = [f"v{i % 37}" for i in range(200)]
        df = self._items(spark, vals)
        est = {
            r["value"]: r["est"]
            for r in cms_query(
                cms_build(df, "w", width=8, depth=3),
                df, "w", width=8, depth=3,
            ).collect()
        }
        true = pd.Series(vals).value_counts()
        assert all(est[k] >= v for k, v in true.items())

    def test_mergeable_by_cell_sum(self, spark):
        # CMS(A ∪ B) == per-cell sum of CMS(A) and CMS(B)
        a = self._items(spark, [f"a{i % 9}" for i in range(40)])
        b = self._items(spark, [f"a{i % 7}" for i in range(30)])
        kw = dict(width=16, depth=3)
        merged = (
            cms_build(a, "w", **kw).unionAll(cms_build(b, "w", **kw))
            .groupBy("row_i", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        whole = cms_build(a.unionAll(b), "w", **kw)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_nulls_ignored_and_validation(self, spark):
        df = self._items(spark, ["x", None, "x"])
        grid = cms_build(df, "w", width=32, depth=2).collect()
        assert sum(r["cnt"] for r in grid) == 2 * 2  # 2 rows × depth 2
        with pytest.raises(ValueError):
            cms_build(df, "w", width=0)
        with pytest.raises(ValueError):
            cms_build(df, "w", depth=17)

    def test_twin_parity(self, spark):
        vals = [f"w{(i * 7) % 23}" for i in range(150)] + [None]
        df = self._items(spark, vals)
        got = sorted(
            map(tuple, cms_query(
                cms_build(df, "w", width=32, depth=4),
                df, "w", width=32, depth=4,
            ).collect())
        )
        duck = duckdb.connect()
        duck.register("t", pd.DataFrame({"w": vals}))
        grid = cms_oracle_sql("SELECT * FROM t", "w", 32, 4)
        want = sorted(
            map(tuple, duck.sql(
                cms_query_oracle_sql(grid, "SELECT * FROM t", "w", 32, 4)
            ).fetchall())
        )
        assert got == want
