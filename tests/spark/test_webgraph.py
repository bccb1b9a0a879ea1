"""k-core peeling: semantics, DuckDB twin parity, broadcast and
checkpoint controls."""

import duckdb
import pytest

from deduce_spark.spark.webgraph import kcore_oracle_sql, kcore_peel


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


class TestKCore:
    def _run(self, spark, pairs, **kw):
        return {
            r["node"]: r["deg"]
            for r in kcore_peel(_edges(spark, pairs), **kw).collect()
        }

    def test_triangle_survives_tail_peeled(self, spark):
        # triangle x-y-z is the 2-core; tail z->w peels in round 1
        pairs = [("x", "y"), ("y", "z"), ("z", "x"), ("z", "w")]
        got = self._run(spark, pairs, k=2, rounds=2)
        assert got == {"x": 2, "y": 2, "z": 2}

    def test_chain_needs_full_round_budget(self, spark):
        # path a-b-c-d-e: 2-core is EMPTY but only after cascading peels
        # (endpoints round 1, then b/d, then c is isolated) — one round
        # is not enough, three are
        pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        assert self._run(spark, pairs, k=2, rounds=1) != {}
        assert self._run(spark, pairs, k=2, rounds=3) == {}

    def test_fixpoint_stable_under_extra_rounds(self, spark):
        pairs = [("x", "y"), ("y", "z"), ("z", "x"), ("z", "w")]
        assert self._run(spark, pairs, k=2, rounds=2) == self._run(
            spark, pairs, k=2, rounds=5
        )

    def test_direction_selfloop_dup_invariance(self, spark):
        # reversed duplicates, self-loops and repeated edges must not
        # change the symmetrized simple graph
        pairs = [("x", "y"), ("y", "x"), ("x", "x"), ("y", "z"),
                 ("z", "x"), ("y", "z")]
        got = self._run(spark, pairs, k=2, rounds=2)
        assert got == {"x": 2, "y": 2, "z": 2}

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            kcore_peel(_edges(spark, [("a", "b")]), k=0)
        with pytest.raises(ValueError):
            kcore_oracle_sql("SELECT 1", rounds=0)

    def test_twin_parity(self, spark):
        # random-ish digraph over 20 hosts plus a 5-clique (a genuine
        # 3-core that must survive) and noise edges
        pairs = [
            (f"h{(i * 7) % 20}", f"h{(i * i + 3) % 20}") for i in range(60)
        ] + [("h0", "h0"), ("t1", "h0")] + [
            (f"c{i}", f"c{j}") for i in range(5) for j in range(5) if i < j
        ]
        got = [
            tuple(r)
            for r in kcore_peel(
                _edges(spark, pairs), k=3, rounds=3
            ).collect()
        ]
        duck = duckdb.connect()
        import pandas as pd

        duck.register("e", pd.DataFrame(pairs, columns=["src", "dst"]))
        want = [
            tuple(r)
            for r in duck.sql(
                kcore_oracle_sql("SELECT src, dst FROM e", k=3, rounds=3)
            ).fetchall()
        ]
        assert got == want and len(got) > 0


class TestBroadcastFallbackAndCheckpoint:
    """Round-6 scale controls: broadcast_tables=False must flip the
    <=|V|-row side-table joins to shuffled joins (a forced broadcast of
    a 10^8+-row table OOMs at web scale and AQE cannot override an
    explicit hint) without changing a single output row, and the
    lineage-cut strategy must be injectable (checkpointing module)."""

    PAIRS = [
        (f"h{(i * 7) % 20}", f"h{(i * i + 3) % 20}") for i in range(60)
    ] + [(f"c{i}", f"c{j}") for i in range(5) for j in range(5) if i < j]

    def _both_modes(self, spark, fn, **kw):
        on = sorted(map(tuple, fn(
            _edges(spark, self.PAIRS), broadcast_tables=True, **kw
        ).collect()))
        off = sorted(map(tuple, fn(
            _edges(spark, self.PAIRS), broadcast_tables=False, **kw
        ).collect()))
        assert len(on) > 0
        assert on == off

    def test_kcore_parity_both_modes(self, spark):
        self._both_modes(spark, kcore_peel, k=3, rounds=3)

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_flag_off_plans_have_no_forced_broadcast(self, spark):
        # identity checkpoint keeps the whole iteration inside one plan
        # (eager cuts would hide per-round joins behind RDD scans), and
        # autoBroadcastJoinThreshold=-1 rules out Catalyst choosing a
        # broadcast on its own — any BroadcastExchange left is a hint.
        ident = lambda df: df
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            e = _edges(spark, self.PAIRS)
            p_off = self._plan(kcore_peel(
                e, k=2, rounds=1, broadcast_tables=False, checkpoint=ident
            ))
            p_on = self._plan(kcore_peel(
                e, k=2, rounds=1, broadcast_tables=True, checkpoint=ident
            ))
            assert "BroadcastExchange" not in p_off
            assert "BroadcastExchange" in p_on
            assert (
                "SortMergeJoin" in p_off or "ShuffledHashJoin" in p_off
            )
        finally:
            spark.conf.set(key, old)

    def test_directory_checkpoint_run(self, spark, tmp_path):
        # reliable-checkpoint strategy: same rows, and the directory
        # actually receives checkpoint data.
        ckdir = str(tmp_path / "ck")
        got = sorted(map(tuple, kcore_peel(
            _edges(spark, self.PAIRS), k=3, rounds=3, checkpoint=ckdir
        ).collect()))
        want = sorted(map(tuple, kcore_peel(
            _edges(spark, self.PAIRS), k=3, rounds=3
        ).collect()))
        assert got == want and len(got) > 0
        import os

        found = [
            f for root, _d, fs in os.walk(ckdir) for f in fs
        ]
        assert found, "reliable checkpoint dir is empty"

    def test_callable_and_bad_checkpoint_args(self, spark):
        from deduce_spark.spark.checkpointing import make_checkpointer

        calls = []

        def spy(df):
            calls.append(1)
            return df.localCheckpoint(eager=True)

        got = kcore_peel(
            _edges(spark, [("a", "b"), ("b", "c")]),
            k=1, rounds=2, checkpoint=spy,
        ).collect()
        assert len(got) == 3 and len(calls) == 2  # one cut per round
        with pytest.raises(TypeError):
            make_checkpointer(42)
