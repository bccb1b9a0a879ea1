"""Funnel counts: ordering semantics and DuckDB twin."""

import datetime as dt

import duckdb
import pandas as pd
import pytest

from deduce_spark.spark.relational import funnel_counts, funnel_oracle_sql


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )


def _t(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


class TestFunnel:
    def test_strict_time_order_required(self, spark):
        rows = [
            # u1 completes in order; u2 clicks BEFORE viewing; u3 clicks
            # at the exact same second as the view (strict > required)
            (1, "view", _t(10)), (1, "click", _t(20)),
            (2, "click", _t(10)), (2, "view", _t(20)),
            (3, "view", _t(30)), (3, "click", _t(30)),
        ]
        got = {
            r["step"]: r["users"]
            for r in funnel_counts(
                _ev(spark, rows), ["view", "click"]
            ).collect()
        }
        assert got == {"view": 3, "click": 1}

    def test_earliest_completion_semantics(self, spark):
        # u1's SECOND view is followed by a click, but the funnel
        # anchors at the EARLIEST view — the click still qualifies
        # because it is after that earliest view too
        rows = [
            (1, "view", _t(10)), (1, "view", _t(100)),
            (1, "click", _t(150)),
        ]
        got = {
            r["step"]: r["users"]
            for r in funnel_counts(
                _ev(spark, rows), ["view", "click"]
            ).collect()
        }
        assert got == {"view": 1, "click": 1}

    def test_validation(self, spark):
        df = _ev(spark, [(1, "view", _t(0))])
        with pytest.raises(ValueError):
            funnel_counts(df, [])
        with pytest.raises(ValueError):
            funnel_counts(df, ["a", "a"])

    def test_twin_parity(self, spark):
        rows = [
            (u, t, _t(u * 31 + i * 17))
            for u in range(25)
            for i, t in enumerate(
                ["view", "click", "view", "purchase", "click"][: 2 + u % 4]
            )
        ]
        df = _ev(spark, rows)
        got = [
            tuple(r)
            for r in funnel_counts(
                df, ["view", "click", "purchase"]
            ).collect()
        ]
        duck = duckdb.connect()
        duck.register(
            "events",
            pd.DataFrame(rows, columns=["user_id", "event_type", "ts"]),
        )
        want = [
            tuple(r)
            for r in duck.sql(
                funnel_oracle_sql(["view", "click", "purchase"])
            ).fetchall()
        ]
        assert got == want
