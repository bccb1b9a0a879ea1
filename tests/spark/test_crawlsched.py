"""Crawl scheduling operators (weburl.recrawl_schedule, robots policy and
crawl_delta).

Pins the AIMD fold exactly (halve-on-change / double-on-no-change with
both clamps), empty-history behavior, and DuckDB twin parity.
"""
import duckdb
import pandas as pd
import pytest

from deduce_spark.spark.weburl import (
    crawl_delta,
    crawl_delta_oracle_sql,
    recrawl_schedule,
    recrawl_schedule_oracle_sql,
)

HIST = [
    ("u/empty", []),
    ("u/backoff", [0, 0, 0]),        # 8000 -> 16000 -> clamp 16000
    ("u/hot", [1, 1, 1]),            # 2000 -> 1000 -> clamp 1000
    ("u/alternate", [1, 0, 1, 0]),   # 2000 -> 4000 -> 2000 -> 4000
    ("u/late_change", [0, 0, 1]),    # 8000 -> 16000 -> 8000
]
EXPECT = {
    "u/empty": (0, 0, 4000),
    "u/backoff": (3, 0, 16000),
    "u/hot": (3, 3, 1000),
    "u/alternate": (4, 2, 4000),
    "u/late_change": (3, 1, 8000),
}


@pytest.fixture(scope="module")
def hist_df(spark):
    return spark.createDataFrame(
        HIST, "url string, changed_flags array<int>"
    )


def test_aimd_fold_exact(spark, hist_df):
    out = {
        r["url"]: (r["n_fetches"], r["n_changes"], r["next_interval"])
        for r in recrawl_schedule(hist_df).collect()
    }
    assert out == EXPECT


def test_oracle_parity_inline(spark, hist_df):
    got = (
        recrawl_schedule(hist_df).orderBy("url").toPandas()
    )
    con = duckdb.connect()
    con.register("hist", pd.DataFrame(HIST, columns=["url", "changed_flags"]))
    want = con.execute(
        recrawl_schedule_oracle_sql("SELECT * FROM hist") + " ORDER BY url"
    ).df()
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert list(got[c]) == list(want[c]), c


ROBOTS = [
    ("a.nl",
     "User-agent: *\nDisallow: /p/\nAllow: /p/1\n"
     "# comment\nUser-agent: badbot\nDisallow: /"),
    ("b.nl",
     "User-agent: *\nAllow: /q/\nDisallow: /q/\nDisallow:\n"),
    ("c.nl", "User-agent: badbot\nDisallow: /"),
]
URLS = [
    "https://a.nl/p/2",       # Disallow /p/ wins -> blocked
    "https://a.nl/p/15",      # Allow /p/1 longer than /p/ -> allowed
    "https://a.nl/other",     # no matching rule -> allowed
    "https://b.nl/q/x",       # tie /q/ Allow vs Disallow -> allow wins
    "https://c.nl/p/1",       # no '*' group on c.nl -> allowed
    "https://d.nl/zz",        # host with no robots -> allowed
]
EXPECT_ALLOWED = {
    "https://a.nl/p/2": (0, "/p/"),
    "https://a.nl/p/15": (1, "/p/1"),
    "https://a.nl/other": (1, ""),
    "https://b.nl/q/x": (1, "/q/"),
    "https://c.nl/p/1": (1, ""),
    "https://d.nl/zz": (1, ""),
}


@pytest.fixture(scope="module")
def robots_rules(spark):
    from deduce_spark.spark.weburl import parse_robots

    robots = spark.createDataFrame(ROBOTS, "host string, robots_txt string")
    return parse_robots(robots)


def test_parse_robots_groups_and_drops(spark, robots_rules):
    rows = {(r["host"], r["agent"], r["allow"], r["prefix"])
            for r in robots_rules.collect()}
    assert ("a.nl", "*", 0, "/p/") in rows
    assert ("a.nl", "*", 1, "/p/1") in rows
    # rule after the second User-agent line belongs to badbot, not '*'
    assert ("a.nl", "badbot", 0, "/") in rows
    assert ("a.nl", "*", 0, "/") not in rows
    # empty Disallow pattern dropped (matches nothing per RFC 9309)
    assert not any(h == "b.nl" and p == "" for h, _, _, p in rows)


def test_parse_robots_duplicate_host_rows_parse_independently(spark):
    # the same host refetched in two waves and unioned: each body's
    # rules must bind to ITS OWN user-agent lines, never interleave
    from deduce_spark.spark.weburl import parse_robots

    dup = spark.createDataFrame(
        [("a.nl", "User-agent: *\nDisallow: /x"),
         ("a.nl", "User-agent: badbot\nDisallow: /y")],
        "host string, robots_txt string",
    )
    rows = {(r["agent"], r["allow"], r["prefix"])
            for r in parse_robots(dup).collect()}
    assert rows == {("*", 0, "/x"), ("badbot", 0, "/y")}


def test_robots_allowed_precedence(spark, robots_rules):
    from deduce_spark.spark.weburl import robots_allowed

    urls = spark.createDataFrame([(u,) for u in URLS], "url string")
    out = {
        r["url"]: (r["allowed"], r["rule_prefix"])
        for r in robots_allowed(urls, robots_rules).collect()
    }
    assert out == EXPECT_ALLOWED


def test_robots_group_selection_rfc9309(spark, robots_rules):
    # RFC 9309 2.2.1: a host's named group REPLACES its '*' group for
    # that agent (never combines); hosts without the named group fall
    # back to '*'
    from deduce_spark.spark.weburl import (
        robots_allowed,
        robots_allowed_oracle_sql,
    )

    urls = spark.createDataFrame(
        [("https://a.nl/p/2",), ("https://a.nl/other",),
         ("https://b.nl/q/x",), ("https://c.nl/p/1",)], "url string"
    )
    out = {
        r["url"]: r["allowed"]
        for r in robots_allowed(
            urls, robots_rules, agent="badbot"
        ).collect()
    }
    assert out == {
        # a.nl HAS a badbot group (Disallow /) -> '*'s Allow /p/1 must
        # NOT rescue anything; everything blocked
        "https://a.nl/p/2": 0,
        "https://a.nl/other": 0,
        # b.nl has no badbot group -> falls back to '*' (tie -> allow)
        "https://b.nl/q/x": 1,
        # c.nl's only group IS badbot -> Disallow /
        "https://c.nl/p/1": 0,
    }
    # oracle twin implements the same selection
    got = robots_allowed(
        urls, robots_rules, agent="badbot"
    ).orderBy("url").toPandas()
    con = duckdb.connect()
    con.register("u2_src", pd.DataFrame({"url": [u[0] for u in urls.collect()]}))
    con.register(
        "r2_src", pd.DataFrame(ROBOTS, columns=["host", "robots_txt"])
    )
    want = con.execute(
        robots_allowed_oracle_sql(
            "SELECT url FROM u2_src", "SELECT * FROM r2_src",
            agent="badbot",
        )
        + " ORDER BY url"
    ).df()
    for c in got.columns:
        assert list(got[c]) == list(want[c]), c


def test_robots_oracle_parity_inline(spark, robots_rules):
    from deduce_spark.spark.weburl import (
        robots_allowed,
        robots_allowed_oracle_sql,
    )

    urls = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = (
        robots_allowed(urls, robots_rules).orderBy("url").toPandas()
    )
    con = duckdb.connect()
    con.register("urls_src", pd.DataFrame({"url": URLS}))
    con.register(
        "robots_src", pd.DataFrame(ROBOTS, columns=["host", "robots_txt"])
    )
    want = con.execute(
        robots_allowed_oracle_sql(
            "SELECT url FROM urls_src", "SELECT * FROM robots_src"
        )
        + " ORDER BY url"
    ).df()
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert list(got[c]) == list(want[c]), c


OLD = [("u1", "d1"), ("u2", "d2"), ("u3", "d3")]
NEW = [("u2", "dX"), ("u3", "d3"), ("u4", "d4")]


def test_crawl_delta_statuses(spark):
    old = spark.createDataFrame(OLD, "url string, digest string")
    new = spark.createDataFrame(NEW, "url string, digest string")
    out = {r["url"]: r["status"] for r in crawl_delta(old, new).collect()}
    assert out == {
        "u1": "deleted", "u2": "changed", "u3": "unchanged", "u4": "added",
    }


def test_crawl_delta_oracle_parity(spark):
    old = spark.createDataFrame(OLD, "url string, digest string")
    new = spark.createDataFrame(NEW, "url string, digest string")
    got = crawl_delta(old, new).orderBy("url").toPandas()
    con = duckdb.connect()
    con.register("old_src", pd.DataFrame(OLD, columns=["url", "digest"]))
    con.register("new_src", pd.DataFrame(NEW, columns=["url", "digest"]))
    want = con.execute(
        crawl_delta_oracle_sql(
            "SELECT * FROM old_src", "SELECT * FROM new_src"
        )
        + " ORDER BY url"
    ).df()
    for c in got.columns:
        assert list(got[c]) == list(want[c]), c


def test_no_shuffle_no_python(spark, hist_df):
    plan = (
        recrawl_schedule(hist_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
