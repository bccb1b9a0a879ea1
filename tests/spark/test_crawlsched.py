"""Robots policy operators (weburl.parse_robots, robots_allowed).

Pins RFC 9309 group selection, longest-match Allow/Disallow precedence,
duplicate host rows, and DuckDB twin parity.
"""
import duckdb
import pandas as pd
import pytest


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
