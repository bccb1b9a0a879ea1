"""Round-3 operators: HLL register sketches, exact-substring dup
accounting, URL canonicalization."""

from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from deduce_spark.spark.sketches import hll_estimate, hll_oracle_sql, hll_registers
from deduce_spark.spark.textstats import exact_substr_dup
from deduce_spark.spark.weburl import (
    canonical_url_oracle_sql, canonicalize_url, url_host, url_host_oracle_sql,
)

_GOLDEN = Path(__file__).resolve().parents[2] / "data" / "golden"


class TestHLL:
    def test_registers_match_duckdb(self, spark):
        df = spark.range(0, 5000).select(
            F.concat(F.lit("v"), (F.col("id") % 1000).cast("string")).alias("v")
        )
        got = sorted(
            (r["bucket"], r["max_rho"])
            for r in hll_registers(df, "v", p=7).collect()
        )
        duck = duckdb.connect()
        src = "SELECT 'v' || CAST(range % 1000 AS VARCHAR) AS v FROM range(5000)"
        want = sorted(
            map(tuple, duck.sql(hll_oracle_sql(src, "v", p=7)).fetchall())
        )
        assert got == want

    def test_estimate_within_hll_error(self, spark):
        # p=9 -> sigma ~ 1.04/sqrt(512) ~ 4.6%; assert within 3 sigma
        n = 20000
        df = spark.range(0, 3 * n).select(
            (F.col("id") % n).cast("string").alias("v")
        )
        regs = [
            (r["bucket"], r["max_rho"])
            for r in hll_registers(df, "v", p=9).collect()
        ]
        est = hll_estimate(regs, p=9)
        assert abs(est - n) / n < 0.14

    def test_registers_mergeable(self, spark):
        # union-then-sketch == sketch-then-max (the mergeability property
        # that lets 10^12-row corpora sketch per-partition)
        a = spark.range(0, 400).select(F.col("id").cast("string").alias("v"))
        b = spark.range(200, 700).select(F.col("id").cast("string").alias("v"))
        whole = sorted(
            map(tuple, hll_registers(a.union(b), "v", p=6).collect())
        )
        merged = sorted(
            map(
                tuple,
                hll_registers(a, "v", p=6)
                .unionByName(hll_registers(b, "v", p=6))
                .groupBy("bucket")
                .agg(F.max("max_rho").alias("max_rho"))
                .collect(),
            )
        )
        assert whole == merged

    def test_p_bounds(self, spark):
        df = spark.range(1).select(F.col("id").cast("string").alias("v"))
        with pytest.raises(ValueError):
            hll_registers(df, "v", p=3)


class TestBloom:
    M, N = 32, 4  # 2016 bits

    def _vals(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("item"), F.col("id").cast("string")).alias("v")
        )

    def test_no_false_negatives(self, spark):
        from deduce_spark.spark.sketches import bloom_build, bloom_probe

        inserted = self._vals(spark, 0, 300)
        bloom = bloom_build(inserted, "v", self.M, self.N)
        probed = bloom_probe(bloom, inserted, "v", self.M, self.N)
        assert probed.filter(~F.col("member")).count() == 0
        assert probed.count() == 300

    def test_definitive_negative_and_fp_bound(self, spark):
        from deduce_spark.spark.sketches import bloom_build, bloom_probe

        bloom = bloom_build(self._vals(spark, 0, 100), "v", self.M, self.N)
        out = bloom_probe(
            bloom, self._vals(spark, 1000, 2000), "v", self.M, self.N
        )
        fp = out.filter(F.col("member")).count()
        # fill ratio ~ 0.18 -> fp ~ 0.1%; generous deterministic bound
        assert fp < 50

    def test_mergeable(self, spark):
        # bloom(A UNION B) must equal per-word bit_or of bloom(A), bloom(B)
        from deduce_spark.spark.sketches import bloom_build

        a, b = self._vals(spark, 0, 150), self._vals(spark, 100, 250)
        merged = (
            bloom_build(a, "v", self.M, self.N)
            .union(bloom_build(b, "v", self.M, self.N))
            .groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"))
        )
        direct = bloom_build(a.union(b), "v", self.M, self.N)
        got = sorted(map(tuple, merged.collect()))
        want = sorted(map(tuple, direct.collect()))
        assert got == want

    def test_twin_parity(self, spark):
        from deduce_spark.spark.sketches import bloom_build, bloom_oracle_sql

        got = sorted(
            map(
                tuple,
                bloom_build(
                    self._vals(spark, 0, 500), "v", self.M, self.N
                ).collect(),
            )
        )
        duck = duckdb.connect()
        src = "SELECT 'item' || CAST(range AS VARCHAR) AS v FROM range(500)"
        want = sorted(
            map(
                tuple,
                duck.sql(bloom_oracle_sql(src, "v", self.M, self.N)).fetchall(),
            )
        )
        assert got == want
        assert all(bits > 0 for _, bits in got)  # 63-bit words stay positive

    def test_shape_validation(self, spark):
        from deduce_spark.spark.sketches import bloom_build

        with pytest.raises(ValueError):
            bloom_build(self._vals(spark, 0, 1), "v", 0, 4)
        with pytest.raises(ValueError):
            bloom_build(self._vals(spark, 0, 1), "v", 8, 0)


class TestExactSubstrDup:
    def test_detects_verbatim_span(self, spark):
        shared = "x" * 30 + "SHARED-SPAN-" + "y" * 40  # > k+stride-1 chars
        docs = spark.createDataFrame(
            [
                (0, "A" * 20 + shared + "B" * 20),
                (1, "C" * 35 + shared + "D" * 5),
                (2, "unique " * 30),
                (3, "tiny"),  # < k chars -> 0 grams
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_permille"])
            for r in exact_substr_dup(docs, k=50, stride=10).collect()
        }
        assert out[0][1] > 0 and out[1][1] > 0  # both copies flagged
        assert out[2] == (out[2][0], 0, 0)
        assert out[3] == (0, 0, 0)

    def test_alignment_independence(self, spark):
        # content-defined sampling: a span whose content contains selected
        # windows (verified offline: offsets 0, 5, 10 for this string at
        # k=20, stride=5) is detected at EVERY document offset — the
        # guarantee fixed-stride sampling cannot give
        k, s = 20, 5
        span = "FCGABBFADABGGBDBGABDAGADACEGCB"
        rows = [(i, "a" * i + span + "b" * (60 - i)) for i in range(10)]
        rows.append((99, "c" * 40 + span + "d" * 40))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["n_dup_grams"]
            for r in exact_substr_dup(docs, k=k, stride=s).collect()
        }
        assert all(v > 0 for v in out.values())


class TestWebUrl:
    CASES = [
        "HTTP://WWW.Example.com:80/Path/Page?b=2&utm_source=x&a=1#frag",
        "https://example.com:443/",
        "https://sub.example.co.uk/x?fbclid=abc",
        "http://example.com",
        "https://example.com/a?z=9&y=8&gclid=1&ref=h",
        "ftp://Files.example.com:21/pub",
        "https://example.com/search?q=a+b&utm_campaign=c",
        "http://www.x.org:8080/y?p=1#z",
        "https://example.com/?utm_medium=m",
    ]

    def test_canonicalize_values(self, spark):
        df = spark.createDataFrame([(u,) for u in self.CASES], "url string")
        got = dict(
            zip(
                self.CASES,
                [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()],
            )
        )
        assert got[self.CASES[0]] == "http://example.com/Path/Page?a=1&b=2"
        assert got[self.CASES[1]] == "https://example.com/"
        assert got[self.CASES[3]] == "http://example.com/"
        assert got[self.CASES[5]] == "ftp://files.example.com:21/pub"
        assert got[self.CASES[7]] == "http://x.org:8080/y?p=1"
        assert got[self.CASES[8]] == "https://example.com/"

    def test_matches_duckdb_twin(self, spark):
        df = spark.createDataFrame([(u,) for u in self.CASES], "url string")
        got = [
            (r[0], r[1])
            for r in df.select(
                canonicalize_url(F.col("url")), url_host(F.col("url"))
            ).collect()
        ]
        duck = duckdb.connect()
        duck.execute("CREATE TABLE t(url VARCHAR)")
        duck.executemany(
            "INSERT INTO t VALUES (?)", [(u,) for u in self.CASES]
        )
        want = duck.sql(
            f"SELECT {canonical_url_oracle_sql('url')}, "
            f"{url_host_oracle_sql('url')} FROM t"
        ).fetchall()
        assert got == [tuple(w) for w in want]


class TestInvariants:
    def test_canonicalize_idempotent(self, spark):
        # canonical form is a fixed point: re-canonicalizing changes nothing
        # (sorted params stay sorted, stripped parts stay stripped)
        urls = [
            f"HTTP://WWW.site{i}.Example.com:80/p/{i}?utm_source=s&z={i}&a=1#f"
            for i in range(25)
        ] + [
            "https://example.com", "https://example.com/?b=2&a=1",
            "ftp://x.y:21/p", "https://example.com:8443/q?gclid=g",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = df.select(canonicalize_url(F.col("url")).alias("c1"))
        twice = once.select(
            "c1", canonicalize_url(F.col("c1")).alias("c2")
        ).collect()
        assert all(r["c1"] == r["c2"] for r in twice)

    def test_substr_dup_bounds(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(100)
        rows = exact_substr_dup(docs, k=50, stride=10).collect()
        assert all(0 <= r["n_dup_grams"] <= r["n_grams"] for r in rows)
        assert all(0 <= r["dup_permille"] <= 1000 for r in rows)

    def test_hll_register_bounds(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(200)
        words = docs.select(
            F.explode(F.split("text", " ")).alias("w")
        ).filter(F.col("w") != "")
        regs = hll_registers(words, "w", p=9).collect()
        assert 0 < len(regs) <= 512
        assert all(0 <= r["bucket"] < 512 for r in regs)
        assert all(1 <= r["max_rho"] <= 24 for r in regs)  # 23 rem bits + 1


class TestExtractLinks:
    def test_extracts_and_canonicalizes(self, spark):
        from deduce_spark.spark.weburl import extract_links

        pages = spark.createDataFrame(
            [
                (
                    "https://a.nl/1",
                    '<a href="HTTP://WWW.B.nl:80/x?utm_source=s&k=1#f">t</a>'
                    '<a href="https://c.nl/y">u</a>',
                ),
                ("https://a.nl/2", "<p>no links</p>"),
            ],
            "url string, html string",
        )
        got = sorted(map(tuple, extract_links(pages, "html", "url").collect()))
        assert got == [
            ("https://a.nl/1", "http://b.nl/x?k=1"),
            ("https://a.nl/1", "https://c.nl/y"),
        ]

    def test_quoting_forms_and_twin_parity(self, spark):
        # round-4 judge finding: only href="…" was parsed.  All three HTML
        # quoting forms (double, single, unquoted) plus spaced/uppercased
        # HREF = must yield edges, and the DuckDB twin must extract the
        # identical multiset from the identical html
        from deduce_spark.spark.weburl import extract_links, href_extract_sql

        html = (
            '<a href="https://d.nl/dq">a</a>'
            "<a href='https://d.nl/sq'>b</a>"
            "<a href=https://d.nl/uq>c</a>"
            '<a HREF = "https://d.nl/spaced">d</a>'
            "<a href=/rel?q=1&z=2>e</a>"  # '=' legal inside unquoted value
        )
        pages = spark.createDataFrame(
            [("https://a.nl/1", html)], "url string, html string"
        )
        got = sorted(
            r["dst_url"]
            for r in extract_links(
                pages, "html", "url", canonical=False, resolve=False
            ).collect()
        )
        want = [
            "/rel?q=1&z=2",
            "https://d.nl/dq",
            "https://d.nl/spaced",
            "https://d.nl/sq",
            "https://d.nl/uq",
        ]
        assert got == want
        duck = duckdb.connect()
        duck.execute("CREATE TABLE p(html VARCHAR)")
        duck.execute("INSERT INTO p VALUES (?)", [html])
        twin = sorted(
            r[0]
            for r in duck.sql(
                f"SELECT unnest({href_extract_sql('html')}) FROM p"
            ).fetchall()
        )
        assert twin == want

    def test_binary_html_column(self, spark):
        from pyspark.sql import functions as F

        from deduce_spark.spark.weburl import extract_links

        pages = spark.createDataFrame(
            [("https://a.nl/1", '<a href="https://d.nl/z">t</a>')],
            "url string, html string",
        ).select("url", F.col("html").cast("binary").alias("html"))
        got = extract_links(pages, "html", "url").collect()
        assert [(r["src_url"], r["dst_url"]) for r in got] == [
            ("https://a.nl/1", "https://d.nl/z")
        ]


class TestExtractAnchors:
    def test_href_anchor_pairing(self, spark):
        # each href must stay paired with ITS OWN anchor text across all
        # three quoting forms — extracting hrefs and texts separately
        # would shear the pairing
        from deduce_spark.spark.weburl import extract_anchors

        html = (
            '<a href="https://d.nl/dq">alpha</a><p>noise</p>'
            "<a href='/sq'>beta</a>"
            "<a href=uq/page>gamma</a>"
            '<a HREF = "https://d.nl/spaced">delta</a>'
            "<a rel=nofollow>no-href dropped</a>"
            "<a href=https://d.nl/markup><b>skipped: nested markup</b></a>"
        )
        pages = spark.createDataFrame(
            [("https://a.nl/x/1", html)], "url string, html string"
        )
        got = sorted(
            (r["dst_url"], r["anchor"])
            for r in extract_anchors(pages, "html", "url").collect()
        )
        assert got == [
            ("https://a.nl/sq", "beta"),
            ("https://a.nl/x/uq/page", "gamma"),
            ("https://d.nl/dq", "alpha"),
            ("https://d.nl/spaced", "delta"),
        ]

    def test_twin_parity(self, spark):
        from deduce_spark.spark.weburl import anchor_extract_sql, extract_anchors

        html = (
            '<a href="https://d.nl/dq">alpha</a>'
            "<a href='/sq'>beta</a>"
            "<a href=uq>gamma</a>"
        )
        pages = spark.createDataFrame(
            [("https://a.nl/1", html)], "url string, html string"
        )
        got = sorted(
            map(
                tuple,
                extract_anchors(
                    pages, "html", "url", canonical=False, resolve=False
                ).collect(),
            )
        )
        duck = duckdb.connect()
        duck.execute("CREATE TABLE pages(url VARCHAR, html VARCHAR)")
        duck.execute("INSERT INTO pages VALUES (?, ?)", ["https://a.nl/1", html])
        twin = sorted(
            map(tuple, duck.sql(anchor_extract_sql("html", "url")).fetchall())
        )
        assert got == twin
        assert [t[1:] for t in got] == [
            ("/sq", "beta"), ("https://d.nl/dq", "alpha"), ("uq", "gamma"),
        ]


class TestCanonicalizeEdgeCases:
    """Round-3 review fixes: scheme-less passthrough and fragment-'?'."""

    def test_relative_hrefs_pass_through_when_unresolved(self, spark):
        # resolve=False keeps the round-3 passthrough contract: scheme-less
        # hrefs must NOT be mangled into ':///'-prefixed garbage
        from deduce_spark.spark.weburl import extract_links

        pages = spark.createDataFrame(
            [
                (
                    "https://a.nl/1",
                    '<a href="/about">x</a><a href="#top">y</a>'
                    '<a href="img.png">z</a><a href="https://b.nl/c#f">w</a>',
                )
            ],
            "url string, html string",
        )
        got = sorted(
            r["dst_url"]
            for r in extract_links(
                pages, "html", "url", resolve=False
            ).collect()
        )
        assert got == ["#top", "/about", "https://b.nl/c", "img.png"]

    def test_fragment_question_mark_is_not_a_query(self, spark):
        df = spark.createDataFrame(
            [
                ("https://x.com/p#a?b=1",),
                ("https://x.com/p",),
                ("https://x.com/p?real=1#frag?fake=2",),
            ],
            "url string",
        )
        got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
        assert got[0] == "https://x.com/p"      # fragment '?b=1' dropped
        assert got[0] == got[1]                 # now dedups together
        assert got[2] == "https://x.com/p?real=1"
        # DuckDB twin agrees on the same cases
        duck = duckdb.connect()
        duck.execute("CREATE TABLE t(url VARCHAR)")
        duck.executemany(
            "INSERT INTO t VALUES (?)",
            [("https://x.com/p#a?b=1",), ("/rel",), ("#top",)],
        )
        want = [
            r[0]
            for r in duck.sql(
                f"SELECT {canonical_url_oracle_sql('url')} FROM t"
            ).fetchall()
        ]
        assert want == ["https://x.com/p", "/rel", "#top"]


class TestResolveHref:
    """Round-4: RFC-3986-lite relative-href resolution (VERDICT r3 #2)."""

    BASE = "https://a.nl/dir/page.html?bq=1#bfrag"
    CASES = [
        # (href, expected resolved)
        ("https://b.nl/x", "https://b.nl/x"),            # absolute
        ("mailto:x@y.nl", "mailto:x@y.nl"),              # non-http scheme
        ("//cdn.nl/img.png", "https://cdn.nl/img.png"),  # scheme-relative
        ("/about", "https://a.nl/about"),                # absolute path
        ("/a/./b/../c", "https://a.nl/a/c"),             # abs path + dots
        ("#top", "https://a.nl/dir/page.html?bq=1#top"), # fragment-only
        ("?q=2", "https://a.nl/dir/page.html?q=2"),      # query-only
        ("img.png", "https://a.nl/dir/img.png"),         # relative
        ("../up.html", "https://a.nl/up.html"),          # parent
        ("../../o", "https://a.nl/o"),                   # over-parent -> root-ish
        ("./same.html", "https://a.nl/dir/same.html"),   # dot-same
        ("a/b/../../../c", "https://a.nl/c"),            # deep dots
    ]

    def test_branches_spark(self, spark):
        from deduce_spark.spark.weburl import resolve_href

        df = spark.createDataFrame(
            [(self.BASE, h) for h, _ in self.CASES], "base string, href string"
        )
        got = [
            r[0]
            for r in df.select(
                resolve_href(F.col("base"), F.col("href"))
            ).collect()
        ]
        assert got == [want for _, want in self.CASES]

    def test_base_without_scheme_passthrough(self, spark):
        from deduce_spark.spark.weburl import resolve_href

        df = spark.createDataFrame(
            [("not-a-url", "/about")], "base string, href string"
        )
        assert df.select(resolve_href(F.col("base"), F.col("href"))).first()[
            0
        ] == "/about"

    def test_duckdb_twin_parity(self, spark):
        from deduce_spark.spark.weburl import resolve_href, resolve_href_oracle_sql

        bases = [
            self.BASE,
            "https://a.nl",            # origin only, empty path
            "http://h.nl/one",         # file at root
            "plain-text",              # no scheme
        ]
        rows = [(b, h) for b in bases for h, _ in self.CASES]
        df = spark.createDataFrame(rows, "base string, href string")
        got = [
            r[0]
            for r in df.select(
                resolve_href(F.col("base"), F.col("href"))
            ).collect()
        ]
        duck = duckdb.connect()
        duck.execute("CREATE TABLE t(base VARCHAR, href VARCHAR)")
        duck.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = [
            r[0]
            for r in duck.sql(
                f"SELECT {resolve_href_oracle_sql('base', 'href')} FROM t"
            ).fetchall()
        ]
        assert got == want

    def test_resolved_then_canonical_is_idempotent(self, spark):
        # canonicalize(resolve(base, href)) must be a fixpoint of
        # canonicalize — resolution feeds url-keyed dedup, so a second
        # normalization pass may not change the key
        from deduce_spark.spark.weburl import canonicalize_url, resolve_href

        bases = [self.BASE, "https://a.nl", "HTTP://WWW.B.nl:80/x/y?utm_source=s&k=1"]
        hrefs = [h for h, _ in self.CASES] + ["..", ".", "x//y", "?"]
        rows = [(b, h) for b in bases for h in hrefs]
        df = spark.createDataFrame(rows, "base string, href string")
        once = canonicalize_url(resolve_href(F.col("base"), F.col("href")))
        out = df.select(
            once.alias("c1"), canonicalize_url(once).alias("c2")
        ).collect()
        bad = [(r["c1"], r["c2"]) for r in out if r["c1"] != r["c2"]]
        assert not bad, bad
        # and every resolved output from an absolute base IS absolute
        absolute = df.filter(F.col("base").rlike("^[a-zA-Z]+://")).select(
            resolve_href(F.col("base"), F.col("href")).alias("r")
        )
        stray = [
            r["r"]
            for r in absolute.collect()
            if not __import__("re").match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", r["r"])
        ]
        assert not stray, stray


class TestExactSubstrDupRolling:
    """Round-4: the O(n) production selection kernel (VERDICT r3 #4)."""

    def test_detects_verbatim_span(self, spark):
        shared = "x" * 30 + "SHARED-SPAN-" + "y" * 40
        docs = spark.createDataFrame(
            [
                (0, "A" * 20 + shared + "B" * 20),
                (1, "C" * 35 + shared + "D" * 5),
                (2, "unique " * 30),
                (3, "tiny"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_permille"])
            for r in exact_substr_dup(
                docs, k=50, stride=10, method="rolling"
            ).collect()
        }
        assert out[0][1] > 0 and out[1][1] > 0
        assert out[2][1] == 0 and out[3] == (0, 0, 0)

    @pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
    def test_matches_golden_fixture(self, spark, sf):
        import pandas as pd

        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        got = (
            exact_substr_dup(docs, k=50, stride=10, method="rolling")
            .orderBy("doc_id")
            .toPandas()
            .astype("int64")
        )
        want = pd.read_parquet(
            _GOLDEN / sf / "substr_dup_rolling.parquet"
        )
        pd.testing.assert_frame_equal(got, want)

    def test_unknown_method_raises(self, spark):
        docs = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
        with pytest.raises(ValueError):
            exact_substr_dup(docs, method="nope")

    def test_kernel_position_independent(self):
        # the selection guarantee itself: same span at any offset selects
        # identical hashes (set-equality of the span's interior windows)
        from deduce_spark.spark.textstats import substr_hashes_doc

        span = "THE-QUICK-BROWN-FOX-JUMPS-OVER-THE-LAZY-DOG-" * 3
        a = set(substr_hashes_doc("p" * 7 + span + "q" * 11, k=50, stride=10))
        b = set(substr_hashes_doc("r" * 23 + span + "s" * 3, k=50, stride=10))
        inner = set(substr_hashes_doc(span, k=50, stride=10))
        assert inner and inner <= a and inner <= b
