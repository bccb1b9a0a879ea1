"""URL canonicalization for web-crawl pipelines, fully native.

Common-Crawl-style processing needs URLs normalized BEFORE any url-keyed
dedup or grouping, otherwise `http://Example.com/a?utm_source=x#f` and
`https://example.com/a` count as different pages.  All transformations are
built from `pyspark.sql.functions` (regexp / split / filter / array_join),
stay inside whole-stage codegen, and have exact DuckDB twins — no UDF, so
canonicalization adds zero Python cost to a 10^12-row scan.

Canonical form applied by :func:`canonicalize_url`:

- scheme and host lowercased; ``www.`` prefix dropped from the host;
- default ports stripped (``:80`` for http, ``:443`` for https);
- fragment removed;
- tracking query parameters removed (``utm_*``, ``fbclid``, ``gclid``,
  ``msclkid``, ``ref``), remaining parameters sorted for a stable order;
- trailing ``?`` dropped when no parameters survive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TRACKING_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="


def url_host(col: Column) -> Column:
    """Lowercased host (no port, no ``www.`` prefix)."""
    host = F.lower(F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r":\d+$", "")
    return F.regexp_replace(host, r"^www\.", "")


def canonicalize_url(col: Column) -> Column:
    scheme = F.lower(F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    raw_host = F.lower(F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    path = F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    # strip the fragment BEFORE looking for the query: '?' inside a
    # fragment ('/p#a?b=1') is fragment text, not a query separator
    query = F.regexp_extract(F.regexp_replace(col, r"#.*", ""), r"\?(.*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda kv: (kv != "") & ~kv.rlike(_TRACKING_RE),
            )
        ),
        "&",
    )
    norm_host = F.when(scheme == "http", F.regexp_replace(raw_host, r":80$", "")) \
        .when(scheme == "https", F.regexp_replace(raw_host, r":443$", "")) \
        .otherwise(raw_host)
    norm_host = F.regexp_replace(norm_host, r"^www\.", "")
    norm_path = F.when(path == "", F.lit("/")).otherwise(path)
    # scheme-less input (relative hrefs: '/about', '#top', 'img.png') has
    # no canonical absolute form — pass it through verbatim rather than
    # fabricating ':///'-prefixed garbage that merges distinct targets
    return F.when(scheme == "", col).otherwise(
        F.concat(
            scheme, F.lit("://"), norm_host, norm_path,
            F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
        )
    )


def url_host_oracle_sql(url_expr: str) -> str:
    """DuckDB scalar expression equivalent to :func:`url_host`."""
    host = f"lower(coalesce(regexp_extract({url_expr}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), ''))"
    return (
        f"regexp_replace(regexp_replace({host}, ':[0-9]+$', ''), '^www\\.', '')"
    )


def canonical_url_oracle_sql(url_expr: str) -> str:
    """DuckDB scalar expression equivalent to :func:`canonicalize_url`
    applied to ``url_expr`` (RE2-portable regexes, list_* functions)."""
    # DuckDB regexp_extract yields NULL on no-match where Spark yields '':
    # coalesce each extraction so the two engines agree byte-for-byte
    scheme = f"lower(coalesce(regexp_extract({url_expr}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), ''))"
    raw_host = f"lower(coalesce(regexp_extract({url_expr}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), ''))"
    host = (
        f"regexp_replace(CASE WHEN {scheme} = 'http' THEN regexp_replace({raw_host}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({raw_host}, ':443$', '') "
        f"ELSE {raw_host} END, '^www\\.', '')"
    )
    path = f"coalesce(regexp_extract({url_expr}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '')"
    # fragment stripped before the query search (mirrors the Spark side)
    query = (
        f"coalesce(regexp_extract(regexp_replace({url_expr}, '#.*', ''), "
        f"'\\?(.*)', 1), '')"
    )
    # array_to_string([]) is NULL in DuckDB (Spark's array_join gives '')
    kept = (
        f"coalesce(array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        f"kv -> kv <> '' AND NOT regexp_matches(kv, '{_TRACKING_RE}'))), '&'), '')"
    )
    return (
        f"(CASE WHEN {scheme} = '' THEN {url_expr} ELSE "
        f"{scheme} || '://' || {host} || "
        f"CASE WHEN {path} = '' THEN '/' ELSE {path} END || "
        f"CASE WHEN {kept} = '' THEN '' ELSE '?' || {kept} END END)"
    )


def _collapse_dots(p: Column) -> Column:
    """Bounded dot-segment removal (RFC 3986 §5.2.4 "lite"): fixed global
    replace passes, so the sequence is reproducible verbatim in DuckDB.
    Two passes fold ``/./`` runs; four passes fold up to ~8 nested
    ``segment/../`` levels (deeper nesting — unseen in real crawls — is
    left partially collapsed rather than risking an unbounded loop)."""
    p = F.regexp_replace(p, r"/\./", "/")
    p = F.regexp_replace(p, r"/\./", "/")
    p = F.regexp_replace(p, r"/\.$", "/")
    seg = r"([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"  # any segment except '.'/'..'
    for _ in range(4):
        p = F.regexp_replace(p, seg + r"/\.\./", "")
    p = F.regexp_replace(p, seg + r"/\.\.$", "")
    # clamp leftover leading '..' at the root, as browsers do ('/../o'->'/o')
    p = F.regexp_replace(p, r"^(/\.\.)+(/|$)", "/")
    return p


def _collapse_dots_sql(p: str) -> str:
    """DuckDB twin of :func:`_collapse_dots` (same passes, 'g' where the
    Spark side's always-global replace matters)."""
    p = f"regexp_replace({p}, '/\\./', '/', 'g')"
    p = f"regexp_replace({p}, '/\\./', '/', 'g')"
    p = f"regexp_replace({p}, '/\\.$', '/')"
    seg = "([^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"
    for _ in range(4):
        p = f"regexp_replace({p}, '{seg}/\\.\\./', '', 'g')"
    p = f"regexp_replace({p}, '{seg}/\\.\\.$', '')"
    p = f"regexp_replace({p}, '^(/\\.\\.)+(/|$)', '/')"
    return p


_ABS_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*:"


def resolve_href(base: Column, href: Column) -> Column:
    """Resolve ``href`` against ``base`` (RFC 3986 §5 "lite"), fully
    native.  Per-site links — most links on the web — are relative; an
    unresolved ``/about`` fragments the link graph into per-page islands.

    - href with a scheme (``https://…``, ``mailto:…``) → unchanged;
    - scheme-relative ``//host/p`` → base scheme + ``:`` + href;
    - absolute path ``/p`` → base origin + path (dot-collapsed);
    - ``#frag`` → base with its own fragment replaced;
    - ``?q=…`` → base origin + base path + query;
    - relative path ``p``, ``../p`` → base directory + href, dot-collapsed.

    If ``base`` itself has no scheme the href passes through verbatim.
    Everything is `when`/`concat`/`regexp_*` — zero Python per row — and
    :func:`resolve_href_oracle_sql` is the exact DuckDB twin."""
    bscheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    bhost = F.regexp_extract(base, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    bpath = F.regexp_extract(
        base, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    bpath = F.when(bpath == "", F.lit("/")).otherwise(bpath)
    bdir = F.regexp_replace(bpath, r"[^/]*$", "")
    origin = F.concat(bscheme, F.lit("://"), bhost)
    return (
        F.when(bscheme == "", href)
        .when(href.rlike(_ABS_SCHEME_RE), href)
        .when(href.startswith("//"), F.concat(bscheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, _collapse_dots(href)))
        .when(
            href.startswith("#"),
            F.concat(F.regexp_replace(base, r"#.*", ""), href),
        )
        .when(href.startswith("?"), F.concat(origin, bpath, href))
        .otherwise(F.concat(origin, _collapse_dots(F.concat(bdir, href))))
    )


def resolve_href_oracle_sql(base_expr: str, href_expr: str) -> str:
    """DuckDB scalar expression equivalent to
    ``resolve_href(base_expr, href_expr)``."""
    bscheme = (
        f"coalesce(regexp_extract({base_expr}, "
        f"'^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '')"
    )
    bhost = (
        f"coalesce(regexp_extract({base_expr}, "
        f"'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), '')"
    )
    bpath_raw = (
        f"coalesce(regexp_extract({base_expr}, "
        f"'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '')"
    )
    bpath = f"CASE WHEN {bpath_raw} = '' THEN '/' ELSE {bpath_raw} END"
    bdir = f"regexp_replace({bpath}, '[^/]*$', '')"
    origin = f"({bscheme} || '://' || {bhost})"
    return (
        f"(CASE "
        f"WHEN {bscheme} = '' THEN {href_expr} "
        f"WHEN regexp_matches({href_expr}, '{_ABS_SCHEME_RE}') THEN {href_expr} "
        f"WHEN {href_expr} LIKE '//%' THEN {bscheme} || ':' || {href_expr} "
        f"WHEN {href_expr} LIKE '/%' THEN {origin} || "
        f"{_collapse_dots_sql(href_expr)} "
        f"WHEN {href_expr} LIKE '#%' THEN "
        f"regexp_replace({base_expr}, '#.*', '') || {href_expr} "
        f"WHEN {href_expr} LIKE '?%' THEN {origin} || {bpath} || {href_expr} "
        f"ELSE {origin} || {_collapse_dots_sql(f'({bdir} || {href_expr})')} "
        f"END)"
    )


# one pattern per HTML quoting form, group 1 = the href value.  (?i)
# accepts HREF=/Href=; \s*=\s* accepts spaced attributes.  The forms are
# mutually exclusive at any match start (after '=' a quote char fails the
# unquoted class), so concatenating the three extractions never double-
# counts an anchor.  Unquoted values stop at whitespace/quotes/<>/backtick;
# '=' deliberately stays allowed — unquoted query-string hrefs are common
# in the wild even though HTML5 forbids them.
_HREF_RES = (
    r'(?i)href\s*=\s*"([^"]+)"',
    r"(?i)href\s*=\s*'([^']+)'",
    "(?i)href\\s*=\\s*([^\\s\"'<>`]+)",
)


def href_extract_sql(html_expr: str) -> str:
    """DuckDB twin of the href extraction inside :func:`extract_links`:
    the same three RE2-portable patterns, one ``regexp_extract_all`` per
    quoting form, list-concatenated in the same order."""
    parts = [
        f"regexp_extract_all({html_expr}, '" + p.replace("'", "''") + "', 1)"
        for p in _HREF_RES
    ]
    return f"list_concat(list_concat({parts[0]}, {parts[1]}), {parts[2]})"


def extract_links(
    df,
    html_col: str = "html",
    url_col: str = "url",
    canonical: bool = True,
    resolve: bool = True,
):
    """(src_url, dst_url) edge list from anchor hrefs — the hyperlink-graph
    extraction stage of a crawl pipeline, fully native.

    ``html_col`` may be string or binary (cast to string — pages tables
    store html as binary per the input schema).  Each href becomes one
    edge row; double-quoted, single-quoted and unquoted attribute forms
    are all parsed (``_HREF_RES``), case-insensitively and with optional
    spaces around ``=``.  ``resolve=True`` resolves relative hrefs (``/about``,
    ``../x``, ``//host/p``, ``#frag``, ``?q=…`` — most links on real
    pages) against the page's own URL via :func:`resolve_href`, so
    per-site links land on the same destination key as their absolute
    twins instead of fragmenting the graph.  ``canonical=True`` then
    normalizes destinations through :func:`canonicalize_url` so the
    downstream graph (indegree, PageRank over real links) keys on
    canonical pages, not tracking-param spam.

    Scale shape: regexp_extract_all + explode per page, zero shuffles
    until the caller aggregates; regex + resolution + canonicalization
    all run inside codegen so link extraction adds no Python to a
    10^12-page scan."""
    from pyspark.sql import functions as F

    html = F.col(html_col).cast("string")
    hrefs = F.concat(
        *[F.regexp_extract_all(html, F.lit(p), 1) for p in _HREF_RES]
    )
    edges = df.select(
        F.col(url_col).alias("src_url"), F.explode(hrefs).alias("dst_url")
    )
    if resolve:
        edges = edges.withColumn(
            "dst_url", resolve_href(F.col("src_url"), F.col("dst_url"))
        )
    if canonical:
        edges = edges.withColumn(
            "dst_url", canonicalize_url(F.col("dst_url"))
        )
    return edges


_ANCHOR_TAG_RE = r"(?i)(<a\s[^>]*>[^<]*</a>)"
_ANCHOR_TEXT_RE = r">([^<]*)<"


def extract_anchors(
    df,
    html_col: str = "html",
    url_col: str = "url",
    canonical: bool = True,
    resolve: bool = True,
):
    """(src_url, dst_url, anchor) rows from anchor tags — link extraction
    WITH the anchor text, the classic entity-naming evidence a KG
    pipeline aggregates per destination ("what does the web call this
    page?").

    A whole-tag regex (``<a\\s[^>]*>[^<]*</a>``) keeps each href aligned
    with ITS anchor text (extracting hrefs and texts separately would
    lose the pairing); per tag, the three href quoting forms are tried
    via ``coalesce(nullif(...))`` — both engines return '' for a
    non-matching ``regexp_extract``, so the chain is portable verbatim.
    Anchors containing nested markup (``<b>…``) are excluded by the
    ``[^<]*`` inner-text class — same documented-honesty tradeoff as the
    attribute grammar in ``_HREF_RES``.  Resolution/canonicalization of
    destinations follows :func:`extract_links`.

    Scale shape: regexp + explode + codegen expressions only — no
    Python, no shuffle until the caller aggregates."""
    from pyspark.sql import functions as F

    html = F.col(html_col).cast("string")
    tags = df.select(
        F.col(url_col).alias("src_url"),
        F.explode(
            F.regexp_extract_all(html, F.lit(_ANCHOR_TAG_RE), 1)
        ).alias("tag"),
    )
    href = F.coalesce(
        *[
            F.nullif(F.regexp_extract("tag", p, 1), F.lit(""))
            for p in _HREF_RES
        ]
    )
    out = tags.select(
        "src_url",
        href.alias("dst_url"),
        F.regexp_extract("tag", _ANCHOR_TEXT_RE, 1).alias("anchor"),
    ).filter(F.col("dst_url").isNotNull())
    if resolve:
        out = out.withColumn(
            "dst_url", resolve_href(F.col("src_url"), F.col("dst_url"))
        )
    if canonical:
        out = out.withColumn("dst_url", canonicalize_url(F.col("dst_url")))
    return out


def anchor_extract_sql(
    html_expr: str, url_expr: str, from_sql: str = "pages"
) -> str:
    """DuckDB twin of the tag-level part of :func:`extract_anchors`:
    returns a FROM-able subquery producing (src_url, dst_url, anchor)
    over ``from_sql``, with dst_url still unresolved (feed it through
    ``resolve_href_oracle_sql`` / ``canonical_url_oracle_sql`` exactly
    like the Spark path chains resolve/canonicalize)."""
    parts = [
        "NULLIF(regexp_extract(tag, '" + p.replace("'", "''") + "', 1), '')"
        for p in _HREF_RES
    ]
    href = "COALESCE(" + ", ".join(parts) + ")"
    return f"""
        SELECT src_url, {href} AS dst_url,
               regexp_extract(tag, '{_ANCHOR_TEXT_RE}', 1) AS anchor
        FROM (
            SELECT {url_expr} AS src_url,
                   unnest(regexp_extract_all({html_expr},
                          '{_ANCHOR_TAG_RE}', 1)) AS tag
            FROM {from_sql}
        )
        WHERE {href} IS NOT NULL
    """


def _robots_lines(
    robots: DataFrame, host_col: str, body_col: str
) -> DataFrame:
    """(host, fkey, ln, line): comment-stripped trimmed lines with a
    per-BODY key — the scaffold of :func:`parse_robots`.  Keying on the
    body hash as well as the host makes duplicate host rows (a robots
    file refetched in two crawl waves and unioned) parse each body
    INDEPENDENTLY instead of interleaving their colliding line numbers
    nondeterministically."""
    line_no = (F.col("pos") + 1).alias("ln")
    return robots.select(
        F.col(host_col).alias("host"),
        F.xxhash64(F.col(body_col)).alias("fkey"),
        F.posexplode(F.split(F.col(body_col), "\n")).alias("pos", "raw"),
    ).select(
        "host",
        "fkey",
        line_no,
        F.trim(F.regexp_replace("raw", "#.*$", "")).alias("line"),
    )


def _group_window() -> "Window":
    """MOST-RECENT-preceding-User-agent assignment window (per body)."""
    return (
        Window.partitionBy("host", "fkey")
        .orderBy("ln")
        .rowsBetween(Window.unboundedPreceding, 0)
    )


def parse_robots(
    robots: DataFrame,
    host_col: str = "host",
    body_col: str = "robots_txt",
) -> DataFrame:
    """Parse robots.txt bodies into rule rows ``(host, agent, allow,
    prefix)`` — the crawl-side policy input to :func:`robots_allowed`.

    RFC 9309 subset (documented-honesty, like the href grammar):
    ``User-agent`` / ``Allow`` / ``Disallow`` directives
    (case-insensitive), ``#`` comments stripped, each rule assigned to
    the MOST RECENT preceding User-agent line (multi-agent groups
    collapse to their last agent), empty-pattern rules dropped (the RFC
    says an empty pattern matches nothing), no ``*``/``$`` wildcards.

    Scale shape: split + posexplode + regexp — native end to end.  The
    group-assignment window is per (host, body) over one file's LINES;
    the RFC caps robots.txt at 500 KiB, so the window input is bounded
    by spec, not by data."""
    lines = _robots_lines(robots, host_col, body_col)
    low = F.lower(F.col("line"))
    tagged = lines.select(
        "host",
        "fkey",
        "ln",
        F.when(
            low.startswith("user-agent:"),
            F.lower(F.trim(F.expr("substr(line, 12)"))),
        ).alias("ua"),
        F.when(low.startswith("allow:"), F.lit(1))
        .when(low.startswith("disallow:"), F.lit(0))
        .cast("int")
        .alias("allow"),
        F.when(low.startswith("allow:"), F.trim(F.expr("substr(line, 7)")))
        .when(
            low.startswith("disallow:"), F.trim(F.expr("substr(line, 10)"))
        )
        .alias("prefix"),
    )
    w = _group_window()
    return (
        tagged.select(
            "host",
            F.last("ua", ignorenulls=True).over(w).alias("agent"),
            "allow",
            "prefix",
        )
        .filter(F.col("allow").isNotNull() & (F.col("prefix") != ""))
        .filter(F.col("agent").isNotNull())
    )


# path+query of a url (everything between authority and fragment); the
# robots match target.  '' (no path) matches as '/'.
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)"


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
) -> DataFrame:
    """Evaluate robots rules against urls: ``(url, host, allowed,
    rule_prefix)`` with RFC 9309 precedence — the LONGEST matching
    prefix wins; on a length tie ``Allow`` beats ``Disallow``; a url
    with no matching rule (or no rules for its host) is allowed.

    ``rules`` is :func:`parse_robots` output.  Group selection follows
    RFC 9309 §2.2.1: for each host, if a group for ``agent`` (exact
    match after lowercasing) exists it applies EXCLUSIVELY; otherwise
    the host's ``*`` group applies; a host with neither contributes no
    rules (default allow).  The two groups never combine — a crawler
    named in its own group must ignore the generic rules.

    Scale shape: one equi-join urls⋈rules on host with NO broadcast
    hint — per-host rule sets are spec-bounded tiny, so Catalyst
    broadcasts while small and degrades to a shuffled hash join if a
    rules corpus outgrows the threshold (the webgraph
    broadcast_tables discipline); group selection adds one left_anti
    on the (distinct-host-sized) named-group host list.  The winner is
    one map-combinable ``max(struct(prefix_len, allow, prefix))`` per
    url — struct ordering gives the RFC precedence for free, no
    window."""
    hosted = urls.select(
        F.col(url_col).alias("url"),
        url_host(F.col(url_col)).alias("host"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(F.col(url_col), _URL_PATH_RE, 1), F.lit("")
            ),
            F.lit("/"),
        ).alias("path"),
    )
    named = rules.filter(F.col("agent") == agent.lower())
    if agent.lower() == "*":
        applicable = named.select(
            F.col("host").alias("r_host"), "allow", "prefix"
        )
    else:
        # RFC 9309 group selection: the named group replaces '*' on
        # hosts where it exists; hosts without it fall back to '*'
        fallback = rules.filter(F.col("agent") == "*").join(
            named.select("host").distinct(), "host", "left_anti"
        )
        applicable = named.unionByName(fallback).select(
            F.col("host").alias("r_host"), "allow", "prefix"
        )
    matched = hosted.join(
        applicable,
        (hosted["host"] == applicable["r_host"])
        & hosted["path"].startswith(applicable["prefix"]),
    )
    winner = matched.groupBy("url").agg(
        F.max(
            F.struct(
                F.length("prefix").alias("plen"),
                F.col("allow").alias("allow"),
                F.col("prefix").alias("prefix"),
            )
        ).alias("w")
    )
    return hosted.join(winner, "url", "left").select(
        "url",
        "host",
        F.coalesce(F.col("w.allow"), F.lit(1)).cast("int").alias("allowed"),
        F.coalesce(F.col("w.prefix"), F.lit("")).alias("rule_prefix"),
    )


def robots_allowed_oracle_sql(
    urls_sql: str,
    robots_sql: str,
    agent: str = "*",
    url_col: str = "url",
    host_sql: str | None = None,
) -> str:
    """DuckDB twin of ``robots_allowed(urls, parse_robots(robots))``.
    ``robots_sql`` must yield (host, robots_txt); ``host_sql`` the
    url_host twin over ``url_col`` (url_host_oracle_sql default)."""
    host = host_sql if host_sql is not None else url_host_oracle_sql(url_col)
    agent_lit = agent.lower().replace("'", "''")
    return f"""
        WITH lines AS (
            SELECT host, pair[2]::BIGINT AS ln,
                   trim(regexp_replace(pair[1]::VARCHAR, '#.*$', '')) AS line
            FROM (
                SELECT host,
                       unnest(list_zip(
                           string_split(robots_txt, chr(10)),
                           generate_series(
                               1, len(string_split(robots_txt, chr(10))))
                       )) AS pair
                FROM ({robots_sql})
            )
        ),
        tagged AS (
            SELECT host, ln,
                   CASE WHEN lower(line) LIKE 'user-agent:%'
                        THEN lower(trim(substr(line, 12))) END AS ua,
                   CASE WHEN lower(line) LIKE 'allow:%' THEN 1
                        WHEN lower(line) LIKE 'disallow:%' THEN 0
                   END AS allow,
                   CASE WHEN lower(line) LIKE 'allow:%'
                        THEN trim(substr(line, 7))
                        WHEN lower(line) LIKE 'disallow:%'
                        THEN trim(substr(line, 10)) END AS prefix
            FROM lines
        ),
        rules AS (
            SELECT host,
                   LAST_VALUE(ua IGNORE NULLS) OVER (
                       PARTITION BY host ORDER BY ln
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS agent,
                   allow, prefix
            FROM tagged
            QUALIFY allow IS NOT NULL AND prefix <> ''
                    AND agent IS NOT NULL
        ),
        applicable AS (
            -- RFC 9309 group selection: the named group replaces '*'
            -- on hosts where it exists; other hosts fall back to '*'
            SELECT host, allow, prefix FROM rules
            WHERE agent = '{agent_lit}'
            UNION ALL
            SELECT host, allow, prefix FROM rules
            WHERE agent = '*' AND '{agent_lit}' <> '*'
              AND host NOT IN (SELECT DISTINCT host FROM rules
                               WHERE agent = '{agent_lit}')
        ),
        hosted AS (
            SELECT {url_col} AS url, {host} AS host,
                   COALESCE(NULLIF(regexp_extract({url_col},
                       '{_URL_PATH_RE}', 1), ''), '/') AS path
            FROM ({urls_sql})
        ),
        winner AS (
            SELECT url,
                   max(struct_pack(
                       plen := length(prefix),
                       allow := allow,
                       prefix := prefix)) AS w
            FROM hosted u JOIN applicable r
              ON u.host = r.host AND starts_with(u.path, r.prefix)
            GROUP BY url
        )
        SELECT url, host, allowed, rule_prefix FROM (
            SELECT h.url AS url, h.host AS host,
                   COALESCE(w.w.allow, 1)::INT AS allowed,
                   COALESCE(w.w.prefix, '') AS rule_prefix
            FROM hosted h LEFT JOIN winner w ON h.url = w.url
        )
    """
