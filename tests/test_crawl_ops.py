"""Unit pins for the round-9 crawl-planning operators: redirect
resolution (pointer doubling), anchor extraction, sitemap parsing, and
rendezvous sharding. Cross-engine value parity for the registered
queries lives in test_oracle_parity.py; these pin the operator-level
contracts the sweep can't see (plan shapes, hostile inputs, the HRW
stability property across every possible lost shard)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from xeloader_spark.operators.crawl import (
    HRW_DUCK,
    hrw_shard_sql,
    parse_sitemap,
    redirects_oracle_sql,
    rendezvous_assign,
    resolve_redirects,
)
from xeloader_spark.operators.links import extract_anchors
from xeloader_spark.plans.inspect import count_exchanges

_EDGES = [
    (5, 4), (4, 3), (3, 2), (2, 1), (1, 0),  # 5-hop chain into u0
    (10, 11), (11, 12), (12, 10),  # 3-cycle
    (13, 10),  # feeder walking into the cycle
    (20, 21),  # 1-hop
]


def _edge_df(spark):
    return spark.createDataFrame(
        [(f"u{a}", f"u{b}") for a, b in _EDGES], "src string, dst string"
    )


def _resolve_rows(spark):
    out = resolve_redirects(_edge_df(spark), max_hops=8)
    return sorted(
        (r.url, r.terminal_url, r.n_hops, r.resolved) for r in out.collect()
    )


EXPECTED = sorted(
    [
        ("u1", "u0", 1, True),
        ("u2", "u0", 2, True),
        ("u3", "u0", 3, True),
        ("u4", "u0", 4, True),
        ("u5", "u0", 5, True),
        ("u20", "u21", 1, True),
        # cycle members + the feeder: unresolved, exactly max_hops walked
        ("u10", None, 8, False),
        ("u11", None, 8, False),
        ("u12", None, 8, False),
        ("u13", None, 8, False),
    ]
)


def test_resolve_redirects_chains_and_cycle(spark):
    assert _resolve_rows(spark) == EXPECTED


def test_resolve_redirects_matches_linear_oracle(spark):
    vals = ", ".join(f"('u{a}','u{b}')" for a, b in _EDGES)
    sql = redirects_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", 8
    )
    con = duckdb.connect()
    try:
        rows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    finally:
        con.close()
    assert rows == EXPECTED


def test_resolve_redirects_rejects_non_power_of_two(spark):
    with pytest.raises(ValueError):
        resolve_redirects(_edge_df(spark), max_hops=6)
    with pytest.raises(ValueError):
        resolve_redirects(_edge_df(spark), max_hops=1)


def test_resolve_redirects_plan_is_log_rounds(spark):
    # doubling: 3 state self-joins for 8 hops; each round truncates, so
    # the final frame's plan holds ONE join over two truncated sides —
    # O(1) in max_hops, never the 8-join linear unroll
    out = resolve_redirects(_edge_df(spark), max_hops=8)
    assert count_exchanges(out) <= 4


ANCHOR_HTML = (
    "<html><body>"
    '<A CLASS="m" HREF="HTTPS://WWW.SRC3.COM/Top/">  best picks </A>'
    '<a href="/x/1">more here</a>'
    '<a data-href="https://decoy.invalid/x">decoy</a>'
    '<a href="#top">frag</a>'
    '<a href="mailto:a@b.co">mail</a>'
    '<a rel="next" href="https://other.org/p?q=1">next page</a>'
    "</body></html>"
)


def test_extract_anchors_pairs_href_with_text(spark):
    df = spark.createDataFrame(
        [(1, "www.me.com", ANCHOR_HTML)],
        "doc_id long, src_host string, html string",
    )
    rows = sorted(
        (r.href, r.anchor_text, r.dst_host)
        for r in extract_anchors(df).collect()
    )
    assert rows == sorted(
        [
            # upper-case tag + scheme resolve; text trimmed
            ("HTTPS://WWW.SRC3.COM/Top/", "best picks", "www.src3.com"),
            ("/x/1", "more here", "www.me.com"),
            ("https://other.org/p?q=1", "next page", "other.org"),
        ]
    )
    # decoy data-href, fragment, mailto never became rows


def test_href_three_quoting_forms_both_engines(spark):
    """r10 widening (VERDICT r9): double-quoted, single-quoted and
    unquoted href values must all extract, with the SAME result from
    the Spark plan and the DuckDB rendering of the shared templates —
    href_all_sql (document scan) and href_value_sql (per-element)."""
    from xeloader_spark.operators.links import (
        ANCHOR_RE,
        extract_anchors,
        extract_links,
        href_all_sql,
        href_value_sql,
    )

    html = (
        '<p>x</p><a href="/dq/1">d</a>'
        "<a class='k' href='/sq/2'>s</a>"
        "<a href=/uq/3 rel=nofollow>u</a>"
        "<a href = '/sq ws/4'>sw</a>"
        '<a href="">empty</a>'
        "<a data-href=/decoy/5>n</a>"
    )
    expect = ["/dq/1", "/sq/2", "/uq/3", "/sq ws/4"]

    links = extract_links(
        spark.createDataFrame(
            [(1, "h.me", html)], "doc_id long, src_host string, html string"
        )
    )
    assert sorted(r.href for r in links.collect()) == sorted(expect)

    con = duckdb.connect()
    try:
        duck_all = [
            r[0]
            for r in con.execute(
                f"SELECT unnest({href_all_sql('html', 'duckdb')}) "
                "FROM (SELECT ? AS html)",
                [html],
            ).fetchall()
        ]
        duck_vals = [
            r[0]
            for r in con.execute(
                f"SELECT {href_value_sql('a')} FROM (SELECT unnest("
                f"regexp_extract_all(?, '{ANCHOR_RE}', 0)) AS a)",
                [html],
            ).fetchall()
        ]
    finally:
        con.close()
    # the raw scan keeps href="" as '' (the resolution CASE drops it)
    assert sorted(v for v in duck_all if v) == sorted(expect)
    # per-element: the empty-value anchor matches ANCHOR_RE but yields
    # NULL (dropped later by the resolution CASE)
    assert sorted(v for v in duck_vals if v is not None) == sorted(expect)

    anchors = extract_anchors(
        spark.createDataFrame(
            [(1, "h.me", html)], "doc_id long, src_host string, html string"
        )
    )
    assert sorted((r.href, r.anchor_text) for r in anchors.collect()) == [
        ("/dq/1", "d"),
        ("/sq ws/4", "sw"),
        ("/sq/2", "s"),
        ("/uq/3", "u"),
    ]


def test_extract_anchors_zero_shuffle(spark):
    df = spark.createDataFrame(
        [(1, "h", ANCHOR_HTML)], "doc_id long, src_host string, html string"
    )
    assert count_exchanges(extract_anchors(df)) == 0


SITEMAP = (
    '<?xml version="1.0"?><urlset>'
    "<url><loc>https://a/1</loc><lastmod>2026-01-02</lastmod>"
    "<priority>0.8</priority><changefreq>Daily</changefreq></url>"
    "<url>\n  <loc>https://a/2</loc>\n</url>"
    "<url><lastmod>2026-01-03</lastmod></url>"  # loc-less: dropped
    # malformed priority: try_cast NULLs it loudly (ADVICE r9) while
    # the entry itself survives
    "<url><loc>https://a/3</loc><priority>high</priority>"
    "<changefreq>sometimes</changefreq></url>"
    "</urlset>"
)


def test_parse_sitemap_fields_and_loud_nulls(spark):
    df = spark.createDataFrame(
        [("h1", SITEMAP)], "host string, sitemap_xml string"
    )
    rows = sorted(
        (r.host, r.loc, r.lastmod, r.priority, r.changefreq)
        for r in parse_sitemap(df).collect()
    )
    assert rows == [
        ("h1", "https://a/1", "2026-01-02", 0.8, "Daily"),
        ("h1", "https://a/2", None, None, None),
        # out-of-vocabulary changefreq survives VERBATIM here; the
        # seconds mapper is where it goes NULL loudly
        ("h1", "https://a/3", None, None, "sometimes"),
    ]


def test_changefreq_seconds_vocabulary(spark):
    """Spec vocabulary (case-insensitive) → seconds; 'never' and
    unknown tokens → NULL loudly — identical CASE in both engines."""
    import duckdb

    from xeloader_spark.operators.crawl import changefreq_seconds_sql

    toks = ["always", "Hourly", "daily", "WEEKLY", "monthly", "yearly",
            "never", "sometimes", None]
    df = spark.createDataFrame([(t,) for t in toks], "cf string")
    got = [
        r.s
        for r in df.select(
            F.expr(changefreq_seconds_sql("cf")).alias("s")
        ).collect()
    ]
    assert got == [0, 3600, 86400, 604800, 2592000, 31536000,
                   None, None, None]
    con = duckdb.connect()
    vals = ", ".join("(NULL)" if t is None else f"('{t}')" for t in toks)
    exp = [
        r[0]
        for r in con.execute(
            f"SELECT {changefreq_seconds_sql('cf')} "
            f"FROM (VALUES {vals}) v(cf)"
        ).fetchall()
    ]
    assert got == exp


def test_parse_sitemap_zero_shuffle(spark):
    df = spark.createDataFrame(
        [("h1", SITEMAP)], "host string, sitemap_xml string"
    )
    assert count_exchanges(parse_sitemap(df)) == 0


SITEMAP_INDEX = (
    '<?xml version="1.0"?><sitemapindex>'
    "<sitemap><loc>https://h/a.xml</loc>"
    "<lastmod>2026-02-01</lastmod></sitemap>"
    "<sitemap>\n  <loc>https://h/b.xml</loc>\n</sitemap>"
    "<sitemap><lastmod>2026-02-02</lastmod></sitemap>"  # loc-less: dropped
    "</sitemapindex>"
)


def test_parse_sitemap_index_fields_and_loud_nulls(spark):
    from xeloader_spark.operators.crawl import parse_sitemap_index

    df = spark.createDataFrame(
        [("h1", SITEMAP_INDEX)], "host string, sitemap_index_xml string"
    )
    rows = sorted(
        (r.host, r.sitemap_loc, r.sitemap_lastmod)
        for r in parse_sitemap_index(df).collect()
    )
    assert rows == [
        ("h1", "https://h/a.xml", "2026-02-01"),
        ("h1", "https://h/b.xml", None),
    ]
    assert count_exchanges(parse_sitemap_index(df)) == 0


def test_fetch_schedule_closed_form(spark):
    """Offsets are (wave-1)×delay with url-ascending waves per host;
    hosts without a declared Crawl-delay get the default."""
    from xeloader_spark.operators.crawl import fetch_schedule

    frontier = spark.createDataFrame(
        [("h1", "u/b"), ("h1", "u/a"), ("h1", "u/c"), ("h2", "u/a"),
         ("h2", "u/b")],
        "host string, url string",
    )
    delays = spark.createDataFrame(
        [("h1", 2.5)], "host string, crawl_delay double"
    )
    got = {
        (r.host, r.url): (r.wave, r.delay, r.scheduled_offset)
        for r in fetch_schedule(frontier, delays, default_delay=5.0)
        .collect()
    }
    assert got == {
        ("h1", "u/a"): (1, 2.5, 0.0),
        ("h1", "u/b"): (2, 2.5, 2.5),
        ("h1", "u/c"): (3, 2.5, 5.0),
        ("h2", "u/a"): (1, 5.0, 0.0),
        ("h2", "u/b"): (2, 5.0, 5.0),
    }


def test_fetch_schedule_priority_order(spark):
    """With priority_col set (r11), waves order by (priority DESC
    NULLS LAST, url): high-priority URLs consume the host's politeness
    budget first, NULL-priority entries queue last, url breaks ties."""
    from xeloader_spark.operators.crawl import fetch_schedule

    frontier = spark.createDataFrame(
        [("h1", "u/a", 0.2), ("h1", "u/b", 0.9), ("h1", "u/c", None),
         ("h1", "u/d", 0.9), ("h2", "u/a", None), ("h2", "u/b", 0.1)],
        "host string, url string, priority double",
    )
    delays = spark.createDataFrame(
        [("h1", 2.0)], "host string, crawl_delay double"
    )
    got = {
        (r.host, r.url): (r.wave, r.scheduled_offset)
        for r in fetch_schedule(
            frontier, delays, default_delay=5.0, priority_col="priority"
        ).collect()
    }
    assert got == {
        ("h1", "u/b"): (1, 0.0),   # 0.9, tie broken by url
        ("h1", "u/d"): (2, 2.0),   # 0.9
        ("h1", "u/a"): (3, 4.0),   # 0.2
        ("h1", "u/c"): (4, 6.0),   # NULL priority queues last
        ("h2", "u/b"): (1, 0.0),
        ("h2", "u/a"): (2, 5.0),
    }


def test_recrawl_delta_classification(spark):
    """new/stale/fresh over every evidence combination, including the
    NULL-lastmod no-evidence branch (fresh — cadence is revisit_policy's
    job, not the delta's) and the ISO string compare."""
    from xeloader_spark.operators.crawl import recrawl_delta

    sitemap = spark.createDataFrame(
        [("u/a", "2026-02-10"), ("u/b", "2026-02-10"),
         ("u/c", "2026-02-10"), ("u/d", None), ("u/e", None)],
        "loc string, lastmod string",
    )
    state = spark.createDataFrame(
        [("u/b", "2026-02-09"), ("u/c", "2026-02-10"),
         ("u/d", "2026-01-01")],
        "url string, last_crawled string",
    )
    got = {
        r.loc: (r.status, r.needs_fetch)
        for r in recrawl_delta(sitemap, state).collect()
    }
    assert got == {
        "u/a": ("new", True),       # never crawled
        "u/b": ("stale", True),     # lastmod after crawl date
        "u/c": ("fresh", False),    # same day: conservative, no refetch
        "u/d": ("fresh", False),    # NULL lastmod + state: no evidence
        "u/e": ("new", True),       # NULL lastmod, never crawled
    }


def test_revisit_policy_closed_form(spark):
    """Interval = clamp(base·(nv−1) DIV max(nc,1), min, max), integer
    exact; single-visit URLs take base verbatim."""
    from xeloader_spark.operators.crawl import revisit_policy

    rows = []
    # u1: 4 visits, fp changes every visit (3 changes) → 100·3/3 = 100
    rows += [("u1", i, f"f{i}") for i in range(4)]
    # u2: 4 visits, never changes → 100·3/1 = 300 → clamped to 250
    rows += [("u2", i, "same") for i in range(4)]
    # u3: 6 visits, changes every visit (5) → 100·5/5 = 100 → min 120
    rows += [("u3", i, f"g{i}") for i in range(6)]
    # u4: single visit → base verbatim (no clamp)
    rows += [("u4", 0, "x")]
    got = {
        r.url: (r.n_visits, r.n_changes, r.revisit_interval_s)
        for r in revisit_policy(
            spark.createDataFrame(rows, "url string, visit_idx int, fp string"),
            base_s=100, min_s=120, max_s=250,
        ).collect()
    }
    assert got == {
        "u1": (4, 3, 120),   # 100 clamped up to 120
        "u2": (4, 0, 250),   # 300 clamped down to 250
        "u3": (6, 5, 120),   # 100 clamped up to 120
        "u4": (1, 0, 100),   # base verbatim, bypasses clamps
    }


def test_crawl_budget_allocate_closed_form(spark):
    """Hamilton's method by hand: floors + largest remainders, host
    ascending as the deterministic tie-break."""
    from xeloader_spark.operators.crawl import crawl_budget_allocate

    hosts = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "host string, weight long"
    )
    got = {r.host: r.quota for r in crawl_budget_allocate(hosts, 11).collect()}
    # bases 5/3/2 (sum 10), leftover 1, remainders 5/3/2 -> a gets it
    assert got == {"a": 6, "b": 3, "c": 2}

    ties = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "host string, weight long"
    )
    got = {r.host: r.quota for r in crawl_budget_allocate(ties, 4).collect()}
    # equal remainders: host-ascending tie-break hands the +1 to 'a'
    assert got == {"a": 2, "b": 1, "c": 1}


def test_crawl_budget_conservation_and_quota_rule(spark):
    """Σ quota == budget EXACTLY, and every quota is within 1 of its
    ideal real share (the quota rule Hamilton satisfies) — on 50 varied
    weights with a prime budget so remainders are non-trivial."""
    import math

    from xeloader_spark.operators.crawl import crawl_budget_allocate

    rows = [(f"h{i:02d}", 1 + (i * 37) % 19) for i in range(50)]
    budget = 997
    df = spark.createDataFrame(rows, "host string, weight long")
    out = crawl_budget_allocate(df, budget).collect()
    assert len(out) == 50
    assert sum(r.quota for r in out) == budget
    tw = sum(w for _, w in rows)
    wmap = dict(rows)
    for r in out:
        ideal = budget * wmap[r.host] / tw
        assert math.floor(ideal) <= r.quota <= math.ceil(ideal), (
            r.host, r.quota, ideal
        )


def _hrw_assignments(spark, n_keys=64, n_shards=5, exclude=None):
    df = spark.range(n_keys).selectExpr(
        "concat('host-', CAST(id AS STRING)) AS host"
    )
    out = rendezvous_assign(
        df, n_shards, exclude=frozenset(exclude) if exclude else None
    )
    return {r.host: r.shard for r in out.collect()}


def test_rendezvous_minimal_disruption_every_lost_shard(spark):
    # THE HRW property, checked exhaustively: for each possible lost
    # shard, exactly the keys it owned move — nobody else
    full = _hrw_assignments(spark)
    assert set(full.values()) == set(range(5))  # every shard owns keys
    for lost in range(5):
        after = _hrw_assignments(spark, exclude={lost})
        for host, s in full.items():
            if s == lost:
                assert after[host] != lost
            else:
                assert after[host] == s, (host, lost)


def test_rendezvous_zero_shuffle_and_validation(spark):
    df = spark.range(4).selectExpr("CAST(id AS STRING) AS host")
    assert count_exchanges(rendezvous_assign(df, 8)) == 0
    with pytest.raises(ValueError):
        hrw_shard_sql(HRW_DUCK, "host", [])


def test_robots_parse_to_table_matches_literal_gate(spark):
    """End-to-end REP: raw robots.txt → parse_robots_txt → rules table
    → robots_filter_table must produce the SAME verdicts as the literal
    robots_filter over the original rule list — the full raw-file
    pipeline pinned against the fixture gate both drivers check."""
    from pyspark.sql import functions as F

    from xeloader_spark.operators.robots import (
        parse_robots_txt,
        robots_filter,
        robots_filter_table,
    )
    from xeloader_spark.queries.crawl import _ROBOTS_AGENT, _robots_txt_files
    from xeloader_spark.queries.text import _ROBOTS_RULES, _URL_SEED_SPARK

    from xeloader_spark.catalog import load_table

    files = spark.createDataFrame(
        _robots_txt_files(), "host string, robots_txt string"
    )
    rules_df = parse_robots_txt(files, agent=_ROBOTS_AGENT).select(
        "host", "prefix", "allow"
    )
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").withColumn(
        "url", F.expr(_URL_SEED_SPARK)
    )
    cols = ["doc_id", "url", "host", "path", "matched_len", "allowed"]
    via_parse = {
        tuple(r)
        for r in robots_filter_table(docs, rules_df).select(*cols).collect()
    }
    via_literal = {
        tuple(r)
        for r in robots_filter(docs, _ROBOTS_RULES).select(*cols).collect()
    }
    assert via_parse == via_literal and via_parse


def test_robots_table_null_rule_fields_match_sql_form(spark):
    """NULL rule fields degrade as in the SQL form the verdict UDF
    replaced (filter on the rule match, max of (len, allow) structs,
    coalesce(allow, true)): a NULL prefix never matches; a NULL allow
    matches with its length, loses a length tie to a non-NULL allow,
    and allows when it wins."""
    from xeloader_spark.operators.robots import (
        SPARK_D,
        robots_filter_table,
        rule_match_sql,
    )

    rules_df = spark.createDataFrame(
        [
            ("a.com", None, False),
            ("a.com", "/p", False),
            ("b.com", "/ab", None),
            ("c.com", "/ab", None),
            ("c.com", "/ab", False),
            ("d.com", "/abc", None),
            ("d.com", "/ab", False),
        ],
        "host string, prefix string, allow boolean",
    )
    urls = ["http://a.com/private", "http://a.com/zzz", "http://b.com/abc",
            "http://c.com/abc", "http://d.com/abcd", "http://d.com/abx"]
    docs = spark.createDataFrame([(u,) for u in urls], "url string")
    out = robots_filter_table(docs, rules_df)
    got = {r.url: (r.matched_len, r.allowed) for r in out.collect()}
    assert got == {
        "http://a.com/private": (2, False),
        "http://a.com/zzz": (-1, True),
        "http://b.com/abc": (3, True),
        "http://c.com/abc": (3, False),
        "http://d.com/abcd": (4, True),
        "http://d.com/abx": (3, False),
    }

    host_rules = rules_df.groupBy("host").agg(
        F.expr(
            "collect_list(named_struct('prefix', prefix, 'allow', allow))"
        ).alias("_rules")
    )
    best = (
        "try_element_at(reverse(array_sort(transform(filter(_rules, r -> "
        + rule_match_sql(SPARK_D, "path", "r.prefix")
        + "), r -> named_struct('len', length(r.prefix), "
        "'allow', r.allow)))), 1)"
    )
    sql_form = (
        out.select("url", "host", "path")
        .join(host_rules, "host", "left")
        .select("url", F.expr(best).alias("b"))
        .select(
            "url",
            F.expr("CAST(coalesce(b.len, -1) AS BIGINT)"),
            F.expr("coalesce(b.allow, true)"),
        )
    )
    assert {u: (n, a) for u, n, a in sql_form.collect()} == got


def test_robots_crawl_delay_closed_form(spark):
    """Closed-form expectation (NOT a replay — catches bugs a
    replay-identical oracle would mirror): decoy group's 99 never
    leaks, the non-numeric value drops, the star-fallback host still
    gets its delay, the silent host is absent."""
    from xeloader_spark.operators.robots import robots_crawl_delay
    from xeloader_spark.queries.crawl import _ROBOTS_AGENT, _robots_txt_files

    files = spark.createDataFrame(
        _robots_txt_files(), "host string, robots_txt string"
    )
    got = {
        r.host: r.crawl_delay
        for r in robots_crawl_delay(files, agent=_ROBOTS_AGENT).collect()
    }
    assert got == {
        "www.src1.com": 2.5,
        "www.src2.com": 1.0,
        "www.src4.com": 10.0,
    }


# RFC 9309 §2.2.3 / Google robots.txt documentation match cases: the
# wildcard-and-anchor table every compliant matcher must reproduce.
REP_MATCH_CASES = [
    ("/fish", "/fish", True), ("/fish", "/fishheads", True),
    ("/fish", "/Fish", False), ("/fish", "/catfish", False),
    ("/fish*", "/fishheads/yummy.html", True), ("/fish*", "/fis", False),
    ("/fish/", "/fish/salmon", True), ("/fish/", "/fish", False),
    ("/*.php", "/index.php", True), ("/*.php", "/filename.php?p=1", True),
    ("/*.php", "/", False), ("/*.php", "/windows.PHP", False),
    ("/*.php$", "/filename.php", True),
    ("/*.php$", "/filename.php?p=1", False),
    ("/*.php$", "/filename.php5", False),
    ("/fish*.php", "/fish.php", True),
    ("/fish*.php", "/fishheads/catfish.php?p=1", True),
    ("/fish*.php", "/Fish.PHP", False),
    # empty-segment and n=1-anchored edges
    ("/a*", "/a", True), ("/a*a$", "/a", False), ("/a*a$", "/aa", True),
    ("/a**b", "/ab", True), ("/fish$", "/fish", True),
    ("/fish$", "/fishheads", False),
]


def test_rep_wildcard_match_both_engines(spark):
    """rule_match_sql must reproduce the RFC/Google case table from the
    SAME template in BOTH dialects (r10: '*' and trailing-'$' support —
    §2.2.3 says crawlers MUST support them; the matcher was
    prefix-only)."""
    from xeloader_spark.operators.robots import (
        DUCK_D,
        SPARK_D,
        rule_match_sql,
    )

    con = duckdb.connect()
    try:
        for pat, path, exp in REP_MATCH_CASES:
            s = spark.sql(
                "SELECT "
                + rule_match_sql(SPARK_D, f"'{path}'", f"'{pat}'")
                + " AS m"
            ).collect()[0].m
            d = con.execute(
                "SELECT " + rule_match_sql(DUCK_D, f"'{path}'", f"'{pat}'")
            ).fetchone()[0]
            assert s == exp and d == exp, (pat, path, s, d, exp)
    finally:
        con.close()


def test_robots_parser_handles_tab_whitespace(spark):
    """RFC 9309 allows TABS around directive keys and values — ADVICE
    r9: bare trim() kept them, so 'Disallow:\\t/private' produced a
    prefix that matches no URL path (the rule failed OPEN) and a
    tab-indented line was dropped entirely."""
    from xeloader_spark.operators.robots import (
        parse_robots_txt,
        robots_crawl_delay,
    )

    body = (
        "User-agent: xelbot\n"
        "Disallow:\t/private\n"
        "\tAllow:\t/private/ok\t\n"
        "Crawl-delay\t: 3\n"
    )
    files = spark.createDataFrame(
        [("h1", body)], "host string, robots_txt string"
    )
    rules = sorted(
        (r.prefix, r.allow)
        for r in parse_robots_txt(files, agent="xelbot").collect()
    )
    assert rules == [("/private", False), ("/private/ok", True)]
    assert {
        r.host: r.crawl_delay
        for r in robots_crawl_delay(files, agent="xelbot").collect()
    } == {"h1": 3.0}


def test_robots_groups_with_same_agent_merge(spark):
    """RFC 9309 §2.2.1 conformance: when MULTIPLE groups name the same
    agent, the rules of ALL of them apply (they merge) — pinned on the
    shared fixture's src3, which carries two exact xelbot groups."""
    from xeloader_spark.operators.robots import parse_robots_txt
    from xeloader_spark.queries.crawl import _ROBOTS_AGENT, _robots_txt_files

    files = spark.createDataFrame(
        _robots_txt_files(), "host string, robots_txt string"
    )
    src3 = {
        (r.prefix, r.allow)
        for r in parse_robots_txt(files, agent=_ROBOTS_AGENT)
        .filter("host = 'www.src3.com'")
        .collect()
    }
    # first group's rules AND the second group's rule both present
    assert ("/", False) in src3
    assert ("/articles/23", True) in src3
    assert ("/second-group-block", False) in src3


def test_robots_agent_with_backslash_selects_same_group(spark):
    """A backslash in the agent token must not diverge the Spark plan
    from the DuckDB oracle (ADVICE r9: Spark C-escape-processes string
    literals, DuckDB doesn't — the same bug phrase_stream._sql_str
    fixed). Both engines must select the exact group verbatim."""
    import duckdb

    from xeloader_spark.operators.robots import (
        parse_robots_oracle_sql,
        parse_robots_txt,
    )

    agent = r"xel\bot"
    body = f"User-agent: {agent}\nDisallow: /a\n\nUser-agent: *\nDisallow: /b\n"
    files = spark.createDataFrame(
        [("h1", body)], "host string, robots_txt string"
    )
    got = sorted(
        (r.host, r.ln, r.prefix, r.allow)
        for r in parse_robots_txt(files, agent=agent).collect()
    )
    lit = body.replace("'", "''")
    oracle = duckdb.sql(
        parse_robots_oracle_sql(
            f"SELECT * FROM (VALUES ('h1', '{lit}')) v(host, robots_txt)",
            agent,
        )
    ).fetchall()
    assert got == sorted(tuple(r) for r in oracle)
    assert got == [("h1", 1, "/a", False)]


def test_robots_parser_handles_crlf_files(spark):
    """CRLF robots.txt (the common on-disk form) must parse identically
    to LF — r9 review: a '\\n'-only split left '\\r' on every value and
    the agent never matched, silently default-allowing the host."""
    from xeloader_spark.operators.robots import (
        parse_robots_txt,
        robots_crawl_delay,
        robots_sitemaps,
    )

    body = (
        "User-agent: xelbot\r\nDisallow: /private\r\n"
        "Crawl-delay: 2\r\nSitemap: https://h1/sm.xml\r\n"
    )
    files = spark.createDataFrame(
        [("h1", body)], "host string, robots_txt string"
    )
    rules = [
        (r.host, r.prefix, r.allow)
        for r in parse_robots_txt(files, agent="xelbot").collect()
    ]
    assert rules == [("h1", "/private", False)]
    assert {
        r.host: r.crawl_delay
        for r in robots_crawl_delay(files, agent="xelbot").collect()
    } == {"h1": 2.0}
    assert [r.sitemap_url for r in robots_sitemaps(files).collect()] == [
        "https://h1/sm.xml"
    ]


def test_feasible_budget_closed_form(spark):
    """Caps bind, surplus refills biggest headroom first (host breaks
    ties), and the total lands on min(budget, sum(cap)) exactly."""
    from xeloader_spark.operators.crawl import feasible_budget_allocate

    # budget unspendable: caps total 20 < budget 30
    hosts = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 1, 5.0), ("c", 1, 2.0)],
        "host string, weight long, delay double",
    )
    got = {
        r.host: (r.cap, r.refill, r.quota)
        for r in feasible_budget_allocate(hosts, 30, 10).collect()
    }
    # quotas 10 each; caps 11/3/6; capped 10/3/6; surplus 11;
    # headroom a=1 (b,c have none) -> a takes 1
    assert got == {"a": (11, 1, 11), "b": (3, 0, 3), "c": (6, 0, 6)}
    assert sum(q for _, _, q in got.values()) == min(30, 11 + 3 + 6)

    # partial refill: one surplus unit, two equal headrooms -> host asc
    hosts2 = spark.createDataFrame(
        [("a", 1, 5.0), ("b", 1, 1.0), ("c", 1, 1.0)],
        "host string, weight long, delay double",
    )
    got2 = {
        r.host: (r.cap, r.refill, r.quota)
        for r in feasible_budget_allocate(hosts2, 10, 10).collect()
    }
    # quotas 4/3/3; caps 3/11/11; capped 3/3/3; surplus 1; headroom
    # 0/8/8 -> b (tie with c, host asc) takes the single unit
    assert got2 == {"a": (3, 0, 3), "b": (11, 1, 4), "c": (11, 0, 3)}


def test_feasible_budget_invariants(spark):
    """On a 40-host varied matrix: Σ quota == min(budget, Σ cap),
    quota ≤ cap everywhere, and with no binding cap the allocation
    equals the uncapped Hamilton quotas."""
    from xeloader_spark.operators.crawl import (
        crawl_budget_allocate,
        feasible_budget_allocate,
    )

    rows = [
        (f"h{i:02d}", 1 + (i * 37) % 19, float(1 + i % 7)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "host string, weight long, delay double")
    budget, cycle = 997, 60
    out = feasible_budget_allocate(df, budget, cycle).collect()
    caps = {r.host: r.cap for r in out}
    assert all(r.quota <= caps[r.host] for r in out)
    assert sum(r.quota for r in out) == min(budget, sum(caps.values()))

    # giant cycle -> no cap binds -> identical to the uncapped quotas
    out2 = {
        r.host: r.quota
        for r in feasible_budget_allocate(df, budget, 10**6).collect()
    }
    exp = {
        r.host: r.quota for r in crawl_budget_allocate(df, budget).collect()
    }
    assert out2 == exp


def test_crawl_state_merge_semantics(spark):
    """All four merge behaviors on a hand-built matrix: ok-fetch of
    known URL updates date AND fingerprint; failed fetch carries BOTH
    unchanged; unfetched state carries; ok first-fetch inserts; failed
    first-fetch yields NO row."""
    from xeloader_spark.operators.crawl import crawl_state_merge

    state = spark.createDataFrame(
        [
            ("u/known-ok", "2026-01-03", "fp-old-1"),
            ("u/known-fail", "2026-01-05", "fp-old-2"),
            ("u/unfetched", "2026-01-07", "fp-old-3"),
        ],
        "url string, last_crawled string, fp string",
    )
    fetched = spark.createDataFrame(
        [
            ("u/known-ok", "2026-02-01", "fp-new-1", True),
            ("u/known-fail", "2026-02-01", "fp-new-2", False),
            ("u/new-ok", "2026-02-01", "fp-new-4", True),
            ("u/new-fail", "2026-02-01", "fp-new-5", False),
            # malformed log row: ok but no date — must carry, never
            # delete the state row
            ("u/unfetched", None, "fp-new-3", True),
        ],
        "url string, fetch_date string, new_fp string, ok boolean",
    )
    got = {
        r.url: (r.last_crawled, r.fp, r.merge_action)
        for r in crawl_state_merge(state, fetched, fp_col="fp").collect()
    }
    assert got == {
        "u/known-ok": ("2026-02-01", "fp-new-1", "updated"),
        "u/known-fail": ("2026-01-05", "fp-old-2", "carried"),
        "u/unfetched": ("2026-01-07", "fp-old-3", "carried"),
        "u/new-ok": ("2026-02-01", "fp-new-4", "inserted"),
    }  # u/new-fail: never crawled -> no state row

    # dateless variant (no fingerprint tracking)
    got2 = {
        r.url: r.merge_action
        for r in crawl_state_merge(
            state.drop("fp"), fetched.drop("new_fp")
        ).collect()
    }
    assert got2 == {
        "u/known-ok": "updated",
        "u/known-fail": "carried",
        "u/unfetched": "carried",
        "u/new-ok": "inserted",
    }


def test_url_trap_score_shapes(spark):
    """Hand-built URLs hit each signal: cycling segments and session
    ids flag alone (strong), two medium signals compose, weak signals
    alone never flag, and a clean URL scores 0."""
    from xeloader_spark.operators.crawl import url_trap_score

    urls = [
        ("https://h.com/a/b/a/b/a/b",),                      # repeats: 3(+2 if deep)
        ("https://h.com/x?PHPSESSID=deadbeef&p=1",),          # session (case-insens): 3
        ("https://h.com/c/idx/arc/2019/1/2020/2/2021/x",),    # 3 years + depth 9: 2+2
        ("https://h.com/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8",), # params only: 1
        ("https://h.com/items/" + "x" * 600,),                # length only: 1
        ("https://h.com/articles/7?id=3",),                   # clean: 0
    ]
    df = spark.createDataFrame(urls, "url string")
    vals = {r.url[:30]: (r.trap_score, r.is_trap)
            for r in url_trap_score(df).collect()}
    assert vals["https://h.com/a/b/a/b/a/b"[:30]] == (3, True)
    assert vals["https://h.com/x?PHPSESSID=dead"[:30]] == (3, True)
    assert vals["https://h.com/c/idx/arc/2019/1"[:30]] == (4, True)
    assert vals["https://h.com/p?a=1&b=2&c=3&d="[:30]] == (1, False)
    assert vals[("https://h.com/items/" + "x" * 600)[:30]] == (1, False)
    assert vals["https://h.com/articles/7?id=3"[:30]] == (0, False)


def test_host_backoff_trailing_and_ladder(spark):
    """Trailing-failure run counted without a sort; the factor ladder
    caps at 2^max_level; a host with NO success backs off on its whole
    log; Retry-After surfaces only from 429/503."""
    from xeloader_spark.operators.crawl import host_backoff

    rows = [
        # healthy: 3 fetches, no errors
        ("a", 0, 200, None), ("a", 1, 304, None), ("a", 2, 404, None),
        # ends with 2 failures after a success
        ("b", 0, 200, None), ("b", 1, 503, 30), ("b", 2, 500, None),
        # never succeeded: trailing = all 4, capped at level 3
        ("c", 0, 503, 10), ("c", 1, 500, None), ("c", 2, 429, 99),
        ("c", 3, 503, 44),
        # recovered: the 429's Retry-After mandate is SPENT by the
        # later success (RFC 9110: it governs the next request)
        ("d", 0, 429, 120), ("d", 1, 200, None),
    ]
    df = spark.createDataFrame(
        rows, "host string, fetch_idx long, status int, retry_after long"
    )
    got = {
        r.host: (r.n_errors, r.trailing_failures, r.backoff_factor,
                 r.retry_after_s)
        for r in host_backoff(df, retry_after_col="retry_after").collect()
    }
    # 404 is an answer, not pressure; c's retry_after max is 99 (the 429)
    assert got == {
        "a": (0, 0, 1, None),
        "b": (2, 2, 4, 30),
        "c": (4, 4, 8, 99),
        "d": (1, 0, 1, None),
    }


def test_robots_cache_policy_classes(spark):
    """All four RFC 9309 access classes + freshness orthogonality:
    a use_cached host with a fresh success is NOT refetch-due."""
    from xeloader_spark.operators.crawl import robots_cache_policy

    now, day = 1_000_000, 86_400
    rows = [
        ("fresh-ok", now - 100, 200),
        ("stale-ok", now - 2 * day, 200),
        # conditional-GET revalidation: the old 200 plus a fresh 304 —
        # the 304 refreshes the clock AND classes use_robots
        ("revalidated", now - 2 * day, 200),
        ("revalidated", now - 200, 304),
        ("gone", now - 50, 404),
        ("down-cached-fresh", now - 3_600, 200),
        ("down-cached-fresh", now - 100, 503),
        ("down-cached-stale", now - 2 * day, 200),
        ("down-cached-stale", now - 100, 503),
        ("never-up", now - 500, 0),
        ("never-up", now - 100, 503),
    ]
    df = spark.createDataFrame(
        rows, "host string, fetched_at_s long, status int"
    )
    got = {
        r.host: (r.access_class, r.refetch_due)
        for r in robots_cache_policy(df, now_s=now, max_age_s=day).collect()
    }
    assert got == {
        "fresh-ok": ("use_robots", False),
        "stale-ok": ("use_robots", True),
        "revalidated": ("use_robots", False),
        "gone": ("allow_all", False),
        "down-cached-fresh": ("use_cached", False),
        "down-cached-stale": ("use_cached", True),
        "never-up": ("disallow_all", True),
    }


def test_sitemap_conformance_defaults(spark):
    """Spec defaults: a small file conforms; the parameterized
    thresholds flag URL-count and byte overruns independently."""
    from xeloader_spark.operators.crawl import sitemap_conformance

    xml3 = (
        "<urlset>" + "".join(
            f"<url><loc>https://h.com/{i}</loc></url>" for i in range(3)
        ) + "</urlset>"
    )
    df = spark.createDataFrame([(xml3,)], "sitemap_xml string")
    r = sitemap_conformance(df).first()
    assert (r.n_urls, r.urls_ok, r.bytes_ok, r.conformant) == (3, True, True, True)
    r2 = sitemap_conformance(df, max_urls=2).first()
    assert (r2.urls_ok, r2.bytes_ok, r2.conformant) == (False, True, False)
    r3 = sitemap_conformance(df, max_bytes=50).first()
    assert (r3.urls_ok, r3.bytes_ok, r3.conformant) == (True, False, False)


def test_merge_assert_unique_guard(spark):
    """`assert_unique=True` (r13, ADVICE r12 #3): the happy path is
    value-identical to the unguarded merge/delta, and a duplicated
    state or fetch URL FAILS the job naming the key instead of
    silently fanning out the full-outer join."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from xeloader_spark.operators.crawl import (
        crawl_state_merge,
        recrawl_delta,
    )

    state = spark.createDataFrame(
        [("u1", "2026-01-01", "f1"), ("u2", "2026-01-05", "f2")],
        "url string, last_crawled string, fp string",
    )
    fetched = spark.createDataFrame(
        [("u2", "2026-02-01", "n2", True), ("u3", "2026-02-01", "n3", True)],
        "url string, fetch_date string, new_fp string, ok boolean",
    )
    plain = {
        (r.url, r.merge_action)
        for r in crawl_state_merge(state, fetched, fp_col="fp").collect()
    }
    guarded = {
        (r.url, r.merge_action)
        for r in crawl_state_merge(
            state, fetched, fp_col="fp", assert_unique=True
        ).collect()
    }
    assert plain == guarded == {
        ("u1", "carried"), ("u2", "updated"), ("u3", "inserted")
    }

    dup_state = state.unionAll(
        spark.createDataFrame(
            [("u1", "2026-01-02", "f1b")],
            "url string, last_crawled string, fp string",
        )
    )
    # unguarded: the duplicate silently fans out (the documented hazard)
    assert crawl_state_merge(dup_state, fetched, fp_col="fp").count() == 4
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as ei:
        crawl_state_merge(
            dup_state, fetched, fp_col="fp", assert_unique=True
        ).count()
    assert "duplicate crawl-state row" in str(ei.value)

    dup_fetch = fetched.unionAll(fetched.limit(1))
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        crawl_state_merge(
            state, dup_fetch, fp_col="fp", assert_unique=True
        ).count()

    sm = spark.createDataFrame(
        [("u1", "2026-01-03"), ("u9", None)], "loc string, lastmod string"
    )
    delta_plain = {
        (r.loc, r.status)
        for r in recrawl_delta(sm, state.drop("fp")).collect()
    }
    delta_guarded = {
        (r.loc, r.status)
        for r in recrawl_delta(
            sm, state.drop("fp"), assert_unique=True
        ).collect()
    }
    assert delta_plain == delta_guarded == {("u1", "stale"), ("u9", "new")}
    # collect(), not count(): the left join's right side is
    # distinct-keyed after the guard aggregate, so a bare count() lets
    # Catalyst eliminate the join (guard subtree never executes)
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        recrawl_delta(sm, dup_state.drop("fp"), assert_unique=True).collect()
