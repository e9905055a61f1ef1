"""Crawl-planning queries (round 9) — the scheduling half of the crawl
family: redirect-map resolution, sitemap discovery feeding the
frontier, anchor-text relevance signals, and rendezvous fetcher
sharding. Each derives its input deterministically in-plan from the
`documents` fixture (the URL/HTML-seeding discipline of
`queries/text.py`) and carries an exact DuckDB oracle rendered from
the SAME SQL templates as the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..plans.truncate import registered_local_checkpoint

from ..catalog import load_table
from ..operators.crawl import (
    HRW_DUCK,
    SITEMAP_URL_RE,
    hrw_shard_sql,
    parse_sitemap,
    redirects_oracle_sql,
    rendezvous_assign,
    resolve_redirects,
)
from ..operators.links import (
    ANCHOR_RE,
    ANCHOR_TEXT_RE,
    dst_host_sql,
    href_value_sql,
    resolve_href_sql,
)
from ..operators.kernels import local_frame
from ..operators.robots import DUCK_D, robots_exprs, robots_filter
from .text import _ROBOTS_RULES, _SRC_HOST

ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# redirect resolution

# Redirect map seeded from doc_id arithmetic: nodes 0..119, every node
# not a multiple of 8 redirects one step down (chains up to 7 hops into
# terminals 0,8,16,…), EXCEPT 41→42→43→41 — a deliberate 3-cycle whose
# members and feeders (44..47 walk into it) must come back unresolved.
_REDIR_CASE = (
    "CASE WHEN n = 41 THEN 42 WHEN n = 42 THEN 43 WHEN n = 43 THEN 41 "
    "WHEN n % 8 <> 0 THEN n - 1 END"
)
_REDIR_HOPS = 8


def _r_url(n_sql: str, s_type: str) -> str:
    return (
        f"concat('https://www.src', CAST(({n_sql}) % 20 AS {s_type}), "
        f"'.com/r/', CAST({n_sql} AS {s_type}))"
    )


def _redirect_edges_sql(s_type: str) -> str:
    """The seeded redirect map as SQL over `documents` (DuckDB form;
    the Spark plan builds the identical frame from the same templates
    with DataFrame ops)."""
    return f"""
        SELECT {_r_url("n", s_type)} AS src,
               {_r_url("dst_n", s_type)} AS dst
        FROM (
            SELECT n, {_REDIR_CASE} AS dst_n
            FROM (SELECT DISTINCT doc_id % 120 AS n FROM documents)
        ) WHERE dst_n IS NOT NULL
    """


def q_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect chains folded to terminal URLs by pointer doubling
    (`operators/crawl.resolve_redirects`) — the crawl's URL-identity
    step: a frontier that doesn't resolve redirects fetches the same
    page once per alias and poisons its dedup keys. log2(8)=3 slim
    self equi-joins cover 8 hops (the linear walk is the oracle);
    loops and over-long chains come back resolved=false with NULL
    terminal — never an infinite job."""
    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select((F.col("doc_id") % 120).alias("n")).distinct()
    edges = (
        nodes.withColumn("dst_n", F.expr(_REDIR_CASE))
        .filter(F.col("dst_n").isNotNull())
        .selectExpr(
            f"{_r_url('n', 'STRING')} AS src",
            f"{_r_url('dst_n', 'STRING')} AS dst",
        )
    )
    return resolve_redirects(edges, max_hops=_REDIR_HOPS)


ORACLES["q_redirect_resolution"] = redirects_oracle_sql(
    _redirect_edges_sql("VARCHAR"), _REDIR_HOPS
)


# ---------------------------------------------------------------------------
# anchor text

# Anchor-seeded pages: multi-word anchor texts (the signal being
# aggregated), any-case tags and an upper-case absolute scheme (the
# ADVICE r8 cases), plus the two drop classes (mailto:, fragment).
def _anchor_html_sql(s_type: str) -> str:
    return f"""
    concat(
      '<html><body>',
      '<a href="https://www.src',
      CAST(1 + (doc_id * 7 + 3) % 10 AS {s_type}),
      '.com/g/', CAST(doc_id % 31 AS {s_type}),
      '">read the full guide</a>',
      '<p>', substr(text, 1, 30), '</p>',
      '<a class="nav" href="/local/', CAST(doc_id % 17 AS {s_type}),
      '">more from this site</a>',
      CASE WHEN doc_id % 3 = 0
           THEN concat('<A HREF="HTTPS://WWW.SRC',
                       CAST(1 + (doc_id * 5 + 1) % 10 AS {s_type}),
                       '.COM/Top/">best ', source, ' picks</A>')
           ELSE '' END,
      CASE WHEN doc_id % 4 = 1
           THEN concat('<a href="https://www.src',
                       CAST(1 + doc_id % 10 AS {s_type}),
                       '.com/news">breaking news today</a>')
           ELSE '' END,
      '<a href=''/sq-local/', CAST(doc_id % 13 AS {s_type}),
      ''' title=''t''>single quoted pick</a>',
      '<a href=/uq-local/', CAST(doc_id % 11 AS {s_type}),
      '>bare value link</a>',
      '<a href="mailto:x@y.z">contact us</a>',
      '<a href="#top">back to top</a>',
      '</body></html>')
    """


_TOP_TERMS = 3


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (`operators/links.extract_anchors`) —
    what the web *calls* each host, the classic off-page relevance
    signal (anchor terms describe the target better than the target's
    own boilerplate): anchors extracted WITH their text in one
    zero-shuffle pass, resolved through the shared href CASE, then one
    (dst_host, term) aggregate and a top-3-per-host rank window
    (count desc, term asc — total order, so the selected set is
    engine-independent). Two slim shuffles; pages never move."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_SRC_HOST).alias("src_host"),
        F.expr(_anchor_html_sql("STRING")).alias("html"),
    )
    from ..operators.links import extract_anchors

    terms = (
        extract_anchors(docs)
        .select(
            "dst_host",
            F.explode(F.split(F.lower("anchor_text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    agg = terms.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs")
    )
    return agg.withColumn(
        "rnk",
        F.expr(
            "CAST(row_number() OVER (PARTITION BY dst_host "
            "ORDER BY n_refs DESC, term ASC) AS BIGINT)"
        ),
    ).filter(F.col("rnk") <= _TOP_TERMS)


def _anchor_text_sql() -> str:
    resolved = resolve_href_sql("href", "src_host")
    return f"""
        WITH el AS (
            SELECT doc_id, src_host,
                   unnest(regexp_extract_all(html, '{ANCHOR_RE}', 0)) AS a
            FROM (
                SELECT doc_id, {_SRC_HOST} AS src_host,
                       {_anchor_html_sql("VARCHAR")} AS html
                FROM documents
            )
        ),
        rows_ AS (
            SELECT src_host,
                   {href_value_sql('a')} AS href,
                   trim(regexp_extract(a, '{ANCHOR_TEXT_RE}', 1))
                       AS anchor_text
            FROM el
        ),
        good AS (
            SELECT {dst_host_sql(resolved)} AS dst_host, anchor_text
            FROM rows_ WHERE {resolved} IS NOT NULL
        ),
        terms AS (
            SELECT dst_host, t AS term FROM (
                SELECT dst_host,
                       unnest(string_split(lower(anchor_text), ' ')) AS t
                FROM good
            ) WHERE t <> ''
        ),
        agg AS (
            SELECT dst_host, term, CAST(COUNT(*) AS BIGINT) AS n_refs
            FROM terms GROUP BY 1, 2
        )
        SELECT dst_host, term, n_refs, rnk FROM (
            SELECT dst_host, term, n_refs,
                   CAST(row_number() OVER (PARTITION BY dst_host
                        ORDER BY n_refs DESC, term ASC) AS BIGINT) AS rnk
            FROM agg
        ) WHERE rnk <= {_TOP_TERMS}
    """


ORACLES["q_anchor_text"] = _anchor_text_sql()


# ---------------------------------------------------------------------------
# sitemap discovery

# Sitemap entries per host: loc numbers (doc_id*7)%50 — hosts whose
# source index ≡ 0 (mod 5) re-list exactly their crawled residues (all
# entries known), every other host lists residues the crawl has never
# seen (all entries new) — so is_new carries signal in both directions.
_SM_M = "(doc_id * 7) % 50"
_CRAWLED_M = "doc_id % 50"


def _sm_entry_sql(s_type: str) -> str:
    """One <url> element from (source, m) — shared by both engines."""
    return (
        "concat('<url><loc>https://www.', source, '.com/articles/', "
        f"CAST(m AS {s_type}), '</loc><lastmod>2026-01-', "
        f"lpad(CAST(1 + m % 28 AS {s_type}), 2, '0'), "
        f"'</lastmod><priority>0.', CAST(1 + m % 9 AS {s_type}), "
        "'</priority></url>')"
    )


_LOC_M_RE = "/articles/([0-9]+)$"


def q_sitemap_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery feeding the frontier
    (`operators/crawl.parse_sitemap`): per-host sitemap.xml synthesized
    in-plan (one aggregate — entries sorted by loc number so both
    engines build byte-identical XML), parsed back to typed (loc,
    lastmod, priority) rows with zero shuffles, REP-gated with the
    fixture ruleset (a compliant crawler checks robots BEFORE queueing
    sitemap finds), and anti-checked against the already-crawled
    (host, article) set — `is_new` marks genuinely novel URLs. Plan:
    two slim aggregates + one broadcastable left join."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.selectExpr(
        "source", f"CAST({_SM_M} AS BIGINT) AS m"
    ).distinct()
    sm = pairs.groupBy("source").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            f"named_struct('m', m, 'e', {_sm_entry_sql('STRING')})"
            ")), x -> x.e), '')"
        ).alias("body")
    )
    xml = sm.select(
        F.expr(
            "concat('<?xml version=\"1.0\"?><urlset>', body, '</urlset>')"
        ).alias("sitemap_xml")
    )
    gated = robots_filter(parse_sitemap(xml), _ROBOTS_RULES, url_col="loc")
    crawled = docs.selectExpr(
        f"{_SRC_HOST} AS c_host", f"CAST({_CRAWLED_M} AS BIGINT) AS c_m"
    ).distinct()
    out = gated.withColumn(
        "loc_m",
        F.expr(f"CAST(regexp_extract(loc, '{_LOC_M_RE}', 1) AS BIGINT)"),
    ).join(
        crawled,
        (F.col("host") == F.col("c_host")) & (F.col("loc_m") == F.col("c_m")),
        "left",
    )
    return out.select(
        "host",
        "loc",
        "lastmod",
        "priority",
        "matched_len",
        "allowed",
        F.col("c_host").isNull().alias("is_new"),
    )


def _sitemap_seed_sql() -> str:
    e = robots_exprs(DUCK_D, _ROBOTS_RULES, "loc")
    return f"""
        WITH pairs AS (
            SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
            FROM documents
        ),
        sm AS (
            SELECT source,
                   string_agg({_sm_entry_sql("VARCHAR")}, '' ORDER BY m)
                       AS body
            FROM pairs GROUP BY source
        ),
        xml AS (
            SELECT concat('<?xml version="1.0"?><urlset>', body,
                          '</urlset>') AS sitemap_xml
            FROM sm
        ),
        blocks AS (
            SELECT unnest(regexp_extract_all(sitemap_xml,
                          '{SITEMAP_URL_RE}', 0)) AS u
            FROM xml
        ),
        parsed AS (
            SELECT nullif(regexp_extract(u, '<loc>([^<]*)</loc>', 1), '')
                       AS loc,
                   nullif(regexp_extract(u,
                          '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod,
                   try_cast(nullif(regexp_extract(u,
                          '<priority>([^<]*)</priority>', 1), '')
                       AS DOUBLE) AS priority
            FROM blocks
        ),
        gated AS (
            SELECT loc, lastmod, priority,
                   {e["host"]} AS host,
                   {e["matched_len"]} AS matched_len,
                   {e["allowed"]} AS allowed,
                   CAST(regexp_extract(loc, '{_LOC_M_RE}', 1) AS BIGINT)
                       AS loc_m
            FROM parsed WHERE loc IS NOT NULL
        ),
        crawled AS (
            SELECT DISTINCT {_SRC_HOST} AS c_host,
                   CAST({_CRAWLED_M} AS BIGINT) AS c_m
            FROM documents
        )
        SELECT g.host, g.loc, g.lastmod, g.priority, g.matched_len,
               g.allowed, c.c_host IS NULL AS is_new
        FROM gated g
        LEFT JOIN crawled c ON g.host = c.c_host AND g.loc_m = c.c_m
    """


ORACLES["q_sitemap_seed"] = _sitemap_seed_sql()


# ---------------------------------------------------------------------------
# sitemap INDEX discovery (r10, VERDICT r9 #2) — the two-level form
# every large site actually publishes: robots.txt points at a
# <sitemapindex>, whose members are the real urlsets. Members partition
# the host's _SM_M residues by m % 3 into three part files.

_N_SM_PARTS = 3


def _sm_member_url_sql(s_type: str) -> str:
    return (
        "concat('https://www.', source, '.com/sitemaps/part', "
        f"CAST(p AS {s_type}), '.xml')"
    )


def _sm_member_entry_sql(s_type: str) -> str:
    """One <sitemap> member entry of the index, from (source, p)."""
    return (
        f"concat('<sitemap><loc>', {_sm_member_url_sql(s_type)}, "
        f"'</loc><lastmod>2026-02-0', CAST(1 + p AS {s_type}), "
        "'</lastmod></sitemap>')"
    )


def q_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sitemap discovery
    (`operators/crawl.parse_sitemap_index` → fetch → `parse_sitemap`):
    each host's <sitemapindex> lists three member part files; the index
    parses to (host, sitemap_loc, sitemap_lastmod) rows, the member
    bodies are joined in by URL (the fetch step as an equi-join —
    rows-as-files, the WARC-fixture discipline), and each member parses
    to the final typed url entries WITH index lineage. Plan: two slim
    aggregates build the fixture XML, one zero-shuffle parse per level,
    one member-count-sized equi-join. At crawl scale the member join is
    the fetcher's (url → body) table — host-keyed on both sides."""
    from ..operators.crawl import parse_sitemap_index

    docs = load_table(spark, sf_dir, "documents")
    parts = docs.selectExpr(
        "source", f"CAST({_SM_M} AS BIGINT) AS m"
    ).distinct().withColumn("p", F.expr(f"m % {_N_SM_PARTS}"))
    # `bodies` feeds both the member urlsets and the index synthesis —
    # materialize it once (localCheckpoint, one-shot-share exemption)
    # instead of replaying the docs distinct + collect_list aggregate
    # per consumer.
    bodies = parts.groupBy("source", "p").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            f"named_struct('m', m, 'e', {_sm_entry_sql('STRING')})"
            ")), x -> x.e), '')"
        ).alias("body")
    ).transform(registered_local_checkpoint)
    members = bodies.select(
        F.expr(_sm_member_url_sql("STRING")).alias("member_url"),
        F.expr(
            "concat('<?xml version=\"1.0\"?><urlset>', body, '</urlset>')"
        ).alias("sitemap_xml"),
    )
    index = bodies.groupBy("source").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            f"named_struct('p', p, 'e', {_sm_member_entry_sql('STRING')})"
            ")), x -> x.e), '')"
        ).alias("ibody")
    ).select(
        F.expr("lower(concat('www.', source, '.com'))").alias("host"),
        F.expr(
            "concat('<?xml version=\"1.0\"?><sitemapindex>', ibody, "
            "'</sitemapindex>')"
        ).alias("sitemap_index_xml"),
    )
    discovered = parse_sitemap_index(index)
    fetched = discovered.join(
        members,
        discovered["sitemap_loc"] == members["member_url"],
    ).drop("member_url")
    from ..operators.crawl import parse_sitemap

    return parse_sitemap(fetched).select(
        "host", "sitemap_loc", "sitemap_lastmod", "loc", "lastmod",
        "priority",
    )


def _sitemap_index_sql() -> str:
    from ..operators.crawl import SITEMAP_MEMBER_RE

    loc = "nullif(regexp_extract(u, '<loc>([^<]*)</loc>', 1), '')"
    return f"""
        WITH parts AS (
            SELECT source, m, m % {_N_SM_PARTS} AS p FROM (
                SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
                FROM documents
            )
        ),
        bodies AS (
            SELECT source, p,
                   string_agg({_sm_entry_sql("VARCHAR")}, '' ORDER BY m)
                       AS body
            FROM parts GROUP BY source, p
        ),
        members AS (
            SELECT {_sm_member_url_sql("VARCHAR")} AS member_url,
                   concat('<?xml version="1.0"?><urlset>', body,
                          '</urlset>') AS sitemap_xml
            FROM bodies
        ),
        index_ AS (
            SELECT lower(concat('www.', source, '.com')) AS host,
                   concat('<?xml version="1.0"?><sitemapindex>',
                          string_agg({_sm_member_entry_sql("VARCHAR")},
                                     '' ORDER BY p),
                          '</sitemapindex>') AS xml
            FROM bodies GROUP BY source
        ),
        disc AS (
            SELECT host,
                   nullif(regexp_extract(s, '<loc>([^<]*)</loc>', 1), '')
                       AS sitemap_loc,
                   nullif(regexp_extract(s,
                          '<lastmod>([^<]*)</lastmod>', 1), '')
                       AS sitemap_lastmod
            FROM (
                SELECT host,
                       unnest(regexp_extract_all(xml,
                              '{SITEMAP_MEMBER_RE}', 0)) AS s
                FROM index_
            )
        ),
        fetched AS (
            SELECT d.host, d.sitemap_loc, d.sitemap_lastmod, m.sitemap_xml
            FROM disc d JOIN members m ON d.sitemap_loc = m.member_url
            WHERE d.sitemap_loc IS NOT NULL
        ),
        ub AS (
            SELECT host, sitemap_loc, sitemap_lastmod,
                   unnest(regexp_extract_all(sitemap_xml,
                          '{SITEMAP_URL_RE}', 0)) AS u
            FROM fetched
        )
        SELECT host, sitemap_loc, sitemap_lastmod,
               {loc} AS loc,
               nullif(regexp_extract(u,
                      '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod,
               try_cast(nullif(regexp_extract(u,
                      '<priority>([^<]*)</priority>', 1), '')
                   AS DOUBLE) AS priority
        FROM ub WHERE {loc} IS NOT NULL
    """


ORACLES["q_sitemap_index"] = _sitemap_index_sql()




# ---------------------------------------------------------------------------
# rendezvous fetcher sharding

_N_FETCHERS = 8
_LOST_FETCHER = 0


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) fetcher sharding
    (`operators/crawl.rendezvous_assign`) with its minimal-disruption
    contract made falsifiable: assign every host to one of 8 fetcher
    shards, re-assign with fetcher 0 dead, and pin per host that it
    moved IF AND ONLY IF it was on the lost fetcher (`stability_ok`) —
    the property that makes HRW the fleet-scale answer (a mod-N hash
    remaps 7/8 of all hosts and dumps every politeness queue). Both
    assignments are zero-shuffle per-row HOF projections; the oracle
    replays the identical md5 argmax."""
    hosts = (
        load_table(spark, sf_dir, "documents")
        .selectExpr(f"{_SRC_HOST} AS host")
        .distinct()
    )
    a = rendezvous_assign(hosts, _N_FETCHERS, out_col="shard")
    b = rendezvous_assign(
        a,
        _N_FETCHERS,
        exclude=frozenset({_LOST_FETCHER}),
        out_col="shard_after_loss",
    )
    moved = F.col("shard") != F.col("shard_after_loss")
    return b.select(
        "host",
        "shard",
        "shard_after_loss",
        moved.alias("moved"),
        (moved == (F.col("shard") == _LOST_FETCHER)).alias("stability_ok"),
    )


def _rendezvous_sql() -> str:
    full = hrw_shard_sql(HRW_DUCK, "host", list(range(_N_FETCHERS)))
    minus = hrw_shard_sql(
        HRW_DUCK,
        "host",
        [i for i in range(_N_FETCHERS) if i != _LOST_FETCHER],
    )
    return f"""
        SELECT host, shard, shard_after_loss,
               shard <> shard_after_loss AS moved,
               (shard <> shard_after_loss) = (shard = {_LOST_FETCHER})
                   AS stability_ok
        FROM (
            SELECT host, {full} AS shard, {minus} AS shard_after_loss
            FROM (SELECT DISTINCT {_SRC_HOST} AS host FROM documents)
        )
    """


ORACLES["q_rendezvous_shards"] = _rendezvous_sql()


# ---------------------------------------------------------------------------
# robots.txt parsing — raw file text → rules table (completing raw REP
# → rules-as-data → gate). Files are rendered in Python from the SAME
# _ROBOTS_RULES fixture both robots gates use, wrapped in the noise a
# real file carries: a decoy group for another product token, comments
# (inline and whole-line), case-varied keys/tokens, a multi-token
# group, an empty Disallow (RFC no-op), Sitemap directives, and — on
# src1 — a trailing wildcard group that MUST be ignored because an
# exact group exists.

_ROBOTS_AGENT = "xelbot"


def _robots_txt_files() -> list[tuple[str, str]]:
    from collections import defaultdict

    by_host: dict[str, list[tuple[str, bool]]] = defaultdict(list)
    for h, p, a in _ROBOTS_RULES:
        by_host[h].append((p, a))
    files = []
    for host, rules in sorted(by_host.items()):
        lines = [
            "# synthetic fixture file",
            "User-agent: megabot",
            "Disallow: /megabot-only",
            "Crawl-delay: 99  # decoy group's delay — must not leak",
            "",
        ]
        if host == "www.src4.com":
            lines += ["User-agent: *  # star fallback — xelbot unnamed"]
        elif host == "www.src2.com":
            lines += [
                "User-agent: xelbot",
                "User-agent: otherbot  # multi-token group",
            ]
        else:
            lines += ["user-agent: XelBot  # case-insensitive key+token"]
        lines += [
            ("Allow: " if a else "Disallow: ") + p for p, a in rules
        ]
        # RFC 9309 allows TABS around keys and values (ADVICE r9: bare
        # trim() kept them and the rules failed open) — every host
        # carries a tab-valued and a tab-indented rule that MUST parse
        lines += [
            "Disallow:\t/tab-value-block",
            "\tAllow:\t/tab-value-block/ok\t",
        ]
        if host == "www.src1.com":
            lines += ["Crawl-delay: 2.5"]
        elif host == "www.src2.com":
            lines += [
                "Crawl-delay: fast  # non-numeric: dropped loudly",
                "Crawl-delay: 1",
            ]
        elif host == "www.src4.com":
            lines += ["Crawl-delay: 10"]  # via the star fallback group
        # src3 declares none — absent from the crawl-delay output
        lines += [
            "Disallow:   # empty value: RFC no-op",
            f"Sitemap: https://{host}/sitemap.xml",
        ]
        if host == "www.src1.com":
            lines += ["", "User-agent: *", "Disallow: /starline-decoy"]
        elif host == "www.src3.com":
            # RFC 9309 §2.2.1: MULTIPLE groups naming the same agent
            # all apply (rules merge) — src3 carries a second exact
            # group whose rule must appear alongside the first group's
            lines += [
                "",
                "User-agent: XELBOT  # second exact group — rules merge",
                "Disallow: /second-group-block",
            ]
        # src2 is authored with CRLF line endings (the Windows-authored
        # robots.txt case) — both engines split on \r?\n
        sep = "\r\n" if host == "www.src2.com" else "\n"
        files.append((host, sep.join(lines)))
    return files


def _robots_files(spark: SparkSession) -> DataFrame:
    """The fixture robots.txt files as a (host, robots_txt) frame."""
    return local_frame(
        spark, _robots_txt_files(), "host string, robots_txt string"
    )


def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt files parsed to the rules table
    (`operators/robots.parse_robots_txt`) — RFC 9309 group semantics
    for one product token: runs of User-agent lines own the rules that
    follow; exact-token groups beat wildcard groups host-wide;
    comments/blank lines/empty values/Sitemap directives are noise.
    Every fixture file carries a decoy group (and src1 a trailing
    wildcard group) that MUST NOT leak into the output. The oracle is
    the full SQL replay of the parse — shared scalar templates, same
    explicit-frame windows."""
    from ..operators.robots import parse_robots_txt

    return parse_robots_txt(_robots_files(spark), agent=_ROBOTS_AGENT)


def _robots_parse_sql() -> str:
    from ..operators.robots import parse_robots_oracle_sql

    vals = ", ".join(
        "('" + h + "', '" + txt.replace("'", "''") + "')"
        for h, txt in _robots_txt_files()
    )
    return parse_robots_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(host, robots_txt)",
        _ROBOTS_AGENT,
    )


ORACLES["q_robots_parse"] = _robots_parse_sql()


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap directives extracted from the robots.txt fixture files
    (`operators/robots.robots_sitemaps`) — the hop that CONNECTS the
    REP family to sitemap discovery: a compliant crawler learns each
    host's sitemap URL from robots.txt, then `q_sitemap_seed` parses
    what it fetches there. Global metadata per RFC 9309 (not
    group-scoped), so extraction is one zero-shuffle line scan with
    the shared key/value templates."""
    from ..operators.robots import robots_sitemaps

    return robots_sitemaps(_robots_files(spark))


def _robots_sitemaps_sql() -> str:
    from ..operators.robots import (
        ROBOTS_CLEAN_SQL,
        ROBOTS_KEY_SQL,
        ROBOTS_VAL_SQL,
    )

    vals = ", ".join(
        "('" + h + "', '" + txt.replace("'", "''") + "')"
        for h, txt in _robots_txt_files()
    )
    c = ROBOTS_CLEAN_SQL.format(raw="_raw")
    return f"""
        WITH files AS (
            SELECT * FROM (VALUES {vals}) v(host, robots_txt)
        ),
        raw_lines AS (
            SELECT host,
                   generate_subscripts(ls, 1) - 1 AS ln,
                   unnest(ls) AS _raw
            FROM (
                SELECT host,
                       regexp_split_to_array(robots_txt, '\r?\n') AS ls
                FROM files
            )
        ),
        lines_ AS (
            SELECT host, ln,
                   {ROBOTS_KEY_SQL.format(c="c")} AS k,
                   {ROBOTS_VAL_SQL.format(c="c")} AS v
            FROM (SELECT host, ln, {c} AS c FROM raw_lines)
        )
        SELECT host, ln, v AS sitemap_url
        FROM lines_ WHERE k = 'sitemap' AND v <> ''
    """


ORACLES["q_robots_sitemaps"] = _robots_sitemaps_sql()


def q_robots_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host Crawl-delay for the fixture agent
    (`operators/robots.robots_crawl_delay`) — the politeness directive
    resolved through the SAME exact-beats-wildcard group selection as
    the rules parse: the decoy group's delay must not leak, the
    non-numeric value must drop loudly, the star-fallback host must
    still get its delay, and the silent host must be absent."""
    from ..operators.robots import robots_crawl_delay

    return robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT)


def _robots_crawl_delay_sql() -> str:
    from ..operators.robots import crawl_delay_oracle_sql

    vals = ", ".join(
        "('" + h + "', '" + txt.replace("'", "''") + "')"
        for h, txt in _robots_txt_files()
    )
    return crawl_delay_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(host, robots_txt)",
        _ROBOTS_AGENT,
    )


ORACLES["q_robots_crawl_delay"] = _robots_crawl_delay_sql()


# ---------------------------------------------------------------------------
# politeness-aware fetch schedule (r10, VERDICT r9 #4)

_DEFAULT_CRAWL_DELAY = 5.0


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch schedule
    (`operators/crawl.fetch_schedule`): the per-host frontier order
    composed with each host's Crawl-delay — resolved from the SAME
    robots.txt fixture files through the exact-beats-wildcard group
    selection (`robots_crawl_delay`) — into (host, url, wave, delay,
    scheduled_offset). Hosts without a directive get the 5 s default;
    the offset arithmetic ((wave-1) × delay with exact-binary delays)
    is oracle-exact. One host window + one host-dimension left join."""
    from ..operators.crawl import fetch_schedule
    from ..operators.robots import robots_crawl_delay

    docs = load_table(spark, sf_dir, "documents")
    frontier = docs.selectExpr(
        f"{_SRC_HOST} AS host",
        f"concat('https://', {_SRC_HOST}, '/articles/', "
        "CAST(doc_id % 50 AS STRING)) AS url",
    ).distinct()
    delays = robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT)
    return fetch_schedule(
        frontier, delays, default_delay=_DEFAULT_CRAWL_DELAY
    )


def _fetch_schedule_sql() -> str:
    from ..operators.robots import crawl_delay_oracle_sql

    vals = ", ".join(
        "('" + h + "', '" + txt.replace("'", "''") + "')"
        for h, txt in _robots_txt_files()
    )
    delays = crawl_delay_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(host, robots_txt)",
        _ROBOTS_AGENT,
    )
    d = f"coalesce(d.crawl_delay, CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))"
    return f"""
        WITH delays AS ({delays}),
        frontier AS (
            SELECT DISTINCT {_SRC_HOST} AS host,
                   concat('https://', {_SRC_HOST}, '/articles/',
                          CAST(doc_id % 50 AS VARCHAR)) AS url
            FROM documents
        ),
        w AS (
            SELECT host, url,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY url) AS BIGINT) AS wave
            FROM frontier
        )
        SELECT w.host, w.url, w.wave, {d} AS delay,
               CAST(w.wave - 1 AS DOUBLE) * {d} AS scheduled_offset
        FROM w LEFT JOIN delays d ON w.host = d.host
    """


ORACLES["q_fetch_schedule"] = _fetch_schedule_sql()


# ---------------------------------------------------------------------------
# priority-driven fetch schedule (r11, VERDICT r10 #5) — compose the two
# r10 families: parse_sitemap's typed DOUBLE priority ORDERS each host's
# politeness queue (priority DESC NULLS LAST, url), so the budget goes
# to the URLs the site itself marked important. Entries with m % 10 = 0
# have their <priority> element knocked out of the fixture XML, so the
# NULLS-LAST leg is exercised by real parse output, not a synthetic NULL.


def _sm_entry_pri_sql(s_type: str) -> str:
    """The shared sitemap <url> entry with the priority element removed
    for m % 10 = 0 (one occurrence per entry, so Spark's global
    regexp_replace and DuckDB's first-match agree)."""
    e = _sm_entry_sql(s_type)
    return (
        f"CASE WHEN m % 10 = 0 THEN regexp_replace({e}, "
        f"'<priority>[^<]*</priority>', '') ELSE {e} END"
    )


def q_priority_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-priority-driven politeness schedule
    (`operators/crawl.fetch_schedule` with `priority_col` — r11,
    VERDICT r10 #5): per-host sitemaps carry <priority> on most entries
    (knocked out where m % 10 = 0), `parse_sitemap` types them DOUBLE,
    and each host's fetch waves order by (priority DESC NULLS LAST,
    url) — high-priority URLs consume the host's Crawl-delay budget
    first, entries whose sitemap omitted priority queue last, and the
    offset arithmetic stays oracle-exact ((wave-1) × delay, exact-binary
    delays). Plan: one fixture aggregate, one zero-shuffle parse, one
    host window + one host-dimension left join (AQE broadcasts it)."""
    from ..operators.crawl import fetch_schedule
    from ..operators.robots import robots_crawl_delay

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.selectExpr(
        "source", f"CAST({_SM_M} AS BIGINT) AS m"
    ).distinct()
    sm = (
        pairs.groupBy("source")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                f"named_struct('m', m, 'e', {_sm_entry_pri_sql('STRING')})"
                ")), x -> x.e), '')"
            ).alias("body")
        )
        .select(
            F.expr("lower(concat('www.', source, '.com'))").alias("host"),
            F.expr(
                "concat('<?xml version=\"1.0\"?><urlset>', body, '</urlset>')"
            ).alias("sitemap_xml"),
        )
    )
    frontier = parse_sitemap(sm).select(
        "host", F.col("loc").alias("url"), "priority"
    )
    delays = robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT)
    return fetch_schedule(
        frontier,
        delays,
        default_delay=_DEFAULT_CRAWL_DELAY,
        priority_col="priority",
    ).select("host", "url", "priority", "wave", "delay", "scheduled_offset")


def _priority_schedule_sql() -> str:
    from ..operators.robots import crawl_delay_oracle_sql

    vals = ", ".join(
        "('" + h + "', '" + txt.replace("'", "''") + "')"
        for h, txt in _robots_txt_files()
    )
    delays = crawl_delay_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(host, robots_txt)",
        _ROBOTS_AGENT,
    )
    d = f"coalesce(dl.crawl_delay, CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))"
    loc = "nullif(regexp_extract(u, '<loc>([^<]*)</loc>', 1), '')"
    return f"""
        WITH pairs AS (
            SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
            FROM documents
        ),
        sm AS (
            SELECT lower(concat('www.', source, '.com')) AS host,
                   concat('<?xml version="1.0"?><urlset>',
                          string_agg({_sm_entry_pri_sql("VARCHAR")},
                                     '' ORDER BY m),
                          '</urlset>') AS sitemap_xml
            FROM pairs GROUP BY source
        ),
        ub AS (
            SELECT host,
                   unnest(regexp_extract_all(sitemap_xml,
                          '{SITEMAP_URL_RE}', 0)) AS u
            FROM sm
        ),
        parsed AS (
            SELECT host, {loc} AS url,
                   try_cast(nullif(regexp_extract(u,
                          '<priority>([^<]*)</priority>', 1), '')
                       AS DOUBLE) AS priority
            FROM ub
        ),
        delays AS ({delays}),
        w AS (
            SELECT host, url, priority,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY priority DESC NULLS LAST, url)
                       AS BIGINT) AS wave
            FROM parsed WHERE url IS NOT NULL
        )
        SELECT w.host, w.url, w.priority, w.wave, {d} AS delay,
               CAST(w.wave - 1 AS DOUBLE) * {d} AS scheduled_offset
        FROM w LEFT JOIN delays dl ON w.host = dl.host
    """


ORACLES["q_priority_schedule"] = _priority_schedule_sql()


# ---------------------------------------------------------------------------
# incremental recrawl (r11): the two halves of the recrawl decision —
# change EVIDENCE (sitemap lastmod vs stored crawl state → delta) and
# change RATE (per-URL fingerprint history → revisit cadence), the
# Cho & Garcia-Molina incremental-crawler split.


def _sm_entry_lm_sql(s_type: str) -> str:
    """The shared sitemap <url> entry with <lastmod> removed for
    m % 7 = 0 — real sitemaps routinely omit it, and a NULL lastmod is
    the delta pass's no-evidence branch (classifies fresh; cadence
    belongs to `revisit_policy`)."""
    e = _sm_entry_sql(s_type)
    return (
        f"CASE WHEN m % 7 = 0 THEN regexp_replace({e}, "
        f"'<lastmod>[^<]*</lastmod>', '') ELSE {e} END"
    )


def q_recrawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental recrawl delta (`operators/crawl.recrawl_delta`):
    freshly-parsed sitemap entries (lastmod knocked out where
    m % 7 = 0) joined against the stored crawl state — the state
    covers only m % 3 != 0 URLs (the rest classify `new`) with crawl
    dates on a different day cycle than the sitemap's lastmod cycle
    (so both `stale` and `fresh` occur) — and every URL classified
    new/stale/fresh with the needs_fetch verdict. ISO date strings
    compare lexicographically = chronologically, identically in both
    engines. Plan: one fixture aggregate, one zero-shuffle parse, ONE
    URL-keyed left join (the state table is the crawl's own
    bookkeeping — bucketable to zero-exchange at scale)."""
    from ..operators.crawl import recrawl_delta

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.selectExpr(
        "source", f"CAST({_SM_M} AS BIGINT) AS m"
    ).distinct()
    sm = (
        pairs.groupBy("source")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                f"named_struct('m', m, 'e', {_sm_entry_lm_sql('STRING')})"
                ")), x -> x.e), '')"
            ).alias("body")
        )
        .select(
            F.expr("lower(concat('www.', source, '.com'))").alias("host"),
            F.expr(
                "concat('<?xml version=\"1.0\"?><urlset>', body, '</urlset>')"
            ).alias("sitemap_xml"),
        )
    )
    urls = parse_sitemap(sm)
    state = (
        docs.selectExpr("source", "CAST(doc_id % 50 AS BIGINT) AS c_m")
        .distinct()
        .filter("c_m % 3 != 0")
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(c_m AS STRING)) AS url",
            "concat('2026-01-', lpad(CAST(1 + (c_m * 5) % 28 AS STRING), "
            "2, '0')) AS last_crawled",
        )
    )
    out = recrawl_delta(urls, state)
    return out.select(
        "host",
        F.col("loc").alias("url"),
        "lastmod",
        "last_crawled",
        "status",
        "needs_fetch",
    )


def _recrawl_delta_sql() -> str:
    loc = "nullif(regexp_extract(u, '<loc>([^<]*)</loc>', 1), '')"
    return f"""
        WITH pairs AS (
            SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
            FROM documents
        ),
        sm AS (
            SELECT lower(concat('www.', source, '.com')) AS host,
                   concat('<?xml version="1.0"?><urlset>',
                          string_agg({_sm_entry_lm_sql("VARCHAR")},
                                     '' ORDER BY m),
                          '</urlset>') AS sitemap_xml
            FROM pairs GROUP BY source
        ),
        ub AS (
            SELECT host,
                   unnest(regexp_extract_all(sitemap_xml,
                          '{SITEMAP_URL_RE}', 0)) AS u
            FROM sm
        ),
        parsed AS (
            SELECT host, {loc} AS url,
                   nullif(regexp_extract(u,
                          '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod
            FROM ub
        ),
        state AS (
            SELECT concat('https://www.', source, '.com/articles/',
                          CAST(c_m AS VARCHAR)) AS s_url,
                   concat('2026-01-',
                          lpad(CAST(1 + (c_m * 5) % 28 AS VARCHAR), 2, '0'))
                       AS last_crawled
            FROM (
                SELECT DISTINCT source, CAST(doc_id % 50 AS BIGINT) AS c_m
                FROM documents
            )
            WHERE c_m % 3 != 0
        ),
        classified AS (
            SELECT p.host, p.url, p.lastmod, s.last_crawled,
                   CASE WHEN s.last_crawled IS NULL THEN 'new'
                        WHEN p.lastmod IS NOT NULL
                             AND p.lastmod > s.last_crawled THEN 'stale'
                        ELSE 'fresh' END AS status
            FROM parsed p LEFT JOIN state s ON p.url = s.s_url
            WHERE p.url IS NOT NULL
        )
        SELECT host, url, lastmod, last_crawled, status,
               status IN ('new', 'stale') AS needs_fetch
        FROM classified
    """


ORACLES["q_recrawl_delta"] = _recrawl_delta_sql()


_RV_BASE, _RV_MIN, _RV_MAX = 86_400, 50_000, 300_000


def _visit_matrix(docs: DataFrame) -> DataFrame:
    """The shared visit-history fixture: per (source, m) URL,
    2 + m%5 visits whose fingerprint rolls over every 1 + m%4 visits —
    used by q_revisit_policy and q_changefreq_policy (same URLs, so
    the declared-hint join below is exact)."""
    u = (
        docs.selectExpr("source", "CAST(doc_id % 50 AS BIGINT) AS m")
        .distinct()
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING)) AS url",
            "m",
        )
    )
    return u.select(
        "url",
        "m",
        F.explode(
            F.expr("sequence(0, 1 + CAST(m % 5 AS INT))")
        ).alias("visit_idx"),
    ).selectExpr(
        "url",
        "visit_idx",
        "md5(concat(url, ':', CAST(visit_idx DIV (1 + m % 4) AS STRING)))"
        " AS fp",
    )


def q_revisit_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate revisit policy (`operators/crawl.revisit_policy`,
    Cho & Garcia-Molina): each URL's visit history is synthesized
    in-plan — 2 + m%5 visits whose content fingerprint rolls over
    every 1 + m%4 visits (md5 of the visit epoch), so change counts
    span 0..5 — and the operator estimates the change rate from
    lag-compared fingerprints and sets the clamped inverse-rate
    revisit interval. The [50 000, 300 000] clamp bounds are chosen so
    BOTH clamps actually fire across the matrix (ratio range
    17 280..432 000 s). Integer-exact: counts, one DIV, two clamps —
    the whole policy value-hashes across engines. One shuffle total
    (window + aggregate share the url key)."""
    from ..operators.crawl import revisit_policy

    docs = load_table(spark, sf_dir, "documents")
    return revisit_policy(
        _visit_matrix(docs), base_s=_RV_BASE, min_s=_RV_MIN, max_s=_RV_MAX
    )


def _revisit_policy_sql() -> str:
    return f"""
        WITH urls AS (
            SELECT DISTINCT source, CAST(doc_id % 50 AS BIGINT) AS m
            FROM documents
        ),
        u2 AS (
            SELECT concat('https://www.', source, '.com/articles/',
                          CAST(m AS VARCHAR)) AS url, m
            FROM urls
        ),
        v AS (
            SELECT url, m,
                   unnest(generate_series(0, 1 + CAST(m % 5 AS INT)))
                       AS visit_idx
            FROM u2
        ),
        f AS (
            SELECT url, visit_idx,
                   md5(concat(url, ':',
                       CAST(visit_idx // (1 + m % 4) AS VARCHAR))) AS fp
            FROM v
        ),
        c AS (
            SELECT url,
                   CASE WHEN lag(fp) OVER w IS NULL THEN 0
                        WHEN fp != lag(fp) OVER w THEN 1
                        ELSE 0 END AS chg
            FROM f
            WINDOW w AS (PARTITION BY url ORDER BY visit_idx)
        ),
        a AS (
            SELECT url, CAST(COUNT(*) AS BIGINT) AS n_visits,
                   CAST(SUM(chg) AS BIGINT) AS n_changes
            FROM c GROUP BY url
        )
        SELECT url, n_visits, n_changes,
               CASE WHEN n_visits < 2 THEN CAST({_RV_BASE} AS BIGINT)
                    ELSE least(CAST({_RV_MAX} AS BIGINT),
                               greatest(CAST({_RV_MIN} AS BIGINT),
                                        {_RV_BASE} * (n_visits - 1)
                                        // greatest(n_changes, 1)))
               END AS revisit_interval_s
        FROM a
    """


ORACLES["q_revisit_policy"] = _revisit_policy_sql()


# the <changefreq> token per entry: the 6 spec values + 'never' + an
# out-of-vocabulary token ('often' → NULL loudly in the seconds
# mapper), with m % 9 = 0 entries omitting the element entirely
_CF_TOKENS = (
    "array('always', 'hourly', 'daily', 'weekly', 'monthly', "
    "'yearly', 'never', 'often')"
)
_CF_LIST_DUCK = (
    "['always', 'hourly', 'daily', 'weekly', 'monthly', "
    "'yearly', 'never', 'often']"
)


def q_changefreq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-hint × observed-rate revisit composition: sitemaps
    carry <changefreq> (the 4th and last optional element of the
    sitemaps protocol — `parse_sitemap` now extracts it, r11),
    `changefreq_seconds_sql` maps the vocabulary to seconds (case-
    insensitive; 'never' and out-of-vocabulary tokens NULL loudly),
    and the operative cadence per URL is the FRESHNESS-FIRST
    composition with `revisit_policy`'s observed estimate over the
    same URLs:

        effective = declared IS NULL ? estimate
                  : greatest(min_s, least(declared, estimate))

    — a site hinting 'hourly' gets checked sooner than a no-change
    history alone would schedule, observed churn beats a lazy 'yearly'
    hint, the policy floor stops 'always' (0 s) from melting the
    politeness budget, and a missing/unknown/never hint defers wholly
    to observation. Fixture entries cycle all 8 tokens with m % 9 = 0
    omitting the element. Integer-exact throughout; one URL-keyed
    equi-join between the two dimension-sized frames (AQE broadcasts
    it)."""
    from ..operators.crawl import (
        changefreq_seconds_sql,
        parse_sitemap,
        revisit_policy,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.selectExpr(
        "source", "CAST(doc_id % 50 AS BIGINT) AS m"
    ).distinct()
    entry = (
        "concat('<url><loc>https://www.', source, '.com/articles/', "
        "CAST(m AS STRING), '</loc>', "
        "CASE WHEN m % 9 = 0 THEN '' ELSE concat('<changefreq>', "
        f"element_at({_CF_TOKENS}, CAST(1 + m % 8 AS INT)), "
        "'</changefreq>') END, '</url>')"
    )
    sm = pairs.groupBy("source").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            f"named_struct('m', m, 'e', {entry})"
            ")), x -> x.e), '')"
        ).alias("body")
    ).select(
        F.expr(
            "concat('<?xml version=\"1.0\"?><urlset>', body, '</urlset>')"
        ).alias("sitemap_xml")
    )
    declared = parse_sitemap(sm).select(
        F.col("loc").alias("url"),
        "changefreq",
        F.expr(changefreq_seconds_sql("changefreq")).alias("declared_s"),
    )
    est = revisit_policy(
        _visit_matrix(docs), base_s=_RV_BASE, min_s=_RV_MIN, max_s=_RV_MAX
    )
    joined = declared.join(est, "url")
    return joined.select(
        "url",
        "changefreq",
        "declared_s",
        "n_visits",
        "n_changes",
        "revisit_interval_s",
        F.expr(
            "CASE WHEN declared_s IS NULL THEN revisit_interval_s "
            f"ELSE greatest(CAST({_RV_MIN} AS BIGINT), "
            "least(declared_s, revisit_interval_s)) END"
        ).alias("effective_revisit_s"),
    )


def _changefreq_policy_sql() -> str:
    from ..operators.crawl import changefreq_seconds_sql

    entry = (
        "concat('<url><loc>https://www.', source, '.com/articles/', "
        "CAST(m AS VARCHAR), '</loc>', "
        "CASE WHEN m % 9 = 0 THEN '' ELSE concat('<changefreq>', "
        f"{_CF_LIST_DUCK}[CAST(1 + m % 8 AS INT)], "
        "'</changefreq>') END, '</url>')"
    )
    loc = "nullif(regexp_extract(u, '<loc>([^<]*)</loc>', 1), '')"
    return f"""
        WITH est AS ({_revisit_policy_sql()}),
        pairs AS (
            SELECT DISTINCT source, CAST(doc_id % 50 AS BIGINT) AS m
            FROM documents
        ),
        sm AS (
            SELECT concat('<?xml version="1.0"?><urlset>',
                          string_agg({entry}, '' ORDER BY m),
                          '</urlset>') AS sitemap_xml
            FROM pairs GROUP BY source
        ),
        ub AS (
            SELECT unnest(regexp_extract_all(sitemap_xml,
                          '{SITEMAP_URL_RE}', 0)) AS u
            FROM sm
        ),
        declared AS (
            SELECT {loc} AS url,
                   nullif(regexp_extract(u,
                          '<changefreq>([^<]*)</changefreq>', 1), '')
                       AS changefreq
            FROM ub
        ),
        d2 AS (
            SELECT url, changefreq,
                   {changefreq_seconds_sql("changefreq")} AS declared_s
            FROM declared WHERE url IS NOT NULL
        )
        SELECT d2.url, d2.changefreq, d2.declared_s,
               est.n_visits, est.n_changes, est.revisit_interval_s,
               CASE WHEN d2.declared_s IS NULL THEN est.revisit_interval_s
                    ELSE greatest(CAST({_RV_MIN} AS BIGINT),
                                  least(d2.declared_s,
                                        est.revisit_interval_s)) END
                   AS effective_revisit_s
        FROM d2 JOIN est ON d2.url = est.url
    """


ORACLES["q_changefreq_policy"] = _changefreq_policy_sql()


_BUDGET_TOTAL = 9_973  # prime: forces non-trivial remainders everywhere


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global fetch-budget apportionment
    (`operators/crawl.crawl_budget_allocate`, Hamilton's
    largest-remainder method): 500 host-sections (source × article
    residue — the granularity a frontier actually budgets, finer than
    host) weighted by doc count + a doc_id-derived backlog score, a
    prime total budget so floors under-spend and the remainder ranking
    decides real +1s. Σ quota = budget EXACTLY and every quota is
    within 1 of its ideal share — both integer-exact, so the whole
    allocation value-hashes in the oracle (whose replay may use a
    plain global window; the Spark side goes through the distributed
    `global_row_number` range-rank instead)."""
    from ..operators.crawl import crawl_budget_allocate

    docs = load_table(spark, sf_dir, "documents")
    units = docs.groupBy(
        F.expr(
            "concat(lower(concat('www.', source, '.com')), '/s', "
            "CAST(doc_id % 50 AS STRING))"
        ).alias("host")
    ).agg(
        F.expr(
            "CAST(COUNT(*) + SUM(doc_id % 97) AS BIGINT)"
        ).alias("weight")
    )
    return crawl_budget_allocate(units, _BUDGET_TOTAL).select(
        "host", "weight", "quota"
    )


def _crawl_budget_sql() -> str:
    B = _BUDGET_TOTAL
    return f"""
        WITH w AS (
            SELECT concat(lower(concat('www.', source, '.com')), '/s',
                          CAST(doc_id % 50 AS VARCHAR)) AS host,
                   CAST(COUNT(*) + SUM(doc_id % 97) AS BIGINT) AS weight
            FROM documents GROUP BY 1
        ),
        t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w),
        b AS (
            SELECT host, weight,
                   ({B} * weight) // tw AS base,
                   ({B} * weight) % tw AS rem
            FROM w, t
        ),
        l AS (
            SELECT CAST({B} - SUM(base) AS BIGINT) AS leftover FROM b
        ),
        r AS (
            SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rr
            FROM b
        )
        SELECT host, weight,
               CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS quota
        FROM r, l
    """


ORACLES["q_crawl_budget"] = _crawl_budget_sql()


_FB_BUDGET, _FB_CYCLE = 400, 200  # caps bind for slow hosts at these


def q_feasible_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-FEASIBLE budget allocation
    (`operators/crawl.feasible_budget_allocate`): the Hamilton
    apportionment capped by each host's Crawl-delay ceiling
    (floor(cycle/delay)+1 fetches per cycle — the fixture's
    10 s host CAN'T absorb its fair share at cycle 200, the 1 s host
    can absorb far more), with the capped surplus refilled greedily
    into remaining headroom in (headroom DESC, host) order via the
    distributed prefix sum (`rank.global_running_sum` — never a
    single-task window; the oracle's plain global window is the
    DuckDB-side replay). Integer-exact: Σ quota = min(budget, Σ cap),
    quota ≤ cap per host, refill traceable per row.

    www.src5.com is pinned to ``Crawl-delay: 0`` (a host that imposes
    no politeness wait) to exercise the delay≤0 guard: the cap must
    come out as the whole budget — never a zero-divide, which Spark
    nulls and DuckDB sends to +inf (VERDICT r11 #2)."""
    from ..operators.crawl import feasible_budget_allocate
    from ..operators.robots import robots_crawl_delay

    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy(
        F.expr("lower(concat('www.', source, '.com'))").alias("host")
    ).agg(
        F.expr("CAST(COUNT(*) + SUM(doc_id % 97) AS BIGINT)").alias("weight")
    )
    delays = robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT)
    hosts = (
        w.join(
            delays.select(
                F.col("host").alias("_dh"), F.col("crawl_delay")
            ),
            w["host"] == F.col("_dh"),
            "left",
        )
        .drop("_dh")
        .withColumn(
            "delay",
            F.expr(
                "CASE WHEN host = 'www.src5.com' THEN CAST(0 AS DOUBLE) "
                f"ELSE coalesce(crawl_delay, CAST({_DEFAULT_CRAWL_DELAY}"
                " AS DOUBLE)) END"
            ),
        )
        .drop("crawl_delay")
    )
    return feasible_budget_allocate(
        hosts, _FB_BUDGET, _FB_CYCLE
    ).select("host", "weight", "delay", "cap", "headroom", "refill", "quota")


def _feasible_alloc_ctes(budget: int, cycle_s: int) -> str:
    """The oracle replay of `operators/crawl.feasible_budget_allocate`
    as a CTE chain over an in-scope CTE named ``h`` (host, weight,
    delay) — Hamilton apportionment (plain global window in the
    replay), the delay≤0-guarded politeness cap, and the greedy
    headroom refill. Ends with ``alloc`` (host, weight, delay, cap,
    headroom, refill, quota). Shared by `q_feasible_budget` and
    `q_crawl_cycle` so the allocation replay has ONE source of
    truth."""
    B, C = budget, cycle_s
    return f"""
        t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM h),
        b AS (
            SELECT host, weight, delay,
                   ({B} * weight) // tw AS base,
                   ({B} * weight) % tw AS rem
            FROM h, t
        ),
        l AS (SELECT CAST({B} - SUM(base) AS BIGINT) AS leftover FROM b),
        r AS (
            SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rr
            FROM b
        ),
        q AS (
            SELECT host, weight, delay,
                   CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS quota0,
                   CASE WHEN delay IS NULL OR delay <= 0
                        THEN CAST({B} AS BIGINT)
                        ELSE CAST(floor({C} / delay) AS BIGINT) + 1
                   END AS cap
            FROM r, l
        ),
        c2 AS (
            SELECT *, least(quota0, cap) AS capped,
                   cap - least(quota0, cap) AS headroom
            FROM q
        ),
        s AS (
            SELECT CAST({B} - SUM(capped) AS BIGINT) AS surplus FROM c2
        ),
        p AS (
            SELECT *, CAST(SUM(headroom) OVER (
                       ORDER BY headroom DESC, host
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS hr_incl
            FROM c2
        ),
        f AS (
            SELECT p.*, greatest(CAST(0 AS BIGINT),
                       least(p.headroom,
                             s.surplus - (p.hr_incl - p.headroom)))
                   AS refill
            FROM p, s
        ),
        alloc AS (
            SELECT host, weight, delay, cap, headroom, refill,
                   CAST(capped + refill AS BIGINT) AS quota
            FROM f
        )"""


def _robots_delays_cte() -> str:
    """The fixture robots files' Crawl-delay table as oracle SQL."""
    from ..operators.robots import crawl_delay_oracle_sql

    vals = ", ".join(
        "('" + h + "', '" + txt.replace("'", "''") + "')"
        for h, txt in _robots_txt_files()
    )
    return crawl_delay_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(host, robots_txt)",
        _ROBOTS_AGENT,
    )


def _feasible_budget_sql() -> str:
    return f"""
        WITH w AS (
            SELECT lower(concat('www.', source, '.com')) AS host,
                   CAST(COUNT(*) + SUM(doc_id % 97) AS BIGINT) AS weight
            FROM documents GROUP BY 1
        ),
        delays AS ({_robots_delays_cte()}),
        h AS (
            SELECT w.host, w.weight,
                   CASE WHEN w.host = 'www.src5.com' THEN CAST(0 AS DOUBLE)
                        ELSE coalesce(d.crawl_delay,
                             CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))
                   END AS delay
            FROM w LEFT JOIN delays d ON w.host = d.host
        ),
        {_feasible_alloc_ctes(_FB_BUDGET, _FB_CYCLE)}
        SELECT host, weight, delay, cap, headroom, refill, quota
        FROM alloc
    """


ORACLES["q_feasible_budget"] = _feasible_budget_sql()


# the crawl-cycle composition (r12, VERDICT r11 #3): budget/cycle sized
# against the ~96-URL fixture frontier (~5 per host) so ALL THREE
# mechanisms bind — Hamilton (budget 100 ≈ backlog, cutting 18 of 20
# hosts), the politeness cap (cycle 15 → src4's Crawl-delay 10 caps at
# 2 < its quota), and the headroom refill (the capped surplus lands on
# fast hosts, src2 refilled to its cap); "now" is a
# fixed day-of-month inside the state's 2026-01 date cycle so both due
# and not-yet-due cadence rows occur.
_CC_BUDGET, _CC_CYCLE, _CC_DAY = 100, 15, 15


def q_crawl_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL incremental-crawl cycle as one plan (r12, VERDICT r11
    #3) — the composition a real crawler runs every cycle, gluing the
    r11 recrawl family end-to-end:

    1. sitemap refresh → `recrawl_delta` against the stored crawl
       state: new/stale URLs need a fetch on change EVIDENCE;
    2. evidence-less (`fresh`) URLs fall to the change-RATE half:
       `revisit_policy` over their visit history, due when the days
       since last crawl (fixed "now" = 2026-01-{_CC_DAY}, integer day
       arithmetic — no engine date parsing) reach the estimated
       interval;
    3. the merged frontier is weighted per host (URL backlog) and run
       through `feasible_budget_allocate` — Hamilton quota capped by
       each host's Crawl-delay ceiling, surplus refilled by headroom;
    4. `fetch_schedule` orders each host's queue evidence-first
       (priority DESC, url) and the cycle fetches exactly the first
       quota_h waves.

    Every half is individually driver-green (q_recrawl_delta,
    q_revisit_policy, q_feasible_budget, q_priority_schedule); the
    composition pins the key shapes BETWEEN them — the delta's (host,
    url) carries through the cadence join, the weights aggregate, the
    allocation, and the wave cut. Integer/exact-double end to end.

    Scale shape: two dimension-sized fixture aggregates + the delta's
    one URL-keyed join + the cadence URL join (both bucketable), a
    host-dimension allocation (1-row broadcast scalars + range-
    partitioned rank/prefix sum, never a global window), one host
    window for waves, and a host-keyed broadcast join for the quota
    cut. Nothing content-sized shuffles twice. The composed FIXTURE
    plan recomputes the delta/frontier subtrees where they fan out
    (evidence+cadence, weights+waves) because a driver query must stay
    a pure replayable plan; a production cycle materializes exactly
    those two frames as tables anyway (the state table this cycle's
    `crawl_state_merge` writes, and the frontier it schedules), so
    each stage is one pass there — the audit's byte numbers, not the
    fixture's exchange count, are the scale-relevant measure."""
    from ..operators.crawl import (
        fetch_schedule,
        feasible_budget_allocate,
        recrawl_delta,
        revisit_policy,
    )
    from ..operators.robots import robots_crawl_delay

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.selectExpr(
        "source", f"CAST({_SM_M} AS BIGINT) AS m"
    ).distinct()
    sm = (
        pairs.groupBy("source")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                f"named_struct('m', m, 'e', {_sm_entry_lm_sql('STRING')})"
                ")), x -> x.e), '')"
            ).alias("body")
        )
        .select(
            F.expr("lower(concat('www.', source, '.com'))").alias("host"),
            F.expr(
                "concat('<?xml version=\"1.0\"?><urlset>', body, '</urlset>')"
            ).alias("sitemap_xml"),
        )
    )
    state = (
        docs.selectExpr("source", "CAST(doc_id % 50 AS BIGINT) AS c_m")
        .distinct()
        .filter("c_m % 3 != 0")
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(c_m AS STRING)) AS url",
            "concat('2026-01-', lpad(CAST(1 + (c_m * 5) % 28 AS STRING), "
            "2, '0')) AS last_crawled",
        )
    )
    # Materialize the fan-out frames once (localCheckpoint, the
    # one-shot-share exemption in `plans.truncate`): `delta` feeds both
    # the evidence and cadence halves, `frontier` feeds the weights
    # aggregate and the wave window, `delays` feeds the allocation and
    # the scheduler — exactly the two frames the docstring's production
    # cycle materializes as tables. Without this the composed plan
    # re-derived the sitemap-parse + state join per consumer (36
    # Exchange nodes, r13 measurement).
    delta = recrawl_delta(parse_sitemap(sm), state).transform(
        registered_local_checkpoint
    )
    evidence = delta.filter("needs_fetch").select(
        "host", F.col("loc").alias("url"), F.lit("evidence").alias("reason")
    )
    est = revisit_policy(
        _visit_matrix(docs), base_s=_RV_BASE, min_s=_RV_MIN, max_s=_RV_MAX
    )
    due = (
        delta.filter("status = 'fresh'")
        .select("host", F.col("loc").alias("url"), "last_crawled")
        .join(est, "url")
        .filter(
            f"CAST(greatest(0, {_CC_DAY} - "
            "CAST(substr(last_crawled, 9, 2) AS INT)) AS BIGINT) * 86400"
            " >= revisit_interval_s"
        )
        .select("host", "url", F.lit("cadence").alias("reason"))
    )
    frontier = evidence.unionByName(due).transform(registered_local_checkpoint)
    delays = robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT).transform(
        registered_local_checkpoint
    )
    hosts = (
        frontier.groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .join(
            delays.select(F.col("host").alias("_dh"), "crawl_delay"),
            F.col("host") == F.col("_dh"),
            "left",
        )
        .drop("_dh")
        .withColumn(
            "delay",
            F.expr(
                f"coalesce(crawl_delay, CAST({_DEFAULT_CRAWL_DELAY}"
                " AS DOUBLE))"
            ),
        )
        .drop("crawl_delay")
    )
    alloc = feasible_budget_allocate(hosts, _CC_BUDGET, _CC_CYCLE)
    sched = fetch_schedule(
        frontier.withColumn(
            "pri",
            F.expr("CASE WHEN reason = 'evidence' THEN 1.0 ELSE 0.0 END"),
        ),
        delays,
        default_delay=_DEFAULT_CRAWL_DELAY,
        priority_col="pri",
    )
    return (
        sched.join(
            alloc.select(F.col("host").alias("_ah"), "quota"),
            sched["host"] == F.col("_ah"),
        )
        .drop("_ah")
        .filter("wave <= quota")
        .select(
            "host", "url", "reason", "wave", "quota",
            "delay", "scheduled_offset",
        )
    )


def _crawl_cycle_sql() -> str:
    return f"""
        WITH delta AS ({_recrawl_delta_sql()}),
        est AS ({_revisit_policy_sql()}),
        evidence AS (
            SELECT host, url, 'evidence' AS reason
            FROM delta WHERE needs_fetch
        ),
        due AS (
            SELECT d.host, d.url, 'cadence' AS reason
            FROM delta d JOIN est ON d.url = est.url
            WHERE d.status = 'fresh'
              AND CAST(greatest(0, {_CC_DAY} -
                       CAST(substr(d.last_crawled, 9, 2) AS INT))
                  AS BIGINT) * 86400 >= est.revisit_interval_s
        ),
        frontier AS (
            SELECT * FROM evidence UNION ALL SELECT * FROM due
        ),
        delays AS ({_robots_delays_cte()}),
        w AS (
            SELECT host, CAST(COUNT(*) AS BIGINT) AS weight
            FROM frontier GROUP BY host
        ),
        h AS (
            SELECT w.host, w.weight,
                   coalesce(d.crawl_delay,
                            CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE)) AS delay
            FROM w LEFT JOIN delays d ON w.host = d.host
        ),
        {_feasible_alloc_ctes(_CC_BUDGET, _CC_CYCLE)},
        sched AS (
            SELECT host, url, reason,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY (CASE WHEN reason = 'evidence'
                                  THEN 1.0 ELSE 0.0 END) DESC NULLS LAST,
                                 url) AS BIGINT) AS wave
            FROM frontier
        )
        SELECT sched.host, sched.url, sched.reason, sched.wave, a.quota,
               a.delay, CAST(sched.wave - 1 AS DOUBLE) * a.delay
                   AS scheduled_offset
        FROM sched JOIN alloc a ON sched.host = a.host
        WHERE sched.wave <= a.quota
    """


ORACLES["q_crawl_cycle"] = _crawl_cycle_sql()


def q_crawl_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cycle's WRITE half (`operators/crawl.crawl_state_merge`):
    fetch results merged back into the crawl-state table that
    `recrawl_delta` reads. The fixture reuses the delta's state table
    (fingerprints tracked) against a fetch log over the sitemap URL set
    dated after every state date, with every 4th URL's fetch failing —
    so all four merge behaviors occur and are pinned by count:
    state URLs never fetched carry, failed fetches of known URLs carry
    (date AND fingerprint unchanged — a failed fetch is not a crawl),
    successful fetches update, successful first fetches insert, and
    failed first fetches produce NO row. One URL-keyed full-outer join,
    the same key (and bucketability) as the delta's read join."""
    from ..operators.crawl import crawl_state_merge

    docs = load_table(spark, sf_dir, "documents")
    state = (
        docs.selectExpr("source", "CAST(doc_id % 50 AS BIGINT) AS c_m")
        .distinct()
        .filter("c_m % 3 != 0")
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(c_m AS STRING)) AS url",
            "concat('2026-01-', lpad(CAST(1 + (c_m * 5) % 28 AS STRING), "
            "2, '0')) AS last_crawled",
            "md5(concat('https://www.', source, '.com/articles/', "
            "CAST(c_m AS STRING), ':old')) AS fp",
        )
    )
    fetched = (
        docs.selectExpr("source", f"CAST({_SM_M} AS BIGINT) AS m")
        .distinct()
        .selectExpr(
            "concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING)) AS url",
            "'2026-02-01' AS fetch_date",
            "concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING)) AS u2",
            "m % 4 != 0 AS ok",
        )
        .selectExpr("url", "fetch_date", "md5(concat(u2, ':new')) AS new_fp", "ok")
    )
    return crawl_state_merge(state, fetched, fp_col="fp")


def _crawl_state_merge_sql() -> str:
    return f"""
        WITH state AS (
            SELECT concat('https://www.', source, '.com/articles/',
                          CAST(c_m AS VARCHAR)) AS url,
                   concat('2026-01-',
                          lpad(CAST(1 + (c_m * 5) % 28 AS VARCHAR), 2, '0'))
                       AS last_crawled,
                   md5(concat('https://www.', source, '.com/articles/',
                          CAST(c_m AS VARCHAR), ':old')) AS fp
            FROM (
                SELECT DISTINCT source, CAST(doc_id % 50 AS BIGINT) AS c_m
                FROM documents
            )
            WHERE c_m % 3 != 0
        ),
        fetched AS (
            SELECT concat('https://www.', source, '.com/articles/',
                          CAST(m AS VARCHAR)) AS url,
                   '2026-02-01' AS fetch_date,
                   md5(concat('https://www.', source, '.com/articles/',
                          CAST(m AS VARCHAR), ':new')) AS new_fp,
                   m % 4 != 0 AS ok
            FROM (
                SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
                FROM documents
            )
        ),
        merged AS (
            SELECT coalesce(s.url, f.url) AS url,
                   CASE WHEN f.ok IS NOT NULL AND f.ok
                             AND f.fetch_date IS NOT NULL THEN f.fetch_date
                        ELSE s.last_crawled END AS last_crawled,
                   CASE WHEN f.ok IS NOT NULL AND f.ok
                             AND f.fetch_date IS NOT NULL THEN f.new_fp
                        ELSE s.fp END AS fp,
                   CASE WHEN s.url IS NULL THEN 'inserted'
                        WHEN f.ok IS NOT NULL AND f.ok
                             AND f.fetch_date IS NOT NULL THEN 'updated'
                        ELSE 'carried' END AS merge_action
            FROM state s FULL OUTER JOIN fetched f ON s.url = f.url
        )
        SELECT url, last_crawled, fp, merge_action
        FROM merged WHERE last_crawled IS NOT NULL
    """


ORACLES["q_crawl_state_merge"] = _crawl_state_merge_sql()


# ---------------------------------------------------------------------------
# crawl OPERATIONS rails (r12 second wave): trap scoring, adaptive
# backoff, sitemap conformance, robots cache policy — the safety rails a
# crawler runs continuously around the discovery/recrawl cycle.

# per-doc URL variety cycling all five trap shapes + a clean control;
# rendered identically in both engines (s_type VARCHAR/STRING)
def _trap_url_sql(s_type: str) -> str:
    m = "m"
    return (
        "concat('https://www.', source, '.com', "
        f"CASE CAST({m} % 6 AS INT) "
        # cycling path segments: '/p/q' repeated — dup_segments high
        f"WHEN 0 THEN repeat('/p/q', CAST(2 + {m} % 7 AS INT)) "
        # calendar shape: three year segments + depth 9 — two MEDIUM
        # signals compose to a flag (the graded-score design)
        f"WHEN 1 THEN concat('/cal/idx/archive/2019/', "
        f"CAST(1 + {m} % 12 AS {s_type}), "
        f"'/2020/', CAST(1 + {m} % 28 AS {s_type}), '/2021/item', "
        f"CAST({m} AS {s_type})) "
        # session-id param
        f"WHEN 2 THEN concat('/a/b?phpsessid=', md5(CAST({m} AS {s_type})), "
        "'&x=1') "
        # oversize URL
        f"WHEN 3 THEN concat('/items/', repeat('x', CAST(520 + {m} AS INT))) "
        # parameter explosion
        "WHEN 4 THEN '/s?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9' "
        # clean control
        f"ELSE concat('/articles/', CAST({m} AS {s_type}), '?id=', "
        f"CAST({m} % 25 AS {s_type})) END)"
    )


def q_url_trap_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spider-trap scoring (`operators/crawl.url_trap_score`,
    Mercator-era heuristics): the fixture cycles all five trap shapes —
    cycling path segments, calendar pagination, session-id params,
    oversize URLs, parameter explosions — plus a clean control, and the
    scorer flags each with integer weights. Both engines render the
    SAME `url_trap_exprs` builder (TRAP_SPARK/TRAP_DUCK dialect dicts),
    so every component column value-hashes. Zero shuffles beyond the
    fixture's distinct."""
    from ..operators.crawl import url_trap_score

    docs = load_table(spark, sf_dir, "documents")
    urls = (
        docs.selectExpr("source", "CAST(doc_id % 60 AS BIGINT) AS m")
        .distinct()
        .selectExpr(f"{_trap_url_sql('STRING')} AS url")
    )
    return url_trap_score(urls).select(
        "url", "path_depth", "dup_segments", "n_params",
        "has_session_param", "date_segments", "trap_score", "is_trap",
    )


def _url_trap_score_sql() -> str:
    from ..operators.crawl import TRAP_DUCK, url_trap_exprs

    exprs = url_trap_exprs(
        TRAP_DUCK,
        "url",
        "regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1)",
        "regexp_extract(url, '\\?([^#]*)', 1)",
    )
    cols = ",\n               ".join(
        f"{sql} AS {name}" for name, sql in exprs.items()
    )
    return f"""
        WITH pairs AS (
            SELECT DISTINCT source, CAST(doc_id % 60 AS BIGINT) AS m
            FROM documents
        ),
        u AS (SELECT {_trap_url_sql("VARCHAR")} AS url FROM pairs)
        SELECT url,
               {cols}
        FROM u
    """


ORACLES["q_url_trap_score"] = _url_trap_score_sql()


# trap-gated frontier fixture (r13, VERDICT r12 #4): src0/src7/src14
# (s % 7 = 0) publish
# ONLY the clean control URL (n_trapped = 0 polarity), and every host
# gets one extra '/zz/…' clean URL that sorts lexicographically AFTER
# the demoted shapes — so the trap-score demotion visibly REORDERS the
# waves (without it, URL order and priority order would coincide)
_TRAP_KEEP_WHERE = "s % 7 != 0"


def q_trap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`url_trap_score` composed into frontier ADMISSION (r13, VERDICT
    r12 #4) — the way the REP gate composes in `q_crawl_pipeline`:

    - ``is_trap`` URLs (score ≥ 3: cycling segments, session ids,
      calendar shapes) are EXCLUDED from the schedule entirely, and
      each host's dropped count is carried as ``n_trapped`` (0 for the
      clean-only hosts — the gate is auditable, not silent);
    - graded score-1–2 URLs are DEMOTED to trailing waves
      (`fetch_schedule` with priority = −trap_score: the politeness
      budget is spent on clean URLs first — the fixture's '/zz/…'
      clean URL sorts AFTER the demoted '/items/…' and '/s?…' shapes,
      so demotion measurably reorders the waves);
    - clean URLs schedule normally over the host's Crawl-delay.

    Scale shape: the scorer is a zero-shuffle projection in the
    ingest path; admission adds one host-dimension count aggregate and
    the schedule's per-host window + broadcastable delays join —
    nothing URL-volume-sized shuffles twice."""
    from ..operators.crawl import fetch_schedule, url_trap_score
    from ..operators.robots import robots_crawl_delay

    docs = load_table(spark, sf_dir, "documents")
    # `pairs` feeds both URL builders and `scored` feeds both the trap
    # count and the kept schedule — materialize each once
    # (localCheckpoint, one-shot-share exemption) instead of replaying
    # the docs distinct / scorer per consumer.
    pairs = (
        docs.selectExpr("source", "CAST(doc_id % 60 AS BIGINT) AS m")
        .distinct()
        .selectExpr("source", "m", "CAST(substr(source, 4) AS INT) AS s")
        .transform(registered_local_checkpoint)
    )
    variety = pairs.filter(_TRAP_KEEP_WHERE).selectExpr(
        "lower(concat('www.', source, '.com')) AS host",
        f"{_trap_url_sql('STRING')} AS url",
    )
    extra = pairs.groupBy("source").agg(F.min("m").alias("m")).selectExpr(
        "lower(concat('www.', source, '.com')) AS host",
        "concat('https://www.', source, '.com/zz/', CAST(m AS STRING))"
        " AS url",
    )
    scored = url_trap_score(variety.unionByName(extra)).transform(
        registered_local_checkpoint
    )
    trapped = (
        scored.filter("is_trap")
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_trapped"))
    )
    kept = scored.filter("NOT is_trap").withColumn(
        "pri", F.expr("CAST(-trap_score AS DOUBLE)")
    )
    delays = robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT)
    sched = fetch_schedule(
        kept, delays, default_delay=_DEFAULT_CRAWL_DELAY, priority_col="pri"
    )
    return (
        sched.join(
            trapped.withColumnRenamed("host", "_th"),
            sched["host"] == F.col("_th"),
            "left",
        )
        .drop("_th")
        .selectExpr(
            "host", "url", "trap_score", "wave", "delay",
            "scheduled_offset",
            "coalesce(n_trapped, CAST(0 AS BIGINT)) AS n_trapped",
        )
    )


def _trap_frontier_sql() -> str:
    from ..operators.crawl import TRAP_DUCK, url_trap_exprs

    exprs = url_trap_exprs(
        TRAP_DUCK,
        "url",
        "regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1)",
        "regexp_extract(url, '\\?([^#]*)', 1)",
    )
    d = f"coalesce(dl.crawl_delay, CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))"
    return f"""
        WITH pairs AS (
            SELECT source, m, CAST(substr(source, 4) AS INT) AS s
            FROM (
                SELECT DISTINCT source, CAST(doc_id % 60 AS BIGINT) AS m
                FROM documents
            )
        ),
        urls AS (
            SELECT lower(concat('www.', source, '.com')) AS host,
                   {_trap_url_sql("VARCHAR")} AS url
            FROM pairs WHERE {_TRAP_KEEP_WHERE}
            UNION ALL
            SELECT lower(concat('www.', source, '.com')) AS host,
                   concat('https://www.', source, '.com/zz/',
                          CAST(min(m) AS VARCHAR)) AS url
            FROM pairs GROUP BY source
        ),
        scored AS (
            SELECT host, url,
                   {exprs["trap_score"]} AS trap_score,
                   {exprs["is_trap"]} AS is_trap
            FROM urls
        ),
        trapped AS (
            SELECT host, CAST(COUNT(*) AS BIGINT) AS n_trapped
            FROM scored WHERE is_trap GROUP BY host
        ),
        kept AS (
            SELECT host, url, trap_score FROM scored WHERE NOT is_trap
        ),
        delays AS ({_robots_delays_cte()}),
        w AS (
            SELECT host, url, trap_score,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY CAST(-trap_score AS DOUBLE)
                                 DESC NULLS LAST, url)
                   AS BIGINT) AS wave
            FROM kept
        )
        SELECT w.host, w.url, w.trap_score, w.wave, {d} AS delay,
               CAST(w.wave - 1 AS DOUBLE) * {d} AS scheduled_offset,
               coalesce(t.n_trapped, CAST(0 AS BIGINT)) AS n_trapped
        FROM w
        LEFT JOIN delays dl ON w.host = dl.host
        LEFT JOIN trapped t ON w.host = t.host
    """


ORACLES["q_trap_frontier"] = _trap_frontier_sql()


# backoff fixture: 40 fetches per host; src index drives the failure
# shape so healthy, scattered-error, trailing-failure-run, and
# rate-limited hosts ALL occur
_BK_N = 40


def _backoff_log_sql() -> str:
    """One fetch-log row's status from (s, i) — shared by both engines,
    covering every backoff level: s ≡ 1 (mod 4) ends with 5 failures
    (trailing 5, level capped at 3, factor 8); s ≡ 6 (mod 8) ends with
    2 (factor 4); s ≡ 4 (mod 8) ends with 1 (factor 2); s ≡ 2 (mod 8)
    fails every 7th fetch but ends clean (scattered pressure, trailing
    0); s ≡ 3 (mod 4) takes one 429 + Retry-After at i=20 and ends
    clean; s ≡ 0 (mod 8) is fully healthy."""
    return (
        "CASE WHEN s % 4 = 1 AND i >= 35 THEN 503 "
        "WHEN s % 8 = 6 AND i >= 38 THEN 500 "
        "WHEN s % 8 = 4 AND i = 39 THEN 503 "
        "WHEN s % 8 = 2 AND i % 7 = 0 THEN 500 "
        "WHEN s % 4 = 3 AND i = 20 THEN 429 "
        "ELSE 200 END"
    )


def q_host_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive politeness backoff (`operators/crawl.host_backoff`):
    per-host error counts, per-mille error rate, trailing-failure run
    (two conditional aggregates, never a sort), the exact power-of-two
    backoff factor, the server's own Retry-After maximum — composed
    with the robots Crawl-delay into effective_delay = delay × factor
    (EXACT: power-of-two × terminating-binary double). The fixture's
    hosts cycle healthy / trailing-run / scattered-error /
    rate-limited shapes."""
    from ..operators.crawl import host_backoff
    from ..operators.robots import robots_crawl_delay

    docs = load_table(spark, sf_dir, "documents")
    log = (
        docs.selectExpr("source").distinct()
        .selectExpr(
            "source",
            "lower(concat('www.', source, '.com')) AS host",
            "CAST(substr(source, 4) AS INT) AS s",
        )
        .select(
            "host", "s",
            F.explode(F.expr(f"sequence(0, {_BK_N - 1})")).alias("i"),
        )
        .selectExpr(
            "host",
            "CAST(i AS BIGINT) AS fetch_idx",
            f"{_backoff_log_sql()} AS status",
            "CASE WHEN s % 4 = 3 AND i = 20 THEN CAST(60 + s AS BIGINT) "
            "WHEN s % 4 = 1 AND i = 37 THEN CAST(90 + s AS BIGINT) "
            "END AS retry_after",
        )
    )
    bk = host_backoff(log, retry_after_col="retry_after")
    delays = robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT)
    return (
        bk.join(
            delays.select(F.col("host").alias("_dh"), "crawl_delay"),
            bk["host"] == F.col("_dh"),
            "left",
        )
        .drop("_dh")
        .selectExpr(
            "host", "n_fetches", "n_errors", "err_pm",
            "trailing_failures", "backoff_factor", "retry_after_s",
            f"coalesce(crawl_delay, CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))"
            " AS delay",
            f"coalesce(crawl_delay, CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))"
            " * backoff_factor AS effective_delay",
        )
    )


def _host_backoff_sql(where: str = "TRUE") -> str:
    """Oracle replay of the backoff fixture + aggregate. ``where`` is a
    host-index predicate (over ``s``) restricting which hosts have any
    fetch history at all — `q_adaptive_schedule` holds src7/src17 out
    of the fetch log to pin the never-fetched default (r13,
    ADVICE r12 #1)."""
    from ..operators.crawl import backoff_factor_sql

    factor = backoff_factor_sql("trailing_failures", 3)
    return f"""
        WITH hosts AS (
            SELECT * FROM (
                SELECT DISTINCT lower(concat('www.', source, '.com'))
                           AS host,
                       CAST(substr(source, 4) AS INT) AS s
                FROM documents
            ) WHERE {where}
        ),
        log AS (
            SELECT host, CAST(i AS BIGINT) AS fetch_idx,
                   {_backoff_log_sql()} AS status,
                   CASE WHEN s % 4 = 3 AND i = 20
                        THEN CAST(60 + s AS BIGINT)
                        WHEN s % 4 = 1 AND i = 37
                        THEN CAST(90 + s AS BIGINT) END AS retry_after
            FROM hosts, unnest(generate_series(0, {_BK_N - 1})) t(i)
        ),
        agg AS (
            SELECT host,
                   CAST(COUNT(*) AS BIGINT) AS n_fetches,
                   CAST(SUM(CAST(status = 429 OR status >= 500 AS INT))
                        AS BIGINT) AS n_errors,
                   max(CASE WHEN NOT (status = 429 OR status >= 500)
                            THEN fetch_idx END) AS last_ok
            FROM log GROUP BY host
        ),
        tf AS (
            SELECT l.host,
                   CAST(SUM(CAST(a.last_ok IS NULL
                        OR l.fetch_idx > a.last_ok AS INT)) AS BIGINT)
                       AS trailing_failures,
                   CAST(max(CASE WHEN (a.last_ok IS NULL
                            OR l.fetch_idx > a.last_ok)
                            AND l.status IN (429, 503)
                            THEN l.retry_after END) AS BIGINT)
                       AS retry_after_s
            FROM log l JOIN agg a ON l.host = a.host
            GROUP BY l.host
        ),
        delays AS ({_robots_delays_cte()}),
        bk AS (
            SELECT a.host, a.n_fetches, a.n_errors,
                   a.n_errors * 1000 // a.n_fetches AS err_pm,
                   t.trailing_failures,
                   CAST({factor} AS BIGINT) AS backoff_factor,
                   t.retry_after_s
            FROM agg a JOIN tf t ON a.host = t.host
        )
        SELECT bk.host, bk.n_fetches, bk.n_errors, bk.err_pm,
               bk.trailing_failures, bk.backoff_factor, bk.retry_after_s,
               coalesce(d.crawl_delay,
                        CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE)) AS delay,
               coalesce(d.crawl_delay,
                        CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))
                   * bk.backoff_factor AS effective_delay
        FROM bk LEFT JOIN delays d ON bk.host = d.host
    """


ORACLES["q_host_backoff"] = _host_backoff_sql()


# conformance fixture thresholds: lowered so both violation paths fire
# without 50 MB fixtures (the operator's defaults are the spec's 50k
# URLs / 52,428,800 bytes)
_SC_MAX_URLS, _SC_MAX_BYTES = 6, 900


def q_sitemap_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemaps-protocol file limits
    (`operators/crawl.sitemap_conformance`): per-host sitemaps whose
    entry count varies by host index (s % 4 extra entries appended —
    the only per-host variation that is NOT degenerate under the
    fixture's m-residues, which are constant mod 10 per source) and
    every third host carries comment padding. Both limit verdicts and
    the combined `conformant` flag occur in both polarities and replay
    exactly — n_urls is a regex count over the blob (never an
    explode), n_bytes is the byte length (the spec limit is bytes:
    octet_length in Spark, strlen in the DuckDB replay)."""
    from ..operators.crawl import sitemap_conformance

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.selectExpr(
        "source", f"CAST({_SM_M} AS BIGINT) AS m"
    ).distinct().selectExpr(
        "source", "m", "CAST(substr(source, 4) AS INT) AS s"
    )
    sm = (
        pairs.groupBy("source", "s")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                f"named_struct('m', m, 'e', {_sm_entry_sql('STRING')})"
                ")), x -> x.e), '')"
            ).alias("body")
        )
        .selectExpr(
            "lower(concat('www.', source, '.com')) AS host",
            "concat('<?xml version=\"1.0\"?><urlset>', body, "
            "repeat(concat('<url><loc>https://www.', source, "
            "'.com/extra</loc></url>'), CAST(s % 4 AS INT)), "
            "CASE WHEN s % 3 = 0 THEN repeat('<!-- pad -->', 40) "
            "ELSE '' END, '</urlset>') AS sitemap_xml",
        )
    )
    return sitemap_conformance(
        sm, max_urls=_SC_MAX_URLS, max_bytes=_SC_MAX_BYTES
    ).select("host", "n_urls", "n_bytes", "urls_ok", "bytes_ok", "conformant")


def _sitemap_limits_sql() -> str:
    from ..operators.crawl import SITEMAP_URL_RE

    return f"""
        WITH pairs AS (
            SELECT source, m, CAST(substr(source, 4) AS INT) AS s
            FROM (
                SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
                FROM documents
            )
        ),
        sm AS (
            SELECT lower(concat('www.', source, '.com')) AS host,
                   concat('<?xml version="1.0"?><urlset>',
                          string_agg({_sm_entry_sql("VARCHAR")},
                                     '' ORDER BY m),
                          repeat(concat('<url><loc>https://www.', source,
                                 '.com/extra</loc></url>'),
                                 CAST(s % 4 AS INT)),
                          CASE WHEN s % 3 = 0
                               THEN repeat('<!-- pad -->', 40)
                               ELSE '' END,
                          '</urlset>') AS sitemap_xml
            FROM pairs GROUP BY source, s
        ),
        c AS (
            SELECT host,
                   CAST(len(regexp_extract_all(sitemap_xml,
                        '{SITEMAP_URL_RE}')) AS BIGINT) AS n_urls,
                   CAST(strlen(sitemap_xml) AS BIGINT) AS n_bytes
            FROM sm
        )
        SELECT host, n_urls, n_bytes,
               n_urls <= {_SC_MAX_URLS} AS urls_ok,
               n_bytes <= {_SC_MAX_BYTES} AS bytes_ok,
               n_urls <= {_SC_MAX_URLS} AND n_bytes <= {_SC_MAX_BYTES}
                   AS conformant
        FROM c
    """


ORACLES["q_sitemap_limits"] = _sitemap_limits_sql()


# robots cache fixture: 4 attempts per host at unique times; "now" and
# the status script per host index cycle all four access classes and
# both freshness outcomes
_RC_NOW, _RC_MAX_AGE = 200_000, 86_400


def _robots_fetch_status_sql() -> str:
    """Status of attempt j for host index s — shared by both engines.
    s%5=0: always 200 (freshness decided by age alone); 1: last 404
    (allow_all); 2: 200s then a final 503 (use_cached); 3: never
    reachable — 0/503 only (disallow_all); 4: 200s then a final 304 —
    the conditional-GET revalidation that refreshes the cache clock
    without a body."""
    return (
        "CASE WHEN s % 5 = 1 AND j = 3 THEN 404 "
        "WHEN s % 5 = 2 AND j = 3 THEN 503 "
        "WHEN s % 5 = 3 THEN CASE WHEN j % 2 = 0 THEN 0 ELSE 503 END "
        "WHEN s % 5 = 4 AND j = 3 THEN 304 "
        "ELSE 200 END"
    )


def q_robots_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 §2.4 + §2.3.1.3-4 cache/availability policy
    (`operators/crawl.robots_cache_policy`): per-host fetch-attempt
    logs cycling all four access classes — obey a fresh file, 4xx ⇒
    allow_all, 5xx with an old success ⇒ use_cached (stale serving is
    sanctioned while unreachable), never-reachable ⇒ disallow_all —
    and both freshness outcomes (hosts s ≥ 10 fetch 30,000 s later, so
    their last success sits inside the 24 h window while earlier
    hosts' sits outside) against a fixed integer "now". One host-keyed aggregate, no
    window."""
    from ..operators.crawl import robots_cache_policy

    docs = load_table(spark, sf_dir, "documents")
    log = (
        docs.selectExpr("source").distinct()
        .selectExpr(
            "lower(concat('www.', source, '.com')) AS host",
            "CAST(substr(source, 4) AS INT) AS s",
        )
        .select("host", "s", F.explode(F.expr("sequence(0, 3)")).alias("j"))
        .selectExpr(
            "host",
            "s",
            "CAST(1000 * s + 30000 * j + CASE WHEN s >= 10 THEN 30000 ELSE 0 END AS BIGINT) AS fetched_at_s",
            f"{_robots_fetch_status_sql()} AS status",
        )
    )
    return robots_cache_policy(
        log, now_s=_RC_NOW, max_age_s=_RC_MAX_AGE
    ).select(
        "host", "last_status", "last_success_at", "age_s",
        "access_class", "refetch_due",
    )


def _robots_cache_sql() -> str:
    return f"""
        WITH hosts AS (
            SELECT DISTINCT lower(concat('www.', source, '.com')) AS host,
                   CAST(substr(source, 4) AS INT) AS s
            FROM documents
        ),
        log AS (
            SELECT host,
                   CAST(1000 * s + 30000 * j + CASE WHEN s >= 10 THEN 30000 ELSE 0 END AS BIGINT) AS fetched_at_s,
                   {_robots_fetch_status_sql()} AS status
            FROM hosts, unnest(generate_series(0, 3)) t(j)
        ),
        agg AS (
            SELECT host,
                   CAST(max(CASE WHEN (status >= 200 AND status < 300)
                            OR status = 304
                            THEN fetched_at_s END) AS BIGINT)
                       AS last_success_at,
                   CAST(max(CASE WHEN (status >= 200 AND status < 300)
                            OR status = 304
                            OR (status >= 400 AND status < 500)
                            THEN fetched_at_s END) AS BIGINT)
                       AS last_definitive_at,
                   max_by(status, fetched_at_s) AS last_status
            FROM log GROUP BY host
        )
        SELECT host, last_status, last_success_at,
               CAST({_RC_NOW} - last_definitive_at AS BIGINT) AS age_s,
               CASE WHEN (last_status >= 200 AND last_status < 300)
                    OR last_status = 304
                    THEN 'use_robots'
                    WHEN last_status >= 400 AND last_status < 500
                    THEN 'allow_all'
                    WHEN last_success_at IS NOT NULL THEN 'use_cached'
                    ELSE 'disallow_all' END AS access_class,
               last_definitive_at IS NULL
                   OR {_RC_NOW} - last_definitive_at > {_RC_MAX_AGE}
                   AS refetch_due
        FROM agg
    """


ORACLES["q_robots_cache"] = _robots_cache_sql()


# r13 (ADVICE r12 #1): hosts src7/src17 are held OUT of the backoff
# fetch log — a host present in the robots log but never fetched must
# still schedule, at backoff_factor 1 / retry_wait 0 (src17 is the
# load-bearing contrast: with history it would carry factor 8 and an
# active Retry-After)
_BK_ABSENT_WHERE = "s % 10 != 7"


def _adaptive_eff(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The health-rails effective-politeness frame shared by
    `q_adaptive_schedule` and `q_adaptive_cycle` (ONE builder, like the
    oracle's `_adaptive_eff_ctes`): per usable host — robots-cache
    gate (``disallow_all`` excluded, ``allow_all`` forced to the
    DEFAULT delay so a dead file's declared value can't leak),
    LEFT-joined backoff state with never-fetched hosts defaulting to
    factor 1 / no Retry-After (r13, ADVICE r12 #1 — an inner join made
    them vanish), effective crawl_delay = delay × factor (exact), and
    retry_wait = the server's active Retry-After or 0.

    The returned host-dimension frame is materialized once
    (localCheckpoint — the one-shot-share exemption in
    `plans.truncate`): both composed queries consume it 3-4× (frontier
    gate, weights join, scheduler delays, final attach), and without
    the materialization each consumer re-derives the whole cache-policy
    + backoff + robots-parse subtree (r13 measurement: 24-40 Exchange
    nodes in the composed plans, most of them these repeats). This is
    also the production shape — a cycle materializes its health frame
    and reads it everywhere."""
    from ..operators.crawl import host_backoff, robots_cache_policy
    from ..operators.robots import robots_crawl_delay

    hosts = docs.selectExpr("source").distinct().selectExpr(
        "source",
        "lower(concat('www.', source, '.com')) AS host",
        "CAST(substr(source, 4) AS INT) AS s",
    )
    rlog = hosts.select(
        "host", "s", F.explode(F.expr("sequence(0, 3)")).alias("j")
    ).selectExpr(
        "host",
        "CAST(1000 * s + 30000 * j + CASE WHEN s >= 10 THEN 30000 "
        "ELSE 0 END AS BIGINT) AS fetched_at_s",
        f"{_robots_fetch_status_sql()} AS status",
    )
    flog = hosts.filter(_BK_ABSENT_WHERE).select(
        "host", "s", F.explode(F.expr(f"sequence(0, {_BK_N - 1})")).alias("i")
    ).selectExpr(
        "host",
        "CAST(i AS BIGINT) AS fetch_idx",
        f"{_backoff_log_sql()} AS status",
        "CASE WHEN s % 4 = 3 AND i = 20 THEN CAST(60 + s AS BIGINT) "
        "WHEN s % 4 = 1 AND i = 37 THEN CAST(90 + s AS BIGINT) "
        "END AS retry_after",
    )
    usable = robots_cache_policy(
        rlog, now_s=_RC_NOW, max_age_s=_RC_MAX_AGE
    ).filter("access_class != 'disallow_all'").select("host", "access_class")
    bk = host_backoff(flog, retry_after_col="retry_after").select(
        "host", "backoff_factor", "retry_after_s"
    )
    delays = robots_crawl_delay(_robots_files(spark), agent=_ROBOTS_AGENT)
    return (
        usable.join(
            delays.select(F.col("host").alias("_dh"), "crawl_delay"),
            usable["host"] == F.col("_dh"),
            "left",
        )
        .drop("_dh")
        .join(
            bk.withColumnRenamed("host", "_bh"),
            F.col("host") == F.col("_bh"),
            "left",
        )
        .drop("_bh")
        .selectExpr(
            "host",
            "access_class",
            "coalesce(backoff_factor, CAST(1 AS BIGINT)) AS backoff_factor",
            "CASE WHEN access_class = 'allow_all' "
            f"THEN CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE) "
            f"ELSE coalesce(crawl_delay, CAST({_DEFAULT_CRAWL_DELAY}"
            " AS DOUBLE)) END"
            " * coalesce(backoff_factor, CAST(1 AS BIGINT)) AS crawl_delay",
            "coalesce(retry_after_s, CAST(0 AS BIGINT)) AS retry_wait",
        )
        .transform(registered_local_checkpoint)
    )


def _adaptive_eff_ctes() -> str:
    """Oracle twin of `_adaptive_eff`: the CTE chain ``bk, pol, delays,
    eff`` (eff: host, access_class, backoff_factor, crawl_delay,
    retry_wait). Spliced by both composed oracles so the health-rails
    replay has ONE source of truth."""
    return f"""bk AS ({_host_backoff_sql(where=_BK_ABSENT_WHERE)}),
        pol AS ({_robots_cache_sql()}),
        delays AS ({_robots_delays_cte()}),
        eff AS (
            SELECT p.host, p.access_class,
                   coalesce(b.backoff_factor, CAST(1 AS BIGINT))
                       AS backoff_factor,
                   CASE WHEN p.access_class = 'allow_all'
                        THEN CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE)
                        ELSE coalesce(d.crawl_delay,
                             CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE)) END
                       * coalesce(b.backoff_factor, CAST(1 AS BIGINT))
                       AS crawl_delay,
                   coalesce(b.retry_after_s, CAST(0 AS BIGINT))
                       AS retry_wait
            FROM pol p
            LEFT JOIN bk b ON p.host = b.host
            LEFT JOIN delays d ON p.host = d.host
            WHERE p.access_class != 'disallow_all'
        )"""


def _adaptive_frontier(docs: DataFrame, eff: DataFrame) -> DataFrame:
    """The '/articles/…' URL backlog restricted to usable hosts — the
    frontier frame shared by both adaptive compositions (ONE builder,
    the `_adaptive_eff` discipline; oracle twin
    `_adaptive_frontier_ctes`). Materialized once (localCheckpoint):
    both compositions consume it 2× (weights aggregate + wave window),
    and the backlog-build + usable-host gate would otherwise replay per
    consumer."""
    return (
        docs.selectExpr("source", f"CAST({_SM_M} AS BIGINT) AS m")
        .distinct()
        .selectExpr(
            "lower(concat('www.', source, '.com')) AS host",
            "concat('https://www.', source, '.com/articles/', "
            "CAST(m AS STRING)) AS url",
        )
        .join(eff.select(F.col("host").alias("_uh")),
              F.col("host") == F.col("_uh"))
        .drop("_uh")
        .transform(registered_local_checkpoint)
    )


def _adaptive_frontier_ctes() -> str:
    """Oracle twin of `_adaptive_frontier`: CTE chain ``fr, frontier``
    (frontier: host, url — usable hosts only; expects ``eff`` in
    scope)."""
    return f"""fr AS (
            SELECT lower(concat('www.', source, '.com')) AS host,
                   concat('https://www.', source, '.com/articles/',
                          CAST(m AS VARCHAR)) AS url
            FROM (
                SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
                FROM documents
            )
        ),
        frontier AS (
            SELECT fr.host, fr.url FROM fr JOIN eff e ON fr.host = e.host
        )"""


def q_adaptive_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operations rails composed into the schedule (r12) — what the
    fetcher actually executes once health enters the picture:

    1. `robots_cache_policy` gates hosts: ``disallow_all`` hosts are
       EXCLUDED from the cycle; ``allow_all`` (4xx robots) hosts take
       the DEFAULT delay — a file that doesn't exist declares no
       Crawl-delay, so the declared value must NOT leak through;
    2. `host_backoff` scales each usable host's politeness:
       effective_delay = delay × 2^trailing (exact product), and the
       server's Retry-After (if any) pushes the host's whole queue
       back by that many seconds. The join is LEFT (r13, ADVICE r12
       #1): a usable host with NO fetch history — the fixture holds
       src7/src17 out of the fetch log — schedules at factor 1 /
       retry_wait 0 instead of vanishing;
    3. `fetch_schedule` orders each host's frontier into waves over
       the EFFECTIVE delay: scheduled_offset = retry_wait +
       (wave−1) × effective_delay.

    Pins the key shapes between all three rails and the scheduler the
    same way `q_crawl_cycle` pins the recrawl halves. Scale shape:
    three host-dimension aggregates, one per-host window over the
    frontier, two host-keyed broadcastable joins — nothing
    URL-volume-sized shuffles more than once."""
    from ..operators.crawl import fetch_schedule

    docs = load_table(spark, sf_dir, "documents")
    eff = _adaptive_eff(spark, docs)
    frontier = _adaptive_frontier(docs, eff)
    sched = fetch_schedule(
        frontier, eff.select("host", "crawl_delay"),
        default_delay=_DEFAULT_CRAWL_DELAY,
    )
    return (
        sched.join(
            eff.selectExpr(
                "host AS _eh", "access_class", "backoff_factor", "retry_wait"
            ),
            sched["host"] == F.col("_eh"),
        )
        .drop("_eh")
        .selectExpr(
            "host", "url", "access_class", "backoff_factor", "wave",
            "delay AS effective_delay", "retry_wait",
            "retry_wait + scheduled_offset AS start_offset",
        )
    )


def _adaptive_schedule_sql() -> str:
    return f"""
        WITH {_adaptive_eff_ctes()},
        {_adaptive_frontier_ctes()},
        w AS (
            SELECT host, url,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY url) AS BIGINT) AS wave
            FROM frontier
        )
        SELECT w.host, w.url, e.access_class, e.backoff_factor, w.wave,
               e.crawl_delay AS effective_delay, e.retry_wait,
               e.retry_wait + CAST(w.wave - 1 AS DOUBLE) * e.crawl_delay
                   AS start_offset
        FROM w JOIN eff e ON w.host = e.host
    """


ORACLES["q_adaptive_schedule"] = _adaptive_schedule_sql()


# the adaptive-cycle composition (r13, VERDICT r12 #2): the health
# rails DRIVE the budget — effective_delay (declared × backoff factor,
# allow_all forced to default) feeds `feasible_budget_allocate`'s
# politeness cap, so a backed-off host's cap measurably SHRINKS
# (factor-8 hosts at cycle 60: cap floor(60/40)+1 = 2 vs 13 over the
# raw delay 5), and the Retry-After queue push lands on every
# start_offset.
# Budget 60 < the ~80-URL usable backlog so Hamilton binds; the capped
# surplus refills fast hosts (src2's effective delay 1 s).
_AC_BUDGET, _AC_CYCLE = 60, 60


def q_adaptive_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 health rails composed INTO the budget (r13, VERDICT r12
    #2 — the last seam between the recrawl halves and the ops rails):
    `q_crawl_cycle` allocated its fetch budget over RAW Crawl-delays;
    this cycle allocates over the EFFECTIVE delay the fetcher will
    actually honor —

    1. `_adaptive_eff`: robots-cache gate → usable hosts; backoff
       factor × declared delay (allow_all → default) = effective
       delay; active Retry-After = queue push;
    2. the URL backlog weights each host and
       `feasible_budget_allocate` runs with delay = EFFECTIVE delay:
       cap = floor(cycle/eff)+1, so a backed-off host's cap shrinks by
       exactly its factor's worth and the freed budget refills healthy
       hosts' headroom (Σ quota = min(budget, Σ cap) still exact);
    3. `fetch_schedule` orders each host's queue over the effective
       delay, the wave cut keeps quota_h fetches, and every offset is
       pushed back by the host's retry_wait.

    Scale shape: `q_adaptive_schedule`'s three host-dimension
    aggregates + `q_feasible_budget`'s allocation (1-row broadcast
    scalars + distributed rank/prefix sum) + one per-host frontier
    window and two host-keyed broadcastable joins — the composition
    adds NO new URL-volume shuffle."""
    from ..operators.crawl import feasible_budget_allocate, fetch_schedule

    docs = load_table(spark, sf_dir, "documents")
    eff = _adaptive_eff(spark, docs)
    frontier = _adaptive_frontier(docs, eff)
    hosts = (
        frontier.groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .join(
            eff.selectExpr("host AS _eh", "crawl_delay AS delay"),
            F.col("host") == F.col("_eh"),
        )
        .drop("_eh")
    )
    alloc = feasible_budget_allocate(hosts, _AC_BUDGET, _AC_CYCLE)
    sched = fetch_schedule(
        frontier, eff.select("host", "crawl_delay"),
        default_delay=_DEFAULT_CRAWL_DELAY,
    )
    return (
        sched.join(
            alloc.selectExpr("host AS _ah", "quota", "cap"),
            sched["host"] == F.col("_ah"),
        )
        .drop("_ah")
        .join(
            eff.selectExpr(
                "host AS _eh", "access_class", "backoff_factor", "retry_wait"
            ),
            F.col("host") == F.col("_eh"),
        )
        .drop("_eh")
        .filter("wave <= quota")
        .selectExpr(
            "host", "url", "access_class", "backoff_factor", "wave",
            "quota", "cap", "delay AS effective_delay", "retry_wait",
            "retry_wait + scheduled_offset AS start_offset",
        )
    )


def _adaptive_cycle_sql() -> str:
    return f"""
        WITH {_adaptive_eff_ctes()},
        {_adaptive_frontier_ctes()},
        w AS (
            SELECT host, CAST(COUNT(*) AS BIGINT) AS weight
            FROM frontier GROUP BY host
        ),
        h AS (
            SELECT w.host, w.weight, e.crawl_delay AS delay
            FROM w JOIN eff e ON w.host = e.host
        ),
        {_feasible_alloc_ctes(_AC_BUDGET, _AC_CYCLE)},
        sched AS (
            SELECT host, url,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY url) AS BIGINT) AS wave
            FROM frontier
        )
        SELECT s.host, s.url, e.access_class, e.backoff_factor, s.wave,
               a.quota, a.cap, a.delay AS effective_delay, e.retry_wait,
               e.retry_wait + CAST(s.wave - 1 AS DOUBLE) * a.delay
                   AS start_offset
        FROM sched s
        JOIN alloc a ON s.host = a.host
        JOIN eff e ON s.host = e.host
        WHERE s.wave <= a.quota
    """


ORACLES["q_adaptive_cycle"] = _adaptive_cycle_sql()


# ---------------------------------------------------------------------------
# the discovery story end-to-end (r10): robots.txt → Sitemap directive →
# sitemap INDEX → member urlsets → REP gate → politeness schedule, one plan


# discovery conformance-gate thresholds (r13): fixture-lowered so the
# 2-entry members (~252 B) violate both limits while the 1-entry
# members (~146 B) pass — `conformant` occurs in both polarities
# without 50 MB fixtures (component-verdict polarities are
# q_sitemap_limits' job)
_GD_MAX_URLS, _GD_MAX_BYTES = 1, 250


def q_discovery_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL discovery end-to-end in ONE plan — every hop a compliant
    crawler actually takes, each already proven alone, composed here so
    the seams are driver-checked too: parse robots.txt and follow its
    `Sitemap:` directive (`robots_sitemaps`), fetch the sitemap INDEX
    it names and recurse into the member urlsets
    (`parse_sitemap_index` → member-body join → `parse_sitemap`),
    REP-gate every discovered URL against the fixture ruleset
    (wildcard rules included — `robots_filter`), and schedule the
    allowed ones politely (`fetch_schedule` with the SAME files'
    Crawl-delays). Hosts without a robots.txt file are never
    discovered at all (the fixture names 4 of the 10 corpus hosts —
    realistic: discovery starts from robots, not from the corpus).

    r13 (VERDICT r12 #5): each fetched MEMBER passes through
    `sitemap_conformance` before its URLs are admitted — sitemaps.org
    0.9 caps a file at 50k URLs / 50 MB and says split oversize files,
    so a compliant crawler refuses to ingest violators. Non-conformant
    members are loudly FLAGGED, not silently dropped: their URLs
    appear with ``admitted = false`` and NULL wave/delay/offset (the
    thresholds are fixture-lowered so the 2-entry members violate both
    limits while 1-entry members pass — both polarities occur; a
    production pipeline short-circuits the parse instead of carrying
    the rows, this row carries them so the gate is auditable).

    Scale shape: 10 exchanges on the static plan, and MOST belong to
    the fixture synthesis (the distinct + two aggregates that build
    the XML, and the robots-parse windows behind the Crawl-delay
    table) — the discovery hops themselves contribute the member join,
    the REP gate (zero), the schedule window and the delays join, all
    member-count- or host-dimension-sized (AQE broadcasts the small
    sides at runtime). XML bodies never outlive their parse tasks; the
    only frame that persists is the final (host, url) schedule."""
    from ..operators.crawl import (
        fetch_schedule,
        parse_sitemap,
        parse_sitemap_index,
        sitemap_conformance,
    )
    from ..operators.robots import robots_crawl_delay, robots_sitemaps

    files = _robots_files(spark)
    sm = robots_sitemaps(files).select("sitemap_url")

    docs = load_table(spark, sf_dir, "documents")
    parts = docs.selectExpr(
        "source", f"CAST({_SM_M} AS BIGINT) AS m"
    ).distinct().withColumn("p", F.expr(f"m % {_N_SM_PARTS}"))
    # `bodies` feeds both the member urlsets and the index synthesis —
    # materialize it once (localCheckpoint, one-shot-share exemption)
    # instead of replaying the docs distinct + collect_list aggregate
    # per consumer.
    bodies = parts.groupBy("source", "p").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            f"named_struct('m', m, 'e', {_sm_entry_sql('STRING')})"
            ")), x -> x.e), '')"
        ).alias("body")
    ).transform(registered_local_checkpoint)
    members = bodies.select(
        F.expr(_sm_member_url_sql("STRING")).alias("member_url"),
        F.expr(
            "concat('<?xml version=\"1.0\"?><urlset>', body, '</urlset>')"
        ).alias("sitemap_xml"),
    )
    index = bodies.groupBy("source").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            f"named_struct('p', p, 'e', {_sm_member_entry_sql('STRING')})"
            ")), x -> x.e), '')"
        ).alias("ibody")
    ).select(
        F.expr(
            "concat('https://', lower(concat('www.', source, '.com')), "
            "'/sitemap.xml')"
        ).alias("index_url"),
        F.expr(
            "concat('<?xml version=\"1.0\"?><sitemapindex>', ibody, "
            "'</sitemapindex>')"
        ).alias("sitemap_index_xml"),
    )
    # the "fetch" of the directive target: only indexes a robots.txt
    # actually named are ever read
    discovered = sm.join(
        index, sm["sitemap_url"] == index["index_url"]
    ).drop("index_url")
    midx = parse_sitemap_index(discovered)
    fetched = midx.join(
        members, midx["sitemap_loc"] == members["member_url"]
    ).drop("member_url")
    conf = sitemap_conformance(
        fetched, max_urls=_GD_MAX_URLS, max_bytes=_GD_MAX_BYTES
    )
    urls = parse_sitemap(
        conf.select("sitemap_loc", "n_urls", "conformant", "sitemap_xml")
    )
    gated = robots_filter(urls, _ROBOTS_RULES, url_col="loc")
    base = gated.filter("allowed").select(
        "host",
        F.col("loc").alias("url"),
        "matched_len",
        F.col("sitemap_loc").alias("member_url"),
        F.col("n_urls").alias("member_n_urls"),
        F.col("conformant").alias("admitted"),
    ).transform(registered_local_checkpoint)
    delays = robots_crawl_delay(files, agent=_ROBOTS_AGENT)
    sched = fetch_schedule(
        base.filter("admitted"), delays, default_delay=_DEFAULT_CRAWL_DELAY
    ).select(
        "host", "url", "matched_len", "member_url", "member_n_urls",
        "admitted", "wave", "delay", "scheduled_offset",
    )
    skipped = base.filter("NOT admitted").selectExpr(
        "host", "url", "matched_len", "member_url", "member_n_urls",
        "admitted",
        "CAST(NULL AS BIGINT) AS wave",
        "CAST(NULL AS DOUBLE) AS delay",
        "CAST(NULL AS DOUBLE) AS scheduled_offset",
    )
    return sched.unionByName(skipped)


def _discovery_pipeline_sql() -> str:
    from ..operators.crawl import SITEMAP_MEMBER_RE
    from ..operators.robots import (
        DUCK_D,
        ROBOTS_CLEAN_SQL,
        ROBOTS_KEY_SQL,
        ROBOTS_VAL_SQL,
        crawl_delay_oracle_sql,
        robots_exprs,
    )

    vals = ", ".join(
        "('" + h + "', '" + txt.replace("'", "''") + "')"
        for h, txt in _robots_txt_files()
    )
    files_sql = f"SELECT * FROM (VALUES {vals}) v(host, robots_txt)"
    delays = crawl_delay_oracle_sql(files_sql, _ROBOTS_AGENT)
    c = ROBOTS_CLEAN_SQL.format(raw="_raw")
    e = robots_exprs(DUCK_D, _ROBOTS_RULES, "loc")
    d = f"coalesce(dl.crawl_delay, CAST({_DEFAULT_CRAWL_DELAY} AS DOUBLE))"
    loc = "nullif(regexp_extract(u, '<loc>([^<]*)</loc>', 1), '')"
    return f"""
        WITH files AS ({files_sql}),
        sm AS (
            SELECT {ROBOTS_VAL_SQL.format(c="c")} AS sitemap_url
            FROM (
                SELECT {c} AS c FROM (
                    SELECT unnest(regexp_split_to_array(robots_txt,
                           '\r?\n')) AS _raw
                    FROM files
                )
            )
            WHERE {ROBOTS_KEY_SQL.format(c="c")} = 'sitemap'
              AND {ROBOTS_VAL_SQL.format(c="c")} <> ''
        ),
        parts AS (
            SELECT source, m, m % {_N_SM_PARTS} AS p FROM (
                SELECT DISTINCT source, CAST({_SM_M} AS BIGINT) AS m
                FROM documents
            )
        ),
        bodies AS (
            SELECT source, p,
                   string_agg({_sm_entry_sql("VARCHAR")}, '' ORDER BY m)
                       AS body
            FROM parts GROUP BY source, p
        ),
        members AS (
            SELECT {_sm_member_url_sql("VARCHAR")} AS member_url,
                   concat('<?xml version="1.0"?><urlset>', body,
                          '</urlset>') AS sitemap_xml
            FROM bodies
        ),
        index_ AS (
            SELECT concat('https://',
                          lower(concat('www.', source, '.com')),
                          '/sitemap.xml') AS index_url,
                   concat('<?xml version="1.0"?><sitemapindex>',
                          string_agg({_sm_member_entry_sql("VARCHAR")},
                                     '' ORDER BY p),
                          '</sitemapindex>') AS xml
            FROM bodies GROUP BY source
        ),
        disc AS (
            SELECT i.xml FROM sm s JOIN index_ i
            ON s.sitemap_url = i.index_url
        ),
        midx AS (
            SELECT nullif(regexp_extract(s, '<loc>([^<]*)</loc>', 1), '')
                       AS sitemap_loc
            FROM (
                SELECT unnest(regexp_extract_all(xml,
                       '{SITEMAP_MEMBER_RE}', 0)) AS s
                FROM disc
            )
        ),
        fetched AS (
            SELECT x.sitemap_loc, m.sitemap_xml
            FROM midx x JOIN members m ON x.sitemap_loc = m.member_url
            WHERE x.sitemap_loc IS NOT NULL
        ),
        conf AS (
            SELECT sitemap_loc, sitemap_xml,
                   CAST(len(regexp_extract_all(sitemap_xml,
                        '{SITEMAP_URL_RE}')) AS BIGINT) AS n_urls,
                   CAST(strlen(sitemap_xml) AS BIGINT) AS n_bytes
            FROM fetched
        ),
        ub AS (
            SELECT sitemap_loc, n_urls,
                   n_urls <= {_GD_MAX_URLS}
                       AND n_bytes <= {_GD_MAX_BYTES} AS conformant,
                   unnest(regexp_extract_all(sitemap_xml,
                   '{SITEMAP_URL_RE}', 0)) AS u
            FROM conf
        ),
        gated AS (
            SELECT {e["host"]} AS host, loc AS url,
                   {e["matched_len"]} AS matched_len,
                   sitemap_loc AS member_url, n_urls AS member_n_urls,
                   conformant AS admitted
            FROM (SELECT sitemap_loc, n_urls, conformant, {loc} AS loc
                  FROM ub)
            WHERE loc IS NOT NULL AND {e["allowed"]}
        ),
        delays AS ({delays}),
        w AS (
            SELECT host, url, matched_len, member_url, member_n_urls,
                   admitted,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY url) AS BIGINT) AS wave
            FROM gated WHERE admitted
        )
        SELECT w.host, w.url, w.matched_len, w.member_url,
               w.member_n_urls, w.admitted, w.wave, {d} AS delay,
               CAST(w.wave - 1 AS DOUBLE) * {d} AS scheduled_offset
        FROM w LEFT JOIN delays dl ON w.host = dl.host
        UNION ALL
        SELECT host, url, matched_len, member_url, member_n_urls,
               admitted, CAST(NULL AS BIGINT) AS wave,
               CAST(NULL AS DOUBLE) AS delay,
               CAST(NULL AS DOUBLE) AS scheduled_offset
        FROM gated WHERE NOT admitted
    """


ORACLES["q_discovery_pipeline"] = _discovery_pipeline_sql()
