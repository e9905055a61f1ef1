"""Measured scaling curves: replicate the fixture corpus K× IN MEMORY
and time headline operators at K = 1, 4, 16 — the dynamic companion to
SCALE.md's static shuffle inventory and SHUFFLE_AUDIT.json's byte audit.
Plan pins prove the SHAPE survives scale; this measures that wall-clock
actually follows ~O(n) (or the documented super-linear bound) when the
input grows 16×, on the same host, same session, back to back.

Replication is semantics-preserving for near-dup operators: every
replica's text is perturbed with a replica-unique token, so replicas are
NOT near-duplicates of each other and true pair volume stays linear in K
(a verbatim K× copy would multiply pair output by K² and measure output
explosion, not engine scaling). Ids are remapped to `id * K + replica`
so uniqueness invariants hold.

Output: SCALE_STRESS.json — per operator, seconds at each K, the output
row count at each K (so reviewers can see the work actually grew), and
`exp16` = log(t16 / t1) / log 16, the empirical scaling exponent
(1.0 = perfectly linear; < 1 = fixed overhead still dominates; the
audit flags > 1.35).

Usage: python tools/scale_stress.py [sf_dir]  (default sf0.1)
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from xeloader_spark.catalog import load_table
from xeloader_spark.operators.text import _tok_array
from xeloader_spark.session import get_spark

KS = [1, 4, 16]
FLAG_EXPONENT = 1.35
DOCLEN_ROWS = 128  # rows held constant for the doc-length axis

# Families where super-linear scaling is the MEASURED POINT, not a
# defect: they stay in the artifact (with note + exponent) but don't
# land in the "flagged" list the audit gates on.
DELIBERATE = {
    "blocked_link_hotblock": (
        "deliberate skew trap: ~1% of rows share ONE block across all "
        "replicas, so hot-block pair volume grows K^2 — quantifies why "
        "the blocking key must be composed from more fields (compare "
        "blocked_link, same data, replica-disjoint key)"
    ),
    "harmonic_exact_density": (
        "deliberate pair-frame trap (r9, VERDICT r8 #7): exact "
        "bounded-hop harmonic materializes O(reachable pairs); on the "
        "density axis the 4-hop ball saturates toward n, so the pair "
        "frame heads to n^2 — the measured reason hyperball_density "
        "(same edges, register-table rounds) is the registered 100 TB "
        "path and this exact form is the bounded-host validation twin"
    ),
    "feasible_budget_singletask": (
        "deliberate single-task-window contrast (r12): the oracle's "
        "formulation of feasible_budget_allocate run AS the Spark plan "
        "— a global row_number window for the remainder rank and a "
        "global running-sum window for the headroom prefix serialize "
        "every host row through ONE task; compare feasible_budget_hosts "
        "(same data, same arithmetic, range rank + distributed prefix "
        "sum), the measured reason the operator uses them"
    ),
    "redirect_linear_chainlen": (
        "deliberate linear-follow contrast (r9): the oracle's "
        "one-edge-per-step formulation run AS the Spark plan — join "
        "count grows with chain length (8K joins at K); at K=16 "
        "(128 joins) the plan does not run AT ALL (analyzer "
        "max-iterations at the default, whole-stage-codegen "
        "StackOverflowError with it raised — recorded in `errors`); "
        "compare redirect_doubling_chainlen (same edges, same "
        "semantics, log2(8K) rounds), the measured reason "
        "resolve_redirects uses doubling"
    ),
}

N_GRAPH_NODES = 2000  # fixed node set for the graph-density axis
N_REDIR_NODES = 20000  # fixed src-URL set for the chain-length axis
# r12 BUDGET axis (VERDICT r11 #4): hosts grow K× (200k → 3.2M) with a
# DELIBERATELY skewed headroom distribution — 1% fast hosts (delay 0.5,
# cap 121) hold nearly all refill headroom while 99% slow hosts (delay
# 30, cap 3) mostly cap-bind under their Hamilton quota — the refill
# concentrates on a thin ordered band, the worst case for any
# implementation that funnels the running sum through one task
N_BUDGET_HOSTS = 200_000

# r10 PHRASE axes (VERDICT r9 #7): the fixture vocabulary (30 uniform
# ~9k-occurrence terms at sf0.1) from which the K-scaled phrase tables
# are composed deterministically
_PH_TERMS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
# phrase count = 48·K on the phrase-count axes: sized so the witness
# join (3 terms × ~9k postings each × phrases) dominates the fixed
# tokenize cost — at 16·K the curve measured FLAT 0.6s at every K (the
# posting build swamped 16..256 phrases) and the axis proved nothing;
# 48·K tops out at 768, inside the 30·29 = 870 distinct ordered pairs
# the injective generator below can produce
N_PHRASES_BASE = 48


def phrase_frames(spark, k: int):
    """(cold, hot) phrase tables for the phrase-COUNT axis: 48·K
    unique 3-term phrases over the uniform fixture vocabulary, both
    keyed by the same injective (x, y) pair walk (p → distinct ordered
    term pair while p < 870). Cold spreads leading terms across all 30
    terms; hot makes EVERY phrase lead with the same term ('spark'),
    so all of that term's ~9k posting rows replicate once per phrase
    ONTO ONE JOIN KEY — the stopword-leading skew lever
    operators/phrase.py documents (df-stoplist / AQE skew-join at
    scale), measured against the spread-lead twin on identical corpus,
    arity, and phrase count. Matches are incidental (random triples
    rarely occur adjacently) — the measured work is the witness join
    + the (doc, phrase, start) aggregate, which run in full either
    way."""
    n = N_PHRASES_BASE * k
    m = len(_PH_TERMS)

    def pair(p):
        x = p % m
        return x, (x + 1 + (p // m) % (m - 1)) % m

    # the K=1 corpus is replicate_docs(docs, 1): every token carries
    # the '_r0' replica suffix, so phrase terms MUST carry it too or
    # the term join matches nothing and the axis measures overhead
    # (the first run of this axis made exactly that mistake: flat
    # 0.44s at every K, zero witness rows)
    t = [f"{w}_r0" for w in _PH_TERMS]
    cold = []
    hot = []
    for p in range(n):
        x, y = pair(p)
        cold.append((f"{t[x]} {t[y]} {t[(x + y) % m]}",))
        hot.append((f"{t[0]} {t[x]} {t[y]}",))
    return (
        spark.createDataFrame(cold, "phrase string"),
        spark.createDataFrame(hot, "phrase string"),
    )


# r11 DISCOVERY axis (VERDICT r10 #7): hosts grow K× — the crawl's
# natural partition axis — each publishing a 2-level sitemap tree
N_DISC_HOSTS = 40  # hosts at K=1
N_DISC_PARTS = 4   # index members (urlset parts) per host
N_DISC_URLS = 60   # urls per member urlset


def budget_host_frame(spark, k: int):
    """The budget axis's host dimension at K: N_BUDGET_HOSTS·K hosts,
    cycling weights 1..97, with the skewed delay split (1% fast /
    99% slow — see the constant's comment). Deterministic, synthesized
    by `spark.range` in one projection; localCheckpoint'd by the
    harness so the measured op isolates the allocation itself."""
    return spark.range(N_BUDGET_HOSTS * k).selectExpr(
        "concat('h', lpad(CAST(id AS STRING), 9, '0')) AS host",
        "CAST(1 + id % 97 AS BIGINT) AS weight",
        "CASE WHEN id % 100 = 0 THEN CAST(0.5 AS DOUBLE) "
        "ELSE CAST(30.0 AS DOUBLE) END AS delay",
    )


def adaptive_cycle_frames(spark, k: int):
    """The r13 COMPOSITION axis's four inputs at N_BUDGET_HOSTS·K
    hosts — fetch log (8 attempts/host, shapes giving backoff factors
    1/2/4 plus an active Retry-After band), robots-attempt log
    (2 attempts/host; ~20% of hosts never reachable → gated out, ~20%
    4xx → allow_all), a declared-delay table covering only some hosts
    (1% fast 0.5 s, a slow declared band, the rest defaulting), and a
    4-URL-per-host frontier. All deterministic `spark.range`
    projections; localCheckpoint'd by the harness."""
    n = N_BUDGET_HOSTS * k
    host = "concat('h', lpad(CAST(id DIV {d} AS STRING), 9, '0')) AS host"
    flog = spark.range(n * 8).selectExpr(
        host.format(d=8),
        "CAST(id % 8 AS BIGINT) AS fetch_idx",
        "CAST(CASE WHEN (id DIV 8) % 4 = 1 AND id % 8 >= 6 THEN 503 "
        "WHEN (id DIV 8) % 8 = 5 AND id % 8 = 7 THEN 500 "
        "WHEN (id DIV 8) % 4 = 3 AND id % 8 = 2 THEN 500 "
        "ELSE 200 END AS INT) AS status",
        "CASE WHEN (id DIV 8) % 4 = 1 AND id % 8 = 6 "
        "THEN CAST(60 + (id DIV 8) % 37 AS BIGINT) END AS retry_after",
    )
    rlog = spark.range(n * 2).selectExpr(
        host.format(d=2),
        "CAST(1000 * (id DIV 2) + 50000 * (id % 2) AS BIGINT)"
        " AS fetched_at_s",
        "CAST(CASE WHEN (id DIV 2) % 5 = 3 THEN 503 "
        "WHEN (id DIV 2) % 5 = 1 AND id % 2 = 1 THEN 404 "
        "ELSE 200 END AS INT) AS status",
    )
    delays = spark.range(n).filter("id % 3 = 0").selectExpr(
        host.format(d=1),
        "CASE WHEN id % 100 = 0 THEN CAST(0.5 AS DOUBLE) "
        "ELSE CAST(30.0 AS DOUBLE) END AS crawl_delay",
    )
    frontier = spark.range(n * 4).selectExpr(
        host.format(d=4),
        "concat('https://h', CAST(id DIV 4 AS STRING), '/a/', "
        "CAST(id % 4 AS STRING)) AS url",
    )
    return flog, rlog, delays, frontier


def discovery_frames(spark, k: int):
    """Two-level discovery fixture at K: N_DISC_HOSTS·K hosts, each
    with a <sitemapindex> naming N_DISC_PARTS member urlsets of
    N_DISC_URLS <url> entries (so URL volume grows linearly in K).
    Priorities cycle 0.1..0.9 with every 10th entry omitting
    <priority> entirely (the schedule's NULLS-LAST leg exercised by
    real parse output). XML synthesis is array-side string building in
    one projection per frame — the fixtures are localCheckpoint'd by
    the harness, so the measured op isolates the member join + the two
    parses + the per-host schedule window, not the synthesis
    (q_discovery_pipeline's static plan is 10 exchanges MOSTLY in
    fixture synthesis; this axis times the discovery hops alone).
    Returns (index, members, delays): delays declare a Crawl-delay for
    every third host, the rest take the schedule default."""
    hosts = spark.range(N_DISC_HOSTS * k).selectExpr(
        "concat('www.h', CAST(id AS STRING), '.com') AS host",
        "id AS hid",
    )
    n = "(p * {u} + u)".format(u=N_DISC_URLS)
    entry = (
        f"concat('<url><loc>https://', host, '/a/', CAST({n} AS STRING), "
        f"'</loc>', CASE WHEN {n} % 10 = 0 THEN '' "
        f"ELSE concat('<priority>0.', CAST(1 + {n} % 9 AS STRING), "
        "'</priority>') END, '</url>')"
    )
    members = hosts.select(
        "host", F.explode(F.expr(f"sequence(0, {N_DISC_PARTS - 1})")).alias("p")
    ).select(
        F.expr(
            "concat('https://', host, '/sm/', CAST(p AS STRING), '.xml')"
        ).alias("member_url"),
        F.expr(
            f"concat('<urlset>', array_join(transform("
            f"sequence(0, {N_DISC_URLS - 1}), u -> {entry}), ''), "
            "'</urlset>')"
        ).alias("sitemap_xml"),
    )
    ientry = (
        "concat('<sitemap><loc>https://', host, '/sm/', "
        "CAST(p AS STRING), '.xml</loc></sitemap>')"
    )
    index = hosts.select(
        "host",
        F.expr(
            f"concat('<sitemapindex>', array_join(transform("
            f"sequence(0, {N_DISC_PARTS - 1}), p -> {ientry}), ''), "
            "'</sitemapindex>')"
        ).alias("sitemap_index_xml"),
    )
    delays = hosts.filter("hid % 3 = 0").selectExpr(
        "host", "CAST(2.0 AS DOUBLE) AS crawl_delay"
    )
    return index, members, delays


def redirect_chain_edges(spark, k: int):
    """CHAIN-LENGTH stress edges (nodes CONSTANT, chain length = 8·K):
    node n redirects to n-1 except at multiples of 8K (the terminals),
    so the edge count stays ~constant while the longest chain grows
    8 → 32 → 128. Pointer doubling's round count is log2(8K) — the
    thing being measured — while the linear follow's is 8K."""
    period = 8 * k
    return (
        spark.range(N_REDIR_NODES)
        .filter(F.col("id") % period != 0)
        .select(
            F.concat(F.lit("u"), F.col("id")).alias("src"),
            F.concat(F.lit("u"), F.col("id") - 1).alias("dst"),
        )
    )


def graph_density_edges(spark, k: int):
    """DENSITY stress edges (nodes CONSTANT, out-degree = K): K
    deterministic affine out-edges per node over a fixed node set, so
    the 4-hop ball grows toward n with K while the node count — the
    thing HyperBall's register table scales with — stays fixed."""
    base = spark.range(N_GRAPH_NODES).select(F.col("id").alias("src"))
    reps = spark.range(k).select(F.col("id").alias("_r"))
    return (
        base.crossJoin(reps)
        .select(
            "src",
            (
                (F.col("src") * (2 * F.col("_r") + 3) + 7 * F.col("_r") + 1)
                % N_GRAPH_NODES
            ).alias("dst"),
        )
        .filter("src != dst")
    )


def replicate_docs(docs, k: int):
    # Suffix EVERY token with the replica id: shingles map injectively
    # per replica, so within-replica pair structure (Jaccard values,
    # blocking keys, windows) is EXACTLY the K=1 structure, while
    # replicas share zero shingles with each other — true pair volume is
    # K × original, i.e. linear. (A plain append leaves replicas ~85%
    # Jaccard-similar and measures K² output explosion, not scaling.)
    reps = docs.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
            F.expr(
                f"array_join(transform({_tok_array('text')}, "
                "t -> concat(t, '_r', CAST(_rep AS STRING))), ' ')"
            ).alias("text"),
            "lang",
            "source",
        )
    )


def replicate_events(ev, k: int):
    reps = ev.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return ev.crossJoin(reps).select(
        (F.col("event_id") * k + F.col("_rep")).alias("event_id"),
        "ts",
        (F.col("user_id") * k + F.col("_rep")).alias("user_id"),
        "event_type",
    )


def replicate_emb(emb, k: int):
    # perturb one component per replica (stay inside [-1, 1]) so replicas
    # are distinct vectors, not exact duplicates
    reps = emb.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return emb.crossJoin(reps).select(
        (F.col("vec_id") * k + F.col("_rep")).alias("vec_id"),
        F.expr(
            "transform(embedding, (v, i) -> CAST(CASE WHEN i = 0 "
            "THEN v * (1.0 - 0.001 * _rep) ELSE v END AS FLOAT))"
        ).alias("embedding"),
        "label",
    )


def replicate_lineitem(li, k: int):
    # remap both basket and item ids per replica: replicas share no
    # baskets and no items, so frequent-pair volume is exactly K x the
    # original (within-replica pair structure preserved bit-for-bit)
    reps = li.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return li.crossJoin(reps).select(
        (F.col("l_orderkey") * k + F.col("_rep")).alias("l_orderkey"),
        (F.col("l_partkey") * k + F.col("_rep")).alias("l_partkey"),
    )


def replicate_customer(cust, k: int):
    # replica id kept as a column so the linkage stress can make blocks
    # replica-disjoint (well-composed key → linear pair volume) or
    # deliberately shared (hot-block variant → the documented skew trap)
    reps = cust.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return cust.crossJoin(reps).select(
        (F.col("c_custkey") * k + F.col("_rep")).alias("custkey"),
        F.col("c_nationkey").alias("nk"),
        F.expr("right(c_name, 3)").alias("tail"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal"),
        F.col("_rep").alias("rep"),
    )


def lengthen_docs(docs, n_docs: int, base_repeats: int, k: int):
    # DOC-LENGTH stress (rows constant, per-row token count grows k×):
    # measures per-row compute scaling — the axis corpus replication
    # cannot see. base_repeats is sized so K=16 reaches ≥50k tokens/doc.
    # Each repeat suffixes its tokens with the repeat index so the
    # DISTINCT token count u grows with length too — a plain
    # array_repeat keeps u constant, under which even the quadratic
    # O(u·n) distinct×filter form looks linear and the stress proves
    # nothing.
    return docs.limit(n_docs).select(
        "doc_id",
        F.expr(
            f"array_join(flatten(transform(sequence(0, {base_repeats} * {k} - 1), "
            f"r -> transform({_tok_array('text')}, "
            "t -> concat(t, '_', CAST(r AS STRING))))), ' ')"
        ).alias("text"),
        "lang",
        "source",
    )


WARC_RECORDS_PER_FILE = 1250  # at K=1; grows 1250·K → file count shrinks /K
WARC_CORPUS_REPL = 16  # fixed 16× corpus (~80k records) for every K


def warc_fixture(docs_rep, k: int, tmp_root: str):
    """BLOB-SIZE stress inputs (records CONSTANT, records-per-file grows
    WARC_RECORDS_PER_FILE·K — the axis VERDICT r7 #1 asked for):
    returns (blob_df, dir) where blob_df holds whole-file blob rows and
    dir holds the same bytes as real .warc files on disk. At K=16 the
    ~80k-record corpus packs into ~4 files: the blob path's parallelism
    is capped at file count (one row = one file = one task, 4 tasks on
    32 cores) while the record-level reader splits the bigger files
    (maxPartitionBytes) and stays flat."""
    from xeloader_spark.queries.ingest import pack_warc_blobs

    blobs = pack_warc_blobs(
        docs_rep, per_file=WARC_RECORDS_PER_FILE * k
    ).localCheckpoint()
    d = os.path.join(tmp_root, f"warc_k{k}")
    os.makedirs(d, exist_ok=True)
    for r in blobs.toLocalIterator():
        with open(os.path.join(d, f"f{r.warc_file}.warc"), "wb") as fh:
            fh.write(r.warc_blob.encode("utf-8"))
    return blobs, d


def linkage_frames(cust_rep, hot: bool):
    # left/right copies of the replicated customer frame; block key is
    # (nk, tail, rep) — replica-disjoint, pair volume linear in K. The
    # hot variant routes ~1% of rows (md5-gated on custkey) into ONE
    # block shared across ALL replicas: the quadratic tail that the
    # "compose the key from more fields" guidance exists to prevent.
    if hot:
        blocked = cust_rep.select(
            "*",
            F.expr(
                "CASE WHEN CAST(conv(substr(md5(CAST(custkey AS STRING)),"
                " 1, 8), 16, 10) AS BIGINT) % 100 = 0"
                " THEN 'HOT' ELSE concat(tail, '_', CAST(rep AS STRING)) END"
            ).alias("blk"),
        )
    else:
        blocked = cust_rep.select(
            "*",
            F.expr("concat(tail, '_', CAST(rep AS STRING))").alias("blk"),
        )
    left = blocked.select(
        F.col("custkey").alias("left_key"), "nk", "blk",
        F.col("name").alias("l_name"), F.col("seg").alias("l_seg"),
        F.col("bal").alias("l_bal"),
    )
    right = blocked.select(
        (F.col("custkey") + 100_000_000).alias("right_key"), "nk", "blk",
        F.col("name").alias("r_name"), F.col("seg").alias("r_seg"),
        F.col("bal").alias("r_bal"),
    )
    return left, right


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="xeloader-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    from xeloader_spark.operators import cluster as cl
    from xeloader_spark.operators import dedup as dd
    from xeloader_spark.operators import itemsets as its
    from xeloader_spark.operators import similarity as sim
    from xeloader_spark.operators import graph as gr
    from xeloader_spark.operators import temporal as tp
    from xeloader_spark.operators import text as tx

    from xeloader_spark.operators.linkage import blocked_link
    from xeloader_spark.queries.sampling import quantile_normalize_docs

    docs0 = load_table(spark, sf_dir, "documents")
    li0 = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ev0 = load_table(spark, sf_dir, "events")
    emb0 = load_table(spark, sf_dir, "embeddings")
    cust0 = load_table(spark, sf_dir, "customer")
    # size the doc-length base so K=16 reaches ≥50k tokens per doc
    avg_tokens = (
        docs0.limit(DOCLEN_ROWS)
        .agg(F.avg(F.expr(f"size({_tok_array('text')})")))
        .first()[0]
    )
    doclen_base = max(1, int(math.ceil(50_000 / (16 * float(avg_tokens)))))

    _LINK_AGREE = [("l_name", "r_name", 4), ("l_seg", "r_seg", 2),
                   ("l_bal", "r_bal", 3)]

    from xeloader_spark.operators import crawl as cr
    from xeloader_spark.operators import phrase as ph

    def _redirect_linear(k: int):
        inputs[k]["redir"].createOrReplaceTempView("_redir_edges")
        # raise the (tunable) analyzer cap so the recorded K=16 failure
        # is the fundamental one: whole-stage codegen StackOverflowError
        # on a 128-deep join tree, not a config default
        spark.conf.set("spark.sql.analyzer.maxIterations", "1000")
        return spark.sql(
            cr.redirects_oracle_sql(
                "SELECT src, dst FROM _redir_edges", 8 * k
            )
        ).filter("n_hops >= 1")

    def _link(k: int, hot: bool):
        left, right = linkage_frames(inputs[k]["cust"], hot=hot)
        return blocked_link(
            left, right, block_cols=["nk", "blk"],
            agreements=_LINK_AGREE, threshold=5,
        )

    def _feasible_singletask(k: int):
        # the oracle's formulation run AS the Spark plan (the
        # redirect_linear framing): the SAME allocation arithmetic with
        # plain GLOBAL windows — row_number().over(orderBy) for the
        # remainder rank and sum().over(orderBy rows-unbounded) for the
        # headroom prefix — which funnel every host row through ONE
        # task. The registered operator's range-rank + distributed
        # prefix sum is the measured contrast.
        from pyspark.sql import Window

        hosts = inputs[k]["budget_hosts"]
        B, C = 4 * N_BUDGET_HOSTS * k, 60
        tot = hosts.agg(F.sum("weight").cast("long").alias("_tw"))
        based = hosts.crossJoin(F.broadcast(tot)).selectExpr(
            "*",
            f"CAST({B} AS BIGINT) * weight DIV _tw AS _base",
            f"CAST({B} AS BIGINT) * weight % _tw AS _rem",
        )
        leftover = based.agg(
            (F.lit(B).cast("long") - F.sum("_base")).alias("_left")
        )
        ranked = based.withColumn(
            "_rr",
            F.row_number().over(Window.orderBy(F.desc("_rem"), F.col("host"))),
        )
        capped = (
            ranked.crossJoin(F.broadcast(leftover))
            .selectExpr(
                "host",
                "CAST(_base + CASE WHEN _rr <= _left THEN 1 ELSE 0 END"
                " AS BIGINT) AS quota0",
                "CASE WHEN delay IS NULL OR delay <= 0"
                f" THEN CAST({B} AS BIGINT)"
                f" ELSE CAST(floor({C} / delay) AS BIGINT) + 1 END AS cap",
            )
            .selectExpr(
                "*",
                "least(quota0, cap) AS capped_quota",
                "cap - least(quota0, cap) AS headroom",
            )
        )
        surplus = capped.agg(
            (F.lit(B).cast("long") - F.sum("capped_quota")).alias("_surplus")
        )
        pref = capped.withColumn(
            "_hr_incl",
            F.sum("headroom").over(
                Window.orderBy(F.desc("headroom"), F.col("host")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        return (
            pref.crossJoin(F.broadcast(surplus))
            .selectExpr(
                "host", "cap",
                "capped_quota + greatest(CAST(0 AS BIGINT), least(headroom,"
                " _surplus - (_hr_incl - headroom))) AS quota",
            )
            .filter("quota >= 0 AND cap >= 1")
        )

    def _adaptive_cycle(k: int):
        # the r13 composition end-to-end (q_adaptive_cycle's plan with
        # table-sourced delays): cache gate + backoff LEFT join →
        # effective delay → backlog weights → politeness-feasible
        # allocation over the EFFECTIVE delay → per-host waves cut at
        # quota. Every stage host-dimension or frontier-window-sized.
        flog = inputs[k]["ac_flog"]
        rlog = inputs[k]["ac_rlog"]
        delays = inputs[k]["ac_delays"]
        frontier = inputs[k]["ac_frontier"]
        usable = (
            cr.robots_cache_policy(rlog, now_s=10 ** 9)
            .filter("access_class != 'disallow_all'")
            .select("host", "access_class")
        )
        bk = cr.host_backoff(flog, retry_after_col="retry_after").select(
            "host", "backoff_factor", "retry_after_s"
        )
        eff = (
            usable.join(
                delays.withColumnRenamed("host", "_dh"),
                F.col("host") == F.col("_dh"),
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
                "CASE WHEN access_class = 'allow_all' "
                "THEN CAST(5.0 AS DOUBLE) "
                "ELSE coalesce(crawl_delay, CAST(5.0 AS DOUBLE)) END"
                " * coalesce(backoff_factor, CAST(1 AS BIGINT))"
                " AS crawl_delay",
                "coalesce(retry_after_s, CAST(0 AS BIGINT)) AS retry_wait",
            )
        )
        fr = frontier.join(
            eff.select(F.col("host").alias("_uh")),
            F.col("host") == F.col("_uh"),
        ).drop("_uh")
        hosts = (
            fr.groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("weight"))
            .join(
                eff.selectExpr("host AS _eh", "crawl_delay AS delay"),
                F.col("host") == F.col("_eh"),
            )
            .drop("_eh")
        )
        alloc = cr.feasible_budget_allocate(
            hosts, budget=4 * N_BUDGET_HOSTS * k, cycle_s=60
        )
        sched = cr.fetch_schedule(fr, eff.select("host", "crawl_delay"))
        return (
            sched.join(
                alloc.selectExpr("host AS _ah", "quota"),
                sched["host"] == F.col("_ah"),
            )
            .drop("_ah")
            .filter("wave <= quota AND scheduled_offset >= 0")
        )

    def _discovery(k: int):
        midx = cr.parse_sitemap_index(inputs[k]["disc_idx"])
        fetched = midx.join(
            inputs[k]["disc_members"],
            midx["sitemap_loc"] == inputs[k]["disc_members"]["member_url"],
        ).drop("member_url")
        urls = cr.parse_sitemap(fetched)
        frontier = urls.select(
            "host", F.col("loc").alias("url"), "priority"
        )
        return cr.fetch_schedule(
            frontier,
            inputs[k]["disc_delays"],
            default_delay=5.0,
            priority_col="priority",
        ).filter("wave >= 1 AND scheduled_offset >= 0").select(
            "host", "url", "wave"
        )

    OPS = {
        "exact_dedup": lambda k: dd.exact_dedup(inputs[k]["docs"]),
        "minhash_neardup": lambda k: dd.minhash_neardup(
            inputs[k]["docs"], threshold=0.5
        ),
        "sorted_neighborhood": lambda k: dd.sorted_neighborhood_pairs(
            inputs[k]["docs"]
        ),
        "blocklist": lambda k: tx.blocklist_stats(
            inputs[k]["docs"],
            ["table table", "scan scan", "big query"],
        ),
        "time_bucket_agg": lambda k: (
            inputs[k]["events"]
            .groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select("event_type", "n")
        ),
        "lsh_banded_ann": lambda k: sim.lsh_ann_topk_banded(
            inputs[k]["emb"], [i * k for i in range(16)], k=10
        ),
        # terms match replica 0 only (every token carries its replica
        # suffix); the measured cost — the full-corpus tf/df scan and
        # the 1-row stats broadcast — is replica-independent by design
        "bm25_topk": lambda k: tx.bm25_topk(
            inputs[k]["docs"], ("spark_r0", "merge_r0", "window_r0"), k=20
        ),
        "frequent_pairs": lambda k: its.frequent_pairs(
            inputs[k]["li"], "l_orderkey", "l_partkey"
        ),
        # r7: the distributed global rank + per-source window calibration
        "quantile_normalize": lambda k: quantile_normalize_docs(
            inputs[k]["docs"]
        ),
        # r7: blocking-key equi-join linkage — well-composed key (blocks
        # replica-disjoint, pair volume linear in K) ...
        "blocked_link": lambda k: _link(k, hot=False),
        # ... vs the DELIBERATE hot-block trap: ~1% of rows share ONE
        # block across all replicas, so its pair count grows K² — the
        # measured cost of an under-composed blocking key (expected
        # super-linear; see NOTES)
        "blocked_link_hotblock": lambda k: _link(k, hot=True),
        # r7: per-row compute axis — rows CONSTANT, tokens/doc grows k×
        # (≥50k tokens at K=16): pins that simpson_stats_sql is
        # O(n log n) in doc length (the quadratic distinct×filter HOF it
        # replaced measures ~k² here)
        # the filter forces per-row evaluation: both a bare select AND a
        # global sum() get column-pruned/eliminated under the harness's
        # .count() (measured 0.05s flat — the optimizer knows a global
        # agg is 1 row and drops the sums)
        "token_diversity_doclen": lambda k: (
            inputs[k]["docs_long"]
            .select(F.expr(
                f"{tx.simpson_stats_sql(tx._tok_array('text'))} AS st"
            ))
            .select(F.col("st.num").alias("num"), F.col("st.u").alias("u"))
            .filter("num >= 0 AND u >= 0")
        ),
        # r6: the restructured IVF-PQ (encode-once query phase, flat-map
        # ADC) at its production sampled-training settings — the stress
        # proves the probed-list query work scales with the corpus, not
        # with corpus × queries
        "ivfpq_ann": lambda k: cl.ivfpq_topk(
            inputs[k]["emb"], [i * k for i in range(16)], k=10,
            n_probe=12, km_k=16, km_iters=2, m=16, sub_k=16, pq_iters=1,
            rerank=200, train_fraction=0.25,
        ),
        # r8 BLOB-SIZE axis (records constant, records/file grows
        # WARC_RECORDS_PER_FILE·K): the whole-file blob path vs the
        # record-level reader (sources/warc.py read_warc). The filter
        # forces the full record-split + header parse per record (see
        # doclen note above on why a bare count proves nothing). The
        # reader op shrinks maxPartitionBytes so big .warc files
        # actually split; the conf is RESTORED after every op's timing
        # loop (r8 review: a set-and-leak here would silently time any
        # later file-scanning op under 256 KB splits).
        "warc_parse_blob": lambda k: parse_warc(
            inputs[k]["warc_blobs"]
        ).filter("len_ok AND http_status IS NOT NULL").select("record_id"),
        "warc_parse_reader": lambda k: (
            spark.conf.set("spark.sql.files.maxPartitionBytes", "262144"),
            spark.conf.set("spark.sql.files.openCostInBytes", "0"),
            read_warc(spark, inputs[k]["warc_dir"])
            .filter("len_ok AND http_status IS NOT NULL")
            .select("record_id"),
        )[-1],
        # r9 GRAPH-DENSITY axis (VERDICT r8 #7): nodes constant, edges =
        # n·K, so the 4-hop ball saturates toward n. HyperBall's
        # per-round state is the register table — O(nodes · 2^p),
        # K-INDEPENDENT — and only its edge join grows with K (linear);
        # the exact twin materializes the reachable-pair frame, which
        # heads to n² (expected super-linear; DELIBERATE). The same
        # motivating contrast the WARC blob-vs-reader axis provides.
        # Filters force per-row evaluation (the .count() prune trap).
        "hyperball_density": lambda k: gr.hyperball_harmonic(
            inputs[k]["graph"], rounds=4, p=8
        ).filter("harmonic_est >= 0 AND ball_final >= 0"),
        "harmonic_exact_density": lambda k: gr.harmonic_centrality(
            inputs[k]["graph"], rounds=4
        ).filter("harmonic_scaled >= 0 AND n_reaching >= 0"),
        # r9 CHAIN-LENGTH axis: src URLs constant (~20k), longest chain
        # = 8K. Pointer doubling resolves in log2(8K) self-joins (3/5/7
        # rounds — expected strongly sub-linear) ...
        "redirect_doubling_chainlen": lambda k: cr.resolve_redirects(
            inputs[k]["redir"], max_hops=8 * k
        ).filter("n_hops >= 1"),
        # ... vs the linear one-edge-per-step follow (the oracle
        # formulation, run as a Spark plan over the same edges): 8K
        # chained joins (DELIBERATE; see NOTES)
        "redirect_linear_chainlen": lambda k: _redirect_linear(k),
        # r10 PHRASE axes (VERDICT r9 #7). Doc-LENGTH: 128 rows
        # constant, tokens/doc grows K× — the posting build (the
        # corpus's one tokenization pass) is the measured cost; the
        # fixed 4-phrase table matches only repeat 0, so match volume
        # is constant. Filters force per-row eval (the .count() trap).
        "phrase_search_doclen": lambda k: ph.phrase_match(
            inputs[k]["docs_long"], phrases_doclen
        ).filter("first_idx >= 0 AND n_matches >= 1"),
        # phrase-COUNT: corpus constant (K=1 docs), 48·K unique 3-term
        # phrases with spread leading terms — witness-join volume grows
        # linearly with the phrase table, the queries-as-data scaling
        # claim measured
        "phrase_search_phrases": lambda k: ph.phrase_match(
            inputs[1]["docs"], inputs[k]["ph_cold"]
        ).filter("first_idx >= 0 AND n_matches >= 1"),
        # ... vs the HOT-LEAD twin: same corpus/count/arity, every
        # phrase leading with 'spark' — all of that term's postings
        # replicate per phrase onto ONE join key (the stopword-leading
        # skew lever the operator documents; compare seconds against
        # phrase_search_phrases row-for-row)
        "phrase_search_hotlead": lambda k: ph.phrase_match(
            inputs[1]["docs"], inputs[k]["ph_hot"]
        ).filter("first_idx >= 0 AND n_matches >= 1"),
        # r10 HITS on the graph-density axis (VERDICT r9 #7): per-round
        # state is two node-sized score frames (K-independent); only
        # the edge joins grow with K — expect ~linear, the same shape
        # argument as hyperball_density
        "hits_density": lambda k: gr.hits(
            inputs[k]["graph"], iters=4
        ).filter("hub_scaled >= 0 AND auth_scaled >= 0"),
        # r12 BUDGET axis (VERDICT r11 #4): hosts grow K× (3.2M at
        # K=16) with budget 4·hosts, so the slow 99%'s cap (3) binds
        # under their quota (~4) every round and the surplus refills
        # the 1% fast band via the distributed prefix sum
        # (rank.global_running_sum: range partition + per-slice running
        # window + ≤#partitions-row totals collect) — expect ~linear;
        # a single-task global window would flatline one core here.
        # Filter forces per-row eval (the .count() prune trap).
        "feasible_budget_hosts": lambda k: cr.feasible_budget_allocate(
            inputs[k]["budget_hosts"],
            budget=4 * N_BUDGET_HOSTS * k,
            cycle_s=60,
        ).filter("quota >= 0 AND cap >= 1 AND refill >= 0"),
        # ... vs the DELIBERATE single-task twin: identical arithmetic,
        # plain global windows (the oracle formulation as a Spark plan)
        "feasible_budget_singletask": lambda k: _feasible_singletask(k),
        # r11 DISCOVERY axis (VERDICT r10 #7): hosts grow K× while
        # parts/urls per host stay constant — the member join, the two
        # zero-shuffle parses and the per-host priority-schedule window
        # all grow linearly, and per-host window work is K-independent
        # (the reason host is the frontier's partition key). Fixture
        # synthesis is checkpointed out; filter forces per-row eval.
        "discovery_hosts": lambda k: _discovery(k),
        # r13 COMPOSITION axis: the adaptive cycle end-to-end at K×
        # hosts — proves the composed plan (gate + backoff + effective
        # delay + allocation + waves), not just the allocator, stays
        # flat; filter forces per-row eval
        "adaptive_cycle_hosts": lambda k: _adaptive_cycle(k),
    }
    _FILE_CONF_DEFAULTS = {
        key: spark.conf.get(key)
        for key in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
            # _redirect_linear raises this; restore so any op appended
            # after it in OPS is measured under defaults (r9 review)
            "spark.sql.analyzer.maxIterations",
        )
    }

    def _restore_file_confs():
        for key, val in _FILE_CONF_DEFAULTS.items():
            spark.conf.set(key, val)

    # Materialize each replicated input ONCE before timing: the
    # replication transform is interpreted-HOF scaffolding, and leaving
    # it lazy lets the optimizer inline it into every downstream use of
    # the text column — measuring the harness, not the operator.
    import tempfile

    from xeloader_spark.sources.warc import parse_warc, read_warc

    warc_tmp = tempfile.mkdtemp(prefix="xel_warc_stress_")
    # one fixed replicated corpus for BOTH warc ops at every K — the
    # axis is records-per-file, so records must not grow with K; sized
    # so the K=16 blob path drops to ~4 whole-file tasks (<< cores)
    # while per-file parse work is large enough to dominate overhead
    warc_docs = replicate_docs(docs0, WARC_CORPUS_REPL).localCheckpoint()

    inputs = {
        k: {
            "docs": replicate_docs(docs0, k).localCheckpoint(),
            "events": replicate_events(ev0, k).localCheckpoint(),
            "emb": replicate_emb(emb0, k).localCheckpoint(),
            "li": replicate_lineitem(li0, k).localCheckpoint(),
            "cust": replicate_customer(cust0, k).localCheckpoint(),
            "docs_long": lengthen_docs(
                docs0, DOCLEN_ROWS, doclen_base, k
            ).localCheckpoint(),
            "graph": graph_density_edges(spark, k).localCheckpoint(),
            "redir": redirect_chain_edges(spark, k).localCheckpoint(),
            "budget_hosts": budget_host_frame(spark, k).localCheckpoint(),
        }
        for k in KS
    }
    for k in KS:
        ac_f, ac_r, ac_d, ac_u = adaptive_cycle_frames(spark, k)
        inputs[k]["ac_flog"] = ac_f.localCheckpoint()
        inputs[k]["ac_rlog"] = ac_r.localCheckpoint()
        inputs[k]["ac_delays"] = ac_d.localCheckpoint()
        inputs[k]["ac_frontier"] = ac_u.localCheckpoint()
    for k in KS:
        cold_k, hot_k = phrase_frames(spark, k)
        inputs[k]["ph_cold"] = cold_k.localCheckpoint()
        inputs[k]["ph_hot"] = hot_k.localCheckpoint()
        d_idx, d_mem, d_del = discovery_frames(spark, k)
        inputs[k]["disc_idx"] = d_idx.localCheckpoint()
        inputs[k]["disc_members"] = d_mem.localCheckpoint()
        inputs[k]["disc_delays"] = d_del.localCheckpoint()
    # doc-LENGTH phrase axis: fixed phrases over repeat 0's tokens (the
    # lengthened docs suffix each repeat's tokens with its index), so
    # match volume stays constant while the posting build grows K×
    phrases_doclen = spark.createDataFrame(
        [
            ("table_0 table_0",),
            ("window_0 spark_0",),
            ("table_0 value_0 part_0",),
            ("row_0 fast_0",),
        ],
        "phrase string",
    ).localCheckpoint()
    for k in KS:
        blobs_k, dir_k = warc_fixture(warc_docs, k, warc_tmp)
        inputs[k]["warc_blobs"] = blobs_k
        inputs[k]["warc_dir"] = dir_k

    # JVM/codegen warmup so K=1 of the first operator isn't measuring
    # session start instead of the operator; same for the text-source
    # file-listing + codegen path the warc reader rows time
    OPS["exact_dedup"](1).count()
    OPS["warc_parse_reader"](1).count()
    _restore_file_confs()  # the reader warmup shrinks the split confs
    dd.release_persisted()

    out: dict[str, dict] = {}
    for name, mk in OPS.items():
        rows_at, secs_at, errs = {}, {}, {}
        for k in KS:
            t0 = time.perf_counter()
            try:
                n = mk(k).count()
            except Exception as exc:  # a K that cannot even run IS data
                dt = time.perf_counter() - t0
                rows_at[k], secs_at[k] = None, None
                errs[str(k)] = " | ".join(str(exc).splitlines()[:2])[:200]
                _restore_file_confs()
                dd.release_persisted()
                print(
                    f"[stress] {name} K={k}: FAILED after {dt:.2f}s "
                    f"({errs[str(k)]})",
                    file=sys.stderr, flush=True,
                )
                continue
            dt = time.perf_counter() - t0
            rows_at[k], secs_at[k] = n, round(dt, 3)
            _restore_file_confs()  # warc reader ops shrink split confs
            dd.release_persisted()
            print(
                f"[stress] {name} K={k}: {dt:.2f}s rows={n}",
                file=sys.stderr, flush=True,
            )
        exp16 = (
            round(math.log(secs_at[16] / secs_at[1]) / math.log(16), 3)
            if secs_at.get(1) and secs_at.get(16)
            else None
        )
        rec = {
            "seconds": {str(k): secs_at[k] for k in KS},
            "rows": {str(k): rows_at[k] for k in KS},
            "exp16": exp16,
            # an op is flagged when it scales past the cap OR cannot
            # complete a K at all — unless that is the documented point
            "flag": bool(
                (
                    (exp16 is not None and exp16 > FLAG_EXPONENT)
                    or errs
                )
                and name not in DELIBERATE
            ),
        }
        if errs:
            rec["errors"] = errs
        if name in DELIBERATE:
            rec["note"] = DELIBERATE[name]
        if name == "token_diversity_doclen":
            rec["note"] = (
                f"doc-LENGTH axis: {DOCLEN_ROWS} rows constant, tokens/doc"
                " scales with K (>=50k at K=16); exponent is per-row"
                " compute scaling, not corpus scaling"
            )
        if name == "hyperball_density":
            rec["note"] = (
                f"GRAPH-DENSITY axis: {N_GRAPH_NODES} nodes constant,"
                " out-degree = K (edges n*K), 4-hop ball saturates toward"
                " n at K=16; HyperBall state is the register table"
                " (nodes * 2^p, K-independent) and only its edge join"
                " grows — compare harmonic_exact_density (same edges),"
                " whose reachable-pair frame heads to n^2. The register-"
                "table-vs-pair-frame contrast is WHY hyperball_harmonic"
                " is the registered 100 TB centrality path"
            )
        if name == "redirect_doubling_chainlen":
            rec["note"] = (
                f"CHAIN-LENGTH axis: {N_REDIR_NODES} src URLs constant,"
                " longest chain = 8*K (8/32/128); pointer doubling runs"
                " log2(8K) self-joins (3/5/7), so time tracks the round"
                " count, not the chain length — compare"
                " redirect_linear_chainlen (same edges, 8K chained"
                " joins), the measured reason resolve_redirects uses"
                " doubling"
            )
        if name == "phrase_search_doclen":
            rec["note"] = (
                f"doc-LENGTH axis: {DOCLEN_ROWS} rows constant,"
                " tokens/doc scales with K — the posting build (one"
                " tokenization pass) is the measured cost; the fixed"
                " 4-phrase table matches only repeat 0, so output rows"
                " stay constant by construction"
            )
        if name in ("phrase_search_phrases", "phrase_search_hotlead"):
            rec["note"] = (
                f"phrase-COUNT axis: corpus constant (K=1 docs),"
                f" {N_PHRASES_BASE}*K unique 3-term phrases — the"
                " witness join + (doc, phrase, start) aggregate are"
                " the measured work and grow with the phrase table."
                + (
                    " HOT-LEAD twin: every phrase leads with the same"
                    " term, concentrating its postings x phrases on"
                    " ONE join key — the stopword-leading skew lever."
                    " Measured contrast vs phrase_search_phrases is"
                    " SMALL here and that is itself the finding: the"
                    " fixture vocabulary is uniform (every term"
                    " ~equal df, no true stopword), and the one hot"
                    " key's partition still fits a single core on"
                    " local[32]; at web scale a stopword's df is"
                    " orders of magnitude above the median and the"
                    " hot task becomes the stage — the documented"
                    " df-stoplist / AQE skew-join lever"
                    if name == "phrase_search_hotlead"
                    else " Spread leading terms (the cold twin of"
                    " phrase_search_hotlead)"
                )
            )
        if name == "hits_density":
            rec["note"] = (
                f"GRAPH-DENSITY axis ({N_GRAPH_NODES} nodes constant,"
                " out-degree = K): HITS per-round state is two"
                " node-sized score frames (K-independent); only the"
                " edge joins grow — same shape argument as"
                " hyperball_density"
            )
        if name.startswith("warc_parse_"):
            rec["note"] = (
                f"BLOB-SIZE axis: records constant ({WARC_CORPUS_REPL}x"
                f" docs corpus, ~80k records), records-per-file ="
                f" {WARC_RECORDS_PER_FILE}*K, so file count shrinks /K"
                " (64/16/4 files); exp16 near 0 = flat. The blob path's"
                " parallelism is capped at file count (one file = one row"
                " = one task: 4 tasks on 32 cores at K=16, plus the"
                " 2 GB-row wall as files grow); read_warc splits the"
                " bigger files (maxPartitionBytes 256K here) and stays"
                " flat — the measured form of VERDICT r7 finding #1"
            )
        if name == "adaptive_cycle_hosts":
            rec["note"] = (
                f"COMPOSITION axis (r13): {N_BUDGET_HOSTS}*K hosts, the"
                " q_adaptive_cycle plan end-to-end with table-sourced"
                " delays — robots-cache gate (~20% of hosts dropped),"
                " backoff LEFT join (factors 1/2/4 + an active"
                " Retry-After band), effective delay, 4-URL/host backlog"
                " weights, the politeness-feasible allocation over the"
                " EFFECTIVE delay, and the per-host wave cut. Proves the"
                " composed plan, not just the allocator"
                " (feasible_budget_hosts), stays flat: every stage is"
                " host-dimension or per-host-window work"
            )
        if name == "feasible_budget_hosts":
            rec["note"] = (
                f"BUDGET axis (r12, VERDICT r11 #4): {N_BUDGET_HOSTS}*K"
                " hosts, budget 4*hosts, skewed headroom (1% fast hosts"
                " hold most refill headroom; high-weight slow hosts cap-bound"
                " at 3 < quota ~4) — times the full allocation: Hamilton"
                " scalars + range rank (global_row_number) + the"
                " distributed prefix sum (global_running_sum:"
                " repartitionByRange + per-slice running window +"
                " <=#partitions-row totals collect + broadcast offsets)."
                " Expect ~linear; a single-task global window here"
                " would serialize 3.2M rows through one core at K=16"
            )
        out[name] = rec
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_STRESS.json",
    )
    with open(path, "w") as fh:
        json.dump(
            {"sf_dir": sf_dir, "ks": KS, "flag_exponent": FLAG_EXPONENT,
             "ops": out},
            fh,
            indent=1,
        )
    print(json.dumps({"stressed": len(out),
                      "flagged": [n for n, v in out.items() if v["flag"]]}))
    spark.stop()


if __name__ == "__main__":
    main()
