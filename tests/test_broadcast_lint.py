"""Broadcast-site lint: the grep-able scale invariant.

Every explicit ``F.broadcast(`` hint in the library ships a frame to
EVERY executor, so each site must broadcast a frame whose cardinality is
bounded by something other than the corpus: a 1-row aggregate, a query
set, a model, a pair list, a fixed dimension (nation=25/region=5), a
file catalog, or a size-gated path. Corpus/SF-scaling frames must leave
the join strategy to the optimizer (size-estimate broadcast under the
64 MB threshold locally, shuffle join at 100 TB) — round 5's verdict
found exactly one corpus-cardinality broadcast (`q_leakage_safe_split`)
and this test is the pin that no new one lands unreviewed.

Mechanism: the whitelist below is the exact multiset of source lines
(whitespace-stripped) containing ``F.broadcast(`` per file. A new,
moved-to-another-file, or edited broadcast site fails with a diff; to
pass, classify the broadcast side's bound and add the line here.
"""

from __future__ import annotations

import pathlib
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent / "xeloader_spark"

# file -> sorted list of stripped source lines containing F.broadcast(.
# Boundedness class per file is noted in the comment above its entry.
WHITELIST: dict[str, list[str]] = {
    # model-sized (hashed-feature buckets, a literal-bounded frame)
    "operators/classify.py": [
        'feats.join(F.broadcast(model), "bucket")',
    ],
    # query-set / shortlist / probe-list sized (ANN search surfaces)
    "operators/cluster.py": [
        '.join(F.broadcast(probe_df), "cluster")',
        '.join(F.broadcast(qarr_df), "query_id")',
        '.join(F.broadcast(shortlist), F.col("id") == F.col("candidate_id"))',
        "F.broadcast(shortlist), q_full.id == shortlist.candidate_id",
        'assigned.join(F.broadcast(probe_df), "cluster")',
    ],
    # pair-node component labels, query signatures, eval/decontamination
    # side, hot-shingle stoplist, incremental new-batch side, 1-row agg;
    # the one corpus-sized broadcast-NL join is behind the brute-force
    # size gate (embedding_neardup's blocked default takes over above it)
    "operators/dedup.py": [
        ".crossJoin(F.broadcast(one))",
        'F.broadcast(comps.withColumnRenamed("node", id_col)),',
        'a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))',
        'long.join(F.broadcast(qlong), ["band_idx", "bk"])',
        "qsigs = F.broadcast(",
        'return shingle_df.join(F.broadcast(hot), "shingle", "left_anti").select(',
        'snap_long.join(F.broadcast(new_long.withColumnRenamed("id", "new_id")),',
        'tr.join(F.broadcast(ev), "shingle")',
    ],
    # budget apportionment's three 1-row scalars (Σ weight, leftover,
    # feasible surplus)
    "operators/crawl.py": [
        "based = hosts.crossJoin(F.broadcast(tot)).select(",
        "ranked.crossJoin(F.broadcast(leftover))",
        "pref.crossJoin(F.broadcast(surplus))",
    ],
    # 1-row edge total; HITS per-round 1-row normalization totals
    "operators/graph.py": [
        ".crossJoin(F.broadcast(tot))",
        ".crossJoin(F.broadcast(total))",
    ],
    # file-catalog-sized lineage
    "operators/ingest.py": [
        'return df.join(F.broadcast(ids), "e_source_file", "left").select(',
    ],
    # support-pruned item vocabulary + 1-row basket total
    "operators/itemsets.py": [
        ').join(F.broadcast(freq_items), "item")',
        ".crossJoin(F.broadcast(n_baskets))",
        '.join(F.broadcast(sup_b), "item_b")',
        'pairs.join(F.broadcast(sup_a), "item_a")',
    ],
    # partition-count-sized offset frames (rank + running-sum twins)
    "operators/rank.py": [
        'local.join(F.broadcast(offset_df), "_gr_pid")',
        'local.join(F.broadcast(offset_df), "_gs_pid")',
    ],
    # query-set sized (search entry points)
    "operators/similarity.py": [
        'cands.join(F.broadcast(probes), "list_id")',
        'cands.join(F.broadcast(queries), F.col("bucket") == F.col("q_bucket"))',
        "q = F.broadcast(",
        "qc = queries.crossJoin(F.broadcast(cdf)).withColumn(",
        "queries = F.broadcast(",
        "queries = F.broadcast(",
    ],
    # sketch-sized (d x buckets literal bound)
    "operators/sketch.py": [
        'a.join(F.broadcast(b), ["d", "bucket"])',
        "df.join(F.broadcast(located), groups) if groups",
        "else df.crossJoin(F.broadcast(located))",
        'probes.join(F.broadcast(sketch), ["d", "bucket"], "left")',
    ],
    # m-bit word-packed bitset (fixed size by construction)
    "operators/skew.py": [
        "fact.crossJoin(F.broadcast(words))",
    ],
    # time-spine / 1-row mid / totals
    "operators/temporal.py": [
        "c2 = c.crossJoin(F.broadcast(tot)).withColumn(",
        "df.crossJoin(F.broadcast(mid))",
        "return c2.crossJoin(F.broadcast(tvd)).select(",
        "spine = df.select(*keys).distinct().crossJoin(F.broadcast(spine_ts))",
    ],
    # 1-row corpus stats
    "operators/text.py": [
        ".crossJoin(F.broadcast(n))",
        ".crossJoin(F.broadcast(n_train))",
        ".crossJoin(F.broadcast(n_types))",
        "probe = base.crossJoin(F.broadcast(stats))",
        "probe = base.crossJoin(F.broadcast(stats))",
        "return per_doc.crossJoin(F.broadcast(total)).select(",
        "return per_doc.crossJoin(F.broadcast(totals)).select(",
    ],
    # DMV-capture-set semantic: distinct hashes from the filtered error
    # stream (reference's a_query_hash_bin match set, a curated list)
    "queries/core.py": [
        'ev.join(F.broadcast(captures), "user_hash", "inner")',
    ],
    # pair-member lookups (LEFT-SEMI-shrunk before the hint) + 1-row audit
    "queries/dedup.py": [
        '.join(F.broadcast(a), "id_a")',
        '.join(F.broadcast(b), "id_b")',
        "return counts.crossJoin(F.broadcast(leaks))",
    ],
    # file-catalog lineage
    "queries/ingest.py": [
        'ev.join(F.broadcast(lineage), "file_name")',
    ],
    # fixed dims (nation=25, region=5), brand-category aggregate,
    # 1-row thresholds/max/total aggregates
    "queries/relational.py": [
        ".join(F.broadcast(n1), supp.s_nationkey == n1.s_nkey)",
        ".join(F.broadcast(n2), cust.c_nationkey == n2.c_nkey)",
        ".join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)",
        ".join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)",
        ".join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)",
        ".join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)",
        'F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")',
        # round-9 partsupp TPC-H family: nation (25 rows) ×4, filtered
        # region (≤5 rows) ×2, 1-row stock-value total
        '.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))',
        '.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))',
        '.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))',
        '.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))',
        'F.broadcast(reg.filter(F.col("r_name") == "AFRICA")),',
        'F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),',
        "v.crossJoin(F.broadcast(tot))",
        "cust.crossJoin(F.broadcast(thr))",
        "joined = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)",
        'part.join(F.broadcast(brand_avg), part.p_brand == F.col("b"))',
        "ranked.crossJoin(F.broadcast(agg))",
        "rev.crossJoin(F.broadcast(mx))",
    ],
    # 1-row totals + (lang, source) group-bounded budgets
    "queries/sampling.py": [
        "budgets = grp.crossJoin(F.broadcast(total)).select(",
        'joined = toks.join(F.broadcast(budgets), ["lang", "source"])',
        "pct.crossJoin(F.broadcast(n_total))",
        ".crossJoin(F.broadcast(total))",
        "ranked.crossJoin(F.broadcast(n_total))",
    ],
    # (label, pos) bounded centroid sums
    "queries/similarity.py": [
        'comp.join(F.broadcast(sums), ["label", "pos"])',
    ],
    # per-event-type stats (type-bounded), (dow, hod) cells
    "queries/temporal.py": [
        '.join(F.broadcast(cells), ["dow", "hod"])',
        '.join(F.broadcast(sb), "type_b")',
        'dev = ev.join(F.broadcast(med), "event_type").withColumn(',
        'dev.join(F.broadcast(mad), "event_type")',
        'j = ev.join(F.broadcast(fences), "event_type")',
        'pairs.join(F.broadcast(sa), "type_a")',
    ],
    # 1-row corpus totals (tfidf stats; r8 domain-prior rank mass)
    "queries/text.py": [
        "return grp.crossJoin(F.broadcast(total)).select(",
        "per_doc.crossJoin(F.broadcast(total))",
    ],
    # calibration-sketch-sized (≤ bins+1 rows by the in-plan limit):
    # the 1-row n_total global-agg scalar and the bins-row global
    # inverse CDF (r8: both sites named specifically — the former bare
    # "F.broadcast(" entry would have matched ANY future wrapped frame
    # in this file, r7 advice finding)
    "streaming/quantile_stream.py": [
        "F.broadcast(ginv),",
        "target = with_pct.crossJoin(F.broadcast(n_total_1)).withColumn(",
    ],
}


def _scan() -> dict[str, list[str]]:
    found: dict[str, list[str]] = {}
    for p in sorted(ROOT.rglob("*.py")):
        lines = [
            ln.strip()
            for ln in p.read_text().splitlines()
            if "F.broadcast(" in ln
        ]
        if lines:
            found[str(p.relative_to(ROOT))] = sorted(lines)
    return found


def test_broadcast_sites_match_whitelist():
    found = _scan()
    expected = {k: sorted(v) for k, v in WHITELIST.items()}
    problems = []
    for f in sorted(set(found) | set(expected)):
        got, want = Counter(found.get(f, [])), Counter(expected.get(f, []))
        if got != want:
            new = list((got - want).elements())
            gone = list((want - got).elements())
            problems.append(f"{f}:\n  unreviewed: {new}\n  stale whitelist: {gone}")
    assert not problems, (
        "broadcast sites changed — review each new site's cardinality "
        "bound (see module docstring) and update WHITELIST:\n"
        + "\n".join(problems)
    )


def test_whitelist_has_no_corpus_scaling_tables():
    """Belt-and-braces: no whitelisted line may broadcast one of the
    SF-scaling base tables by its conventional local name."""
    banned = ("(orders", "(cust)", "(cust,", "(supp)", "(sup)", "(sup,",
              "(part)", "(part,", "(li)", "(li,", "(lineitem", "(docs",
              "(emb", "(uni")
    for f, lines in WHITELIST.items():
        for ln in lines:
            frag = ln.split("F.broadcast", 1)[1]
            assert not any(frag.startswith(b) for b in banned), (f, ln)
