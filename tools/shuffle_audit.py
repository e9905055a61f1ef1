"""Measured shuffle-volume audit: run representative headline queries
and record ACTUAL bytes moved (input scan, shuffle write, shuffle read)
from the Spark status REST API — the "measure, don't guess" companion to
SCALE.md's shuffle-budget arguments. Byte volumes are load-independent,
so the numbers are stable even on a busy box (unlike wall-clock).

Each query executes against the noop sink (full plan runs, nothing is
materialized on the driver), so per-doc outputs don't inflate driver
memory. Output: SHUFFLE_AUDIT.json with per-query
{input_bytes, shuffle_write, shuffle_read, shuffle_per_input} —
`shuffle_per_input` is the scale-survival number: how many bytes cross
the wire per byte scanned. Queries whose ratio stays ≪ 1 collapse
before they shuffle (digest/aggregate discipline); a ratio ≫ 1 would
flag a pair-explosion or a missed map-side combine.

Usage: python tools/shuffle_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xeloader_spark.session import get_spark

AUDIT_QUERIES = [
    # ingest/relational
    "q_time_bucket_agg",
    "q_pricing_summary",
    "q_region_revenue",
    "q_top_customer_per_nation",
    # dedup family
    "q_dedup_minhash_lsh",
    "q_dedup_shingle_jaccard",
    "q_prefix_jaccard_pairs",
    "q_dedup_clusters",
    "q_embedding_neardup",
    # ANN / graph
    "q_ann_topk_lsh_banded",
    "q_knn_graph",
    "q_pagerank_knn",
    "q_kcore_membership",
    # text / pipeline
    "q_unigram_doc_prob",
    "q_dsir_resample",
    "q_vocab_coverage",
    "q_bpe_encode",
    "q_training_data_build",
    # temporal
    "q_ewma_smooth",
    "q_retention_cohorts",
    "q_type_duration_percentiles",
    # round-4 late additions
    "q_sorted_neighborhood_pairs",
    "q_matryoshka_recall",
    "q_label_separation",
    # round-5 additions
    "q_blocklist_filter",
    "q_bm25_topk",
    "q_frequent_pairs",
    "q_url_canonicalize",
    "q_bloom_join_prune",
    "q_modularity_score",
    "q_mmr_rerank",
    "q_bm25_passages",
    "q_leakage_safe_split",
    # round-6 additions
    "q_windowed_pair_supports",
    "q_bm25_topk_logidf",
    "q_ann_topk_ivfpq",
    "q_record_linkage",
    "q_quantile_normalize_scores",
    # round-7 additions
    "q_bigram_backoff_quality",
    "q_winnowing_fingerprints",
    "q_token_fertility",
    "q_warc_extract",
    "q_winnow_overlap_pairs",
    "q_robots_filter",
    "q_crawl_frontier",
    "q_kneser_ney_quality",
    "q_curriculum_schedule",
    "q_preference_pairs",
    "q_dataset_card",
    # round-8 additions
    "q_robots_filter_table",
    "q_host_link_graph",
    "q_host_pagerank",
    "q_host_harmonic",
    "q_domain_prior",
    "q_crawl_pipeline",
    "q_html_text_extract",
    # round-9 additions (partsupp TPC-H family — q9 is the heaviest:
    # two fact-sized composite-key joins)
    "q_profit_by_nation",
    "q_potential_promotion",
    # round-9 crawl-planning + retrieval additions: the two with real
    # shuffle stories (pointer-doubling self-joins; postings join) —
    # anchor/sitemap/rendezvous audit ≤2 slim exchanges by construction
    "q_redirect_resolution",
    "q_phrase_search",
    # round-10 additions: two-level sitemap discovery (member-body
    # equi-join), the politeness schedule (host window + host-dim
    # left join), and the composed discovery pipeline — all expected ≪ 1
    "q_sitemap_index",
    "q_fetch_schedule",
    "q_discovery_pipeline",
    # round-11 additions: the recrawl lifecycle — priority schedule
    # (host window), delta join (URL-keyed state join), revisit policy
    # (one url-keyed window+agg shuffle), budget apportionment (two
    # 1-row broadcasts + the global_row_number range shuffle) — all
    # slim-string/dimension frames, expected ≪ 1
    "q_priority_schedule",
    "q_recrawl_delta",
    "q_revisit_policy",
    "q_crawl_budget",
    "q_changefreq_policy",
    "q_feasible_budget",
    # round-12 additions: the composed crawl cycle (all of the above in
    # one plan — evidence delta + cadence join + allocation + waves),
    # the state-merge write half (one URL-keyed full-outer join), and
    # the operations rails (trap score: zero-shuffle projection;
    # backoff: two host-keyed aggregates; sitemap limits: blob-local
    # counts; robots cache: one host aggregate) — host/URL-dimension
    # frames, expected ≪ 1
    "q_crawl_cycle",
    "q_crawl_state_merge",
    "q_url_trap_score",
    "q_host_backoff",
    "q_sitemap_limits",
    "q_robots_cache",
    "q_adaptive_schedule",
    # round-13 additions: the health-rails budget composition (the
    # adaptive eff frame + feasible allocation + waves in one plan)
    # and the trap-gated frontier (zero-shuffle scorer + one dropped-
    # count host aggregate + schedule window) — host/URL-dimension
    # frames, expected ≪ 1
    "q_adaptive_cycle",
    "q_trap_frontier",
]

# One-line justifications for every query EXPECTED to audit above 1.0
# shuffle-bytes per table-byte (r8, VERDICT r7 bookkeeping finding: the
# artifact, not commit messages, is where above-1 rows get explained).
# The writer emits a `summary.rows_above_1` block pairing each >1 row
# with its justification; a >1 row with no entry here is recorded as
# UNJUSTIFIED — loud in the artifact, so either the plan regressed or a
# new row needs a reviewed reason.
RATIO_JUSTIFIED: dict[str, str] = {
    "q_phrase_search": (
        "positional-index witness aggregate: the candidate frame is one"
        " (doc, phrase, start) triple per posting matching ANY phrase"
        " term, so shuffle bytes scale with sum(df) over the phrase"
        " terms — and the fixture phrases deliberately use"
        " corpus-common terms ('table', 'window', 'row') so the join"
        " actually carries volume; on real corpora with stopword-heavy"
        " phrases the documented lever is df-stoplisting the posting"
        " side / AQE skew-join (operators/phrase.py docstring), and the"
        " literal-HOF twin (streaming/phrase_stream.py) handles"
        " bounded phrase sets with ZERO shuffles"
    ),
    "q_kcore_membership": (
        "iterative peeling over the kNN edge frame: per-round edge-sized"
        " shuffles, measured against the compact embeddings parquet —"
        " edges are the working set, not the source table"
    ),
    "q_pagerank_knn": (
        "kNN graph build + per-round (dst, contrib) shuffles measured"
        " against the embeddings parquet; edges shuffle once up front,"
        " rounds move node-sized aggregates"
    ),
    "q_knn_graph": (
        "blocked candidate equi-join over embeddings: candidate pairs"
        " cross the wire (bounded by the blocking scheme), denominator"
        " is the small float-array parquet"
    ),
    "q_modularity_score": (
        "kNN edge build + LP rounds; same edge-vs-source-bytes shape as"
        " the other graph rows"
    ),
    "q_dedup_minhash_lsh": (
        "banded signature inverted index: (id, band-bucket) rows"
        " shuffle once per band — never documents; the constant is the"
        " band count, pair space never materializes"
    ),
    "q_embedding_neardup": (
        "LSH-bucketed cosine pairs over embeddings — bucket-bounded"
        " candidate pairs, not all-pairs"
    ),
    "q_dedup_shingle_jaccard": (
        "shingle inverted-index join: (id, shingle) rows outnumber"
        " compressed doc bytes by the shingle fan-out; df-capped to"
        " bound hot shingles"
    ),
    "q_prefix_jaccard_pairs": (
        "prefix-filtered shingle index — same inverted-index shape,"
        " prefix pruning keeps it below full-shingle Jaccard"
    ),
    "q_dedup_clusters": (
        "connected components: large/small-star rounds re-shuffle the"
        " edge frame O(log n) times by design"
    ),
    "q_leakage_safe_split": (
        "cross-source shingle index + CC rounds; left-semi shrink keeps"
        " the train side map-side"
    ),
    "q_training_data_build": (
        "composes dedup + quality + split end-to-end, so it inherits"
        " the inverted-index constants of its dedup stage"
    ),
    "q_winnow_overlap_pairs": (
        "df-stoplisted fingerprint inverted-index join — the CHEAP"
        " near-dup tier: ~4 B/B vs 22.8 full-shingle / 50.4 MinHash for"
        " the same recall class (winnowing selects ~2/(w+1) of k-grams)"
    ),
    "q_bigram_backoff_quality": (
        "token-level sort-merge probe joins against checkpointed vocab"
        " count tables — inherent to per-position LM scoring; vocab"
        " tables are never broadcast at 100 TB, so the probe join IS"
        " the scale-correct plan"
    ),
    "q_frequent_pairs": (
        "per-basket pair expansion, cap-bounded (c·(c−1)/2 per basket)"
        " — the A-priori candidate step"
    ),
    "q_windowed_pair_supports": (
        "windowed co-occurrence expansion — pairs per sliding window,"
        " window-bounded"
    ),
    "q_warc_extract": (
        "FIXTURE-ONLY synthesis: the groupBy that packs records into"
        " file blobs is the fixture generator, not the operator — the"
        " parser itself is zero-shuffle and production ingest uses the"
        " record-level read_warc reader (r8)"
    ),
    "q_ewma_smooth": (
        "one key-partitioned window over the full event frame — ~1 B/B"
        " is the floor for any stateful per-key scan; nothing above the"
        " frame itself moves"
    ),
}
RATIO_NOTE_THRESHOLD = 1.0

# Iterative operators localCheckpoint their working frames, which
# truncates the executed plan ABOVE the parquet scans — the scan-bytes
# denominator for those queries comes from this explicit map instead of
# the plan regex. Keep an entry per audited iterative query; an audited
# query whose plan is truncated and is NOT listed here is recorded as
# tables=['unknown'] with a None ratio (loud, not silently wrong).
CHECKPOINT_TRUNCATED_TABLES: dict[str, set[str]] = {
    "q_pagerank_knn": {"embeddings"},
    "q_kcore_membership": {"embeddings"},
    "q_knn_graph": {"embeddings"},
    "q_dedup_clusters": {"documents"},
    # rank.global_row_number localCheckpoints its range-partitioned
    # intermediate, so these plans can lose their scan nodes too
    "q_vocab_coverage": {"documents"},
    "q_dsir_resample": {"documents"},
    "q_sorted_neighborhood_pairs": {"documents"},
    # frequent_pairs checkpoints its basket frame; modularity/MMR
    # checkpoint LP rounds / shortlist frames
    "q_frequent_pairs": {"lineitem"},
    "q_modularity_score": {"embeddings"},
    "q_mmr_rerank": {"embeddings"},
    # connected_components persists/collects; the leak join reuses the
    # cached pair frame, so the executed plan can be cache-truncated
    "q_leakage_safe_split": {"documents"},
    # ivfpq persists the quantized frame for the qrows collect, so the
    # executed candidate plan can be cache-truncated
    "q_ann_topk_ivfpq": {"embeddings"},
    # pointer doubling round_truncates its state frame every doubling
    # round (r10: was recorded tables=['unknown'] with a loud warning)
    "q_redirect_resolution": {"documents"},
    # global_row_number localCheckpoints its range-partitioned frame
    "q_quantile_normalize_scores": {"documents"},
    # the slim (doc_id, fp) set is checkpointed for its three consumers
    "q_winnow_overlap_pairs": {"documents"},
    # the train bigram table is checkpointed for its three stats consumers
    "q_kneser_ney_quality": {"documents"},
    # backoff train count tables are checkpointed (r7 review fix #4)
    "q_bigram_backoff_quality": {"documents"},
    # global_row_number localCheckpoints its range-partitioned frame
    "q_curriculum_schedule": {"documents"},
    # the ranked bucket frame is checkpointed for its two pair sides
    "q_preference_pairs": {"documents"},
    # pagerank checkpoints edges + per-round ranks (r8 host rank)
    "q_host_pagerank": {"documents"},
    # BFS checkpoints the pair frame per hop (r8 host harmonic)
    "q_host_harmonic": {"documents"},
    # domain prior consumes the checkpointed pagerank ranks (r8)
    "q_domain_prior": {"documents"},
    # crawl builders that checkpoint a fixture or schedule frame; each
    # reads only `documents` before its checkpoint
    "q_sitemap_index": {"documents"},
    "q_discovery_pipeline": {"documents"},
    "q_crawl_cycle": {"documents"},
    "q_adaptive_schedule": {"documents"},
    "q_adaptive_cycle": {"documents"},
    "q_trap_frontier": {"documents"},
}


def _stage_totals(ui_port: int, app_id: str) -> dict[str, int]:
    url = f"http://localhost:{ui_port}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as resp:
        stages = json.load(resp)
    tot = {"input_bytes": 0, "shuffle_write": 0, "shuffle_read": 0}
    for st in stages:
        tot["input_bytes"] += st.get("inputBytes", 0)
        tot["shuffle_write"] += st.get("shuffleWriteBytes", 0)
        tot["shuffle_read"] += st.get("shuffleReadBytes", 0)
    return tot


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ui_port = 4099
    spark = get_spark(
        app_name="xeloader-shuffle-audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(ui_port),
            # the audit reads cumulative stage totals from the UI store;
            # the default retainedStages (1000) evicts early stages once
            # the suite passes ~76 queries, making later before/after
            # deltas NEGATIVE (r13: the two new rows underflowed by the
            # evicted early-stage bytes). Retain far more than the
            # ~2,000 stages a full audit generates.
            "spark.ui.retainedStages": "50000",
            "spark.ui.retainedJobs": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from xeloader_spark.queries import all_queries

    queries = all_queries()
    out: dict[str, dict] = {}
    for name in AUDIT_QUERIES:
        # snapshot BEFORE construction: iterative operators (pagerank,
        # k-core, k-means) run their shuffles eagerly via localCheckpoint
        # while the query object is being built
        before = _stage_totals(ui_port, app_id)
        df = queries[name](spark, sf_dir)
        # scanned bytes = on-disk size of the parquet tables in the plan
        # (REST inputBytes is unreliable for columnar scans — events-table
        # stages report KBs for MB files); disk bytes are the stable,
        # deterministic denominator for a scale argument anyway.
        import re

        plan = df._jdf.queryExecution().executedPlan().toString()
        tables = set(re.findall(r"testdata/[^/]+/(\w+)\.parquet", plan))
        if not tables:
            # checkpoint-truncated plan (iterative operator): the scan
            # happened before the checkpoint, so read the denominator
            # from the explicit map. An unmapped query records
            # tables=['unknown'] and a None ratio rather than silently
            # borrowing another table's byte count.
            tables = CHECKPOINT_TRUNCATED_TABLES.get(name, set())
        scan_bytes = sum(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
            for t in tables
        )
        if not tables:
            print(
                f"[audit] WARNING: {name} has a checkpoint-truncated plan "
                f"and no CHECKPOINT_TRUNCATED_TABLES entry — recording "
                f"tables=['unknown'], ratio=None",
                file=sys.stderr,
                flush=True,
            )
            tables, scan_bytes = {"unknown"}, 0
        df.write.mode("overwrite").format("noop").save()
        after = _stage_totals(ui_port, app_id)
        d = {k: after[k] - before[k] for k in before}
        d["tables"] = sorted(tables)
        d["table_bytes"] = scan_bytes
        d["shuffle_per_table_byte"] = (
            round(d["shuffle_write"] / scan_bytes, 4) if scan_bytes else None
        )
        out[name] = d
        print(
            f"[audit] {name}: tables={scan_bytes:,}B "
            f"sw={d['shuffle_write']:,} ratio={d['shuffle_per_table_byte']}",
            file=sys.stderr,
            flush=True,
        )
    # rows above 1 B/B, each paired with its reviewed justification —
    # summarize FROM the artifact so prose (and commit messages) can
    # point here instead of hand-asserting
    rows_above_1 = {}
    for name, v in sorted(
        out.items(), key=lambda kv: -(kv[1]["shuffle_per_table_byte"] or 0)
    ):
        r = v["shuffle_per_table_byte"]
        if r is not None and r > RATIO_NOTE_THRESHOLD:
            rows_above_1[name] = {
                "shuffle_per_table_byte": r,
                "justification": RATIO_JUSTIFIED.get(
                    name,
                    "UNJUSTIFIED — plan regression or new row needing a"
                    " reviewed reason (add to RATIO_JUSTIFIED)",
                ),
            }
    unjust = [
        n for n, v in rows_above_1.items()
        if v["justification"].startswith("UNJUSTIFIED")
    ]
    if unjust:
        print(
            f"[audit] WARNING: rows above {RATIO_NOTE_THRESHOLD} B/B with"
            f" no justification: {unjust}",
            file=sys.stderr,
            flush=True,
        )
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SHUFFLE_AUDIT.json"),
        "w",
    ) as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "summary": {
                    "note_threshold": RATIO_NOTE_THRESHOLD,
                    "rows_above_1": rows_above_1,
                },
                "queries": out,
            },
            fh,
            indent=1,
        )
    print(json.dumps({"audited": len(out), "unjustified_above_1": unjust}))
    spark.stop()


if __name__ == "__main__":
    main()
