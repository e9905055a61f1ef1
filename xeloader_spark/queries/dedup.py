"""Deduplication operators as oracle-checked queries over `documents` /
`embeddings` (BASELINE.json extension surface).

The MinHash-LSH oracle replicates the *entire* signature/band pipeline in
SQL (md5 hashes are engine-identical), so the approximate operator is
exact-checked, not just row-counted. SimHash/Hamming oracles verify the
same result set through a brute-force all-pairs formulation — the Spark
side uses pigeonhole blocking, which is complete, so the sets agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as dd
from ..operators import minhash
from ..operators.kernels import local_frame
from ..plans.truncate import registered_persist

_K = 12
_BANDS = 4
_ROWS = 3
_JACCARD_T = 0.5
_COS_T = 0.45


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keeper (min doc_id) per identical text + dup flag."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs)


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: lowercase / strip punctuation /
    collapse whitespace, then keeper-per-canonical-digest — the cheap
    variant layer before the fuzzy dedup families. The canonical digest
    itself is part of the result, so the oracle hash-checks the entire
    normalization pipeline cross-engine, not just the verdicts."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.canonical_dedup(docs)


def q_dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: exact trigram-shingle Jaccard ≥ 0.5 via inverted-
    index join (no LSH approximation)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.jaccard_pairs(dd.shingles(docs, n=3), threshold=_JACCARD_T)


def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join by prefix filtering (SSJoin/PPJoin
    family): same trigram-shingle Jaccard ≥ 0.5 answer as
    `q_dedup_shingle_jaccard`, but only each set's rarest-token prefix
    enters the inverted index — the frequent-shingle fan-out never
    materializes. The oracle is the EXHAUSTIVE inverted-index SQL, so
    the hash match is a losslessness proof of the pruning (prefix +
    length filter), the same evidence shape as the phash-blocking and
    banding completeness checks."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.prefix_jaccard_pairs(dd.shingles(docs, n=3), 1, 2)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline (shingle → 12 min-hashes →
    4×3 bands → candidate join → exact-Jaccard verify)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_neardup(
        docs, threshold=_JACCARD_T, n=3, k=_K, bands=_BANDS, rows=_ROWS
    )


_EDIT_BLOCK_TOKENS = 3
_EDIT_MAX_RATIO = 0.4


def q_editdistance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: 3-token-prefix blocking + full
    Levenshtein verify at relative threshold 0.4 — the OCR-noise family
    next to the token-shingle ones, exact both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.editdistance_neardup(
        docs, block_tokens=_EDIT_BLOCK_TOKENS, max_ratio=_EDIT_MAX_RATIO
    )


def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy marginal-value ranking: fraction of each doc's trigram
    shingles it contributes first (smallest doc_id wins ownership)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.novelty_scores(docs, n=3)


_SEARCH_IDS = list(range(10))
_SEARCH_TOPK = 5


def q_minhash_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity SEARCH over the same MinHash index the dedup path
    builds: 10 query docs, banded shortlist, ranked by signature
    agreement (estimated Jaccard) with a deterministic tie-break — the
    oracle replays signatures, banding, shortlist, and ranking in SQL,
    so the approximate retrieval result is exact-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_search(
        docs, _SEARCH_IDS, topk=_SEARCH_TOPK, n=3, k=_K,
        bands=_BANDS, rows=_ROWS,
    )


def q_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (integer bit votes from md5
    nibbles — engine-exact)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = dd.tokenize(docs)
    return dd.simhash(toks, bits=16).withColumnRenamed("id", "doc_id")


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance ≤ 1 pairs; Spark side uses pigeonhole
    blocking (complete), oracle brute-forces all pairs — same set.
    (Distance 1 on 16 bits: this synthetic corpus shares one vocabulary,
    so wider radii match a third of all pairs — real corpora use 64 bits.)"""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.simhash(dd.tokenize(docs), bits=16)
    return dd.hamming_neardup(sigs, max_dist=1, bits=16).select(
        "id_a", "id_b", "hamming"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: trigram-Jaccard pairs → connected
    components (duplicates are transitive) → every doc labeled with its
    cluster and a canonical keeper flag. `filter(is_canonical)` is the
    deduplicated corpus. Oracle replays the component closure as a
    recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(dd.shingles(docs, n=3), threshold=_JACCARD_T)
    return dd.resolve_duplicates(docs.select("doc_id"), pairs).select(
        "doc_id", "cluster_id", "is_canonical"
    )


_SPLIT_TRAIN_BUCKETS = 8000  # of 10000 → 80/20


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/test split — the leakage-safe alternative to
    hashing doc ids: near-duplicates are transitive, so the split gate
    hashes the CLUSTER id from the same connected-components resolution
    as `q_dedup_clusters`, putting every near-dup family wholly in one
    split. The single-row audit quantifies why: near-dup pairs crossing
    the cluster-aware split (0 by construction — and hash-checked, not
    asserted) vs pairs crossing the naive per-doc split (the
    train→test leakage a doc-hash split silently ships).

    Scale shape: the pair list and cluster map are the dedup pipeline's
    own outputs (shingle-keyed inverted-index joins, no all-pairs); the
    split is one md5 gate per doc. The audit's lookup sides are first
    LEFT-SEMI-joined down to pair MEMBERS — pair-list cardinality, not
    corpus cardinality — before the broadcast hint, so the only frames
    that travel to every executor are bounded by the near-dup pair list
    (the per-doc split frame itself is billions of rows at 100 TB and is
    never broadcast)."""
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    pairs = registered_persist(
        dd.jaccard_pairs(dd.shingles(docs, n=3), threshold=_JACCARD_T)
    )
    resolved = dd.resolve_duplicates(docs.select("doc_id"), pairs)
    # Consumed by the member semi-join (twice) and the split-count agg —
    # persist once so the resolution lineage isn't replayed per consumer.
    sp = registered_persist(resolved).select(
        "doc_id",
        "cluster_id",
        F.when(
            hash_bucket("cluster_id", "split") < _SPLIT_TRAIN_BUCKETS,
            "train",
        )
        .otherwise("test")
        .alias("split_aware"),
        F.when(
            hash_bucket("doc_id", "split") < _SPLIT_TRAIN_BUCKETS, "train"
        )
        .otherwise("test")
        .alias("split_naive"),
    )
    # Shrink the lookup sides to pair MEMBERS before broadcasting: the
    # split frame is corpus-sized (one row per doc — not broadcastable at
    # scale), but only docs that appear in some near-dup pair matter to
    # the audit, and that set is bounded by 2x the pair list.
    pair_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sp_members = sp.join(pair_ids, "doc_id", "left_semi")
    a = sp_members.select(
        F.col("doc_id").alias("id_a"),
        F.col("split_aware").alias("aw_a"),
        F.col("split_naive").alias("nv_a"),
    )
    b = sp_members.select(
        F.col("doc_id").alias("id_b"),
        F.col("split_aware").alias("aw_b"),
        F.col("split_naive").alias("nv_b"),
    )
    leaks = (
        pairs.select("id_a", "id_b")
        .join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.coalesce(
                F.sum(F.when(F.col("aw_a") != F.col("aw_b"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("leaked_pairs_cluster_split"),
            F.coalesce(
                F.sum(F.when(F.col("nv_a") != F.col("nv_b"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("leaked_pairs_naive_split"),
        )
    )
    counts = sp.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("split_aware") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split_aware") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    return counts.crossJoin(F.broadcast(leaks))


def q_source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate pressure: docs vs distinct content
    digests (md5 of text — the same identity the exact-dedup path
    keys on), duplicate count and rate. The per-source triage a
    curator reads before deciding which source needs the near-dup
    passes at all."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_dups"),
        (
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
    )


def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality scorecard for the MinHash-LSH dedup,
    itself exact-checked: candidate-level precision (how much of the
    band fan-out is signal) and pair-level recall vs the EXHAUSTIVE
    Jaccard join, as integer counts plus pinned-order divisions. The
    oracle replays banding AND the exhaustive join, so a banding
    regression changes these numbers and fails the hash — quality
    drift is caught by the correctness gate, not just by bench
    recall rows."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.shingles(docs, n=3).persist()
    # Both pair frames persist (r13): each feeds TWO counts (its own
    # plus the intersection join), and un-persisted each count re-ran
    # the exhaustive-join / banding pipeline from the shingle cache.
    true_pairs = (
        dd.jaccard_pairs(sh, threshold=_JACCARD_T)
        .select("id_a", "id_b")
        .persist()
    )
    sigs = minhash.signatures(sh, k=_K)
    cands = dd.lsh_candidate_pairs(sigs, bands=_BANDS, rows=_ROWS).persist()
    try:
        n_true = true_pairs.count()
        n_cand = cands.count()
        n_hit = cands.join(true_pairs, ["id_a", "id_b"]).count()
    finally:
        # counts are materialized and the output is literal: free this
        # build's own frames only — a session-wide release here would
        # also free frames other callers still read
        for df in (sh, true_pairs, cands):
            df.unpersist()
    out = local_frame(
        spark, [(n_true, n_cand, n_hit)],
        "n_true long, n_cand long, n_cand_true long",
    )
    return out.select(
        "n_true",
        "n_cand",
        "n_cand_true",
        (
            F.col("n_cand_true").cast("double") / F.col("n_cand").cast("double")
        ).alias("cand_precision"),
        (
            F.col("n_cand_true").cast("double") / F.col("n_true").cast("double")
        ).alias("lsh_recall"),
    )


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (MDM golden record) per near-dup cluster:
    longest-text owner, modal language, stable provenance pick, audit
    sizes (`operators/dedup.py` `golden_records` on top of the same
    connected-components resolution as `q_dedup_clusters`). The oracle
    replays the recursive component closure AND every survivorship rule."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(dd.shingles(docs, n=3), threshold=_JACCARD_T)
    resolved = dd.resolve_duplicates(docs.select("doc_id"), pairs)
    return dd.golden_records(docs, resolved)


_CONTAIN_T = 0.6


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment near-dup: every (sub, super) doc pair where
    ≥ 60% of sub's trigram shingles also occur in super — catches short
    docs subsumed by longer ones, which symmetric Jaccard misses."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.containment_pairs(dd.shingles(docs, n=3), threshold=_CONTAIN_T)


_SPAN_N = 5


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (Lee et al. 2022 recipe,
    window-hash formulation): every 5-token window shared by ≥ 2 docs is
    a duplicated window; overlapping windows merge into maximal spans.
    Per doc: gram/shared-gram counts, span count, duplicated-token
    coverage, dup_ratio. Oracle replays windowing, the shared set, and
    the run-length span merge."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.substring_dup_spans(docs, min_tokens=_SPAN_N)


# exactly one chunk (8 tokens) so seeded docs share chunk 0 verbatim
_BOILER = "the quick brown fox jumps over the lazy"
_CHUNK_TOKENS = 8


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (chunk) dedup: docs are split into 8-token chunks,
    each distinct chunk keeps its first occurrence in (doc_id, chunk_ord)
    order, and documents reassemble from surviving chunks. A deterministic
    8-token boilerplate header is planted on every 5th doc so the corpus
    actually HAS repeated passages (synthetic chunks are otherwise unique)
    — chunk 0 of all seeded docs dedups down to one keeper. Oracle replays
    chunking + keeper window + ordered reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dd.chunk_dedup(seeded, chunk_tokens=_CHUNK_TOKENS)


_SNAP_BUCKET = 7000  # 70% of the corpus plays the already-ingested snapshot
_SEEDED_PFX = "shared boilerplate passage "


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: a deterministic 70% of the corpus plays
    the already-loaded snapshot (its digest side-table), the other 30% is
    the new batch; every 4th doc is seeded with a shared boilerplate text
    (2 copies per 8-id run) so duplicates exist both inside the batch and
    across the snapshot boundary. Each batch doc gets 'dup_in_snapshot' /
    'dup_in_batch' / 'keep' — the keep set is what the load appends to
    the snapshot. Digest-only joins; the corpus never re-shuffles."""
    from ..operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(_SEEDED_PFX), F.expr("CAST(doc_id DIV 8 AS STRING)")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    in_snap = sp.hash_bucket("doc_id", salt="ingest") < _SNAP_BUCKET
    snapshot = seeded.filter(in_snap).select(F.md5("text").alias("digest"))
    return dd.incremental_dedup(seeded.filter(~in_snap), snapshot)


def q_jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD-TUNING curve in one pass: every co-occurring pair's
    exact Jaccard, bucketed into integer deciles — the "how many pairs
    would each threshold flag" histogram a curator reads before picking
    t. The bucket is the integer `(10·|∩|) div |∪|` (no float boundary
    anywhere), so the curve is engine-exact; one inverted-index pass
    serves every candidate threshold instead of re-running dedup per t."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.shingles(docs, n=3)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    return (
        common.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"),
            "id_b",
        )
        .withColumn(
            "decile", F.expr("(10 * nc) div (n_a + n_b - nc)").cast("long")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min(
                F.col("nc") / (F.col("n_a") + F.col("n_b") - F.col("nc"))
            ).alias("min_jaccard"),
            F.max(
                F.col("nc") / (F.col("n_a") + F.col("n_b") - F.col("nc"))
            ).alias("max_jaccard"),
        )
    )


def q_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage matrix BETWEEN sources: exact-Jaccard pairs
    (t ≥ 0.5) grouped by their (source_a, source_b) corner — the
    "is crawlX re-serving crawlY's content" diagnostic that decides
    which source to de-prioritize. Pair sources are ordered
    lexicographically so each unordered corner counts once."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(dd.shingles(docs, n=3), threshold=_JACCARD_T)
    sa = docs.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            "jaccard",
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


_MH_SNAP_SALT = "mh-snap"
_MH_MIN_AGREE = 6  # estimated Jaccard >= 6/12 = 0.5


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental NEAR-dup detection: a deterministic 70%
    of the corpus plays the already-ingested history, retained ONLY as
    its MinHash signature table (text discarded — the state a daily-crawl
    dedup job actually keeps); the other 30% is the new batch, screened
    against that state and against itself via banded LSH + signature
    agreement. Seeded boilerplate passages (the q_incremental_dedup
    fixture trick) guarantee matches on both sides of the boundary. The
    oracle replays the FULL pipeline — seeding, snapshot split, shingles,
    signatures, bands, agreement — in SQL, so the retained-state design
    is hash-verified end to end."""
    from ..operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(_SEEDED_PFX), F.expr("CAST(doc_id DIV 8 AS STRING)")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    in_snap = sp.hash_bucket("doc_id", salt=_MH_SNAP_SALT) < _SNAP_BUCKET
    snapshot_sigs = minhash.signatures(
        dd.shingles(seeded.filter(in_snap), n=3), k=_K
    )
    return dd.minhash_incremental(
        seeded.filter(~in_snap),
        snapshot_sigs,
        min_agree=_MH_MIN_AGREE,
        n=3,
        k=_K,
        bands=_BANDS,
        rows=_ROWS,
    )


_EVAL_BUCKET = 500  # 5% of documents act as the held-out eval set


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a deterministic 5% of the corpus plays
    the eval set; every TRAIN doc sharing a word n-gram with any eval doc
    is flagged with leak counts. Eval shingles broadcast — the train
    corpus is never shuffled."""
    from ..operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    is_eval = sp.hash_bucket("doc_id", salt="eval") < _EVAL_BUCKET
    # n=5 (not the classic 8-13) so the synthetic corpus yields a dense
    # enough overlap set to be a meaningful correctness check
    return dd.cross_contamination(
        docs.filter(~is_eval), docs.filter(is_eval), n=5
    )


_BLOOM_M = 32768
_BLOOM_K = 3


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: the 5% eval split's 5-grams compress
    into a 32768-bit broadcast filter (3 md5 hash positions per gram);
    every train doc probes its distinct grams with zero shuffle. The
    n_exact_hits audit column quantifies Bloom false positives against
    true membership. Oracle replays build + probe bit-exactly."""
    from ..operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    is_eval = sp.hash_bucket("doc_id", salt="eval") < _EVAL_BUCKET
    return dd.bloom_decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval), n=5, m=_BLOOM_M, k=_BLOOM_K
    )


_EMB_PLANES = 16
_EMB_BANDS = 4


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-BLOCKED default path: quantized
    hyperplane signature (integer projections) → 4 bands → candidate
    equi-join → exact integer-cosine verify (×1000 quantization →
    deterministic double), threshold 0.45. No driver collect, no O(n²)
    pair space — the oracle replays the identical banding pipeline in SQL,
    so the approximate operator is exact-checked (same methodology as
    `q_dedup_minhash_lsh`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_neardup(
        emb, threshold=_COS_T, blocked=True, n_planes=_EMB_PLANES, bands=_EMB_BANDS
    )


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup resolution: LSH-blocked embedding near-dup pairs →
    connected components → every vector labeled with its semantic cluster
    and canonical flag. Same closure machinery as the text path — the
    operator family composes across modalities."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dd.embedding_neardup(
        emb, threshold=_COS_T, blocked=True, n_planes=_EMB_PLANES, bands=_EMB_BANDS
    )
    return (
        dd.resolve_duplicates(emb.select("vec_id"), pairs, id_col="vec_id")
        .select("vec_id", "cluster_id", "is_canonical")
    )


# ---------------------------------------------------------------- oracles

# shared SQL builders (DuckDB), parameterized on the corpus relation so
# composed pipelines can run the same dedup over a filtered CTE


def toks_sql(rel: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS tok,
           generate_subscripts(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''), 1) AS ord
    FROM {rel}
"""


def tri_sql(rel: str = "documents") -> str:
    t = toks_sql(rel)
    return f"""
    SELECT DISTINCT a.doc_id AS id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
    FROM ({t}) a
    JOIN ({t}) b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
    JOIN ({t}) c ON a.doc_id = c.doc_id AND c.ord = a.ord + 2
"""


def jaccard_pairs_sql(rel: str = "documents", threshold: float = _JACCARD_T) -> str:
    return f"""
    WITH tri AS ({tri_sql(rel)}),
    sz AS (SELECT id, COUNT(*) AS n FROM tri GROUP BY 1),
    common AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM tri a JOIN tri b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, c.n_common,
           c.n_common * 1.0 / (sa.n + sb.n - c.n_common) AS jaccard
    FROM common c
    JOIN sz sa ON c.id_a = sa.id
    JOIN sz sb ON c.id_b = sb.id
    WHERE c.n_common * 1.0 / (sa.n + sb.n - c.n_common) >= {threshold}
"""


def clusters_sql(
    pairs_rel: str = "pairs",
    docs_rel: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """Recursive-CTE component closure over a pair relation → every
    `id_col` in `docs_rel` labeled (cluster_id, is_canonical). Must
    appear under a WITH RECURSIVE header."""
    return f"""
        edges AS (
            SELECT id_a AS a, id_b AS b FROM {pairs_rel}
            UNION
            SELECT id_b AS a, id_a AS b FROM {pairs_rel}
        ),
        reach(src, node) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
        ),
        comp AS (SELECT src, MIN(node) AS cluster FROM reach GROUP BY 1),
        resolved AS (
            SELECT d.{id_col},
                   COALESCE(c.cluster, d.{id_col}) AS cluster_id,
                   (d.{id_col} = COALESCE(c.cluster, d.{id_col})) AS is_canonical
            FROM {docs_rel} d LEFT JOIN comp c ON d.{id_col} = c.src
        )
"""


_TOKS = toks_sql()
_TRI = tri_sql()
_TOKS_LIST_DD = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')"
_JACCARD_PAIRS = jaccard_pairs_sql()

_SIG_COLS = ", ".join(
    f"min(substr(md5('{s // 2}|' || sh), {1 + 16 * (s % 2)}, 16)) AS h{s}"
    for s in range(_K)
)
_BAND_COLS = ", ".join(
    "md5(" + " || '#' || ".join(f"h{b * _ROWS + r}" for r in range(_ROWS)) + f") AS band{b}"
    for b in range(_BANDS)
)
_CAND_UNION = " UNION ".join(
    f"SELECT a.id AS id_a, b.id AS id_b FROM banded a "
    f"JOIN banded b ON a.band{b} = b.band{b} AND a.id < b.id"
    for b in range(_BANDS)
)

_SIMHASH_EXPR = dd.simhash_expr_sql(bits=16, instr_fn="strpos", tok_col="tok")


def _emb_blocked_pairs_sql(
    threshold: float = _COS_T,
    n_planes: int = _EMB_PLANES,
    bands: int = _EMB_BANDS,
    scale: int = 1000,
    seed: int = 42,
) -> str:
    """DuckDB replay of the LSH-blocked embedding near-dup: identical
    quantized signatures (integer projections — engine-exact), identical
    band slicing, identical candidate join, identical integer-cosine
    verify. The operator's banding recall is therefore checked exactly,
    not sampled."""
    from ..operators.similarity import quantized_sig_sql

    rows_per_band = n_planes // bands
    mask = (1 << rows_per_band) - 1
    band_cols = ", ".join(
        f"(sig >> {b * rows_per_band}) & {mask} AS band{b}" for b in range(bands)
    )
    cand_union = " UNION ".join(
        f"SELECT a.id AS id_a, b.id AS id_b FROM banded a "
        f"JOIN banded b ON a.band{b} = b.band{b} AND a.id < b.id"
        for b in range(bands)
    )
    return f"""
        WITH q AS (
            SELECT vec_id AS id, ord AS pos,
                   CAST(round(CAST(val AS DOUBLE) * {scale}) AS BIGINT) AS qv
            FROM (SELECT vec_id, unnest(embedding) AS val,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
        ),
        sig AS ({quantized_sig_sql(n_planes, scale, seed)}),
        banded AS (SELECT id, {band_cols} FROM sig),
        cand AS ({cand_union}),
        nrm AS (SELECT id, SUM(qv * qv) AS nrm FROM q GROUP BY 1),
        dots AS (
            SELECT c.id_a, c.id_b, SUM(a.qv * b.qv) AS dot
            FROM cand c
            JOIN q a ON a.id = c.id_a
            JOIN q b ON b.id = c.id_b AND b.pos = a.pos
            GROUP BY 1, 2
        )
        SELECT d.id_a, d.id_b,
               d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)) AS cosine
        FROM dots d
        JOIN nrm na ON d.id_a = na.id
        JOIN nrm nb ON d.id_b = nb.id
        WHERE d.dot / (sqrt(na.nrm) * sqrt(nb.nrm)) >= {threshold}
    """

ORACLES: dict[str, str] = {
    "q_dedup_exact": """
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY text) AS keeper_doc_id,
               doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_dup
        FROM documents
    """,
    "q_canonical_dedup": r"""
        WITH c AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\s]+', '', 'g'), '\s+', ' ', 'g')))
                       AS canon_digest
            FROM documents
        )
        SELECT doc_id, canon_digest,
               MIN(doc_id) OVER (PARTITION BY canon_digest)
                   AS keeper_doc_id,
               doc_id <> MIN(doc_id) OVER (PARTITION BY canon_digest)
                   AS is_dup
        FROM c
    """,
    "q_dedup_shingle_jaccard": _JACCARD_PAIRS,
    # the exhaustive index IS the oracle: hash match == pruning is lossless
    "q_prefix_jaccard_pairs": _JACCARD_PAIRS,
    "q_containment_pairs": f"""
        WITH tri AS ({tri_sql()}),
        sz AS (SELECT id, COUNT(*) AS n FROM tri GROUP BY 1),
        common AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
            FROM tri a JOIN tri b ON a.sh = b.sh AND a.id < b.id
            GROUP BY 1, 2
        ),
        sized AS (
            SELECT c.id_a, c.id_b, c.n_common, sa.n AS n_a, sb.n AS n_b
            FROM common c
            JOIN sz sa ON c.id_a = sa.id
            JOIN sz sb ON c.id_b = sb.id
        ),
        directed AS (
            SELECT id_a AS id_sub, id_b AS id_super, n_common, n_a AS n_sub
            FROM sized
            UNION ALL
            SELECT id_b AS id_sub, id_a AS id_super, n_common, n_b AS n_sub
            FROM sized
        )
        SELECT id_sub, id_super, n_common,
               n_sub, n_common * 1.0 / n_sub AS containment
        FROM directed
        WHERE n_common * 1.0 / n_sub >= {_CONTAIN_T}
    """,
    "q_dedup_clusters": f"""
        WITH RECURSIVE pairs AS ({_JACCARD_PAIRS}),
        {clusters_sql('pairs', 'documents')}
        SELECT doc_id, cluster_id, is_canonical FROM resolved
    """,
    "q_leakage_safe_split": f"""
        WITH RECURSIVE pairs AS ({_JACCARD_PAIRS}),
        {clusters_sql('pairs', 'documents')},
        sp AS (
            SELECT doc_id, cluster_id,
                   CASE WHEN ('0x' || substr(md5('split'
                            || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
                            % 10000 < {_SPLIT_TRAIN_BUCKETS}
                        THEN 'train' ELSE 'test' END AS split_aware,
                   CASE WHEN ('0x' || substr(md5('split'
                            || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            % 10000 < {_SPLIT_TRAIN_BUCKETS}
                        THEN 'train' ELSE 'test' END AS split_naive
            FROM resolved
        ),
        leaks AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COALESCE(SUM(CASE WHEN a.split_aware <> b.split_aware
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS leaked_pairs_cluster_split,
                   CAST(COALESCE(SUM(CASE WHEN a.split_naive <> b.split_naive
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS leaked_pairs_naive_split
            FROM pairs p
            JOIN sp a ON a.doc_id = p.id_a
            JOIN sp b ON b.doc_id = p.id_b
        ),
        counts AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN split_aware = 'train' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_train,
                   CAST(SUM(CASE WHEN split_aware = 'test' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_test
            FROM sp
        )
        SELECT c.n_docs, c.n_train, c.n_test, l.n_pairs,
               l.leaked_pairs_cluster_split, l.leaked_pairs_naive_split
        FROM counts c CROSS JOIN leaks l
    """,
    "q_golden_records": f"""
        WITH RECURSIVE pairs AS ({_JACCARD_PAIRS}),
        {clusters_sql('pairs', 'documents')},
        j AS (
            SELECT d.doc_id, d.n_chars, d.lang, d.source, r.cluster_id
            FROM documents d JOIN resolved r ON r.doc_id = d.doc_id
        ),
        base AS (
            SELECT cluster_id,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   MIN(source) AS min_source
            FROM j GROUP BY 1
        ),
        owner AS (
            SELECT cluster_id, doc_id AS text_owner,
                   CAST(n_chars AS BIGINT) AS text_len
            FROM (SELECT cluster_id, doc_id, n_chars,
                         ROW_NUMBER() OVER (PARTITION BY cluster_id
                                            ORDER BY n_chars DESC,
                                                     doc_id ASC) AS rk
                  FROM j)
            WHERE rk = 1
        ),
        modal AS (
            SELECT cluster_id, lang AS modal_lang
            FROM (SELECT cluster_id, lang, COUNT(*) AS n,
                         ROW_NUMBER() OVER (PARTITION BY cluster_id
                                            ORDER BY COUNT(*) DESC,
                                                     lang ASC) AS rk
                  FROM j GROUP BY cluster_id, lang)
            WHERE rk = 1
        )
        SELECT b.cluster_id, b.n_members, b.total_chars, b.min_source,
               o.text_owner, o.text_len, m.modal_lang
        FROM base b
        JOIN owner o ON o.cluster_id = b.cluster_id
        JOIN modal m ON m.cluster_id = b.cluster_id
    """,
    "q_dedup_minhash_lsh": f"""
        WITH tri AS ({_TRI}),
        sig AS (SELECT id, {_SIG_COLS} FROM tri GROUP BY id),
        banded AS (SELECT id, {_BAND_COLS} FROM sig),
        cand AS ({_CAND_UNION}),
        ver AS ({_JACCARD_PAIRS})
        SELECT v.id_a, v.id_b, v.n_common, v.jaccard
        FROM cand c JOIN ver v ON c.id_a = v.id_a AND c.id_b = v.id_b
    """,
    "q_jaccard_threshold_curve": f"""
        WITH tri AS ({_TRI}),
        sz AS (SELECT id, COUNT(*) AS n FROM tri GROUP BY 1),
        common AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS nc
            FROM tri a JOIN tri b ON a.sh = b.sh AND a.id < b.id
            GROUP BY 1, 2
        ),
        sized AS (
            SELECT c.nc, sa.n AS n_a, sb.n AS n_b
            FROM common c
            JOIN sz sa ON c.id_a = sa.id
            JOIN sz sb ON c.id_b = sb.id
        )
        SELECT CAST((10 * nc) // (n_a + n_b - nc) AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               MIN(CAST(nc AS DOUBLE) / CAST(n_a + n_b - nc AS DOUBLE))
                   AS min_jaccard,
               MAX(CAST(nc AS DOUBLE) / CAST(n_a + n_b - nc AS DOUBLE))
                   AS max_jaccard
        FROM sized GROUP BY 1
    """,
    "q_cross_source_contamination": f"""
        WITH ver AS ({_JACCARD_PAIRS})
        SELECT least(da.source, db.source) AS source_lo,
               greatest(da.source, db.source) AS source_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               MAX(v.jaccard) AS max_jaccard
        FROM ver v
        JOIN documents da ON v.id_a = da.doc_id
        JOIN documents db ON v.id_b = db.doc_id
        GROUP BY 1, 2
    """,
    "q_incremental_neardup": f"""
        WITH seeded AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 1
                        THEN '{_SEEDED_PFX}' || CAST(doc_id // 8 AS VARCHAR)
                        ELSE text END AS text,
                   (('0x' || substr(md5('{_MH_SNAP_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)
                       < {_SNAP_BUCKET} AS in_snap
            FROM documents
        ),
        tri AS ({tri_sql("seeded")}),
        sig AS (SELECT id, {_SIG_COLS} FROM tri GROUP BY id),
        flagged AS (
            SELECT s.*, d.in_snap FROM sig s
            JOIN seeded d ON s.id = d.doc_id
        ),
        sband AS (SELECT id, {_BAND_COLS} FROM flagged WHERE in_snap),
        nband AS (SELECT id, {_BAND_COLS} FROM flagged WHERE NOT in_snap),
        cross_c AS ({" UNION ".join(
            f"SELECT n.id AS new_id, s.id AS match_id "
            f"FROM nband n JOIN sband s ON n.band{b} = s.band{b}"
            for b in range(_BANDS)
        )}),
        within_c AS ({" UNION ".join(
            f"SELECT b2.id AS new_id, a2.id AS match_id "
            f"FROM nband a2 JOIN nband b2 "
            f"ON a2.band{b} = b2.band{b} AND a2.id < b2.id"
            for b in range(_BANDS)
        )}),
        cand AS (
            SELECT new_id, match_id, TRUE AS in_snapshot FROM cross_c
            UNION ALL
            SELECT new_id, match_id, FALSE AS in_snapshot FROM within_c
        ),
        agree AS (
            SELECT c.new_id, c.match_id, c.in_snapshot,
                   CAST({" + ".join(
                       f"(CASE WHEN nn.h{s} = mm.h{s} THEN 1 ELSE 0 END)"
                       for s in range(_K)
                   )} AS BIGINT) AS n_agree
            FROM cand c
            JOIN sig nn ON nn.id = c.new_id
            JOIN sig mm ON mm.id = c.match_id
        )
        SELECT new_id, match_id, in_snapshot, n_agree,
               CAST(n_agree AS DOUBLE) / {_K} AS jaccard_est
        FROM agree WHERE n_agree >= {_MH_MIN_AGREE}
    """,
    "q_source_dup_rates": """
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
               CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                   AS n_dups,
               CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS dup_rate
        FROM documents GROUP BY 1
    """,
    "q_dedup_eval": f"""
        WITH tri AS ({_TRI}),
        sig AS (SELECT id, {_SIG_COLS} FROM tri GROUP BY id),
        banded AS (SELECT id, {_BAND_COLS} FROM sig),
        cand AS ({_CAND_UNION}),
        ver AS ({_JACCARD_PAIRS}),
        tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM ver),
        ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        it AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_true
            FROM cand c JOIN ver v
              ON c.id_a = v.id_a AND c.id_b = v.id_b
        )
        SELECT tt.n_true, ct.n_cand, it.n_cand_true,
               CAST(it.n_cand_true AS DOUBLE) / CAST(ct.n_cand AS DOUBLE)
                   AS cand_precision,
               CAST(it.n_cand_true AS DOUBLE) / CAST(tt.n_true AS DOUBLE)
                   AS lsh_recall
        FROM tt, ct, it
    """,
    "q_editdistance_neardup": f"""
        WITH s AS (
            SELECT doc_id AS id, text AS t,
                   md5(array_to_string(
                       {_TOKS_LIST_DD}[1:{_EDIT_BLOCK_TOKENS}], ' ')) AS blk
            FROM documents
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
               CAST(levenshtein(a.t, b.t) AS DOUBLE)
                   / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE)
                   AS edit_ratio
        FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
        WHERE CAST(levenshtein(a.t, b.t) AS DOUBLE)
              / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE)
              <= {_EDIT_MAX_RATIO}
    """,
    "q_novelty_scores": f"""
        WITH tri AS ({_TRI}),
        own AS (SELECT sh, MIN(id) AS first_id FROM tri GROUP BY 1),
        j AS (
            SELECT t.id AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN t.id = o.first_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM tri t JOIN own o USING (sh)
            GROUP BY 1
        )
        SELECT doc_id, n_shingles, n_novel,
               CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE)
                   AS novelty
        FROM j
    """,
    "q_minhash_search": f"""
        WITH tri AS ({_TRI}),
        sig AS (SELECT id, {_SIG_COLS} FROM tri GROUP BY id),
        banded AS (SELECT id, {_BAND_COLS} FROM sig),
        qb AS (SELECT * FROM banded
               WHERE id IN ({", ".join(str(i) for i in _SEARCH_IDS)})),
        cand AS ({" UNION ".join(
            f"SELECT q.id AS query_id, c.id AS candidate_id "
            f"FROM qb q JOIN banded c ON q.band{b} = c.band{b} "
            f"AND c.id <> q.id"
            for b in range(_BANDS)
        )}),
        agree AS (
            SELECT cand.query_id, cand.candidate_id,
                   CAST({" + ".join(
                       f"(CASE WHEN s.h{s} = q.h{s} THEN 1 ELSE 0 END)"
                       for s in range(_K)
                   )} AS BIGINT) AS n_agree
            FROM cand
            JOIN sig s ON s.id = cand.candidate_id
            JOIN sig q ON q.id = cand.query_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY n_agree DESC, candidate_id) AS rn
            FROM agree
        )
        SELECT query_id, candidate_id, n_agree,
               CAST(n_agree AS DOUBLE) / {_K} AS jaccard_est
        FROM ranked WHERE rn <= {_SEARCH_TOPK}
    """,
    "q_incremental_dedup": f"""
        WITH seeded AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 1
                        THEN '{_SEEDED_PFX}' || CAST(doc_id // 8 AS VARCHAR)
                        ELSE text END AS text,
                   (('0x' || substr(md5('ingest' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)
                       < {_SNAP_BUCKET} AS in_snap
            FROM documents
        ),
        snap AS (SELECT DISTINCT md5(text) AS digest FROM seeded WHERE in_snap),
        b AS (
            SELECT doc_id, md5(text) AS digest,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM seeded WHERE NOT in_snap
        )
        SELECT b.doc_id, b.digest,
               CASE WHEN s.digest IS NOT NULL THEN 'dup_in_snapshot'
                    WHEN b.rn > 1 THEN 'dup_in_batch'
                    ELSE 'keep' END AS status
        FROM b LEFT JOIN snap s ON b.digest = s.digest
    """,
    "q_decontaminate": f"""
        WITH toks AS (
            SELECT doc_id,
                   (('0x' || substr(md5('eval' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)
                       < {_EVAL_BUCKET} AS is_eval,
                   list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id, is_eval, unnest(
                CASE WHEN len(t) < 5 THEN []
                     ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
                                        i -> array_to_string(t[i:i+4], ' ')))
                END) AS sh
            FROM toks
        )
        SELECT tr.doc_id,
               CAST(COUNT(DISTINCT tr.sh) AS BIGINT) AS n_shared_ngrams,
               CAST(COUNT(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
        FROM (SELECT * FROM sh WHERE NOT is_eval) tr
        JOIN (SELECT * FROM sh WHERE is_eval) ev ON tr.sh = ev.sh
        GROUP BY 1
    """,
    "q_bloom_decontaminate": f"""
        WITH toks AS (
            SELECT doc_id,
                   (('0x' || substr(md5('eval' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)
                       < {_EVAL_BUCKET} AS is_eval,
                   list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id, is_eval, unnest(
                CASE WHEN len(t) < 5 THEN []
                     ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
                                        i -> array_to_string(t[i:i+4], ' ')))
                END) AS g
            FROM toks
        ),
        eg AS (SELECT DISTINCT g FROM g WHERE is_eval),
        bits AS (
            SELECT DISTINCT
                   (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 8))::BIGINT
                        % {_BLOOM_M}) AS pos
            FROM eg, (SELECT unnest([1, 2, 3]) AS j)
        ),
        trh AS (
            SELECT doc_id, g,
                   (('0x' || substr(md5('1:' || g), 1, 8))::BIGINT % {_BLOOM_M})
                       IN (SELECT pos FROM bits)
                   AND (('0x' || substr(md5('2:' || g), 1, 8))::BIGINT % {_BLOOM_M})
                       IN (SELECT pos FROM bits)
                   AND (('0x' || substr(md5('3:' || g), 1, 8))::BIGINT % {_BLOOM_M})
                       IN (SELECT pos FROM bits) AS bloom_hit,
                   g IN (SELECT g FROM eg) AS exact_hit
            FROM g WHERE NOT is_eval
        ),
        agg AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
                   CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits
            FROM trh GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(a.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
               CAST(COALESCE(a.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
               COALESCE(a.n_bloom_hits, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM toks WHERE NOT is_eval) d
        LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    "q_simhash_signature": f"""
        WITH toks AS ({_TOKS}),
        dt AS (SELECT DISTINCT doc_id AS id, tok FROM toks)
        SELECT id AS doc_id, CAST({_SIMHASH_EXPR} AS BIGINT) AS simhash
        FROM dt GROUP BY id
    """,
    "q_simhash_neardup": f"""
        WITH toks AS ({_TOKS}),
        dt AS (SELECT DISTINCT doc_id AS id, tok FROM toks),
        sig AS (SELECT id, CAST({_SIMHASH_EXPR} AS BIGINT) AS simhash
                FROM dt GROUP BY id)
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
    "q_embedding_neardup": (_EMB_PAIRS := _emb_blocked_pairs_sql()),
    "q_chunk_dedup": f"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN '{_BOILER} ' || text
                        ELSE text END AS text
            FROM documents
        ),
        toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
            FROM base
        ),
        ch AS (
            SELECT doc_id, unnest(cl) AS chunk,
                   generate_subscripts(cl, 1) - 1 AS chunk_ord
            FROM (
                SELECT doc_id,
                       CASE WHEN len(t) = 0 THEN []
                            ELSE list_transform(
                                generate_series(0, CAST(ceil(len(t) / {_CHUNK_TOKENS}.0) AS INT) - 1),
                                i -> array_to_string(t[i*{_CHUNK_TOKENS}+1 : i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS}], ' '))
                       END AS cl
                FROM toks
            )
        ),
        marked AS (
            SELECT doc_id, chunk_ord, chunk,
                   ROW_NUMBER() OVER (PARTITION BY chunk
                                      ORDER BY doc_id, chunk_ord) AS rk
            FROM ch
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN rk = 1 THEN chunk END, ' '
                                   ORDER BY chunk_ord), '') AS deduped_text
        FROM marked
        GROUP BY doc_id
    """,
}

ORACLES["q_substring_dup_spans"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tk
        FROM documents
    ),
    g AS (
        SELECT doc_id, unnest(gl) AS h, generate_subscripts(gl, 1) - 1 AS pos
        FROM (
            SELECT doc_id,
                   CASE WHEN len(tk) < {_SPAN_N} THEN []
                        ELSE list_transform(
                            generate_series(1, len(tk) - {_SPAN_N - 1}),
                            i -> md5(array_to_string(tk[i:i+{_SPAN_N - 1}], ' ')))
                   END AS gl
            FROM t
        )
    ),
    shared AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    m AS (SELECT g.doc_id, g.pos FROM g JOIN shared s ON g.h = s.h),
    r AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            > {_SPAN_N}
                    THEN 1 ELSE 0 END AS new_run
        FROM m
    ),
    rr AS (
        SELECT doc_id, pos,
               SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS run_id
        FROM r
    ),
    sp AS (
        SELECT doc_id, run_id, COUNT(*) AS run_grams,
               MAX(pos) - MIN(pos) + {_SPAN_N} AS run_tokens
        FROM rr GROUP BY 1, 2
    ),
    pd AS (
        SELECT doc_id,
               CAST(SUM(run_grams) AS BIGINT) AS n_shared_grams,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(run_tokens) AS BIGINT) AS n_dup_tokens
        FROM sp GROUP BY 1
    ),
    tot AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(greatest(len(tk) - {_SPAN_N - 1}, 0) AS BIGINT) AS n_grams
        FROM t
    )
    SELECT tot.doc_id, tot.n_tokens, tot.n_grams,
           CAST(COALESCE(pd.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
           CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(pd.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           CASE WHEN tot.n_tokens = 0 THEN 0.0
                ELSE CAST(COALESCE(pd.n_dup_tokens, 0) AS DOUBLE)
                     / CAST(tot.n_tokens AS DOUBLE)
           END AS dup_ratio
    FROM tot LEFT JOIN pd ON tot.doc_id = pd.doc_id
"""

ORACLES["q_embedding_clusters"] = f"""
    WITH RECURSIVE pairs AS ({_EMB_PAIRS}),
    {clusters_sql('pairs', 'embeddings', 'vec_id')}
    SELECT vec_id, cluster_id, is_canonical FROM resolved
"""


_SNM_WINDOW = 5
_SNM_KEY_TOKENS = 3


def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (merge/purge) near-dup pairs: sort by the
    lowercased first-3-token key, verify only pairs ≤ `_SNM_WINDOW`
    apart in the sorted order — candidate volume is O(n·window) by
    CONSTRUCTION, immune to the hot-key fan-out every equi-join blocker
    (shingle, band, block) has to fight. Same exact-rational Jaccard
    threshold as the rest of the family, so blocker recall is directly
    comparable (`operators/dedup.sorted_neighborhood_pairs`)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.sorted_neighborhood_pairs(
        docs,
        window=_SNM_WINDOW,
        key_tokens=_SNM_KEY_TOKENS,
        shingle_n=3,
        threshold_num=1,
        threshold_den=2,
    )


ORACLES["q_sorted_neighborhood_pairs"] = f"""
    WITH t AS (
        SELECT doc_id AS id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    r AS (
        SELECT id,
               ROW_NUMBER() OVER (
                   ORDER BY lower(array_to_string(toks[1:{_SNM_KEY_TOKENS}],
                                                  ' ')) ASC, id ASC
               ) AS rn
        FROM t
    ),
    cand AS (
        SELECT LEAST(a.id, b.id) AS id_a,
               GREATEST(a.id, b.id) AS id_b,
               CAST(b.rn - a.rn AS BIGINT) AS rank_gap
        FROM r a JOIN r b
          ON b.rn > a.rn AND b.rn - a.rn <= {_SNM_WINDOW}
    ),
    tri AS (
        SELECT DISTINCT a.id,
               a.tok || ' ' || b.tok || ' ' || c.tok AS sh
        FROM (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) a
        JOIN (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) b ON a.id = b.id AND b.ord = a.ord + 1
        JOIN (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) c ON a.id = c.id AND c.ord = a.ord + 2
    ),
    sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY 1),
    common AS (
        SELECT cd.id_a, cd.id_b, cd.rank_gap,
               CAST(COUNT(x.sh) AS BIGINT) AS n_common
        FROM cand cd
        LEFT JOIN tri x ON x.id = cd.id_a
        LEFT JOIN tri y ON y.id = cd.id_b AND y.sh = x.sh
        WHERE y.sh IS NOT NULL OR x.sh IS NULL
        GROUP BY 1, 2, 3
    )
    SELECT c.id_a, c.id_b, c.rank_gap, c.n_common,
           c.n_common * 1.0 / (sa.n + sb.n - c.n_common) AS jaccard
    FROM common c
    JOIN sz sa ON c.id_a = sa.id
    JOIN sz sb ON c.id_b = sb.id
    WHERE c.n_common * 2 >= (sa.n + sb.n - c.n_common)
"""



_SNM_SUFFIX_KEY_SPARK = (
    "lower(array_join(slice(_toks, greatest(1, size(_toks) - "
    f"{_SNM_KEY_TOKENS - 1}), {_SNM_KEY_TOKENS}), ' '))"
)


def q_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood — the standard recall mitigation
    for SNM's window miss: pass 1 sorts by the first-3-token key, pass 2
    by the LAST-3-token key, and a pair missed in one order meets in the
    other. Per surviving pair: the tightest rank gap across passes and
    how many passes found it. Each pass is the proven O(n·window)
    shape; the union adds no pair-space term."""
    docs = load_table(spark, sf_dir, "documents")
    p1 = dd.sorted_neighborhood_pairs(
        docs, window=_SNM_WINDOW, key_tokens=_SNM_KEY_TOKENS
    )
    p2 = dd.sorted_neighborhood_pairs(
        docs, window=_SNM_WINDOW, key_sql=_SNM_SUFFIX_KEY_SPARK
    )
    return (
        p1.unionByName(p2)
        .groupBy("id_a", "id_b", "n_common", "jaccard")
        .agg(
            F.min("rank_gap").cast("long").alias("min_gap"),
            F.count(F.lit(1)).cast("long").alias("n_passes"),
        )
    )


def _snm_pass_sql(key_sql: str, tag: str) -> str:
    return f"""
    r{tag} AS (
        SELECT id,
               ROW_NUMBER() OVER (ORDER BY {key_sql} ASC, id ASC) AS rn
        FROM t
    ),
    cand{tag} AS (
        SELECT LEAST(a.id, b.id) AS id_a,
               GREATEST(a.id, b.id) AS id_b,
               CAST(b.rn - a.rn AS BIGINT) AS rank_gap
        FROM r{tag} a JOIN r{tag} b
          ON b.rn > a.rn AND b.rn - a.rn <= {_SNM_WINDOW}
    )"""


ORACLES["q_snm_multipass"] = f"""
    WITH t AS (
        SELECT doc_id AS id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    {_snm_pass_sql(
        f"lower(array_to_string(toks[1:{_SNM_KEY_TOKENS}], ' '))", "1")},
    {_snm_pass_sql(
        f"lower(array_to_string(toks[greatest(1, len(toks) - "
        f"{_SNM_KEY_TOKENS - 1}):len(toks)], ' '))", "2")},
    cand AS (
        SELECT * FROM cand1 UNION ALL SELECT * FROM cand2
    ),
    tri AS (
        SELECT DISTINCT a.id,
               a.tok || ' ' || b.tok || ' ' || c.tok AS sh
        FROM (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) a
        JOIN (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) b ON a.id = b.id AND b.ord = a.ord + 1
        JOIN (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) c ON a.id = c.id AND c.ord = a.ord + 2
    ),
    sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY 1),
    common AS (
        SELECT cd.id_a, cd.id_b, cd.rank_gap,
               CAST(COUNT(x.sh) AS BIGINT) AS n_common
        FROM cand cd
        LEFT JOIN tri x ON x.id = cd.id_a
        LEFT JOIN tri y ON y.id = cd.id_b AND y.sh = x.sh
        WHERE y.sh IS NOT NULL OR x.sh IS NULL
        GROUP BY 1, 2, 3
    ),
    pairs AS (
        SELECT c.id_a, c.id_b, c.rank_gap, c.n_common,
               c.n_common * 1.0 / (sa.n + sb.n - c.n_common) AS jaccard
        FROM common c
        JOIN sz sa ON c.id_a = sa.id
        JOIN sz sb ON c.id_b = sb.id
        WHERE c.n_common * 2 >= (sa.n + sb.n - c.n_common)
    )
    SELECT id_a, id_b, n_common, jaccard,
           CAST(MIN(rank_gap) AS BIGINT) AS min_gap,
           CAST(COUNT(*) AS BIGINT) AS n_passes
    FROM pairs
    GROUP BY 1, 2, 3, 4
"""


def q_snm_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocker-recall scorecard for sorted-neighborhood dedup, in the
    correctness gate (the q_dedup_eval pattern): pair counts of the
    single-pass and multi-pass SNM vs the EXHAUSTIVE inverted-index
    join at the same threshold, plus pinned-order recall divisions.
    SNM pairs are post-verification, so precision is 1 by construction
    — the number that moves is recall, and the oracle replays all
    three pair sets, so a window/key regression fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    true_pairs = dd.jaccard_pairs(
        dd.shingles(docs, n=3), threshold=_JACCARD_T
    ).select("id_a", "id_b")
    # persisted (r13): p1 feeds BOTH its own count and the multi-pass
    # union — un-persisted the whole pass-1 SNM pipeline ran twice
    p1 = (
        dd.sorted_neighborhood_pairs(
            docs, window=_SNM_WINDOW, key_tokens=_SNM_KEY_TOKENS
        )
        .select("id_a", "id_b")
        .persist()
    )
    p2 = dd.sorted_neighborhood_pairs(
        docs, window=_SNM_WINDOW, key_sql=_SNM_SUFFIX_KEY_SPARK
    ).select("id_a", "id_b")
    multi = p1.union(p2).distinct()
    try:
        n_true = true_pairs.count()
        n_p1 = p1.count()
        n_multi = multi.count()
    finally:
        p1.unpersist()  # this build's own frame only (see q_dedup_eval)
    out = local_frame(
        spark, [(n_true, n_p1, n_multi)],
        "n_true long, n_pass1 long, n_multipass long",
    )
    return out.select(
        "n_true",
        "n_pass1",
        "n_multipass",
        (F.col("n_pass1").cast("double") / F.col("n_true").cast("double")).alias(
            "recall_pass1"
        ),
        (
            F.col("n_multipass").cast("double") / F.col("n_true").cast("double")
        ).alias("recall_multipass"),
    )


def _snm_eval_sql() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id AS id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    {_snm_pass_sql(
        f"lower(array_to_string(toks[1:{_SNM_KEY_TOKENS}], ' '))", "1")},
    {_snm_pass_sql(
        f"lower(array_to_string(toks[greatest(1, len(toks) - "
        f"{_SNM_KEY_TOKENS - 1}):len(toks)], ' '))", "2")},
    tri AS (
        SELECT DISTINCT a.id,
               a.tok || ' ' || b.tok || ' ' || c.tok AS sh
        FROM (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) a
        JOIN (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) b ON a.id = b.id AND b.ord = a.ord + 1
        JOIN (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM t
        ) c ON a.id = c.id AND c.ord = a.ord + 2
    ),
    sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY 1),
    true_pairs AS (
        SELECT c.id_a, c.id_b FROM (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
            FROM tri a JOIN tri b ON a.sh = b.sh AND a.id < b.id
            GROUP BY 1, 2
        ) c
        JOIN sz sa ON c.id_a = sa.id
        JOIN sz sb ON c.id_b = sb.id
        WHERE c.n_common * 2 >= (sa.n + sb.n - c.n_common)
    ),
    verify AS (
        SELECT cd.src, cd.id_a, cd.id_b FROM (
            SELECT 1 AS src, id_a, id_b FROM cand1
            UNION
            SELECT 2 AS src, id_a, id_b FROM cand2
        ) cd
        JOIN true_pairs tp
          ON tp.id_a = cd.id_a AND tp.id_b = cd.id_b
    ),
    counts AS (
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM true_pairs) AS n_true,
            (SELECT CAST(COUNT(DISTINCT (id_a, id_b)) AS BIGINT)
             FROM verify WHERE src = 1) AS n_pass1,
            (SELECT CAST(COUNT(DISTINCT (id_a, id_b)) AS BIGINT)
             FROM verify) AS n_multipass
    )
    SELECT n_true, n_pass1, n_multipass,
           CAST(n_pass1 AS DOUBLE) / CAST(n_true AS DOUBLE)
               AS recall_pass1,
           CAST(n_multipass AS DOUBLE) / CAST(n_true AS DOUBLE)
               AS recall_multipass
    FROM counts
"""


ORACLES["q_snm_recall_eval"] = _snm_eval_sql()


# ---------------------------------------------------------------------------
# corpus-wide line dedup (r9) — the C4/RefinedWeb boilerplate-line
# removal. The fixture corpus is single-line, so each doc renders a
# deterministic multi-LINE page (the URL/HTML-seeding discipline):
# one global footer (every doc), one per-source subscribe banner, a
# cookie line on every 4th doc, and two content lines from the doc's
# own text — the first occurrence of each shared line must survive,
# every other copy must be stripped.

_LINE_PAGE_SPARK = """
    concat_ws(chr(10),
      '  all rights reserved example press ',
      concat('subscribe to ', source, ' newsletter'),
      substr(text, 1, 40),
      CASE WHEN doc_id % 4 = 0 THEN 'cookie consent required'
           ELSE substr(text, 41, 40) END,
      concat('article ', CAST(doc_id AS STRING)))
"""

_LINE_PAGE_DUCK = """
    concat_ws(chr(10),
      '  all rights reserved example press ',
      concat('subscribe to ', source, ' newsletter'),
      substr(text, 1, 40),
      CASE WHEN doc_id % 4 = 0 THEN 'cookie consent required'
           ELSE substr(text, 41, 40) END,
      concat('article ', CAST(doc_id AS VARCHAR)))
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line deduplication (`operators/dedup.line_dedup`)
    — the cleaning step between document dedup and quality scoring:
    repeated boilerplate lines (footers, banners, cookie notices)
    stripped corpus-wide, keeping only the FIRST occurrence (lowest
    doc_id, then line position); documents reassembled from surviving
    lines with per-doc retention stats. Two shuffles: the
    first-occurrence rank over line digests and the per-doc reassembly
    aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_LINE_PAGE_SPARK).alias("text")
    )
    out = dd.line_dedup(docs)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").cast("long").alias("clean_len"),
        "n_lines",
        "n_kept",
    )


ORACLES["q_line_dedup"] = f"""
    WITH pages AS (
        SELECT doc_id, {_LINE_PAGE_DUCK} AS text FROM documents
    ),
    lines_ AS (
        SELECT doc_id, line_no, line FROM (
            SELECT doc_id,
                   generate_subscripts(ls, 1) - 1 AS line_no,
                   trim(unnest(ls)) AS line
            FROM (
                SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM pages
            )
        ) WHERE line <> ''
    ),
    ranked AS (
        SELECT doc_id, line_no, line,
               row_number() OVER (PARTITION BY md5(line)
                                  ORDER BY doc_id, line_no) AS rk
        FROM lines_
    )
    SELECT doc_id,
           md5(coalesce(string_agg(CASE WHEN rk = 1 THEN line END,
                                   chr(10) ORDER BY line_no), ''))
               AS clean_md5,
           CAST(length(coalesce(string_agg(
                CASE WHEN rk = 1 THEN line END,
                chr(10) ORDER BY line_no), '')) AS BIGINT) AS clean_len,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM ranked GROUP BY doc_id
"""
