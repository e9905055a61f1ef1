"""Deterministic sampling / splitting as oracle-checked queries.

The operators (operators/sampling.py) are hash-gated filters, so the
oracle replays the identical md5-bucket arithmetic in DuckDB and the
selected row SETS match exactly — reproducible sampling is the whole
point of hash-gating, and the oracle check proves it cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..plans.truncate import registered_local_checkpoint

from ..catalog import load_table
from ..operators import sampling as sp
from ..operators.text import _tok_array

# whitespace token count of a document, the length every packing and
# budget query works in
_N_TOKENS = f"CAST(size({_tok_array('text')}) AS BIGINT)"

_STRATA = {"src0": 0.8, "src1": 0.5, "src2": 0.25}
_DEFAULT_FRAC = 0.05


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% Bernoulli sample of documents, hash-gated on doc_id — the same
    rows come back on every run, engine, and partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    return sp.bernoulli_sample(docs, "doc_id", 0.10).select(
        "doc_id", "source", "n_chars"
    )


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test assignment keyed on doc_id,
    summarized per (source, split) — leakage-free by construction (a key
    hashes to exactly one side)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        sp.split_train_test(docs, "doc_id", test_fraction=0.10)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix sampling: per-source keep rates (80% src0, 50% src1,
    25% src2, 5% everything else), hash-gated per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return sp.stratified_sample(
        docs, "source", "doc_id", _STRATA, default_fraction=_DEFAULT_FRAC
    ).select("doc_id", "source")


_NEG_OFFSETS = (17, 131, 997)
_NEG_SHARDS = 16


def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each doc
    gets 3 pseudo-random negatives by walking a hash-ordered ring —
    within a hash SHARD, docs are ranked by md5(id) and the negatives sit
    at fixed co-prime offsets around the ring (mod shard size). No RNG
    (hash order IS the randomness, reproducible across engines and
    re-runs) and no global sort: the ranking window runs per shard, so at
    100 TB every shard ranks independently — the in-batch-negatives
    shape. Self-pairs (shards smaller than the offset cycle) are
    filtered. One window shuffle + one (shard, rank) self-join."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        sp.hash_bucket("doc_id", "negshard", _NEG_SHARDS).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    )
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    ranked = ranked.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("shard")).alias("sn"),
    )
    anchors = ranked.select(
        F.col("doc_id").alias("anchor_id"),
        "shard",
        F.explode(F.array(*[F.lit(o) for o in _NEG_OFFSETS])).alias("off"),
        "rk",
        "sn",
    ).withColumn("neg_rk", (F.col("rk") + F.col("off")) % F.col("sn"))
    negs = ranked.select(
        F.col("doc_id").alias("negative_id"),
        F.col("shard").alias("n_shard"),
        F.col("rk").alias("n_rk"),
    )
    return (
        anchors.join(
            negs,
            (anchors.shard == negs.n_shard) & (anchors.neg_rk == negs.n_rk),
        )
        .filter(F.col("anchor_id") != F.col("negative_id"))
        .select("anchor_id", "negative_id", F.col("off").cast("long").alias("off"))
    )


_N_SHARDS = 8
_SHARD_BUCKET_W = 64


_W_CAP_TOKENS = 60.0


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sampling: keep probability
    min(1, n_tokens/60) per document — the quality-weighted thinning
    step, hash-gated so the kept SET is engine/re-run stable. Output is
    the kept docs with their weights (the whole gate is in the result,
    so the oracle checks weights AND selection)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(_N_TOKENS).alias("n_tokens"),
    ).withColumn(
        "weight", F.least(F.lit(1.0), F.col("n_tokens") / F.lit(_W_CAP_TOKENS))
    )
    return sp.weighted_sample(toks, "doc_id", "weight")


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced corpus sharding: every document dealt to one of 8 output
    shards by the parallel bucket-serpentine rule, summarized as
    per-shard (n_docs, shard_tokens) — the near-equal totals a training
    data-loader wants per worker. Assignment is window arithmetic over
    length buckets (no global sort), so the oracle replays it exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr(_N_TOKENS).alias("n_tokens"),
    )
    return (
        sp.shard_by_tokens(
            toks, _N_SHARDS, "n_tokens", bucket_width=_SHARD_BUCKET_W
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: docs laid end-to-end per source in
    doc_id order, cut into 512-token sequences — each doc labeled with
    its packed sequence id and offset (integer window arithmetic,
    engine-exact)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(_N_TOKENS).alias("n_tokens"),
    )
    return sp.pack_sequences(
        toks, "n_tokens", budget=512, part_col="source", order_col="doc_id"
    )


_CAP = 10
_TOTAL_BUDGET = 10_000


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: at most 10 docs survive per source, priority =
    deterministic doc_id hash — no site dominates the training mix, and a
    re-run keeps the identical subset. Slim (doc_id, source) projection;
    one shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sp.per_group_cap(docs, cap=_CAP, part_col="source", key_col="doc_id")


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling under a global token budget: per-(lang, source)
    temperature weights (w ∝ sqrt(tokens), the q_mix_weights recipe)
    allocate integer token budgets out of a 10k total, then each group
    greedily takes docs in hash order until its budget is spent. The
    group-budget dim is tiny → broadcast back onto the corpus; the only
    corpus shuffle is the per-group selection window. End-to-end
    engine-exact: integer token counts, decimal weight accumulator,
    IEEE double division, floor to integer budgets."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(_N_TOKENS).alias("n_tokens"),
    )
    grp = (
        toks.groupBy("lang", "source")
        .agg(F.sum("n_tokens").alias("_gt"))
        .withColumn("_w", F.sqrt(F.col("_gt")).cast("decimal(25,6)"))
    )
    total = grp.agg(F.sum("_w").cast("decimal(25,6)").alias("_tw"))
    budgets = grp.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        F.floor(
            F.col("_w").cast("double")
            / F.col("_tw").cast("double")
            * _TOTAL_BUDGET
        )
        .cast("bigint")
        .alias("budget"),
    )
    joined = toks.join(F.broadcast(budgets), ["lang", "source"])
    return sp.token_budget_take(
        joined, "n_tokens", "budget", part_col=["lang", "source"]
    ).select(
        "doc_id", "lang", "source", "n_tokens", "budget", "cum_before", "kept"
    )


_BUCKET_W = 8
_BATCH_SZ = 16


def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-minimizing batch assembly: docs fall into 8-token-wide
    length buckets, each bucket is cut into 16-doc batches in (tokens,
    doc_id) order, and every batch reports its pad length and padding
    waste — integer window arithmetic end-to-end, engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr(_N_TOKENS).alias("n_tokens"),
    )
    return sp.length_bucket_batches(
        toks, "n_tokens", "doc_id", bucket_width=_BUCKET_W, batch_size=_BATCH_SZ
    )


# ---------------------------------------------------------------- oracles

_B = sp.BUCKETS


def _bucket_sql(key: str, salt: str = "") -> str:
    return (
        f"(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_B})"
    )


_STRATA_CASE = (
    "CASE "
    + " ".join(
        f"WHEN source = '{v}' THEN {int(f * _B)}"
        for v, f in sorted(_STRATA.items())
    )
    + f" ELSE {int(_DEFAULT_FRAC * _B)} END"
)

_QN_SCALE = 1_000_000  # Simpson repeat probability as parts-per-million
_QN_PCT = 10_000  # percentile resolution (basis points)


def quantile_normalize_docs(docs: DataFrame) -> DataFrame:
    """Frame-in/frame-out core of `q_quantile_normalize_scores` —
    shared with `tools/scale_stress.py` so the replication stress
    measures exactly the production pipeline."""
    from ..operators.rank import global_row_number
    from ..operators.text import simpson_stats_sql
    from pyspark.sql import Window

    toks = _tok_array("text")
    n = "CAST(size(_toks) AS BIGINT)"
    # sorted run-length pass (O(n log n)/row), not the quadratic
    # distinct×filter HOF — see operators/text.simpson_stats_sql
    num = f"{simpson_stats_sql('_toks')}.num"
    # checkpoint ONCE: three consumers (per-source ranking, the global
    # reference rank, the 1-row N aggregate) would each replay the
    # corpus scan + tokenize + run-length scoring projection otherwise
    # — the r5 reused-frames rule (the per-row cost is O(n log n) since
    # the r7 simpson_stats_sql linearization; the 3x corpus rescan is
    # what the checkpoint still buys); the materialized frame is the
    # slim (id, source, score) triple, not the text
    base = (
        docs.select("doc_id", "source", F.expr(toks).alias("_toks"))
        .select(
            "doc_id",
            "source",
            F.expr(
                f"CASE WHEN {n} < 2 THEN 0L"
                f" ELSE ({num} * {_QN_SCALE}) DIV ({n} * ({n} - 1)) END"
            ).alias("rp_ppm"),
        )
        .transform(registered_local_checkpoint)
    )
    w_src = Window.partitionBy("source").orderBy("rp_ppm", "doc_id")
    ranked = base.withColumn(
        "src_rank", F.row_number().over(w_src).cast("long")
    ).withColumn(
        "n_src", F.count(F.lit(1)).over(Window.partitionBy("source")).cast("long")
    )
    pct = ranked.withColumn(
        "pctile",
        F.expr(
            f"CASE WHEN n_src < 2 THEN 0L"
            f" ELSE ((src_rank - 1) * {_QN_PCT}) DIV (n_src - 1) END"
        ),
    )
    glob = global_row_number(
        base.select(F.col("rp_ppm").alias("g_ppm"), F.col("doc_id").alias("g_id")),
        order_by=["g_ppm", "g_id"],
        out_col="g_rank",
    ).select("g_rank", "g_ppm")
    n_total = base.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        pct.crossJoin(F.broadcast(n_total))
        .withColumn(
            "target_rank",
            F.expr(f"1 + (pctile * (n_total - 1)) DIV {_QN_PCT}"),
        )
        .join(glob, F.col("target_rank") == F.col("g_rank"))
        .select(
            "doc_id",
            "source",
            "rp_ppm",
            "pctile",
            F.col("g_ppm").alias("normalized_ppm"),
        )
    )


def q_quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a per-document quality
    score — the calibration step before a single global threshold is
    applied to scores whose distributions differ by source (classifier
    scores, perplexities, diversity indices all drift per corpus; rank
    within source is the comparable quantity). Score here is the
    integer Simpson repeat probability (ppm, the `q_token_diversity`
    arithmetic); per source each doc gets its basis-point percentile
    ((rank−1)·10⁴ DIV (n_src−1)), and the normalized value is the
    GLOBAL score at that percentile — the (1 + (pct·(N−1)) DIV 10⁴)-th
    global order statistic, fetched by an equi-join on rank, never a
    sort-merge lookup. Everything is integer ranks and DIVs, so the
    whole calibration hash-checks.

    Scale shape: one per-source window (slim (doc, source, score)
    projection), the distributed `global_row_number` range-rank for the
    reference distribution (no single-partition window — the suite gate
    forbids it), a 1-row N aggregate broadcast back, and one equi-join
    on target_rank. The corpus text never moves; only rank rows do.
    Body lives in `quantile_normalize_docs` (stress-shared)."""
    return quantile_normalize_docs(load_table(spark, sf_dir, "documents"))


ORACLES: dict[str, str] = {
    "q_quantile_normalize_scores": f"""
        WITH t AS (
            SELECT doc_id, unnest({{toks}}) AS tok FROM documents
        ),
        c AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM t GROUP BY 1, 2
        ),
        d AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * (c - 1)) AS BIGINT) AS num
            FROM c GROUP BY 1
        ),
        base AS (
            SELECT docs.doc_id, docs.source,
                   CASE WHEN COALESCE(d.n, 0) < 2 THEN CAST(0 AS BIGINT)
                        ELSE (d.num * {_QN_SCALE}) // (d.n * (d.n - 1))
                   END AS rp_ppm
            FROM documents docs LEFT JOIN d USING (doc_id)
        ),
        ranked AS (
            SELECT *,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY rp_ppm, doc_id
                   ) AS BIGINT) AS src_rank,
                   CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                       AS n_src
            FROM base
        ),
        pct AS (
            SELECT *,
                   CASE WHEN n_src < 2 THEN CAST(0 AS BIGINT)
                        ELSE ((src_rank - 1) * {_QN_PCT}) // (n_src - 1)
                   END AS pctile
            FROM ranked
        ),
        gref AS (
            SELECT rp_ppm AS g_ppm,
                   CAST(ROW_NUMBER() OVER (ORDER BY rp_ppm, doc_id)
                        AS BIGINT) AS g_rank
            FROM base
        ),
        n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM base)
        SELECT p.doc_id, p.source, p.rp_ppm, p.pctile,
               g.g_ppm AS normalized_ppm
        FROM pct p
        CROSS JOIN n_tot
        JOIN gref g
          ON g.g_rank = 1 + (p.pctile * (n_tot.n_total - 1)) // {_QN_PCT}
    """.replace(
        "{toks}", "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
    ),
    "q_sample_deterministic": f"""
        SELECT doc_id, source, n_chars FROM documents
        WHERE {_bucket_sql('doc_id')} < {int(0.10 * _B)}
    """,
    "q_train_test_split": f"""
        SELECT source,
               CASE WHEN {_bucket_sql('doc_id', 'split')} < {int(0.10 * _B)}
                    THEN 'test' ELSE 'train' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    """,
    "q_stratified_sample": f"""
        SELECT doc_id, source FROM documents
        WHERE {_bucket_sql('doc_id')} < {_STRATA_CASE}
    """,
    "q_contrastive_negatives": f"""
        WITH ranked AS (
            SELECT doc_id,
                   (('0x' || substr(md5('negshard' || CAST(doc_id AS VARCHAR)),
                     1, 8))::BIGINT % {_NEG_SHARDS}) AS shard,
                   md5(CAST(doc_id AS VARCHAR)) AS hk
            FROM documents
        ),
        rk AS (
            SELECT doc_id, shard,
                   ROW_NUMBER() OVER (PARTITION BY shard
                       ORDER BY hk, doc_id) - 1 AS rk,
                   COUNT(*) OVER (PARTITION BY shard) AS sn
            FROM ranked
        ),
        anchors AS (
            SELECT doc_id AS anchor_id, shard, off, (rk + off) % sn AS neg_rk
            FROM rk, (SELECT unnest([{", ".join(map(str, _NEG_OFFSETS))}]) AS off)
        )
        SELECT a.anchor_id, n.doc_id AS negative_id,
               CAST(a.off AS BIGINT) AS off
        FROM anchors a JOIN rk n
          ON a.shard = n.shard AND a.neg_rk = n.rk
        WHERE a.anchor_id <> n.doc_id
    """,
    "q_pack_sequences": """
        WITH t AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                        x -> x != '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT *,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM t
        )
        SELECT doc_id, source, n_tokens,
               cum_before // 512 AS seq_id,
               cum_before % 512 AS seq_offset
        FROM c
    """,
}

ORACLES["q_weighted_sample"] = f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    w AS (
        SELECT *, least(1.0, n_tokens / {_W_CAP_TOKENS}) AS weight FROM t
    )
    SELECT doc_id, source, n_tokens, weight
    FROM w
    WHERE {_bucket_sql('doc_id', 'wsample')} < weight * {_B}.0
"""

ORACLES["q_shard_balance"] = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    a AS (
        SELECT n_tokens,
               CAST((b + rn - 1) % {_N_SHARDS} AS INTEGER) AS shard
        FROM (
            SELECT doc_id, n_tokens,
                   n_tokens // {_SHARD_BUCKET_W} AS b,
                   ROW_NUMBER() OVER (
                       PARTITION BY n_tokens // {_SHARD_BUCKET_W}
                       ORDER BY n_tokens DESC, doc_id ASC
                   ) AS rn
            FROM t
        )
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM a GROUP BY shard
"""

ORACLES["q_source_cap"] = f"""
    WITH r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_bucket_sql('doc_id', 'cap')}, doc_id
               ) AS grp_rank
        FROM documents
    )
    SELECT doc_id, source, CAST(grp_rank AS BIGINT) AS grp_rank,
           grp_rank <= {_CAP} AS kept
    FROM r
"""

ORACLES["q_length_bucket_batches"] = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_tokens, n_tokens // {_BUCKET_W} AS bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY n_tokens // {_BUCKET_W}
                   ORDER BY n_tokens, doc_id
               ) AS rn
        FROM t
    ),
    a AS (
        SELECT bucket, (rn - 1) // {_BATCH_SZ} AS batch_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(n_tokens) AS BIGINT) AS pad_len,
               CAST(SUM(n_tokens) AS BIGINT) AS real_tokens
        FROM r GROUP BY 1, 2
    )
    SELECT bucket, batch_id, n_docs, pad_len, real_tokens,
           pad_len * n_docs AS padded_tokens,
           pad_len * n_docs - real_tokens AS waste
    FROM a
"""

ORACLES["q_token_budget_mix"] = f"""
    WITH t AS (
        SELECT doc_id, lang, source,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    g AS (
        SELECT lang, source,
               CAST(sqrt(CAST(SUM(n_tokens) AS BIGINT)) AS DECIMAL(25,6)) AS _w
        FROM t GROUP BY 1, 2
    ),
    b AS (
        SELECT lang, source,
               CAST(floor(CAST(_w AS DOUBLE) / CAST(SUM(_w) OVER () AS DOUBLE)
                          * {_TOTAL_BUDGET}) AS BIGINT) AS budget
        FROM g
    ),
    j AS (
        SELECT t.doc_id, t.lang, t.source, t.n_tokens, b.budget,
               CAST(COALESCE(SUM(t.n_tokens) OVER (
                   PARTITION BY t.lang, t.source
                   ORDER BY {_bucket_sql('t.doc_id', 'budget')}, t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM t JOIN b ON t.lang = b.lang AND t.source = b.source
    )
    SELECT doc_id, lang, source, n_tokens, budget, cum_before,
           cum_before < budget AS kept
    FROM j
"""


_PACK_B = 512


def q_packing_boundary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality audit per source shard: contiguous packing wastes
    no padding, so the cost that matters is BOUNDARY STRADDLING — a doc
    whose tokens cross a sequence cut loses context at training time.
    Per source: docs, tokens, sequences produced (⌈total/B⌉), straddler
    count (`offset + n_tokens > B`, pure integer), straddle rate and
    mean fill of the LAST (only partially filled) sequence. One shuffle
    (the packing window) + a source-sized re-aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(_N_TOKENS).alias("n_tokens"),
    )
    packed = sp.pack_sequences(
        toks, "n_tokens", budget=_PACK_B, part_col="source", order_col="doc_id"
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("seq_offset") + F.col("n_tokens") > _PACK_B, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_straddlers"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(f"CAST((n_tokens + {_PACK_B} - 1) div {_PACK_B} AS BIGINT)").alias(
                "n_sequences"
            ),
            "n_straddlers",
            (
                F.col("n_straddlers").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("straddle_rate"),
            (
                (F.col("n_tokens") % _PACK_B).cast("double") / F.lit(float(_PACK_B))
            ).alias("last_seq_fill"),
        )
    )


ORACLES["q_packing_boundary_stats"] = f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) % {_PACK_B} AS seq_offset
        FROM t
    ),
    g AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN seq_offset + n_tokens > {_PACK_B}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
        FROM c GROUP BY 1
    )
    SELECT source, n_docs, n_tokens,
           CAST((n_tokens + {_PACK_B} - 1) // {_PACK_B} AS BIGINT)
               AS n_sequences,
           n_straddlers,
           CAST(n_straddlers AS DOUBLE) / CAST(n_docs AS DOUBLE)
               AS straddle_rate,
           CAST(n_tokens % {_PACK_B} AS DOUBLE) / {float(_PACK_B)}
               AS last_seq_fill
    FROM g
"""


_CURR_PHASES = 4
_CURR_SCALE = 1_000_000


def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering (Bengio et al. 2009, the public recipe:
    train easy→hard): documents ranked by an integer easiness score —
    mean corpus-frequency of their tokens, common-vocabulary docs first
    — and split into 4 curriculum phases by global rank. Easiness is
    the `unigram_doc_score` integer evidence re-scaled to ppm with a
    pinned two-DIV order ((sum_freq DIV n_tokens)·10⁶ DIV total — exact
    both engines, headroom to ~10¹² corpus tokens); the phase boundary
    is ((rank−1)·4) DIV N, so phases differ in size by at most one doc.

    Scale shape: the unigram scorer's explode + freq join + doc agg,
    then the distributed `global_row_number` (range exchange — never a
    single-partition window) and a 1-row N broadcast. Rank rows are
    slim (doc_id, score); text never rides the rank shuffle."""
    from ..operators.rank import global_row_number
    from ..operators.text import unigram_doc_score

    docs = load_table(spark, sf_dir, "documents")
    toks = _tok_array("text")
    total = docs.agg(
        F.sum(F.expr(f"size({toks})")).cast("long").alias("_tot")
    )
    # LEFT-join back to the full doc set: unigram_doc_score is built
    # from an explode, so zero-token docs produce no row there — they
    # must still appear in the schedule (easiness 0, hardest phase),
    # and the phase denominator must be the FULL doc count, exactly as
    # the oracle computes it (code-review r7 finding #1).
    scored = (
        docs.select("doc_id")
        .join(
            unigram_doc_score(docs).select("doc_id", "n_tokens", "sum_freq"),
            "doc_id",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.expr(
                f"CASE WHEN coalesce(n_tokens, 0L) = 0 OR _tot = 0 THEN 0L"
                f" ELSE ((sum_freq DIV n_tokens) * {_CURR_SCALE}L) DIV _tot"
                " END"
            ).alias("easiness_ppm"),
        )
    )
    ranked = global_row_number(
        scored,
        order_by=[F.desc("easiness_ppm"), "doc_id"],
        out_col="rank",
    )
    n_total = docs.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "n_tokens",
            "easiness_ppm",
            F.col("rank").cast("long").alias("rank"),
            F.expr(
                f"CASE WHEN _n = 0 THEN 0L"
                f" ELSE ((rank - 1) * {_CURR_PHASES}) DIV _n END"
            ).alias("phase"),
        )
    )


ORACLES["q_curriculum_schedule"] = f"""
    WITH t AS (
        SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(text, '\\s+'), x -> x != '')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM t GROUP BY 1
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(freq.f) AS BIGINT) AS sum_freq
        FROM t JOIN freq USING (tok) GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS _tot FROM t),
    alldocs AS (
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               CASE WHEN COALESCE(p.n_tokens, 0) = 0 OR tot._tot = 0 THEN 0
                    ELSE ((p.sum_freq // p.n_tokens) * {_CURR_SCALE})
                         // tot._tot END AS easiness_ppm
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id) CROSS JOIN tot
    ),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   ORDER BY easiness_ppm DESC, doc_id) AS BIGINT) AS rank,
               CAST(COUNT(*) OVER () AS BIGINT) AS _n
        FROM alldocs
    )
    SELECT doc_id, n_tokens, easiness_ppm, rank,
           CASE WHEN _n = 0 THEN 0
                ELSE ((rank - 1) * {_CURR_PHASES}) // _n END AS phase
    FROM ranked
"""


_PREF_SCALE = 1_000_000


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training data:
    within each (lang, source) bucket — the comparable-context proxy —
    documents are ranked by an integer quality score (10⁶ − Simpson
    repeat ppm: less repetition = higher quality, doc_id tiebreak) and
    the i-th best is paired with the i-th worst (rank mirror), keeping
    pairs with a strictly positive quality gap. Yields
    (chosen, rejected) document pairs with the integer evidence — the
    deterministic analogue of reward-gap pair mining.

    Scale shape: zero-shuffle scoring projection, ONE (lang, source)
    rank window over the slim (id, bucket, score) frame — checkpointed
    ONCE for its two pair sides (r5 reused-frames rule) — and one
    equi-join on (bucket, mirrored rank). Never an all-pairs space:
    exactly ⌊n/2⌋ candidate pairs per bucket."""
    from pyspark.sql import Window

    from ..operators.text import simpson_stats_sql

    docs = load_table(spark, sf_dir, "documents")
    toks = _tok_array("text")
    n = "CAST(size(_toks) AS BIGINT)"
    num = f"{simpson_stats_sql('_toks')}.num"
    ranked = (
        docs.select(
            "doc_id", "lang", "source", F.expr(toks).alias("_toks")
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.expr(
                f"{_PREF_SCALE}L - (CASE WHEN {n} < 2 THEN 0L"
                f" ELSE ({num} * {_PREF_SCALE}) DIV ({n} * ({n} - 1)) END)"
            ).alias("q_ppm"),
        )
        .withColumn(
            "rk",
            F.row_number()
            .over(
                Window.partitionBy("lang", "source").orderBy(
                    F.desc("q_ppm"), "doc_id"
                )
            )
            .cast("long"),
        )
        .withColumn(
            "n_bucket",
            F.count(F.lit(1))
            .over(Window.partitionBy("lang", "source"))
            .cast("long"),
        )
        .transform(registered_local_checkpoint)
    )
    chosen = ranked.filter(
        F.col("rk") <= F.expr("n_bucket DIV 2")
    ).select(
        "lang",
        "source",
        F.col("rk").alias("pair_rank"),
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("q_ppm").alias("chosen_q_ppm"),
    )
    rejected = ranked.select(
        "lang",
        "source",
        (F.col("n_bucket") + 1 - F.col("rk")).alias("pair_rank"),
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("q_ppm").alias("rejected_q_ppm"),
    ).filter(F.col("pair_rank") <= F.expr("n_bucket DIV 2"))
    return (
        chosen.join(rejected, ["lang", "source", "pair_rank"])
        .filter(F.col("chosen_q_ppm") > F.col("rejected_q_ppm"))
        .select(
            "lang",
            "source",
            "pair_rank",
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_q_ppm",
            "rejected_q_ppm",
            (F.col("chosen_q_ppm") - F.col("rejected_q_ppm")).alias(
                "gap_ppm"
            ),
        )
    )


ORACLES["q_preference_pairs"] = f"""
    WITH t AS (
        SELECT doc_id, lang, source,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    tok AS (
        SELECT doc_id, unnest(toks) AS tk FROM t
    ),
    cnts AS (
        SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    stats AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * (c - 1)) AS BIGINT) AS num
        FROM cnts GROUP BY 1
    ),
    scored AS (
        SELECT t.doc_id, t.lang, t.source,
               {_PREF_SCALE} - (CASE WHEN COALESCE(s.n, 0) < 2 THEN 0
                    ELSE (s.num * {_PREF_SCALE}) // (s.n * (s.n - 1))
               END) AS q_ppm
        FROM t LEFT JOIN stats s USING (doc_id)
    ),
    ranked AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
                    ORDER BY q_ppm DESC, doc_id) AS BIGINT) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY lang, source)
                    AS BIGINT) AS n_bucket
        FROM scored
    )
    SELECT c.lang, c.source, c.rk AS pair_rank,
           c.doc_id AS chosen_doc_id,
           r.doc_id AS rejected_doc_id,
           c.q_ppm AS chosen_q_ppm,
           r.q_ppm AS rejected_q_ppm,
           c.q_ppm - r.q_ppm AS gap_ppm
    FROM ranked c
    JOIN ranked r
      ON r.lang = c.lang AND r.source = c.source
     AND r.rk = r.n_bucket + 1 - c.rk
    WHERE c.rk <= c.n_bucket // 2
      AND c.q_ppm > r.q_ppm
"""
