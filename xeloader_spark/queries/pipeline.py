"""The flagship composed LLM-data pipeline: one declarative DataFrame
program chaining four operator families —

    quality filter → near-dup cluster resolution (keep canonical)
                   → deterministic train/test split → corpus accounting

Every stage is individually oracle-checked elsewhere; this query checks
the COMPOSITION end-to-end (the oracle replays the full chain in DuckDB,
recursive component closure included). Execution shape at scale: the
quality filter and split are narrow (no shuffle), dedup shuffles on
shingle then pair keys, the cluster labels broadcast back, and the final
rollup is a two-key aggregate — the corpus itself crosses the wire once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as dd
from ..operators import sampling as sp
from ..operators import text as tx
from ..plans.truncate import registered_persist
from .dedup import _JACCARD_T, clusters_sql, jaccard_pairs_sql
from .sampling import _B, _bucket_sql
from .text import _TOKS_LIST


def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning end-to-end, reported as per-(source, split) doc and
    token counts of the kept canonical documents."""
    docs = load_table(spark, sf_dir, "documents")
    # the filtered frame feeds both the shingle pipeline and the resolve
    # join — persisted (into the plans.truncate registry, so callers'
    # release_persisted() frees it) to run the quality stats once
    kept = registered_persist(
        tx.quality_flag(tx.text_stats(docs))
        .filter(F.col("quality_ok"))
        .select("doc_id", "source", "n_tokens", "text")
    )
    pairs = dd.jaccard_pairs(dd.shingles(kept, n=3), threshold=_JACCARD_T)
    canonical = dd.resolve_duplicates(kept.drop("text"), pairs).filter(
        F.col("is_canonical")
    )
    split = sp.split_train_test(canonical, "doc_id", test_fraction=0.10)
    return split.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
    )


_REP_T = 0.2
_PROB_T = 0.0002


def q_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality SCORECARD: every filter signal family joined
    into one decision frame — Gopher rules, intra-doc repetition,
    corpus-unigram probability, language ID — plus the combined `keep`
    verdict (gopher ∧ rep_ratio ≤ 0.2 ∧ mean_tok_prob > 2e-4 ∧ lang
    identified). This is the frame a curation run materializes once and
    slices many times; all four signal joins are on doc_id, so AQE plans
    them as one co-partitioned join tree (the narrow signals are computed
    in the same scan where possible). Oracle composes the four
    already-proven signal oracles verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    gopher = tx.gopher_quality(docs).select(
        "doc_id", "n_words", "gopher_keep"
    )
    rep = tx.repetition_stats(docs, n=3).select("doc_id", "rep_ratio")
    uni = tx.unigram_doc_score(docs).select("doc_id", "mean_tok_prob")
    lang = tx.lang_id(docs).select("doc_id", "lang_guess")
    return (
        gopher.join(rep, "doc_id")
        .join(uni, "doc_id")
        .join(lang, "doc_id")
        .withColumn(
            "keep",
            F.col("gopher_keep")
            & (F.col("rep_ratio") <= _REP_T)
            & (F.col("mean_tok_prob") > _PROB_T)
            & (F.col("lang_guess") != "und"),
        )
    )


_QDOCS = f"""
    SELECT doc_id, source, text,
           CAST(len({_TOKS_LIST}) AS BIGINT) AS n_tokens
    FROM documents
    WHERE CAST(len({_TOKS_LIST}) AS BIGINT) >= 10
      AND (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
          * 1.0 / length(text) <= 0.3
"""

from .text import ORACLES as _TEXT_ORACLES

ORACLES: dict[str, str] = {
    "q_quality_scorecard": f"""
        SELECT g.doc_id, g.n_words, g.gopher_keep,
               r.rep_ratio, u.mean_tok_prob, l.lang_guess,
               (g.gopher_keep AND r.rep_ratio <= {_REP_T}
                AND u.mean_tok_prob > {_PROB_T}
                AND l.lang_guess <> 'und') AS keep
        FROM ({_TEXT_ORACLES['q_gopher_quality']}) g
        JOIN ({_TEXT_ORACLES['q_repetition_stats']}) r ON g.doc_id = r.doc_id
        JOIN ({_TEXT_ORACLES['q_unigram_doc_prob']}) u ON g.doc_id = u.doc_id
        JOIN ({_TEXT_ORACLES['q_lang_id']}) l ON g.doc_id = l.doc_id
    """,
    "q_corpus_clean_pipeline": f"""
        WITH RECURSIVE qdocs AS ({_QDOCS}),
        pairs AS ({jaccard_pairs_sql('qdocs')}),
        {clusters_sql('pairs', 'qdocs')},
        canon AS (
            SELECT q.source, q.doc_id, q.n_tokens
            FROM resolved r JOIN qdocs q ON r.doc_id = q.doc_id
            WHERE r.is_canonical
        )
        SELECT source,
               CASE WHEN {_bucket_sql('doc_id', 'split')} < {int(0.10 * _B)}
                    THEN 'test' ELSE 'train' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
        FROM canon GROUP BY 1, 2
    """,
}


_BP_LEN = 8
_BP_MIN_DF = 3
_SEQ_LEN = 256


def q_training_data_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 composed build: seeded boilerplate headers/footers are
    DETECTED (df windows) and STRIPPED, exact dedup runs on the cleaned
    text (so header variants of the same body collapse — the reason
    boilerplate removal precedes dedup in real pipelines), and the
    per-source funnel is reported: input docs, boiler-stripped docs,
    kept-after-dedup docs, kept tokens, and padded `_SEQ_LEN`-token
    sequence counts. Every stage is an already-proven operator family;
    this query exact-checks their COMPOSITION (strip → digest → keeper →
    accounting all replay in SQL).

    Scale shape: two digest windows + one md5 keeper window + a final
    two-key aggregate; the corpus text crosses the wire once (as its
    md5 for the keeper stage), prefix/suffix digests and counts are
    ~32-byte rows throughout."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("edition "),
                (F.col("doc_id") % 2).cast("string"),
                F.lit(" subscribe to our newsletter follow us on "),
                F.col("text"),
                F.lit(" all rights reserved copyright "),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(" terms apply contact us"),
            ),
        ).otherwise(F.col("text")),
    )
    base = seeded.select(
        "doc_id",
        "source",
        F.expr(tx._tok_array("text")).alias("tk"),
    ).select(
        "doc_id",
        "source",
        "tk",
        F.md5(F.expr(f"array_join(slice(tk, 1, {_BP_LEN}), ' ')")).alias(
            "pd"
        ),
        F.md5(
            F.expr(
                f"array_join(slice(tk, greatest(1, size(tk) - {_BP_LEN - 1}),"
                f" {_BP_LEN}), ' ')"
            )
        ).alias("sd"),
    )
    pw, sw = Window.partitionBy("pd"), Window.partitionBy("sd")
    flagged = base.select(
        "doc_id",
        "source",
        "tk",
        (F.count(F.lit(1)).over(pw) >= _BP_MIN_DF).alias("bp"),
        (F.count(F.lit(1)).over(sw) >= _BP_MIN_DF).alias("bs"),
    )
    stripped = flagged.select(
        "doc_id",
        "source",
        "bp",
        "bs",
        F.expr(
            f"array_join(slice(tk, "
            f"1 + (CASE WHEN bp THEN {_BP_LEN} ELSE 0 END), "
            f"greatest(0, size(tk) - (CASE WHEN bp THEN {_BP_LEN} ELSE 0 END)"
            f" - (CASE WHEN bs THEN {_BP_LEN} ELSE 0 END))), ' ')"
        ).alias("clean"),
    ).withColumn(
        "n_tokens",
        F.expr(f"CAST(size({tx._tok_array('clean')}) AS BIGINT)"),
    )
    kw = Window.partitionBy(F.md5("clean")).orderBy("doc_id")
    keeper = stripped.withColumn("rn", F.row_number().over(kw))
    return keeper.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("bp") | F.col("bs"), 1).otherwise(0))
        .cast("long")
        .alias("n_stripped"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
        F.sum(
            F.when(
                F.col("rn") == 1,
                F.expr(f"CAST((n_tokens + {_SEQ_LEN - 1}) DIV {_SEQ_LEN} AS BIGINT)"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_padded_seqs"),
    )


ORACLES["q_training_data_build"] = f"""
    WITH seeded AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 5 = 2
                    THEN 'edition ' || CAST(doc_id % 2 AS VARCHAR)
                         || ' subscribe to our newsletter follow us on '
                         || text
                         || ' all rights reserved copyright '
                         || CAST(doc_id % 3 AS VARCHAR)
                         || ' terms apply contact us'
                    ELSE text END AS text
        FROM documents
    ),
    base AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x != '') AS tk
        FROM seeded
    ),
    dig AS (
        SELECT doc_id, source, tk,
               md5(array_to_string(tk[1:{_BP_LEN}], ' ')) AS pd,
               md5(array_to_string(
                   tk[greatest(1, len(tk) - {_BP_LEN - 1}):], ' ')) AS sd
        FROM base
    ),
    flg AS (
        SELECT doc_id, source, tk,
               COUNT(*) OVER (PARTITION BY pd) >= {_BP_MIN_DF} AS bp,
               COUNT(*) OVER (PARTITION BY sd) >= {_BP_MIN_DF} AS bs
        FROM dig
    ),
    stripped AS (
        SELECT doc_id, source, bp, bs,
               array_to_string(
                   tk[1 + (CASE WHEN bp THEN {_BP_LEN} ELSE 0 END) :
                      (CASE WHEN bp THEN {_BP_LEN} ELSE 0 END)
                      + greatest(0, len(tk)
                          - (CASE WHEN bp THEN {_BP_LEN} ELSE 0 END)
                          - (CASE WHEN bs THEN {_BP_LEN} ELSE 0 END))],
                   ' ') AS clean
        FROM flg
    ),
    toked AS (
        SELECT *,
               CAST(len(list_filter(regexp_split_to_array(clean, '\\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM stripped
    ),
    keeper AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(clean)
                                     ORDER BY doc_id) AS rn
        FROM toked
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN bp OR bs THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stripped,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           CAST(SUM(CASE WHEN rn = 1
                         THEN (n_tokens + {_SEQ_LEN - 1}) // {_SEQ_LEN}
                         ELSE 0 END) AS BIGINT) AS n_padded_seqs
    FROM keeper
    GROUP BY 1
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(lang, source) dataset datasheet — the release artifact a
    training corpus ships with (datasheet/data-card practice: per-slice
    volume, duplication, quality, length distribution): doc and token
    counts, exact-duplicate doc count (md5 groups >1 corpus-wide),
    mean Simpson repeat ppm (integer sum, ONE division), and the exact
    lower-median token count. Every stat is a composition of
    individually oracle-checked signals; this query checks the rollup.

    Scale shape: ONE corpus projection computes tokens + repeat ppm +
    text digest per row (zero shuffle, sorted run-length pass); dup
    flags come from a digest-keyed window (16-byte keys move, never
    text); the median is a rank window per (lang, source); the final
    rollup is a two-key aggregate. The corpus crosses the wire once as
    digests + slim stats."""
    from pyspark.sql import Window

    from ..operators.text import _tok_array, simpson_stats_sql

    docs = load_table(spark, sf_dir, "documents")
    toks = _tok_array("text")
    n = "CAST(size(_toks) AS BIGINT)"
    num = f"{simpson_stats_sql('_toks')}.num"
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("_digest"),
        F.expr(toks).alias("_toks"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "_digest",
        F.expr(n).alias("n_tokens"),
        F.expr(
            f"CASE WHEN {n} < 2 THEN 0L"
            f" ELSE ({num} * 1000000) DIV ({n} * ({n} - 1)) END"
        ).alias("rp_ppm"),
    )
    flagged = base.withColumn(
        "_dup",
        (
            F.count(F.lit(1)).over(Window.partitionBy("_digest")) > 1
        ).cast("int"),
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("lang", "source").orderBy(
                "n_tokens", "doc_id"
            )
        ),
    ).withColumn(
        "_n_grp",
        F.count(F.lit(1)).over(Window.partitionBy("lang", "source")),
    )
    return (
        flagged.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("_dup").cast("long").alias("n_exact_dup_docs"),
            F.sum("rp_ppm").cast("long").alias("_rp_sum"),
            F.max(
                F.when(
                    F.col("_rk") == F.expr("(_n_grp + 1) DIV 2"),
                    F.col("n_tokens"),
                )
            )
            .cast("long")
            .alias("median_tokens"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "n_exact_dup_docs",
            F.expr(
                "CASE WHEN n_docs = 0 THEN CAST(0.0 AS DOUBLE)"
                " ELSE CAST(_rp_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) END"
            ).alias("mean_repeat_ppm"),
            "median_tokens",
        )
    )


ORACLES["q_dataset_card"] = """
    WITH t AS (
        SELECT doc_id, lang, source, md5(text) AS digest,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
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
        SELECT t.doc_id, t.lang, t.source, t.digest,
               COALESCE(s.n, 0) AS n_tokens,
               CASE WHEN COALESCE(s.n, 0) < 2 THEN 0
                    ELSE (s.num * 1000000) // (s.n * (s.n - 1))
               END AS rp_ppm
        FROM t LEFT JOIN stats s USING (doc_id)
    ),
    flagged AS (
        SELECT *,
               CASE WHEN COUNT(*) OVER (PARTITION BY digest) > 1
                    THEN 1 ELSE 0 END AS dup,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY n_tokens, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY lang, source) AS n_grp
        FROM scored
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(dup) AS BIGINT) AS n_exact_dup_docs,
           CASE WHEN COUNT(*) = 0 THEN 0.0
                ELSE CAST(SUM(rp_ppm) AS DOUBLE) / COUNT(*) END
               AS mean_repeat_ppm,
           CAST(MAX(CASE WHEN rk = (n_grp + 1) // 2
                         THEN n_tokens END) AS BIGINT) AS median_tokens
    FROM flagged
    GROUP BY 1, 2
"""
