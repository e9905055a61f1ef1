"""Text-analysis operators as oracle-checked queries over `documents`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..plans.truncate import registered_local_checkpoint

from ..catalog import load_table
from ..operators import text as tx
from ..operators.kernels import local_frame
from ..operators.text import BPE_ISH_RE, LANG_MARKERS


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats + keep/drop flag (length, token count,
    punctuation/digit/stopword ratios)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.quality_flag(tx.text_stats(docs)).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "avg_token_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_ok",
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    docs = load_table(spark, sf_dir, "documents")
    stats = tx.text_stats(docs)
    return stats.select(
        "doc_id",
        F.col("n_tokens").alias("n_ws_tokens"),
        "n_bpe_tokens",
    )


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish pieces per whitespace
    word — the standard diagnostic for how expensive a tokenizer is on
    each language (fertility ≫ 1 = the vocab fragments that language;
    drives per-language token budgets in mixture planning). Integer
    sums + ONE pinned IEEE division per group; zero shuffle before the
    language-bounded aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    stats = tx.text_stats(docs)
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_pieces"),
    ).select(
        "lang",
        "n_docs",
        "n_words",
        "n_pieces",
        F.expr(
            "CASE WHEN n_words = 0 THEN CAST(0.0 AS DOUBLE)"
            " ELSE CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE) END"
        ).alias("fertility"),
    )


_WINNOW_K = 4
_WINNOW_W = 4


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (MOSS) over the corpus: per doc
    the distinct (position, hash) selections at k=4, w=4
    (`operators/text.winnowing_fingerprints`) — the partial-overlap
    detector: any shared run of ≥ w+k−1 tokens between two documents
    shares a fingerprint. All selection logic is array HOFs per row
    (zero shuffle, one post-selection explode); the md5-prefix hashes
    replay exactly in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.winnowing_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)


_WINNOW_MAX_DF = 60  # hot-fingerprint stoplist (the skew lever)


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style partial-overlap detection — winnowing's actual use:
    docs sharing ≥ 1 selected fingerprint VALUE are candidate
    partial-plagiarism/shared-boilerplate pairs, with the shared count
    and an integer containment permille. The corpus is seeded with the
    `q_boilerplate_flags` headers/footers so ≥(w+k−1)-token shared runs
    exist and the winnowing guarantee (any such run shares a
    fingerprint) is exercised, not just asserted.

    Scale shape: the inverted-index join of the dedup family, but over
    winnowed selections (~2/(w+1) the density of full shingles);
    fingerprints hotter than `_WINNOW_MAX_DF` docs are dropped first —
    the same hot-key stoplist lever as the shingle join — so bucket
    fan-out is df-bounded. Pair aggregation is digest-sized; text never
    moves past the selection projection."""
    from pyspark.sql import Window

    docs = _seed_boilerplate(load_table(spark, sf_dir, "documents"))
    fps = (
        tx.winnowing_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )
    # df-stoplist via ONE fp-partitioned window (not agg+self-join),
    # then checkpoint ONCE: three consumers (sizes, both pair sides)
    # would each replay the selection explode otherwise — the r5
    # reused-frames rule; the materialized frame is the slim
    # (doc_id, fp) pair set, not the text
    slim = (
        fps.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("_df") <= _WINNOW_MAX_DF)
        .select("doc_id", "fp")
        .transform(registered_local_checkpoint)
    )
    sizes = slim.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    a = slim.select(F.col("doc_id").alias("doc_a"), "fp")
    b = slim.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        # n_shared >= 1 by construction (it counts join hits); callers
        # threshold HIGHER downstream when they want stricter overlap
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_fp", "n_fp_a"
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_fp", "n_fp_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "(n_shared * 1000) DIV least(n_fp_a, n_fp_b)"
            ).alias("containment_pm"),
        )
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-word argmax with deterministic
    tie-break (score desc, lang asc), 'und' when nothing matches."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.lang_id(docs).select("doc_id", "lang", "lang_guess")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: total vs distinct trigrams and the
    repeated fraction — array-side, no explode, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.repetition_stats(docs, n=3).select(
        "doc_id", "n_ngrams", "n_distinct_ngrams", "rep_ratio"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document md5 fingerprint (normalized) + winnowing-style
    min-shingle-hash rolling fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.rolling_fingerprint(tx.doc_fingerprint(docs), n=5).select(
        "doc_id", "fingerprint", "rolling_fp"
    )


def q_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source by frequency (lowercased, whitespace
    tokens, ties broken by term) — corpus term statistics, integer-only so
    engine-exact. Scale shape: explode stays (source, tok) pairs with
    map-side partial counts; the rank window runs on the already-tiny
    aggregate."""
    from pyspark.sql import Window

    from ..operators.dedup import TOKEN_SPLIT_RE

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE)).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


_BPE_TOPK = 20


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE-training iteration (Sennrich et al. 2016, public
    algorithm): corpus-wide counts of adjacent CHARACTER pairs inside
    whitespace tokens, top-20 merge candidates with a total tie-break
    (count desc, pair asc). Char bigrams are built array-side per token
    (substr windows — no per-char explode), so the explode emits one row
    per (token occurrence × char pair); one partial-agg shuffle, then
    TakeOrdered on the tiny aggregate. This is the induction step a
    tokenizer-training pipeline runs before tokenizing at scale."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            F.explode(F.expr(tx._tok_array("text"))).alias("tok")
        )
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN length(tok) < 2 THEN array() "
                    "ELSE transform(sequence(1, length(tok) - 1), "
                    "i -> substring(tok, i, 2)) END"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOPK)
    )


_BPE_ITERS = 5


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five full BPE training iterations over the corpus vocabulary:
    each round's learned merge rule (pair, weighted count). Extends
    `q_bpe_pair_counts` (one round's candidates) to the actual iterative
    algorithm; the oracle unrolls all five rounds in SQL — boundary-
    marked literal replaces keep the greedy merge engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, iters=_BPE_ITERS)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The USE side of the tokenizer: train 5 BPE merges, then encode
    every document with them — merge rules become plan literals, so
    encoding is a zero-shuffle projection (like classifier inference).
    Output is pre-merge symbol count vs post-merge token count per doc;
    the oracle re-derives the merges AND replays the encoding."""
    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.left_sym, r.right_sym)
        for r in tx.bpe_train(docs, iters=_BPE_ITERS).collect()
    ]
    return tx.bpe_encode(docs, merges)


def _bpe_train_ctes(iters: int) -> list[str]:
    """CTE chain shared by the train and encode oracles."""
    pk_l = "string_split(b.pk, chr(30))[1]"
    pk_r = "string_split(b.pk, chr(30))[2]"
    ctes = [
        f"""toks AS (
            SELECT unnest({_TOKS_LIST}) AS tok FROM documents
        )""",
        """words AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS wc
            FROM toks
            WHERE NOT regexp_matches(tok,
                '[' || chr(2) || chr(3) || chr(30) || ']')
            GROUP BY 1
        )""",
        """s0 AS (
            SELECT wc,
                   array_to_string(list_transform(
                       generate_series(1, length(tok)),
                       i -> chr(2) || substr(tok, i, 1) || chr(3)), '') AS seg
            FROM words
        )""",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""p{r} AS (
            SELECT wc,
                   unnest(CASE WHEN len(arr) < 2 THEN []
                          ELSE list_transform(generate_series(1, len(arr) - 1),
                               i -> arr[i] || chr(30) || arr[i + 1]) END) AS pk
            FROM (SELECT wc,
                         list_filter(regexp_split_to_array(seg,
                             '[' || chr(2) || chr(3) || ']+'),
                             x -> x != '') AS arr
                  FROM s{r - 1})
        )"""
        )
        ctes.append(
            f"""b{r} AS (
            SELECT pk, CAST(SUM(wc) AS BIGINT) AS n
            FROM p{r} GROUP BY 1
            ORDER BY n DESC, pk ASC LIMIT 1
        )"""
        )
        ctes.append(
            f"""s{r} AS (
            SELECT s.wc,
                   replace(s.seg,
                       chr(2) || {pk_l} || chr(3) || chr(2) || {pk_r} || chr(3),
                       chr(2) || {pk_l} || {pk_r} || chr(3)) AS seg
            FROM s{r - 1} s CROSS JOIN b{r} b
        )"""
        )
    return ctes


def _bpe_train_sql(iters: int) -> str:
    """Unrolled DuckDB replay of `text.bpe_train`."""
    pk_l = "string_split(b.pk, chr(30))[1]"
    pk_r = "string_split(b.pk, chr(30))[2]"
    ctes = _bpe_train_ctes(iters)
    rows = "\n            UNION ALL ".join(
        f"""SELECT CAST({r} AS INTEGER) AS merge_round,
                   {pk_l} AS left_sym, {pk_r} AS right_sym, b.n
            FROM b{r} b"""
        for r in range(1, iters + 1)
    )
    return f"WITH {', '.join(ctes)}\n        {rows}"


def _bpe_encode_sql(iters: int) -> str:
    """Re-derive the merges (same CTEs as the train oracle), then replay
    the encoding: boundary-marked segs per word, the merge rules applied
    in training order as nested literal replaces, symbol counts summed
    per document."""
    ctes = _bpe_train_ctes(iters)
    parts = []
    for r in range(1, iters + 1):
        parts.append(
            f"string_split(b{r}.pk, chr(30))[1] AS l{r}, "
            f"string_split(b{r}.pk, chr(30))[2] AS r{r}"
        )
    ctes.append(
        "mrg AS (SELECT "
        + ", ".join(parts)
        + " FROM "
        + ", ".join(f"b{r}" for r in range(1, iters + 1))
        + ")"
    )
    seg = (
        "array_to_string(list_transform(generate_series(1, length(t)), "
        "i -> chr(2) || substr(t, i, 1) || chr(3)), '')"
    )
    enc = seg
    for r in range(1, iters + 1):
        pat = f"chr(2) || l{r} || chr(3) || chr(2) || r{r} || chr(3)"
        rep = f"chr(2) || l{r} || r{r} || chr(3)"
        enc = f"replace({enc}, {pat}, {rep})"
    ctes.append(
        f"""docw AS (
            SELECT doc_id,
                   list_filter({_TOKS_LIST},
                       t -> NOT regexp_matches(t,
                            '[' || chr(2) || chr(3) || chr(30) || ']')) AS ws
            FROM documents
        )"""
    )
    ctes.append(
        f"""encd AS (
            SELECT d.doc_id, d.ws,
                   list_transform(d.ws, t -> {enc}) AS segs
            FROM docw d CROSS JOIN mrg
        )"""
    )
    return f"""
        WITH {", ".join(ctes)}
        SELECT doc_id,
               CAST(COALESCE(list_sum(list_transform(ws, t -> length(t))), 0)
                    AS BIGINT) AS n_base_symbols,
               CAST(COALESCE(list_sum(list_transform(segs,
                    s -> len(list_filter(regexp_split_to_array(s,
                         '[' || chr(2) || chr(3) || ']+'), x -> x != '')))), 0)
                    AS BIGINT) AS n_bpe_tokens
        FROM encd
    """


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring with unigram backoff — the next rung
    after `q_unigram_doc_prob` on the perplexity-filter ladder, exact
    throughout (scaled integer divisions, no logs)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bigram_doc_score(docs)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021 appendix A, public
    MassiveWeb recipe): per-rule booleans + conjunction. Single-pass
    array/regex expressions, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.gopher_quality(docs).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_alpha_words",
        "rule_stopwords",
        "gopher_keep",
    )


def _inject_pii(docs: DataFrame) -> DataFrame:
    """Deterministically plant PII engine-side (the synthetic corpus has
    none): doc_id-gated email/phone/IP suffixes. The oracle replays the
    same injection, so redaction is exact-checked end-to-end."""
    did = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(" host 192.168.1.42")).otherwise(F.lit("")),
        ),
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with planted emails/phones/IPs: per-kind
    match counts + the redacted text. Patterns live in the shared
    Java-regex ∩ RE2 dialect so Spark and the oracle agree byte-for-byte."""
    docs = _inject_pii(load_table(spark, sf_dir, "documents"))
    return tx.pii_redact(docs).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted"
    )


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixing weights per (lang, source): token counts and
    temperature-scaled sampling weights w ∝ tokens^0.5 (the public
    multilingual-sampling recipe, e.g. mBERT/XLM exponent-smoothed
    distributions). sqrt is IEEE-exact in both engines; the weight
    normalization goes through the decimal-accumulator pattern so the
    cross-group sum is order-independent. Aggregate is map-side partial →
    one shuffle on (lang, source); the normalizer is a 1-row aggregate of
    the group frame broadcast back via cross join (not a grand-total
    window, which plans a single-partition exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(f"size({tx._tok_array('text')})").cast("long")
    grp = (
        docs.select("lang", "source", toks.alias("_n"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
        )
        .withColumn(
            "_w", F.sqrt(F.col("n_tokens")).cast("decimal(25,6)")
        )
    )
    total = grp.agg(F.sum("_w").cast("decimal(25,6)").alias("_tw"))
    return grp.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        (
            F.col("_w").cast("double") / F.col("_tw").cast("double")
        ).alias("mix_weight"),
    )


_SEARCH_TERMS = ("spark", "merge", "window")
_SEARCH_K = 20
_IDF_SCALE = 1_000_000


_KANON_LEN_BUCKET = 64  # token-count bucket width for the quasi-identifier


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk audit over the quasi-identifier
    (lang, source, token-length bucket): per-group sizes aggregated into
    the re-identification summary a privacy review reads — total groups,
    docs, and the doc counts sitting in groups smaller than k ∈ {2,5,10}
    (a doc in a singleton group is uniquely re-identifiable from its
    quasi-identifiers alone). Integer end-to-end: one (quasi-id) count
    shuffle plus one tiny re-aggregate; the bucket is integer division
    so no float boundary can move a doc across groups."""
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.select(
            "lang",
            "source",
            F.expr(
                f"CAST(size({tx._tok_array('text')}) AS BIGINT) "
                f"div {_KANON_LEN_BUCKET}"
            ).alias("len_bucket"),
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("gsz"))
    )
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("gsz").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("gsz") < 2, F.col("gsz")).otherwise(0))
        .cast("long")
        .alias("docs_below_k2"),
        F.sum(F.when(F.col("gsz") < 5, F.col("gsz")).otherwise(0))
        .cast("long")
        .alias("docs_below_k5"),
        F.sum(F.when(F.col("gsz") < 10, F.col("gsz")).otherwise(0))
        .cast("long")
        .alias("docs_below_k10"),
        F.min("gsz").cast("long").alias("min_group_size"),
    )


def q_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword search: top-20 docs by integer-exact TF-IDF over
    the query terms (spark, merge, window), idf = scaled integer quotient
    so no cross-engine log drift; score/tie ordering is total."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.tfidf_search(
        docs, _SEARCH_TERMS, k=_SEARCH_K, idf_scale=_IDF_SCALE
    )


# URL seeding: the synthetic corpus has no URL column, so the query
# plants one per document from (doc_id, source) — the same determinism
# trick as the PII injection below. Variants deliberately cover every
# normalization axis: scheme/host case, default port, trailing slash,
# tracking params, parameter order, fragments.
_URL_SEED_SPARK = """
    concat(
      CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END, '://',
      CASE WHEN doc_id % 3 = 0 THEN concat('WWW.', source, '.COM')
           ELSE concat('www.', source, '.com') END,
      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
      '/articles/', CAST(doc_id % 50 AS STRING),
      CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
      CASE WHEN doc_id % 2 = 1
               THEN concat('?utm_source=feed&id=', CAST(doc_id % 25 AS STRING))
           WHEN doc_id % 6 = 2
               THEN concat('?ref=home&id=', CAST(doc_id % 25 AS STRING))
           ELSE concat('?id=', CAST(doc_id % 25 AS STRING), '&ref=home') END,
      CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END
    )
"""


# REP ruleset exercising every RFC 9309 semantic on the seeded URLs.
# Path numbers are doc_id % 50 and source is doc_id-correlated, so each
# host only ever sees 5 numbers (src1 → {1,11,21,31,41}, src2 →
# {2,12,22,32,42}, src3 → {3,13,23,33,43}); the targets below are
# chosen so every rule actually FIRES on the fixture:
# bare-prefix fan-out (/articles/1 blocks both 1 and 11), longest-match
# allow override (/articles/11), the allow-wins length tie
# (/articles/31 twice), a trailing-slash prefix on src4 (every src4
# doc_id ≡ 4 mod 20 ⊂ ≡ 0 mod 4, so ALL its URLs carry the slash and
# the slashed prefix fires), the SAME slashed prefix on src2 (never
# slashed — pins that a no-match rule changes nothing), and a
# whole-host block with an allow island (src3), and a '?'-anchored
# prefix (r8: RFC 9309 matches rules against path + query — fires on
# src2 docs ≡ 62 mod 300, whose URL renders '/articles/12?ref=home&…',
# disallowed at matched_len 17; verified firing at sf0.01 like every
# other rule). r10 adds the RFC §2.2.3 SPECIALS (crawlers MUST support
# them): a mid-'*' tracking-param block on src1 (fires on id 21 — its
# odd doc_ids always render '?utm_source=…'; scoped to '/articles/2'
# so it never shadows the 1/11/31 prefix cases) and a '$'-anchored
# rule on src2 (fires on id 32 when the query ENDS '&ref=home' — the
# doc_id % 6 ≠ 2 branches — and must NOT fire on the '?ref=home&id=…'
# ordering, the anchor's whole point). Unlisted hosts default-allow.
_ROBOTS_RULES = [
    ("www.src1.com", "/articles/1", False),
    ("www.src1.com", "/articles/11", True),
    ("www.src1.com", "/articles/31", True),
    ("www.src1.com", "/articles/31", False),
    ("www.src1.com", "/articles/2*utm_source=*", False),
    ("www.src4.com", "/articles/44/", False),
    ("www.src2.com", "/articles/42/", False),
    ("www.src2.com", "/articles/12?ref=", False),
    ("www.src2.com", "/articles/32*&ref=home$", False),
    ("www.src3.com", "/", False),
    ("www.src3.com", "/articles/23", True),
]


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt (RFC 9309) compliance verdicts over the seeded messy
    URLs (`operators/robots.robots_filter`) — the crawl gate that runs
    before any fetch: longest-matching path prefix per host wins, Allow
    wins length ties, unlisted hosts default-allow. The ruleset is a
    plan literal (the parsed robots.txt is host-bounded and tiny);
    evaluation is zero-shuffle per-row HOFs, and the SAME builder
    renders the DuckDB oracle so the two engines cannot drift."""
    from ..operators.robots import robots_filter

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_SEED_SPARK)
    )
    return robots_filter(docs, _ROBOTS_RULES).select(
        "doc_id", "url", "host", "path", "matched_len", "allowed"
    )


def q_robots_filter_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rules-as-DATA twin of `q_robots_filter`
    (`operators/robots.robots_filter_table`) — the web-scale form: the
    same fixture ruleset arrives as a (host, prefix, allow) TABLE,
    aggregated to per-host rule arrays and LEFT equi-joined on host
    (broadcast under threshold, shuffle above — no hint), then the
    identical struct-ordering longest-match HOF. Verdicts are
    parity-pinned against the literal variant in pytest; this driver
    row checks the join+HOF form against a DuckDB replay that builds
    the rules from a VALUES table the same way."""
    from ..operators.robots import robots_filter_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_SEED_SPARK)
    )
    rules_df = local_frame(
        spark, _ROBOTS_RULES, "host string, prefix string, allow boolean"
    )
    return robots_filter_table(docs, rules_df).select(
        "doc_id", "url", "host", "path", "matched_len", "allowed"
    )


_FRONTIER_WAVE = 8  # politeness: URLs per per-host fetch wave


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl trio composed into a fetch schedule: canonicalize the
    seeded messy URLs (frontier dedup key), keep one frontier entry per
    canonical URL, gate it through the REP ruleset (evaluated on the
    canonical form — note the canonicalizer strips trailing slashes, so
    slash-anchored rules intentionally don't fire here), and assign
    politeness waves: within each host, URLs are fetched
    `_FRONTIER_WAVE` at a time in canonical order. Output is the
    schedule a polite distributed fetcher consumes: (host,
    canonical_url, keeper_doc_id, fetch_wave).

    Scale shape: one canonical-URL aggregate + one host-partitioned
    rank window — both over slim URL strings; robots evaluation is the
    zero-shuffle literal-ruleset projection. Hosts are the natural
    politeness partition, so the window key IS the domain key a real
    frontier shards by."""
    from ..operators.robots import robots_filter

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_SEED_SPARK)
    )
    frontier = (
        tx.url_canonicalize(docs)
        .groupBy("canonical_url")
        .agg(F.min("doc_id").cast("long").alias("keeper_doc_id"))
    )
    allowed = robots_filter(
        frontier, _ROBOTS_RULES, url_col="canonical_url"
    ).filter(F.col("allowed"))
    return allowed.select(
        "host",
        "canonical_url",
        "keeper_doc_id",
        F.expr(
            f"CAST((row_number() OVER (PARTITION BY host "
            f"ORDER BY canonical_url) - 1) DIV {_FRONTIER_WAVE} AS BIGINT)"
        ).alias("fetch_wave"),
    )


# HTML seeding for the link-graph family (the corpus ships no HTML, so
# each doc renders a deterministic page from (doc_id, source, text) —
# the URL-seed trick): one absolute cross-host anchor, one host-relative
# anchor (self-host edge), a conditional second absolute anchor, plus
# the three NON-links an extractor must drop (protocol-relative,
# fragment-only, mailto:). Target hosts are www.src{1..10}.com by
# doc_id arithmetic, so the host graph closes over the fixture's own
# source hosts.
def _link_html_sql(s_type: str) -> str:
    return f"""
    concat(
      '<html><body><a href="https://www.src',
      CAST(1 + ((doc_id * 7 + 3) % 10) AS {s_type}),
      '.com/articles/', CAST((doc_id * 3) % 50 AS {s_type}), '">a</a>',
      '<p>', substr(text, 1, 40), '</p>',
      '<a href="/articles/', CAST((doc_id + 13) % 50 AS {s_type}), '">b</a>',
      CASE WHEN doc_id % 3 = 0
           THEN concat('<a href="https://www.src',
                       CAST(1 + ((doc_id * 5 + 1) % 10) AS {s_type}),
                       '.com/">c</a>')
           ELSE '' END,
      CASE WHEN doc_id % 5 = 1
           THEN '<a href="//cdn.example.net/x.js">d</a>' ELSE '' END,
      '<a href="#top">e</a>',
      CASE WHEN doc_id % 7 = 2
           THEN '<a href="mailto:a@b.co">f</a>' ELSE '' END,
      CASE WHEN doc_id % 4 = 1
           THEN concat('<A CLASS="m" HREF="HTTP://www.src',
                       CAST(1 + ((doc_id * 11 + 2) % 10) AS {s_type}),
                       '.com/Mixed/', CAST(doc_id % 23 AS {s_type}),
                       '">g</A>')
           ELSE '' END,
      '<a data-href="https://decoy.invalid/x">h</a>',
      '<a href=''/sq/', CAST(doc_id % 13 AS {s_type}), '''>i</a>',
      '<a href=/uq/', CAST(doc_id % 11 AS {s_type}), ' rel=nofollow>j</a>',
      '<script>var q="', CAST(doc_id % 97 AS {s_type}),
      '";</script><style>.c', CAST(doc_id % 7 AS {s_type}),
      '{{color:red}}</style>',
      '<p>Q&amp;A &lt;b&gt; &quot;q', CAST(doc_id % 13 AS {s_type}),
      '&quot; &#39;s&#39; &amp;lt; 5&nbsp;km&mdash;ok&hellip; ',
      '&rsquo;r10&rsquo; &copy;&unknown;</p>',
      CASE WHEN doc_id % 6 = 2
           THEN '<p>it&#8217;s &#x2019;q&#x2019; &#955; &#38;lt; &amp;#8217; &#1114112;&#xD800;</p>'
           ELSE '' END,
      '</body></html>')
"""


_SRC_HOST = "lower(concat('www.', source, '.com'))"


def _link_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded page frame every link-family driver starts from:
    (doc_id, src_host, html) — ONE definition (r8 review: six copies
    would drift from each other and from the shared oracle replay)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_SRC_HOST).alias("src_host"),
        F.expr(_link_html_sql("STRING")).alias("html"),
    )


def _host_edges(docs: DataFrame) -> DataFrame:
    """DISTINCT (src, dst) host edges from the seeded pages — the input
    both centrality drivers and the sampling prior rank over."""
    from ..operators.links import extract_links

    return (
        extract_links(docs)
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
        .distinct()
    )


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink extraction (`operators/links.extract_links`) — the
    cc-webgraph head: anchors pulled from deterministic in-plan HTML
    with ONE regexp_extract_all, resolved to absolute URLs (absolute
    pass through, host-relative resolve against the source host,
    protocol-relative/fragment/mailto drop), one row per crawlable
    link. Zero shuffles; the page never outlives its task."""
    from ..operators.links import extract_links

    docs = _link_docs(spark, sf_dir)
    return extract_links(docs).select(
        "doc_id", "src_host", "href", "dst_url", "dst_host"
    )


_N_TOKENS_SQL = (
    "CAST(CASE WHEN text_out = '' THEN 0 ELSE length(text_out)"
    " - length(replace(text_out, ' ', '')) + 1 END AS BIGINT)"
)


def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible text (`operators/links.html_to_text`) — the stage
    between the crawl archive and every text-quality operator in this
    repo: script/style elements dropped WITH their contents, tags
    stripped to token boundaries, the five core entities unescaped
    (&amp; last, so double-escapes resolve one level), whitespace
    collapsed. Zero-shuffle codegen projection; token count derives
    from the collapsed text by pure string arithmetic (identical
    expression both engines — no split-dialect divergence on the
    empty string)."""
    from ..operators.links import html_to_text

    docs = _link_docs(spark, sf_dir)
    return html_to_text(docs).select(
        "doc_id",
        "text_out",
        F.length("text_out").cast("long").alias("n_chars"),
        F.expr(_N_TOKENS_SQL).alias("n_tokens"),
    )


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted host-level link graph (`operators/links.host_graph`)
    — Common Crawl's host-graph product: links aggregated to (src_host,
    dst_host) with link and document counts. One shuffle over slim
    host-pair rows."""
    from ..operators.links import extract_links, host_graph

    docs = _link_docs(spark, sf_dir)
    return host_graph(extract_links(docs))


_HOST_PR_ITERS = 4
_HOST_PR_SCALE = 10**12


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-centrality ranking over the link graph — the crawl's
    domain-quality prior (Common Crawl publishes exactly this rank):
    integer fixed-point PageRank (`operators/graph.pagerank`, the same
    operator the k-NN graph uses) over the DISTINCT host edges,
    self-loops kept (a host's relative links feed its own rank — the
    simple-variant convention, documented on the operator). Oracle:
    the unrolled-CTE PageRank replay parameterized with the link-graph
    edge SQL."""
    from ..operators.graph import pagerank

    docs = _link_docs(spark, sf_dir)
    edges = _host_edges(docs)
    return pagerank(
        edges, iters=_HOST_PR_ITERS, scale=_HOST_PR_SCALE
    ).select(F.col("id").alias("host"), "rank_micro", "rank")


_HITS_ITERS = 4
_HITS_SCALE = 10**9


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the host link graph
    (`operators/graph.hits`) — the second classic web-centrality rank
    beside `q_host_pagerank`: authority = per-host content-quality
    prior, hub = directory/aggregator hosts worth re-crawling for
    frontier discovery. Integer-exact two-step-floor normalization, so
    all four rounds unroll bit-exactly into the oracle's CTEs."""
    from ..operators.graph import hits

    docs = _link_docs(spark, sf_dir)
    edges = _host_edges(docs)
    return hits(edges, iters=_HITS_ITERS, scale=_HITS_SCALE).select(
        F.col("id").alias("host"), "hub_scaled", "auth_scaled"
    )


def q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl family composed END-TO-END in one oracle-checked plan
    — one full crawl hop: archived pages (WARC/1.0 response records
    whose payloads are the seeded HTML, one record per page row) →
    record parse (`sources/warc.parse_warc`) with the len_ok/200 gate →
    outbound link extraction (`operators/links.extract_links`) → REP
    compliance gate on each OUTBOUND URL (`operators/robots`) →
    canonical-URL frontier with per-host politeness waves — i.e., the
    next fetch schedule derived from the last fetch's archives.

    Output: (host, canonical_url, keeper_src_doc, n_refs, fetch_wave).
    Scale shape: everything through the robots gate is one codegen
    stage over single-record rows (zero shuffles — record parse,
    href explode, resolution, REP verdicts are all string functions);
    the only exchanges are the frontier aggregate and the host wave
    window, both over slim URL strings."""
    from ..operators.links import dst_host_sql, extract_links
    from ..operators.robots import robots_filter
    from ..sources.warc import (
        SPARK_DIALECT,
        http_block_sql,
        parse_warc,
        warc_record_sql,
    )

    d = SPARK_DIALECT
    html = _link_html_sql("STRING")
    uri = f"concat('https://', {_SRC_HOST}, '/p/', CAST(doc_id AS STRING))"
    rec = warc_record_sql(d, "doc_id", uri, http_block_sql(d, "'200'", html))
    blobs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("warc_file"), F.expr(rec).alias("warc_blob")
    )
    pages = (
        parse_warc(blobs)
        .filter("len_ok AND http_status = 200")
        .select(
            F.expr(
                "CAST(regexp_extract(target_uri, '/p/([0-9]+)$', 1)"
                " AS BIGINT)"
            ).alias("doc_id"),
            F.expr(dst_host_sql("target_uri")).alias("src_host"),
            F.col("payload").alias("html"),
        )
    )
    gated = robots_filter(
        extract_links(pages), _ROBOTS_RULES, url_col="dst_url"
    ).filter(F.col("allowed"))
    canon = tx.url_canonicalize(gated, url_col="dst_url")
    grouped = (
        canon.select(
            F.expr(dst_host_sql("canonical_url")).alias("chost"),
            "canonical_url",
            "doc_id",
        )
        .groupBy("chost", "canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_src_doc"),
            F.count(F.lit(1)).cast("long").alias("n_refs"),
        )
    )
    return grouped.select(
        F.col("chost").alias("host"),
        "canonical_url",
        "keeper_src_doc",
        "n_refs",
        F.expr(
            f"CAST((row_number() OVER (PARTITION BY chost "
            f"ORDER BY canonical_url) - 1) DIV {_FRONTIER_WAVE} AS BIGINT)"
        ).alias("fetch_wave"),
    )


def q_domain_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link-graph family consumed the way a training pipeline
    actually uses it: per-document sampling weights from the host
    centrality prior. Each doc joins its host's PageRank (equi-join on
    host — broadcast under threshold, shuffle above; the host table
    scales with the web, never a plan literal), and the weight is the
    doc's share of total corpus rank mass in ppm — integer exact: ONE
    1-row total (cross-join broadcast, the tfidf-stats pattern) and
    one DIV per doc."""
    from ..operators.graph import pagerank

    docs = _link_docs(spark, sf_dir)
    edges = _host_edges(docs)
    ranks = pagerank(edges, iters=_HOST_PR_ITERS, scale=_HOST_PR_SCALE).select(
        F.col("id").alias("src_host"), "rank_micro"
    )
    per_doc = docs.select("doc_id", "src_host").join(ranks, "src_host")
    total = per_doc.agg(
        F.sum("rank_micro").cast("long").alias("total_rank")
    )
    return (
        per_doc.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.col("src_host").alias("host"),
            "rank_micro",
            F.expr("CAST((rank_micro * 1000000) DIV total_rank AS BIGINT)")
            .alias("weight_ppm"),
        )
    )


_HARMONIC_ROUNDS = 4
_HARMONIC_SCALE = 1_200_000_000  # divisible by 1..6 → every DIV exact


def q_host_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host harmonic centrality over the link graph — the rank Common
    Crawl actually publishes for hosts (Boldi & Vigna's axioms pick
    harmonic over closeness for disconnected graphs, which crawl
    graphs always are): H(v) = Σ 1/d(w→v) over hosts reaching v within
    `_HARMONIC_ROUNDS` hops, integer-exact as `scale DIV d`
    (`operators/graph.harmonic_centrality`). Oracle: the unrolled
    level-synchronous BFS replay. The exact pair frame is the bounded-
    host-set/validation path; the 100 TB path is the HyperBall twin
    (`operators/graph.hyperball_harmonic`, register-table rounds,
    parity-bounded against this in pytest)."""
    from ..operators.graph import harmonic_centrality

    docs = _link_docs(spark, sf_dir)
    edges = _host_edges(docs)
    return harmonic_centrality(
        edges, rounds=_HARMONIC_ROUNDS, scale=_HARMONIC_SCALE
    ).select(F.col("id").alias("host"), "harmonic_scaled", "n_reaching")


_HB_P = 8  # 256 registers; fixture max rel err measured 2.2%


def q_hyperball_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver coverage for the 100 TB centrality path: HyperBall
    (`operators/graph.hyperball_harmonic`) runs beside the exact
    bounded-hop harmonic in ONE plan, and the output is the contract —
    the `q_bm25_topk_logidf` pattern for float-estimating operators
    whose values can't hash across engines. Every leg is FALSIFIABLE:
    `all_within_10pct` fails if the linear-counting correction (or the
    register propagation) regresses (raw estimates read ≈ α·m and miss
    by ~50%); `zeros_read_zero` fails if unreachable hosts accrete
    phantom mass; `top_host_agrees` fails if the ranking inverts (the
    fixture's top host is unique by construction). `n_hosts` is the
    exact node count, value-checked against the link-graph replay."""
    from ..operators.graph import harmonic_centrality, hyperball_harmonic

    edges = _host_edges(_link_docs(spark, sf_dir))
    S = float(_HARMONIC_SCALE)
    ex = harmonic_centrality(
        edges, rounds=_HARMONIC_ROUNDS, scale=_HARMONIC_SCALE
    ).select(F.col("id").alias("host"), "harmonic_scaled")
    hb = hyperball_harmonic(edges, rounds=_HARMONIC_ROUNDS, p=_HB_P).select(
        F.col("id").alias("host"), "harmonic_est"
    )
    j = ex.join(hb, "host")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.expr(
            f"bool_and(CASE WHEN harmonic_scaled > 0 THEN "
            f"abs(harmonic_est - harmonic_scaled / {S}) "
            f"< 0.10 * (harmonic_scaled / {S}) ELSE TRUE END)"
        ).alias("all_within_10pct"),
        F.expr(
            "bool_and(CASE WHEN harmonic_scaled = 0 THEN "
            "abs(harmonic_est) < 0.1 ELSE TRUE END)"
        ).alias("zeros_read_zero"),
        (
            F.expr("max_by(host, harmonic_scaled)")
            == F.expr("max_by(host, harmonic_est)")
        ).alias("top_host_agrees"),
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup over seeded messy URLs: normalize scheme/host
    case, default ports, tracking params, param order, fragments,
    trailing slashes, (r10) RFC 3986 dot segments, and (r11) full
    §6.2.2 percent normalization (`operators/text.url_canonicalize`).
    The seed plants '/articles/./', '/sec/../articles/' and
    'arti%6cles'/'arti%6Cles' variants that ALL collapse with the
    plain 'articles' spelling ('l' is unreserved, so §6.2.2.2 decodes
    it), plus 'ref=ho%2fme'/'ref=ho%2Fme' query values that collapse
    ONLY with each other as the encoded '%2F' ('/' is reserved — a
    distinct group from 'ref=home'); then group — per canonical URL
    the variant count, distinct raw forms, and keeper doc. The
    crawl-dedup pre-pass that runs before any content ever moves;
    normalization itself is zero-shuffle string/array codegen."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_canon_mess_seed(_URL_SEED_SPARK))
    )
    return (
        tx.url_canonicalize(docs)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("url").cast("long").alias("n_raw_forms"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
    )


_BM25_K = 20
_BM25_K1 = (6, 5)  # 1.2
_BM25_B = (3, 4)  # 0.75
_BM25_SAT = 10_000
_BM25_DLS = 1_000_000


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-20 docs for the query terms (spark,
    merge, window) under k1=1.2, b=0.75 — integer-exact fixed-point
    BM25 (`operators/text.bm25_topk`): RSJ-ratio idf (log-free) and
    scaled-integer length-normalized saturation, so score ordering and
    values replay bit-exactly in the oracle.

    NOT Lucene-compatible scores: the unlogged RSJ ratio weights rare
    terms proportionally more than log-idf in multi-term sums, so
    rankings can differ from textbook BM25 when the query terms' dfs
    differ by orders of magnitude (see the ranking-consequence paragraph
    on `operators/text.bm25_topk`). `q_bm25_topk_logidf` is the
    textbook float twin (driver-checked via its in-plan contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bm25_topk(
        docs,
        _SEARCH_TERMS,
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
        idf_scale=_IDF_SCALE,
        sat_scale=_BM25_SAT,
        dl_scale=_BM25_DLS,
    )


_LOGIDF_OVERLAP_FLOOR = 15  # of _BM25_K=20; measured 20/20 at sf0.001+sf0.01


def q_bm25_topk_logidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textbook (Lucene-form) BM25 twin — CONTRACT CHECK. The float
    scores (idf = ln(1 + (N−df+0.5)/(df+0.5)), float saturation) are
    libm-log-dependent so they can't hash-match a DuckDB replay at the
    ulp level; instead of emitting the scores, this query computes the
    contract in-plan (the `q_ann_topk_ivf` pattern) and the oracle pins
    it TRUE:

    - ``n_topk``: the log-idf retrieval returns exactly K=20 rows;
    - ``overlap_ok``: its doc set overlaps the integer-exact RSJ-ratio
      top-20 (`q_bm25_topk`, hash-verified) in ≥ 15 of 20 docs — a
      broken idf sign / saturation / length norm craters this (a
      score-positivity leg would be vacuous: `bm25_topk` filters
      score > 0 before the limit, so breakage there surfaces as
      n_topk < 20 / overlap collapse, not as a sign bit);
    - ``idf_rank_agree_ok``: across all query-term pairs, the float
      log idf orders term dfs exactly as the RSJ integer ratio does
      (the rank-agreement half of the ranking-consequence note on
      `operators/text.bm25_topk`).

    The underlying float-score frame stays available to API users via
    ``bm25_topk(..., idf_form="log")``; pytest pins its values."""
    docs = load_table(spark, sf_dir, "documents")
    log_topk = tx.bm25_topk(
        docs,
        _SEARCH_TERMS,
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
        idf_form="log",
    )
    rsj_topk = tx.bm25_topk(
        docs,
        _SEARCH_TERMS,
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
        idf_scale=_IDF_SCALE,
        sat_scale=_BM25_SAT,
        dl_scale=_BM25_DLS,
    )
    log_stats = log_topk.agg(
        F.count(F.lit(1)).cast("long").alias("n_topk"),
    )
    overlap = (
        log_topk.select("doc_id")
        .join(rsj_topk.select("doc_id"), "doc_id")
        .agg(F.count(F.lit(1)).alias("_n_overlap"))
    )
    # Per-term df stats (same tokenizer as the operator) → the two idf
    # forms as 1-row expressions; agreement = identical pairwise order.
    toks = tx._tok_array("text")
    dfs = docs.select(F.expr(toks).alias("_toks")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(
                F.expr(f"CASE WHEN array_contains(_toks, '{t}') THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias(f"_df{i}")
            for i, t in enumerate(_SEARCH_TERMS)
        ],
    )

    def _idf_log(i: int) -> str:
        return (
            f"ln(1.0d + (CAST(n_docs - _df{i} AS DOUBLE) + 0.5d)"
            f" / (CAST(_df{i} AS DOUBLE) + 0.5d))"
        )

    def _idf_rsj(i: int) -> str:
        return (
            f"((2 * (n_docs - _df{i}) + 1) * {_IDF_SCALE}L)"
            f" DIV (2 * _df{i} + 1)"
        )

    pair_checks = [
        f"(({_idf_rsj(i)} >= {_idf_rsj(j)} AND {_idf_log(i)} >= {_idf_log(j)})"
        f" OR ({_idf_rsj(i)} <= {_idf_rsj(j)} AND {_idf_log(i)} <= {_idf_log(j)}))"
        for i in range(len(_SEARCH_TERMS))
        for j in range(i + 1, len(_SEARCH_TERMS))
    ]
    idf_agree = dfs.select(
        F.expr(" AND ".join(pair_checks)).alias("idf_rank_agree_ok")
    )
    return (
        log_stats.crossJoin(overlap)
        .crossJoin(idf_agree)
        .select(
            "n_topk",
            (F.col("_n_overlap") >= F.lit(_LOGIDF_OVERLAP_FLOOR)).alias(
                "overlap_ok"
            ),
            "idf_rank_agree_ok",
        )
    )


_PASSAGE_LEN = 32
_PASSAGE_STRIDE = 16
_PASSAGE_KEY_BASE = 10_000


def q_bm25_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level BM25 retrieval — the RAG chunk-retrieval stack:
    32-token windows at stride 16 (overlapping, short tails kept) ranked
    by the same integer-exact BM25, so relevance lands on the passage a
    generator would be fed (`operators/text.bm25_passages`). Chunking is
    one array transform + posexplode; the oracle replays windows, stats,
    and scores exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bm25_passages(
        docs,
        _SEARCH_TERMS,
        k=_BM25_K,
        passage_len=_PASSAGE_LEN,
        stride=_PASSAGE_STRIDE,
        pkey_base=_PASSAGE_KEY_BASE,
        k1=_BM25_K1,
        b=_BM25_B,
        idf_scale=_IDF_SCALE,
        sat_scale=_BM25_SAT,
        dl_scale=_BM25_DLS,
    )


_TOKS_LIST = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
_TOKS_LOWER = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"


def _marker_count_sql(markers: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return (
        f"len(list_filter({_TOKS_LIST}, x -> list_contains([{quoted}], x)))"
    )


_SCORES = ", ".join(
    f"CAST({_marker_count_sql(m)} AS BIGINT) AS score_{lang}"
    for lang, m in LANG_MARKERS.items()
)

_PII_INJECT = """
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END
               || CASE WHEN doc_id % 13 = 0 THEN ' host 192.168.1.42' ELSE '' END
               AS text
        FROM documents
"""

from ..operators.text import PII_PATTERNS as _PII  # noqa: E402

def q_bigram_backoff_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram stupid-backoff LM quality scores for the held-out half of
    the corpus (train = md5-gated 50% split, so backoff genuinely
    fires): per document the bigram count, backoff count, scaled
    integer score sum, and the ONE-division mean
    (`operators/text.bigram_stupid_backoff`) — the KenLM-style quality
    filter one level up from `q_unigram_doc_prob`, exact-checked
    because α = 2/5 and every per-position score is an integer DIV."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bigram_stupid_backoff(docs)


def q_kneser_ney_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram Kneser-Ney quality scores for the held-out
    half (`operators/text.kneser_ney_score`) — the textbook smoothing
    with the exact-rational discount D = 3/4, continuation
    probabilities from distinct-type counts, scaled-BIGINT arithmetic
    with a pinned op order so the whole thing hash-checks. Same
    md5-gated split as `q_bigram_backoff_quality`, so the two smoothers
    are comparable doc-for-doc; KN's continuation term scores
    'frequent-only-in-one-context' tokens lower than raw frequency —
    the property stupid backoff lacks."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.kneser_ney_score(docs)


def q_unigram_doc_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document score: mean corpus-probability of the doc's
    tokens (exact integer sum + one IEEE division) — the engine-checkable
    analogue of perplexity-based quality filtering. Low = rare-token
    gibberish, high = common-vocabulary boilerplate."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.unigram_doc_score(docs)


# Boilerplate seeding: the synthetic corpus has no shared headers, so the
# query plants a 9-token header (2 variants) and 9-token footer (3
# variants) on doc_id % 5 == 2 — both engines seed identically, making the
# detector's positive path exact-checkable. Variant digits sit INSIDE the
# digested window so each variant forms its own digest group.
_BOILER_PFX_LEN = 8
_BOILER_MIN_DF = 3


def _seed_boilerplate(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
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


def q_boilerplate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style boilerplate detection over seeded headers/footers:
    per-document prefix/suffix digests, their corpus document frequency,
    and the boiler flags at min_df=3. The digests and dfs are in the
    output, so the oracle hash-checks the whole pipeline (tokenize →
    slice → digest → df count → flag), not just the verdicts."""
    docs = _seed_boilerplate(load_table(spark, sf_dir, "documents"))
    return tx.boilerplate_prefix(
        docs, prefix_len=_BOILER_PFX_LEN, min_df=_BOILER_MIN_DF
    )


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary diagnostics: tokens, types, hapaxes,
    type/token ratio (Heaps'-law corpus growth view)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.vocab_stats(docs, group_col="source")


def q_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source-mix concentration: Gini-Simpson index and
    top-source share (`operators/text.py` `category_diversity` — exact
    integer rationals, one IEEE division each, no log)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.category_diversity(docs, "lang", "source")


_PMI_MIN, _PMI_TOPK = 3, 100


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 adjacent-bigram collocations by PMI ratio (min count 3)
    over the document corpus — phrase mining for tokenizer curation
    (`operators/text.py` `pmi_collocations`; ratio not log, so every
    value is pinned-order IEEE arithmetic over exact integers)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.pmi_collocations(
        docs, min_count=_PMI_MIN, top_k=_PMI_TOPK
    )


def q_token_freq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf frequency-of-frequency histogram: distinct token types per
    decimal magnitude of their corpus count — exact integer bucketing."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.token_freq_histogram(docs)


_SEED_BOILER_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 2
                    THEN 'edition ' || CAST(doc_id % 2 AS VARCHAR)
                         || ' subscribe to our newsletter follow us on '
                         || text
                         || ' all rights reserved copyright '
                         || CAST(doc_id % 3 AS VARCHAR)
                         || ' terms apply contact us'
                    ELSE text END AS text
        FROM documents
"""


def _tfidf_search_sql() -> str:
    n = len(_SEARCH_TERMS)
    dfs = ", ".join(
        f"CAST(COUNT(CASE WHEN list_contains(tk, '{t}') THEN 1 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(_SEARCH_TERMS)
    )
    tfs = ", ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_SEARCH_TERMS)
    )
    matched = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(n)
    )
    score = " + ".join(
        f"tf{i} * (CASE WHEN df{i} = 0 THEN 0"
        f" ELSE (n_docs * {_IDF_SCALE}) // df{i} END)"
        for i in range(n)
    )
    return f"""
        WITH t AS (SELECT doc_id, {_TOKS_LIST} AS tk FROM documents),
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, {dfs} FROM t),
        s AS (SELECT doc_id, {tfs} FROM t),
        sc AS (
            SELECT s.doc_id,
                   CAST({matched} AS BIGINT) AS n_matched,
                   CAST({score} AS BIGINT) AS score
            FROM s, c
        )
        SELECT doc_id, n_matched, score FROM sc
        WHERE score > 0
        ORDER BY score DESC, doc_id
        LIMIT {_SEARCH_K}
    """


def _bm25_search_sql(src: str = "documents") -> str:
    """DuckDB replay of the integer-exact BM25 over any (doc_id, text)
    relation `src` (a table name or parenthesized subquery)."""
    n = len(_SEARCH_TERMS)
    a, c = _BM25_K1
    p, q = _BM25_B
    dfs = ", ".join(
        f"CAST(COUNT(CASE WHEN list_contains(tk, '{t}') THEN 1 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(_SEARCH_TERMS)
    )
    tfs = ", ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_SEARCH_TERMS)
    )
    matched = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(n)
    )

    def contrib(i: int) -> str:
        idf = (
            f"(CASE WHEN df{i} = 0 THEN 0"
            f" ELSE ((2 * (n_docs - df{i}) + 1) * {_IDF_SCALE})"
            f" // (2 * df{i} + 1) END)"
        )
        sat = (
            f"((tf{i} * {(a + c) * q * _BM25_DLS * _BM25_SAT})"
            f" // ({c * q * _BM25_DLS} * tf{i}"
            f" + {a * (q - p) * _BM25_DLS}"
            f" + {a * p} * dlnorm))"
        )
        return (
            f"(CASE WHEN tf{i} = 0 THEN 0"
            f" ELSE ({idf} * {sat}) // {_BM25_SAT} END)"
        )

    score = " + ".join(contrib(i) for i in range(n))
    return f"""
        WITH t AS (
            SELECT doc_id, {_TOKS_LIST} AS tk FROM {src}
        ),
        d AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl FROM t),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS tot_len, {dfs}
            FROM d
        ),
        s AS (SELECT doc_id, dl, {tfs} FROM d),
        sn AS (
            SELECT s.*, c.*,
                   (s.dl * c.n_docs * {_BM25_DLS}) // c.tot_len AS dlnorm
            FROM s, c
        ),
        sc AS (
            SELECT doc_id, dl,
                   CAST({matched} AS BIGINT) AS n_matched,
                   CAST({score} AS BIGINT) AS score
            FROM sn
        )
        SELECT doc_id, dl, n_matched, score FROM sc
        WHERE score > 0
        ORDER BY score DESC, doc_id
        LIMIT {_BM25_K}
    """


_URL_SEED_DUCK = """
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || source || '.COM'
             ELSE 'www.' || source || '.com' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/articles/' || CAST(doc_id % 50 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 1
                THEN '?utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR)
             WHEN doc_id % 6 = 2
                THEN '?ref=home&id=' || CAST(doc_id % 25 AS VARCHAR)
             ELSE '?id=' || CAST(doc_id % 25 AS VARCHAR) || '&ref=home' END)
    || (CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END)
"""

# parts+canon CTE chain shared by the canonicalize oracle and the crawl-
# frontier oracle (expects a CTE `u(doc_id, url)` in scope)
def _url_canon_core_sql() -> str:
    """The DuckDB canonicalizer core CTE — pth and the query string run
    through the SAME shared builders (`operators/text.pct_upper_sql`,
    `remove_dot_segments_sql` with the DuckDB dialect dict) the Spark
    operator renders, so the r10 normalizations cannot drift between
    the engines."""
    from ..operators.text import (
        CANON_DUCK,
        pct_upper_sql,
        remove_dot_segments_sql,
    )

    pth = remove_dot_segments_sql(
        CANON_DUCK,
        pct_upper_sql(
            CANON_DUCK,
            "regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1)",
        ),
    )
    qraw = pct_upper_sql(
        CANON_DUCK, "regexp_extract(url, '\\?([^#]*)', 1)"
    )
    return f"""parts AS (
            SELECT doc_id, url,
                lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
                regexp_replace(
                    lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
                    ':(443|80)$', '') AS hostport,
                {pth} AS pth,
                coalesce(array_to_string(list_sort(list_filter(
                    string_split({qraw}, '&'),
                    x -> x != '' AND substr(x, 1, 4) != 'utm_'
                         AND substr(x, 1, 7) != 'fbclid=')), '&'), '')
                    AS qcanon
            FROM u
        ),
        canon AS (
            SELECT doc_id, url,
                scheme || '://' || hostport
                || (CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
                         ELSE regexp_replace(pth, '/+$', '') END)
                || (CASE WHEN qcanon = '' THEN ''
                         ELSE '?' || qcanon END) AS canonical_url
            FROM parts
        )"""


_URL_CANON_CORE = _url_canon_core_sql()


# canon-only messy-seed wrapper (r10/r11): layers the RFC 3986
# variance axes the normalizations collapse — dot segments
# ('/articles/./', '/sec/../articles/'), percent-encodings of the
# UNRESERVED 'l' ('arti%6cles'/'arti%6Cles', which §6.2.2.2 decodes
# back to plain 'articles' since r11), and (r11) mixed-case hex of the
# RESERVED '/' in a query value ('ref=ho%2fme'/'ref=ho%2Fme' — both
# canonicalize to the ENCODED uppercase '%2F' form, never to a bare
# '/') — over the shared URL seed. Canon-ONLY deliberately: the
# robots-gate queries share _URL_SEED and their rule fixtures target
# literal '/articles/N' paths. Every pattern occurs at most once per
# URL, so Spark's global-replace and DuckDB's first-match
# regexp_replace agree.
def _canon_mess_seed(base: str) -> str:
    return f"""regexp_replace(regexp_replace(regexp_replace({base},
        '/articles/',
        CASE WHEN doc_id % 3 = 1 THEN '/articles/./'
             WHEN doc_id % 3 = 2 THEN '/sec/../articles/'
             ELSE '/articles/' END),
        'articles',
        CASE WHEN doc_id % 5 = 2 THEN 'arti%6cles'
             WHEN doc_id % 5 = 3 THEN 'arti%6Cles'
             ELSE 'articles' END),
        'ref=home',
        CASE WHEN doc_id % 11 = 4 THEN 'ref=ho%2fme'
             WHEN doc_id % 11 = 7 THEN 'ref=ho%2Fme'
             ELSE 'ref=home' END)"""


def _url_canon_duck(seed: str) -> str:
    # plain concatenation, NOT str.format: the core now contains regex
    # quantifier braces from the shared builders
    return (
        """
        WITH u AS (
            SELECT doc_id, """
        + seed
        + """ AS url FROM documents
        ),
        """
        + _URL_CANON_CORE
        + """        SELECT canonical_url,
               CAST(COUNT(*) AS BIGINT) AS n_urls,
               CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        FROM canon GROUP BY 1
"""
    )



def _bm25_passages_sql() -> str:
    P, S, B = _PASSAGE_LEN, _PASSAGE_STRIDE, _PASSAGE_KEY_BASE
    nw = (
        f"CASE WHEN len(tk0) = 0 THEN 0 "
        f"ELSE 1 + ((greatest(0, len(tk0) - {P}) + {S} - 1) // {S}) END"
    )
    pas = f"""(
        SELECT doc_id * {B} + (w - 1) AS doc_id,
               array_to_string(
                   tk0[((w - 1) * {S} + 1):((w - 1) * {S} + {P})],
                   ' ') AS text
        FROM (
            SELECT doc_id, tk0,
                   unnest(generate_series(1, {nw})) AS w
            FROM (SELECT doc_id, {_TOKS_LIST} AS tk0 FROM documents)
        )
    )"""
    inner = _bm25_search_sql(src=pas)
    return f"""
        SELECT doc_id // {B} AS doc_id,
               CAST(doc_id % {B} AS BIGINT) AS pidx,
               dl, n_matched, score
        FROM ({inner})
    """


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token diversity as the UNBIASED Simpson repeat
    probability Σ c_i·(c_i−1) / (n·(n−1)) — the log-free quality twin
    of token entropy (high repeat_prob = low lexical diversity, the
    same boilerplate/spam signal entropy filters catch, but exactly
    SQL-replayable: integer numerator and denominator, ONE pinned IEEE
    division; entropy's Σp·log p would be a libm call per token type).
    Complements `q_repetition_stats` (which looks at ADJACENT repeats;
    Simpson is position-free).

    Scale shape: per-token counts come from ONE sorted run-length pass
    over the doc's OWN token array (`operators/text.simpson_stats_sql`,
    O(n log n) per row) — zero shuffles, zero explode; the corpus never
    moves, and per-row cost stays bounded on 10⁵–10⁶-token documents."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx._tok_array("text")
    base = docs.select("doc_id", F.expr(toks).alias("_toks")).withColumn(
        "_st", F.expr(tx.simpson_stats_sql("_toks"))
    )
    n = "CAST(size(_toks) AS BIGINT)"
    return base.select(
        "doc_id",
        F.expr(n).alias("n_tokens"),
        F.expr("_st.u").alias("distinct_tokens"),
        F.expr(
            f"CASE WHEN {n} < 2 THEN CAST(0.0 AS DOUBLE)"
            f" ELSE CAST(_st.num AS DOUBLE) / CAST({n} * ({n} - 1) AS DOUBLE)"
            " END"
        ).alias("repeat_prob"),
    )


def _winnow_core_sql(src: str = "documents") -> str:
    """The winnowing-selection replay (k-gram md5-prefix hashes, per-
    window rightmost-min, distinct) over relation `src` — shared by the
    fingerprint oracle (raw documents) and the overlap-pairs oracle
    (boilerplate-seeded documents)."""
    return f"""
        WITH t AS (
            SELECT doc_id, {_TOKS_LIST} AS toks FROM {src}
        ),
        h AS (
            SELECT doc_id,
                   CASE WHEN len(toks) < {_WINNOW_K} THEN CAST([] AS BIGINT[])
                   ELSE list_transform(
                       generate_series(0, len(toks) - {_WINNOW_K}),
                       i -> ('0x' || substr(md5(array_to_string(
                           list_slice(toks, i + 1, i + {_WINNOW_K}), ' ')),
                           1, 15))::BIGINT)
                   END AS hs
            FROM t
        ),
        sel AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(0, greatest(len(hs) - {_WINNOW_W}, 0)),
                       j -> {{'pos': j + least(len(hs) - j, {_WINNOW_W})
                                 - list_position(
                                       list_reverse(list_slice(
                                           hs, j + 1, j + {_WINNOW_W})),
                                       list_aggregate(list_slice(
                                           hs, j + 1, j + {_WINNOW_W}), 'min')),
                              'fp': list_aggregate(list_slice(
                                        hs, j + 1, j + {_WINNOW_W}), 'min')}}
                   ) AS sels
            FROM h WHERE len(hs) > 0
        )
        -- dedup after unnest: DuckDB's list_distinct can't histogram
        -- STRUCT elements, plain DISTINCT is value-identical
        SELECT DISTINCT doc_id,
               CAST(s.pos AS BIGINT) AS pos,
               CAST(s.fp AS BIGINT) AS fp
        FROM (SELECT doc_id, unnest(sels) AS s FROM sel)
    """


ORACLES: dict[str, str] = {
    "q_token_diversity": f"""
        WITH t AS (
            SELECT doc_id, unnest({_TOKS_LIST}) AS tok FROM documents
        ),
        c AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM t GROUP BY 1, 2
        ),
        d AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS u,
                   CAST(SUM(c * (c - 1)) AS BIGINT) AS num
            FROM c GROUP BY 1
        )
        SELECT docs.doc_id,
               COALESCE(d.n, 0) AS n_tokens,
               COALESCE(d.u, 0) AS distinct_tokens,
               CASE WHEN COALESCE(d.n, 0) < 2 THEN 0.0
                    ELSE CAST(d.num AS DOUBLE)
                         / CAST(d.n * (d.n - 1) AS DOUBLE)
               END AS repeat_prob
        FROM documents docs LEFT JOIN d USING (doc_id)
    """,
    "q_tfidf_search": _tfidf_search_sql(),
    "q_url_canonicalize": _url_canon_duck(_canon_mess_seed(_URL_SEED_DUCK)),
    "q_bm25_passages": _bm25_passages_sql(),
    "q_bm25_topk": _bm25_search_sql(),
    "q_token_fertility": f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS_LIST})) AS BIGINT) AS n_words,
               CAST(SUM(len(regexp_extract_all(text, '{BPE_ISH_RE}')))
                    AS BIGINT) AS n_pieces,
               CASE WHEN SUM(len({_TOKS_LIST})) = 0 THEN 0.0
                    ELSE CAST(SUM(len(regexp_extract_all(text,
                             '{BPE_ISH_RE}'))) AS DOUBLE)
                         / CAST(SUM(len({_TOKS_LIST})) AS DOUBLE)
               END AS fertility
        FROM documents GROUP BY lang
    """,
    "q_winnowing_fingerprints": _winnow_core_sql(),
    "q_winnow_overlap_pairs": f"""
        WITH seeded AS ({_SEED_BOILER_SQL}),
        w AS ({_winnow_core_sql("seeded")}),
        fps AS (SELECT DISTINCT doc_id, fp FROM w),
        keep AS (
            SELECT fp FROM fps GROUP BY fp
            HAVING COUNT(*) <= {_WINNOW_MAX_DF}
        ),
        slim AS (SELECT fps.* FROM fps JOIN keep USING (fp)),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
            FROM slim GROUP BY 1
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM slim a JOIN slim b
              ON b.fp = a.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_shared,
               sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
               (n_shared * 1000) // least(sa.n_fp, sb.n_fp)
                   AS containment_pm
        FROM pairs
        JOIN sizes sa ON sa.doc_id = pairs.doc_a
        JOIN sizes sb ON sb.doc_id = pairs.doc_b
    """,
    "q_bigram_backoff_quality": """
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x != '') AS toks,
                   ('0x' || substr(md5('lmtrain' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT % 10000 < 5000 AS is_train
            FROM documents
        ),
        tug AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c_uni
            FROM (SELECT unnest(toks) AS w FROM base WHERE is_train)
            GROUP BY 1
        ),
        tbi AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bi
            FROM (
                SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
                FROM (SELECT toks,
                             unnest(generate_series(0, len(toks) - 2)) AS i
                      FROM base WHERE is_train AND len(toks) >= 2)
            ) GROUP BY 1, 2
        ),
        ntr AS (
            SELECT CAST(COALESCE(SUM(len(toks)), 0) AS BIGINT) AS n_train
            FROM base WHERE is_train
        ),
        sb AS (
            SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(0, len(toks) - 2)) AS i
                  FROM base WHERE NOT is_train AND len(toks) >= 2)
        ),
        sc AS (
            SELECT sb.doc_id,
                   CASE WHEN tbi.c_bi IS NOT NULL
                        THEN (tbi.c_bi * 1000000) // u1.c_uni
                        WHEN ntr.n_train = 0 THEN 0
                        ELSE (2 * 1000000 * COALESCE(u2.c_uni, 0))
                             // (5 * ntr.n_train)
                   END AS s,
                   CASE WHEN tbi.c_bi IS NULL THEN 1 ELSE 0 END AS bo
            FROM sb
            LEFT JOIN tbi ON tbi.w1 = sb.w1 AND tbi.w2 = sb.w2
            LEFT JOIN tug u1 ON u1.w = sb.w1
            LEFT JOIN tug u2 ON u2.w = sb.w2
            CROSS JOIN ntr
        ),
        pd AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(bo) AS BIGINT) AS n_backoff,
                   CAST(SUM(s) AS BIGINT) AS sum_score_scaled
            FROM sc GROUP BY 1
        )
        SELECT b.doc_id,
               COALESCE(pd.n_bigrams, 0) AS n_bigrams,
               COALESCE(pd.n_backoff, 0) AS n_backoff,
               COALESCE(pd.sum_score_scaled, 0) AS sum_score_scaled,
               CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0.0
                    ELSE CAST(pd.sum_score_scaled AS DOUBLE)
                         / CAST(pd.n_bigrams AS DOUBLE)
               END AS mean_prob_scaled
        FROM (SELECT doc_id FROM base WHERE NOT is_train) b
        LEFT JOIN pd USING (doc_id)
    """,
    "q_kneser_ney_quality": """
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x != '') AS toks,
                   ('0x' || substr(md5('lmtrain' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT % 10000 < 5000 AS is_train
            FROM documents
        ),
        tbi AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bi
            FROM (
                SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
                FROM (SELECT toks,
                             unnest(generate_series(0, len(toks) - 2)) AS i
                      FROM base WHERE is_train AND len(toks) >= 2)
            ) GROUP BY 1, 2
        ),
        ctx AS (
            SELECT w1, CAST(SUM(c_bi) AS BIGINT) AS c_ctx,
                   CAST(COUNT(*) AS BIGINT) AS n_follow
            FROM tbi GROUP BY 1
        ),
        cont AS (
            SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_prec
            FROM tbi GROUP BY 1
        ),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM tbi),
        sb AS (
            SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(0, len(toks) - 2)) AS i
                  FROM base WHERE NOT is_train AND len(toks) >= 2)
        ),
        pc AS (
            SELECT sb.doc_id, sb.w1, sb.w2,
                   CASE WHEN nt.n_types = 0 THEN 0
                        ELSE (COALESCE(cont.n_prec, 0) * 1000000)
                             // nt.n_types
                   END AS pcont
            FROM sb
            LEFT JOIN cont ON cont.w2 = sb.w2
            CROSS JOIN nt
        ),
        sc AS (
            SELECT pc.doc_id,
                   CASE WHEN ctx.c_ctx IS NULL THEN pc.pcont
                        ELSE (greatest(4 * COALESCE(tbi.c_bi, 0) - 3, 0)
                              * 1000000) // (4 * ctx.c_ctx)
                           + (3 * ctx.n_follow * pc.pcont)
                             // (4 * ctx.c_ctx)
                   END AS p,
                   CASE WHEN ctx.c_ctx IS NULL THEN 1 ELSE 0 END AS unseen
            FROM pc
            LEFT JOIN tbi ON tbi.w1 = pc.w1 AND tbi.w2 = pc.w2
            LEFT JOIN ctx ON ctx.w1 = pc.w1
        ),
        pd AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(unseen) AS BIGINT) AS n_unseen_ctx,
                   CAST(SUM(p) AS BIGINT) AS sum_score_scaled
            FROM sc GROUP BY 1
        )
        SELECT b.doc_id,
               COALESCE(pd.n_bigrams, 0) AS n_bigrams,
               COALESCE(pd.n_unseen_ctx, 0) AS n_unseen_ctx,
               COALESCE(pd.sum_score_scaled, 0) AS sum_score_scaled,
               CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0.0
                    ELSE CAST(pd.sum_score_scaled AS DOUBLE)
                         / CAST(pd.n_bigrams AS DOUBLE)
               END AS mean_prob_scaled
        FROM (SELECT doc_id FROM base WHERE NOT is_train) b
        LEFT JOIN pd USING (doc_id)
    """,
    # Contract-check oracle (the q_ann_topk_ivf pattern): the Spark side
    # computes the booleans in-plan; the oracle pins them TRUE plus the
    # deterministic row count.
    "q_bm25_topk_logidf": f"""
        SELECT CAST({_BM25_K} AS BIGINT) AS n_topk,
               TRUE AS overlap_ok,
               TRUE AS idf_rank_agree_ok
    """,
    "q_k_anonymity": f"""
        WITH g AS (
            SELECT lang, source,
                   CAST(len({_TOKS_LIST}) AS BIGINT) // {_KANON_LEN_BUCKET}
                       AS len_bucket,
                   CAST(COUNT(*) AS BIGINT) AS gsz
            FROM documents GROUP BY 1, 2, 3
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(gsz) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN gsz < 2 THEN gsz ELSE 0 END) AS BIGINT)
                   AS docs_below_k2,
               CAST(SUM(CASE WHEN gsz < 5 THEN gsz ELSE 0 END) AS BIGINT)
                   AS docs_below_k5,
               CAST(SUM(CASE WHEN gsz < 10 THEN gsz ELSE 0 END) AS BIGINT)
                   AS docs_below_k10,
               CAST(MIN(gsz) AS BIGINT) AS min_group_size
        FROM g
    """,
    "q_boilerplate_flags": f"""
        WITH seeded AS ({_SEED_BOILER_SQL}),
        t AS (SELECT doc_id, {_TOKS_LIST} AS toks FROM seeded),
        d AS (
            SELECT doc_id,
                   md5(array_to_string(toks[1:{_BOILER_PFX_LEN}], ' '))
                       AS prefix_digest,
                   md5(array_to_string(
                       toks[greatest(1, len(toks) - {_BOILER_PFX_LEN - 1}):],
                       ' ')) AS suffix_digest
            FROM t
        )
        SELECT doc_id, prefix_digest,
               COUNT(*) OVER (PARTITION BY prefix_digest) AS prefix_df,
               suffix_digest,
               COUNT(*) OVER (PARTITION BY suffix_digest) AS suffix_df,
               COUNT(*) OVER (PARTITION BY prefix_digest) >= {_BOILER_MIN_DF}
                   AS boiler_prefix,
               COUNT(*) OVER (PARTITION BY suffix_digest) >= {_BOILER_MIN_DF}
                   AS boiler_suffix
        FROM d
    """,
    "q_vocab_stats": f"""
        WITH toks AS (
            SELECT source, unnest({_TOKS_LIST}) AS tok FROM documents
        ),
        c AS (SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2)
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                   AS type_token_ratio
        FROM c GROUP BY 1
    """,
    "q_source_diversity": """
        WITH c AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY 1, 2
        ),
        g AS (
            SELECT lang,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_cats,
                   CAST(SUM(n * n) AS BIGINT) AS sum_sq,
                   CAST(MAX(n) AS BIGINT) AS top_n
            FROM c GROUP BY 1
        )
        SELECT lang, n_rows, n_cats, top_n,
               CAST(n_rows * n_rows - sum_sq AS DOUBLE)
                   / CAST(n_rows * n_rows AS DOUBLE) AS gini_simpson,
               CAST(top_n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share
        FROM g
    """,
    "q_pmi_collocations": f"""
        WITH tk AS (
            SELECT {_TOKS_LIST} AS toks FROM documents
        ),
        bg AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM tk WHERE len(toks) >= 2)
        ),
        c AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
            FROM bg GROUP BY 1, 2
        ),
        lx AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1),
        ry AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1),
        n AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS nb FROM c)
        SELECT c.w1, c.w2, c.n_xy, lx.n_x, ry.n_y,
               (CAST(c.n_xy AS DOUBLE) * CAST(n.nb AS DOUBLE))
               / (CAST(lx.n_x AS DOUBLE) * CAST(ry.n_y AS DOUBLE))
                   AS pmi_ratio
        FROM c
        JOIN lx ON lx.w1 = c.w1
        JOIN ry ON ry.w2 = c.w2
        CROSS JOIN n
        WHERE c.n_xy >= {_PMI_MIN}
        ORDER BY pmi_ratio DESC, c.w1 ASC, c.w2 ASC
        LIMIT {_PMI_TOPK}
    """,
    "q_token_freq_histogram": f"""
        WITH toks AS (SELECT unnest({_TOKS_LIST}) AS tok FROM documents),
        c AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1)
        SELECT CAST(length(CAST(n AS VARCHAR)) AS INTEGER) AS magnitude,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(n) AS BIGINT) AS n_occurrences
        FROM c GROUP BY 1
    """,
    "q_gopher_quality": f"""
        WITH t AS (
            SELECT doc_id, text, {_TOKS_LIST} AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sum_wl,
                   CAST(len(regexp_extract_all(text, '#'))
                        + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
                   CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                   CAST({_marker_count_sql(LANG_MARKERS["en"])} AS BIGINT) AS n_stop
            FROM t
        ),
        m AS (
            SELECT doc_id, n_words,
                   CASE WHEN n_words > 0 THEN sum_wl * 1.0 / n_words ELSE 0.0 END AS mean_word_len,
                   CASE WHEN n_words > 0 THEN n_sym * 1.0 / n_words ELSE 0.0 END AS sym_ratio,
                   CASE WHEN n_words > 0 THEN n_alpha * 1.0 / n_words ELSE 0.0 END AS alpha_ratio,
                   n_stop
            FROM s
        )
        SELECT doc_id, n_words, mean_word_len,
               (n_words >= 20 AND n_words <= 100000) AS rule_word_count,
               (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS rule_mean_word_len,
               (sym_ratio <= 0.1) AS rule_symbol_ratio,
               (alpha_ratio >= 0.8) AS rule_alpha_words,
               (n_stop >= 2) AS rule_stopwords,
               ((n_words >= 20 AND n_words <= 100000)
                AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
                AND (sym_ratio <= 0.1)
                AND (alpha_ratio >= 0.8)
                AND (n_stop >= 2)) AS gopher_keep
        FROM m
    """,
    "q_pii_redaction": f"""
        WITH inj AS ({_PII_INJECT})
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII["email"]}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text, '{_PII["phone"]}')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(text, '{_PII["ipv4"]}')) AS BIGINT) AS n_ipv4,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '{_PII["email"]}', '<EMAIL>', 'g'),
                       '{_PII["phone"]}', '<PHONE>', 'g'),
                   '{_PII["ipv4"]}', '<IPV4>', 'g') AS redacted
        FROM inj
    """,
    "q_mix_weights": f"""
        WITH g AS (
            SELECT lang, source, COUNT(*) AS n_docs,
                   CAST(SUM(len({_TOKS_LIST})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1, 2
        ),
        w AS (
            SELECT *, CAST(sqrt(n_tokens) AS DECIMAL(25,6)) AS _w FROM g
        )
        SELECT lang, source, n_docs, n_tokens,
               CAST(_w AS DOUBLE) / CAST(SUM(_w) OVER () AS DOUBLE) AS mix_weight
        FROM w
    """,
    "q_repetition_stats": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) < 3 THEN []
                        ELSE list_transform(generate_series(1, len(toks) - 2),
                                            i -> array_to_string(toks[i:i+2], ' '))
                   END AS sh
            FROM t
        )
        SELECT doc_id,
               CAST(len(sh) AS BIGINT) AS n_ngrams,
               CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct_ngrams,
               CASE WHEN len(sh) > 0
                    THEN (len(sh) - len(list_distinct(sh))) * 1.0 / len(sh)
                    ELSE 0.0 END AS rep_ratio
        FROM s
    """,
    "q_top_terms_per_source": f"""
        WITH toks AS (
            SELECT source, unnest({_TOKS_LOWER}) AS tok FROM documents
        ),
        counts AS (
            SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2
        ),
        ranked AS (
            SELECT source, tok, n,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY n DESC, tok ASC
                   ) AS BIGINT) AS rk
            FROM counts
        )
        SELECT source, tok, n, rk FROM ranked WHERE rk <= 5
    """,
    "q_text_quality": f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len({_TOKS_LIST}) AS BIGINT) AS n_tokens,
                   CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
                   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
                   CAST({_marker_count_sql(LANG_MARKERS["en"])} AS BIGINT) AS n_stop
            FROM documents
        )
        SELECT doc_id, n_chars, n_tokens,
               CASE WHEN n_tokens > 0
                    THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                    ELSE 0.0 END AS avg_token_len,
               n_punct * 1.0 / n_chars AS punct_ratio,
               n_digit * 1.0 / n_chars AS digit_ratio,
               CASE WHEN n_tokens > 0
                    THEN n_stop * 1.0 / n_tokens ELSE 0.0 END AS stopword_ratio,
               (n_tokens >= 10 AND n_punct * 1.0 / n_chars <= 0.3) AS quality_ok
        FROM s
    """,
    "q_token_count": f"""
        SELECT doc_id,
               CAST(len({_TOKS_LIST}) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_ISH_RE}')) AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
    "q_lang_id": f"""
        WITH scored AS (SELECT doc_id, lang, {_SCORES} FROM documents),
        unp AS (
            SELECT doc_id, lang, s.score, s.cand
            FROM scored,
            LATERAL (VALUES (score_de, 'de'), (score_en, 'en'),
                            (score_es, 'es'), (score_fr, 'fr')) AS s(score, cand)
        ),
        best AS (
            SELECT doc_id, lang, score, cand,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cand ASC) AS rk
            FROM unp
        )
        SELECT doc_id, lang,
               CASE WHEN score > 0 THEN cand ELSE 'und' END AS lang_guess
        FROM best WHERE rk = 1
    """,
    "q_doc_fingerprint": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS_LIST}) AS tok,
                   generate_subscripts({_TOKS_LIST}, 1) AS ord
            FROM documents
        ),
        sh AS (
            SELECT a.doc_id,
                   md5(a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok || ' ' || e.tok) AS h
            FROM toks a
            JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
            JOIN toks c ON a.doc_id = c.doc_id AND c.ord = a.ord + 2
            JOIN toks d ON a.doc_id = d.doc_id AND d.ord = a.ord + 3
            JOIN toks e ON a.doc_id = e.doc_id AND e.ord = a.ord + 4
        ),
        rolling AS (SELECT doc_id, MIN(h) AS rolling_fp FROM sh GROUP BY 1)
        SELECT d.doc_id,
               md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fingerprint,
               r.rolling_fp
        FROM documents d LEFT JOIN rolling r ON d.doc_id = r.doc_id
    """,
    "q_bpe_train": _bpe_train_sql(_BPE_ITERS),
    "q_bpe_encode": _bpe_encode_sql(_BPE_ITERS),
    "q_bigram_lm_score": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest({_TOKS_LIST}) AS tok,
                   generate_subscripts({_TOKS_LIST}, 1) AS ord
            FROM documents
        ),
        pairs AS (
            SELECT doc_id, tok AS w1,
                   LEAD(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
            FROM toks QUALIFY w2 IS NOT NULL
        ),
        uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
        bi AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pairs GROUP BY 1, 2
        ),
        scored AS (
            SELECT p.doc_id,
                   CASE WHEN b.c12 > 1
                        THEN (b.c12 * 1000000) // u1.c1
                        ELSE (u2.c1 * 1000000) // (10 * tot.n)
                   END AS p_scaled
            FROM pairs p
            JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
            JOIN uni u1 ON p.w1 = u1.tok
            JOIN uni u2 ON p.w2 = u2.tok
            CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(p_scaled) AS BIGINT) AS sum_scaled_prob,
               CAST(SUM(p_scaled) AS BIGINT) / COUNT(*) AS mean_scaled_prob
        FROM scored GROUP BY 1
    """,
    "q_bpe_pair_counts": f"""
        WITH toks AS (
            SELECT unnest({_TOKS_LIST}) AS tok FROM documents
        ),
        p AS (
            SELECT unnest(
                CASE WHEN length(tok) < 2 THEN []
                     ELSE list_transform(generate_series(1, length(tok) - 1),
                                         i -> substr(tok, i, 2))
                END) AS pair
            FROM toks
        )
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM p GROUP BY 1
        ORDER BY n DESC, pair ASC
        LIMIT {_BPE_TOPK}
    """,
    "q_unigram_doc_prob": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS_LIST}) AS tok FROM documents
        ),
        freq AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS tok_freq
            FROM toks GROUP BY 1
        ),
        per_doc AS (
            SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(f.tok_freq) AS BIGINT) AS sum_freq
            FROM toks t JOIN freq f ON t.tok = f.tok
            GROUP BY 1
        )
        SELECT doc_id, n_tokens, sum_freq,
               CAST(sum_freq AS DOUBLE) /
                   (CAST(n_tokens AS DOUBLE) *
                    CAST(SUM(n_tokens) OVER () AS DOUBLE)) AS mean_tok_prob
        FROM per_doc
    """,
}


_DSIR_TARGET_LANG = "en"
_DSIR_KEEP = 100


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: rank every document by how much more
    probable its tokens are under the TARGET unigram distribution
    (lang = 'en' docs) than under the full-corpus distribution, keep the
    top `_DSIR_KEEP`. The importance ratio is two exact-integer IEEE
    divisions (see `operators/text.dsir_scores` — log-free, so the
    ordering replays bit-exactly in the oracle). Selection is
    orderBy+limit → TakeOrderedAndProject, never a global window."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.dsir_scores(docs, F.col("lang") == _DSIR_TARGET_LANG)
        .orderBy(F.desc("imp_ratio"), F.asc("doc_id"))
        .limit(_DSIR_KEEP)
    )


_VOCAB_COVER_NS = (100, 1_000, 10_000)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size planning curve: what fraction of all token
    OCCURRENCES a top-N frequency-ranked vocabulary covers, for the
    candidate sizes in `_VOCAB_COVER_NS` — the number a tokenizer
    designer reads before fixing a vocab budget. The global frequency
    rank uses `operators/rank.global_row_number` (range-partitioned,
    no single-partition window); coverage sums are one conditional
    aggregate over the type-sized frequency table."""
    from ..operators import rank as rk

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.expr(tx._tok_array("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = rk.global_row_number(
        freq, [F.desc("freq"), F.asc("tok")], out_col="rn"
    )
    cover_cols = [
        F.sum(F.when(F.col("rn") <= n, F.col("freq")).otherwise(0))
        .cast("long")
        .alias(f"cov_{n}")
        for n in _VOCAB_COVER_NS
    ]
    agg = ranked.agg(
        F.sum("freq").cast("long").alias("total_occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        *cover_cols,
    )
    share_cols = [
        (F.col(f"cov_{n}").cast("double") / F.col("total_occurrences").cast("double")).alias(
            f"share_{n}"
        )
        for n in _VOCAB_COVER_NS
    ]
    return agg.select(
        "total_occurrences",
        "n_types",
        *[F.col(f"cov_{n}") for n in _VOCAB_COVER_NS],
        *share_cols,
    )


def _robots_sql() -> str:
    from ..operators.robots import DUCK_D, robots_exprs

    e = robots_exprs(DUCK_D, _ROBOTS_RULES, "url")
    return f"""
        WITH u AS (
            SELECT doc_id, {_URL_SEED_DUCK} AS url FROM documents
        )
        SELECT doc_id, url,
               {e['host']} AS host,
               {e['path']} AS path,
               {e['matched_len']} AS matched_len,
               {e['allowed']} AS allowed
        FROM u
    """


ORACLES["q_robots_filter"] = _robots_sql()


def _robots_table_sql() -> str:
    """DuckDB replay of q_robots_filter_table: rules from a VALUES
    table, per-host list() aggregate, LEFT join on host, then the same
    longest-match HOF the literal oracle uses (DUCK_D lambdas)."""
    from ..operators.robots import DUCK_D, _url_exprs, rule_match_sql

    host, path = _url_exprs("url")
    values = ",\n            ".join(
        f"('{h}', '{p}', {'TRUE' if a else 'FALSE'})"
        for h, p, a in _ROBOTS_RULES
    )
    matches = DUCK_D["filter"](
        "rules", "r -> " + rule_match_sql(DUCK_D, "path", "r.prefix")
    )
    best = DUCK_D["best"](
        DUCK_D["transform"](
            matches, "r -> {'len': length(r.prefix), 'allow': r.allow}"
        )
    )
    return f"""
        WITH rule_rows(host, prefix, allow) AS (VALUES
            {values}
        ),
        hr AS (
            SELECT lower(host) AS rhost,
                   list({{'prefix': prefix, 'allow': allow}}) AS rules
            FROM rule_rows GROUP BY 1
        ),
        u AS (
            SELECT doc_id, {_URL_SEED_DUCK} AS url FROM documents
        ),
        j AS (
            SELECT doc_id, url,
                   {host} AS host,
                   {path} AS path,
                   hr.rules AS rules
            FROM u LEFT JOIN hr ON {host} = hr.rhost
        )
        SELECT doc_id, url, host, path,
               CAST(coalesce(({best}).len, -1) AS BIGINT) AS matched_len,
               coalesce(({best}).allow, TRUE) AS allowed
        FROM j
    """


ORACLES["q_robots_filter_table"] = _robots_table_sql()


def _link_rows_sql() -> str:
    """Shared link-extraction replay: synthesis + regexp_extract_all +
    the SAME resolution CASE the Spark plan renders
    (`operators/links.resolve_href_sql`)."""
    from ..operators.links import dst_host_sql, href_all_sql, resolve_href_sql

    return f"""
        SELECT doc_id, src_host, href,
               {resolve_href_sql('href', 'src_host')} AS dst_url,
               {dst_host_sql(resolve_href_sql('href', 'src_host'))}
                   AS dst_host
        FROM (
            SELECT doc_id, {_SRC_HOST} AS src_host,
                   unnest({href_all_sql(_link_html_sql("VARCHAR"), "duckdb")})
                       AS href
            FROM documents
        )
        WHERE {resolve_href_sql('href', 'src_host')} IS NOT NULL
    """


ORACLES["q_link_extract"] = f"""
    SELECT doc_id, src_host, href, dst_url, dst_host
    FROM ({_link_rows_sql()})
"""

ORACLES["q_host_link_graph"] = f"""
    SELECT src_host, dst_host,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ({_link_rows_sql()})
    GROUP BY 1, 2
"""


def _host_pagerank_sql() -> str:
    from .similarity import _pagerank_sql

    edges = (
        "SELECT DISTINCT src_host AS src, dst_host AS dst "
        f"FROM ({_link_rows_sql()})"
    )
    return _pagerank_sql(
        _HOST_PR_ITERS, _HOST_PR_SCALE, edges_sql=edges, id_alias="host"
    )


ORACLES["q_host_pagerank"] = _host_pagerank_sql()


def _hits_sql(iters: int, scale: int, edges_sql: str, id_alias: str) -> str:
    """Unroll the integer HITS fixed point (`operators/graph.hits`):
    per round, authority raw-sums from current hubs + 1-row total +
    two-step floor normalization, then hubs from the NEW authorities —
    one CTE chain, bit-exact in both engines (BIGINT sums cast out of
    DuckDB's HUGEINT, `//` == Spark `div` floor semantics on
    non-negative values)."""
    head = f"""
        WITH edges AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})),
        nodes AS MATERIALIZED (
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst AS id FROM edges
            )
        ),
        h0 AS (SELECT id, CAST({scale} AS BIGINT) AS h FROM nodes)"""
    rounds = []
    for i in range(iters):
        rounds.append(f""",
        ar{i} AS MATERIALIZED (
            SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS raw
            FROM edges e JOIN h{i} h ON h.id = e.src GROUP BY 1
        ),
        at{i} AS (
            SELECT CAST(COALESCE(SUM(raw), 0) AS BIGINT) AS t FROM ar{i}
        ),
        a{i + 1} AS MATERIALIZED (
            SELECT n.id,
                   CAST(COALESCE(ar.raw, 0)
                        // GREATEST(t // {scale}, 1) AS BIGINT) AS a
            FROM nodes n CROSS JOIN at{i} LEFT JOIN ar{i} ar ON ar.id = n.id
        ),
        hr{i} AS MATERIALIZED (
            SELECT e.src AS id, CAST(SUM(a.a) AS BIGINT) AS raw
            FROM edges e JOIN a{i + 1} a ON a.id = e.dst GROUP BY 1
        ),
        ht{i} AS (
            SELECT CAST(COALESCE(SUM(raw), 0) AS BIGINT) AS t FROM hr{i}
        ),
        h{i + 1} AS MATERIALIZED (
            SELECT n.id,
                   CAST(COALESCE(hr.raw, 0)
                        // GREATEST(t // {scale}, 1) AS BIGINT) AS h
            FROM nodes n CROSS JOIN ht{i} LEFT JOIN hr{i} hr ON hr.id = n.id
        )""")
    tail = f"""
        SELECT n.id AS {id_alias},
               hf.h AS hub_scaled,
               af.a AS auth_scaled
        FROM nodes n
        JOIN h{iters} hf ON hf.id = n.id
        JOIN a{iters} af ON af.id = n.id
    """
    return head + "".join(rounds) + tail


ORACLES["q_host_hits"] = _hits_sql(
    _HITS_ITERS,
    _HITS_SCALE,
    "SELECT DISTINCT src_host AS src, dst_host AS dst "
    f"FROM ({_link_rows_sql()})",
    "host",
)


def _host_harmonic_sql() -> str:
    """Unrolled level-synchronous BFS: one CTE per hop, frontier-only
    expansion + MIN-aggregate (exactly the operator's loop), then the
    integer harmonic sum."""
    edges = (
        "SELECT DISTINCT src_host AS src, dst_host AS dst "
        f"FROM ({_link_rows_sql()})"
    )
    head = f"""
        WITH edges AS ({edges}),
        nodes AS (
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst FROM edges
            )
        ),
        d0 AS (SELECT id AS src, id AS dst, 0 AS d FROM nodes)"""
    rounds = []
    for t in range(_HARMONIC_ROUNDS):
        rounds.append(f""",
        d{t + 1} AS (
            SELECT src, dst, MIN(d) AS d FROM (
                SELECT * FROM d{t}
                UNION ALL
                SELECT p.src, e.dst, p.d + 1 AS d
                FROM d{t} p JOIN edges e ON e.src = p.dst
                WHERE p.d = {t}
            ) GROUP BY 1, 2
        )""")
    tail = f"""
        SELECT dst AS host,
               CAST(SUM(CASE WHEN d > 0 THEN {_HARMONIC_SCALE} // d
                             ELSE 0 END) AS BIGINT) AS harmonic_scaled,
               CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS n_reaching
        FROM d{_HARMONIC_ROUNDS} GROUP BY 1
    """
    return head + "".join(rounds) + tail


ORACLES["q_host_harmonic"] = _host_harmonic_sql()


def _domain_prior_sql() -> str:
    """Pagerank replay joined back onto the docs, weight = doc's share
    of total rank mass (1-row total, one integer DIV per doc)."""
    pr = _host_pagerank_sql()
    return f"""
        WITH ranks AS (
            SELECT host AS src_host, rank_micro FROM ({pr})
        ),
        per_doc AS (
            SELECT d.doc_id, d.src_host, r.rank_micro
            FROM (SELECT doc_id, {_SRC_HOST} AS src_host
                  FROM documents) d
            JOIN ranks r USING (src_host)
        ),
        total AS (
            SELECT CAST(SUM(rank_micro) AS BIGINT) AS total_rank
            FROM per_doc
        )
        SELECT doc_id, src_host AS host, rank_micro,
               CAST((rank_micro * 1000000) // total_rank AS BIGINT)
                   AS weight_ppm
        FROM per_doc CROSS JOIN total
    """


ORACLES["q_domain_prior"] = _domain_prior_sql()


def _crawl_pipeline_sql() -> str:
    """Full replay: WARC synthesis (one record per page) + parse via the
    shared dialect builders, href extraction + resolution via the shared
    links templates, REP verdicts via the shared robots builder, the
    canonicalizer core CTE, then the frontier group + wave window."""
    from ..operators.links import (
        dst_host_sql,
        href_all_sql,
        resolve_href_sql,
    )
    from ..operators.robots import DUCK_D, robots_exprs
    from ..sources.warc import (
        DUCK_DIALECT,
        http_block_sql,
        parse_warc_exprs,
        warc_record_sql,
    )

    d = DUCK_DIALECT
    html = _link_html_sql("VARCHAR")
    uri = f"concat('https://', {_SRC_HOST}, '/p/', CAST(doc_id AS VARCHAR))"
    rec = warc_record_sql(d, "doc_id", uri, http_block_sql(d, "'200'", html))
    e = parse_warc_exprs(d, "rec")
    allowed = robots_exprs(DUCK_D, _ROBOTS_RULES, "dst_url")["allowed"]
    return f"""
        WITH recs AS (
            SELECT substr({rec}, 11) AS rec FROM documents
        ),
        pages AS (
            SELECT CAST(regexp_extract({e['target_uri']}, '/p/([0-9]+)$', 1)
                        AS BIGINT) AS doc_id,
                   {dst_host_sql(e['target_uri'])} AS src_host,
                   {e['payload']} AS html
            FROM recs
            WHERE {e['len_ok']} AND {e['http_status']} = 200
        ),
        lx AS (
            SELECT doc_id, src_host,
                   unnest({href_all_sql("html", "duckdb")}) AS href
            FROM pages
        ),
        resolved AS (
            SELECT doc_id,
                   {resolve_href_sql('href', 'src_host')} AS dst_url
            FROM lx
        ),
        u AS (
            SELECT doc_id, dst_url AS url FROM resolved
            WHERE dst_url IS NOT NULL AND {allowed}
        ),
        {_URL_CANON_CORE},
        grouped AS (
            SELECT {dst_host_sql('canonical_url')} AS host,
                   canonical_url,
                   CAST(MIN(doc_id) AS BIGINT) AS keeper_src_doc,
                   CAST(COUNT(*) AS BIGINT) AS n_refs
            FROM canon GROUP BY 1, 2
        )
        SELECT host, canonical_url, keeper_src_doc, n_refs,
               CAST((ROW_NUMBER() OVER (PARTITION BY host
                     ORDER BY canonical_url) - 1) // {_FRONTIER_WAVE}
                    AS BIGINT) AS fetch_wave
        FROM grouped
    """


ORACLES["q_crawl_pipeline"] = _crawl_pipeline_sql()

def _html_text_sql() -> str:
    from ..operators.links import html_to_text_sql
    from ..sources.warc import DUCK_DIALECT

    txt = html_to_text_sql(DUCK_DIALECT, "html")
    return f"""
        WITH pages AS (
            SELECT doc_id, {_link_html_sql("VARCHAR")} AS html
            FROM documents
        ),
        t AS (SELECT doc_id, {txt} AS text_out FROM pages)
        SELECT doc_id, text_out,
               CAST(length(text_out) AS BIGINT) AS n_chars,
               {_N_TOKENS_SQL} AS n_tokens
        FROM t
    """


ORACLES["q_html_text_extract"] = _html_text_sql()

# contract-check oracle (the logidf pattern): the booleans pin TRUE and
# every leg is falsifiable in-plan; n_hosts is the exact node count of
# the replayed link graph, so the join/graph wiring is value-checked
ORACLES["q_hyperball_contract"] = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
           TRUE AS all_within_10pct,
           TRUE AS zeros_read_zero,
           TRUE AS top_host_agrees
    FROM (
        SELECT DISTINCT id FROM (
            SELECT src_host AS id FROM ({_link_rows_sql()})
            UNION ALL
            SELECT dst_host FROM ({_link_rows_sql()})
        )
    )
"""


def _crawl_frontier_sql() -> str:
    from ..operators.robots import DUCK_D, robots_exprs

    e = robots_exprs(DUCK_D, _ROBOTS_RULES, "canonical_url")
    return (
        """
        WITH u AS (
            SELECT doc_id, """ + _URL_SEED_DUCK + """ AS url FROM documents
        ),
        """
        + _URL_CANON_CORE
        + f""",
        frontier AS (
            SELECT canonical_url,
                   CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
            FROM canon GROUP BY 1
        ),
        verdicts AS (
            SELECT canonical_url, keeper_doc_id,
                   {e['host']} AS host,
                   {e['allowed']} AS allowed
            FROM frontier
        )
        SELECT host, canonical_url, keeper_doc_id,
               CAST((ROW_NUMBER() OVER (PARTITION BY host
                     ORDER BY canonical_url) - 1) // {_FRONTIER_WAVE}
                    AS BIGINT) AS fetch_wave
        FROM verdicts WHERE allowed
    """
    )


ORACLES["q_crawl_frontier"] = _crawl_frontier_sql()

ORACLES["q_dsir_resample"] = f"""
    WITH toks AS (
        SELECT doc_id, (lang = '{_DSIR_TARGET_LANG}') AS is_tgt,
               unnest({_TOKS_LIST}) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS src_freq,
               CAST(SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT)
                   AS tgt_freq
        FROM toks GROUP BY 1
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(f.src_freq) AS BIGINT) AS src_mass,
               CAST(SUM(f.tgt_freq) AS BIGINT) AS tgt_mass
        FROM toks t JOIN freq f ON t.tok = f.tok
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(len({_TOKS_LIST})) AS BIGINT) AS n_src,
               CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                             THEN len({_TOKS_LIST}) ELSE 0 END) AS BIGINT)
                   AS n_tgt
        FROM documents
    )
    SELECT doc_id, n_tokens, src_mass, tgt_mass,
           (CAST(tgt_mass AS DOUBLE) / CAST(src_mass AS DOUBLE)) *
           (CAST(n_src AS DOUBLE) / CAST(n_tgt AS DOUBLE)) AS imp_ratio
    FROM per_doc, tot
    ORDER BY imp_ratio DESC, doc_id ASC
    LIMIT {_DSIR_KEEP}
"""

ORACLES["q_vocab_coverage"] = f"""
    WITH freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_TOKS_LIST}) AS tok FROM documents)
        GROUP BY 1
    ),
    ranked AS (
        SELECT freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rn
        FROM freq
    ),
    agg AS (
        SELECT CAST(SUM(freq) AS BIGINT) AS total_occurrences,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               {", ".join(
        f"CAST(SUM(CASE WHEN rn <= {n} THEN freq ELSE 0 END) AS BIGINT)"
        f" AS cov_{n}" for n in _VOCAB_COVER_NS)}
        FROM ranked
    )
    SELECT total_occurrences, n_types,
           {", ".join(f"cov_{n}" for n in _VOCAB_COVER_NS)},
           {", ".join(
        f"CAST(cov_{n} AS DOUBLE) / CAST(total_occurrences AS DOUBLE)"
        f" AS share_{n}" for n in _VOCAB_COVER_NS)}
    FROM agg
"""


# C4-style phrase blocklist (Raffel et al. 2020): phrases chosen from the
# fixture vocabulary so every engine sees real hits at every SF
_BLOCKLIST = ["table table", "scan scan", "big query", "fast slow",
              "slow query"]


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-blocklist audit per (source, phrase) + '__any__' rollup —
    the C4 cleaning step as a measurable operator: zero-shuffle contains
    flags, ONE map-side-combined groupBy(source), stack over the
    sources-sized aggregate (`operators/text.blocklist_stats`)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.blocklist_stats(docs, _BLOCKLIST).select(
        "source", "phrase", "n_hit_docs", "n_docs", "hit_rate"
    )


def _blocklist_sql() -> str:
    hits = ",\n               ".join(
        f"CASE WHEN contains(lower(text), '{p}') THEN 1 ELSE 0 END AS h{i}"
        for i, p in enumerate(_BLOCKLIST)
    )
    sums = ",\n               ".join(
        f"CAST(SUM(h{i}) AS BIGINT) AS s{i}"
        for i in range(len(_BLOCKLIST))
    )
    any_expr = " + ".join(f"h{i}" for i in range(len(_BLOCKLIST)))
    rows = "\n        UNION ALL ".join(
        f"SELECT source, '{p}' AS phrase, s{i} AS n_hit_docs, n_docs, "
        f"CAST(s{i} AS DOUBLE) / CAST(n_docs AS DOUBLE) AS hit_rate FROM a"
        for i, p in enumerate(_BLOCKLIST)
    )
    return f"""
        WITH f AS (
            SELECT source,
               {hits}
            FROM documents
        ), a AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               {sums},
               CAST(SUM(CASE WHEN {any_expr} > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS sany
            FROM f GROUP BY source
        )
        {rows}
        UNION ALL SELECT source, '__any__' AS phrase, sany AS n_hit_docs,
               n_docs, CAST(sany AS DOUBLE) / CAST(n_docs AS DOUBLE)
                   AS hit_rate FROM a
    """


ORACLES["q_blocklist_filter"] = _blocklist_sql()


# ---------------------------------------------------------------------------
# positional phrase search (r9) — the third retrieval form beside BM25
# (ranked bags of words) and blocklists (plan-literal contains()):
# phrases as DATA over a positional inverted index.

_PHRASES = [
    "table table",        # self-repeating: overlapping occurrences
    "window spark",
    "table value part",   # 3-term
    "row fast",
    "quantum flux",       # zero hits — proves no-match exclusion
]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-word phrase matching over the corpus
    (`operators/phrase.phrase_match`): a positional posting list built
    in ONE tokenization pass, phrase terms joined on term, candidate
    starts witnessed per offset, a start real iff every offset is
    witnessed. Output: (phrase, doc_id, first_idx, n_matches) for docs
    containing each phrase — overlapping occurrences of the
    self-repeating fixture phrase counted positionally (the case a
    substring-count formulation gets wrong, which is why the oracle
    replays the index algorithm). Phrase frame is query-set-sized →
    broadcast under threshold; postings shuffle once on term."""
    from ..operators.phrase import phrase_match

    docs = load_table(spark, sf_dir, "documents")
    phrases = local_frame(spark, [(p,) for p in _PHRASES], "phrase string")
    return phrase_match(docs, phrases)


def _phrase_search_sql() -> str:
    from ..operators.phrase import phrase_match_oracle_sql

    return phrase_match_oracle_sql(_PHRASES)


ORACLES["q_phrase_search"] = _phrase_search_sql()


_PIC_BUCKETS = 8


def q_phrase_index_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase-search SCALE claim made falsifiable (r10; the
    `q_bucketed_join_contract` move applied to retrieval): at 100 TB the
    positional posting frame is the REUSABLE index artifact — "write it
    bucketed by term and every later phrase batch joins shuffle-free"
    (`operators/phrase.py` docstring). This row writes the postings AND
    a phrase-term batch as managed tables bucketed+sorted on term, and
    pins from the live plans and data:

    - `bucketed_zero_exchange`: the term join over the bucketed tables
      plans ZERO shuffle Exchanges (hint('merge') so the tiny fixture
      phrase side can't take the broadcast path and make the pin
      vacuous);
    - `unbucketed_shuffles`: the identical join over the raw frames
      plans >= 2 hash Exchanges — the per-batch cost the stored index
      removes;
    - `values_agree`: full-row md5-fold fingerprints of both joins'
      witness rows match (layout changes placement, never values);
    - `n_witnesses` value-checked against the DuckDB replay of the same
      postings × phrase-terms join."""
    import shutil
    from urllib.parse import urlparse

    from ..operators.phrase import TOKENS_SPARK, build_postings
    from ..operators.skew import write_bucketed
    from ..plans.inspect import count_exchanges

    docs = load_table(spark, sf_dir, "documents")
    post = build_postings(docs)
    pt = local_frame(spark, [(p,) for p in _PHRASES], "phrase string").select(
        "phrase",
        F.posexplode(F.expr(TOKENS_SPARK.format(c="phrase"))).alias(
            "off", "term"
        ),
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in ("xel_pic_post", "xel_pic_terms"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    write_bucketed(post, "xel_pic_post", "term", _PIC_BUCKETS,
                   sort_by="term")
    write_bucketed(pt, "xel_pic_terms", "term", _PIC_BUCKETS,
                    sort_by="term")
    bj = (
        spark.table("xel_pic_post")
        .hint("merge")
        .join(spark.table("xel_pic_terms"), "term")
    )
    uj = post.hint("merge").join(pt, "term")
    zero_exchange = count_exchanges(bj) == 0
    unbucketed_shuffles = count_exchanges(uj) >= 2
    fp = (
        "sum(CAST(conv(substr(md5(concat_ws('|', term, "
        "CAST(doc_id AS STRING), CAST(pos AS STRING), phrase, "
        "CAST(off AS STRING))), 1, 8), 16, 10) AS BIGINT))"
    )
    a = bj.agg(
        F.count(F.lit(1)).cast("long").alias("n_witnesses"),
        F.expr(fp).alias("_fb"),
    )
    b = uj.agg(F.expr(fp).alias("_fu"))
    return a.crossJoin(b).select(
        "n_witnesses",
        F.lit(zero_exchange).alias("bucketed_zero_exchange"),
        F.lit(unbucketed_shuffles).alias("unbucketed_shuffles"),
        (F.col("_fb") == F.col("_fu")).alias("values_agree"),
    )


def _phrase_index_contract_sql() -> str:
    from ..operators.phrase import TOKENS_DUCK

    vals = ", ".join(
        "('" + p.replace("'", "''") + "')" for p in _PHRASES
    )
    doc_toks = TOKENS_DUCK.format(c="text")
    ph_toks = TOKENS_DUCK.format(c="phrase")
    return f"""
        WITH post AS (
            SELECT doc_id, unnest(toks) AS term
            FROM (SELECT doc_id, {doc_toks} AS toks FROM documents)
        ),
        pt AS (
            SELECT unnest({ph_toks}) AS term
            FROM (SELECT * FROM (VALUES {vals}) v(phrase))
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_witnesses,
               TRUE AS bucketed_zero_exchange,
               TRUE AS unbucketed_shuffles,
               TRUE AS values_agree
        FROM post JOIN pt USING (term)
    """


ORACLES["q_phrase_index_contract"] = _phrase_index_contract_sql()
