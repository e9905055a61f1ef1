"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Everything is built-in column expressions (JVM, whole-stage codegen) and
single-pass per document — no shuffles at all except where an aggregate is
requested; ratios stay bigint/bigint → double so results are
engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..plans.truncate import registered_local_checkpoint, round_truncate
from .kernels import local_frame

# Marker stopwords per language for the n-gram-free heuristic language ID.
# Deliberately tiny: language ID here is a deterministic scoring operator,
# not a model; swap the marker table for a real lexicon in production.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "la", "los", "y", "es", "una"),
}

STOPWORDS_EN = LANG_MARKERS["en"]

# BPE-ish word-piece pattern: letter runs, digit runs, or single
# non-space symbols — the shape (not the vocab) of byte-pair tokenizers.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tok_array(text_col: str) -> str:
    return f"filter(split({text_col}, '\\\\s+'), x -> x != '')"


def simpson_stats_sql(arr_sql: str) -> str:
    """Per-row token-count statistics in O(n log n), not O(u·n): sort the
    token array once, then a SINGLE run-length `aggregate` pass yields
    STRUCT(num BIGINT, u BIGINT) where num = Σ c_i·(c_i−1) (the unbiased
    Simpson repeat numerator) and u = distinct token count.

    Replaces the earlier `transform(array_distinct(a), t ->
    size(filter(a, x -> x = t)))` form, which is value-identical but
    quadratic per row — fine on fixture-length docs, a CPU trap on
    pretraining-shaped corpora where one document can run to 10⁵–10⁶
    tokens (10⁹+ comparisons pinning a task for minutes). Corpus
    scale-up multiplies rows, not doc length, so the sorted run-length
    form keeps per-row cost bounded at any corpus SF.

    All arithmetic is BIGINT with a pinned operation order, so the
    grouped-count DuckDB oracle replays it exactly. The empty array
    yields (0, 0); tokens are never NULL (the tokenizer filters '')."""
    return (
        "aggregate("
        f"sort_array({arr_sql}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, "
        "'acc', 0L, 'u', 0L), "
        "(s, x) -> IF(s.prev IS NOT NULL AND x = s.prev, "
        "named_struct('prev', x, 'run', s.run + 1L, 'acc', s.acc, "
        "'u', s.u), "
        "named_struct('prev', x, 'run', 1L, "
        "'acc', s.acc + s.run * (s.run - 1L), 'u', s.u + 1L)), "
        "s -> named_struct('num', s.acc + s.run * (s.run - 1L), 'u', s.u))"
    )


def marker_count(text_col: str, markers: tuple[str, ...]) -> Column:
    """Count tokens that are marker words — via array intersection size,
    not regex (regex word-boundary semantics differ across engines)."""
    toks = _tok_array(text_col)
    quoted = ",".join(f"'{m}'" for m in markers)
    return F.expr(
        f"size(filter({toks}, x -> array_contains(array({quoted}), x)))"
    ).cast("long")


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: score each language by marker-token count,
    argmax with deterministic tie-break (score desc, language name asc);
    'und' when nothing matches."""
    scored = df
    for lang, markers in LANG_MARKERS.items():
        scored = scored.withColumn(f"score_{lang}", marker_count(text_col, markers))
    best = None
    for lang in sorted(LANG_MARKERS):
        cand = F.struct(
            F.col(f"score_{lang}").alias("score"),
            F.lit(lang).alias("lang"),
        )
        best = cand if best is None else F.when(
            (cand["score"] > best["score"]), cand
        ).otherwise(best)
    return scored.withColumn(
        "lang_guess",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality statistics: char/token counts, mean token
    length, punctuation/digit/stopword ratios, whitespace + BPE-ish token
    counts."""
    toks = _tok_array(text_col)
    n_chars = F.length(text_col).cast("long")
    n_tokens = F.expr(f"size({toks})").cast("long")
    n_punct = (
        n_chars - F.length(F.regexp_replace(text_col, r"[^A-Za-z0-9\s]", ""))
    ).cast("long")
    n_digit = (
        n_chars - F.length(F.regexp_replace(text_col, r"[0-9]", ""))
    ).cast("long")
    n_stop = marker_count(text_col, STOPWORDS_EN)
    n_bpe = F.regexp_count(F.col(text_col), F.lit(BPE_ISH_RE)).cast("long")
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "avg_token_len",
            F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn("punct_ratio", n_punct / n_chars)
        .withColumn("digit_ratio", n_digit / n_chars)
        .withColumn(
            "stopword_ratio",
            F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0)),
        )
        .withColumn("n_bpe_tokens", n_bpe)
    )


def quality_flag(
    df: DataFrame,
    min_tokens: int = 10,
    max_punct_ratio: float = 0.3,
) -> DataFrame:
    """Boolean keep/drop decision from the stats — the filter stage of a
    data-cleaning pipeline."""
    need = {"n_tokens", "punct_ratio"}
    if not need.issubset(set(df.columns)):
        df = text_stats(df)
    return df.withColumn(
        "quality_ok",
        (F.col("n_tokens") >= min_tokens) & (F.col("punct_ratio") <= max_punct_ratio),
    )


def repetition_stats(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Intra-document repetition: total vs distinct word n-grams and the
    repeated fraction (1 - distinct/total) — the boilerplate/spam signal
    quality filters key on. Entirely array-side (one narrow projection,
    no explode, no shuffle); the token array is materialized once so the
    interpreted higher-order functions don't re-split the text."""
    toks = _tok_array(text_col)
    sh = (
        f"CASE WHEN size(_toks) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(_toks) - {n}), "
        f"i -> array_join(slice(_toks, i + 1, {n}), ' ')) END"
    )
    return (
        df.withColumn("_toks", F.expr(toks))
        .withColumn("_sh", F.expr(sh))
        .withColumn("n_ngrams", F.expr("size(_sh)").cast("long"))
        .withColumn("n_distinct_ngrams", F.expr("size(array_distinct(_sh))").cast("long"))
        .withColumn(
            "rep_ratio",
            F.when(
                F.col("n_ngrams") > 0,
                (F.col("n_ngrams") - F.col("n_distinct_ngrams")) / F.col("n_ngrams"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_toks", "_sh")
    )


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style quality rules (Rae et al. 2021, "Scaling Language
    Models", appendix A — the public MassiveWeb filter recipe), one
    boolean per rule plus the conjunction:

    - word count within [min_words, max_words];
    - mean word length within [min_mean_word_len, max_mean_word_len];
    - symbol-to-word ratio (# and ... occurrences / words) below cap;
    - >= min_alpha_word_ratio of words contain an alphabetic char;
    - at least min_stop_hits stopword occurrences.

    Defaults are tuned down from the paper's web-scale numbers (50 words
    min) to the synthetic corpus; production callers pass the paper's
    values. All single-pass array/regex expressions — no shuffle, no UDF,
    whole-stage codegen."""
    toks = _tok_array(text_col)
    n_words = F.expr(f"size({toks})").cast("long")
    # mean over word lengths (not chars/words — separators excluded)
    sum_word_len = F.expr(
        f"aggregate({toks}, 0L, (acc, x) -> acc + length(x))"
    ).cast("long")
    n_symbols = (
        F.regexp_count(F.col(text_col), F.lit(r"#")).cast("long")
        + F.regexp_count(F.col(text_col), F.lit(r"\.\.\.")).cast("long")
    )
    n_alpha_words = F.expr(
        f"size(filter({toks}, x -> x rlike '[A-Za-z]'))"
    ).cast("long")
    n_stop = marker_count(text_col, STOPWORDS_EN)
    mean_wl = F.when(n_words > 0, sum_word_len / n_words).otherwise(F.lit(0.0))
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn(
            "rule_word_count",
            (n_words >= min_words) & (n_words <= max_words),
        )
        .withColumn(
            "rule_mean_word_len",
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len),
        )
        .withColumn(
            "rule_symbol_ratio",
            F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
            <= max_symbol_word_ratio,
        )
        .withColumn(
            "rule_alpha_words",
            F.when(n_words > 0, n_alpha_words / n_words).otherwise(F.lit(0.0))
            >= min_alpha_word_ratio,
        )
        .withColumn("rule_stopwords", n_stop >= min_stop_hits)
    )
    return out.withColumn(
        "gopher_keep",
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_symbol_ratio")
        & F.col("rule_alpha_words")
        & F.col("rule_stopwords"),
    )


# PII patterns restricted to the Java-regex ∩ RE2 dialect (no lookaround,
# no backrefs) so the same pattern string runs in Spark and the oracle.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub PII from text: count then replace emails, phone numbers and
    IPv4 literals with <EMAIL>/<PHONE>/<IPV4> placeholders — the standard
    pre-training privacy pass. Order matters: emails first (an address
    would otherwise survive as user@<IP> if the host looks numeric),
    phones before bare IP matching. Pure regexp expressions — no UDF, one
    narrow projection."""
    out = df
    redacted = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}",
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long"),
        )
    for kind, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"<{kind.upper()}>")
    return out.withColumn("redacted", redacted)


def unigram_doc_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-unigram document score — the exact-arithmetic stand-in for
    LM-perplexity quality filtering (public CC recipes score docs with a
    KenLM model; the engine-checkable analogue is the corpus's own
    unigram distribution). Per doc: `sum_freq` = sum over token
    OCCURRENCES of that token's corpus count (integer, exact) and
    `mean_tok_prob` = sum_freq / (n_tokens · total_tokens) — low means
    the doc is dominated by rare tokens (gibberish / OCR noise), high
    means boilerplate-common vocabulary.

    Scale shape: one explode, one count-agg shuffle on token, a
    token-frequency join that REUSES that partitioning (the agg output is
    already hash-partitioned on token, so only the probe side shuffles),
    then one agg shuffle on doc_id. Vocabulary never broadcasts and the
    text column never shuffles — only (id, token) pairs move. The corpus
    token total is a 1-row aggregate broadcast back via cross join (NOT a
    grand-total window, which would funnel the per-doc frame through one
    task)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(_tok_array(text_col))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_freq"))
    per_doc = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tok_freq").alias("sum_freq"),
        )
    )
    # corpus token total as a scalar aggregate straight off the docs
    # scan: map-side partial sums mean only one partial row per task
    # crosses the wire — far cheaper than re-aggregating the exploded
    # (id, token) pairs
    total = df.agg(
        F.sum(F.expr(f"size({_tok_array(text_col)})").cast("long")).alias(
            "_total_tokens"
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "sum_freq",
        (
            F.col("sum_freq").cast("double")
            / (
                F.col("n_tokens").cast("double")
                * F.col("_total_tokens").cast("double")
            )
        ).alias("mean_tok_prob"),
    )


def bigram_array_sql() -> str:
    """The (w1, w2) bigram struct array over a `_toks` column — THE
    template for every bigram consumer (stupid backoff batch + stream,
    Kneser-Ney): one definition so the LM family cannot drift."""
    return (
        "CASE WHEN size(_toks) < 2 THEN array() "
        "ELSE transform(sequence(1, size(_toks) - 1), "
        "i -> named_struct('w1', element_at(_toks, i), "
        "'w2', element_at(_toks, i + 1))) END"
    )


def backoff_contrib_sql(scale: int, n_sql: str) -> str:
    """The stupid-backoff per-position score CASE over joined
    c_bi/c_w1/c_w2 columns, with the train token total injected as a
    SQL fragment (`_n_train` column in batch, an L-suffixed literal in
    the frozen-stats stream) — one template, both consumers."""
    s = int(scale)
    return (
        f"CASE WHEN c_bi IS NOT NULL THEN (c_bi * {s}L) DIV c_w1 "
        f"WHEN {n_sql} IS NULL OR {n_sql} = 0 THEN 0L "
        f"ELSE (2 * {s}L * coalesce(c_w2, 0L)) DIV (5 * {n_sql}) END"
    )


def backoff_train_stats(
    train: DataFrame,
    text_col: str = "text",
    checkpoint: bool = True,
    pre_tokenized: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stupid-backoff training over a (sub)corpus: (bigram table with
    folded c(w1), unigram table, 1-row N total). Both count tables are
    localCheckpoint-ed by default — each has 2+ downstream consumers
    and their lineage is a corpus tokenize + explode + aggregate, the
    r5 reused-frames trap. N is derived from the unigram table
    (Σ c_uni ≡ token count), NOT another corpus scan. Pass
    ``pre_tokenized=True`` when `text_col` already holds the token
    array."""
    base = train.select(
        (
            F.col(text_col) if pre_tokenized
            else F.expr(_tok_array(text_col))
        ).alias("_toks")
    )
    ug = (
        base.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_uni"))
    )
    if checkpoint:
        ug = ug.transform(registered_local_checkpoint)
    bi = (
        base.select(F.explode(F.expr(bigram_array_sql())).alias("_b"))
        .select(F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_bi"))
        # fold c(w1) in once at train time: scoring then needs only two
        # probe joins instead of three
        .join(
            ug.withColumnRenamed("w", "w1").withColumnRenamed(
                "c_uni", "c_w1"
            ),
            "w1",
        )
    )
    if checkpoint:
        bi = bi.transform(registered_local_checkpoint)
    n_train = ug.agg(F.sum("c_uni").cast("long").alias("_n_train"))
    return bi, ug, n_train


def bigram_stupid_backoff(
    df: DataFrame,
    scale: int = 1_000_000,
    train_salt: str = "lmtrain",
    train_thr: int = 5_000,
    buckets: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram LM quality scoring with stupid backoff (Brants et al.
    2007, the public large-LM recipe): train bigram/unigram counts on
    an md5-gated ~train_thr/buckets split of the corpus, score the
    HELD-OUT documents with the per-position score
    S(w₂|w₁) = c(w₁w₂)/c(w₁) if the bigram was seen in training, else
    α·c(w₂)/N with α = 0.4 = 2/5 exact — the engine-checkable stand-in
    for KenLM-perplexity filtering one level up from
    `unigram_doc_score` (held-out split, so backoff actually fires;
    scoring in-corpus would make every bigram "seen").

    Everything is scaled-integer (one DIV per position, α as the exact
    rational 2/5, BIGINT sums); the ONE reported float is the final
    mean = sum_score / n_bigrams division. Per doc: n_bigrams,
    n_backoff (positions that fell to the unigram), sum_score_scaled,
    mean_prob_scaled.

    Scale shape: two count aggregates over the TRAIN split (bigram,
    unigram — digest-sized pairs, map-side combined, BOTH
    localCheckpoint-ed: each has 2+ consumers and replaying their
    tokenize+explode lineage per consumer is the r5 reused-frames
    trap), the unigram counts folded into the bigram table once at
    train time (vocab-sized join), N derived from the unigram table
    (Σ c_uni — no extra corpus scan), then the held-out bigrams probe
    with two hash joins and ONE doc_id aggregate. The text column
    never shuffles; the 1-row N total rides a broadcast cross join.
    Templates (`bigram_array_sql`, `backoff_contrib_sql`) are shared
    with the Kneser-Ney scorer and the stream-static twin, so the LM
    family cannot drift. Overflow headroom: c₁₂·scale ≤ 2⁶³ needs
    train bigram counts under ~9·10¹² at the default scale — any real
    corpus qualifies."""
    from .sampling import hash_bucket

    toks = _tok_array(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(toks).alias("_toks"),
        (hash_bucket(F.col(id_col), train_salt, buckets) < int(train_thr)).alias(
            "_is_train"
        ),
    )
    heldout = base.filter(~F.col("_is_train"))

    # checkpointed count tables + derived N (see backoff_train_stats:
    # the r5 reused-frames rule — each table has 2+ consumers)
    train_bi, train_ug, n_train = backoff_train_stats(
        base.filter(F.col("_is_train")),
        text_col="_toks",
        pre_tokenized=True,
    )

    score_bi = heldout.select(
        "doc_id", F.explode(F.expr(bigram_array_sql())).alias("_b")
    ).select(
        "doc_id",
        F.col("_b.w1").alias("w1"),
        F.col("_b.w2").alias("w2"),
    )
    scored = (
        score_bi.join(train_bi, ["w1", "w2"], "left")
        .join(
            train_ug.withColumnRenamed("w", "w2").withColumnRenamed(
                "c_uni", "c_w2"
            ),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(n_train))
        .select(
            "doc_id",
            F.expr(backoff_contrib_sql(scale, "_n_train")).alias("_s"),
            F.expr("CASE WHEN c_bi IS NULL THEN 1L ELSE 0L END").alias("_bo"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_bo").cast("long").alias("n_backoff"),
        F.sum("_s").cast("long").alias("sum_score_scaled"),
    )
    # keep every held-out doc, including those with < 2 tokens
    return (
        heldout.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("n_backoff", F.lit(0)).cast("long").alias("n_backoff"),
            F.coalesce("sum_score_scaled", F.lit(0))
            .cast("long")
            .alias("sum_score_scaled"),
            F.expr(
                "CASE WHEN coalesce(n_bigrams, 0L) = 0 THEN CAST(0.0 AS DOUBLE) "
                "ELSE CAST(sum_score_scaled AS DOUBLE)"
                " / CAST(n_bigrams AS DOUBLE) END"
            ).alias("mean_prob_scaled"),
        )
    )


def kneser_ney_score(
    df: DataFrame,
    scale: int = 1_000_000,
    train_salt: str = "lmtrain",
    train_thr: int = 5_000,
    buckets: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated bigram Kneser-Ney scoring (Kneser & Ney 1995; the
    interpolated form of Chen & Goodman 1998) — the textbook smoothing
    — made ENGINE-EXACT: the discount D = 0.75 is the exact rational
    3/4, continuation probability is a ratio of distinct-bigram-type
    counts, and every per-position probability is evaluated in scaled
    BIGINT with a pinned operation order:

        Pcont(w₂)  = (nprec(w₂) · S) DIV n_types
        seen ctx:  P = (max(4·c₁₂ − 3, 0) · S) DIV (4·c₁)
                     + (3 · nfollow(w₁) · Pcont) DIV (4·c₁)
        unseen ctx: P = Pcont

    with c₁ = Σ_w c(w₁w) (the bigram-context count), nfollow/nprec the
    distinct continuation type counts, n_types the total distinct
    bigram types. The fixed-point nesting (two DIVs instead of one real
    division) is NOT numerically identical to the float formula — it is
    deterministically LOWER by < 2/S per term — but both engines replay
    the identical op order, so the score hash-checks exactly, and the
    ordering it induces matches the float form beyond ulp-level ties
    (pytest pins a float-reference comparison). Same md5-gated
    train/held-out split as `bigram_stupid_backoff` (same salt), so the
    two quality scores are comparable doc-for-doc.

    Per held-out doc: n_bigrams, n_unseen_ctx (positions whose context
    never appeared in training — scored by continuation alone),
    sum_score_scaled, and the ONE-division mean.

    Scale shape: ONE bigram aggregate over the train split feeds three
    digest-sized derived tables (per-w₁ context stats, per-w₂
    continuation counts, the 1-row type total); held-out bigrams probe
    with two hash joins; one doc_id aggregate. Overflow headroom:
    4·c₁₂·S under 2⁶³ needs train bigram counts below ~2·10¹² at the
    default scale — halve `scale` past that."""
    from .sampling import hash_bucket

    toks = _tok_array(text_col)
    bigrams = bigram_array_sql()
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(toks).alias("_toks"),
        (hash_bucket(F.col(id_col), train_salt, buckets) < int(train_thr)).alias(
            "_is_train"
        ),
    )
    train_bi = (
        base.filter(F.col("_is_train"))
        .select(F.explode(F.expr(bigrams)).alias("_b"))
        .select(F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_bi"))
        # one shuffle on (w1,w2); the three stats tables derive from it
        .transform(registered_local_checkpoint)
    )
    ctx = train_bi.groupBy("w1").agg(
        F.sum("c_bi").cast("long").alias("c_ctx"),
        F.count(F.lit(1)).cast("long").alias("n_follow"),
    )
    cont = train_bi.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_prec")
    )
    n_types = train_bi.agg(
        F.count(F.lit(1)).cast("long").alias("_n_types")
    )

    score_bi = (
        base.filter(~F.col("_is_train"))
        .select("doc_id", F.explode(F.expr(bigrams)).alias("_b"))
        .select(
            "doc_id",
            F.col("_b.w1").alias("w1"),
            F.col("_b.w2").alias("w2"),
        )
    )
    s = int(scale)
    scored = (
        score_bi.join(train_bi, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(n_types))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN _n_types IS NULL OR _n_types = 0 THEN 0L "
                f"ELSE (coalesce(n_prec, 0L) * {s}L) DIV _n_types END"
            ).alias("_pcont"),
            "c_bi",
            "c_ctx",
            "n_follow",
        )
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN c_ctx IS NULL THEN _pcont "
                f"ELSE (greatest(4 * coalesce(c_bi, 0L) - 3, 0L) * {s}L)"
                f" DIV (4 * c_ctx)"
                f" + (3 * n_follow * _pcont) DIV (4 * c_ctx) END"
            ).alias("_p"),
            F.expr("CASE WHEN c_ctx IS NULL THEN 1L ELSE 0L END").alias(
                "_unseen"
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_unseen").cast("long").alias("n_unseen_ctx"),
        F.sum("_p").cast("long").alias("sum_score_scaled"),
    )
    return (
        base.filter(~F.col("_is_train"))
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("n_unseen_ctx", F.lit(0))
            .cast("long")
            .alias("n_unseen_ctx"),
            F.coalesce("sum_score_scaled", F.lit(0))
            .cast("long")
            .alias("sum_score_scaled"),
            F.expr(
                "CASE WHEN coalesce(n_bigrams, 0L) = 0 THEN CAST(0.0 AS DOUBLE) "
                "ELSE CAST(sum_score_scaled AS DOUBLE)"
                " / CAST(n_bigrams AS DOUBLE) END"
            ).alias("mean_prob_scaled"),
        )
    )


def tfidf_search(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 20,
    idf_scale: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword search with TF-IDF ranking — the relevance-scored corpus
    search a data-curation UI runs ("show me the docs most about X").
    Scoring is INTEGER-exact so a SQL oracle can hash-match it: idf is
    the scaled integer quotient (n_docs · idf_scale) DIV df(term) (no
    logarithm — log is the one piece of libm that may differ by an ulp
    across engines), and score = Σ_term tf · idf, a BIGINT.

    Shape: one map-side-combined aggregate collapses the corpus to a
    single (n_docs, df…) stats row that broadcasts back via cross join;
    the probe pass computes per-term tf array-side (zero shuffle, zero
    explode — the query has few terms, so tf is a fixed column set, not
    a join against an inverted index); top-k compiles to
    TakeOrderedAndProject with a doc-id tie-break. Two narrow corpus
    scans total, nothing wide ever shuffles."""
    for t in terms:
        if "'" in t or "\\" in t:
            raise ValueError(f"term must not contain quotes/backslashes: {t!r}")
    toks = _tok_array(text_col)
    base = df.select(F.col(id_col), F.expr(toks).alias("_toks"))
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(
                F.expr(f"CASE WHEN array_contains(_toks, '{t}') THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias(f"_df{i}")
            for i, t in enumerate(terms)
        ],
    )
    probe = base.crossJoin(F.broadcast(stats))
    tf_cols = [
        F.expr(f"CAST(size(filter(_toks, x -> x = '{t}')) AS BIGINT)").alias(
            f"_tf{i}"
        )
        for i, t in enumerate(terms)
    ]
    idf = [
        f"CASE WHEN _df{i} = 0 THEN 0 ELSE (n_docs * {int(idf_scale)}) DIV _df{i} END"
        for i in range(len(terms))
    ]
    scored = probe.select(F.col(id_col), "n_docs", *tf_cols, *[F.col(f"_df{i}") for i in range(len(terms))]).select(
        F.col(id_col),
        sum(
            (F.expr(f"CASE WHEN _tf{i} > 0 THEN 1 ELSE 0 END") for i in range(len(terms))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_matched"),
        sum(
            (F.expr(f"_tf{i} * ({e})") for i, e in enumerate(idf)), F.lit(0)
        )
        .cast("long")
        .alias("score"),
    )
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(int(k))
    )


def bm25_dlnorm_sql(n_docs_sql: str, tot_len_sql: str, dl_scale: int) -> str:
    """dl/avgdl as ONE scaled-integer DIV over a `_dl` column:
    avgdl = tot_len/n_docs so dl/avgdl = dl·n_docs/tot_len. The corpus
    stats arrive as SQL fragments — column refs on the batch path
    (`bm25_topk`'s 1-row stats cross join), int literals on the frozen-
    stats streaming path (`streaming/bm25_stream`) — so both paths share
    one template and stay arithmetically identical."""
    return f"(_dl * {n_docs_sql} * {int(dl_scale)}) DIV {tot_len_sql}"


def bm25_contrib_sqls(
    n_terms: int,
    k1: tuple[int, int],
    b: tuple[int, int],
    idf_scale: int,
    sat_scale: int,
    dl_scale: int,
    n_docs_sql: str,
    df_sqls: list[str],
) -> list[str]:
    """Per-term integer BM25 contributions (RSJ-ratio idf × scaled
    saturation) over `_tf{i}` / `_dlnorm` columns, with the corpus stats
    (N, per-term df) injected as SQL fragments — the single template the
    batch operator and the frozen-stats streaming twin both render, so
    their scores cannot drift."""
    a, c = (int(k1[0]), int(k1[1]))
    p, q = (int(b[0]), int(b[1]))
    sat_num = f"(_tf{{i}} * {(a + c) * q * int(dl_scale) * int(sat_scale)})"
    sat_den = (
        f"({c * q * int(dl_scale)} * _tf{{i}}"
        f" + {a * (q - p) * int(dl_scale)}"
        f" + {a * p} * _dlnorm)"
    )
    idf = [
        f"CASE WHEN {df_sqls[i]} = 0 THEN 0"
        f" ELSE ((2 * ({n_docs_sql} - {df_sqls[i]}) + 1) * {int(idf_scale)})"
        f" DIV (2 * {df_sqls[i]} + 1) END"
        for i in range(n_terms)
    ]
    return [
        f"CASE WHEN _tf{i} = 0 THEN 0 ELSE"
        f" (({idf[i]}) * ({sat_num.format(i=i)} DIV {sat_den.format(i=i)}))"
        f" DIV {int(sat_scale)} END"
        for i in range(n_terms)
    ]


def bm25_topk(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 20,
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    idf_scale: int = 1_000_000,
    sat_scale: int = 10_000,
    dl_scale: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_form: str = "rsj",
) -> DataFrame:
    """BM25 ranked retrieval over the corpus, INTEGER-exact end to end so
    a SQL oracle can hash-match it. The two non-rational pieces of
    textbook BM25 are replaced by deterministic fixed-point forms:

    - idf: the RSJ ratio (N - df + 0.5)/(df + 0.5) kept as a scaled
      integer quotient instead of its logarithm (log is the one libm
      call that may drift an ulp across engines; the ratio preserves the
      same df ordering).

      RANKING CONSEQUENCE (not just a determinism note): scores are NOT
      Lucene/log-idf compatible. Per term the ratio and its log order
      documents identically, but the ratio grows ~N/df while the log
      grows ~ln(N/df), so in MULTI-term sums rare terms carry
      proportionally MORE weight than textbook BM25 gives them — two
      documents matching different term subsets can swap ranks vs
      Lucene when the terms' dfs differ by orders of magnitude (a
      one-rare-term match can outrank a several-common-terms match
      that log-idf would prefer). Callers wanting textbook scores pass
      ``idf_form="log"``: the float twin with idf = ln(1 + (N − df +
      0.5)/(df + 0.5)) (Lucene's form) and float saturation — not
      hash-checkable cross-engine (libm), so its driver row is an
      in-plan contract check (`queries/text.q_bm25_topk_logidf`:
      RSJ-overlap floor + idf rank agreement, oracle pins TRUE); the
      default stays the exact-checked ratio.
    - length-normalized saturation tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)):
      k1 and b are exact rationals (defaults 6/5 and 3/4), dl/avgdl is
      the scaled integer (dl·N·dl_scale) DIV total_len, and the whole
      term is one scaled integer division — every intermediate is a
      BIGINT with a pinned operation order, identical in Spark and
      DuckDB.

    score = Σ_term (idf_int · satur_int) DIV sat_scale, a BIGINT sum.
    Overflow headroom at the default scales: idf_int ≲ 0.7·N·idf_scale
    and dl·N·dl_scale must stay under 2^63 — safe to ~10^8 docs /
    ~10^10 total positions; past that, halve the scales or move the
    accumulator to DECIMAL(38,0) (the arithmetic stays exact either
    way).

    Shape mirrors `tfidf_search`: one map-side-combined aggregate
    collapses the corpus to a single (n_docs, total_len, df…) stats row
    that broadcasts back via cross join; tf/dl are computed array-side
    per document (zero shuffle, zero explode); top-k compiles to
    TakeOrderedAndProject with a doc-id tie-break. Two narrow corpus
    scans total."""
    for t in terms:
        if "'" in t or "\\" in t:
            raise ValueError(f"term must not contain quotes/backslashes: {t!r}")
    if idf_form not in ("rsj", "log"):
        raise ValueError(f"idf_form must be 'rsj' or 'log', got {idf_form!r}")
    a, c = (int(k1[0]), int(k1[1]))
    p, q = (int(b[0]), int(b[1]))
    toks = _tok_array(text_col)
    base = df.select(
        F.col(id_col),
        F.expr(toks).alias("_toks"),
    ).withColumn("_dl", F.expr("CAST(size(_toks) AS BIGINT)"))
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_dl").cast("long").alias("tot_len"),
        *[
            F.sum(
                F.expr(f"CASE WHEN array_contains(_toks, '{t}') THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias(f"_df{i}")
            for i, t in enumerate(terms)
        ],
    )
    probe = base.crossJoin(F.broadcast(stats))
    tf_cols = [
        F.expr(f"CAST(size(filter(_toks, x -> x = '{t}')) AS BIGINT)").alias(
            f"_tf{i}"
        )
        for i, t in enumerate(terms)
    ]
    # dl/avgdl as a scaled integer: avgdl = tot_len / n_docs, so
    # dl/avgdl = dl·n_docs/tot_len — one DIV, no intermediate float.
    dl_norm = bm25_dlnorm_sql("n_docs", "tot_len", dl_scale)
    if idf_form == "rsj":
        contrib = bm25_contrib_sqls(
            len(terms), k1, b, idf_scale, sat_scale, dl_scale,
            n_docs_sql="n_docs",
            df_sqls=[f"_df{i}" for i in range(len(terms))],
        )
        score_type = "long"
    else:
        # textbook float twin: Lucene's idf = ln(1 + (N−df+0.5)/(df+0.5))
        # and float saturation tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
        # k1 = a/c, b = p/q. Rows-only checkable (libm log).
        k1f, bf = a / c, p / q
        idf_log = [
            f"ln(1.0d + (CAST(n_docs - _df{i} AS DOUBLE) + 0.5d)"
            f" / (CAST(_df{i} AS DOUBLE) + 0.5d))"
            for i in range(len(terms))
        ]
        sat_f = (
            f"(CAST(_tf{{i}} AS DOUBLE) * {k1f + 1.0!r})"
            f" / (CAST(_tf{{i}} AS DOUBLE) + {k1f!r} * ({1.0 - bf!r}"
            f" + {bf!r} * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)"
            f" / CAST(tot_len AS DOUBLE)))"
        )
        contrib = [
            f"CASE WHEN _tf{i} = 0 THEN 0.0d ELSE"
            f" ({idf_log[i]}) * ({sat_f.format(i=i)}) END"
            for i in range(len(terms))
        ]
        score_type = "double"
    scored = probe.select(
        F.col(id_col),
        F.col("_dl").alias("dl"),
        F.expr(dl_norm).alias("_dlnorm"),
        "n_docs",
        "tot_len",
        *tf_cols,
        *[F.col(f"_df{i}") for i in range(len(terms))],
    ).select(
        F.col(id_col),
        F.col("dl"),
        sum(
            (F.expr(f"CASE WHEN _tf{i} > 0 THEN 1 ELSE 0 END") for i in range(len(terms))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_matched"),
        sum((F.expr(e) for e in contrib), F.lit(0))
        .cast(score_type)
        .alias("score"),
    )
    return (
        scored.filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(int(k))
    )


def bm25_passages(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 20,
    passage_len: int = 32,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    pkey_base: int = 10_000,
    **bm25_kwargs,
) -> DataFrame:
    """Passage-level BM25 — the RAG retrieval shape: documents are
    chunked into overlapping token windows (`passage_len` tokens,
    `stride` apart, short tails and sub-window docs kept whole) and the
    windows are ranked by the same integer-exact BM25 as `bm25_topk`,
    so relevance lands on the passage a generator would actually be fed,
    not the whole document.

    Chunking is one array-side transform + posexplode (no join, no extra
    scan); each passage becomes a row keyed `doc_id·pkey_base + pidx`
    and the scorer runs unchanged over the passage corpus — stats
    (n passages, total length, per-term df) still collapse to one
    broadcast row. Returns (doc_id, pidx, dl, n_matched, score), top-k
    by (score desc, key asc). `pkey_base` bounds passages per doc; docs
    needing more are a chunking-policy smell at any scale."""
    P, S = int(passage_len), int(stride)
    if S <= 0 or P <= 0:
        raise ValueError("passage_len and stride must be positive")
    toks = _tok_array(text_col)
    # The token array is bound ONCE in its own projection (`_tk`): the
    # window transform runs interpreted (HOF, no codegen CSE), so an
    # inlined split would re-tokenize the full document once per window
    # reference — the same per-row duplication the winnowing fingerprints
    # fix removed (r13, −67% there). Same expressions over `_tk`, same
    # values.
    nw = (
        f"CASE WHEN size(_tk) = 0 THEN 0 "
        f"ELSE 1 + CAST((greatest(0, size(_tk) - {P}) + {S} - 1) / {S} AS INT) END"
    )
    windows = (
        f"CASE WHEN ({nw}) <= 0 THEN array() "
        f"ELSE transform(sequence(0, ({nw}) - 1), "
        f"w -> array_join(slice(_tk, w * {S} + 1, {P}), ' ')) END"
    )
    passages = df.select(
        F.col(id_col), F.expr(toks).alias("_tk")
    ).select(
        F.col(id_col), F.posexplode(F.expr(windows)).alias("pidx", "ptext")
    ).select(
        (F.col(id_col) * pkey_base + F.col("pidx")).alias("pkey"),
        F.col("ptext").alias(text_col),
    )
    scored = bm25_topk(
        passages, terms, k=k, text_col=text_col, id_col="pkey", **bm25_kwargs
    )
    return scored.select(
        F.expr(f"pkey DIV {pkey_base}").alias(id_col),
        (F.col("pkey") % pkey_base).cast("long").alias("pidx"),
        "dl",
        "n_matched",
        "score",
    )


# URL-canonicalization dialect hooks (r10): the percent-case and
# dot-segment steps render from ONE builder into the Spark plan and the
# DuckDB oracle (the robots `rule_match_sql` discipline) — hand-mirrored
# CTEs were the drift risk these normalizations would have doubled.
CANON_SPARK = {
    "split": lambda x, sep: f"split({x}, '{sep}')",
    "at": lambda a, i: f"element_at({a}, {i})",
    "tail": lambda a: f"slice({a}, 2, greatest(size({a}) - 1, 0))",
    "transform": lambda a, lam: f"transform({a}, {lam})",
    "join": lambda a, sep: f"array_join({a}, '{sep}')",
    "fold": lambda a, init, lam: f"aggregate({a}, {init}, {lam})",
    # let-binding via a 1-element transform (the robots.py discipline):
    # HOF lambdas are evaluated INTERPRETED (no codegen CSE), so a
    # subexpression referenced N times is computed N times unless
    # bound once here
    "let": lambda val, var, body: (
        f"element_at(transform(array({val}), {var} -> {body}), 1)"
    ),
    "hex2int": lambda h: f"CAST(conv({h}, 16, 10) AS INT)",
}
CANON_DUCK = {
    "split": lambda x, sep: f"string_split({x}, '{sep}')",
    "at": lambda a, i: f"({a})[{i}]",
    "tail": lambda a: f"list_slice({a}, 2, len({a}))",
    "transform": lambda a, lam: f"list_transform({a}, {lam})",
    "join": lambda a, sep: f"array_to_string({a}, '{sep}')",
    "fold": lambda a, init, lam: (
        f"list_reduce(list_prepend({init}, {a}), {lam})"
    ),
    "let": lambda val, var, body: (
        f"(list_transform([{val}], {var} -> {body}))[1]"
    ),
    "hex2int": lambda h: f"CAST('0x' || {h} AS INT)",
}


def pct_upper_sql(d: dict, x: str) -> str:
    """RFC 3986 §6.2.2 percent-encoding normalization: §6.2.2.2 decodes
    octets of UNRESERVED characters [A-Za-z0-9._~-] ('%6C' and 'l' are
    the SAME path char, so '%41rticles'-style encodings must not split
    dedup keys), and §6.2.2.1 uppercases the hex digits of everything
    that stays encoded ('%3a' → '%3A': reserved octets like %2F are
    DIFFERENT from their decoded char in paths/queries, so they keep
    the escape). Split on '%'; each later chunk starting with two hex
    digits carries an octet — its code decides decode-vs-upper via the
    numeric unreserved ranges (48-57, 65-90, 97-122, {45,46,95,126}),
    checked BEFORE chr() so no chr(0)/high-codepoint call ever runs on
    non-unreserved octets. A chunk NOT starting with two hex digits was
    a bare '%' in the input and is re-emitted verbatim — lossless on
    malformed URLs. The octet code is let-bound (interpreted HOF
    lambdas get no CSE)."""
    arr = d["split"](x, "%")
    code = d["hex2int"]("substr(wc, 1, 2)")
    decode_or_upper = d["let"](
        code,
        "wcode",
        "CASE WHEN (wcode BETWEEN 48 AND 57) OR (wcode BETWEEN 65 AND 90)"
        " OR (wcode BETWEEN 97 AND 122) OR wcode IN (45, 46, 95, 126)"
        " THEN concat(chr(wcode), substr(wc, 3))"
        " ELSE concat('%', upper(substr(wc, 1, 2)), substr(wc, 3)) END",
    )
    fixed = d["transform"](
        d["tail"](arr),
        "wc -> CASE WHEN "
        "regexp_extract(wc, '^[0-9a-fA-F]{2}', 0) <> '' "
        f"THEN {decode_or_upper} "
        "ELSE concat('%', wc) END",
    )
    return f"concat({d['at'](arr, 1)}, {d['join'](fixed, '')})"


def remove_dot_segments_sql(d: dict, path_sql: str) -> str:
    """RFC 3986 §5.2.4 dot-segment removal over an absolute path:
    '/a/./b/../c' → '/a/c' — relative links resolved against a base
    routinely leave './'/'../' in crawl frontiers, and without this
    step the SAME page gets distinct dedup keys. One fold over the
    path's segments building a segment stack as a string ('.' skips,
    '..' pops to the previous '/', anything else — including the ''
    segments of '//' runs, which RFC keeps distinct — pushes);
    popping past the root stays at root. A path reduced to nothing
    comes back '/'; the empty path stays empty (the caller's
    empty→'/' default owns that case). Trailing-slash distinctions
    ('/a/.' vs '/a/..') die in the caller's existing trailing-slash
    strip, so the fold doesn't track them.

    Both ``path_sql`` (the caller passes the whole percent-normalize
    composite) and the fold are let-bound so each evaluates ONCE per
    row — the r11 verbatim splice evaluated path_sql twice (the
    empty-path test and the split) and the fold twice (the WHEN and
    ELSE arms); interpreted HOF lambdas get no codegen CSE
    (ADVICE r11 #1)."""
    lam = (
        "(wacc, ws) -> CASE WHEN ws = '.' THEN wacc "
        "WHEN ws = '..' THEN left(wacc, length(wacc) "
        "- instr(reverse(wacc), '/')) "
        "ELSE concat(wacc, '/', ws) END"
    )
    folded = d["fold"](d["tail"](d["split"]("wrp", "/")), "''", lam)
    return d["let"](
        path_sql,
        "wrp",
        d["let"](
            folded,
            "wrf",
            "CASE WHEN wrp = '' THEN '' "
            "WHEN wrf = '' THEN '/' ELSE wrf END",
        ),
    )


def url_canonicalize(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "canonical_url",
    strip_param_prefixes: tuple[str, ...] = ("utm_", "fbclid="),
) -> DataFrame:
    """Canonical URL normalization — the web-crawl dedup key (Common
    Crawl-style pipelines dedup by canonical URL before any content
    pass). Collapses the variance that makes byte-identical pages look
    distinct: scheme/host case, default ports (:80/:443), tracking
    params (utm_*, fbclid), query-parameter order, fragments, trailing
    slashes, (r10) RFC 3986 dot segments ('/a/./b/../c' → '/a/c'), and
    (r11) full §6.2.2 percent normalization — unreserved octets decode
    ('%6C' → 'l'), reserved ones stay encoded uppercase ('%2f' → '%2F').

    Pure string/array expressions (regexp_extract + split + filter +
    array_sort + array_join + the two shared-builder normalizations),
    zero shuffles, engine-deterministic — the whole normalization
    replays in the oracle. Param filtering compares exact prefixes via
    substr (LIKE's `_` wildcard would make 'utm_%' match 'utmX…').
    The expensive composites (the dot-segment+pct fold over the path,
    the sorted query string) are let-bound via the 1-element-transform
    discipline — interpreted HOF lambdas get no codegen CSE, so the
    r10 verbatim splice evaluated the fold 2-3× per row (VERDICT r10
    #1)."""
    u = url_col
    d = CANON_SPARK
    scheme = f"lower(regexp_extract({u}, '^([a-zA-Z]+)://', 1))"
    hostport = (
        f"regexp_replace(lower(regexp_extract({u}, '^[a-zA-Z]+://([^/?#]+)', 1)),"
        f" ':(443|80)$', '')"
    )
    path = remove_dot_segments_sql(
        d,
        pct_upper_sql(
            d,
            f"regexp_extract({u}, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1)",
        ),
    )
    # bind the folded path ONCE, then the trailing-slash strip ONCE
    path_norm = d["let"](
        path,
        "wcp",
        d["let"](
            "regexp_replace(wcp, '/+$', '')",
            "wcs",
            "CASE WHEN wcs = '' THEN '/' ELSE wcs END",
        ),
    )
    keep = " AND ".join(
        f"substr(x, 1, {len(p)}) != '{p}'" for p in strip_param_prefixes
    )
    qraw = pct_upper_sql(
        d, f"regexp_extract({u}, '\\\\?([^#]*)', 1)"
    )
    qcanon = (
        f"array_join(array_sort(filter(split({qraw}, '&'), "
        f"x -> x != '' AND {keep})), '&')"
    )
    qpart = d["let"](
        qcanon,
        "wcq",
        "CASE WHEN wcq = '' THEN '' ELSE concat('?', wcq) END",
    )
    canonical = (
        f"concat({scheme}, '://', {hostport}, {path_norm}, {qpart})"
    )
    return df.withColumn(out_col, F.expr(canonical))


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whole-document fingerprint: md5 over the normalized text (lowercase,
    whitespace collapsed) — the exact-dedup key that survives formatting
    noise."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


def rolling_fingerprint(df: DataFrame, text_col: str = "text", n: int = 5) -> DataFrame:
    """Winnowing-style content fingerprint: the minimum shingle hash over
    word n-grams — stable under local edits, usable as a near-dup
    pre-cluster key. Array-side, no explode."""
    toks = _tok_array(text_col)
    # Token array let-bound once per row via the single-element-transform
    # trick (`_rt`): the window transform runs interpreted, so the inlined
    # split used to re-tokenize the document once per window reference
    # (the winnowing/bm25_passages defect, r13). Same expressions over
    # the bound array, same values.
    sh = (
        f"CASE WHEN size(_rt) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(_rt) - {n}), "
        f"i -> md5(array_join(slice(_rt, i + 1, {n}), ' '))) END"
    )
    return df.withColumn(
        "rolling_fp",
        F.expr(
            f"element_at(transform(array({toks}), _rt -> array_min({sh})), 1)"
        ),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm, public): hash every word k-gram, slide a
    window of `w` consecutive hashes, and in each window select the
    RIGHTMOST minimal hash; the distinct (position, hash) selections are
    the fingerprint set. Guarantee: any shared run of ≥ w + k − 1 tokens
    between two documents shares at least one fingerprint — the
    partial-overlap detector that a single whole-doc min hash
    (`rolling_fingerprint`) cannot provide, at density ~2/(w+1).

    Returns one row per selected fingerprint: (doc_id, pos, fp) with
    `pos` the 0-based k-gram position and `fp` a 60-bit integer hash
    (15-hex md5 prefix — engine-identical, the repo's standard hash
    gate, BIGINT-safe; r8 widened from 32-bit, whose ~50% birthday-
    collision odds by ~77k distinct k-grams would inflate spurious
    shared-fingerprint pairs at corpus scale — 60 bits pushes that
    envelope past 10^9 k-grams).

    Scale shape: everything is array HOFs over the doc's own tokens
    (O(T·w) per row, w a small constant) followed by ONE explode of the
    already-selected fingerprints (~2·T/(w+1) rows, not T·w) — zero
    shuffles, zero joins; the corpus text never moves. Docs shorter
    than w+k−1 tokens yield their single minimal hash (one window over
    whatever k-grams exist); docs shorter than k yield nothing."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    # r13: bind the token array once per row (`_t`) — the inlined
    # `_tok_array` string was re-splitting the text 3× per row (two
    # size() probes + the slice source); and let-bind each window's
    # slice via the single-element-transform trick (ADVICE r11 #1's
    # let-binding discipline) so slice/array_min run once per window
    # instead of 3×/2×. Same expressions over the same values —
    # bit-identical output, oracle untouched. Note
    # least(size(_h) − j, w) ≡ size(slice(_h, j+1, w)) = size(s).
    hashes = (
        f"CASE WHEN size(_t) < {k} THEN array() "
        f"ELSE transform(sequence(0, size(_t) - {k}), "
        f"i -> CAST(conv(substr(md5(array_join("
        f"slice(_t, i + 1, {k}), ' ')), 1, 15), 16, 10) AS BIGINT)) END"
    )
    # window j covers hashes[j .. j+wlen-1]; rightmost min via the
    # first position of the min in the REVERSED slice
    sel = (
        "CASE WHEN size(_h) = 0 THEN array() ELSE array_distinct("
        f"transform(sequence(0, greatest(size(_h) - {w}, 0)), j -> "
        f"transform(array(slice(_h, j + 1, {w})), s -> "
        "named_struct('pos', j + size(s) - "
        "array_position(reverse(s), array_min(s)), "
        "'fp', array_min(s)))[0])) END"
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.expr(_tok_array(text_col)).alias("_t"),
        )
        .select("doc_id", F.expr(hashes).alias("_h"))
        .select("doc_id", F.explode(F.expr(sel)).alias("_s"))
        .select(
            "doc_id",
            F.col("_s.pos").cast("long").alias("pos"),
            F.col("_s.fp").alias("fp"),
        )
    )


# ------------------------------------------------------------------ BPE train

# Symbol-boundary markers for the BPE segmentation string: each symbol is
# wrapped \x02…\x03, so a merge of (l, r) is the LITERAL replace of
# "\x02l\x03\x02r\x03" with "\x02lr\x03" — matches can only align on whole
# symbols (a pattern starts with \x02, which precedes only symbol starts),
# and literal replace is left-to-right non-overlapping in Spark, Python,
# and DuckDB alike, which is exactly BPE's greedy merge order. \x1e joins
# (l, r) into one sortable pair key.
BPE_L = "\x02"
BPE_R = "\x03"
BPE_PK = "\x1e"
_BPE_CTRL = "[\x02\x03\x1e]"


def _sql_str(s: str) -> str:
    """Render a python string as a Spark SQL string literal. Merge symbols
    come from arbitrary corpus tokens, so quotes and backslashes must be
    escaped or the generated expression breaks (or silently changes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_train(
    df: DataFrame,
    iters: int = 5,
    text_col: str = "text",
    checkpoint_every: int = 16,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Iterative BPE merge training (Sennrich et al. 2016, the public
    algorithm): `iters` rounds of count-adjacent-pairs → merge the most
    frequent pair everywhere, run on the canonical word-count table.

    Scale shape: the corpus collapses ONCE to (word, count) — vocabulary,
    not corpus, is the working set from then on (the same trick the
    original implementation uses: a dict of word → count). Each round is
    one map-side-combined aggregate over the vocab's adjacent pairs plus
    a top-1 collect (the merge rule — driver-sized model state, like the
    k-means centroids), and the merge itself is a literal string replace
    projection. T rounds = T vocab-sized scans; the corpus is read once.

    Returns (merge_round, left_sym, right_sym, n) — one row per learned
    merge, assembled on the driver from the T collected rules. Ties break
    by pair key ascending, so the rule sequence is engine-deterministic.

    Plan growth is bounded: each merge appends one replace projection to
    `segs`, so every `checkpoint_every` rounds the frame is truncated
    via ``plans.truncate.round_truncate`` (executor-local by default;
    pass `checkpoint_dir` for the fault-tolerant reliable path,
    materializing the vocab-sized working set either way). A realistic tokenizer train (10³–10⁴ merges)
    therefore keeps both the logical plan and the driver round-trip O(k)
    per action instead of O(total merges).
    """
    spark = df.sparkSession
    toks = df.select(F.explode(F.expr(_tok_array(text_col))).alias("tok"))
    words = (
        toks.filter(~F.col("tok").rlike(_BPE_CTRL))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    seg0 = words.select(
        "wc",
        F.expr(
            "array_join(transform(sequence(1, length(tok)), "
            "i -> concat(char(2), substring(tok, i, 1), char(3))), '')"
        ).alias("seg"),
    ).persist()

    merges: list[tuple[int, str, str, int]] = []
    segs = seg0
    for rnd in range(1, iters + 1):
        pairs = segs.withColumn(
            "arr",
            F.expr(
                "filter(split(seg, concat('[', char(2), char(3), ']+')), "
                "x -> x != '')"
            ),
        ).select(
            "wc",
            F.explode(
                F.expr(
                    "CASE WHEN size(arr) < 2 THEN array() "
                    "ELSE transform(sequence(1, size(arr) - 1), "
                    "i -> concat(element_at(arr, i), char(30), "
                    "element_at(arr, i + 1))) END"
                )
            ).alias("pk"),
        )
        best = (
            pairs.groupBy("pk")
            .agg(F.sum("wc").alias("n"))
            .orderBy(F.desc("n"), F.asc("pk"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right = best[0].pk.split(BPE_PK)
        merges.append((rnd, left, right, best[0].n))
        segs = segs.withColumn(
            "seg",
            F.replace(
                F.col("seg"),
                F.lit(f"{BPE_L}{left}{BPE_R}{BPE_L}{right}{BPE_R}"),
                F.lit(f"{BPE_L}{left}{right}{BPE_R}"),
            ),
        )
        if checkpoint_every and rnd % checkpoint_every == 0:
            # per-round loop truncation — goes through the knob so
            # production trains can use reliable checkpoints (r10); the
            # registry frees the local blocks at release_persisted()
            segs = round_truncate(segs, checkpoint_dir)
    seg0.unpersist()
    return local_frame(
        spark, merges, "merge_round int, left_sym string, right_sym string, n long"
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply trained BPE merges to the corpus — the USE side of
    `bpe_train`: per document, every word is boundary-marked and the
    merge rules replay in training order as literal replaces (identical
    greedy semantics), yielding the post-merge token count.

    The rules live in the plan as literals, so encoding is a pure
    projection — tokenizing 100 TB costs one scan, zero shuffles, like
    the packed-model classifier inference. Output: (doc_id,
    n_base_symbols, n_bpe_tokens) — characters before merging vs tokens
    after; the gap is how much the learned vocabulary compresses."""
    seg = (
        "array_join(transform(sequence(1, length(t)), "
        "i -> concat(char(2), substring(t, i, 1), char(3))), '')"
    )
    enc = seg
    for left, right in merges:
        # merge symbols are corpus-derived: escape them before they are
        # interpolated into the SQL expression (an apostrophe or backslash
        # token must not break or alter the generated replace)
        pat = _sql_str(f"{BPE_L}{left}{BPE_R}{BPE_L}{right}{BPE_R}")
        rep = _sql_str(f"{BPE_L}{left}{right}{BPE_R}")
        enc = f"replace({enc}, {pat}, {rep})"
    n_tok = (
        f"size(filter(split({enc}, concat('[', char(2), char(3), ']+')), "
        "x -> x != ''))"
    )
    words = (
        f"filter({_tok_array(text_col)}, t -> t not rlike '{_BPE_CTRL}')"
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"aggregate(transform({words}, t -> length(t)), 0L, "
            "(a, v) -> a + v)"
        ).alias("n_base_symbols"),
        F.expr(
            f"aggregate(transform({words}, t -> CAST({n_tok} AS BIGINT)), "
            "0L, (a, v) -> a + v)"
        ).alias("n_bpe_tokens"),
    )


def bigram_doc_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", scale: int = 1_000_000
) -> DataFrame:
    """Bigram-LM document scoring with unigram backoff — one step up from
    `unigram_doc_score` toward the KenLM-style perplexity filter, still
    engine-exact: per adjacent token pair (w1, w2), the contribution is
    the scaled integer conditional probability ``(c12 · scale) div c1``
    when the corpus has independent evidence for the bigram (c12 > 1 —
    seen beyond this one occurrence), else the discounted unigram
    backoff ``(c2 · scale) div (10 · total_tokens)`` — integer division
    throughout, no logarithms. High ``mean_scaled_prob`` = predictable
    text; low = rare transitions (gibberish / OCR noise).

    Scale shape: two count aggregates (bigram, unigram — both shuffle
    digest-sized keys with map-side combine), a bigram-count join that
    reuses the aggregate's partitioning, a broadcast unigram join for the
    backoff, one per-doc aggregate. Documents never shuffle as text."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.expr(_tok_array(text_col))).alias("ord", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("ord")
    pairs = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), F.col("nxt").alias("w2"))
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    total = toks.count()
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .join(
            # vocab-sized (Heaps'-law sub-linear, but still ~1e8 distinct
            # tokens at 100 TB) — no broadcast hint; optimizer decides
            uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c2")),
            "w2",
        )
        .withColumn(
            "p_scaled",
            F.when(
                F.col("c12") > 1,
                F.expr(f"CAST((c12 * {scale}) div c1 AS BIGINT)"),
            ).otherwise(
                F.expr(f"CAST((c2 * {scale}) div (10 * {total}L) AS BIGINT)")
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("p_scaled").alias("sum_scaled_prob"),
        (F.sum("p_scaled") / F.count(F.lit(1))).alias("mean_scaled_prob"),
    )


def boilerplate_prefix(
    df: DataFrame,
    prefix_len: int = 8,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Header/footer boilerplate detection — the line-frequency cleaning
    step of C4/CCNet-style corpus pipelines, at token granularity (this
    engine's document model is a token stream, not a line file): digest
    the first and the last `prefix_len` tokens of every document, count
    each digest's document frequency across the corpus, and flag
    documents whose prefix/suffix repeats in >= `min_df` documents
    (shared headers / footers / navigation chrome).

    Scale shape: the corpus text collapses to a slim (id, 2 digests)
    projection before anything shuffles; the two df counts are windows
    over that projection (digest-keyed shuffles of ~32-byte rows with
    map-side partial aggregation under AQE). At extreme scale swap the
    windows for an aggregate filtered to df >= min_df and broadcast the
    hot-digest set — boilerplate digests are few by definition; the
    full-df window form is kept here because the per-document df is part
    of the audited output. No reference analog (XELoader is a loader,
    not a corpus cleaner); extension per SURVEY §6."""
    from pyspark.sql import Window

    toks = _tok_array(text_col)
    slim = df.select(
        F.col(id_col),
        F.md5(
            F.expr(f"array_join(slice({toks}, 1, {prefix_len}), ' ')")
        ).alias("prefix_digest"),
        F.md5(
            F.expr(
                f"array_join(slice({toks}, "
                f"greatest(1, size({toks}) - {prefix_len - 1}), {prefix_len}), ' ')"
            )
        ).alias("suffix_digest"),
    )
    pw = Window.partitionBy("prefix_digest")
    sw = Window.partitionBy("suffix_digest")
    return slim.select(
        id_col,
        "prefix_digest",
        F.count(F.lit(1)).over(pw).alias("prefix_df"),
        "suffix_digest",
        F.count(F.lit(1)).over(sw).alias("suffix_df"),
        (F.count(F.lit(1)).over(pw) >= min_df).alias("boiler_prefix"),
        (F.count(F.lit(1)).over(sw) >= min_df).alias("boiler_suffix"),
    )


def vocab_stats(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group vocabulary statistics: token count, distinct types,
    hapax-legomena count, and type/token ratio — the Heaps'-law corpus
    diagnostics a data-mix curator watches while scaling a source up.
    Scale shape: explode → (group, tok) count with map-side partial
    aggregation (the only corpus-sized shuffle, token-sized rows), then a
    group-sized second aggregate. All counts integer; the ratio is one
    bigint/bigint division so it is engine-deterministic."""
    toks = df.select(
        F.col(group_col),
        F.explode(F.expr(_tok_array(text_col))).alias("tok"),
    )
    counts = toks.groupBy(group_col, "tok").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy(group_col).agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        (F.count(F.lit(1)) / F.sum("n")).alias("type_token_ratio"),
    )


def token_freq_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf diagnostic: frequency-of-frequency histogram — how many
    distinct token types occur with a count of each decimal order of
    magnitude (magnitude = digits in the count, an exact integer bucket
    both engines compute identically — no floating log). A healthy
    natural-language corpus shows the Zipf signature (many hapaxes, few
    high-magnitude types); a corpus dominated by high-magnitude types is
    template/boilerplate-heavy. Same scale shape as `vocab_stats`: one
    token-sized shuffle, then vocabulary-sized aggregates."""
    toks = df.select(F.explode(F.expr(_tok_array(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy(
        F.length(F.col("n").cast("string")).cast("int").alias("magnitude")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("n").alias("n_occurrences"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    top_k: int = 100,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over adjacent
    token bigrams — the classic phrase-mining signal (Church & Hanks
    1990, public method) a tokenizer/vocab curator runs before merging
    multiword units.

    Emits the PMI *ratio* p(xy)/(p(x)p(y)) = n_xy·N / (n_x·n_y) rather
    than its log: log is monotone, so ranking and thresholds are
    unchanged, and the ratio is two pinned-order IEEE multiplies and one
    divide over exact integers — bit-identical across engines, where
    log2's rounding is not. Marginals n_x / n_y are first-position /
    second-position bigram counts, so every number derives from ONE
    bigram count table.

    Scale shape: the corpus collapses to (w1, w2) pair counts in one
    map-side-combined shuffle (token-sized rows, text never moves);
    marginals are type-sized re-aggregates of that table; N is one
    scalar broadcast back; top-k is TakeOrderedAndProject with a total
    (ratio, w1, w2) tie-break so the selected SET is engine-exact."""
    toks = df.select(F.expr(_tok_array(text_col)).alias("toks")).filter(
        F.expr("size(toks) >= 2")
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    c = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    lx = c.groupBy("w1").agg(F.sum("n_xy").cast("long").alias("n_x"))
    ry = c.groupBy("w2").agg(F.sum("n_xy").cast("long").alias("n_y"))
    n = c.agg(F.sum("n_xy").cast("long").alias("nb"))
    ratio = (
        F.col("n_xy").cast("double") * F.col("nb").cast("double")
    ) / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    return (
        c.join(lx, "w1")
        .join(ry, "w2")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_xy") >= min_count)
        .select("w1", "w2", "n_xy", "n_x", "n_y", ratio.alias("pmi_ratio"))
        .orderBy(F.desc("pmi_ratio"), F.asc("w1"), F.asc("w2"))
        .limit(top_k)
    )


def category_diversity(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Per-group categorical concentration diagnostics for data-mix
    curation: how dominated is each group (e.g. language) by its top
    category (e.g. source)?

    Emits the Gini-Simpson index 1 − Σ(n_i/N)² and the top-category
    share — both exact integer rationals finished by ONE IEEE division
    ((N² − Σn_i²)/N², max n_i/N), so values are engine-exact without
    any entropy/log whose cross-engine rounding is unpinned (Simpson
    diversity is the standard log-free alternative).

    Scale: one (group, cat) count shuffle (map-side combined), then a
    group-sized re-aggregate. Both outputs are bounded [0, 1]."""
    c = df.groupBy(group_col, cat_col).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    g = c.groupBy(group_col).agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cats"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        F.max("n").cast("long").alias("top_n"),
    )
    n2 = F.col("n_rows") * F.col("n_rows")
    return g.select(
        group_col,
        "n_rows",
        "n_cats",
        "top_n",
        ((n2 - F.col("sum_sq")).cast("double") / n2.cast("double")).alias(
            "gini_simpson"
        ),
        (F.col("top_n").cast("double") / F.col("n_rows").cast("double")).alias(
            "top_share"
        ),
    )


def dsir_scores(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance score (Xie et al. 2023, the public
    data-selection-via-importance-resampling recipe) with the repo's
    log-free exact arithmetic: a doc's importance is how much more
    probable its tokens are under the TARGET unigram distribution (the
    rows matching ``target_pred``) than under the full-corpus source
    distribution.

    Per doc: ``tgt_mass`` = Σ over token occurrences of the token's
    target-corpus count, ``src_mass`` = same against the full corpus
    (both exact integers; src_mass ≥ the doc's own contribution, so it
    is never zero). The ratio estimate is

        imp_ratio = (tgt_mass / src_mass) · (N_src / N_tgt)

    — two exact-integer IEEE divisions and one multiply, identical
    bit-for-bit across engines (DSIR's log-likelihood-ratio ordering is
    monotone in this ratio for unigram features; logs would be the one
    libm call whose rounding differs cross-engine). Docs with no token
    in the target vocabulary score 0.

    Scale shape (mirrors `unigram_doc_score`): one explode, one
    count-agg shuffle on token producing BOTH frequency columns in the
    same aggregate (the target count is a conditional sum — no second
    scan, no second shuffle), a token join that reuses the agg's hash
    partitioning, one doc agg; the two corpus totals ride along as
    1-row aggregates broadcast back via cross join. Only (id, token)
    pairs ever move; the text column never shuffles."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        target_pred.cast("boolean").alias("_is_tgt"),
        F.explode(F.expr(_tok_array(text_col))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("src_freq"),
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0))
        .cast("long")
        .alias("tgt_freq"),
    )
    per_doc = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("src_freq").alias("src_mass"),
            F.sum("tgt_freq").alias("tgt_mass"),
        )
    )
    totals = df.agg(
        F.sum(F.expr(f"size({_tok_array(text_col)})"))
        .cast("long")
        .alias("_n_src"),
        F.sum(
            F.when(
                target_pred, F.expr(f"size({_tok_array(text_col)})")
            ).otherwise(0)
        )
        .cast("long")
        .alias("_n_tgt"),
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_tokens",
        "src_mass",
        "tgt_mass",
        (
            (F.col("tgt_mass").cast("double") / F.col("src_mass").cast("double"))
            * (F.col("_n_src").cast("double") / F.col("_n_tgt").cast("double"))
        ).alias("imp_ratio"),
    )


def blocklist_stats(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Phrase-blocklist audit, the C4-style cleaning step (Raffel et al.
    2020 §2.2 drop documents containing blocklisted phrases): per
    (source, phrase) the number of documents whose lowercased text
    contains the phrase, plus a synthetic '__any__' row per source for
    the any-phrase-blocked count — the numbers a curator reads before
    deciding to drop (and the drop itself is the trivial
    `NOT contains(...)` filter of the same flags).

    Scale shape: the per-phrase flags are a ZERO-shuffle codegen
    projection (`contains` over the lowercased text, no tokenization, no
    explode); the only shuffle is ONE map-side-combined groupBy(source)
    whose output is |sources| rows; the stack to (source, phrase) long
    form runs on that already-tiny aggregate. Phrase count enters the
    plan as literals — at 100 TB nothing but the source column and
    |phrases| int flags per row ever reaches the exchange.
    """
    flags = df.select(
        F.col(source_col).alias("source"),
        *[
            F.expr(
                f"CAST(contains(lower({text_col}), '{p}') AS INT)"
            ).alias(f"_h{i}")
            for i, p in enumerate(phrases)
        ],
    ).withColumn(
        "_hany",
        F.expr(
            "CAST(("
            + " + ".join(f"_h{i}" for i in range(len(phrases)))
            + ") > 0 AS INT)"
        ),
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(f"_h{i}").cast("long").alias(f"_s{i}")
            for i in range(len(phrases))
        ],
        F.sum("_hany").cast("long").alias("_sany"),
    )
    pairs = ", ".join(
        [f"'{p}', _s{i}" for i, p in enumerate(phrases)]
        + ["'__any__', _sany"]
    )
    return agg.selectExpr(
        "source",
        f"stack({len(phrases) + 1}, {pairs}) AS (phrase, n_hit_docs)",
        "n_docs",
    ).select(
        "source",
        "phrase",
        "n_hit_docs",
        "n_docs",
        (F.col("n_hit_docs").cast("double") / F.col("n_docs").cast("double"))
        .alias("hit_rate"),
    )
