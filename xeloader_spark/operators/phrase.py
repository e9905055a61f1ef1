"""Positional phrase search over an inverted index — exact multi-word
matching with QUERIES AS DATA.

`queries/text.py` already covers ranked retrieval (BM25, TF-IDF) and
literal substring blocklists (`operators/text.blocklist_stats`, the
C4-style phrase audit). What neither form gives is the retrieval-index
shape: blocklists evaluate each phrase as a plan-literal `contains()`
per row — correct for a BOUNDED phrase set, O(rows × phrases) compute,
and a new plan per phrase list — while ranked retrieval matches bags of
words, not positions. This operator is the third form (the
robots-literal vs robots-table move applied to search): a positional
posting list (term, doc, position) built ONCE, and a phrase table of
any size matched against it with equi-joins — the inverted-index
mechanics every search engine runs, expressed as three DataFrame ops.

Algorithm (Spark-first, no UDFs):
1. postings: posexplode the whitespace-normalized token array —
   (doc_id, pos, term), one shuffle-free projection per doc.
2. phrase terms: posexplode each phrase the same way — (phrase, off,
   term, n_terms). The phrase frame is query-set-sized: under the
   broadcast threshold the join ships it to every executor, above it
   the join shuffles on term (deliberately no hint — the repo's lint
   policy decides).
3. join on term; a posting at `pos` matching phrase offset `off`
   witnesses a candidate phrase start at `pos - off`. Group by (doc,
   phrase, start): the start is a TRUE match iff all n_terms offsets
   are witnessed — count(*) = n_terms, since each offset contributes
   at most one (pos = start + off is unique per offset). Repeated
   terms inside a phrase ('table table') fall out naturally: one
   posting row witnesses BOTH offsets at two different starts, and
   overlapping occurrences each get their own start — the case
   substring-count oracles get wrong, which is why the DuckDB oracle
   replays this algorithm instead.

Scale shape: the posting build is the corpus's ONE tokenization pass
(at 100 TB this frame is the reusable index artifact — write it
bucketed by term and every later phrase batch joins shuffle-free); the
candidate frame after the term join carries only (doc, phrase, start)
triples for docs containing phrase terms. Hot-term skew (a phrase
starting with a stopword floods the join) is the known lever:
df-stoplist the posting side or AQE skew-join, the same treatment as
`winnow_overlap_pairs`' hot fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# whitespace-normalized token array; the Spark literal needs the
# double-escaped \\s (Spark SQL string literals process C escapes)
TOKENS_SPARK = "filter(split(lower({c}), '\\\\s+'), x -> x != '')"
TOKENS_DUCK = (
    "list_filter(regexp_split_to_array(lower({c}), '\\s+'), x -> x != '')"
)


def build_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The positional posting frame: (id, pos, term), pos 0-based.
    Zero shuffles — tokenize + posexplode in one codegen stage."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.expr(TOKENS_SPARK.format(c=text_col))).alias(
            "pos", "term"
        ),
    )


def phrase_match(
    df: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Match every phrase in `phrases` (a DataFrame — queries as data)
    against every document, positionally exact. Returns one row per
    (phrase, doc) WITH at least one occurrence: first_idx = 0-based
    token index of the earliest occurrence, n_matches = occurrence
    count (overlapping occurrences of self-repeating phrases counted
    separately, as a position-aware matcher must)."""
    post = build_postings(df, text_col=text_col, id_col=id_col)
    # dedupe the phrase table first (r9 review): a duplicated phrase row
    # doubles every offset witness, so counts hit 2·n_terms at true
    # matches (dropped) and n_terms at half-matches (false positives).
    # The phrase side is query-set-sized and broadcast, so it is deduped
    # in one partition: no shuffle of its own before the broadcast
    pterms = (
        phrases.select(F.col(phrase_col).alias("phrase"))
        .coalesce(1)
        .distinct()
        .select(
            "phrase",
            F.expr(
                f"size({TOKENS_SPARK.format(c='phrase')})"
            ).cast("long").alias("n_terms"),
            F.posexplode(
                F.expr(TOKENS_SPARK.format(c="phrase"))
            ).alias("off", "term"),
        )
        .filter(F.col("n_terms") >= 1)
    )
    hits = (
        post.join(pterms, "term")
        .select(
            F.col(id_col),
            "phrase",
            "n_terms",
            (F.col("pos") - F.col("off")).alias("start"),
        )
        .filter(F.col("start") >= 0)
    )
    starts = (
        hits.groupBy(id_col, "phrase", "n_terms", "start")
        .agg(F.count(F.lit(1)).alias("_nw"))
        .filter(F.col("_nw") == F.col("n_terms"))
    )
    return starts.groupBy("phrase", id_col).agg(
        F.min("start").cast("long").alias("first_idx"),
        F.count(F.lit(1)).cast("long").alias("n_matches"),
    )


def phrase_match_oracle_sql(
    phrases: list[str], table: str = "documents"
) -> str:
    """DuckDB replay of `phrase_match` over `table(doc_id, text)` for a
    literal phrase list: the same postings → offset join → witness
    count algorithm (a substring-count formulation would undercount
    overlapping occurrences of self-repeating phrases — the exact case
    the positional matcher exists for). Parallel unnest +
    generate_subscripts emit (term, pos) pairs aligned by position."""
    # dict.fromkeys: dedupe while keeping order (the operator dedupes
    # its phrase table the same way)
    vals = ", ".join(
        "('" + p.replace("'", "''") + "')" for p in dict.fromkeys(phrases)
    )
    doc_toks = TOKENS_DUCK.format(c="text")
    ph_toks = TOKENS_DUCK.format(c="phrase")
    return f"""
        WITH post AS (
            SELECT doc_id, unnest(toks) AS term,
                   generate_subscripts(toks, 1) - 1 AS pos
            FROM (SELECT doc_id, {doc_toks} AS toks FROM {table})
        ),
        pterms AS (
            SELECT phrase, CAST(len(toks_p) AS BIGINT) AS n_terms,
                   unnest(toks_p) AS term,
                   generate_subscripts(toks_p, 1) - 1 AS off
            FROM (
                SELECT phrase, {ph_toks} AS toks_p
                FROM (VALUES {vals}) v(phrase)
            )
            WHERE len(toks_p) >= 1
        ),
        starts AS (
            SELECT doc_id, phrase, start FROM (
                SELECT p.doc_id, t.phrase, t.n_terms,
                       p.pos - t.off AS start
                FROM post p JOIN pterms t ON p.term = t.term
                WHERE p.pos - t.off >= 0
            )
            GROUP BY doc_id, phrase, n_terms, start
            HAVING COUNT(*) = n_terms
        )
        SELECT phrase, doc_id,
               CAST(MIN(start) AS BIGINT) AS first_idx,
               CAST(COUNT(*) AS BIGINT) AS n_matches
        FROM starts GROUP BY 1, 2
    """
