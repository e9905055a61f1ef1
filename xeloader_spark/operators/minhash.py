"""The MinHash format: signatures, LSH band keys and signature agreement.

Every MinHash caller (the `minhash_neardup`/`minhash_search`/
`minhash_incremental` operators in `dedup.py`, the streaming twin and
the dedup query builders) reads its signatures, band keys and agreement
counts from here, so the batch, search, incremental and streaming forms
share one signature state and one band layout.

Band key: band ``b`` of a ``bands × rows`` layout is
``md5(concat_ws('#', h{b*rows}, …, h{b*rows + rows - 1}))``, melted to
long form so one equi-join on (band_idx, bk) covers all bands.
Agreement is the number of equal components of two signatures; the
estimated Jaccard is n_agree / k (collision counting over k hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import _tok_array, ngram_array_sql


def _md5_sql(j: int, x: str) -> str:
    return f"md5('{j}|' || {x})"


def _half_sql(digest: str, s: int) -> str:
    return f"substr({digest}, {1 + 16 * (s % 2)}, 16)"


def signatures(shingle_df: DataFrame, k: int = 12) -> DataFrame:
    """k-permutation MinHash signature per id over an (id, shingle) set,
    as (id, h0..h{k-1}). Hash family: md5(j||'|'||shingle) split into
    its two 16-hex-char halves — each 64-bit half is an
    independent-enough permutation, so k signatures cost ⌈k/2⌉ md5
    evaluations. The digests are materialized in a projection BEFORE the
    aggregate (interpreted agg expressions don't CSE — inline they'd be
    computed once per substring reference). Fixed-width lowercase hex
    compares lexicographically = numerically, so MIN over the hex string
    is MIN over the 64-bit value, and the DuckDB oracle replays it
    exactly. One shuffle on id.

    No distinct on the way in: MIN is duplicate-insensitive, so the
    signature is identical whether or not (id, shingle) repeats — and
    every caller feeds `dedup.shingles()` output, which is already
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
    rows-per-partition.

    Third measured NEGATIVE (keep): batch callers taking `row_signatures`
    instead. It is exceptAll-identical to this aggregate at sf0.01 and
    sf0.1, but 2–3.5× slower (4 vCPUs, noop sink, 3 reps: 0.88–0.91 vs
    0.39–0.49 s at sf0.01, 6.7–7.1 vs 1.7–2.1 s at sf0.1). It runs k
    interpreted array passes per row, one md5 per component, and its
    stages ran as 1-task stages where this shuffle spreads the work."""
    n_md5 = (k + 1) // 2
    dt = shingle_df.select(
        "id",
        *[F.expr(_md5_sql(j, "shingle")).alias(f"_m{j}") for j in range(n_md5)],
    )
    aggs = [
        F.min(F.expr(_half_sql(f"_m{s // 2}", s))).alias(f"h{s}")
        for s in range(k)
    ]
    return dt.groupBy("id").agg(*aggs)


def row_signatures(
    df: DataFrame,
    n: int = 3,
    k: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The same (id, h0..h{k-1}) as `signatures(dedup.shingles(df, n))`,
    computed entirely per row: array_min over the same md5 halves of the
    document's n-gram array (duplicates don't move a min, so skipping
    the distinct is value-neutral), with no shuffle and no aggregate.
    That is what a STREAMING pipeline needs: each doc arrives whole in
    one row, so its signature is a projection, not a groupBy (streaming
    aggregations would demand watermarks and forbid append mode
    downstream). Documents with no shingle (fewer than `n` tokens, empty
    or NULL text) get no row, as in the aggregate form.

    Measured NEGATIVE (keep): this is the streaming form only. Batch
    callers keep `signatures`, which is 2–3.5× faster on the same values
    (see its docstring)."""
    grams = df.select(
        F.col(id_col).alias("id"), F.expr(_tok_array(text_col)).alias("_toks")
    ).select("id", F.expr(ngram_array_sql("_toks", n)).alias("_sh"))
    sig_cols = [
        F.expr(
            f"array_min(transform(_sh, x -> {_half_sql(_md5_sql(s // 2, 'x'), s)}))"
        ).alias(f"h{s}")
        for s in range(k)
    ]
    # size(_sh) > 0 is exactly h0 IS NOT NULL; filtering on the array
    # keeps the h columns' nullability equal to the aggregate's
    return grams.filter("size(_sh) > 0").select("id", *sig_cols)


def band_keys(sigs: DataFrame, bands: int, rows: int, *keep: str) -> DataFrame:
    """Melt a signature frame to one row per band: (id, *keep, band_idx,
    bk). Docs agreeing on all `rows` components of a band share its
    key, so one equi-join on (band_idx, bk) finds every band's
    candidates with one shuffle instead of one per band."""
    banded = sigs
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        banded = banded.withColumn(f"band{b}", F.md5(F.concat_ws("#", *cols)))
    stack = ", ".join(f"{b}, band{b}" for b in range(bands))
    return banded.selectExpr(
        "id", *keep, f"stack({bands}, {stack}) AS (band_idx, bk)"
    )


def agreement(k: int, a: str, b: str) -> Column:
    """`n_agree`: how many of the k components `{a}{s}` and `{b}{s}` of
    two joined signatures are equal."""
    return (
        sum(
            F.when(F.col(f"{a}{s}") == F.col(f"{b}{s}"), 1).otherwise(0)
            for s in range(k)
        )
        .cast("long")
        .alias("n_agree")
    )
