"""Hashed-feature linear document classifier (domain / quality filtering).

Public recipe provenance: CCNet (Wenzek et al., LREC 2020) filters
CommonCrawl by scoring every document with a fastText linear classifier
trained to recognize a target domain; fastText itself (Joulin et al.,
EACL 2017) is a linear model over hashed token features. This module is
that shape, re-expressed engine-exact so a SQL oracle can hash-match it:

- **features**: token → md5 bucket in ``[0, n_buckets)`` — the same
  md5-prefix arithmetic as `sampling.hash_bucket`, which the samplers and
  the count-min sketch already replay in DuckDB.
- **weights**: Laplace-smoothed per-class conditional probabilities as
  SCALED INTEGERS: ``w(c,b) = ((cnt(c,b)+1) · SCALE) div (total(c)+n_buckets)``
  (integer division; no logarithm — libm logs differ by ulps across
  engines, and the argmax of a linear scorer doesn't need them; the same
  trick as `text.tfidf_search`).
- **score**: ``score(doc,c) = Σ_buckets tf(doc,b) · w(c,b)`` — a BIGINT.
- **prediction**: argmax over classes, ties to the smallest class name.

Scale shape (the 100 TB story): the model is ``n_classes × n_buckets``
rows — tiny and *dense* (every bucket materialized, so unseen features
hit the smoothing weight through a plain inner join) — and broadcasts to
every executor. The corpus crosses the wire once as (doc_id, bucket, tf)
triples (map-side combined token counts), never as text. Training is one
explode + two count aggregations; scoring is one broadcast join + one
(doc_id, class) aggregation + a per-doc argmax window. No all-pairs
space, no driver collect, no Python UDF anywhere.

Reference parity note: XELoader has no classifier (it is a loader); this
operator belongs to the training-data-pipeline surface the engine adds
on top (SURVEY.md §2 extension family, alongside dedup and quality
scoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sampling import hash_bucket
from .text import _tok_array

SCALE = 1_000_000
N_BUCKETS = 512
FEAT_SALT = "feat"


def hashed_token_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    salt: str = FEAT_SALT,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id[, keep_cols…], bucket, tf): hashed bag-of-words per doc.

    One explode + one map-side-combined count aggregation; the text
    column never leaves the scan stage — only (id, bucket) pairs shuffle.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.explode(F.expr(_tok_array(text_col))).alias("tok"),
    )
    return (
        toks.select(
            "doc_id", *keep_cols, hash_bucket("tok", salt, n_buckets)
        )
        .groupBy("doc_id", *keep_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def hashed_class_tf(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    salt: str = FEAT_SALT,
) -> DataFrame:
    """(label, bucket, tf=1) token rows straight off the corpus — the
    TRAINING-side feed for `train_hashed_linear`, without the per-doc
    aggregation `hashed_token_features` pays.

    Training only ever consumes Σ_docs tf(doc, bucket) per (label,
    bucket) — identical to counting tokens directly — so the per-doc
    groupBy is a pure cost on this path: its key space is docs ×
    buckets (millions of groups, near-zero map-side reduction, one full
    token-sized exchange), while grouping by (label, bucket) directly
    collapses to n_classes × n_buckets groups that partial aggregation
    crushes before the shuffle (guide §2.3 "aggregate before you
    shuffle"; r14 — the oracle's tr_feat CTE already aggregates this
    way). Scoring still needs per-doc tf and keeps using
    `hashed_token_features`."""
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(F.expr(_tok_array(text_col))).alias("tok"),
    )
    return toks.select(
        "label", hash_bucket("tok", salt, n_buckets)
    ).withColumn("tf", F.lit(1).cast("long"))


def train_hashed_linear(
    feats: DataFrame,
    label_col: str = "label",
    n_buckets: int = N_BUCKETS,
    scale: int = SCALE,
) -> DataFrame:
    """Train the dense (label, bucket, w) weight table from labeled
    (doc_id, label, bucket, tf) features.

    Dense on purpose: every (label, bucket) cell exists, carrying the
    Laplace smoothing weight where the bucket was never seen — so
    scoring is a plain inner join, and a test document full of unseen
    vocabulary still gets a well-defined score. Size is n_classes ×
    n_buckets rows (e.g. 20 × 512), far under any broadcast threshold.
    """
    counts = feats.groupBy(label_col, "bucket").agg(F.sum("tf").alias("cnt"))
    totals = counts.groupBy(label_col).agg(F.sum("cnt").alias("total"))
    dense = totals.select(
        label_col,
        "total",
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("bucket"),
    )
    return dense.join(counts, [label_col, "bucket"], "left").select(
        label_col,
        "bucket",
        F.expr(
            f"CAST(((coalesce(cnt, 0) + 1) * {scale}) div (total + {n_buckets})"
            " AS BIGINT)"
        ).alias("w"),
    )


def classify(
    feats: DataFrame,
    model: DataFrame,
    label_col: str = "label",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score (doc_id[, keep_cols…], bucket, tf) features against a dense
    model and keep each doc's argmax class.

    Broadcast-join on bucket (model is tiny), one (doc_id, label)
    aggregation, then a per-doc argmax window — the window keys on
    doc_id, the same key family as the aggregation, so AQE reuses the
    partitioning instead of adding a shuffle.
    """
    scored = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", *keep_cols, label_col)
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col(label_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def pack_model_hex(model: DataFrame, n_buckets: int = N_BUCKETS) -> list[tuple[str, str]]:
    """Collect a dense (label, bucket, w) model into [(label, hexstr)]
    where hexstr is the label's weight row packed as fixed-width (6 hex
    chars) values — ONE string literal per class instead of n_buckets
    literal nodes, so the inference projection's plan stays small. Safe
    because w < SCALE ≤ 0xFFFFFF by construction (smoothed conditional
    probabilities scaled by SCALE are always < SCALE)."""
    rows = model.collect()
    packed: dict[str, list[str]] = {}
    for r in rows:
        packed.setdefault(r[0], ["000000"] * n_buckets)[r["bucket"]] = (
            f"{r['w']:06x}"
        )
    for label, vals in packed.items():
        if any(len(v) != 6 for v in vals):
            raise ValueError(f"weight overflow packing label {label!r}")
    return sorted((label, "".join(vals)) for label, vals in packed.items())


def score_projection(
    df: DataFrame,
    packed_model: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    salt: str = FEAT_SALT,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Model inference as a PURE PROJECTION — zero shuffle, zero joins,
    stateless: tokenize array-side, hash each token to its bucket, sum
    each class's packed-hex weights via substring lookup, argmax with the
    same smallest-class tie-break as `classify` (least over
    (-score, class) structs).

    Because it is stateless it runs unchanged on a streaming DataFrame
    (append mode, no watermark needed) — classifier inference over a
    100 TB corpus or a live stream costs exactly one scan. Docs with no
    tokens are dropped (same contract as the aggregate path, where they
    have no feature rows).

    r13 (guide §4.2): scored via mapInArrow + numpy instead of one
    `least` over n_classes packed-hex `aggregate` folds. The fold form
    is CodegenFallback — interpreted per row — and each class's fold
    appeared TWICE inside its (−score, label, score) struct with no CSE,
    so every row paid 2 × n_classes token-fold evaluations: 47 s
    isolated at sf0.1 for a zero-shuffle scan. The md5 bucket transform
    stays JVM-side (oracle-exact hashing, evaluated once per row); only
    (doc_id[, keep_cols…], _bks) crosses the boundary, the hex weight
    matrix decodes once into an int64 ndarray, and each batch scores as
    one bincount + integer matmul. np.argmax's first-maximal-index over
    the label-sorted weight rows IS the least-(−score, label) tie-break,
    and all arithmetic is int64, so predictions and scores are
    bit-identical (agg↔projection equality and stream parity stay
    pinned in pytest; zero Exchange as before — mapInArrow is a map)."""
    import numpy as np
    import pyarrow as pa

    from .kernels import list_flat

    labels = [label for label, _ in packed_model]
    W = np.array(
        [
            [int(hexstr[i * 6 : (i + 1) * 6], 16) for i in range(n_buckets)]
            for _, hexstr in packed_model
        ],
        dtype=np.int64,
    )
    WT = W.T.copy()  # (n_buckets × n_classes), contiguous for the matmul

    buckets = (
        f"transform({_tok_array(text_col)}, t -> "
        f"CAST(conv(substring(md5(concat('{salt}', t)), 1, 8), 16, 10) "
        f"AS BIGINT) % {n_buckets})"
    )
    out = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.expr(buckets).alias("_bks"),
    ).filter(F.size("_bks") > 0)
    pass_fields = [f for f in out.schema.fields if f.name != "_bks"]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in pass_fields]
        + ["label string", "score long"]
    )
    names = [f.name for f in pass_fields] + ["label", "score"]

    def batches(it):
        for b in it:
            cols = [b.column(f.name) for f in pass_fields]
            offsets, flat = list_flat(b.column("_bks"))
            n = b.num_rows
            row_ids = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
            counts = np.bincount(
                row_ids * n_buckets + flat, minlength=n * n_buckets
            ).reshape(n, n_buckets)
            scores = counts @ WT  # int64 exact: counts ≤ tokens, w < SCALE
            best = np.argmax(scores, axis=1)  # first max = smallest label
            cols += [
                pa.array(np.array(labels, dtype=object)[best], pa.string()),
                pa.array(scores[np.arange(n), best], pa.int64()),
            ]
            yield pa.record_batch(cols, names=names)

    return out.mapInArrow(batches, schema=schema)
