"""Similarity search over embedding columns (`array<float>`).

Three tiers:
- `dot_topk_quantized`: exact top-k by integer-quantized dot product —
  the oracle-checkable baseline (integer sums are order-independent and
  engine-exact);
- `cosine_topk`: float cosine brute force, vectors kept as arrays and
  reduced JVM-side (`zip_with`/`aggregate`) — the correctness baseline,
  validated against numpy in tests;
- `lsh_ann_topk`: random-hyperplane LSH bucketing — the 100 TB path:
  signature buckets shrink the candidate set from |corpus| to |bucket|,
  then exact cosine re-ranks candidates only.

Scale notes: all shapes are join+aggregate over (id, pos, val) triples or
bucket keys — no driver-side matrices, no cross product of the full
corpus. For a real deployment the quantized path maps directly onto
IVF-style coarse quantization: replace the hyperplane signature with a
centroid id from a trained codebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..plans.truncate import registered_local_checkpoint
from .kernels import int_matrix, local_frame, quantize_sql


def dot_topk_quantized(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Exact top-k neighbors per query vector by quantized dot product.
    Ties broken by candidate id — the result *set* is engine-exact
    (integer array fold is order-independent).

    Shape: the query set is bounded (collected once — the same
    driver-sized-state adjudication as the PQ/IVF query paths); each
    corpus batch computes the full candidate × query dot matrix in ONE
    vectorized int64 matmul (mapInArrow + numpy, guide §4.2 — the
    previous broadcast-crossJoin form evaluated an interpreted
    zip_with/aggregate fold per (candidate, query) pair), then the
    per-query top-k ranks JVM-side. Dots are exact int64 (|v| ≤ scale
    ⇒ products ≤ scale²·dim ≪ 2⁶³), so results are bit-identical to
    the fold form and the SQL oracle replay. Only the corpus's (id,
    qarr) columns cross the Arrow boundary ONCE — contrast the k-NN
    band join, where the same treatment measured SLOWER because the
    join fan-out (pairs × two arrays) would cross instead.

    A NULL or wrong-width vector (see `kernels.int_matrix`) is never
    paired: as a candidate it yields no row, as a query no rows."""
    import numpy as np
    import pyarrow as pa

    q = emb_df.select(
        F.col(id_col).alias("id"),
        F.expr(quantize_sql(vec_col, scale)).alias("qarr"),
    )
    dim = _vec_dim(emb_df, vec_col) or 0
    qrows = [
        r
        for r in q.filter(F.col("id").isin(query_ids)).collect()
        if r.qarr is not None and len(r.qarr) == dim and None not in r.qarr
    ]
    qids = np.asarray([r.id for r in qrows], dtype=np.int64)
    QM = np.asarray([r.qarr for r in qrows], dtype=np.int64).reshape(
        len(qrows), dim
    )

    def batches(it):
        for b in it:
            cm, valid = int_matrix(b.column("qarr"), dim)
            cids = b.column("id").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            dots = cm @ QM.T  # (n, nq) exact int64
            cand = np.repeat(cids, len(qids))
            quer = np.tile(qids, len(cids))
            keep = (cand != quer) & np.repeat(valid, len(qids))
            yield pa.record_batch(
                [
                    pa.array(quer[keep]),
                    pa.array(cand[keep]),
                    pa.array(dots.reshape(-1)[keep]),
                ],
                names=["query_id", "candidate_id", "dot"],
            )

    dots = q.mapInArrow(
        batches, schema="query_id long, candidate_id long, dot long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("candidate_id"))
    return (
        dots.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "dot", "rk")
    )


def _cosine_cols(a: str, b: str, dim: int | None = None) -> F.Column:
    """Float cosine of two array columns, reduced JVM-side (fold form —
    the expanded-sum variant measured 2.4× SLOWER on the IVF candidate
    path; see the note on `_dot_sql`)."""
    del dim
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, v) -> s + v)")
    na = F.expr(f"aggregate({a}, 0D, (s, v) -> s + CAST(v AS DOUBLE) * v)")
    nb = F.expr(f"aggregate({b}, 0D, (s, v) -> s + CAST(v AS DOUBLE) * v)")
    return dot / (F.sqrt(na) * F.sqrt(nb))


def cosine_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force float-cosine top-k: broadcast the (small) query set
    against the corpus; one window per query ranks candidates. The
    per-vector reduction runs in the JVM (no Python, no shuffle of
    exploded triples)."""
    q = F.broadcast(
        query_df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    c = emb_df.select(F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("candidate_id") != F.col("query_id"))
        .withColumn("cosine", _cosine_cols("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "cosine", "rk")
    )


def hyperplane_signature(
    emb_df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) bucket signature. The
    planes are pseudo-random ±1 component signs derived deterministically
    from md5(seed, plane, dim) — reproducible across runs and engines,
    no plane matrix to ship: the projection of vector v on plane p is
    Σ_d v[d] * sign(p, d), computed array-side."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.expr(
            "aggregate(zip_with("
            f"{vec_col}, sequence(0, size({vec_col}) - 1), "
            "(v, d) -> CAST(v AS DOUBLE) * "
            f"(CASE WHEN instr('0123456789abcdef', substr(md5(concat('{seed}|{p}|', CAST(d AS STRING))), 1, 1)) - 1 < 8 "
            "THEN 1.0 ELSE -1.0 END)"
            "), 0D, (s, x) -> s + x)"
        )
        sig = sig + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return emb_df.select(F.col(id_col).alias("id"), vec_col).withColumn("bucket", sig)


def ivf_topk(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float = 1.0,
    model=None,
) -> DataFrame:
    """IVF-style ANN: a trained coarse quantizer (KMeans) partitions
    vectors into inverted lists; each query probes its `n_probe` nearest
    centroids and exact-cosine re-ranks only those lists' members.

    This is the production shape for 100 TB similarity search: the
    codebook is tiny (trained on a SAMPLE — codebook quality doesn't need
    the full corpus — and broadcast everywhere), the corpus is scanned
    once to assign `list_id`, and every query touches
    ~n_probe/n_centroids of the data. Recall improves with n_probe at
    linear cost. Compared to `lsh_ann_topk`, the quantizer adapts to the
    data distribution instead of using random hyperplanes.

    At scale pass `train_fraction` ≪ 1 (the fit is the only full-pass
    non-linear step) or a pre-trained `model` (e.g. fitted offline on
    yesterday's corpus) to skip the fit entirely."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    with_vec = emb_df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("arr")
    ).withColumn("features", array_to_vector(F.col("arr").cast("array<double>")))
    if model is None:
        train = (
            with_vec.sample(False, train_fraction, seed)
            if train_fraction < 1.0
            else with_vec
        )
        km = KMeans(
            k=n_centroids, seed=seed, featuresCol="features", predictionCol="list_id"
        )
        model = km.fit(train)
    assigned = model.transform(with_vec).select("id", "arr", "list_id")

    # centroid table (tiny) → per-query probe lists by centroid distance
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    spark = emb_df.sparkSession
    cdf = local_frame(spark, centroids, "list_id long, centroid array<double>")
    queries = assigned.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("arr").alias("q_arr")
    )
    qc = queries.crossJoin(F.broadcast(cdf)).withColumn(
        "cdist",
        F.expr(
            "aggregate(zip_with(q_arr, centroid, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (s, v) -> s + v)"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("list_id"))
    probes = (
        qc.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= n_probe)
        .select("query_id", "q_arr", "list_id")
    )

    cands = assigned.select(
        F.col("id").alias("candidate_id"), F.col("arr").alias("c_arr"), "list_id"
    )
    scored = (
        cands.join(F.broadcast(probes), "list_id")
        .filter(F.col("candidate_id") != F.col("query_id"))
        .withColumn("cosine", _cosine_cols("q_arr", "c_arr"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "cosine", "rk")
    )


# ---------------------------------------- quantized hyperplane LSH
#
# The float hyperplane signature above is fine as an API, but its
# per-plane projection is a float sum whose value (near zero) can differ
# across engines by reduction order — so queries built on it can only be
# rows-only checked. The quantized variant below projects the
# integer-quantized vector instead: Σ_d q[d]·sign(p,d) is an int64 sum —
# order-independent and engine-exact — so LSH bucketing, banded blocking,
# and bucket-restricted ANN all become *exactly* oracle-checkable (same
# trick as `simhash_expr_sql`). Signs are pseudo-random ±1 derived from
# md5(seed|plane|dim): md5 is engine-identical and no plane matrix ships.


def _plane_sign_case(p: int, seed: int, dim_expr: str, instr_fn: str) -> str:
    """±1 sign of plane `p` at dimension `dim_expr` (0-based), as a SQL
    CASE shared verbatim by the Spark expression and the DuckDB oracle
    (only the instr/strpos spelling differs)."""
    return (
        f"(CASE WHEN {instr_fn}('0123456789abcdef', "
        f"substr(md5('{seed}|{p}|' || CAST({dim_expr} AS STRING)), 1, 1)) - 1 < 8 "
        "THEN 1 ELSE -1 END)"
    )


def _plane_signs(p: int, seed: int, dim: int) -> list[int]:
    """Python twin of `_plane_sign_case`: the identical md5-derived ±1
    signs (same '{seed}|{p}|{d}' keys, same first-hex-digit < 8 rule),
    precomputed once so the hot signature projection multiplies against
    a LITERAL sign array instead of re-hashing md5 per row × plane ×
    dimension inside an interpreted lambda (measured 9s → <1s for 2k
    vectors × 32 planes × 64 dims at sf0.1). The SQL oracles keep
    recomputing the md5 form — signatures match bit-for-bit, which the
    oracle-parity suite pins on every query that replays signatures."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
        out.append(1 if int(h[0], 16) < 8 else -1)
    return out


def _vec_dim(emb_df: DataFrame, vec_col: str) -> int | None:
    """Embedding width from the first non-NULL row (None when there is
    none). Rows of any other width are invalid input to the kernels."""
    row = emb_df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return None if row is None else len(row[0])


def _dot_sql(a: str, b: str, dim: int | None = None) -> str:
    """Integer dot of two array columns as one SQL string — the
    aggregate/zip_with fold.

    MEASURED NEGATIVE (r13, do not retry): emitting the dot as an
    expanded `a[0]*b[0] + … + a[63]*b[63]` term sum — nominally
    codegen-friendly vs the CodegenFallback fold — made every consumer
    2.4–10× SLOWER at dim 64 (knn graph 3.2→13.4 s, banded LSH
    2.1→22.2 s, embedding near-dup 2.3→10.8 s at sf0.1): the generated
    projection methods blow past the JIT/codegen size limits, so the
    whole stage (join included) degrades, the same failure mode as the
    flat subscripted argmin variant (5× worse) recorded in
    `cluster._assign`. The interpreted fold is the fastest JVM-side
    form for per-pair dots; corpus-scan (non-join) dot paths use the
    Arrow matmul instead (`dot_topk_quantized`). `dim` is accepted so
    call sites keep declaring the known width cheaply."""
    del dim
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, "
        "(s, v) -> s + v)"
    )


def _sq_norm_sql(arr: str, dim: int | None = None) -> str:
    """Integer squared L2 norm of an array column (fold form — see the
    measured-negative note on `_dot_sql` for why it is not expanded)."""
    del dim
    return f"aggregate({arr}, 0L, (s, v) -> s + v * v)"


def _sq_dist_sql(a: str, b: str, dim: int | None = None) -> str:
    """Integer squared L2 distance of two array columns (fold form —
    see the measured-negative note on `_dot_sql`)."""
    del dim
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0L, (s, v) -> s + v)"
    )


def _signed_sum_sql(arr: str, signs: list[int]) -> str:
    """`Σ_i signs[i]·arr[i]` with ±1 literal signs as one expanded SQL
    string — the codegen'd twin of the fold over a literal sign array
    (see `_dot_sql`); same left-to-right integer accumulation, so the
    projection is bit-identical."""
    parts = [f"(- {arr}[0])" if signs[0] < 0 else f"{arr}[0]"]
    for i, s in enumerate(signs[1:], start=1):
        parts.append(f"{'-' if s < 0 else '+'} {arr}[{i}]")
    return " ".join(parts)


def _sign_matrix(n_planes: int, seed: int, dim: int):
    """(dim × n_planes) int64 matrix of the `_plane_signs` ±1 signs,
    contiguous for the projection matmul."""
    import numpy as np

    signs = [_plane_signs(p, seed, dim) for p in range(n_planes)]
    return np.array(signs, dtype=np.int64).T.copy()


def _band_codes(qm, signs, planes_per_band: int):
    """(n × bands) int64 band codes of an n × dim quantized matrix: bit p
    of band b is `proj >= 0` on global plane b·planes_per_band + p, the
    int64-exact projection of the SQL form."""
    import numpy as np

    bits = (qm @ signs >= 0).astype(np.int64)
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)
    bands = signs.shape[1] // planes_per_band
    return (bits.reshape(len(qm), bands, planes_per_band) * weights).sum(2)


def _band_sigs(
    emb_df: DataFrame,
    bands: int,
    planes_per_band: int,
    id_col: str,
    vec_col: str,
    scale: int,
    seed: int,
    dim: int | None,
) -> DataFrame:
    """(id, qarr, bsigs): the quantized vector and its `bands`
    planes_per_band-bit quantized-hyperplane signatures; plane p of band
    b is GLOBAL plane b·planes_per_band + p. `bsigs` is NULL for an
    invalid vector (`kernels.int_matrix`). `dim` None probes the width.

    r14 (guide §4.2, the PQ-kernel pattern): one numpy int64 matmul per
    Arrow batch computes the whole (rows × planes) projection block —
    the interpreted `aggregate(zip_with(...))` fold per plane per row
    (CodegenFallback) dominated every LSH consumer's scan. Signs come
    from the md5-precomputed `_plane_signs`, arithmetic stays int64 and
    the `proj >= 0` bit-packing is the SQL form's, so signatures are
    bit-identical (exceptAll = 0 both directions at sf0.01/sf0.1).
    Interleaved A/B at sf0.1: 8×4 bands 1.11 → 0.40 s, 16×4 1.73 →
    0.33 s. Only (id, qarr) crosses the boundary; qarr rides back out
    untouched for the dot re-rank."""
    import numpy as np
    import pyarrow as pa

    q = emb_df.select(
        F.col(id_col).alias("id"),
        F.expr(quantize_sql(vec_col, scale)).alias("qarr"),
    )
    if dim is None:
        dim = _vec_dim(emb_df, vec_col) or 0
    S = _sign_matrix(bands * planes_per_band, seed, dim)

    def batches(it):
        for b in it:
            qm, valid = int_matrix(b.column("qarr"), dim)
            n = len(valid)
            bsig = _band_codes(qm, S, planes_per_band)
            lst = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * bands, bands, dtype=np.int32)),
                pa.array(bsig.reshape(-1), pa.int64()),
                mask=pa.array(~valid),
            )
            yield pa.record_batch(
                [b.column("id"), b.column("qarr"), lst],
                names=["id", "qarr", "bsigs"],
            )

    return q.mapInArrow(
        batches, schema="id long, qarr array<bigint>, bsigs array<bigint>"
    )


def quantized_hyperplane_signature(
    emb_df: DataFrame,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, qarr, sig): integer-quantized vector + n_planes-bit hyperplane
    signature — the banded kernel with one band of n_planes planes. An
    invalid vector gets a NULL `sig`, so it never collides. Callers that
    already know the embedding width pass `dim` to skip the first-row
    probe."""
    return _band_sigs(
        emb_df, 1, n_planes, id_col, vec_col, scale, seed, dim
    ).select("id", "qarr", F.col("bsigs")[0].alias("sig"))


def quantized_sig_sql(
    n_planes: int = 16,
    scale: int = 1000,
    seed: int = 42,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of `quantized_hyperplane_signature` → (id, sig).
    Same md5-derived signs, same integer projections (SUM over ints is
    order-independent), so the signatures match bit-for-bit."""
    terms = []
    for p in range(n_planes):
        sign = _plane_sign_case(p, seed, "pos", "strpos").replace(
            "AS STRING", "AS VARCHAR"
        )
        terms.append(f"(CASE WHEN SUM(qv * {sign}) >= 0 THEN {1 << p} ELSE 0 END)")
    return f"""
        SELECT id, CAST({" + ".join(terms)} AS BIGINT) AS sig
        FROM (SELECT {id_col} AS id,
                     generate_subscripts({vec_col}, 1) - 1 AS pos,
                     CAST(round(CAST(unnest({vec_col}) AS DOUBLE) * {scale}) AS BIGINT) AS qv
              FROM {rel})
        GROUP BY id
    """


def lsh_ann_topk_quantized(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k with an EXACT cross-engine contract: candidates
    are the query's LSH bucket (quantized signature equality), ranked by
    integer-quantized dot product with an id tie-break. Every step —
    signature, bucket join, dot, rank — is integer/deterministic, so the
    DuckDB oracle reproduces the result set bit-for-bit while the plan
    keeps the 100 TB shape (bucketed candidate sets, broadcast queries,
    no all-pairs)."""
    dim = _vec_dim(emb_df, vec_col)
    sigs = quantized_hyperplane_signature(
        emb_df, n_planes, id_col, vec_col, scale, seed, dim=dim
    )
    queries = F.broadcast(
        sigs.filter(F.col("id").isin(query_ids)).select(
            F.col("id").alias("query_id"),
            F.col("qarr").alias("q_qarr"),
            F.col("sig").alias("q_sig"),
        )
    )
    scored = (
        sigs.join(queries, F.col("sig") == F.col("q_sig"))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("candidate_id"),
            F.expr(_dot_sql("qarr", "q_qarr", dim)).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("candidate_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "dot", "rk")
    )


def banded_quantized_signatures(
    emb_df: DataFrame,
    bands: int = 8,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, qarr, band, bsig): one row per (vector, band); `bsig` is the
    band's planes_per_band-bit quantized-hyperplane signature. Plane p of
    band b uses GLOBAL plane index b·planes_per_band + p, so every band
    hashes with independent hyperplanes. All integer arithmetic — the
    signatures replay bit-for-bit in SQL. An invalid vector yields no
    band rows. Callers that already know the embedding width pass `dim`
    to skip the first-row probe."""
    out = _band_sigs(
        emb_df, bands, planes_per_band, id_col, vec_col, scale, seed, dim
    )
    # band fan-out stays JVM-side (posexplode of the per-row bsigs array)
    return out.select(
        "id", "qarr", F.posexplode("bsigs").alias("band", "bsig")
    ).select(
        "id",
        "qarr",
        F.col("band").cast("int").alias("band"),
        F.col("bsig").cast("long").alias("bsig"),
    )


def _query_bands(
    emb_df: DataFrame, query_ids: list[int], bands: int, planes_per_band: int,
    id_col: str, vec_col: str, scale: int, seed: int, dim: int,
) -> DataFrame:
    """(query_id, q_qarr, q_band, q_bsig): `banded_quantized_signatures`
    of the query rows, computed on the driver. The quantized rows are
    collected (a JVM job, no Python task), decoded by `int_matrix` (an
    invalid vector gets no rows) and coded by `_band_codes`, the batch
    kernel's own function; the result is a `local_frame`."""
    qrows = (
        emb_df.select(
            F.col(id_col).alias("id"),
            F.expr(quantize_sql(vec_col, scale)).alias("qarr"),
        )
        .filter(F.col("id").isin(query_ids))
        .toArrow()
    )
    qm, valid = int_matrix(qrows.column("qarr"), dim)
    qm = qm[valid]
    signs = _sign_matrix(bands * planes_per_band, seed, dim)
    qids = qrows.column("id").to_numpy(zero_copy_only=False)[valid]
    rows = [
        (qid, qarr, band, code)
        for qid, qarr, codes in zip(
            qids.tolist(), qm.tolist(), _band_codes(qm, signs, planes_per_band).tolist()
        )
        for band, code in enumerate(codes)
    ]
    return local_frame(
        emb_df.sparkSession,
        rows,
        "query_id long, q_qarr array<bigint>, q_band int not null, q_bsig long",
    )


def lsh_ann_topk_banded(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    bands: int = 8,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Multi-band quantized-LSH ANN — the recall fix over the single-
    bucket `lsh_ann_topk_quantized` (BENCH r3 measured that baseline at
    recall@10 ≈ 0.09): a candidate qualifies if it collides with the
    query in ANY band (OR-amplification, the same banding construction as
    MinHash-LSH), then in-bucket candidates re-rank by exact integer dot.

    The 100 TB shape is unchanged: corpus rows fan out ×bands as
    (band, bsig) keys, queries broadcast, the band equi-join touches only
    colliding buckets (≈ corpus · bands / 2^planes_per_band candidate
    rows), and no all-pairs path exists. Every step stays integer-exact,
    so the full pipeline — banding, collision set, dot, rank — replays in
    the DuckDB oracle.

    The query side never enters Python: `_query_bands` collects the
    query rows (one JVM job, as `dot_topk_quantized` does) and codes them
    on the driver, so the corpus crosses the Arrow boundary once per
    query; filtering the corpus signatures for the query side would read
    it twice.

    Measured NEGATIVE (keep): computing the query side's signatures from
    `emb_df.filter(id in query_ids)` instead of filtering the corpus
    signatures measured flat (1.50 s vs 1.59 s, 10 reps, graph_ann
    perfbench inputs, 4 cores): that filter still ran a Python pass of
    its own."""
    dim = _vec_dim(emb_df, vec_col) or 0
    sigs = banded_quantized_signatures(
        emb_df, bands, planes_per_band, id_col, vec_col, scale, seed,
        dim=dim,
    )
    # query-set sized: `bands` rows per valid query
    queries = F.broadcast(
        _query_bands(emb_df, query_ids, bands, planes_per_band, id_col,
                     vec_col, scale, seed, dim)
    )
    hits = (
        sigs.join(
            queries,
            (F.col("band") == F.col("q_band"))
            & (F.col("bsig") == F.col("q_bsig")),
        )
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("candidate_id"),
            F.expr(_dot_sql("qarr", "q_qarr", dim)).alias("dot"),
        )
        # a pair may collide in several bands; the dot is identical, so
        # max() is a pure dedup (one shuffle on the pair key)
        .groupBy("query_id", "candidate_id")
        .agg(F.max("dot").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("candidate_id")
    )
    return (
        hits.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "dot", "rk")
    )


def banded_sig_sql(
    bands: int = 8,
    planes_per_band: int = 4,
    scale: int = 1000,
    seed: int = 42,
    qv_rel: str = "qv",
) -> str:
    """DuckDB replay of `banded_quantized_signatures` → (id, band, bsig)
    over a pre-exploded `(id, pos, qv)` relation. Same global plane
    indices, same md5 signs, integer sums — bit-for-bit."""
    selects = []
    for b in range(bands):
        terms = []
        for p in range(planes_per_band):
            sign = _plane_sign_case(
                b * planes_per_band + p, seed, "pos", "strpos"
            ).replace("AS STRING", "AS VARCHAR")
            terms.append(
                f"(CASE WHEN SUM(qv * {sign}) >= 0 THEN {1 << p} ELSE 0 END)"
            )
        selects.append(
            f"SELECT id, {b} AS band, CAST({' + '.join(terms)} AS BIGINT) "
            f"AS bsig FROM {qv_rel} GROUP BY id"
        )
    return " UNION ALL ".join(selects)


def lsh_ann_topk(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = same LSH bucket as the query (probe
    its exact bucket), re-ranked by exact float cosine. Bucket count 2^n
    bounds each probe's candidate set to ~|corpus|/2^n — this is the
    shape that survives 100 TB (swap buckets for trained IVF centroids
    for better recall)."""
    sigs = hyperplane_signature(emb_df, n_planes, id_col, vec_col)
    queries = sigs.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = sigs.select(
        F.col("id").alias("candidate_id"), F.col(vec_col).alias("c_vec"), "bucket"
    )
    scored = (
        cands.join(F.broadcast(queries), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("candidate_id") != F.col("query_id"))
        .withColumn("cosine", _cosine_cols("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "cosine", "rk")
    )


def random_project_quantized(
    emb_df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 7,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a seeded ±1
    projection matrix derived from md5(seed|row|dim) — no stored matrix;
    every executor regenerates sign(p, d) locally, so the "model" ships
    as zero bytes. Integer arithmetic end to end (quantize → signed sum),
    making the projection engine-exact; a downstream consumer divides by
    `scale` once if it wants floats back. Returns long-form
    (vec_id, out_pos, proj_q).

    Scale shape: a pure zero-shuffle projection inside whole-stage
    codegen — the reduction that makes downstream ANN / clustering
    O(out_dim) per vector runs at scan speed and never materializes a
    matrix on any node."""
    q = emb_df.select(
        F.col(id_col).alias("vec_id"),
        F.expr(quantize_sql(vec_col, scale)).alias("qarr"),
    )
    dim = _vec_dim(emb_df, vec_col)
    projs = []
    for p in range(out_dim):
        if dim is not None:
            # expanded signed sum over precomputed md5 signs — codegen'd
            # (the md5-CASE fold below re-hashes per row × plane × dim
            # inside an interpreted lambda; see `_dot_sql`)
            proj = F.expr(_signed_sum_sql("qarr", _plane_signs(p, seed, dim)))
        else:
            sign = _plane_sign_case(p, seed, "d", "instr")
            proj = F.expr(
                "aggregate(zip_with(qarr, sequence(0, size(qarr) - 1), "
                f"(v, d) -> v * {sign}), 0L, (s, x) -> s + x)"
            )
        projs.append(proj.alias(f"p{p}"))
    wide = q.select("vec_id", *projs)
    stack = ", ".join(f"{p}, p{p}" for p in range(out_dim))
    return wide.selectExpr(
        "vec_id", f"stack({out_dim}, {stack}) AS (out_pos, proj_q)"
    )


def knn_graph(
    emb_df: DataFrame,
    k: int = 3,
    bands: int = 8,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus — per-vector top-k
    neighbors, the batch primitive under graph clustering and
    agglomerative semantic dedup. Same banded quantized-LSH construction
    as `lsh_ann_topk_banded`, but the band equi-join is a SELF-join:
    candidate volume is Σ bucket² per band — bucket sizes, not corpus
    size, bound the fan-out, and no all-pairs path exists. Only the
    src < dst ordering is scored (the dot is symmetric; each scored row
    mirrors into both directions with one explode), and a pair colliding
    in several bands dedups in the pair-key groupBy; ranking is per
    source node. Returns (src, dst, dot, rk).

    At extreme scale, join the (band, bsig) keys on ids FIRST and attach
    the two quantized vectors in a second pass — here the vectors ride
    the band join directly, which is one shuffle cheaper while rows
    remain modest."""
    dim = _vec_dim(emb_df, vec_col)
    sigs = banded_quantized_signatures(
        emb_df, bands, planes_per_band, id_col, vec_col, scale, seed,
        dim=dim,
    ).transform(registered_local_checkpoint)  # self-join: evaluate signatures ONCE
    # Pin the self-join's width explicitly: the signature table is tiny
    # relative to the pair space it produces (Σ bucket² per band), and
    # AQE coalesces shuffles by INPUT size — left to itself it folds the
    # pre-join exchange to one partition and the entire exploded
    # candidate set runs single-task (measured 39s → 3s at sf0.1).
    # repartition-by-number is exempt from AQE coalescing, and the join
    # reuses it, so this costs no extra exchange.
    n_part = emb_df.sparkSession.sparkContext.defaultParallelism
    a = sigs.repartition(n_part, "band", "bsig").select(
        F.col("id").alias("src"), F.col("qarr").alias("s_qarr"),
        "band", "bsig",
    )
    b = sigs.select(
        F.col("id").alias("dst"), F.col("qarr").alias("d_qarr"),
        "band", "bsig",
    )
    hits = (
        a.join(b, ["band", "bsig"])
        # The dot is symmetric and the self-join emits BOTH orderings of
        # every colliding pair: keep src < dst only (half the interpreted
        # dot folds — the dominant per-row cost, measured ~0.8 s of the
        # sf0.1 pipeline) and mirror each scored row into both directions
        # with one explode (the one-pass symmetrize trick).
        .filter(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            F.expr(_dot_sql("s_qarr", "d_qarr", dim)).alias("dot"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst"), F.col("dot")),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("dot"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        # One exchange serves both the pair dedup AND the per-src rank:
        # hashpartitioning(src) satisfies the clustering of
        # groupBy(src,dst) and of Window.partitionBy(src), so an explicit
        # src repartition here removes the Exchange(src,dst) +
        # Exchange(src) pair the planner would otherwise insert. The
        # band-collision duplication this shuffles un-combined is only
        # ~1.27x (measured sf0.1), far below the cost of a second
        # pair-sized exchange + sort. (A/B at sf0.1, min-of-4,
        # interleaved: original 2.49 s, single-exchange 2.26, half-join
        # + mirror 2.16, both combined 2.07; the ids-first/attach-later
        # docstring shape measured 3.26 here — right at extreme scale,
        # wrong while vectors ride the band join cheaply.)
        .repartition(n_part, "src")
        .groupBy("src", "dst")
        .agg(F.max("dot").alias("dot"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
    return (
        hits.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("src", "dst", "dot", "rk")
    )


def mmr_rerank(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified re-rank (Carbonell &
    Goldstein 1998) at λ = 1/2, where the greedy objective
    λ·rel − (1−λ)·max-sim-to-selected reduces to the INTEGER score
    `dot − max_sim` over quantized dot products — so the whole greedy
    selection is exact BIGINT arithmetic with a (score desc, id asc)
    tie-break and replays in SQL, unlike float MMR.

    Each query's `pool`-deep relevance shortlist (exact quantized top-k)
    is re-ordered: pick 1 is the most relevant candidate; each later
    pick maximizes relevance minus its worst redundancy against the
    already-picked set. Returns (query_id, candidate_id, pick_rank,
    rel_dot, div_penalty, mmr_score) for k picks per query.

    Shape: the shortlist and its pool×pool similarity matrix are
    checkpointed once (pool² rows per query — bounded by the SHORTLIST,
    never the corpus); the k−1 greedy rounds are anti-join + max-agg +
    per-query row_number over those tiny frames, each pick checkpointed
    so the plan stays O(1) in k. Corpus cost is exactly the relevance
    top-k scan; diversification never touches the corpus again.
    """
    if k > pool:
        raise ValueError(f"k={k} exceeds the candidate pool={pool}")
    rel = dot_topk_quantized(
        emb_df, query_ids, k=pool, id_col=id_col, vec_col=vec_col, scale=scale
    )
    q = emb_df.select(
        F.col(id_col).alias("id"),
        F.expr(quantize_sql(vec_col, scale)).alias("qarr"),
    )
    cands = (
        rel.join(q, rel.candidate_id == q.id)
        .select("query_id", "candidate_id", F.col("dot").alias("rel_dot"), "qarr")
        .transform(registered_local_checkpoint)
    )
    a, b = cands.alias("a"), cands.alias("b")
    sims = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.candidate_id") != F.col("b.candidate_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.candidate_id").alias("ci"),
            F.col("b.candidate_id").alias("cj"),
            F.expr(
                "aggregate(zip_with(a.qarr, b.qarr, (x, y) -> x * y), 0L, (s, v) -> s + v)"
            ).alias("sim"),
        )
        .transform(registered_local_checkpoint)
    )
    slim = cands.select("query_id", "candidate_id", "rel_dot")
    w = Window.partitionBy("query_id")
    pick = (
        slim.withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.desc("rel_dot"), F.asc("candidate_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "candidate_id",
            F.lit(1).cast("long").alias("pick_rank"),
            "rel_dot",
            F.lit(0).cast("long").alias("div_penalty"),
            F.col("rel_dot").alias("mmr_score"),
        )
        .transform(registered_local_checkpoint)
    )
    selected = pick
    for t in range(2, int(k) + 1):
        rem = slim.join(
            selected.select("query_id", "candidate_id"),
            ["query_id", "candidate_id"],
            "left_anti",
        )
        pen = (
            rem.join(
                sims,
                (rem.query_id == sims.query_id)
                & (rem.candidate_id == sims.ci),
            )
            .join(
                selected.select(
                    F.col("query_id").alias("sq"),
                    F.col("candidate_id").alias("sel_cid"),
                ),
                (sims.query_id == F.col("sq")) & (sims.cj == F.col("sel_cid")),
            )
            .groupBy(rem.query_id, rem.candidate_id, rem.rel_dot)
            .agg(F.max("sim").alias("div_penalty"))
        )
        nxt = (
            pen.withColumn("mmr_score", F.col("rel_dot") - F.col("div_penalty"))
            .withColumn(
                "rn",
                F.row_number().over(
                    w.orderBy(F.desc("mmr_score"), F.asc("candidate_id"))
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "candidate_id",
                F.lit(t).cast("long").alias("pick_rank"),
                "rel_dot",
                F.col("div_penalty").cast("long").alias("div_penalty"),
                F.col("mmr_score").cast("long").alias("mmr_score"),
            )
            .transform(registered_local_checkpoint)
        )
        selected = selected.unionByName(nxt)
    return selected
