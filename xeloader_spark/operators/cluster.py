"""Exact-arithmetic distributed k-means (Lloyd's algorithm).

The iterative-algorithm pattern on Spark, engine-exact: every round is
one scan (assignment is a pure projection — the k centroids live in the
*plan* as literal arrays, so no join and no shuffle) plus one small
aggregation (per-(cluster, dim) integer sums; output is k × dim rows).
The centroid table — the only driver-sized state, exactly what MLlib's
KMeans reduces per iteration — is collected each round, which also
truncates the lineage so T rounds don't compound the plan.

Engine-exactness (the same discipline as the TF-IDF / classifier
operators — no step a SQL oracle can't replay bit-for-bit):

- vectors quantized to ``round(v · scale)`` **shifted by +scale** into
  non-negative space: squared-L2 distances are shift-invariant, and the
  centroid update ``SUM div COUNT`` on non-negative integers is the same
  floor division in Spark, Python, and DuckDB (negative integer division
  truncates in Spark but floors in DuckDB — the shift removes the
  disagreement instead of papering over it).
- deterministic init: the k vectors with the smallest
  ``(md5(id), id)`` — hash-ordered, so every engine picks the same seeds.
- assignment ties go to the smallest cluster index (struct min).
- empty clusters keep their previous centroid.

Fixed iteration count (no convergence float), so the DuckDB oracle
unrolls the rounds as CTEs and the driver's value hash must match —
the clustering is replayed, not spot-checked.

At 100 TB: per round = one corpus scan + a k×dim-row aggregate. The
corpus is never collected, never joined against itself, and never
shuffled on a wide key; `q.persist()` keeps the quantized projection hot
across rounds. This is the exact-arithmetic twin of the offline codebook
training that `similarity.ivf_topk` consumes via its pre-trained `model`
parameter (the ml.KMeans float path stays the production fit; this one
is the driver-checkable variant of the same coarse quantizer).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.truncate import release_persisted  # noqa: F401  (re-export)
from .kernels import int_matrix, local_frame, quantize_sql
from .similarity import _dot_sql as _sim_dot_sql
from .similarity import _vec_dim
from .similarity import _sq_dist_sql as _sim_sq_dist_sql

K = 8
ITERS = 3
SCALE = 1000
# Fixture embedding width, shared with the DuckDB oracle builders
# (queries/similarity.py) so the two sides can never silently disagree
# on subspace slicing.
EMB_DIM = 64


def _quantized(
    emb_df: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """(id, qarr): non-negative shifted integer vectors.

    The +scale shift guarantees non-negative integers, which is what makes
    ``SUM div COUNT`` centroid updates agree between Spark (truncating
    division) and DuckDB (flooring division). That guarantee only holds
    for components in [-1, 1], so anything outside fails loudly instead of
    silently diverging from the documented contract."""
    return emb_df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, v -> CASE "
            "WHEN CAST(v AS DOUBLE) < -1.0D OR CAST(v AS DOUBLE) > 1.0D "
            "THEN CAST(raise_error(concat('embedding component outside "
            "[-1, 1]: ', CAST(v AS STRING))) AS BIGINT) "
            f"ELSE CAST(round(CAST(v AS DOUBLE) * {scale}) AS BIGINT) "
            f"+ {scale} END)"
        ).alias("qarr"),
    )


def _valid_vectors(q: DataFrame) -> DataFrame:
    """The rows of a `_quantized` frame the kernels accept — the
    `kernels.int_matrix` rule: non-NULL, `similarity._vec_dim` wide, no
    NULL component. Seeds come only from these rows, so an invalid
    vector can neither crash a fit nor set a centroid's width."""
    dim = _vec_dim(q, "qarr") or 0
    return q.filter(
        F.col("qarr").isNotNull()
        & (F.size("qarr") == dim)
        & ~F.exists("qarr", lambda x: x.isNull())
    )


def _dist_sql(centroid: list[int], arr_sql: str) -> str:
    """Quantized squared-L2 distance of `arr_sql` to a literal centroid,
    as ONE SQL string. The Column-builder equivalent (F.array of k·dim
    F.lit casts, python-lambda zip_with) spends a Py4J round-trip per
    node — thousands of driver calls per assignment projection, which
    dominated pq/k-means wall time (plan CONSTRUCTION, not execution).
    The generated expression tree is identical, so results are
    bit-identical and the SQL oracles are untouched."""
    carr = ",".join(f"{int(v)}L" for v in centroid)
    return (
        f"aggregate(zip_with({arr_sql}, array({carr}), "
        "(x, y) -> (x - y) * (x - y)), 0L, (s, v) -> s + v)"
    )


def _np_argmin_dist(qm, C):
    """(cluster idx int32, dist int64) of each row of `qm` (n × dim
    int64) against centroid matrix `C` (k × dim int64) — exact integer
    arithmetic, first-minimal-index tie-break (np.argmin), i.e. the
    same (dist, code) ordering as the struct-least expression form.
    Loops over k to keep the intermediate n × dim, not n × k × dim."""
    import numpy as np

    n = qm.shape[0]
    k = C.shape[0]
    d = np.empty((n, k), dtype=np.int64)
    for j in range(k):
        diff = qm - C[j]
        d[:, j] = (diff * diff).sum(axis=1)
    cl = d.argmin(axis=1)
    return cl.astype("int32"), d[np.arange(n), cl]


def _assign(q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Add (cluster, dist): argmin over the k literal centroids with the
    (dist, code) struct-least tie-break — zero joins, zero shuffles.

    r13 (guide §4.2): evaluated via mapInArrow + numpy instead of the
    struct-least SQL expression. The expression form's k aggregate/
    zip_with folds are CodegenFallback — interpreted per row, boxing
    every element — and measured 0.90 s per corpus scan at sf0.1
    (k=16, dim=64) vs 0.28 s vectorized, bit-identical output (int64
    arithmetic throughout; np.argmin's first-minimal-index = the
    struct-least (d, c) tie-break; equality pinned in pytest). A flat
    subscripted-SQL variant was also tried and measured 5× WORSE
    (optimizer/codegen cost on the huge literal tree). The hot columns
    only (id, qarr) cross the Arrow boundary. An invalid vector
    (`kernels.int_matrix`) keeps its row with NULL cluster and dist."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.int64)

    def batches(it):
        for b in it:
            qm, valid = int_matrix(b.column("qarr"), C.shape[1])
            cl, dist = _np_argmin_dist(qm, C)
            yield pa.record_batch(
                [
                    b.column("id"),
                    b.column("qarr"),
                    pa.array(cl, pa.int32(), mask=~valid),
                    pa.array(dist, pa.int64(), mask=~valid),
                ],
                names=["id", "qarr", "cluster", "dist"],
            )

    return q.select("id", "qarr").mapInArrow(
        batches, schema="id long, qarr array<bigint>, cluster int, dist long"
    )


def _np_codes(qm, codebooks, sub):
    """Per-subspace argmin codes (list of int32 arrays) for `qm`
    (n × dim int64) against `codebooks` (m × sub_k × sub ints) — the
    vectorized twin of the per-subspace struct-least encode, same
    first-minimal-index tie-break, exact int64 arithmetic."""
    import numpy as np

    out = []
    for s, cb in enumerate(codebooks):
        cl, _ = _np_argmin_dist(
            np.ascontiguousarray(qm[:, s * sub : (s + 1) * sub]),
            np.asarray(cb, dtype=np.int64),
        )
        out.append(cl)
    return out


def _encode_codes(
    q: DataFrame,
    codebooks: list[list[list[int]]],
    sub: int,
    with_qarr: bool = False,
    with_cluster: bool = False,
) -> DataFrame:
    """(id[, cluster], code_0..code_{m-1}[, qarr]): one-scan PQ encode
    of a `_quantized` frame against literal codebooks — the mapInArrow
    + numpy twin of the m struct-least subspace argmins (guide §4.2;
    see `_assign` for the measured interpreted-HOF cost this removes).
    Bit-identical codes (int64 arithmetic, first-minimal-index
    tie-break). `with_cluster` passes an existing int `cluster` column
    through (the IVFPQ list-build encodes AFTER the probed-cluster
    filter, so encode cost tracks the probed fraction, not the
    corpus). An invalid vector (`kernels.int_matrix`) keeps its row with
    NULL codes."""
    import pyarrow as pa

    m = len(codebooks)
    names = ["id"] + (["cluster"] if with_cluster else [])
    schema = "id long" + (", cluster int" if with_cluster else "")
    names += [f"code_{s}" for s in range(m)]
    schema += ", " + ", ".join(f"code_{s} int" for s in range(m))
    if with_qarr:
        names.append("qarr")
        schema += ", qarr array<bigint>"
    in_cols = ["id"] + (["cluster"] if with_cluster else []) + ["qarr"]

    def batches(it):
        for b in it:
            cols = [b.column("id")]
            if with_cluster:
                cols.append(b.column("cluster"))
            qm, valid = int_matrix(b.column("qarr"), m * sub)
            codes = _np_codes(qm, codebooks, sub)
            cols += [pa.array(c, pa.int32(), mask=~valid) for c in codes]
            if with_qarr:
                cols.append(b.column("qarr"))
            yield pa.record_batch(cols, names=names)

    return q.select(*in_cols).mapInArrow(batches, schema=schema)


def kmeans_fit(
    q: DataFrame, k: int = K, iters: int = ITERS
) -> list[list[int]]:
    """Run `iters` Lloyd rounds over a `_quantized` frame; return the
    final centroids (k × dim ints — the driver-sized model). The per-
    round reduce is k × dim partial sums; the corpus never moves. Seeds
    are valid vectors only (`_valid_vectors`), and an invalid row's NULL
    cluster takes no part in an update."""
    init_rows = (
        _valid_vectors(q)
        .select("id", "qarr", F.md5(F.col("id").cast("string")).alias("hk"))
        .orderBy("hk", "id")
        .limit(k)
        .collect()
    )
    centroids = [list(r.qarr) for r in init_rows]
    dim = len(centroids[0])

    for _ in range(iters):
        assigned = _assign(q, centroids)
        stats = (
            assigned.filter(F.col("cluster").isNotNull())
            .select("cluster", F.posexplode("qarr").alias("pos", "qv"))
            .groupBy("cluster", "pos")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new: dict[int, list[int]] = {}
        for r in stats:
            new.setdefault(r.cluster, [0] * dim)[r.pos] = r.s // r.n
        centroids = [new.get(j, centroids[j]) for j in range(k)]
    return centroids


def kmeans_exact(
    emb_df: DataFrame,
    k: int = K,
    iters: int = ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
) -> DataFrame:
    """Run `iters` Lloyd rounds; return (vec_id, cluster, dist) under the
    final centroids. `dist` is squared L2 in quantized space (BIGINT;
    shift-invariant, so it equals the unshifted quantized distance)."""
    q = _quantized(emb_df, id_col, vec_col, scale).persist()
    centroids = kmeans_fit(q, k=k, iters=iters)
    # The cache only pays for itself across the fit's iterative scans; the
    # model is now driver-sized literals, so release the cached partitions
    # rather than leaking them across a driver sweep. The returned frame
    # recomputes the narrow quantized projection on its single final scan.
    q.unpersist()
    return _assign(q, centroids).select(
        F.col("id").alias("vec_id"), "cluster", "dist"
    )


def kcenter_select(
    emb_df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
) -> DataFrame:
    """Greedy k-center (farthest-point) DIVERSITY selection — the
    classic 2-approximation to the k-center objective (Gonzalez 1985),
    the shape a curator uses to pick a maximally-spread exemplar set
    (seed prompts, eval probes, annotation batches) rather than a
    frequency-weighted sample: seed with the smallest id, then k−1
    rounds of "add the point farthest from everything selected so far"
    (squared quantized L2; ties → smallest id, fully deterministic).

    Returns the model-sized selection (round, vec_id,
    dist_at_selection) — dist_at_selection is the coverage radius just
    before that pick, a non-increasing sequence that IS the classic
    k-vs-radius elbow curve.

    Scale shape: selected vectors are driver literals (like k-means
    centroids), so each round's min-distance is a pure zero-shuffle
    projection (`_assign` over the selected set) followed by one
    max-of-struct aggregate — 2 corpus scans per round, no corpus
    shuffle anywhere, driver holds k × dim ints. Only valid vectors
    (`_valid_vectors`) are seeded, scored or selected."""
    q = _valid_vectors(_quantized(emb_df, id_col, vec_col, scale)).persist()
    seed_rows = q.orderBy("id").limit(1).collect()
    if not seed_rows:
        q.unpersist()
        raise ValueError("kcenter_select: empty corpus (no vectors to select)")
    seed = seed_rows[0]
    picked: list[tuple[int, int, int]] = [(0, seed.id, 0)]
    vecs = [list(seed.qarr)]
    for r in range(1, k):
        chosen = [p[1] for p in picked]
        scored = _assign(q, vecs).filter(~F.col("id").isin(chosen))
        top = (
            scored.agg(
                F.max(
                    F.struct(
                        F.col("dist").alias("d"),
                        (-F.col("id")).alias("nid"),
                    )
                ).alias("m")
            )
            .select("m.d", "m.nid")
            .first()
        )
        if top.nid is None:
            # every point is already selected (k > corpus size): the
            # aggregate over the empty remainder is all-NULL. Return the
            # complete selection instead of crashing on -NULL.
            break
        pid = -top.nid
        picked.append((r, pid, top.d))
        vecs.append(list(q.filter(F.col("id") == pid).first().qarr))
    q.unpersist()
    return local_frame(
        emb_df.sparkSession, picked, "round long, vec_id long, dist_at_selection long"
    )


def _pq_seed_rows(q_train: DataFrame, sub_k: int) -> list:
    """The sub_k valid rows (`_valid_vectors`) with the smallest
    (md5(id), id) — the shared seed rule `_pq_fit_joint` and the
    unrolled DuckDB oracle both replay."""
    return (
        _valid_vectors(q_train)
        .select(
            "id", "qarr", F.md5(F.col("id").cast("string")).alias("hk")
        )
        .orderBy("hk", "id")
        .limit(sub_k)
        .collect()
    )


def _pq_fit_joint(
    q_full: DataFrame,
    m: int,
    sub: int,
    sub_k: int,
    iters: int,
    seed_rows: list | None = None,
) -> list[list[list[int]]]:
    """Train all `m` subspace codebooks in ONE pass per Lloyd round —
    numerically identical to fitting each subspace separately (the
    subspaces are independent; this only batches their scans), but
    driver round-trips and corpus scans drop from m·iters to iters.
    Seeds are the sub_k rows with the smallest (md5(id), id) — the same
    row order for every subspace, so one collect seeds all m codebooks,
    matching the per-subspace `kmeans_fit` seed rule exactly (which is
    what the unrolled DuckDB oracle replays). Callers that already
    collected the seed rows (pq_topk reuses them as its dim probe) pass
    them in to skip the collect job."""
    if seed_rows is None:
        seed_rows = _pq_seed_rows(q_full, sub_k)
    codebooks = [
        [list(r.qarr)[s * sub : (s + 1) * sub] for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(iters):
        # one aggregate covers every (subspace, cluster, dim) cell: each
        # exploded component keys on its own subspace's assignment.
        # r13: the per-subspace argmin encode runs vectorized
        # (`_encode_codes`, mapInArrow + numpy — guide §4.2), replacing
        # the interpreted struct-least expressions; codes bit-identical.
        coded = _encode_codes(q_full, codebooks, sub, with_qarr=True)
        stats = (
            # an invalid row's codes are all NULL: no update
            coded.filter(F.col("code_0").isNotNull())
            .select(
                *[f"code_{s}" for s in range(m)],
                F.posexplode("qarr").alias("pos", "qv"),
            )
            .withColumn(
                "cl",
                F.element_at(
                    F.array(*[F.col(f"code_{s}") for s in range(m)]),
                    F.expr(f"CAST(pos DIV {sub} AS INT) + 1"),
                ),
            )
            .groupBy("pos", "cl")
            .agg(F.sum("qv").alias("sv"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        upd: dict[tuple[int, int], list[int | None]] = {}
        for r in stats:
            s_idx, d = r.pos // sub, r.pos % sub
            upd.setdefault((s_idx, r.cl), [None] * sub)[d] = r.sv // r.n
        codebooks = [
            [
                upd.get((s, j), codebooks[s][j])
                for j in range(sub_k)
            ]
            for s in range(m)
        ]
    return codebooks


def _adc_map_exprs(
    dtab: dict[int, list[list[int]]],
    query_ids: list[int],
    m: int,
    stride: int,
) -> tuple[str, str]:
    """The query×subspace×centroid ADC tables as TWO SQL strings: a
    literal MAP of query_id → ONE flat subspace-major array (stride =
    centroids per subspace), and the m-term lookup sum indexed
    code_s + s·stride + 1. Same literals as a per-query CASE over
    per-subspace arrays, but the expression tree is ~m× smaller —
    measured 7.1s → 4.0s cold-plan for the ivfpq query phase at sf0.1,
    values identical. One SQL string per the Py4J plan-construction
    rule (nested F.lit/F.array trees cost a driver round-trip per node,
    ~9s at this size — commit f4a21a4)."""
    entries = ",".join(
        "{q}L, array({flat})".format(
            q=qid,
            flat=",".join(
                f"{int(x)}L" for s in range(m) for x in dtab[qid][s]
            ),
        )
        for qid in query_ids
    )
    terms = " + ".join(
        f"element_at(_adc, code_{s} + {s * stride} + 1)" for s in range(m)
    )
    return f"element_at(map({entries}), query_id)", f"CAST({terms} AS BIGINT)"


def _exact_case_sql(query_ids: list[int], qrows: dict[int, list[int]]) -> str:
    """Per-query exact quantized L2 over the re-rank shortlist, as one
    flat SQL CASE (shallow tree, one Py4J call) — branch per query, each
    the zip_with/aggregate distance to that query's literal vector."""
    whens = " ".join(
        f"WHEN query_id = {qid}L THEN ({_dist_sql(qrows[qid], 'qarr')})"
        for qid in query_ids
    )
    return f"CASE {whens} END"


def semantic_dedup(
    emb_df: DataFrame,
    k: int = K,
    iters: int = ITERS,
    min_dot_q: int = 450_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, the
    public recipe): cluster the embedding corpus with the exact k-means,
    then WITHIN each cluster prune every vector whose quantized dot
    product with a smaller-id cluster-mate reaches `min_dot_q`
    (≈ cosine · scale² for unit-norm embeddings). The smaller id is the
    deterministic representative, so the kept set is engine-exact and the
    whole pipeline — clustering, pair set, dots, verdicts — replays in
    SQL.

    The 100 TB shape is the method's own: clustering bounds the pair
    space to Σ|cluster|² instead of n², so `k` MUST grow with the corpus
    (SemDeDup uses ~10⁵ clusters at web scale — per-cluster membership
    stays small and the within-cluster join never degenerates toward
    all-pairs; with few clusters the cluster key is also a hot shuffle
    key). Emits (vec_id, cluster, is_kept)."""
    q = _quantized(emb_df, id_col, vec_col, scale).persist()
    centroids = kmeans_fit(q, k=k, iters=iters)
    members = _assign(q, centroids).select("id", "cluster")
    q.unpersist()
    # unshifted quantized vectors for the dot (signs matter)
    qd = emb_df.select(
        F.col(id_col).alias("id"),
        F.expr(quantize_sql(vec_col, scale)).alias("qdarr"),
    )
    m = members.join(qd, "id")
    a = m.alias("a")
    b = m.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.id") < F.col("a.id")),
        )
        .withColumn(
            "dot",
            F.expr(
                _sim_dot_sql("a.qdarr", "b.qdarr", len(centroids[0]))
            ),
        )
        .filter(F.col("dot") >= min_dot_q)
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return (
        members.join(dropped.withColumn("_drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "cluster",
            F.col("_drop").isNull().alias("is_kept"),
        )
    )


def _train_gate(
    q: DataFrame, train_fraction: float, train_salt: str
) -> DataFrame:
    """Deterministic md5 training-sample gate shared by every codebook
    fit: row admitted iff md5(salt||id)'s leading 32 bits mod 10000 fall
    under fraction·10000. Replays exactly in the DuckDB oracle
    (`('0x' || substr(md5(..),1,8))::BIGINT % 10000`), so sampled
    training stays hash-checked."""
    if train_fraction >= 1.0:
        return q
    from .sampling import BUCKETS, hash_bucket

    return q.filter(
        hash_bucket(F.col("id"), train_salt) < int(train_fraction * BUCKETS)
    )


class PQModel(NamedTuple):
    """Trained product-quantizer codebooks — the build-phase artifact of
    `pq_fit`, reusable across `pq_topk`/`ivfpq_topk` calls (the index is
    built once, queried forever; at 100 TB the fit cost amortizes to
    zero per query). Driver/plan-sized: m × sub_k × sub integers."""

    codebooks: list  # m × sub_k × sub (ints, quantized space)
    m: int
    sub: int  # dims per subspace; full dim = m · sub
    scale: int


def pq_fit(
    emb_df: DataFrame,
    m: int = 4,
    sub_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    train_fraction: float = 1.0,
    train_salt: str = "pqtrain",
) -> PQModel:
    """Build phase of the PQ index: train the `m` subspace codebooks
    (md5-gated sample, joint one-scan-per-round Lloyd) and return them
    as a `PQModel`. `pq_topk(..., model=...)` / `ivfpq_topk(...,
    pq_model=...)` then skip training — the bench reports build and
    query as separate rows, and callers composing several indexes over
    the same corpus (pq + ivfpq) fit once."""
    q_full = _quantized(emb_df, id_col, vec_col, scale)
    # cache the gated training frame across the seed collect + Lloyd
    # rounds (same policy as the in-call training paths — without it
    # every round re-scans parquet and re-quantizes)
    q_train = _train_gate(q_full, train_fraction, train_salt).persist()
    try:
        seed_rows = _pq_seed_rows(q_train, sub_k)
        if not seed_rows:
            raise ValueError(
                "pq_fit: empty training set (corpus empty or "
                "train_fraction gate admitted no rows)"
            )
        dim = len(seed_rows[0].qarr)
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        codebooks = _pq_fit_joint(q_train, m, sub, sub_k, iters, seed_rows)
    finally:
        q_train.unpersist()
    return PQModel(codebooks=codebooks, m=m, sub=sub, scale=scale)


def ivf_fit(
    emb_df: DataFrame,
    km_k: int = K,
    iters: int = ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    train_fraction: float = 1.0,
    train_salt: str = "pqtrain",
) -> list[list[int]]:
    """Build phase of the IVF coarse quantizer: the exact integer
    k-means centroids (optionally on the md5-gated sample), as plan-
    literal-sized lists for `ivf_topk_exact(..., centroids=...)` /
    `ivfpq_topk(..., coarse_centroids=...)`."""
    q = _quantized(emb_df, id_col, vec_col, scale)
    q_train = _train_gate(q, train_fraction, train_salt).persist()
    try:
        return kmeans_fit(q_train, k=km_k, iters=iters)
    finally:
        q_train.unpersist()


def pq_topk(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 4,
    sub_k: int = 16,
    iters: int = 2,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    train_fraction: float = 1.0,
    train_salt: str = "pqtrain",
    model: PQModel | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, the public recipe):
    split vectors into `m` subspaces, train a `sub_k`-centroid codebook
    per subspace with the exact k-means, encode every vector as `m`
    small codes, and answer queries by asymmetric distance computation
    (ADC) — per query, a precomputed table of query↔centroid distances
    per subspace, so a candidate's approximate distance is `m` table
    lookups instead of a `dim`-wide float kernel.

    The 100 TB shape: the index is `m` codes per vector (4 bytes here vs
    256 for the raw floats — a 64× memory cut); codebooks and distance
    tables are driver/plan-sized; both encoding and ADC scoring are pure
    projections over ONE corpus scan each (codes from literal centroid
    arrays, ADC from literal lookup tables + TakeOrdered). Everything is
    shifted-integer arithmetic, so the full train→encode→score pipeline
    replays in SQL — an exact-checked approximate index, like the
    quantized-LSH ANN.

    With ``rerank=N`` (the production deployment shape) the ADC pass
    returns an N-deep shortlist per query that is then re-scored with the
    EXACT quantized distance — only shortlist×queries rows ever touch
    full vectors, so the expensive kernel runs on ~N rows per query
    regardless of corpus size. Output dist is then the exact quantized
    L2; without rerank it is the ADC approximation.
    """
    if len(set(query_ids)) != len(query_ids):
        raise ValueError(
            "pq_topk: duplicate query_ids (the ADC map literal is keyed "
            "by query_id)"
        )
    q_full = _quantized(emb_df, id_col, vec_col, scale).persist()

    if model is None:
        # codebook training on a deterministic hash-gated subset: at
        # corpus scale the Lloyd rounds must not scan 100 TB — a fraction
        # suffices for sub_k-sized codebooks, and the md5 gate replays in
        # the oracle so sampled training stays exact-checked
        # (encode/ADC/re-rank always cover the FULL corpus). The seed
        # collect doubles as the dim probe (one fewer Spark job than a
        # separate first(); same rows either way).
        q_train = _train_gate(q_full, train_fraction, train_salt)
        seed_rows = _pq_seed_rows(q_train, sub_k)
        if not seed_rows:
            raise ValueError(
                "pq_topk: empty training set (corpus empty or "
                "train_fraction gate admitted no rows)"
            )
        dim = len(seed_rows[0].qarr)
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        codebooks = _pq_fit_joint(q_train, m, sub, sub_k, iters, seed_rows)
    else:
        # query phase against a prebuilt index: the fit's training knobs
        # are the model's, not this call's
        m, sub, codebooks = model.m, model.sub, model.codebooks
        if model.scale != scale:
            raise ValueError(
                f"model trained at scale={model.scale}, query at {scale}"
            )

    # one-scan encode: per subspace, argmin over its literal codebook —
    # vectorized (mapInArrow + numpy, guide §4.2), codes bit-identical
    # to the struct-least expression form
    encoded = _encode_codes(q_full, codebooks, sub)

    # driver-side ADC tables: query × subspace × centroid (integer-exact)
    qrows = {
        r.id: list(r.qarr)
        for r in q_full.filter(F.col("id").isin(query_ids)).collect()
    }
    absent = [qid for qid in query_ids if qid not in qrows]
    if absent:
        raise ValueError(
            f"query_ids not present in {id_col}: {absent}"
        )
    if model is not None and any(len(v) != m * sub for v in qrows.values()):
        raise ValueError(
            f"corpus dim != model dim {m * sub} — wrong PQModel for this "
            "embedding column"
        )
    # Codebooks and query vectors are now driver-sized; the remaining
    # downstream scans (encode, optional re-rank join) each recompute the
    # narrow quantized projection — cheaper than leaking cache across a
    # driver sweep.
    q_full.unpersist()
    dtab: dict[int, list[list[int]]] = {}
    for qid in query_ids:
        qv = qrows[qid]
        dtab[qid] = [
            [
                sum(
                    (qv[s * sub + d] - c[d]) ** 2 for d in range(sub)
                )
                for c in codebooks[s]
            ]
            for s in range(m)
        ]

    # ADC tables in the flat-array MAP form (see _adc_map_exprs): each
    # corpus row fans out once per query via a literal-array explode,
    # picks its query's flat table from the map, and sums m lookups.
    map_sql, terms_sql = _adc_map_exprs(dtab, query_ids, m, len(codebooks[0]))
    qid_arr = "array(" + ",".join(f"{qid}L" for qid in query_ids) + ")"
    scored = (
        encoded.withColumn("query_id", F.explode(F.expr(qid_arr)))
        .withColumn("_adc", F.expr(map_sql))
        .select(
            "query_id",
            F.col("id").alias("candidate_id"),
            F.expr(terms_sql).alias("adc_dist"),
        )
        .filter(F.col("candidate_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("candidate_id")
    )
    if not rerank:
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "candidate_id", "adc_dist", "rk")
        )

    shortlist = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= rerank)
        .select("query_id", "candidate_id")
    )
    # flat CASE in ONE SQL string: the nested F.when chain builds a
    # 16-deep CaseWhen tree the optimizer re-walks per pass (and costs a
    # Py4J trip per level); one flat CASE is the same semantics with a
    # shallow tree
    exact = F.expr(_exact_case_sql(query_ids, qrows))
    reranked = (
        q_full.join(
            F.broadcast(shortlist), q_full.id == shortlist.candidate_id
        )
        .select("query_id", "candidate_id", exact.alias("dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("dist"), F.asc("candidate_id")
    )
    return (
        reranked.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "dist", "rk")
    )


def cluster_balanced_sample(
    emb_df: DataFrame,
    n_per: int = 10,
    k: int = K,
    iters: int = ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
) -> DataFrame:
    """Diversity-preserving downsampling: the exact k-means partitions
    the corpus into semantic regions, then a deterministic hash-ordered
    rank keeps the first `n_per` vectors of every cluster — a fixed
    budget per region (SemDeDup prunes near-duplicate NEIGHBORHOODS;
    this caps VOLUME while preserving coverage of the embedding space).
    Returns (vec_id, cluster, samp_rank) for the kept vectors.

    Scale shape: assignment is a zero-shuffle projection against literal
    centroids (see `kmeans_exact`); the only added cost is one window
    shuffle keyed by cluster over (id, cluster) — with heavy skew
    (clusters are corpus-scale) swap the window for a per-partition
    top-n_per pre-prune under the same ordering, which AQE-sized
    partitions already approximate."""
    from pyspark.sql import Window

    assigned = kmeans_exact(
        emb_df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, scale=scale
    )
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.withColumn(
            "samp_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("samp_rank") <= n_per)
        .select("vec_id", "cluster", "samp_rank")
    )


def ivf_topk_exact(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    km_k: int = K,
    iters: int = ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF ANN with the EXACT integer k-means as the coarse quantizer —
    the fully SQL-replayable sibling of `similarity.ivf_topk` (whose
    float MLlib codebook can only be contract-checked). Inverted lists
    are the k-means assignment; each query probes its `n_probe` nearest
    centroids (quantized L2, cluster-asc tie-break) and ranks the probed
    lists' members by quantized L2 distance with an id tie-break:
    every step — training, assignment, probe selection, candidate join,
    distance, rank — is integer/deterministic, so the whole index
    hash-checks cross-engine. Returns (query_id, candidate_id, dist_q, rk).

    Scale shape: centroids are plan literals (assignment and probe cost
    no shuffles); candidates come from an equi-join on the probed
    (query, cluster) pairs — the query side is literal-sized and
    broadcast, so the corpus contributes only the probed lists' rows
    (≈ corpus · n_probe / km_k) to the distance rank."""
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    q = _quantized(emb_df, id_col, vec_col, scale).persist()
    if centroids is None:
        centroids = kmeans_fit(q, k=km_k, iters=iters)
    qrows = {
        r.id: list(r.qarr)
        for r in q.filter(F.col("id").isin(query_ids)).collect()
    }
    # cache paid for itself across the fit's iterative scans + the query
    # collect; the final candidate scan recomputes the narrow projection
    # (same policy as kmeans_exact — nothing leaks across a driver sweep)
    q.unpersist()
    assigned = _assign(q, centroids)
    missing = sorted(set(query_ids) - set(qrows))
    if missing:
        raise ValueError(f"query ids not in corpus: {missing}")
    dim_q = len(next(iter(qrows.values())))
    if any(len(c) != dim_q for c in centroids):
        raise ValueError(
            f"centroid dims {sorted({len(c) for c in centroids})} != corpus "
            f"dim {dim_q} — wrong centroids for this embedding column "
            "(probe selection would zip-truncate silently)"
        )

    # probe selection is driver-side over the model-sized centroid list:
    # per query the n_probe nearest centroids, (dist, cluster) ordered
    probes = []
    for qid in query_ids:
        d = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(qrows[qid], c)),
                j,
            )
            for j, c in enumerate(centroids)
        )[:n_probe]
        probes.extend((qid, j) for _, j in d)
    spark = emb_df.sparkSession
    probe_df = local_frame(spark, probes, "query_id long, cluster int")
    qarr_df = local_frame(
        spark, list(qrows.items()), "query_id long, q_qarr array<bigint>"
    )

    cands = (
        assigned.join(F.broadcast(probe_df), "cluster")
        .filter(F.col("id") != F.col("query_id"))
        .join(F.broadcast(qarr_df), "query_id")
        .select(
            "query_id",
            F.col("id").alias("candidate_id"),
            F.expr(_sim_sq_dist_sql("qarr", "q_qarr", dim_q)).alias(
                "dist_q"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_q").asc(), F.col("candidate_id")
    )
    return (
        cands.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "dist_q", "rk")
    )


def ivfpq_topk(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    km_k: int = K,
    km_iters: int = ITERS,
    m: int = 16,
    sub_k: int = 16,
    pq_iters: int = 2,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    train_fraction: float = 1.0,
    train_salt: str = "pqtrain",
    coarse_centroids: list[list[int]] | None = None,
    pq_model: PQModel | None = None,
) -> DataFrame:
    """IVF-PQ composite ANN — the coarse-quantizer + product-code index
    (Jégou et al. 2011's IVFADC layout, here with codes over the raw
    vectors rather than residuals so every stage stays SQL-replayable):
    the exact integer k-means partitions the corpus into inverted lists,
    each query probes its `n_probe` nearest lists, and ONLY the probed
    lists' members are scored — by `m` ADC table lookups per candidate,
    never a `dim`-wide kernel — with an optional exact-distance re-rank
    of the ADC shortlist.

    This composes the two scale levers the standalone indexes each
    demonstrate: IVF cuts the candidates scanned per query to
    ~n_probe/km_k of the corpus, PQ cuts the bytes per scanned candidate
    to `m` small codes (64× under the defaults). At 100 TB both the
    coarse codebook and the subspace codebooks are plan literals trained
    on an md5-gated sample (`train_fraction`); the corpus is scanned
    once for list assignment + encoding, and the per-query work is
    probed-lists × m lookups. Everything — training seeds, Lloyd
    rounds, assignment, probe selection, encoding, ADC, re-rank — is
    integer arithmetic, so the whole index hash-checks cross-engine.
    """
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    if len(set(query_ids)) != len(query_ids):
        raise ValueError(
            "ivfpq_topk: duplicate query_ids (the ADC map literal is keyed "
            "by query_id)"
        )
    q_full = _quantized(emb_df, id_col, vec_col, scale).persist()

    if coarse_centroids is None or pq_model is None:
        q_train = _train_gate(q_full, train_fraction, train_salt)
    centroids = (
        coarse_centroids
        if coarse_centroids is not None
        else kmeans_fit(q_train, k=km_k, iters=km_iters)
    )
    if pq_model is None:
        seed_rows = _pq_seed_rows(q_train, sub_k)
        if not seed_rows:
            raise ValueError(
                "ivfpq_topk: empty training set (corpus empty or "
                "train_fraction gate admitted no rows)"
            )
        dim = len(seed_rows[0].qarr)
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        codebooks = _pq_fit_joint(q_train, m, sub, sub_k, pq_iters, seed_rows)
    else:
        m, sub, codebooks = pq_model.m, pq_model.sub, pq_model.codebooks
        if pq_model.scale != scale:
            raise ValueError(
                f"pq_model trained at scale={pq_model.scale}, query at {scale}"
            )

    qrows = {
        r.id: list(r.qarr)
        for r in q_full.filter(F.col("id").isin(query_ids)).collect()
    }
    missing = sorted(set(query_ids) - set(qrows))
    if missing:
        raise ValueError(f"query ids not in corpus: {missing}")
    if pq_model is not None and any(
        len(v) != m * sub for v in qrows.values()
    ):
        raise ValueError(
            f"corpus dim != pq_model dim {m * sub} — wrong PQModel for "
            "this embedding column"
        )
    dim_q = len(next(iter(qrows.values())))
    if any(len(c) != dim_q for c in centroids):
        raise ValueError(
            f"coarse centroid dims {sorted({len(c) for c in centroids})} != "
            f"corpus dim {dim_q} — wrong coarse_centroids for this "
            "embedding column (probe selection would zip-truncate silently)"
        )
    q_full.unpersist()

    # per-query probe lists over the model-sized centroid table
    probes = []
    for qid in query_ids:
        d = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(qrows[qid], c)),
                j,
            )
            for j, c in enumerate(centroids)
        )[:n_probe]
        probes.extend((qid, j) for _, j in d)
    spark = emb_df.sparkSession
    probe_df = local_frame(spark, probes, "query_id long, cluster int")

    # candidates = probed lists only; encode THOSE rows ONCE EACH,
    # BEFORE attaching queries. Several queries probe the same cluster,
    # so joining probe_df first fans each corpus row ~n_probe·q/km_k×
    # and re-runs the m-subspace argmin encode on every (query,
    # candidate) copy — the r6 bench split exposed that as 22.5s of
    # "query" time at sf0.1. Order now: assignment filtered to the
    # probed-cluster union (a literal IN over ≤ km_k ints), ONE encode
    # per surviving row, then the broadcast probe join attaches
    # query_ids to the already-narrow (id, cluster, m codes) frame.
    # Same rows, same values — the encode is per-candidate
    # deterministic — so the oracle hash is untouched.
    probed_clusters = sorted({c for _, c in probes})
    assigned = _assign(
        _quantized(emb_df, id_col, vec_col, scale), centroids
    ).filter(F.col("cluster").isin(probed_clusters))
    encoded = (
        _encode_codes(assigned, codebooks, sub, with_cluster=True)
        .join(F.broadcast(probe_df), "cluster")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("candidate_id"),
            *[f"code_{s}" for s in range(m)],
        )
    )

    # ADC distance tables in the flat-array MAP form (_adc_map_exprs) —
    # one SQL string, never nested Column trees
    dtab: dict[int, list[list[int]]] = {}
    for qid in query_ids:
        qv = qrows[qid]
        dtab[qid] = [
            [
                sum((qv[s * sub + d] - c[d]) ** 2 for d in range(sub))
                for c in codebooks[s]
            ]
            for s in range(m)
        ]

    map_sql, terms_sql = _adc_map_exprs(dtab, query_ids, m, len(codebooks[0]))
    scored = (
        encoded.withColumn("_adc", F.expr(map_sql))
        .select("query_id", "candidate_id", F.expr(terms_sql).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("candidate_id")
    )
    if not rerank:
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "candidate_id", "adc_dist", "rk")
        )

    shortlist = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= rerank)
        .select("query_id", "candidate_id")
    )
    exact = F.expr(_exact_case_sql(query_ids, qrows))
    reranked = (
        _quantized(emb_df, id_col, vec_col, scale)
        .join(F.broadcast(shortlist), F.col("id") == F.col("candidate_id"))
        .select("query_id", "candidate_id", exact.alias("dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("dist"), F.asc("candidate_id")
    )
    return (
        reranked.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "candidate_id", "dist", "rk")
    )
