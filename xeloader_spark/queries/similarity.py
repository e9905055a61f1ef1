"""Similarity-search operators as driver queries over `embeddings`, plus
the multimodal plumbing.

`q_ann_topk_dot` is the exact-checked brute-force baseline
(integer-quantized dot products); `q_ann_topk_lsh_quantized` is the
bucketed ANN path with the same exact contract (integer hyperplane
projections → the whole signature/bucket/rank pipeline replays in SQL).
The float-cosine brute force and float-LSH variants remain engine-side
APIs (operators/similarity.py) validated against numpy in tests — their
float reductions have no stable cross-engine SQL equivalent, so the
driver-checked entries use the quantized forms. `q_ann_topk_ivf`'s
trained-KMeans codebook can't replay in SQL either; its driver row checks
the operator's *contract* instead — recall against the exact brute force,
computed in Spark, surfaced as a boolean the oracle pins to TRUE (the
numeric recall itself is pinned in pytest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..plans.truncate import registered_local_checkpoint

from ..catalog import load_table
from ..operators import cluster as cls
from ..operators import multimodal as mm
from ..operators import similarity as sim

_QUERY_IDS = [0, 1, 2, 3, 4]
_K = 5


def q_ann_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors for query vectors 0-4 by quantized dot
    product (deterministic tie-break on candidate id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.dot_topk_quantized(emb, _QUERY_IDS, k=_K)


_LSH_PLANES = 6


def q_ann_topk_lsh_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 by quantized-hyperplane LSH bucketing + integer
    dot re-rank of in-bucket candidates. Every step is integer/
    deterministic, so the DuckDB oracle replays the entire pipeline and
    the approximate operator is EXACT-checked (the float-cosine LSH stays
    as an API: `similarity.lsh_ann_topk`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.lsh_ann_topk_quantized(emb, _QUERY_IDS, k=_K, n_planes=_LSH_PLANES)


# 16 bands x 4 planes: recall@10 0.912 vs 0.756 at 8x4 for +33% wall
# time at sf0.1 (round-3 tuning sweep); candidates scale linearly in
# bands, so the trade holds at corpus scale
_LSH_BANDS = 16
_LSH_PPB = 4


def q_ann_topk_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band quantized-LSH ANN (OR-amplification over 16 bands of 4
    planes) — the recall fix over the single-bucket probe (bench r3
    measured that baseline at recall@10 ≈ 0.09; banding recovers it —
    0.91 at 16 bands — at bounded candidate cost). Banding, collision set, integer dot,
    and rank all replay in the oracle, so the approximate index stays
    hash-verified end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.lsh_ann_topk_banded(
        emb, _QUERY_IDS, k=_K, bands=_LSH_BANDS, planes_per_band=_LSH_PPB
    )


_IVF_MIN_RECALL = 0.2  # driver-checked floor; pytest pins the real level


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN contract check: KMeans codebook trained on a 50% sample,
    8-of-16 lists probed, exact-cosine re-rank — then per-query recall
    against the exact float brute force (`cosine_topk`), computed in
    Spark. KMeans training + float reductions can't replay in SQL, so the
    driver-checkable output is the contract itself: (query_id, recall ≥
    floor). The oracle pins the boolean TRUE per query; pytest pins the
    numeric recall level."""
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = sim.ivf_topk(
        emb, _QUERY_IDS, k=_K, n_centroids=16, n_probe=8, train_fraction=0.5
    )
    exact = sim.cosine_topk(
        emb, emb.filter(F.col("vec_id").isin(_QUERY_IDS)), k=_K
    )
    hits = ivf.join(exact.select("query_id", "candidate_id"), ["query_id", "candidate_id"])
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
                >= F.lit(_IVF_MIN_RECALL)
            ).alias("recall_ok"),
        )
    )
    return per_q


_KNN_K = 3
_KNN_BANDS = 8
_KNN_PPB = 4


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate k-NN graph (3 neighbors per vector) via
    the banded quantized-LSH self-join — banding, pair dedup, integer
    dots, and per-node rank all replay in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.knn_graph(
        emb, k=_KNN_K, bands=_KNN_BANDS, planes_per_band=_KNN_PPB
    )


def _knn_graph_sql(
    k: int, bands: int, planes_per_band: int, scale: int = 1000
) -> str:
    from ..operators.similarity import banded_sig_sql

    return f"""
        WITH qv AS (
            SELECT vec_id AS id, ord - 1 AS pos,
                   CAST(round(CAST(val AS DOUBLE) * {scale}) AS BIGINT) AS qv
            FROM (SELECT vec_id, unnest(embedding) AS val,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
        ),
        sigs AS ({banded_sig_sql(bands, planes_per_band, scale)}),
        pairs AS (
            SELECT DISTINCT a.id AS src, c.id AS dst
            FROM sigs a JOIN sigs c
              ON c.band = a.band AND c.bsig = a.bsig
            WHERE c.id <> a.id
        ),
        dots AS (
            SELECT p.src, p.dst,
                   CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
            FROM pairs p
            JOIN qv a ON a.id = p.src
            JOIN qv b ON b.id = p.dst AND b.pos = a.pos
            GROUP BY 1, 2
        )
        SELECT src, dst, dot, CAST(rk AS BIGINT) AS rk FROM (
            SELECT src, dst, dot,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY dot DESC, dst ASC) AS rk
            FROM dots
        ) WHERE rk <= {k}
    """


_PR_ITERS = 5
_PR_SCALE = 10**12


def q_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the approximate k-NN graph — which
    embeddings sit in the densest neighborhoods (`operators/graph.py`
    `pagerank`; quantized-integer iterations, so the whole 5-round
    fixed point replays bit-exactly as unrolled SQL CTEs over the same
    replayed k-NN edge list as `q_knn_graph`)."""
    from ..operators.graph import pagerank

    emb = load_table(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(
        emb, k=_KNN_K, bands=_KNN_BANDS, planes_per_band=_KNN_PPB
    )
    return pagerank(edges, iters=_PR_ITERS, scale=_PR_SCALE)


def _pagerank_sql(
    iters: int,
    scale: int,
    damp_num: int = 85,
    damp_den: int = 100,
    edges_sql: str | None = None,
    id_alias: str = "id",
) -> str:
    """Unroll the integer PageRank fixed point: one CTE per iteration,
    seeded with `edges_sql` (any SELECT yielding src, dst; defaults to
    the k-NN edge replay — the host link graph passes its own, r8). n
    (node count), the uniform init mass, and the teleport base are all
    computed IN SQL so the oracle needs no runtime parameters."""
    edges = edges_sql or _knn_graph_sql(_KNN_K, _KNN_BANDS, _KNN_PPB)
    head = f"""
        WITH edges AS MATERIALIZED (SELECT src, dst FROM ({edges})),
        nodes AS MATERIALIZED (
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM edges
                UNION ALL SELECT dst AS id FROM edges
            )
        ),
        nn AS MATERIALIZED (
            SELECT COUNT(*) AS n,
                   CAST({scale} // COUNT(*) AS BIGINT) AS init,
                   CAST((({damp_den - damp_num}) * ({scale} // COUNT(*)))
                        // {damp_den} AS BIGINT) AS base
            FROM nodes
        ),
        outdeg AS (
            SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1
        ),
        ew AS MATERIALIZED (
            SELECT e.src, e.dst, o.outdeg
            FROM edges e JOIN outdeg o ON e.src = o.src
        ),
        r0 AS MATERIALIZED (SELECT id, nn.init AS rank FROM nodes, nn)"""
    rounds = []
    for i in range(iters):
        rounds.append(f""",
        c{i} AS (
            SELECT ew.dst AS id,
                   CAST(SUM(r{i}.rank // ew.outdeg) AS BIGINT) AS s
            FROM ew JOIN r{i} ON r{i}.id = ew.src
            GROUP BY 1
        ),
        r{i + 1} AS MATERIALIZED (
            SELECT n.id,
                   CAST(nn.base + ({damp_num} * COALESCE(c{i}.s, 0))
                        // {damp_den} AS BIGINT) AS rank
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c{i} ON c{i}.id = n.id
        )"""
        )
    tail = f"""
        SELECT id AS {id_alias}, rank AS rank_micro,
               CAST(rank AS DOUBLE) / {float(scale)} AS rank
        FROM r{iters}
    """
    return head + "".join(rounds) + tail



_PPR_ITERS = 4
_PPR_SCALE = 10**12
_PPR_WSCALE = 10**6
_PPR_SEED_THR = 1000  # of sampling.BUCKETS=10000 → 10% seeds


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted + personalized PageRank over the k-NN graph: rank flows
    proportionally to the quantized dot-product edge weights and the
    restart mass lands only on a deterministic 10% hash-gated seed set —
    "centrality relative to these query vectors", the relevance-
    propagation form (`operators/graph.py` `pagerank_weighted`).
    Two-step integer weight normalization keeps every product in
    bigint, so all four rounds unroll bit-exactly into SQL CTEs."""
    from ..operators.graph import pagerank_weighted
    from ..operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(
        emb, k=_KNN_K, bands=_KNN_BANDS, planes_per_band=_KNN_PPB
    ).withColumnRenamed("dot", "weight")
    seeds = emb.filter(
        hash_bucket("vec_id", "pprseed") < _PPR_SEED_THR
    ).select("vec_id")
    return pagerank_weighted(
        edges,
        iters=_PPR_ITERS,
        teleport=seeds,
        scale=_PPR_SCALE,
        wscale=_PPR_WSCALE,
    )


def _pagerank_weighted_sql(
    iters: int,
    scale: int,
    wscale: int,
    seed_thr: int,
    damp_num: int = 85,
    damp_den: int = 100,
) -> str:
    knn = _knn_graph_sql(_KNN_K, _KNN_BANDS, _KNN_PPB)
    head = f"""
        WITH e AS (
            SELECT src, dst, dot AS w FROM ({knn}) WHERE dot > 0
        ),
        nodes AS (
            SELECT DISTINCT id FROM (
                SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e
            )
        ),
        nn AS (
            SELECT COUNT(*) AS n,
                   CAST({scale} // COUNT(*) AS BIGINT) AS init
            FROM nodes
        ),
        outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
        ew AS (
            SELECT e.src, e.dst,
                   CAST((e.w * {wscale}) // o.outw AS BIGINT) AS wn
            FROM e JOIN outw o ON o.src = e.src
        ),
        seeds AS (
            SELECT vec_id AS id FROM embeddings
            WHERE ('0x' || substr(md5('pprseed'
                      || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                  % 10000 < {seed_thr}
        ),
        sb AS (
            SELECT CAST((({damp_den - damp_num}) * {scale})
                        // ({damp_den} * COUNT(*)) AS BIGINT) AS base
            FROM seeds
        ),
        r0 AS (SELECT id, nn.init AS rank FROM nodes, nn)"""
    rounds = []
    for i in range(iters):
        rounds.append(f""",
        c{i} AS (
            SELECT ew.dst AS id,
                   CAST(SUM((r{i}.rank * ew.wn) // {wscale}) AS BIGINT) AS s
            FROM ew JOIN r{i} ON r{i}.id = ew.src
            GROUP BY 1
        ),
        r{i + 1} AS (
            SELECT n.id,
                   CAST(CASE WHEN sd.id IS NOT NULL THEN sb.base
                             ELSE 0 END
                        + ({damp_num} * COALESCE(c{i}.s, 0))
                          // {damp_den} AS BIGINT) AS rank
            FROM nodes n
            CROSS JOIN sb
            LEFT JOIN seeds sd ON sd.id = n.id
            LEFT JOIN c{i} ON c{i}.id = n.id
        )"""
        )
    tail = f"""
        SELECT id, rank AS rank_micro,
               CAST(rank AS DOUBLE) / {float(scale)} AS rank
        FROM r{iters}
    """
    return head + "".join(rounds) + tail


_LP_ITERS = 3
_LP_SEED_THR = 3000  # of sampling.BUCKETS=10000 → 30% seeds


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the approximate k-NN
    graph: a deterministic 30% hash-gated seed set keeps its true
    labels; three clamped majority-vote rounds spread them along
    k-NN edges (`operators/graph.py` `label_propagation`). Votes are
    integer counts with a total (count desc, label asc) tie-break, so
    the whole fixed point — banding, edges, every round — unrolls into
    SQL CTEs and hash-matches. True labels ride along in `correct`;
    note the fixture's labels are geometry-independent by construction
    (exact 1-NN agreement ≈ chance), so `correct` here pins the
    deterministic mechanics, while propagation QUALITY on a
    label-respecting graph is pinned by the two-cluster pytest."""
    from ..operators.graph import label_propagation
    from ..operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(
        emb, k=_KNN_K, bands=_KNN_BANDS, planes_per_band=_KNN_PPB
    )
    seeds = emb.filter(
        hash_bucket("vec_id", "lpseed") < _LP_SEED_THR
    ).select(F.col("vec_id").alias("id"), F.col("label").cast("long").alias("label"))
    out = label_propagation(edges, seeds, iters=_LP_ITERS)
    return (
        emb.select(
            F.col("vec_id").alias("id"),
            F.col("label").cast("long").alias("true_label"),
        )
        .join(
            out.select(
                "id",
                F.col("label").alias("pred_label"),
                "round_assigned",
            ),
            "id",
            "left",
        )
        .select(
            "id",
            "true_label",
            "pred_label",
            "round_assigned",
            F.coalesce(
                F.col("pred_label") == F.col("true_label"), F.lit(False)
            ).alias("correct"),
        )
    )


def _label_prop_sql(iters: int, seed_thr: int) -> str:
    knn = _knn_graph_sql(_KNN_K, _KNN_BANDS, _KNN_PPB)
    seed_gate = (
        "('0x' || substr(md5('lpseed' || CAST(vec_id AS VARCHAR)), 1, 8))"
        f"::BIGINT % 10000 < {seed_thr}"
    )
    parts = [
        f"""
        WITH edges AS MATERIALIZED (SELECT src, dst FROM ({knn})),
        l0 AS MATERIALIZED (
            SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
                   CAST(0 AS BIGINT) AS round_assigned
            FROM embeddings WHERE {seed_gate}
        )"""
    ]
    for r in range(1, iters + 1):
        parts.append(f""",
        v{r} AS (
            SELECT e.src AS id, l.label, COUNT(*) AS n
            FROM edges e
            JOIN l{r - 1} l ON l.id = e.dst
            LEFT JOIN l{r - 1} lp ON lp.id = e.src
            WHERE lp.id IS NULL
            GROUP BY 1, 2
        ),
        p{r} AS (
            SELECT id, label, CAST({r} AS BIGINT) AS round_assigned
            FROM (SELECT id, label,
                         ROW_NUMBER() OVER (PARTITION BY id
                                            ORDER BY n DESC, label ASC) AS rk
                  FROM v{r})
            WHERE rk = 1
        ),
        l{r} AS MATERIALIZED (
            SELECT * FROM l{r - 1} UNION ALL SELECT * FROM p{r}
        )"""
        )
    parts.append(f"""
        SELECT em.vec_id AS id, CAST(em.label AS BIGINT) AS true_label,
               lf.label AS pred_label, lf.round_assigned,
               COALESCE(lf.label = CAST(em.label AS BIGINT), FALSE)
                   AS correct
        FROM embeddings em
        LEFT JOIN l{iters} lf ON lf.id = em.vec_id
    """)
    return "".join(parts)


def q_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities over the
    k-NN graph (`operators/graph.modularity`) — the clustering-quality
    score per community: nodes, intra edges, degree mass, and the
    single-division integer-form Q contribution (4·m·e_c − d_c²)/4m².
    Unlabeled nodes become singleton communities (id-derived label), so
    the partition covers every node and Σ q_contribution is the graph's
    modularity. Everything upstream (banding, edges, every LP round)
    replays in the oracle."""
    from ..operators.graph import label_propagation, modularity
    from ..operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    # checkpoint the k-NN edges ONCE: label propagation and the
    # modularity aggregates both consume them, and without this the
    # band self-join rebuilds per consumer (measured 62 MB → ~31 MB
    # shuffle at sf0.01 in SHUFFLE_AUDIT)
    edges = sim.knn_graph(
        emb, k=_KNN_K, bands=_KNN_BANDS, planes_per_band=_KNN_PPB
    ).transform(registered_local_checkpoint)
    seeds = emb.filter(
        hash_bucket("vec_id", "lpseed") < _LP_SEED_THR
    ).select(
        F.col("vec_id").alias("id"), F.col("label").cast("long").alias("label")
    )
    lp = label_propagation(edges, seeds, iters=_LP_ITERS)
    comm = (
        emb.select(F.col("vec_id").alias("id"))
        .join(lp.select("id", "label"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("label"), F.col("id") + 1_000_000).alias("comm"),
        )
    )
    return modularity(edges, comm)


def _modularity_sql(iters: int, seed_thr: int) -> str:
    lp = _label_prop_sql(iters, seed_thr)
    knn = _knn_graph_sql(_KNN_K, _KNN_BANDS, _KNN_PPB)
    return f"""
        WITH lp AS ({lp}),
        comm AS MATERIALIZED (
            SELECT id AS nid,
                   COALESCE(pred_label, id + 1000000) AS c
            FROM lp
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM ({knn}) WHERE src <> dst
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM und),
        deg AS (
            SELECT nid, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT a AS nid FROM und UNION ALL SELECT b AS nid FROM und)
            GROUP BY 1
        ),
        cd AS (
            SELECT c.c AS community,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(COALESCE(d.degree, 0)) AS BIGINT) AS degree_sum
            FROM comm c LEFT JOIN deg d USING (nid)
            GROUP BY 1
        ),
        intra AS (
            SELECT ca.c AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
            FROM und u
            JOIN comm ca ON ca.nid = u.a
            JOIN comm cb ON cb.nid = u.b AND cb.c = ca.c
            GROUP BY 1
        )
        SELECT cd.community, cd.n_nodes,
               COALESCE(i.intra_edges, 0) AS intra_edges,
               cd.degree_sum, tot.m_edges,
               CAST(4 * tot.m_edges * COALESCE(i.intra_edges, 0)
                    - cd.degree_sum * cd.degree_sum AS DOUBLE)
                   / (4.0 * CAST(tot.m_edges AS DOUBLE)
                      * CAST(tot.m_edges AS DOUBLE)) AS q_contribution
        FROM cd LEFT JOIN intra i USING (community)
        CROSS JOIN tot
    """


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient of the
    undirected graph under the approximate k-NN graph — how clique-like
    each embedding's neighborhood is (high coefficient ⇒ dense duplicate
    cluster, the canonical curation signal on top of the k-NN edges).
    Degree-ordered orientation + wedge closing (`operators/graph.py`
    `triangle_stats`); every step is integer except one pinned-order
    IEEE division, so the oracle replays the whole thing over the same
    replayed k-NN edge list."""
    from ..operators.graph import triangle_stats

    emb = load_table(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(
        emb, k=_KNN_K, bands=_KNN_BANDS, planes_per_band=_KNN_PPB
    )
    return triangle_stats(edges)


def _triangle_sql() -> str:
    knn = _knn_graph_sql(_KNN_K, _KNN_BANDS, _KNN_PPB)
    return f"""
        WITH edges AS (SELECT src, dst FROM ({knn})),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM edges WHERE src <> dst
        ),
        deg AS MATERIALIZED (
            SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
                SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und
            ) GROUP BY 1
        ),
        o AS MATERIALIZED (
            SELECT CASE WHEN (da.degree < db.degree)
                          OR (da.degree = db.degree AND u.a < u.b)
                        THEN u.a ELSE u.b END AS u,
                   CASE WHEN (da.degree < db.degree)
                          OR (da.degree = db.degree AND u.a < u.b)
                        THEN u.b ELSE u.a END AS v,
                   CASE WHEN (da.degree < db.degree)
                          OR (da.degree = db.degree AND u.a < u.b)
                        THEN db.degree ELSE da.degree END AS dv
            FROM und u
            JOIN deg da ON da.id = u.a
            JOIN deg db ON db.id = u.b
        ),
        w AS (
            SELECT e1.u, e1.v AS x, e2.v AS y
            FROM o e1 JOIN o e2 ON e1.u = e2.u
            WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)
        ),
        t AS MATERIALIZED (
            SELECT w.u, w.x, w.y
            FROM w JOIN o ON o.u = w.x AND o.v = w.y
        ),
        pn AS (
            SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
                SELECT u AS id FROM t
                UNION ALL SELECT x AS id FROM t
                UNION ALL SELECT y AS id FROM t
            ) GROUP BY 1
        )
        SELECT deg.id, deg.degree,
               CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
               CASE WHEN deg.degree >= 2 THEN
                   (CAST(2 AS DOUBLE) * CAST(COALESCE(pn.n_tri, 0) AS DOUBLE))
                   / (CAST(deg.degree AS DOUBLE)
                      * CAST(deg.degree - 1 AS DOUBLE))
               ELSE CAST(0 AS DOUBLE) END AS clust_coeff
        FROM deg LEFT JOIN pn ON pn.id = deg.id
    """


_IVFX_PROBE = 4


def q_ann_topk_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the integer k-means as coarse quantizer — the
    EXACT-checkable IVF (unlike `q_ann_topk_ivf`, whose float MLlib
    codebook only supports a recall-contract row): training, list
    assignment, probe selection, candidate join, distance and rank all
    replay in SQL and hash-match."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cls.ivf_topk_exact(
        emb, _QUERY_IDS, k=_K, n_probe=_IVFX_PROBE
    )


def _ivf_exact_sql(
    km_k: int, iters: int, scale: int, n_probe: int, k: int,
    qids: list[int],
) -> str:
    """DuckDB replay of `cluster.ivf_topk_exact` — k-means CTEs, final
    assignment, per-query probe selection, and the probed-list rank."""
    kct, cfinal = _kmeans_ctes("iv", "embedding", km_k, iters, scale)
    sq = "(q.qv - c.cv) * (q.qv - c.cv)"
    ids = ", ".join(str(i) for i in qids)
    return f"""
        WITH {", ".join(kct)},
        final_assign AS (
            SELECT id, cluster FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM({sq}) ASC, c.cluster ASC) AS rn
                FROM ivq q JOIN {cfinal} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        ),
        centd AS (
            SELECT q.id AS query_id, c.cluster,
                   SUM({sq}) AS d
            FROM ivq q JOIN {cfinal} c USING (pos)
            WHERE q.id IN ({ids})
            GROUP BY 1, 2
        ),
        probed AS (
            SELECT query_id, cluster FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY d ASC, cluster ASC) AS rn
                FROM centd
            ) WHERE rn <= {n_probe}
        ),
        cand AS (
            SELECT p.query_id, f.id AS candidate_id
            FROM probed p
            JOIN final_assign f
              ON f.cluster = p.cluster AND f.id <> p.query_id
        ),
        dists AS (
            SELECT c.query_id, c.candidate_id,
                   CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT)
                       AS dist_q
            FROM cand c
            JOIN ivq a ON a.id = c.candidate_id
            JOIN ivq b ON b.id = c.query_id AND b.pos = a.pos
            GROUP BY 1, 2
        )
        SELECT query_id, candidate_id, dist_q, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY dist_q ASC, candidate_id ASC) AS rk
            FROM dists
        ) WHERE rk <= {k}
    """


_SEMDEDUP_DOT_Q = 450_000  # ≈ cosine 0.45 · scale² on unit-norm vectors


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-prune semantic dedup: exact k-means
    partitions the corpus, then within-cluster quantized-dot pruning
    keeps the smallest-id representative of every near-duplicate
    neighborhood. Clustering AND pruning replay in the oracle (k-means
    CTEs + a within-cluster pair join), so the kept set is
    hash-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cls.semantic_dedup(emb, min_dot_q=_SEMDEDUP_DOT_Q)


def _semantic_dedup_sql(
    k: int, iters: int, scale: int, min_dot_q: int
) -> str:
    # NB: sda{iters} is the assignment under the PREVIOUS round's
    # centroids; the Spark side assigns under the FINAL centroids
    # (kmeans_fit then _assign), so the oracle needs one more assignment
    # pass against c{iters} — same as _kmeans_sql's final select.
    kct, cfinal = _kmeans_ctes("sd", "embedding", k, iters, scale)
    return f"""
        WITH {", ".join(kct)},
        final_assign AS (
            SELECT id, cluster FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM((q.qv - c.cv) * (q.qv - c.cv)) ASC,
                                    c.cluster ASC) AS rn
                FROM sdq q JOIN {cfinal} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        ),
        qd AS (
            SELECT vec_id AS id, ord - 1 AS pos,
                   CAST(round(CAST(val AS DOUBLE) * {scale}) AS BIGINT) AS qv
            FROM (SELECT vec_id, unnest(embedding) AS val,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
        ),
        members AS (SELECT id, cluster FROM final_assign),
        dropped AS (
            SELECT DISTINCT id_a AS id FROM (
                SELECT a.id AS id_a,
                       CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dot
                FROM members a
                JOIN members b ON a.cluster = b.cluster AND b.id < a.id
                JOIN qd qa ON qa.id = a.id
                JOIN qd qb ON qb.id = b.id AND qb.pos = qa.pos
                GROUP BY a.id, b.id
            ) WHERE dot >= {min_dot_q}
        )
        SELECT m.id AS vec_id,
               CAST(m.cluster AS INTEGER) AS cluster,
               (d.id IS NULL) AS is_kept
        FROM members m LEFT JOIN dropped d USING (id)
    """


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic k-means over the embedding corpus: 3 Lloyd
    rounds, hash-ordered deterministic seeds, integer centroids — the
    iterative-algorithm pattern with a full SQL replay (the oracle
    unrolls the rounds as CTEs and must hash-match every assignment and
    distance). The resulting codebook is the IVF training path made
    driver-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cls.kmeans_exact(emb)


_KCENTER_K = 8


def q_kcenter_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) diversity selection over the
    embedding corpus: seed at the smallest id, then 7 rounds of "add the
    point farthest from everything selected" — the exemplar-picking
    complement to frequency-weighted sampling (Gonzalez's classic
    2-approximation). Integer quantized distances with total tie-breaks
    make every pick deterministic; the oracle unrolls all rounds as CTEs
    and must hash-match each pick AND its coverage radius."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cls.kcenter_select(emb, k=_KCENTER_K)


def _kcenter_sql(k: int, scale: int) -> str:
    """Unrolled-CTE DuckDB replay of `cluster.kcenter_select`: same
    quantization, seed rule (min id), farthest-point argmax with
    (distance desc, id asc) tie-break, and already-picked exclusion.
    Per-round CTEs are MATERIALIZED: DuckDB otherwise re-expands each
    sel{{r-1}} reference, blowing the unrolled plan up exponentially
    (measured ~9x per extra round past k=5)."""
    ctes = [
        f"""q AS (
            SELECT vec_id AS id,
                   CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale})
                        AS BIGINT) + {scale} AS qv
            FROM embeddings
        )""",
        """sel0 AS (
            SELECT CAST(0 AS BIGINT) AS round, id AS vec_id,
                   CAST(0 AS BIGINT) AS dist_at_selection
            FROM (SELECT id FROM q GROUP BY id ORDER BY id LIMIT 1)
        )""",
    ]
    for r in range(1, k):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
            SELECT id, MIN(dd) AS d FROM (
                SELECT x.id AS id, s.vec_id AS sid,
                       CAST(SUM((x.qv - y.qv) * (x.qv - y.qv)) AS BIGINT) AS dd
                FROM q x
                JOIN sel{r - 1} s ON TRUE
                JOIN q y ON y.id = s.vec_id AND y.pos = x.pos
                GROUP BY x.id, s.vec_id
            ) GROUP BY id
        )"""
        )
        ctes.append(
            f"""p{r} AS MATERIALIZED (
            SELECT CAST({r} AS BIGINT) AS round, id AS vec_id,
                   d AS dist_at_selection
            FROM d{r}
            WHERE id NOT IN (SELECT vec_id FROM sel{r - 1})
            ORDER BY d DESC, id ASC LIMIT 1
        )"""
        )
        ctes.append(
            f"sel{r} AS MATERIALIZED (SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM p{r})"
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT round, vec_id, dist_at_selection FROM sel{k - 1}
    """


_CB_SAMPLE_N = 10


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced downsampling: a fixed hash-ordered budget of 10
    vectors per k-means cluster — coverage-preserving volume cut. The
    oracle replays clustering AND the per-cluster rank, so the kept set
    is hash-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cls.cluster_balanced_sample(emb, n_per=_CB_SAMPLE_N)


_RP_OUT_DIM = 16
_RP_SEED = 7


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random projection 64→16 dims, seeded
    sign matrix regenerated from md5 on both engines — integer-exact
    long-form output (vec_id, out_pos, proj_q)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.random_project_quantized(
        emb, out_dim=_RP_OUT_DIM, scale=cls.SCALE, seed=_RP_SEED
    )


def _cluster_sample_sql(k: int, iters: int, scale: int, n_per: int) -> str:
    """`_kmeans_sql`'s final assignment + the per-cluster hash-ordered
    rank of `cluster_balanced_sample`."""
    kct, cfinal = _kmeans_ctes("cb", "embedding", k, iters, scale)
    sq = "(q.qv - c.cv) * (q.qv - c.cv)"
    return f"""
        WITH {", ".join(kct)},
        final_assign AS (
            SELECT id AS vec_id, CAST(cluster AS INTEGER) AS cluster
            FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM({sq}) ASC, c.cluster ASC) AS rn
                FROM cbq q JOIN {cfinal} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        )
        SELECT vec_id, cluster, CAST(samp_rank AS BIGINT) AS samp_rank
        FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                       AS samp_rank
            FROM final_assign
        ) WHERE samp_rank <= {n_per}
    """


def _random_projection_sql(out_dim: int, scale: int, seed: int) -> str:
    """DuckDB replay of `random_project_quantized`: identical md5 sign
    matrix, identical integer sums, unpivoted to the same long form."""
    from ..operators.similarity import _plane_sign_case

    cols = []
    for p in range(out_dim):
        sign = _plane_sign_case(p, seed, "pos", "strpos").replace(
            "AS STRING", "AS VARCHAR"
        )
        cols.append(f"CAST(SUM(qv * {sign}) AS BIGINT) AS p{p}")
    unpivot = " UNION ALL ".join(
        f"SELECT vec_id, {p} AS out_pos, p{p} AS proj_q FROM w"
        for p in range(out_dim)
    )
    return f"""
        WITH q AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale})
                        AS BIGINT) AS qv
            FROM embeddings
        ),
        w AS (SELECT vec_id, {", ".join(cols)} FROM q GROUP BY vec_id)
        {unpivot}
    """


def _kmeans_sql(k: int, iters: int, scale: int) -> str:
    """Unrolled-CTE DuckDB replay of `cluster.kmeans_exact` — identical
    quantization (+shift), seed order, tie-breaks, and floor-div update."""
    sq = "(q.qv - c.cv) * (q.qv - c.cv)"
    ctes = [
        f"""q AS (
            SELECT vec_id AS id,
                   CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale})
                        AS BIGINT) + {scale} AS qv
            FROM embeddings
        )""",
        f"""seeds AS (
            SELECT id, cluster FROM (
                SELECT id,
                       ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id)
                           - 1 AS cluster
                FROM (SELECT DISTINCT id FROM q)
            ) WHERE cluster < {k}
        )""",
        """c0 AS (
            SELECT s.cluster, q.pos, q.qv AS cv
            FROM seeds s JOIN q USING (id)
        )""",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""a{r} AS (
            SELECT id, cluster FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM({sq}) ASC, c.cluster ASC) AS rn
                FROM q JOIN c{r - 1} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""u{r} AS (
            SELECT a.cluster, q.pos,
                   (CAST(SUM(q.qv) AS BIGINT) // COUNT(*)) AS cv
            FROM a{r} a JOIN q USING (id)
            GROUP BY 1, 2
        )"""
        )
        ctes.append(
            f"""c{r} AS (
            SELECT c.cluster, c.pos, COALESCE(u.cv, c.cv) AS cv
            FROM c{r - 1} c LEFT JOIN u{r} u
              ON u.cluster = c.cluster AND u.pos = c.pos
        )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT id AS vec_id, CAST(cluster AS INTEGER) AS cluster, dist
        FROM (
            SELECT q.id, c.cluster,
                   CAST(SUM({sq}) AS BIGINT) AS dist,
                   ROW_NUMBER() OVER (PARTITION BY q.id
                       ORDER BY SUM({sq}) ASC, c.cluster ASC) AS rn
            FROM q JOIN c{iters} c USING (pos)
            GROUP BY q.id, c.cluster
        ) WHERE rn = 1
    """


# m=16 subspaces (4 dims each at EMB_DIM=64): r4 sweep measured
# recall@10 0.9313 at m=16/sub_k=16 vs 0.775 at m=8/sub_k=16 and 0.8125
# at m=8/sub_k=32 (16 centroids quantize a 4-dim subspace far better
# than an 8-dim one) for ~20% more wall time; r3 history: 0.23 at
# m=4/rerank=50, 0.59 at m=8/rerank=100. The joint subspace fit keeps
# training at `iters` scans regardless of m; codes are m bytes/vector.
_PQ_M = 16
_PQ_SUBK = 16
_PQ_ITERS = 2
_PQ_K = 5
_PQ_SHORTLIST = 200  # r3 sweep: recall@10 0.73 vs 0.59 at 100, same wall time


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN in its production deployment shape,
    exact-checked end to end: 4 subspace codebooks trained by the integer
    k-means, vectors encoded to 4 codes, an ADC shortlist per query, and
    an exact-distance re-rank of the shortlist — the oracle replays
    training, encoding, ADC, AND the re-rank, so the approximate index
    itself is hash-verified (the PQ analogue of the quantized-LSH
    contract)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # The static DuckDB oracle slices subspaces by cls.EMB_DIM; fail
    # loudly here if the fixture width ever drifts from that constant
    # instead of letting every hash comparison mismatch confusingly.
    width = emb.select(F.size("embedding").alias("n")).first().n
    if width != cls.EMB_DIM:
        raise ValueError(
            f"embeddings fixture width {width} != cluster.EMB_DIM "
            f"{cls.EMB_DIM}; update the shared constant"
        )
    return cls.pq_topk(
        emb,
        _QUERY_IDS,
        k=_PQ_K,
        m=_PQ_M,
        sub_k=_PQ_SUBK,
        iters=_PQ_ITERS,
        rerank=_PQ_SHORTLIST,
    )


_MMR_K = 5
_MMR_POOL = 20


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-rank of each query's 20-deep exact relevance
    shortlist at λ=1/2, where the greedy objective collapses to the
    integer score rel_dot − max_sim-to-selected
    (`operators/similarity.mmr_rerank`) — the search/RAG result
    diversifier, here fully hash-checkable: the oracle unrolls all five
    greedy picks as CTEs over the same quantized dot products."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.mmr_rerank(emb, _QUERY_IDS, k=_MMR_K, pool=_MMR_POOL)


def _mmr_sql(k: int, pool: int, scale: int, qids: list[int]) -> str:
    ids = ", ".join(str(i) for i in qids)
    ctes = [
        f"""mq AS (
            SELECT vec_id AS id,
                   CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale})
                        AS BIGINT) AS qv
            FROM embeddings
        )""",
        f"""mdots AS (
            SELECT qq.id AS query_id, cc.id AS candidate_id,
                   CAST(SUM(qq.qv * cc.qv) AS BIGINT) AS rel_dot
            FROM mq qq JOIN mq cc ON cc.pos = qq.pos AND cc.id <> qq.id
            WHERE qq.id IN ({ids})
            GROUP BY 1, 2
        )""",
        f"""mpool AS (
            SELECT query_id, candidate_id, rel_dot FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rel_dot DESC, candidate_id) AS rk
                FROM mdots
            ) WHERE rk <= {pool}
        )""",
        """msims AS (
            SELECT a.query_id, a.candidate_id AS ci, b.candidate_id AS cj,
                   CAST(SUM(x.qv * y.qv) AS BIGINT) AS sim
            FROM mpool a
            JOIN mpool b ON b.query_id = a.query_id
                        AND b.candidate_id <> a.candidate_id
            JOIN mq x ON x.id = a.candidate_id
            JOIN mq y ON y.id = b.candidate_id AND y.pos = x.pos
            GROUP BY 1, 2, 3
        )""",
        """msel1 AS (
            SELECT query_id, candidate_id, CAST(1 AS BIGINT) AS pick_rank,
                   rel_dot, CAST(0 AS BIGINT) AS div_penalty,
                   rel_dot AS mmr_score
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rel_dot DESC, candidate_id) AS rn
                FROM mpool
            ) WHERE rn = 1
        )""",
    ]
    for t in range(2, int(k) + 1):
        ctes.append(
            f"""mp{t} AS (
            SELECT query_id, candidate_id, CAST({t} AS BIGINT) AS pick_rank,
                   rel_dot, div_penalty, mmr_score
            FROM (
                SELECT p.query_id, p.candidate_id, p.rel_dot,
                       m.div_penalty,
                       p.rel_dot - m.div_penalty AS mmr_score,
                       ROW_NUMBER() OVER (PARTITION BY p.query_id
                           ORDER BY p.rel_dot - m.div_penalty DESC,
                                    p.candidate_id) AS rn
                FROM mpool p
                JOIN (
                    SELECT s.query_id, s.ci AS candidate_id,
                           CAST(MAX(s.sim) AS BIGINT) AS div_penalty
                    FROM msims s
                    JOIN msel{t - 1} z
                      ON z.query_id = s.query_id AND z.candidate_id = s.cj
                    GROUP BY 1, 2
                ) m ON m.query_id = p.query_id
                   AND m.candidate_id = p.candidate_id
                WHERE NOT EXISTS (
                    SELECT 1 FROM msel{t - 1} z2
                    WHERE z2.query_id = p.query_id
                      AND z2.candidate_id = p.candidate_id
                )
            ) WHERE rn = 1
        )""",
        )
        ctes.append(
            f"""msel{t} AS (
            SELECT * FROM msel{t - 1} UNION ALL SELECT * FROM mp{t}
        )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT query_id, candidate_id, pick_rank, rel_dot, div_penalty,
               mmr_score
        FROM msel{k}
    """


_IVFPQ_PROBE = 4
_IVFPQ_SHORTLIST = 100
_IVFPQ_TRAIN_FRACTION = 0.5


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN in its full production shape — coarse
    integer-k-means inverted lists (probe 4 of 8), product codes scored
    by ADC over ONLY the probed lists, an exact-distance re-rank of the
    100-deep shortlist, and BOTH codebooks trained on the md5-gated half
    of the corpus — with every stage (sampled training included)
    replayed by the oracle, so the composed index hash-verifies exactly
    like its IVF and PQ halves do standalone."""
    emb = load_table(spark, sf_dir, "embeddings")
    width = emb.select(F.size("embedding").alias("n")).first().n
    if width != cls.EMB_DIM:
        raise ValueError(
            f"embeddings fixture width {width} != cluster.EMB_DIM "
            f"{cls.EMB_DIM}; update the shared constant"
        )
    return cls.ivfpq_topk(
        emb,
        _QUERY_IDS,
        k=_PQ_K,
        n_probe=_IVFPQ_PROBE,
        km_k=cls.K,
        km_iters=cls.ITERS,
        m=_PQ_M,
        sub_k=_PQ_SUBK,
        pq_iters=_PQ_ITERS,
        rerank=_IVFPQ_SHORTLIST,
        train_fraction=_IVFPQ_TRAIN_FRACTION,
    )


def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two DIFFERENT approximate indexes over
    the same queries — the standard ensemble-retrieval combiner
    (RRF, k=60): score = Σ 1/(60 + rank_i) over the exact-checked IVF
    and PQ rankings. Each term is one IEEE division and the two-term
    sum is pinned-order, so the fused ranking hash-matches; both input
    rankings are themselves fully replayed (training included) by the
    same CTE builders their own queries use."""
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = cls.ivf_topk_exact(
        emb, _QUERY_IDS, k=_K, n_probe=_IVFX_PROBE
    ).select(
        "query_id", "candidate_id", F.col("rk").cast("long").alias("rk_ivf")
    )
    pq = cls.pq_topk(
        emb,
        _QUERY_IDS,
        k=_PQ_K,
        m=_PQ_M,
        sub_k=_PQ_SUBK,
        iters=_PQ_ITERS,
        rerank=_PQ_SHORTLIST,
    ).select(
        "query_id", "candidate_id", F.col("rk").cast("long").alias("rk_pq")
    )
    u = ivf.join(pq, ["query_id", "candidate_id"], "full")
    rrf = F.coalesce(
        F.lit(1).cast("double") / (F.lit(60) + F.col("rk_ivf")).cast("double"),
        F.lit(0).cast("double"),
    ) + F.coalesce(
        F.lit(1).cast("double") / (F.lit(60) + F.col("rk_pq")).cast("double"),
        F.lit(0).cast("double"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("candidate_id")
    )
    return (
        u.withColumn("rrf_score", rrf)
        .withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .select(
            "query_id", "candidate_id", "rk_ivf", "rk_pq",
            "rrf_score", "fused_rank",
        )
    )


def _kmeans_ctes(
    p: str, vec_slice: str, k: int, iters: int, scale: int,
    train_where: str = "",
) -> tuple[list[str], str]:
    """Prefixed unrolled-CTE k-means over a DuckDB list-slice expression;
    returns (ctes, final-centroid-CTE name). Mirrors `cluster.kmeans_fit`
    including seed order, shift, tie-breaks, and floor-div updates.
    `train_where` (a ``WHERE ...`` clause over ``id``) restricts the
    TRAINING subset — seeds and Lloyd updates run on `{p}t`; consumers
    of `{p}q` (assignment/encode over the full corpus) are unaffected."""
    sq = f"(q.qv - c.cv) * (q.qv - c.cv)"
    ctes = [
        f"""{p}q AS (
            SELECT vec_id AS id,
                   CAST(generate_subscripts({vec_slice}, 1) - 1 AS BIGINT) AS pos,
                   CAST(round(CAST(unnest({vec_slice}) AS DOUBLE) * {scale})
                        AS BIGINT) + {scale} AS qv
            FROM embeddings
        )""",
        f"""{p}t AS (
            SELECT * FROM {p}q {train_where}
        )""",
        f"""{p}seeds AS (
            SELECT id, cluster FROM (
                SELECT id,
                       ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id)
                           - 1 AS cluster
                FROM (SELECT DISTINCT id FROM {p}t)
            ) WHERE cluster < {k}
        )""",
        f"""{p}c0 AS (
            SELECT s.cluster, q.pos, q.qv AS cv
            FROM {p}seeds s JOIN {p}t q USING (id)
        )""",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""{p}a{r} AS (
            SELECT id, cluster FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM({sq}) ASC, c.cluster ASC) AS rn
                FROM {p}t q JOIN {p}c{r - 1} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""{p}u{r} AS (
            SELECT a.cluster, q.pos,
                   (CAST(SUM(q.qv) AS BIGINT) // COUNT(*)) AS cv
            FROM {p}a{r} a JOIN {p}t q USING (id)
            GROUP BY 1, 2
        )"""
        )
        ctes.append(
            f"""{p}c{r} AS (
            SELECT c.cluster, c.pos, COALESCE(u.cv, c.cv) AS cv
            FROM {p}c{r - 1} c LEFT JOIN {p}u{r} u
              ON u.cluster = c.cluster AND u.pos = c.pos
        )"""
        )
    return ctes, f"{p}c{iters}"


def _pq_sql(
    m: int,
    sub_k: int,
    iters: int,
    scale: int,
    k: int,
    qids: list[int],
    rerank: int = 0,
    train_where: str = "",
) -> str:
    """DuckDB replay of `cluster.pq_topk`: per-subspace codebook training,
    encoding, ADC distance tables, the per-query shortlist, and (when
    `rerank` is set) the exact-distance re-rank of the shortlist."""
    sub = cls.EMB_DIM // m
    ids = ", ".join(str(i) for i in qids)
    ctes: list[str] = []
    enc_parts, qd_parts = [], []
    for s in range(m):
        p = f"s{s}"
        vec_slice = f"embedding[{s * sub + 1}:{(s + 1) * sub}]"
        kct, cfinal = _kmeans_ctes(
            p, vec_slice, sub_k, iters, scale, train_where=train_where
        )
        ctes.extend(kct)
        ctes.append(
            f"""{p}enc AS (
            SELECT id, cluster AS code FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM((q.qv - c.cv) * (q.qv - c.cv)) ASC,
                                    c.cluster ASC) AS rn
                FROM {p}q q JOIN {cfinal} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""{p}qd AS (
            SELECT q.id AS query_id, c.cluster AS code,
                   CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS d
            FROM {p}q q JOIN {cfinal} c USING (pos)
            WHERE q.id IN ({ids})
            GROUP BY 1, 2
        )"""
        )
        enc_parts.append(f"SELECT id, {s} AS s, code FROM {p}enc")
        qd_parts.append(f"SELECT query_id, {s} AS s, code, d FROM {p}qd")
    ctes.append("codes AS (" + " UNION ALL ".join(enc_parts) + ")")
    ctes.append("qd AS (" + " UNION ALL ".join(qd_parts) + ")")
    ctes.append(
        """adc AS (
            SELECT qd.query_id, e.id AS candidate_id,
                   CAST(SUM(qd.d) AS BIGINT) AS adc_dist
            FROM codes e JOIN qd ON qd.s = e.s AND qd.code = e.code
            WHERE e.id <> qd.query_id
            GROUP BY 1, 2
        )"""
    )
    if not rerank:
        return f"""
        WITH {", ".join(ctes)}
        SELECT query_id, candidate_id, adc_dist, rk FROM (
            SELECT query_id, candidate_id, adc_dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, candidate_id ASC) AS rk
            FROM adc
        ) WHERE rk <= {k}
    """
    ctes.append(
        f"""shortlist AS (
            SELECT query_id, candidate_id FROM (
                SELECT query_id, candidate_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc_dist ASC, candidate_id ASC) AS rk
                FROM adc
            ) WHERE rk <= {rerank}
        )"""
    )
    ctes.append(
        f"""fullq AS (
            SELECT vec_id AS id,
                   CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale})
                        AS BIGINT) + {scale} AS qv
            FROM embeddings
        )"""
    )
    ctes.append(
        """rer AS (
            SELECT s.query_id, s.candidate_id,
                   CAST(SUM((cq.qv - qq.qv) * (cq.qv - qq.qv)) AS BIGINT) AS dist
            FROM shortlist s
            JOIN fullq cq ON cq.id = s.candidate_id
            JOIN fullq qq ON qq.id = s.query_id AND qq.pos = cq.pos
            GROUP BY 1, 2
        )"""
    )
    return f"""
        WITH {", ".join(ctes)}
        SELECT query_id, candidate_id, dist, rk FROM (
            SELECT query_id, candidate_id, dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY dist ASC, candidate_id ASC) AS rk
            FROM rer
        ) WHERE rk <= {k}
    """


_PQ_TRAIN_FRACTION = 0.5
_PQ_TRAIN_GATE = (
    "WHERE (('0x' || substr(md5('pqtrain' || CAST(id AS VARCHAR)), 1, 8))"
    "::BIGINT % 10000) < " + str(int(_PQ_TRAIN_FRACTION * 10_000))
)


def _ivfpq_sql(
    km_k: int,
    km_iters: int,
    m: int,
    sub_k: int,
    pq_iters: int,
    scale: int,
    n_probe: int,
    k: int,
    qids: list[int],
    rerank: int,
    train_where: str = "",
) -> str:
    """DuckDB replay of `cluster.ivfpq_topk`: coarse k-means + probe
    selection (as in `_ivf_exact_sql`), per-subspace PQ codebooks + ADC
    (as in `_pq_sql`) restricted to the probed lists' candidates, and
    the exact re-rank of the ADC shortlist. Subspace CTEs use the `ip`
    prefix so this statement composes with `_pq_sql`'s `s*` CTEs if
    ever embedded alongside them."""
    sub = cls.EMB_DIM // m
    ids = ", ".join(str(i) for i in qids)
    sq = "(q.qv - c.cv) * (q.qv - c.cv)"
    kct, cfinal = _kmeans_ctes(
        "ivp", "embedding", km_k, km_iters, scale, train_where=train_where
    )
    ctes: list[str] = list(kct)
    ctes.append(
        f"""coarse_assign AS (
            SELECT id, cluster FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM({sq}) ASC, c.cluster ASC) AS rn
                FROM ivpq q JOIN {cfinal} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        )"""
    )
    ctes.append(
        f"""ivp_centd AS (
            SELECT q.id AS query_id, c.cluster, SUM({sq}) AS d
            FROM ivpq q JOIN {cfinal} c USING (pos)
            WHERE q.id IN ({ids})
            GROUP BY 1, 2
        )"""
    )
    ctes.append(
        f"""ivp_probed AS (
            SELECT query_id, cluster FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY d ASC, cluster ASC) AS rn
                FROM ivp_centd
            ) WHERE rn <= {n_probe}
        )"""
    )
    ctes.append(
        """ivp_cand AS (
            SELECT p.query_id, f.id AS candidate_id
            FROM ivp_probed p
            JOIN coarse_assign f
              ON f.cluster = p.cluster AND f.id <> p.query_id
        )"""
    )
    enc_parts, qd_parts = [], []
    for s in range(m):
        p = f"ip{s}"
        vec_slice = f"embedding[{s * sub + 1}:{(s + 1) * sub}]"
        skct, scfinal = _kmeans_ctes(
            p, vec_slice, sub_k, pq_iters, scale, train_where=train_where
        )
        ctes.extend(skct)
        ctes.append(
            f"""{p}enc AS (
            SELECT id, cluster AS code FROM (
                SELECT q.id, c.cluster,
                       ROW_NUMBER() OVER (PARTITION BY q.id
                           ORDER BY SUM({sq}) ASC, c.cluster ASC) AS rn
                FROM {p}q q JOIN {scfinal} c USING (pos)
                GROUP BY q.id, c.cluster
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""{p}qd AS (
            SELECT q.id AS query_id, c.cluster AS code,
                   CAST(SUM({sq}) AS BIGINT) AS d
            FROM {p}q q JOIN {scfinal} c USING (pos)
            WHERE q.id IN ({ids})
            GROUP BY 1, 2
        )"""
        )
        enc_parts.append(f"SELECT id, {s} AS s, code FROM {p}enc")
        qd_parts.append(f"SELECT query_id, {s} AS s, code, d FROM {p}qd")
    ctes.append("ivp_codes AS (" + " UNION ALL ".join(enc_parts) + ")")
    ctes.append("ivp_qd AS (" + " UNION ALL ".join(qd_parts) + ")")
    ctes.append(
        """ivp_adc AS (
            SELECT ca.query_id, ca.candidate_id,
                   CAST(SUM(qd.d) AS BIGINT) AS adc_dist
            FROM ivp_cand ca
            JOIN ivp_codes e ON e.id = ca.candidate_id
            JOIN ivp_qd qd
              ON qd.s = e.s AND qd.code = e.code
             AND qd.query_id = ca.query_id
            GROUP BY 1, 2
        )"""
    )
    ctes.append(
        f"""ivp_shortlist AS (
            SELECT query_id, candidate_id FROM (
                SELECT query_id, candidate_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc_dist ASC, candidate_id ASC) AS rk
                FROM ivp_adc
            ) WHERE rk <= {rerank}
        )"""
    )
    ctes.append(
        """ivp_rer AS (
            SELECT s.query_id, s.candidate_id,
                   CAST(SUM((cq.qv - qq.qv) * (cq.qv - qq.qv)) AS BIGINT)
                       AS dist
            FROM ivp_shortlist s
            JOIN ivpq cq ON cq.id = s.candidate_id
            JOIN ivpq qq ON qq.id = s.query_id AND qq.pos = cq.pos
            GROUP BY 1, 2
        )"""
    )
    return f"""
        WITH {", ".join(ctes)}
        SELECT query_id, candidate_id, dist, rk FROM (
            SELECT query_id, candidate_id, dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY dist ASC, candidate_id ASC) AS rk
            FROM ivp_rer
        ) WHERE rk <= {k}
    """


def q_ann_topk_pq_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with codebooks trained on a deterministic md5-gated HALF of
    the corpus — the 100 TB training shape (Lloyd rounds must not scan
    the full corpus), still exact-checked: the oracle replays the same
    hash gate, so sampled training, full-corpus encode, ADC, and re-rank
    all hash-match."""
    emb = load_table(spark, sf_dir, "embeddings")
    width = emb.select(F.size("embedding").alias("n")).first().n
    if width != cls.EMB_DIM:
        raise ValueError(
            f"embeddings fixture width {width} != cluster.EMB_DIM "
            f"{cls.EMB_DIM}; update the shared constant"
        )
    return cls.pq_topk(
        emb,
        _QUERY_IDS,
        k=_K,
        m=_PQ_M,
        sub_k=_PQ_SUBK,
        iters=_PQ_ITERS,
        rerank=_PQ_SHORTLIST,
        train_fraction=_PQ_TRAIN_FRACTION,
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, dim, centroid) —
    the vector-aggregate behind IVF codebooks and class prototypes.
    Quantized-integer sums keep the reduction order-independent and
    engine-exact; the final long/long division is one deterministic
    double op. Long form shuffles (label × dim) partial aggregates —
    no per-row vector materialization on the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    longf = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v").cast("double") * 1_000_000).cast("long").alias("qv"),
    )
    return longf.groupBy("label", "dim").agg(
        (F.sum("qv") / (F.count(F.lit(1)) * 1_000_000)).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → fake binary payloads
    with typed metadata → Arrow `mapInPandas` feature extraction,
    ARRAY-form output. Exact-checked: the float32 feature vector is
    surfaced as a comma-joined string of ×10⁶-quantized integers (integer
    strings are engine-identical; float array cells are not), which DuckDB
    rebuilds from the same md5-derived bytes. The long form
    (`q_multimodal_feature_values`) checks the same values per-cell."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_fake_media(docs)
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.size("features").cast("long").alias("n_dims"),
        F.expr(
            "concat_ws(',', transform(features, "
            "f -> CAST(CAST(round(CAST(f AS DOUBLE) * 1000000) AS BIGINT) AS STRING)))"
        ).alias("features_q"),
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through mapInPandas (every 2nd frame;
    payload slices stand in for demuxed frames). Exact-checked: the fake
    payload is md5-derived, so DuckDB replays the byte slicing on the hex
    string and the BINARY frame payloads hash-match."""
    docs = load_table(spark, sf_dir, "documents")
    frames = mm.sample_frames(mm.attach_fake_media(docs), every=2)
    # frame bytes surfaced as lowercase hex: BINARY cells canonicalize
    # differently across drivers (bytes vs bytearray), hex strings don't
    return frames.select(
        "media_id",
        "frame_index",
        F.lower(F.hex("frame_payload")).alias("frame_hex"),
    )


_SHOT_THRESHOLD = 256


def q_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the sampled frame stream: byte-sum
    frame intensity + lag-window cut detection, threshold 256. The
    oracle replays demux slicing, the byte sums, and the window — the
    whole video-analysis pipeline hash-checks."""
    docs = load_table(spark, sf_dir, "documents")
    frames = mm.sample_frames(mm.attach_fake_media(docs), every=2)
    return mm.shot_boundaries(frames, threshold=_SHOT_THRESHOLD)


def q_multimodal_real_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec multimodal path, exact-checked: documents → valid binary
    PPM (P6) images (md5-derived pixels) → `extract_features(
    use_real_decoder=True)` dispatches the pure-python PPM parser, which
    must strip the 11-byte header and feature-ize the DECODED pixel
    buffer. The oracle replays the pixel arithmetic from the hex — if the
    parser mis-handles the header or pixel offsets, every value shifts."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_ppm_media(docs)
    feats = mm.extract_features(media, use_real_decoder=True)
    return feats.select(
        "media_id", "n_bytes", F.posexplode("features").alias("dim", "feature")
    ).select(
        "media_id",
        "n_bytes",
        F.col("dim").cast("long").alias("dim"),
        F.col("feature").cast("double").alias("feature"),
    )


def q_multimodal_audio_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec AUDIO path, exact-checked: documents → valid RIFF/WAVE
    mono 16-bit PCM clips (md5-derived samples) → `extract_features(
    use_real_decoder=True)` dispatches the pure-python chunk-walking WAV
    parser; features (count/rate/mean/min/max/peak/zero-crossings/energy)
    are computed over the DECODED int16 samples. The oracle replays the
    little-endian int16 decode and every aggregate from the hex — a
    mis-parsed header or byte order shifts every value."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_wav_media(docs)
    feats = mm.extract_features(media, use_real_decoder=True)
    return feats.select(
        "media_id", "n_bytes", F.posexplode("features").alias("dim", "feature")
    ).select(
        "media_id",
        "n_bytes",
        F.col("dim").cast("long").alias("dim"),
        F.col("feature").cast("double").alias("feature"),
    )


def q_media_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-corpus integrity audit: every payload strictly re-parsed by
    its registered codec (the decode-or-fail contract — a codec that
    guesses is worse than one that fails), per-format valid counts and
    exact byte totals. The fixture media are valid by construction, so
    the oracle derives the expected counts and byte arithmetic from the
    generators — a parser regression (accepting garbage or rejecting a
    valid container) flips a count and fails the hash."""
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_ppm_media(docs).unionByName(mm.attach_wav_media(docs))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ok, nb = [], [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                fmt = meta["format"]
                fmts.append(fmt)
                nb.append(len(payload))
                try:
                    if fmt == "image/ppm":
                        mm.decode_ppm(bytes(payload))
                    elif fmt == "audio/wav":
                        mm.decode_wav(bytes(payload))
                    else:
                        raise ValueError(fmt)
                    ok.append(True)
                except Exception:
                    ok.append(False)
            yield pd.DataFrame(
                {"format": fmts, "valid": ok, "n_bytes": nb}
            )

    checked = media.select("payload", "meta").mapInPandas(
        run, schema="format string, valid boolean, n_bytes long"
    )
    return checked.groupBy("format").agg(
        F.count(F.lit(1)).cast("long").alias("n_media"),
        F.sum(F.col("valid").cast("long")).cast("long").alias("n_valid"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
    )


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per image, REAL-decode path: documents →
    valid 8×2 binary PPMs → strict P6 parse → integer BT.601 luma →
    strict-mean threshold bits packed MSB-first
    (`operators/multimodal.py` `perceptual_hash`). All integer, so the
    oracle replays luma, threshold, and packing from the pixel hex — a
    header mis-parse or bit-order slip shifts every hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_ppm_media_wide(docs)
    return mm.perceptual_hash(media).select(
        "media_id", "n_px", "luma_total", "phash"
    )


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-dup pairs by Hamming distance ≤ 1 on the 16-bit
    perceptual hashes — pigeonhole blocking (2 × 8-bit blocks) on the
    Spark side vs a brute xor/popcount self-join in the oracle, so the
    hash match PROVES blocking completeness at query level, the same
    evidence shape as the SimHash family."""
    from ..operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    sigs = (
        mm.perceptual_hash(mm.attach_ppm_media_wide(docs))
        .select(F.col("media_id").alias("id"), F.col("phash").alias("simhash"))
    )
    pairs = dd.hamming_neardup(sigs, max_dist=1, bits=16)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


_PHASH_LUMA_SQL = """
        WITH h AS (
            SELECT doc_id AS media_id,
                   md5(text) || md5('x' || text) || md5('y' || text) AS px
            FROM documents
        ),
        l AS (
            SELECT media_id, dim,
                   299 * ('0x' || substr(px, 6 * dim + 1, 2))::BIGINT
                 + 587 * ('0x' || substr(px, 6 * dim + 3, 2))::BIGINT
                 + 114 * ('0x' || substr(px, 6 * dim + 5, 2))::BIGINT AS luma
            FROM (SELECT media_id, px,
                         unnest(generate_series(0, 15)) AS dim FROM h)
        ),
        t AS (
            SELECT media_id, CAST(SUM(luma) AS BIGINT) AS total
            FROM l GROUP BY 1
        ),
        ph AS (
            SELECT l.media_id, t.total,
                   CAST(SUM(CASE WHEN l.luma * 16 > t.total
                                 THEN (1::BIGINT << (15 - l.dim))
                                 ELSE 0 END) AS BIGINT) AS phash
            FROM l JOIN t ON l.media_id = t.media_id
            GROUP BY 1, 2
        )
"""


_DECIMATE_FACTOR = 2


def q_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio downsample path, byte-exact: WAV decode → keep every
    2nd sample → re-encode at half rate. The oracle rebuilds the output
    container from the constant header plus the selected sample bytes of
    the md5-derived input, so decode, decimation, and re-encode all
    hash-check (the audio twin of `q_multimodal_resize`)."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_wav_media(docs)
    out = mm.decimate_audio(media, factor=_DECIMATE_FACTOR)
    return out.select(
        "media_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.lower(F.hex("payload")).alias("payload_hex"),
    )


def _audio_decimate_sql() -> str:
    # 8 input samples (16 md5 bytes) decimated by 2 → samples 0,2,4,6 =
    # hex char spans (1,4),(9,4),(17,4),(25,4); output header is the
    # constant 44-byte mono 16-bit container for 8 data bytes @ 4000 Hz
    out_rate = mm._WAV_RATE // _DECIMATE_FACTOR
    hdr = mm.encode_wav(b"\x00" * 8, out_rate)[:44].hex()
    spans = " || ".join(
        f"substr(md5(text), {4 * i + 1}, 4)" for i in range(0, 8, 2)
    )
    return f"""
        SELECT doc_id AS media_id,
               CAST({out_rate} AS BIGINT) AS sample_rate,
               CAST(4 AS BIGINT) AS n_samples,
               '{hdr}' || {spans} AS payload_hex
        FROM documents
    """


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode→resize→re-encode: 4×2 PPM images nearest-neighbor
    downsampled to 2×1 (src pixels (0,0) and (2,0) survive) and
    re-encoded. The oracle rebuilds the expected output CONTAINER byte
    for byte from the source pixel hex — header handling, NN index
    mapping, and re-encode are all pinned."""
    docs = load_table(spark, sf_dir, "documents")
    resized = mm.resize_media(mm.attach_ppm_media(docs), out_w=2, out_h=1)
    return resized.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.lower(F.hex("payload")).alias("payload_hex"),
    )


def q_multimodal_feature_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal feature pipeline, exploded to (media_id, dim,
    feature) long form so the Arrow mapInPandas boundary is EXACT-checked:
    the fake decoder is md5-byte-window means, which DuckDB replays
    bit-for-bit (integer byte sums, one double division, float32 round)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = mm.extract_features(mm.attach_fake_media(docs))
    return feats.select(
        "media_id", "n_bytes", F.posexplode("features").alias("dim", "feature")
    ).select(
        "media_id",
        "n_bytes",
        F.col("dim").cast("long").alias("dim"),
        F.col("feature").cast("double").alias("feature"),
    )


def _lsh_quantized_oracle(n_planes: int = _LSH_PLANES, scale: int = 1000) -> str:
    from ..operators.similarity import quantized_sig_sql

    ids = ", ".join(str(i) for i in _QUERY_IDS)
    return f"""
        WITH q AS (
            SELECT vec_id AS id, ord AS pos,
                   CAST(round(CAST(val AS DOUBLE) * {scale}) AS BIGINT) AS qv
            FROM (SELECT vec_id, unnest(embedding) AS val,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
        ),
        sig AS ({quantized_sig_sql(n_planes, scale)}),
        queries AS (
            SELECT s.id AS query_id, s.sig AS q_sig FROM sig s
            WHERE s.id IN ({ids})
        ),
        cand AS (
            SELECT qu.query_id, s.id AS candidate_id
            FROM queries qu JOIN sig s ON s.sig = qu.q_sig AND s.id <> qu.query_id
        ),
        dots AS (
            SELECT c.query_id, c.candidate_id,
                   CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
            FROM cand c
            JOIN q a ON a.id = c.query_id
            JOIN q b ON b.id = c.candidate_id AND b.pos = a.pos
            GROUP BY 1, 2
        )
        SELECT query_id, candidate_id, dot, rk FROM (
            SELECT query_id, candidate_id, dot,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dot DESC, candidate_id ASC) AS rk
            FROM dots
        ) WHERE rk <= {_K}
    """


def _lsh_banded_oracle(
    bands: int = _LSH_BANDS, planes_per_band: int = _LSH_PPB, scale: int = 1000
) -> str:
    from ..operators.similarity import banded_sig_sql

    ids = ", ".join(str(i) for i in _QUERY_IDS)
    return f"""
        WITH qv AS (
            SELECT vec_id AS id, ord - 1 AS pos,
                   CAST(round(CAST(val AS DOUBLE) * {scale}) AS BIGINT) AS qv
            FROM (SELECT vec_id, unnest(embedding) AS val,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
        ),
        sigs AS ({banded_sig_sql(bands, planes_per_band, scale)}),
        pairs AS (
            SELECT DISTINCT q.id AS query_id, c.id AS candidate_id
            FROM sigs q JOIN sigs c
              ON c.band = q.band AND c.bsig = q.bsig
            WHERE q.id IN ({ids}) AND c.id <> q.id
        ),
        dots AS (
            SELECT p.query_id, p.candidate_id,
                   CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
            FROM pairs p
            JOIN qv a ON a.id = p.query_id
            JOIN qv b ON b.id = p.candidate_id AND b.pos = a.pos
            GROUP BY 1, 2
        )
        SELECT query_id, candidate_id, dot, rk FROM (
            SELECT query_id, candidate_id, dot,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dot DESC, candidate_id ASC)
                       AS rk
            FROM dots
        ) WHERE rk <= {_K}
    """


_RESIZED_HDR_HEX = b"P6\n2 1\n255\n".hex()

ORACLES: dict[str, str] = {
    "q_kmeans_clusters": _kmeans_sql(cls.K, cls.ITERS, cls.SCALE),
    "q_kcenter_diverse_sample": _kcenter_sql(_KCENTER_K, cls.SCALE),
    "q_cluster_balanced_sample": _cluster_sample_sql(
        cls.K, cls.ITERS, cls.SCALE, _CB_SAMPLE_N
    ),
    "q_random_projection": _random_projection_sql(
        _RP_OUT_DIM, cls.SCALE, _RP_SEED
    ),
    "q_semantic_dedup": _semantic_dedup_sql(
        cls.K, cls.ITERS, cls.SCALE, _SEMDEDUP_DOT_Q
    ),
    "q_ann_topk_pq": _pq_sql(
        _PQ_M,
        _PQ_SUBK,
        _PQ_ITERS,
        cls.SCALE,
        _PQ_K,
        _QUERY_IDS,
        rerank=_PQ_SHORTLIST,
    ),
    "q_knn_graph": _knn_graph_sql(_KNN_K, _KNN_BANDS, _KNN_PPB),
    "q_pagerank_knn": _pagerank_sql(_PR_ITERS, _PR_SCALE),
    "q_triangle_stats": _triangle_sql(),
    "q_label_propagation": _label_prop_sql(_LP_ITERS, _LP_SEED_THR),
    "q_modularity_score": _modularity_sql(_LP_ITERS, _LP_SEED_THR),
    "q_mmr_rerank": _mmr_sql(_MMR_K, _MMR_POOL, 1000, _QUERY_IDS),
    "q_pagerank_personalized": _pagerank_weighted_sql(
        _PPR_ITERS, _PPR_SCALE, _PPR_WSCALE, _PPR_SEED_THR
    ),
    "q_audio_decimate": _audio_decimate_sql(),
    "q_ann_topk_pq_sampled": _pq_sql(
        _PQ_M,
        _PQ_SUBK,
        _PQ_ITERS,
        cls.SCALE,
        _PQ_K,
        _QUERY_IDS,
        rerank=_PQ_SHORTLIST,
        train_where=_PQ_TRAIN_GATE,
    ),
    "q_ann_topk_ivfpq": _ivfpq_sql(
        cls.K,
        cls.ITERS,
        _PQ_M,
        _PQ_SUBK,
        _PQ_ITERS,
        cls.SCALE,
        _IVFPQ_PROBE,
        _PQ_K,
        _QUERY_IDS,
        rerank=_IVFPQ_SHORTLIST,
        train_where=_PQ_TRAIN_GATE,
    ),
    "q_ann_topk_ivf_exact": _ivf_exact_sql(
        cls.K, cls.ITERS, cls.SCALE, _IVFX_PROBE, _K, _QUERY_IDS
    ),
    "q_rank_fusion": f"""
        WITH ivf AS ({_ivf_exact_sql(
            cls.K, cls.ITERS, cls.SCALE, _IVFX_PROBE, _K, _QUERY_IDS
        )}),
        pq AS ({_pq_sql(
            _PQ_M, _PQ_SUBK, _PQ_ITERS, cls.SCALE, _PQ_K, _QUERY_IDS,
            rerank=_PQ_SHORTLIST,
        )}),
        u AS (
            SELECT COALESCE(i.query_id, p.query_id) AS query_id,
                   COALESCE(i.candidate_id, p.candidate_id) AS candidate_id,
                   CAST(i.rk AS BIGINT) AS rk_ivf,
                   CAST(p.rk AS BIGINT) AS rk_pq
            FROM ivf i FULL OUTER JOIN pq p
              ON i.query_id = p.query_id
             AND i.candidate_id = p.candidate_id
        ),
        s AS (
            SELECT query_id, candidate_id, rk_ivf, rk_pq,
                   COALESCE(CAST(1 AS DOUBLE)
                            / CAST(60 + rk_ivf AS DOUBLE),
                            CAST(0 AS DOUBLE))
                   + COALESCE(CAST(1 AS DOUBLE)
                              / CAST(60 + rk_pq AS DOUBLE),
                              CAST(0 AS DOUBLE)) AS rrf_score
            FROM u
        )
        SELECT query_id, candidate_id, rk_ivf, rk_pq, rrf_score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf_score DESC,
                                                candidate_id ASC)
                    AS BIGINT) AS fused_rank
        FROM s
    """,
    "q_ann_topk_lsh_quantized": _lsh_quantized_oracle(),
    "q_ann_topk_lsh_banded": _lsh_banded_oracle(),
    "q_ann_topk_ivf": f"""
        SELECT CAST(unnest([{", ".join(str(i) for i in _QUERY_IDS)}]) AS BIGINT)
                   AS query_id,
               TRUE AS recall_ok
    """,
    "q_multimodal_features": """
        WITH h AS (
            SELECT doc_id AS media_id, md5(text) || md5('x' || text) AS hx
            FROM documents
        ),
        d AS (SELECT media_id, hx, unnest(generate_series(0, 7)) AS dim FROM h),
        f AS (
            SELECT media_id, dim,
                   (  ('0x' || substr(hx, 8*dim + 1, 2))::BIGINT
                    + ('0x' || substr(hx, 8*dim + 3, 2))::BIGINT
                    + ('0x' || substr(hx, 8*dim + 5, 2))::BIGINT
                    + ('0x' || substr(hx, 8*dim + 7, 2))::BIGINT) / 1020.0 AS v
            FROM d
        )
        SELECT media_id,
               CAST(32 AS BIGINT) AS n_bytes,
               CAST(8 AS BIGINT) AS n_dims,
               string_agg(
                   CAST(CAST(round(CAST(CAST(v AS REAL) AS DOUBLE) * 1000000)
                        AS BIGINT) AS VARCHAR), ',' ORDER BY dim) AS features_q
        FROM f
        GROUP BY media_id
    """,
    "q_multimodal_real_codec": """
        WITH h AS (
            SELECT doc_id AS media_id,
                   md5(text) || substr(md5('x' || text), 1, 16) AS px
            FROM documents
        ),
        d AS (SELECT media_id, px, unnest(generate_series(0, 7)) AS dim FROM h),
        f AS (
            SELECT media_id, dim,
                   (  ('0x' || substr(px, 6*dim + 1, 2))::BIGINT
                    + ('0x' || substr(px, 6*dim + 3, 2))::BIGINT
                    + ('0x' || substr(px, 6*dim + 5, 2))::BIGINT) / 765.0 AS v
            FROM d
        )
        SELECT media_id,
               CAST(35 AS BIGINT) AS n_bytes,
               CAST(dim AS BIGINT) AS dim,
               CAST(CAST(v AS REAL) AS DOUBLE) AS feature
        FROM f
    """,
    "q_multimodal_resize": f"""
        SELECT doc_id AS media_id,
               CAST(2 AS BIGINT) AS width, CAST(1 AS BIGINT) AS height,
               '{_RESIZED_HDR_HEX}'
                   || lower(substr(px, 1, 6) || substr(px, 13, 6))
                   AS payload_hex
        FROM (
            SELECT doc_id,
                   md5(text) || substr(md5('x' || text), 1, 16) AS px
            FROM documents
        )
    """,
    # 4×2 PPM payload = 11-byte header + 24 RGB bytes; WAV = 44-byte
    # header + 16 PCM bytes — derived from the generators the media
    # builders replay
    "q_media_integrity": """
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
        SELECT 'audio/wav' AS format, n_docs AS n_media,
               n_docs AS n_valid,
               CAST(n_docs * 60 AS BIGINT) AS total_bytes
        FROM n
        UNION ALL
        SELECT 'image/ppm' AS format, n_docs AS n_media,
               n_docs AS n_valid,
               CAST(n_docs * 35 AS BIGINT) AS total_bytes
        FROM n
    """,
    "q_image_phash": _PHASH_LUMA_SQL + """
        SELECT media_id, CAST(16 AS BIGINT) AS n_px,
               total AS luma_total, phash
        FROM ph
    """,
    "q_image_phash_neardup": _PHASH_LUMA_SQL + """
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        FROM ph a JOIN ph b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 1
    """,
    "q_multimodal_audio_codec": """
        WITH h AS (
            SELECT doc_id AS media_id, md5(text) AS hx FROM documents
        ),
        s AS (
            SELECT media_id, i,
                   ('0x' || substr(hx, 4*i + 1, 2))::BIGINT
                   + 256 * ('0x' || substr(hx, 4*i + 3, 2))::BIGINT AS raw
            FROM h, (SELECT unnest(generate_series(0, 7)) AS i)
        ),
        v AS (
            SELECT media_id, i,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
            FROM s
        ),
        l AS (
            SELECT media_id, i, v,
                   lag(v) OVER (PARTITION BY media_id ORDER BY i) AS pv
            FROM v
        ),
        a AS (
            SELECT media_id,
                   CAST(SUM(v) AS BIGINT) AS sv,
                   CAST(SUM(v * v) AS BIGINT) AS sv2,
                   MIN(v) AS mn, MAX(v) AS mx, MAX(ABS(v)) AS pk,
                   CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                            THEN 1 ELSE 0 END) AS BIGINT) AS zc
            FROM l GROUP BY 1
        ),
        feats AS (
            SELECT media_id,
                   unnest([8.0, 8000.0,
                           CAST(sv AS DOUBLE) / 8,
                           CAST(mn AS DOUBLE), CAST(mx AS DOUBLE),
                           CAST(pk AS DOUBLE), CAST(zc AS DOUBLE),
                           CAST(sv2 AS DOUBLE) / 8]) AS fv,
                   unnest(generate_series(0, 7)) AS dim
            FROM a
        )
        SELECT media_id, CAST(60 AS BIGINT) AS n_bytes,
               CAST(dim AS BIGINT) AS dim,
               CAST(CAST(fv AS REAL) AS DOUBLE) AS feature
        FROM feats
    """,
    "q_shot_boundaries": f"""
        WITH h AS (
            SELECT doc_id AS media_id,
                   md5(text) || md5('x' || text) AS hx,
                   length(text) % 8 + 1 AS n_frames
            FROM documents
        ),
        fr AS (
            SELECT media_id, hx,
                   unnest(generate_series(0, n_frames - 1)) AS fi
            FROM h
        ),
        fx AS (
            SELECT media_id, CAST(fi AS INT) AS frame_index,
                   substr(hx, 2 * (fi % 32) + 1, 16) AS fh
            FROM fr WHERE fi % 2 = 0
        ),
        ity AS (
            SELECT media_id, frame_index,
                   CAST(list_sum(list_transform(
                       generate_series(0, CAST(length(fh) / 2 AS INT) - 1),
                       j -> ('0x' || substr(fh, j * 2 + 1, 2))::BIGINT
                   )) AS BIGINT) AS intensity
            FROM fx
        ),
        lagged AS (
            SELECT media_id, frame_index, intensity,
                   lag(intensity) OVER (PARTITION BY media_id
                                        ORDER BY frame_index) AS prev
            FROM ity
        )
        SELECT media_id, frame_index, intensity,
               abs(intensity - prev) AS delta,
               (prev IS NULL OR abs(intensity - prev) >= {_SHOT_THRESHOLD})
                   AS is_boundary
        FROM lagged
    """,
    "q_frame_sample": """
        WITH h AS (
            SELECT doc_id AS media_id,
                   md5(text) || md5('x' || text) AS hx,
                   length(text) % 8 + 1 AS n_frames
            FROM documents
        ),
        fr AS (
            SELECT media_id, hx,
                   unnest(generate_series(0, n_frames - 1)) AS fi
            FROM h
        )
        SELECT media_id,
               CAST(fi AS INT) AS frame_index,
               substr(hx, 2 * (fi % 32) + 1, 16) AS frame_hex
        FROM fr WHERE fi % 2 = 0
    """,
    "q_multimodal_feature_values": """
        WITH h AS (
            SELECT doc_id AS media_id, md5(text) || md5('x' || text) AS hx
            FROM documents
        ),
        d AS (SELECT media_id, hx, unnest(generate_series(0, 7)) AS dim FROM h),
        f AS (
            SELECT media_id, dim,
                   (  ('0x' || substr(hx, 8*dim + 1, 2))::BIGINT
                    + ('0x' || substr(hx, 8*dim + 3, 2))::BIGINT
                    + ('0x' || substr(hx, 8*dim + 5, 2))::BIGINT
                    + ('0x' || substr(hx, 8*dim + 7, 2))::BIGINT) / 1020.0 AS v
            FROM d
        )
        SELECT media_id,
               CAST(32 AS BIGINT) AS n_bytes,
               CAST(dim AS BIGINT) AS dim,
               CAST(CAST(v AS REAL) AS DOUBLE) AS feature
        FROM f
    """,
    "q_label_centroids": """
        WITH longf AS (
            SELECT label,
                   CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
            FROM embeddings
        )
        SELECT label, dim,
               CAST(SUM(qv) AS BIGINT) / (COUNT(*) * 1000000) AS centroid,
               COUNT(*) AS n_vecs
        FROM longf
        GROUP BY 1, 2
    """,
    "q_ann_topk_dot": f"""
        WITH q AS (
            SELECT vec_id AS id, ord AS pos,
                   CAST(round(CAST(val AS DOUBLE) * 1000) AS BIGINT) AS qv
            FROM (SELECT vec_id, unnest(embedding) AS val,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
        ),
        queries AS (
            SELECT id AS query_id, pos, qv AS q_qv FROM q
            WHERE id IN ({", ".join(str(i) for i in _QUERY_IDS)})
        ),
        dots AS (
            SELECT qu.query_id, c.id AS candidate_id,
                   CAST(SUM(qu.q_qv * c.qv) AS BIGINT) AS dot
            FROM queries qu JOIN q c ON qu.pos = c.pos AND c.id <> qu.query_id
            GROUP BY 1, 2
        )
        SELECT query_id, candidate_id, dot, rk FROM (
            SELECT query_id, candidate_id, dot,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dot DESC, candidate_id ASC) AS rk
            FROM dots
        ) WHERE rk <= {_K}
    """,
}


_MATRYOSHKA_DIMS = (8, 16, 32)
_MAT_K = 10


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit (Kusupati et al. 2022, the
    public MRL recipe): how much exact-top-k recall survives when the
    64-dim embeddings are truncated to their leading `d` dims, for each
    candidate `d` — the number read before shipping a cheaper index.
    Both rankings are the exact quantized-dot brute force (deterministic
    tie-break), so per-(d, query) overlap is engine-exact — this is a
    *measurement of the representation*, not of an approximate index.

    Scale shape: one corpus scan per candidate dim (query side literal,
    TakeOrdered top-k — no shuffle before the rank) + tiny top-k×top-k
    joins; the union is over `len(_MATRYOSHKA_DIMS)` bounded frames."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = sim.dot_topk_quantized(emb, _QUERY_IDS, k=_MAT_K).select(
        "query_id", "candidate_id"
    )
    out = None
    for d in _MATRYOSHKA_DIMS:
        trunc = emb.select(
            "vec_id", F.expr(f"slice(embedding, 1, {d})").alias("embedding")
        )
        top_d = sim.dot_topk_quantized(trunc, _QUERY_IDS, k=_MAT_K).select(
            "query_id", "candidate_id"
        )
        hits = (
            top_d.join(full, ["query_id", "candidate_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        )
        # LEFT join from the query-id spine so a dim with ZERO surviving
        # overlap still shows a recall-0 row (the reading that matters)
        spine = spark.createDataFrame(
            [(qid,) for qid in _QUERY_IDS], "query_id bigint"
        )
        hits = spine.join(hits, "query_id", "left").select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        )
        row = hits.select(
            F.lit(d).cast("long").alias("dims"),
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(float(_MAT_K))).alias(
                "recall_at_k"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the approximate k-NN graph — out-degree is
    fixed at k by construction, so the IN-degree profile is where hubness
    (a vector that everyone lists as a neighbor) shows up; heavy hubs are
    the classic symptom of a collapsed embedding region. Includes the
    in-degree-0 row (vectors nobody points at). Edge-sized aggregate +
    one node-sized join; the histogram is degree-range-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = sim.knn_graph(
        emb, k=_KNN_K, bands=_KNN_BANDS, planes_per_band=_KNN_PPB
    )
    indeg = knn.groupBy(F.col("dst").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    per_node = (
        emb.select("vec_id")
        .join(indeg, "vec_id", "left")
        .select(F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"))
    )
    return per_node.groupBy("in_deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def q_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation diagnostic over the labeled embeddings: per
    label, the mean squared distance of members to their own centroid
    (intra) vs the squared distance to the NEAREST other centroid
    (inter), and their ratio — a Fisher-style "are these classes even
    separable" health check run before training a probe. All scatter
    arithmetic is division-free exact integers (distances to the
    centroid s/n are scaled by n²: Σ_d (n·x_d − s_d)²; centroid-pair
    distances by (n_a·n_b)²), with one final IEEE division per reported
    column, so every value replays bit-exactly. n³ stays in bigint up
    to ~2M members per label; past that, swap the normalizer to double.

    Scale shape: one (label, pos) sum aggregate (labels × dims rows), a
    broadcast join of those sums back onto the corpus scan for the
    scatter aggregate, and a labels²-sized centroid cross — the corpus
    shuffles only as (label, pos, partial-sum) rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.expr(
            "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000)"
            " AS BIGINT))"
        ).alias("qarr"),
    )
    comp = q.select(
        "label", F.posexplode("qarr").alias("pos", "qv")
    )
    sums = comp.groupBy("label", "pos").agg(
        F.sum("qv").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    scatter = (
        comp.join(F.broadcast(sums), ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(
                (F.col("n") * F.col("qv") - F.col("s"))
                * (F.col("n") * F.col("qv") - F.col("s"))
            )
            .cast("long")
            .alias("scatter"),
            F.max("n").cast("long").alias("n"),
        )
        .select(
            "label",
            "n",
            # scatter = n² Σ_members ‖x−μ‖², members = n → divide by n³;
            # the /dim makes it a per-dimension mean squared deviation
            (
                F.col("scatter").cast("double")
                / (F.col("n") * F.col("n") * F.col("n")).cast("double")
            ).alias("intra_msd"),
        )
    )
    a = sums.select(
        F.col("label").alias("la"),
        "pos",
        F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = sums.select(
        F.col("label").alias("lb"),
        "pos",
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    inter = (
        a.join(b, "pos")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(
                (F.col("nb") * F.col("sa") - F.col("na") * F.col("sb"))
                * (F.col("nb") * F.col("sa") - F.col("na") * F.col("sb"))
            )
            .cast("long")
            .alias("cross_scatter"),
            F.max("na").cast("long").alias("na"),
            F.max("nb").cast("long").alias("nb"),
        )
        .select(
            F.col("la").alias("label"),
            (
                F.col("cross_scatter").cast("double")
                / (
                    F.col("na") * F.col("na") * F.col("nb") * F.col("nb")
                ).cast("double")
            ).alias("pair_dist"),
        )
        .groupBy("label")
        .agg(F.min("pair_dist").alias("inter_min"))
    )
    return scatter.join(inter, "label").select(
        "label",
        "n",
        "intra_msd",
        "inter_min",
        (F.col("inter_min") / F.col("intra_msd")).alias("separation"),
    )


def _matryoshka_sql() -> str:
    per_dim = []
    for d in _MATRYOSHKA_DIMS:
        per_dim.append(f"""
        SELECT CAST({d} AS BIGINT) AS dims, sp.query_id,
               CAST(COUNT(t.candidate_id) AS BIGINT) AS n_overlap,
               CAST(COUNT(t.candidate_id) AS DOUBLE) / {float(_MAT_K)}
                   AS recall_at_k
        FROM (SELECT unnest(ARRAY[{", ".join(str(i) for i in _QUERY_IDS)}])
                  AS query_id) sp
        LEFT JOIN (
            SELECT a.query_id, a.candidate_id FROM (
                SELECT qu.query_id, c.id AS candidate_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qu.query_id
                           ORDER BY SUM(qu.qv * c.qv) DESC, c.id ASC) AS rk
                FROM qv qu JOIN qv c
                  ON c.pos = qu.pos AND c.id <> qu.id
                WHERE qu.id IN ({", ".join(str(i) for i in _QUERY_IDS)})
                  AND qu.pos < {d} AND c.pos < {d}
                GROUP BY qu.query_id, qu.id, c.id
            ) a
            JOIN full_topk f
              ON f.query_id = a.query_id AND f.candidate_id = a.candidate_id
            WHERE a.rk <= {_MAT_K}
        ) t ON t.query_id = sp.query_id
        GROUP BY sp.query_id
        """)
    union = " UNION ALL ".join(per_dim)
    return f"""
        WITH qv AS (
            SELECT vec_id AS id, vec_id AS query_id, ord - 1 AS pos,
                   CAST(round(CAST(val AS DOUBLE) * 1000) AS BIGINT) AS qv
            FROM (SELECT vec_id, unnest(embedding) AS val,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
        ),
        full_topk AS (
            SELECT query_id, candidate_id FROM (
                SELECT qu.query_id, c.id AS candidate_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qu.query_id
                           ORDER BY SUM(qu.qv * c.qv) DESC, c.id ASC) AS rk
                FROM qv qu JOIN qv c
                  ON c.pos = qu.pos AND c.id <> qu.id
                WHERE qu.id IN ({", ".join(str(i) for i in _QUERY_IDS)})
                GROUP BY qu.query_id, qu.id, c.id
            ) WHERE rk <= {_MAT_K}
        )
        {union}
    """


ORACLES["q_matryoshka_recall"] = _matryoshka_sql()

ORACLES["q_degree_distribution"] = f"""
    WITH knn AS ({_knn_graph_sql(_KNN_K, _KNN_BANDS, _KNN_PPB)}),
    indeg AS (
        SELECT dst AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_deg
        FROM knn GROUP BY 1
    )
    SELECT COALESCE(i.in_deg, 0) AS in_deg,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM embeddings e LEFT JOIN indeg i ON e.vec_id = i.vec_id
    GROUP BY 1
"""

ORACLES["q_label_separation"] = """
    WITH comp AS (
        SELECT label, ord - 1 AS pos,
               CAST(round(CAST(val AS DOUBLE) * 1000) AS BIGINT) AS qv
        FROM (SELECT label, unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS ord
              FROM embeddings)
    ),
    sums AS (
        SELECT label, pos,
               CAST(SUM(qv) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM comp GROUP BY 1, 2
    ),
    scatter AS (
        SELECT c.label,
               MAX(s.n) AS n,
               CAST(SUM((s.n * c.qv - s.s) * (s.n * c.qv - s.s)) AS BIGINT)
                   AS scatter
        FROM comp c JOIN sums s ON c.label = s.label AND c.pos = s.pos
        GROUP BY 1
    ),
    inter AS (
        SELECT la AS label, MIN(pair_dist) AS inter_min FROM (
            SELECT a.label AS la, b.label AS lb,
                   CAST(SUM((b.n * a.s - a.n * b.s)
                            * (b.n * a.s - a.n * b.s)) AS DOUBLE)
                   / CAST(MAX(a.n) * MAX(a.n) * MAX(b.n) * MAX(b.n)
                          AS DOUBLE) AS pair_dist
            FROM sums a JOIN sums b
              ON a.pos = b.pos AND a.label <> b.label
            GROUP BY 1, 2
        ) GROUP BY 1
    )
    SELECT sc.label, sc.n,
           CAST(sc.scatter AS DOUBLE)
               / CAST(sc.n * sc.n * sc.n AS DOUBLE) AS intra_msd,
           i.inter_min,
           i.inter_min / (CAST(sc.scatter AS DOUBLE)
               / CAST(sc.n * sc.n * sc.n AS DOUBLE)) AS separation
    FROM scatter sc JOIN inter i ON sc.label = i.label
"""


_KCORE_K = 3
_KCORE_ROUNDS = 3
_KCORE_KNN_K = 8
_KCORE_BANDS = 16
_KCORE_MIN_DOT = 300_000  # quantized dot (cos ~0.3 at scale=1000, unit-norm)


def q_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership after `_KCORE_ROUNDS` bounded peeling rounds,
    over the SIMILARITY-THRESHOLD graph (8-NN candidates kept only when
    the quantized dot clears `_KCORE_MIN_DOT`) — a fixed-out-degree k-NN
    graph has a near-constant degree floor, which makes its k-core
    binary; thresholding by similarity lets degree track local density,
    so the core isolates genuinely well-connected embedding regions.
    Clamped rounds keep the fixed point SQL-unrollable (each round only
    removes more, so round-R is a monotone over-approximation of the
    true core); see `operators/graph.kcore`."""
    from ..operators.graph import kcore

    emb = load_table(spark, sf_dir, "embeddings")
    knn = sim.knn_graph(
        emb, k=_KCORE_KNN_K, bands=_KCORE_BANDS, planes_per_band=_KNN_PPB
    )
    edges = knn.filter(F.col("dot") >= _KCORE_MIN_DOT).select("src", "dst")
    return kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _kcore_sql() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    k{r} AS MATERIALIZED (
        SELECT src AS id FROM {prev} GROUP BY 1
        HAVING COUNT(*) >= {_KCORE_K}
    ),
    e{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM {prev} e
        JOIN k{r} a ON a.id = e.src
        JOIN k{r} b ON b.id = e.dst
    )""")
        prev = f"e{r}"
    return f"""
    WITH knn AS MATERIALIZED (
        {_knn_graph_sql(_KCORE_KNN_K, _KCORE_BANDS, _KNN_PPB)}
    ),
    thresholded AS MATERIALIZED (
        SELECT src, dst FROM knn WHERE dot >= {_KCORE_MIN_DOT}
    ),
    e0 AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM thresholded
            UNION ALL
            SELECT dst AS src, src AS dst FROM thresholded
        ) WHERE src <> dst
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e0),
    {",".join(rounds)},
    fd AS (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM {prev} GROUP BY 1
    )
    SELECT n.id, COALESCE(fd.degree, 0) AS degree,
           COALESCE(fd.degree, 0) >= {_KCORE_K} AS in_core
    FROM nodes n LEFT JOIN fd ON n.id = fd.id
"""


ORACLES["q_kcore_membership"] = _kcore_sql()
