"""Graph analytics over edge lists (k-NN graphs, lineage chains).

The reference feeds a relational store and leaves graph questions to
downstream tools; at training-data scale the k-NN graph built by
`operators/similarity.knn_graph` immediately raises "which documents are
central / representative?" — PageRank is the canonical answer and the
canonical iterative-dataflow workload, so it doubles as the engine's
demonstration that fixed-point algorithms stay shuffle-frugal in
DataFrame form (SURVEY §2 extension surface; cluster resolution in
`operators/dedup.py` is the other iterative family).

Determinism across engines: floating-point PageRank sums neighbor
contributions in nondeterministic order, so ranks are kept in integer
micro-units (`scale` = 1e12 per unit of probability mass). Integer
division (`DIV` / DuckDB `//`) is floor division — identical for the
non-negative quantities here — and integer addition is
order-independent, so every iteration is bit-exact in both engines and
the whole fixed-point unrolls into plain SQL. The floor rounding leaks
O(outdeg) micro-units of mass per node per round — quantization noise
~1e-9 of total mass, far below any ranking-relevant difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.truncate import iterate, registered_local_checkpoint, round_truncate


def _nodes(e: DataFrame) -> DataFrame:
    """The distinct endpoints of an (src, dst) edge frame as `id`,
    truncated: the node set every centrality round joins against."""
    return (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .transform(round_truncate)
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Quantized-integer PageRank over a directed edge list.

    new_rank = (1-d)/n + d * Σ_in rank/outdeg, d = damp_num/damp_den,
    all in integer micro-units. Nodes = endpoints of `edges`; nodes that
    appear only as destinations hold rank but emit nothing (their mass
    leaks, the simple-variant convention — at web scale you'd
    redistribute dangling mass; for k-NN centrality the leak is
    irrelevant and keeps the iteration to one join + one aggregate).

    Scale shape: the edge list is the big object and it shuffles ONCE up
    front (outdeg aggregate + join, then localCheckpoint so no
    round re-pays it). Each round then shuffles edge-sized (dst, contrib)
    pairs into a node-sized aggregate and left-joins node-sized frames —
    2 shuffles per round over data that never exceeds the edge count,
    with the rank frame localCheckpoint-ed every round so the logical
    plan stays O(1) per round instead of O(iters) (same discipline as
    `bpe_train`'s checkpoint cadence). The driver holds only n (one
    count scalar), never rows.
    """

    # materialize the edge list ONCE — nodes, outdegrees, and every
    # iteration all derive from this checkpoint, so an expensive edge
    # producer (e.g. the banded-LSH k-NN self-join) runs a single time
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(round_truncate)
    nodes = _nodes(e)
    n = nodes.count()
    init = scale // n
    base = ((damp_den - damp_num) * init) // damp_den

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = e.join(outdeg, "src").transform(round_truncate)

    def step(ranks, _):
        contribs = (
            ew.join(ranks, ew.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(contribs, "id", "left").select(
            "id",
            (
                F.lit(base).cast("long")
                + F.expr(f"({damp_num} * coalesce(s, 0L)) div {damp_den}")
            ).alias("rank"),
        )

    ranks = iterate(
        nodes.select("id", F.lit(init).cast("long").alias("rank")), step, iters
    )
    return ranks.select(
        "id",
        F.col("rank").alias("rank_micro"),
        (F.col("rank").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def hits(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**9,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, public) over a directed
    edge list — the OTHER classic web-centrality rank beside PageRank:
    a good HUB links to many good authorities, a good AUTHORITY is
    linked from many good hubs. For a crawl pipeline the authority
    score is a per-host content-quality prior while the hub score
    identifies directory/aggregator hosts worth re-crawling for
    frontier discovery.

    Integer-exact variant so the fixed point unrolls into SQL CTEs
    (the `pagerank` discipline): scores live in `scale` units and each
    round's L1 normalization is the TWO-STEP floor division
    ``raw div (total div scale)`` — all BIGINT, overflow-free while
    edges·scale < 2^63 (~9·10⁹ edges at the default scale; raise via a
    smaller `scale`), identical floor semantics in both engines. The
    two-step form quantizes ~1/scale relative per round — far below
    ranking relevance, same trade `pagerank` documents. Classic
    sequential update order: authorities from CURRENT hubs, then hubs
    from the NEW authorities.

    Returns (id, hub_scaled, auth_scaled) — BIGINTs, hash-exact
    cross-engine.

    Scale shape: edges shuffle once up front (distinct), then each
    round is two edge-sized joins + two node-sized aggregates + two
    1-row totals broadcast back — `plans.truncate.iterate` runs the two
    half-rounds and truncates each new node frame."""

    if iters < 1:
        raise ValueError("hits: iters must be >= 1")

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .transform(round_truncate)
    )
    nodes = _nodes(e)
    norm = (
        f"coalesce(raw, 0L) div greatest(coalesce(t, 0L) div {scale}L, 1L)"
    )

    def normalized(state: DataFrame, score: str, frm: str, to: str, out: str):
        # one half-round: every edge carries the `score` of its `frm` end
        # to its `to` end; the sums are L1-normalized over every node
        raw = (
            e.join(state.withColumnRenamed("id", frm), frm)
            .groupBy(F.col(to).alias("id"))
            .agg(F.sum(score).cast("long").alias("raw"))
        )
        total = raw.agg(F.sum("raw").cast("long").alias("t"))
        return (
            nodes.join(raw, "id", "left")
            .crossJoin(F.broadcast(total))
            .select("id", F.expr(norm).alias(out))
        )

    def authorities(ah, _):
        return normalized(ah[1], "h", "src", "dst", "a"), ah[1]

    def hubs(ah, _):
        return ah[0], normalized(ah[0], "a", "dst", "src", "h")

    # state (a, h); `a` has no value before the first round
    h0 = nodes.select("id", F.lit(scale).cast("long").alias("h"))
    a, h = iterate((None, h0), (authorities, hubs), iters)
    return (
        nodes.join(h.withColumnRenamed("h", "hub_scaled"), "id")
        .join(a.withColumnRenamed("a", "auth_scaled"), "id")
        .select("id", "hub_scaled", "auth_scaled")
    )


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    UNDIRECTED graph underlying a directed edge list (e.g. the k-NN
    graph's mutual/one-way neighbor pairs collapse to one edge).

    Algorithm: degree-ordered edge orientation + wedge closing (the
    "compact-forward" scheme from the triangle-listing literature —
    public algorithm). Every undirected edge is oriented from the
    (degree, id)-smaller endpoint to the larger; a triangle {u,v,w} is
    then counted EXACTLY once as a wedge u→v, u→w (ord v < ord w) closed
    by the oriented edge v→w. Orientation bounds the wedge fan-out: an
    oriented out-degree exceeds d only if ≥ d neighbors have degree ≥ d,
    so out-degrees are O(sqrt(|E|)) regardless of hub skew — the property
    that makes the self-join survive power-law graphs at 100 TB where a
    naive wedge join on raw adjacency explodes on hubs.

    Shuffles: undirected dedup (pair-keyed) → degree aggregate
    (node-keyed) → orientation join → wedge self-join on the shared src
    key → closing join on the (v, w) pair key → per-node count. All keys
    are node/pair ids — vectors or payloads never move. Everything is
    integer arithmetic except the final coefficient division
    2T / (deg·(deg−1)), one IEEE op, bit-identical cross-engine.

    Returns (id, degree, n_tri, clust_coeff) for every node of the
    undirected graph; isolated orientation sinks included (n_tri = 0,
    coefficient 0.0 for degree < 2 nodes by convention).

    The shared frames (`und`, `deg`, `oriented`, `tris`) each feed 2-3
    consumers; they are materialized once (`localCheckpoint`, the
    one-shot-share exemption documented in `plans.truncate`) instead of
    re-deriving the whole upstream per consumer — before this the
    composed physical plan held 238 Exchange nodes at the k-NN query
    (r13 measurement), re-running the edge producer and the wedge join
    up to 3× each.
    """
    a, b = F.col(src_col), F.col(dst_col)
    und = (
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(registered_local_checkpoint)
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .transform(registered_local_checkpoint)
    )
    # total order for orientation: (degree, id) packed into one bigint
    # comparison via struct ordering
    da = deg.select(F.col("id").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("degree").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("u"),
                    F.col("b").alias("v"),
                    F.col("deg_b").alias("dv"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.col("deg_a").alias("dv"),
                )
            )
            .alias("o")
        )
        .select("o.u", "o.v", "o.dv")
        .transform(registered_local_checkpoint)
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    )
    tris = (
        wedges.join(closing, ["x", "y"])
        .select("u", "x", "y")
        .transform(registered_local_checkpoint)
    )
    per_node = (
        tris.select(F.col("u").alias("id"))
        .unionAll(tris.select(F.col("x").alias("id")))
        .unionAll(tris.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return (
        deg.join(per_node, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.when(
                F.col("degree") >= 2,
                (F.lit(2).cast("double") * F.coalesce("n_tri", F.lit(0)).cast("double"))
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree") - F.lit(1)).cast("double")
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clust_coeff"),
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Semi-supervised label propagation over a directed neighbor graph
    (k-NN edges): seed nodes carry known labels; each round, every
    still-unlabeled node that has ≥1 labeled out-neighbor takes the
    majority label among them (ties → lexicographically smallest
    label), and once assigned a label is CLAMPED — the deterministic
    frontier-expansion variant (no oscillation, no RNG), so the whole
    fixed point unrolls into SQL CTEs like `pagerank`.

    `edges`: (src, dst); `seeds`: (id, label). Returns (id, label,
    round_assigned) for every node ever labeled — round 0 = seed.

    Scale shape: per round, one join of the edge list against the
    label frame (node-sized) + one (node, label) vote aggregate + an
    anti-join to restrict to the frontier — all edge-/node-keyed
    shuffles, the vector payloads never move; the label frame is
    localCheckpoint-ed per round so plans stay O(1) in iters.
    """

    labels = seeds.select(
        "id", "label", F.lit(0).cast("long").alias("round_assigned")
    ).transform(round_truncate)
    e = edges.select("src", "dst").transform(round_truncate)
    w = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("label"))

    def step(labels, r):
        votes = (
            e.join(labels.select(F.col("id").alias("dst"), "label"), "dst")
            .join(
                labels.select(F.col("id").alias("src"), F.lit(1).alias("__has")),
                "src",
                "left_anti",
            )
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        picked = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "id", "label", F.lit(r).cast("long").alias("round_assigned")
            )
        )
        return labels.unionByName(picked)

    return iterate(labels, step, iters)


def pagerank_weighted(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    teleport: DataFrame | None = None,
    scale: int = 10**12,
    wscale: int = 10**6,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Weighted, optionally PERSONALIZED PageRank — the two standard
    generalizations of `pagerank` in one operator, still bit-exact
    across engines:

    - edge weights (non-negative integers, e.g. the k-NN quantized dot
      scores): a node's rank flows to neighbors proportionally to
      weight. To keep every product inside bigint, weights are first
      normalized per source to `wscale` units (wn = w·wscale div Σw —
      node-local integer division), so a contribution is
      (rank · wn) div wscale ≤ rank · 1 — no overflow for rank ≤ 2^43;
    - personalization: with a `teleport` frame (id column), the
      (1−d) restart mass lands ONLY on those seeds (split evenly,
      integer div) instead of uniformly — "centrality relative to this
      query set", the relevance-propagation form.

    Same scale shape as `pagerank`: edges shuffle once (weight-sum join
    + eager checkpoint), each round is one edge-sized join + node-sized
    aggregate, ranks checkpoint per round so plans stay O(1) in iters.
    Floor divisions leak O(outdeg) micro-units per node per round —
    quantization noise, never sign-relevant.
    """

    # materialize the edge list ONCE (same discipline as `pagerank` and
    # `hits`; r13): without this checkpoint the node-set action and the
    # weight-normalization action each re-derived the edge PRODUCER —
    # for the personalized-PageRank driver that producer is the banded
    # k-NN self-join, re-run 2-3× for nothing
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).filter(F.col("w") > 0).transform(round_truncate)
    # teleport seeds are UNIONED into the node set: a seed with no edges
    # is a dangling node that still receives its share of the (1−d)
    # restart mass every round (rather than silently vanishing while
    # still diluting the other seeds' share through n_seeds)
    seed_ids = (
        teleport.select(F.col(teleport.columns[0]).alias("id")).distinct()
        if teleport is not None
        else None
    )
    nodes = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))
    )
    if seed_ids is not None:
        nodes = nodes.unionAll(seed_ids)
    nodes = nodes.distinct().transform(round_truncate)
    n = nodes.count()
    init = scale // n

    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    ew = (
        e.join(outw, "src")
        .select(
            "src",
            "dst",
            F.expr(f"(w * {wscale}) div outw").cast("long").alias("wn"),
        )
        .transform(round_truncate)
    )

    if seed_ids is None:
        base_col = F.lit(((damp_den - damp_num) * init) // damp_den).cast(
            "long"
        )
        seeds = None
    else:
        seeds = seed_ids
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("teleport set is empty")
        seed_base = ((damp_den - damp_num) * scale) // (damp_den * n_seeds)
        seeds = seeds.withColumn(
            "base", F.lit(seed_base).cast("long")
        ).transform(round_truncate)
        base_col = F.coalesce(F.col("base"), F.lit(0)).cast("long")

    def step(ranks, _):
        contribs = (
            ew.join(ranks, ew.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                F.expr(f"(rank * wn) div {wscale}").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        joined = nodes.join(contribs, "id", "left")
        if seeds is not None:
            joined = joined.join(seeds, "id", "left")
        return joined.select(
            "id",
            (
                base_col
                + F.expr(f"({damp_num} * coalesce(s, 0L)) div {damp_den}")
            ).alias("rank"),
        )

    ranks = iterate(
        nodes.select("id", F.lit(init).cast("long").alias("rank")), step, iters
    )
    return ranks.select(
        "id",
        F.col("rank").alias("rank_micro"),
        (F.col("rank").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
) -> DataFrame:
    """Bounded k-core peeling over an UNDIRECTED graph: `rounds`
    iterations of "drop every node whose surviving degree < k", the
    deterministic batch formulation of Matula–Beck peeling (clamped
    rounds, like `label_propagation` — each extra round only removes
    more, so the round-R result is a monotone over-approximation of the
    true k-core that unrolls into SQL CTEs). Input `edges` is a directed
    (src, dst) list; it is symmetrized and de-duplicated here so degree
    means undirected-neighbor count.

    Returns (id, degree, in_core): final surviving degree per node that
    entered round 0, degree 0 and in_core=false for peeled nodes.

    Scale shape: each round is one node-keyed degree aggregate + one
    semi-join of the edge list against the surviving node set — both
    edge-sized shuffles; the node frame is localCheckpoint-ed per round
    so plans stay O(1) in rounds. The vector/doc payloads behind the
    node ids never enter the loop.
    """

    # symmetrize in ONE pass over `edges` (explode both orientations per
    # row) instead of union(edges, reverse(edges)) — the union form
    # consumed the edge producer twice, re-running an expensive upstream
    # (e.g. the banded k-NN self-join) for each leg (r13, guide §2.4)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(round_truncate)
    )
    all_nodes = (
        und.select(F.col("src").alias("id")).distinct().transform(round_truncate)
    )

    def peel(e, _):
        deg = e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )
        keep = deg.filter(F.col("degree") >= k).select("id")
        return (
            e.join(keep.select(F.col("id").alias("src")), "src")
            .join(keep.select(F.col("id").alias("dst")), "dst")
            .select("src", "dst")
        )

    e = iterate(und, peel, rounds)
    final_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return all_nodes.join(final_deg, "id", "left").select(
        "id",
        F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
        (F.coalesce("degree", F.lit(0)) >= k).alias("in_core"),
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    comm_col: str = "comm",
) -> DataFrame:
    """Newman modularity of a community assignment over an (optionally
    directed) edge list — the standard "did the clustering find real
    structure?" score for label propagation / community detection.

    Edges are symmetrized to distinct unordered pairs first, so the
    caller can pass a directed k-NN top-k list directly. Per community
    the contribution to Q = Σ_c [ e_c/m − (d_c/2m)² ] is computed in the
    single-division integer form (4·m·e_c − d_c²) / (4·m·m): numerator
    is exact BIGINT arithmetic (safe while m·max(e_c, d_c²/4m) < 2^62 —
    ~10⁹ edges; past that move the two products to DECIMAL(38,0)), the
    denominator is one pinned double product, and the division is the
    only IEEE op — so per-community rows hash-check cross-engine, and
    Q itself is their exact-summable total.

    Shape: one distinct over (lo, hi) pairs, two broadcast-joined
    community lookups, community-sized aggregates; the 1-row edge total
    broadcasts back via cross join. Nothing corpus-wide shuffles more
    than once. (r13 note: `und`'s and `comm`'s multiple consumers embed
    IDENTICAL subtrees, which Spark's ReuseExchange already deduplicates
    at runtime — an explicit materialization was measured 10-14% SLOWER
    here, so the plan is deliberately left lazy.)
    """
    und = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .distinct()
    )
    comm = communities.select(
        F.col(id_col).alias("nid"), F.col(comm_col).alias("c")
    )
    tot = und.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    labeled = (
        und.join(comm.withColumnRenamed("nid", "a").withColumnRenamed("c", "ca"), "a")
        .join(comm.withColumnRenamed("nid", "b").withColumnRenamed("c", "cb"), "b")
    )
    intra = (
        labeled.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    deg = (
        und.select(F.col("a").alias("nid"))
        .unionAll(und.select(F.col("b").alias("nid")))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    comm_deg = (
        comm.join(deg, "nid", "left")
        .groupBy(F.col("c").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.coalesce("degree", F.lit(0))).cast("long").alias("degree_sum"),
        )
    )
    return (
        comm_deg.join(intra, "community", "left")
        .withColumn("intra_edges", F.coalesce("intra_edges", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            "intra_edges",
            "degree_sum",
            "m_edges",
            F.when(
                F.col("m_edges") > 0,
                (
                    4 * F.col("m_edges") * F.col("intra_edges")
                    - F.col("degree_sum") * F.col("degree_sum")
                ).cast("double")
                / (
                    4.0
                    * F.col("m_edges").cast("double")
                    * F.col("m_edges").cast("double")
                ),
            ).alias("q_contribution"),
        )
    )


def harmonic_centrality(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 1_200_000_000,
) -> DataFrame:
    """Exact bounded-hop harmonic centrality over a directed edge list:
    H(v) = Σ_{w reaches v within `rounds` hops} 1/d(w, v) — the
    web-centrality rank Common Crawl publishes for hosts (in-direction:
    who links TO you; Boldi & Vigna, "Axioms for centrality", public).
    Integer-exact: distances are BFS levels, contributions are
    `scale DIV d` (the default scale is divisible by 1..6, so every
    bounded-hop division is exact), output `harmonic_scaled` +
    `n_reaching`.

    Algorithm: level-synchronous BFS over ALL sources at once — the
    (source, node, dist) pair frame grows one frontier hop per round,
    min-aggregated, localCheckpoint-ed per round (the PageRank
    discipline: O(1) plan per round, frontier-only expansion so settled
    pairs never re-join the edge list).

    Scale honesty, on the record: the pair frame is O(reachable pairs
    within `rounds` hops) — exact APSP does NOT survive a 10⁷-host web
    graph (a 4-hop ball covers most of a small-world graph). This exact
    form is the validation/bounded-host-set path; the 100 TB path is
    `hyperball_harmonic` below (register-table rounds, O(nodes · 2^p)
    state), parity-bounded against this operator in pytest.
    """

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .transform(round_truncate)
    )
    d0 = _nodes(e).select(
        F.col("id").alias("psrc"),
        F.col("id").alias("pdst"),
        F.lit(0).cast("long").alias("d"),
    )

    def hop(d, r):
        # grow the frontier (pairs settled in round r - 1) by one edge
        grown = (
            d.filter(F.col("d") == r - 1)
            .join(e, F.col("pdst") == F.col("src"))
            .select("psrc", F.col("dst").alias("pdst"), (F.col("d") + 1).alias("d"))
        )
        return d.unionAll(grown).groupBy("psrc", "pdst").agg(F.min("d").alias("d"))

    d = iterate(d0, hop, rounds)
    return d.groupBy(F.col("pdst").alias("id")).agg(
        F.expr(
            f"CAST(sum(CASE WHEN d > 0 THEN {scale} DIV d ELSE 0L END)"
            " AS BIGINT)"
        ).alias("harmonic_scaled"),
        F.expr("CAST(count(CASE WHEN d > 0 THEN 1 END) AS BIGINT)").alias(
            "n_reaching"
        ),
    )


def hyperball_harmonic(
    edges: DataFrame,
    rounds: int = 4,
    p: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    salt: str = "hb",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013, public): approximate harmonic
    centrality at web scale. Each node carries an HLL counter of the
    ball of nodes that reach it; one round merges every node's counter
    into its out-neighbors' (register-wise MAX — HLL union is exactly
    that), and the harmonic sum accumulates (|B_t| − |B_{t−1}|)/t from
    the counter estimates.

    This is THE 100 TB shape for centrality: per-round state is the
    register table, O(nodes · 2^p) slim rows, and each round is one
    edge join + one (node, register) max-aggregate — no pair frame ever
    exists (contrast `harmonic_centrality`, the exact bounded-hop twin
    this operator is parity-bounded against in pytest). Deterministic
    by construction: the repo's HLL registers are md5-derived
    (`operators/sketch.py`), so repeated runs agree bit-for-bit; the
    estimate error vs exact is the standard ~1.04/√2^p HLL envelope.

    Returns (id, harmonic_est double, ball_final double).
    """

    from .sketch import _hll_reg_cols, hll_estimate

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .transform(round_truncate)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .select(F.col("id").cast("string").alias("id"))
        .transform(round_truncate)
    )
    es = e.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).transform(round_truncate)
    idx, rho = _hll_reg_cols("id", p, salt)
    regs = nodes.select(
        F.col("id").alias("grp"), idx.alias("idx"), rho.alias("rho")
    ).transform(round_truncate)

    m = 1 << p

    def est(r):
        # the repo's hll_estimate is deliberately the RAW estimator
        # (the linear-counting branch needs ln(), unpinnable across
        # engines for an oracle); HyperBall has no oracle — its check
        # is the pytest parity bound vs the exact operator — so the
        # standard small-range correction applies here IN-PLAN:
        # n̂ = m·ln(m/V) when the raw estimate sits in the LC regime
        # and zero registers remain. Without it every small ball reads
        # ≈ α·m and the per-round deltas are pure register noise.
        e = hll_estimate(r, p=p)
        corrected = F.when(
            F.col("lc_regime") & (F.col("zero_regs") > 0),
            F.lit(float(m))
            * F.log(F.lit(float(m)) / F.col("zero_regs").cast("double")),
        ).otherwise(F.col("hll_est"))
        return e.select(F.col("grp").alias("id"), corrected.alias("b"))

    # harmonic accumulator: node-sized frame of partial sums
    acc = est(regs).select("id", F.col("b").alias("prev_b")).withColumn(
        "h", F.lit(0.0)
    )

    def merge(state, _):
        # every node's counter merges into its out-neighbors'
        regs, acc = state
        prop = regs.join(es, regs.grp == es.src).select(
            F.col("dst").alias("grp"), "idx", "rho"
        )
        merged = (
            regs.unionAll(prop).groupBy("grp", "idx").agg(F.max("rho").alias("rho"))
        )
        return merged, acc

    def accumulate(state, t):
        regs, acc = state
        return regs, acc.join(est(regs), "id").select(
            "id",
            F.col("b").alias("prev_b"),
            (
                F.col("h") + F.expr(f"greatest(b - prev_b, 0D) / {float(t)}")
            ).alias("h"),
        )

    _, acc = iterate((regs, acc), (merge, accumulate), rounds)
    return acc.select(
        "id",
        F.col("h").alias("harmonic_est"),
        F.col("prev_b").alias("ball_final"),
    )
