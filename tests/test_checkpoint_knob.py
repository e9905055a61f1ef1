"""Reliable-checkpoint knob for the iterative family (VERDICT r8 #2).

Every iterative operator truncates lineage per round. The default is
``localCheckpoint(eager=True)`` — executor-memory blocks with NO
fault tolerance, fine on ``local[*]``. The ``checkpoint_dir`` knob
switches the same truncation points to reliable ``df.checkpoint()``
(``plans.truncate.round_truncate``), the production form on a
1000-executor cluster where executor loss must recompute, not kill the
job. These tests pin that the two modes are value-identical — the knob
changes WHERE blocks live, never WHAT is computed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xeloader_spark.operators.dedup import connected_components
from xeloader_spark.operators.graph import (
    harmonic_centrality,
    hyperball_harmonic,
    kcore,
    label_propagation,
    pagerank,
    pagerank_weighted,
)
from xeloader_spark.plans.truncate import round_truncate


def _edges(spark):
    # two components: a directed 6-cycle with chords, plus a 3-chain
    rows = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1),
        (1, 3), (2, 5), (4, 1),
        (10, 11), (11, 12),
    ]
    return spark.createDataFrame(rows, "src long, dst long")


def _sorted(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


def test_round_truncate_sets_dir_once(spark, tmp_path):
    # NOTE the SparkContext checkpoint dir is GLOBAL and first-caller-
    # wins for the context's lifetime, so this test must not assume it
    # runs first in the session: it asserts a dir is set after the
    # call and that later calls with different dirs don't churn it —
    # order-independent (r9 review). The *_identical tests below
    # therefore verify VALUE identity under the reliable path, not
    # that their particular directory was honored.
    df = spark.range(5)
    out = round_truncate(df, str(tmp_path / "ck1"))
    assert _sorted(out) == _sorted(df)
    got = spark.sparkContext.getCheckpointDir()
    assert got is not None
    # a later call with a DIFFERENT dir must not churn the context dir
    # (Spark appends a UUID subdir per setCheckpointDir call)
    round_truncate(spark.range(3), str(tmp_path / "ck2"))
    assert spark.sparkContext.getCheckpointDir() == got


def test_pagerank_identical_under_reliable_checkpoint(spark, tmp_path):
    e = _edges(spark)
    local = pagerank(e, iters=3)
    reliable = pagerank(e, iters=3, checkpoint_dir=str(tmp_path / "pr"))
    assert _sorted(local) == _sorted(reliable)


def test_pagerank_weighted_identical(spark, tmp_path):
    e = _edges(spark).withColumn("weight", (F.col("src") % 3 + 1).cast("long"))
    seeds = spark.createDataFrame([(1,), (10,)], "id long")
    local = pagerank_weighted(e, iters=3, teleport=seeds)
    reliable = pagerank_weighted(
        e, iters=3, teleport=seeds, checkpoint_dir=str(tmp_path / "prw")
    )
    assert _sorted(local) == _sorted(reliable)


def test_label_propagation_identical(spark, tmp_path):
    e = _edges(spark)
    seeds = spark.createDataFrame(
        [(1, "a"), (4, "b"), (10, "c")], "id long, label string"
    )
    local = label_propagation(e, seeds, iters=3)
    reliable = label_propagation(
        e, seeds, iters=3, checkpoint_dir=str(tmp_path / "lp")
    )
    assert _sorted(local) == _sorted(reliable)


def test_kcore_identical(spark, tmp_path):
    e = _edges(spark)
    local = kcore(e, k=2, rounds=3)
    reliable = kcore(e, k=2, rounds=3, checkpoint_dir=str(tmp_path / "kc"))
    assert _sorted(local) == _sorted(reliable)


def test_harmonic_and_hyperball_identical(spark, tmp_path):
    e = _edges(spark)
    local_h = harmonic_centrality(e, rounds=3)
    reliable_h = harmonic_centrality(
        e, rounds=3, checkpoint_dir=str(tmp_path / "hc")
    )
    assert _sorted(local_h) == _sorted(reliable_h)
    local_b = hyperball_harmonic(e, rounds=2, p=4)
    reliable_b = hyperball_harmonic(
        e, rounds=2, p=4, checkpoint_dir=str(tmp_path / "hb")
    )
    assert _sorted(local_b) == _sorted(reliable_b)


def test_frequent_pairs_identical(spark, tmp_path):
    # itemsets' shared basket frame goes through the knob too (r10,
    # VERDICT r9 #5 — the last operator-level truncation not threaded)
    from xeloader_spark.operators.itemsets import frequent_pairs

    tx = spark.createDataFrame(
        [(b, i) for b in range(6) for i in range(b % 4 + 2)],
        "basket long, item long",
    )
    local = frequent_pairs(tx, "basket", "item", 2, 2)
    reliable = frequent_pairs(
        tx, "basket", "item", 2, 2, checkpoint_dir=str(tmp_path / "fp")
    )
    assert _sorted(local) == _sorted(reliable) and _sorted(local)


def test_bpe_train_identical_under_reliable_checkpoint(spark, tmp_path):
    # the BPE merge loop's per-round truncation (checkpoint_every)
    from xeloader_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [("low lower lowest newer newest",), ("low newer low widest",)],
        "text string",
    )
    local = bpe_train(df, iters=4, checkpoint_every=2)
    reliable = bpe_train(
        df,
        iters=4,
        checkpoint_every=2,
        checkpoint_dir=str(tmp_path / "bpe"),
    )
    assert _sorted(local) == _sorted(reliable) and _sorted(local)


def test_connected_components_identical(spark, tmp_path):
    pairs = _edges(spark).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    for algo in ("star", "label"):
        local = connected_components(
            pairs, max_iter=10, local_threshold=0, distributed_algorithm=algo
        )
        reliable = connected_components(
            pairs,
            max_iter=10,
            local_threshold=0,
            distributed_algorithm=algo,
            checkpoint_dir=str(tmp_path / f"cc_{algo}"),
        )
        assert _sorted(local) == _sorted(reliable)


def test_registered_checkpoints_release_blocks(spark):
    """r14 (VERDICT r13 #4): localCheckpoint blocks taken through the
    plans.truncate registry are freed by release_persisted() instead of
    waiting for JVM GC of the RDD — a long-lived session's storage no
    longer grows across pipelines. A registered persist sits in the
    same registry, so the one release frees both kinds."""
    from pyspark import StorageLevel

    from xeloader_spark.plans.truncate import (
        registered_local_checkpoint,
        registered_persist,
        release_persisted,
    )

    release_persisted()  # start from a clean registry
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    df = registered_local_checkpoint(
        spark.range(100).selectExpr("id", "id * 2 AS v")
    )
    cached = registered_persist(spark.range(50).selectExpr("id * 3 AS w"))
    assert df.count() == 100  # blocks materialized
    assert cached.count() == 50
    assert jsc.getPersistentRDDs().size() == base + 2
    assert cached.storageLevel != StorageLevel.NONE
    assert release_persisted() == 2
    assert jsc.getPersistentRDDs().size() == base
    assert cached.storageLevel == StorageLevel.NONE


def test_round_truncate_registers_for_release(spark):
    """round_truncate's local path routes through the same registry, so
    per-round frames of the iterative family release too."""
    from xeloader_spark.plans.truncate import _PERSISTED, release_persisted

    release_persisted()
    out = round_truncate(spark.range(7))
    assert out.count() == 7
    assert len(_PERSISTED) == 1
    assert release_persisted() == 1
    assert len(_PERSISTED) == 0


def test_query_build_keeps_registered_frames(spark, sf_dir):
    """Building q_dedup_eval / q_snm_recall_eval frees only the frames
    the build persisted itself: a frame another caller registered before
    the build still reads its blocks afterwards (a session-wide release
    mid-build made it fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from xeloader_spark.operators.dedup import release_persisted
    from xeloader_spark.plans.truncate import registered_local_checkpoint
    from xeloader_spark.queries.dedup import q_dedup_eval, q_snm_recall_eval

    held = registered_local_checkpoint(spark.range(100))
    assert held.count() == 100
    try:
        q_dedup_eval(spark, sf_dir).collect()
        q_snm_recall_eval(spark, sf_dir).collect()
        assert held.count() == 100
    finally:
        release_persisted()
