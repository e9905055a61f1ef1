"""Session truncation policy for the iterative family.

Every iterative operator truncates lineage per round through
``plans.truncate.round_truncate`` (most of them by running their rounds
through ``plans.truncate.iterate``). Without a SparkContext checkpoint
directory that is an executor-local checkpoint — executor-memory blocks
with NO fault tolerance, fine on ``local[*]``. With one
(``sc.setCheckpointDir``), the same truncation points write reliable
``df.checkpoint()`` files, the production form on a 1000-executor
cluster where executor loss must recompute, not kill the job. These
tests pin that the two modes are value-identical — the session setting
changes WHERE blocks live, never WHAT is computed — and that the
setting is what selects the path.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from xeloader_spark.operators.crawl import resolve_redirects
from xeloader_spark.operators.dedup import connected_components
from xeloader_spark.operators.graph import (
    harmonic_centrality,
    hits,
    hyperball_harmonic,
    kcore,
    label_propagation,
    pagerank,
    pagerank_weighted,
)
from xeloader_spark.operators.itemsets import frequent_pairs
from xeloader_spark.operators.text import bpe_train
from xeloader_spark.plans.truncate import iterate, round_truncate


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


def _identical(checkpoint_dir, build):
    """`build()`'s rows without and with a session checkpoint dir."""
    local = _sorted(build())
    with checkpoint_dir():
        reliable = _sorted(build())
    assert local == reliable and local
    return local


def test_round_truncate_follows_session_dir(spark, session_checkpoint_dir):
    from xeloader_spark.plans.truncate import _PERSISTED, release_persisted

    release_persisted()
    with session_checkpoint_dir() as ck:
        out = round_truncate(spark.range(5))
        assert _sorted(out) == _sorted(spark.range(5))
        # reliable: nothing joins the executor-block registry, and the
        # frame lives in checkpoint files under the session directory
        assert len(_PERSISTED) == 0
        ck_path = ck.removeprefix("file:")
        assert any(files for _, _, files in os.walk(ck_path))
    # the directory is cleared again: back to the registered local path
    assert spark.sparkContext.getCheckpointDir() is None
    assert round_truncate(spark.range(5)).count() == 5
    assert len(_PERSISTED) == 1
    release_persisted()


def test_pagerank_identical_under_reliable_checkpoint(spark, session_checkpoint_dir):
    _identical(session_checkpoint_dir, lambda: pagerank(_edges(spark), iters=3))


def test_pagerank_weighted_identical(spark, session_checkpoint_dir):
    e = _edges(spark).withColumn("weight", (F.col("src") % 3 + 1).cast("long"))
    seeds = spark.createDataFrame([(1,), (10,)], "id long")
    _identical(
        session_checkpoint_dir,
        lambda: pagerank_weighted(e, iters=3, teleport=seeds),
    )


def test_hits_identical(spark, session_checkpoint_dir):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src long, dst long"
    )
    _identical(session_checkpoint_dir, lambda: hits(df, iters=3))


def test_label_propagation_identical(spark, session_checkpoint_dir):
    seeds = spark.createDataFrame(
        [(1, "a"), (4, "b"), (10, "c")], "id long, label string"
    )
    _identical(
        session_checkpoint_dir,
        lambda: label_propagation(_edges(spark), seeds, iters=3),
    )


def test_kcore_identical(spark, session_checkpoint_dir):
    _identical(session_checkpoint_dir, lambda: kcore(_edges(spark), k=2, rounds=3))


def test_harmonic_and_hyperball_identical(spark, session_checkpoint_dir):
    e = _edges(spark)
    _identical(session_checkpoint_dir, lambda: harmonic_centrality(e, rounds=3))
    _identical(
        session_checkpoint_dir, lambda: hyperball_harmonic(e, rounds=2, p=4)
    )


def test_frequent_pairs_identical(spark, session_checkpoint_dir):
    # the shared basket frame goes through round_truncate too
    tx = spark.createDataFrame(
        [(b, i) for b in range(6) for i in range(b % 4 + 2)],
        "basket long, item long",
    )
    _identical(
        session_checkpoint_dir,
        lambda: frequent_pairs(tx, "basket", "item", 2, 2),
    )


def test_bpe_train_identical_under_reliable_checkpoint(
    spark, bpe_lcg_docs, session_checkpoint_dir
):
    # 17 merges: both modes cross the truncation after merge 16
    got = _identical(session_checkpoint_dir, lambda: bpe_train(bpe_lcg_docs, iters=17))
    assert [r[0] for r in got] == list(range(1, 18))


def test_resolve_redirects_identical(spark, session_checkpoint_dir):
    # pointer doubling truncates its state frame every doubling round;
    # a 5-chain, a 4-cycle and one 1-hop redirect
    rows = [(f"u{a}", f"u{b}") for a, b in [
        (1, 0), (2, 1), (3, 2), (4, 3), (5, 4),
        (10, 11), (11, 12), (12, 13), (13, 10), (20, 21),
    ]]
    e = spark.createDataFrame(rows, "src string, dst string")
    got = _identical(session_checkpoint_dir, lambda: resolve_redirects(e))
    assert ("u5", "u0", 5, True) in got


def test_connected_components_identical(spark, session_checkpoint_dir):
    # local_threshold=0 takes the distributed star path, the one that
    # truncates per round
    pairs = _edges(spark).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    got = _identical(
        session_checkpoint_dir,
        lambda: connected_components(pairs, max_iter=10, local_threshold=0),
    )
    assert {c for _, c in got} == {1, 10}


def test_q_label_propagation_identical(spark, sf_dir, session_checkpoint_dir):
    # a whole query: kNN edges plus the propagation rounds, exceptAll
    from xeloader_spark.plans.truncate import release_persisted
    from xeloader_spark.queries import all_queries

    q = all_queries()["q_label_propagation"]
    try:
        local = q(spark, sf_dir)
        with session_checkpoint_dir():
            reliable = q(spark, sf_dir)
            assert local.schema == reliable.schema
            assert local.exceptAll(reliable).isEmpty()
            assert reliable.exceptAll(local).isEmpty()
            assert local.count() > 0
    finally:
        release_persisted()


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


def _value(df):
    return df.first()[0]


def test_iterate_until_stops_after_first_hold(spark):
    seen = []

    def step(df, r):
        seen.append(r)
        return spark.range(r, r + 1)

    out = iterate(
        spark.range(0, 1), step, 10, until=lambda prev, new: _value(new) == 3
    )
    assert seen == [1, 2, 3]
    assert _value(out) == 3
    # without `until` every round runs
    seen.clear()
    assert _value(iterate(spark.range(0, 1), step, 4)) == 4
    assert seen == [1, 2, 3, 4]


def test_iterate_truncates_each_new_frame_once(spark):
    """A two-phase round adds one registry entry per frame a phase
    returns anew; a member passed through is the earlier phase's
    truncated frame and is not truncated again."""
    from xeloader_spark.plans.truncate import _PERSISTED, release_persisted

    release_persisted()
    passed = []

    def grow_a(ab, r):
        return ab[0].selectExpr(f"id + {r} AS id"), ab[1]

    def grow_b(ab, r):
        # the `a` this phase reads is the frame grow_a's output became
        passed.append(ab[0] is _PERSISTED[-1][0])
        return ab[0], ab[1].selectExpr(f"id * {r} AS id")

    try:
        a, b = iterate(
            (spark.range(1, 2), spark.range(1, 2)), (grow_a, grow_b), 3
        )
        assert len(_PERSISTED) == 6
        assert passed == [True, True, True]
        assert a is _PERSISTED[-2][0] and b is _PERSISTED[-1][0]
        assert (_value(a), _value(b)) == (1 + 1 + 2 + 3, 1 * 1 * 2 * 3)
        # a phase that passes the whole state through truncates nothing
        iterate((a, b), lambda ab, r: ab, 2)
        assert len(_PERSISTED) == 6
    finally:
        release_persisted()


def test_iterate_zero_rounds_returns_input(spark):
    from xeloader_spark.plans.truncate import _PERSISTED, release_persisted

    release_persisted()
    df = spark.range(3)
    state = (df, spark.range(2))
    assert iterate(df, lambda d, r: d.limit(1), 0) is df
    assert iterate(state, (lambda s, r: s,), 0) is state
    assert len(_PERSISTED) == 0
