"""Per-round lineage truncation and every held executor block.

Every fixed-point operator in this repo (PageRank, label propagation,
k-core peeling, harmonic/HyperBall, connected components) re-derives a
frame each round; without truncation the logical plan grows O(iters)
and Catalyst re-analysis dominates. Two truncation modes exist and the
trade-off is the point of this module (VERDICT r8 #2):

- ``localCheckpoint`` — truncates lineage by materializing blocks on
  the EXECUTORS ONLY. Fast (no DFS round-trip), the right default on
  ``local[*]`` and for interactive runs, but NOT fault-tolerant: the
  blocks have no lineage to recompute from, so on a 1000-executor
  cluster a single lost executor kills the whole job instead of
  recomputing a partition. Lazy by default (see ``round_truncate``).
- ``DataFrame.checkpoint(eager=True)`` — writes the frame to the
  SparkContext checkpoint directory (HDFS/S3/DBFS at the 100 TB design
  point). Each round pays one reliable write of a node-/edge-sized
  frame, and in exchange executor loss is survivable: missing
  partitions re-read from the checkpoint store. Always eager.

The policy is read from the session, never passed to an operator:
``round_truncate`` takes the reliable path exactly when the
SparkContext has a checkpoint directory (``getCheckpointDir()`` is not
None), and the executor-local path otherwise — the rule MLlib's
``checkpointInterval`` follows. The engine never sets the directory; a
production run sets it once on its context and every iterative
operator becomes fault-tolerant. Values are identical under both modes
by construction — the same frame is materialized either way — and
pinned by ``tests/test_checkpoint_knob.py``.

Held blocks: this module also owns the one registry of frames whose
executor blocks a session holds — ``registered_persist`` and
``registered_local_checkpoint`` add to it, and ``release_persisted()``
frees both kinds at once.

Per-round truncation belongs to ``iterate``: it runs every fixed-point
loop (graph.py, dedup.py connected components, crawl.py pointer
doubling), so the round cadence, the lazy/eager choice and the
convergence test live in one function. Lazy is the default mode. Two
callers sit outside it: ``text.bpe_train`` collects an argmax on the
driver every round and truncates every 16 merges itself, and
``itemsets.frequent_pairs`` stays EAGER — its one basket frame feeds
three branches of a single job, and lazily it measured slower. One-shot
materializations that only share a frame across 2+ consumers
(``operators/text.py``, ``rank.py``, ``similarity.py``, fixture builders
under ``queries/``) call ``registered_local_checkpoint`` directly: their
plans do not grow with a round count, so the reliable path's extra DFS
write would buy nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Held-block registry (r14, VERDICT r13 #4): every frame persisted or
# local-checkpointed through this module, with whether it is a local
# checkpoint. Both kinds hold executor block storage until released —
# fine for a one-shot query, a slow leak in a long-lived bench/serving
# session. `release_persisted()` (bench, parity and perfbench call it
# after materializing each result) frees them all. A local checkpoint's
# blocks live on its RDD, not in the CacheManager, so
# `DataFrame.unpersist` does NOT free them; release unpersists the RDD
# directly through the LogicalRDD plan node. After release a local
# checkpoint is NOT recomputable — it has no lineage.
_PERSISTED: list[tuple[DataFrame, bool]] = []


def registered_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` whose blocks ``release_persisted()`` frees."""
    out = df.persist()
    _PERSISTED.append((out, False))
    return out


def registered_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` whose executor blocks
    ``release_persisted()`` frees."""
    out = df.localCheckpoint(eager=eager)
    _PERSISTED.append((out, True))
    return out


def release_persisted() -> int:
    """Free the blocks of every registered frame; returns how many
    frames were released. Call it only once every frame built on them
    is finished with: unpersist is a no-op for already-freed blocks,
    but a frame built on a local checkpoint reads blocks that are then
    gone, and a local checkpoint cannot be recomputed."""
    n = 0
    for df, local_checkpoint in _PERSISTED:
        if not local_checkpoint:
            df.unpersist()
            n += 1
            continue
        try:
            # Dataset.localCheckpoint returns a LogicalRDD plan; its
            # .rdd() is the persisted (checkpointed) internal RDD.
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            n += 1
        except Exception:  # pragma: no cover - defensive: never fail release
            pass
    _PERSISTED.clear()
    return n


def round_truncate(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate `df`'s lineage between iterative rounds.

    Without a SparkContext checkpoint directory this is
    ``registered_local_checkpoint(df, eager)`` — executor-memory blocks,
    no fault tolerance. With one, the frame goes through reliable
    ``df.checkpoint(eager=True)``; ``eager`` applies to the local path
    only.

    Why lazy-local (the default): the plan still collapses to a
    LogicalRDD per round (O(1) plan growth), but the rounds chain into
    one job instead of one blocking job per round; the per-round RDDs
    cache on first compute, so nothing re-runs. Values identical
    (deterministic integer rounds; A/B at sf0.1 measured flat-to--7%
    across the graph family, never worse). Why eager-reliable: a lazy
    reliable checkpoint would re-run the round's plan in the
    checkpoint-write job.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return registered_local_checkpoint(df, eager=eager)
    # Persist before an eager reliable checkpoint: Spark materializes
    # the frame with one job, then the checkpoint-WRITE runs a second
    # job over the same plan — uncached, that second job recomputes the
    # whole lineage (an expensive edge producer would execute twice).
    # The cache serves the write, then releases; the returned frame
    # reads the checkpoint files, not the cache.
    df.persist()
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


def iterate(state, step, rounds: int, until=None):
    """Run `rounds` rounds of a fixed point and return the last state.

    `state` is a frame or a tuple of frames. `step(state, r)` returns
    the next state for r = 1..rounds; a tuple of phases runs them in
    order within a round, each on the state the one before returned.
    Every frame a phase newly returns goes through ``round_truncate``
    once; a member it passes through unchanged (the same object) is not
    truncated again, so a later phase reads the truncated frame of an
    earlier one. ``until(prev, new)`` stops the loop after the first
    round where it holds."""
    phases = step if isinstance(step, tuple) else (step,)
    for r in range(1, rounds + 1):
        prev = state
        for phase in phases:
            state = _truncate_new(state, phase(state, r))
        if until is not None and until(prev, state):
            break
    return state


def _truncate_new(old, new):
    if not isinstance(new, tuple):
        return new if new is old else round_truncate(new)
    return tuple(n if n is o else round_truncate(n) for o, n in zip(old, new))
