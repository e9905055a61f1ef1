"""Distributed global order statistics — the scale-safe replacement for
``Window.orderBy(...)`` with no partition spec (which Spark executes by
moving the ENTIRE input to one task: the documented "No Partition Defined
for Window operation" behavior).

``global_row_number`` computes the exact same 1-based dense rank as
``row_number().over(Window.orderBy(*cols))`` in three distributed steps:

1. ``repartitionByRange`` on the order keys — Spark samples the keys and
   assigns contiguous, ordered key ranges to partitions (equal keys land
   in one partition), so partition p's rows all sort before partition
   p+1's.
2. A ``row_number`` window PARTITIONED by the physical partition id —
   every task ranks only its own range-slice.
3. Per-partition row counts (one tiny job: ≤ shuffle-partitions rows)
   collected to the driver, turned into cumulative offsets, and
   broadcast-joined back; ``rank = local_rn + offset``.

The frame is eagerly ``localCheckpoint``-ed between steps 2 and 3 so the
counts job and the final plan see the SAME materialized partitioning —
repartitionByRange's range boundaries come from sampling, so a
re-evaluation could legally place rows differently and desynchronize the
collected offsets from the final plan. The checkpoint goes through the
``plans.truncate`` registry (r14): its executor blocks are freed
deterministically by the next ``plans.truncate.release_persisted()``
call (bench and parity call it after materializing each result) instead
of waiting for JVM garbage collection of the RDD, which on a long-lived
session let blocks accumulate across pipelines (VERDICT r13 #4).

Cost: 1 range shuffle + 1 tiny count job + 1 broadcast join — vs the
single-task funnel of the naive window. Used by the SSJoin vocabulary
rank (operators/dedup.prefix_jaccard_pairs) and the classifier
calibration deciles (queries/classify).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.truncate import registered_local_checkpoint
from .kernels import local_frame


def global_row_number(
    df: DataFrame,
    order_by: list[Column | str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = the exact 1-based global row number of each row
    under a total order ``order_by`` — without a single-partition window.

    ``order_by`` entries may be column names or Column expressions (e.g.
    ``F.desc("score")``). Ties are broken arbitrarily-but-consistently
    within a partition, exactly like ``row_number`` — pass a tie-breaking
    key for determinism, as you would with the window form.
    """
    out, _total = _global_rank_with_total(df, order_by, out_col, num_partitions)
    return out


def global_ntile(
    df: DataFrame,
    n_buckets: int,
    order_by: list[Column | str],
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ANSI ``NTILE(n)`` over a total order, distributed: global row
    number via range partitioning, then the NTILE bucket formula — with n
    rows and k buckets the first ``n mod k`` buckets hold ``n div k + 1``
    rows, the rest ``n div k`` (both Spark and DuckDB implement exactly
    this). Total row count comes free from the rank's per-partition count
    collection, so no extra pass over the data."""
    ranked, total = _global_rank_with_total(df, order_by, "_gr_rn", num_partitions)
    q, rem = divmod(total, n_buckets) if total else (0, 0)
    pivot = rem * (q + 1)  # ranks 1..pivot fall in the first `rem` buckets
    if q == 0:
        bucket = F.col("_gr_rn")  # fewer rows than buckets: bucket i = row i
    else:
        # integer `div` (not float division + floor: doubles round at
        # exact multiples and would shift bucket boundaries by one)
        bucket = F.expr(
            f"CASE WHEN _gr_rn <= {pivot} THEN (_gr_rn - 1) div {q + 1} + 1 "
            f"ELSE {rem} + (_gr_rn - 1 - {pivot}) div {q} + 1 END"
        )
    return ranked.withColumn(out_col, bucket.cast("long")).drop("_gr_rn")


def _global_rank_with_total(
    df: DataFrame,
    order_by: list[Column | str],
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = df.repartitionByRange(num_partitions, *cols).withColumn(
        "_gr_pid", F.spark_partition_id()
    )
    local = ranged.withColumn(
        "_gr_local",
        F.row_number().over(Window.partitionBy("_gr_pid").orderBy(*cols)),
    )
    # Eager checkpoint: materializes NOW, so the counts collect below and
    # the returned plan read identical partition contents, and the blocks
    # are call-scoped (freed when the caller's DataFrame is GC'd).
    local = local.transform(registered_local_checkpoint)
    counts = sorted(
        (r["_gr_pid"], r["cnt"])
        for r in local.groupBy("_gr_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    offset_df = local_frame(spark, offsets, "_gr_pid int, _gr_offset long")
    out = (
        local.join(F.broadcast(offset_df), "_gr_pid")
        .withColumn(out_col, (F.col("_gr_local") + F.col("_gr_offset")).cast("long"))
        .drop("_gr_pid", "_gr_local", "_gr_offset")
    )
    return out, acc


def global_running_sum(
    df: DataFrame,
    order_by: list[Column | str],
    val_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = the exact INCLUSIVE prefix sum of
    ``val_col`` under a total order ``order_by`` — the running-sum twin
    of `global_row_number`, without a single-partition window:
    repartitionByRange on the order keys, a per-partition running sum
    (each task scans only its range slice), then per-partition TOTALS
    (≤ shuffle-partitions rows) collected, turned into cumulative
    offsets and broadcast-joined back. Same determinism contract as
    `global_row_number`: pass a tie-breaking key, or rows tied on the
    order keys get arbitrary-but-consistent relative positions (their
    prefix sums differ by their own values either way). Exactness
    requires an integer ``val_col`` (LongType result); float prefix
    sums would be order-sensitive in the last ulp, which is the
    opposite of what a prefix-sum primitive is for.

    Backs `operators/crawl.feasible_budget_allocate`'s greedy headroom
    fill — any "take until the budget runs out, in THIS order" logic is
    one clamp over this column."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = df.repartitionByRange(num_partitions, *cols).withColumn(
        "_gs_pid", F.spark_partition_id()
    )
    local = ranged.withColumn(
        "_gs_local",
        F.sum(val_col).over(
            Window.partitionBy("_gs_pid")
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # Eager checkpoint for the same reason as _global_rank_with_total:
    # the totals collect and the returned plan must see identical
    # partition contents (range boundaries come from sampling).
    local = local.transform(registered_local_checkpoint)
    totals = sorted(
        (r["_gs_pid"], r["s"] or 0)
        for r in local.groupBy("_gs_pid")
        .agg(F.sum(val_col).alias("s"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, s in totals:
        offsets.append((pid, acc))
        acc += int(s)
    offset_df = local_frame(spark, offsets, "_gs_pid int, _gs_offset long")
    return (
        local.join(F.broadcast(offset_df), "_gs_pid")
        .withColumn(
            out_col,
            (F.col("_gs_local") + F.col("_gs_offset")).cast("long"),
        )
        .drop("_gs_pid", "_gs_local", "_gs_offset")
    )
