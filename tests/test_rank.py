"""operators/rank — distributed global order statistics — and the
plans/inspect global-window gate they exist to satisfy.

The contract: `global_row_number` / `global_ntile` produce EXACTLY the
same values as `row_number()` / `ntile()` over an unpartitioned window,
while planning zero single-partition Window exchanges. Edge sizes cover
empty input, fewer rows than buckets, and both NTILE remainder cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from xeloader_spark.operators.rank import global_ntile, global_row_number
from xeloader_spark.plans.inspect import (
    assert_no_global_window,
    find_global_windows,
)
from xeloader_spark.plans.truncate import release_persisted


def _frame(spark, n):
    if n == 0:
        return spark.createDataFrame([], "id long, score double")
    # deterministic pseudo-random scores with ties
    return spark.createDataFrame(
        [(i, float((i * 7919) % 97)) for i in range(n)], "id long, score double"
    )


@pytest.mark.parametrize("n", [0, 3, 9, 10, 11, 1000, 1003])
def test_global_row_number_matches_window(spark, n):
    df = _frame(spark, n)
    order = [F.desc("score"), F.asc("id")]
    got = {r.id: r.rn for r in global_row_number(df, order, "rn").collect()}
    exp = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    release_persisted()
    assert got == exp


@pytest.mark.parametrize("n,k", [(0, 10), (3, 10), (9, 10), (10, 10), (11, 10), (1003, 10), (1000, 7)])
def test_global_ntile_matches_window(spark, n, k):
    df = _frame(spark, n)
    order = [F.desc("score"), F.asc("id")]
    got = {r.id: r.b for r in global_ntile(df, k, order, "b").collect()}
    exp = {
        r.id: r.b
        for r in df.withColumn(
            "b", F.ntile(k).over(Window.orderBy(*order))
        ).collect()
    }
    release_persisted()
    assert got == exp


def test_rank_helpers_plan_no_global_window(spark):
    df = _frame(spark, 100)
    assert_no_global_window(global_row_number(df, ["score", "id"]))
    assert_no_global_window(global_ntile(df, 10, ["score", "id"]))
    release_persisted()


def test_detector_flags_unpartitioned_window(spark):
    df = _frame(spark, 100)
    bad = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert find_global_windows(bad), "unpartitioned window not flagged"
    with pytest.raises(AssertionError):
        assert_no_global_window(bad)


def test_detector_passes_partitioned_and_bounded(spark):
    df = _frame(spark, 100).withColumn("g", F.col("id") % 3)
    ok = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert find_global_windows(ok) == []
    # partition-only window (no order spec) must not be mistaken for global
    tot = df.withColumn("t", F.sum("score").over(Window.partitionBy("g")))
    assert find_global_windows(tot) == []
    # bounded input: TakeOrderedAndProject under the window
    lim = (
        df.orderBy("id")
        .limit(10)
        .withColumn("rn", F.row_number().over(Window.orderBy("id")))
    )
    assert find_global_windows(lim) == []


@pytest.mark.parametrize("n", [0, 3, 10, 11, 1000, 1003])
def test_global_running_sum_matches_window(spark, n):
    """The running-sum twin must equal SUM(...) OVER an unpartitioned
    ROWS-framed window under a TOTAL order — including empty input,
    tied order keys broken by id, and negative values."""
    from xeloader_spark.operators.rank import global_running_sum

    df = _frame(spark, n).withColumn(
        "v", (F.col("id") % 13 - 3).cast("long")
    )
    order = [F.desc("score"), F.asc("id")]
    got = {
        r.id: r.rs
        for r in global_running_sum(df, order, "v", "rs").collect()
    }
    exp = {
        r.id: r.rs
        for r in df.withColumn(
            "rs",
            F.sum("v").over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).collect()
    }
    release_persisted()
    assert got == exp


def test_global_running_sum_plan_no_global_window(spark):
    from xeloader_spark.operators.rank import global_running_sum

    df = _frame(spark, 100).withColumn("v", F.lit(2).cast("long"))
    assert_no_global_window(global_running_sum(df, ["score", "id"], "v"))
    release_persisted()
