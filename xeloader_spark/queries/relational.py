"""Relational operator surface over the TPC-H-ish fixtures.

The reference has no relational executor (SURVEY §2.3) — its whole design
goal is handing a columnstore to SQL Server for exactly these shapes
(README.md:29). In this engine they are native Catalyst plans; this module
is the line-checkable evidence: equi/outer/semi/anti/cross joins,
hash + sort aggregates, windows (rank, running totals), set operators,
scalar and correlated subqueries, rollup/grouping sets, having, distinct
aggregation, conditional pivot.

Determinism: see queries/__init__ docstring — decimal accumulators for
float sums; per-row double arithmetic (IEEE, engine-identical) is allowed
before the decimal cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.kernels import local_frame

_DEC = "decimal(25,6)"


def _dsum(col, alias: str):
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double").alias(alias)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical columnstore aggregate workload
    (scan-heavy, tiny group cardinality; map-side partial agg means the
    shuffle carries ~8 groups regardless of scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            (F.sum(F.col("l_quantity").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    All dimension sides are broadcast (region/nation always; customer and
    orders up to the autoBroadcast threshold — at 100 TB orders would
    shuffle-join on o_orderkey while the dims still broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            _dsum(revenue, "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem with
    date predicates on BOTH fact sides, revenue aggregate, top-10 with a
    total tie-break. The two date filters reach the parquet scans
    (pushdown), the filtered customer side broadcasts when small (optimizer-chosen, no hint — customer scales with SF), and the group-by
    shuffles only l_orderkey-level partials."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_supplier_breadth_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape on the lineitem link (fixture has no partsupp):
    distinct supplier count per (p_brand, p_size). COUNT(DISTINCT) is a
    two-phase aggregate — partial distinct per partition, exact merge —
    so the shuffle carries (group, supplier) pairs, not line items."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned window rank: top-3 customers by total order value within
    each nation. The window shuffles once on n_name; rank ties broken by
    custkey for engine-independence."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    spend = (
        orders.groupBy("o_custkey")
        .agg(_dsum("o_totalprice", "total_spend"))
    )
    joined = (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("total_spend"), F.asc("o_custkey")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("n_name", F.col("o_custkey").alias("custkey"), "total_spend", "rk")
    )


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate per customer over order date — the
    event-sequencing workload the precise timestamp column enables.
    Decimal accumulator keeps the running sum exact and order-stable."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("running_spend"),
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between supplier nation and
    customer nation per ship year — a 6-table join with the same
    dimension (nation) entering twice under different roles. Both nation
    sides broadcast by size estimate (nation via hint, supplier/customer optimizer-chosen since they scale with SF); lineitem⋈orders is the only
    big join, on the key both sides already share."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.s_nkey)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(_dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a threshold,
    rejoined to orders+customer. The HAVING aggregate runs FIRST and
    emits only qualifying orderkeys (map-side combined), so the join
    fan-in is the small filtered set, not all of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("_sq"))
        .filter(F.col("_sq") > 250)
        .select("l_orderkey", F.col("_sq").cast("double").alias("sum_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT: symmetric difference between the
    'BUILDING'-segment customers and the high-balance customers."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct().exceptAll(a.intersect(b)).distinct()


def q_exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: customers that placed at least one
    high-value order. No columns from the probe side are needed, so the
    semi join avoids materializing the join product."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def q_not_exists_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join: customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_outer_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-producing side: every nation with its
    supplier count (suppliers are sparse → most nations have zero)."""
    nat = load_table(spark, sf_dir, "nation")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        nat.join(sup, nat.n_nationkey == sup.s_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


def q_cross_join_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian of two tiny sets (region × order status) — the
    only join shape where a cartesian is acceptable; both sides broadcast."""
    reg = load_table(spark, sf_dir, "region").select("r_name")
    st = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return reg.crossJoin(st)


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price. The average
    is the exact decimal mean so the comparison boundary is identical in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    avg_row = orders.agg(
        (F.sum(F.col("o_totalprice").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias("a")
    ).first()
    return orders.filter(F.col("o_totalprice") > avg_row.a).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery (decorrelated to a self-join on the group key —
    what Catalyst does internally): parts priced above their brand's
    average retail price."""
    part = load_table(spark, sf_dir, "part")
    brand_avg = part.groupBy(F.col("p_brand").alias("b")).agg(
        (F.sum(F.col("p_retailprice").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias("brand_avg")
    )
    return (
        part.join(F.broadcast(brand_avg), part.p_brand == F.col("b"))
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING id — subtotal rows per returnflag and grand
    total, distinguished from genuine NULL groups by the grouping bitmask."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum("l_quantity", "sum_qty"),
            F.grouping_id().cast("long").alias("grp"),
        )
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING id — all four margin combinations over two
    dimensions in one pass (Spark expands the grouping sets before the
    partial aggregate, so the shuffle still carries only group rows)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice", "sum_price"),
            F.grouping_id().cast("long").alias("grp"),
        )
    )


def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-detail reconciliation — the second standard post-load
    audit next to the FK check: every order's header total compared to
    the decimal-exact sum of its lines' charges
    (extendedprice·(1−discount)·(1+tax)); orders without lines counted
    separately. Emits match counts at the cent level and the total
    absolute discrepancy — all through decimal accumulators, one final
    cast; whether the synthetic fixture reconciles or not, the numbers
    are exact and deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # every monetary/ratio column is an exact 2-decimal quantity, so the
    # whole reconciliation quantizes to integers (cents and percent
    # points): charge in dollar-millionths = cents·(100−d)·(100+t) —
    # decimal-multiplication precision rules differ across engines,
    # integer arithmetic does not
    charge_u = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        * (F.lit(100) + F.round(F.col("l_tax") * 100).cast("long"))
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(charge_u).cast("long").alias("line_total_u"),
    )
    j = orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "left"
    )
    diff_u = F.abs(
        F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(10_000)
        - F.coalesce(F.col("line_total_u"), F.lit(0))
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("n_lines").isNull().cast("long"))
        .cast("long")
        .alias("orders_without_lines"),
        F.sum(
            (F.col("n_lines").isNotNull() & (diff_u < 5_000)).cast("long")
        )
        .cast("long")
        .alias("reconciled_at_cent"),
        (
            F.sum(diff_u).cast("double") / F.lit(1_000_000).cast("double")
        ).alias("total_abs_discrepancy"),
    )


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — the load-time check a
    warehouse runs after every batch: orphan counts via anti-joins
    (orders→customer, lineitem→orders, customer→nation) and coverage
    ratios, one row. Anti-joins leave the key-side strategy to the optimizer (parent keys scale with SF); ratios are one
    division each."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")

    def orphans(child, key, parent, pkey):
        return (
            child.select(F.col(key).alias("k"))
            .join(
                parent.select(F.col(pkey).alias("k")).distinct(),
                "k",
                "left_anti",
            )
            .count()
        )

    n_orders = orders.count()
    n_lineitem = lineitem.count()
    n_customer = customer.count()
    o_orph = orphans(orders, "o_custkey", customer, "c_custkey")
    l_orph = orphans(lineitem, "l_orderkey", orders, "o_orderkey")
    c_orph = orphans(customer, "c_nationkey", nation, "n_nationkey")
    out = local_frame(
        spark, [(n_orders, o_orph, n_lineitem, l_orph, n_customer, c_orph)],
        "n_orders long, orders_orphans long, n_lineitem long,"
        " lineitem_orphans long, n_customer long, customer_orphans long",
    )
    return out.select(
        "*",
        (
            (F.col("n_orders") - F.col("orders_orphans")).cast("double")
            / F.col("n_orders").cast("double")
        ).alias("orders_fk_coverage"),
        (
            (F.col("n_lineitem") - F.col("lineitem_orphans")).cast("double")
            / F.col("n_lineitem").cast("double")
        ).alias("lineitem_fk_coverage"),
    )


def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto/80-20 check): the share of total
    order revenue held by the top ⌈20%⌉ of ordering customers. Revenue
    per customer through the exact decimal accumulator, rank with a
    total (revenue, custkey) tie-break, ceil via integer arithmetic,
    one IEEE division at the end — the classic BI concentration figure,
    engine-exact.

    Scale note: the rank is operators/rank.global_row_number (range-
    partitioned distributed rank), not `row_number` over an
    unpartitioned window — the per-customer revenue frame is
    customer-count-sized and would otherwise funnel through one task.
    Same (revenue desc, custkey asc) total order, identical result."""
    from xeloader_spark.operators.rank import global_row_number

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev")
        )
    )
    ranked = global_row_number(
        rev, [F.desc("rev"), F.asc("o_custkey")], out_col="rk"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev").cast(_DEC).alias("_total"),
    ).withColumn(
        "top20_count", F.expr("(n_customers + 4) div 5").cast("long")
    )
    top = (
        ranked.crossJoin(F.broadcast(agg))
        .filter(F.col("rk") <= F.col("top20_count"))
        .groupBy("n_customers", "top20_count", "_total")
        .agg(F.sum("rev").cast(_DEC).alias("_top"))
    )
    return top.select(
        "n_customers",
        "top20_count",
        F.col("_top").cast("double").alias("top_revenue"),
        F.col("_total").cast("double").alias("total_revenue"),
        (
            F.col("_top").cast("double") / F.col("_total").cast("double")
        ).alias("top_share"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_user_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: the per-user × event-type activity matrix (wide form) via
    Spark's `pivot` with an explicit value list — with the values
    pinned, Catalyst compiles it to ONE pass of conditional aggregates
    (no distinct-discovery job, no second shuffle), which is the only
    pivot shape that belongs on 100 TB. The oracle is the same matrix
    as portable conditional sums. Integer counts plus one exact decimal
    sum per type; missing cells are true zeros."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — margins chosen à la carte ((status,
    priority), (status), ()) rather than cube/rollup's fixed lattices;
    grouping_id disambiguates the NULL-as-margin rows."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                   AS sum_price,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                   AS grp
        FROM _gs_orders
        GROUP BY GROUPING SETS (
            (o_orderstatus, o_orderpriority), (o_orderstatus), ()
        )
        """
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profiler over events: one pass computing, per
    column, row/null/distinct counts and string-rendered min/max — the
    ANALYZE-TABLE statistics a warehouse keeps per column, as a long-form
    result. Single aggregate (all columns in one map-side-combined pass),
    then a stack to long form — profiling cost is one scan regardless of
    column count."""
    ev = load_table(spark, sf_dir, "events")
    # min/max rendered through engine-exact channels: integers as-is,
    # timestamps as epoch micros, doubles through a fixed-scale decimal
    # (double→string formatting differs across engines; decimal doesn't)
    renders = {
        "event_id": lambda c: c,
        "ts": F.unix_micros,
        "user_id": lambda c: c,
        "event_type": lambda c: c,
        "value": lambda c: c.cast("decimal(25,6)"),
    }
    cols = list(renders)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c, render in renders.items():
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            render(F.min(c)).cast("string").alias(f"_mn_{c}"),
            render(F.max(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = ev.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(column_name, n_non_null, n_distinct, min_repr, max_repr)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "column_name", "n_rows", "n_non_null", "n_distinct",
        "min_repr", "max_repr",
    )


def q_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality validation (the Deequ/dbt-test shape):
    uniqueness, non-null, range, set-membership, and referential
    integrity, each reported as (check, n_violations, passed). Everything
    is a count over one scan per table plus one anti-join for the FK
    check — the audit a loader runs after every batch."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    uniq = ev.groupBy("event_id").count().filter(F.col("count") > 1).count()
    null_ts = ev.filter(F.col("ts").isNull()).count()
    neg_val = ev.filter(F.col("value") < -1e6).count()
    bad_type = ev.filter(
        ~F.col("event_type").isin("click", "error", "purchase", "signup", "view")
    ).count()
    orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .count()
    )
    rows = [
        ("event_id_unique", uniq),
        ("ts_not_null", null_ts),
        ("value_range", neg_val),
        ("event_type_domain", bad_type),
        ("orders_fk_customer", orphans),
    ]
    return local_frame(
        spark, [(name, int(n), n == 0) for name, n in rows],
        "check_name string, n_violations long, passed boolean",
    )


def q_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer including the
    zero bucket (LEFT join so customers with no orders count). Two
    aggregates back-to-back; the second one's input is already tiny."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY … HAVING: parts types stocked in more than 20 variants."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .filter(F.col("n_parts") > 20)
    )


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggregates (Spark plans this as an
    expand + two-phase aggregate)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice", "sum_price"),
    )


def q_pivot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional pivot: customers per market segment as columns, one row
    per nation (fixed segment list → plain conditional aggregation, which
    is also exactly what a SQL pivot compiles to)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    joined = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    aggs = [
        F.sum(F.when(F.col("c_mktsegment") == s, 1).otherwise(0)).cast("long").alias(f"n_{s.lower()}")
        for s in segs
    ]
    return joined.groupBy("n_name").agg(*aggs)


_AVG_PRICE = "(SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) FROM orders)"

def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    0.2x the part's average — the correlated-scalar-aggregate pattern.
    The comparison is cross-multiplied (5·q·cnt < sum) so no division
    enters the predicate, keeping it engine-exact. Scale shape: per-part
    (sum, count) aggregate joined back on l_partkey (AQE broadcasts it
    when small; co-partitioned shuffle join otherwise), then one global
    decimal sum."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("part_qty_sum"),
        F.count(F.lit(1)).alias("part_qty_cnt"),
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(
            F.col("l_quantity") * 5 * F.col("part_qty_cnt")
            < F.col("part_qty_sum")
        )
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_last_ship_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to this schema's shipdate): for orders
    with >= 2 suppliers, the supplier whose lines shipped LAST — and
    uniquely so — is the order's straggler; count stragglings per
    supplier, top 10. Exercises stacked windows over a pre-aggregated
    frame + broadcast dim join + TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    per = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("sup_last")
    )
    w = Window.partitionBy("l_orderkey")
    m = per.select(
        "l_orderkey",
        "l_suppkey",
        "sup_last",
        F.max("sup_last").over(w).alias("ord_last"),
        F.count(F.lit(1)).over(w).alias("n_sups"),
    ).withColumn(
        "n_last",
        F.sum(
            F.when(F.col("sup_last") == F.col("ord_last"), 1).otherwise(0)
        ).over(w),
    )
    return (
        m.filter(
            (F.col("n_sups") >= 2)
            & (F.col("n_last") == 1)
            & (F.col("sup_last") == F.col("ord_last"))
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: each supplier nation's share of yearly revenue —
    multiway join down to (year, nation) grain, then a window share over
    the tiny aggregate. Decimal accumulators make the shares
    engine-exact doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy(
            F.year("l_shipdate").cast("long").alias("ship_year"),
            F.col("n_name").alias("supp_nation"),
        )
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            # decimal twin kept for the window denominator: decimal sums
            # are order-independent, so the share is engine-exact
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    _DEC
                )
            ).alias("revenue_dec"),
        )
    )
    wy = Window.partitionBy("ship_year")
    return rev.select(
        "ship_year",
        "supp_nation",
        "revenue",
        (
            F.col("revenue")
            / F.sum("revenue_dec").over(wy).cast("double")
        ).alias("mkt_share"),
    )


_CHURN_CUTOFF = "2000-06-01"


def q_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape, churn variant: customers with above-average
    (positive-balance) account balance and no orders since the cutoff,
    rolled up per nation — scalar subquery threshold + filtered anti
    join + decimal aggregate. (The fixture gives every customer SOME
    order, so the classic no-orders-ever predicate is vacuous; the
    recency filter keeps the anti join meaningful.)"""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    thr = pos.agg(
        (
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(_CHURN_CUTOFF).cast("timestamp")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent.select("o_custkey").distinct(),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            _dsum("c_acctbal", "total_bal"),
        )
    )


_Q15_START = "1996-01-01"
_Q15_END = "1996-04-01"


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    scalar-max subquery with an EQUALITY predicate on an aggregate (the
    ties-included variant top-k can't express). Revenue stays a decimal
    through the comparison so the equality is exact cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(_Q15_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q15_END).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    _DEC
                )
            ).alias("rev_dec")
        )
    )
    mx = rev.agg(F.max("rev_dec").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("mx"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_rev"),
        )
    )


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: fixture has no commit/receipt dates, so
    "late" = shipped more than 30 days after the order date): count of
    quarter's orders per priority that had at least one late lineitem.
    EXISTS compiles to a left-semi join — the lineitem side contributes
    only its join key, no payload columns cross the shuffle, and each
    order is counted once no matter how many late lines it has."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top 20 customers by revenue lost to returns
    (l_returnflag = 'R') for orders placed in a quarter, with nation
    context. Revenue is ranked as an exact decimal (engine-stable top-k
    set) and cast to double only on output; the tie-break on c_custkey
    makes the LIMIT row set total-order deterministic. Plan: lineitem ⋈
    orders shuffle on orderkey, customer/nation broadcast when small,
    TakeOrderedAndProject for the top-k (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
            ).alias("rev_dec")
        )
        .orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


def q_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: fixture has no l_shipmode, so lines are
    bucketed by ship delay instead): per delay bucket, how many lines
    belong to high-priority orders vs low. The CASE-sum pair rides the
    same map-side partial aggregate; only 3 groups cross the shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "0-30d")
        .when(delay <= 60, "31-60d")
        .otherwise("60d+")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of a month's revenue that came from
    PROMO parts. part joins optimizer-chosen (it is the small side at any scale that
    matters relative to lineitem); both sums accumulate exactly in
    decimal and the final ratio is one IEEE divide, identical in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(promo.cast(_DEC)).cast("double")
                * F.lit(100.0)
                / F.sum(disc.cast(_DEC)).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta from a hypothetical discount change —
    a pure scan-filter-aggregate with three sargable range predicates, the
    canonical predicate-pushdown probe. All three filters reach the
    parquet reader (row-group stats skip non-matching chunks); a single
    decimal accumulator crosses the shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from lineitems matching any of three
    (brand, size-range, quantity-range) clauses — the canonical
    disjunctive-predicate plan. The part-side conjuncts common to all
    branches (p_size >= 1) and the lineitem-side hull (l_quantity
    between the union of ranges) are separable, so Catalyst pushes a
    sargable filter into BOTH scans before the join; the full OR is the
    join filter. part is the small side; the optimizer broadcasts it under the threshold (no hint — part scales with SF)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    clause = (
        ((F.col("p_brand") == "Brand#13") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#19") & sz.between(1, 15) & q.between(20, 30))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(
            _dsum(disc, "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side Bloom runtime filter made explicit
    (`operators/skew.bloom_prune_join`): lineitem rows are pre-filtered
    by a broadcast m-bit bitset of the selective order cohort's keys
    (1996-Q1 orders) BEFORE the join's shuffle, then joined; revenue per
    priority. The oracle is the PLAIN join — Bloom has no false
    negatives and the join removes false positives, so result equality
    IS the filter's correctness proof (the pruning-actually-prunes
    property is pinned separately in pytest)."""
    from ..operators.skew import bloom_prune_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        bloom_prune_join(li, orders, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            _dsum(disc, "revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


_FP_MIN_ITEM = 3
_FP_MIN_PAIR = 2


def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent-pair mining over order baskets (orderkey →
    set of partkeys): a-priori-pruned unordered pairs with basket
    supports and lift (`operators/itemsets.frequent_pairs`). Pairs are
    carved array-side per basket after the item-support prune — never a
    transaction self-join, never the global item×item space; lift is two
    exact integer products and one IEEE division."""
    from ..operators.itemsets import frequent_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return frequent_pairs(
        li,
        "l_orderkey",
        "l_partkey",
        min_item_support=_FP_MIN_ITEM,
        min_pair_support=_FP_MIN_PAIR,
    )


_LINK_NAME_W, _LINK_SEG_W, _LINK_BAL_W = 4, 2, 3
_LINK_THRESHOLD = 5
# md5-gate thresholds out of 10000 (operators/sampling.hash_bucket):
# 10% of dirty rows move nation (fall out of the block — the blocking
# recall trade), 30% lowercase the name, 20% lose the segment, 25%
# drift the balance by one cent.
_LINK_NAT_T, _LINK_NAME_T, _LINK_SEG_T, _LINK_BAL_T = 1000, 3000, 2000, 2500


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage over a deterministically dirtied copy of
    the customer table (`operators/linkage.blocked_link`) — the
    structured-record entity-resolution twin of the document near-dup
    family: candidate pairs from an equi-join on the blocking key
    (nation, last-3-of-name — case-invariant digits, so the name-case
    perturbation cannot break blocking), integer field-agreement
    weights (name 4, segment 2, balance-cents 3), threshold 5 — so a
    pair links iff at most ONE field was corrupted. The seeded
    perturbations (md5-gated: nation moved 10%, name lowercased 30%,
    segment dropped 20%, balance off-by-a-cent 25%) replay in the
    oracle, making precision/recall of the threshold an exact-checked
    property instead of an anecdote.

    Scale shape: one equi-join on the blocking key (optimizer-chosen
    strategy — both sides are corpus-sized), scoring is a codegen
    projection, the threshold prunes in the same stage. Never the
    all-pairs space."""
    from ..operators.linkage import blocked_link
    from ..operators.sampling import hash_bucket

    cust = load_table(spark, sf_dir, "customer")
    cents = "CAST(round(c_acctbal * 100) AS BIGINT)"

    def g(salt: str, thr: int):
        return hash_bucket(F.col("c_custkey"), salt) < thr

    left = cust.select(
        F.col("c_custkey").alias("left_key"),
        F.col("c_nationkey").alias("nk"),
        F.expr("right(c_name, 3)").alias("tail"),
        F.col("c_name").alias("l_name"),
        F.col("c_mktsegment").alias("l_seg"),
        F.expr(cents).alias("l_bal"),
    )
    right = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("right_key"),
        F.when(
            g("linknat", _LINK_NAT_T), (F.col("c_nationkey") + 1) % 25
        )
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
        F.expr("right(c_name, 3)").alias("tail"),
        F.when(g("linkname", _LINK_NAME_T), F.lower("c_name"))
        .otherwise(F.col("c_name"))
        .alias("r_name"),
        F.when(g("linkseg", _LINK_SEG_T), F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("r_seg"),
        (
            F.expr(cents)
            + F.when(g("linkbal", _LINK_BAL_T), 1).otherwise(0)
        ).alias("r_bal"),
    )
    return blocked_link(
        left,
        right,
        block_cols=["nk", "tail"],
        agreements=[
            ("l_name", "r_name", _LINK_NAME_W),
            ("l_seg", "r_seg", _LINK_SEG_W),
            ("l_bal", "r_bal", _LINK_BAL_W),
        ],
        threshold=_LINK_THRESHOLD,
    )


_WPS_MIN_PAIR = 2


def q_windowed_pair_supports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed market-basket pair supports — the batch, oracle-exact
    twin of `streaming/itemset_stream.basket_pairs_counts_windowed`'s
    semantics: baskets keyed to their order's calendar month, the same
    array-side C(f,2) pair carve (shared `PAIR_EXPR`), supports per
    (window_start, pair) with a min-support floor. Completes the
    itemsets family: running supports (`q_frequent_pairs` + streaming
    twin) AND bounded-state windowed supports now both have exact
    driver checks.

    Scale shape: lineitem⋈orders strategy is optimizer-chosen (both
    scale with SF), one basket-grain aggregate, pairs carved inside the
    projection (never a transaction self-join), one slim
    (month, item, item) aggregate — the same no-self-join contract as
    `q_frequent_pairs`. Pair fan-out is C(basket_size, 2): TPC-H order
    baskets are ≤7 items, so no cap is needed here; on domains with
    mega-baskets apply `operators/itemsets.frequent_pairs`'s
    `max_basket_items` slice (or `slice(items, 1, cap)` on the sorted
    array) before the carve — the streaming windowed twin has the same
    consideration."""
    from ..streaming.itemset_stream import PAIR_EXPR

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    baskets = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("basket"),
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd"
            ).alias("window_start"),
        )
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )
    return (
        baskets.select(
            "window_start", F.explode(F.expr(PAIR_EXPR)).alias("p")
        )
        .groupBy(
            "window_start",
            F.col("p.item_a").alias("item_a"),
            F.col("p.item_b").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
        .filter(F.col("pair_support") >= _WPS_MIN_PAIR)
    )


def _link_gate_duck(salt: str, thr: int) -> str:
    return (
        f"((('0x' || substr(md5('{salt}' || CAST(c_custkey AS VARCHAR)), 1, 8))"
        f"::BIGINT % 10000) < {thr})"
    )


_LINK_ORACLE = f"""
    WITH l AS (
        SELECT c_custkey AS left_key, c_nationkey AS nk,
               right(c_name, 3) AS tail, c_name AS l_name,
               c_mktsegment AS l_seg,
               CAST(round(c_acctbal * 100) AS BIGINT) AS l_bal
        FROM customer
    ),
    r AS (
        SELECT c_custkey + 1000000 AS right_key,
               CASE WHEN {_link_gate_duck("linknat", _LINK_NAT_T)}
                    THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS nk,
               right(c_name, 3) AS tail,
               CASE WHEN {_link_gate_duck("linkname", _LINK_NAME_T)}
                    THEN lower(c_name) ELSE c_name END AS r_name,
               CASE WHEN {_link_gate_duck("linkseg", _LINK_SEG_T)}
                    THEN 'UNKNOWN' ELSE c_mktsegment END AS r_seg,
               CAST(round(c_acctbal * 100) AS BIGINT)
                   + CASE WHEN {_link_gate_duck("linkbal", _LINK_BAL_T)}
                          THEN 1 ELSE 0 END AS r_bal
        FROM customer
    ),
    scored AS (
        SELECT l.left_key, r.right_key,
               CAST(CASE WHEN l.l_name = r.r_name THEN {_LINK_NAME_W} ELSE 0 END
                  + CASE WHEN l.l_seg = r.r_seg THEN {_LINK_SEG_W} ELSE 0 END
                  + CASE WHEN l.l_bal = r.r_bal THEN {_LINK_BAL_W} ELSE 0 END
                  AS BIGINT) AS score,
               CAST(CASE WHEN l.l_name = r.r_name THEN 1 ELSE 0 END
                  + CASE WHEN l.l_seg = r.r_seg THEN 1 ELSE 0 END
                  + CASE WHEN l.l_bal = r.r_bal THEN 1 ELSE 0 END
                  AS BIGINT) AS n_agreements
        FROM l JOIN r ON l.nk = r.nk AND l.tail = r.tail
    )
    SELECT * FROM scored WHERE score >= {_LINK_THRESHOLD}
"""


# ------------------------------------------------------------------
# Synthesized partsupp (round 9; VERDICT r8 #3). The fixture ships no
# partsupp table, so the four TPC-H shapes that need it (Q2/Q9/Q11/Q20)
# derive a deterministic one IN-PLAN from lineitem's observed
# (l_partkey, l_suppkey) pairs — the true-TPC-H invariant "every
# lineitem pair exists in partsupp" holds by construction, so the
# multi-fact joins actually hit. availqty/supplycost are pure integer
# functions of the keys (same template string rendered in BOTH engines,
# the repo's WARC/URL synthesis discipline), so the frame is bit-exact
# cross-engine with zero stored state. Cost is carried in CENTS
# (BIGINT) so every comparison and product is exact; dollars appear
# only in reported columns via one final IEEE division.
_PS_AVAILQTY_SQL = "CAST((pk * 7 + sk * 3) % 100 + 1 AS BIGINT)"
_PS_COST_SQL = "CAST((pk * 97 + sk * 31) % 99900 + 100 AS BIGINT)"
_PS_CTE = f"""partsupp AS (
        SELECT pk AS ps_partkey, sk AS ps_suppkey,
               {_PS_AVAILQTY_SQL} AS ps_availqty,
               {_PS_COST_SQL} AS ps_cost_cents
        FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
              FROM lineitem) t
    )"""


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark rendering of `_PS_CTE`: one DISTINCT over lineitem's
    key pair (pair-keyed shuffle, ~|pairs| rows — the only shuffle the
    synthesis costs), then a zero-shuffle projection of the two
    key-derived columns. At 100 TB partsupp would be a real table; the
    synthesis stands in for the scan, not for a recommended pattern."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .distinct()
        .select(
            F.col("pk").alias("ps_partkey"),
            F.col("sk").alias("ps_suppkey"),
            F.expr(_PS_AVAILQTY_SQL).alias("ps_availqty"),
            F.expr(_PS_COST_SQL).alias("ps_cost_cents"),
        )
    )


def q_mincost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part (size divisible by 10), the
    EUROPE supplier(s) offering the minimum supply cost — the
    correlated-aggregate-equality join (min-cost subquery correlated on
    partkey), ties included. Cost stays integer cents through the
    equality, so the tie set is engine-exact; dollars are one final
    division.

    Scale shape: partsupp shuffles once into the per-part MIN aggregate
    (part-keyed); the equality join back is part-keyed too, so AQE can
    co-locate both sides. nation/region broadcast; part is SF-scaling
    so its join carries no hint (local plans broadcast it under the
    64 MB threshold, 100 TB gets a shuffle join on the pruned 2-column
    projection)."""
    ps = synth_partsupp(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    eu = (
        ps.join(sup, ps.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("ps_partkey", "ps_suppkey", "ps_cost_cents", "s_name",
                "s_acctbal", "n_name")
    )
    mn = eu.groupBy(F.col("ps_partkey").alias("mn_partkey")).agg(
        F.min("ps_cost_cents").alias("min_cents")
    )
    return (
        eu.join(
            mn,
            (F.col("ps_partkey") == F.col("mn_partkey"))
            & (F.col("ps_cost_cents") == F.col("min_cents")),
        )
        .drop("mn_partkey")
        .join(
            part.filter(F.col("p_size") % 10 == 0).select(
                "p_partkey", "p_type"
            ),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .select(
            "ps_partkey",
            "ps_suppkey",
            "s_name",
            F.col("s_acctbal").alias("s_acctbal"),
            "n_name",
            "p_type",
            (F.col("ps_cost_cents").cast("double") / F.lit(100.0)).alias(
                "supplycost"
            ),
        )
    )


# shared per-row profit expression (IEEE, engine-identical): revenue
# minus supply cost, exact-decimal-accumulated after the row arithmetic
_Q9_AMOUNT_SQL = (
    "CAST(l_extendedprice * (1 - l_discount)"
    " - (ps_cost_cents * l_quantity) / 100.0 AS DECIMAL(25,6))"
)


def q_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over the
    '%red%' parts — the multi-fact star (lineitem ⋈ orders ⋈ partsupp ⋈
    supplier ⋈ nation ⋈ part) where the second fact joins on the
    COMPOSITE (partkey, suppkey) key.

    Scale shape: lineitem and partsupp shuffle on the composite key
    (both fact-sized — the one unavoidable co-location); orders joins on
    orderkey (fact-sized, AQE-planned); supplier/nation broadcast; the
    part filter prunes to a 1-column semi-side with no hint (SF-scaling
    table). The aggregate is (nation, year) grain — tiny, map-side
    partials absorb the fan-in."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ps = synth_partsupp(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            part.filter(F.col("p_name").like("%red%")).select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(F.expr(_Q9_AMOUNT_SQL)).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q11_SHARE_DEN = 500  # part qualifies when its value > 1/500 of total


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value held by AFRICA
    suppliers exceeds 1/500 of the region total — GROUP BY + HAVING
    against a scalar subquery. The share test cross-multiplies in
    DECIMAL(38,0) (value · 500 > total), so the qualifying set is exact
    in both engines at any SF (BIGINT would overflow the cross-multiply
    near sf1); dollars appear only in the reported column.

    Scale shape: partsupp ⋈ supplier is supplier-keyed, the value
    aggregate is part-keyed (one shuffle each), and the 1-row total
    broadcasts back — the corpus-sized frame never moves twice."""
    ps = synth_partsupp(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    v = (
        ps.join(sup, ps.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "AFRICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(ps_cost_cents * ps_availqty AS DECIMAL(38,0))"
                )
            ).alias("val_cents")
        )
    )
    tot = v.agg(F.sum("val_cents").alias("total_cents"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(
            F.col("val_cents") * F.lit(_Q11_SHARE_DEN)
            > F.col("total_cents")
        )
        .select(
            "ps_partkey",
            (F.col("val_cents").cast("double") / F.lit(100.0)).alias(
                "stock_value"
            ),
        )
    )


_Q20_QTY_MULT = 8  # availqty must exceed 8× the 1996 shipped quantity


def q_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding excess stock of '%red%' parts
    relative to what they shipped in 1996 — the nested semi-join
    (suppliers ← partsupp ← correlated lineitem aggregate ← part name
    filter). The excess test compares availqty (exact decimal) against
    8× the decimal-accumulated shipped quantity, so the supplier set is
    engine-exact.

    Scale shape: the shipped aggregate is (partkey, suppkey)-keyed over
    date-pruned lineitem; partsupp joins it on the same composite key
    (co-located); the part name filter is a 1-column semi-side; the
    surviving pair set collapses to DISTINCT suppliers (node-sized)
    before touching supplier/nation. No corpus frame moves twice."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ps = synth_partsupp(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("shipped_qty"))
    )
    qualifying = (
        ps.join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(
            part.filter(F.col("p_name").like("%red%")).select("p_partkey"),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .filter(
            F.col("ps_availqty").cast(_DEC)
            > F.lit(_Q20_QTY_MULT) * F.col("shipped_qty")
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        qualifying.join(sup, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.col("n_name"),
        )
    )


ORACLES: dict[str, str] = {
    "q_record_linkage": _LINK_ORACLE,
    "q_windowed_pair_supports": f"""
        WITH b AS (
            SELECT DISTINCT l.l_orderkey AS basket,
                   strftime(date_trunc('month', o.o_orderdate), '%Y-%m-%d')
                       AS window_start,
                   l.l_partkey AS item
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT a.window_start, a.item AS item_a, b2.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS pair_support
        FROM b a
        JOIN b b2 ON a.basket = b2.basket AND a.item < b2.item
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= {_WPS_MIN_PAIR}
    """,
    "q_bloom_join_prune": """
        SELECT o.o_orderpriority,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1
    """,
    "q_frequent_pairs": f"""
        WITH t AS (
            SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
            FROM lineitem
        ),
        sup AS (
            SELECT item, CAST(COUNT(*) AS BIGINT) AS item_support
            FROM t GROUP BY 1
            HAVING COUNT(*) >= {_FP_MIN_ITEM}
        ),
        nb AS (
            SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM t
        ),
        tf AS (SELECT t.* FROM t JOIN sup USING (item)),
        pairs AS (
            SELECT a.item AS item_a, b.item AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS pair_support
            FROM tf a JOIN tf b
              ON a.basket = b.basket AND a.item < b.item
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_FP_MIN_PAIR}
        )
        SELECT p.item_a, p.item_b, p.pair_support,
               sa.item_support AS support_a,
               sb.item_support AS support_b,
               CAST(p.pair_support * nb.n_baskets AS DOUBLE)
                   / CAST(sa.item_support * sb.item_support AS DOUBLE)
                   AS lift
        FROM pairs p
        JOIN sup sa ON sa.item = p.item_a
        JOIN sup sb ON sb.item = p.item_b
        CROSS JOIN nb
    """,
    "q_order_priority_check": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY 1
    """,
    "q_returned_item_customers": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(rev_dec AS DOUBLE) AS revenue
        FROM (
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(25,6))) AS rev_dec
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY 1, 2, 3, 4
        )
        ORDER BY rev_dec DESC, c_custkey ASC
        LIMIT 20
    """,
    "q_ship_delay_priority": """
        SELECT CASE
                 WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE)) <= 30 THEN '0-30d'
                 WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE)) <= 60 THEN '31-60d'
                 ELSE '60d+'
               END AS delay_bucket,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
    """,
    "q_promo_revenue": """
        SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                             THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                  AS DECIMAL(25,6))
                             ELSE CAST(0.0 AS DECIMAL(25,6)) END)
                    AS DOUBLE) * 100.0
               / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(25,6))) AS DOUBLE)
               AS promo_revenue_pct,
               COUNT(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    "q_forecast_revenue_change": """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                        AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q_disjunctive_filter_revenue": """
        SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    "q_top_revenue_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(25,6))) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{_Q15_START} 00:00:00'
              AND l_shipdate < TIMESTAMP '{_Q15_END} 00:00:00'
            GROUP BY 1
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(r.rev_dec AS DOUBLE) AS total_rev
        FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        WHERE r.rev_dec = (SELECT MAX(rev_dec) FROM rev)
    """,
    "q_small_quantity_revenue": """
        WITH pp AS (
            SELECT l_partkey, SUM(l_quantity) AS part_qty_sum,
                   COUNT(*) AS part_qty_cnt
            FROM lineitem GROUP BY 1
        )
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6)))
                    AS DOUBLE) / CAST(7.0 AS DOUBLE) AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l JOIN pp ON l.l_partkey = pp.l_partkey
        WHERE l.l_quantity * 5 * pp.part_qty_cnt < pp.part_qty_sum
    """,
    "q_last_ship_supplier": """
        WITH per AS (
            SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS sup_last
            FROM lineitem GROUP BY 1, 2
        ),
        m AS (
            SELECT *,
                   MAX(sup_last) OVER (PARTITION BY l_orderkey) AS ord_last,
                   COUNT(*) OVER (PARTITION BY l_orderkey) AS n_sups
            FROM per
        ),
        l AS (
            SELECT *,
                   SUM(CASE WHEN sup_last = ord_last THEN 1 ELSE 0 END)
                       OVER (PARTITION BY l_orderkey) AS n_last
            FROM m
        )
        SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE n_sups >= 2 AND n_last = 1 AND sup_last = ord_last
        GROUP BY 1
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
    "q_market_share": """
        WITH rev AS (
            SELECT CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
                   n.n_name AS supp_nation,
                   SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(25,6))) AS rev_dec
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY 1, 2
        )
        SELECT ship_year, supp_nation,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(rev_dec AS DOUBLE) /
                   CAST(SUM(rev_dec) OVER (PARTITION BY ship_year)
                        AS DOUBLE) AS mkt_share
        FROM rev
    """,
    "q_rich_inactive_customers": """
        WITH thr AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
                       / COUNT(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
                   AS total_bal
        FROM customer c, thr
        WHERE c.c_acctbal > thr.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >=
                                TIMESTAMP '{cutoff} 00:00:00')
        GROUP BY 1
    """.format(cutoff=_CHURN_CUTOFF),
    "q_order_reconciliation": """
        WITH per_order AS (
            SELECT l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(
                       CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       * (100 + CAST(round(l_tax * 100) AS BIGINT))
                   ) AS BIGINT) AS line_total_u
            FROM lineitem GROUP BY 1
        ),
        j AS (
            SELECT p.n_lines,
                   abs(CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
                       - COALESCE(p.line_total_u, 0)) AS diff_u
            FROM orders o
            LEFT JOIN per_order p ON p.l_orderkey = o.o_orderkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS orders_without_lines,
               CAST(SUM(CASE WHEN n_lines IS NOT NULL AND diff_u < 5000
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS reconciled_at_cent,
               CAST(SUM(diff_u) AS DOUBLE) / CAST(1000000 AS DOUBLE)
                   AS total_abs_discrepancy
        FROM j
    """,
    "q_referential_integrity": """
        WITH s AS (
            SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                    AS orders_orphans,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
                    AS n_lineitem,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                    AS lineitem_orphans,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
                    AS n_customer,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                    AS customer_orphans
        )
        SELECT *,
               CAST(n_orders - orders_orphans AS DOUBLE)
                   / CAST(n_orders AS DOUBLE) AS orders_fk_coverage,
               CAST(n_lineitem - lineitem_orphans AS DOUBLE)
                   / CAST(n_lineitem AS DOUBLE) AS lineitem_fk_coverage
        FROM s
    """,
    "q_revenue_pareto": """
        WITH rev AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT o_custkey, rev,
                   ROW_NUMBER() OVER (ORDER BY rev DESC,
                                      o_custkey ASC) AS rk
            FROM rev
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST((COUNT(*) + 4) // 5 AS BIGINT) AS top20_count,
                   SUM(rev) AS total
            FROM ranked
        )
        SELECT a.n_customers, a.top20_count,
               CAST(SUM(r.rev) AS DOUBLE) AS top_revenue,
               CAST(a.total AS DOUBLE) AS total_revenue,
               CAST(SUM(r.rev) AS DOUBLE) / CAST(a.total AS DOUBLE)
                   AS top_share
        FROM ranked r CROSS JOIN agg a
        WHERE r.rk <= a.top20_count
        GROUP BY 1, 2, a.total
    """,
    "q_pivot_user_matrix": f"""
        SELECT user_id,
               {", ".join(
                   f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
                   f" AS BIGINT) AS n_{t}"
                   for t in _EVENT_TYPES
               )}
        FROM events GROUP BY 1
    """,
    "q_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                   AS sum_price,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grp
        FROM orders
        GROUP BY GROUPING SETS (
            (o_orderstatus, o_orderpriority), (o_orderstatus), ()
        )
    """,
    "q_table_profile": """
        WITH base AS (SELECT COUNT(*) AS n_rows FROM events)
        SELECT u.column_name, base.n_rows, u.n_non_null, u.n_distinct,
               u.min_repr, u.max_repr
        FROM base, (
            SELECT 'event_id' AS column_name,
                   COUNT(event_id) AS n_non_null,
                   COUNT(DISTINCT event_id) AS n_distinct,
                   CAST(MIN(event_id) AS VARCHAR) AS min_repr,
                   CAST(MAX(event_id) AS VARCHAR) AS max_repr
            FROM events
            UNION ALL
            SELECT 'ts', COUNT(ts), COUNT(DISTINCT ts),
                   CAST(epoch_us(MIN(ts)) AS VARCHAR),
                   CAST(epoch_us(MAX(ts)) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'user_id', COUNT(user_id), COUNT(DISTINCT user_id),
                   CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'event_type', COUNT(event_type), COUNT(DISTINCT event_type),
                   MIN(event_type), MAX(event_type)
            FROM events
            UNION ALL
            SELECT 'value', COUNT(value), COUNT(DISTINCT value),
                   CAST(CAST(MIN(value) AS DECIMAL(25,6)) AS VARCHAR),
                   CAST(CAST(MAX(value) AS DECIMAL(25,6)) AS VARCHAR)
            FROM events
        ) u
    """,
    "q_constraint_checks": """
        SELECT 'event_id_unique' AS check_name,
               CAST((SELECT COUNT(*) FROM (
                   SELECT event_id FROM events GROUP BY 1 HAVING COUNT(*) > 1
               )) AS BIGINT) AS n_violations,
               (SELECT COUNT(*) FROM (
                   SELECT event_id FROM events GROUP BY 1 HAVING COUNT(*) > 1
               )) = 0 AS passed
        UNION ALL
        SELECT 'ts_not_null',
               CAST((SELECT COUNT(*) FROM events WHERE ts IS NULL) AS BIGINT),
               (SELECT COUNT(*) FROM events WHERE ts IS NULL) = 0
        UNION ALL
        SELECT 'value_range',
               CAST((SELECT COUNT(*) FROM events WHERE value < -1e6) AS BIGINT),
               (SELECT COUNT(*) FROM events WHERE value < -1e6) = 0
        UNION ALL
        SELECT 'event_type_domain',
               CAST((SELECT COUNT(*) FROM events WHERE event_type NOT IN
                    ('click','error','purchase','signup','view')) AS BIGINT),
               (SELECT COUNT(*) FROM events WHERE event_type NOT IN
                    ('click','error','purchase','signup','view')) = 0
        UNION ALL
        SELECT 'orders_fk_customer',
               CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
                   SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
               )) AS BIGINT),
               (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
                   SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
               )) = 0
    """,
    "q_volume_shipping": """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
    "q_large_orders": """
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, big.sum_qty
        FROM (
            SELECT l_orderkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
                       AS sum_qty
            FROM lineitem GROUP BY 1
            HAVING SUM(CAST(l_quantity AS DECIMAL(25,6))) > 250
        ) big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    "q_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY 1, 2
    """,
    "q_region_revenue": """
        SELECT r.r_name,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1
    """,
    "q_shipping_priority": """
        SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-06-01'
          AND l.l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        LIMIT 10
    """,
    "q_supplier_breadth_per_part": """
        SELECT p.p_brand, p.p_size,
               CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    """,
    "q_top_customer_per_nation": """
        SELECT n_name, custkey, total_spend, rk FROM (
            SELECT n.n_name,
                   s.o_custkey AS custkey,
                   s.total_spend,
                   ROW_NUMBER() OVER (PARTITION BY n.n_name
                                      ORDER BY s.total_spend DESC, s.o_custkey ASC) AS rk
            FROM (
                SELECT o_custkey,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_spend
                FROM orders GROUP BY 1
            ) s
            JOIN customer c ON s.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
        ) WHERE rk <= 3
    """,
    "q_running_total": """
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_spend
        FROM orders
    """,
    "q_set_operations": """
        SELECT c_custkey FROM (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION
            SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        )
        EXCEPT
        SELECT c_custkey FROM (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        )
    """,
    "q_exists_semi_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
    "q_not_exists_anti_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "q_outer_join_coverage": """
        SELECT n.n_name, COUNT(s.s_suppkey) AS n_suppliers
        FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
        GROUP BY 1
    """,
    "q_cross_join_small": """
        SELECT r.r_name, s.o_orderstatus
        FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    "q_scalar_subquery": f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > {_AVG_PRICE}
    """,
    "q_correlated_subquery": """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part p
        WHERE p_retailprice > (
            SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)
            FROM part p2 WHERE p2.p_brand = p.p_brand
        )
    """,
    "q_rollup_agg": """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q_cube_agg": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grp
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "q_order_count_histogram": """
        WITH per AS (
            SELECT c.c_custkey,
                   CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1
        )
        SELECT n_orders, COUNT(*) AS n_customers
        FROM per
        GROUP BY 1
    """,
    "q_having_filter": """
        SELECT p_type, COUNT(*) AS n_parts
        FROM part
        GROUP BY 1
        HAVING COUNT(*) > 20
    """,
    "q_distinct_agg": """
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY 1
    """,
    "q_pivot_segments": """
        SELECT n.n_name,
               CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n_automobile,
               CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_building,
               CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS n_furniture,
               CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS n_household,
               CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n_machinery
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    """,
    "q_mincost_supplier": f"""
        WITH {_PS_CTE},
        eu AS (
            SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_cost_cents,
                   s.s_name, s.s_acctbal, n.n_name
            FROM partsupp ps
            JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        ),
        mn AS (
            SELECT ps_partkey, MIN(ps_cost_cents) AS min_cents
            FROM eu GROUP BY 1
        )
        SELECT eu.ps_partkey, eu.ps_suppkey, eu.s_name, eu.s_acctbal,
               eu.n_name, p.p_type,
               CAST(eu.ps_cost_cents AS DOUBLE) / 100.0 AS supplycost
        FROM eu
        JOIN mn ON eu.ps_partkey = mn.ps_partkey
               AND eu.ps_cost_cents = mn.min_cents
        JOIN part p ON eu.ps_partkey = p.p_partkey
        WHERE p.p_size % 10 = 0
    """,
    "q_profit_by_nation": f"""
        WITH {_PS_CTE}
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM({_Q9_AMOUNT_SQL}) AS DOUBLE) AS profit,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN partsupp ps ON l.l_partkey = ps.ps_partkey
                        AND l.l_suppkey = ps.ps_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
    """,
    "q_important_stock": f"""
        WITH {_PS_CTE},
        v AS (
            SELECT ps.ps_partkey,
                   SUM(CAST(ps.ps_cost_cents * ps.ps_availqty
                       AS DECIMAL(38,0))) AS val_cents
            FROM partsupp ps
            JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'AFRICA'
            GROUP BY 1
        ),
        tot AS (SELECT SUM(val_cents) AS total_cents FROM v)
        SELECT v.ps_partkey,
               CAST(v.val_cents AS DOUBLE) / 100.0 AS stock_value
        FROM v, tot
        WHERE v.val_cents * {_Q11_SHARE_DEN} > tot.total_cents
    """,
    "q_potential_promotion": f"""
        WITH {_PS_CTE},
        shipped AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(l_quantity AS DECIMAL(25,6))) AS shipped_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2
        )
        SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
        FROM partsupp ps
        JOIN shipped sh ON ps.ps_partkey = sh.l_partkey
                       AND ps.ps_suppkey = sh.l_suppkey
        JOIN part p ON ps.ps_partkey = p.p_partkey
        JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
          AND CAST(ps.ps_availqty AS DECIMAL(25,6))
              > {_Q20_QTY_MULT} * sh.shipped_qty
    """,
}
