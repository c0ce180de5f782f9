"""TPC-H-shaped analytics plans over the driver tables (SURVEY.md §2.2).

All builders are pure logical-plan constructors: (spark, sf_dir) ->
lazy DataFrame. Conventions shared with the DuckDB oracle SQL:

- every computed column is aliased, identically on both sides;
- date/timestamp outputs are formatted to 'yyyy-MM-dd' strings (engine
  timestamp wire formats differ, strings don't);
- double aggregates go through ``functions.aggs.dsum/davg`` (decimal
  widening → order-independent, see that module);
- every top-k has a total deterministic ORDER BY (tiebreak on a key).

Scale posture: dims (region/nation/supplier/part) are far below the
broadcast threshold, so every dim join is a broadcast hash join (no
shuffle of the fact side); fact-fact joins (orders⋈lineitem) shuffle on
the join key once and AQE handles skew. Filters are plain column
predicates on the scan → parquet pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.functions.aggs import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
    sql_stable_round,
    stable_round,
)
from big_data_parallel_computing_hw2_spark.functions.cache import bounded_cache
from big_data_parallel_computing_hw2_spark.functions.distributed import (
    global_rank,
    running_sum,
)
from big_data_parallel_computing_hw2_spark.sources.tables import (
    fan_out,
    load_table,
)


def _ts(lit: str) -> F.Column:
    return F.lit(lit).cast("timestamp")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy two-key groupBy with 8 aggregates.

    One shuffle; partial aggregation happens map-side (hash aggregate),
    the classic Spark mirror of the reference's MPI_Reduce pattern
    (band_mean_computation.cpp:151-153 does local reduce then global).

    fan_out(8) before the aggregate: the 5 decimal partial sums are
    CPU-bound (~1.3 core-seconds at sf0.1) and the bench parquet is ONE
    row group, so without it the whole partial agg runs on a single
    core (measured 1.60 s vs 0.89 s; 32-way measured worse, 1.18 s —
    shuffle + task overhead beats the extra cores at this size). The
    guard in fan_out makes it a no-op whenever the scan already has
    enough splits — i.e. everywhere at 100 TB. Column pruning pushes
    the 6-column project below the repartition, so the one extra local
    shuffle carries exactly the aggregate's input columns.
    """
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        fan_out(spark, l.filter(F.col("l_shipdate") <= _ts("1998-09-02")), 8)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, revenue top-10 with deterministic ties."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1998-03-15")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1998-03-15")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; all dims broadcast, one fact shuffle."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        # TPC-H Q5 semantics: the supplier and the customer share a nation.
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-10-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            stable_round(F.max("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join (adapted: late-shipped lines —
    the driver schema has no commitdate/receiptdate)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation revenue share of PROMO
    parts per month (broadcast dim join + one agg)."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            stable_round(
                F.lit(100.0)
                * F.sum(promo_rev.cast("decimal(38,6)")).cast("double")
                / F.sum(rev.cast("decimal(38,6)")).cast("double"),
                4,
            ).alias("promo_share"),
            dsum(rev, "total_revenue"),
        )
        .orderBy("ship_month")
    )


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group: top-3 customers by order revenue per nation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        o.groupBy("o_custkey")
        .agg(dsum("o_totalprice", "revenue"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "c_name", "revenue", "rnk")
        .orderBy("n_name", "rnk")
    )


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation) order revenue — multi-level agg in one pass."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    o = load_table(spark, sf_dir, "orders")
    joined = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("order_count"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items below 20% of their
    part's average quantity — the correlated scalar subquery,
    decorrelated Spark-first into a per-part aggregate joined back
    (exactly what Catalyst's RewriteCorrelatedScalarSubquery emits,
    stated explicitly so the shuffle is visible: one agg + one join on
    partkey)."""
    l = load_table(spark, sf_dir, "lineitem")
    per_part = l.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        stable_round(
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_qty")
    )
    return (
        l.join(per_part, F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice", "total_extendedprice"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family: NTILE quartiles + PERCENT_RANK of
    customers by account balance within each market segment (the
    remaining window shapes next to row_number/lag/running sums)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            stable_round(F.col("c_acctbal"), 2).alias("c_acctbal"),
            F.ntile(4).over(w).alias("quartile"),
            stable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
        .filter(F.col("quartile") == 1)
        .orderBy("c_mktsegment", "pct_rank", "c_custkey")
    )


def cube_status_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (status × order month): all four grouping levels in one
    pass — the other multi-level aggregate next to ROLLUP (hierarchy)
    and PIVOT (matrix)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    return (
        o.cube("o_orderstatus", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("order_month"),
        )
    )


PRIORITY_COLS = {
    "1-URGENT": "p1_urgent",
    "2-HIGH": "p2_high",
    "3-MEDIUM": "p3_medium",
    "4-NOT SPECIFIED": "p4_not_specified",
    "5-LOW": "p5_low",
}


def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts, status × priority matrix (explicit pivot
    values → no extra distinct-values job at scale)."""
    o = load_table(spark, sf_dir, "orders")
    df = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(PRIORITY_COLS))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    for raw, safe in PRIORITY_COLS.items():
        df = df.withColumnRenamed(raw, safe)
    return df.orderBy("o_orderstatus")


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive range filters + single
    agg — the query whose whole cost is IO, i.e. the pushdown/pruning
    benchmark. Every predicate reaches the parquet scan."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 0.5)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year — two broadcast nation joins under different roles (supplier
    vs customer side) + the symmetric pair filter."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A)
        & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B)
        & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q8_NATION = "NATION_3"
Q8_REGION = "ASIA"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's yearly
    revenue — conditional aggregation over a multi-join (share =
    Σ(case)/Σ, the ratio pattern)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    n_cust = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_supp = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_rev = F.when(F.col("supp_nation") == Q8_NATION, rev).otherwise(
        F.lit(0.0)
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cr_key") == F.col("r_regionkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            # NULL share on a zero-revenue year (every line fully
            # discounted): share of nothing is undefined, not an error
            # — mirrored CASE in the oracle (round 11)
            F.when(
                F.sum(rev.cast("decimal(38,6)")) > 0,
                stable_round(
                    F.sum(nation_rev.cast("decimal(38,6)")).cast("double")
                    / F.sum(rev.cast("decimal(38,6)")).cast("double"),
                    6,
                ),
            ).alias("mkt_share"),
            dsum(rev, "total_revenue"),
        )
        .orderBy("o_year")
    )


def q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution. LEFT OUTER
    join keeps zero-order customers; two cascaded aggregations (the
    second is tiny — AQE coalesces it to a few partitions)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier count per part profile (the
    lineitem fact is the part↔supplier bridge — no partsupp table in
    this schema). Broadcast dim join + two-phase exact distinct."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size") <= 25)
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


Q18_MIN_QTY = 2.5


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with customer detail. The HAVING filter runs on the
    aggregated (small) side before the join back to orders/customer."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            stable_round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity predicate
    bundles. The OR-of-ANDs sits in one filter after a broadcast dim
    join; Catalyst pushes the common `l_partkey = p_partkey` equi-key
    into the join and the residual OR into the join filter."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(0.0, 0.4))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 30))
            & (F.col("l_quantity").between(0.1, 0.5))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 50))
            & (F.col("l_quantity").between(0.2, 0.6))
        )
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the positive-balance average
    with NO orders since mid-1997 (anti-join), grouped by nation. The
    global average is a 1-row aggregate broadcast into the filter — no
    driver-side collect, the whole plan stays lazy/declarative."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("1997-06-01")
    )
    n = load_table(spark, sf_dir, "nation")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal", "avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("n_name")
    )


def nation_balance_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join shape: per-nation customer vs supplier account
    totals, keeping nations that have only one side (COALESCE'd keys —
    the standard reconciliation-report pattern)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cb = c.groupBy("c_nationkey").agg(dsum("c_acctbal", "cust_acctbal"))
    sb = s.groupBy("s_nationkey").agg(dsum("s_acctbal", "supp_acctbal"))
    return (
        cb.join(sb, cb["c_nationkey"] == sb["s_nationkey"], "full_outer")
        .withColumn(
            "nationkey", F.coalesce("c_nationkey", "s_nationkey")
        )
        .join(F.broadcast(n), F.col("nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.coalesce("cust_acctbal", F.lit(0.0)).alias("cust_acctbal"),
            F.coalesce("supp_acctbal", F.lit(0.0)).alias("supp_acctbal"),
        )
        .orderBy("n_name")
    )


def avg_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple agg + HAVING: segment account-balance profile."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") > 0)
        .groupBy("c_mktsegment")
        .agg(
            davg("c_acctbal", "avg_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .filter(F.col("n_customers") > 5)
        .orderBy("c_mktsegment")
    )


# -- round-2 additions: the remaining TPC-H query shapes -------------------
# The driver schema has no partsupp table and lineitem carries no
# commitdate/receiptdate/shipmode, so Q2/Q9/Q11/Q20/Q12/Q21 are ADAPTED
# shapes: same operator skeleton (correlated-subquery decorrelation,
# nested aggregates, global-threshold HAVING, multi-exists blame), with
# the part-supplier offer relation derived from lineitem and lateness
# derived from shipdate vs orderdate.


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-cost supplier per part (correlated subquery
    → decorrelated min-per-group + join-back).

    The offer relation (part, supplier, unit_cost) is derived from
    lineitem (no partsupp in the driver schema): unit_cost = the
    cheapest observed l_extendedprice/l_quantity. Spark-first: one
    (partkey, suppkey) aggregate shuffle builds offers; part/supplier/
    nation/region are all broadcast; the per-part argmin is a window
    row_number on the partkey shuffle — no self-join against a MIN
    subquery, which is how the SQL form decorrelates anyway.

    Cross-engine parity: unit cost is an IEEE double division (exact on
    both engines) and the argmin ordering tie-breaks on s_suppkey.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # input contract made total (round 11): unit cost is defined only
    # for positive quantities — a zero-quantity line has no observable
    # per-unit price and is excluded on BOTH engines instead of
    # erroring (ANSI DIVIDE_BY_ZERO) out-of-domain
    offers = (
        l.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("unit_cost")
        )
    )
    sup = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey").orderBy("unit_cost", "s_suppkey")
    return (
        offers.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            stable_round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year).

    Supply cost is synthesized as 60% of p_retailprice (no partsupp
    table): profit = rev − 0.6·p_retailprice·l_quantity over parts whose
    name contains 'red'. Plan: lineitem joins broadcast part+supplier,
    one fact-fact shuffle against orders for the year, broadcast nation;
    single decimal-stable aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q11_FRACTION = 0.001
Q11_NATION = "NATION_3"


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: global-threshold HAVING — parts whose traded
    value through one nation's suppliers exceeds a fraction of that
    nation's total.

    Spark-first: the scoped lineitem projection is computed ONCE, fed
    to both the per-part aggregate and the 1-row total, and the total
    joins back as a broadcast scalar (no second scan thanks to
    exchange/scan reuse; never a driver collect). Threshold compare is
    double-on-decimal — both engines derive identical decimals first."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    scoped = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", "l_extendedprice")
    )
    per_part = bounded_cache(
        # referenced from both the threshold filter and the total
        # subtree — persist, and derive the total from the per-part
        # decimal sums (exact, associative) so the lineitem scan + agg
        # run once; Catalyst does not reuse a scan across two
        # independent aggregates of the same subtree
        "q11.per_part",
        scoped.groupBy("l_partkey").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias(
                "value_dec"
            )
        ),
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.lit(Q11_FRACTION) * F.col("total_dec").cast("double")
        )
        .select(
            "l_partkey",
            F.round("value_dec", 4).cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def q12_late_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: two-category conditional counts per group
    (adapted: returnflag stands in for the missing shipmode; late =
    shipped >60 days after the order date)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    # coalesce: a NULL priority counts as low on BOTH engines (bare
    # `isin` is NULL for NULL input → Spark's otherwise() would count it
    # low while SQL's NOT IN counts it as neither — pin one semantics)
    high = F.coalesce(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(False)
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + MAX join-back (the view is the
    shared subplan; the scalar max broadcasts, no driver collect).
    Equality on the decimal-rounded revenue is cross-engine exact."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = bounded_cache(
        # referenced from both the join side and the MAX subtree —
        # without a persist Catalyst computes the lineitem agg twice
        "q15.revenue",
        l.groupBy("l_suppkey").agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "total_revenue",
            )
        ),
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q20_SHARE = 0.45
Q20_NATION = "NATION_7"


def q20_excess_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested-aggregate semi-join — suppliers in one
    nation who dominated some part's 1997 volume (supplier's shipped
    quantity > 45% of the part's total).

    Spark-first decorrelation: one (partkey, suppkey) aggregate, a
    per-part total via a second aggregate on the SAME shuffled
    projection, broadcast join-back, threshold filter, then a distinct
    semi-join into the supplier dim. No correlated per-row subquery
    ever executes."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q20_NATION)
    per_ps = bounded_cache(
        # joined against its own rollup below — persist or the lineitem
        # scan+agg runs twice
        "q20.per_ps",
        l.groupBy("l_partkey", "l_suppkey").agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("qty_dec")
        ),
    )
    per_part = per_ps.groupBy("l_partkey").agg(
        F.sum("qty_dec").alias("part_qty_dec")
    )
    dominant = (
        per_ps.join(per_part, "l_partkey")
        .filter(
            F.col("qty_dec").cast("double")
            > F.lit(Q20_SHARE) * F.col("part_qty_dec").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the multi-EXISTS blame query — for multi-supplier
    orders, the supplier who alone shipped last (adapted lateness: max
    shipdate within the order; no receipt/commit dates in the schema).

    Spark-first: both EXISTS and NOT-EXISTS collapse into ONE window
    pass — after a (orderkey, suppkey) max-shipdate aggregate, a single
    orderkey-partitioned Window yields the order max, the supplier
    count, and how many suppliers hit the max; blame = sole latest in a
    ≥2-supplier order. Two shuffles total, no self-joins."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # partition on l_orderkey ALONE: hashpartitioning(orderkey) satisfies
    # both the (orderkey, suppkey) aggregate's clustering and the window's
    # — one shuffle instead of two (pair-agg exchange + window exchange),
    # and the pair agg barely reduces rows anyway (suppliers rarely repeat
    # within an order), so shuffling pre-agg rows costs the same bytes.
    per_os = (
        l.select("l_orderkey", "l_suppkey", "l_shipdate")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("s_max"))
    )
    w = Window.partitionBy("l_orderkey")
    blamed = (
        per_os.withColumn("o_max", F.max("s_max").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_latest",
            F.sum(F.when(F.col("s_max") == F.col("o_max"), 1).otherwise(0)).over(w),
        )
        .filter(
            (F.col("s_max") == F.col("o_max"))
            & (F.col("n_supp") >= 2)
            & (F.col("n_latest") == 1)
        )
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


COP_MIN_SUPPORT = 2


def _copurchase_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE distinct (order, part) basket grid — the shared base of the
    four part-graph queries (co-purchase, rules, PageRank, triangles).
    bounded_cache'd so one sequential run of the family pays the
    lineitem distinct exactly once."""
    l = load_table(spark, sf_dir, "lineitem")
    return bounded_cache(
        "copurchase.grid", l.select("l_orderkey", "l_partkey").distinct()
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase pair counts (part_a < part_b, n_orders):
    the one basket self-join, cached and shared. Pair volume is
    Σ C(parts_per_order, 2) — bounded by basket width, never |parts|²;
    a hot giant basket is the one skew risk and would salt exactly
    like functions.skew.salted_agg."""
    grid = _copurchase_grid(spark, sf_dir)
    a = grid.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = grid.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return bounded_cache(
        "copurchase.pairs",
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders")),
    )


def part_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in at
    least {s} orders (the support-counting pass of association-rule /
    frequent-itemset mining, run basket = order).

    Spark-first: reduce to the DISTINCT (order, part) grid, self-join
    within the order key, one count aggregate on the pair key, support
    filter — all via the shared cached `_copurchase_pairs` (see there
    for the cost model), so the whole part-graph family pays the grid
    join once."""
    return (
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_orders") >= COP_MIN_SUPPORT)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
    )


part_copurchase.__doc__ = part_copurchase.__doc__.format(s=COP_MIN_SUPPORT)


RULE_MIN_SUPPORT = 2


def part_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for every DIRECTED part
    pair a→b co-occurring in ≥ {s} orders, support, confidence
    P(b|a) = n_ab / n_a and lift = P(b|a) / P(b) — the rule-mining
    pass that turns part_copurchase's support counts into ranked
    recommendations.

    Spark-first: DIRECTED pair counts are two projections of the shared
    cached undirected `_copurchase_pairs` table (no second basket
    self-join); antecedent counts and the basket total join back as
    BROADCAST aggregates of the shared grid. Lift stays log-free and in
    exact-in-double integer arithmetic, so the value hash is
    engine-stable."""
    grid = _copurchase_grid(spark, sf_dir)
    n_baskets = F.broadcast(
        grid.select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    item = grid.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    und = _copurchase_pairs(spark, sf_dir).filter(
        F.col("n_orders") >= RULE_MIN_SUPPORT
    )
    pairs = und.select(
        "part_a", "part_b", F.col("n_orders").alias("n_both")
    ).unionByName(
        und.select(
            F.col("part_b").alias("part_a"),
            F.col("part_a").alias("part_b"),
            F.col("n_orders").alias("n_both"),
        )
    )
    return (
        pairs.join(
            F.broadcast(
                item.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("n_item").alias("n_a"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                item.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("n_item").alias("n_b"),
                )
            ),
            "part_b",
        )
        .crossJoin(n_baskets)
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            stable_round(
                F.col("n_both").cast("double") / F.col("n_a").cast("double"),
                6,
            ).alias("confidence"),
            stable_round(
                F.col("n_both").cast("double")
                * F.col("n_baskets").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(100)
    )


part_basket_rules.__doc__ = part_basket_rules.__doc__.format(
    s=RULE_MIN_SUPPORT
)


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph ({i} fixed power
    iterations, damping {d}): which parts sit at the center of the
    basket graph — the canonical iterative-graph workload expressed as
    pure DataFrame joins (the PageRank loop of GraphX/Pregel, redone
    Spark-SQL-first so Catalyst plans every step).

    The out-degree and the node count are joined onto the symmetric
    edge list ONCE, into one cached weighted-edge table. Each iteration
    is then ONE equi-join (weighted edges ⋈ ranks on src) + ONE
    groupBy(dst) — contributions sum in DECIMAL(38,18) so the reduce
    order can't drift the hash cross-engine, and the node count rides
    through the same aggregate as max(n_nodes), so no per-iteration
    join re-attaches it. The first iteration skips the join: every
    node starts at 1/n_nodes. The undirected edge set means no
    dangling mass and every node is some edge's dst. The driver never
    sees data. At 100 TB the edge table would be bucketed by src so
    every iteration reuses one partitioning (zero extra Exchange per
    step — same layout trick as sources/layout.py bucketing)."""
    def build() -> DataFrame:
        und = _copurchase_pairs(spark, sf_dir)
        edges = und.select(
            F.col("part_a").alias("src"), F.col("part_b").alias("dst")
        ).unionByName(
            und.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # the edge set is symmetric, so deg has exactly one row per node
        n_nodes = F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
        wedges = bounded_cache(
            "pagerank.edges", edges.join(deg, "src").crossJoin(n_nodes)
        )
        # every node starts at rank 1/n_nodes, so the first iteration's
        # contributions need no join
        contribs = wedges.withColumn(
            "rank", F.lit(1.0) / F.col("n_nodes").cast("double")
        )
        d = float(PAGERANK_DAMPING)
        for i in range(PAGERANK_ITERS):
            if i:
                contribs = wedges.join(ranks, wedges["src"] == ranks["node"])
            ranks = (
                contribs.groupBy("dst")
                .agg(
                    F.sum(
                        (F.col("rank") / F.col("deg").cast("double")).cast(
                            "decimal(38,18)"
                        )
                    )
                    .cast("double")
                    .alias("in_mass"),
                    F.max("n_nodes").alias("n_nodes"),
                )
                .select(
                    F.col("dst").alias("node"),
                    (
                        F.lit(1.0 - d) / F.col("n_nodes").cast("double")
                        + F.lit(d) * F.col("in_mass")
                    ).alias("rank"),
                )
            )
        return ranks

    # iteratively derived -> lineage-truncated (same discipline as the
    # Lloyd-trained centroids; kills the O(rounds) re-analysis of every
    # downstream operation)
    ranks = build().localCheckpoint()
    return (
        ranks.select("node", stable_round("rank", 9).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
        .limit(50)
    )


part_pagerank.__doc__ = part_pagerank.__doc__.format(
    i=PAGERANK_ITERS, d=PAGERANK_DAMPING
)


RFM_TILES = 4


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since the customer's
    last order, vs the corpus max date), frequency (order count),
    monetary (decimal-stable total spend), each scored into {t}
    NTILE buckets — the classic marketing/value segmentation every
    warehouse ships.

    One groupBy(o_custkey) pass builds all three signals; the corpus
    reference date rides as a broadcast 1-row aggregate. Scores follow
    the convention that 1 = best (most recent / most frequent /
    highest spend).

    Round-4 scale fix: the r3 plan ran three single-partition NTILE
    windows over the customer aggregate — fine to ~10⁸ customers, a
    one-reducer sort beyond. Each score is now an exact two-phase rank
    (functions/distributed.global_rank: approx-percentile coarse
    buckets + per-bucket windows + broadcast prefix offsets) fed into
    the equal-mass split score = (t·(rank−1)) div n + 1, which both
    engines replay exactly over the total (signal, custkey) order.
    DESC signals rank by their negation; the cached per_cust aggregate
    absorbs the three sketch passes."""
    o = load_table(spark, sf_dir, "orders")
    ref = F.broadcast(o.agg(F.max("o_orderdate").alias("ref_date")))
    per_cust = bounded_cache(
        "rfm.per_cust",
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", "monetary"),
        )
        .crossJoin(ref)
        .select(
            "o_custkey",
            F.datediff(F.col("ref_date"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        ),
    )
    n_df = F.broadcast(per_cust.agg(F.count(F.lit(1)).alias("_n")))
    # rank each signal INDEPENDENTLY from the cached aggregate and join
    # the three skinny (custkey, rank) frames back — chaining the ranks
    # would make every later sketch pass re-execute the earlier rank
    # machinery (measured 4.1 s vs 1.3 s at sf0.1). All three
    # percentile sketches batch into ONE aggregation job; the bounds
    # feed global_rank as literals.
    from big_data_parallel_computing_hw2_spark.functions.distributed import (
        DEFAULT_COARSE,
        SKETCH_ACCURACY,
    )

    fracs = [i / DEFAULT_COARSE for i in range(1, DEFAULT_COARSE)]
    # balance-only boundary sketch: any bounds yield identical
    # ranks/scores
    sk = per_cust.agg(
        *[
            F.percentile_approx(
                c.cast("double"), fracs, SKETCH_ACCURACY
            ).alias(a)
            for c, a in (
                (F.col("recency_days"), "br"),
                (-F.col("frequency"), "bf"),
                (-F.col("monetary"), "bm"),
            )
        ]
    ).collect()[0]
    r_r = global_rank(
        per_cust.select("o_custkey", "recency_days"),
        ["recency_days", "o_custkey"],
        out="_rr",
        bounds=sk["br"],
    ).select("o_custkey", "_rr")
    r_f = global_rank(
        per_cust.select(
            "o_custkey", (-F.col("frequency")).alias("_negf")
        ),
        ["_negf", "o_custkey"],
        out="_rf",
        bounds=sk["bf"],
    ).select("o_custkey", "_rf")
    r_m = global_rank(
        per_cust.select(
            "o_custkey", (-F.col("monetary")).alias("_negm")
        ),
        ["_negm", "o_custkey"],
        out="_rm",
        bounds=sk["bm"],
    ).select("o_custkey", "_rm")
    ranked = (
        per_cust.join(r_r, "o_custkey")
        .join(r_f, "o_custkey")
        .join(r_m, "o_custkey")
    )
    t = RFM_TILES

    def score(rank_col: str) -> F.Column:
        return (
            F.expr(f"({t} * ({rank_col} - 1)) div _n").cast("int") + 1
        )

    return (
        ranked.crossJoin(n_df)
        .withColumn("r_score", score("_rr"))
        .withColumn("f_score", score("_rf"))
        .withColumn("m_score", score("_rm"))
        .drop("_rr", "_rf", "_rm", "_n")
        .withColumn(
            "segment",
            F.concat_ws(
                "",
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ),
        )
        .orderBy("o_custkey")
    )


customer_rfm.__doc__ = customer_rfm.__doc__.format(t=RFM_TILES)


TRI_MIN_SUPPORT = 2
TRI_TOP_K = 50


def part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation in the part co-purchase graph: for the
    support-≥{s} edge set, how many triangles each part closes — the
    clustering/community signal (dense triangles = product families)
    and the canonical "joins as graph algorithm" workload after
    PageRank.

    Spark-first triangle enumeration: orient every edge low→high, then
    ONE self-join on the middle vertex (wedges a<b<c) and one
    membership semi-join against the oriented edge table closes each
    triangle exactly once. Cost ∝ Σ_v deg(v)² on the SUPPORT-FILTERED
    graph (the cap keeps hub degrees bounded — same Σdf² discipline as
    the shingle join); per-node counts come from exploding each
    triangle's 3 members, tiny."""
    edges = bounded_cache(
        "triangles.edges",
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select(F.col("part_a").alias("u"), F.col("part_b").alias("v")),
    )
    wedges = edges.alias("e1").join(
        edges.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    tri = wedges.join(
        edges,
        (F.col("x") == F.col("u")) & (F.col("z") == F.col("v")),
    ).select("x", "y", "z")
    member = tri.select(F.explode(F.array("x", "y", "z")).alias("part"))
    return (
        member.groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "part")
        .limit(TRI_TOP_K)
    )


part_triangles.__doc__ = part_triangles.__doc__.format(s=TRI_MIN_SUPPORT)


# (column, kind) pairs for the orders profile; kind picks the
# engine-stable min/max string rendering (decimal-scaled doubles,
# second-truncated timestamps) so the hash can't drift on float/ts
# formatting differences.
ORDERS_PROFILE_COLS = [
    ("o_orderkey", "long"),
    ("o_custkey", "long"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass over `orders`: per column, row/null/distinct
    counts and min/max — the schema-QA report a pipeline runs on every
    new drop before anything joins against it.

    One independent single-column aggregate per column, unioned —
    measured ~5× faster than the one-pass multi-countDistinct
    formulation: N distincts in one agg force Catalyst's Expand (×N+1
    row blowup through the shuffle) AND degrade the aggregate to
    sort-based, while each single-distinct agg stays a two-phase hash
    aggregate. On columnar storage the scan cost is IDENTICAL — six
    one-column parquet scans read the same bytes as one six-column
    scan — so this is also the right 100 TB shape. The exact
    countDistincts swap for approx_count_distinct (HLL) at extreme
    cardinality — exact kept here for the oracle gate."""
    o = load_table(spark, sf_dir, "orders")

    def min_max(c: str, kind: str):
        lo, hi = F.min(c), F.max(c)
        if kind == "double":
            return (
                lo.cast("decimal(38,4)").cast("string"),
                hi.cast("decimal(38,4)").cast("string"),
            )
        if kind == "timestamp":
            fmt = "yyyy-MM-dd HH:mm:ss"
            return F.date_format(lo, fmt), F.date_format(hi, fmt)
        return lo.cast("string"), hi.cast("string")

    parts = []
    for c, kind in ORDERS_PROFILE_COLS:
        lo, hi = min_max(c, kind)
        parts.append(
            o.select(c).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                lo.alias("min_str"),
                hi.alias("max_str"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.orderBy("col_name")


def sql_orders_profile() -> str:
    """DuckDB mirror of orders_profile (same single-aggregate shape,
    UNION ALL per column for the report rows)."""
    rows = []
    for c, kind in ORDERS_PROFILE_COLS:
        if kind == "double":
            lo = f"CAST(CAST(MIN({c}) AS DECIMAL(38,4)) AS VARCHAR)"
            hi = f"CAST(CAST(MAX({c}) AS DECIMAL(38,4)) AS VARCHAR)"
        elif kind == "timestamp":
            lo = f"strftime(CAST(MIN({c}) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')"
            hi = f"strftime(CAST(MAX({c}) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')"
        else:
            lo, hi = f"CAST(MIN({c}) AS VARCHAR)", f"CAST(MAX({c}) AS VARCHAR)"
        rows.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,"
            f" COUNT(*) - COUNT({c}) AS n_nulls,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" {lo} AS min_str, {hi} AS max_str FROM orders"
        )
    union = "\n    UNION ALL ".join(rows)
    return f"SELECT * FROM ({union}) ORDER BY col_name"


PARETO_SHARE = 0.8


def supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC analysis of suppliers: revenue-ranked cumulative
    share, flagging the head that covers {p:.0%} of total revenue —
    the concentration report behind vendor consolidation and the
    dual of q15_top_supplier's single max.

    One lineitem aggregate (the only big shuffle) → supplier-sized
    frame; the running share stays DECIMAL(38,6) so the prefix sums
    are order-exact, and total revenue rides as a broadcast 1-row
    aggregate. Round-5 scale fix: the ranked cumulative sum is no
    longer a single-partition window — suppliers grow linearly with
    data, so functions/distributed.running_sum does the two-phase
    prefix sum (revenue-range coarse buckets from an approx-percentile
    sketch, per-bucket local running sums, broadcast prefix offsets).
    Exact: (-revenue, l_suppkey) is a total order, so the result
    equals the DESC single-window formulation the oracle states."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # cache the skinny supplier aggregate — running_sum evaluates its
    # input three times (sketch, per-bucket partials, final join)
    rev = bounded_cache(
        "pareto.rev",
        l.groupBy("l_suppkey")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        # ascending coarse/order key ≡ revenue DESC for the sweep
        .withColumn("_neg", -F.col("revenue"))
        .withColumn("_rev_d", F.col("revenue").cast("decimal(38,6)")),
    )
    total = F.broadcast(
        rev.agg(
            F.sum(F.col("revenue").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_rev")
        )
    )
    ranked = (
        running_sum(
            rev,
            "_rev_d",
            ["_neg", "l_suppkey"],
            coarse_key="_neg",
            out="_cum",
        )
        .crossJoin(total)
        .withColumn("cum_rev", F.col("_cum").cast("double"))
        .withColumn(
            "cum_share",
            stable_round(F.col("cum_rev") / F.col("total_rev"), 6),
        )
        .drop("_neg", "_rev_d", "_cum")
    )
    return (
        ranked.join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "revenue",
            "cum_share",
            (F.col("cum_share") <= F.lit(PARETO_SHARE)).alias("in_core"),
        )
        .orderBy(F.desc("revenue"), "s_suppkey")
    )


supplier_pareto.__doc__ = supplier_pareto.__doc__.format(p=PARETO_SHARE)


SIM_MIN_SUPPORT = 2
SIM_TOP_K = 100


def part_similarity_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item similarity over baskets: cosine n_ab / √(n_a·n_b) on
    the binary part-order incidence vectors — the collaborative-
    filtering "substitutes/complements" primitive (item2vec's count
    baseline), top-{k} pairs with support ≥ {s}.

    Everything derives from the SAME cached co-purchase tables the
    graph family shares: pair counts from `_copurchase_pairs`, item
    frequencies as a broadcast aggregate of `_copurchase_grid` — zero
    new event-sized shuffles. Cosine stays in exact-in-double integer
    arithmetic (sqrt of an exact product), hash-stable cross-engine."""
    item = F.broadcast(
        _copurchase_grid(spark, sf_dir)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pairs = _copurchase_pairs(spark, sf_dir).filter(
        F.col("n_orders") >= SIM_MIN_SUPPORT
    )
    return (
        pairs.join(
            item.select(
                F.col("l_partkey").alias("part_a"),
                F.col("n_item").alias("n_a"),
            ),
            "part_a",
        )
        .join(
            item.select(
                F.col("l_partkey").alias("part_b"),
                F.col("n_item").alias("n_b"),
            ),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            F.col("n_orders").alias("n_both"),
            "n_a",
            "n_b",
            stable_round(
                F.col("n_orders").cast("double")
                / F.sqrt(
                    F.col("n_a").cast("double") * F.col("n_b").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "part_a", "part_b")
        .limit(SIM_TOP_K)
    )


part_similarity_cosine.__doc__ = part_similarity_cosine.__doc__.format(
    k=SIM_TOP_K, s=SIM_MIN_SUPPORT
)


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the non-hierarchical multi-level aggregate that
    completes the ROLLUP (hierarchy) / CUBE (full lattice) / PIVOT
    (matrix) family: exactly three chosen levels in ONE pass —
    (status), (priority), (status, priority) — with grouping_id
    disambiguating the NULL-as-total rows.

    Spark computes all sets in a single Expand + one shuffle (same
    engine machinery as rollup/cube, user-chosen lattice points)."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    )
    return (
        g.agg(
            # int, matching the oracle's CAST(GROUPING(...) AS INT)
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


# -- round-4 additions ------------------------------------------------------

KHOP_MIN_SUPPORT = 2


def part_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood size per part over the co-purchase graph
    (edges = undirected pairs with support >= {s}): n_1hop direct
    neighbors and n_2hop = distinct parts reachable in <= 2 hops
    (self excluded) — the BFS-frontier expansion primitive of
    distributed graph traversal, unrolled two levels.

    Spark-first: both hops are equi-joins on the shared cached
    `_copurchase_pairs` table; the 2-hop frontier is edges ⋈ edges on
    the middle vertex then one distinct — no iteration state, no
    driver loop. At 100 TB the 2-hop blowup is bounded by Σ deg(v)²
    on a support-thresholded (hence sparse) graph; a hub vertex is
    the classic skew key and AQE's skew-join split handles exactly
    that shape."""
    und = _copurchase_pairs(spark, sf_dir).filter(
        F.col("n_orders") >= KHOP_MIN_SUPPORT
    )
    edges = bounded_cache(
        "khop.edges",
        und.select(
            F.col("part_a").alias("src"), F.col("part_b").alias("dst")
        ).unionByName(
            und.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
        ),
    )
    one = edges.groupBy("src").agg(F.countDistinct("dst").alias("n_1hop"))
    hop2 = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            F.col("e1.dst") == F.col("e2.src"),
        )
        .select(F.col("e1.src").alias("src"), F.col("e2.dst").alias("reach"))
        .unionByName(edges.select("src", F.col("dst").alias("reach")))
        .filter(F.col("src") != F.col("reach"))
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_2hop"))
    )
    return (
        one.join(hop2, "src")
        .select(
            F.col("src").alias("p_partkey"),
            F.col("n_1hop").cast("int").alias("n_1hop"),
            F.col("n_2hop").cast("int").alias("n_2hop"),
        )
        .orderBy("p_partkey")
    )


part_khop.__doc__ = part_khop.__doc__.format(s=KHOP_MIN_SUPPORT)


def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) operator: parts not dominated on
    (minimize p_retailprice, maximize p_size). q dominates p iff
    q.price <= p.price AND q.size >= p.size with at least one strict.

    Spark-first, no O(n²) dominance join: reduce to per-price max
    sizes (one groupBy), take the running max over STRICTLY cheaper
    price groups (one window over the price-group table — tiny vs the
    part table), broadcast-join back, and keep parts that (a) hit
    their own price group's max size and (b) strictly exceed every
    cheaper group's max. Equal (price, size) ties survive together —
    neither dominates. The same sweep logic is how a 100 TB skyline
    runs: the group table is |distinct prices| and the window is one
    skinny sort."""
    p = load_table(spark, sf_dir, "part")
    by_price = p.groupBy("p_retailprice").agg(
        F.max("p_size").alias("grp_max_size")
    )
    w = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = by_price.withColumn(
        "cheaper_max_size", F.max("grp_max_size").over(w)
    )
    return (
        p.join(F.broadcast(frontier), "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("grp_max_size"))
            & (
                F.col("cheaper_max_size").isNull()
                | (F.col("p_size") > F.col("cheaper_max_size"))
            )
        )
        .select(
            "p_partkey",
            "p_name",
            stable_round(F.col("p_retailprice"), 2).alias("price"),
            F.col("p_size").cast("int").alias("size"),
        )
        .orderBy("price", "p_partkey")
    )


UNPIVOT_STATUSES = ("F", "O", "P")


def orders_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (UNPIVOT/melt): per-priority order counts are
    first pivoted into one column per order status (the reporting-wide
    shape), then unpivoted back to (priority, status, n_orders) rows
    with Spark's native ``unpivot`` — the inverse of `pivot_status_
    priority` and the missing half of the reshape surface.

    The wide aggregate is one groupBy with conditional sums (map-side
    partials, no Expand), and unpivot is a zero-shuffle projection."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        *[
            F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))
            .cast("bigint")
            .alias(f"status_{s}")
            for s in UNPIVOT_STATUSES
        ]
    )
    return (
        wide.unpivot(
            ["o_orderpriority"],
            [f"status_{s}" for s in UNPIVOT_STATUSES],
            "status",
            "n_orders",
        )
        .withColumn("status", F.expr("substring(status, 8)"))
        .orderBy("o_orderpriority", "status")
    )


# -- Apriori level-3 frequent itemsets (round 3) -----------------------------

ITEMSET3_TOP = 100


def part_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (Apriori level 3,
    Agrawal & Srikant '94): part triples bought together in >= {s}
    orders — the level past part_copurchase's pairs, with the
    LEVEL-WISE PRUNE that makes Apriori scale: a triple enumerated in
    a basket reaches the count shuffle only if ALL THREE of its
    sub-pairs are already frequent (support monotonicity: an
    infrequent sub-pair bounds the triple below min-support, so the
    prune is lossless by construction — both engines replay it).

    Shuffle profile: reuses the shared cached grid + pair tables; the
    triple enumeration is two within-order self-joins over the grid
    RESTRICTED to frequent-pair members (broadcast semi-join), the
    prune is three broadcast semi-joins against the (small) frequent
    pair list, then ONE count agg on the triple key. Triple volume is
    Σ C(pruned_width, 3) per basket — basket-width-bounded, never
    |parts|³."""
    fp = bounded_cache(
        "itemsets3.fp",
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_orders") >= COP_MIN_SUPPORT)
        .select("part_a", "part_b"),
    )
    fitems = (
        fp.select(F.col("part_a").alias("l_partkey"))
        .unionByName(fp.select(F.col("part_b").alias("l_partkey")))
        .distinct()
    )
    g = _copurchase_grid(spark, sf_dir).join(
        F.broadcast(fitems), "l_partkey"
    )
    a = g.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = g.select("l_orderkey", F.col("l_partkey").alias("pb"))
    c = g.select("l_orderkey", F.col("l_partkey").alias("pc"))
    triples = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .join(c, "l_orderkey")
        .filter(F.col("pb") < F.col("pc"))
    )
    pruned = (
        triples.join(
            F.broadcast(fp),
            (F.col("pa") == F.col("part_a")) & (F.col("pb") == F.col("part_b")),
            "left_semi",
        )
        .join(
            F.broadcast(fp),
            (F.col("pa") == F.col("part_a")) & (F.col("pc") == F.col("part_b")),
            "left_semi",
        )
        .join(
            F.broadcast(fp),
            (F.col("pb") == F.col("part_a")) & (F.col("pc") == F.col("part_b")),
            "left_semi",
        )
    )
    return (
        pruned.groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= COP_MIN_SUPPORT)
        .orderBy(F.desc("n_orders"), "pa", "pb", "pc")
        .limit(ITEMSET3_TOP)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("pc").alias("part_c"),
            "n_orders",
        )
    )


part_itemsets3.__doc__ = part_itemsets3.__doc__.format(s=COP_MIN_SUPPORT)


def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix over orders (the transactional twin
    of events_retention): customers cohorted by FIRST-order year; per
    (cohort_year, order_year) the active-customer count, revenue, and
    the running cumulative revenue per cohort member — the LTV curve a
    growth report plots per acquisition cohort.

    Shuffle profile: one custkey agg for the cohort assignment, one
    join-back, one (cohort, year) agg, then a window cumsum over the
    TINY cohort×year matrix. Revenue stays DECIMAL through the cumsum
    and rounds once at the end, so accumulation order never shows."""
    o = load_table(spark, sf_dir, "orders")
    cohort = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    sizes = cohort.groupBy("cohort_year").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    cells = (
        o.join(cohort, "o_custkey")
        .groupBy("cohort_year", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(dec(F.col("o_totalprice"))).alias("__rev"),
        )
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("order_year")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn("__cum", F.sum("__rev").over(w))
        .join(F.broadcast(sizes), "cohort_year")
        .select(
            "cohort_year",
            "order_year",
            "cohort_size",
            "n_active",
            stable_round(F.col("__rev").cast("double"), 2).alias("revenue"),
            stable_round(
                F.col("__cum").cast("double")
                / F.col("cohort_size").cast("double"),
                4,
            ).alias("cum_revenue_per_customer"),
        )
        .orderBy("cohort_year", "order_year")
    )


# -- ABC x XYZ classification matrix (round 3) --------------------------------

ABC_A = 0.8  # cumulative revenue share bounds
ABC_B = 0.95
XYZ_X = 0.5  # monthly-demand CV bounds
XYZ_Y = 1.0


def part_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC x XYZ inventory classification matrix — the planning
    segmentation that crosses VALUE concentration (A/B/C by
    cumulative revenue share: {a:.0%}/{b:.0%} bounds, supplier_pareto's
    method applied per part) with DEMAND VOLATILITY (X/Y/Z by the
    coefficient of variation of monthly shipped quantity: CV < {x} /
    < {y} / else). Emits the 9-cell matrix with part counts and
    revenue share per cell — the table an inventory planner reads to
    decide forecast-vs-buffer strategy per segment.

    Shuffle profile: ONE lineitem aggregate on (part, month) feeds
    both axes (monthly CV by algebraic decimal sums, part revenue by
    rollup of the same frame — no second corpus scan); the ranked
    cumulative sum is the two-phase distributed.running_sum over the
    PART aggregate (round-5 scale fix — parts grow linearly with
    data, so no single-partition window; exact vs the oracle's DESC
    window because (-revenue, l_partkey) is a total order); the final
    matrix agg is 9 rows."""
    l = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    monthly = bounded_cache(
        "abcxyz.monthly",
        l.groupBy(
            "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
        ).agg(
            F.sum(dec(F.col("l_quantity"))).alias("qty"),
            F.sum(
                dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("rev"),
        ),
    )
    # cache the skinny part aggregate — running_sum evaluates its
    # input three times (sketch, per-bucket partials, final join)
    per_part = bounded_cache(
        "abcxyz.per_part",
        monthly.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.sum(dec(F.col("qty"))).alias("sq"),
            F.sum(dec(F.col("qty") * F.col("qty"))).alias("sq2"),
            F.sum(dec(F.col("rev"))).cast("double").alias("revenue"),
        )
        # ascending coarse/order key ≡ revenue DESC for the sweep
        .withColumn("_neg", -F.col("revenue"))
        .withColumn("_rev_d", F.col("revenue").cast("decimal(38,6)")),
    )
    n = F.col("n_months").cast("double")
    mu = F.col("sq").cast("double") / n
    var = F.col("sq2").cast("double") / n - mu * mu
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / mu
    xyz = (
        F.when(cv < XYZ_X, F.lit("X"))
        .when(cv < XYZ_Y, F.lit("Y"))
        .otherwise(F.lit("Z"))
    )
    total = F.broadcast(
        per_part.agg(
            F.sum(dec(F.col("revenue"))).cast("double").alias("total_rev")
        )
    )
    classed = (
        running_sum(
            per_part,
            "_rev_d",
            ["_neg", "l_partkey"],
            coarse_key="_neg",
            out="_cum",
        )
        .crossJoin(total)
        .withColumn(
            "cum_share",
            stable_round(
                F.col("_cum").cast("double") / F.col("total_rev"), 6
            ),
        )
        .drop("_neg", "_rev_d", "_cum")
        .withColumn(
            "abc",
            F.when(F.col("cum_share") <= ABC_A, F.lit("A"))
            .when(F.col("cum_share") <= ABC_B, F.lit("B"))
            .otherwise(F.lit("C")),
        )
        .withColumn("xyz", xyz)
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            stable_round(
                F.sum(dec(F.col("revenue"))).cast("double")
                / F.first("total_rev"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc", "xyz")
    )


part_abc_xyz.__doc__ = part_abc_xyz.__doc__.format(
    a=ABC_A, b=ABC_B, x=XYZ_X, y=XYZ_Y
)


# -- substitute-part detection (round 4) ------------------------------------

SUB_MIN_CUST = 3
SUB_TOP = 50


def _parquet_rows(sf_dir: str, name: str) -> int | None:
    """Exact table row count from parquet FOOTER metadata — no Spark
    job, no data IO (what a catalog's table statistics would answer at
    100 TB). Handles both the single-file testdata layout and the
    multi-part directory layout the sf1 replica writes. None when the
    path isn't local parquet (caller falls back to a safe cap)."""
    import glob as _glob

    import pyarrow.parquet as _papq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    try:
        return sum(_papq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def part_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitute detection — the complement of part_copurchase: part
    pairs bought by ≥{m} of the SAME customers yet never appearing in
    the same order (shared demand without co-consumption — the classic
    substitutes-vs-complements split of basket analytics), flagged
    with whether the two parts share a p_type (same-type substitutes
    are the actionable ones).

    Spark-first: the DISTINCT (customer, part) grid comes from one
    orders⋈lineitem join (orderkey is the join key, custkey rides
    along); the customer self-join counts shared customers (pair
    volume Σ C(parts_per_customer, 2) — bounded by wallet width, never
    |parts|²; a whale customer would salt like skew.salted_agg); the
    never-co-ordered condition is a LEFT ANTI join against the shared
    cached co-purchase pair table, so the whole part-graph family
    still pays its basket self-join once. Top-{top} with a total-order
    tiebreak.

    Why the sf1 cost (~14 s for the pair agg alone, slope +1.17) is
    inherent at this data shape (round-13 measured writeup): the
    semantics are EXACT per-pair common-customer counts, so every one
    of the Σ C(wallet,2) pairs (131M at sf1 from a 6.0M-row grid)
    must reach a reducer keyed by that pair — the pair-keyed shuffle
    volume IS the query, not an artifact of the plan. The classic
    diets don't apply: min-support pruning on part frequency is
    vacuous (threshold {m} while the median sf1 part sits in ~25
    wallets — nothing prunes); salting addresses reducer-side skew
    the query doesn't have (89.8k of 131M pair keys survive n≥{m},
    i.e. keys are near-singleton — the round-12 diet already removed
    the useless partial agg for exactly this reason); and
    sketch/sampling counts change the answer. TPC-H wallet width is
    tightly bounded (≈25-30 parts), so per-customer pair expansion
    has no whale tail to cap. Same-session A/B (round 13) pinned the
    partition sizing: 90 vs 120 reducers at sf1 differ by <10%,
    within host noise."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cgrid = bounded_cache(
        "substitutes.cgrid",
        l.select("l_orderkey", "l_partkey")
        .join(o.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_partkey")
        .distinct(),
    )
    a = cgrid.select("o_custkey", F.col("l_partkey").alias("part_a"))
    b = cgrid.select("o_custkey", F.col("l_partkey").alias("part_b"))
    # The pair grid is ~wallet_width× bigger than cgrid and its keys
    # are mostly singletons, so a plain groupBy wastes its map-side
    # partial agg building giant hash maps that reduce nothing (and
    # spill). Repartitioning by the pair key first moves the (now
    # no-op) partial agg above the exchange — the shuffle carries raw
    # pairs and each reducer builds ONE hash map (measured 2.1× on
    # the sf1 decade). Partition count is sized to the blown-up
    # intermediate and capped at 4× the session's shuffle partitions
    # so small inputs don't pay task-launch overhead for empty
    # partitions. The size proxy is the lineitem PARQUET FOOTER row
    # count (an upper bound on the distinct grid) — metadata only, so
    # building this DataFrame never runs a Spark job (round-13 advisor
    # fix: the previous cgrid.count() executed the orders⋈lineitem
    # join at plan-construction time, surfacing in plan-only tools).
    base = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    grid_rows = _parquet_rows(sf_dir, "lineitem")
    n_pair_parts = (
        4 * base
        if grid_rows is None
        else min(4 * base, max(base, grid_rows // 50_000))
    )
    common = (
        a.join(b, "o_custkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .repartition(n_pair_parts, "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_common_cust"))
        .filter(F.col("n_common_cust") >= SUB_MIN_CUST)
    )
    co_ordered = _copurchase_pairs(spark, sf_dir).select(
        "part_a", "part_b"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    pa = p.select(
        F.col("p_partkey").alias("part_a"), F.col("p_type").alias("_ta")
    )
    pb = p.select(
        F.col("p_partkey").alias("part_b"), F.col("p_type").alias("_tb")
    )
    return (
        common.join(co_ordered, ["part_a", "part_b"], "left_anti")
        .join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("n_common_cust").cast("bigint").alias("n_common_cust"),
            (F.col("_ta") == F.col("_tb")).alias("same_type"),
        )
        .orderBy(F.desc("n_common_cust"), "part_a", "part_b")
        .limit(SUB_TOP)
    )


part_substitutes.__doc__ = part_substitutes.__doc__.format(
    m=SUB_MIN_CUST, top=SUB_TOP
)


# -- supplier fulfillment lead time (round 4) -------------------------------

FULFILL_LATE_DAYS = 90


def supplier_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier lead-time profile: per supplier, line count, mean and
    p90 order→ship delay in days, and the fraction of lines shipped
    more than {d} days after the order — the logistics SLA table every
    procurement dashboard carries (the driver schema has no
    commit/receipt dates, so order→ship is the fulfillment interval,
    as in the adapted Q12).

    One orderkey shuffle join (orders carries o_orderdate along), one
    supplier-keyed aggregate — exact percentile() per supplier holds
    one supplier's delays in memory (bounded here; approx_percentile
    is the documented 100 TB swap, same family as events_percentiles),
    and the supplier dim broadcasts back for names."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_suppkey", delay.alias("_d"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            stable_round(
                F.sum(dec(F.col("_d"))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_delay_days"),
            stable_round(
                F.expr("percentile(_d, 0.9)"), 6
            ).alias("p90_delay_days"),
            stable_round(
                F.sum(
                    F.when(F.col("_d") > FULFILL_LATE_DAYS, 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("late_frac"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_lines",
            "avg_delay_days",
            "p90_delay_days",
            "late_frac",
        )
        .orderBy("s_suppkey")
    )


supplier_fulfillment.__doc__ = supplier_fulfillment.__doc__.format(
    d=FULFILL_LATE_DAYS
)


def revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue trend with year-over-year growth: month, order
    count, decimal-exact revenue, and revenue / LAG(12 months) − 1 —
    the classic warehouse KPI series (NULL growth for the first year).

    Aggregate-then-analyze: one month groupBy absorbs the orders scan
    map-side; the comparison month comes from a CALENDAR self-join on
    a derived month-minus-12 key (round-5 hardening — a row-offset
    LAG(12) would silently misalign if any month were absent from the
    data; the join keeps YoY anchored to the calendar). The self-join
    runs broadcast over the tiny cached month grid — aggregate-scale,
    not data-scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = bounded_cache(
        "yoy.monthly",
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        ),
    )
    prior = monthly.select(
        F.col("month").alias("_pm"), F.col("revenue").alias("_prev")
    )
    year_ago = F.date_format(
        F.add_months(F.to_date(F.col("month"), "yyyy-MM"), -12), "yyyy-MM"
    )
    prev = F.col("_prev")
    return (
        monthly.join(F.broadcast(prior), year_ago == F.col("_pm"), "left")
        .withColumn(
            "yoy_growth",
            stable_round(
                F.when(
                    prev.isNotNull() & (prev != 0),
                    F.col("revenue") / prev - 1.0,
                ),
                6,
            ),
        )
        .select("month", "n_orders", "revenue", "yoy_growth")
        .orderBy("month")
    )


# -- multivariate column statistics (round 4) -------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def lineitem_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations among the four numeric lineitem
    measures from ONE pass of decimal power sums (n, Σx, Σx², Σxy per
    pair) — the multivariate completion of the ANALYZE-style stats
    family (equidepth histogram, moments): the optimizer/feature-audit
    signal for which measures carry redundant information.

    Single map-side-combined aggregate over the pruned 4-column scan,
    then pure driver-free arithmetic on the 1-row result exploded to
    the 6-pair table via a literal pair spine — no second scan, no
    window, no collect. Round-5 exactness/cost rework: the measures
    are exactly 2-decimal, so each power-sum term becomes an EXACT
    scaled bigint (x·100, products < 2^49) summed as three 17-bit
    limbs — pure long arithmetic in whole-stage codegen, replacing the
    DECIMAL(38,12) sums whose overflow-checked codegen alone cost
    ~4.5 s per plan compile at sf0.1 (measured; limb form ~1.6 s, same
    hash). Limb sums stay in-range to n ≈ 2^45 rows (~5 PB of
    lineitem); beyond that, add a fourth limb. The exact integer sums
    reconstruct losslessly via DECIMAL(38,0) in the final 1-row
    projection (one correctly-rounded cast to double on each side of
    the oracle, so the hash gate stays engine-stable); correlation is
    scale-invariant, so the x·100 scaling cancels."""
    l = load_table(spark, sf_dir, "lineitem")
    limb, m = 17, 1 << 17
    scaled = {
        c: F.round(F.col(c) * 100).cast("bigint") for c in _CORR_COLS
    }
    terms: list[tuple[str, F.Column]] = []
    for c in _CORR_COLS:
        terms.append((f"s_{c}", scaled[c]))
        terms.append((f"ss_{c}", scaled[c] * scaled[c]))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            terms.append((f"sp_{a}_{b}", scaled[a] * scaled[b]))
    aggs = [F.count(F.lit(1)).alias("n")]
    for nm, t in terms:
        for j in range(3):
            aggs.append(
                F.sum(F.shiftright(t, j * limb) % m).alias(f"{nm}__{j}")
            )
    one = l.select(*_CORR_COLS).agg(*aggs)
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    recon = {
        nm: (
            d38(F.col(f"{nm}__2")) * d38(F.lit(1 << (2 * limb)))
            + d38(F.col(f"{nm}__1")) * d38(F.lit(m))
            + d38(F.col(f"{nm}__0"))
        ).cast("double")
        for nm, _ in terms
    }
    n = F.col("n").cast("double")
    structs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            sa, sb = recon[f"s_{a}"] / n, recon[f"s_{b}"] / n
            cov = recon[f"sp_{a}_{b}"] / n - sa * sb
            va = recon[f"ss_{a}"] / n - sa * sa
            vb = recon[f"ss_{b}"] / n - sb * sb
            r = F.when((va > 0) & (vb > 0), cov / F.sqrt(va * vb))
            structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    stable_round(r, 6).alias("pearson_r"),
                )
            )
    return (
        one.select(
            F.col("n").alias("n_rows"),
            F.explode(F.array(*structs)).alias("_p"),
        )
        .select("_p.col_a", "_p.col_b", "n_rows", "_p.pearson_r")
        .orderBy("col_a", "col_b")
    )


# -- calendar seasonality indices (round 5) ---------------------------------


def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality profile: for each month-of-year, the
    average share of its year's revenue that the month captures, and
    the seasonality index (share × 12 — 1.0 = a perfectly flat month)
    — the demand-planning view that separates calendar rhythm from
    trend (the companion of revenue_yoy, which measures trend net of
    this rhythm).

    Aggregate-then-analyze: ONE orders scan groups to (year, month)
    revenue; everything after runs on that ≤ years×12 grid —
    year totals, per-month shares, month-of-year averages. Shares are
    decimal-exact dsum ratios rounded at 6, so both engines hash the
    same profile."""
    o = load_table(spark, sf_dir, "orders")
    ym = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
    ).agg(dsum("o_totalprice", "rev"))
    ytot = ym.groupBy("yr").agg(
        F.sum(F.col("rev").cast("decimal(38,6)"))
        .cast("double")
        .alias("yrev")
    )
    shares = ym.join(F.broadcast(ytot), "yr").withColumn(
        "share", stable_round(F.col("rev") / F.col("yrev"), 6)
    )
    return (
        shares.groupBy("mth")
        .agg(
            F.countDistinct("yr").cast("int").alias("n_years"),
            davg(F.col("share"), "avg_share"),
        )
        .select(
            F.col("mth").alias("month"),
            "n_years",
            "avg_share",
            stable_round(F.col("avg_share") * 12.0, 6).alias(
                "seasonality_idx"
            ),
        )
        .orderBy("month")
    )


# -- per-brand discount elasticity (round 5) --------------------------------


def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS of quantity on discount — closed-form least
    squares (slope, intercept, r²) from five power sums: the "does
    discounting move volume for this brand" regression every pricing
    team runs, and the per-group regression primitive itself (the
    grouped sibling of lineitem_corr's global correlation matrix).

    One lineitem scan + broadcast part join + ONE map-side-combined
    aggregate per brand. Exactness: discount is 2-decimal, so
    x·100 and quantity are exact bigints; the five per-brand power
    sums stay in long arithmetic (in-range to ~10¹⁵ rows per brand —
    far past 100 TB geometry) and DuckDB's HUGEINT sums land on the
    identical integers, so the single cast to double (correctly
    rounded on both engines) and the mirrored IEEE formula hash
    identically. The discount scaling cancels out of r² and is undone
    by literal ×100 / ÷100 factors in slope/intercept."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    xs = F.round(F.col("l_discount") * 100).cast("bigint")
    ys = F.round(F.col("l_quantity")).cast("bigint")
    agg = (
        l.select("l_partkey", xs.alias("xs"), ys.alias("ys"))
        .join(F.broadcast(p.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("xs").alias("sx"),
            F.sum("ys").alias("sy"),
            F.sum(F.col("xs") * F.col("xs")).alias("sxx"),
            F.sum(F.col("ys") * F.col("ys")).alias("syy"),
            F.sum(F.col("xs") * F.col("ys")).alias("sxy"),
        )
    )
    nd = F.col("n_lines").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = nd * sxy - sx * sy
    den = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    b_scaled = num / den
    return (
        agg.select(
            "p_brand",
            "n_lines",
            stable_round(
                F.when(den > 0, b_scaled * 100.0), 6
            ).alias("slope"),
            stable_round(
                F.when(den > 0, (sy - b_scaled * sx) / nd), 6
            ).alias("intercept"),
            stable_round(
                F.when(
                    (den > 0) & (vary > 0), num * num / (den * vary)
                ),
                6,
            ).alias("r2"),
        )
        .orderBy("p_brand")
    )


# -- supplier market concentration (round 5) --------------------------------


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation: sum of squared revenue shares, plus the largest
    single share — the antitrust-style "is this market dominated by
    a few suppliers" profile.

    One lineitem scan -> broadcast supplier+nation joins -> per-
    (nation, supplier) revenue -> per-nation totals (broadcast back)
    -> shares. The share-square sum is decimal-widened so the HHI is
    accumulation-order-free (shares are stable_round'd at 6 first,
    squaring is then deterministic per supplier, and the DECIMAL(38,12)
    sum commutes). Scale: suppliers grow linearly but the per-nation
    aggregate is map-side combined; no window anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "rev"
            )
        )
    )
    tot = rev.groupBy("n_name").agg(
        F.sum(F.col("rev").cast("decimal(38,6)"))
        .cast("double")
        .alias("nrev"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    shares = rev.join(F.broadcast(tot), "n_name").withColumn(
        "share", stable_round(F.col("rev") / F.col("nrev"), 6)
    )
    return (
        shares.groupBy("n_name", "n_suppliers")
        .agg(
            F.round(
                F.sum(
                    (F.col("share") * F.col("share")).cast("decimal(38,12)")
                ),
                6,
            )
            .cast("double")
            .alias("hhi"),
            F.max("share").alias("top_share"),
        )
        .select("n_name", "n_suppliers", "hhi", "top_share")
        .orderBy("n_name")
    )


# -- SCD2 dimension-interval build (round 5) --------------------------------


def customer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each
    customer's order-priority history into validity intervals
    [valid_from, valid_to) with version numbers, per-version order
    counts, and an is_current flag — the dimension-table maintenance
    primitive every warehouse load runs (here driven off the orders
    stream as the change source).

    Two chained per-customer windows (orderdate+orderkey total order),
    never a global one — per-customer row counts are bounded by order
    frequency, so the window survives any corpus scale-up. Change rows
    keep their source row_number so interval order counts are a lead()
    difference, not a re-join."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(w).alias("rn"),
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_custkey"))
        .alias("n_tot"),
    )
    ch = seq.where(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("rn")
    return (
        ch.select(
            F.col("o_custkey").alias("c_custkey"),
            F.row_number().over(w2).cast("int").alias("version"),
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
            F.date_format(
                F.lead("o_orderdate").over(w2), "yyyy-MM-dd"
            ).alias("valid_to"),
            (
                F.coalesce(F.lead("rn").over(w2), F.col("n_tot") + 1)
                - F.col("rn")
            )
            .cast("bigint")
            .alias("n_orders"),
            F.lead("rn").over(w2).isNull().alias("is_current"),
        )
        .orderBy("c_custkey", "version")
    )


# -- customer tier migration matrix (round 5) -------------------------------


def customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort migration matrix: classify every customer's activity
    tier (by order count) in the first and second halves of the
    calendar range, then count customers per (before, after) tier
    pair — including 'none' rows for churned and newly-acquired
    customers. The retention-team view of where the base is moving.

    Two filtered aggregates off one orders scan, FULL OUTER joined on
    custkey (both sides pre-aggregated to one row per customer, so the
    join is key-unique), then a tiny matrix aggregate. The split date
    is a literal (calendar midpoint of the TPC-H-ish 1995-2001 range),
    so the plan is deterministic and filter-pushdown applies."""
    o = load_table(spark, sf_dir, "orders")
    split = _ts("1998-07-01")

    def tier(cnt: F.Column) -> F.Column:
        return (
            F.when(cnt.isNull(), "none")
            .when(cnt >= 4, "loyal")
            .when(cnt >= 2, "repeat")
            .otherwise("one")
        )

    p1 = (
        o.where(F.col("o_orderdate") < split)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    p2 = (
        o.where(F.col("o_orderdate") >= split)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    m = p1.join(p2, "o_custkey", "full_outer").select(
        tier(F.col("c1")).alias("tier_before"),
        tier(F.col("c2")).alias("tier_after"),
    )
    mat = m.groupBy("tier_before", "tier_after").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    tot = mat.agg(F.sum("n_customers").cast("double").alias("n_all"))
    return (
        mat.join(F.broadcast(tot))
        .select(
            "tier_before",
            "tier_after",
            "n_customers",
            stable_round(F.col("n_customers") / F.col("n_all"), 6).alias(
                "pct"
            ),
        )
        .orderBy("tier_before", "tier_after")
    )


# -- link prediction on the co-purchase graph (round 5) ---------------------

LINK_TOP_K = 50


def part_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard common-neighbor link prediction: for part pairs NOT yet
    co-purchased, score |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over the
    support-≥{s} co-purchase graph and rank the top-{k} — "these two
    parts will be bought together next" (Liben-Nowell & Kleinberg '03),
    completing the part-graph family (copurchase → rules → PageRank →
    triangles → prediction).

    Spark-first: candidate pairs come from ONE wedge self-join on the
    shared adjacency (only 2-hop pairs can have a nonzero score — no
    all-pairs), the existing-edge exclusion is a LEFT ANTI join on the
    oriented edge table, and degrees broadcast back. Cost ∝ Σ deg(w)²
    on the support-filtered graph, the same hub-bounding discipline as
    part_triangles. Integer cn/deg arithmetic → one rounded double, so
    the hash is engine-stable."""
    edges = bounded_cache(
        "linkpred.edges",
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select(F.col("part_a").alias("u"), F.col("part_b").alias("v")),
    )
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    cand = (
        adj.alias("a1")
        .join(adj.alias("a2"), F.col("a1.u") == F.col("a2.u"))
        .where(F.col("a1.v") < F.col("a2.v"))
        .groupBy(
            F.col("a1.v").alias("part_a"), F.col("a2.v").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    new_pairs = cand.join(
        edges,
        (cand["part_a"] == edges["u"]) & (cand["part_b"] == edges["v"]),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("part_a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("part_b"), F.col("d").alias("db"))
    return (
        new_pairs.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            stable_round(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "part_a", "part_b")
        .limit(LINK_TOP_K)
    )


part_link_prediction.__doc__ = part_link_prediction.__doc__.format(
    s=TRI_MIN_SUPPORT, k=LINK_TOP_K
)


# -- revenue inequality: Gini coefficient (round 10) ----------------------------


def supplier_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue — the inequality summary
    next to supplier_hhi's concentration index and supplier_pareto's
    cumulative-share curve (HHI weights the head, Gini measures the
    whole distribution; an antitrust screen wants both).

    Closed form on ranked data: G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
    with x ascending. Rank i is functions/distributed.global_rank
    (two-phase, no global window — suppliers grow with the corpus),
    Σi·xᵢ/Σxᵢ are exact decimal sums, and the final ratio is one
    double expression on identical operands (value independent of
    tie order: equal x make i·x + j·x invariant under i↔j swap)."""
    l = load_table(spark, sf_dir, "lineitem")
    # cache the skinny supplier aggregate: global_rank evaluates its
    # input twice (coarse sketch + ranked join) and Catalyst does not
    # reuse the exchange — uncached this is two lineitem scans
    rev = bounded_cache(
        "gini.rev",
        l.groupBy("l_suppkey")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .withColumn("_rev_d", F.col("revenue").cast("decimal(38,6)")),
    )
    ranked = global_rank(
        rev, ["revenue", "l_suppkey"], coarse_key="revenue", out="rnk"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("_rev_d").alias("_sx"),
        F.sum(F.col("rnk") * F.col("_rev_d")).alias("_sxi"),
    )
    n = F.col("n_suppliers").cast("double")
    sx = F.col("_sx").cast("double")
    sxi = F.col("_sxi").cast("double")
    return agg.select(
        "n_suppliers",
        stable_round(sx, 4).alias("total_revenue"),
        # zero total revenue makes the ratio 0/0 (Spark NaN, DuckDB
        # NULL) — Gini is undefined there; NULL on both sides
        F.when(
            sx > 0,
            stable_round(
                (F.lit(2.0) * sxi - (n + F.lit(1.0)) * sx) / (n * sx), 6
            ),
        ).alias("gini"),
    )


# -- first-digit (Benford) conformance (round 10) -------------------------------

# log10(1 + 1/d) pinned as shared literals: a libm log10 is NOT
# guaranteed correctly rounded, so neither engine computes it at
# query time — both read the same 12-digit constants.
BENFORD_EXPECTED = {
    1: 0.301029995664,
    2: 0.176091259056,
    3: 0.124938736608,
    4: 0.096910013008,
    5: 0.079181246048,
    6: 0.066946789631,
    7: 0.057991946978,
    8: 0.051152522447,
    9: 0.045757490561,
}


def orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed vs expected
    first-significant-digit shares and the χ² contribution per digit —
    the standard forensic-accounting / synthetic-data smell test (real
    multiplicative totals follow log10(1+1/d); fabricated or uniform
    generators don't).

    Map-only digit extraction (floor → string head, no log needed for
    the digit since totalprice ≥ 1) into a 9-row aggregate; expected
    shares are pinned literals on both engines, so the only float ops
    are per-digit ratios of exact counts."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        # Benford's first SIGNIFICANT digit needs the mantissa walk for
        # totals < 1, and a negative total's "-" head doesn't cast at
        # all (DuckDB errors, Spark NULLs) — scope the test to totals
        # ≥ 1 explicitly on both sides (all driver totals qualify)
        o.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    total = F.broadcast(counts.agg(F.sum("n_orders").alias("total_n")))
    exp_share = F.when(
        F.col("digit") == 1, F.lit(BENFORD_EXPECTED[1])
    )
    for d in range(2, 10):
        exp_share = exp_share.when(
            F.col("digit") == d, F.lit(BENFORD_EXPECTED[d])
        )
    obs = F.col("n_orders").cast("double") / F.col("total_n").cast("double")
    return (
        counts.crossJoin(total)
        .withColumn("_exp", exp_share)
        .select(
            "digit",
            "n_orders",
            stable_round(obs, 6).alias("obs_share"),
            F.col("_exp").alias("exp_share"),
            stable_round(
                F.col("total_n").cast("double")
                * (obs - F.col("_exp"))
                * (obs - F.col("_exp"))
                / F.col("_exp"),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = (
    # each literal CAST to DOUBLE so DuckDB never types the branch as
    # DECIMAL: the decimal→double conversion happens to round the same
    # way for these 12-digit constants, but the pin should not depend
    # on it — both engines must read the constant as a double outright
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({v!r} AS DOUBLE)"
        for d, v in BENFORD_EXPECTED.items()
    )
    + " END"
)

ORACLES_TPCH: dict[str, str] = {}

ORACLES_TPCH["orders_benford"] = f"""
    WITH counts AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        WHERE o_totalprice >= 1
        GROUP BY 1
    ),
    total AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total_n FROM counts)
    SELECT digit, n_orders,
           {sql_stable_round(
               "CAST(n_orders AS DOUBLE) / CAST(total_n AS DOUBLE)", 6
           )} AS obs_share,
           CAST({_BENFORD_CASE} AS DOUBLE) AS exp_share,
           {sql_stable_round(
               "CAST(total_n AS DOUBLE)"
               " * (CAST(n_orders AS DOUBLE) / CAST(total_n AS DOUBLE)"
               f"    - {_BENFORD_CASE})"
               " * (CAST(n_orders AS DOUBLE) / CAST(total_n AS DOUBLE)"
               f"    - {_BENFORD_CASE})"
               f" / ({_BENFORD_CASE})", 6
           )} AS chi2_term
    FROM counts CROSS JOIN total
    ORDER BY digit
"""


# -- unit-price dispersion per part type (round 10) -----------------------------


def part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-price dispersion per part type: mean, σ, and coefficient
    of variation of the realized per-unit price
    (l_extendedprice / l_quantity) — the pricing-consistency screen
    that flags types where identical goods transact at wildly
    different unit prices (contract leakage / misclassification).

    One broadcast dim join + one type-sized aggregate; moments from
    exact decimal Σx/Σx² of per-row deterministic doubles (the same
    IEEE-exact σ recipe as events_interarrival).

    fan_out(8): the broadcast join + two decimal partial sums are all
    map-side, so a one-row-group scan runs them on a single core
    (measured 1.61 -> 1.02 s at sf0.1, interleaved A/B; no-op at scale
    via the fan_out guard, values identical — decimal sums are
    order-independent)."""
    l = fan_out(spark, load_table(spark, sf_dir, "lineitem"), 8)
    p = load_table(spark, sf_dir, "part")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    agg = (
        # quantity 0 would divide by zero, where the engines disagree
        # (Spark Infinity, DuckDB NULL) — exclude it explicitly on
        # BOTH sides (driver data has none; adversarial data might)
        l.filter(F.col("l_quantity") != 0)
        .join(
            F.broadcast(p.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_type", unit.alias("unit_price"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dec(F.col("unit_price"))).alias("_sx"),
            F.sum(dec(F.col("unit_price") * F.col("unit_price"))).alias(
                "_sx2"
            ),
            F.min("unit_price").alias("_mn"),
            F.max("unit_price").alias("_mx"),
        )
    )
    n = F.col("n_lines").cast("double")
    sx = F.col("_sx").cast("double")
    sx2 = F.col("_sx2").cast("double")
    mu = sx / n
    # clamp: for a zero-variance group with non-representable unit
    # prices the double-domain sx2 − sx²/n lands a few ULP negative
    # and sqrt would emit NaN (same guard as events_interarrival)
    sigma = F.sqrt(
        F.greatest(F.lit(0.0), (sx2 - sx * sx / n) / (n - F.lit(1.0)))
    )
    return (
        agg.filter(F.col("n_lines") >= 2)
        .select(
            "p_type",
            "n_lines",
            stable_round(mu, 4).alias("avg_unit_price"),
            stable_round(sigma, 4).alias("std_unit_price"),
            # all-zero prices make cv 0/0 (Spark NaN, DuckDB NULL) —
            # guard to NULL on both sides
            F.when(mu > 0, stable_round(sigma / mu, 6)).alias("cv"),
            stable_round(F.col("_mn"), 4).alias("min_unit_price"),
            stable_round(F.col("_mx"), 4).alias("max_unit_price"),
        )
        .orderBy("p_type")
    )


ORACLES_TPCH["part_price_dispersion"] = f"""
    WITH u AS (
        SELECT p_type,
               l_extendedprice / l_quantity AS unit_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_quantity <> 0
    ),
    agg AS (
        SELECT p_type,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(unit_price AS DECIMAL(38,6))) AS DOUBLE)
                   AS sx,
               CAST(SUM(CAST(unit_price * unit_price AS DECIMAL(38,6)))
                    AS DOUBLE) AS sx2,
               MIN(unit_price) AS mn,
               MAX(unit_price) AS mx
        FROM u GROUP BY 1
    )
    SELECT p_type, n_lines,
           {sql_stable_round("mu", 4)} AS avg_unit_price,
           {sql_stable_round("sigma", 4)} AS std_unit_price,
           CASE WHEN mu > 0
                THEN {sql_stable_round("sigma / mu", 6)} END AS cv,
           {sql_stable_round("mn", 4)} AS min_unit_price,
           {sql_stable_round("mx", 4)} AS max_unit_price
    FROM (
        SELECT p_type, n_lines, mn, mx,
               sx / CAST(n_lines AS DOUBLE) AS mu,
               sqrt(greatest(CAST(0 AS DOUBLE),
                   (sx2 - sx * sx / CAST(n_lines AS DOUBLE))
                   / (CAST(n_lines AS DOUBLE) - 1.0))) AS sigma
        FROM agg
        WHERE n_lines >= 2
    )
    ORDER BY p_type
"""

ORACLES_TPCH["supplier_gini"] = f"""
    WITH rev AS (
        SELECT l_suppkey,
               {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM lineitem GROUP BY 1
    ),
    ranked AS (
        -- revenue is dsum-rounded to 4 digits, so DECIMAL(20,4) is an
        -- exact (and width-safe: 18+20 = 38 on multiply) carrier
        SELECT revenue,
               CAST(revenue AS DECIMAL(20,4)) AS rev_d,
               CAST(ROW_NUMBER() OVER (ORDER BY revenue, l_suppkey)
                    AS DECIMAL(18,0)) AS rnk
        FROM rev
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(rev_d) AS DOUBLE) AS sx,
               CAST(SUM(rnk * rev_d) AS DOUBLE) AS sxi
        FROM ranked
    )
    SELECT n_suppliers,
           {sql_stable_round("sx", 4)} AS total_revenue,
           CASE WHEN sx > 0
                THEN {sql_stable_round(
                    "(2.0 * sxi - (CAST(n_suppliers AS DOUBLE) + 1.0) * sx)"
                    " / (CAST(n_suppliers AS DOUBLE) * sx)", 6
                )} END AS gini
    FROM agg
"""


# -- repeat-purchase cadence (round 10) -----------------------------------------

ORDER_GAP_BUCKETS = ((7, "<=7d"), (30, "<=30d"), (90, "<=90d"), (365, "<=365d"))


def customer_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per market segment: the distribution of
    days between a customer's consecutive orders, bucketed
    (week/month/quarter/year/longer) with per-bucket mean — the
    reorder-cycle table behind churn windows and
    customer_migration's period definitions.

    One custkey-partitioned lag window (orders cluster per customer —
    never a global sort), broadcast dim join for the segment, then a
    (segment × 5)-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # NTZ→TIMESTAMP cast is epoch-exact in the session tz; a difference
    # anyway, so the same-tz offsets cancel
    _epoch = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    gap_days = (
        (_epoch - F.lag(_epoch).over(w)).cast("double")
        / F.lit(86400000000.0)
    )
    bucket = F.when(F.col("gap_days") <= 7, F.lit("<=7d"))
    border = F.when(F.col("gap_days") <= 7, F.lit(1))
    for lim, lab in ORDER_GAP_BUCKETS[1:]:
        bucket = bucket.when(F.col("gap_days") <= lim, F.lit(lab))
    border = (
        border.when(F.col("gap_days") <= 30, F.lit(2))
        .when(F.col("gap_days") <= 90, F.lit(3))
        .when(F.col("gap_days") <= 365, F.lit(4))
        .otherwise(F.lit(5))
    )
    return (
        # NULL order dates would sort differently inside the window
        # (Spark NULLS FIRST vs DuckDB NULLS LAST) and shift every
        # neighbor pair — exclude them before the lag on both sides
        o.filter(F.col("o_orderdate").isNotNull())
        .select("o_custkey", gap_days.alias("gap_days"))
        .filter(F.col("gap_days").isNotNull())
        .join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            bucket.otherwise(F.lit(">365d")).alias("gap_bucket"),
            border.alias("bucket_order"),
            "gap_days",
        )
        .groupBy("c_mktsegment", "gap_bucket", "bucket_order")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            davg("gap_days", "avg_gap_days"),
        )
        .select(
            "c_mktsegment",
            "gap_bucket",
            F.col("bucket_order").cast("int").alias("bucket_order"),
            "n_gaps",
            "avg_gap_days",
        )
        .orderBy("c_mktsegment", "bucket_order")
    )


ORACLES_TPCH["customer_order_gap"] = f"""
    WITH lagged AS (
        SELECT o_custkey,
               CAST(epoch_us(o_orderdate)
                    - LAG(epoch_us(o_orderdate)) OVER (
                          PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                      ) AS DOUBLE) / 86400000000.0 AS gap_days
        FROM orders
        WHERE o_orderdate IS NOT NULL
    ),
    g AS (
        SELECT c_mktsegment,
               CASE WHEN gap_days <= 7 THEN '<=7d'
                    WHEN gap_days <= 30 THEN '<=30d'
                    WHEN gap_days <= 90 THEN '<=90d'
                    WHEN gap_days <= 365 THEN '<=365d'
                    ELSE '>365d' END AS gap_bucket,
               CASE WHEN gap_days <= 7 THEN 1
                    WHEN gap_days <= 30 THEN 2
                    WHEN gap_days <= 90 THEN 3
                    WHEN gap_days <= 365 THEN 4
                    ELSE 5 END AS bucket_order,
               gap_days
        FROM lagged JOIN customer ON o_custkey = c_custkey
        WHERE gap_days IS NOT NULL
    )
    SELECT c_mktsegment, gap_bucket,
           CAST(bucket_order AS INT) AS bucket_order,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           {sql_davg("gap_days", "avg_gap_days")}
    FROM g
    GROUP BY 1, 2, 3
    ORDER BY c_mktsegment, bucket_order
"""
