"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2) over the
driver-generated tables; each has a DuckDB ``oracle_sql()`` twin computing
the same result exactly. Sketch queries are gated through configurations
where the sketch result is *exactly* reproducible in SQL (duplicate-heavy
columns collapse to singleton-value centroids — the reference's exact-match
absorption invariant, /root/reference/tdigest.js:174-178 — so quantile/cdf
interpolation becomes a closed-form expression over GROUP BY counts).
Statistical accuracy at scale is covered by tests/ and bench.py.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scan_build(spark: SparkSession, sf_dir: str, table: str, sketches: dict):
    """Full-scan sketch build on the scan-in-worker fast path (pyarrow reads
    row-group splits inside each task; bit-identical to the DataFrame
    partial path — tests/test_scan_path.py)."""
    from tdigest_spark.operators.scan import build_sketches_scan

    return build_sketches_scan(
        spark, f"{sf_dir}/{table}.parquet", sketches,
        target_rows_per_split=200_000,
    )


# --------------------------------------------------------------------------
# relational queries (scan/filter/project/join/agg/window/sort/limit)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-12-31").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    # customer is tiny: broadcast both dimension joins; only lineitem scans big
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    # round to cents as DuckDB's ROUND(double, 2) in the oracle does,
    # round(x * 100) / 100: Spark's F.round(x, 2) rounds the exact binary
    # value of x, so a sum that is a half-cent tie in decimal but sits one
    # ulp below it in double would round down where the oracle rounds up
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        joined.groupBy("o_orderkey", "o_orderdate")
        .agg((F.round(revenue * 100) / 100).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"), "revenue")
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two trading nations):
    lineitem -> orders shuffle join on the fact keys; supplier/customer
    are first reduced to (key, nation) by BROADCAST joins against the
    name-FILTERED nation dim (predicate applied before the join, so the
    big fact rows that survive carry only two nations), then the
    cross-pair predicate and a (supp_nation, cust_nation, year) rollup.
    One fact-fact shuffle, everything else broadcast — the Q7 plan you
    want at 100 TB."""
    nation = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    )
    supp_n = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_n = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = (
        li.join(F.broadcast(supp_n), li.l_suppkey == supp_n.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_n), orders.o_custkey == cust_n.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority audit; this schema has no
    shipmode/receipt dates, so the split is by ship YEAR): lineitem joins
    orders on the fact key and counts urgent (1-URGENT/2-HIGH) vs other
    order priorities per year — integer counts, conditional partial
    aggregation map-side, one shuffle on the join key then one on the
    (tiny) year key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(urgent, 0).otherwise(1)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_year")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share per ship year): lineitem
    BROADCAST-joins the part dim, conditional revenue partials map-side,
    promo share = 100 * promo / total rounded to 6 dp (per-term doubles
    spelled identically in the oracle; summation order absorbed by the
    round)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))).alias(
                "_promo"
            ),
            F.sum(rev).alias("_total"),
        )
        .select(
            "l_year",
            F.round(F.lit(100.0) * F.col("_promo") / F.col("_total"), 6).alias(
                "promo_share"
            ),
            F.round(F.col("_total"), 2).alias("revenue"),
        )
        .orderBy("l_year")
    )


def q6_forecast_revenue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry surface: TPC-H Q6 written as a plain ``spark.sql`` string
    over a registered view (same text runs on DuckDB). Catalyst pushes the
    three predicates into the scan; aggregation is a single partial+final
    pass with no shuffle of rows."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (one supplier nation's share of a region's customer
    demand, per order year): nation×region collapses to an ASIA key list
    (broadcast), supplier reduces to (s_suppkey, supp_nation) via a
    broadcast against the nation dim, and the two-year date predicate is
    pushed to the orders scan BEFORE the only fact-fact shuffle
    (lineitem⋈orders). The share is a conditional partial aggregate per
    year; per-term doubles are spelled identically in the oracle and
    ROUND(...,6) absorbs summation-order ULPs."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(asia), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    supp_n = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_n), li.l_suppkey == F.col("s_suppkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(
                    F.lit(0.0)
                )
            ).alias("_n"),
            F.sum(rev).alias("_d"),
        )
        .select(
            "o_year",
            F.round(F.col("_n") / F.col("_d"), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by supplier nation and order year for a
    part-name family; this schema has no partsupp, so unit cost is the
    part's retail price): the LIKE-filtered part dim broadcasts into the
    fact scan FIRST (the selective gate), supplier reduces to (key,
    nation) via a broadcast, and lineitem⋈orders is the only shuffle."""
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    nation = _t(spark, sf_dir, "nation")
    supp_n = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # exact integer cents: revenue floors per item, cost is 2-decimal
    # retail cents × integer quantity — every partial sum < 2^53, so the
    # result is order-independent (a ROUND(SUM(double)) here landed on a
    # .005 boundary at sf0.1 and split the engines by a cent)
    amount_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long") - F.floor(F.col("p_retailprice") * 100).cast("long") * F.col(
        "l_quantity"
    ).cast("long")
    j = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp_n), li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(amount_cents) / F.lit(100.0)).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (top customers by returned-item revenue in a
    half-year window): revenue is PRE-AGGREGATED to the o_custkey grain
    straight off the fact join — the classic Q10 rewrite that shrinks the
    customer-join input from line items to one row per buying customer —
    then joins the customer dim and a broadcast nation. Revenue is summed
    in exact integer cents (FLOOR(rev*100), every partial < 2^53) so the
    top-20 cut is deterministic across engines; displayed as cents/100."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("_cents"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        per_cust.join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            (F.col("_cents") / F.lit(100.0)).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (distribution of per-customer order counts, with a
    filter INSIDE the outer join): orders are pre-filtered (the join-
    condition predicate, pushed to the scan), LEFT-joined to customer so
    zero-order customers survive as c_count=0, then a second tiny
    aggregation folds counts into a histogram. Two shuffles total — the
    second is over at most a few hundred distinct counts."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (supplier(s) with the maximum quarterly revenue —
    the revenue-view + scalar-max pattern): one map-side-partial shuffle
    builds per-supplier revenue in exact integer cents, the 1-row MAX
    broadcasts back onto it (an equi-join, so ties all surface, exactly
    like the spec's view formulation), and the winners broadcast into the
    supplier dim. No SMJ anywhere."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("_rc"))
    mx = rev.agg(F.max("_rc").alias("_mx"))
    top = rev.join(F.broadcast(mx), F.col("_rc") == F.col("_mx")).select(
        "l_suppkey", "_rc"
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(top), supp.s_suppkey == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("_rc") / F.lit(100.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (distinct-supplier counts per part attribute with a
    NOT-IN supplier blacklist; this schema has no partsupp, so the
    part↔supplier relation is the distinct pairs observed in lineitem):
    the blacklist is a broadcast ANTI join (NOT IN decorrelated), the
    attribute-filtered part dim broadcasts, and countDistinct runs as the
    standard two-shuffle expand/aggregate."""
    bad = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        _t(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (orders whose total quantity exceeds a threshold —
    group-HAVING feeding an IN subquery): the only full-fact shuffle is
    the per-order quantity rollup (map-side partials); the surviving key
    set is tiny, so it BROADCASTS into orders and the joined result
    broadcasts again into customer. Quantities are integer-valued doubles
    (sums exact in any order), and the top-100 cut breaks o_totalprice
    ties on o_orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(big), orders.o_orderkey == F.col("l_orderkey"))
    return (
        cust.join(F.broadcast(j), cust.c_custkey == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (revenue under an OR-of-ANDs join predicate mixing
    both sides): the part dim broadcasts; Catalyst extracts the per-side
    disjunction envelopes (brand IN-list on the part scan, quantity range
    on the fact scan) as pushed filters, leaving only the cross-side
    residual on the join. COALESCE keeps the single output row exact when
    the filter matches nothing at tiny scale."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & qty.between(1, 11) & size.between(1, 5))
        | ((brand == "Brand#23") & qty.between(10, 20) & size.between(1, 10))
        | ((brand == "Brand#34") & qty.between(20, 30) & size.between(1, 15))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(
        F.broadcast(part), (li.l_partkey == F.col("p_partkey")) & cond
    ).agg(
        F.round(F.coalesce(F.sum(rev), F.lit(0.0)), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who alone held up multi-supplier orders;
    this schema has no receipt/commit dates, so "late" is shipping >60
    days after the order date): EXISTS(another supplier in the order)
    becomes a LEFT SEMI self-join and NOT EXISTS(another LATE supplier)
    a LEFT ANTI self-join, both equi-keyed on l_orderkey with the
    supplier-inequality as residual — the decorrelated plan Catalyst
    should produce, written explicitly. Counts are exact integers."""
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    cand = late.join(
        others,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    late_others = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    sole = cand.join(
        late_others,
        (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (above-average-balance customers with no recent
    orders, rolled up by nation): the scalar threshold is an exact
    integer floor-cents DIV average (both engines do pure bigint
    arithmetic — no float-comparison boundary anywhere), broadcast onto
    the customer scan; "no recent orders" is a LEFT ANTI join against the
    date-filtered orders projection; balances aggregate as exact cents."""
    cust = _t(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100).cast("long")
    thr = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.sum(cents).alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(F.expr("_s DIV _n").alias("_thr"))
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    nation = _t(spark, sf_dir, "nation")
    cand = (
        cust.withColumn("_cents", cents)
        .crossJoin(F.broadcast(thr))
        .where(F.col("_cents") > F.col("_thr"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        cand.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("_cents") / F.lit(100.0)).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier per part in one region; this
    schema has no partsupp, so the part↔supplier "supplycost" is the
    minimum observed unit price MIN(l_extendedprice / l_quantity) over
    lineitem): the correlated MIN subquery decorrelates into a window MIN
    over the already-dim-filtered candidate frame — region, nation, part,
    and supplier dims all BROADCAST, the only fact shuffle is the
    (part, supplier) rollup, and the window runs over the tiny
    post-filter set, never the fact table. Every per-row unit price is
    the same IEEE double in both engines, so the MIN and the equality
    against it are bit-exact; the sort key (s_acctbal DESC, n_name,
    s_name, p_partkey) is unique per output row, making LIMIT 100
    deterministic."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("_cost")
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "LARGE")
        .select("p_partkey", "p_brand")
    )
    cand = ps.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("_min", F.min("_cost").over(w))
        .where(F.col("_cost") == F.col("_min"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round("_cost", 6).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking; no commit/receipt dates in
    this schema, so a "late" order is one with any lineitem shipped more
    than 30 days after the order date): the EXISTS subquery decorrelates
    into a LEFT SEMI join equi-keyed on l_orderkey with the date
    inequality as residual — no row multiplication, no distinct — and the
    quarter window is pushed into the orders scan. Counts exact."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (parts whose "inventory value" exceeds a global
    fraction threshold; value = floor-cents revenue contributed by a
    three-nation supplier group; the fraction is 2x the mean part value,
    which scales with the part count the way TPC-H's 0.0001/SF does):
    integer cents make the HAVING comparison an exact bigint predicate
    (value_cents * n_parts > 2 * total_cents — no float boundary
    anywhere; products stay < 2^63 up to ~100 TB of per-part cents). The nation-filtered
    supplier dim BROADCASTS into the fact scan; the scalar total
    broadcasts back over the per-part rollup as a single-row crossJoin,
    the decorrelated form of the scalar subquery."""
    nat = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(100.0)
    ).cast("long")
    v = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("l_partkey").alias("p_partkey"), cents.alias("_c"))
        .groupBy("p_partkey")
        .agg(F.sum("_c").alias("value_cents"))
    )
    tot = v.agg(
        F.sum("value_cents").alias("_total"), F.count(F.lit(1)).alias("_n")
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .where(F.col("value_cents") * F.col("_n") > F.lit(2) * F.col("_total"))
        .select("p_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "p_partkey")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 canonical aggregate (average yearly revenue lost to
    sub-20%-of-average-quantity orders of one brand) — the scalar-output
    sibling of part_avg_correlated_subquery: the per-part AVG subquery
    decorrelates into one rollup joined back to the probe scan. The
    rollup is computed over lineitems of Brand#3 parts only — the
    per-part average needs exactly that part's rows, and the brand filter
    keeps every row of each surviving partkey, so this equals the
    oracle's all-parts subquery restricted to the probed keys (and is the
    plan that survives 100 TB: the avg never scans non-brand parts).
    Quantities are integer-valued doubles, so each per-part average —
    hence the 0.2·avg comparison — is IEEE-exact in both engines;
    ROUND(...,2) absorbs summation-order ULPs in the price sum."""
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    pq = brand_li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("_avg")
    )
    return (
        brand_li.join(F.broadcast(pq), F.col("l_partkey") == F.col("_pk"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("_avg"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q20_red_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers who shipped a significant volume of
    'red%' parts in one year, restricted to one region): the nested-IN
    chain decorrelates into broadcast joins — red-part keys broadcast
    into the date-pruned fact scan, the qualifying supplier rollup
    (integer-valued quantities, exact in any order) broadcasts into the
    region-filtered supplier dim. LIKE-prefix predicate pushes to the
    part scan as a range filter."""
    red = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    sq = (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > 50)
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        supp.join(F.broadcast(sq), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", "n_name", F.col("_qty").cast("long").alias("red_qty"))
        .orderBy("s_name")
    )


def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("event_type")
    )


def events_top_users_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # top-k FIRST (TakeOrderedAndProject — no global shuffle), then the
    # rank window runs over only k rows; a bare global row_number would
    # drag every user into a single partition
    top = per_user.orderBy(F.desc("total_value"), F.col("user_id")).limit(20)
    w = Window.orderBy(F.desc("total_value"), F.col("user_id"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("rnk", "user_id", "total_value", "n_events")
        .orderBy("rnk")
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-flavor coverage: LEFT ANTI (customers with no orders) plus a
    LEFT SEMI count check; broadcastable key-list at dimension scale."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    anti = cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
    return anti.select("c_custkey", "c_name", "c_nationkey").orderBy(
        "c_custkey"
    )


_EXISTS_SQL = """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_returnflag = 'R'
        AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o.o_orderpriority ORDER BY o_orderpriority
"""


def orders_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): orders with at least one
    returned lineitem shipped after the order date, counted per priority.
    Catalyst decorrelates the subquery into a LEFT SEMI hash join on
    o_orderkey — no per-row subquery execution — so the shape is one
    shuffle-or-broadcast semi join + a tiny aggregate at any scale. The
    IDENTICAL SQL text is the DuckDB oracle."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_EXISTS_SQL)


_CORRELATED_AVG_SQL = """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           ROUND(SUM(l.l_extendedprice), 2) AS small_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
      SELECT CAST(0.5 AS DOUBLE) * AVG(l2.l_quantity)
      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY p.p_brand ORDER BY p_brand
"""


def part_avg_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (TPC-H Q17 shape): lineitems whose
    quantity is below half their part's average quantity, revenue per
    brand. Catalyst rewrites the per-row subquery into one per-partkey
    aggregate joined back on l_partkey — the only scalable plan: the
    fact table is scanned twice (once for averages, once for the probe),
    never once per row. The IDENTICAL SQL text is the DuckDB oracle."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_CORRELATED_AVG_SQL)


def order_fill_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + conditional aggregation: per order-priority, how
    many orders have at least one returned ('R') lineitem
    (null-preserving)."""
    orders = _t(spark, sf_dir, "orders")
    late = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    j = orders.join(late, orders.o_orderkey == late.l_orderkey, "left")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.countDistinct(late.l_orderkey).alias("n_late_orders"),
        )
        .orderBy("o_orderpriority")
    )


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot coverage: per-user wide table of summed value by event_type
    (explicit pivot value list — one pass, no per-type rescans; the SQL
    mirror is conditional aggregation)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 2))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0.0)).alias(t) for t in types],
    ).orderBy("user_id")


def embedding_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral/explode coverage: posexplode of the embedding arrays for a
    filtered id range (predicate pushed below the generator), mirrored by
    UNNEST WITH ORDINALITY."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    return (
        emb.select(
            "vec_id", F.posexplode("embedding").alias("pos", "component")
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.round(F.col("component").cast("double"), 6).alias("component"),
        )
        .orderBy("vec_id", "pos")
    )


def lineitem_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage: CUBE over (l_returnflag, l_linestatus) —
    Spark computes all four grouping sets in one shuffle (Expand + single
    hash aggregate), no per-set rescans."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "sum_qty",
        )
        .orderBy("rf", "ls")
    )


def nation_balance_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join flavor: per-nation extreme-balance customer counts
    vs negative-balance supplier counts — thresholds chosen so BOTH
    one-sided null cases occur at sf0.01 (customer-only and supplier-only
    nations). Both sides pre-aggregate to <=25 rows before the join."""
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9980)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < -500)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
    return j.select(
        F.coalesce(cust.c_nationkey, supp.s_nationkey).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    ).orderBy("nationkey")


def events_user_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed scalar functions (map_from_entries / element_at /
    map_keys): per-user event_type->count map, probed for two keys. The
    oracle mirrors the VALUES with conditional counts."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return (
        m.select(
            "user_id",
            F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).alias("n_click"),
            F.coalesce(F.element_at("m", F.lit("error")), F.lit(0)).alias("n_error"),
            F.size(F.map_keys("m")).cast("long").alias("n_types"),
        )
        .orderBy("user_id")
    )


def part_supplier_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set ops: suppkeys supplying low-quantity items INTERSECT
    high-quantity items, and EXCEPT, tagged and unioned."""
    li = _t(spark, sf_dir, "lineitem")
    lo = li.where(F.col("l_quantity") <= 5).select("l_suppkey").distinct()
    hi = li.where(F.col("l_quantity") >= 45).select("l_suppkey").distinct()
    both = lo.intersect(hi).withColumn("tag", F.lit("both"))
    only_lo = lo.exceptAll(hi).withColumn("tag", F.lit("lo_only"))
    return both.unionByName(only_lo).select("tag", "l_suppkey").orderBy(
        "tag", "l_suppkey"
    )


def lineitem_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set ops (the ALL flavors part_supplier_set_ops' DISTINCT
    variants don't touch): per-suppkey lineitem rows with quantity <= 10
    INTERSECT ALL / EXCEPT ALL the rows with discount = 0 — duplicates
    preserved with bag semantics (min/0-floor of multiplicities), which is
    what Spark intersectAll/exceptAll and SQL INTERSECT ALL/EXCEPT ALL
    both implement. Tagged, unioned, re-counted."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") <= 10).select("l_suppkey")
    b = li.where(F.col("l_discount") == 0).select("l_suppkey")
    inter = a.intersectAll(b).withColumn("tag", F.lit("inter_all"))
    diff = a.exceptAll(b).withColumn("tag", F.lit("except_all"))
    return (
        inter.unionByName(diff)
        .groupBy("tag", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .orderBy("tag", "l_suppkey")
    )


def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (CUBE is covered by lineitem_cube_counts;
    this is the general form with a grouping_id disambiguator): totals by
    returnflag, by linestatus, and the grand total — ONE Expand + one
    aggregate, not three scans."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                 AS gid,
               COUNT(*) AS n,
               CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag, l_linestatus
        """
    )


def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long reshaping, the inverse of events_type_pivot):
    the pricing-summary rollup's three integer measures melt into
    (measure, value) rows via ``DataFrame.unpivot`` — an Expand node over
    the already-aggregated frame, so the reshape costs O(groups x
    measures), never a second fact scan. All measures are exact bigints
    (integer quantities, floor-cents prices, counts)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_cents"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )
    return (
        agg.unpivot(
            ["l_returnflag", "l_linestatus"],
            ["qty", "price_cents", "n_items"],
            "measure",
            "value",
        )
        .orderBy("l_returnflag", "l_linestatus", "measure")
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage (json/string/math/date): parse the props
    JSON column, bucket by k-decile and event month."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            (F.floor(k / 10) * 10).alias("k_bucket"),
            "value",
        )
        .groupBy("month", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("month", "k_bucket")
    )


def orders_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: NTILE(4) by total price within each order
    priority (deterministic total order via the (price, key) tie-break),
    rolled up to per-(priority, quartile) counts and price sums."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


def events_window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth on one partitioned/ordered spec:
    percent_rank, cume_dist, NTILE, first_value, nth_value, lead, lag
    (with default) — every remaining ranking/navigation function in one
    shuffle (single Window node; Spark evaluates all eight functions in
    one pass over each sorted partition). event_id is unique within a
    partition, so peer groups are singletons and the default
    RANGE-to-current-row frame agrees between engines; the rank ratios
    divide identical integers (IEEE-identical), rounded for safety."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first("event_id").over(w).alias("first_id"),
        F.nth_value("event_id", 3).over(w).alias("third_id"),
        F.lead("event_id", 2).over(w).alias("lead2"),
        F.lag("event_id", 1, -1).over(w).alias("lag1"),
    ).orderBy("event_type", "event_id")


def purchases_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator, built-in-absent in Spark): each
    purchase joined to the user's most recent prior-or-simultaneous view's
    value. Union + last-over-window plan: ONE shuffle on user_id, linear —
    not the quadratic per-key inequality join."""
    from tdigest_spark.operators.relational import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(purchases, views, "ts", "user_id", ["view_value"])
    return out.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        F.round("asof_view_value", 6).alias("asof_view_value"),
    ).orderBy("event_id")


def bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern as an explicit sketch: lineitems of
    high-value orders via a Bloom pre-filter (prunes the big side before
    the shuffle) + exact semi-join to drop false positives — result equals
    the plain semi-join."""
    from tdigest_spark.operators.relational import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    out = bloom_semi_join(li, "l_orderkey", big, "o_orderkey", 100_000, 0.01)
    return (
        out.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_orderkey")
    )


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user (lag + running sum
    over the per-user window), aggregated to per-user session stats."""
    from tdigest_spark.operators.relational import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", 1800)
    return (
        s.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def events_user_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (the window-function flavor the other
    window queries don't cover — rows vs range): per event, the count and
    value sum of the SAME user's events in the trailing hour, expressed as
    ``RANGE BETWEEN 3_600_000_000 PRECEDING AND CURRENT ROW`` over integer
    microseconds. One shuffle on user_id, then a linear per-partition
    sliding-frame scan — never a self-join. Exactness: the summand is
    ``FLOOR(value * 100)`` — an integer — so the frame sum is
    order-independent and the DuckDB RANGE frame (identical semantics:
    peers included by ordering VALUE, not row position) matches bit-for-
    bit; µs integers dodge fp boundary flips at the frame edge."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_in_hour"),
        F.sum(F.floor(F.col("value") * F.lit(100.0))).over(w).alias(
            "cents_in_hour"
        ),
    ).orderBy("event_id")


def events_user_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series GAP FILL with last-observation-carried-forward — the
    resampling shape every metrics/feature pipeline needs: per user, an
    hourly spine from first to last purchase (sequence + explode, pure
    codegen), the hour's LAST observed purchase value joined on, and gaps
    filled with ``last(value, ignorenulls=True)`` over an ordered running
    frame. One shuffle on user_id; spine rows are bounded by users x
    active-hours, never events x events. Exactness: hours are integer
    ``unix_micros div 3.6e9``, observations are floor-cents longs, the
    spine starts AT the first observation so the carried value is never
    null, and per-user sums of longs are order-independent. The LOCF
    frame is ROWS (not RANGE): spine hours are unique per user, and
    DuckDB's last_value(x IGNORE NULLS) has identical semantics."""
    ev = (
        _t(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("cents"),
        )
        .withColumn("h", F.expr("us div 3600000000"))
    )
    rn = Window.partitionBy("user_id", "h").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    hourly = (
        ev.withColumn("rn", F.row_number().over(rn))
        .where(F.col("rn") == 1)
        .select("user_id", "h", "cents")
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("h").alias("h_lo"), F.max("h").alias("h_hi")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence(F.col("h_lo"), F.col("h_hi"))).alias("h"),
    )
    locf = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    filled = spine.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        "cents",
        F.last("cents", ignorenulls=True).over(locf).alias("carried"),
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.count("cents").alias("n_observed"),
            (F.count(F.lit(1)) - F.count("cents")).alias("n_filled"),
            F.sum("carried").alias("carried_cents_sum"),
        )
        .orderBy("user_id")
    )


def lineitem_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET pair mining (the co-occurrence/lift shape behind
    recommendations and data-mixing diagnostics): distinct (order, part)
    pairs self-join WITHIN an order with p1 < p2 — fanout bounded by
    items-per-order squared (TPC-H ≤ 7 -> ≤ 21 pair rows per order),
    never order-count squared — then pair counts rank the top 25 and
    ONLY those 25 join back (broadcast) to part supports for lift =
    n_ab·n_orders / (n_a·n_b). Counts exact; lift is one double product
    chain over exact ints (ROUND 6); ordering by (n_ab DESC, p1, p2) is
    total."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    li.persist()
    n_orders = li.select("l_orderkey").distinct().count()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .orderBy(F.desc("n_ab"), F.asc("p1"), F.asc("p2"))
        .limit(25)
    )
    support = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    # broadcast the 25-ROW pair table into the part-support joins (support
    # is part-cardinality — the big side at 100 TB); re-hint after the
    # first join so the second one broadcasts the small side too
    j1 = F.broadcast(pairs).join(
        support.withColumnRenamed("l_partkey", "p1").withColumnRenamed(
            "n_p", "n_a"
        ),
        "p1",
    )
    out = (
        F.broadcast(j1)
        .join(
            support.withColumnRenamed("l_partkey", "p2")
            .withColumnRenamed("n_p", "n_b"),
            "p2",
        )
        .select(
            "p1",
            "p2",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.lit(n_orders)
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), F.asc("p1"), F.asc("p2"))
    )
    out = spark.createDataFrame(out.collect(), out.schema)
    li.unpersist()
    return out


def events_null_aware_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-AWARE ANTI JOIN — the classic ``NOT IN (subquery)`` trap: one
    NULL in the subquery makes the predicate never-TRUE (three-valued
    logic), silently emptying the result. The subquery side plants a
    deterministic NULL (NULLIF on the minimum purchase user), so the
    query reports the trap (raw NOT IN -> 0 rows) NEXT TO the fix
    (IS NOT NULL in the subquery -> the real count). Spark plans the raw
    form as a null-aware BroadcastHashJoin (isNullAware) — a correctness
    feature the engine must carry, exercised here end-to-end; DuckDB's
    standard three-valued semantics make the oracle the same SQL."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_naaj_v")
    return spark.sql(
        """
        WITH probe AS (
          SELECT DISTINCT user_id FROM events_naaj_v
          WHERE event_type = 'error'
        ), sub AS (
          SELECT NULLIF(user_id,
                        (SELECT MIN(user_id) FROM events_naaj_v
                         WHERE event_type = 'purchase')) AS u
          FROM events_naaj_v WHERE event_type = 'purchase'
        )
        SELECT
          (SELECT COUNT(*) FROM probe) AS n_probe,
          (SELECT COUNT(*) FROM probe
           WHERE user_id NOT IN (SELECT u FROM sub)) AS n_not_in_raw,
          (SELECT COUNT(*) FROM probe
           WHERE user_id NOT IN (SELECT u FROM sub WHERE u IS NOT NULL))
            AS n_not_in_fixed
        """
    )


def events_rolling_3day_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING-WINDOW DISTINCT via sketch mergeability over TIME — the
    dashboard query ("trailing 3-day active users per day") that exact
    COUNT(DISTINCT) makes quadratic at scale: per-day bottom-k/theta
    states build in ONE grouped pass (states shuffle, rows don't), and
    every trailing window is a driver-side UNION of three ~KB states —
    days never rescan each other. Exact by construction: k=4096 exceeds
    any window's cardinality, so every sketch stays in exact mode
    (theta == 2^64, asserted) and the union estimate IS the distinct
    count. The day axis is integer epoch-days; only days present in the
    data appear (same on both sides)."""
    from tdigest_spark.operators.aggregate import (
        BOTTOMK_INTS,
        build_sketch_grouped,
    )
    from tdigest_spark.sketch.theta import ThetaSketch

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day"),
            "user_id",
        )
    )
    per_day = build_sketch_grouped(
        ev, ["day"], "user_id", BOTTOMK_INTS(4096)
    ).collect()
    sk = {
        int(r["day"]): ThetaSketch.from_bottomk_bytes(bytes(r["state"]))
        for r in per_day
    }
    rows = []
    for day in sorted(sk):
        window = [d for d in (day - 2, day - 1, day) if d in sk]
        u = sk[window[0]]
        for d in window[1:]:
            u = u.union(sk[d])
        assert u.theta == 2**64, (day, u.theta)  # exact mode holds
        rows.append((day, len(window), int(u.estimate())))
    return spark.createDataFrame(
        rows, "day long, n_days_in_window int, n_active long"
    ).orderBy("day")


def events_type_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral MARKOV CHAIN: per-user event-type transition counts and
    row-normalized probabilities — the sequence model behind next-action
    prediction and bot detection. One user_id shuffle + a linear lag()
    window pass (never an event x event self-join); the transition matrix
    is #types² rows. Ordering within a user is total ((ts µs, event_id)),
    counts exact, probabilities one double division of exact ints
    (ROUND 6)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_from"), 6).alias(
                "p"
            ),
        )
        .orderBy("from_type", "to_type")
    )


def lineitem_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / PARETO CLASSIFICATION of parts by revenue (the inventory
    80/20 cut every supply-chain dashboard runs): parts ranked by
    revenue DESC, class A = parts inside the first 70% of cumulative
    revenue, B = to 90%, C = the tail. The global cumulative sum uses
    operators/relational.distributed_value_cumsum — NO single-task
    global window (the events_user_gini two-pass rank generalized):
    distinct revenue values get bit-length-bucketed exclusive prefixes,
    and within an equal-revenue block each part adds rank·v via a window
    PARTITIONED BY the value (block size = tie multiplicity, never the
    domain). Exactness: per-row floor-cents are identical IEEE doubles
    floored to ints in both engines, all cumulative terms are exact
    int64, and the class cut is the integer comparison cum·10 ≤ k·total
    (no float thresholds; at 10^19 total cents promote to decimal).
    Shares are single divisions of exact ints — unrounded."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                    * F.lit(100)
                ).cast("long")
            ).alias("v")
        )
    )
    g = (
        rev.groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("w", F.col("v") * F.col("c"))
    )
    pre = distributed_value_cumsum(
        g, value_col="v", weight_col="w", descending=True
    )
    total = int(
        g.agg(F.sum("w").alias("t")).collect()[0]["t"]
    )
    rk = F.row_number().over(
        Window.partitionBy("v").orderBy(F.asc("l_partkey"))
    )
    cum = (F.col("prefix") + rk.cast("long") * F.col("v")).alias("cum")
    parts = rev.join(pre.select("v", "prefix"), "v").select(
        "l_partkey", "v", cum
    )
    cls = parts.select(
        "v",
        F.when(F.col("cum") * 10 <= 7 * F.lit(total), "A")
        .when(F.col("cum") * 10 <= 9 * F.lit(total), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("v").alias("revenue_cents"),
        )
        .select(
            "abc_class",
            "n_parts",
            "revenue_cents",
            (F.col("revenue_cents").cast("double") / F.lit(float(total))).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc_class")
    )


def events_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PAGERANK over the behavioral transition graph — the
    ITERATIVE-algorithm shape (the class that breaks one-shot SQL
    engines): nodes = event types, edge weights = per-user consecutive-
    event transition counts (the events_type_markov_transitions edges),
    damping 0.85, uniform init, THREE power iterations with no dangling
    redistribution (documented simplest form — ranks need not sum to 1).
    Scale shape: the ONE corpus-sized stage is the edge aggregation
    (user_id shuffle + lag window), checkpointed once; every iteration
    is joins over the #types² edge list — type-cardinality data, so 100
    more iterations cost driver-loop latency, not scans. Exactness: edge
    weights are exact ints; rank sums have ≤ #types double terms whose
    summation-order ULPs (~1e-15 after 3 iterations) are absorbed by
    ROUND 6, the PMI/KL budget; every division is spelled identically in
    the unrolled-CTE oracle."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("w_out"))
    nodes = (
        ev.select(F.col("event_type")).distinct().localCheckpoint(eager=False)
    )
    n_nodes = float(nodes.count())
    p = nodes.select(
        "event_type", (F.lit(1.0) / F.lit(n_nodes)).alias("p")
    )
    for _ in range(3):
        contrib = (
            trans.join(F.broadcast(totals), "from_type")
            .join(
                F.broadcast(p.withColumnRenamed("event_type", "from_type")),
                "from_type",
            )
            .groupBy("to_type")
            .agg(
                F.sum(
                    F.col("p")
                    * (F.col("n").cast("double") / F.col("w_out"))
                ).alias("c")
            )
        )
        p = nodes.join(
            F.broadcast(contrib.withColumnRenamed("to_type", "event_type")),
            "event_type",
            "left",
        ).select(
            "event_type",
            (
                F.lit(0.15) / F.lit(n_nodes)
                + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("p"),
        )
    return p.select(
        "event_type", F.round("p", 6).alias("pagerank")
    ).orderBy(F.desc("pagerank"), F.asc("event_type"))


def events_user_hour_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust ANOMALY DETECTION on user activity (median/MAD, the
    outlier-resistant z-score every monitoring stack reaches for):
    hourly spend per user (exact floor-cents longs), per-user median,
    deviations, per-user MAD, flag hours with |x − med| > 3·MAD. Two
    user_id shuffles + two user-cardinality joins — per-hour data never
    self-joins. Exactness: medians of integers interpolate to .5 quanta,
    MAD to .25 quanta, 3·MAD to .75 quanta — all exact in double in both
    engines (Spark median == DuckDB quantile_cont(0.5)), so the flag
    comparisons are deterministic."""
    h = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h"),
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("c"),
        )
        .groupBy("user_id", "h")
        .agg(F.sum("c").alias("cents"))
    )
    h.persist()
    med = h.groupBy("user_id").agg(
        F.median("cents").alias("med"), F.count(F.lit(1)).alias("n_hours")
    )
    d = h.join(med, "user_id").select(
        "user_id", "n_hours", "med", F.abs(F.col("cents") - F.col("med")).alias("dev")
    )
    mad = d.groupBy("user_id").agg(F.median("dev").alias("mad"))
    out = (
        d.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("n_hours").alias("n_hours"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            ).alias("n_anomalous"),
        )
        .orderBy("user_id")
    )
    out = spark.createDataFrame(out.collect(), out.schema)
    h.unpersist()
    return out


def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of per-user activity — the engagement-inequality
    metric (is the corpus/product carried by a few power users?).
    G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n with i ranking users by (count,
    user_id). DISTRIBUTED rank (no global row_number — a billion-user
    rank must never land in one task): within an equal-count block the
    ranks are s+1..s+c regardless of the user_id tie order, so
    Σ i·x_i = Σ_v v·(c_v·s_v + c_v(c_v+1)/2) needs only per-VALUE counts
    plus the prefix s_v = #users with smaller count — computed by
    operators/relational.distributed_value_cumsum (bit-length bucket
    offsets broadcast back + a bucket-PARTITIONED running-sum window,
    so no Exchange SinglePartition feeds any Window; explain_audit
    asserts this). Every term is an exact integer and the two divisions
    are spelled identically in both engines (ROUND 6); the oracle keeps
    the straightforward global-rank formulation."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    counts = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    g = counts.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    pre = distributed_value_cumsum(
        g, value_col="x", weight_col="c"
    ).withColumnRenamed("prefix", "s")
    agg = pre.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("x") * F.col("c")).alias("sx"),
        F.sum(
            F.col("x")
            * (
                F.col("c") * F.col("s")
                # c·(c+1) is even — DIV keeps the whole chain in exact
                # 64-bit integers (a double intermediate would round
                # past 2^53 at extreme cardinalities)
                + F.expr("(c * (c + 1)) DIV 2")
            )
        ).alias("six"),
    )
    return agg.select(
        "n",
        "sx",
        F.round(
            F.lit(2.0) * F.col("six") / (F.col("n") * F.col("sx"))
            - (F.col("n") + F.lit(1)) / F.col("n").cast("double"),
            6,
        ).alias("gini"),
    )


def events_user_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between per-user activity (event count)
    and per-user spend (floor-cents value sum) — the monotone-association
    screen run before trusting any engagement→revenue model (robust to
    outliers where Pearson is not). Ranks use the AVERAGE-rank tie
    convention, and both rank passes ride the DISTRIBUTED two-pass rank
    (operators/relational.distributed_value_cumsum, the events_user_gini
    machinery): average rank of a tied value v is prefix_v + (c_v+1)/2,
    so DOUBLED ranks 2·prefix + c + 1 stay exact 64-bit integers with no
    global single-task window. All five moment sums are exact BIGINTs
    (n=1500 users at sf0.1; the doubled-rank moments brush 2^53 only
    past ~30M users — documented bound, same class as the gini terms),
    and rho = (n·Sxy − Sx·Sy) / (√(n·Sxx−Sx²)·√(n·Syy−Sy²)) is spelled
    identically in both engines — exact-int subtractions, one cast, two
    correctly-rounded sqrts, one division — so it is BIT-IDENTICAL with
    no ROUND needed. Plan: one user_id shuffle, two value-cardinality
    rank joins (tiny dims; AQE broadcasts them), zero global windows."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    u = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "value")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y"),
        )
    )
    # two rank passes and the final join all read u: compute it once
    u = u.localCheckpoint(eager=False)

    def _rank2(col: str) -> DataFrame:
        d = u.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        d = distributed_value_cumsum(d, value_col=col, weight_col="c")
        return d.select(
            col,
            (F.lit(2) * F.col("prefix") + F.col("c") + F.lit(1)).alias(
                f"r2{col}"
            ),
        )

    ranked = u.join(_rank2("x"), "x").join(_rank2("y"), "y")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return agg.select(
        F.col("n").alias("n_users"), (num / den).alias("spearman_rho")
    )


def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H TEST across event types — the k-group
    generalization of events_mannwhitney_value ("does the value
    distribution differ by event_type?") run before any per-type pricing
    model. Pooled average ranks over floor-cents ride the same
    DISTRIBUTED two-pass rank (distributed_value_cumsum): doubled average
    rank of value v is 2·prefix_v + c_v + 1 (exact BIGINT; values shift
    by +1 so the bit-length bucketing sees strictly positive ints — ranks
    are shift-invariant). Per-group doubled rank sums S2_i and the tie
    term Σ(c³−c) stay exact integers (S2_i ≤ 2·N·n_i ≈ 4e9 at sf0.1;
    N³ ≈ 1e15 < 2^53 — bounds documented, same class as the gini terms).
    H = [12/(N(N+1))·Σ(S2_i/2)²/n_i − 3(N+1)] / [1 − Σ(c³−c)/(N³−N)] is
    spelled operation-for-operation identically in both engines; ROUND 6
    absorbs only the k-term double summation order (k=5 groups). Plan:
    one (type,value) agg, one value-cardinality rank join, the broadcast
    bucket-offset dim, zero global windows."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            (F.floor(F.col("value") * 100).cast("long") + F.lit(1)).alias(
                "v"
            ),
        )
    )
    gv = e.groupBy("g", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # the value-level counts, the rank join-back and the tie term all
    # read gv: compute it once
    gv = gv.localCheckpoint(eager=False)
    vc = gv.groupBy("v").agg(F.sum("c").alias("cv"))
    vc = vc.localCheckpoint(eager=False)
    r = distributed_value_cumsum(vc, value_col="v", weight_col="cv")
    r = r.select(
        "v",
        (F.lit(2) * F.col("prefix") + F.col("cv") + F.lit(1)).alias("r2"),
    )
    grp = (
        gv.join(r, "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_i"),
            F.sum(F.col("c") * F.col("r2")).alias("s2_i"),
        )
    )
    half = F.col("s2_i").cast("double") / F.lit(2.0)
    agg = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum(half * half / F.col("n_i").cast("double")).alias("srr"),
    )
    tie = vc.agg(
        F.sum(
            F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv")
        ).alias("tie3"),
        F.sum("cv").alias("n"),
    )
    j = agg.crossJoin(tie)
    nd = F.col("n").cast("double")
    h0 = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("srr")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (
        nd * nd * nd - nd
    )
    return j.select(
        F.col("n").alias("n_events"),
        F.col("k_groups"),
        F.round(h0 / corr, 6).alias("h_stat"),
    )


def events_user_engagement_ols(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDINARY LEAST SQUARES of per-user spend on per-user activity —
    the one-variable engagement→revenue regression (slope = marginal
    value of an extra event, r² = variance explained). x = event count,
    y = Σ floor(value) in WHOLE units (not cents: keeps n·Syy ≈ 8e14 and
    Sy² well under 2^53/2^63 with orders of magnitude to spare — bound
    documented). All five moment sums are exact BIGINTs; every derived
    quantity is a single IEEE operation chain on exactly-cast ints —
    slope = (n·Sxy−Sx·Sy)/(n·Sxx−Sx²), intercept =
    (Sy·Sxx−Sx·Sxy)/(n·Sxx−Sx²), r² = a²/(b·c) with a,b,c the exact-int
    (co)variance numerators — so results are BIT-IDENTICAL across
    engines with NO rounding. Plan: one user_id shuffle to a 5-moment
    partial agg, then a single 1-row reduce; no joins, no windows."""
    u = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "value")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.floor(F.col("value")).cast("long")).alias("y"),
        )
    )
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    a = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    b = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    c = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    icept = (
        F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    ).cast("double")
    return m.select(
        F.col("n").alias("n_users"),
        (a / b).alias("slope"),
        (icept / b).alias("intercept"),
        (a * a / (b * c)).alias("r_squared"),
    )


# Poisson(1) inverse-CDF thresholds on the md5 u64 domain: T_k =
# floor(CDF(k)·2^64), computed ONCE here and inlined as the same integer
# literals in both engines (no cross-engine libm exp() in the plan).
_BOOT_B = 40
_BOOT_T = tuple(
    int(c * (1 << 64))
    for c in (
        lambda e: (e, 2 * e, 2.5 * e, 8 * e / 3)
    )(2.718281828459045**-1.0)
)


def events_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for mean per-user spend —
    THE distributed bootstrap (resampling-with-replacement is
    un-shardable; giving every (user, replica) an independent
    Poisson(1) weight is one map-side pass). Weights are DETERMINISTIC:
    u = md5_lower64('boot:r:user') against the inlined inverse-CDF
    integer thresholds (w ∈ 0..4 covers 99.6% of Poisson(1) mass; the
    truncation is part of the estimator's definition and identical in
    both engines). Every replica mean is ONE division of exact-int
    doubles (Σw·y, Σw BIGINTs) — bit-identical — and the percentile CI
    picks order statistics 2 and B−1 of the B=40 sorted replica means
    (ties broken by replica id), so the whole CI replays exactly in
    SQL. Plan: one user_id shuffle, a 40× replica explode that
    aggregates straight back down to 40 rows (map-side partials — the
    blow-up never hits the shuffle), one tiny sort."""
    from decimal import Decimal

    from tdigest_spark.operators.sample import md5_lower64

    peru = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y")
        )
    )
    peru = peru.localCheckpoint(eager=False)
    boot = peru.select(
        "user_id",
        "y",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
        ).alias("r"),
    )
    u = md5_lower64(
        F.concat(
            F.lit("boot:"),
            F.col("r").cast("string"),
            F.lit(":"),
            F.col("user_id").cast("string"),
        )
    )
    w = (
        F.when(u < F.lit(Decimal(_BOOT_T[0])), F.lit(0))
        .when(u < F.lit(Decimal(_BOOT_T[1])), F.lit(1))
        .when(u < F.lit(Decimal(_BOOT_T[2])), F.lit(2))
        .when(u < F.lit(Decimal(_BOOT_T[3])), F.lit(3))
        .otherwise(F.lit(4))
        .cast("long")
    )
    rep = (
        boot.withColumn("w", w)
        .groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("sw"),
            F.sum("w").alias("ww"),
        )
        .select(
            "r",
            (F.col("sw").cast("double") / F.col("ww").cast("double")).alias(
                "m"
            ),
        )
    )
    sorted_ms = rep.agg(
        F.sort_array(F.collect_list(F.struct("m", "r"))).alias("a")
    )
    point = peru.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("y").alias("ysum"),
    )
    return point.crossJoin(sorted_ms).select(
        "n_users",
        F.lit(_BOOT_B).cast("int").alias("b_replicas"),
        (F.col("ysum").cast("double") / F.col("n_users").cast("double")).alias(
            "mean_cents"
        ),
        F.element_at("a", 2)["m"].alias("ci_lo_cents"),
        F.element_at("a", _BOOT_B - 1)["m"].alias("ci_hi_cents"),
    )


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES FORECAST BACKTEST on the hourly event rate: the
    seasonal-naive model (ŷ_t = y_{t−24}) against the naive baseline
    (ŷ_t = y_{t−1}) over the final 168-hour holdout — the sanity
    benchmark every forecasting deployment must beat before anything
    fancier ships. Errors are |exact-int differences|, so both MAEs and
    the skill ratio (seasonal absolute-error sum / naive absolute-error
    sum; < 1 means the daily cycle is real signal) are single divisions
    of exact BIGINTs — bit-identical, unrounded. Backtest hours require
    BOTH lags to exist inside the series. Same scale story as the CUSUM
    screen: the ≤720-row hourly series rides one global window while
    the per-hour counts stay map-side partials."""
    hourly = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # VALUE-lags, not row-lags: empty hours are real gaps in the series
    # (row-24-back ≠ 24 hours back when an hour has zero events), so the
    # lags join on exact hour arithmetic — trivially broadcastable, the
    # series is calendar-bounded
    hourly = hourly.localCheckpoint(eager=False)
    hmax = hourly.agg(F.max("h").alias("hmax"))
    l24 = hourly.select(
        (F.col("h") + 24).alias("h"), F.col("c").alias("l24")
    )
    l1 = hourly.select(
        (F.col("h") + 1).alias("h"), F.col("c").alias("l1")
    )
    lagged = (
        hourly.join(l24, "h")
        .join(l1, "h")
        .crossJoin(F.broadcast(hmax))
        .where(F.col("h") > F.col("hmax") - 168)
    )
    agg = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_backtest_hours"),
        F.sum(F.abs(F.col("c") - F.col("l24"))).alias("ss"),
        F.sum(F.abs(F.col("c") - F.col("l1"))).alias("sn"),
    )
    return agg.select(
        "n_backtest_hours",
        (
            F.col("ss").cast("double")
            / F.col("n_backtest_hours").cast("double")
        ).alias("mae_seasonal"),
        (
            F.col("sn").cast("double")
            / F.col("n_backtest_hours").cast("double")
        ).alias("mae_naive"),
        (F.col("ss").cast("double") / F.col("sn").cast("double")).alias(
            "skill_ratio"
        ),
    )


def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION (recency / frequency / monetary — the classic
    marketing cube) WITHOUT the global-NTILE scale trap: a naive
    NTILE(4) OVER (ORDER BY metric) funnels every customer through one
    task, so instead each metric's quartile CUTS come from the
    distributed nearest-rank rule (smallest value whose cumulative
    customer count reaches ceil(p·n), prefix sums via
    distributed_value_cumsum — exact integers), and assignment is a
    map-side comparison against the three broadcast 1-row cut frames.
    Digits: 1+(v>c25)+(v>c50)+(v>c75) per metric (ties take the lower
    quartile — deterministic in both engines); R = last-order epoch-day
    (higher = more recent), F = order count, M = floor-cents lifetime
    value. Output: customers and money per RFM segment."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.expr(
                    "unix_micros(cast(o_orderdate as timestamp))"
                    " div 86400000000"
                )
            ).alias("r_day"),
            F.count(F.lit(1)).cast("long").alias("f_cnt"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("m_cents"),
        )
    )
    cust = cust.localCheckpoint(eager=False)
    n = cust.count()
    ks = ((n + 3) // 4, (n + 1) // 2, (3 * n + 3) // 4)

    def _cuts(col: str) -> DataFrame:
        vc = cust.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        d = distributed_value_cumsum(vc, value_col=col, weight_col="cnt")
        covered = F.col("prefix") + F.col("cnt")
        return d.agg(
            *[
                F.min(F.when(covered >= int(k), F.col(col))).alias(
                    f"{col}_c{i}"
                )
                for i, k in enumerate(ks, start=1)
            ]
        )

    scored = (
        cust.crossJoin(F.broadcast(_cuts("r_day")))
        .crossJoin(F.broadcast(_cuts("f_cnt")))
        .crossJoin(F.broadcast(_cuts("m_cents")))
    )

    def _q(col: str):
        return (
            F.lit(1)
            + F.when(F.col(col) > F.col(f"{col}_c1"), 1).otherwise(0)
            + F.when(F.col(col) > F.col(f"{col}_c2"), 1).otherwise(0)
            + F.when(F.col(col) > F.col(f"{col}_c3"), 1).otherwise(0)
        ).cast("int")

    return (
        scored.select(
            F.concat(
                _q("r_day").cast("string"),
                _q("f_cnt").cast("string"),
                _q("m_cents").cast("string"),
            ).alias("segment"),
            "m_cents",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m_cents").alias("segment_cents"),
        )
        .orderBy("segment")
    )


def events_type_dow_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHI-SQUARE TEST OF INDEPENDENCE between event type and day-of-week
    (the contingency twin of the hour-of-day goodness-of-fit screen:
    "does the type mix shift across the week?") plus CRAMÉR'S V effect
    size. Day-of-week is epoch-day mod 7 — pure integer arithmetic, no
    engine DOW-convention mismatch (Spark counts from Sunday=1, DuckDB
    from Sunday=0). Observed/row/column/grand totals are exact BIGINTs
    (rt·ct ≤ N² ≈ 1e10), each cell term (o−e)²/e is spelled identically
    (e = one division of exact ints), and ROUND 6 absorbs only the
    35-cell summation order. V = sqrt(χ²/(N·min(r−1,c−1))) uses the
    UNROUNDED sum. Plan: ONE scan to a 35-cell contingency agg; margins
    re-aggregate from the cells and broadcast back — nothing reads the
    fact table twice."""
    cells = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("t"),
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000 % 7"
            ).alias("d"),
        )
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    cells = cells.localCheckpoint(eager=False)
    rt = cells.groupBy("t").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("d").agg(F.sum("o").alias("ct"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("t").cast("long").alias("r"),
        F.count_distinct("d").cast("long").alias("c"),
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast(
        "double"
    )
    term = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    j = (
        cells.join(F.broadcast(rt), "t")
        .join(F.broadcast(ct), "d")
        .crossJoin(F.broadcast(tot))
    )
    agg2 = j.agg(
        F.first("n").alias("n_events"),
        F.first("r").alias("r"),
        F.first("c").alias("c"),
        F.sum(term).alias("chi2_raw"),
    )
    return agg2.select(
        "n_events",
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round(F.col("chi2_raw"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (
                    F.col("n_events")
                    * F.least(F.col("r") - 1, F.col("c") - 1)
                ).cast("double")
            ),
            6,
        ).alias("cramers_v"),
    )


def events_user_survival_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NELSON-AALEN cumulative hazard of TIME-TO-FIRST-PURCHASE —
    survival analysis with RIGHT CENSORING (the conversion question
    "how fast do users convert?", asked properly: a user who never
    purchased isn't a zero, they're censored at the end of their
    observation window). Duration = first-purchase day − first-event
    day; never-purchasers carry duration window-max − first-event day,
    censored. Risk sets and event counts are exact integers via an
    exclusive prefix window over the ≤31 distinct day-durations
    (calendar-bounded — the global window is scale-safe, per the
    CUSUM/backtest precedent); each hazard increment d/n is ONE
    division of exact-int doubles (bit-identical, unrounded). The
    cumulative hazard is a running double sum whose ASSOCIATION ORDER
    an engine may choose (DuckDB's segment-tree window vs Spark's
    sequential scan), so it — and only it — carries ROUND 6. The KM
    product-form survival curve is deliberately NOT emitted: exp/ln
    round-trips are libm-dependent cross-engine; the hazard form is
    the exact one."""
    days = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    peru = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            days.alias("day"),
            (F.col("event_type") == "purchase").alias("is_p"),
        )
        .groupBy("user_id")
        .agg(
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
            F.min(F.when(F.col("is_p"), F.col("day"))).alias("dp"),
        )
    )
    peru = peru.localCheckpoint(eager=False)
    gmax = peru.agg(F.max("d1").alias("gmax"))
    marked = peru.crossJoin(F.broadcast(gmax)).select(
        (
            F.coalesce(F.col("dp"), F.col("gmax")) - F.col("d0")
        ).alias("t_days"),
        F.col("dp").isNull().alias("censored"),
    )
    durs = marked.groupBy("t_days").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    w = Window.orderBy("t_days")
    risk = durs.select(
        "t_days",
        "d",
        (
            F.sum(F.col("d") + F.col("c")).over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("n_risk"),
    ).where(F.col("d") > 0)
    hz = risk.select(
        "t_days",
        "n_risk",
        F.col("d").alias("n_deaths"),
        (F.col("d").cast("double") / F.col("n_risk").cast("double")).alias(
            "hazard"
        ),
    )
    return hz.select(
        "t_days",
        "n_risk",
        "n_deaths",
        "hazard",
        F.round(
            F.sum("hazard").over(
                Window.orderBy("t_days").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
            6,
        ).alias("cum_hazard"),
    ).orderBy("t_days")


def events_metric_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE-PASS PEARSON CORRELATION MATRIX over three per-user metrics —
    activity (event count), spend (floor-cents sum), peak (max single
    event cents — breadth was the natural third pick but is DEGENERATE
    here: every user touches all 5 types, zero variance ⇒ ANSI
    divide-by-zero) — the co-moment pattern: all 9 moment sums
    accumulate in a single aggregate (map-side partials), so the full
    matrix costs one user_id shuffle regardless of how many metric
    pairs there are. Every moment is an exact BIGINT; each r is exact-int
    subtractions + two sqrts + one division, bit-identical unrounded
    (the Spearman/OLS arithmetic contract)."""
    u = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("a"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("s"),
            F.max(F.floor(F.col("value") * 100).cast("long")).alias("b"),
        )
    )
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.col(c)).alias(f"s{c}")
            for c in ("a", "s", "b")
        ],
        *[
            F.sum(F.col(x) * F.col(y)).alias(f"s{x}{y}")
            for x, y in (
                ("a", "a"),
                ("s", "s"),
                ("b", "b"),
                ("a", "s"),
                ("a", "b"),
                ("s", "b"),
            )
        ],
    )

    def _r(x: str, y: str):
        num = (
            F.col("n") * F.col(f"s{x}{y}") - F.col(f"s{x}") * F.col(f"s{y}")
        ).cast("double")
        dx = F.sqrt(
            (
                F.col("n") * F.col(f"s{x}{x}")
                - F.col(f"s{x}") * F.col(f"s{x}")
            ).cast("double")
        )
        dy = F.sqrt(
            (
                F.col("n") * F.col(f"s{y}{y}")
                - F.col(f"s{y}") * F.col(f"s{y}")
            ).cast("double")
        )
        return num / (dx * dy)

    return m.select(
        F.col("n").alias("n_users"),
        _r("a", "s").alias("r_activity_spend"),
        _r("a", "b").alias("r_activity_peak"),
        _r("s", "b").alias("r_spend_peak"),
    )


def events_simpson_slope_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SIMPSON'S-PARADOX SCREEN on the value-over-time trend: the pooled
    OLS slope of event value (cents) against event hour vs the same
    slope WITHIN each event type — sign reversals mean the pooled trend
    is a mixture artifact, the first thing to rule out before reporting
    any "values are drifting" conclusion. The grouped regression is the
    exact-moment OLS run per type in one aggregate; hours re-base to the
    window start so every moment stays an exact BIGINT (n·Σxy ≤ ~4e17 at
    sf0.1 — 20× under the int64 ceiling; the slope numerator/denominator
    are exact BIGINTs whose double CASTS are correctly rounded and hence
    identical in both engines even past 2^53, so the single division
    stays bit-identical, unrounded). The reversal flag is an exact sign
    comparison of those identical doubles. Output: one row per type +
    the pooled row."""
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h"),
            F.floor(F.col("value") * 100).cast("long").alias("y"),
        )
    )
    e = e.localCheckpoint(eager=False)
    hmin = e.agg(F.min("h").alias("h0"))
    base = e.crossJoin(F.broadcast(hmin)).select(
        "g", (F.col("h") - F.col("h0")).alias("x"), "y"
    )

    def _moments(df, label):
        return df.agg(
            F.lit(label).alias("g"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )

    grouped = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    pooled = _moments(base, "ALL")
    allm = grouped.unionByName(pooled)
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    sl = allm.select("g", F.col("n").alias("n_events"), slope.alias("slope"))
    sl = sl.localCheckpoint(eager=False)
    pooled_sign = sl.where(F.col("g") == "ALL").select(
        F.signum("slope").alias("pooled_sign")
    )
    return (
        sl.crossJoin(F.broadcast(pooled_sign))
        .select(
            "g",
            "n_events",
            "slope",
            (
                (F.col("g") != "ALL")
                & (F.signum("slope") != F.col("pooled_sign"))
            ).alias("sign_reversed"),
        )
        .orderBy("g")
    )


def events_ab_cuped_adjustment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al. 2013 —
    the adjustment every mature experimentation platform applies):
    outcome Y = per-user spend in the SECOND half of the window,
    covariate X = the same user's FIRST-half spend, variant = the
    deterministic md5 parity split (events_value_psi's halves). The
    adjusted outcome Y − θ(X − X̄) with θ = cov(X,Y)/var(X) (θ from the
    POOLED sample — variant-independent by construction, so the
    adjustment cannot bias the diff) shrinks variance by corr(X,Y)².
    All moment sums are exact BIGINTs in ONE user-grouped pass; θ, both
    diffs, both variances and the reduction fraction are fixed scalar
    expression trees over those exact ints (no data-order float
    summation anywhere), spelled identically in both engines —
    bit-identical, UNROUNDED. Output: raw and CUPED-adjusted treatment
    diffs, and the achieved variance-reduction fraction."""
    from tdigest_spark.operators.sample import md5_lower64

    mid = F.col("hmid")
    peru = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    peru = peru.localCheckpoint(eager=False)
    bounds = peru.agg(
        F.expr("(min(h) + max(h)) div 2").alias("hmid")
    )
    ux = (
        peru.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("h") < mid, F.col("cents")).otherwise(0)).alias(
                "x"
            ),
            F.sum(
                F.when(F.col("h") >= mid, F.col("cents")).otherwise(0)
            ).alias("y"),
        )
        .select(
            "x",
            "y",
            (
                md5_lower64(
                    F.concat(F.lit("ab:"), F.col("user_id").cast("string"))
                )
                % 2
                == 0
            ).alias("t"),
        )
    )
    m = ux.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.when(F.col("t"), 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("t"), F.col("y")).otherwise(0)).alias("syt"),
        F.sum(F.when(~F.col("t"), F.col("y")).otherwise(0)).alias("syc"),
        F.sum(F.when(F.col("t"), F.col("x")).otherwise(0)).alias("sxt"),
        F.sum(F.when(~F.col("t"), F.col("x")).otherwise(0)).alias("sxc"),
    )
    nD = F.col("n").cast("double")
    theta = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    ntD = F.col("nt").cast("double")
    ncD = (F.col("n") - F.col("nt")).cast("double")
    diff_raw = F.col("syt").cast("double") / ntD - F.col(
        "syc"
    ).cast("double") / ncD
    diff_cuped = diff_raw - theta * (
        F.col("sxt").cast("double") / ntD
        - F.col("sxc").cast("double") / ncD
    )
    var_raw = (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    ).cast("double") / (nD * nD)
    # var(Y − θX) = var(Y) − 2θ·cov + θ²·var(X), all from the same moments
    cov = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (nD * nD)
    var_x = (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double") / (nD * nD)
    var_adj = var_raw - F.lit(2.0) * theta * cov + theta * theta * var_x
    return m.select(
        F.col("n").alias("n_users"),
        F.col("nt").alias("n_treat"),
        theta.alias("theta"),
        diff_raw.alias("diff_raw"),
        diff_cuped.alias("diff_cuped"),
        (F.lit(1.0) - var_adj / var_raw).alias("var_reduction"),
    )


_PERM_B = 60


def events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOMIZATION TEST for the purchase-vs-view mean value gap — the
    nonparametric twin of events_welch_ttest_value (no normality or
    equal-variance assumption; under H0 exchangeability the labels are
    arbitrary). Monte-Carlo relabeling is DETERMINISTIC: replica r
    assigns each event to side A iff md5_lower64('perm:r:event_id') <
    2^63 (an exact threshold literal — the p=1/2 random-split variant of
    the permutation test, standard for large n where fixing group sizes
    changes nothing). Every replica statistic d_r = ΣA/nA − ΣB/nB is two
    single divisions of exact-int cents and one subtract — bit-identical
    doubles — so the tail count #{|d_r| ≥ |d_obs|} and the p-value
    (1+k)/(B+1) replay exactly in SQL. Plan: one observed-groups agg +
    a B× explode that collapses map-side to 2·B partial rows; no joins
    except the final 1-row broadcast cross."""
    from decimal import Decimal

    from tdigest_spark.operators.sample import md5_lower64

    base = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            (F.col("event_type") == "purchase").alias("is_p"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    base = base.localCheckpoint(eager=False)
    obs = base.agg(
        F.sum(F.when(F.col("is_p"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("is_p"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("is_p"), F.col("cents")).otherwise(0)).alias(
            "s_a"
        ),
        F.sum(F.when(~F.col("is_p"), F.col("cents")).otherwise(0)).alias(
            "s_b"
        ),
    ).select(
        "n_a",
        "n_b",
        (
            F.col("s_a").cast("double") / F.col("n_a").cast("double")
            - F.col("s_b").cast("double") / F.col("n_b").cast("double")
        ).alias("diff_obs"),
    )
    rep = base.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("r"),
    )
    in_a = md5_lower64(
        F.concat(
            F.lit("perm:"),
            F.col("r").cast("string"),
            F.lit(":"),
            F.col("event_id").cast("string"),
        )
    ) < F.lit(Decimal(1 << 63))
    diffs = (
        rep.withColumn("a", in_a)
        .groupBy("r")
        .agg(
            F.sum(F.when(F.col("a"), F.col("cents")).otherwise(0)).alias(
                "sa"
            ),
            F.sum(F.when(F.col("a"), 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(
                F.when(~F.col("a"), F.col("cents")).otherwise(0)
            ).alias("sb"),
            F.sum(F.when(~F.col("a"), 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
        .select(
            "r",
            (
                F.col("sa").cast("double") / F.col("ca").cast("double")
                - F.col("sb").cast("double") / F.col("cb").cast("double")
            ).alias("d"),
        )
    )
    tail = obs.crossJoin(F.broadcast(diffs)).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.first("diff_obs").alias("diff_obs"),
        F.sum(
            F.when(
                F.abs(F.col("d")) >= F.abs(F.col("diff_obs")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("k_extreme"),
    )
    return tail.select(
        "n_a",
        "n_b",
        "diff_obs",
        F.lit(_PERM_B).cast("int").alias("b_replicas"),
        "k_extreme",
        (
            (F.lit(1) + F.col("k_extreme")).cast("double")
            / F.lit(float(_PERM_B + 1))
        ).alias("p_value"),
    )


def _permutation_oracle_sql(b: int = _PERM_B) -> str:
    """SQL twin of events_permutation_test (same md5 threshold, same
    single-division arithmetic — see the query docstring)."""
    return f"""
        WITH base AS (
          SELECT event_id, event_type = 'purchase' AS is_p,
                 CAST(FLOOR(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type IN ('purchase', 'view')
        ), obs AS (
          SELECT CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_b,
                 CAST(CAST(SUM(CASE WHEN is_p THEN cents ELSE 0 END)
                      AS BIGINT) AS DOUBLE)
                   / CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 - CAST(CAST(SUM(CASE WHEN is_p THEN 0 ELSE cents END)
                      AS BIGINT) AS DOUBLE)
                   / CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END)
                      AS DOUBLE) AS diff_obs
          FROM base
        ), rep AS (
          SELECT CAST(t.r AS INTEGER) AS r, cents,
                 md5_number_lower('perm:' || CAST(t.r AS VARCHAR) || ':'
                                  || CAST(event_id AS VARCHAR))
                   < CAST(9223372036854775808 AS UBIGINT) AS a
          FROM base, generate_series(0, {b - 1}) AS t(r)
        ), diffs AS (
          SELECT r,
                 CAST(CAST(SUM(CASE WHEN a THEN cents ELSE 0 END)
                      AS BIGINT) AS DOUBLE)
                   / CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE)
                 - CAST(CAST(SUM(CASE WHEN a THEN 0 ELSE cents END)
                      AS BIGINT) AS DOUBLE)
                   / CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS DOUBLE)
                   AS d
          FROM rep GROUP BY r
        )
        SELECT n_a, n_b, diff_obs, CAST({b} AS INTEGER) AS b_replicas,
               CAST(SUM(CASE WHEN ABS(d) >= ABS(diff_obs) THEN 1 ELSE 0
                    END) AS BIGINT) AS k_extreme,
               CAST(1 + SUM(CASE WHEN ABS(d) >= ABS(diff_obs)
                    THEN 1 ELSE 0 END) AS DOUBLE) / CAST({b + 1} AS
                    DOUBLE) AS p_value
        FROM obs, diffs
        GROUP BY n_a, n_b, diff_obs
    """


def _bootstrap_oracle_sql(b: int = _BOOT_B) -> str:
    """SQL twin of events_bootstrap_mean_ci: the same inlined Poisson
    inverse-CDF integer thresholds against DuckDB md5_number_lower
    (== the Spark md5_lower64 column, proven across the dedup family),
    replica means as single divisions of exact ints, order-statistic CI
    via ROW_NUMBER."""
    t0, t1, t2, t3 = _BOOT_T
    return f"""
        WITH peru AS (
          SELECT user_id,
                 CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS y
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ), boot AS (
          SELECT user_id, y, CAST(t.r AS INTEGER) AS r
          FROM peru, generate_series(0, {b - 1}) AS t(r)
        ), wts AS (
          SELECT r, y,
                 CASE
                   WHEN u < CAST({t0} AS UBIGINT) THEN 0
                   WHEN u < CAST({t1} AS UBIGINT) THEN 1
                   WHEN u < CAST({t2} AS UBIGINT) THEN 2
                   WHEN u < CAST({t3} AS UBIGINT) THEN 3
                   ELSE 4
                 END AS w
          FROM (
            SELECT r, y,
                   md5_number_lower('boot:' || CAST(r AS VARCHAR) || ':'
                                    || CAST(user_id AS VARCHAR)) AS u
            FROM boot
          )
        ), rep AS (
          SELECT r,
                 CAST(CAST(SUM(w * y) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS m
          FROM wts GROUP BY r
        ), ranked AS (
          SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rn FROM rep
        ), point AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(y) AS BIGINT) AS ysum
          FROM peru
        )
        SELECT n_users, CAST({b} AS INTEGER) AS b_replicas,
               CAST(ysum AS DOUBLE) / CAST(n_users AS DOUBLE)
                 AS mean_cents,
               (SELECT m FROM ranked WHERE rn = 2) AS ci_lo_cents,
               (SELECT m FROM ranked WHERE rn = {b - 1}) AS ci_hi_cents
        FROM point
    """


def orders_pipe_syntax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX (Spark 4.x `|>` operators — the linear FROM-first
    dialect): order-priority pricing rollup written as
    FROM |> WHERE |> EXTEND |> AGGREGATE … GROUP BY |> ORDER BY. The
    pipe form lowers to the identical Catalyst plan as nested SQL (same
    pushdown/pruning), which the plain-SQL oracle twin states exactly.
    Money sums in exact floor-cents BIGINTs; the avg is one division of
    exact-int doubles — bit-identical, unrounded."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus <> 'P'
        |> EXTEND CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n_orders,
                     SUM(cents) AS total_cents,
                     CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS avg_cents
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


def lineitem_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY EXPECTATIONS suite (the dbt-test / Great-Expectations
    contract every ingest gate runs): five checks over lineitem in ONE
    result — composite-key uniqueness (violations = extra rows per
    duplicated (orderkey, linenumber)), referential integrity into
    orders (anti-join count — null-safe: l_orderkey IS NOT NULL rows
    only feed the FK check, nulls surface in their own check), accepted
    range on quantity [1, 50], accepted range on discount [0, 0.1]
    (floor-cents-free: compared against exact binary literals 0 and
    decimal 0.1 CAST to double identically), and not-null on shipdate.
    Each row: check name, rows checked, violations, pass flag. The FK
    probe is the only join (orders keys broadcast as a distinct id
    set); everything else is map-side conditional partials in one scan
    group — shape survives 100 TB because violations aggregate before
    leaving the executor."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey").distinct()
    n_all = li.agg(F.count(F.lit(1)).cast("long")).first()[0]
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .where(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long"))
        .first()[0]
    )
    fk = (
        li.where(F.col("l_orderkey").isNotNull())
        .join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long"))
        .first()[0]
    )
    ranges = li.agg(
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0)
                | (F.col("l_discount") > F.lit(0.1).cast("double")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("disc"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("nulls"),
    ).first()
    rows = [
        ("1_pk_unique", n_all, dup),
        ("2_fk_orders", n_all, fk),
        ("3_quantity_range", n_all, int(ranges["qty"])),
        ("4_discount_range", n_all, int(ranges["disc"])),
        ("5_shipdate_not_null", n_all, int(ranges["nulls"])),
    ]
    return spark.createDataFrame(
        [(c, n, v, v == 0) for c, n, v in rows],
        "check_name string, n_checked long, n_violations long, passed boolean",
    ).orderBy("check_name")


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE CHANGEPOINT SCREEN on the hourly event-rate series — the
    CUSUM-style statistic max_t |n·S_t − t·N| (S_t = events through hour
    t, N = total, n = #hours): the hour where the cumulative count
    deviates most from the constant-rate line, i.e. where the rate
    shifted. Everything stays EXACT 64-bit integer (n·S_t ≤ 720·N; the
    normalized statistic is one division of exact-int doubles — bit-
    identical, no rounding); the argmax tie-breaks to the earliest hour.
    The global window here is SCALE-SAFE by construction: its input is
    one row per HOUR (≤720 over the table's fixed 30-day span) — hours
    grow with calendar time, not data volume, so at 100 TB the window
    still sees ≤ a-few-thousand rows while the heavy lifting (the
    per-hour counts) stays a map-side partial agg."""
    hourly = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy("h")
    cum = hourly.select(
        "h",
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("s"),
        F.row_number().over(w).cast("long").alias("t"),
    )
    tot = cum.agg(
        F.max("t").alias("n_hours"), F.max("s").alias("n_events")
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "h",
        "n_hours",
        "n_events",
        F.abs(
            F.col("n_hours") * F.col("s") - F.col("t") * F.col("n_events")
        ).alias("d"),
    )
    return (
        d.orderBy(F.col("d").desc(), F.col("h").asc())
        .limit(1)
        .select(
            F.col("h").alias("change_hour"),
            F.col("d").alias("d_stat"),
            (
                F.col("d").cast("double")
                / (F.col("n_hours") * F.col("n_events")).cast("double")
            ).alias("d_norm"),
        )
    )


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern FUNNEL (the MATCH_RECOGNIZE-lite every product
    analytics stack runs): per user, first signup, then the first
    purchase AT OR AFTER it; converted = within 24h. Two tiny aggregates
    + one user_id join — never an event×event self-join; at 100 TB both
    aggregates are map-side-partial shuffles on user_id and the join is
    user-cardinality. Exactness: integer microsecond arithmetic, counts,
    and identically-spelled divisions of exact integers — left
    UNROUNDED, because IEEE division is bit-identical across engines
    while Python round() (banker's) vs DuckDB ROUND (half-up) diverge on
    genuine .5 ties of small-int ratios (the 250/256 lesson)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).where(F.col("user_id").isNotNull())
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("s_us"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("us") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"), F.first("s_us").alias("s_us"))
    )
    conv = p.where(F.col("p_us") - F.col("s_us") <= 24 * 3_600_000_000)
    n_signup = s.count()
    agg = conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.sum(F.col("p_us") - F.col("s_us")).alias("d_us"),
    ).collect()[0]
    n_conv, d_us = int(agg["n_converted"]), int(agg["d_us"] or 0)
    rate = n_conv / n_signup if n_signup else 0.0
    avg_min = (d_us / n_conv) / 60_000_000.0 if n_conv else 0.0
    return spark.createDataFrame(
        [(n_signup, n_conv, rate, avg_min)],
        "n_signup_users long, n_converted long, conv_rate double, "
        "avg_minutes_to_convert double",
    )


def doc_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW FIT over the corpus vocabulary — the distributional
    health check run on every new ingest source (natural text slopes
    ~−1; a far-off slope flags boilerplate or spam): least-squares slope
    of ln(freq) on ln(rank) over the TOP-1000 words. The word histogram
    is the only corpus-sized stage; ranking and the five regression sums
    are vocab-bounded. Exactness: the top-1000 cut is a total order
    (count DESC, word); restricting the ln-sums to 1000 terms keeps
    summation-order noise ~1e-12 — absorbed by ROUND 6 (the same budget
    doc_pmi_collocations proved out); slope/intercept are spelled as the
    identical closed forms in both engines."""
    words = (
        _t(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        words.select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), F.asc("w")))
            .alias("r"),
        )
        .where(F.col("r") <= 1000)
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    agg = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return agg.select(
        F.col("n"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("slope"),
        F.round(
            (F.col("sy") - ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
            * F.col("sx"))
            / F.col("n"),
            6,
        ).alias("intercept"),
    )


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RETRIEVAL scoring (k1=1.2, b=0.75) — the lexical-search rank
    function a RAG corpus is probed with — for a fixed 3-term query over
    the documents table. Shape that holds at 100 TB: one word-explode
    pass filtered TO THE QUERY TERMS at the scan (term dictionary is a
    literal IN-list — no full posting build), per-(doc, term) tf counts,
    idf from corpus-level doc frequencies (3-row broadcast), score =
    sum over matched terms. Exactness: tf/df/doc-length are exact
    integers; the BM25 formula is spelled per-term identically in both
    engines (single-rounding double ops), ROUND 6 absorbs summation
    order; ties broken by doc_id. Top 25."""
    terms = ["the", "data", "model"]
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("w"),
    ).where(F.col("w") != "")
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.count()
    avgdl_row = dl.agg(
        F.sum("dl").alias("s"), F.count(F.lit(1)).alias("c")
    ).collect()[0]
    # avgdl as ONE division of exact integers (IEEE-identical in SQL)
    avgdl = int(avgdl_row["s"]) / int(avgdl_row["c"])
    tf = (
        words.where(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    scored = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * (F.col("dl") / F.lit(avgdl))
                    )
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(25)


def discrete_quantity_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation COMPOSED from two digest passes: the
    Nearest-Rank median of l_quantity (discrete digest — exact map state,
    so the median is an actual data value), then a second discrete digest
    over |x − median|. Both stages are exact, so MAD has a closed-form SQL
    twin; the deviations stay integer-valued in double (IEEE-exact both
    engines). The robust-statistics companion to tdigest_trimmed_mean."""
    from tdigest_spark.operators.aggregate import TDIGEST_DISCRETE, build_sketch

    d1 = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST_DISCRETE())}
    )["s"]
    med = float(d1.quantile(0.5))
    dev = _t(spark, sf_dir, "lineitem").select(
        F.abs(F.col("l_quantity").cast("double") - F.lit(med)).alias("dev")
    )
    d2 = build_sketch(dev, "dev", TDIGEST_DISCRETE())
    mad = float(d2.quantile(0.5))
    return spark.createDataFrame([(med, mad)], "median double, mad double")


def purchase_prior_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (custom operator; mandate example alongside as-of join):
    each purchase event joined to the SAME user's events in the preceding
    30 minutes (attribution lookback). Bucket-expansion plan: time cut
    into interval-width buckets, left side exploded to its <=2 covered
    buckets, plain shuffled equi-join on (user_id, bucket) + integer-µs
    residual filter — NOT the BroadcastNestedLoopJoin Spark would plan
    for a bare inequality join. Scale: movement is O(2|L| + |R|)."""
    from tdigest_spark.operators.relational import range_join

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    others = ev.select(
        F.col("event_id").alias("prior_id"),
        "user_id",
        F.col("ts").alias("prior_ts"),
        F.col("event_type").alias("prior_type"),
    )
    pairs = range_join(
        purchases, others, "ts", "prior_ts", -1800.0, 0.0, on=["user_id"]
    ).where(F.col("prior_id") != F.col("event_id"))
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_prior"),
        F.sum(
            F.when(F.col("prior_type") == "view", 1).otherwise(0)
        ).cast("long").alias("n_prior_views"),
    )
    return (
        purchases.select("event_id")
        .join(agg, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_prior", F.lit(0).cast("long")).alias("n_prior"),
            F.coalesce("n_prior_views", F.lit(0).cast("long")).alias(
                "n_prior_views"
            ),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# sketch queries (exact-by-construction configurations for the oracle gate)
# --------------------------------------------------------------------------


def tdigest_quantity_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed t-digest over l_quantity (50 distinct values, 60k rows):
    exact-duplicate absorption collapses every value to one centroid with no
    capacity merging, so centroids == exact GROUP BY counts. This gates the
    whole build->merge pipeline bit-exactly."""
    from tdigest_spark.operators.aggregate import TDIGEST

    d = _scan_build(spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST(0.01))})["s"]
    rows = [(float(m), float(w)) for m, w in d.centroids()]
    return spark.createDataFrame(rows, "mean double, n double").orderBy("mean")


def tdigest_quantity_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdf(x) of the distributed digest at the exact data values: equals the
    mid-CDF (count_lt + count_eq/2)/n — the reference's boundary half-weight
    rule (tdigest.js:220-224) — closed-form in SQL."""
    from tdigest_spark.operators.aggregate import TDIGEST

    d = _scan_build(spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST(0.01))})["s"]
    xs = [1.0, 5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0, 45.0, 50.0]
    rows = [(x, float(d.cdf(x))) for x in xs]
    return spark.createDataFrame(rows, "x double, cdf double").orderBy("x")


def lineitem_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-bucket classification — the PROBE side of the sketch
    surface at table scale: every row gets its quartile from the digest's
    mid-CDF at the row's value. The (distinct value -> bucket) dimension
    is computed from the O(KB) digest state driver-side and
    broadcast-joined; classification and the rollup are pure codegen (no
    per-row Python, no second shuffle beyond the rollup's). Exact oracle:
    cdf(v) == (count_lt + count_eq/2)/n, whose numerator/denominator are
    exact in double, so bucket thresholds compare bit-identically in SQL
    (same guarantee tdigest_quantity_cdf gates)."""
    from tdigest_spark.operators.aggregate import TDIGEST

    li = _t(spark, sf_dir, "lineitem")
    d = _scan_build(spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST(0.01))})["s"]
    vals = sorted(
        r.v
        for r in li.select(F.col("l_quantity").cast("double").alias("v"))
        .distinct()
        .collect()
    )
    dim = [
        (float(v), 1 + sum(float(d.cdf(v)) > t for t in (0.25, 0.5, 0.75)))
        for v in vals
    ]
    dim_df = spark.createDataFrame(dim, "v double, bucket int")
    return (
        li.join(F.broadcast(dim_df), li.l_quantity.cast("double") == dim_df.v)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("bucket")
    )


def tdigest_quantity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantile(p) of the distributed digest: linear interpolation between
    singleton-value centroids, mirrored exactly by the SQL oracle."""
    from tdigest_spark.operators.aggregate import TDIGEST

    d = _scan_build(spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST(0.01))})["s"]
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 0.95]
    rows = [(p, float(np.round(d.quantile(p), 6))) for p in ps]
    return spark.createDataFrame(rows, "p double, q double").orderBy("p")


def tdigest_tree_merged_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-2 scale path end-to-end: per-partition partial states merged
    by the DETERMINISTIC distributed tree rounds (tree_merge_states —
    sorted rank groups, log-depth fan-in; the treeAggregate analogue per
    the north_star) instead of the driver-side fold. Singleton-value
    centroids make the result exact, so the oracle equals the plain
    quantile interpolation SQL."""
    from tdigest_spark.operators.aggregate import (
        TDIGEST,
        partials_df,
        tree_merge_states,
    )
    from tdigest_spark.sketch.tdigest import TDigest

    li = _t(spark, sf_dir, "lineitem").repartition(8)
    parts = partials_df(li, {"d": ("l_quantity", TDIGEST(0.01))})
    blob = tree_merge_states(parts, TDIGEST(0.01), state_col="state_d", fanout=4)
    d = TDigest.from_bytes(blob)
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 0.95]
    rows = [(p, float(np.round(d.quantile(p), 6))) for p in ps]
    return spark.createDataFrame(rows, "p double, q double").orderBy("p")


def tdigest_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable checkpointed build end-to-end (north_rule: 'resumable
    from checkpoint with per-partition lineage + metrics'): a first build
    writes durable batch states + lineage; a second independent
    CheckpointedBuild over the same dir returns the identical digest with
    ZERO batches re-scanned (verified via its metrics), and the quantiles
    carry the same closed-form oracle as the direct build."""
    import tempfile

    from tdigest_spark.operators.aggregate import TDIGEST
    from tdigest_spark.plans.checkpoint import CheckpointedBuild

    path = f"{sf_dir}/lineitem.parquet"
    with tempfile.TemporaryDirectory() as ckpt:
        cb1 = CheckpointedBuild(ckpt, {"d": ("l_quantity", TDIGEST(0.01))})
        first = cb1.run(spark, path)["d"]
        cb2 = CheckpointedBuild(ckpt, {"d": ("l_quantity", TDIGEST(0.01))})
        resumed = cb2.run(spark, path)["d"]
        metrics = cb2.metrics()
    assert resumed.to_bytes() == first.to_bytes()
    assert len(metrics) >= 1 and all(m["rows"] > 0 for m in metrics)
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 0.95]
    rows = [(p, float(np.round(resumed.quantile(p), 6))) for p in ps]
    return spark.createDataFrame(rows, "p double, q double").orderBy("p")


def tdigest_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summary() surface (tdigest.js:59-68): n, centroid count, and the
    five-point min/Q1/median/Q3/max summary of the distributed digest.
    percentile(0)/percentile(1) are the exact tracked min/max (boundary
    centroids never merged, tdigest.js:179-182); the quartiles are
    closed-form on singleton-value centroids."""
    from tdigest_spark.operators.aggregate import TDIGEST

    d = _scan_build(spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST(0.01))})["s"]
    text = d.summary()
    assert text.startswith("approx.") and "Q2" in text, text
    qs = d.quantile([0.0, 0.25, 0.5, 0.75, 1.0])
    rows = [
        (p, float(np.round(q, 6)))
        for p, q in zip([0.0, 0.25, 0.5, 0.75, 1.0], qs)
    ]
    return spark.createDataFrame(rows, "p double, q double").orderBy("p")


def tdigest_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WEIGHTED ingest — the reference's push(x, n) n!=1 form
    (tdigest.js:82-91) — quantiles of l_quantity where each row carries
    l_linenumber mass. Centroids stay singleton-per-value (exact-duplicate
    absorption), so the weighted interpolation has a closed-form SQL
    mirror with SUM(weight) in place of COUNT(*)."""
    from tdigest_spark.operators.aggregate import build_weighted_digest

    d = build_weighted_digest(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_linenumber", 0.01
    )
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 0.95]
    rows = [(p, float(np.round(d.quantile(p), 6))) for p in ps]
    return spark.createDataFrame(rows, "p double, q double").orderBy("p")


def tdigest_weighted_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED weighted ingest (VERDICT r3 item 6 — the global
    build_weighted_digest now composes with the monitoring shape): one
    weighted t-digest per l_returnflag, l_quantity weighted by
    l_linenumber mass, built two-phase (per-partition-per-key partials,
    state-only shuffle). l_quantity is duplicate-heavy so every group's
    centroids stay singleton-per-value and the weighted interpolation has
    a closed-form SQL mirror with SUM(weight) per (flag, value) —
    exact-by-construction, per group."""
    from tdigest_spark.operators.aggregate import build_weighted_digest_grouped
    from tdigest_spark.sketch.tdigest import TDigest

    states = build_weighted_digest_grouped(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_quantity",
        "l_linenumber",
        0.01,
    ).collect()
    ps = [0.25, 0.5, 0.75, 0.9]
    rows = []
    for r in sorted(states, key=lambda r: r["l_returnflag"]):
        d = TDigest.from_bytes(bytes(r["state"]))
        for p in ps:
            rows.append(
                (r["l_returnflag"], p, float(np.round(d.quantile(p), 6)))
            )
    return spark.createDataFrame(
        rows, "flag string, p double, q double"
    ).orderBy("flag", "p")


def discrete_quantile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-mode digest (exact map, Nearest-Rank quantiles —
    tdigest.js:277-280) over l_quantity, built distributed."""
    from tdigest_spark.operators.aggregate import TDIGEST_DISCRETE

    d = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST_DISCRETE())}
    )["s"]
    ps = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    rows = [(p, float(d.quantile(p))) for p in ps]
    return spark.createDataFrame(rows, "p double, q double").orderBy("p")


def tdigest_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trimmed_mean(lo, hi) of the distributed digest: centroid mass
    straddling the rank cuts is pro-rated (Dunning's reference Java
    semantics; absent in welch/tdigest). On l_quantity centroids are exact
    GROUP BY counts, so the SQL mirror is closed-form."""
    from tdigest_spark.operators.aggregate import TDIGEST

    d = _scan_build(spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST(0.01))})["s"]
    wins = [(0.0, 1.0), (0.05, 0.95), (0.1, 0.9), (0.25, 0.75)]
    rows = [
        (lo, hi, float(np.round(d.trimmed_mean(lo, hi), 6))) for lo, hi in wins
    ]
    return spark.createDataFrame(
        rows, "lo double, hi double, tmean double"
    ).orderBy("lo")


def tdigest_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """winsorized_mean(lo, hi) of the distributed digest — the robust
    mean that CLAMPS the tails to the quantile cut values instead of
    dropping them (n stays constant; the de-outliering step feature
    pipelines run before normalization). lo·n points contribute
    quantile(lo) each, the body its pro-rated centroid mass (the
    trimmed_mean numerator), the top (1−hi)·n contribute quantile(hi).
    On l_quantity centroids are exact GROUP BY counts and the digest's
    quantile interpolation is closed-form, so the SQL mirror reproduces
    cut values, pro-rated body mass, and the final composition exactly
    (ROUND 6 absorbs interp/summation ULPs)."""
    from tdigest_spark.operators.aggregate import TDIGEST

    d = _scan_build(spark, sf_dir, "lineitem", {"s": ("l_quantity", TDIGEST(0.01))})["s"]
    wins = [(0.0, 1.0), (0.05, 0.95), (0.1, 0.9), (0.25, 0.75)]
    rows = [
        (lo, hi, float(np.round(d.winsorized_mean(lo, hi), 6)))
        for lo, hi in wins
    ]
    return spark.createDataFrame(
        rows, "lo double, hi double, wmean double"
    ).orderBy("lo")


def discrete_chars_by_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped discrete digests over documents.n_chars by source, PLUS the
    '__all__' rollup obtained by MERGING the per-source digests (sketch
    mergeability gives rollup/cube for free — no second scan). Exact map
    state -> Nearest-Rank quantiles reproducible in SQL."""
    from tdigest_spark.operators.aggregate import (
        TDIGEST_DISCRETE,
        build_sketch_grouped,
    )
    from tdigest_spark.sketch.discrete import DiscreteDigest

    docs = _t(spark, sf_dir, "documents")
    spec = TDIGEST_DISCRETE()
    per = build_sketch_grouped(docs, ["source"], "n_chars", spec).collect()
    out = []
    glob = DiscreteDigest()
    for r in sorted(per, key=lambda r: r["source"]):
        d = DiscreteDigest.from_bytes(r["state"])
        out.append(
            (r["source"], int(d.n), float(d.quantile(0.5)), float(d.quantile(0.9)))
        )
        glob.merge(d)
    out.append(
        ("__all__", int(glob.n), float(glob.quantile(0.5)), float(glob.quantile(0.9)))
    )
    return spark.createDataFrame(
        out, "source string, n long, p50 double, p90 double"
    ).orderBy("source")


def discrete_chars_cube_from_merges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full two-dimension CUBE of quantiles from ONE grouped sketch build
    — mergeability replaces Spark's Expand+rescan: (source, lang) cell
    digests build in a single pass, then every margin (per-source,
    per-lang, grand total) is a driver-side MERGE of cell states — the
    corpus is scanned once for all 4 grouping sets, vs CUBE's row
    replication per set. Exact map state (discrete digest) => Nearest-
    Rank medians reproducible per cell AND per margin in SQL (DuckDB
    GROUP BY CUBE). '__all__' marks margins. Restricted to 3 sources for
    output size; cells, margins and counts all exact-oracled."""
    from tdigest_spark.operators.aggregate import (
        TDIGEST_DISCRETE,
        build_sketch_grouped,
    )
    from tdigest_spark.sketch.discrete import DiscreteDigest

    docs = _t(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2")
    )
    cells = build_sketch_grouped(
        docs, ["source", "lang"], "n_chars", TDIGEST_DISCRETE()
    ).collect()
    states: dict[tuple, DiscreteDigest] = {}
    for r in cells:
        states[(r["source"], r["lang"])] = DiscreteDigest.from_bytes(
            bytes(r["state"])
        )

    def merged(keys):
        out = DiscreteDigest()
        for t in keys:
            out.merge(states[t])
        return out

    rows = []
    sources = sorted({s for s, _ in states})
    langs = sorted({l for _, l in states})
    for s, lg in sorted(states):
        d = states[(s, lg)]
        rows.append((s, lg, int(d.n), float(d.quantile(0.5))))
    for s in sources:  # per-source margins (merge across langs)
        d = merged([t for t in states if t[0] == s])
        rows.append((s, "__all__", int(d.n), float(d.quantile(0.5))))
    for lg in langs:  # per-lang margins (merge across sources)
        d = merged([t for t in states if t[1] == lg])
        rows.append(("__all__", lg, int(d.n), float(d.quantile(0.5))))
    d = merged(list(states))  # grand total
    rows.append(("__all__", "__all__", int(d.n), float(d.quantile(0.5))))
    return spark.createDataFrame(
        rows, "source string, lang string, n long, p50 double"
    ).orderBy("source", "lang")


def autodigest_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-mode Digest semantics distributed (tdigest.js:372-388): stays
    exact-discrete on low-cardinality l_quantity, auto-switches to t-digest
    on high-cardinality l_extendedprice; centroid count stays within the
    K/delta compression bound after the switch."""
    from tdigest_spark.operators.aggregate import AUTODIGEST

    out = _scan_build(
        spark, sf_dir, "lineitem",
        {
            "l_extendedprice": ("l_extendedprice", AUTODIGEST("auto")),
            "l_quantity": ("l_quantity", AUTODIGEST("auto")),
        },
    )
    rows = []
    for col in ["l_extendedprice", "l_quantity"]:
        dg = out[col]
        mode = "cont" if dg.is_continuous else "disc"
        bounded = dg.inner.size <= (25 / dg.delta if mode == "cont" else 10**9)
        rows.append((col, mode, bool(bounded)))
    return spark.createDataFrame(
        rows, "column_name string, mode string, size_bounded boolean"
    )


def kll_rank_error_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL(k=200) quantiles over l_extendedprice: the realized rank of each
    estimate must be within the published ~1.33/k rank-error envelope
    (3-sigma ~ 0.02 at k=200)."""
    from tdigest_spark.operators.aggregate import KLL_SPEC

    li = _t(spark, sf_dir, "lineitem")
    sk = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_extendedprice", KLL_SPEC(200))}
    )["s"]
    ps = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    # one job: the row count and every estimate's rank count in one agg
    n, *below = li.agg(
        F.count(F.lit(1)),
        *(F.count(F.when(F.col("l_extendedprice") <= float(sk.quantile(p)), 1))
          for p in ps),
    ).first()
    rows = [(p, bool(abs(c / n - p) <= 0.025)) for p, c in zip(ps, below)]
    return spark.createDataFrame(rows, "p double, within_bound boolean")


def ddsketch_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch(alpha=0.01) quantiles over l_extendedprice. The sketch is a
    pure bucket-count structure (idx = ceil(ln(x)/ln(gamma))), so the oracle
    reproduces the EXACT estimate in SQL: group by the bucket expression,
    running sum, first bucket past rank floor(p*(n-1)). tests/test_ddsketch.py
    asserts the data sits >1e-8 quotient-units (>=1e4 ulps; measured >=4e-7)
    from every bucket boundary at every gated sf_dir, so numpy-vs-DuckDB
    libm ulp differences cannot flip an index."""
    from tdigest_spark.operators.aggregate import DDSKETCH_SPEC

    sk = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_extendedprice", DDSKETCH_SPEC(0.01))}
    )["s"]
    ps = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = sk.quantile(np.array(ps))
    # bucket index back from the estimate's position (emit as the exact
    # integer check; est as the rounded human-readable value)
    idx = np.rint(np.log(est * (sk.gamma + 1.0) / 2.0) / sk.log_gamma).astype(int)
    rows = [
        (p, int(i), float(np.round(e, 6))) for p, i, e in zip(ps, idx, est)
    ]
    return spark.createDataFrame(
        rows, "p double, bucket_idx long, est double"
    ).orderBy("p")


def ddsketch_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED DDSketch: one relative-error quantile sketch per
    l_returnflag over l_extendedprice via the grouped two-phase aggregate
    (raw rows never shuffle — only #partitions x #keys x O(#buckets)
    integer states move). Same exact-in-SQL bucket math as the global
    query, per group."""
    from tdigest_spark.operators.aggregate import DDSKETCH_SPEC, build_sketch_grouped
    from tdigest_spark.sketch.ddsketch import DDSketch

    li = _t(spark, sf_dir, "lineitem")
    states = build_sketch_grouped(
        li, ["l_returnflag"], "l_extendedprice", DDSKETCH_SPEC(0.01)
    )
    rows = []
    for r in states.collect():
        sk = DDSketch.from_bytes(bytes(r.state))
        p50, p99 = sk.quantile(np.array([0.5, 0.99]))
        rows.append(
            (
                r.l_returnflag,
                int(sk.n),
                float(np.round(p50, 6)),
                float(np.round(p99, 6)),
            )
        )
    return spark.createDataFrame(
        rows, "l_returnflag string, n long, p50 double, p99 double"
    ).orderBy("l_returnflag")


def discrete_quantile_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String discrete digest (values ranked lexically, like the reference's
    string spec, specs/discrete.spec.js:133-142) over o_orderpriority."""
    from tdigest_spark.operators.aggregate import TDIGEST_DISCRETE_STR

    d = _scan_build(
        spark, sf_dir, "orders", {"s": ("o_orderpriority", TDIGEST_DISCRETE_STR())}
    )["s"]
    ps = [0.1, 0.3, 0.5, 0.7, 0.9, 1.0]
    rows = [(p, str(d.quantile(p))) for p in ps]
    return spark.createDataFrame(rows, "p double, q string").orderBy("p")


def hll_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimates vs exact distinct counts: asserts the published
    1.04/sqrt(m) error envelope (within 3 sigma) per column."""
    from tdigest_spark.operators.aggregate import HLL_INTS

    li = _t(spark, sf_dir, "lineitem")
    out = _scan_build(
        spark, sf_dir, "lineitem",
        {
            "l_quantity": ("l_quantity", HLL_INTS(14)),
            "l_partkey": ("l_partkey", HLL_INTS(14)),
            "l_suppkey": ("l_suppkey", HLL_INTS(14)),
            "l_orderkey": ("l_orderkey", HLL_INTS(14)),
        },
    )
    exact = li.agg(
        *[
            F.countDistinct(c).alias(c)
            for c in ["l_quantity", "l_partkey", "l_suppkey", "l_orderkey"]
        ]
    ).first()
    rows = []
    for c in ["l_orderkey", "l_partkey", "l_quantity", "l_suppkey"]:
        est = out[c].estimate()
        ok = abs(est - exact[c]) / max(exact[c], 1) < 0.025
        rows.append((c, bool(ok)))
    return spark.createDataFrame(rows, "column_name string, within_bound boolean")


def hll_users_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED approximate-distinct: one HLL per event_type over user_id
    via the grouped two-phase aggregate (raw rows never shuffle — only
    #partitions x #keys x O(16KB) states move). Emits the exact count and
    the published-error-envelope check per group, so the oracle is
    closed-form (exact + TRUE)."""
    from tdigest_spark.operators.aggregate import HLL_INTS, build_sketch_grouped
    from tdigest_spark.sketch.hll import HLL

    ev = _t(spark, sf_dir, "events")
    states = build_sketch_grouped(ev, ["event_type"], "user_id", HLL_INTS(14))
    exact = {
        r.event_type: r.x
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    rows = []
    for r in states.collect():
        est = HLL.from_bytes(bytes(r.state)).estimate()
        ex = int(exact[r.event_type])
        rows.append(
            (r.event_type, ex, bool(abs(est - ex) / max(ex, 1) < 0.025))
        )
    return spark.createDataFrame(
        sorted(rows), "event_type string, exact_users long, within_bound boolean"
    ).orderBy("event_type")


def hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: union = register-max merge (the sketch's native
    set op), intersection via inclusion-exclusion. Each estimate must sit
    within the published 1.04/sqrt(m) envelope (3 sigma; the I-E
    difference compounds all three) of the exact count. Estimates are
    deterministic (fixed hash seeds), so the booleans are stable."""
    from tdigest_spark.operators.aggregate import HLL_INTS, build_sketch
    from tdigest_spark.sketch.hll import HLL

    li = _t(spark, sf_dir, "lineitem")
    a_df = li.where(F.col("l_quantity") < 10)
    b_df = li.where(F.col("l_quantity") > 40)
    ha = build_sketch(a_df, "l_orderkey", HLL_INTS(14))
    hb = build_sketch(b_df, "l_orderkey", HLL_INTS(14))
    hu = HLL.from_bytes(ha.to_bytes())
    hu.merge(hb)
    ea, eb, eu = ha.estimate(), hb.estimate(), hu.estimate()
    ei = ea + eb - eu
    xa = a_df.select("l_orderkey").distinct().count()
    xb = b_df.select("l_orderkey").distinct().count()
    xu = a_df.select("l_orderkey").union(b_df.select("l_orderkey")).distinct().count()
    xi = xa + xb - xu
    sigma = 3 * 1.04 / (2**14) ** 0.5
    rows = [
        ("a", bool(abs(ea - xa) <= sigma * xa)),
        ("b", bool(abs(eb - xb) <= sigma * xb)),
        ("union", bool(abs(eu - xu) <= sigma * xu)),
        ("intersect", bool(abs(ei - xi) <= sigma * (xa + xb + xu))),
    ]
    return spark.createDataFrame(
        rows, "set_op string, within_bound boolean"
    ).orderBy("set_op")


def bloom_partkey_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom filter over lineitem.l_partkey probed with every
    key present: no false negatives, ever (bit-OR merge preserves this)."""
    from tdigest_spark.operators.aggregate import BLOOM_INTS

    li = _t(spark, sf_dir, "lineitem")
    bf = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_partkey", BLOOM_INTS(100_000, 0.01))}
    )["s"]
    present = [r[0] for r in li.select("l_partkey").distinct().collect()]
    hits = bf.might_contain_ints(np.array(sorted(present)))
    rows = [(int(k), bool(h)) for k, h in zip(sorted(present), hits)]
    return spark.createDataFrame(rows, "l_partkey long, might_contain boolean").orderBy(
        "l_partkey"
    )


def bottomk_sample_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) priority sampling: the distributed sample must be a
    subset of the column's values, deterministic, and its distinct
    estimator within the ~1/sqrt(k) envelope of the exact count."""
    from tdigest_spark.operators.aggregate import BOTTOMK_INTS

    li = _t(spark, sf_dir, "lineitem")
    sks = _scan_build(
        spark, sf_dir, "lineitem",
        {c: (c, BOTTOMK_INTS(1024)) for c in ["l_orderkey", "l_partkey"]},
    )
    rows = []
    for col in ["l_orderkey", "l_partkey"]:
        sk = sks[col]
        exact = li.select(col).distinct().count()
        est_ok = abs(sk.distinct_estimate() - exact) / exact < 0.12
        sample = [int(x) for x in sk.sample()]
        present = (
            li.select(col).where(F.col(col).isin(sample)).distinct().count()
        )
        sample_ok = present == len(set(sample))
        rows.append((col, bool(est_ok), bool(sample_ok)))
    return spark.createDataFrame(
        rows, "column_name string, est_within_bound boolean, sample_valid boolean"
    )


def bottomk_jaccard_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity between audiences: one bottom-k (KMV) sketch of the
    user set per event_type (single grouped pass — only O(k) states
    shuffle), then pairwise Jaccard from the sketches alone. Priorities
    are md5-lower-64 of the decimal user id, so every bottom-k membership
    decision — hence the exact estimate value — is reproduced verbatim by
    the DuckDB oracle; the exact Jaccard rides along via one distinct
    self-join for the error column."""
    from tdigest_spark.operators.aggregate import BOTTOMK_MD5, build_sketch_grouped
    from tdigest_spark.sketch.bottomk import BottomK

    ev = _t(spark, sf_dir, "events")
    states = build_sketch_grouped(ev, ["event_type"], "user_id", BOTTOMK_MD5(256))
    sks = {r.event_type: BottomK.from_bytes(bytes(r.state)) for r in states.collect()}
    # a NULL group key is a real group in the grouped build, but NULL joins
    # nothing under the oracle's `a.event_type < b.event_type` — exclude it
    # from the pairing the same way
    types = sorted(t for t in sks if t is not None)
    # NULL user_ids are dropped by the sketch ingest (null rows never hash);
    # the exact side must drop them too or sizes count a (type, NULL) member
    # that intersections can never join (ADVICE r2) — same explicit filter
    # as theta_event_audience_ops
    du = (
        ev.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
        .persist()
    )
    sizes = {
        r.event_type: r.n
        for r in du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    inter = {
        (r.ta, r.tb): r.i
        for r in du.alias("a")
        .join(du.alias("b"), "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .collect()
    }
    rows = []
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            it = inter.get((a, b), 0)
            un = sizes[a] + sizes[b] - it
            rows.append(
                (
                    a,
                    b,
                    float(np.round(sks[a].jaccard(sks[b]), 6)),
                    float(np.round(it / un, 6)),
                )
            )
    du.unpersist()
    return spark.createDataFrame(
        rows, "type_a string, type_b string, est_jaccard double, exact_jaccard double"
    ).orderBy("type_a", "type_b")


def theta_event_audience_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra over event audiences: one theta (KMV)
    sketch of the distinct user set per event_type — built as the
    associativity-proven bottom-k grouped aggregate (k=64, md5-lower-64
    priorities), normalized to theta form — then pairwise UNION /
    INTERSECTION / DIFFERENCE cardinality estimates from the sketches
    alone: the set algebra HLL cannot express (register merges union but
    never intersect/difference). Priorities are md5-lower-64 of the
    decimal user id, so every retained-hash decision, the theta
    threshold, and the estimate values are reproduced verbatim by the
    DuckDB oracle; exact cardinalities ride along via one distinct-pair
    aggregation. Reference tie-in: the digest-union fidelity contract
    (tdigest.js:93-100 push_centroid merge) applied to set sketches —
    every distributed result exactly checkable."""
    from tdigest_spark.operators.aggregate import BOTTOMK_MD5, build_sketch_grouped
    from tdigest_spark.sketch.theta import ThetaSketch

    ev = _t(spark, sf_dir, "events")
    states = build_sketch_grouped(ev, ["event_type"], "user_id", BOTTOMK_MD5(64))
    sks = {
        r.event_type: ThetaSketch.from_bottomk_bytes(bytes(r.state))
        for r in states.collect()
    }
    types = sorted(t for t in sks if t is not None)
    du = (
        ev.select("event_type", "user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
        .persist()
    )
    sizes = {
        r.event_type: r.n
        for r in du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    inter = {
        (r.ta, r.tb): r.i
        for r in du.alias("a")
        .join(du.alias("b"), "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .collect()
    }
    rows = []
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            it = int(inter.get((a, b), 0))
            sa, sb = sks[a], sks[b]
            rows.append(
                (
                    a,
                    b,
                    float(np.round(sa.union_estimate(sb), 6)),
                    float(np.round(sa.intersect_estimate(sb), 6)),
                    float(np.round(sa.a_not_b_estimate(sb), 6)),
                    int(sizes[a] + sizes[b] - it),
                    it,
                    int(sizes[a] - it),
                )
            )
    du.unpersist()
    return spark.createDataFrame(
        rows,
        "type_a string, type_b string, union_est double, inter_est double, "
        "anotb_est double, exact_union long, exact_inter long, exact_anotb long",
    ).orderBy("type_a", "type_b")


def cms_topk_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over l_quantity: width >> distinct values, so
    estimates are exact and match GROUP BY counts (verified deterministic —
    fixed hash seeds)."""
    from tdigest_spark.operators.aggregate import CMS_INTS

    c = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_quantity", CMS_INTS(5, 65536, 64))}
    )["s"]
    top = c.heavy_hitters()[:10]
    rows = [(int(np.uint64(k).astype(np.int64)), int(v)) for k, v in top]
    return spark.createDataFrame(rows, "l_quantity long, est_count long")


def ann_pruned_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN over the SAME materialized index as ann_pruned_topk:
    top-k restricted to a metadata predicate (label == 3) — the standard
    'nearest neighbors among documents matching a filter' query. The
    bucket IN-list prunes directories AND the label predicate pushes down
    into the surviving parquet scans (two independent skipping layers
    composing); the oracle applies the same bucket + label restriction."""
    from tdigest_spark.operators.similarity import lsh_index_topk

    path = _ensure_ann_index(spark, sf_dir)
    qrow = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    query = [float(x) for x in qrow["embedding"]]
    top = lsh_index_topk(
        spark, path, query, k=5,
        n_planes=_ANN_PLANES, seed=_ANN_SEED, probe_hamming=1, exclude_id=0,
        pre_filter=F.col("label") == 3,
    )
    w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id"
    ).orderBy("rank")


def lineitem_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout (plans/zorder.py): lineitem is rewritten
    once sorted by the Morton interleave of (l_quantity, l_extendedprice),
    then a conjunctive range filter on BOTH columns aggregates over the
    clustered copy — row groups outside either range prune from footer
    stats alone (multi-column skipping a single-column sort cannot give;
    property proven in tests/test_zorder.py). Layout never changes values:
    the oracle is the same filter over the plain table."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    from tdigest_spark.plans.zorder import write_zordered

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "zorder" / Path(sf_dir).name
    marker = root / "_built.json"
    params = {
        "sf_dir": str(sf_dir),
        "cols": ["l_quantity", "l_extendedprice"],
        "src": _src_sig(f"{sf_dir}/lineitem.parquet"),
    }
    rebuild = True
    if marker.exists():
        try:
            rebuild = _json.loads(marker.read_text()) != params
        except Exception:
            rebuild = True
    if rebuild:
        if root.exists():
            shutil.rmtree(root)
        li = _t(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount"
        )
        write_zordered(
            li, str(root / "data"), ["l_quantity", "l_extendedprice"],
            bits=8, n_files=8,
        )
        marker.write_text(_json.dumps(params))
    z = spark.read.parquet(str(root / "data"))
    return z.where(
        (F.col("l_quantity") < 10) & (F.col("l_extendedprice") < 5000)
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
    )


def iceberg_snapshot_isolated_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg static-metadata read path (sources/iceberg.py +
    sources/avro_lite.py — no runtime jars needed): the documents table is
    laid out as an Iceberg-shaped table whose CURRENT snapshot references
    one data file, while the data directory also holds an ORPHAN copy (a
    replaced file from an old snapshot, the normal state of a real Iceberg
    dir). read_sequences resolves version-hint -> metadata JSON ->
    manifest-list Avro -> manifest Avro and reads ONLY the live file; a raw
    directory read would return every count doubled, so the exact oracle
    (plain GROUP BY over documents) certifies snapshot isolation."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    from tdigest_spark.sources import avro_lite
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_demo" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        (root / "data").mkdir(parents=True)
        (root / "metadata").mkdir()
        src = f"{sf_dir}/documents.parquet"
        live = root / "data" / "live.parquet"
        shutil.copyfile(src, live)
        shutil.copyfile(src, root / "data" / "orphan.parquet")
        man_schema = {
            "type": "record", "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "data_file", "type": {
                    "type": "record", "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                    ]}},
            ],
        }
        list_schema = {
            "type": "record", "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "content", "type": "int"},
            ],
        }
        m = root / "metadata" / "m1.avro"
        avro_lite.write_container(m, man_schema, [{
            "status": 1,
            "data_file": {
                "content": 0,
                "file_path": f"file://{live}",
                "file_format": "PARQUET",
            },
        }])
        ml = root / "metadata" / "snap-1.avro"
        avro_lite.write_container(
            ml, list_schema,
            [{"manifest_path": f"file://{m}", "content": 0}],
        )
        (root / "metadata" / "v1.metadata.json").write_text(_json.dumps({
            "format-version": 2,
            "current-snapshot-id": 1,
            "snapshots": [
                {"snapshot-id": 1, "manifest-list": f"file://{ml}"}
            ],
        }))
        (root / "metadata" / "version-hint.text").write_text("1")
        marker.write_text(_json.dumps(params))
    docs = read_sequences(spark, str(root))
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source")
    )


def _iceberg_tt_fixture(sf_dir: str):
    """Marker-cached three-snapshot Iceberg table derived from documents:
    v1 append(even doc_ids), v2 append(odd doc_ids), v3 copy-on-write
    overwrite(lang='en'). Shared by the time-travel and incremental-read
    queries so both states stay recomputable from the registered view."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_tt" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(f"{sf_dir}/documents.parquet")
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1))
        en = tbl.filter(pc.equal(tbl["lang"], "en"))
        f_even = root / "data" / "even.parquet"
        f_odd = root / "data" / "odd.parquet"
        f_en = root / "data" / "en.parquet"
        pq.write_table(even, f_even)
        pq.write_table(odd, f_odd)
        pq.write_table(en, f_en)
        W.append_snapshot(root, [f_even], snapshot_id=1, ts_ms=2000)
        W.append_snapshot(root, [f_odd], snapshot_id=2, ts_ms=3000)
        W.overwrite_snapshot(root, [f_en], snapshot_id=3, ts_ms=4000)
        marker.write_text(_json.dumps(params))
    return root


def iceberg_time_travel_by_timestamp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``AS OF <timestamp>`` time travel (iceberg.snapshot_as_of_ms): a
    wall-clock instant resolves through the metadata's SNAPSHOT-LOG to
    the last snapshot committed at or before it — the log, not the
    snapshots list, defines what a reader saw at that moment (rollbacks
    append log entries rather than erase history). Over the three-commit
    fixture (appends at t=2000/3000, overwrite at t=4000): t=2500 must
    see only the even half, t=3500 the full table, t=99999 the current
    English-only state; t=1500 predates the first commit and must RAISE
    (silently returning the oldest snapshot would fabricate history —
    asserted in-query). Metadata-only resolution; the read itself is the
    usual snapshot-pinned static walk."""
    from tdigest_spark.sources.iceberg import (
        read_sequences,
        snapshot_as_of_ms,
    )

    root = _iceberg_tt_fixture(sf_dir)
    try:
        snapshot_as_of_ms(str(root), 1500)
        raise AssertionError("pre-history timestamp must raise")
    except ValueError:
        pass
    outs = []
    for label, ts in (("t2500", 2500), ("t3500", 3500), ("t99999", 99999)):
        sid = snapshot_as_of_ms(str(root), ts)
        snap = read_sequences(spark, str(root), snapshot_id=sid)
        outs.append(
            snap.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.lit(label).alias("asof"), "source", "n_docs")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("asof", "source")


def iceberg_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (CDC-style) Iceberg consumption: read ONLY the files
    added between snapshot 1 and snapshot 2 of the three-snapshot fixture
    (sources/iceberg.iceberg_incremental_paths walks snapshot 2's manifest
    list and keeps ADDED entries whose commit falls in the range) — the
    downstream-consumer pattern that processes each commit's delta instead
    of rescanning the table.  v1 added the even doc_ids and v2 the odd
    ones, so the delta is exactly the odd half: the oracle recomputes it
    from the documents view."""
    from tdigest_spark.sources.iceberg import iceberg_incremental_paths

    root = _iceberg_tt_fixture(sf_dir)
    paths = iceberg_incremental_paths(str(root), 1, 2)
    assert [p.rsplit("/", 1)[1] for p in paths] == ["odd.parquet"], paths
    delta = spark.read.parquet(*paths)
    return (
        delta.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source")
    )


def iceberg_incremental_sketch_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The north-rule loop end to end: a checkpointed sketch build over an
    Iceberg table that RESUMES across snapshot appends.  Build a discrete
    digest of n_chars at snapshot v1 (even doc_ids) through
    plans/checkpoint.CheckpointedBuild, then commit-advance to v2 (odd
    doc_ids appended) and run again: the checkpoint's batch keys are
    (file, row-groups), so only the DELTA file's batches execute — proven
    here by asserting every newly-written batch's lineage touches only the
    appended file — and digest(v2) == merge(checkpointed v1 partials,
    delta partials).  Exact oracle: the discrete digest is an exact value
    map, so both snapshots' quantiles are Nearest-Rank SQL over the
    documents view.  The checkpoint dir is recreated per call so the
    demonstration (not just the result) is deterministic."""
    import json as _json
    import shutil

    from tdigest_spark.operators.aggregate import TDIGEST_DISCRETE
    from tdigest_spark.plans.checkpoint import CheckpointedBuild
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

    root = _iceberg_tt_fixture(sf_dir)
    ckpt = root / "ckpt_demo"
    if ckpt.exists():
        shutil.rmtree(ckpt)
    cb = CheckpointedBuild(
        ckpt, {"d": ("n_chars", TDIGEST_DISCRETE())}, splits_per_batch=1
    )
    v1_paths = iceberg_scan_paths_static(str(root), snapshot_id=1)
    d1 = cb.run(spark, v1_paths)["d"]
    done_v1 = set(cb.completed())
    v2_paths = iceberg_scan_paths_static(str(root), snapshot_id=2)
    d2 = cb.run(spark, v2_paths)["d"]
    done_v2 = cb.completed()
    new_keys = set(done_v2) - done_v1
    assert new_keys, "append scheduled no delta work"
    for k in new_keys:  # the resumed run re-scanned ONLY the appended file
        for rec in _json.loads(done_v2[k]["lineage"]):
            assert rec["path"].endswith("odd.parquet"), rec
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    rows = [("v1", p, float(d1.quantile(p))) for p in ps] + [
        ("v2", p, float(d2.quantile(p))) for p in ps
    ]
    return spark.createDataFrame(
        rows, "snapshot string, p double, q double"
    ).orderBy("snapshot", "p")


def iceberg_eq_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes with the sequence rule end to end: v1
    commits the documents table, v2 commits an equality delete whose key
    file is just {lang: ['de', 'fr']} (the GDPR / bad-source purge shape —
    no data rewrite, no positions), v3 RE-APPENDS the even-doc_id German
    docs.  The reader (sources/iceberg.py _read_with_equality_deletes)
    anti-joins each data file against only the deletes with LARGER
    sequence numbers, so the v3 re-insert survives while v1's German and
    French rows stay tombstoned — the spec behavior that makes
    delete-then-reinsert pipelines correct.  Oracle recomputes both
    post-delete states from the documents view."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_eq" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        data = root / "data" / "docs.parquet"
        shutil.copyfile(f"{sf_dir}/documents.parquet", data)
        W.append_snapshot(root, [data], snapshot_id=1, ts_ms=2000)
        keys = root / "data" / "eq-keys.parquet"
        pq.write_table(pa.table({"lang": ["de", "fr"]}), keys)
        W.equality_delete_snapshot(root, keys, snapshot_id=2, ts_ms=3000)
        tbl = pq.read_table(data)
        reins = tbl.filter(
            pc.and_(
                pc.equal(tbl["lang"], "de"),
                pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0),
            )
        )
        f_re = root / "data" / "reinsert.parquet"
        pq.write_table(reins, f_re)
        W.append_snapshot(root, [f_re], snapshot_id=3, ts_ms=4000)
        marker.write_text(_json.dumps(params))
    outs = []
    for label, sid in (("v2", 2), ("v3", 3)):
        snap = read_sequences(spark, str(root), snapshot_id=sid)
        outs.append(
            snap.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.lit(label).alias("snapshot"), "lang", "n_docs")
        )
    return outs[0].unionByName(outs[1]).orderBy("snapshot", "lang")


def iceberg_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg MANIFEST-STATS file pruning end to end: orders is committed
    as one data file per calendar month, with the writer recording
    per-column lower/upper bounds in the manifest entries (table spec
    Appendix D single-value encoding — timestamps as little-endian micros).
    The scan then plans a 12-month predicate window from MANIFEST METADATA
    ALONE (sources/iceberg.iceberg_scan_paths_pruned — no parquet footer is
    opened), reads only the surviving files, and re-applies the predicate
    row-level as the residual filter, exactly a real engine's split: at
    100 TB this is the difference between O(manifest) and O(data) planning.
    The pruning itself is exact-oracled: files_scanned/files_total equal
    the distinct order months inside/overall the window because bounds of
    month-partitioned files overlap a month-aligned window iff the month
    has an order in it. Revenue sums are integer floor-cents (exact in any
    order)."""
    import datetime as _dt
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_pruned

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_stats" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/orders.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(f"{sf_dir}/orders.parquet")
        months = pc.strftime(tbl["o_orderdate"], format="%Y-%m")
        files = []
        for m in sorted(set(months.to_pylist())):
            part = tbl.filter(pc.equal(months, m))
            part = part.take(pc.sort_indices(part["o_orderkey"]))
            f = root / "data" / f"m-{m}.parquet"
            pq.write_table(part, f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        marker.write_text(_json.dumps(params))
    lo, hi = _dt.datetime(1996, 6, 1), _dt.datetime(1997, 6, 1)
    paths, n_total = iceberg_scan_paths_pruned(
        str(root), [("o_orderdate", ">=", lo), ("o_orderdate", "<", hi)]
    )
    df = spark.read.parquet(*paths).where(
        (F.col("o_orderdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    return (
        df.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "price_cents"
            ),
        )
        .select(
            "month",
            "n_orders",
            "price_cents",
            F.lit(len(paths)).cast("long").alias("files_scanned"),
            F.lit(n_total).cast("long").alias("files_total"),
        )
        .orderBy("month")
    )


def iceberg_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg SCHEMA EVOLUTION resolved by FIELD ID end to end: v1 commits
    the even doc_ids under schema 0 (doc_id, n_chars, source); two
    metadata-only commits then RENAME n_chars -> doc_len and ADD a lang
    column; v2 appends the odd doc_ids under the evolved schema.  The
    evolved read (sources/iceberg.read_table_evolved) projects every data
    file onto the CURRENT schema by field id — v1 files keep serving the
    renamed column from their stored n_chars (same id, new name, zero data
    rewritten) and read NULL for the later-added lang — the contract that
    makes in-place evolution safe on a 100 TB table where a rewrite is a
    non-starter.  The oracle recomputes the per-source rollup from the
    documents view: sum_len covers ALL docs (rename transparent), lang
    statistics only the odd half (added column NULL before its commit)."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_table_evolved

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_evo" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(
            root,
            ts_ms=1000,
            schema_fields=[
                ("doc_id", "long"), ("n_chars", "long"), ("source", "string")
            ],
        )
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "n_chars", "source", "lang"],
        )
        odd_mask = pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1)
        even = tbl.filter(pc.invert(odd_mask)).select(
            ["doc_id", "n_chars", "source"]
        )
        f1 = root / "data" / "even.parquet"
        pq.write_table(even, f1)
        W.append_snapshot(root, [f1], snapshot_id=1, ts_ms=2000)
        W.rename_column(root, "n_chars", "doc_len", ts_ms=3000)
        W.add_column(root, "lang", "string", ts_ms=4000)
        odd = (
            tbl.filter(odd_mask)
            .select(["doc_id", "n_chars", "source", "lang"])
            .rename_columns(["doc_id", "doc_len", "source", "lang"])
        )
        f2 = root / "data" / "odd.parquet"
        pq.write_table(odd, f2)
        W.append_snapshot(root, [f2], snapshot_id=2, ts_ms=5000)
        marker.write_text(_json.dumps(params))
    df = read_table_evolved(spark, str(root))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_len").alias("sum_len"),
            F.count("lang").alias("n_lang"),
            F.countDistinct("lang").alias("n_distinct_lang"),
        )
        .orderBy("source")
    )


def iceberg_evolved_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg EQUALITY-DELETE UPSERT composed with SCHEMA EVOLUTION — the
    intersection that used to be gated: v1 commits the even doc_ids under
    schema 0 (doc_id, n_chars, source); an UPSERT (same-sequence equality
    delete + new row versions, sources/iceberg_write.upsert_snapshot)
    bumps n_chars by 1e6 for the doc_id%10==0 docs; the table then
    RENAMES doc_id -> doc_key and n_chars -> doc_len (metadata-only), and
    v3 appends the odd docs under the new names.  The evolved read
    (sources/iceberg.read_table_evolved) resolves BOTH sides by FIELD ID:
    data files project onto the current names, and the delete file's keys
    — recorded under the OLD column name with its write-time schema id —
    re-resolve to the current schema, so the tombstones still land on the
    right rows through the rename.  At 100 TB this is the contract that
    lets a table be upserted AND evolved without rewriting a byte of
    data.  The oracle replays the merge arithmetic on the documents
    view."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_table_evolved

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_evo_upsert" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(
            root,
            ts_ms=1000,
            schema_fields=[
                ("doc_id", "long"), ("n_chars", "long"), ("source", "string")
            ],
        )
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "n_chars", "source"],
        )
        odd_mask = pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1)
        even = tbl.filter(pc.invert(odd_mask))
        f1 = root / "data" / "even.parquet"
        pq.write_table(even, f1)
        W.append_snapshot(root, [f1], ts_ms=2000)  # seq 1, schema 0
        import pyarrow as _pa

        upd = even.filter(
            _pa.array(even["doc_id"].to_numpy() % 10 == 0)
        )
        upd = upd.set_column(
            1, "n_chars", pc.add(upd["n_chars"], 1_000_000)
        )
        f2 = root / "data" / "upd.parquet"
        pq.write_table(upd, f2)
        fk = root / "data" / "upd_keys.parquet"
        pq.write_table(upd.select(["doc_id"]), fk)
        # seq 2: MERGE — delete keys recorded under schema 0's names
        W.upsert_snapshot(root, [f2], fk, ts_ms=3000)
        W.rename_column(root, "doc_id", "doc_key", ts_ms=4000)
        W.rename_column(root, "n_chars", "doc_len", ts_ms=5000)
        odd = tbl.filter(odd_mask).rename_columns(
            ["doc_key", "doc_len", "source"]
        )
        f3 = root / "data" / "odd.parquet"
        pq.write_table(odd, f3)
        W.append_snapshot(root, [f3], ts_ms=6000)  # seq 3, schema 2
        marker.write_text(_json.dumps(params))
    df = read_table_evolved(spark, str(root))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_len").alias("sum_len"),
            F.sum(
                F.when(F.col("doc_key") % 10 == 0, 1).otherwise(0)
            ).alias("n_updated"),
        )
        .orderBy("source")
    )


def iceberg_hidden_partition_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg HIDDEN PARTITIONING end to end: documents is committed under
    the partition spec (identity(lang), bucket[8](doc_id)) — one data file
    per partition tuple, the tuple recorded in each manifest entry — and a
    point lookup ``lang = 'en' AND doc_id = <min English doc>`` is planned
    from ordinary COLUMN predicates: the static planner derives the
    partition predicates through the transforms (identity compares
    directly; bucket[8] hashes the literal with the spec's murmur3 — test
    vectors pinned against the published spec) and prunes 40 files to ONE
    without opening a footer.  The user never names a partition field —
    that is the feature: at 100 TB the layout can evolve without breaking
    a single query.  Self-certifying: if the bucket computation were
    wrong, the surviving file would not contain the probed doc and the
    row would come back empty; files_scanned/files_total are exact in SQL
    (every (lang, bucket) cell is occupied at all SFs — test-guarded)."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_pruned
    from tdigest_spark.sources.iceberg_partition import apply_transform

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_hidden" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        W.set_partition_spec(
            root, [("lang", "identity"), ("doc_id", "bucket[8]")], ts_ms=1500
        )
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "lang", "source", "n_chars"],
        )
        buckets = pc.cast(
            [apply_transform("bucket[8]", v) for v in tbl["doc_id"].to_pylist()],
            "int32",
        )
        files = []
        for lang in sorted(set(tbl["lang"].to_pylist())):
            for b in range(8):
                part = tbl.filter(
                    pc.and_(pc.equal(tbl["lang"], lang), pc.equal(buckets, b))
                )
                if part.num_rows == 0:
                    continue
                part = part.take(pc.sort_indices(part["doc_id"]))
                f = root / "data" / f"p-{lang}-{b}.parquet"
                pq.write_table(part, f)
                files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        marker.write_text(_json.dumps(params))
    probe = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"]
    )
    probe_id = int(
        pc.min(probe.filter(pc.equal(probe["lang"], "en"))["doc_id"]).as_py()
    )
    paths, n_total = iceberg_scan_paths_pruned(
        str(root), [("lang", "==", "en"), ("doc_id", "==", probe_id)]
    )
    df = spark.read.parquet(*paths).where(
        (F.col("lang") == "en") & (F.col("doc_id") == probe_id)
    )
    return df.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.lit(len(paths)).cast("long").alias("files_scanned"),
        F.lit(n_total).cast("long").alias("files_total"),
    ).orderBy("doc_id")


def iceberg_partition_evolution_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SPEC EVOLUTION end to end: documents is committed in two
    generations — even doc_ids under spec identity(source), odd doc_ids
    under the EVOLVED spec identity(lang) — and one query with predicates
    on BOTH columns is planned against the mixed snapshot. Each manifest
    entry records the spec it was written under, so the planner prunes
    every file with ITS OWN spec (gen-1 by source, gen-2 by lang): the
    layout changed without rewriting a byte or breaking the query, which
    is the point of spec evolution on a 100 TB table. files_scanned /
    files_total are exact in SQL (identity tuples mirror per-file column
    bounds: a generation's file survives iff it exists and its other
    column's min/max bracket the predicate literal); the row aggregate
    covers every matching row because each matching row's holder file is
    kept. Mechanism isolation (bucket specs, where bounds can't help) is
    pinned in tests/test_iceberg_source.py."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_pruned

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_specevo" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "lang", "source", "n_chars"],
        )
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1))
        # generation 1: partitioned by source
        W.set_partition_spec(root, [("source", "identity")], ts_ms=1500)
        g1 = []
        for s in sorted(set(even["source"].to_pylist())):
            part = even.filter(pc.equal(even["source"], s))
            f = root / "data" / f"g1-{s}.parquet"
            pq.write_table(part, f)
            g1.append(f)
        W.append_snapshot(root, g1, snapshot_id=1, ts_ms=2000)
        # generation 2 (EVOLVED): partitioned by lang
        W.set_partition_spec(root, [("lang", "identity")], ts_ms=2500)
        g2 = []
        for lg in sorted(set(odd["lang"].to_pylist())):
            part = odd.filter(pc.equal(odd["lang"], lg))
            f = root / "data" / f"g2-{lg}.parquet"
            pq.write_table(part, f)
            g2.append(f)
        W.append_snapshot(root, g2, snapshot_id=2, ts_ms=3000)
        marker.write_text(_json.dumps(params))
    paths, n_total = iceberg_scan_paths_pruned(
        str(root), [("source", "==", "src3"), ("lang", "==", "en")]
    )
    df = spark.read.parquet(*paths).where(
        (F.col("source") == "src3") & (F.col("lang") == "en")
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_sum"),
        F.sum("doc_id").alias("id_sum"),
    ).select(
        "n_docs",
        "chars_sum",
        "id_sum",
        F.lit(len(paths)).cast("long").alias("files_scanned"),
        F.lit(n_total).cast("long").alias("files_total"),
    )


def iceberg_delete_where_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE FROM ... WHERE (iceberg_write.delete_where) — the
    GDPR/data-retention DML a lakehouse needs: ``DELETE WHERE n_chars <
    60`` over a per-source-file documents table is PLANNED from manifest
    stats alone (only files whose min(n_chars) < 60 are read — exact in
    SQL as a per-source HAVING), matching row positions are committed as
    ONE merge-on-read position-delete snapshot, and no data file is
    rewritten. The post-delete MOR read plus every planning counter is
    exact-oracled. The delete runs once at fixture build (deletes are
    commits, not idempotent fixtures) and its report is persisted."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_delwhere" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        files = []
        for s in sorted(set(tbl["source"].to_pylist())):
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(tbl.filter(pc.equal(tbl["source"], s)), f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        n_del, scanned, total = W.delete_where(
            root, [("n_chars", "<", 60)], snapshot_id=2, ts_ms=3000
        )
        report = {"n_deleted": n_del, "scanned": scanned, "total": total}
        marker.write_text(_json.dumps({"params": params, "report": report}))
    survivors = read_sequences(spark, str(root))
    return survivors.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_sum"),
        F.sum("doc_id").alias("id_sum"),
    ).select(
        "n_docs",
        "chars_sum",
        "id_sum",
        F.lit(report["n_deleted"]).cast("long").alias("n_deleted"),
        F.lit(report["scanned"]).cast("long").alias("files_scanned"),
        F.lit(report["total"]).cast("long").alias("files_total"),
    )


def iceberg_deletion_vector_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg v3 DELETION VECTORS (iceberg_write.delete_where_dv /
    write_deletion_vectors): row deletes land as ONE merged bitmap blob
    per data file (the spec's ``referenced_data_file`` position delete)
    instead of v2's one delete parquet per commit — per-file delete state
    stays O(1) files no matter how many delete commits touch it, the
    metadata shape that survives a high delete cadence at 100 TB. Two
    overlapping DELETEs run at fixture build: ``n_chars < 60`` then
    ``n_chars < 100``; the second MERGES the first's positions and
    SUPERSEDES its DVs (one live DV per file, enforced at write). The
    MOR read plus every DV counter is exact-oracled: ``n_deleted_2``
    counts only newly tombstoned rows (the [60,100) band), ``n_live_dvs``
    is the per-source file count with any physical match (min(n_chars) <
    100), ``n_superseded`` the files whose commit-2 DV was replaced
    (min(n_chars) < 60)."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import (
        iceberg_scan_entries_static,
        read_sequences,
    )

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_dv" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        files = []
        for s in sorted(set(tbl["source"].to_pylist())):
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(tbl.filter(pc.equal(tbl["source"], s)), f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        d1, dv1, sup1, _, _ = W.delete_where_dv(
            root, [("n_chars", "<", 60)], snapshot_id=2, ts_ms=3000
        )
        d2, dv2, sup2, _, _ = W.delete_where_dv(
            root, [("n_chars", "<", 100)], snapshot_id=3, ts_ms=4000
        )
        live = iceberg_scan_entries_static(str(root))["dvs"]
        refs = [d["referenced"] for d in live]
        # the v3 invariant, asserted on the real table: one DV per file
        assert len(refs) == len(set(refs)) == dv2, (refs, dv2)
        report = {
            "n_deleted_1": d1,
            "n_deleted_2": d2,
            "n_live_dvs": len(live),
            "n_superseded": sup2,
        }
        marker.write_text(_json.dumps({"params": params, "report": report}))
    survivors = read_sequences(spark, str(root))
    return survivors.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_sum"),
        F.sum("doc_id").alias("id_sum"),
    ).select(
        "n_docs",
        "chars_sum",
        "id_sum",
        F.lit(report["n_deleted_1"]).cast("long").alias("n_deleted_1"),
        F.lit(report["n_deleted_2"]).cast("long").alias("n_deleted_2"),
        F.lit(report["n_live_dvs"]).cast("long").alias("n_live_dvs"),
        F.lit(report["n_superseded"]).cast("long").alias("n_superseded"),
    )


def iceberg_maintenance_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full table-MAINTENANCE runbook, composed end to end — the ops
    sequence a production lakehouse schedules nightly, proving the four
    procedures compose without losing a row: 6 small appends + one
    deletion-vector DELETE build a fragmented table (7 manifests, 6
    small files), then (1) ``rewrite_manifests`` consolidates planning
    metadata 7→2 (metadata-only), (2) ``rewrite_data_files`` bin-packs
    the 6 files into 1 THROUGH the merge-on-read view (the DV folds in;
    carrying raw rows would resurrect the deleted ones), (3)
    ``expire_snapshots`` retains the last 2 snapshots and physically
    reaps files only expired history references, (4)
    ``remove_orphan_files`` deletes a planted never-committed stray
    (age-guarded). Every counter is asserted in-query and the final
    read's aggregates are exact-oracled — deletes survive the entire
    pipeline."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_maint" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 2,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        ids = tbl["doc_id"].to_numpy()
        for b in range(6):
            import pyarrow as pa

            part = tbl.filter(pa.array(ids % 6 == b))
            f = root / "data" / f"b{b}.parquet"
            pq.write_table(part, f)
            W.append_snapshot(root, [f], snapshot_id=b + 1, ts_ms=2000 + b)
        W.delete_where_dv(
            root, [("n_chars", "<", 60)], snapshot_id=7, ts_ms=8000
        )
        stray = root / "data" / "stray-never-committed.parquet"
        pq.write_table(tbl.slice(0, 1), stray)
        m_before, m_after = W.rewrite_manifests(root, ts_ms=9000)
        assert (m_before, m_after) == (7, 2), (m_before, m_after)
        rep = W.rewrite_data_files(root, ts_ms=10000)
        assert rep["files_after"] == 1, rep
        exp = W.expire_snapshots(root, keep_last=2, ts_ms=11000)
        # snapshots 1..7 expire; 8 (manifest rewrite) and 9 (compaction)
        # survive and keep the pre-compaction files referenced
        assert len(exp["expired"]) == 7, exp
        orphans = W.remove_orphan_files(root, older_than_ms=0)
        assert [Path(p).name for p in orphans] == [stray.name], orphans
        report = {
            "files_before": rep["files_before"],
            "files_after": rep["files_after"],
            "manifests_before": m_before,
            "manifests_after": m_after,
            "orphans_removed": len(orphans),
        }
        marker.write_text(_json.dumps({"params": params, "report": report}))
    df = read_sequences(spark, str(root))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_sum"),
        F.sum("doc_id").alias("id_sum"),
    ).select(
        "n_docs",
        "chars_sum",
        "id_sum",
        F.lit(report["files_before"]).cast("long").alias("files_before"),
        F.lit(report["files_after"]).cast("long").alias("files_after"),
        F.lit(report["manifests_before"])
        .cast("long")
        .alias("manifests_before"),
        F.lit(report["manifests_after"])
        .cast("long")
        .alias("manifests_after"),
        F.lit(report["orphans_removed"])
        .cast("long")
        .alias("orphans_removed"),
    )


def iceberg_null_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-COUNT statistics pruning — the manifest's ``null_value_
    counts`` map (recorded at commit from the parquet footers) lets the
    planner answer ``IS NULL`` / ``IS NOT NULL`` predicates from
    metadata alone: a file recording zero nulls cannot satisfy IS NULL,
    and a file whose null count equals its record count cannot satisfy
    IS NOT NULL. The fixture plants nulls deterministically (the
    lexicographically first source's file is ENTIRELY null; sources
    starting 'src1' null lang where doc_id%7==2), so both pruned
    planning counters and the residual-filtered aggregates replay
    exactly in SQL. At 100 TB this is the difference between opening
    every footer and touching only the files that can match."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_pruned

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_nulls" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    ok = False
    if marker.exists():
        try:
            ok = _json.loads(marker.read_text()).get("params") == params
        except Exception:
            ok = False
    if not ok:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "lang", "n_chars"],
        )
        sources = sorted(set(tbl["source"].to_pylist()))
        files = []
        for s in sources:
            part = tbl.filter(pc.equal(tbl["source"], s))
            ids = part["doc_id"].to_numpy()
            if s == sources[0]:
                mask = np.ones(len(ids), dtype=bool)
            elif s.startswith("src1"):
                mask = ids % 7 == 2
            else:
                mask = np.zeros(len(ids), dtype=bool)
            lang = pc.if_else(
                pa.array(mask), pa.nulls(len(ids), pa.string()), part["lang"]
            )
            part = part.set_column(
                part.schema.get_field_index("lang"), "lang", lang
            )
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(part, f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        marker.write_text(_json.dumps({"params": params}))
    null_paths, total = iceberg_scan_paths_pruned(
        str(root), [("lang", "isnull", None)]
    )
    notnull_paths, _ = iceberg_scan_paths_pruned(
        str(root), [("lang", "notnull", None)]
    )
    nd = spark.read.parquet(*null_paths).where(F.col("lang").isNull())
    nn = spark.read.parquet(*notnull_paths).where(F.col("lang").isNotNull())
    return (
        nd.agg(
            F.count(F.lit(1)).alias("n_null"),
            F.sum("n_chars").alias("null_chars"),
        )
        .crossJoin(nn.agg(F.count(F.lit(1)).alias("n_notnull")))
        .select(
            "n_null",
            "null_chars",
            "n_notnull",
            F.lit(len(null_paths)).cast("long").alias("files_scanned_null"),
            F.lit(len(notnull_paths))
            .cast("long")
            .alias("files_scanned_notnull"),
            F.lit(total).cast("long").alias("files_total"),
        )
    )


def iceberg_row_lineage_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE (create_table(row_lineage=True) +
    iceberg.read_with_lineage): every appended row gets a stable
    ``_row_id`` — files claim consecutive first-row-id ranges in append
    order — that survives row-level DELETEs (a deletion-vector commit
    here) AND compaction, because rewrite_data_files MATERIALIZES the
    lineage columns into the consolidated file (the spec rule: position
    arithmetic cannot survive a rewrite). The fixture appends per-source
    document files in sorted-source order, so each doc's _row_id is
    exactly ``ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1`` — the
    DuckDB oracle replays identity assignment, the delete, and the
    preserved sums after compaction. ``n_seq1`` pins every surviving
    row's _last_updated_sequence_number at the append's sequence 1
    (deletes and compaction must NOT bump it). Scale shape: lineage
    derivation is a broadcast dim join on the scan; compaction carries
    ids as plain columns."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_with_lineage

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_lineage" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    ok = False
    if marker.exists():
        try:
            ok = _json.loads(marker.read_text()).get("params") == params
        except Exception:
            ok = False
    if not ok:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000, row_lineage=True)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        files = []
        for s in sorted(set(tbl["source"].to_pylist())):
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(tbl.filter(pc.equal(tbl["source"], s)), f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        W.delete_where_dv(
            root, [("n_chars", "<", 60)], snapshot_id=2, ts_ms=3000
        )
        rep = W.rewrite_data_files(root, ts_ms=4000)
        assert rep["files_after"] < rep["files_before"], rep
        marker.write_text(_json.dumps({"params": params}))
    df = read_with_lineage(spark, str(root))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_row_id").alias("row_id_sum"),
        F.min("_row_id").alias("row_id_min"),
        F.max("_row_id").alias("row_id_max"),
        F.sum(
            (F.col("_last_updated_sequence_number") == 1).cast("long")
        ).alias("n_seq1"),
        F.sum("doc_id").alias("id_sum"),
    )


def iceberg_update_where_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE ... SET ... WHERE (iceberg_write.update_where) —
    the third DML leg after DELETE (iceberg_delete_where_read) and MERGE
    (iceberg_datasource_stream_upsert): ``UPDATE SET n_chars = n_chars +
    1000 WHERE n_chars < 100`` is planned from manifest stats (only
    files with min(n_chars) < 100 are read), matched LIVE rows are
    position-tombstoned AND their updated copies appended in ONE
    merge-on-read snapshot at the new sequence number (exempt from every
    older delete). The update predicate deliberately OVERLAPS a prior
    ``DELETE WHERE n_chars < 60`` commit: already-deleted rows must be
    neither resurrected nor counted — the exact resurrect bug the
    rewrite_data_files round-5 test caught, now gated on the DML path
    too. Post-update MOR read and all counters exact-oracled."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_updwhere" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        files = []
        for s in sorted(set(tbl["source"].to_pylist())):
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(tbl.filter(pc.equal(tbl["source"], s)), f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        W.delete_where(
            root, [("n_chars", "<", 60)], snapshot_id=2, ts_ms=3000
        )
        n_upd, scanned, total = W.update_where(
            root,
            [("n_chars", "<", 100)],
            [("n_chars", "add", 1000)],
            snapshot_id=3,
            ts_ms=4000,
        )
        report = {"n_updated": n_upd, "scanned": scanned, "total": total}
        marker.write_text(_json.dumps({"params": params, "report": report}))
    survivors = read_sequences(spark, str(root))
    return survivors.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_sum"),
        F.sum("doc_id").alias("id_sum"),
    ).select(
        "n_docs",
        "chars_sum",
        "id_sum",
        F.lit(report["n_updated"]).cast("long").alias("n_updated"),
        F.lit(report["scanned"]).cast("long").alias("files_scanned"),
        F.lit(report["total"]).cast("long").alias("files_total"),
    )


def iceberg_table_stats_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUFFIN-style TABLE STATISTICS — per-column NDV sketches attached
    to snapshots (iceberg_write.write_table_stats / read_table_stats),
    the metadata a cost-based optimizer reads for join ordering WITHOUT
    scanning data. Fixture: documents split by doc_id parity; stats
    written after EACH of two appends (theta/bottom-k sketches built by
    the distributed one-pass aggregate over the table read), so snapshot
    1's NDVs describe half the table and snapshot 2's the whole — time
    travel for statistics. Exact by construction: k=4096 exceeds every
    column's cardinality, so each sketch stays in exact mode (theta ==
    2^64, ASSERTED at build — the query self-certifies) and the NDV is
    the exact distinct count the SQL oracle recomputes per subset."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.operators.aggregate import (
        BOTTOMK_INTS,
        BOTTOMK_STRINGS,
        build_sketches,
    )
    from tdigest_spark.sketch.theta import ThetaSketch
    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_tblstats" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    rows = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                rows = [tuple(r) for r in doc["rows"]]
        except Exception:
            rows = None
    if rows is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "lang", "n_chars"],
        )
        even = root / "data" / "even.parquet"
        odd = root / "data" / "odd.parquet"
        parity = pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0)
        pq.write_table(tbl.filter(parity), even)
        pq.write_table(tbl.filter(pc.invert(parity)), odd)

        def _stats_now(sid: int) -> None:
            df = read_sequences(spark, str(root))
            sk = build_sketches(
                df,
                {
                    "source": ("source", BOTTOMK_STRINGS(4096)),
                    "lang": ("lang", BOTTOMK_STRINGS(4096)),
                    "n_chars": ("n_chars", BOTTOMK_INTS(4096)),
                },
            )
            blobs = {}
            for c, bk in sk.items():
                th = ThetaSketch.from_bottomk(bk)
                assert th.theta == 2**64, (c, th.theta)  # exact mode
                blobs[c] = (bk.to_bytes(), int(th.estimate()))
            W.write_table_stats(
                root, blobs, snapshot_id=sid, ts_ms=1000 * sid
            )

        W.append_snapshot(root, [even], snapshot_id=1, ts_ms=2000)
        _stats_now(1)
        W.append_snapshot(root, [odd], snapshot_id=2, ts_ms=3000)
        _stats_now(2)
        rows = []
        for sid in (1, 2):
            for c, info in sorted(W.read_table_stats(root, sid).items()):
                rows.append((sid, c, info["ndv"]))
        marker.write_text(_json.dumps({"params": params, "rows": rows}))
    return spark.createDataFrame(
        rows, "snap long, column string, ndv long"
    ).orderBy("snap", "column")


def iceberg_rewrite_manifests_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST REWRITE (Iceberg's rewrite_manifests maintenance
    procedure) — the metadata-side compaction a 100 TB table needs:
    every commit appends a manifest, so a 1000-commit table plans every
    read through 1000 manifest files; this consolidates the head
    snapshot's manifest list to one manifest per content kind in a
    METADATA-ONLY replace commit (zero data files touched). The fixture
    commits 6 manifests (4 per-source appends over src0..src3, one
    equality delete of doc_id%7==0, one position delete of the 3
    smallest src0 doc_ids — files sorted by doc_id so positions are
    SQL-addressable), captures stats-pruned planning for
    doc_id < min(src2)+1 BEFORE the rewrite, rewrites (6 -> 2), and
    re-plans AFTER: the counts must be identical (entries carry their
    bounds/sequences verbatim into the compacted manifests). The
    post-rewrite MOR read (count + doc_id checksum) and every counter
    are exact in SQL."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import (
        iceberg_metadata_df,
        iceberg_scan_paths_pruned,
        read_sequences,
    )

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_rewrite" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        srcs = ["src0", "src1", "src2", "src3"]
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
        )
        tbl = tbl.filter(pc.is_in(tbl["source"], value_set=pa.array(srcs)))
        src0_path = None
        for i, s in enumerate(srcs):
            part = tbl.filter(pc.equal(tbl["source"], s)).sort_by("doc_id")
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(part, f)
            if s == "src0":
                src0_path = f
            W.append_snapshot(root, [f], snapshot_id=i + 1, ts_ms=2000 + i)
        ids = tbl["doc_id"].to_numpy()
        keys = np.sort(ids[ids % 7 == 0])
        dk = root / "data" / "eq-keys.parquet"
        pq.write_table(
            pa.table({"doc_id": pa.array(keys, type=tbl["doc_id"].type)}),
            dk,
        )
        W.equality_delete_snapshot(root, dk, snapshot_id=5, ts_ms=3000)
        W.delete_rows_snapshot(
            root, {str(src0_path): [0, 1, 2]}, snapshot_id=6, ts_ms=4000
        )
        k = int(
            pc.min(tbl.filter(pc.equal(tbl["source"], "src2"))["doc_id"]).as_py()
        ) + 1
        pre, total = iceberg_scan_paths_pruned(
            str(root), [("doc_id", "<", k)]
        )
        nb, na = W.rewrite_manifests(root, ts_ms=5000)
        post, _ = iceberg_scan_paths_pruned(str(root), [("doc_id", "<", k)])
        report = {
            "n_before": nb,
            "n_after": na,
            "pre": len(pre),
            "post": len(post),
            "total": total,
        }
        marker.write_text(_json.dumps({"params": params, "report": report}))
    survivors = read_sequences(spark, str(root))
    n_after_measured = iceberg_metadata_df(spark, str(root), "manifests").count()
    return survivors.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("sum_doc_id"),
    ).select(
        F.lit(report["n_before"]).cast("long").alias("n_manifests_before"),
        F.lit(n_after_measured).cast("long").alias("n_manifests_after"),
        "n_rows",
        "sum_doc_id",
        F.lit(report["pre"]).cast("long").alias("files_scanned_pre"),
        F.lit(report["post"]).cast("long").alias("files_scanned_post"),
        F.lit(report["total"]).cast("long").alias("files_total"),
    )


def iceberg_rewrite_pos_deletes_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-DELETE COMPACTION (iceberg_write.rewrite_position_deletes
    — Iceberg's rewrite_position_delete_files maintenance procedure, the
    delete-side twin of the data-file bin-pack): a table under steady
    row-level DELETE traffic accretes one tiny pos-delete parquet per
    commit, so every MERGE-ON-READ scan opens all of them; compaction
    merges them into ONE spec-shaped file, DEDUPED on (path, pos), and
    drops DANGLING rows (tombstones whose data file was retired by
    rewrite_data_files and can never subtract anything again). The
    fixture appends src0 / src1 / src2-split-in-two (identity-partitioned
    on source, files sorted by doc_id so positions are SQL-addressable),
    commits three pos-delete files — {src0:[0,1]}, {src1:[0],
    src2a:[0]}, {src0:[1,2]} (one duplicate position, one reference
    that rewrite_data_files will orphan) — bin-packs the src2 halves
    (the only multi-file partition bin), then compacts the deletes:
    3 files / 6 rows -> 1 file / 4 rows. The MOR read (count + doc_id
    checksum, captured BEFORE compaction and re-read live AFTER) must
    be identical, and every counter is exact in SQL."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import (
        iceberg_scan_entries_static,
        read_sequences,
    )

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_rewrite_posdel" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(
            root, ts_ms=1000,
            schema_fields=[("doc_id", "long"), ("source", "string")],
        )
        W.set_partition_spec(root, [("source", "identity")], ts_ms=1500)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
        )
        tbl = tbl.filter(
            pc.is_in(tbl["source"], value_set=pa.array(["src0", "src1", "src2"]))
        )
        files = {}
        for s in ("src0", "src1"):
            part = tbl.filter(pc.equal(tbl["source"], s)).sort_by("doc_id")
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(part, f)
            files[s] = f
        p2 = tbl.filter(pc.equal(tbl["source"], "src2")).sort_by("doc_id")
        half = (p2.num_rows + 1) // 2
        for name, sl in (("src2a", p2.slice(0, half)), ("src2b", p2.slice(half))):
            f = root / "data" / f"s-{name}.parquet"
            pq.write_table(sl, f)
            files[name] = f
        W.append_snapshot(root, list(files.values()), snapshot_id=1, ts_ms=2000)
        W.delete_rows_snapshot(
            root, {str(files["src0"]): [0, 1]}, snapshot_id=2, ts_ms=3000
        )
        W.delete_rows_snapshot(
            root, {str(files["src1"]): [0], str(files["src2a"]): [0]},
            snapshot_id=3, ts_ms=4000,
        )
        W.delete_rows_snapshot(
            root, {str(files["src0"]): [1, 2]}, snapshot_id=4, ts_ms=5000
        )
        rep = W.rewrite_data_files(root, ts_ms=6000)
        # expected survivors, computed independently of the reader: src0
        # minus its 3 smallest doc_ids, src1 and src2 minus their minima
        ids = tbl["doc_id"].to_numpy()
        srcs = np.asarray(tbl["source"])
        i0 = np.sort(ids[srcs == "src0"])
        drop = set(i0[:3].tolist())
        for s in ("src1", "src2"):
            drop.add(int(ids[srcs == s].min()))
        kept = np.array(sorted(set(ids.tolist()) - drop), dtype=np.int64)
        nb, na, rb, ra = W.rewrite_position_deletes(root, ts_ms=7000)
        report = {
            "pos_before": nb,
            "pos_after": na,
            "rows_before": rb,
            "rows_after": ra,
            "data_files": rep["files_after"],
            "pre_n_rows": int(kept.size),
            "pre_sum": int(kept.sum()),
        }
        marker.write_text(_json.dumps({"params": params, "report": report}))
    n_pos_live = len(iceberg_scan_entries_static(str(root))["pos_deletes"])
    survivors = read_sequences(spark, str(root))
    return survivors.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("sum_doc_id"),
    ).select(
        F.lit(report["pos_before"]).cast("long").alias("n_pos_files_before"),
        F.lit(n_pos_live).cast("long").alias("n_pos_files_after"),
        F.lit(report["rows_before"]).cast("long").alias("n_del_rows_before"),
        F.lit(report["rows_after"]).cast("long").alias("n_del_rows_after"),
        F.lit(report["data_files"]).cast("long").alias("n_data_files"),
        "n_rows",
        "sum_doc_id",
        F.lit(report["pre_n_rows"]).cast("long").alias("pre_n_rows"),
        F.lit(report["pre_sum"]).cast("long").alias("pre_sum_doc_id"),
    )


def iceberg_compact_small_files_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION (iceberg_write.rewrite_data_files — Iceberg's
    rewrite_data_files bin-pack, the data-side twin of the manifest
    rewrite): six per-source commits leave six small files plus an
    equality delete (doc_id % 5 == 0) and a position delete (the two
    smallest src1 doc_ids — files are sorted by doc_id so positions are
    SQL-addressable); compaction reads them through the MERGE-ON-READ
    view (deletes APPLIED, because the consolidated file commits at a
    newer sequence that older deletes no longer cover) and bin-packs all
    six into ONE file. The post-compaction read (count + doc_id
    checksum), the rewritten-row count, and every file counter are exact
    in SQL. At 100 TB this is the nightly job that keeps scan cost
    tracking bytes instead of file-open count."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_compact" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        srcs = [f"src{i}" for i in range(6)]
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
        )
        tbl = tbl.filter(pc.is_in(tbl["source"], value_set=pa.array(srcs)))
        src1_path = None
        for i, s in enumerate(srcs):
            part = tbl.filter(pc.equal(tbl["source"], s)).sort_by("doc_id")
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(part, f)
            if s == "src1":
                src1_path = f
            W.append_snapshot(root, [f], snapshot_id=i + 1, ts_ms=2000 + i)
        ids = tbl["doc_id"].to_numpy()
        keys = np.sort(ids[ids % 5 == 0])
        dk = root / "data" / "eq-keys.parquet"
        pq.write_table(
            pa.table({"doc_id": pa.array(keys, type=tbl["doc_id"].type)}),
            dk,
        )
        W.equality_delete_snapshot(root, dk, snapshot_id=7, ts_ms=3000)
        W.delete_rows_snapshot(
            root, {str(src1_path): [0, 1]}, snapshot_id=8, ts_ms=4000
        )
        rep = W.rewrite_data_files(root, target_bytes=1 << 30, ts_ms=5000)
        report = {k: int(v) for k, v in rep.items()}
        marker.write_text(_json.dumps({"params": params, "report": report}))
    survivors = read_sequences(spark, str(root))
    return survivors.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("sum_doc_id"),
    ).select(
        F.lit(report["files_before"]).cast("long").alias("files_before"),
        F.lit(report["files_after"]).cast("long").alias("files_after"),
        F.lit(report["files_rewritten"]).cast("long").alias("files_rewritten"),
        F.lit(report["rows_rewritten"]).cast("long").alias("rows_rewritten"),
        "n_rows",
        "sum_doc_id",
    )


def iceberg_metadata_only_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-ONLY AGGREGATES from manifest metadata — COUNT/MIN/MAX
    answered without opening ONE data file (iceberg.iceberg_metadata_
    aggregates): count = Σ per-entry record counts, extrema = folds of
    the per-file numeric bounds the writer recorded at commit time. The
    O(manifest) fast path every Iceberg engine takes for these shapes —
    at 100 TB the difference between milliseconds of metadata and a full
    scan. Sound by construction: the helper REFUSES tables carrying
    merge-on-read deletes (a tombstoned row can hold the extremum) and
    columns with incomplete bounds; string bounds are refused outright
    (upper bounds may be truncation-incremented). The six-file per-source
    fixture is append-only, so every number is exact against the plain
    SQL aggregate."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_metadata_aggregates

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_statsonly" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    ok = False
    if marker.exists():
        try:
            ok = _json.loads(marker.read_text()).get("params") == params
        except Exception:
            ok = False
    if not ok:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        srcs = [f"src{i}" for i in range(6)]
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "n_chars", "source"],
        )
        tbl = tbl.filter(pc.is_in(tbl["source"], value_set=pa.array(srcs)))
        for i, s in enumerate(srcs):
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(tbl.filter(pc.equal(tbl["source"], s)), f)
            W.append_snapshot(root, [f], snapshot_id=i + 1, ts_ms=2000 + i)
        marker.write_text(_json.dumps({"params": params}))
    agg = iceberg_metadata_aggregates(
        str(root), {"doc_id": "long", "n_chars": "long"}
    )
    return spark.createDataFrame(
        [
            (
                int(agg["count"]),
                int(agg["min"]["doc_id"]),
                int(agg["max"]["doc_id"]),
                int(agg["min"]["n_chars"]),
                int(agg["max"]["n_chars"]),
            )
        ],
        "n_rows long, min_doc_id long, max_doc_id long, "
        "min_chars long, max_chars long",
    )


def iceberg_wap_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH + ROLLBACK — the two pointer-move workflows
    production tables live by. WAP: even doc_ids land on main, odd ids
    are STAGED on branch 'audit' (no reader of main ever sees them),
    then publishing is one metadata-only fast-forward of main to the
    branch head. Rollback: a bad copy-on-write overwrite (zh-only) is
    then undone by pointing main back at the published snapshot —
    nothing deleted, the bad snapshot stays in history. The query reads
    all four states (pre-publish, staged, bad commit, final-after-
    rollback) through the same static walk; final == staged is the
    rollback proof, and every state is recomputed exactly from the
    documents view."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_wap" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    sids = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                sids = doc["sids"]
        except Exception:
            sids = None
    if sids is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"]
        )
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1))
        f1 = root / "data" / "even.parquet"
        pq.write_table(even, f1)
        s_pre = W.append_snapshot(root, [f1], snapshot_id=1, ts_ms=2000)
        f2 = root / "data" / "odd.parquet"
        pq.write_table(odd, f2)
        s_staged = W.append_snapshot(
            root, [f2], snapshot_id=2, ts_ms=3000, branch="audit"
        )
        published = W.fast_forward(root, "audit", ts_ms=4000)
        assert published == s_staged
        zh = tbl.filter(pc.equal(tbl["lang"], "zh"))
        f3 = root / "data" / "bad.parquet"
        pq.write_table(zh, f3)
        s_bad = W.overwrite_snapshot(root, [f3], snapshot_id=3, ts_ms=5000)
        W.rollback_to_snapshot(root, published, ts_ms=6000)
        sids = {"pre_publish": s_pre, "staged": s_staged, "bad_commit": s_bad}
        marker.write_text(_json.dumps({"params": params, "sids": sids}))
    outs = []
    for label, sid in (
        ("1_pre_publish", sids["pre_publish"]),
        ("2_staged", sids["staged"]),
        ("3_bad_commit", sids["bad_commit"]),
        ("4_final", None),  # current == rolled-back == staged
    ):
        df = read_sequences(spark, str(root), snapshot_id=sid)
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("id_sum"),
            ).select(F.lit(label).alias("state"), "n_docs", "id_sum")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("state")


def iceberg_wap_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAP publish when MAIN MOVED: docs with doc_id%3==0 land on main,
    %3==1 are staged on branch 'audit', then main advances with the
    %3==2 slice AFTER the fork — so fast_forward correctly REFUSES
    (pointer move would unpublish the advance; the raise is asserted)
    and the publish goes through cherry_pick_snapshot instead: a new
    append re-applying exactly the files the staged snapshot added, on
    top of the advanced head. The three states (pre-fork, advanced,
    published) are read through the same static snapshot walk and each
    is recomputed exactly from the documents view; the picked snapshot
    itself stays branch-only history. Re-picking the now-published
    snapshot raises (ancestor guard — the duplicate-publish footgun)."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_cherry" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    sids = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                sids = doc["sids"]
        except Exception:
            sids = None
    if sids is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"]
        )
        mod = pc.subtract(
            tbl["doc_id"],
            pc.multiply(pc.divide(tbl["doc_id"], 3), 3),
        )
        slices = [tbl.filter(pc.equal(mod, k)) for k in (0, 1, 2)]
        f0 = root / "data" / "m0.parquet"
        pq.write_table(slices[0], f0)
        s_pre = W.append_snapshot(root, [f0], snapshot_id=1, ts_ms=2000)
        f1 = root / "data" / "m1.parquet"
        pq.write_table(slices[1], f1)
        s_staged = W.append_snapshot(
            root, [f1], snapshot_id=2, ts_ms=3000, branch="audit"
        )
        f2 = root / "data" / "m2.parquet"
        pq.write_table(slices[2], f2)
        s_adv = W.append_snapshot(root, [f2], snapshot_id=3, ts_ms=4000)
        try:
            W.fast_forward(root, "audit", ts_ms=5000)
            raise AssertionError("fast_forward must refuse: main advanced")
        except ValueError:
            pass
        s_pub = W.cherry_pick_snapshot(root, s_staged, ts_ms=6000)
        try:
            W.cherry_pick_snapshot(root, s_staged, ts_ms=7000)
            raise AssertionError("re-pick of an ancestor must refuse")
        except ValueError:
            pass
        sids = {"pre_fork": s_pre, "advanced": s_adv, "published": s_pub}
        marker.write_text(_json.dumps({"params": params, "sids": sids}))
    outs = []
    for label, sid in (
        ("1_pre_fork", sids["pre_fork"]),
        ("2_advanced", sids["advanced"]),
        ("3_published", None),  # current == cherry-picked head
    ):
        df = read_sequences(spark, str(root), snapshot_id=sid)
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("id_sum"),
            ).select(F.lit(label).alias("state"), "n_docs", "id_sum")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("state")


def iceberg_metadata_tables_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg INSPECTION tables (the ``table.files`` / ``.snapshots`` /
    ``.manifests`` surface every operator dashboard queries): a two-commit
    table (one file per source, then one odd-docs file) is summarized
    ENTIRELY from its metadata walk — no data file opened — and the
    numbers are exact in SQL: file count = sources + 1, record totals,
    sequence range, snapshot count/ops, current snapshot's manifest
    count (append reuses the prior manifest — O(new files) commits)."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_metadata_df

    tmp = tempfile.mkdtemp(prefix="ice_meta_")
    try:
        root = Path(tmp) / "tbl"
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
        )
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1))
        files = []
        for s in sorted(set(even["source"].to_pylist())):
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(even.filter(pc.equal(even["source"], s)), f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        f2 = root / "data" / "odd.parquet"
        pq.write_table(odd, f2)
        W.append_snapshot(root, [f2], snapshot_id=2, ts_ms=3000)
        fdf = iceberg_metadata_df(spark, str(root), "files")
        sdf = iceberg_metadata_df(spark, str(root), "snapshots")
        mdf = iceberg_metadata_df(spark, str(root), "manifests")
        row = (
            fdf.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("record_count").alias("total_records"),
                F.min("sequence_number").alias("seq_min"),
                F.max("sequence_number").alias("seq_max"),
            )
            .crossJoin(
                sdf.agg(
                    F.count(F.lit(1)).alias("n_snapshots"),
                    F.concat_ws(
                        ",", F.sort_array(F.collect_list("operation"))
                    ).alias("ops"),
                )
            )
            .crossJoin(mdf.agg(F.count(F.lit(1)).alias("n_manifests")))
        )
        return spark.createDataFrame(row.collect(), row.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_expire_maintenance_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg table MAINTENANCE end to end — the nightly job every
    production table runs: a three-commit history (append even doc_ids,
    append odd, copy-on-write overwrite to lang='en') is expired down to
    the current snapshot. Expiration deletes exactly the files reachable
    only from expired snapshots (the two pre-overwrite data files — the
    retained snapshot's tombstone entries do not pin them, readers skip
    status 2) while the live file survives; the orphan scan then proves a
    clean data dir (a planted never-committed stray is detected before
    deletion). Without this job a 100 TB table's storage grows without
    bound under churn. The post-maintenance read and every maintenance
    counter are exact-oracled; the report is computed once at fixture
    build and persisted (expiration is destructive — re-running it on an
    already-expired table is a no-op by design)."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_expire" / Path(sf_dir).name
    marker = root / "_fixture.json"
    report_file = root / "maintenance.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists() and report_file.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "lang", "source", "n_chars"],
        )
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1))
        en = tbl.filter(pc.equal(tbl["lang"], "en"))
        f_even = root / "data" / "even.parquet"
        f_odd = root / "data" / "odd.parquet"
        f_en = root / "data" / "en.parquet"
        pq.write_table(even, f_even)
        pq.write_table(odd, f_odd)
        pq.write_table(en, f_en)
        W.append_snapshot(root, [f_even], snapshot_id=1, ts_ms=2000)
        W.append_snapshot(root, [f_odd], snapshot_id=2, ts_ms=3000)
        W.overwrite_snapshot(root, [f_en], snapshot_id=3, ts_ms=4000)
        # a crashed writer's never-committed file: the orphan scan must
        # see it, and expiration must NOT touch it
        stray = root / "data" / "stray.parquet"
        pq.write_table(even.slice(0, 1), stray)
        rep = W.expire_snapshots(root, keep_last=1, ts_ms=5000)
        orphans = W.orphan_files(root)
        report = {
            "n_expired": len(rep["expired"]),
            "n_deleted_data": len(rep["deleted_data_files"]),
            "n_orphans": len(orphans),
            "live_survives": int((f_en).exists()),
            "stray_survives": int(stray.exists()),
        }
        report_file.write_text(_json.dumps(report))
        marker.write_text(_json.dumps(params))
    rep = _json.loads(report_file.read_text())
    df = read_sequences(spark, str(root))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        )
        .select(
            "source",
            "n_docs",
            "sum_chars",
            F.lit(rep["n_expired"]).cast("long").alias("n_expired"),
            F.lit(rep["n_deleted_data"]).cast("long").alias("n_deleted_data"),
            F.lit(rep["n_orphans"]).cast("long").alias("n_orphans"),
            F.lit(rep["live_survives"] and rep["stray_survives"])
            .cast("long")
            .alias("maintenance_ok"),
        )
        .orderBy("source")
    )


def iceberg_partition_stats_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg PARTITION STATISTICS files (spec v3
    ``partition-statistics``): per-partition file/record/size counts
    computed from the snapshot's live manifest entries and attached as a
    stats file in a METADATA-ONLY commit — the planner answers "how big
    is each partition / is the backfill skewed?" with ZERO data files
    opened (iceberg_write.write_partition_stats / read_partition_stats).
    The fixture partitions documents by identity(source) with TWO files
    for src0 (stats must aggregate per PARTITION, not per file) and one
    for every other source; the oracle replays exactly those counts from
    the raw table. Expiration GC's partition-stats files with their
    snapshots (mirrors the NDV statistics list)."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_pstats" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    rows = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                rows = doc["rows"]
        except Exception:
            rows = None
    if rows is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(
            root, ts_ms=1000,
            schema_fields=[("doc_id", "long"), ("source", "string")],
        )
        W.set_partition_spec(root, [("source", "identity")], ts_ms=1500)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
        )
        sources = sorted(set(tbl["source"].to_pylist()))
        files = []
        for s in sources:
            part = tbl.filter(pc.equal(tbl["source"], s)).sort_by("doc_id")
            if s == sources[0]:
                half = (part.num_rows + 1) // 2
                for tag, sl in (
                    ("a", part.slice(0, half)),
                    ("b", part.slice(half)),
                ):
                    f = root / "data" / f"p-{s}-{tag}.parquet"
                    pq.write_table(sl, f)
                    files.append(f)
            else:
                f = root / "data" / f"p-{s}.parquet"
                pq.write_table(part, f)
                files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        W.write_partition_stats(root, ts_ms=3000)
        stats = W.read_partition_stats(root)
        rows = [
            (
                next(iter(p["partition"].values())),
                p["n_files"],
                p["record_count"],
                int(p["total_size_bytes"] > 0),
            )
            for p in stats
        ]
        marker.write_text(_json.dumps({"params": params, "rows": rows}))
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "source string, n_files long, record_count long, size_positive int",
    ).orderBy("source")


def doc_bloom_index_point_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILE-LEVEL BLOOM SIDECAR INDEX (plans/bloom_index) — point
    lookups over a key column HASH-SCATTERED across files, where parquet
    zone maps are useless (every file's [min,max] spans the domain, the
    case that defeats z-order and sort-based pruning alike). The fixture
    shards documents round-robin by md5(doc_id) into 8 files, builds one
    tiny Bloom sidecar per file, and the lookup opens ONLY files whose
    bloom might contain a probe key — pruning asserted in-query (< 8
    files opened; no false negatives possible by construction). The
    oracle is the plain IN-list lookup; n_files metadata is driver-side
    sidecar bytes, never a data scan."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.parquet as pq

    from tdigest_spark.plans.bloom_index import (
        build_bloom_index,
        prune_files_by_keys,
    )
    from tdigest_spark.sketch.hashing import md5_lower64_ints

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "bloom_idx" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        root.mkdir(parents=True)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        import pyarrow as pa

        ids = tbl["doc_id"].to_numpy()
        shard = (md5_lower64_ints(ids) % 8).astype(np.int64)
        files = []
        for s in range(8):
            f = root / f"shard-{s}.parquet"
            pq.write_table(tbl.filter(pa.array(shard == s)), f)
            files.append(f)
        build_bloom_index(files, "doc_id", fpp=0.01)
        marker.write_text(_json.dumps(params))
    files = sorted(str(p) for p in root.glob("shard-*.parquet"))
    keys = [1, 3, 5, 7, 9]
    kept = prune_files_by_keys(files, keys)
    assert kept and len(kept) < len(files), (len(kept), len(files))
    out = (
        spark.read.parquet(*kept)
        .where(F.col("doc_id").isin(keys))
        .select("doc_id", "source", F.col("n_chars").cast("long"))
        .orderBy("doc_id")
    )
    return spark.createDataFrame(out.collect(), out.schema)


def doc_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the Catalyst runtime optimization
    static pruning can't reach: the fact side is hive-partitioned by
    source (20 directories), the dim side's 'hot' filter is only known
    at RUNTIME through the join, and Spark injects a
    DynamicPruningExpression into the fact scan's PartitionFilters so
    only the 3 joined directories are READ. Both halves are PROVEN
    in-query: the executed plan must contain dynamicpruning, and the
    scan's post-execution numFiles metric must equal 3 (of 20) — the
    assertion fails loudly if a regression turns this into a full scan.
    At 100 TB this is the difference between reading 3 partitions and
    reading the table. Oracle replays the hot set (3 lexicographically
    smallest sources) and pins both file counters as literals."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "hive_dpp" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        for s in sorted(set(tbl["source"].to_pylist())):
            part = tbl.filter(pc.equal(tbl["source"], s)).drop(["source"])
            d = root / f"source={s}"
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(part, d / "part-0.parquet")
        marker.write_text(_json.dumps(params))
    sources = sorted(
        p.name.split("=", 1)[1]
        for p in root.iterdir()
        if p.is_dir() and p.name.startswith("source=")
    )
    hot = sources[:3]
    # AQE wraps stages as leaf QueryStageExec nodes, hiding the scan
    # from collectLeaves — classic (non-adaptive) DPP for the metric
    # walk; the pruning mechanism under test is the same either way
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fact = spark.read.parquet(str(root))
        dim = spark.createDataFrame(
            [(s, "hot" if s in hot else "cold") for s in sources],
            "source string, tier string",
        )
        out = (
            fact.join(
                F.broadcast(dim.where(F.col("tier") == "hot")), "source"
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
            )
        )
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
        leaves = out._jdf.queryExecution().executedPlan().collectLeaves()
        n_read = None
        for i in range(leaves.size()):
            try:
                n_read = int(
                    leaves.apply(i).metrics().apply("numFiles").value()
                )
                break
            except Exception:
                continue
        assert n_read == len(hot), (n_read, plan)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return spark.createDataFrame(
        [
            (r["source"], r["n_docs"], r["sum_chars"], n_read, len(sources))
            for r in rows
        ],
        "source string, n_docs long, sum_chars long,"
        " n_files_read int, n_files_total int",
    ).orderBy("source")


def iceberg_ref_retention_expire(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg PER-REF RETENTION (``max-ref-age-ms``): a nightly tag
    carries an age cap while a release tag pins forever. The first
    expiration runs INSIDE the cap — the tag survives and keeps its
    snapshot un-expirable; the second runs past it — the ref is removed
    in the same commit (iceberg_write.expire_snapshots ``removed_refs``),
    its snapshot immediately expires under keep_last, and time travel to
    it raises, while the capless release tag still resolves and the
    aged snapshot's DATA files survive because retained append
    snapshots still reference them (expiration deletes only
    unreachable files — ref removal never implies data loss on an
    append-only history). Ref age measures against the REFERENCED
    SNAPSHOT's commit timestamp, Iceberg's RemoveSnapshots rule; all
    clocks are explicit ts_ms so the fixture is deterministic. Spec:
    https://iceberg.apache.org/docs/latest/branching/ (maxRefAgeMs)."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_ref_age" / Path(sf_dir).name
    marker = root / "_fixture.json"
    report_file = root / "retention.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists() and report_file.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "lang", "source", "n_chars"],
        )
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 1))
        en = tbl.filter(pc.equal(tbl["lang"], "en"))
        f_even = root / "data" / "even.parquet"
        f_odd = root / "data" / "odd.parquet"
        f_en = root / "data" / "en.parquet"
        pq.write_table(even, f_even)
        pq.write_table(odd, f_odd)
        pq.write_table(en, f_en)
        W.append_snapshot(root, [f_even], snapshot_id=1, ts_ms=2000)
        W.append_snapshot(root, [f_odd], snapshot_id=2, ts_ms=3000)
        W.append_snapshot(root, [f_en], snapshot_id=3, ts_ms=4000)
        W.create_ref(
            root, "nightly", snapshot_id=1, ts_ms=4100,
            max_ref_age_ms=3000,
        )
        W.create_ref(root, "release", snapshot_id=2, ts_ms=4200)
        # inside the cap: nightly age = 4400-2000 = 2400 <= 3000
        r1 = W.expire_snapshots(root, keep_last=1, ts_ms=4400)
        # past the cap: age 4000 > 3000 -> ref removed, snapshot 1 expires
        r2 = W.expire_snapshots(root, keep_last=1, ts_ms=6000)
        from tdigest_spark.sources.iceberg import iceberg_ref_snapshot

        try:
            release_rows = read_sequences(
                spark,
                str(root),
                snapshot_id=iceberg_ref_snapshot(str(root), "release"),
            ).count()
        except Exception:
            release_rows = -1
        s1_raises = 0
        try:
            read_sequences(spark, str(root), snapshot_id=1).count()
        except Exception:
            s1_raises = 1
        report = {
            "r1_removed": len(r1["removed_refs"]),
            "r1_expired": len(r1["expired"]),
            "r2_removed": len(r2["removed_refs"]),
            "r2_expired": len(r2["expired"]),
            "even_file_survives": int(f_even.exists()),
            "release_resolves": int(release_rows > 0),
            "s1_travel_raises": s1_raises,
        }
        report_file.write_text(_json.dumps(report))
        marker.write_text(_json.dumps(params))
    rep = _json.loads(report_file.read_text())
    df = read_sequences(spark, str(root))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        )
        .select(
            "source",
            "n_docs",
            "sum_chars",
            *[
                F.lit(rep[k]).cast("long").alias(k)
                for k in (
                    "r1_removed",
                    "r1_expired",
                    "r2_removed",
                    "r2_expired",
                    "even_file_survives",
                    "release_resolves",
                    "s1_travel_raises",
                )
            ],
        )
        .orderBy("source")
    )


def iceberg_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg MERGE INTO (upsert) as ONE atomic commit: v1 commits the
    documents table; v2 upserts — every even doc_id gets a new row version
    with doubled n_chars (WHEN MATCHED UPDATE) and one brand-new doc_id=-1
    row is inserted (WHEN NOT MATCHED INSERT) — via a same-sequence
    equality delete + data append (sources/iceberg_write.upsert_snapshot).
    The reader's strict-smaller sequence rule performs the merge at scan
    time: older copies tombstone, the new versions survive, nothing is
    rewritten — the only write shape that holds up under continuous
    updates at 100 TB. Oracle recomputes the merged state from the
    documents view with a CASE + UNION ALL."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_upsert" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        cols = ["doc_id", "lang", "source", "n_chars"]
        tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=cols)
        base = root / "data" / "base.parquet"
        pq.write_table(tbl, base)
        W.append_snapshot(root, [base], snapshot_id=1, ts_ms=2000)
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        updated = even.set_column(
            even.schema.get_field_index("n_chars"),
            "n_chars",
            pc.multiply(even["n_chars"], 2),
        )
        insert = pa.table(
            {
                "doc_id": pa.array([-1], pa.int64()),
                "lang": ["en"],
                "source": ["src0"],
                "n_chars": pa.array([777], pa.int64()),
            }
        )
        newf = root / "data" / "upsert.parquet"
        pq.write_table(
            pa.concat_tables([updated, insert.cast(updated.schema)]), newf
        )
        keys = root / "data" / "upsert-keys.parquet"
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.concat_arrays(
                        [
                            even["doc_id"].combine_chunks(),
                            pa.array([-1], pa.int64()),
                        ]
                    )
                }
            ),
            keys,
        )
        W.upsert_snapshot(root, [newf], keys, snapshot_id=2, ts_ms=3000)
        marker.write_text(_json.dumps(params))
    df = read_sequences(spark, str(root))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        )
        .orderBy("source")
    )


def iceberg_python_datasource_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static Iceberg reader surfaced through SPARK'S OWN extension
    point — the Python Data Source API (Spark 4): after
    ``spark.dataSource.register``, the month-partitioned orders table
    reads as ``spark.read.format("iceberg_static")`` and Catalyst pushes
    the 12-month predicate into the source's planner
    (``pushFilters`` -> manifest-stats pruning -> one InputPartition per
    SURVIVING file), so the job runs 12 tasks instead of 80 while every
    filter stays residual (partial pushdown — pruning can never change
    results). files_scanned/files_total are the actual Spark partition
    counts of the filtered and unfiltered loads, exact-oracled against
    the distinct order months; workers stream Arrow batches straight from
    pyarrow (single-threaded per task — the cores² trap, CLAUDE.md)."""
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    # reuse (and if needed build) the month-partitioned fixture
    iceberg_stats_pruned_read(spark, sf_dir)
    import os
    from pathlib import Path

    root = str(
        Path(os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache"))
        / "iceberg_stats"
        / Path(sf_dir).name
    )
    spark.dataSource.register(IcebergStaticDataSource)
    load = lambda: spark.read.format("iceberg_static").option("path", root).load()
    filtered = load().where(
        (F.col("o_orderdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    n_scanned = filtered.rdd.getNumPartitions()
    n_total = load().rdd.getNumPartitions()
    return (
        filtered.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "price_cents"
            ),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "price_cents",
            F.lit(n_scanned).cast("long").alias("files_scanned"),
            F.lit(n_total).cast("long").alias("files_total"),
        )
        .orderBy("o_orderpriority")
    )


def iceberg_datasource_write_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Iceberg WRITE through Spark's Python Data Source API
    (sources/datasource.py:_StaticIcebergWriter): ``df.write.format(
    "iceberg_static")`` fans the orders table out so each task streams its
    partition's Arrow batches into ONE parquet data file and the driver
    makes a single atomic ``append_snapshot`` commit referencing exactly
    the successful attempts' files — the same task-files/driver-commit
    split iceberg-spark itself uses, so the write is shuffle-free and the
    commit is O(files) metadata work at any scale. Two appends (even then
    odd order keys) produce snapshots 1 and 2; the read back is the same
    data source, so snapshot 1 time-travels to exactly the even half
    (snapshot1_rows) while the current read aggregates the full table.
    n_snapshots is read from the committed metadata, exact-oracled 2."""
    import shutil
    import tempfile
    from pathlib import Path

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_dsw_")
    try:
        root = str(Path(tmp) / "tbl")
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        for parity in (0, 1):
            (
                orders.where(F.col("o_orderkey") % 2 == parity)
                .repartition(4)
                .write.format("iceberg_static")
                .mode("append")
                .option("path", root)
                .save()
            )
        snap1_rows = (
            spark.read.format("iceberg_static")
            .option("path", root)
            .option("snapshot_id", "1")
            .load()
            .count()
        )
        n_snapshots = len(W.snapshot_ids(root))
        out = (
            spark.read.format("iceberg_static")
            .option("path", root)
            .load()
            .where(F.col("o_totalprice") > 50000)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                ).alias("price_cents"),
            )
            .select(
                "o_orderpriority",
                "n_orders",
                "price_cents",
                F.lit(n_snapshots).cast("long").alias("n_snapshots"),
                F.lit(snap1_rows).cast("long").alias("snapshot1_rows"),
            )
            .orderBy("o_orderpriority")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_datasource_partitioned_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg FANOUT write through the Python Data Source
    (sources/datasource.py:_write_task_file): the table declares a hidden
    ``day(ts)`` partition spec, so each write task routes rows to one
    file per partition tuple it sees — partition-pure files by
    construction, which is what a real Iceberg writer guarantees and what
    makes hidden partitioning WORK on read. The input is repartitioned by
    the same day expression, so exactly one task sees each day and the
    committed file count is exactly the distinct-day count
    (files_total, exact-oracled). The read back filters only the SOURCE
    column ``ts``; partition pruning (order-preserving day transform,
    strict bounds relaxed to inclusive) composes with manifest
    column-stats pruning (exact micros bounds) so the scanned file count
    is exactly the days with a row inside the half-open range
    (files_scanned, exact-oracled). At 100 TB this is the difference
    between a 10-day query scanning 10 days and scanning the table."""
    import shutil
    import tempfile
    from pathlib import Path

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_fanout_")
    try:
        root = str(Path(tmp) / "tbl")
        W.create_table(root, ts_ms=1000)
        W.set_partition_spec(root, [("ts", "day")], ts_ms=1100)
        ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
        (
            ev.repartition(8, F.to_date("ts"))
            .write.format("iceberg_static")
            .mode("append")
            .option("path", root)
            .save()
        )
        load = lambda: (
            spark.read.format("iceberg_static").option("path", root).load()
        )
        n_total = load().rdd.getNumPartitions()
        lo = F.lit("2024-01-10").cast("timestamp_ntz")
        hi = F.lit("2024-01-20").cast("timestamp_ntz")
        filtered = load().where((F.col("ts") >= lo) & (F.col("ts") < hi))
        n_scanned = filtered.rdd.getNumPartitions()
        out = (
            filtered.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100).cast("long")
                ).alias("value_cents"),
            )
            .select(
                "event_type",
                "n_events",
                "value_cents",
                F.lit(n_scanned).cast("long").alias("files_scanned"),
                F.lit(n_total).cast("long").alias("files_total"),
            )
            .orderBy("event_type")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def events_stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``transformWithStateInPandas`` (the typed-state successor
    to applyInPandasWithState; streaming/transform_with_state_user_totals):
    events stream in two micro-batches through a per-user ValueState
    ``(n, cents)`` held in the RocksDB state store; each batch emits the
    key's updated CUMULATIVE totals, so max_by(value_cents, n_events)
    per user — the last emission — equals the exact whole-stream GROUP BY
    (floor-cents integer sums are batching-order independent). Result is
    the top 20 users by (n_events DESC, user_id ASC), exact-oracled."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from tdigest_spark.streaming import transform_with_state_user_totals

    tmp = tempfile.mkdtemp(prefix="tws_")
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        from pathlib import Path

        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["user_id", "value"]
        )
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), indir / "part1.parquet")
        pq.write_table(tbl.slice(half), indir / "part2.parquet")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        out = transform_with_state_user_totals(stream, "user_id", "value")
        q = (
            out.writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("TWS stream did not drain within 300s")
        res = (
            spark.read.parquet(f"{tmp}/out")
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max_by("value_cents", "n_events").alias("value_cents"),
            )
            .orderBy(F.desc("n_events"), F.asc("user_id"))
            .limit(20)
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        if old_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )
        shutil.rmtree(tmp, ignore_errors=True)


def events_stream_tws_ttl_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE TTL on ``transformWithStateInPandas`` (streaming/
    transform_with_state_ttl_counts) — the expiry knob that bounds state
    for UNBOUNDED key spaces (per-key state with no TTL is the slow leak
    that kills a 100 TB stream at billions of keys). Two per-user
    ValueState counters fold the same rows: one with a 2s TTL, one with
    a 1h TTL. Events split by event_id parity into two staged files; the
    driver waits for the first batch's emissions, then enforces a
    wall-clock gap STRICTLY greater than the short TTL (monotonic-clock
    loop — TTL expiry is pinned to the updating batch's processing time,
    so elapsed > ttl guarantees expiry; the 1h TTL cannot elapse inside
    the driver's own timeout) before staging the second file. The short
    counter therefore restarts at the second batch while the long one
    carries through — both exact in SQL: per user, n_long = total
    events, n_short = odd-half events (or the even-half count for users
    the second batch never touches). TTL is processing-time based, and
    BOTH the availableNow trigger and processAllAvailable() hang
    forever under timeMode='processingTime' (empty batches keep
    ticking, so the no-more-data condition never holds) — the query
    runs a continuous trigger and uses the exact expected emission
    count as its drain signal before stopping."""
    import shutil
    import tempfile
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.streaming import transform_with_state_ttl_counts

    tmp = tempfile.mkdtemp(prefix="tws_ttl_")
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        from pathlib import Path

        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["user_id", "event_id"]
        ).filter(pc.is_valid(pc.field("user_id")))
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 1))
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        pq.write_table(even, indir / "part1.parquet")
        stream = (
            spark.readStream.schema("user_id long, event_id long")
            .parquet(str(indir))
        )
        out = transform_with_state_ttl_counts(
            stream, "user_id", ttl_short_ms=2000, ttl_long_ms=3_600_000
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )

        def _outcount() -> int:
            try:
                return spark.read.parquet(f"{tmp}/out").count()
            except Exception:
                return 0

        n_even_users = len(pc.unique(even["user_id"]))
        n_odd_users = len(pc.unique(odd["user_id"]))
        deadline = _time.monotonic() + 300
        while _outcount() < n_even_users:
            if _time.monotonic() > deadline:
                q.stop()
                raise TimeoutError("TTL stream: first batch did not land")
            _time.sleep(0.5)
        # the short state expires ttl ms after the batch that updated it
        # finished BEFORE its output became visible — so waiting 2.6s
        # from here guarantees > 2000ms elapsed at the second batch
        t0 = _time.monotonic()
        while _time.monotonic() - t0 < 2.6:
            _time.sleep(0.1)
        pq.write_table(odd, indir / "part2.parquet")
        # the emission-count target IS the drain signal: both
        # processAllAvailable() and trigger(availableNow) hang forever
        # under timeMode='processingTime' (empty batches keep ticking)
        while _outcount() < n_even_users + n_odd_users:
            if _time.monotonic() > deadline:
                q.stop()
                raise TimeoutError("TTL stream: second batch did not land")
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        res = (
            spark.read.parquet(f"{tmp}/out")
            .groupBy("user_id")
            .agg(
                F.max_by("n_short", "n_long").alias("n_short"),
                F.max("n_long").alias("n_long"),
            )
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        if old_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_stream_mv_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the full composition a
    lakehouse runs in production, every stage through this repo's own
    machinery: an Iceberg SOURCE table is tailed by the Python Data
    Source's streaming reader (offsets = snapshot ids), a STREAMING
    AGGREGATION (update mode, state in the checkpoint) maintains per-type
    totals, and the data source's streaming SINK upserts the changed
    aggregate rows per epoch (same-sequence equality-delete MERGE =
    last-writer-wins per key) into a second Iceberg table — the MV. Then
    the source gets a NEW snapshot and the stream RESTARTS from its
    checkpoint: only the delta is planned (snapshot-range offsets), the
    aggregation state carries forward, and the MV converges to the
    full-table totals WITHOUT ever rescanning the source — the property
    that makes an MV affordable at 100 TB. Both MV states (after the
    initial load = even event_ids, after the increment = all events) are
    read back through the data source's merge-on-read path and are exact
    in SQL."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_mv_")
    try:
        src_root = Path(tmp) / "src"
        mv_root = Path(tmp) / "mv"
        W.create_table(src_root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet",
            columns=["event_id", "event_type", "value"],
        )
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 0))
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 1))
        f1 = src_root / "data" / "even.parquet"
        pq.write_table(even, f1)
        W.append_snapshot(src_root, [f1], snapshot_id=1, ts_ms=2000)

        W.create_table(mv_root, ts_ms=1500)

        def upsert_epoch(bdf, epoch_id):
            # exactly-once MERGE per epoch: snapshot id = f(epoch), the
            # exists-guard absorbs foreachBatch redelivery (same pattern
            # as streaming.write_stream_to_iceberg / the datasource sink);
            # epoch ids keep increasing across checkpoint restarts, so
            # snapshot ids stay a valid (strictly increasing) sequence.
            # Update-mode rows are the CHANGED aggregates only — the
            # equality-delete MERGE keyed on event_type makes the MV
            # last-writer-wins per key.
            import pyarrow as _pa

            rows = bdf.collect()  # changed aggregate rows: <= #types
            if not rows:
                return
            sid = int(epoch_id) + 1
            if sid in W.snapshot_ids(mv_root):
                return  # epoch already committed (redelivery)
            data = _pa.table(
                {
                    "event_type": _pa.array(
                        [r["event_type"] for r in rows], _pa.string()
                    ),
                    "n_events": _pa.array(
                        [r["n_events"] for r in rows], _pa.int64()
                    ),
                    "value_cents": _pa.array(
                        [r["value_cents"] for r in rows], _pa.int64()
                    ),
                }
            )
            df_file = mv_root / "data" / f"mv-{sid}.parquet"
            pq.write_table(data, df_file)
            keys = mv_root / "data" / f"mv-{sid}-keys.parquet"
            pq.write_table(data.select(["event_type"]), keys)
            W.upsert_snapshot(
                mv_root, [df_file], keys, snapshot_id=sid,
                ts_ms=10_000 + sid,
            )

        def run_maintenance():
            agg = (
                spark.readStream.format("iceberg_static")
                .option("path", str(src_root))
                .load()
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(
                        F.floor(F.col("value") * 100).cast("long")
                    ).alias("value_cents"),
                )
            )
            q = (
                agg.writeStream.foreachBatch(upsert_epoch)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("MV maintenance did not drain within 300s")

        def read_mv(phase: str):
            return (
                spark.read.format("iceberg_static")
                .option("path", str(mv_root))
                .load()
                .select(F.lit(phase).alias("phase"), "event_type",
                        "n_events", "value_cents")
            )

        run_maintenance()
        initial = read_mv("1_initial")
        initial = spark.createDataFrame(initial.collect(), initial.schema)
        f2 = src_root / "data" / "odd.parquet"
        pq.write_table(odd, f2)
        W.append_snapshot(src_root, [f2], snapshot_id=2, ts_ms=3000)
        run_maintenance()  # restart from checkpoint: plans ONLY snapshot 2
        final = read_mv("2_after_increment")
        final = spark.createDataFrame(final.collect(), final.schema)
        return initial.unionByName(final).orderBy("phase", "event_type")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_datasource_stream_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC MERGE through the data source sink
    (sources/datasource.py: option('upsert_keys', ...)): epoch 1 streams
    every document, epoch 2 re-delivers the even doc_ids with doubled
    n_chars; each epoch commits ONE snapshot holding a same-sequence
    equality delete on its key set plus the new row versions, so the
    table converges to last-writer-wins per key with no read-modify-write
    of existing files. The read back is the SAME data source — its
    merge-on-read path applies the strict-smaller-sequence rule per data
    file — and the per-source aggregate must equal the CASE-merged
    documents view exactly (n_snapshots exact-oracled 2). This is the
    at-scale CDC shape: O(epoch) write amplification, O(deletes) extra
    read work, one atomic commit per epoch."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_upsert_")
    try:
        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        pq.write_table(tbl, indir / "part1.parquet")
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        even = even.set_column(
            even.schema.get_field_index("n_chars"),
            "n_chars",
            pc.multiply(even["n_chars"], 2),
        )
        pq.write_table(even, indir / "part2.parquet")
        # last-writer-wins depends on epoch ORDER; FileStreamSource orders
        # files by mtime and same-tick writes tie arbitrarily — pin part1
        # strictly older so the updated rows always land in epoch 2
        import os

        now = os.stat(indir / "part2.parquet").st_mtime
        os.utime(indir / "part1.parquet", (now - 10, now - 10))
        root = Path(tmp) / "tbl"
        q = (
            spark.readStream.schema("doc_id long, source string, n_chars long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
            .writeStream.format("iceberg_static")
            .option("path", str(root))
            .option("upsert_keys", "doc_id")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("upsert sink did not drain within 300s")
        n_snapshots = len(W.snapshot_ids(root))
        out = (
            spark.read.format("iceberg_static")
            .option("path", str(root))
            .load()
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .select(
                "source",
                "n_docs",
                "sum_chars",
                F.lit(n_snapshots).cast("long").alias("n_snapshots"),
            )
            .orderBy("source")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_stream_dv_delete_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC DELETE apply through the data source sink
    (option('delete_keys', 'doc_id') + option('sid_base', ...)): each
    micro-batch's rows are delete MARKERS whose key set tombstones
    matching live rows as v3 DELETION VECTORS — the marker files never
    join the table, and per touched data file the commit leaves ONE
    merged bitmap (batch 2's keys overlap batch 1's on doc_id%10==3, so
    the second epoch MERGES and SUPERSEDES the first's DVs rather than
    stacking delete files — the O(1)-files delete state a 100-TB
    retention stream needs). Epoch order is immaterial (set-union
    deletes commute), so no mtime pinning; exactly-once rides the same
    epoch-keyed snapshot guard as the append/upsert sinks, shifted past
    the base append by sid_base. The read back is the same data source's
    MOR path; final state + snapshot and DV counters are exact."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource
    from tdigest_spark.sources.iceberg import iceberg_scan_entries_static

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_dvstream_")
    try:
        root = Path(tmp) / "tbl"
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet",
            columns=["doc_id", "source", "n_chars"],
        )
        files = []
        for s in sorted(set(tbl["source"].to_pylist())):
            f = root / "data" / f"s-{s}.parquet"
            pq.write_table(tbl.filter(pc.equal(tbl["source"], s)), f)
            files.append(f)
        W.append_snapshot(root, files, snapshot_id=1, ts_ms=2000)
        indir = Path(tmp) / "in"
        indir.mkdir()
        ids = tbl["doc_id"].to_numpy()
        import pyarrow as _pa

        ten = _pa.array(ids % 10 == 3)
        five = _pa.array(ids % 5 == 3)
        pq.write_table(tbl.filter(ten), indir / "del1.parquet")
        pq.write_table(tbl.filter(five), indir / "del2.parquet")
        q = (
            spark.readStream.schema("doc_id long, source string, n_chars long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
            .writeStream.format("iceberg_static")
            .option("path", str(root))
            .option("delete_keys", "doc_id")
            .option("sid_base", "1")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("DV delete sink did not drain within 300s")
        n_snapshots = len(W.snapshot_ids(root))
        dvs = iceberg_scan_entries_static(str(root))["dvs"]
        # one merged DV per touched file, whatever the epoch order
        refs = [d["referenced"] for d in dvs]
        assert len(refs) == len(set(refs)), refs
        out = (
            spark.read.format("iceberg_static")
            .option("path", str(root))
            .load()
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .select(
                "source",
                "n_docs",
                "sum_chars",
                F.lit(n_snapshots).cast("long").alias("n_snapshots"),
                F.lit(len(dvs)).cast("long").alias("n_live_dvs"),
            )
            .orderBy("source")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def events_stream_tws_type_breakdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """transformWithStateInPandas with MAP state
    (streaming/transform_with_state_type_breakdown): per-user per-type
    running counts where the sub-key set (event types) is unknown upfront
    — each (user, type) pair is its own RocksDB entry, so a batch touches
    only the sub-keys it saw. Counts strictly increase per pair, so the
    max emission equals the exact whole-stream GROUP BY (user, type)
    count; result is the top 20 pairs, deterministically ordered."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.parquet as pq

    from tdigest_spark.streaming import transform_with_state_type_breakdown

    tmp = tempfile.mkdtemp(prefix="twsmap_")
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["user_id", "event_type"]
        )
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), indir / "part1.parquet")
        pq.write_table(tbl.slice(half), indir / "part2.parquet")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = (
            spark.readStream.schema("user_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        q = (
            transform_with_state_type_breakdown(stream, "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("TWS map stream did not drain within 300s")
        res = (
            spark.read.parquet(f"{tmp}/out")
            .groupBy("user_id", "event_type")
            .agg(F.max("n_events").alias("n_events"))
            .orderBy(F.desc("n_events"), F.asc("user_id"), F.asc("event_type"))
            .limit(20)
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        if old_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )
        shutil.rmtree(tmp, ignore_errors=True)


def events_stream_tws_inactivity_flush(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-time TIMERS (streaming/transform_with_state_inactivity_flush):
    users flush their final (n, cents) exactly once, when inactive for 1
    hour of EVENT time before the stream's final watermark — the
    session-timeout shape windows can't express. Finalization rule proven
    empirically (tests/test_streaming margin guard): a timer fires iff
    floor_ms(max_user_ts) + gap <= floor_ms(max_global_ts) - delay, with
    the INCLUSIVE boundary and millisecond flooring both pinned by probe;
    the oracle reproduces that integer-ms arithmetic verbatim, so the
    flushed SET (n_flushed) and the top-20 flushed users are exact."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.parquet as pq

    from tdigest_spark.streaming import transform_with_state_inactivity_flush

    tmp = tempfile.mkdtemp(prefix="twsflush_")
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["user_id", "ts", "value"]
        )
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), indir / "part1.parquet")
        pq.write_table(tbl.slice(half), indir / "part2.parquet")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = (
            spark.readStream.schema("user_id long, ts timestamp_ntz, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
            .select(
                "user_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "value",
            )
            .withWatermark("ts", "10 seconds")
        )
        q = (
            transform_with_state_inactivity_flush(
                stream, "user_id", "ts", "value", gap_ms=3_600_000
            )
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("TWS timer stream did not drain within 300s")
        flushed = spark.read.parquet(f"{tmp}/out")
        n_flushed = flushed.count()
        res = (
            flushed.select(
                "user_id",
                "n_events",
                "value_cents",
                F.lit(n_flushed).cast("long").alias("n_flushed"),
            )
            .orderBy(F.desc("n_events"), F.asc("user_id"))
            .limit(20)
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        if old_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )
        shutil.rmtree(tmp, ignore_errors=True)


def orders_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE (WITH RECURSIVE ... UNION ALL — the dialect's
    recursion surface, new in 4.x): a 12-row month spine for 1996 is
    GENERATED recursively, then LEFT-joined against monthly high-priority
    order aggregates — the canonical densify-a-sparse-time-series pattern
    where missing months must still appear (COALESCE to zero), which a
    plain GROUP BY cannot produce. A window running total over the spine
    proves downstream composition. Recursion depth is the spine length
    (12), far under the engine's iteration limit; the spine is a 12-row
    broadcast side at any data scale."""
    months = spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1996-01-01'
          UNION ALL
          SELECT add_months(m, 1) FROM months WHERE m < DATE '1996-12-01'
        )
        SELECT date_format(m, 'yyyy-MM') AS month FROM months
        """
    )
    agg = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return (
        months.join(agg, "month", "left")
        .select(
            "month",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce(F.col("cents"), F.lit(0))
            .cast("long")
            .alias("revenue_cents"),
        )
        .withColumn("running_cents", F.sum("revenue_cents").over(w))
        .orderBy("month")
    )


def events_stream_tws_warm_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas INITIAL STATE + LIST state
    (streaming/transform_with_state_warm_start): per-user totals over the
    even event_ids are aggregated as a BATCH table and seed each user's
    ValueState in the first micro-batch (handleInitialState — the
    pipeline-migration shape: warm-start a new streaming job from an
    existing table, no replay); the odd event_ids then stream on top in
    two micro-batches, while a ListState pruned to 3 entries tracks each
    user's top-3 streamed event_ids (O(1) state per key). The last
    emission per user must equal history + stream exactly: n/cents from
    ALL events, top3_id_sum from odd event_ids only, users with no odd
    events absent (no input rows -> no emission). Top 20 deterministic."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.streaming import transform_with_state_warm_start

    tmp = tempfile.mkdtemp(prefix="twswarm_")
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["event_id", "user_id", "value"]
        )
        odd = tbl.filter(pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 1))
        half = odd.num_rows // 2
        pq.write_table(odd.slice(0, half), indir / "part1.parquet")
        pq.write_table(odd.slice(half), indir / "part2.parquet")
        history = (
            _t(spark, sf_dir, "events")
            .where(F.col("event_id") % 2 == 0)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("value") * 100).cast("long")
                ).alias("cents"),
            )
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = (
            spark.readStream.schema("event_id long, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        q = (
            transform_with_state_warm_start(
                stream, history, "user_id", "event_id", "value"
            )
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("warm-start stream did not drain within 300s")
        res = (
            spark.read.parquet(f"{tmp}/out")
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max_by("value_cents", "n_events").alias("value_cents"),
                F.max_by("top3_id_sum", "n_events").alias("top3_id_sum"),
            )
            .orderBy(F.desc("n_events"), F.asc("user_id"))
            .limit(20)
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        if old_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )
        shutil.rmtree(tmp, ignore_errors=True)


def doc_unigram_logprob_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality filter (operators/drift.unigram_logprob_by_doc)
    — the CCNet-style perplexity gate: every document is scored by the
    mean ln p(word) under the corpus's OWN unigram distribution, and the
    15 most improbable documents (lowest mean log-prob = perplexity
    outliers: noise, boilerplate, out-of-distribution text) surface.
    p(w) = c_w / n_total is exact-integer double division; ln ULPs and
    summation order are absorbed by ROUND 6; ORDER BY the ROUNDED value
    with doc_id tiebreak keeps the LIMIT deterministic (the
    doc_pmi_collocations convention)."""
    from tdigest_spark.operators.drift import unigram_logprob_by_doc

    return (
        unigram_logprob_by_doc(_t(spark, sf_dir, "documents"))
        .orderBy(F.asc("logp"), F.asc("doc_id"))
        .limit(15)
    )


def events_dynamic_pivot_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (functions/register_dynamic_pivot_udtf):
    the pivot's output columns are computed at PLAN time by the UDTF's
    ``analyze()`` from the type list — which is itself discovered from
    the data (sorted distinct event types, a tiny driver collect) — so
    the same function pivots any type domain without a static PIVOT
    clause. TABLE(...) PARTITION BY (user_id) shuffles once; each
    partition streams through one UDTF instance (O(#types) state) and
    terminate() emits the pivoted row. First 25 users, exact-oracled
    against per-type FILTER counts."""
    from tdigest_spark.functions import register_dynamic_pivot_udtf

    register_dynamic_pivot_udtf(spark)
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    ev.createOrReplaceTempView("dyn_pivot_events")
    types = sorted(
        r.event_type for r in ev.select("event_type").distinct().collect()
    )
    return spark.sql(
        f"""
        SELECT * FROM dynamic_pivot(
          TABLE(SELECT user_id, event_type FROM dyn_pivot_events)
            PARTITION BY (user_id),
          '{",".join(types)}')
        ORDER BY user_id LIMIT 25
        """
    )


def lineitem_scripted_median_bisect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE, spark.sql.scripting.
    enabled): the exact discrete median of l_quantity found by BINARY
    SEARCH — an inherently iterative algorithm expressed entirely in SQL,
    no driver loop, no collect between steps. Each iteration runs ONE
    pushed-down filtered COUNT (the predicate reaches the parquet scan),
    so the whole median costs ceil(log2(50)) = 6 counting scans instead
    of a full sort — the scale shape that matters when the sort would
    shuffle 100 TB. The loop invariant (smallest v with cnt(<=v) >=
    ceil(n/2)) is restated literally in the oracle, so the scripted
    answer is exact, not approximate."""
    _t(spark, sf_dir, "lineitem").select("l_quantity").createOrReplaceTempView(
        "script_lineitem"
    )
    old = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        out = spark.sql(
            """
            BEGIN
              DECLARE lo BIGINT DEFAULT 1;
              DECLARE hi BIGINT DEFAULT 50;
              DECLARE mid BIGINT;
              DECLARE cnt BIGINT;
              DECLARE n_total BIGINT;
              DECLARE target BIGINT;
              SET n_total = (SELECT COUNT(*) FROM script_lineitem);
              SET target = CAST((n_total + 1) / 2 AS BIGINT);
              WHILE lo < hi DO
                SET mid = CAST((lo + hi) / 2 AS BIGINT);
                SET cnt = (SELECT COUNT(*) FROM script_lineitem
                           WHERE l_quantity <= mid);
                IF cnt >= target THEN
                  SET hi = mid;
                ELSE
                  SET lo = mid + 1;
                END IF;
              END WHILE;
              SELECT lo AS median_q,
                     (SELECT COUNT(*) FROM script_lineitem
                      WHERE l_quantity <= lo) AS n_le,
                     n_total AS n_total;
            END
            """
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", old)


def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training round 1: count ADJACENT CHARACTER PAIRS
    across the corpus, weighted by word frequency — the argmax pair is
    the first merge a byte-pair encoder would learn. Two-stage shape that
    holds at 100 TB: the corpus first collapses to its (word, count)
    histogram (vocab-sized, the classic BPE preprocessing step), then
    pairs are derived from the VOCAB — per-word work never re-touches the
    corpus. Pair extraction is pure codegen: transform(sequence(1,
    len-1), i -> substr(w, i, 2)) exploded; no Python in the plan. Top
    25 pairs by weighted count, pair/count ordering deterministic."""
    words = (
        _t(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.length("w") >= 2)
    )
    # bind the lambda var ONCE (HOFs are interpreted; no CSE across
    # branches — CLAUDE.md): sequence -> substr pairs
    pairs = words.select(
        "c",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n_weighted"))
        .orderBy(F.desc("n_weighted"), F.asc("pair"))
        .limit(25)
    )


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE TRAINING LOOP (VERDICT r3 item 3 — doc_bpe_pair_counts was
    merge round 1 only): learn the first 6 byte-pair merges. One corpus
    pass collapses documents to the (word, count) histogram; each of the 6
    iterations then runs a vocab-sized argmax-pair aggregation plus one
    codegen ``replace`` to apply the merge — the corpus is never re-read,
    which is the property that makes BPE training tractable at 100 TB
    (vocab-sized state, N tiny Spark jobs after one heavy pass). Symbols
    are "(sym)" wrapped so string replace IS greedy left-to-right BPE merge
    application; the DuckDB oracle replays the identical loop as 6 unrolled
    CTE rounds (argmax via scalar subquery), so every learned merge and its
    weighted count at selection time are exactly SQL-checked. Ties broken
    by (count DESC, lhs ASC, rhs ASC) — deterministic for any layout."""
    from tdigest_spark.operators.text import bpe_train

    vocab = (
        _t(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]{2,}$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return bpe_train(spark, vocab, n_merges=6)


def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE pass — the other half of the tokenizer lifecycle (train
    with doc_bpe_merges, then ENCODE the corpus with the learned merges):
    per-source token statistics after applying the 6 learned merges.
    Scale shape: training touches only the global vocab histogram; the
    encode needs no join at all — the per-(source, word) histogram gets
    the merge chain applied IN PLACE as 6 codegen replaces (the merges
    ride in the plan as literals), token count = '(' occurrences in the
    encoding, and per-source sums weight by word count. The corpus is
    read once for the histogram; everything after is vocab-sized.
    Integer sums are exact; the two ratios are single IEEE divisions of
    exact integers, identical in both engines (ROUND 6 for discipline)."""
    from tdigest_spark.operators.text import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.where(F.trim(F.col("text")) != "")
        .select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w").rlike("^[a-z]{2,}$"))
    )
    hist = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    merges = bpe_train(
        spark,
        words.groupBy("w").agg(F.count(F.lit(1)).alias("c")),
        n_merges=6,
    ).collect()
    enc = bpe_encode(F.col("w"))
    for m in merges:
        enc = F.replace(
            enc, F.lit(f"({m.lhs})({m.rhs})"), F.lit(f"({m.merged})")
        )
    toks = F.length(enc) - F.length(F.replace(enc, F.lit("("), F.lit("")))
    return (
        hist.select(
            "source",
            F.col("c"),
            (F.col("c") * toks).alias("t"),
            (F.col("c") * F.length("w")).alias("ch"),
        )
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum("t").alias("n_tokens"),
            F.sum("ch").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_tokens") / F.col("n_words"), 6).alias(
                "tokens_per_word"
            ),
            F.round(F.col("n_chars") / F.col("n_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


def _bpe_oracle_sql(n_merges: int = 6) -> str:
    """SQL twin of doc_bpe_merges: the same training loop statically
    unrolled — v0 is the encoded histogram, each round k computes the
    argmax pair m{k} from v{k-1} and applies it via replace() (identical
    single-pass left-to-right semantics in both engines)."""
    pair_count = """
  SELECT lhs, rhs, n_weighted,
         '(' || lhs || ')(' || rhs || ')' AS pat,
         '(' || lhs || rhs || ')' AS rep
  FROM (
    SELECT s.syms[t.i] AS lhs, s.syms[t.i+1] AS rhs,
           CAST(SUM(s.c) AS BIGINT) AS n_weighted
    FROM (SELECT c, string_split(substr(enc, 2, length(enc)-2), ')(') AS syms
          FROM {src}) s,
         UNNEST(range(1, len(s.syms))) AS t(i)
    GROUP BY 1, 2
  )
  ORDER BY n_weighted DESC, lhs ASC, rhs ASC
  LIMIT 1
"""
    ctes = [
        r"""v0 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c,
         regexp_replace(w, '(.)', '(\1)', 'g') AS enc
  FROM (SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS w
        FROM documents WHERE TRIM(text) <> '')
  WHERE regexp_matches(w, '^[a-z]{2,}$')
  GROUP BY w
)"""
    ]
    selects = []
    for k in range(1, n_merges + 1):
        ctes.append(f"m{k} AS ({pair_count.format(src=f'v{k - 1}')})")
        if k < n_merges:
            ctes.append(
                f"""v{k} AS (
  SELECT c, replace(enc, (SELECT pat FROM m{k}),
                    (SELECT rep FROM m{k})) AS enc
  FROM v{k - 1}
)"""
            )
        selects.append(
            f"SELECT {k} AS merge_rank, lhs, rhs, lhs || rhs AS merged,"
            f" n_weighted FROM m{k}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY merge_rank"
    )


def _bpe_stats_oracle_sql(n_merges: int = 6) -> str:
    """SQL twin of doc_bpe_token_stats: replay the training loop (same
    unrolled CTE chain as _bpe_oracle_sql), then encode the per-source
    histogram with the learned merges as nested replace() scalar-subquery
    calls and aggregate — token count is '(' occurrences."""
    pair_count = """
  SELECT lhs, rhs,
         '(' || lhs || ')(' || rhs || ')' AS pat,
         '(' || lhs || rhs || ')' AS rep
  FROM (
    SELECT s.syms[t.i] AS lhs, s.syms[t.i+1] AS rhs,
           CAST(SUM(s.c) AS BIGINT) AS n_weighted
    FROM (SELECT c, string_split(substr(enc, 2, length(enc)-2), ')(') AS syms
          FROM {src}) s,
         UNNEST(range(1, len(s.syms))) AS t(i)
    GROUP BY 1, 2
  )
  ORDER BY n_weighted DESC, lhs ASC, rhs ASC
  LIMIT 1
"""
    ctes = [
        r"""v0 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c,
         regexp_replace(w, '(.)', '(\1)', 'g') AS enc
  FROM (SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+'))
          AS w
        FROM documents WHERE TRIM(text) <> '')
  WHERE regexp_matches(w, '^[a-z]{2,}$')
  GROUP BY w
)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(f"m{k} AS ({pair_count.format(src=f'v{k - 1}')})")
        if k < n_merges:
            ctes.append(
                f"""v{k} AS (
  SELECT c, replace(enc, (SELECT pat FROM m{k}),
                    (SELECT rep FROM m{k})) AS enc
  FROM v{k - 1}
)"""
            )
    enc_expr = r"regexp_replace(w, '(.)', '(\1)', 'g')"
    for k in range(1, n_merges + 1):
        enc_expr = (
            f"replace({enc_expr},\n             (SELECT pat FROM m{k}),"
            f" (SELECT rep FROM m{k}))"
        )
    ctes.append(
        r"""shist AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source,
               UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS w
        FROM documents WHERE TRIM(text) <> '')
  WHERE regexp_matches(w, '^[a-z]{2,}$')
  GROUP BY source, w
)"""
    )
    ctes.append(
        f"""senc AS (
  SELECT source, w, c,
         {enc_expr} AS enc
  FROM shist
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * (length(enc) - length(replace(enc, '(', ''))))
            AS BIGINT) AS n_tokens,
       CAST(SUM(c * length(w)) AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(c * (length(enc) - length(replace(enc, '(', ''))))
                  AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS tokens_per_word,
       ROUND(CAST(SUM(c * length(w)) AS DOUBLE)
             / CAST(SUM(c * (length(enc) - length(replace(enc, '(', ''))))
                    AS DOUBLE), 6) AS chars_per_token
FROM senc GROUP BY source ORDER BY source"""
    )


def iceberg_changelog_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CDC CHANGELOG (sources/iceberg.iceberg_changelog): after an
    upsert commit (same-sequence equality delete + new row versions), the
    changelog between the two snapshots is exactly one ``delete_key`` row
    per upserted key (non-key columns NULL — the cheap variant; a
    consumer wanting pre-images joins the keys against the FROM snapshot)
    plus one ``insert`` row per new row version, each tagged with the
    commit sequence for ordered replay. O(changed files) work — the point
    of a changelog at 100 TB is that maintenance never rescans the table.
    Aggregated per change type with id/char checksums, exact-oracled."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import iceberg_changelog

    tmp = tempfile.mkdtemp(prefix="ice_cdc_")
    try:
        root = Path(tmp) / "tbl"
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "n_chars"]
        )
        f1 = root / "data" / "base.parquet"
        pq.write_table(tbl, f1)
        W.append_snapshot(root, [f1], ts_ms=2000)  # snap 1
        even = tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0))
        even = even.set_column(
            even.schema.get_field_index("n_chars"),
            "n_chars",
            pc.multiply(even["n_chars"], 2),
        )
        f2 = root / "data" / "upd.parquet"
        pq.write_table(even, f2)
        fk = root / "data" / "keys.parquet"
        pq.write_table(even.select(["doc_id"]), fk)
        W.upsert_snapshot(root, [f2], fk, ts_ms=3000)  # snap 2: MERGE
        out = (
            iceberg_changelog(spark, str(root), 1, 2)
            .groupBy(F.col("_change_type").alias("change_type"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("doc_id").alias("id_sum"),
                F.coalesce(F.sum("n_chars"), F.lit(0))
                .cast("long")
                .alias("chars_sum"),
            )
            .orderBy("change_type")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_scd2_dimension_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCD TYPE-2 DIMENSION BUILD from the Iceberg CDC changelog — the
    classic warehouse history table (one row per key VERSION with
    [valid_from, valid_to) commit-sequence bounds), maintained from
    O(changed files) changelog rows, never a table rescan. History:
    seq 1 inserts doc_id<120, seq 2 UPSERTS the %3==0 keys (doubled
    chars), seq 3 deletes the %5==0 keys. Version algebra is fully
    relational: open events = base-snapshot rows (valid_from 1) ∪
    changelog inserts; close events = inserts ∪ delete_keys;
    valid_to(k, s) = MIN close seq STRICTLY greater than s — strictness
    is what makes an upsert's SAME-sequence delete close the old
    version but not its own new one (the changelog's delete-before-
    insert replay order, expressed as algebra instead of ordering).
    NULL valid_to (open version) maps to −1 so both engines hash
    identically. Scale: one key-hash shuffle for the min-close join,
    version-count bounded per key."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import (
        iceberg_changelog,
        read_sequences,
    )

    tmp = tempfile.mkdtemp(prefix="ice_scd2_")
    try:
        root = Path(tmp) / "tbl"
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"]
        )
        tbl = tbl.filter(pc.less(tbl["doc_id"], 120))
        f1 = root / "data" / "base.parquet"
        pq.write_table(tbl, f1)
        W.append_snapshot(root, [f1], ts_ms=2000)  # snap 1
        import pyarrow as pa

        ids = tbl["doc_id"].to_numpy()
        mod3 = tbl.filter(pa.array(ids % 3 == 0))
        mod3 = mod3.set_column(
            mod3.schema.get_field_index("n_chars"),
            "n_chars",
            pc.multiply(mod3["n_chars"], 2),
        )
        f2 = root / "data" / "upd.parquet"
        pq.write_table(mod3, f2)
        fk2 = root / "data" / "keys2.parquet"
        pq.write_table(mod3.select(["doc_id"]), fk2)
        W.upsert_snapshot(root, [f2], fk2, ts_ms=3000)  # snap 2
        mod5 = tbl.filter(pa.array(ids % 5 == 0))
        fk3 = root / "data" / "keys3.parquet"
        pq.write_table(mod5.select(["doc_id"]), fk3)
        W.equality_delete_snapshot(root, fk3, ts_ms=4000)  # snap 3
        base = read_sequences(spark, str(root), snapshot_id=1).select(
            "doc_id",
            F.col("n_chars").cast("long").alias("value"),
            F.lit(1).cast("long").alias("valid_from"),
        )
        cl = iceberg_changelog(spark, str(root), 1, 3)
        ins = base.unionByName(
            cl.where(F.col("_change_type") == "insert").select(
                "doc_id",
                F.col("n_chars").cast("long").alias("value"),
                F.col("_commit_seq").cast("long").alias("valid_from"),
            )
        )
        closers = cl.select(
            "doc_id", F.col("_commit_seq").cast("long").alias("cs")
        )
        vt = (
            ins.join(
                closers,
                (ins["doc_id"] == closers["doc_id"])
                & (closers["cs"] > ins["valid_from"]),
                "left",
            )
            .groupBy(
                ins["doc_id"].alias("doc_id"), "value", "valid_from"
            )
            .agg(F.min("cs").alias("vt"))
        )
        out = vt.select(
            "doc_id",
            "value",
            "valid_from",
            F.coalesce(F.col("vt"), F.lit(-1)).cast("long").alias(
                "valid_to"
            ),
            F.when(F.col("vt").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_current"),
        ).orderBy("doc_id", "valid_from")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_ref_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg REFS — tags and branches (iceberg_write.create_ref, branch
    appends; resolved by the data source's ``ref`` option): odd documents
    land as snapshot 1 and are TAGGED ``gold`` (the immutable
    this-is-what-we-trained-on pointer), even documents complete main as
    snapshot 2, and an experiment BRANCH then re-appends the even rows —
    forking from main's head and moving ONLY the ref, so main is
    untouched by experiment writes. One read per ref name proves the
    isolation: tag < main < branch per source, all exact-oracled. Refs
    also pin their snapshots against expire_snapshots (test-proven)."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_refs_")
    try:
        root = Path(tmp) / "tbl"
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
        )
        parity = pc.bit_wise_and(tbl["doc_id"], 1)
        odd = tbl.filter(pc.equal(parity, 1))
        even = tbl.filter(pc.equal(parity, 0))
        f1 = root / "data" / "odd.parquet"
        pq.write_table(odd, f1)
        W.append_snapshot(root, [f1], ts_ms=2000)  # snap 1: odd docs
        W.create_ref(root, "gold", kind="tag", ts_ms=2500)
        f2 = root / "data" / "even.parquet"
        pq.write_table(even, f2)
        W.append_snapshot(root, [f2], ts_ms=3000)  # snap 2: main complete
        f3 = root / "data" / "exp.parquet"
        pq.write_table(even, f3)
        W.append_snapshot(root, [f3], ts_ms=4000, branch="exp")

        def counts(**opts):
            return (
                spark.read.format("iceberg_static")
                .option("path", str(root))
                .options(**opts)
                .load()
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        out = (
            counts()
            .withColumnRenamed("n", "n_main")
            .join(
                counts(ref="gold").withColumnRenamed("n", "n_tag"),
                "source",
                "left",  # a source with only even docs is absent at the tag
            )
            .join(
                counts(ref="exp").withColumnRenamed("n", "n_branch"), "source"
            )
            .select(
                "source",
                F.coalesce(F.col("n_tag"), F.lit(0)).cast("long").alias("n_tag"),
                "n_main",
                "n_branch",
            )
            .orderBy("source")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def events_statestore_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-store DATA SOURCE — streaming state as a queryable
    DataFrame (observability/debugging surface): a two-micro-batch
    streaming aggregation over events leaves its running per-user state
    in the checkpoint; ``spark.read.format("statestore")`` reads that
    state back (keys + aggregate buffers straight from the state files)
    and ``format("state-metadata")`` describes the operator. The state
    buffers must equal the exact whole-stream GROUP BY — counts and
    integer floor-cents sums are batching-independent, so every column
    (including the operator name and last committed batch id) is
    exact-oracled. At scale this is how you audit a live pipeline's state
    without stopping it: the reader scans state files directly, one
    partition per state-store shard."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="sstore_")
    try:
        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["user_id", "value"]
        )
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), indir / "part1.parquet")
        pq.write_table(tbl.slice(half), indir / "part2.parquet")
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
            .select(
                "user_id",
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
        )
        q = (
            agg.writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("state stream did not drain within 300s")
        meta = (
            spark.read.format("state-metadata")
            .load(f"{tmp}/ckpt")
            .select("operatorName", "maxBatchId")
            .collect()[0]
        )
        res = (
            spark.read.format("statestore")
            .load(f"{tmp}/ckpt")
            .select(
                F.col("key.user_id").alias("user_id"),
                # state buffer fields carry the AGG FUNCTION names
                # (count/sum), not the writer's aliases
                F.col("value.count").alias("n_events"),
                F.col("value.sum").alias("value_cents"),
                F.lit(meta.operatorName).alias("operator_name"),
                F.lit(meta.maxBatchId).cast("long").alias("last_batch"),
            )
            .orderBy(F.desc("n_events"), F.asc("user_id"))
            .limit(20)
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type end-to-end: events rows are re-encoded as one
    JSON document each (event_type + parsed props), ``parse_json`` turns
    them into the binary VARIANT encoding, and typed path extraction does
    the rest — ``variant_get('$.t','string')`` / ``variant_get('$.p.k',
    'long')`` for present paths, ``try_variant_get`` returning NULL (not
    an error) for a path no document has (n_missing, exact-oracled 0).
    VARIANT is the shredded-JSON scale path: the binary form is decoded
    once per row instead of re-parsing text per extraction, and every
    expression here is JVM-side (no Python in the plan). Oracle extracts
    the same values from the original JSON with DuckDB's -> operators."""
    v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"),
                F.from_json("props", "k bigint").alias("p"),
            )
        )
    )
    return (
        _t(spark, sf_dir, "events")
        .select(
            F.variant_get(v, "$.t", "string").alias("event_type"),
            F.variant_get(v, "$.p.k", "long").alias("k"),
            F.try_variant_get(v, "$.nope", "long").alias("miss"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.count("miss").alias("n_missing"),
        )
        .orderBy("event_type")
    )


def iceberg_incremental_join_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL MAINTENANCE OF A JOIN VIEW — the delta-join algebra
    every streaming-MV engine implements, here composed from the repo's
    Iceberg primitives: with fact F (orders) and dim D (customer) each
    growing by one append, the nation-level join aggregate updates as
    MV_new = MV_old ⊕ agg(ΔF⋈D_old ∪ F_old⋈ΔD ∪ ΔF⋈ΔD) — the three
    cross terms of (F_old∪ΔF)⋈(D_old∪ΔD). ΔF/ΔD come from the
    INCREMENTAL scan (files added in the range — O(changed files)),
    F_old/D_old from TIME TRAVEL to the pre-commit snapshots; the
    maintenance never joins F_new⋈D_new (asserted: the delta reads see
    exactly the one appended file per table). At 100 TB this is the
    difference between touching the day's partitions and re-joining the
    table. Exact: counts and floor-cents sums are BIGINTs, merged by
    per-nation addition; oracle = the full join on the raw tables."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import (
        iceberg_incremental_paths,
        read_sequences,
    )

    tmp = tempfile.mkdtemp(prefix="ice_jmv_")
    try:
        fro = Path(tmp) / "fact"
        dro = Path(tmp) / "dim"
        W.create_table(fro, ts_ms=1000)
        W.create_table(dro, ts_ms=1000)
        ot = pq.read_table(
            f"{sf_dir}/orders.parquet",
            columns=["o_orderkey", "o_custkey", "o_totalprice"],
        )
        ct = pq.read_table(
            f"{sf_dir}/customer.parquet",
            columns=["c_custkey", "c_nationkey"],
        )
        ok = ot["o_orderkey"].to_numpy()
        ck = ct["c_custkey"].to_numpy()
        f_parts, d_parts = [], []
        for t, mask_src, parts, root in [
            (ot, ok, f_parts, fro),
            (ct, ck, d_parts, dro),
        ]:
            for m in (0, 1):
                sl = t.filter(pa.array(mask_src % 2 == m))
                f = root / "data" / f"m{m}.parquet"
                pq.write_table(sl, f)
                parts.append(f)
        W.append_snapshot(fro, [f_parts[0]], snapshot_id=1, ts_ms=2000)
        W.append_snapshot(dro, [d_parts[0]], snapshot_id=1, ts_ms=2000)

        def _cents(df):
            return df.select(
                "o_custkey",
                F.floor(F.col("o_totalprice") * F.lit(100.0))
                .cast("long")
                .alias("cents"),
            )

        def _agg(fdf, ddf):
            return (
                _cents(fdf)
                .join(
                    ddf.select("c_custkey", "c_nationkey"),
                    F.col("o_custkey") == F.col("c_custkey"),
                )
                .groupBy("c_nationkey")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_orders"),
                    F.sum("cents").cast("long").alias("cents"),
                )
            )

        mv = {
            r["c_nationkey"]: [r["n_orders"], r["cents"]]
            for r in _agg(
                read_sequences(spark, str(fro)),
                read_sequences(spark, str(dro)),
            ).collect()
        }
        W.append_snapshot(fro, [f_parts[1]], snapshot_id=2, ts_ms=3000)
        W.append_snapshot(dro, [d_parts[1]], snapshot_id=2, ts_ms=3000)
        dfp = iceberg_incremental_paths(str(fro), 1, 2)
        ddp = iceberg_incremental_paths(str(dro), 1, 2)
        assert len(dfp) == 1 and len(ddp) == 1, (dfp, ddp)
        d_f = spark.read.parquet(*dfp)
        d_d = spark.read.parquet(*ddp)
        f_old = read_sequences(spark, str(fro), snapshot_id=1)
        d_old = read_sequences(spark, str(dro), snapshot_id=1)
        delta = (
            _agg(d_f, d_old)
            .unionByName(_agg(f_old, d_d))
            .unionByName(_agg(d_f, d_d))
            .groupBy("c_nationkey")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("cents"),
            )
        )
        for r in delta.collect():
            acc = mv.setdefault(r["c_nationkey"], [0, 0])
            acc[0] += r["n_orders"]
            acc[1] += r["cents"]
        return spark.createDataFrame(
            [(int(k), int(v[0]), int(v[1])) for k, v in sorted(mv.items())],
            "c_nationkey long, n_orders long, cents long",
        ).orderBy("c_nationkey")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_stream_rate_limited_tail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RATE-LIMITED streaming tail (option ``max_snapshots_per_batch`` —
    the Python-datasource analog of Iceberg's
    streaming-max-files-per-micro-batch read limit): with a 3-commit
    backlog landed after the initial batch, a capped reader MUST drain
    it as three single-snapshot micro-batches — bounding per-batch work
    is what keeps a 100-TB catch-up from planning one giant batch. The
    per-batch row counts are the %4 residue-class sizes of the staged
    doc_ids, so every batch boundary is exact-oracled from the raw
    documents table (batch order = snapshot order = residue order)."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_rl_")
    try:
        root = Path(tmp) / "tbl"
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"]
        )
        ids = tbl["doc_id"].to_numpy()
        parts = [tbl.filter(pa.array(ids % 4 == r)) for r in range(4)]
        f0 = root / "data" / "r0.parquet"
        pq.write_table(parts[0], f0)
        W.append_snapshot(root, [f0], snapshot_id=1, ts_ms=2000)
        out_dir = f"{tmp}/tailed"
        q = (
            spark.readStream.format("iceberg_static")
            .option("path", str(root))
            .option("max_snapshots_per_batch", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()  # initial batch: residue 0
            for r in (1, 2, 3):
                fp = root / "data" / f"r{r}.parquet"
                pq.write_table(parts[r], fp)
                W.append_snapshot(
                    root, [fp], snapshot_id=r + 1, ts_ms=2000 + r
                )
            q.processAllAvailable()  # capped: one snapshot per batch
            batch_rows = [
                int(p.numInputRows)
                for p in q.recentProgress
                if p.numInputRows > 0
            ]
        finally:
            q.stop()
        assert len(batch_rows) == 4, batch_rows  # 1 initial + 3 capped
        total = (
            spark.read.parquet(out_dir)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("n_chars").cast("long")).alias("chars"),
            )
            .collect()[0]
        )
        rows = [
            (i, batch_rows[i], int(total["n"]), int(total["chars"]))
            for i in range(4)
        ]
        return spark.createDataFrame(
            rows,
            "batch_idx int, batch_rows long, total_rows long,"
            " total_chars long",
        ).orderBy("batch_idx")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_datasource_stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both STREAMING halves of the Python Data Source in one pipeline
    (sources/datasource.py): events, staged as two input files and
    streamed one file per micro-batch, land in an Iceberg table through
    ``writeStream.format("iceberg_static")`` — the stream WRITER commits
    one epoch-keyed snapshot per batch (exactly-once via the
    snapshot-exists guard, proven in tests/test_datasource.py) — then the
    stream READER tails the table back out (offsets = snapshot ids,
    ``partitions(start, end)`` plans the incremental files of each
    commit, workers stream them as Arrow batches) into a parquet sink.
    The tailed rows must equal the source exactly: per-type counts and
    floor-cents sums match the plain events view, with the committed
    snapshot count exact-oracled at 2."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.datasource import IcebergStaticDataSource

    spark.dataSource.register(IcebergStaticDataSource)
    tmp = tempfile.mkdtemp(prefix="ice_dstail_")
    try:
        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["event_id", "event_type", "value"]
        )
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), indir / "part1.parquet")
        pq.write_table(tbl.slice(half), indir / "part2.parquet")
        root = Path(tmp) / "tbl"
        schema = spark.read.parquet(str(indir / "part1.parquet")).schema
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
            .writeStream.format("iceberg_static")
            .option("path", str(root))
            .option("checkpointLocation", f"{tmp}/ckpt_sink")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("iceberg sink stream did not drain within 300s")
        n_snapshots = len(W.snapshot_ids(root))
        out_dir = f"{tmp}/tailed"
        q2 = (
            spark.readStream.format("iceberg_static")
            .option("path", str(root))
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", f"{tmp}/ckpt_tail")
            .trigger(availableNow=True)
            .start()
        )
        if not q2.awaitTermination(300):
            q2.stop()
            raise TimeoutError("iceberg tail stream did not drain within 300s")
        out = (
            spark.read.parquet(out_dir)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100).cast("long")
                ).alias("value_cents"),
            )
            .select(
                "event_type",
                "n_events",
                "value_cents",
                F.lit(n_snapshots).cast("long").alias("n_snapshots"),
            )
            .orderBy("event_type")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def iceberg_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg WRITE path + time travel (sources/iceberg_write.py): the
    documents table is committed as three real snapshots — append(even
    doc_ids), append(odd doc_ids), then a copy-on-write OVERWRITE down to
    lang='en' (the GDPR-delete / compaction commit shape).  Each snapshot
    is then read back BY ID through the static metadata walk (version-hint
    -> metadata JSON -> manifest-list Avro -> manifest Avro), so v1 sees
    only the even half, v2 the full table, and v3/current only English docs
    even though every data file is still on disk.  The oracle recomputes
    all three states from the plain documents view — exact, and it
    certifies both snapshot accumulation (append reuses prior manifests)
    and tombstoned overwrite (status=2 entries hide replaced files)."""
    from tdigest_spark.sources.iceberg import read_sequences

    root = _iceberg_tt_fixture(sf_dir)
    outs = []
    for label, sid in (("v1", 1), ("v2", 2), ("v3", 3)):
        snap = read_sequences(spark, str(root), snapshot_id=sid)
        outs.append(
            snap.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.lit(label).alias("snapshot"), "source", "n_docs")
        )
    # the current snapshot must BE v3 — read it without an id too
    cur = read_sequences(spark, str(root)).count()
    v3 = read_sequences(spark, str(root), snapshot_id=3).count()
    assert cur == v3, (cur, v3)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("snapshot", "source")


def iceberg_mor_deleted_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 MERGE-ON-READ row deletes end to end: the documents
    table is committed as one data file, then a position-delete snapshot
    tombstones every row with lang='de' OR doc_id % 7 == 3 WITHOUT
    rewriting the data file (sources/iceberg_write.delete_rows_snapshot).
    The scan applies the deletes Spark-first — ``_metadata.file_path`` /
    ``_metadata.row_index`` hidden columns anti-joined (broadcast) against
    the delete file, the plan a real Iceberg planner pushes into its scan.
    Reads both snapshots: v1 (pre-delete, full counts) and v2 (post-delete)
    — exact oracle recomputes both states from the documents view."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_mor" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    fresh = False
    if marker.exists():
        try:
            fresh = _json.loads(marker.read_text()) == params
        except Exception:
            fresh = False
    if not fresh:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        data = root / "data" / "docs.parquet"
        shutil.copyfile(f"{sf_dir}/documents.parquet", data)
        tbl = pq.read_table(data, columns=["doc_id", "lang"])
        positions = [
            i
            for i, (d, lang) in enumerate(
                zip(tbl["doc_id"].to_pylist(), tbl["lang"].to_pylist())
            )
            if lang == "de" or d % 7 == 3
        ]
        W.append_snapshot(root, [data], snapshot_id=1, ts_ms=2000)
        W.delete_rows_snapshot(root, {str(data): positions}, snapshot_id=2, ts_ms=3000)
        marker.write_text(_json.dumps(params))
    outs = []
    for label, sid in (("v1", 1), ("v2", 2)):
        snap = read_sequences(spark, str(root), snapshot_id=sid)
        outs.append(
            snap.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.lit(label).alias("snapshot"), "lang", "n_docs")
        )
    return outs[0].unionByName(outs[1]).orderBy("snapshot", "lang")


def skewed_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted SHUFFLE JOIN (plans/skew.salted_join): events get a
    synthesized hot key covering ~60% of rows ('click'/'view'/'error' all
    map to 'hot'), the weight dim replicates across 8 salts, and the join
    runs on (hk, salt) — the hot key's rows spread over 8 shuffle
    partitions instead of one straggler task (spread asserted in
    tests/test_skew_join.py). Salting changes placement, never values:
    the oracle is the plain SQL join."""
    from tdigest_spark.plans.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    hk = F.when(
        F.col("event_type").isin("click", "view", "error"), F.lit("hot")
    ).otherwise(F.col("event_type"))
    fact = ev.select(hk.alias("hk"), "event_id", "value")
    dim = spark.createDataFrame(
        [("hot", 10.0), ("purchase", 2.0), ("signup", 1.0)],
        "hk string, weight double",
    )
    joined = salted_join(fact, dim, ["hk"], n_salts=8, salt_from=["event_id"])
    return (
        joined.groupBy("hk")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_value"
            ),
        )
        .orderBy("hk")
    )


def skewed_source_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew handling in the contract: the hot-key aggregation done
    as salted two-stage — salt = xxhash64(doc_id) % 16, partial counts per
    (source, salt), final sum per source — so no single task ever holds a
    whole hot key ('web' is ~70% of rows). Result is exactly the plain
    GROUP BY (salting only changes placement, never values)."""
    docs = _t(spark, sf_dir, "documents")
    salted = docs.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(16)))
    partial = salted.groupBy("source", "_salt").agg(
        F.count(F.lit(1)).alias("c"), F.sum("n_chars").alias("s")
    )
    return (
        partial.groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.sum("s").alias("sum_chars"),
        )
        .orderBy("source")
    )


def cms_lang_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-keyed count-min: per-language document counts estimated by a
    CMS built over documents.lang (string hashing path). width=65536 with
    ~100 distinct keys and fixed hash seeds ⇒ no counter collisions ⇒
    estimates equal exact GROUP BY counts, closed-form in SQL."""
    from tdigest_spark.operators.aggregate import CMS_STRINGS

    docs = _t(spark, sf_dir, "documents")
    c = _scan_build(
        spark, sf_dir, "documents", {"s": ("lang", CMS_STRINGS(5, 65536, 0))}
    )["s"]
    langs = sorted(r[0] for r in docs.select("lang").distinct().collect())
    est = c.estimate_strings(np.array(langs, dtype=object))
    rows = [(l, int(e)) for l, e in zip(langs, est)]
    return spark.createDataFrame(rows, "lang string, est_count long").orderBy("lang")


def sql_digest_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-`spark.sql` consumption path end-to-end through the gate:
    grouped digest states registered as a temp view and probed with the
    REGISTERED SQL functions (digest_quantile / digest_cdf) inside a SQL
    string — how a thriftserver / BI-tool session uses the engine. Same
    centroid-exact config as grouped_digest_functions, so every value has
    a closed-form mirror."""
    from tdigest_spark.functions import register_sql_functions
    from tdigest_spark.operators.aggregate import TDIGEST, build_sketch_grouped

    register_sql_functions(spark)
    li = _t(spark, sf_dir, "lineitem")
    states = build_sketch_grouped(li, ["l_returnflag"], "l_quantity", TDIGEST(0.01))
    states.createOrReplaceTempView("flag_digests")
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(digest_quantile(state, 0.25), 6) AS p25,
               ROUND(digest_quantile(state, 0.75), 6) AS p75,
               ROUND(digest_cdf(state, 30.0), 9) AS cdf_30
        FROM flag_digests ORDER BY l_returnflag
        """
    )


def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven join-cardinality statistic (the optimizer use case):
    |lineitem JOIN high-value-orders| estimated from the two key CMSes'
    inner product — O(KB) mergeable state, NO scan of either table at
    estimation time. Cormode-Muthukrishnan guarantees: the estimate never
    under-counts, and over-counts by at most (e/width)*|A|*|B| per depth
    row at >= 1-(1/e)^depth confidence; both checks are emitted as
    booleans next to the exact join size, so the oracle is closed-form
    (exact count + TRUE + TRUE)."""
    import math

    from tdigest_spark.operators.aggregate import CMS_INTS

    li = _t(spark, sf_dir, "lineitem")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    a = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_orderkey", CMS_INTS(5, 16384, 0))}
    )["s"]
    from tdigest_spark.operators.aggregate import build_sketch

    b = build_sketch(big, "o_orderkey", CMS_INTS(5, 16384, 0))
    est = a.inner_product(b)
    exact = li.join(big, li.l_orderkey == big.o_orderkey).count()
    slack = math.e / 16384 * a.total * b.total
    rows = [(exact, bool(est >= exact), bool(est <= exact + slack))]
    return spark.createDataFrame(
        rows, "exact_pairs long, est_ge_exact boolean, est_within_eps boolean"
    )


def ams_f2_quantity_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frequency moment (AMS Tug-of-War): F2 = Σ n_v² of
    l_quantity — the SELF-JOIN SIZE, the skewness statistic an optimizer
    or the salting planner (plans/skew.py) reads before choosing a
    shuffle strategy. 5×1024 signed counters from one splitmix64 per
    (row, value); merge is integer addition (bit-identical over any
    partition layout, test_ams.py); the estimate is the integer median
    of per-row Σc². Because bucket, sign, and every counter are exact
    integer functions of splitmix64 — reproducible in DuckDB's UHUGEINT
    mod-2^64 arithmetic — the ESTIMATE ITSELF has an exact SQL oracle,
    not just the exact F2 beside it. (l_quantity is integral-valued
    double: numpy's truncating cast and DuckDB's rounding cast agree.)

    Oracle domain contract (ADVICE r2): the SQL twin hashes
    xor(seed, CAST(v AS UBIGINT)), which raises on NEGATIVE values where
    the Python side two's-complement-reinterprets, and its
    CAST(SUM(c*c) AS BIGINT) / est_f2 long schema cap the estimate at
    2^63 where AMSF2.row_estimates stays exact — so this oracled query
    asserts the values it certifies are non-negative with F2 < 2^63
    (true for l_quantity at every SF). The sketch itself has no such
    limits; use it on signed/huge data, just not under THIS oracle."""
    from tdigest_spark.operators.aggregate import AMS_F2

    assert (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") < 0)
        .limit(1)
        .count()
        == 0
    ), "ams_f2_quantity_selfjoin oracle requires non-negative values"
    sk = _scan_build(
        spark, sf_dir, "lineitem", {"s": ("l_quantity", AMS_F2(5, 1024))}
    )["s"]
    est = sk.estimate()
    assert est < 2**63, "estimate exceeds the oracle's BIGINT ceiling"
    exact = int(
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).alias("f2"))
        .collect()[0].f2
    )
    rel = float(np.round(abs(float(est) - float(exact)) / float(exact), 6))
    return spark.createDataFrame(
        [(est, exact, rel)], "est_f2 long, exact_f2 long, rel_err double"
    )


def moments_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments sketch (Gan et al., VLDB'18 collection half) over
    l_quantity: the distributed build ships ONE ~84-byte state per
    partition (n + Σx..Σx⁴ as exact length-prefixed ints; merge = integer addition,
    bit-identical under ANY partition layout — the HLL/CMS merge law,
    tested in test_moments.py), then mean/variance/skewness/kurtosis come
    from single exact-integer ratios. The oracle reproduces the power
    sums with DuckDB HUGEINT arithmetic and the SAME final-expression
    spelling; ROUND(,6) absorbs the one int128→double cast ULP."""
    from tdigest_spark.operators.aggregate import MOMENTS_SPEC

    sk = _scan_build(
        spark, sf_dir, "lineitem", {"m": ("l_quantity", MOMENTS_SPEC())}
    )["m"]
    row = (
        sk.n,
        float(np.round(sk.mean(), 6)),
        float(np.round(sk.variance(), 6)),
        float(np.round(sk.skewness(), 6)),
        float(np.round(sk.kurtosis(), 6)),
    )
    return spark.createDataFrame(
        [row],
        "n long, mean double, variance double, skewness double, kurtosis double",
    )


def moments_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED moments sketches — one 84-byte state per l_returnflag built
    map-side (build_sketch_grouped: raw rows never shuffle), over integer
    cents of l_extendedprice (FLOOR×100 — exact at any magnitude, the
    same cents bridge the TPC-H revenue queries use). Demonstrates the
    sketch on a large-domain column (millions of distinct cent values),
    not just the 50-value quantity axis."""
    from tdigest_spark.operators.aggregate import MOMENTS_SPEC, build_sketch_grouped
    from tdigest_spark.sketch.moments import MomentsSketch

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    states = build_sketch_grouped(li, ["l_returnflag"], "cents", MOMENTS_SPEC())
    rows = []
    for r in states.collect():
        sk = MomentsSketch.from_bytes(bytes(r.state))
        rows.append(
            (
                r.l_returnflag,
                sk.n,
                float(np.round(sk.mean(), 6)),
                float(np.round(sk.variance(), 6)),
                float(np.round(sk.skewness(), 6)),
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "l_returnflag string, n long, mean double, variance double, skewness double",
    )


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf's-law fit over the hash-token unigram distribution:
    least-squares slope/intercept of ln(freq) on ln(rank) — the
    sanity-check a training-mix owner runs per domain (natural text sits
    near slope −1; a broken extractor or boilerplate flood shows up as a
    flat or cliffed curve). One explode + (source, tok) two-phase agg,
    one per-source window for the frequency rank (ties broken by token
    id, so the rank is total and both engines agree), then a 5-sum
    closed-form regression. Per-term doubles (ln of exact integer rank /
    count) are spelled identically in the oracle; the slope's cancelling
    sums keep ~1e-13 of noise and ROUND(,6) absorbs it (the
    doc_source_word_kl contract)."""
    from tdigest_spark.operators.text import hash_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(hash_tokens(F.col("text"))).alias("tok")
    )
    per = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), "tok")
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    s = (
        per.withColumn("r", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(x).alias("_sx"),
            F.sum(y).alias("_sy"),
            F.sum(x * x).alias("_sxx"),
            F.sum(x * y).alias("_sxy"),
        )
    )
    nd = F.col("n_distinct").cast("double")
    slope = (nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    return (
        s.withColumn("_slope", slope)
        .select(
            "source",
            "n_distinct",
            F.round(F.col("_slope"), 6).alias("zipf_slope"),
            F.round(
                (F.col("_sy") - F.col("_slope") * F.col("_sx")) / nd, 6
            ).alias("zipf_intercept"),
        )
        .orderBy("source")
    )


def token_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bigram diversity and cross-source exclusivity per source:
    bigrams encode as one bigint (t[i]·vocab + t[i+1] — no string concat
    in the hot path), counts aggregate per (source, bigram), and a bigram
    appearing in exactly ONE source marks it exclusive. n-gram novelty is
    the mix-dedup signal: a source whose bigrams all exist elsewhere adds
    no new sequence structure. Integer-exact except the final ratio.
    Scale shape: explode → two-phase agg on (source, bg), one bg-keyed
    shuffle for the source-multiplicity count, one broadcast-size rollup."""
    from tdigest_spark.operators.text import hash_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", hash_tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= 2)
    big = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.element_at(F.col("t"), i) * F.lit(50257)
                + F.element_at(F.col("t"), i + 1),
            )
        ).alias("bg"),
    )
    per = big.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("c"))
    solo = (
        per.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("_nsrc"))
        .where(F.col("_nsrc") == 1)
        .select("bg")
    )
    excl = (
        per.join(solo, "bg", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_exclusive"))
    )
    stats = per.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"), F.count(F.lit(1)).alias("n_distinct")
    )
    return (
        stats.join(excl, "source", "left")
        .na.fill(0, ["n_exclusive"])
        .select(
            "source",
            "n_bigrams",
            "n_distinct",
            "n_exclusive",
            F.round(
                F.col("n_exclusive").cast("double")
                / F.col("n_distinct").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("source")
    )


def grouped_digest_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-UDF-over-states surface: grouped t-digest states queried
    in-DataFrame with digest_quantile / digest_cdf / digest_trimmed_mean
    pandas UDFs (Arrow-batched — the Spark analogue of percentile/p_rank,
    tdigest.js:272-310/216-255). l_quantity per returnflag is
    centroid-exact, so every function has a closed-form SQL mirror."""
    from tdigest_spark.functions import (
        digest_cdf,
        digest_count,
        digest_quantile,
        digest_trimmed_mean,
    )
    from tdigest_spark.operators.aggregate import TDIGEST, build_sketch_grouped

    li = _t(spark, sf_dir, "lineitem")
    states = build_sketch_grouped(li, ["l_returnflag"], "l_quantity", TDIGEST(0.01))
    return states.select(
        "l_returnflag",
        digest_count(F.col("state")).cast("long").alias("n"),
        F.round(digest_quantile(F.col("state"), 0.5), 6).alias("p50"),
        F.round(digest_cdf(F.col("state"), 25.0), 9).alias("cdf_25"),
        F.round(digest_trimmed_mean(F.col("state"), 0.25, 0.75), 6).alias(
            "iqm"
        ),
    ).orderBy("l_returnflag")


def events_daily_p95_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series quantile rollup — the monitoring query sketches exist
    for: p95 of event value per (event_type, day), built as grouped
    DISCRETE digests over integer floor-cents. Exact-map state means the
    per-group Nearest-Rank p95 is exact for ANY value distribution (not
    just duplicate-heavy configs), with bounded state (distinct cents per
    group). Only #groups x O(state) bytes shuffle — the scale shape of
    every per-key time-bucketed quantile dashboard."""
    from tdigest_spark.operators.aggregate import (
        TDIGEST_DISCRETE,
        build_sketch_grouped,
    )
    from tdigest_spark.sketch.discrete import DiscreteDigest

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias(
            "day"
        ),
        F.floor(F.col("value") * F.lit(100.0)).alias("cents"),
    )
    states = build_sketch_grouped(
        ev, ["event_type", "day"], "cents", TDIGEST_DISCRETE()
    ).collect()
    rows = [
        (
            r["event_type"],
            r["day"],
            int(DiscreteDigest.from_bytes(r["state"]).n),
            int(DiscreteDigest.from_bytes(r["state"]).quantile(0.95)),
        )
        for r in states
    ]
    return spark.createDataFrame(
        rows, "event_type string, day string, n_events long, p95_cents long"
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# training-data pipeline queries (dedup / text / similarity)
# --------------------------------------------------------------------------


def digest_centroids_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface: a Python table function explodes grouped digest states
    into centroid rows via SQL LATERAL join (the reference's toArray()
    export as a relational operator). Centroid-exact config -> the rows ARE
    the GROUP BY counts."""
    from tdigest_spark.functions import register_digest_centroids_udtf
    from tdigest_spark.operators.aggregate import TDIGEST, build_sketch_grouped

    li = _t(spark, sf_dir, "lineitem")
    states = build_sketch_grouped(li, ["l_returnflag"], "l_quantity", TDIGEST(0.01))
    register_digest_centroids_udtf(spark)
    states.createOrReplaceTempView("rf_states")
    return spark.sql(
        """
        SELECT s.l_returnflag, c.mean, c.weight
        FROM rf_states s, LATERAL digest_centroids(s.state) c
        ORDER BY s.l_returnflag, c.mean
        """
    )


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tdigest_spark.operators.dedup import exact_dup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "text", "doc_id").orderBy("doc_id")


def doc_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% content-hash sample of documents: row kept iff
    md5_lower64(doc_id) < 0.1 * 2^64 (operators/sample.py). Partition-
    layout- and engine-independent, so the oracle reproduces the EXACT
    row set via DuckDB md5_number_lower — unlike df.sample(), whose rows
    depend on partitioning. Codegen filter, no shuffle."""
    from tdigest_spark.operators.sample import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_sample(docs, "doc_id", 0.1)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic sampling (src0 75%, src1 50%, src2 10%,
    others dropped) — the 'mix training data by source at fixed rates'
    pipeline step. Thresholds ride a broadcast dim; decisions are
    content-hash, so the per-source counts and char sums are exactly
    reproducible in SQL."""
    from tdigest_spark.operators.sample import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    samp = stratified_hash_sample(
        docs, "doc_id", "source", {"src0": 0.75, "src1": 0.5, "src2": 0.1}
    )
    return (
        samp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source")
    )


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    n_words = F.size(F.split(F.trim(c), r"\s+"))
    punct_chars = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.length(c).alias("n_chars_measured"),
        punct_chars.alias("n_punct"),
    ).orderBy("doc_id")


def doc_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang", "source")
    )


def ngram_jaccard_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tdigest_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=3, threshold=0.05)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/pack.chunk_with_overlap): 64-token
    chunks every 48 tokens (16-token overlap), the RAG / eval-harness cut.
    Map-only codegen fan-out; the oracle regenerates the same windows with
    integer-exact chunk counts and DuckDB list slicing, down to the exact
    chunk text."""
    from tdigest_spark.operators.pack import chunk_with_overlap

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    chunks = chunk_with_overlap(
        docs, "text", "doc_id", chunk_tokens=64, stride=48
    )
    return chunks.select(
        "doc_id", "chunk_idx", "n_tokens", "chunk_text"
    ).orderBy("doc_id", "chunk_idx")


def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/text.redact_pii) — the hygiene pass next to
    dedup/decontamination. The fixture corpus is digit-free, so the query
    injects deterministic emails (doc_id % 7) and phone numbers
    (doc_id % 11) first; both the injection and the RE2-safe patterns are
    mirrored exactly in the SQL oracle. The n_residual column proves the
    redacted text contains zero remaining matches — the contract a scrub
    must certify, not just 'some replacements happened'."""
    from tdigest_spark.operators.text import (
        PII_PATTERNS,
        pii_match_count,
        redact_pii,
    )

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 415-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    pats = {k: PII_PATTERNS[k] for k in ("email", "phone")}
    red = redact_pii(F.col("text"), pats)
    scored = aug.select(
        "source",
        pii_match_count(F.col("text"), pats["email"]).alias("e"),
        pii_match_count(F.col("text"), pats["phone"]).alias("p"),
        (red != F.col("text")).cast("bigint").alias("changed"),
        (
            pii_match_count(red, pats["email"])
            + pii_match_count(red, pats["phone"])
        ).alias("resid"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e").alias("n_emails"),
            F.sum("p").alias("n_phones"),
            F.sum("changed").alias("n_redacted_docs"),
            F.sum("resid").alias("n_residual"),
        )
        .orderBy("source")
    )


def doc_decontamination_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination (benchmark-overlap removal), the standard
    pre-training hygiene pass: corpus documents sharing ANY word-3-gram
    with the probe set (here: doc_id < 10, standing in for an eval
    benchmark) are dropped via LEFT ANTI join. The probe's shingle-hash
    set is tiny by construction, so it BROADCASTS and the corpus is
    filtered map-side — no corpus shuffle at any scale. Hashes are
    md5-lower-64, so the whole decision is exactly oracled."""
    from tdigest_spark.operators.dedup import (
        shingle_hash_sets_arrow,
        spread_small_input,
    )

    docs = _t(spark, sf_dir, "documents")
    base = spread_small_input(docs.select("doc_id", "text")).select(
        "doc_id", shingle_hash_sets_arrow(F.col("text"), 3).alias("_sh")
    )
    base = base.persist()
    probe = (
        base.where(F.col("doc_id") < 10)
        .select(F.explode("_sh").alias("_g"))
        .distinct()
    )
    corpus = base.where(F.col("doc_id") >= 10).select(
        "doc_id", F.explode("_sh").alias("_g")
    )
    contaminated = (
        corpus.join(F.broadcast(probe), "_g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.where(F.col("doc_id") >= 10)
        .select("doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


def doc_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination REPORT (the audit companion to
    doc_decontamination_anti's removal): per contaminated training doc,
    how many DISTINCT word-5-grams it shares with the benchmark slice
    (doc_id % 10 == 7 stands in for the eval suite). 5-grams are the
    decontamination-grade shingle (the GPT-3 appendix-C recipe uses
    13-grams; the synthetic docs are shorter) — long enough that overlap
    means leakage, not stopword coincidence. The benchmark shingle-hash
    set broadcasts; the corpus pass is map-side (operators/dedup.py
    ngram_contamination)."""
    from tdigest_spark.operators.dedup import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 7)
    train = docs.where(F.col("doc_id") % 10 != 7)
    return ngram_contamination(
        train, bench, "text", "doc_id", shingle_n=5
    ).orderBy("doc_id")


def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the looping/boilerplate screen
    every pre-training pipeline runs): distinct-word ratio and
    top-word-frequency fraction per document, plus the keep/drop
    decision. Entirely map-side — the max word frequency is a run-length
    pass over the per-row sorted word array (operators/text.py
    repetition_features), so there is no explode/groupBy shuffle at any
    corpus size."""
    from tdigest_spark.operators.text import repetition_features

    docs = _t(spark, sf_dir, "documents")
    feats = repetition_features(docs.select("doc_id", "text"))
    keep = (F.col("distinct_ratio") >= 0.45) & (F.col("top_word_ratio") <= 0.12)
    return feats.select(
        "doc_id",
        "n_words",
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("top_word_ratio", 6).alias("top_word_ratio"),
        keep.alias("keep"),
    ).orderBy("doc_id")


def doc_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pre-training cleaning pipeline composed from the text
    operators: quality gate (n_words >= 5, punct_ratio <= 0.25) ->
    repetition gate (distinct_ratio >= 0.45, top_word_ratio <= 0.12) ->
    exact dedup (min doc_id per identical text, one window shuffle) ->
    per-(source, lang) corpus stats. Gates are map-side codegen column
    expressions; the only shuffles are the dedup window and the final
    aggregate — the shape that survives a 100 TB corpus."""
    from tdigest_spark.operators.text import quality_features, repetition_features

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text")
    q = quality_features(docs).where(
        (F.col("n_words") >= 5) & (F.col("punct_ratio") <= 0.25)
    )
    r = repetition_features(q.select("doc_id", "source", "lang", "text")).where(
        (F.col("distinct_ratio") >= 0.45) & (F.col("top_word_ratio") <= 0.12)
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    kept = r.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        kept.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("sum_words"),
        )
        .orderBy("source", "lang")
    )


def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation story as one funnel — what a 100 TB
    pre-training pipeline actually reports: input -> benchmark holdout
    split -> quality gate -> repetition gate -> exact dedup (keep min) ->
    5-gram decontamination vs the holdout -> deterministic 50% hash
    sample, with the surviving-document count at every stage. The gate
    counts come from ``df.observe`` metrics (one action materializes the
    whole gated chain AND its funnel — no per-stage re-scan, the pattern
    that matters when one scan is petabytes); the dedup survivor count is
    that same action's result. Only the decontamination branch re-reads
    the (persisted) dedup survivors. Every stage is exactly oracled by a
    staged SQL CTE chain."""
    from pyspark.sql import Observation

    from tdigest_spark.operators.dedup import (
        shingle_hash_sets_arrow,
        spread_small_input,
    )
    from tdigest_spark.operators.sample import hash_sample
    from tdigest_spark.operators.text import quality_features, repetition_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    n_input = docs.count()
    obs_train, obs_q, obs_r = Observation(), Observation(), Observation()
    cnt = [F.count(F.lit(1)).alias("n")]
    train = docs.where(F.col("doc_id") % 10 != 7).observe(obs_train, *cnt)
    q = quality_features(train).where(
        (F.col("n_words") >= 5) & (F.col("punct_ratio") <= 0.25)
    ).observe(obs_q, *cnt)
    r = repetition_features(
        q.select("doc_id", "source", "lang", "text")
    ).where(
        (F.col("distinct_ratio") >= 0.45) & (F.col("top_word_ratio") <= 0.12)
    ).observe(obs_r, *cnt)
    w = Window.partitionBy("text").orderBy("doc_id")
    kept = (
        r.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
        .persist()
    )
    n_dedup = kept.count()  # one action: funnel metrics + dedup survivors
    n_train = obs_train.get["n"]
    n_quality = obs_q.get["n"]
    n_rep = obs_r.get["n"]
    bench_h = (
        spread_small_input(
            docs.where(F.col("doc_id") % 10 == 7).select("text")
        )
        .select(
            F.explode(shingle_hash_sets_arrow(F.col("text"), 5)).alias("_g")
        )
        .distinct()
    )
    posts = spread_small_input(kept).select(
        "doc_id",
        F.explode(shingle_hash_sets_arrow(F.col("text"), 5)).alias("_g"),
    )
    contaminated = (
        posts.join(F.broadcast(bench_h), "_g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    decon = kept.join(contaminated, "doc_id", "left_anti").persist()
    n_decon = decon.count()
    n_sampled = hash_sample(decon, "doc_id", 0.5).count()
    kept.unpersist()
    decon.unpersist()
    rows = [
        (1, "input", n_input),
        (2, "train_split", n_train),
        (3, "quality", n_quality),
        (4, "repetition", n_rep),
        (5, "exact_dedup", n_dedup),
        (6, "decontaminated", n_decon),
        (7, "sampled", n_sampled),
    ]
    return spark.createDataFrame(
        rows, "stage int, gate string, n_docs long"
    ).orderBy("stage")


def token_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: per-source whitespace-token totals and the
    sampling weight that equalizes every source's token contribution
    (weight = min(1, target_share / actual_share)) — how a training
    pipeline turns 'we want a uniform source mix' into per-row sample
    rates. One partial-aggregated groupBy plus a broadcast one-row
    cross-join for the total; no global window, no second scan."""
    from tdigest_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text")).cast("bigint")).alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_tot"), F.count(F.lit(1)).alias("_k")
    )
    weight = F.least(
        F.lit(1.0), (F.col("_tot") / F.col("_k")) / F.col("n_tokens")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select("source", "n_tokens", F.round(weight, 6).alias("weight"))
        .orderBy("source")
    )


def doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: fan each document out into ceil(n/32)
    fixed-capacity token windows (operators/pack.py chunk_fixed) —
    sequence+explode inside codegen, a map-only stage with no shuffle
    at any scale."""
    from tdigest_spark.operators.pack import chunk_fixed
    from tdigest_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return chunk_fixed(docs, "doc_id", token_count(F.col("text")), 32).orderBy(
        "doc_id", "chunk_id"
    )


def token_shards_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy training-shard assignment: within each source, documents
    (ordered by doc_id) are packed into ~2000-token shards by prefix
    sum (operators/pack.py shard_by_cumsum — the window is PARTITIONED
    by source, so each group sorts independently; no global
    single-partition window). Reports per-shard doc counts and token
    mass."""
    from tdigest_spark.operators.pack import shard_by_cumsum
    from tdigest_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    sharded = shard_by_cumsum(tok, "source", "doc_id", F.col("n_tokens"), 2000)
    return (
        sharded.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("source", "shard")
    )


def token_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing MATERIALIZED (the trainer-input step after
    chunk/shard accounting): hash-tokenized documents are concatenated
    into ~512-token shards per source (operators/pack.py
    pack_token_arrays — deterministic in-shard order, one (source, shard)
    shuffle, O(shard) reducer state), and each packed stream is
    content-fingerprinted with md5-lower-64 so the oracle certifies the
    EXACT byte-for-byte token order of every shard, not just its size."""
    from tdigest_spark.operators.pack import pack_token_arrays
    from tdigest_spark.operators.text import _md5_lower64_hex, hash_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", hash_tokens(F.col("text")).alias("tokens")
    )
    packed = pack_token_arrays(toks, "source", "doc_id", "tokens", 512)
    fp = _md5_lower64_hex(
        F.concat_ws(",", F.transform(F.col("packed"), lambda x: x.cast("string")))
    )
    return packed.select(
        "source",
        "shard",
        "n_docs",
        "n_tokens",
        fp.alias("pack_fp"),
    ).orderBy("source", "shard")


def doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build (the wordcount at the root of every tokenizer
    pipeline): lowercase whitespace words -> explode -> count -> top 50 by
    (count desc, word) with deterministic tie-break. Pure codegen explode
    + two-phase hash aggregate (map-side partials, one shuffle on word)
    + TakeOrderedAndProject — the exact shape that holds at 100 TB."""
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(word_tokens(F.lower(F.col("text")))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


def doc_chars_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across sources — the distribution-alignment
    step feature pipelines run so per-source covariate shift doesn't leak
    into training (map every value onto the GLOBAL distribution at its
    within-source rank). Tie blocks map as one unit at their mid-rank:
    target_rank = ceil(((clo+chi)/2 / n_src) · N), computed in EXACT
    integer arithmetic as ((clo+chi)·N + 2·n_src − 1) DIV (2·n_src);
    mapped value = smallest global value whose inclusive cum count
    reaches the target (Nearest-Rank — always an actual data value).
    Scale shape: per-source prefixes window PARTITIONED BY source; the
    global cum table comes from distributed_value_cumsum (no global
    window) and is VALUE-cardinality (n_chars is a bounded-range int),
    so the >= lookup rides a broadcast nested-loop join over a tiny dim.
    Output per source: doc count, mean of normalized values (single
    division of exact ints, unrounded), min/max mapped value."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    blk = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c")
    )
    wsrc = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nsrc = Window.partitionBy("source")
    blk = blk.select(
        "source",
        "n_chars",
        "c",
        F.coalesce(F.sum("c").over(wsrc), F.lit(0)).alias("clo"),
        F.sum("c").over(nsrc).alias("n_src"),
    ).withColumn("chi", F.col("clo") + F.col("c"))
    total = int(docs.count())
    blk = blk.withColumn(
        "target",
        F.expr(f"((clo + chi) * {total}L + 2 * n_src - 1) DIV (2 * n_src)"),
    )
    g = distributed_value_cumsum(
        docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("gc")),
        value_col="n_chars",
        weight_col="gc",
    ).select(
        F.col("n_chars").alias("gv"),
        (F.col("prefix") + F.col("gc")).alias("gcum"),
    )
    mapped = (
        blk.join(F.broadcast(g), F.col("gcum") >= F.col("target"))
        .groupBy("source", "n_chars", "c", "n_src")
        .agg(F.min("gv").alias("norm"))
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.first("n_src").alias("n_docs"),
            F.sum(F.col("norm") * F.col("c")).alias("norm_sum"),
            F.min("norm").alias("norm_min"),
            F.max("norm").alias("norm_max"),
        )
        .select(
            "source",
            "n_docs",
            (F.col("norm_sum").cast("double") / F.col("n_docs")).alias(
                "norm_mean"
            ),
            "norm_min",
            "norm_max",
        )
        .orderBy("source")
    )


def doc_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE VOCABULARY OVERLAP (exact Jaccard of word sets) —
    the corpus-redundancy matrix mix designers read before weighting
    sources (two sources with ~identical vocabularies add diversity only
    once). Scale shape: the corpus collapses to DISTINCT (source, word)
    in one shuffle (map-side partial distinct); the pairwise intersection
    is a self-join ON WORD where each word contributes at most
    n_sources rows per side (bounded fan-out, no hot keys, never all
    pairs of documents); per-source vocab sizes are an n_sources-row dim
    that BROADCASTS back twice. Jaccard = n_common / (nv_a + nv_b −
    n_common) is a single IEEE division of exact ints — bit-identical
    across engines, left unrounded."""
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source",
            F.explode(word_tokens(F.lower(F.col("text")))).alias("word"),
        )
        .where(F.col("word") != "")
        .distinct()
    )
    # two consumers (self-join sides + sizes): checkpoint so the corpus
    # explode + distinct computes once, GC-managed blocks (drift.py idiom)
    vocab = vocab.localCheckpoint(eager=False)
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    inter = (
        vocab.alias("a")
        .join(
            vocab.alias("b"),
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("nv").alias("nv_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("nv").alias("nv_b")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "nv_a",
            "nv_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("nv_a") + F.col("nv_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def doc_source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-BASED MIXTURE WEIGHTS (alpha = 0.5) — the multilingual
    /multi-source sampling-rate computation training pipelines run so
    small sources aren't drowned out: weight_i = size_i^alpha,
    p_i = weight_i / Σ weight_j, and the implied per-epoch upsample
    factor p_i · total_size / size_i. alpha = 0.5 is sqrt — correctly
    rounded in IEEE-754, so per-source weights are bit-identical across
    engines; only the Σ (summation order) and the division chain carry
    ULP noise, absorbed by ROUND 6 (the doc_pmi/zipf discipline; values
    sit nowhere near 5e-7 tie boundaries). Scale shape: one groupBy
    shuffle collapses the corpus to n_sources rows; the two totals are a
    1-row aggregate CROSS-JOINED back as a broadcast — no second corpus
    scan (localCheckpoint), no global window."""
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
    stats = stats.localCheckpoint(eager=False)
    w = F.sqrt(F.col("chars").cast("double"))
    tot = stats.agg(
        F.sum(F.sqrt(F.col("chars").cast("double"))).alias("totw"),
        F.sum("chars").alias("totc"),
    )
    return (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "chars",
            F.round(w / F.col("totw"), 6).alias("sample_p"),
            F.round(
                w / F.col("totw") * F.col("totc") / F.col("chars"), 6
            ).alias("upsample_factor"),
        )
        .orderBy("source")
    )


def doc_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM language-model scoring (add-one smoothing) — the
    model-based quality signal one step past doc_unigram_logprob_rank
    (CCNet scores with an n-gram LM, not a unigram table): per source,
    the mean log P(w_i | w_{i-1}) with P = (c(w1,w2)+1)/(c(w1)+V).
    Scale shape: the corpus explodes ONCE into a (source, w1, w2)
    HISTOGRAM (map-side combine, one shuffle) which is checkpointed —
    both count tables c12 and c1 then derive from the histogram, never a
    corpus rescan (the unigram query's lesson: checkpoint the vocab
    aggregate, never exploded words); V and per-source sizes are one
    more narrow pass. Exactness: counts are exact ints, each term is ONE
    IEEE division inside ln; summation-order and libm-ln ULPs are
    absorbed by ROUND 6 on the final per-source mean (the KL/PMI
    discipline), with n_docs/n_bigrams exact alongside."""
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", word_tokens(F.lower(F.col("text"))).alias("ws")
    ).where(F.size("ws") >= 1)
    big = toks.where(F.size("ws") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
            )
        ).alias("b"),
    )
    bh = big.groupBy("source", F.col("b.w1").alias("w1"),
                     F.col("b.w2").alias("w2")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bh = bh.localCheckpoint(eager=False)
    vocab_size = int(
        toks.select(F.explode("ws").alias("w")).distinct().count()
    )
    c12 = bh.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    c1 = bh.groupBy("w1").agg(F.sum("n").alias("c1"))
    srcstats = (
        toks.where(F.size("ws") >= 2)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("ws") - 1).alias("n_bigrams"),
        )
    )
    terms = (
        bh.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("source")
        .agg(
            F.sum(
                F.col("n")
                * F.log(
                    (F.col("c12") + F.lit(1))
                    / (F.col("c1") + F.lit(vocab_size))
                )
            ).alias("lsum")
        )
    )
    return (
        srcstats.join(F.broadcast(terms), "source")
        .select(
            "source",
            "n_docs",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round(F.col("lsum") / F.col("n_bigrams"), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("source")
    )


def events_hourofday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY TEST — per event type, the chi-square statistic of the
    hour-of-day histogram against uniform (df = 23), the screen that
    separates diurnal human traffic from flat machine noise. The naive
    form Σ(o−e)²/e needs a 24-hour SPINE per type (absent hours
    contribute e); the algebraic identity Σ(o−e)²/e = 24·Σo²/T − T needs
    only the OBSERVED rows — zero hours drop out of Σo². Exactness: o
    and Σo² are exact ints; 24.0·Σo²/T − T is the same three IEEE ops in
    both engines (DuckDB float literals CAST to DOUBLE or they type
    DECIMAL), so chi2 is bit-identical and the skewed flag (> 41.638,
    the 0.01 critical value) needs no margin. Scale shape: one
    (type × 24)-cardinality aggregation with map-side combine, then a
    type-cardinality rollup — no joins, no windows, no spine."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            % 24
        ).alias("hod"),
    )
    hh = ev.groupBy("event_type", "hod").agg(F.count(F.lit(1)).alias("o"))
    chi2 = (
        F.lit(24.0) * F.col("so2") / F.col("total") - F.col("total")
    )
    return (
        hh.groupBy("event_type")
        .agg(
            F.sum("o").alias("total"),
            F.count(F.lit(1)).alias("n_hours_active"),
            F.sum(F.col("o") * F.col("o")).alias("so2"),
        )
        .select(
            "event_type",
            "total",
            "n_hours_active",
            chi2.alias("chi2"),
            (chi2 > F.lit(41.638)).alias("skewed"),
        )
        .orderBy("event_type")
    )


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV MATRIX — customers grouped by first-order month, revenue
    tracked by months-since-acquisition (the retention-revenue triangle
    every growth dashboard opens with; the revenue twin of
    events_weekly_retention). Scale shape: ONE custkey shuffle — the
    cohort month is a MIN window PARTITIONED BY o_custkey (never a join
    back, never a global window), then a (months × months)/2-cardinality
    rollup. Exactness: month indexes are exact ints (year·12+month),
    revenue in floor-cents longs, counts/distincts exact — no floats
    anywhere."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("o_custkey")
    o = o.withColumn("cohort", F.min("m").over(w))
    return (
        o.groupBy(
            F.col("cohort").cast("int").alias("cohort_month"),
            (F.col("m") - F.col("cohort")).cast("int").alias("months_since"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("cohort_month", "months_since")
    )


def doc_fuzzy_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE fuzzy matching — the remaining classic dedup family
    next to exact/MinHash/SimHash/n-gram/substring/semantic: documents
    whose 24-char prefixes are within Levenshtein distance 6, BLOCKED on
    the 4-char prefix so candidates are Σ c_b² within blocks, never N²
    over the corpus (the standard record-linkage blocking shape; a
    hot-block cap would bolt on exactly like ngram max_df). levenshtein
    is a JVM codegen expression with the same unit-cost definition in
    DuckDB, so every distance is an exact int and the threshold needs no
    margin; avg distance is one int division (unrounded, bit-identical).
    Scale: one shuffle on the block key for the self-join, three
    bounded aggregates broadcast back as 1-row dims."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.substring("text", 1, 4).alias("b"),
        F.substring("text", 1, 24).alias("pfx"),
    )
    d = d.localCheckpoint(eager=False)
    pairs = (
        d.alias("a")
        .join(
            d.alias("c"),
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.pfx"), F.col("c.pfx")).alias("dist"),
        )
    )
    pairs = pairs.localCheckpoint(eager=False)
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("b").alias("n_blocks"),
    )
    pstats = pairs.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum(F.when(F.col("dist") <= 6, 1).otherwise(0)).alias(
            "n_fuzzy_pairs"
        ),
        F.sum(F.when(F.col("dist") <= 6, F.col("dist"))).alias("dsum"),
    )
    dup_docs = (
        pairs.where(F.col("dist") <= 6)
        .select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("i")
        )
        .agg(F.countDistinct("i").alias("n_docs_with_dup"))
    )
    return (
        base.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(dup_docs))
        .select(
            "n_docs",
            "n_blocks",
            "n_candidate_pairs",
            F.col("n_fuzzy_pairs").cast("long").alias("n_fuzzy_pairs"),
            "n_docs_with_dup",
            (
                F.col("dsum").cast("double") / F.col("n_fuzzy_pairs")
            ).alias("avg_fuzzy_dist"),
        )
    )


def events_type_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH REACHABILITY over the event-type transition graph — min-hop
    distance and bounded-length walk counts via Spark 4's RECURSIVE CTE
    (the graph twin of orders_recursive_month_spine's date recursion,
    and the path-query companion to events_type_pagerank's unrolled
    power iterations). Edges are the DISTINCT Markov transitions (one
    user_id shuffle + lag window — the only corpus-sized stage; the
    graph itself is #types² rows). The recursion is UNION ALL (Spark
    supports no recursive dedup) over a CYCLIC graph, so depth is
    bounded by hops < 4 — walk counts stay ≤ |V|^3 per pair and the
    final GROUP BY takes MIN(hops)/COUNT(*). Everything is exact
    integers; DuckDB runs the identical recursion."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    edges = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .distinct()
    )
    edges.createOrReplaceTempView("reach_edges_tmpv")
    return spark.sql(
        """
        WITH RECURSIVE reach(src, dst, hops) AS (
          SELECT from_type, to_type, 1 FROM reach_edges_tmpv
          UNION ALL
          SELECT r.src, e.to_type, r.hops + 1
          FROM reach r JOIN reach_edges_tmpv e ON r.dst = e.from_type
          WHERE r.hops < 4
        )
        SELECT src, dst, MIN(hops) AS min_hops,
               COUNT(*) AS n_walks
        FROM reach GROUP BY src, dst ORDER BY src, dst
        """
    )


def events_sequence_pattern_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEQUENCE PATTERN MATCHING — "which users ever did signup → …
    → purchase" answered by regexing each user's ORDERED event-type
    string, the funnel generalization that needs no k-way self-join
    (MATCH_RECOGNIZE's common case). Per user: one collect_list +
    sort_array over (µs, event_id, type) structs — deterministic total
    order, the established DuckDB string_agg(… ORDER BY) parity — then
    each pattern is a codegen rlike over the joined string; stack()
    unpivots the single aggregate row to one row per pattern. One
    user_id shuffle; sequences bounded by events-per-user. Counts exact;
    match_rate a single unrounded int division."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
            "event_type",
        )
    )
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("us"), F.col("event_id"), F.col("event_type")
                        )
                    )
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("seq")
    )
    pats = [
        ("error_then_purchase", "error.*purchase"),
        ("signup_then_purchase", "signup.*purchase"),
        ("view_click_purchase", "view.*click.*purchase"),
    ]
    one = seqs.agg(
        F.count(F.lit(1)).alias("n_users"),
        *[
            F.sum(F.when(F.col("seq").rlike(rx), 1).otherwise(0))
            .cast("long")
            .alias(f"m{i}")
            for i, (_, rx) in enumerate(pats)
        ],
    )
    stack_args = ", ".join(
        f"'{name}', m{i}" for i, (name, _) in enumerate(pats)
    )
    return (
        one.selectExpr(
            f"stack(3, {stack_args}) AS (pattern, n_matched)", "n_users"
        )
        .select(
            "pattern",
            "n_matched",
            "n_users",
            (
                F.col("n_matched").cast("double") / F.col("n_users")
            ).alias("match_rate"),
        )
        .orderBy("pattern")
    )


def lineitem_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW REPORT — the pre-join diagnostic a 100 TB pipeline
    runs before choosing salt factors / AQE thresholds (plans/skew.py is
    the cure; this is the instrument): for each candidate join key of
    lineitem, the exact NDV, hottest-key count, top-1 share, and Shannon
    entropy of the key distribution. ONE scan: stack() unpivots the
    three key columns to (key_name, key_value) rows, then two stacked
    aggregations — per-key counts (map-side combine) and the per-column
    rollup. Exactness: counts/NDV exact ints; top1_share one unrounded
    int division; entropy via the identity −Σp·ln p = ln n − Σc·ln c / n
    (exact ints inside ln, ROUND 6 absorbs libm/summation ULPs)."""
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey,"
        " 'l_suppkey', l_suppkey) AS (key_name, key_value)"
    )
    counts = li.groupBy("key_name", "key_value").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("key_name")
        .agg(
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("ndv"),
            F.max("c").alias("max_count"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("slnc"),
        )
        .select(
            "key_name",
            "n_rows",
            "ndv",
            "max_count",
            (
                F.col("max_count").cast("double") / F.col("n_rows")
            ).alias("top1_share"),
            F.round(
                F.log(F.col("n_rows")) - F.col("slnc") / F.col("n_rows"), 6
            ).alias("entropy"),
        )
        .orderBy("key_name")
    )


def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT READOUT — the two-proportion z-test every
    experimentation platform runs: users split by id parity (the
    deterministic hash-assignment stand-in), conversion = "heavy
    purchaser" (≥ 13 purchases, the median — "ever purchased" is
    degenerate on this data: every user converts and se collapses to
    zero), z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)).
    Exactness: counts are exact ints; every float op (divisions,
    1−p̂, sqrt — IEEE-correctly-rounded) is spelled in the SAME order in
    both engines, so z is BIT-IDENTICAL and stays unrounded; the
    significance flag (|z| > 1.96) therefore needs no margin. Scale
    shape: one user_id aggregation (map-side combine), then a 2-row
    rollup — no joins, no windows."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            (F.col("user_id") % 2).alias("variant"),
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_p"),
        )
    )
    per_user = ev.groupBy("variant", "user_id").agg(
        F.when(F.sum("is_p") >= 13, 1).otherwise(0).alias("conv")
    )
    row = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    a = row.where(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("c").alias("conv_a")
    )
    b = row.where(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("c").alias("conv_b")
    )
    j = a.crossJoin(F.broadcast(b))
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    p_all = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p_all
        * (F.lit(1.0) - p_all)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    z = (p_a - p_b) / se
    return j.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        z.alias("z_score"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def events_mannwhitney_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U rank-sum test — do 'purchase' and 'view' draw their
    values from the same distribution? The NONPARAMETRIC companion to
    events_ab_test_ztest (no normality assumption — the robust default
    for skewed metrics). Ranks are computed DISTRIBUTED: values collapse
    to floor-cent tie blocks (+1 shift — rank-invariant — keeps the
    domain positive for the bit-length bucketing) and the combined-order
    prefix comes from distributed_value_cumsum, never a global window —
    the 4th op on that machinery (gini / ABC / quantile-normalize).
    Exactness: tie-block MIDRANKS in doubled integer arithmetic
    (2·midrank = 2·prefix + c + 1), so 2·R_A, 2·U_A and the tie
    correction Σ(c³−c) are exact longs; z's normal approximation
    (tie-corrected variance) spells the identical float-op sequence in
    both engines — sqrt is IEEE-exact — so z is BIT-IDENTICAL,
    unrounded, and the 5%-critical flag needs no margin."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    e = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin("purchase", "view")
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            (F.floor(F.col("value") * 100) + 1).cast("long").alias("x"),
        )
    )
    blk = e.groupBy("x").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("ca"),
        F.count(F.lit(1)).alias("c"),
    )
    cum = distributed_value_cumsum(blk, value_col="x", weight_col="c")
    agg = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).cast("long").alias("n_b"),
        F.sum(
            F.col("ca") * (2 * F.col("prefix") + F.col("c") + 1)
        ).alias("two_ra"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("sumt"),
    )
    two_u = F.col("two_ra") - F.col("n_a") * (F.col("n_a") + 1)
    nn = F.col("n_a") + F.col("n_b")
    var_u = (
        F.col("n_a").cast("double") * F.col("n_b") / F.lit(12)
    ) * (
        (nn + 1)
        - F.col("sumt").cast("double") / (nn.cast("double") * (nn - 1))
    )
    z = (two_u - F.col("n_a") * F.col("n_b")).cast("double") / (
        F.lit(2.0) * F.sqrt(var_u)
    )
    return agg.select(
        "n_a",
        "n_b",
        two_u.alias("two_u_a"),
        z.alias("z_score"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def events_ks_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KOLMOGOROV-SMIRNOV two-sample test — max EDF gap between
    'purchase' and 'view' values, completing the distribution-test
    family (chi² seasonality, z-test proportions, Mann-Whitney ranks).
    The statistic is EXACT INTEGER arithmetic end-to-end: D = max_v
    |cumA·n_b − cumB·n_a| / (n_a·n_b), where both inclusive cumulative
    counts come from distributed_value_cumsum over floor-cent tie blocks
    (chained twice — total weight then group-A weight — never a global
    window), so the numerator is an exact long MAX and D is ONE
    unrounded division. The 5% critical value 1.358·√((n_a+n_b)/n_a·n_b)
    spells the identical float sequence in both engines (IEEE sqrt), so
    the significance flag needs no margin."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    e = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin("purchase", "view")
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            (F.floor(F.col("value") * 100) + 1).cast("long").alias("x"),
        )
    )
    blk = e.groupBy("x").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("ca"),
        F.count(F.lit(1)).alias("c"),
    )
    cum = distributed_value_cumsum(blk, "x", "c").withColumnRenamed(
        "prefix", "pref_all"
    )
    cum = distributed_value_cumsum(cum, "x", "ca").withColumnRenamed(
        "prefix", "pref_a"
    )
    cum = cum.localCheckpoint(eager=False)
    tot = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).cast("long").alias("n_b"),
    )
    cum_a = F.col("pref_a") + F.col("ca")
    cum_b = (F.col("pref_all") + F.col("c")) - cum_a
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        F.abs(cum_a * F.col("n_b") - cum_b * F.col("n_a")).alias("g"),
    )
    agg = gaps.groupBy("n_a", "n_b").agg(F.max("g").alias("d_num"))
    den = F.col("n_a") * F.col("n_b")
    ks_d = F.col("d_num").cast("double") / den
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double") / den
    )
    return agg.select(
        "n_a",
        "n_b",
        "d_num",
        ks_d.alias("ks_d"),
        crit.alias("crit_05"),
        (ks_d > crit).alias("significant"),
    )


def events_welch_ttest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S t-TEST on mean value, 'purchase' vs 'view' — the
    unequal-variance mean-difference test (the namesake nod: the
    reference repo is welch/tdigest). Completes the distribution-test
    family: chi² (seasonality), z (proportions), Mann-Whitney (ranks),
    KS (shape), Welch t (means). ONE scan, ONE reduce: conditional sums
    give n, Σx, Σx² per arm as EXACT longs over floor-cent values
    (Σx² ≤ ~9e13 at sf0.1 — far inside long range). Everything after is
    a fixed float-op sequence spelled IDENTICALLY in both engines
    (casts of exact ints, mul/div/sub, IEEE sqrt), so mean/t/df are
    BIT-IDENTICAL and unrounded: sample variance via
    (Σx² − (Σx)²/n)/(n−1) in doubles ((Σx)² would overflow a long —
    the double spelling is the point), t = Δmean/√(v_a/n_a + v_b/n_b),
    Welch–Satterthwaite df = se⁴/(t_a²/(n_a−1) + t_b²/(n_b−1)). The
    5% flag uses the normal critical 1.96 (df ≫ 30 at every SF) and
    inherits bit-exactness — no margin needed."""
    e = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin("purchase", "view")
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("x"),
        )
    )
    is_a = F.col("event_type") == "purchase"
    agg = e.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(is_a, F.col("x")).otherwise(0)).alias("s1_a"),
        F.sum(
            F.when(is_a, F.col("x") * F.col("x")).otherwise(0)
        ).alias("s2_a"),
        F.sum(F.when(is_a, 0).otherwise(1)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, 0).otherwise(F.col("x"))).alias("s1_b"),
        F.sum(
            F.when(is_a, 0).otherwise(F.col("x") * F.col("x"))
        ).alias("s2_b"),
    )
    nd_a = F.col("n_a").cast("double")
    nd_b = F.col("n_b").cast("double")
    mean_a = F.col("s1_a").cast("double") / nd_a
    mean_b = F.col("s1_b").cast("double") / nd_b
    var_a = (
        F.col("s2_a").cast("double")
        - F.col("s1_a").cast("double") * F.col("s1_a").cast("double") / nd_a
    ) / (nd_a - F.lit(1.0))
    var_b = (
        F.col("s2_b").cast("double")
        - F.col("s1_b").cast("double") * F.col("s1_b").cast("double") / nd_b
    ) / (nd_b - F.lit(1.0))
    ta = var_a / nd_a
    tb = var_b / nd_b
    t_stat = (mean_a - mean_b) / F.sqrt(ta + tb)
    df = ((ta + tb) * (ta + tb)) / (
        ta * ta / (nd_a - F.lit(1.0)) + tb * tb / (nd_b - F.lit(1.0))
    )
    return agg.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_cents_a"),
        mean_b.alias("mean_cents_b"),
        t_stat.alias("t_stat"),
        df.alias("welch_df"),
        (F.abs(t_stat) > F.lit(1.96)).alias("significant"),
    )


def events_daily_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGEPOINT DETECTION (CUSUM form) on the daily event volume — the
    day where cumulative traffic deviates most from a uniform rate, the
    monitoring primitive behind "when did the pipeline's mix shift".
    Statistic per day k (rank among D observed days): g_k = |cum_k·D −
    n·k| — EXACT longs, no floats until the final normalized share.
    Both the cumulative count and the day rank come from CHAINED
    distributed_value_cumsum passes over the day axis (count weight,
    then unit weight) — no global window even on the bounded day
    cardinality. Argmax is TakeOrdered with a deterministic (g desc,
    day asc) tie-break; cp_frac = g_max/(n·D) is one unrounded
    division."""
    from tdigest_spark.operators.relational import distributed_value_cumsum

    days = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("one", F.lit(1))
    )
    cum = distributed_value_cumsum(days, "day", "c").withColumnRenamed(
        "prefix", "pref_c"
    )
    cum = distributed_value_cumsum(cum, "day", "one").withColumnRenamed(
        "prefix", "pref_1"
    )
    cum = cum.localCheckpoint(eager=False)
    tot = cum.agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_days"),
    )
    g = F.abs(
        (F.col("pref_c") + F.col("c")) * F.col("n_days")
        - F.col("n_events") * (F.col("pref_1") + 1)
    )
    top = (
        cum.crossJoin(F.broadcast(tot))
        .select("n_days", "n_events", "day", g.alias("g"))
        .orderBy(F.col("g").desc(), F.col("day").asc())
        .limit(1)
    )
    return top.select(
        "n_days",
        "n_events",
        F.col("day").alias("cp_day"),
        F.col("g").alias("g_max"),
        (
            F.col("g").cast("double")
            / (F.col("n_events") * F.col("n_days"))
        ).alias("cp_frac"),
    )


def events_seasonal_naive_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORECAST BACKTEST — the seasonal-naive baseline (predict today's
    volume with the count 7 days earlier) every forecasting pipeline
    must beat, scored with MAE / bias / MAPE over the days where both
    sides exist. Scale shape: one day-cardinality aggregate, then a
    self-join on day = day+7 (bounded key domain, broadcast-sized at any
    data scale). Exactness: counts and |errors| exact longs; MAE and
    bias are single unrounded int divisions; MAPE averages per-day exact
    divisions — summation order absorbed by ROUND 6."""
    days = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    days = days.localCheckpoint(eager=False)
    f = days.select(
        (F.col("day") + 7).alias("day"), F.col("c").alias("fc")
    )
    scored = days.join(f, "day")
    return scored.agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        (
            F.sum(F.abs(F.col("c") - F.col("fc"))).cast("double")
            / F.count(F.lit(1))
        ).alias("mae"),
        (
            F.sum(F.col("c") - F.col("fc")).cast("double")
            / F.count(F.lit(1))
        ).alias("bias"),
        F.round(
            F.sum(
                F.abs(F.col("c") - F.col("fc")).cast("double")
                / F.col("c")
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mape"),
    )


def events_hourly_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LAG-24 AUTOCORRELATION of hourly event volume — "is traffic
    daily-seasonal?", the diagnostic that decides whether the
    seasonal-naive forecast is even the right baseline (completes the
    time-series trio: CUSUM changepoint, seasonal-naive backtest, ACF).
    The series is DENSIFIED first (hour spine from min..max via
    sequence/unnest, missing hours = 0) so the lag pairing is over real
    clock hours, not observed-row adjacency. Scale shape: ONE shuffle
    (groupBy hour); the spine + lag self-join run on the hour-cardinality
    rollup (~9k rows/year at ANY data volume — broadcast-sized forever).
    Exactness: Pearson terms n·Σxy−Σx·Σy and the two variance terms are
    EXACT longs (hourly counts keep every product « 2^63); r casts them
    once and divides by √vx·√vy — the identical float-op sequence both
    engines, so acf24 is BIT-IDENTICAL, unrounded, and the seasonality
    flag needs no margin."""
    cnt = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cnt = cnt.localCheckpoint(eager=False)
    rng = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = rng.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    dense = spine.join(cnt, "h", "left").select(
        "h", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    dense = dense.localCheckpoint(eager=False)
    lag = dense.select(
        (F.col("h") - 24).alias("h"), F.col("c").alias("y")
    )
    pairs = dense.join(lag, "h").select(F.col("c").alias("x"), "y")
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    acf = num.cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        num.alias("acf_num"),
        acf.alias("acf24"),
        (acf > F.lit(0.25)).alias("daily_seasonal"),
    )


def lineitem_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD FIRST-DIGIT analysis of l_extendedprice — the
    fraud/synthetic-data screen auditors run on financial columns: does
    the leading-digit distribution follow log10(1+1/d)? The digit is
    extracted in EXACT INTEGER/STRING domain (first char of the
    floor-cents long — scaling by 100 never changes the leading
    significant digit), so per-digit counts are exact and shares are
    single unrounded divisions; only the Benford expectation and the
    deviation touch log10 (JVM vs libm ≤1 ULP apart — ROUND 6 absorbs).
    Scale shape: map-side digit extraction + one 9-key aggregation, the
    cheapest possible full-column screen."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    dig = li.where(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counts = dig.groupBy("digit").agg(F.count(F.lit(1)).alias("n_d"))
    tot = counts.agg(F.sum("n_d").alias("n"))
    exp_p = F.log10(
        F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
    )
    share = F.col("n_d").cast("double") / F.col("n")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_d",
            share.alias("share"),
            F.round(exp_p, 6).alias("benford_p"),
            F.round(F.abs(share - exp_p), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def doc_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN ALLOCATION — the stratified-sampling design step: given a
    fixed labeling/eval budget, what share goes to each source so the
    stratified mean-length estimator has minimum variance? Optimal share
    ∝ N_h·s_h (stratum size × stddev) — the design twin of the
    Horvitz-Thompson importance sampler (doc_quality_importance_sample
    executes a design; this query PRODUCES one). ONE scan, one 20-key
    aggregation: N, Σx, Σx² per source as EXACT longs over n_chars;
    stddev and the N·s weight are the identical double spelling in both
    engines ((Σx)² stays in double — it brushes the long limit at scale),
    so mean_chars is bit-identical (single division of exact ints) and
    only the share (whose denominator is a float SUM across sources —
    order-dependent ULPs) and sd take ROUND 6."""
    a = (
        _t(spark, sf_dir, "documents")
        .select("source", "n_chars")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").alias("s1"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
        )
    )
    nd = F.col("n").cast("double")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / nd
    ) / (nd - F.lit(1.0))
    w = a.select(
        "source",
        F.col("n").alias("n_docs"),
        (F.col("s1").cast("double") / nd).alias("mean_chars"),
        F.sqrt(var).alias("sd"),
        (nd * F.sqrt(var)).alias("wgt"),
    )
    w = w.localCheckpoint(eager=False)
    tot = w.agg(F.sum("wgt").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "mean_chars",
            F.round(F.col("sd"), 6).alias("sd_chars"),
            F.round(F.col("wgt") / F.col("tw"), 6).alias("neyman_share"),
        )
        .orderBy("source")
    )


def ann_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH INDEX HEALTH — the bucket-balance report an ANN-index operator
    reads before trusting probe latency (one hot bucket = one hot
    partition at query time; the index twin of lineitem_key_skew_report).
    Buckets are the SAME hyperplane sign patterns the pruned index
    partitions by (exact in SQL from inlined plane literals, sign margin
    test-guarded); stats: buckets used of 2^planes, hottest bucket,
    top-1 share and skew factor (max·B/n — both single unrounded int
    divisions), Shannon entropy (ROUND 6). One Arrow matmul pass + a
    64-row rollup."""
    from tdigest_spark.operators.similarity import hyperplane_buckets

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b = hyperplane_buckets(
        emb, "embedding", n_planes=_ANN_PLANES, seed=_ANN_SEED, dim=_ANN_DIM
    )
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    return counts.agg(
        F.sum("c").alias("n_vecs"),
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.lit(1 << _ANN_PLANES).cast("long").alias("n_buckets_total"),
        F.max("c").alias("max_bucket_count"),
        (F.max("c").cast("double") / F.sum("c")).alias("top1_share"),
        (
            (F.max("c") * (1 << _ANN_PLANES)).cast("double") / F.sum("c")
        ).alias("skew_factor"),
        F.round(
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log(F.col("c"))) / F.sum("c"),
            6,
        ).alias("entropy"),
    )


def doc_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style TABLE PROFILE — the per-column health report every
    ingest runs first (nulls, exact NDV, extrema, value widths): ONE
    pass over the table computes count / non-null / COUNT(DISTINCT) /
    min / max / avg string width for every column in a single aggregate
    (Spark plans the multi-distinct via Expand — one job, map-side
    partials). Extrema are compared in each column's native type and
    REPORTED as strings (integer/string casts render identically across
    engines; doubles would not — none here). avg_len is a single
    division of exact ints, unrounded."""
    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
            F.sum(F.length(F.col(c).cast("string"))).alias(f"{c}__sl"),
        ]
    row = docs.agg(*aggs).collect()[0]
    out = [
        (
            c,
            int(row[f"{c}__nn"]),
            int(row[f"{c}__nd"]),
            row[f"{c}__mn"],
            row[f"{c}__mx"],
            int(row[f"{c}__sl"]) / int(row[f"{c}__nn"]),
        )
        for c in cols
    ]
    return spark.createDataFrame(
        out,
        "column string, n_nonnull long, n_distinct long, min_s string, "
        "max_s string, avg_len double",
    ).orderBy("column")


def doc_vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCAB COVERAGE CURVE — what fraction of all token occurrences the
    top-k vocabulary covers (k = 10/100/1000), the number that sizes a
    tokenizer's vocab and flags heavy-tail corpora. NO global rank
    window: the word histogram groups into count-value BLOCKS (every
    word in a block is interchangeable for coverage: within-tie ranks
    contribute count·(k − words_before) regardless of which words make
    the cut), and the two block prefixes — occurrence mass and word
    count above each block — come from relational.distributed_value_
    cumsum (descending). coverage(k) = mass_above + (k − words_above)·c
    for the block holding rank k, or the whole corpus when k ≥ vocab.
    Exactness: every term is an exact int64; the coverage fraction is a
    single division of exact ints, left unrounded."""
    from tdigest_spark.operators.relational import distributed_value_cumsum
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    hist = (
        docs.select(
            F.explode(word_tokens(F.lower(F.col("text")))).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    blocks = (
        hist.groupBy("c")
        .agg(F.count(F.lit(1)).alias("m"))
        .withColumn("mass", F.col("c") * F.col("m"))
        .localCheckpoint(eager=False)
    )
    pm = distributed_value_cumsum(
        blocks, value_col="c", weight_col="mass", descending=True
    ).select("c", F.col("prefix").alias("mass_above"))
    pr = distributed_value_cumsum(
        blocks, value_col="c", weight_col="m", descending=True
    ).select("c", "m", F.col("prefix").alias("words_above"))
    b = pr.join(pm, "c")
    tot = blocks.agg(
        F.sum("mass").alias("t"), F.sum("m").alias("nv")
    ).collect()[0]
    total, n_vocab = int(tot["t"]), int(tot["nv"])
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "k long")
    hit = ks.join(
        b,
        (F.col("words_above") < F.col("k"))
        & (F.col("k") <= F.col("words_above") + F.col("m")),
        "left",
    ).select(
        "k",
        F.coalesce(
            F.col("mass_above")
            + (F.col("k") - F.col("words_above")) * F.col("c"),
            F.lit(total),
        ).alias("covered"),
    )
    return hit.select(
        "k",
        F.col("covered").cast("long").alias("covered"),
        F.lit(total).cast("long").alias("total_occurrences"),
        F.lit(n_vocab).cast("long").alias("n_vocab"),
        (F.col("covered").cast("double") / F.lit(float(total))).alias(
            "coverage"
        ),
    ).orderBy("k")


def doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram counts — the n-gram LM / collocation statistic at the
    root of corpus analysis: tokenize once, pair adjacent words JVM-side
    (zip_with over two slices of the SAME bound array column; binding
    matters because Spark HOFs have no common-subexpression elimination,
    so an unbound split would re-tokenize per element), explode ->
    two-phase hash aggregate -> TakeOrderedAndProject top-50 with a
    deterministic tie-break. One shuffle on the bigram key — the same
    wordcount shape as doc_vocab_topk, which holds at 100 TB."""
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(word_tokens(F.lower(F.col("text"))).alias("t"))
    n1 = F.greatest(F.size("t") - F.lit(1), F.lit(0))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", F.lit(1), n1),
                F.slice("t", F.lit(2), n1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


def doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information collocations — the statistic behind
    phrase mining / tokenizer-merge candidates: PMI(a,b) =
    ln(P(ab) / (P(a)·P(b))) over adjacent word pairs. Unigram and bigram
    counts are two wordcount shapes (one shuffle each); the pair frame
    joins the vocab twice on the word key and the two scalar totals ride
    1-row broadcasts. Exactness: every division operand is an
    integer-valued double (IEEE division of identical inputs is
    bit-identical in both engines — no count product can overflow 2^53
    the way c_ab·n1² would), so only the final ln differs by ULPs, and
    ROUND(...,6) absorbs that; ordering uses the ROUNDED value with a
    (w1, w2) tie-break, so the top-50 cut is deterministic."""
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint, not persist: the result is LAZY, so an unpersist
    # before collection would undo the cache; GC-managed blocks instead
    # (same pattern as operators/drift.py)
    toks = docs.select(
        word_tokens(F.lower(F.col("text"))).alias("t")
    ).localCheckpoint(eager=False)
    uni = (
        toks.select(F.explode("t").alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = uni.agg(F.sum("c").alias("n1"))
    m = F.greatest(F.size("t") - F.lit(1), F.lit(0))
    bc = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice("t", F.lit(1), m),
                    F.slice("t", F.lit(2), m),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    nb = bc.agg(F.sum("c_ab").alias("nb"))
    ua = uni.select(F.col("word").alias("_wa"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("word").alias("_wb"), F.col("c").alias("c_b"))
    out = (
        bc.where(F.col("c_ab") >= 5)
        .join(ua, F.col("w1") == F.col("_wa"))
        .join(ub, F.col("w2") == F.col("_wb"))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("nb"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n1"))
                        * (F.col("c_b").cast("double") / F.col("n1"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )
    return out


def iceberg_incremental_vocab_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary drift over an Iceberg commit — the monitoring query a
    token pipeline runs on every ingest: the CDC-style incremental scan
    (files added between snapshot 1 and 2 of the shared fixture) yields
    the delta docs; their per-source distinct words anti-join the
    snapshot-1 vocabulary to count genuinely NEW words. At 100 TB the
    delta is one commit's files (O(new data)), and the v1 vocab is a
    word-keyed semi-join, never a rescan of history. Counts exact; the
    oracle recomputes both sides from doc_id parity."""
    from tdigest_spark.operators.text import word_tokens
    from tdigest_spark.sources.iceberg import (
        iceberg_incremental_paths,
        iceberg_scan_paths_static,
    )

    root = _iceberg_tt_fixture(sf_dir)
    v1 = spark.read.parquet(*iceberg_scan_paths_static(str(root), snapshot_id=1))
    delta = spark.read.parquet(*iceberg_incremental_paths(str(root), 1, 2))
    v1_vocab = (
        v1.select(F.explode(word_tokens(F.lower(F.col("text")))).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    dw = (
        delta.select(
            "source",
            F.explode(word_tokens(F.lower(F.col("text")))).alias("word"),
        )
        .where(F.col("word") != "")
        .distinct()
        .persist()
    )
    totals = dw.groupBy("source").agg(F.count(F.lit(1)).alias("n_delta_words"))
    news = (
        dw.join(v1_vocab, "word", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_new_words"))
    )
    out = (
        totals.join(news, "source", "left")
        .select(
            "source",
            "n_delta_words",
            F.coalesce("n_new_words", F.lit(0)).alias("n_new_words"),
        )
        .orderBy("source")
    )
    out = out.localCheckpoint(eager=True)
    dw.unpersist()
    return out


def doc_source_word_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-drift monitor: KL(source ‖ corpus) over the
    unigram word distribution + an integer-exact count of words
    over-represented ≥8× in the source (operators/drift.py).  One corpus
    scan; everything else is derived from the (source, word) counts.
    The KL sum is rounded to 6 dp (the per-term doubles are IEEE-exact
    and spelled identically in the oracle; only ln ULPs and summation
    order differ)."""
    from tdigest_spark.operators.drift import word_divergence_by_group

    docs = _t(spark, sf_dir, "documents")
    return word_divergence_by_group(docs, "text", "source", lift_k=8)


def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of events.value between the two
    event_id-parity halves over fixed-width buckets
    (operators/drift.py psi_fixed_buckets): one scan, one bucket-keyed
    two-phase aggregate with conditional partials, O(#buckets) persisted
    state, broadcast totals.  Bucket edges are FLOOR(value/10) — IEEE
    double division + floor, identical across engines (no libm edge
    risk); PSI rounded to 6 dp; one-sided buckets reported as integer
    counts instead of smoothed."""
    from tdigest_spark.operators.drift import psi_fixed_buckets

    ev = _t(spark, sf_dir, "events")
    return psi_fixed_buckets(ev, "value", "event_id", bucket_width=10.0)


def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the event stream (operators/drift.py):
    users bucketed by first-seen Monday-truncated week, exact distinct
    active users per (cohort, week_offset) cell.  One shuffle on user_id
    (min week + bounded per-user week set), no countDistinct, no
    full-stream window."""
    from tdigest_spark.operators.drift import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts")


def token_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup audit (ExactSubstr of Lee et al. 2022) over
    the hash-tokenized corpus: per document, the number of token positions
    covered by a 5-token span that occurs more than once ANYWHERE in the
    corpus — the signal substring dedup trims on where document-level
    dedup sees nothing.  The paper's suffix array doesn't distribute;
    operators/dedup.py duplicate_span_coverage is the shuffle formulation
    (map-side span hashing -> one shuffle on the 8-byte span hash ->
    join-back + gaps-and-islands interval merge per doc).  Tokens and span
    hashes are md5-lower-64 (== DuckDB md5_number_lower), so the whole
    statistic has an exact SQL oracle."""
    from tdigest_spark.operators.dedup import duplicate_span_coverage
    from tdigest_spark.operators.text import hash_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", hash_tokens(F.col("text")).alias("tokens"))
    return duplicate_span_coverage(toks, "tokens", "doc_id", k=5).orderBy(
        "doc_id"
    )


def token_vocab_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-output audit per source over the deterministic hash
    tokenizer (operators/text.py hash_tokens, md5-lower-64 mod 50257):
    token mass, distinct-id count (hashing-trick vocab coverage), top-token
    mass share, and Shannon entropy in nats — the diversity numbers a
    training-mix owner watches per domain.  One explode + one (source, id)
    two-phase aggregate + one O(#sources x #vocab)-bounded rollup; per-term
    doubles (c*ln c) are IEEE-exact and spelled identically in the oracle,
    ROUND(...,6) absorbs ln ULPs + summation order (the
    doc_source_word_kl contract)."""
    from tdigest_spark.operators.text import hash_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(hash_tokens(F.col("text"))).alias("tok")
    )
    per = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.col("n_tokens").cast("double")
    return (
        per.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("_max_c"),
            F.sum(
                F.col("c").cast("double") * F.log(F.col("c").cast("double"))
            ).alias("_clnc"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            F.round(F.col("_max_c").cast("double") / n, 6).alias("top_share"),
            F.round(F.log(n) - F.col("_clnc") / n, 6).alias("entropy_nats"),
        )
        .orderBy("source")
    )


def mg_heavy_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent items, two-pass exact heavy hitters: MG(k=64)
    over the exploded word stream yields a candidate set GUARANTEED to
    contain every word with freq > n/65; a second scan restricted to the
    candidates (broadcast isin) recounts exactly and keeps cnt*51 > n.
    Integer-exact end to end, so the oracle is plain GROUP BY + HAVING —
    at 100 TB this is one full scan + one candidate-pruned scan instead
    of a full-vocabulary shuffle."""
    from tdigest_spark.operators.aggregate import MG_SPEC, build_sketch
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(word_tokens(F.lower(F.col("text")))).alias("word")
    ).where(F.col("word") != "")
    mg = build_sketch(words, "word", MG_SPEC(64))
    return (
        words.where(F.col("word").isin(mg.candidates()))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * 51 > F.lit(mg.n))
        .orderBy("word")
    )


def mg_heavy_words_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED frequent items — the per-key twin of mg_heavy_words: one
    Misra-Gries(127) summary per source built map-side (only O(k) states
    shuffle per key, build_sketch_grouped), candidates recounted exactly
    with a broadcast semi-join, threshold cnt*64 > n_source. The MG
    guarantee (every word with f > n/128 survives) makes the candidate
    set a superset of the f > n/64 answer NO MATTER how rows were
    batched, so the result equals the plain per-source GROUP BY + HAVING
    — one full scan + one candidate-pruned scan instead of shuffling the
    full per-source vocabulary."""
    from tdigest_spark.operators.aggregate import MG_SPEC, build_sketch_grouped
    from tdigest_spark.operators.text import word_tokens
    from tdigest_spark.sketch.mg import MisraGries

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(word_tokens(F.lower(F.col("text")))).alias("word"),
    ).where(F.col("word") != "")
    states = build_sketch_grouped(words, ["source"], "word", MG_SPEC(127))
    cand_rows = []
    totals = {}
    for r in states.collect():
        mg = MisraGries.from_bytes(bytes(r.state))
        totals[r.source] = int(mg.n)
        cand_rows.extend((r.source, str(w)) for w in mg.candidates())
    cand = spark.createDataFrame(cand_rows, "source string, word string")
    tot = spark.createDataFrame(
        list(totals.items()), "source string, n long"
    )
    return (
        words.join(F.broadcast(cand), ["source", "word"], "left_semi")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(tot), "source")
        .where(F.col("cnt") * 64 > F.col("n"))
        .select("source", "word", "cnt")
        .orderBy("source", "word")
    )


def media_pipeline_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three multimodal paths end-to-end (image resize-to-features,
    audio frame-energy, video frame-sampling) over a deterministic media
    table: one row per (doc, kind) with the op's OUTPUT CARDINALITY —
    feature length / frame count / sampled-frame count. The fan-out
    shapes are pure arithmetic on the metadata, so the contract is
    closed-form even where float audio math isn't SQL-reproducible.
    Plumbing (Arrow mapInPandas batches, schemas, JVM-side kind filters)
    is the real 100-TB path; decoders are the documented stubs."""
    from tdigest_spark.operators.multimodal import (
        audio_frame_energy,
        image_resize_features,
        video_sample_frames,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    media = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        (F.lit(16) + F.col("n_chars") % 16).cast("int").alias("width"),
        F.lit(16).cast("int").alias("height"),
        (F.lit(4096) + (F.col("n_chars") % 7) * 1024)
        .cast("int")
        .alias("sample_rate"),
        (F.lit(24) + F.col("n_chars") % 50).cast("int").alias("n_frames"),
    )
    img = image_resize_features(media, side=16).select(
        "doc_id", F.lit("image").alias("kind"), F.size("feature").alias("n_out")
    )
    aud = audio_frame_energy(media, frame=1024).select(
        "doc_id", F.lit("audio").alias("kind"), F.size("rms").alias("n_out")
    )
    vid = (
        video_sample_frames(media, every=8)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_out"))
        .select("doc_id", F.lit("video").alias("kind"), "n_out")
    )
    return img.unionByName(aud).unionByName(vid).orderBy("doc_id")


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features (length / punctuation / stopword ratios) — all
    whole-stage-codegen column expressions, no Python."""
    from tdigest_spark.operators.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(docs, "text")
    return q.select(
        "doc_id",
        "n_words",
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


def doc_langid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language-ID heuristic, aggregated to counts per
    (predicted, labeled) language."""
    from tdigest_spark.operators.text import langid_heuristic

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("pred_lang", langid_heuristic(F.col("text")))
        .groupBy("pred_lang", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("pred_lang", "lang")
    )


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate per document."""
    from tdigest_spark.operators.text import bpe_ish_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_count(F.col("text")).alias("n_subwords"),
    ).orderBy("doc_id")


def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split (operators/sample.py
    leakage_safe_split): duplicate documents must land in the SAME split
    or held-out eval is contaminated — so the split is decided by the
    hash of each content-group's representative (min doc_id), never the
    row's own. 8/1/1 over md5-shard 10. Per-split doc/group/char counts
    plus a measured leaked_groups column (content hashes spanning >1
    split — zero by construction; the Spark side COUNTS it, the oracle
    pins it at 0, so any mechanism break hash-mismatches). Every
    assignment replays in SQL via md5_number_lower."""
    from tdigest_spark.operators.sample import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    a = leakage_safe_split(docs, "text", "doc_id", seed=1)
    a = a.join(docs.select("doc_id", F.col("n_chars").cast("long")), "doc_id")
    a.persist()
    leaked = (
        a.groupBy("_th")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    out = (
        a.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_th").alias("n_groups"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .select(
            "split",
            "n_docs",
            "n_groups",
            "chars_sum",
            F.lit(leaked).cast("long").alias("leaked_groups"),
        )
        .orderBy("split")
    )
    out = spark.createDataFrame(out.collect(), out.schema)
    a.unpersist()
    return out


def doc_quality_importance_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-weighted IMPORTANCE SAMPLING (the DCLM-style resampling
    pass): documents are bucketed by a quality proxy (length), each
    bucket gets an acceptance probability (long 1.0 / mid 0.5 / short
    0.1), the keep decision is the deterministic content-hash rule
    (md5_lower64(seed:doc_id) < p*2^64 — layout- and engine-independent,
    codegen filter at the scan), and every kept row carries its inverse-
    probability weight so downstream stats stay unbiased. Output reports
    the Horvitz-Thompson estimates (sum w, sum n_chars*w) next to the
    true totals per bucket — the estimator's machinery is exact-oracled,
    not asserted. All HT terms are integers scaled by 1/p (1/0.5 and
    1/0.1 are the same correctly-rounded doubles in both engines; the
    products stay exact integers in double, so sums are order-free)."""
    from tdigest_spark.operators.sample import md5_lower64

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    bucket = (
        F.when(F.col("n_chars") >= 300, F.lit("long"))
        .when(F.col("n_chars") >= 150, F.lit("mid"))
        .otherwise(F.lit("short"))
    )
    p = (
        F.when(F.col("bucket") == "long", F.lit(1.0))
        .when(F.col("bucket") == "mid", F.lit(0.5))
        .otherwise(F.lit(0.1))
    )
    from decimal import Decimal

    u64 = 1 << 64
    thresh = (
        F.when(F.col("bucket") == "long", F.lit(Decimal(u64)))
        .when(F.col("bucket") == "mid", F.lit(Decimal(u64 // 2)))
        .otherwise(F.lit(Decimal(int(0.1 * u64))))
    )
    b = docs.withColumn("bucket", bucket).withColumn("p", p)
    kept = md5_lower64(F.concat(F.lit("2:"), F.col("doc_id").cast("string"))) < thresh
    w = F.lit(1.0) / F.col("p")
    return (
        b.withColumn("kept", kept)
        .groupBy("bucket")
        .agg(
            F.first("p").alias("p"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_sampled"),
            F.round(F.sum(F.when(F.col("kept"), w).otherwise(0.0)), 6).alias(
                "ht_docs"
            ),
            F.round(
                F.sum(
                    F.when(F.col("kept"), F.col("n_chars") * w).otherwise(0.0)
                ),
                6,
            ).alias("ht_chars"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .orderBy("bucket")
    )


def doc_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (rolling-hash analogue): per doc the min
    md5-lower-64 over word 5-grams — a 1-permutation minhash, entirely
    JVM-side codegen (operators/text.py). Docs sharing a fingerprint are
    near-dup cluster candidates; cluster_size is the fingerprint's doc
    count. Map-only + one shuffle on the 16-byte fingerprint — at 100 TB
    this is the cheapest near-dup blocking pass available."""
    from tdigest_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint(F.col("text"), 5).alias("fp"))
    from pyspark.sql.window import Window

    return fp.select(
        "doc_id",
        "fp",
        F.count(F.lit(1)).over(Window.partitionBy("fp")).alias("cluster_size"),
    ).orderBy("doc_id")


def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing end-to-end on driver data: document
    text becomes an opaque binary payload with typed image metadata, then
    the Arrow-batched mapInPandas decode stage emits per-channel stats.
    The decode stub (the real codec is not in this container —
    operators/multimodal.py) generates pixel i = splitmix64(md5_seed XOR i)
    & 255, which is exactly reproducible in DuckDB SQL
    (_media_stats_oracle_sql) — so even the stubbed multimodal path gets a
    full hash-match oracle at any scale factor, and the Spark-side
    schema/batching/partition plumbing is tested end-to-end."""
    from tdigest_spark.operators.multimodal import decode_image_stats

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        (F.lit(16) + F.length("text") % 16).alias("width"),
        (F.lit(16) + (F.length("text") / 7).cast("int") % 16).alias("height"),
    )
    out = decode_image_stats(media)
    return out.select(
        "doc_id",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("std_gray", 6).alias("std_gray"),
    ).orderBy("doc_id")


def media_real_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode end-to-end (VERDICT r2 item 2): pixels are generated
    from the splitmix64 formula (seeded by md5 of the doc_id string), encoded
    into REAL containers — PPM, PNG (zlib), BMP by doc_id % 3
    (operators/codecs.py, stdlib-only) — and decode_image_stats must parse
    the container back to those exact pixels. Self-certifying: the stub
    fallback would seed from md5(encoded bytes), producing different pixels,
    so an oracle match proves the real decoder ran on every row."""
    import pandas as pd

    from tdigest_spark.operators import codecs
    from tdigest_spark.operators.multimodal import _seed_from, decode_image_stats
    from tdigest_spark.sketch.hashing import hash64

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            (F.lit(8) + F.col("doc_id") % 5).cast("int").alias("width"),
            (F.lit(8) + (F.col("doc_id") / F.lit(3)).cast("long") % 5)
            .cast("int")
            .alias("height"),
            (F.col("doc_id") % 3).cast("int").alias("fmt"),
        )
    )

    def encode(pdfs):
        encoders = [codecs.encode_ppm, codecs.encode_png, codecs.encode_bmp]
        for pdf in pdfs:
            payloads = []
            for r in pdf.itertuples():
                seed = np.uint64(_seed_from(r.doc_id.encode()))
                idx = np.arange(int(r.width) * int(r.height) * 3, dtype=np.uint64)
                img = (
                    (hash64(seed ^ idx) & np.uint64(255))
                    .astype(np.uint8)
                    .reshape(int(r.height), int(r.width), 3)
                )
                payloads.append(bytearray(encoders[int(r.fmt)](img)))
            out = pdf.assign(payload=payloads, kind="image")
            yield out[["doc_id", "kind", "payload", "width", "height"]]

    media = docs.mapInPandas(
        encode,
        "doc_id string, kind string, payload binary, width int, height int",
    )
    stats = decode_image_stats(media)
    return stats.select(
        "doc_id",
        (F.col("doc_id").cast("long") % 3).cast("int").alias("fmt"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("std_gray", 6).alias("std_gray"),
    ).orderBy("doc_id")


def media_video_real_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL VIDEO codec end-to-end (VERDICT r4 item 6): per doc, frame
    pixels are generated from the splitmix64 formula (seeded by md5 of
    the doc_id string), encoded into a REAL uncompressed YUV4MPEG2
    (Y4M C444) container — ffmpeg's raw interchange format, stdlib-
    parseable like the image/audio codecs — and
    multimodal.video_frame_stats must parse the container back to those
    exact planes (per-sampled-frame channel means, every 2nd frame).
    Self-certifying: the stub fallback seeds from md5(encoded bytes) and
    always fakes 8x8 frames, so an oracle match proves the real decoder
    ran on every row. Means are single divisions of exact small-int sums
    — bit-identical across engines, left UNROUNDED (the .5-tie lesson)."""
    import pandas as pd

    from tdigest_spark.operators import codecs
    from tdigest_spark.operators.multimodal import (
        _seed_from,
        video_frame_stats,
    )
    from tdigest_spark.sketch.hashing import hash64

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            (F.lit(4) + F.col("doc_id") % 3).cast("int").alias("w"),
            (F.lit(4) + (F.col("doc_id") / F.lit(3)).cast("long") % 3)
            .cast("int")
            .alias("h"),
            (F.lit(3) + F.col("doc_id") % 4).cast("int").alias("n"),
        )
    )

    def encode(pdfs):
        for pdf in pdfs:
            payloads = []
            for r in pdf.itertuples():
                seed = np.uint64(_seed_from(r.doc_id.encode()))
                total = int(r.n) * int(r.h) * int(r.w) * 3
                idx = np.arange(total, dtype=np.uint64)
                frames = (
                    (hash64(seed ^ idx) & np.uint64(255))
                    .astype(np.uint8)
                    .reshape(int(r.n), int(r.h), int(r.w), 3)
                )
                payloads.append(bytearray(codecs.encode_y4m(frames)))
            out = pdf.assign(payload=payloads, kind="video")
            yield out[["doc_id", "kind", "payload", "n"]].rename(
                columns={"n": "n_frames"}
            )

    media = docs.mapInPandas(
        encode, "doc_id string, kind string, payload binary, n_frames int"
    )
    stats = video_frame_stats(media, every=2)
    return stats.select(
        "doc_id", "frame_idx", "mean_y", "mean_u", "mean_v"
    ).orderBy("doc_id", "frame_idx")


def simhash_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signatures (one vectorized
    md5-hash + bit-vote kernel), pairs within Hamming distance 3 via
    4-band exact-match blocking (pigeonhole: any pair with <=3 differing
    bits shares at least one of 4 16-bit bands). Fully oracled: md5-lower-64
    gram hashes and the majority vote are reproduced in SQL
    (_simhash_oracle_sql)."""
    from tdigest_spark.operators.dedup import simhash64, spread_small_input

    docs = _t(spark, sf_dir, "documents")
    sig = spread_small_input(docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("_id"), simhash64(F.col("text"), 2).alias("sh")
    )
    banded = sig.select(
        "_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bh"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("_id", "sh", "bb.band", "bb.bh")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.sh").alias("sha"),
            F.col("b.sh").alias("shb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        pairs.withColumn("hamming", ham)
        .where(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def events_hourly_stream_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming flagship: event-time tumbling-window discrete
    digests per event_type via applyInPandasWithState (availableNow over the
    events table as a file stream). Exact-map state -> the per-window median
    is Nearest-Rank-exact and fully reproducible in SQL."""
    import time as _time

    from tdigest_spark.operators.aggregate import TDIGEST_DISCRETE
    from tdigest_spark.sketch.discrete import DiscreteDigest
    from tdigest_spark.streaming import windowed_digests

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # parquet infers TIMESTAMP_NTZ; event-time needs TIMESTAMP_LTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = windowed_digests(
        stream, "ts", "event_type", "value", TDIGEST_DISCRETE(), 3600
    )
    qname = f"ev_hourly_{int(_time.time() * 1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    res = spark.table(qname).toPandas()
    res = res.drop_duplicates(subset=["key", "window_start"], keep="last")
    rows = [
        (
            int(r.window_start),
            str(r.key),
            int(r.n),
            float(DiscreteDigest.from_bytes(r.state).quantile(0.5)),
        )
        for r in res.itertuples()
    ]
    return spark.createDataFrame(
        rows, "window_start long, event_type string, n long, p50 double"
    ).orderBy("window_start", "event_type")


def events_stream_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequent items: a Misra-Gries(k=127) summary of user_id
    maintained across micro-batches (foreachBatch + durable atomic state
    table, exactly-once via the batch high-water mark). After the
    availableNow drain the candidate set — a guaranteed superset of every
    user with f > n/128 NO MATTER how the stream was batched — is
    recounted exactly and filtered cnt*128 > n, so the result is the plain
    GROUP BY / HAVING answer over the whole stream."""
    import shutil
    import tempfile

    from tdigest_spark.operators.aggregate import MG_SPEC
    from tdigest_spark.streaming import incremental_build, read_state

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    tmp = tempfile.mkdtemp(prefix="mg_stream_")
    try:
        sketches = {"mg": ("user_id", MG_SPEC(127))}
        q = incremental_build(stream, sketches, f"{tmp}/state", f"{tmp}/ckpt")
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("stream did not drain within 300s")
        state = read_state(f"{tmp}/state", sketches)
        if state is None:
            raise RuntimeError("stream drained but no state batch committed")
        mg = state["mg"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("user_id").isin(mg.candidates()))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * 128 > F.lit(mg.n))
        .orderBy("user_id")
    )


def events_stream_enriched_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static broadcast enrichment (streaming/enrich_stream): the
    events file stream joins the static customer dimension per micro-batch
    (user_id == c_custkey; broadcast — the stream side never shuffles,
    which is the only join shape that survives a 100-TB stream), then
    per-market-segment counts and value sums over the enriched append
    stream. Exact oracle: stream-static inner join of the full file ==
    the batch join."""
    import time as _time

    from tdigest_spark.streaming import enrich_stream

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = enrich_stream(stream, dim, ["user_id"]).select(
        "segment", "value"
    )
    qname = f"ev_enrich_{int(_time.time() * 1000)}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return (
        spark.table(qname)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("segment")
    )


def events_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (streaming/
    interval_join_streams): the click stream joins the purchase stream on
    user_id with purchase_ts in [click_ts, click_ts + 2h] — the attribution
    query every clickstream pipeline needs. Both sides are watermarked and
    the time-range condition bounds the join state to O(rows per horizon),
    so the same plan survives an unbounded stream. Exact oracle: the
    interval inner join over the drained file stream == the batch SQL
    interval join."""
    import time as _time

    from tdigest_spark.streaming import interval_join_streams

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _stream(etype: str, prefix: str, ts_name: str):
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id"),
                F.col("ts").cast("timestamp").alias(ts_name),
                F.col("value").alias(f"{prefix}_value"),
            )
        )

    clicks = _stream("click", "click", "click_ts").drop("click_value")
    purchases = _stream("purchase", "purchase", "purchase_ts")
    joined = interval_join_streams(
        clicks, purchases, ["user_id"], "click_ts", "purchase_ts",
        horizon="2 hours",
    )
    qname = f"ev_attr_{int(_time.time() * 1000)}"
    q = (
        joined.select("click_id", "purchase_id", "user_id", "purchase_value")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return (
        spark.table(qname)
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            F.round("purchase_value", 2).alias("purchase_value"),
        )
        .orderBy("click_id", "purchase_id")
    )


def events_stream_semi_converted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the third join flavor
    next to inner (events_stream_attribution) and left/full outer: emit
    each CLICK exactly once iff SOME purchase by the same user lands in
    [click_ts, click_ts + 2h], never duplicating the click per match and
    never shipping purchase columns at all (the state-efficient
    "did it convert?" shape). Unlike the outer flavors, the emitted set
    is watermark-INDEPENDENT on a drained bounded input — it is exactly
    the EXISTS set — so the oracle is a plain SQL EXISTS with the same
    interval, no finalization-semantics margin needed. Same bounded
    state contract as inner: a buffered click is evicted once the
    purchase watermark passes click_ts + horizon."""
    import time as _time

    from tdigest_spark.streaming import interval_join_streams

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _stream(etype: str, prefix: str, ts_name: str):
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id"),
                F.col("ts").cast("timestamp").alias(ts_name),
            )
        )

    clicks = _stream("click", "click", "click_ts")
    purchases = _stream("purchase", "purchase", "purchase_ts")
    joined = interval_join_streams(
        clicks, purchases, ["user_id"], "click_ts", "purchase_ts",
        horizon="2 hours", how="left_semi",
    )
    qname = f"ev_semi_{int(_time.time() * 1000)}"
    q = (
        joined.select(
            "click_id", "user_id", F.unix_micros("click_ts").alias("click_us")
        )
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return (
        spark.table(qname)
        .select(
            F.col("click_id").cast("long").alias("click_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("click_us").cast("long").alias("click_us"),
        )
        .orderBy("click_id")
    )


def events_stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution flavor
    where unconverted clicks must ALSO be emitted (with nulls) once the
    watermark proves no purchase can still match. Null emission is
    watermark-driven state eviction: an unmatched click emits exactly
    when final_wm > click_ts + horizon, where final_wm =
    min(max_click_ts, max_purchase_ts) − delay (global min-watermark
    policy across the two inputs). That makes the emitted set a
    deterministic function of the data, and the batch oracle reproduces
    it: matched interval-join pairs plus watermark-expired unmatched
    clicks (purchase_id −1 stands in for NULL so both engines order and
    hash identically). Boundary margin is test-guarded per SF."""
    import time as _time

    from tdigest_spark.streaming import interval_join_streams

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _stream(etype: str, prefix: str, ts_name: str):
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id"),
                F.col("ts").cast("timestamp").alias(ts_name),
            )
        )

    joined = interval_join_streams(
        _stream("click", "click", "click_ts"),
        _stream("purchase", "purchase", "purchase_ts"),
        ["user_id"],
        "click_ts",
        "purchase_ts",
        horizon="2 hours",
        max_delay="1 second",
        how="left_outer",
    )
    qname = f"ev_attr_oj_{int(_time.time() * 1000)}"
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return (
        spark.table(qname)
        .select(
            "click_id",
            F.coalesce("purchase_id", F.lit(-1).cast("long")).alias(
                "purchase_id"
            ),
            F.col("purchase_id").isNotNull().alias("attributed"),
        )
        .orderBy("click_id", "purchase_id")
    )


def events_stream_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join-flavor matrix (inner + left outer already covered): unconverted
    clicks AND orphan purchases both emit with nulls once the watermark
    proves no partner can still arrive. Emission rules (empirically
    pinned, same methodology as the left-outer case): unmatched left
    emits iff click_ts + horizon < final_wm; unmatched RIGHT emits iff
    purchase_ts < final_wm, where final_wm = min(max_click, max_purchase)
    − delay — a right row only waits for earlier-or-equal clicks, so its
    eviction needs no horizon term. Both sets are deterministic functions
    of the data; the batch oracle reproduces matched + both expired
    unmatched sides (−1 stand-ins for NULL keys). Margins test-guarded."""
    import time as _time

    from tdigest_spark.streaming import interval_join_streams

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _stream(etype: str, prefix: str, ts_name: str):
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id"),
                F.col("ts").cast("timestamp").alias(ts_name),
            )
        )

    joined = interval_join_streams(
        _stream("click", "click", "click_ts"),
        _stream("purchase", "purchase", "purchase_ts"),
        ["user_id"],
        "click_ts",
        "purchase_ts",
        horizon="2 hours",
        max_delay="1 second",
        how="full_outer",
    )
    qname = f"ev_attr_fo_{int(_time.time() * 1000)}"
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return (
        spark.table(qname)
        .select(
            F.coalesce("click_id", F.lit(-1).cast("long")).alias("click_id"),
            F.coalesce("purchase_id", F.lit(-1).cast("long")).alias(
                "purchase_id"
            ),
            F.when(
                F.col("click_id").isNull(), F.lit("orphan_purchase")
            )
            .when(F.col("purchase_id").isNull(), F.lit("unconverted_click"))
            .otherwise(F.lit("attributed"))
            .alias("kind"),
        )
        .orderBy("click_id", "purchase_id")
    )


def events_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup within the watermark horizon: the events file
    stream unioned with ITSELF (every event delivered twice — the at-least-
    once redelivery case) through dropDuplicatesWithinWatermark keyed on
    event_id, then per-type counts over the deduped append stream. State
    is bounded by (distinct ids per horizon), never stream length. Exact
    oracle: dedup of a doubled stream == the original table, so counts
    equal plain per-type GROUP BY counts."""
    import time as _time

    from tdigest_spark.streaming import dedup_stream

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    doubled = _stream().unionByName(_stream())
    deduped = dedup_stream(doubled, ["event_id"], "ts", "1 hour")
    qname = f"ev_dedup_{int(_time.time() * 1000)}"
    q = (
        deduped.select("event_id", "event_type")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return (
        spark.table(qname)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


def events_stream_iceberg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INGEST into Iceberg with exactly-once table state — the
    write edge of the north-rule pipeline: the events table, split into
    two input files and streamed one file per micro-batch, lands in an
    Iceberg table via foreachBatch (distributed per-batch parquet write +
    one append snapshot per epoch, commit-guarded on the epoch-derived
    snapshot id). After the drain, epoch 0 is RE-DELIVERED through the
    same callback — Spark's at-least-once retry case — and the guard
    proves idempotency: snapshot count unchanged, no duplicate rows. The
    final table, read through the snapshot metadata walk, exactly equals
    the source: per-type counts and floor-cents sums match the plain
    events view, with n_snapshots/idempotent_ok exact-oracled literals."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences
    from tdigest_spark.streaming import write_stream_to_iceberg

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    tmp = tempfile.mkdtemp(prefix="ice_sink_")
    try:
        from pathlib import Path

        indir = Path(tmp) / "in"
        indir.mkdir()
        tbl = pq.read_table(f"{sf_dir}/events.parquet")
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), indir / "part1.parquet")
        pq.write_table(tbl.slice(half), indir / "part2.parquet")
        root = Path(tmp) / "tbl"
        W.create_table(root, ts_ms=1000)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        q, process = write_stream_to_iceberg(stream, root, f"{tmp}/ckpt")
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("stream did not drain within 300s")
        n_drained = len(W.snapshot_ids(root))
        # at-least-once retry: re-deliver epoch 0 through the SAME callback
        process(spark.read.parquet(str(indir / "part1.parquet")), 0)
        n_after_retry = len(W.snapshot_ids(root))
        idempotent = int(n_after_retry == n_drained == 2)
        df = read_sequences(spark, str(root))
        out = (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100).cast("long")
                ).alias("value_cents"),
            )
            .select(
                "event_type",
                "n_events",
                "value_cents",
                F.lit(n_after_retry).cast("long").alias("n_snapshots"),
                F.lit(idempotent).cast("long").alias("idempotent_ok"),
            )
            .orderBy("event_type")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def events_text_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-source coverage (JSON Lines + CSV) with explicit schemas and
    PERMISSIVE corrupt-record capture — the other half of ingestion after
    parquet/Avro/Iceberg: events are staged as JSONL and CSV, read back
    with enforced schemas, and aggregated; two injected malformed JSON
    lines must surface in ``_corrupt_record`` (counted in the result, so
    the oracle's literal 2 certifies the error path ran against 10k+ good
    lines). The staged value column is integer floor-cents — text
    roundtrips of longs are exact, doubles-as-decimal-text are not.
    The JSON and CSV reads must agree row-for-row (asserted in-query).
    Scale shape: both reads are splittable line formats; the aggregate is
    the usual partial+final pass."""
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(100.0)).alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="evt_text_src_")
    try:
        ev.write.mode("overwrite").json(f"{tmp}/json")
        ev.write.mode("overwrite").option("header", "true").csv(f"{tmp}/csv")
        with open(f"{tmp}/json/zz-corrupt.json", "w") as fh:
            fh.write('{"event_id": "not-a-long", "user_id": 1}\n')
            fh.write("{this is not json at all\n")
        schema = (
            "event_id long, user_id long, event_type string, cents long, "
            "_corrupt_record string"
        )
        jdf = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(f"{tmp}/json")
            # cache is REQUIRED before referencing only the corrupt-record
            # column (Spark disallows corrupt-column-only queries on the
            # raw unparsed relation)
            .cache()
        )
        n_corrupt = jdf.where(F.col("_corrupt_record").isNotNull()).count()
        assert n_corrupt == 2, n_corrupt
        good = jdf.where(F.col("_corrupt_record").isNull())

        def _agg(df):
            return (
                df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum("cents").alias("cents"),
                )
                .orderBy("event_type")
            )

        rows = [tuple(r) for r in _agg(good).collect()]
        cdf = (
            spark.read.schema(
                "event_id long, user_id long, event_type string, cents long"
            )
            .option("header", "true")
            .csv(f"{tmp}/csv")
        )
        assert rows == [tuple(r) for r in _agg(cdf).collect()]
        jdf.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = [(t, n, c, 2) for t, n, c in rows]
    return spark.createDataFrame(
        out, "event_type string, n_events long, cents long, n_corrupt int"
    ).orderBy("event_type")


def events_avro_source_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AVRO container source through a Python Data Source
    (datasource.AvroLiteDataSource over the pure-python codec the
    Iceberg manifests already use): events staged as four real Avro
    object-container files (deflate blocks, embedded writer schema),
    read back DISTRIBUTED — one input partition per container, schema
    taken from Avro's self-describing header — and aggregated. The
    staged value column is integer floor-cents (exact text-free
    roundtrip); the partition count is asserted in-query. The oracle
    replays the aggregate off the parquet twin."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import avro_lite
    from tdigest_spark.sources.datasource import AvroLiteDataSource

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "avro_events" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/events.parquet"),
        "version": 1,
    }
    ok = False
    if marker.exists():
        try:
            ok = _json.loads(marker.read_text()).get("params") == params
        except Exception:
            ok = False
    if not ok:
        if root.exists():
            shutil.rmtree(root)
        root.mkdir(parents=True)
        tbl = pq.read_table(
            f"{sf_dir}/events.parquet",
            columns=["event_id", "user_id", "event_type", "value"],
        )
        cents = pc.floor(pc.multiply(tbl["value"], 100.0))
        schema = {
            "type": "record",
            "name": "event",
            "fields": [
                {"name": "event_id", "type": "long"},
                {"name": "user_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "cents", "type": "long"},
            ],
        }
        ids = tbl["event_id"].to_pylist()
        users = tbl["user_id"].to_pylist()
        types = tbl["event_type"].to_pylist()
        cl = [int(c) for c in cents.to_pylist()]
        for part in range(4):
            records = [
                {
                    "event_id": ids[i],
                    "user_id": users[i],
                    "event_type": types[i],
                    "cents": cl[i],
                }
                for i in range(len(ids))
                if ids[i] % 4 == part
            ]
            avro_lite.write_container(
                root / f"events-{part}.avro", schema, records
            )
        marker.write_text(_json.dumps({"params": params}))
    spark.dataSource.register(AvroLiteDataSource)
    adf = spark.read.format("avro_lite").option("path", str(root)).load()
    assert adf.rdd.getNumPartitions() == 4, adf.rdd.getNumPartitions()
    return (
        adf.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def events_orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink coverage — the third columnar container after
    parquet and Avro: events are staged as ORC (zlib, Spark's native
    vectorized writer), read back, filtered with a predicate that must
    reach the ORC scan as a PUSHED FILTER (asserted on the physical plan
    text — ORC carries min/max stripe stats exactly for this), and
    aggregated per event type. The staged value column is integer
    floor-cents, so the roundtrip is exact and the DuckDB oracle replays
    it straight off the parquet table. Scale shape: ORC is splittable;
    the read plans one task per stripe and the aggregate is the usual
    partial+final pass."""
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(100.0)).alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="evt_orc_src_")
    try:
        ev.write.mode("overwrite").orc(f"{tmp}/orc")
        odf = (
            spark.read.schema(
                "event_id long, user_id long, event_type string, cents long"
            )
            .orc(f"{tmp}/orc")
            .where(F.col("cents") >= 0)
        )
        plan = odf._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "cents" in plan.split(
            "PushedFilters:"
        )[1].split("]")[0], plan[:800]
        rows = [
            tuple(r)
            for r in odf.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("cents"),
                F.count_distinct("user_id").alias("n_users"),
            )
            .orderBy("event_type")
            .collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, n_events long, cents long, n_users long"
    ).orderBy("event_type")


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search, EXACT baseline — the brute-force twin of
    ann_pruned_filtered_topk (the production path: directory-pruned LSH
    index with the label predicate pushed into the surviving buckets):
    top-10 neighbors of doc 0's embedding among vectors with label 3
    only. The filter composes BEFORE the ranking (predicate reaches the
    scan), so the result differs from post-filtering a global top-10 —
    and the per-hit GLOBAL ranks this query adds quantify by how much:
    a post-filter would have had to scan to global rank
    max(global_rank) ≫ 10 to recover the same hits — which is
    the point, and the oracle proves it by replaying the filtered
    ranking exactly. Also reports each hit's cosine RANK in the
    unfiltered corpus, showing how deep a post-filter would have had to
    scan — computed WITHOUT a global window (the events_user_gini
    lesson): the ≤10 hits broadcast against the map-side scores and the
    global rank is 1 + the strictly-ahead count, an aggregation that
    never funnels the corpus into one task."""
    from tdigest_spark.operators.similarity import cosine_to_query

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    scored = emb.where(F.col("vec_id") != 0).select(
        "vec_id",
        "label",
        cosine_to_query(F.col("embedding"), query).alias("cosine"),
    )
    filt = (
        scored.where(F.col("label") == 3)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )
    w10 = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))  # ≤10 rows
    top = filt.withColumn("rank", F.row_number().over(w10)).select(
        "rank",
        F.col("vec_id").alias("tid"),
        F.col("cosine").alias("tcos"),
    )
    ahead = (
        scored.join(
            F.broadcast(top),
            (F.col("cosine") > F.col("tcos"))
            | (
                (F.col("cosine") == F.col("tcos"))
                & (F.col("vec_id") < F.col("tid"))
            ),
        )
        .groupBy("rank", "tid")
        .agg((F.count(F.lit(1)) + 1).alias("global_rank"))
    )
    return (
        top.join(
            ahead.select("tid", "global_rank"), "tid", "left_outer"
        )
        .select(
            "rank",
            F.col("tid").alias("vec_id"),
            F.coalesce("global_rank", F.lit(1)).cast("long").alias(
                "global_rank"
            ),
        )
        .orderBy("rank")
    )


def embedding_matryoshka_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style DIMENSION-TRUNCATION evaluation — the modern
    embedding-deployment question (serve 16 of 64 dims at 1/4 the cost:
    what does retrieval lose?): recall@10 of cosine ranking on the
    first-d prefix of every embedding vs the full-dimension exact
    ranking, at d = 16, 32, 64. The d=64 row must equal 1.0 — the curve
    carries its own correctness endpoint (the ann_recall_at_k
    convention). Hits are integer set intersections and recall a single
    exact-int division, so the measured quality numbers are exactly
    oracled (DuckDB replays each truncated ranking via list slicing).
    Scale shape: each ranking is map-side score + TakeOrderedAndProject;
    the intersections join ≤10-row sides."""
    from tdigest_spark.operators.similarity import topk_cosine

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    full = topk_cosine(emb, query, k=10, exclude_id=0).select("vec_id")
    full.persist()
    rows = []
    for d in (16, 32, 64):
        trunc = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        top = topk_cosine(trunc, query[:d], k=10, exclude_id=0).select(
            "vec_id"
        )
        n_hits = top.join(full, "vec_id", "left_semi").count()
        rows.append((d, 10, n_hits, n_hits / 10.0))
    full.unpersist()
    assert rows[-1][3] == 1.0, rows[-1]  # full dims == exact ranking
    return spark.createDataFrame(
        rows, "dims int, k int, n_hits long, recall double"
    ).orderBy("dims")


def embedding_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR-QUANTIZATION retrieval evaluation (the SQ8 index shape:
    store int8-ish codes, rank by integer dot products): vectors
    quantize as ``floor(x·256)`` — a POWER-OF-TWO scale, so the float
    multiply is exact and the codes are exact integers — and the
    quantized cosine is a ratio of exact-integer dot products (every
    sum ≤ 2^40, exact in double REGARDLESS of accumulation order),
    making the quantized ranking bit-identical across engines with NO
    margin assumptions at all (unlike float rankings, which need the
    guarded gaps). Reports recall@10 vs the full-precision exact top-10
    and the quantized top-1's identity. Scale shape: codes are 4×
    smaller, the scan is integer arithmetic, map-side score +
    TakeOrderedAndProject."""
    import math

    from tdigest_spark.operators.similarity import topk_cosine

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    qq = [int(math.floor(x * 256.0)) for x in query]
    nq2 = sum(q * q for q in qq)
    qarr = F.array(*[F.lit(q).cast("long") for q in qq])
    qvec = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("long"),
    )
    acc = lambda a, x: a + x  # noqa: E731
    dot = F.aggregate(
        F.zip_with(qvec, qarr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        acc,
    )
    nv2 = F.aggregate(
        F.transform(qvec, lambda x: x * x), F.lit(0).cast("long"), acc
    )
    scored = emb.where(F.col("vec_id") != 0).select(
        "vec_id",
        (
            dot.cast("double")
            / F.sqrt((nv2 * F.lit(int(nq2)).cast("long")).cast("double"))
        ).alias("cosq"),
    )
    top = (
        scored.orderBy(F.desc("cosq"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    full = topk_cosine(emb, query, k=10, exclude_id=0).select("vec_id")
    n_hits = top.join(full, "vec_id", "left_semi").count()
    top1 = scored.orderBy(F.desc("cosq"), F.asc("vec_id")).first()["vec_id"]
    return spark.createDataFrame(
        [(256, 10, n_hits, n_hits / 10.0, int(top1))],
        "scale int, k int, n_hits long, recall double, top1_vec_id long",
    )


def doc_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL with Reciprocal Rank Fusion — the RAG-stack
    shape: a lexical leg (total occurrences of the query terms per doc,
    exact integers) and a dense leg (cosine top-k against doc 0's
    embedding, the ann_topk_cosine probe) each produce a top-20 ranking;
    RRF fuses them as ``Σ 1/(60+rank)`` over the legs that retrieved the
    doc. Ranks are INTEGERS, so each RRF term is one exact-int division
    and the fusion is ONE addition of two correctly-rounded doubles —
    bit-identical across engines, left unrounded (the .5-tie lesson:
    never ROUND a small-rational score). Missing-leg ranks surface as 0.
    Scale shape: lexical = scan-filtered word aggregate +
    TakeOrderedAndProject; dense = the brute-force probe (the IVF/PQ
    indexes are the scale path); fusion joins two ≤20-row sides."""
    from tdigest_spark.operators.similarity import topk_cosine
    from tdigest_spark.operators.text import word_tokens

    terms = ["spark", "join", "window"]
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = (
        docs.where(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.explode(word_tokens(F.lower(F.col("text")))).alias("word"),
        )
        .where(F.col("word").isin(terms))
    )
    lex = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("tf"))
    wl = Window.orderBy(F.desc("tf"), F.asc("doc_id"))
    lex_top = (
        lex.withColumn("lex_rank", F.row_number().over(wl))
        .where(F.col("lex_rank") <= 20)
        .select("doc_id", "lex_rank")
    )
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    wd = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    dense_top = (
        topk_cosine(emb, query, k=20, exclude_id=0)
        .withColumn("dense_rank", F.row_number().over(wd))
        .select(F.col("vec_id").alias("doc_id"), "dense_rank")
    )
    one = F.lit(1.0)
    fused = lex_top.join(dense_top, ["doc_id"], "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("dense_rank", F.lit(0)).alias("dense_rank"),
        (
            F.coalesce(one / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(
                one / (F.lit(60) + F.col("dense_rank")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean per event type — the outlier-robust metric an
    experimentation platform reports next to the raw mean (clamp to the
    [p05, p95] nearest-rank cuts, then average): cut values come from a
    per-type value-grouped cumulative count (bounded by distinct
    floor-cents values, never a per-row global sort), rows clamp with
    greatest/least, and the winsorized mean is ONE division of exact
    integers — unrounded, bit-identical. The 0.05·n rank boundaries are
    spelled identically in both engines (same double product, same
    comparison), so the cuts agree exactly. Scale shape: one (type,
    cents) aggregation, per-type window over distinct values, broadcast
    of the 5-row cuts dim back onto the histogram."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("cents"),
    )
    hist = (
        ev.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # the histogram feeds BOTH the cuts derivation and the final
        # clamped aggregate — checkpoint it or Spark scans events twice
        # (the doc_source_word_kl lesson)
        .localCheckpoint(eager=False)
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    cum = hist.withColumns(
        {"c": F.sum("cnt").over(wc), "n": F.sum("cnt").over(wn)}
    )
    lo_ok = F.col("c") >= F.col("n").cast("double") * F.lit(0.05)
    hi_ok = F.col("c") >= F.col("n").cast("double") * F.lit(0.95)
    cuts = cum.groupBy("event_type").agg(
        F.min(F.when(lo_ok, F.col("cents"))).alias("lo_cut"),
        F.min(F.when(hi_ok, F.col("cents"))).alias("hi_cut"),
    )
    joined = hist.join(F.broadcast(cuts), "event_type")
    clamped = F.greatest(
        F.col("lo_cut"), F.least(F.col("hi_cut"), F.col("cents"))
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.max("lo_cut").alias("lo_cut"),
            F.max("hi_cut").alias("hi_cut"),
            F.sum("cnt").alias("n"),
            (
                F.sum(clamped * F.col("cnt")).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("win_mean"),
        )
        .orderBy("event_type")
    )


def orders_repeat_purchase_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REPEAT-purchase behavior per order priority — the retention
    dashboard trio: repeat-customer rate (share of customers with ≥2
    orders), order counts, and the EXACT median inter-order gap in days
    (per-customer lag window → integer day gaps → nearest-rank median
    over the value-grouped cumulative count, the discrete_quantity_mad
    machinery — integer medians are exact in both engines). Rates are
    single divisions of exact ints, unrounded. Scale shape: one
    o_custkey shuffle for the lag window, value-grouped gap histogram
    per priority (bounded by distinct day-gaps), no global window."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("day"),
    )
    # o_orderkey tiebreak makes same-day orders a TOTAL order — without
    # it the 0-day gap's priority attribution is partition-arrival luck
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = o.withColumn(
        "gap", F.col("day") - F.lag("day").over(w)
    )
    per_cust = o.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    base = per_cust.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum((F.col("n") >= 2).cast("long")).alias("n_repeat"),
        F.sum("n").alias("n_orders"),
    )
    hist = (
        gaps.where(F.col("gap").isNotNull())
        .groupBy("o_orderpriority", "gap")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = (
        Window.partitionBy("o_orderpriority")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("o_orderpriority")
    med = (
        hist.withColumns(
            {"cum": F.sum("c").over(wc), "tot": F.sum("c").over(wn)}
        )
        .where(
            F.col("cum") >= F.col("tot").cast("double") * F.lit(0.5)
        )
        .groupBy("o_orderpriority")
        .agg(F.min("gap").alias("median_gap_days"))
    )
    return (
        base.join(med, "o_orderpriority", "left_outer")
        .select(
            "o_orderpriority",
            "n_customers",
            "n_repeat",
            "n_orders",
            (
                F.col("n_repeat").cast("double")
                / F.col("n_customers").cast("double")
            ).alias("repeat_rate"),
            "median_gap_days",
        )
        .orderBy("o_orderpriority")
    )


def doc_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-BIGRAM Shannon entropy per source — the predictability
    profile quality pipelines use to catch templated/repetitive slices
    (low entropy) and encoding noise (anomalously high): every
    overlapping 2-char window of the lowercased text counts once, and
    H = ln N − (Σ c·ln c)/N over the per-source bigram histogram.
    Counts are exact integers; each c·ln c term is spelled identically
    in both engines and ROUND 6 absorbs ln ULPs + summation order (the
    doc_source_word_kl convention). Scale shape: the explode is
    map-side (sequence+substr codegen), ONE (source, bigram) shuffle,
    then a per-source fold of ≤ alphabet² rows."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("source", F.lower(F.col("text")).alias("t"))
        .where(F.length("t") >= 2)
    )
    grams = docs.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 1),
                lambda i: F.col("t").substr(i, F.lit(2)),
            )
        ).alias("g"),
    )
    counts = grams.groupBy("source", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = counts.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(
            F.col("c").cast("double") * F.log(F.col("c").cast("double"))
        ).alias("_s"),
    )
    return agg.select(
        "source",
        "n_bigrams",
        "n_distinct",
        F.round(
            F.log(F.col("n_bigrams").cast("double"))
            - F.col("_s") / F.col("n_bigrams").cast("double"),
            6,
        ).alias("entropy"),
    ).orderBy("source")


def doc_safety_keyword_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety KEYWORD screening — the first (cheapest) stage of every
    content-filter cascade: documents whose token set intersects a
    blocklist are flagged, reported per source as counts and an
    UNROUNDED flag rate (single division of exact ints — bit-identical).
    Word-boundary matching rides the corpus's whitespace tokenization
    (no substring false-positives: 'duplicate' does not trip 'dup').
    The blocklist here is a stand-in (this synthetic corpus has no
    unsafe text); the plan shape — map-side array intersect, one
    source-keyed aggregate — is the real one, and a real deployment
    swaps the word list."""
    from tdigest_spark.operators.text import word_tokens

    blocklist = ["slow", "dup", "big"]
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.arrays_overlap(
            word_tokens(F.lower(F.col("text"))),
            F.array(*[F.lit(w) for w in blocklist]),
        ).alias("flagged"),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
            (
                F.sum(F.col("flagged").cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("flag_rate"),
        )
        .orderBy("source")
    )


def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE RATIO MISMATCH check — the first gate every experimentation
    platform runs before reading an A/B test: users are assigned to arms
    by a content hash (md5-lower-64 of 'srm:'||user_id, mod 2 — the
    deterministic assignment the repo's sampling ops use, replayable via
    DuckDB md5_number_lower), and the observed arm counts are tested
    against the designed 50/50 with the one-degree chi-square statistic
    ``Σ(obs − n/2)²/(n/2)``. Counts are exact integers; the statistic is
    one identical subtract-square-divide chain per arm plus one addition
    — bit-identical across engines, left unrounded. ``srm_flag`` applies
    the conventional 3.84 (p≈0.05) cut. Scale shape: one distinct-user
    aggregation, then a 2-row arm count."""
    from tdigest_spark.operators.sample import md5_lower64

    users = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                md5_lower64(
                    F.concat(F.lit("srm:"), F.col("user_id").cast("string"))
                )
                % 2
            )
            .cast("long")
            .alias("arm"),
        )
    )
    counts = users.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    agg = counts.agg(
        F.sum("n").alias("n_users"),
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0)).alias(
            "n_a"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0)).alias(
            "n_b"
        ),
    )
    half = F.col("n_users").cast("double") / F.lit(2.0)
    chi2 = (
        (F.col("n_a").cast("double") - half) * (F.col("n_a").cast("double") - half)
        / half
        + (F.col("n_b").cast("double") - half)
        * (F.col("n_b").cast("double") - half)
        / half
    )
    return agg.select(
        "n_users",
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.84)).alias("srm_flag"),
    )


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF distinctive terms per source — the classic corpus-profiling
    pass (what does each slice talk about that the others don't): tf is
    the per-(source, word) count, df the number of SOURCES carrying the
    word, idf = ln(n_sources/df), score = tf·idf. Words in every source
    score 0; high-frequency source-local words surface. All counts are
    exact integers; the single ln·multiply chain is spelled identically
    in both engines with ROUND 6 absorbing ln ULPs, and the top-3 window
    orders by the ROUNDED score with a word tiebreak (the
    doc_pmi_collocations convention) so the LIMIT is deterministic.
    Scale shape: ONE corpus scan into the (source, word) aggregate
    (persisted — the df/n derivations and the join must not re-scan the
    corpus, the doc_source_word_kl lesson), one word-keyed shuffle for
    df, broadcast of the tiny per-word df back onto tf, bounded
    per-source window."""
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    words = (
        docs.where(F.trim(F.col("text")) != "")
        .select(
            "source",
            F.explode(word_tokens(F.lower(F.col("text")))).alias("word"),
        )
        .where(F.col("word") != "")
    )
    tf = (
        words.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    ns = tf.select(
        F.count_distinct("source").cast("double").alias("ns")
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("ns") / F.col("df").cast("double")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("source", "rank", "word", "tf", "df", "score")
        .orderBy("source", "rank")
    )


def doc_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM-ordered shard assignment — the training-order half of
    sequence packing (operators/pack.shard_by_cumsum): within each
    language, documents are ordered by a curriculum key (longest-first:
    n_chars DESC, doc_id tiebreak) and greedily assigned to ~2000-token
    shards by the running token cumsum — never splitting a document.
    Per (lang, shard) the query reports doc/token masses plus the FIRST
    and LAST doc in curriculum order (the order-certifying endpoints a
    trainer can assert against). Everything is exact integers and both
    engines spell the same two windows. Scale shape: windows partition
    by lang, so each language shards independently — no global sort; one
    (lang, shard) aggregation after."""
    from tdigest_spark.operators.pack import shard_by_cumsum
    from tdigest_spark.operators.text import token_count

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            token_count(F.col("text")).cast("long").alias("n_tok"),
        )
    )
    # curriculum key: n_chars DESC with doc_id tiebreak, encoded as one
    # ascending struct so shard_by_cumsum's single order column works
    keyed = docs.withColumn(
        "ckey", F.struct((-F.col("n_chars")).alias("nc"), F.col("doc_id"))
    )
    sharded = shard_by_cumsum(keyed, "lang", "ckey", F.col("n_tok"), 2000)
    w = Window.partitionBy("lang", "shard").orderBy("ckey")
    wb = Window.partitionBy("lang", "shard").orderBy(F.desc("ckey"))
    return (
        sharded.withColumns(
            {
                "rf": F.row_number().over(w),
                "rb": F.row_number().over(wb),
            }
        )
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.max(F.when(F.col("rf") == 1, F.col("doc_id"))).alias(
                "lead_doc"
            ),
            F.max(F.when(F.col("rb") == 1, F.col("doc_id"))).alias(
                "tail_doc"
            ),
        )
        .orderBy("lang", "shard")
    )


def doc_grouped_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE k-fold cross-validation assignment — the CV sibling of
    doc_leakage_safe_split: every document of a group (here the source,
    the unit whose near-duplicates would leak across folds) lands in the
    SAME fold, decided by ``md5_lower64('fold:' || source) % k`` — a
    content-keyed hash, so the split is deterministic, layout-independent,
    and replayable in SQL via DuckDB ``md5_number_lower``. Per fold the
    query reports group count, row count and char mass (the imbalance a
    grouped split trades for leak-freedom), plus ``leaked_groups``
    MEASURED from the data (groups spanning >1 fold — pinned 0 by the
    oracle, the property that makes per-fold validation sound). Scale
    shape: fold assignment is a map-side expression; one source-keyed
    aggregation, no join."""
    from tdigest_spark.operators.sample import md5_lower64

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        (md5_lower64(F.concat(F.lit("fold:"), F.col("source"))) % 5)
        .cast("long")
        .alias("fold"),
    )
    leaked = (
        docs.groupBy("source")
        .agg(F.count_distinct("fold").alias("nf"))
        .where(F.col("nf") > 1)
        .count()
    )
    return (
        docs.groupBy("fold")
        .agg(
            F.count_distinct("source").alias("n_groups"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .select(
            "fold",
            "n_groups",
            "n_docs",
            "chars_sum",
            F.lit(leaked).cast("long").alias("leaked_groups"),
        )
        .orderBy("fold")
    )


def doc_collated_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-INSENSITIVE vocabulary top-k via STRING COLLATION (Spark 4
    ``CAST(… AS STRING COLLATE UTF8_LCASE)``) — the collation-aware
    GROUP BY replaces the classic ``lower(word)`` normalize-then-group,
    letting comparisons/joins/aggregations carry the collation in the
    TYPE. Case is planted deterministically (even doc_ids upper-cased)
    since the corpus is lowercase; each group reports its BINARY-min
    surface form (min over the original utf8_binary column — unique and
    deterministic even though group members compare equal under the
    collation), the count, and how many distinct surface forms merged.
    For this ASCII corpus UTF8_LCASE grouping coincides with lower()
    grouping, which is exactly what the DuckDB oracle replays. Scale
    shape: explode → one word-hash shuffle → TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 2 == 0, F.upper(F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    words.createOrReplaceTempView("collated_words_v")
    return spark.sql(
        """
        WITH t AS (
          SELECT word,
                 CAST(word AS STRING COLLATE UTF8_LCASE) AS ci
          FROM collated_words_v
        )
        SELECT MIN(word) AS rep,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT word) AS BIGINT) AS n_forms
        FROM t GROUP BY ci
        ORDER BY n DESC, rep LIMIT 20
        """
    )


def events_xml_source_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE XML source (new in Spark 4 — no external package): events
    staged as ``<row>`` records, read back with an enforced schema and
    PERMISSIVE corrupt-record capture (two planted malformed records
    must surface in ``_corrupt_record``; the oracle's literal 2
    certifies the error path ran). Values are integer floor-cents — the
    text-roundtrips-of-longs-are-exact rule shared with the JSONL/CSV
    twin (events_text_source_roundtrip). Null user_ids are OMITTED
    elements on write and come back null — asserted by agreeing with
    the parquet-sourced aggregate in-query. XML is NOT splittable the
    way JSONL is; the stage writes one file per task so read
    parallelism follows the staged file count."""
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(100.0)).alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="evt_xml_src_")
    try:
        (
            ev.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "events")
            .option("rowTag", "row")
            .save(f"{tmp}/xml")
        )
        with open(f"{tmp}/xml/zz-corrupt.xml", "w") as fh:
            fh.write("<events>\n")
            fh.write("<row><event_id>not-a-long</event_id></row>\n")
            fh.write("<row><event_id>7<unclosed></row>\n")
            fh.write("</events>\n")
        schema = (
            "event_id long, user_id long, event_type string, cents long, "
            "_corrupt_record string"
        )
        xdf = (
            spark.read.schema(schema)
            .option("rowTag", "row")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .format("xml")
            .load(f"{tmp}/xml")
            .cache()
        )
        n_corrupt = xdf.where(F.col("_corrupt_record").isNotNull()).count()
        assert n_corrupt == 2, n_corrupt
        good = xdf.where(F.col("_corrupt_record").isNull())

        def _agg(df):
            return (
                df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.count("user_id").alias("n_with_user"),
                    F.sum("cents").alias("cents"),
                )
                .orderBy("event_type")
            )

        rows = [tuple(r) for r in _agg(good).collect()]
        assert rows == [tuple(r) for r in _agg(ev).collect()]
        xdf.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = [(t, n, nu, c, 2) for t, n, nu, c in rows]
    return spark.createDataFrame(
        out,
        "event_type string, n_events long, n_with_user long, cents long,"
        " n_corrupt int",
    ).orderBy("event_type")


def events_stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (streaming/session_windows): 30-minute-gap
    sessions per user over the events file stream, emitted in append mode
    as the watermark finalizes each session (state = open sessions only).
    The batch oracle rebuilds the same sessions gaps-and-islands style and
    keeps exactly those finalized at drain time: session end (last event +
    gap) <= max event time - 1s delay. The per-session value sum uses
    integer floor-cents, so it is order-independent and exact."""
    import time as _time

    from tdigest_spark.streaming import session_windows

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sessions = session_windows(
        stream,
        "user_id",
        "ts",
        gap="30 minutes",
        delay="1 second",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(100.0))).alias("cents"),
        ],
    )
    qname = f"ev_sess_{int(_time.time() * 1000)}"
    q = (
        sessions.select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start"
            ),
            F.unix_micros(F.col("session_window.end")).alias("session_end"),
            "n_events",
            "cents",
        )
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return spark.table(qname).orderBy("user_id", "session_start")


def events_stream_dynamic_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING dynamic-gap session windows — the stateful twin of the
    batch events_dynamic_gap_sessions: purchases hold a session open
    3600 s, other events 1800 s, per-row gap evaluated INSIDE the native
    session_window aggregation, append mode + watermark so a session
    emits exactly once when the watermark passes its end and state stays
    bounded by OPEN sessions. The oracle rebuilds the dynamic sessions
    gaps-and-islands style (running max of ts+gap — each event extends
    by ITS OWN gap) and keeps exactly those finalized at drain:
    end <= max event time − 1 s. Floor-cents sums exact."""
    import time as _time

    from tdigest_spark.streaming import session_windows

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn(
            "gap",
            F.when(
                F.col("event_type") == "purchase", "3600 seconds"
            ).otherwise("1800 seconds"),
        )
    )
    sessions = session_windows(
        stream,
        "user_id",
        "ts",
        gap=F.col("gap"),
        delay="1 second",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(100.0))).alias("cents"),
        ],
    )
    qname = f"ev_dsess_{int(_time.time() * 1000)}"
    q = (
        sessions.select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start"
            ),
            F.unix_micros(F.col("session_window.end")).alias("session_end"),
            "n_events",
            "cents",
        )
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return spark.table(qname).orderBy("user_id", "session_start")


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates with exact-jaccard verification.
    Fully oracled: base hashing is md5-lower-64 (DuckDB md5_number_lower)
    and banding joins on raw signature slots, so the exact candidate set —
    not just the verified jaccards — is reproduced in SQL
    (_minhash_oracle_sql)."""
    from tdigest_spark.operators.dedup import lsh_candidate_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "text", "doc_id", k=32, bands=8, jaccard_threshold=0.5,
        persist_base=True,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def minhash_recall_at_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding RECALL/COST curve — the dedup twin of
    ann_recall_at_k / ivf_recall_at_probe: verified near-dup pairs and
    raw candidate counts at 1/2/4/8 bands of the shipped configuration
    (k=32, 4 slots per band; the permutation constants are a prefix
    family, so b bands of k=4b IS the first b bands of the 8-band
    config — asserted in code). Candidate sets grow monotonically with
    b, so recall (vs the full 8-band verified set) is monotone and the
    b=8 endpoint is exactly 1.0 — the curve carries its own correctness
    endpoint, and every point is exact in SQL via the md5-lower-64
    signature chain. n_candidates quantifies the verification cost each
    extra band buys its recall with."""
    import numpy as np

    from tdigest_spark.operators.dedup import MINHASH_A, lsh_candidate_pairs

    assert np.array_equal(MINHASH_A(32)[:4], MINHASH_A(4))  # prefix family
    docs = _t(spark, sf_dir, "documents")
    rows = []
    for b in (1, 2, 4, 8):
        verified = lsh_candidate_pairs(
            docs, "text", "doc_id", k=4 * b, bands=b,
            jaccard_threshold=0.5, persist_base=True,
        ).count()
        candidates = lsh_candidate_pairs(
            docs, "text", "doc_id", k=4 * b, bands=b,
            jaccard_threshold=0.0, persist_base=True,
        ).count()
        rows.append((b, verified, candidates))
    np8 = rows[-1][1]
    # recall stays UNROUNDED: a single division of exact small ints is
    # correctly rounded to the same double in both engines, while
    # ROUND(x, 6) can land on a .5 tie (250/256 = 0.9765625 — banker's
    # vs half-up rounding disagrees across engines)
    out = [(b, v, c, v / np8 if np8 else 0.0) for b, v, c in rows]
    assert out[-1][3] == 1.0, out[-1]
    return spark.createDataFrame(
        out,
        "n_bands int, n_pairs long, n_candidates long, recall double",
    ).orderBy("n_bands")


def dedup_group_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP assignment from MinHash-LSH verified pairs: candidate
    pairs are edges, the unit a pipeline deletes is the connected
    component (A~B, B~C => one group of 3 even if A~C was never emitted).
    Distributed min-label propagation (operators/graph.py); the DuckDB
    oracle computes the same unique fixpoint via a recursive transitive
    closure over the identical md5-reproduced pair set."""
    from tdigest_spark.operators.dedup import lsh_candidate_pairs
    from tdigest_spark.operators.graph import dup_groups

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "text", "doc_id", k=32, bands=8, jaccard_threshold=0.5,
        persist_base=True,
    )
    return dup_groups(pairs).orderBy("doc_id")


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (block-pair replication:
    O(N x n_blocks) movement, dense numpy gram per block-pair — never the
    O(N^2) crossJoin)."""
    from tdigest_spark.operators.similarity import cosine_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_dup_pairs(emb, 0.42, n_blocks=4)
    # pair SET only: DuckDB computes float32 cosines, we compute float64 —
    # the set is stable (no pair within 3e-5 of the threshold at any SF)
    # but the 7th decimal of the value is not
    return out.select("id_a", "id_b").orderBy("id_a", "id_b")


def embedding_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN LABEL-CONSISTENCY — the embedding-quality diagnostic run
    before trusting vectors for curation/dedup (do neighbors share the
    probe's label?): for 16 probe vectors, the exact top-5 cosine
    neighbors (self excluded) vote, consistency = same-label fraction.
    ONE scan: the 16-row probe side broadcasts into a crossJoin (never
    16 passes over the corpus), cosine is a codegen zip_with/aggregate
    pair expression, and the per-probe top-5 is a pid-partitioned window
    (probe-cardinality groups). Rank boundaries are engine-stable: the
    min rank-5/6 cosine gap is 1.9e-5 across all SFs (test-guarded),
    seven orders above float64 summation-order noise. consistency is a
    division by 5 of an exact int — dyadic, bit-identical unrounded."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = (
        emb.where(F.col("vec_id") < 16)
        .select(
            F.col("vec_id").alias("pid"),
            F.col("embedding").alias("pe"),
            F.col("label").alias("plab"),
        )
    )
    pair = emb.crossJoin(F.broadcast(probes)).where(
        F.col("vec_id") != F.col("pid")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("pe"),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = pair.select(
        "pid",
        "plab",
        "label",
        (dot / (norm(F.col("embedding")) * norm(F.col("pe")))).alias("cos"),
        "vec_id",
    )
    w = Window.partitionBy("pid").orderBy(F.desc("cos"), F.asc("vec_id"))
    top = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= 5
    )
    return (
        top.groupBy("pid")
        .agg(
            F.first("plab").alias("probe_label"),
            F.sum(
                F.when(F.col("label") == F.col("plab"), 1).otherwise(0)
            ).alias("n_same_label"),
        )
        .select(
            "pid",
            "probe_label",
            "n_same_label",
            (F.col("n_same_label") / F.lit(5.0)).alias("consistency"),
        )
        .orderBy("pid")
    )


def semantic_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) dedup END-TO-END with a keep-best
    retention policy: exact cosine near-dup pairs (block-pair plan, no
    crossJoin) -> connected components (operators/graph.py) -> within each
    duplicate group keep the member with the highest label (standing in
    for a quality score), ties to the lowest vec_id. This is the policy a
    curation pipeline actually ships — delete all but the best copy — as
    opposed to dedup_group_resolution's min-id canonical assignment.
    The per-group winner is a row_number over groups (dup groups are
    small; the window shuffles only component members, not the corpus).
    Oracle: recursive transitive closure over the identical pair set +
    the same ROW_NUMBER pick."""
    from tdigest_spark.operators.graph import dup_groups
    from tdigest_spark.operators.similarity import cosine_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = cosine_dup_pairs(emb, 0.42, n_blocks=4).select("id_a", "id_b")
    groups = dup_groups(pairs, "id_a", "id_b")
    members = groups.join(
        emb.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id"
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("label"), F.col("doc_id")
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("canonical_id").alias("group_id"),
            F.col("doc_id").alias("kept_id"),
            F.col("label").alias("kept_label"),
            "group_size",
        )
        .orderBy("group_id")
    )


def semantic_dedup_ann_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at SCALE — the plan a 100 TB curation pipeline
    actually ships: candidate pairs come from BANDED hyperplane LSH
    (operators/similarity.bucketed_cosine_dup_pairs) — 8 independent
    hash tables of 6 sign bits each (band 0 = the pruned ANN index
    planes), one Arrow matmul pass to sign, and the exact-cosine
    verification gram runs WITHIN a (band, bucket) group only: total
    verify FLOPs ~ 8·N²/64 and ONE shuffle of O(N·bands) rows, vs
    semantic_dedup_keep_best's exact all-pairs baseline (quadratic
    compute, kept as the documented baseline). Pairs found by several
    bands collapse by id, then flow through the same connected-
    components + keep-best-by-label policy. Recall is the classic LSH
    amplification 1-(1-p^6)^8 — a pair no band agrees on is missed —
    and the ORACLE replays the SAME band assignments from inlined plane
    literals (sign margins test-guarded in tests/test_ann_index.py), so
    the result is still exactly SQL-reproducible. At 100× the corpus,
    n_planes rises (n_bands with the target recall) to hold bucket
    sizes — and per-task gram memory — constant."""
    from tdigest_spark.operators.graph import dup_groups
    from tdigest_spark.operators.similarity import bucketed_cosine_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = bucketed_cosine_dup_pairs(
        emb,
        0.42,
        n_bands=8,
        n_planes=_ANN_PLANES,
        seed=_ANN_SEED,
        dim=_ANN_DIM,
    ).select("id_a", "id_b")
    groups = dup_groups(pairs, "id_a", "id_b")
    members = groups.join(
        emb.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id"
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("label"), F.col("doc_id")
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("canonical_id").alias("group_id"),
            F.col("doc_id").alias("kept_id"),
            F.col("label").alias("kept_label"),
            "group_size",
        )
        .orderBy("group_id")
    )


def ivf_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN path end-to-end (k-means coarse quantizer -> list assignment
    -> probed exact rerank) run at full probe, which must equal brute-force
    top-k exactly — so the DuckDB oracle is the same exact cosine ranking."""
    from tdigest_spark.operators.similarity import ivf_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qrow = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    query = [float(x) for x in qrow["embedding"]]
    C = ivf_centroids(emb, n_lists=8, sample=4096, seed=1)
    top = ivf_topk(emb, query, C, k=10, n_probe=8)
    w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id"
    ).orderBy("rank")


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tdigest_spark.operators.similarity import topk_cosine

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    top = topk_cosine(emb, query, k=10, exclude_id=0)
    w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id"
    ).orderBy("rank")


# pruned-storage ANN index parameters: 2^6 = 64 hyperplane buckets, probes =
# Hamming<=1 neighborhood (7/64 directories read). The plane matrix is
# derived from (dim, n_planes, seed), so the DuckDB oracle recomputes the
# same bucket assignment from inlined plane literals; sign margins
# (min |v.plane| ~4e-5 across all SFs) are 7 orders of magnitude above
# float64 summation-order noise, and tests/test_ann_index.py asserts the
# Spark/DuckDB assignments stay identical.
_ANN_PLANES = 6
_ANN_SEED = 7
_ANN_DIM = 64


def _src_sig(*paths: str) -> list:
    """Source-data fingerprint (size + mtime per file) for cache markers:
    a fixture cache derived from EXTERNAL files must invalidate when those
    files are regenerated, or stale cached copies silently diverge from
    the oracle's view of the fresh tables."""
    import os

    out = []
    for p in paths:
        st = os.stat(p)
        out.append([str(p), st.st_size, st.st_mtime_ns])
    return out


def _ensure_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached) the bucket-partitioned LSH index for this SF's
    embeddings table. Marker-validated like sources/sequence_table: the
    marker dies before any rebuild so a crash can't leave a lying cache."""
    import json
    import os
    import shutil
    from pathlib import Path

    from tdigest_spark.operators.similarity import build_lsh_index

    root = Path(os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache"))
    path = root / "ann_index" / (
        f"{Path(sf_dir).name}_lsh_p{_ANN_PLANES}_s{_ANN_SEED}"
    )
    marker = path / "_built.json"
    params = {
        "sf_dir": str(sf_dir),
        "n_planes": _ANN_PLANES,
        "seed": _ANN_SEED,
        "dim": _ANN_DIM,
        "src": _src_sig(f"{sf_dir}/embeddings.parquet"),
    }
    if marker.exists():
        try:
            if json.loads(marker.read_text()) == params:
                return str(path)
        except Exception:
            pass
        marker.unlink()
    if path.exists():
        shutil.rmtree(path)
    build_lsh_index(
        _t(spark, sf_dir, "embeddings"),
        str(path),
        n_planes=_ANN_PLANES,
        seed=_ANN_SEED,
        dim=_ANN_DIM,
    )
    marker.write_text(json.dumps(params))
    return str(path)


def ann_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned-storage ANN (VERDICT r2 item 1): the corpus is materialized
    ONCE hive-partitioned by its LSH bucket; the probe query's bucket
    IN-list hits the partition column so the scan reads only the 7/64
    probed directories (PartitionFilters + numFiles proven in
    tests/test_ann_index.py) — no full scan, no re-signing. The oracle
    reproduces the exact candidate set in SQL: bucket = sign pattern of the
    same inlined plane constants, probes = bit_count(xor) <= 1."""
    from tdigest_spark.operators.similarity import lsh_index_topk

    path = _ensure_ann_index(spark, sf_dir)
    qrow = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    query = [float(x) for x in qrow["embedding"]]
    top = lsh_index_topk(
        spark, path, query, k=10,
        n_planes=_ANN_PLANES, seed=_ANN_SEED, probe_hamming=1, exclude_id=0,
    )
    w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id"
    ).orderBy("rank")


_ANN_RECALL_PROBES = (0, 1, 2, 6)


# IVF twin of the LSH recall curve (VERDICT r3 item 7): fixed seeded
# spherical codebook (data-independent => the list assignment replays from
# inlined centroid literals in SQL; margins guarded in tests/test_ivf.py:
# min top-2 assignment gap 1.7e-6 at sf0.1, ~7 orders above float64
# summation-order noise)
_IVF_LISTS = 16
_IVF_SEED = 11
_IVF_RECALL_PROBES = (1, 2, 4, 16)


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached) the list_id-partitioned IVF index over this
    SF's embeddings with the FIXED codebook. Marker-validated like
    _ensure_ann_index."""
    import json
    import os
    import shutil
    from pathlib import Path

    from tdigest_spark.operators.similarity import (
        build_ivf_index,
        ivf_fixed_centroids,
    )

    root = Path(os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache"))
    path = root / "ann_index" / (
        f"{Path(sf_dir).name}_ivf_l{_IVF_LISTS}_s{_IVF_SEED}"
    )
    marker = path / "_built.json"
    params = {
        "sf_dir": str(sf_dir),
        "n_lists": _IVF_LISTS,
        "seed": _IVF_SEED,
        "dim": _ANN_DIM,
        "src": _src_sig(f"{sf_dir}/embeddings.parquet"),
    }
    if marker.exists():
        try:
            if json.loads(marker.read_text()) == params:
                return str(path)
        except Exception:
            pass
        marker.unlink()
    if path.exists():
        shutil.rmtree(path)
    build_ivf_index(
        _t(spark, sf_dir, "embeddings"),
        str(path),
        ivf_fixed_centroids(_ANN_DIM, _IVF_LISTS, _IVF_SEED),
    )
    marker.write_text(json.dumps(params))
    return str(path)


def ivf_recall_at_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall/cost curve (the ann_recall_at_k twin, so BOTH index
    families carry their own correctness endpoint): recall@10 of the
    pruned-storage IVF probe vs exact brute force at n_probe 1/2/4/16,
    alongside candidates scanned. n_probe = n_lists must reach recall
    1.0. The codebook is the fixed seeded one, so every list assignment
    — and therefore every measured recall value — is exactly reproduced
    by the DuckDB oracle from inlined centroid literals. Each probe is a
    partition-pruned read of the materialized index (no re-assignment)."""
    from tdigest_spark.operators.similarity import (
        ivf_fixed_centroids,
        ivf_index_topk,
        topk_cosine,
    )

    path = _ensure_ivf_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    exact = topk_cosine(emb, query, k=10, exclude_id=0).select("vec_id")
    exact.persist()
    n_corpus = emb.where(F.col("vec_id") != 0).count()
    idx = spark.read.parquet(path)
    C = ivf_fixed_centroids(_ANN_DIM, _IVF_LISTS, _IVF_SEED)
    q = np.asarray(query, dtype=np.float64)
    q = q / np.linalg.norm(q)
    probe_order = np.argsort(-(C @ q), kind="stable")
    rows = []
    for npb in _IVF_RECALL_PROBES:
        approx = ivf_index_topk(
            spark, path, query, k=10, n_probe=npb, exclude_id=0
        ).select("vec_id")
        n_hits = approx.join(exact, "vec_id", "left_semi").count()
        probes = [int(x) for x in probe_order[:npb]]
        n_cand = idx.where(
            F.col("list_id").isin(probes) & (F.col("vec_id") != 0)
        ).count()
        rows.append((npb, 10, n_hits, n_cand, n_corpus, n_hits / 10.0))
    exact.unpersist()
    assert rows[-1][5] == 1.0, rows[-1]  # full probe == brute force
    return spark.createDataFrame(
        rows,
        "n_probe int, k int, n_hits long, n_candidates long, "
        "n_corpus long, recall double",
    ).orderBy("n_probe")


# PQ parameters: 8 subspaces x 16 centroids over the 64-dim embeddings —
# vectors compress 256 float32 bytes -> 8 code bytes (32x). Codebooks are
# seeded data-independent (SQL-replayable from literals); margins guarded
# in tests/test_ivf.py: min per-subspace code gap 1.2e-6 at sf0.1, min
# ADC 6dp round margin 1.1e-10 — both orders above float noise.
_PQ_M = 8
_PQ_K = 16
_PQ_SEED = 23

# k-means parameters: 8 clusters over the 64-dim embeddings, components
# quantized to ints at scale 1024 (power of two => exact float scaling)
# so every Lloyd quantity is exact integer arithmetic — see
# embedding_kmeans_lloyd for the bounds.
_KM_K = 8
_KM_SEED = 29
_KM_SCALE = 1024


def _km_centroids0() -> "np.ndarray":
    """Deterministic integer initial centroids: the seeded unit codebook
    scaled and floored to the SAME integer grid as the quantized data."""
    from tdigest_spark.operators.similarity import ivf_fixed_centroids

    C = ivf_fixed_centroids(_ANN_DIM, _KM_K, _KM_SEED)
    return np.floor(C * _KM_SCALE).astype(np.int64)


def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED K-MEANS (two Lloyd rounds: assign → update → assign)
    over the embeddings — the iterative-training loop family next to
    pagerank and BPE, with EXACT replay: components quantize to the
    integer grid floor(x·1024) (power-of-two scale => the float→double
    cast and multiply are exact in both engines), so round-1 distances
    to the seeded integer centroids are exact BIGINTs, the cluster-sum
    update is exact, and the round-2 argmin compares
    f_k = (B_k − 2·A_vk·c_k)/c_k² — a SINGLE correctly-rounded division
    of exact-int doubles (minimizing f_k ⇔ minimizing ‖q − s_k/c_k‖²
    after dropping the k-free ‖q‖² term), bit-identical across engines,
    ties to the smallest cluster id. Exactness bound: |num| ≤
    2·dim·(2·scale)²·c_k² ≈ 4.6e7·c_k² < 2^53 while clusters hold ≤ ~10k
    vectors at this scale (2000 total at sf0.1 — documented headroom).
    Empty round-1 clusters drop (standard Lloyd behavior), identically
    in both engines. Plan shape: the quantized explode is one narrow
    scan; the 512-row centroid dim BROADCASTS; the dot-product joins
    shuffle on dim index / vec_id — the standard dense-kmeans
    dim×K×n cost, AQE-broadcast at this SF."""
    C0 = _km_centroids0()
    cents = spark.createDataFrame(
        [
            (k, i, int(C0[k, i]))
            for k in range(_KM_K)
            for i in range(_ANN_DIM)
        ],
        "k int, i int, c long",
    )
    qv = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("i", "x"))
        .select(
            "vec_id",
            "i",
            F.floor(F.col("x").cast("double") * F.lit(_KM_SCALE))
            .cast("long")
            .alias("q"),
        )
    )
    # round-1 distances, the update and the round-2 dot products all
    # read the quantized explode: compute it once
    qv = qv.localCheckpoint(eager=False)
    diff = F.col("q") - F.col("c")
    d1 = (
        qv.join(F.broadcast(cents), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum(diff * diff).alias("d1"))
    )
    a1 = (
        d1.groupBy("vec_id")
        .agg(F.min(F.struct("d1", "k")).alias("m"))
        .select("vec_id", F.col("m.k").alias("k1"))
    )
    a1 = a1.localCheckpoint(eager=False)
    sums = (
        qv.join(a1, "vec_id")
        .groupBy(F.col("k1").alias("k"), F.col("i"))
        .agg(F.sum("q").alias("s"))
    )
    sums = sums.localCheckpoint(eager=False)
    csize = a1.groupBy(F.col("k1").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("ck")
    )
    bk = sums.groupBy("k").agg(F.sum(F.col("s") * F.col("s")).alias("b"))
    avk = (
        # sums is K×dim rows (≤512) — BROADCAST it: an equi-join on the
        # 64-value dim index would hash the whole quantized explode onto
        # 64 keys (one task per dimension at any scale — the exact skew
        # trap the dot-product join must avoid)
        qv.join(F.broadcast(sums), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("q") * F.col("s")).alias("a"))
    )
    score = (
        avk.join(F.broadcast(bk), "k")
        .join(F.broadcast(csize), "k")
        .select(
            "vec_id",
            "k",
            (
                (
                    F.col("b") - F.lit(2) * F.col("a") * F.col("ck")
                ).cast("double")
                / (F.col("ck") * F.col("ck")).cast("double")
            ).alias("f"),
        )
    )
    a2 = (
        score.groupBy("vec_id")
        .agg(F.min(F.struct("f", "k")).alias("m"))
        .select("vec_id", F.col("m.k").alias("k2"))
    )
    n1 = a1.groupBy(F.col("k1").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_iter1")
    )
    n2 = (
        a1.join(a2, "vec_id")
        .groupBy(F.col("k2").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_iter2"),
            F.sum(
                F.when(F.col("k1") != F.col("k2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_moved_in"),
        )
    )
    return (
        n1.join(n2, "cluster_id", "full_outer")
        .select(
            "cluster_id",
            F.coalesce("n_iter1", F.lit(0).cast("long")).alias("n_iter1"),
            F.coalesce("n_iter2", F.lit(0).cast("long")).alias("n_iter2"),
            F.coalesce("n_moved_in", F.lit(0).cast("long")).alias(
                "n_moved_in"
            ),
        )
        .orderBy("cluster_id")
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION search — the memory-bound ANN family (the
    third, next to LSH and IVF): vectors encode to 8 subspace codes (32x
    smaller than float32), the query builds a 8x16 lookup table once,
    and the scan ranks candidates by asymmetric distance = 8 int lookups
    per row — the float vectors are never read during the scan, which is
    what lets a 100 TB corpus' index live in RAM. Top-10 by (ADC rounded
    to 6dp, vec_id) with an in_exact flag against brute-force cosine —
    the quantization loss is measured, not asserted. The DuckDB oracle
    replays normalization, every code assignment (first-min argmin over
    inlined centroid literals) and the ADC ranking exactly."""
    from tdigest_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_scan,
        pq_codebooks,
        pq_encode,
        topk_cosine,
    )

    C = pq_codebooks(_ANN_DIM, _PQ_M, _PQ_K, _PQ_SEED)
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    codes = pq_encode(emb, C).select("vec_id", "codes")
    scored = (
        pq_adc_scan(codes, pq_adc_lut(query, C))
        .where(F.col("vec_id") != 0)
        .select("vec_id", F.round("adc", 6).alias("adc6"))
        .orderBy(F.asc("adc6"), F.asc("vec_id"))
        .limit(10)
    )
    w = Window.orderBy(F.asc("adc6"), F.asc("vec_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    exact = topk_cosine(emb, query, k=10, exclude_id=0).select(
        "vec_id", F.lit(True).alias("in_exact")
    )
    return (
        ranked.join(F.broadcast(exact), "vec_id", "left")
        .select(
            "rank",
            "vec_id",
            "adc6",
            F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
        )
        .orderBy("rank")
    )


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement — the recall/cost TRADEOFF CURVE every ANN
    deployment tunes on: recall@10 of the LSH probe vs the exact
    brute-force top-10 at widening probe radii (Hamming 0, 1, 2, and 6 =
    all buckets), alongside candidates scanned. The full-probe row must
    reach recall 1.0 — the curve carries its own correctness endpoint.
    Both rankings are SQL-reproducible (plane-literal buckets + exact
    cosine), so the measured recall values are exactly oracled — the
    approximation is quantified, not asserted. Each probe is a
    partition-pruned index read (no re-signing)."""
    from tdigest_spark.operators.similarity import (
        lsh_index_topk,
        lsh_probe_buckets,
        topk_cosine,
    )

    path = _ensure_ann_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    exact = topk_cosine(emb, query, k=10, exclude_id=0).select("vec_id")
    exact.persist()
    n_corpus = emb.where(F.col("vec_id") != 0).count()
    idx = spark.read.parquet(path)
    rows = []
    for ph in _ANN_RECALL_PROBES:
        approx = lsh_index_topk(
            spark, path, query, k=10,
            n_planes=_ANN_PLANES, seed=_ANN_SEED, probe_hamming=ph,
            exclude_id=0,
        ).select("vec_id")
        n_hits = approx.join(exact, "vec_id", "left_semi").count()
        probes = lsh_probe_buckets(query, _ANN_PLANES, _ANN_SEED, ph)
        n_cand = idx.where(
            F.col("bucket").isin(probes) & (F.col("vec_id") != 0)
        ).count()
        rows.append((ph, 10, n_hits, n_cand, n_corpus, n_hits / 10.0))
    exact.unpersist()
    assert rows[-1][5] == 1.0, rows[-1]  # full probe == brute force
    return spark.createDataFrame(
        rows,
        "probe_hamming int, k int, n_hits long, n_candidates long, "
        "n_corpus long, recall double",
    ).orderBy("probe_hamming")


def events_hourly_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA SMOOTHING of the hourly event-rate series (the alerting
    baseline every ops dashboard keeps): S_t = (S_{t-1} + x_t) / 2, i.e.
    alpha = 1/2. The heavy stage is the per-hour count (map-side partial
    agg, one tiny shuffle); the fold runs over ONE collected array of
    <=720 hourly rows — hours grow with calendar time, not volume, so
    the array stays bounded at 100 TB (same argument as
    events_cusum_changepoint). Exactness: halving a double is EXACT
    (power-of-two scale), so each fold step is one IEEE addition + one
    exact division — a left fold over the identically-sorted list is
    bit-identical across engines; Spark's `aggregate` seeded with the
    first element mirrors DuckDB `list_reduce` exactly. ewma_to_mean is
    a single division of two bit-identical doubles. No rounding
    anywhere."""
    hourly = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    arr = hourly.agg(
        F.expr("sort_array(collect_list(struct(h, c)))").alias("a")
    )
    return arr.select(
        F.expr("size(a)").cast("long").alias("n_hours"),
        F.expr("element_at(a, -1).h").cast("long").alias("last_hour"),
        F.expr(
            "aggregate(a, CAST(0 AS BIGINT), (acc, s) -> acc + s.c)"
        ).alias("n_events"),
        F.expr(
            """
            aggregate(
              slice(transform(a, s -> CAST(s.c AS DOUBLE)),
                    2, size(a) - 1),
              CAST(element_at(a, 1).c AS DOUBLE),
              (acc, x) -> (acc + x) / CAST(2 AS DOUBLE)
            )
            """
        ).alias("ewma_last"),
    ).select(
        "n_hours",
        "last_hour",
        "n_events",
        "ewma_last",
        (
            F.col("ewma_last")
            / (
                F.col("n_events").cast("double")
                / F.col("n_hours").cast("double")
            )
        ).alias("ewma_to_mean"),
    )


def events_type_lift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-ENGAGEMENT LIFT between event types (the association metric
    behind cross-sell and habit analysis): for each unordered type pair,
    lift = P(a,b) / (P(a)·P(b)) = n_ab·n / (n_a·n_b) over the universe
    of active users. The only data-sized stage is the (user, type)
    DISTINCT — one user_id shuffle; the self-join then fans out at most
    C(#types,2)=28 pairs per user (types are a fixed small vocabulary),
    and the per-type counts (8 rows) broadcast onto the pair counts.
    Never an event×event join. Exactness: all counts exact BIGINT; the
    products n_ab·n and n_a·n_b stay far below 2^53 at every tested SF
    (documented bound — at 1e9 users promote to the exact-int128 path),
    so lift is ONE division of exact-int doubles — bit-identical, left
    unrounded (the 250/256 lesson)."""
    ut = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_type")
        .distinct()
    )
    ut = ut.localCheckpoint(eager=False)  # computed once, GC-managed
    n_df = ut.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    type_counts = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(
                type_counts.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_t").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                type_counts.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_t").alias("n_b"),
                )
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n_df))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_users")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


def customer_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT over quasi-identifiers (the data-governance
    gate run before any customer extract ships to a vendor or training
    set): group by (nation, market segment, account-balance band) and
    measure how many rows sit in groups smaller than k=5 — those rows
    re-identify and must be suppressed or generalized. ONE map-side
    partial groupBy (the QI tuple), then a 4-row summary agg; scale-safe
    at any volume. Exactness: the balance band floor(c_acctbal/100) is
    one IEEE division spelled identically in both engines (bit-identical
    input to floor), counts exact BIGINT, suppression_rate a single
    division of exact ints — unrounded."""
    k = 5
    qi = (
        _t(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(
                F.col("c_acctbal") / F.lit(100).cast("double")
            ).alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("long").alias("g"))
    )
    return qi.agg(
        F.sum("g").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("g").cast("long").alias("min_group_size"),
        F.sum(F.when(F.col("g") < k, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_violating_groups"),
        F.sum(F.when(F.col("g") < k, F.col("g")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_suppressed_rows"),
    ).select(
        "n_rows",
        "n_groups",
        "min_group_size",
        "n_violating_groups",
        "n_suppressed_rows",
        (
            F.col("n_suppressed_rows").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("suppression_rate"),
    )


def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU STICKINESS (the product-health ratio every growth team
    tracks): per day, distinct daily actives over distinct trailing-
    7-day actives. Exact COUNT(DISTINCT) over a sliding window is
    quadratic at scale; here per-day bottom-k/theta states build in ONE
    grouped pass (states shuffle, rows don't) and each trailing window
    is a driver-side union of seven ~KB states — days never rescan each
    other (same shape as events_rolling_3day_distinct). Exact by
    construction: k=4096 exceeds any window's user cardinality at every
    tested SF, so sketches stay in exact mode (theta == 2^64, asserted)
    and estimates ARE the counts; stickiness is one division of exact
    ints — bit-identical, unrounded."""
    from tdigest_spark.operators.aggregate import (
        BOTTOMK_INTS,
        build_sketch_grouped,
    )
    from tdigest_spark.sketch.theta import ThetaSketch

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day"),
            "user_id",
        )
    )
    per_day = build_sketch_grouped(
        ev, ["day"], "user_id", BOTTOMK_INTS(4096)
    ).collect()
    sk = {
        int(r["day"]): ThetaSketch.from_bottomk_bytes(bytes(r["state"]))
        for r in per_day
    }
    rows = []
    for day in sorted(sk):
        window = [d for d in range(day - 6, day + 1) if d in sk]
        u = sk[window[0]]
        for d in window[1:]:
            u = u.union(sk[d])
        assert u.theta == 2**64, (day, u.theta)  # exact mode holds
        dau = int(sk[day].estimate())
        wau = int(u.estimate())
        rows.append((day, len(window), dau, wau, dau / wau))
    return spark.createDataFrame(
        rows,
        "day long, n_days_in_window int, dau long, wau long, "
        "stickiness double",
    ).orderBy("day")


def events_trailing_6h_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAILING-WINDOW QUANTILES from hourly sketch states — the SLO
    dashboard query ("p95 event value over the last 6 hours, per hour")
    that naive engines answer by rescanning 6 hours of raw data per
    tick. Here per-hour DISCRETE digests build in one grouped pass over
    integer floor-cents; every trailing window is a driver-side merge of
    <=6 bounded states (hours grow with calendar, not volume — <=720
    states at any data scale). Exact-map state makes the merged
    Nearest-Rank p95 exact for ANY value distribution; all outputs are
    exact integers."""
    from tdigest_spark.operators.aggregate import (
        TDIGEST_DISCRETE,
        build_sketch_grouped,
    )
    from tdigest_spark.sketch.discrete import DiscreteDigest

    ev = _t(spark, sf_dir, "events").select(
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("h"),
        F.floor(F.col("value") * F.lit(100.0)).alias("cents"),
    )
    states = build_sketch_grouped(
        ev, ["h"], "cents", TDIGEST_DISCRETE()
    ).collect()
    sk = {
        int(r["h"]): DiscreteDigest.from_bytes(bytes(r["state"]))
        for r in states
    }
    rows = []
    for h in sorted(sk):
        window = [x for x in range(h - 5, h + 1) if x in sk]
        m = DiscreteDigest()
        for x in window:
            m = m.merge(sk[x])
        rows.append((h, len(window), int(m.n), int(m.quantile(0.95))))
    return spark.createDataFrame(
        rows,
        "hour long, n_hours_in_window int, n_events long, p95_cents long",
    ).orderBy("hour")


def part_cooccurrence_triangles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GRAPH TRIANGLE CENSUS over the part co-purchase graph — the
    clustering measurement behind community detection and recommender
    sanity checks. Nodes are parts; an edge joins two parts co-occurring
    in the same order with support >= 2 (the support threshold is what
    keeps the edge list bounded — and broadcastable — as order volume
    grows; raw co-occurrence pairs grow linearly with data, thresholded
    edges grow far slower). Pair generation is an in-order self-join on
    l_orderkey (orders hold a handful of parts, so fan-out per order is
    C(k,2), never data×data); triangles are two ordered edge-edge joins
    (a<b<c canonical form counts each once); wedges are a degree-side
    closed form Σ C(deg,2). All counts exact BIGINT; the global
    clustering coefficient 3·T/W is one division of exact ints —
    unrounded (NULL when the graph has no wedges, identically in both
    engines)."""
    op = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
        .select("pa", "pb")
    )
    edges = edges.localCheckpoint(eager=False)  # computed once
    deg = (
        edges.select(F.col("pa").alias("p"))
        .unionAll(edges.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("w")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            F.col("w").alias("n_wedges"),
            F.col("t").alias("n_triangles"),
            F.when(
                F.col("w") > 0,
                (F.lit(3) * F.col("t")).cast("double")
                / F.col("w").cast("double"),
            ).alias("clustering_coefficient"),
        )
    )


def iceberg_add_files_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD_FILES IMPORT (Iceberg's `add_files` migration procedure): the
    onboarding path for a 100 TB hive-style parquet estate — register
    existing files as table data in ONE metadata-only append commit,
    zero bytes copied (entries carry absolute paths + footer-read stats
    bounds, so imported files prune like written ones). The fixture
    writes src0/src1 inside the table, imports src2/src3 from an
    EXTERNAL directory, proves the commit moved no bytes (the external
    files still live outside data/), and proves duplicate protection
    (re-importing src2's path raises; check_duplicate_files semantics).
    The post-import read is exact per-source SQL over documents."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import read_sequences

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_add_files" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        table = root / "table"
        external = root / "external"
        external.mkdir(parents=True, exist_ok=True)
        W.create_table(table, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source"]
        )
        paths = {}
        for s in ("src0", "src1", "src2", "src3"):
            part = tbl.filter(pc.equal(tbl["source"], s)).sort_by("doc_id")
            base = table / "data" if s in ("src0", "src1") else external
            f = base / f"{s}.parquet"
            pq.write_table(part, f)
            paths[s] = f
        W.append_snapshot(
            table, [paths["src0"], paths["src1"]], snapshot_id=1,
            ts_ms=2000,
        )
        W.add_files(
            table, [paths["src2"], paths["src3"]], snapshot_id=2,
            ts_ms=3000,
        )
        dup_refused = False
        try:
            W.add_files(table, [paths["src2"]], ts_ms=4000)
        except ValueError:
            dup_refused = True
        in_data_dir = sorted(
            p.name for p in (table / "data").glob("*.parquet")
        )
        report = {
            "table": str(table),
            "dup_refused": dup_refused,
            # bytes stayed put: only the two internal files live in data/
            "no_copy": in_data_dir == ["src0.parquet", "src1.parquet"]
            and paths["src2"].exists(),
        }
        marker.write_text(_json.dumps({"params": params, "report": report}))
    assert report["dup_refused"] and report["no_copy"], report
    return (
        read_sequences(spark, report["table"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .select(
            "source",
            "n_rows",
            "sum_doc_id",
            F.lit(True).alias("duplicate_refused"),
        )
        .orderBy("source")
    )


def iceberg_sorted_rewrite_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SORT-STRATEGY REWRITE (rewrite_data_files(sort_by=...) — Iceberg's
    `strategy => 'sort'`): the clustering maintenance that turns min/max
    stats pruning back on. The fixture commits 4 files each holding an
    INTERLEAVED doc_id slice (doc_id % 4 == i), so every file spans the
    whole key range and a range predicate prunes NOTHING (plans all 4);
    the sort rewrite re-clusters the table on doc_id into ~4 range-
    disjoint files, after which the same predicate plans exactly ONE.
    Both plan counts are snapshot metadata (exact ints); the post-
    rewrite read is exact SQL over documents — the rewrite must be
    byte-lossless."""
    import json as _json
    import os
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdigest_spark.sources import iceberg_write as W
    from tdigest_spark.sources.iceberg import (
        iceberg_scan_paths_pruned,
        read_sequences,
    )

    root = Path(
        os.environ.get("TDIGEST_SPARK_CACHE", "/root/repo/.cache")
    ) / "iceberg_sorted_rewrite" / Path(sf_dir).name
    marker = root / "_fixture.json"
    params = {
        "sf_dir": str(sf_dir),
        "src": _src_sig(f"{sf_dir}/documents.parquet"),
        "version": 1,
    }
    report = None
    if marker.exists():
        try:
            doc = _json.loads(marker.read_text())
            if doc.get("params") == params:
                report = doc["report"]
        except Exception:
            report = None
    if report is None:
        if root.exists():
            shutil.rmtree(root)
        W.create_table(root, ts_ms=1000)
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"]
        )
        for i in range(4):
            part = tbl.filter(
                pc.equal(pc.bit_wise_and(tbl["doc_id"], 3), i)
            ).sort_by("doc_id")
            f = root / "data" / f"interleaved-{i}.parquet"
            pq.write_table(part, f)
            W.append_snapshot(root, [f], snapshot_id=i + 1, ts_ms=2000 + i)
        n_docs = tbl.num_rows
        k = int(pc.min(tbl["doc_id"]).as_py()) + max(1, n_docs // 8)
        pre, total_pre = iceberg_scan_paths_pruned(
            str(root), [("doc_id", "<", k)]
        )
        size = sum(
            (root / "data" / f"interleaved-{i}.parquet").stat().st_size
            for i in range(4)
        )
        res = W.rewrite_data_files(
            root, target_bytes=max(1, size // 4), ts_ms=6000,
            sort_by=["doc_id"],
        )
        post, total_post = iceberg_scan_paths_pruned(
            str(root), [("doc_id", "<", k)]
        )
        report = {
            "table": str(root),
            "k": k,
            "pre": len(pre),
            "post": len(post),
            "total_pre": total_pre,
            "total_post": total_post,
            "files_rewritten": res["files_rewritten"],
            "files_written": res["files_written"],
        }
        marker.write_text(_json.dumps({"params": params, "report": report}))
    # the clustering claim itself: pre-rewrite the predicate planned
    # every file (4 == total); post-rewrite the disjoint ranges plan
    # exactly ONE (the first-eighth predicate fits inside the first
    # sorted slice at every n_out <= 8) — both values SF-independent,
    # so the oracle pins them as literals
    assert report["pre"] == report["total_pre"] == 4, report
    assert report["post"] == 1 < report["total_post"], report
    return (
        read_sequences(spark, report["table"])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        )
        .select(
            "n_rows",
            "sum_doc_id",
            "sum_n_chars",
            F.lit(report["pre"]).cast("long").alias("files_scanned_pre"),
            F.lit(report["post"]).cast("long").alias("files_scanned_post"),
        )
    )


def events_stream_sliding_window_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming SLIDING (hopping) windows — the overlap case tumbling
    and session windows don't cover: 2-hour windows advancing every
    hour, per event type, in append mode. Each event lands in exactly
    two windows; state is bounded by (open windows × types) and the
    watermark finalizes a window when its END clears max event time −
    delay (the same emission rule pinned empirically for session
    windows). The oracle replays window assignment arithmetically —
    epoch-aligned starts at floor(t/1h)−{0,1} hours — and keeps exactly
    the finalized windows. Integer floor-cents sums are order-
    independent and exact."""
    import time as _time

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(100.0)))
            .cast("long")
            .alias("cents"),
        )
    )
    qname = f"ev_slide_{int(_time.time() * 1000)}"
    q = (
        agg.select(
            F.unix_micros(F.col("window.start")).alias("win_start"),
            F.unix_micros(F.col("window.end")).alias("win_end"),
            "event_type",
            "n_events",
            "cents",
        )
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream did not drain within 300s")
    return spark.table(qname).orderBy("win_start", "event_type")


def media_audio_real_frame_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL AUDIO codec end-to-end on the INTEGER lattice: per doc,
    int16 PCM samples are generated from the splitmix64 formula (seeded
    by md5 of the doc_id string), encoded into a REAL 16-bit PCM WAV
    container (operators/codecs.py, stdlib wave), and
    multimodal.audio_frame_features must recover those exact integers
    and emit per-256-sample-frame energy (squared-sample sum, exact
    int64) and zero-crossing counts. Self-certifying: the stub fallback
    seeds gaussian floats from md5(encoded bytes), so an oracle match
    proves the real WAV decode ran losslessly on every row. mean_sq is
    one division of exact ints — bit-identical, unrounded."""
    import pandas as pd

    from tdigest_spark.operators import codecs
    from tdigest_spark.operators.multimodal import (
        _seed_from,
        audio_frame_features,
    )
    from tdigest_spark.sketch.hashing import hash64

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            (F.lit(512) + (F.col("doc_id") % 3) * F.lit(256))
            .cast("int")
            .alias("n"),
        )
    )

    def encode(pdfs):
        for pdf in pdfs:
            payloads = []
            for r in pdf.itertuples():
                seed = np.uint64(_seed_from(r.doc_id.encode()))
                idx = np.arange(int(r.n), dtype=np.uint64)
                v = (
                    (hash64(seed ^ idx) & np.uint64(0xFFFF)).astype(
                        np.int64
                    )
                    - 32768
                )
                payloads.append(
                    bytearray(
                        codecs.encode_wav(
                            v.astype(np.float64) / 32768.0, rate=16000
                        )
                    )
                )
            out = pdf.assign(payload=payloads, kind="audio")
            yield out[["doc_id", "kind", "payload", "n"]].rename(
                columns={"n": "sample_rate"}
            )

    media = docs.mapInPandas(
        encode,
        "doc_id string, kind string, payload binary, sample_rate int",
    )
    feats = audio_frame_features(media, frame=256)
    return feats.select(
        "doc_id",
        "frame_idx",
        "n_samples",
        "sum_sq",
        "zcr",
        (
            F.col("sum_sq").cast("double")
            / F.col("n_samples").cast("double")
        ).alias("mean_sq"),
    ).orderBy("doc_id", "frame_idx")


def events_anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F (the parametric complement to
    events_kruskal_wallis): does mean event value differ across event
    types? Distributed cost is ONE map-side-partial groupBy producing
    the k per-group exact moments (n_i, Σx) plus global Σx² on integer
    floor-cents — raw moments are order-independent BIGINTs, so the
    heavy pass is exact at any scale. The statistic assembles from
    those ints in a PINNED operation order: the k between-group terms
    s_i²/n_i fold left in event_type order (DuckDB list_reduce ==
    Python left fold — the EWMA trick), and every remaining step is an
    identically-spelled IEEE op on bit-identical doubles, so
    SSB/SSW/F are bit-identical across engines and left UNROUNDED."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * F.lit(100.0)).alias("x"),
        )
    )
    groups = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum("x").cast("long").alias("s_i"),
        )
        .orderBy("event_type")
        .collect()
    )
    tot = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    ).collect()[0]
    k = len(groups)
    n, s, q = int(tot["n"]), int(tot["s"]), int(tot["q"])
    terms = [
        float(g["s_i"]) * float(g["s_i"]) / float(g["n_i"]) for g in groups
    ]
    b = terms[0]
    for t in terms[1:]:  # left fold == DuckDB list_reduce
        b = b + t
    ssb = b - float(s) * float(s) / float(n)
    ssw = float(q) - b
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    return spark.createDataFrame(
        [(k, n, ssb, ssw, f_stat)],
        "k int, n long, ssb double, ssw double, f_stat double",
    )


def part_name_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY ENTITY-MATCHING JOIN (the data-cleaning workhorse: catalog
    reconciliation, address/name linkage) — part-name pairs within
    Levenshtein distance 2, without the all-pairs N² scan: candidates
    BLOCK on (first token, length band): a distance-2 match can't
    shift total length by more than 2 (the length filter is lossless),
    and first-token blocking bounds verification at Σ(block²) — the
    standard entity-resolution trade (a typo inside the leading word
    escapes the block; the oracle replays the same blocking, and the
    docstring states the trade rather than hiding it). Both
    engines verify with the same classic Levenshtein (Spark
    F.levenshtein == DuckDB levenshtein); counts and the distance are
    exact ints. Edit-distance verification is the candidate-bounded
    slow path — exactly the MinHash-LSH shape, on strings."""
    p = (
        _t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_name",
            F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
            F.expr("length(p_name) DIV 3").alias("lb"),
        )
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.abs(F.col("a.lb") - F.col("b.lb")) <= 1)
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .where(
            F.abs(F.length("a.p_name") - F.length("b.p_name")) <= 2
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias(
                "dist"
            ),
        )
        .where(F.col("dist") <= 2)
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dist") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(F.when(F.col("dist") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dist1"),
        F.sum(F.when(F.col("dist") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dist2"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )


def part_catalog_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ENTITY RESOLUTION end-to-end — the catalog-reconciliation job
    every marketplace runs: a vendor feed (the distinct part names,
    25% of them carrying a DETERMINISTIC one-char typo — the first
    char of token k drops, k and the typo decision keyed on
    md5-lower-64 so both engines build the identical dirty feed) must
    be matched back to the catalog. Candidates come from DROP-ONE-TOKEN
    blocking (5 keys per name; a single in-token edit leaves 4 of 5
    tokens intact, so recall is 1.0 BY CONSTRUCTION for this noise
    model — n_matched == n_vendor in the output row makes the claim
    checkable), then Levenshtein <= 2 verifies and a
    (dist, name) keep-best picks each vendor row's match. Work is
    Σ(block²) with near-singleton blocks — never names × names.
    All outputs exact ints."""
    from tdigest_spark.operators.sample import md5_lower64

    cat = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("cat_name"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    vendor = cat.select(
        F.col("cat_name").alias("vid"),
        (
            md5_lower64(F.concat(F.lit("tok:"), F.col("cat_name")))
            % F.size(F.split(F.col("cat_name"), " "))
        )
        .cast("int")
        .alias("k"),
        (
            md5_lower64(F.concat(F.lit("typo:"), F.col("cat_name"))) % 4
            == 0
        ).alias("is_typo"),
    ).select(
        "vid",
        "is_typo",
        F.when(
            F.col("is_typo"),
            F.expr(
                "array_join(transform(split(vid, ' '), "
                "(t, i) -> IF(i = k, substring(t, 2), t)), ' ')"
            ),
        )
        .otherwise(F.col("vid"))
        .alias("vendor_name"),
    )
    vkeys = vendor.select(
        "vid",
        "vendor_name",
        F.explode(
            F.expr(
                "transform(split(vendor_name, ' '), (t, j) -> "
                "array_join(filter(split(vendor_name, ' '), "
                "(x, i) -> i != j), ' '))"
            )
        ).alias("bkey"),
    ).distinct()
    ckeys = cat.select(
        "cat_name",
        F.explode(
            F.expr(
                "transform(split(cat_name, ' '), (t, j) -> "
                "array_join(filter(split(cat_name, ' '), "
                "(x, i) -> i != j), ' '))"
            )
        ).alias("bkey"),
    ).distinct()
    cand = (
        vkeys.join(ckeys, "bkey")
        .select("vid", "vendor_name", "cat_name")
        .distinct()
        .select(
            "vid",
            "cat_name",
            F.levenshtein(F.col("vendor_name"), F.col("cat_name")).alias(
                "dist"
            ),
        )
        .where(F.col("dist") <= 2)
    )
    w = Window.partitionBy("vid").orderBy("dist", "cat_name")
    best = cand.select(
        "vid", "cat_name", "dist", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") == 1)
    out = best.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum(F.when(F.col("dist") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(F.when(F.col("dist") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("n_fuzzy"),
        F.sum("dist").cast("long").alias("sum_dist"),
    ).crossJoin(
        F.broadcast(
            vendor.agg(F.count(F.lit(1)).cast("long").alias("n_vendor"))
        )
    )
    return out.select(
        "n_vendor", "n_matched", "n_exact", "n_fuzzy", "sum_dist"
    )


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed per-source t-digests over the tokenized
    sequence table (BASELINE.json input_hint shape) — grouped two-phase
    sketch build, rollup by mergeability, quantile queries."""
    from tdigest_spark.operators.aggregate import TDIGEST, build_sketch_grouped
    from tdigest_spark.sketch.tdigest import TDigest
    from tdigest_spark.sources.sequence_table import (
        default_cache_dir,
        generate_sequence_table,
    )

    path = generate_sequence_table(
        default_cache_dir() / "entry_n5000", n_rows=5_000, seed=42,
        rows_per_file=2_500,
    )
    seq = spark.read.parquet(str(path))
    per_source = build_sketch_grouped(seq, ["source"], "n_tok", TDIGEST(0.01))
    rows = per_source.collect()
    out = []
    glob = TDigest(0.01)
    for r in sorted(rows, key=lambda r: r["source"]):
        d = TDigest.from_bytes(r["state"])
        out.append(
            (
                r["source"],
                float(d.n),
                float(d.quantile(0.5)),
                float(d.quantile(0.95)),
                float(d.quantile(0.99)),
            )
        )
        glob.merge(d)
    out.append(
        (
            "__all__",
            float(glob.n),
            float(glob.quantile(0.5)),
            float(glob.quantile(0.95)),
            float(glob.quantile(0.99)),
        )
    )
    return spark.createDataFrame(
        out, "source string, n double, p50 double, p95 double, p99 double"
    )


def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST TREND over daily event volume — the slope
    estimator dashboards reach for when OLS is wrecked by outlier days
    (50% breakdown point vs OLS's zero). Slope = MEDIAN of all pairwise
    day-to-day slopes; intercept = median of per-day residual offsets at
    that slope. Scale shape: the ONE corpus-sized stage is the daily
    groupBy; pair generation is days², CALENDAR-bounded (like the CUSUM
    query's global window — days grow with time, not volume; ten years
    is ~6.6M pairs), so the unpartitioned rank window is scale-safe by
    construction. Exactness: each pairwise slope is a single division of
    exact BIGINT deltas (bit-identical across engines); medians are
    ORDER STATISTICS spelled as (MIN+MAX)/2 over ranks {(m+1)//2,
    (m+2)//2} — never an engine median() whose interpolation could
    differ; the intercept terms subtract one bit-identical product, so
    every output is bit-identical and UNROUNDED."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(b, F.col("a.d") < F.col("b.d"))
        .select(
            (
                (F.col("b.c") - F.col("a.c")).cast("double")
                / (F.col("b.d") - F.col("a.d")).cast("double")
            ).alias("slope")
        )
        .localCheckpoint(eager=False)
    )
    m = slopes.count()
    lo, hi = (m + 1) // 2, (m + 2) // 2
    wsl = Window.orderBy("slope")
    med = (
        slopes.withColumn("rn", F.row_number().over(wsl))
        .where(F.col("rn").isin(lo, hi))
        .agg(((F.min("slope") + F.max("slope")) / F.lit(2.0)).alias("s"))
        .collect()[0]["s"]
    )
    n_days = daily.count()
    lo2, hi2 = (n_days + 1) // 2, (n_days + 2) // 2
    wt = Window.orderBy("t")
    terms = daily.select(
        (
            F.col("c").cast("double") - F.lit(float(med)) * F.col("d").cast("double")
        ).alias("t")
    )
    icept = (
        terms.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn").isin(lo2, hi2))
        .agg(((F.min("t") + F.max("t")) / F.lit(2.0)).alias("i"))
        .collect()[0]["i"]
    )
    return spark.createDataFrame(
        [(int(n_days), int(m), float(med), float(icept))],
        "n_days long, n_pairs long, ts_slope double, ts_intercept double",
    )


def events_dow_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION (moving-average detrend +
    day-of-week seasonal means) — the additive decomposition behind
    every weekly-seasonality dashboard, kept EXACT by working in
    x7 integer units: trend7_d = centered 7-day SUM of daily counts
    (exact BIGINT, only days with a full window), detrended7_d =
    7*c_d - trend7_d (exact BIGINT — never the fractional trend), and
    the per-day-of-week seasonal component divides only at the very
    end (sum/n/7 — two identically-spelled IEEE divisions of exact
    ints, bit-identical, UNROUNDED). dow is epoch-day mod 7 (engine-
    neutral; Spark dayofweek and DuckDB dayofweek disagree on their
    origin, arithmetic doesn't). The RANGE window orders by integer
    day so gap days shrink the frame and fail the cnt=7 gate rather
    than silently spanning them. One corpus-sized groupBy; the global
    window is calendar-bounded (the CUSUM argument)."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy("d").rangeBetween(-3, 3)
    det = (
        daily.select(
            "d",
            "c",
            F.sum("c").over(w).alias("trend7"),
            F.count(F.lit(1)).over(w).alias("wn"),
        )
        .where(F.col("wn") == 7)
        .select(
            (F.col("d") % 7).alias("dow_idx"),
            (F.lit(7) * F.col("c") - F.col("trend7")).alias("detr7"),
        )
    )
    return (
        det.groupBy("dow_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("detr7").cast("long").alias("sum_detr7"),
            F.max(F.abs(F.col("detr7"))).cast("long").alias("max_abs_detr7"),
        )
        .select(
            "dow_idx",
            "n_days",
            "sum_detr7",
            "max_abs_detr7",
            (
                F.col("sum_detr7").cast("double")
                / F.col("n_days").cast("double")
                / F.lit(7.0)
            ).alias("seasonal"),
        )
        .orderBy("dow_idx")
    )


def doc_source_word_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY per source — the corpus-health metrics a
    training-data curator watches for mode collapse / boilerplate
    flooding: Simpson diversity 1 - SUM c(c-1)/(N(N-1)) (the
    probability two random tokens differ), type-token ratio, and
    top-word concentration. One shuffle: the (source, word) histogram
    (map-side partial combine), then a source-cardinality rollup.
    Exactness: all moments are exact BIGINTs (c*(c-1) headroom: safe
    while per-source-per-word counts stay under ~9.4e7, i.e. corpus
    sums under 2^53 — the same headroom note as the OLS moments);
    every output divides exact ints ONCE (or twice, identically
    spelled), so rows are bit-identical and UNROUNDED."""
    from tdigest_spark.operators.text import word_tokens

    docs = _t(spark, sf_dir, "documents")
    hist = (
        docs.where(F.trim(F.col("text")) != "")
        .select(
            "source",
            F.explode(word_tokens(F.lower(F.col("text")))).alias("word"),
        )
        .where(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        hist.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("sum_cc"),
            F.max("c").cast("long").alias("max_c"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            (
                F.lit(1.0)
                - F.col("sum_cc").cast("double")
                / (F.col("n_tokens") * (F.col("n_tokens") - 1)).cast("double")
            ).alias("simpson"),
            (
                F.col("n_distinct").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("ttr"),
            (
                F.col("max_c").cast("double") / F.col("n_tokens").cast("double")
            ).alias("top_share"),
        )
        .orderBy("source")
    )


def part_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the part co-purchase graph (common-neighbors
    + Jaccard — the classic recommender candidate generator): score
    part pairs that are NOT yet co-purchased but share co-purchase
    neighbors. Edges reuse the triangle-census construction (support
    >= 2 keeps the edge list bounded as order volume grows); length-2
    paths are one self-join of the undirected adjacency on the shared
    neighbor (fan-out SUM deg² over the THRESHOLDED graph, never
    parts x parts); existing edges drop via a broadcast-able anti-join;
    degrees attach by two joins. cn/deg are exact BIGINTs; Jaccard =
    cn/(deg_a+deg_b-cn) is a single division (bit-identical,
    UNROUNDED); top-10 ordered by (cn DESC, key_a, key_b) — a fully
    deterministic LIMIT."""
    op = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )
    und = edges.select(
        F.col("pa").alias("p"), F.col("pb").alias("nbr")
    ).unionAll(edges.select(F.col("pb").alias("p"), F.col("pa").alias("nbr")))
    deg = und.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    u1, u2 = und.alias("u1"), und.alias("u2")
    cand = (
        u1.join(u2, F.col("u1.nbr") == F.col("u2.nbr"))
        .where(F.col("u1.p") < F.col("u2.p"))
        .groupBy(
            F.col("u1.p").alias("key_a"), F.col("u2.p").alias("key_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    new_links = cand.join(
        edges,
        (F.col("key_a") == F.col("pa")) & (F.col("key_b") == F.col("pb")),
        "left_anti",
    )
    da = deg.select(F.col("p").alias("key_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("p").alias("key_b"), F.col("d").alias("deg_b"))
    return (
        new_links.join(da, "key_a")
        .join(db, "key_b")
        .select(
            "key_a",
            "key_b",
            "cn",
            "deg_a",
            "deg_b",
            (
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy(F.desc("cn"), "key_a", "key_b")
        .limit(10)
    )


def media_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL-HASH IMAGE DEDUP — the multimodal twin of MinHash-LSH:
    every image gets a 64-bit average-hash emitted as 4 x 16-bit bands
    (operators/multimodal.image_ahash_bands), candidates come from
    band-equality self-join (any pair within Hamming 6 shares a band by
    pigeonhole — NEVER an all-pairs scan), and the candidate-bounded
    verify is 4 codegen bit_count(xor) adds. The fixture plants 60
    exact-payload twins ('t'-prefixed keys) whose hashes must collide at
    Hamming 0 — recall 1.0 by construction; stub-decoded pixels
    (splitmix64 of the payload md5) plus the all-integer grid-sample /
    threshold / bit-pack make the ENTIRE pipeline — hash values,
    candidate set, Hamming histogram — exactly SQL-replayable. Counts
    all exact BIGINTs."""
    from tdigest_spark.operators.multimodal import image_ahash_bands

    docs = _t(spark, sf_dir, "documents")

    def media_rows(prefix: str, cap: int):
        return docs.where(F.col("doc_id") < cap).select(
            F.concat(F.lit(prefix), F.col("doc_id").cast("string")).alias(
                "doc_id"
            ),
            F.lit("image").alias("kind"),
            F.encode("text", "utf-8").alias("payload"),
            (F.lit(8) + F.col("doc_id") % 5).cast("int").alias("width"),
            (F.lit(8) + (F.col("doc_id") / F.lit(3)).cast("long") % 5)
            .cast("int")
            .alias("height"),
        )

    media = media_rows("d", 200).unionAll(media_rows("t", 60))
    h = image_ahash_bands(media).localCheckpoint(eager=False)
    long = h.selectExpr(
        "doc_id", "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, val)"
    )
    a, b = long.alias("a"), long.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("ka"), F.col("b.doc_id").alias("kb")
        )
        .distinct()
    )
    wa = h.select(
        F.col("doc_id").alias("ka"),
        F.col("b0").alias("a0"),
        F.col("b1").alias("a1"),
        F.col("b2").alias("a2"),
        F.col("b3").alias("a3"),
    )
    wb = h.select(
        F.col("doc_id").alias("kb"),
        F.col("b0").alias("c0"),
        F.col("b1").alias("c1"),
        F.col("b2").alias("c2"),
        F.col("b3").alias("c3"),
    )
    ham = (
        pairs.join(wa, "ka")
        .join(wb, "kb")
        .select(
            (
                F.bit_count(F.col("a0").bitwiseXOR(F.col("c0")))
                + F.bit_count(F.col("a1").bitwiseXOR(F.col("c1")))
                + F.bit_count(F.col("a2").bitwiseXOR(F.col("c2")))
                + F.bit_count(F.col("a3").bitwiseXOR(F.col("c3")))
            )
            .cast("long")
            .alias("hd")
        )
    )
    n_images = h.agg(F.count(F.lit(1)).cast("long").alias("n_images"))
    return n_images.crossJoin(
        ham.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            F.sum(F.when(F.col("hd") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_exact"),
            F.sum(F.when(F.col("hd").between(1, 6), 1).otherwise(0))
            .cast("long")
            .alias("n_near"),
            F.sum(F.when(F.col("hd") > 6, 1).otherwise(0))
            .cast("long")
            .alias("n_far"),
            F.max("hd").cast("long").alias("max_hamming"),
        )
    )


def events_type_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS HUBS & AUTHORITIES over the behavioral transition graph —
    the second classic link-analysis algorithm next to
    events_type_pagerank (hubs: types that LEAD INTO important types;
    authorities: types important types lead into). Same scale shape as
    pagerank: the ONE corpus-sized stage is the edge aggregation
    (user_id shuffle + lag window); the unrolled iterations run on the
    collected #types² edge list — type-cardinality data. Exactness
    without ROUND: a_1 = in-weight (exact BIGINT); each subsequent
    hub/authority value is a PINNED left fold of w*score products in
    neighbor order (Python left fold == DuckDB list_reduce over an
    ORDER BY list — the ANOVA/EWMA trick), and every normalization is
    a single division by the max — so hub/authority are bit-identical
    across engines and UNROUNDED."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    nodes = sorted(
        r["event_type"]
        for r in ev.select("event_type").distinct().collect()
    )
    wgt = {(r["from_type"], r["to_type"]): int(r["n"]) for r in trans}

    def fold(terms):
        acc = terms[0]
        for x in terms[1:]:
            acc = acc + x
        return acc

    # a1: in-weight, exact ints (h0 = 1) -> normalize by max
    a1 = {}
    for (s, t), n in wgt.items():
        a1[t] = a1.get(t, 0) + n
    a1max = float(max(a1.values()))
    a1n = {t: float(v) / a1max for t, v in a1.items()}
    # h1: fold of w * a1n in to_type order
    h1 = {}
    for s in sorted({k[0] for k in wgt}):
        terms = [
            float(wgt[(s, t)]) * a1n[t]
            for t in sorted(t2 for (s2, t2) in wgt if s2 == s)
        ]
        h1[s] = fold(terms)
    h1max = max(h1.values())
    h1n = {s: v / h1max for s, v in h1.items()}
    # a2: fold of w * h1n in from_type order
    a2 = {}
    for t in sorted({k[1] for k in wgt}):
        terms = [
            float(wgt[(s, t)]) * h1n[s]
            for s in sorted(s2 for (s2, t2) in wgt if t2 == t)
        ]
        a2[t] = fold(terms)
    a2max = max(a2.values())
    a2n = {t: v / a2max for t, v in a2.items()}
    rows = [
        (t, h1n.get(t, 0.0), a2n.get(t, 0.0)) for t in nodes
    ]
    return spark.createDataFrame(
        rows, "event_type string, hub double, authority double"
    )


def events_max_concurrent_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PEAK CONCURRENCY via a DISTRIBUTED SWEEP-LINE — the capacity-
    planning number ("how many sessions were open at once, and when?")
    that naive approaches answer with a self-join (quadratic) or a
    global ordered window (single task). Here: sessionize (one user_id
    shuffle), emit two boundary rows per session — starts at value
    2·start_us, ends at 2·end_us+1, so starts of closed intervals sort
    BEFORE same-microsecond ends — pre-group deltas per distinct value,
    then relational.time_bucketed_cumsum (per-CALENDAR-DAY partitioned
    running sum with broadcast day offsets; bit-length bucketing would
    degenerate on a timestamp domain where every value is ~51 bits).
    Peak = max inclusive prefix, earliest tie; attained at a start
    boundary (ends only decrease it), so at_us = v div 2 is exact. All
    integers end to end."""
    from tdigest_spark.operators.relational import (
        sessionize,
        time_bucketed_cumsum,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    s = sessionize(ev, "user_id", "ts", 1800)
    sess = s.groupBy("user_id", "session_idx").agg(
        F.min(F.unix_micros("ts")).alias("s_us"),
        F.max(F.unix_micros("ts")).alias("e_us"),
    )
    bounds = sess.select(
        (F.col("s_us") * 2).alias("v"), F.lit(1).cast("long").alias("w")
    ).unionAll(
        sess.select(
            (F.col("e_us") * 2 + 1).alias("v"),
            F.lit(-1).cast("long").alias("w"),
        )
    )
    net = bounds.groupBy("v").agg(F.sum("w").alias("w"))
    c = time_bucketed_cumsum(net, "v", "w", bucket_div=172_800_000_000)
    conc = c.select("v", (F.col("prefix") + F.col("w")).alias("conc"))
    best = (
        conc.orderBy(F.desc("conc"), F.asc("v"))
        .limit(1)
        .select(
            F.col("conc").cast("long").alias("max_concurrent"),
            F.expr("v div 2").cast("long").alias("at_us"),
        )
    )
    n = sess.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    return n.crossJoin(best)


def part_component_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONNECTED COMPONENTS BY UNROLLED MIN-LABEL PROPAGATION over the
    part co-purchase graph — the FULLY-RELATIONAL scale path next to the
    driver union-find in dedup_group_resolution (which collects the edge
    list; correct for near-dup clusters but not for a graph whose edges
    don't fit the driver). Each round is one edge-partitioned join + a
    min aggregation — the standard large-graph CC round (GraphX
    small-star flavor), shuffling only (node, label) longs. THREE rounds
    are pinned and the oracle replays the identical three, so the result
    is exact-by-construction whether or not the graph has converged —
    and n_changed_last_round REPORTS convergence instead of assuming it
    (0 means labels are a fixpoint = true components). Monotone exact
    BIGINT mins end to end."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .where(F.col("s") >= 2)
        .select("u", "v")
    )
    und = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    lbl = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    prev = lbl
    for _ in range(3):
        prev = lbl
        nb = (
            und.join(
                lbl.select(F.col("node").alias("v"), "lbl"), "v"
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        lbl = (
            lbl.join(nb, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
    changed = (
        lbl.select("node", F.col("lbl").alias("l3"))
        .join(prev.select("node", F.col("lbl").alias("l2")), "node")
        .where(F.col("l3") != F.col("l2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_changed_last_round"))
    )
    sizes = lbl.groupBy("lbl").agg(F.count(F.lit(1)).alias("c"))
    stats = lbl.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.countDistinct("lbl").cast("long").alias("n_components"),
    )
    return stats.crossJoin(changed).crossJoin(
        sizes.agg(F.max("c").cast("long").alias("max_component_size"))
    )


def doc_containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC (containment) near-dup pairs — catches SUBSET
    duplication that symmetric Jaccard structurally misses: a doc quoted
    or truncated inside another scores Jaccard ≈ |A|/|B| (tiny) but
    containment |A∩B|/min(|A|,|B|) = 1. The fixture plants 40 true
    half-documents ('c'-prefixed, first len/2 words of their 'd' twin):
    every trigram of a prefix-half is a trigram of the full doc, so the
    planted pairs MUST surface at containment 1.0 (modulo the documented
    max_df='auto' hot-shingle cap, mirrored in the oracle). Engine =
    operators/dedup.ngram_containment_pairs: inverted 8-byte-hash
    postings, never all pairs; containment a single unrounded IEEE
    division of exact ints."""
    from tdigest_spark.operators.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") < 150).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        "text",
    )
    w = F.split(F.trim(F.col("text")), r"\s+")
    halves = docs.where(F.col("doc_id") < 40).select(
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        F.array_join(
            F.slice(w, 1, F.floor(F.size(w) / 2).cast("int")), " "
        ).alias("text"),
    )
    pairs = ngram_containment_pairs(
        base.unionAll(halves), "text", "doc_id", shingle_n=3, threshold=0.8
    )
    return pairs.orderBy("id_a", "id_b")


def customer_top_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL correlated subquery with per-row ORDER BY + LIMIT
    (top-3 orders per customer) — the join flavor the window-function
    suite doesn't cover: the inner query references the outer row, and
    Catalyst's DecorrelateInnerQuery rewrites the correlated limit into
    a partitioned rank, so the physical plan is ONE shuffle on the join
    key (same as the ROW_NUMBER spelling) while the SQL stays the
    per-row 'for each customer, its top orders' declaration — never a
    per-row rescan of orders. Key-residue sampling (c_custkey % 100 = 7)
    bounds the result and pushes into the customer scan; prices pass
    through from parquet with no arithmetic, so values hash exactly."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat_v")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat_v")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_lat_v c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat_v
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
        WHERE c.c_custkey % 100 = 7
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
        """
    )


def events_rolling_weekly_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING 7-DAY PEARSON CORRELATION between the purchase and view
    daily revenue series — the co-movement monitor ("are views still
    driving purchases this week?") next to the one-pass global
    correlation matrix. The day spine is calendar-bounded (the RANGE
    window sees ≤7 rows at ANY data volume; heavy lifting is the
    map-side daily agg). All five rolling moments are exact BIGINT sums
    of exact floor-cents (products ≤ ~7·(daily cents)² — far under 2^63
    at these SFs; a 100-TB deployment rescales to dollars first, noted);
    corr = (nΣxy − ΣxΣy) / (sqrt(nΣx² − (Σx)²) · sqrt(nΣy² − (Σy)²))
    is an identically-spelled chain — exact-int subtractions, two
    correctly-rounded sqrts, one multiply, one division — bit-identical
    UNROUNDED; windows with zero variance on either side emit NULL
    (both engines via NULLIF)."""
    daily = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .groupBy(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("d")
        )
        .pivot("event_type", ["purchase", "view"])
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long")),
                F.lit(0),
            )
        )
        .select(
            "d",
            F.coalesce("purchase", F.lit(0)).alias("x"),
            F.coalesce("view", F.lit(0)).alias("y"),
        )
    )
    w = Window.orderBy("d").rangeBetween(-6, 0)
    m = daily.select(
        "d",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
    ).where(F.col("n") == 7)
    num = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        "d",
        "n",
        "sx",
        "sy",
        (num / F.nullif(F.sqrt(vx) * F.sqrt(vy), F.lit(0.0))).alias(
            "corr7"
        ),
    ).orderBy("d")


def events_mann_kendall_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANN-KENDALL TREND TEST on the daily event-count series — the
    nonparametric significance companion to events_theil_sen_trend's
    robust slope (same pair machinery, answers "is there a monotone
    trend at all?"). S = Σ_{i<j} sign(c_j − c_i) over day pairs — the
    pair join is CALENDAR-bounded (≤ ~500 pairs on a 30-day table at
    ANY data volume; the heavy lifting is the map-side daily count).
    Tie-corrected variance Var = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)] / 18
    with every numerator term an exact BIGINT; z = (S∓1)/sqrt(Var) is a
    3-op identically-spelled chain (one division to double, one
    correctly-rounded sqrt, one division) — bit-identical, UNROUNDED."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    s = (
        daily.alias("a")
        .join(daily.alias("b"), F.col("a.d") < F.col("b.d"))
        .agg(
            F.sum(F.signum(F.col("b.c") - F.col("a.c")))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = daily.groupBy("c").agg(F.count(F.lit(1)).alias("t"))
    tsum = ties.agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        )
        .cast("long")
        .alias("tie_term")
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    base = (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tsum))
        .select(
            "n_days",
            "s_stat",
            (
                F.col("n_days")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            )
            .cast("long")
            .alias("var_num"),
        )
    )
    var = F.col("var_num").cast("double") / F.lit(18.0)
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / F.sqrt(var),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / F.sqrt(var),
        )
        .otherwise(F.lit(0.0))
    )
    return base.select(
        "n_days", "s_stat", "var_num", var.alias("var_s"), z.alias("z")
    )


def customer_l_diversity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L-DIVERSITY AUDIT — the privacy gate k-anonymity misses: a QI
    group can be large (k-anonymous) yet expose its members anyway when
    every row shares the SAME sensitive value (homogeneity attack).
    Per (nation, market segment) quasi-identifier group, l = the number
    of DISTINCT sensitive values (account-balance century band); groups
    with l < 3 leak. ONE two-level aggregation — distinct (QI,
    sensitive) pairs map-side, then per-QI counts — scale-safe at any
    volume; all counts exact BIGINT, the violating-row share one
    unrounded division. Companion to customer_k_anonymity_audit."""
    ell = 3
    pairs = (
        _t(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(
                F.col("c_acctbal") / F.lit(100).cast("double")
            ).alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("g"),
            F.countDistinct("bal_band").cast("long").alias("l"),
        )
    )
    return pairs.agg(
        F.sum("g").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l") < ell, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_violating_groups"),
        F.sum(F.when(F.col("l") < ell, F.col("g")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_exposed_rows"),
    ).select(
        "n_rows",
        "n_groups",
        "min_l",
        "n_violating_groups",
        "n_exposed_rows",
        (
            F.col("n_exposed_rows").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("exposed_share"),
    )


def doc_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING EASE per source — the classic readability screen a
    curation pipeline runs next to quality/repetition scores. All three
    inputs are exact BIGINT sums over one scan: words (whitespace
    tokens), sentences ([.!?]+ terminator groups, floored at 1 per doc —
    the corpus is terminator-free so this degrades to per-doc units,
    documented), syllables (vowel-group count [aeiou]+ — the standard
    dictionary-free approximation). The score 206.835 − 1.015·(W/S) −
    84.6·(Syl/W) is computed on PER-SOURCE aggregate ratios (never an
    average of per-doc floats — that would be summation-order-dependent):
    two exact-int divisions, two literal multiplies, one subtraction
    chain, spelled identically in both engines — bit-identical,
    UNROUNDED. Scale: map-side partial agg to 20 source rows."""
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
        ).alias("s"),
        F.regexp_count(F.col("text"), F.lit("[aeiou]+")).alias("syl"),
    )
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum("s").cast("long").alias("sentences"),
        F.sum("syl").cast("long").alias("syllables"),
    )
    wps = F.col("words").cast("double") / F.col("sentences").cast("double")
    spw = F.col("syllables").cast("double") / F.col("words").cast("double")
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        (
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
        ).alias("flesch"),
    ).orderBy("source")


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW FIRST-DIGIT AUDIT on order totals — the
    fraud/synthetic-data screen: leading-digit frequencies vs the
    log-law expectation. The first digit comes from the DECIMAL STRING
    of exact floor-cents (substr of CAST(bigint AS STRING)) — never
    floor(x/10^floor(log10 x)), whose libm log10 could disagree at
    powers of ten. Expected probabilities log10(1+1/d) are INLINED
    17-digit double literals (identical text in both engines — no libm
    in-plan); per-digit share and the chi-square terms are identically
    spelled single-op chains on exact ints (bit-identical); only the
    9-term chi² SUM carries ROUND 6 (association order). Scale: one
    3-col scan to a 9-row digit aggregate."""
    import math

    p = {d: float(f"{math.log10(1 + 1 / d):.17g}") for d in range(1, 10)}
    cents = (
        _t(spark, sf_dir, "orders")
        .select(
            F.floor(F.col("o_totalprice") * F.lit(100.0))
            .cast("long")
            .alias("c")
        )
        .where(F.col("c") > 0)
    )
    dig = (
        cents.select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # the 9-row aggregate feeds four consumers (terms, total, chi2,
        # final projection) — checkpoint or the scan replays per branch
        .localCheckpoint(eager=False)
    )
    tot = dig.agg(F.sum("n").cast("long").alias("total"))
    pexp = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in p.items() for x in kv]
        ),
        F.col("digit"),
    )
    terms = dig.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        "total",
        pexp.alias("p_benford"),
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
        (
            (
                F.col("n").cast("double")
                - F.col("total").cast("double") * pexp
            )
            * (
                F.col("n").cast("double")
                - F.col("total").cast("double") * pexp
            )
            / (F.col("total").cast("double") * pexp)
        ).alias("term"),
    )
    chi2 = terms.agg(F.round(F.sum("term"), 6).alias("chi2"))
    return (
        terms.crossJoin(F.broadcast(chi2))
        .select(
            "digit", "n", "share", "p_benford", "chi2"
        )
        .orderBy("digit")
    )


def orders_sql_udf_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED FUNCTIONS (Spark 4 ``CREATE FUNCTION … RETURN``) —
    both flavors: a SCALAR SQL UDF (exact floor-cents) used inside the
    aggregation, and a TABLE SQL UDF generating the bucket spine so
    EMPTY price buckets still appear as zero rows (the left-join-spine
    idiom, with the spine itself coming from a declarative function
    instead of a VALUES literal). SQL UDFs inline into the plan at
    analysis time — unlike Python UDFs they stay whole-stage-codegen
    JVM expressions, the right default for a 100-TB scan. All exact
    BIGINTs; bucket width 100000 cents."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sqludf_v")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION to_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(FLOOR(x * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION bucket_spine(k INT) "
        "RETURNS TABLE(bucket BIGINT) "
        "RETURN SELECT explode(sequence(0, k - 1))"
    )
    return spark.sql(
        """
        WITH agg AS (
          SELECT to_cents(o_totalprice) DIV 100000 AS bucket,
                 COUNT(*) AS n_orders,
                 SUM(to_cents(o_totalprice)) AS cents
          FROM orders_sqludf_v
          GROUP BY to_cents(o_totalprice) DIV 100000
        )
        SELECT s.bucket,
               CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(COALESCE(a.cents, 0) AS BIGINT) AS cents
        FROM bucket_spine(7) s LEFT JOIN agg a ON a.bucket = s.bucket
        ORDER BY s.bucket
        """
    )


def doc_source_metrics_transpose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``DataFrame.transpose()`` (new in Spark 4) — the metric-matrix
    flip every dashboard wants (metrics as rows, entities as columns)
    without hand-written unpivot/pivot pairs: a 3-source × 2-metric
    aggregate transposes to 2 rows whose column NAMES are the source
    values (transpose reads them from the first column). Sources are
    the 3 lexicographically smallest (deterministic); both metrics are
    exact BIGINTs so the transposed values hash exactly. The oracle
    spells the same matrix as scalar-subquery columns."""
    docs = _t(spark, sf_dir, "documents")
    srcs = [
        r["source"]
        for r in docs.select("source")
        .distinct()
        .orderBy("source")
        .limit(3)
        .collect()
    ]
    m = (
        docs.where(F.col("source").isin(srcs))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        )
        .orderBy("source")
    )
    return m.transpose().orderBy("key")


def events_hourly_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATED EXPONENTIAL SMOOTHING (EMA, α=1/2) of the hourly
    revenue series per event type — the dashboard forecast primitive —
    kept EXACT end to end: the recursive sₜ = αxₜ + (1−α)sₜ₋₁ unrolls to
    weights α(1−α)^k = 2^{-(k+1)} over the last n ≤ 12 hours, so the
    NUMERATOR Σ centsₖ·2^{n−1−k} is an exact BIGINT (weights are integer
    SHIFTS, never libm pow) and the normalized EMA = num / (2ⁿ−1) is ONE
    correctly-rounded division of exact ints — bit-identical across
    engines, no ROUND needed. The rank window partitions by event_type;
    per-type hourly series are calendar-bounded (≤720 rows at any data
    volume), so nothing here grows with rows — the heavy lifting is the
    map-side partial hourly agg."""
    hourly = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long"))
            .alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("h"))
    ranked = hourly.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).where(F.col("rn") <= 12)
    kept = ranked.withColumn(
        "n_h",
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).cast("long"),
    ).withColumn(
        "wt",
        F.expr("shiftleft(cast(1 as bigint), cast(n_h - rn as int))"),
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.max("n_h").cast("long").alias("n_hours_used"),
            F.max("h").cast("long").alias("last_hour"),
            F.max(F.when(F.col("rn") == 1, F.col("cents")))
            .cast("long")
            .alias("last_cents"),
            F.sum(F.col("cents") * F.col("wt")).cast("long").alias("ema_num"),
        )
        .select(
            "event_type",
            "n_hours_used",
            "last_hour",
            "last_cents",
            "ema_num",
            (
                F.col("ema_num").cast("double")
                / (
                    F.expr(
                        "shiftleft(cast(1 as bigint),"
                        " cast(n_hours_used as int))"
                    )
                    - F.lit(1)
                ).cast("double")
            ).alias("ema_cents"),
        )
        .orderBy("event_type")
    )


def part_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION BY UNROLLED PEELING (k=3, three rounds) over
    the part co-purchase graph — the degeneracy screen that separates a
    dense community core from hairball fringe, and the iterative-deletion
    sibling of part_component_label_propagation's min-label rounds. Each
    round induces the subgraph on surviving nodes (two semi-joins on the
    checkpointed edge list), recounts degrees, and keeps deg ≥ k — the
    standard distributed peel round: (node, degree) longs only, no
    collected state. THREE rounds are pinned and the oracle replays the
    identical three, so the result is exact whether or not peeling has
    converged — n_removed_last_round REPORTS convergence (0 = the
    surviving set IS the true 3-core). Exact BIGINT counts end to end."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .where(F.col("s") >= 2)
        .select("u", "v")
    )
    und = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    alive = und.select(F.col("u").alias("node")).distinct()
    n0 = alive.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    rounds = []
    for _ in range(3):
        deg = (
            und.join(alive.select(F.col("node").alias("u")), "u", "left_semi")
            .join(alive.select(F.col("node").alias("v")), "v", "left_semi")
            .groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.where(F.col("deg") >= 3)
            .select("node")
            .localCheckpoint(eager=False)
        )
        rounds.append(alive)
    c1, c2, c3 = (
        r.agg(F.count(F.lit(1)).cast("long").alias(f"n_alive_r{i + 1}"))
        for i, r in enumerate(rounds)
    )
    return (
        n0.crossJoin(c1)
        .crossJoin(c2)
        .crossJoin(c3)
        .select(
            "n_nodes",
            "n_alive_r1",
            "n_alive_r2",
            "n_alive_r3",
            (F.col("n_alive_r2") - F.col("n_alive_r3"))
            .cast("long")
            .alias("n_removed_last_round"),
        )
    )


def events_dynamic_gap_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC-GAP SESSION WINDOWS — Spark's ``session_window`` with a
    PER-ROW gap expression (purchases hold a session open 3600 s, other
    events 1800 s), the engagement-aware sessionization the fixed-gap
    operator can't express. Semantics pinned empirically (micro-probe in
    the oracle's comment): each event contributes [ts, ts+gap); an event
    MERGES into the running session iff ts ≤ max over previous members
    of (ts+gap) (touching windows merge — gap-boundary inclusive), and
    the session end is the max (ts+gap) of its members. The oracle
    replays exactly that as a gaps-and-islands running max. All
    microsecond BIGINTs; key-residue sampling (user_id % 50 = 7) bounds
    output and pushes to the scan. The native operator keeps the state
    machine inside the JVM aggregation — one user_id shuffle, same shape
    streaming uses."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("user_id").isNotNull() & (F.col("user_id") % 50 == 7)
        )
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.when(
                F.col("event_type") == "purchase", "3600 seconds"
            )
            .otherwise("1800 seconds")
            .alias("gap"),
        )
    )
    s = ev.groupBy(
        "user_id", F.session_window("ts", F.col("gap"))
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        s.select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("s_us"),
            F.unix_micros(F.col("session_window.end")).alias("e_us"),
            "n",
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n").cast("long").alias("n_events"),
            F.min("s_us").cast("long").alias("first_start_us"),
            F.max("e_us").cast("long").alias("last_end_us"),
            F.max(F.col("e_us") - F.col("s_us"))
            .cast("long")
            .alias("max_session_len_us"),
        )
        .orderBy("user_id")
    )


def orders_priority_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``LISTAGG … WITHIN GROUP (ORDER BY …)`` (new SQL-function
    surface in Spark 4.x) + ``GROUP BY ALL`` / ``ORDER BY ALL`` — the
    ordered string-aggregation dialect previously spelled via
    array_join(sort_array(collect_list(struct))). Per order priority:
    the top-3 order keys by price as ONE deterministic comma-joined
    string (rank window pinned by (price DESC, key), listagg order
    pinned by the same tuple) plus their exact floor-cents total (BIGINT
    sum — order-independent, no float-sum drift). The rank is TWO-STAGE
    because the group key has cardinality 5: a per-INPUT-PARTITION local
    top-3 (spark_partition_id projected, then a plain-column window)
    prunes to ≤ 3·n_partitions candidates before the per-priority rank —
    a single-stage window would funnel N/5 rows through one task at
    100 TB. The pid is layout-dependent but only prunes: the final top-3
    per priority is invariant, which is exactly what the oracle's
    single-stage DuckDB string_agg(… ORDER BY …) spelling replays."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lga_v")
    return spark.sql(
        """
        WITH tagged AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 spark_partition_id() AS pid
          FROM orders_lga_v
        ), local AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority, pid
                   ORDER BY o_totalprice DESC, o_orderkey) AS lrn
          FROM tagged
        ), ranked AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM local WHERE lrn <= 3
        )
        SELECT o_orderpriority,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_totalprice DESC, o_orderkey)
                 AS top_keys,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS top3_cents,
               CAST(COUNT(*) AS BIGINT) AS n_top
        FROM ranked WHERE rn <= 3
        GROUP BY ALL ORDER BY ALL
        """
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_nation_revenue": q5_nation_revenue,
        "q6_forecast_revenue_sql": q6_forecast_revenue_sql,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q10_returned_items": q10_returned_items,
        "q12_priority_shipping": q12_priority_shipping,
        "q13_order_count_distribution": q13_order_count_distribution,
        "q14_promo_revenue": q14_promo_revenue,
        "q15_top_supplier": q15_top_supplier,
        "q16_parts_supplier_counts": q16_parts_supplier_counts,
        "q18_large_volume_customers": q18_large_volume_customers,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "q22_dormant_customers": q22_dormant_customers,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q4_order_priority": q4_order_priority,
        "q11_important_parts": q11_important_parts,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q20_red_part_suppliers": q20_red_part_suppliers,
        "events_type_stats": events_type_stats,
        "events_top_users_window": events_top_users_window,
        "customers_without_orders": customers_without_orders,
        "orders_exists_subquery": orders_exists_subquery,
        "part_avg_correlated_subquery": part_avg_correlated_subquery,
        "order_fill_left_join": order_fill_left_join,
        "events_type_pivot": events_type_pivot,
        "lineitem_unpivot_measures": lineitem_unpivot_measures,
        "embedding_posexplode": embedding_posexplode,
        "lineitem_cube_counts": lineitem_cube_counts,
        "nation_balance_full_join": nation_balance_full_join,
        "events_user_type_map": events_user_type_map,
        "part_supplier_set_ops": part_supplier_set_ops,
        "lineitem_multiset_ops": lineitem_multiset_ops,
        "lineitem_grouping_sets": lineitem_grouping_sets,
        "events_json_props": events_json_props,
        "orders_ntile_quartiles": orders_ntile_quartiles,
        "events_window_function_suite": events_window_function_suite,
        "purchases_asof_view": purchases_asof_view,
        "events_sessionized": events_sessionized,
        "events_user_trailing_hour": events_user_trailing_hour,
        "events_user_value_locf": events_user_value_locf,
        "lineitem_market_basket": lineitem_market_basket,
        "events_user_gini": events_user_gini,
        "events_user_spearman": events_user_spearman,
        "events_kruskal_wallis": events_kruskal_wallis,
        "events_user_engagement_ols": events_user_engagement_ols,
        "events_cusum_changepoint": events_cusum_changepoint,
        "events_hourly_ewma": events_hourly_ewma,
        "events_dau_wau_stickiness": events_dau_wau_stickiness,
        "events_stream_sliding_window_counts": events_stream_sliding_window_counts,
        "media_audio_real_frame_features": media_audio_real_frame_features,
        "events_anova_f_oneway": events_anova_f_oneway,
        "part_name_fuzzy_match": part_name_fuzzy_match,
        "part_catalog_reconciliation": part_catalog_reconciliation,
        "iceberg_add_files_read": iceberg_add_files_read,
        "iceberg_sorted_rewrite_pruned_read": iceberg_sorted_rewrite_pruned_read,
        "events_trailing_6h_p95": events_trailing_6h_p95,
        "part_cooccurrence_triangles": part_cooccurrence_triangles,
        "events_type_lift_matrix": events_type_lift_matrix,
        "customer_k_anonymity_audit": customer_k_anonymity_audit,
        "orders_pipe_syntax_summary": orders_pipe_syntax_summary,
        "events_bootstrap_mean_ci": events_bootstrap_mean_ci,
        "events_permutation_test": events_permutation_test,
        "events_forecast_backtest": events_forecast_backtest,
        "events_type_dow_independence": events_type_dow_independence,
        "events_user_survival_hazard": events_user_survival_hazard,
        "events_metric_correlation_matrix": events_metric_correlation_matrix,
        "events_ab_cuped_adjustment": events_ab_cuped_adjustment,
        "events_simpson_slope_check": events_simpson_slope_check,
        "orders_rfm_segmentation": orders_rfm_segmentation,
        "lineitem_dq_expectations": lineitem_dq_expectations,
        "events_funnel_conversion": events_funnel_conversion,
        "events_user_hour_anomalies": events_user_hour_anomalies,
        "events_type_markov_transitions": events_type_markov_transitions,
        "lineitem_abc_classification": lineitem_abc_classification,
        "events_type_pagerank": events_type_pagerank,
        "events_rolling_3day_distinct": events_rolling_3day_distinct,
        "events_null_aware_not_in": events_null_aware_not_in,
        "doc_bm25_topk": doc_bm25_topk,
        "doc_zipf_slope": doc_zipf_slope,
        "purchase_prior_events_range_join": purchase_prior_events_range_join,
        "bloom_join_pruning": bloom_join_pruning,
        "tdigest_quantity_centroids": tdigest_quantity_centroids,
        "tdigest_quantity_cdf": tdigest_quantity_cdf,
        "tdigest_quantity_quantiles": tdigest_quantity_quantiles,
        "lineitem_quantile_buckets": lineitem_quantile_buckets,
        "tdigest_weighted_quantiles": tdigest_weighted_quantiles,
        "tdigest_weighted_by_flag": tdigest_weighted_by_flag,
        "tdigest_summary": tdigest_summary,
        "tdigest_tree_merged_quantiles": tdigest_tree_merged_quantiles,
        "tdigest_checkpoint_resume": tdigest_checkpoint_resume,
        "discrete_quantile_quantity": discrete_quantile_quantity,
        "discrete_quantity_mad": discrete_quantity_mad,
        "discrete_quantile_priority": discrete_quantile_priority,
        "tdigest_trimmed_mean": tdigest_trimmed_mean,
        "tdigest_winsorized_mean": tdigest_winsorized_mean,
        "discrete_chars_by_source_rollup": discrete_chars_by_source_rollup,
        "discrete_chars_cube_from_merges": discrete_chars_cube_from_merges,
        "autodigest_modes": autodigest_modes,
        "kll_rank_error_check": kll_rank_error_check,
        "ddsketch_price_quantiles": ddsketch_price_quantiles,
        "ddsketch_price_by_flag": ddsketch_price_by_flag,
        "grouped_digest_functions": grouped_digest_functions,
        "events_daily_p95_by_type": events_daily_p95_by_type,
        "digest_centroids_udtf": digest_centroids_udtf,
        "hll_distinct_check": hll_distinct_check,
        "hll_set_algebra": hll_set_algebra,
        "hll_users_by_event_type": hll_users_by_event_type,
        "bloom_partkey_membership": bloom_partkey_membership,
        "cms_topk_quantity": cms_topk_quantity,
        "cms_lang_estimates": cms_lang_estimates,
        "cms_join_size_estimate": cms_join_size_estimate,
        "ams_f2_quantity_selfjoin": ams_f2_quantity_selfjoin,
        "moments_quantity_stats": moments_quantity_stats,
        "moments_price_by_flag": moments_price_by_flag,
        "token_zipf_fit": token_zipf_fit,
        "token_bigram_novelty": token_bigram_novelty,
        "sql_digest_surface": sql_digest_surface,
        "skewed_source_salted_agg": skewed_source_salted_agg,
        "skewed_key_join": skewed_key_join,
        "iceberg_snapshot_isolated_read": iceberg_snapshot_isolated_read,
        "iceberg_time_travel_read": iceberg_time_travel_read,
        "iceberg_time_travel_by_timestamp": iceberg_time_travel_by_timestamp,
        "iceberg_mor_deleted_read": iceberg_mor_deleted_read,
        "iceberg_incremental_read": iceberg_incremental_read,
        "iceberg_incremental_sketch_maintenance": iceberg_incremental_sketch_maintenance,
        "iceberg_eq_delete_read": iceberg_eq_delete_read,
        "iceberg_stats_pruned_read": iceberg_stats_pruned_read,
        "iceberg_python_datasource_read": iceberg_python_datasource_read,
        "iceberg_datasource_write_read": iceberg_datasource_write_read,
        "iceberg_datasource_partitioned_write": iceberg_datasource_partitioned_write,
        "iceberg_datasource_stream_tail": iceberg_datasource_stream_tail,
        "iceberg_stream_rate_limited_tail": iceberg_stream_rate_limited_tail,
        "iceberg_incremental_join_mv": iceberg_incremental_join_mv,
        "events_variant_extract": events_variant_extract,
        "events_stream_tws_user_totals": events_stream_tws_user_totals,
        "events_stream_tws_ttl_counts": events_stream_tws_ttl_counts,
        "events_statestore_inspect": events_statestore_inspect,
        "iceberg_datasource_stream_upsert": iceberg_datasource_stream_upsert,
        "iceberg_stream_mv_maintenance": iceberg_stream_mv_maintenance,
        "events_stream_tws_type_breakdown": events_stream_tws_type_breakdown,
        "events_stream_tws_inactivity_flush": events_stream_tws_inactivity_flush,
        "orders_recursive_month_spine": orders_recursive_month_spine,
        "events_stream_tws_warm_start": events_stream_tws_warm_start,
        "doc_unigram_logprob_rank": doc_unigram_logprob_rank,
        "iceberg_ref_reads": iceberg_ref_reads,
        "events_dynamic_pivot_udtf": events_dynamic_pivot_udtf,
        "lineitem_scripted_median_bisect": lineitem_scripted_median_bisect,
        "iceberg_changelog_read": iceberg_changelog_read,
        "doc_bpe_pair_counts": doc_bpe_pair_counts,
        "doc_bpe_merges": doc_bpe_merges,
        "doc_bpe_token_stats": doc_bpe_token_stats,
        "iceberg_schema_evolution_read": iceberg_schema_evolution_read,
        "iceberg_evolved_upsert_read": iceberg_evolved_upsert_read,
        "iceberg_hidden_partition_read": iceberg_hidden_partition_read,
        "iceberg_partition_evolution_read": iceberg_partition_evolution_read,
        "iceberg_delete_where_read": iceberg_delete_where_read,
        "iceberg_deletion_vector_read": iceberg_deletion_vector_read,
        "iceberg_row_lineage_read": iceberg_row_lineage_read,
        "iceberg_null_pruned_scan": iceberg_null_pruned_scan,
        "iceberg_maintenance_pipeline": iceberg_maintenance_pipeline,
        "iceberg_stream_dv_delete_apply": iceberg_stream_dv_delete_apply,
        "iceberg_update_where_read": iceberg_update_where_read,
        "iceberg_table_stats_read": iceberg_table_stats_read,
        "iceberg_rewrite_manifests_read": iceberg_rewrite_manifests_read,
        "iceberg_rewrite_pos_deletes_read": iceberg_rewrite_pos_deletes_read,
        "iceberg_compact_small_files_read": iceberg_compact_small_files_read,
        "iceberg_metadata_only_aggregates": iceberg_metadata_only_aggregates,
        "iceberg_wap_rollback_read": iceberg_wap_rollback_read,
        "iceberg_wap_cherry_pick": iceberg_wap_cherry_pick,
        "iceberg_metadata_tables_read": iceberg_metadata_tables_read,
        "iceberg_expire_maintenance_read": iceberg_expire_maintenance_read,
        "iceberg_ref_retention_expire": iceberg_ref_retention_expire,
        "iceberg_partition_stats_read": iceberg_partition_stats_read,
        "iceberg_scd2_dimension_build": iceberg_scd2_dimension_build,
        "doc_dpp_partitioned_join": doc_dpp_partitioned_join,
        "doc_bloom_index_point_lookup": doc_bloom_index_point_lookup,
        "iceberg_upsert_read": iceberg_upsert_read,
        "lineitem_zorder_pruned_scan": lineitem_zorder_pruned_scan,
        "bottomk_sample_check": bottomk_sample_check,
        "bottomk_jaccard_event_types": bottomk_jaccard_event_types,
        "theta_event_audience_ops": theta_event_audience_ops,
        "doc_exact_dedup": doc_exact_dedup,
        "doc_hash_sample": doc_hash_sample,
        "doc_stratified_sample": doc_stratified_sample,
        "doc_text_stats": doc_text_stats,
        "doc_lang_counts": doc_lang_counts,
        "ngram_jaccard_dup_pairs": ngram_jaccard_dup_pairs,
        "minhash_lsh_pairs": minhash_lsh_pairs,
        "minhash_recall_at_bands": minhash_recall_at_bands,
        "dedup_group_resolution": dedup_group_resolution,
        "simhash_dup_candidates": simhash_dup_candidates,
        "media_decode_stats": media_decode_stats,
        "media_real_decode_stats": media_real_decode_stats,
        "media_video_real_frame_stats": media_video_real_frame_stats,
        "media_pipeline_shapes": media_pipeline_shapes,
        "doc_quality_scores": doc_quality_scores,
        "doc_vocab_topk": doc_vocab_topk,
        "doc_table_profile": doc_table_profile,
        "doc_chars_quantile_normalize": doc_chars_quantile_normalize,
        "doc_source_vocab_overlap": doc_source_vocab_overlap,
        "doc_source_temperature_mix": doc_source_temperature_mix,
        "doc_bigram_lm_quality": doc_bigram_lm_quality,
        "events_hourofday_chi2": events_hourofday_chi2,
        "orders_cohort_ltv": orders_cohort_ltv,
        "doc_fuzzy_prefix_dedup": doc_fuzzy_prefix_dedup,
        "events_type_reachability": events_type_reachability,
        "events_sequence_pattern_match": events_sequence_pattern_match,
        "lineitem_key_skew_report": lineitem_key_skew_report,
        "events_ab_test_ztest": events_ab_test_ztest,
        "events_mannwhitney_value": events_mannwhitney_value,
        "events_ks_test_value": events_ks_test_value,
        "events_welch_ttest_value": events_welch_ttest_value,
        "events_hourly_autocorrelation": events_hourly_autocorrelation,
        "lineitem_benford_digits": lineitem_benford_digits,
        "doc_neyman_allocation": doc_neyman_allocation,
        "events_daily_changepoint": events_daily_changepoint,
        "events_seasonal_naive_forecast": events_seasonal_naive_forecast,
        "doc_vocab_coverage_topk": doc_vocab_coverage_topk,
        "doc_bigram_topk": doc_bigram_topk,
        "doc_pmi_collocations": doc_pmi_collocations,
        "iceberg_incremental_vocab_drift": iceberg_incremental_vocab_drift,
        "doc_source_word_kl": doc_source_word_kl,
        "token_span_dedup": token_span_dedup,
        "token_vocab_audit": token_vocab_audit,
        "token_pack_sequences": token_pack_sequences,
        "events_value_psi": events_value_psi,
        "events_weekly_retention": events_weekly_retention,
        "mg_heavy_words": mg_heavy_words,
        "mg_heavy_words_by_source": mg_heavy_words_by_source,
        "doc_decontamination_anti": doc_decontamination_anti,
        "doc_contamination_report": doc_contamination_report,
        "doc_pii_redaction": doc_pii_redaction,
        "doc_chunk_overlap": doc_chunk_overlap,
        "doc_repetition_filter": doc_repetition_filter,
        "doc_clean_pipeline": doc_clean_pipeline,
        "doc_curation_funnel": doc_curation_funnel,
        "token_mix_rebalance": token_mix_rebalance,
        "doc_pack_chunks": doc_pack_chunks,
        "token_shards_by_source": token_shards_by_source,
        "doc_langid_counts": doc_langid_counts,
        "doc_token_counts": doc_token_counts,
        "doc_fingerprint_clusters": doc_fingerprint_clusters,
        "doc_leakage_safe_split": doc_leakage_safe_split,
        "doc_quality_importance_sample": doc_quality_importance_sample,
        "events_hourly_stream_digest": events_hourly_stream_digest,
        "events_stream_attribution": events_stream_attribution,
        "events_stream_semi_converted": events_stream_semi_converted,
        "events_stream_attribution_outer": events_stream_attribution_outer,
        "events_stream_attribution_full": events_stream_attribution_full,
        "events_stream_dedup_counts": events_stream_dedup_counts,
        "events_stream_iceberg_sink": events_stream_iceberg_sink,
        "events_stream_session_stats": events_stream_session_stats,
        "events_stream_dynamic_sessions": events_stream_dynamic_sessions,
        "events_text_source_roundtrip": events_text_source_roundtrip,
        "events_orc_source_roundtrip": events_orc_source_roundtrip,
        "events_avro_source_roundtrip": events_avro_source_roundtrip,
        "doc_grouped_kfold_split": doc_grouped_kfold_split,
        "doc_curriculum_pack": doc_curriculum_pack,
        "doc_tfidf_top_terms": doc_tfidf_top_terms,
        "events_ab_srm_check": events_ab_srm_check,
        "events_winsorized_mean": events_winsorized_mean,
        "doc_safety_keyword_screen": doc_safety_keyword_screen,
        "doc_char_bigram_entropy": doc_char_bigram_entropy,
        "orders_repeat_purchase_stats": orders_repeat_purchase_stats,
        "doc_hybrid_rrf_topk": doc_hybrid_rrf_topk,
        "ann_filtered_topk": ann_filtered_topk,
        "embedding_matryoshka_recall": embedding_matryoshka_recall,
        "embedding_sq8_recall": embedding_sq8_recall,
        "events_xml_source_roundtrip": events_xml_source_roundtrip,
        "doc_collated_vocab_topk": doc_collated_vocab_topk,
        "events_stream_enriched_segments": events_stream_enriched_segments,
        "events_stream_heavy_users": events_stream_heavy_users,
        "ann_topk_cosine": ann_topk_cosine,
        "ann_pruned_topk": ann_pruned_topk,
        "ann_recall_at_k": ann_recall_at_k,
        "ann_bucket_balance": ann_bucket_balance,
        "pq_adc_topk": pq_adc_topk,
        "embedding_kmeans_lloyd": embedding_kmeans_lloyd,
        "ivf_recall_at_probe": ivf_recall_at_probe,
        "ann_pruned_filtered_topk": ann_pruned_filtered_topk,
        "ivf_topk_cosine": ivf_topk_cosine,
        "embedding_dup_pairs": embedding_dup_pairs,
        "embedding_knn_label_consistency": embedding_knn_label_consistency,
        "semantic_dedup_keep_best": semantic_dedup_keep_best,
        "semantic_dedup_ann_keep_best": semantic_dedup_ann_keep_best,
        "events_theil_sen_trend": events_theil_sen_trend,
        "events_dow_seasonal_decomposition": events_dow_seasonal_decomposition,
        "doc_source_word_diversity": doc_source_word_diversity,
        "part_link_prediction": part_link_prediction,
        "media_image_phash_dedup": media_image_phash_dedup,
        "events_type_hits": events_type_hits,
        "events_max_concurrent_sessions": events_max_concurrent_sessions,
        "part_component_label_propagation": part_component_label_propagation,
        "doc_containment_dup_pairs": doc_containment_dup_pairs,
        "customer_top_orders_lateral": customer_top_orders_lateral,
        "events_hourly_ema": events_hourly_ema,
        "part_kcore_peel": part_kcore_peel,
        "orders_sql_udf_buckets": orders_sql_udf_buckets,
        "doc_source_metrics_transpose": doc_source_metrics_transpose,
        "doc_readability_scores": doc_readability_scores,
        "orders_benford_audit": orders_benford_audit,
        "events_rolling_weekly_corr": events_rolling_weekly_corr,
        "events_mann_kendall_trend": events_mann_kendall_trend,
        "customer_l_diversity_audit": customer_l_diversity_audit,
        "events_dynamic_gap_sessions": events_dynamic_gap_sessions,
        "orders_priority_listagg": orders_priority_listagg,
    }


# --- generated oracle SQL for the hash-pipeline queries ------------------
#
# The dedup/multimodal operators hash with md5-lower-64 (DuckDB
# ``md5_number_lower``) and splitmix64 / multiply-add permutations over
# uint64 — all reproducible in DuckDB via UHUGEINT mod-2^64 arithmetic
# (xor()/>>/& stay in UBIGINT). These builders inline the permutation
# constants so the SQL is self-contained for the driver.

_U64_MOD = "18446744073709551616"

# whitespace token count (blank text = 0 words; a bare split yields [''] = 1)
# — the SQL twin of operators/text.py token_count
_TOKENS_SQL = (
    r"CASE WHEN TRIM(text) = '' THEN 0 "
    r"ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END"
)
_GRAMS_CTE = r"""
        words AS (
          SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w
          FROM documents
        ), grams AS (
          SELECT DISTINCT doc_id,
                 {gram_expr} AS g
          FROM words, UNNEST(range(1, {i_bound})) AS t(i)
          WHERE len(w) >= {n}
          UNION
          SELECT DISTINCT doc_id, array_to_string(w, ' ') AS g
          FROM words WHERE len(w) < {n}
        )"""


def _grams_cte(n: int) -> str:
    gram_expr = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(n))
    # w is 1-based and range() is end-exclusive: i runs 1 .. len(w)-n+1,
    # one gram per window -> exclusive bound len(w) - n + 2
    i_bound = f"len(w) - {n - 2}" if n > 2 else "len(w)"
    return _GRAMS_CTE.format(gram_expr=gram_expr, n=n, i_bound=i_bound)


def _minhash_cte_chain(k: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    """CTE chain reproducing lsh_candidate_pairs(engine='arrow') exactly —
    same shingle sets, same md5-lower-64 base hash, same multiply-add
    permutations mod 2^64, same per-band raw-slot-equality candidate set,
    same exact-Jaccard filter (tdigest_spark/operators/dedup.py). Ends in
    a ``dup_pairs(id_a, id_b, jaccard)`` CTE shared by the pairs oracle
    and the dedup-group-resolution oracle."""
    from tdigest_spark.operators.dedup import MINHASH_A, MINHASH_B

    r = k // bands
    A, B = MINHASH_A(k), MINHASH_B(k)
    perm_vals = ",".join(f"({j},{int(A[j])},{int(B[j])})" for j in range(k))
    return f"""{_grams_cte(3)}, hv AS (
          SELECT doc_id, CAST(md5_number_lower(g) AS UHUGEINT) AS h FROM grams
        ), perm AS (
          SELECT j, CAST(a AS UHUGEINT) AS a, CAST(b AS UHUGEINT) AS b
          FROM (VALUES {perm_vals}) t(j, a, b)
        ), sig AS (
          SELECT doc_id, j, MIN(CAST((h * a + b) % {_U64_MOD} AS UBIGINT)) AS s
          FROM hv, perm GROUP BY doc_id, j
        ), bandkey AS (
          SELECT doc_id, j // {r} AS band, LIST(s ORDER BY j) AS key
          FROM sig GROUP BY doc_id, band
        ), cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bandkey x JOIN bandkey y
            ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
        ), inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS i
          FROM cand c
          JOIN grams ga ON ga.doc_id = c.id_a
          JOIN grams gb ON gb.doc_id = c.id_b AND gb.g = ga.g
          GROUP BY c.id_a, c.id_b
        ), dup_pairs AS (
          SELECT id_a, id_b,
                 ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= {threshold}
        )"""


def _minhash_recall_oracle_sql(threshold: float = 0.5) -> str:
    """SQL twin of minhash_recall_at_bands: one full signature chain per
    band count (k=4b, bands=b — the prefix property makes that the first
    b bands of the shipped config), verified-pair and raw-candidate
    counts as scalar subqueries, recall normalized by the 8-band count."""
    def cnt(b: int, thr: float) -> str:
        return (
            "(WITH "
            + _minhash_cte_chain(k=4 * b, bands=b, threshold=thr)
            + "\n SELECT COUNT(*) FROM dup_pairs)"
        )

    blocks = []
    for b in (1, 2, 4, 8):
        blocks.append(
            f"SELECT CAST({b} AS INTEGER) AS n_bands,\n"
            f"       CAST({cnt(b, threshold)} AS BIGINT) AS n_pairs,\n"
            f"       CAST({cnt(b, 0.0)} AS BIGINT) AS n_candidates"
        )
    union = "\n            UNION ALL\n            ".join(blocks)
    return f"""
        WITH t AS (
            {union}
        ), tot AS (SELECT n_pairs AS np8 FROM t WHERE n_bands = 8)
        SELECT n_bands, n_pairs, n_candidates,
               CAST(n_pairs AS DOUBLE) / tot.np8 AS recall
        FROM t, tot ORDER BY n_bands
    """


def _minhash_oracle_sql(k: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    return f"""
        WITH {_minhash_cte_chain(k, bands, threshold)}
        SELECT id_a, id_b, jaccard FROM dup_pairs ORDER BY id_a, id_b
    """


def _dedup_groups_oracle_sql(
    k: int = 32, bands: int = 8, threshold: float = 0.5
) -> str:
    """Exact SQL twin of dedup_group_resolution: the minhash dup_pairs CTE
    chain feeds a recursive transitive closure; each node's component is
    the min reachable id (operators/graph.py connected_components has the
    same unique fixpoint)."""
    return f"""
        WITH RECURSIVE {_minhash_cte_chain(k, bands, threshold)},
        edges AS (
          SELECT id_a AS u, id_b AS v FROM dup_pairs
          UNION
          SELECT id_b AS u, id_a AS v FROM dup_pairs
        ),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        comp AS (
          SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
          FROM reach GROUP BY u
        ),
        csizes AS (
          SELECT canonical_id, COUNT(*) AS group_size
          FROM comp GROUP BY canonical_id
        )
        SELECT c.doc_id, c.canonical_id, s.group_size
        FROM comp c JOIN csizes s USING (canonical_id)
        ORDER BY c.doc_id
    """


def _simhash_oracle_sql(ngram: int = 2, max_hamming: int = 3) -> str:
    """Exact SQL twin of simhash_dup_candidates: md5-lower-64 gram hashes,
    per-bit majority vote, 4x16-bit band blocking, Hamming filter
    (tdigest_spark/operators/dedup.py simhash64)."""
    pow2 = ",".join(f"({j},{1 << j})" for j in range(64))
    return f"""
        WITH {_grams_cte(ngram)}, hv AS (
          SELECT doc_id, md5_number_lower(g) AS h FROM grams
        ), bitsidx AS (
          SELECT j, CAST(p AS HUGEINT) AS p FROM (VALUES {pow2}) t(j, p)
        ), votes AS (
          SELECT doc_id, j,
                 SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
                 COUNT(*) AS n, ANY_VALUE(p) AS p
          FROM hv, bitsidx GROUP BY doc_id, j
        ), sh AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN 2 * ones > n THEN p ELSE 0 END) AS UBIGINT) AS s
          FROM votes GROUP BY doc_id
        ), banded AS (
          SELECT doc_id, s, bb AS band, (s >> (16 * bb)) & 65535 AS bh
          FROM sh, UNNEST([0, 1, 2, 3]) AS u(bb)
        ), pairs AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                 x.s AS sa, y.s AS sb
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        )
        SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


def _ams_f2_oracle_sql(depth: int = 5, width: int = 1024) -> str:
    """Exact SQL twin of ams_f2_quantity_selfjoin: the estimate itself is
    reproduced counter-for-counter — per-row seeds are splitmix64(1..d)
    (inlined constants), each (row, distinct value) hash is the same
    splitmix64 chain in UHUGEINT mod-2^64 arithmetic, bucket = low bits,
    sign = top bit, and the median row Σc² is picked by ORDER BY/OFFSET
    (an odd depth keeps it an exact integer)."""
    from tdigest_spark.sketch.ams import _seeds

    golden, c1, c2 = 11400714819323198485, 13787848793156543929, 10723151780598845931
    seeds = ",".join(f"({j},{int(s)})" for j, s in enumerate(_seeds(depth)))
    return f"""
        WITH vals AS (
          SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1
        ), seeds AS (
          SELECT j, CAST(s AS UBIGINT) AS seed FROM (VALUES {seeds}) t(j, s)
        ), hz AS (
          SELECT j, n,
                 (CAST(xor(seed, CAST(v AS UBIGINT)) AS UHUGEINT) + {golden})
                   % {_U64_MOD} AS z0,
                 CAST((CAST(xor(CAST(z0 AS UBIGINT), CAST(z0 AS UBIGINT) >> 30)
                   AS UHUGEINT) * {c1}) % {_U64_MOD} AS UBIGINT) AS z1,
                 CAST((CAST(xor(z1, z1 >> 27) AS UHUGEINT) * {c2})
                   % {_U64_MOD} AS UBIGINT) AS z2,
                 xor(z2, z2 >> 31) AS h
          FROM vals, seeds
        ), cnt AS (
          SELECT j, h & {width - 1} AS bucket,
                 SUM(CASE WHEN h >= 9223372036854775808 THEN -n ELSE n END) AS c
          FROM hz GROUP BY 1, 2
        ), rowf2 AS (
          SELECT j, CAST(SUM(c * c) AS BIGINT) AS f2 FROM cnt GROUP BY j
        ), med AS (
          SELECT f2 FROM rowf2 ORDER BY f2 LIMIT 1 OFFSET {depth // 2}
        ), ex AS (
          SELECT CAST(SUM(n * n) AS BIGINT) AS exact_f2 FROM vals
        )
        SELECT m.f2 AS est_f2, e.exact_f2,
               ROUND(ABS(CAST(m.f2 AS DOUBLE) - CAST(e.exact_f2 AS DOUBLE))
                     / CAST(e.exact_f2 AS DOUBLE), 6) AS rel_err
        FROM med m, ex e
    """


def _ann_pruned_oracle_sql(
    n_planes: int = _ANN_PLANES,
    seed: int = _ANN_SEED,
    dim: int = _ANN_DIM,
    probe_hamming: int = 1,
    k: int = 10,
    label: int | None = None,
) -> str:
    """SQL twin of ann_pruned_topk (and, with ``label``, of
    ann_pruned_filtered_topk): recompute each vector's LSH bucket from
    the SAME plane constants (inlined as double literals — repr() round-trips
    float64 exactly), restrict to buckets within ``probe_hamming`` bit flips
    of the query's bucket (plus the metadata predicate when given), then
    rank the candidates by exact cosine. Sign decisions are safe against
    summation-order ULPs (min |proj| ~4e-5, asserted in
    tests/test_ann_index.py)."""
    from tdigest_spark.operators.similarity import _plane_matrix

    P = _plane_matrix(dim, n_planes, seed)
    terms = []
    for p in range(n_planes):
        lits = ",".join(repr(float(x)) for x in P[:, p])
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]) > 0 THEN {1 << p} ELSE 0 END)"
        )
    bucket_expr = " + ".join(terms)
    label_pred = "" if label is None else f" AND s.label = {int(label)}"
    return f"""
        WITH sigs AS (
          SELECT vec_id, embedding, label, {bucket_expr} AS bucket
          FROM embeddings
        ), q AS (
          SELECT embedding AS qe, bucket AS qb FROM sigs WHERE vec_id = 0
        )
        SELECT ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(s.embedding, q.qe) DESC,
                          s.vec_id
               ) AS rank,
               s.vec_id
        FROM sigs s, q
        WHERE s.vec_id <> 0
          AND bit_count(xor(CAST(s.bucket AS BIGINT), CAST(q.qb AS BIGINT)))
              <= {probe_hamming}{label_pred}
        ORDER BY rank LIMIT {k}
    """


def _ivf_recall_oracle_sql(
    n_lists: int = _IVF_LISTS,
    seed: int = _IVF_SEED,
    dim: int = _ANN_DIM,
    k: int = 10,
) -> str:
    """SQL twin of ivf_recall_at_probe: rebuild every vector's list
    assignment (argmax centroid dot, first-max tie-break = ROW_NUMBER by
    dot DESC, list_id ASC) and the query's probe ordering from the SAME
    inlined centroid literals, then measure each n_probe's top-k overlap
    with exact brute force — the whole recall/cost curve is exact.
    Normalizing the vector before the dot (Spark side) cannot change the
    argmax; top-2 gaps are margin-guarded in tests/test_ivf.py."""
    from tdigest_spark.operators.similarity import ivf_fixed_centroids

    C = ivf_fixed_centroids(dim, n_lists, seed)
    cent_rows = ",\n            ".join(
        f"({j}, CAST([{', '.join(repr(float(x)) for x in C[j])}]"
        f" AS DOUBLE[]))"
        for j in range(n_lists)
    )
    blocks = []
    for npb in _IVF_RECALL_PROBES:
        blocks.append(f"""
        SELECT CAST({npb} AS INTEGER) AS n_probe, CAST({k} AS INTEGER) AS k,
               (SELECT COUNT(*) FROM (
                  SELECT vec_id FROM cand WHERE pr <= {npb}
                  ORDER BY cos DESC, vec_id LIMIT {k}
                ) WHERE vec_id IN (SELECT vec_id FROM exact)) AS n_hits,
               (SELECT COUNT(*) FROM cand WHERE pr <= {npb}) AS n_candidates,
               (SELECT COUNT(*) FROM cand) AS n_corpus,
               CAST((SELECT COUNT(*) FROM (
                  SELECT vec_id FROM cand WHERE pr <= {npb}
                  ORDER BY cos DESC, vec_id LIMIT {k}
                ) WHERE vec_id IN (SELECT vec_id FROM exact))
                 AS DOUBLE) / {float(k)} AS recall""")
    union = "\n        UNION ALL\n".join(blocks)
    return f"""
        WITH cents(list_id, cv) AS (VALUES {cent_rows}),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        lrank AS (
          SELECT list_id, ROW_NUMBER() OVER (
            ORDER BY list_dot_product(CAST(q.qe AS DOUBLE[]), cv) DESC,
                     list_id) AS pr
          FROM cents, q
        ),
        assign AS (
          SELECT vec_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                               c.cv) DESC,
                              c.list_id) AS rn
            FROM embeddings e, cents c
          ) WHERE rn = 1
        ),
        cand AS (
          SELECT e.vec_id, l.pr,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])) AS cos
          FROM embeddings e
          JOIN assign a ON a.vec_id = e.vec_id
          JOIN lrank l ON l.list_id = a.list_id
          CROSS JOIN q
          WHERE e.vec_id <> 0
        ),
        exact AS (SELECT vec_id FROM cand ORDER BY cos DESC, vec_id LIMIT {k})
        SELECT * FROM ({union}) ORDER BY n_probe
    """


def _kmeans_oracle_sql() -> str:
    """SQL twin of embedding_kmeans_lloyd: the 512 integer centroid
    literals inline as VALUES, the quantized explode is a parallel
    UNNEST zip, and every Lloyd quantity is the same exact-integer /
    single-division arithmetic as the Spark plan (see the query
    docstring for the bit-identity argument)."""
    C0 = _km_centroids0()
    cent_rows = ",\n              ".join(
        f"({k}, {i}, CAST({int(C0[k, i])} AS BIGINT))"
        for k in range(_KM_K)
        for i in range(_ANN_DIM)
    )
    return f"""
        WITH cents(k, i, c) AS (VALUES {cent_rows}),
        qv AS (
          SELECT vec_id,
                 CAST(UNNEST(generate_series(0, len(embedding) - 1))
                   AS INTEGER) AS i,
                 CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE)
                            * {_KM_SCALE}) AS BIGINT) AS q
          FROM embeddings
        ),
        d1 AS (
          SELECT vec_id, k, SUM((q - c) * (q - c)) AS d1
          FROM qv JOIN cents USING (i) GROUP BY vec_id, k
        ),
        a1 AS (
          SELECT vec_id, k AS k1 FROM (
            SELECT vec_id, k, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY d1, k) AS rn
            FROM d1
          ) WHERE rn = 1
        ),
        sums AS (
          SELECT k1 AS k, i, CAST(SUM(q) AS BIGINT) AS s
          FROM qv JOIN a1 USING (vec_id) GROUP BY k1, i
        ),
        csize AS (
          SELECT k1 AS k, CAST(COUNT(*) AS BIGINT) AS ck
          FROM a1 GROUP BY k1
        ),
        bk AS (
          SELECT k, CAST(SUM(s * s) AS BIGINT) AS b FROM sums GROUP BY k
        ),
        avk AS (
          SELECT vec_id, k, CAST(SUM(q * s) AS BIGINT) AS a
          FROM qv JOIN sums USING (i) GROUP BY vec_id, k
        ),
        a2 AS (
          SELECT vec_id, k AS k2 FROM (
            SELECT vec_id, k, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY
                CAST(b - 2 * a * ck AS DOUBLE)
                  / CAST(ck * ck AS DOUBLE),
                k) AS rn
            FROM avk JOIN bk USING (k) JOIN csize USING (k)
          ) WHERE rn = 1
        ),
        n1 AS (
          SELECT k1 AS cluster_id, COUNT(*) AS n_iter1 FROM a1 GROUP BY k1
        ),
        n2 AS (
          SELECT k2 AS cluster_id, COUNT(*) AS n_iter2,
                 CAST(SUM(CASE WHEN k1 <> k2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_moved_in
          FROM a1 JOIN a2 USING (vec_id) GROUP BY k2
        )
        SELECT COALESCE(n1.cluster_id, n2.cluster_id) AS cluster_id,
               COALESCE(n_iter1, 0) AS n_iter1,
               COALESCE(n_iter2, 0) AS n_iter2,
               COALESCE(n_moved_in, 0) AS n_moved_in
        FROM n1 FULL OUTER JOIN n2 ON n1.cluster_id = n2.cluster_id
        ORDER BY cluster_id
    """


def _pq_oracle_sql(
    m: int = _PQ_M, k: int = _PQ_K, seed: int = _PQ_SEED, dim: int = _ANN_DIM
) -> str:
    """SQL twin of pq_adc_topk: re-normalize every vector, replay each
    subspace's code assignment (first-min argmin of L2 distance to the
    inlined centroid literals), rebuild the query's ADC lookup table from
    the same literals, and rank by ROUND(ADC, 6) with vec_id tie-break.
    Distance spellings differ across engines only in summation order —
    absorbed by the margin-guarded ROUND (tests/test_ivf.py)."""
    from tdigest_spark.operators.similarity import pq_codebooks

    C = pq_codebooks(dim, m, k, seed)
    dsub = dim // m
    rows = []
    for j in range(m):
        for c in range(k):
            lits = ", ".join(repr(float(x)) for x in C[j][c])
            rows.append(f"({j}, {c}, CAST([{lits}] AS DOUBLE[]))")
    cent_rows = ",\n            ".join(rows)
    return f"""
        WITH cents(j, c, cv) AS (VALUES {cent_rows}),
        ve AS (
          SELECT vec_id,
                 list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> x / sqrt(list_dot_product(
                          CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])))) AS e
          FROM embeddings
        ),
        dists AS (
          SELECT v.vec_id, t.j, t.c,
                 list_dot_product(t.s, t.s)
                   - 2 * list_dot_product(t.s, t.cv)
                   + list_dot_product(t.cv, t.cv) AS d2
          FROM ve v, LATERAL (
            SELECT c2.j, c2.c, c2.cv,
                   v.e[(c2.j * {dsub} + 1):(c2.j * {dsub} + {dsub})] AS s
            FROM cents c2
          ) t
        ),
        codes AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2 ASC, c ASC) AS rn
            FROM dists
          ) WHERE rn = 1
        ),
        qd AS (
          SELECT d.j, d.c, d.d2 AS ld
          FROM dists d JOIN embeddings q ON q.vec_id = 0
                                         AND d.vec_id = 0
        ),
        adc AS (
          SELECT co.vec_id, ROUND(SUM(qd.ld), 6) AS adc6
          FROM codes co JOIN qd USING (j, c)
          WHERE co.vec_id <> 0
          GROUP BY co.vec_id
        ),
        topa AS (
          SELECT vec_id, adc6,
                 ROW_NUMBER() OVER (ORDER BY adc6 ASC, vec_id ASC) AS rank
          FROM adc ORDER BY adc6 ASC, vec_id ASC LIMIT 10
        ),
        exact AS (
          SELECT e.vec_id
          FROM ve e, ve q
          WHERE q.vec_id = 0 AND e.vec_id <> 0
          ORDER BY list_cosine_similarity(e.e, q.e) DESC, e.vec_id
          LIMIT 10
        )
        SELECT CAST(t.rank AS INTEGER) AS rank, t.vec_id, t.adc6,
               t.vec_id IN (SELECT vec_id FROM exact) AS in_exact
        FROM topa t ORDER BY rank
    """


def _ann_bucket_balance_oracle_sql(
    n_planes: int = _ANN_PLANES,
    seed: int = _ANN_SEED,
    dim: int = _ANN_DIM,
) -> str:
    """SQL twin of ann_bucket_balance: every vector's bucket recomputed
    from the inlined plane literals (the _ann_pruned_oracle_sql
    machinery), then the same balance rollup."""
    from tdigest_spark.operators.similarity import _plane_matrix

    P = _plane_matrix(dim, n_planes, seed)
    terms = []
    for p in range(n_planes):
        lits = ",".join(repr(float(x)) for x in P[:, p])
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]) > 0 THEN {1 << p} ELSE 0 END)"
        )
    bucket_expr = " + ".join(terms)
    total = 1 << n_planes
    return f"""
        WITH sigs AS (
          SELECT {bucket_expr} AS bucket FROM embeddings
        ), counts AS (
          SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
          FROM sigs GROUP BY bucket
        )
        SELECT CAST(SUM(c) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
               CAST({total} AS BIGINT) AS n_buckets_total,
               CAST(MAX(c) AS BIGINT) AS max_bucket_count,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT)
                 AS top1_share,
               CAST(MAX(c) * {total} AS DOUBLE) / CAST(SUM(c) AS BIGINT)
                 AS skew_factor,
               ROUND(LN(CAST(SUM(c) AS BIGINT))
                     - SUM(c * LN(c)) / CAST(SUM(c) AS BIGINT), 6)
                 AS entropy
        FROM counts
    """


def _ann_recall_oracle_sql(
    n_planes: int = _ANN_PLANES,
    seed: int = _ANN_SEED,
    dim: int = _ANN_DIM,
    k: int = 10,
) -> str:
    """SQL twin of ann_recall_at_k: rebuild each probe radius's candidate
    set from the inlined plane literals, take both top-k rankings, and
    measure the overlap — every point of the recall/cost curve is exact."""
    from tdigest_spark.operators.similarity import _plane_matrix

    P = _plane_matrix(dim, n_planes, seed)
    terms = []
    for p in range(n_planes):
        lits = ",".join(repr(float(x)) for x in P[:, p])
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]) > 0 THEN {1 << p} ELSE 0 END)"
        )
    bucket_expr = " + ".join(terms)
    blocks = []
    for ph in _ANN_RECALL_PROBES:
        blocks.append(f"""
        SELECT CAST({ph} AS INTEGER) AS probe_hamming,
               CAST({k} AS INTEGER) AS k,
               (SELECT COUNT(*) FROM (
                  SELECT vec_id FROM cand WHERE hd <= {ph}
                  ORDER BY cos DESC, vec_id LIMIT {k}
                ) WHERE vec_id IN (SELECT vec_id FROM exact)) AS n_hits,
               (SELECT COUNT(*) FROM cand WHERE hd <= {ph}) AS n_candidates,
               (SELECT COUNT(*) FROM cand) AS n_corpus,
               CAST((SELECT COUNT(*) FROM (
                  SELECT vec_id FROM cand WHERE hd <= {ph}
                  ORDER BY cos DESC, vec_id LIMIT {k}
                ) WHERE vec_id IN (SELECT vec_id FROM exact))
                 AS DOUBLE) / {float(k)} AS recall""")
    union = "\n        UNION ALL\n".join(blocks)
    return f"""
        WITH sigs AS (
          SELECT vec_id, embedding, {bucket_expr} AS bucket
          FROM embeddings
        ), q AS (
          SELECT embedding AS qe, bucket AS qb FROM sigs WHERE vec_id = 0
        ), cand AS (
          SELECT s.vec_id,
                 bit_count(xor(CAST(s.bucket AS BIGINT),
                               CAST(q.qb AS BIGINT))) AS hd,
                 list_cosine_similarity(s.embedding, q.qe) AS cos
          FROM sigs s, q WHERE s.vec_id <> 0
        ), exact AS (
          SELECT vec_id FROM cand ORDER BY cos DESC, vec_id LIMIT {k}
        )
        {union}
        ORDER BY probe_hamming
    """


def _semantic_ann_oracle_sql(
    threshold: float = 0.42,
    n_bands: int = 8,
    n_planes: int = _ANN_PLANES,
    seed: int = _ANN_SEED,
    dim: int = _ANN_DIM,
) -> str:
    """SQL twin of semantic_dedup_ann_keep_best: recompute every band's
    LSH bucket from the SAME plane constants (band k seeded ``seed+k``,
    inlined as double literals), take the UNION of per-band same-bucket
    exact-cosine pairs, then the identical transitive closure +
    keep-best ROW_NUMBER pick."""
    from tdigest_spark.operators.similarity import _plane_matrix

    bucket_cols = []
    for k in range(n_bands):
        P = _plane_matrix(dim, n_planes, seed + k)
        terms = []
        for p in range(n_planes):
            lits = ",".join(repr(float(x)) for x in P[:, p])
            terms.append(
                f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                f"[{lits}]) > 0 THEN {1 << p} ELSE 0 END)"
            )
        bucket_cols.append(" + ".join(terms) + f" AS b{k}")
    band_joins = "\n          UNION ALL\n".join(
        f"""          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM sigs a JOIN sigs b
            ON a.b{k} = b.b{k} AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(
                  CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])) >= {threshold!r}"""
        for k in range(n_bands)
    )
    return f"""
        WITH RECURSIVE sigs AS (
          SELECT vec_id, embedding, label, {", ".join(bucket_cols)}
          FROM embeddings
        ), pairs AS (
          SELECT DISTINCT id_a, id_b FROM (
{band_joins}
          )
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION
          SELECT id_b AS u, id_a AS v FROM pairs
        ), reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ), comp AS (
          SELECT u AS doc_id, LEAST(u, MIN(v)) AS group_id
          FROM reach GROUP BY u
        ), sized AS (
          SELECT c.group_id, c.doc_id, e.label,
                 COUNT(*) OVER (PARTITION BY c.group_id) AS group_size,
                 ROW_NUMBER() OVER (PARTITION BY c.group_id
                                    ORDER BY e.label DESC, c.doc_id) AS rn
          FROM comp c JOIN embeddings e ON e.vec_id = c.doc_id
        )
        SELECT group_id, doc_id AS kept_id, label AS kept_label,
               group_size
        FROM sized WHERE rn = 1 ORDER BY group_id
    """


def _curation_funnel_oracle_sql() -> str:
    """Staged SQL twin of doc_curation_funnel: the same gate chain as the
    doc_clean_pipeline oracle plus holdout split, 5-gram decontamination
    vs the holdout slice, and the md5 half-sample — one COUNT per stage."""
    g5 = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(5))
    thr = int(0.5 * (1 << 64))
    return rf"""
        WITH base AS (
          SELECT doc_id, text,
                 regexp_split_to_array(TRIM(text), '\s+') AS words,
                 LENGTH(text) AS nc,
                 LENGTH(text)
                   - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')) AS np
          FROM documents WHERE doc_id % 10 <> 7
        ), q AS (
          SELECT doc_id, text FROM base
          WHERE LEN(words) >= 5
            AND (CASE WHEN nc > 0 THEN np * 1.0 / nc ELSE 0.0 END) <= 0.25
        ), f AS (
          SELECT doc_id, word, COUNT(*) AS c
          FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS word
            FROM q
          ) GROUP BY 1, 2
        ), rep AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dr,
                 CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS tr
          FROM f GROUP BY 1
        ), r AS (
          SELECT q.* FROM q JOIN rep USING (doc_id)
          WHERE rep.dr >= 0.45 AND rep.tr <= 0.12
        ), ded AS (
          SELECT r.* FROM r
          JOIN (SELECT MIN(doc_id) AS doc_id FROM r GROUP BY text) k
            USING (doc_id)
        ), wd AS (
          SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w
          FROM ded
        ), gd AS (
          SELECT DISTINCT doc_id, {g5} AS g
          FROM wd, UNNEST(range(1, len(w) - 3)) AS t(i) WHERE len(w) >= 5
          UNION
          SELECT DISTINCT doc_id, array_to_string(w, ' ') AS g
          FROM wd WHERE len(w) < 5
        ), wb AS (
          SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w
          FROM documents WHERE doc_id % 10 = 7
        ), gb AS (
          SELECT DISTINCT md5_number_lower({g5}) AS h
          FROM wb, UNNEST(range(1, len(w) - 3)) AS t(i) WHERE len(w) >= 5
          UNION
          SELECT DISTINCT md5_number_lower(array_to_string(w, ' ')) AS h
          FROM wb WHERE len(w) < 5
        ), bad AS (
          SELECT DISTINCT doc_id FROM
            (SELECT DISTINCT doc_id, md5_number_lower(g) AS h FROM gd)
          WHERE h IN (SELECT h FROM gb)
        ), dec AS (
          SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        ), samp AS (
          SELECT * FROM dec
          WHERE md5_number_lower(CAST(doc_id AS VARCHAR)) < {thr}
        )
        SELECT * FROM (
          SELECT CAST(1 AS INTEGER) AS stage, 'input' AS gate,
                 (SELECT COUNT(*) FROM documents) AS n_docs
          UNION ALL SELECT 2, 'train_split', (SELECT COUNT(*) FROM base)
          UNION ALL SELECT 3, 'quality', (SELECT COUNT(*) FROM q)
          UNION ALL SELECT 4, 'repetition', (SELECT COUNT(*) FROM r)
          UNION ALL SELECT 5, 'exact_dedup', (SELECT COUNT(*) FROM ded)
          UNION ALL SELECT 6, 'decontaminated', (SELECT COUNT(*) FROM dec)
          UNION ALL SELECT 7, 'sampled', (SELECT COUNT(*) FROM samp)
        ) ORDER BY stage
    """


def _media_stats_oracle_sql() -> str:
    """Exact SQL twin of media_decode_stats: the stub decoder's pixel i is
    splitmix64(md5_seed XOR i) & 255 (operators/multimodal.py
    _fake_decode_image), regenerated here per (doc, pixel) row. Channel
    c = i % 3 (C-order RGB); gray = per-pixel channel mean; std is the
    two-pass population form matching numpy's .std()."""
    golden, c1, c2 = 11400714819323198485, 13787848793156543929, 10723151780598845931
    return f"""
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 16 + LENGTH(text) % 16 AS w,
                 16 + (LENGTH(text) // 7) % 16 AS h,
                 CAST(md5_number_lower(text) AS UBIGINT) AS seed
          FROM documents WHERE doc_id < 100
        ), px AS (
          SELECT doc_id, i,
                 (CAST(xor(seed, CAST(i AS UBIGINT)) AS UHUGEINT) + {golden})
                   % {_U64_MOD} AS z0,
                 CAST((CAST(xor(CAST(z0 AS UBIGINT), CAST(z0 AS UBIGINT) >> 30)
                   AS UHUGEINT) * {c1}) % {_U64_MOD} AS UBIGINT) AS z1,
                 CAST((CAST(xor(z1, z1 >> 27) AS UHUGEINT) * {c2})
                   % {_U64_MOD} AS UBIGINT) AS z2,
                 CAST(xor(z2, z2 >> 31) & 255 AS DOUBLE) AS v
          FROM base, UNNEST(range(w * h * 3)) AS t(i)
        ), gray AS (
          SELECT doc_id, i // 3 AS p, AVG(v) AS gv
          FROM px GROUP BY doc_id, p
        ), gstat AS (
          SELECT g.doc_id, SQRT(AVG((g.gv - m.mu) * (g.gv - m.mu))) AS std_gray
          FROM gray g
          JOIN (SELECT doc_id, AVG(gv) AS mu FROM gray GROUP BY doc_id) m
            ON m.doc_id = g.doc_id
          GROUP BY g.doc_id
        ), chan AS (
          SELECT doc_id,
                 AVG(CASE WHEN i % 3 = 0 THEN v END) AS mean_r,
                 AVG(CASE WHEN i % 3 = 1 THEN v END) AS mean_g
          FROM px GROUP BY doc_id
        )
        SELECT c.doc_id, ROUND(c.mean_r, 6) AS mean_r,
               ROUND(c.mean_g, 6) AS mean_g,
               ROUND(s.std_gray, 6) AS std_gray
        FROM chan c JOIN gstat s ON s.doc_id = c.doc_id
        ORDER BY c.doc_id
    """


def _media_real_oracle_sql() -> str:
    """SQL twin of media_real_decode_stats: regenerate pixel i =
    splitmix64(md5_number_lower(doc_id_string) XOR i) & 255 per (doc, pixel)
    and aggregate the same channel means / gray std. The Spark side encodes
    these pixels into real PPM/PNG/BMP containers and decodes them back
    (operators/codecs.py) — equality proves the real decode is lossless."""
    golden, c1, c2 = 11400714819323198485, 13787848793156543929, 10723151780598845931
    return f"""
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CAST(doc_id % 3 AS INTEGER) AS fmt,
                 8 + doc_id % 5 AS w,
                 8 + (doc_id // 3) % 5 AS h,
                 CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) AS UBIGINT)
                   AS seed
          FROM documents WHERE doc_id < 60
        ), px AS (
          SELECT doc_id, fmt, i,
                 (CAST(xor(seed, CAST(i AS UBIGINT)) AS UHUGEINT) + {golden})
                   % {_U64_MOD} AS z0,
                 CAST((CAST(xor(CAST(z0 AS UBIGINT), CAST(z0 AS UBIGINT) >> 30)
                   AS UHUGEINT) * {c1}) % {_U64_MOD} AS UBIGINT) AS z1,
                 CAST((CAST(xor(z1, z1 >> 27) AS UHUGEINT) * {c2})
                   % {_U64_MOD} AS UBIGINT) AS z2,
                 CAST(xor(z2, z2 >> 31) & 255 AS DOUBLE) AS v
          FROM base, UNNEST(range(w * h * 3)) AS t(i)
        ), gray AS (
          SELECT doc_id, i // 3 AS p, AVG(v) AS gv
          FROM px GROUP BY doc_id, p
        ), gstat AS (
          SELECT g.doc_id, SQRT(AVG((g.gv - m.mu) * (g.gv - m.mu))) AS std_gray
          FROM gray g
          JOIN (SELECT doc_id, AVG(gv) AS mu FROM gray GROUP BY doc_id) m
            ON m.doc_id = g.doc_id
          GROUP BY g.doc_id
        ), chan AS (
          SELECT doc_id, ANY_VALUE(fmt) AS fmt,
                 AVG(CASE WHEN i % 3 = 0 THEN v END) AS mean_r,
                 AVG(CASE WHEN i % 3 = 1 THEN v END) AS mean_g,
                 AVG(CASE WHEN i % 3 = 2 THEN v END) AS mean_b
          FROM px GROUP BY doc_id
        )
        SELECT c.doc_id, c.fmt,
               ROUND(c.mean_r, 6) AS mean_r,
               ROUND(c.mean_g, 6) AS mean_g,
               ROUND(c.mean_b, 6) AS mean_b,
               ROUND(s.std_gray, 6) AS std_gray
        FROM chan c JOIN gstat s ON s.doc_id = c.doc_id
        ORDER BY c.doc_id
    """


def _media_video_oracle_sql() -> str:
    """SQL twin of media_video_real_frame_stats: regenerate clip pixel
    i = splitmix64(md5_number_lower(doc_id_string) XOR i) & 255, index it
    as (frame = i // (h*w*3), channel = i % 3), and average each sampled
    frame's channels. The Spark side encodes those pixels into a REAL
    Y4M C444 container and decodes it back (codecs.decode_y4m) —
    equality proves the real video decode is lossless (the stub would
    seed from the container bytes and fake 8x8 frames)."""
    golden, c1, c2 = 11400714819323198485, 13787848793156543929, 10723151780598845931
    return f"""
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 4 + doc_id % 3 AS w,
                 4 + (doc_id // 3) % 3 AS h,
                 3 + doc_id % 4 AS n,
                 CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) AS UBIGINT)
                   AS seed
          FROM documents WHERE doc_id < 24
        ), px AS (
          SELECT doc_id, CAST(i // (h * w * 3) AS INTEGER) AS f,
                 i % 3 AS c,
                 (CAST(xor(seed, CAST(i AS UBIGINT)) AS UHUGEINT) + {golden})
                   % {_U64_MOD} AS z0,
                 CAST((CAST(xor(CAST(z0 AS UBIGINT), CAST(z0 AS UBIGINT) >> 30)
                   AS UHUGEINT) * {c1}) % {_U64_MOD} AS UBIGINT) AS z1,
                 CAST((CAST(xor(z1, z1 >> 27) AS UHUGEINT) * {c2})
                   % {_U64_MOD} AS UBIGINT) AS z2,
                 CAST(xor(z2, z2 >> 31) & 255 AS DOUBLE) AS v
          FROM base, UNNEST(range(n * h * w * 3)) AS t(i)
        )
        SELECT doc_id, f AS frame_idx,
               AVG(CASE WHEN c = 0 THEN v END) AS mean_y,
               AVG(CASE WHEN c = 1 THEN v END) AS mean_u,
               AVG(CASE WHEN c = 2 THEN v END) AS mean_v
        FROM px WHERE f % 2 = 0
        GROUP BY doc_id, f
        ORDER BY doc_id, frame_idx
    """


def _media_audio_oracle_sql() -> str:
    """SQL twin of media_audio_real_frame_features: regenerate sample
    i = (splitmix64(md5_number_lower(doc_id_string) XOR i) & 65535) −
    32768, frame it by i // 256, and compute the squared-sample sum and
    zero-crossing count per frame. The Spark side encodes those samples
    into a REAL 16-bit PCM WAV and decodes it back — equality proves
    the real audio decode is lossless (the stub would seed gaussian
    floats from the container bytes)."""
    golden, c1, c2 = 11400714819323198485, 13787848793156543929, 10723151780598845931
    return f"""
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 512 + (doc_id % 3) * 256 AS n,
                 CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) AS UBIGINT)
                   AS seed
          FROM documents WHERE doc_id < 24
        ), smp AS (
          SELECT doc_id, CAST(i // 256 AS INTEGER) AS frame_idx, i % 256 AS j,
                 (CAST(xor(seed, CAST(i AS UBIGINT)) AS UHUGEINT) + {golden})
                   % {_U64_MOD} AS z0,
                 CAST((CAST(xor(CAST(z0 AS UBIGINT), CAST(z0 AS UBIGINT) >> 30)
                   AS UHUGEINT) * {c1}) % {_U64_MOD} AS UBIGINT) AS z1,
                 CAST((CAST(xor(z1, z1 >> 27) AS UHUGEINT) * {c2})
                   % {_U64_MOD} AS UBIGINT) AS z2,
                 CAST(xor(z2, z2 >> 31) & 65535 AS BIGINT) - 32768 AS v
          FROM base, UNNEST(range(n)) AS t(i)
        ), lagged AS (
          SELECT doc_id, frame_idx, v,
                 LEAD(v) OVER (PARTITION BY doc_id, frame_idx ORDER BY j)
                   AS nv
          FROM smp
        )
        SELECT doc_id, frame_idx,
               CAST(256 AS INTEGER) AS n_samples,
               CAST(SUM(v * v) AS BIGINT) AS sum_sq,
               CAST(SUM(CASE WHEN nv IS NOT NULL
                             AND ((v < 0) <> (nv < 0))
                        THEN 1 ELSE 0 END) AS INTEGER) AS zcr,
               CAST(SUM(v * v) AS DOUBLE) / CAST(256 AS DOUBLE) AS mean_sq
        FROM lagged
        GROUP BY doc_id, frame_idx
        ORDER BY doc_id, frame_idx
    """


def _phash_dedup_oracle_sql() -> str:
    """SQL twin of media_image_phash_dedup: regenerate ONLY the 64
    grid-sampled pixels per image (3 channels each — 192 splitmix64
    evaluations per doc, not w*h*3), replay the all-integer aHash
    (64*gsum > total threshold, 16-bit little-endian band packing),
    then the same band-equality candidate join and bit_count(xor)
    Hamming histogram. Grid cell (ty, tx) samples pixel
    (ty*h//8, tx*w//8); C-order linear index (y*w + x)*3 + c — exactly
    operators/multimodal.image_ahash_bands. 't'-prefixed docs share
    payload AND dims with their 'd' twins, so n_exact >= 60 by
    construction."""
    golden, c1, c2 = 11400714819323198485, 13787848793156543929, 10723151780598845931
    return f"""
        WITH src AS (
          SELECT CAST(doc_id AS BIGINT) AS k, text
          FROM documents WHERE doc_id < 200
        ), base AS (
          SELECT 'd' || CAST(k AS VARCHAR) AS doc_id,
                 8 + k % 5 AS w, 8 + (k // 3) % 5 AS h,
                 CAST(md5_number_lower(text) AS UBIGINT) AS seed
          FROM src
          UNION ALL
          SELECT 't' || CAST(k AS VARCHAR) AS doc_id,
                 8 + k % 5 AS w, 8 + (k // 3) % 5 AS h,
                 CAST(md5_number_lower(text) AS UBIGINT) AS seed
          FROM src WHERE k < 60
        ), cell AS (
          SELECT doc_id, seed, ty * 8 + tx AS p,
                 CAST(((ty * h // 8) * w + (tx * w // 8)) * 3 + c
                      AS UBIGINT) AS i
          FROM base,
               UNNEST(range(8)) AS a(ty),
               UNNEST(range(8)) AS b(tx),
               UNNEST(range(3)) AS cc(c)
        ), px AS (
          SELECT doc_id, p,
                 (CAST(xor(seed, i) AS UHUGEINT) + {golden})
                   % {_U64_MOD} AS z0,
                 CAST((CAST(xor(CAST(z0 AS UBIGINT), CAST(z0 AS UBIGINT) >> 30)
                   AS UHUGEINT) * {c1}) % {_U64_MOD} AS UBIGINT) AS z1,
                 CAST((CAST(xor(z1, z1 >> 27) AS UHUGEINT) * {c2})
                   % {_U64_MOD} AS UBIGINT) AS z2,
                 CAST(xor(z2, z2 >> 31) & 255 AS BIGINT) AS v
          FROM cell
        ), gsum AS (
          SELECT doc_id, p, SUM(v) AS gs FROM px GROUP BY doc_id, p
        ), tot AS (
          SELECT doc_id, SUM(gs) AS total FROM gsum GROUP BY doc_id
        ), bits AS (
          SELECT g.doc_id, g.p,
                 CASE WHEN 64 * g.gs > t.total THEN 1 ELSE 0 END AS bit
          FROM gsum g JOIN tot t USING (doc_id)
        ), hsh AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN p // 16 = 0
                          THEN bit * (1 << (p % 16)) ELSE 0 END) AS BIGINT)
                   AS b0,
                 CAST(SUM(CASE WHEN p // 16 = 1
                          THEN bit * (1 << (p % 16)) ELSE 0 END) AS BIGINT)
                   AS b1,
                 CAST(SUM(CASE WHEN p // 16 = 2
                          THEN bit * (1 << (p % 16)) ELSE 0 END) AS BIGINT)
                   AS b2,
                 CAST(SUM(CASE WHEN p // 16 = 3
                          THEN bit * (1 << (p % 16)) ELSE 0 END) AS BIGINT)
                   AS b3
          FROM bits GROUP BY doc_id
        ), bnd AS (
          SELECT doc_id, 0 AS band, b0 AS val FROM hsh
          UNION ALL SELECT doc_id, 1, b1 FROM hsh
          UNION ALL SELECT doc_id, 2, b2 FROM hsh
          UNION ALL SELECT doc_id, 3, b3 FROM hsh
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
          FROM bnd a JOIN bnd b
            ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        ), ham AS (
          SELECT CAST(bit_count(xor(ha.b0, hb.b0))
                    + bit_count(xor(ha.b1, hb.b1))
                    + bit_count(xor(ha.b2, hb.b2))
                    + bit_count(xor(ha.b3, hb.b3)) AS BIGINT) AS hd
          FROM pairs
          JOIN hsh ha ON ha.doc_id = pairs.ka
          JOIN hsh hb ON hb.doc_id = pairs.kb
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM hsh) AS n_images,
               CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
               CAST(SUM(CASE WHEN hd = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_exact,
               CAST(SUM(CASE WHEN hd BETWEEN 1 AND 6 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_near,
               CAST(SUM(CASE WHEN hd > 6 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_far,
               CAST(MAX(hd) AS BIGINT) AS max_hamming
        FROM ham
    """


def oracle_sql() -> dict[str, str]:
    qty_cdf_xs = "(VALUES (1.0),(5.0),(10.0),(15.0),(20.0),(25.0),(30.0),(35.0),(40.0),(45.0),(50.0)) xs(x)"
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1999-12-31'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
            ORDER BY n_name
        """,
        "q7_volume_shipping": """
            WITH sn AS (
              SELECT s_suppkey, n_name AS supp_nation
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
            ), cn AS (
              SELECT c_custkey, n_name AS cust_nation
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
            )
            SELECT supp_nation, cust_nation,
                   CAST(YEAR(l_shipdate) AS INT) AS l_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN sn ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cn ON o_custkey = c_custkey
            WHERE supp_nation <> cust_nation
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            WITH an AS (
              SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
            ), j AS (
              SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
                     l_extendedprice * (1 - l_discount) AS rev,
                     sn.n_name AS supp_nation
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN an ON c_nationkey = an.n_nationkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation sn ON s_nationkey = sn.n_nationkey
              WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
            )
            SELECT o_year,
                   ROUND(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
                                  ELSE CAST(0.0 AS DOUBLE) END) / SUM(rev),
                         6) AS mkt_share
            FROM j GROUP BY o_year ORDER BY o_year
        """,
        "q9_product_profit": """
            SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
                   SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)
                       - CAST(FLOOR(p_retailprice * 100) AS BIGINT)
                         * CAST(l_quantity AS BIGINT)) / 100.0 AS sum_profit,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%gear%'
            GROUP BY n_name, o_year
            ORDER BY nation, o_year DESC
        """,
        "q10_returned_items": """
            WITH r AS (
              SELECT o_custkey,
                     SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT)) AS _cents
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1998-01-01'
                AND o_orderdate < TIMESTAMP '1998-07-01'
              GROUP BY o_custkey
            )
            SELECT c_custkey, c_name, _cents / 100.0 AS revenue,
                   c_acctbal, n_name
            FROM r
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q13_order_count_distribution": """
            WITH co AS (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON c_custkey = o_custkey
                               AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey
            )
            SELECT c_count, COUNT(*) AS custdist
            FROM co GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT)) AS _rc
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, _rc / 100.0 AS total_revenue
            FROM supplier JOIN rev ON s_suppkey = l_suppkey
            WHERE _rc = (SELECT MAX(_rc) FROM rev)
            ORDER BY s_suppkey
        """,
        "q16_parts_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "q18_large_volume_customers": """
            WITH big AS (
              SELECT l_orderkey, SUM(l_quantity) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(l_quantity) > 300
            )
            SELECT c_name, c_custkey, o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
                   o_totalprice, sum_qty
            FROM big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100
        """,
        "q19_disjunctive_revenue": """
            SELECT ROUND(COALESCE(SUM(l_extendedprice * (1 - l_discount)),
                                  CAST(0.0 AS DOUBLE)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
                   AND p_size BETWEEN 1 AND 5)
               OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
                   AND p_size BETWEEN 1 AND 10)
               OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
                   AND p_size BETWEEN 1 AND 15)
        """,
        "q21_waiting_suppliers": """
            SELECT s_name, COUNT(*) AS numwait
            FROM lineitem l1
            JOIN orders o ON l1.l_orderkey = o.o_orderkey
            JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE o.o_orderstatus = 'F'
              AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                    SELECT 1 FROM lineitem l3
                    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "q2_min_cost_supplier": """
            WITH ps AS (
              SELECT l_partkey, l_suppkey,
                     MIN(l_extendedprice / l_quantity) AS supplycost
              FROM lineitem GROUP BY l_partkey, l_suppkey
            ), eu AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ), cand AS (
              SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, supplycost,
                     MIN(supplycost) OVER (PARTITION BY p_partkey) AS min_cost
              FROM part JOIN ps ON p_partkey = l_partkey
              JOIN eu ON l_suppkey = s_suppkey
              WHERE p_type = 'LARGE'
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
                   ROUND(supplycost, 6) AS supplycost
            FROM cand WHERE supplycost = min_cost
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q11_important_parts": """
            WITH v AS (
              SELECT l_partkey AS p_partkey,
                     SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT)) AS value_cents
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
              GROUP BY 1
            ), t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents,
                            COUNT(*) AS n_parts FROM v)
            SELECT p_partkey, CAST(value_cents AS BIGINT) AS value_cents
            FROM v, t
            WHERE value_cents * n_parts > 2 * total_cents
            ORDER BY value_cents DESC, p_partkey
        """,
        "q17_small_quantity_revenue": """
            WITH pq AS (
              SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
              FROM lineitem GROUP BY 1
            )
            SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   COUNT(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            JOIN pq ON pk = l_partkey
            WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
        """,
        "q20_red_part_suppliers": """
            WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
            sq AS (
              SELECT l_suppkey, SUM(l_quantity) AS qty
              FROM lineitem JOIN red ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY l_suppkey)
            SELECT s_name, n_name, CAST(qty AS BIGINT) AS red_qty
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            JOIN sq ON s_suppkey = l_suppkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND qty > 50
            ORDER BY s_name
        """,
        "q22_dormant_customers": """
            WITH thr AS (
              SELECT SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT))
                     // COUNT(*) AS _thr
              FROM customer WHERE c_acctbal > 0
            ), cand AS (
              SELECT c_custkey, c_nationkey,
                     CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS _cents
              FROM customer, thr
              WHERE CAST(FLOOR(c_acctbal * 100) AS BIGINT) > _thr
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderdate >= TIMESTAMP '2000-01-01')
            )
            SELECT n_name, COUNT(*) AS numcust,
                   SUM(_cents) / 100.0 AS totacctbal
            FROM cand JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "q12_priority_shipping": """
            SELECT CAST(YEAR(l_shipdate) AS INT) AS l_year,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_year ORDER BY l_year
        """,
        "q14_promo_revenue": """
            WITH j AS (
              SELECT CAST(YEAR(l_shipdate) AS INT) AS l_year,
                     SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE CAST(0.0 AS DOUBLE) END) AS promo,
                     SUM(l_extendedprice * (1 - l_discount)) AS total
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY l_year
            )
            SELECT l_year,
                   ROUND(100.0 * promo / total, 6) AS promo_share,
                   ROUND(total, 2) AS revenue
            FROM j ORDER BY l_year
        """,
        "q6_forecast_revenue_sql": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "events_type_stats": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   ROUND(SUM(value), 2) AS sum_value,
                   ROUND(AVG(value), 4) AS avg_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_top_users_window": """
            SELECT ROW_NUMBER() OVER (ORDER BY total_value DESC, user_id) AS rnk,
                   user_id, total_value, n_events
            FROM (
              SELECT user_id, ROUND(SUM(value), 2) AS total_value,
                     COUNT(*) AS n_events
              FROM events GROUP BY user_id
            )
            ORDER BY rnk LIMIT 20
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name, c_nationkey
            FROM customer
            WHERE c_custkey NOT IN (
              SELECT o_custkey FROM orders WHERE o_totalprice > 300000
            )
            ORDER BY c_custkey
        """,
        # identical text runs on Spark (orders_exists_subquery /
        # part_avg_correlated_subquery register same-named temp views)
        "orders_exists_subquery": _EXISTS_SQL,
        "part_avg_correlated_subquery": _CORRELATED_AVG_SQL,
        "order_fill_left_join": """
            SELECT o_orderpriority,
                   COUNT(DISTINCT o_orderkey) AS n_orders,
                   COUNT(DISTINCT l.l_orderkey) AS n_late_orders
            FROM orders o
            LEFT JOIN (
              SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
            ) l ON o.o_orderkey = l.l_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "events_type_pivot": """
            SELECT user_id,
                   COALESCE(ROUND(SUM(value) FILTER (WHERE event_type='click'), 2), 0) AS click,
                   COALESCE(ROUND(SUM(value) FILTER (WHERE event_type='error'), 2), 0) AS error,
                   COALESCE(ROUND(SUM(value) FILTER (WHERE event_type='purchase'), 2), 0) AS purchase,
                   COALESCE(ROUND(SUM(value) FILTER (WHERE event_type='signup'), 2), 0) AS signup,
                   COALESCE(ROUND(SUM(value) FILTER (WHERE event_type='view'), 2), 0) AS view
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "embedding_posexplode": """
            -- DuckDB zips parallel UNNESTs in the SELECT list (no WITH
            -- ORDINALITY in this build)
            SELECT vec_id,
                   CAST(UNNEST(generate_series(1, len(embedding))) AS BIGINT) AS pos,
                   ROUND(CAST(UNNEST(embedding) AS DOUBLE), 6) AS component
            FROM embeddings
            WHERE vec_id < 10
            ORDER BY vec_id, pos
        """,
        "lineitem_cube_counts": """
            SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   COUNT(*) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY rf, ls
        """,
        "nation_balance_full_join": """
            SELECT COALESCE(c.nk, s.nk) AS nationkey,
                   COALESCE(n_cust, 0) AS n_cust,
                   COALESCE(n_supp, 0) AS n_supp
            FROM (
              SELECT c_nationkey AS nk, COUNT(*) AS n_cust
              FROM customer WHERE c_acctbal > 9980 GROUP BY 1
            ) c
            FULL OUTER JOIN (
              SELECT s_nationkey AS nk, COUNT(*) AS n_supp
              FROM supplier WHERE s_acctbal < -500 GROUP BY 1
            ) s ON c.nk = s.nk
            ORDER BY nationkey
        """,
        "events_user_type_map": """
            SELECT user_id,
                   COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
                   COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
                   COUNT(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "part_supplier_set_ops": """
            WITH lo AS (
              SELECT DISTINCT l_suppkey FROM lineitem WHERE l_quantity <= 5
            ), hi AS (
              SELECT DISTINCT l_suppkey FROM lineitem WHERE l_quantity >= 45
            )
            SELECT 'both' AS tag, l_suppkey
            FROM (SELECT l_suppkey FROM lo INTERSECT SELECT l_suppkey FROM hi)
            UNION ALL
            SELECT 'lo_only' AS tag, l_suppkey
            FROM (SELECT l_suppkey FROM lo EXCEPT SELECT l_suppkey FROM hi)
            ORDER BY tag, l_suppkey
        """,
        "events_json_props": """
            SELECT strftime(ts, '%Y-%m') AS month,
                   CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS BIGINT)
                        / 10) * 10 AS BIGINT) AS k_bucket,
                   COUNT(*) AS n,
                   ROUND(AVG(value), 6) AS avg_value
            FROM events
            GROUP BY month, k_bucket ORDER BY month, k_bucket
        """,
        "orders_ntile_quartiles": """
            WITH t AS (
              SELECT o_orderpriority, o_totalprice,
                     NTILE(4) OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey)
                       AS quartile
              FROM orders
            )
            SELECT o_orderpriority, quartile, COUNT(*) AS n,
                   ROUND(SUM(o_totalprice), 2) AS sum_price
            FROM t GROUP BY o_orderpriority, quartile
            ORDER BY o_orderpriority, quartile
        """,
        "purchases_asof_view": """
            WITH p AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase'
            ), v AS (
              SELECT user_id, ts, value AS view_value FROM events
              WHERE event_type = 'view'
            )
            SELECT p.event_id, p.user_id,
                   ROUND(p.value, 6) AS value,
                   ROUND(v.view_value, 6) AS asof_view_value
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND p.ts >= v.ts
            ORDER BY p.event_id
        """,
        "bloom_join_pruning": """
            SELECT l_orderkey,
                   COUNT(*) AS n_items,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem
            WHERE l_orderkey IN (
              SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
            )
            GROUP BY l_orderkey ORDER BY l_orderkey
        """,
        "events_sessionized": """
            WITH flagged AS (
              SELECT user_id, ts,
                     CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts)) > 1800
                          OR LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
            SELECT user_id,
                   CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM flagged GROUP BY user_id ORDER BY user_id
        """,
        # RANGE frame: DuckDB's RANGE BETWEEN has the identical
        # peers-by-ordering-value semantics; integer µs ordering + integer
        # floor-cents summand make the frame boundary and the sum exact
        "events_user_value_locf": """
            WITH ev AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     epoch_us(ts) // 3600000000 AS h,
                     CAST(FLOOR(value * 100) AS BIGINT) AS cents
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
            ), hourly AS (
              SELECT user_id, h, cents FROM (
                SELECT user_id, h, cents,
                       ROW_NUMBER() OVER (PARTITION BY user_id, h
                                          ORDER BY us DESC, event_id DESC)
                         AS rn
                FROM ev
              ) WHERE rn = 1
            ), bounds AS (
              SELECT user_id, MIN(h) AS h_lo, MAX(h) AS h_hi
              FROM ev GROUP BY user_id
            ), spine AS (
              SELECT user_id, UNNEST(range(h_lo, h_hi + 1)) AS h FROM bounds
            ), filled AS (
              SELECT s.user_id, ho.cents,
                     last_value(ho.cents IGNORE NULLS) OVER (
                       PARTITION BY s.user_id ORDER BY s.h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS carried
              FROM spine s LEFT JOIN hourly ho USING (user_id, h)
            )
            SELECT user_id,
                   COUNT(*) AS n_hours,
                   COUNT(cents) AS n_observed,
                   COUNT(*) - COUNT(cents) AS n_filled,
                   CAST(SUM(carried) AS BIGINT) AS carried_cents_sum
            FROM filled GROUP BY user_id ORDER BY user_id
        """,
        "lineitem_market_basket": """
            WITH li AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), pairs AS (
              SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                     COUNT(*) AS n_ab
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2
              ORDER BY n_ab DESC, p1, p2 LIMIT 25
            ), support AS (
              SELECT l_partkey, COUNT(*) AS n_p FROM li GROUP BY l_partkey
            ), n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li)
            SELECT p1, p2, n_ab,
                   ROUND(CAST(n_ab AS DOUBLE) * n.n_orders
                         / (sa.n_p * sb.n_p), 6) AS lift
            FROM pairs
            JOIN support sa ON sa.l_partkey = p1
            JOIN support sb ON sb.l_partkey = p2
            CROSS JOIN n
            ORDER BY n_ab DESC, p1, p2
        """,
        "events_null_aware_not_in": """
            WITH probe AS (
              SELECT DISTINCT user_id FROM events
              WHERE event_type = 'error'
            ), sub AS (
              SELECT NULLIF(user_id,
                            (SELECT MIN(user_id) FROM events
                             WHERE event_type = 'purchase')) AS u
              FROM events WHERE event_type = 'purchase'
            )
            SELECT
              (SELECT COUNT(*) FROM probe) AS n_probe,
              (SELECT COUNT(*) FROM probe
               WHERE user_id NOT IN (SELECT u FROM sub)) AS n_not_in_raw,
              (SELECT COUNT(*) FROM probe
               WHERE user_id NOT IN
                 (SELECT u FROM sub WHERE u IS NOT NULL))
                AS n_not_in_fixed
        """,
        "events_rolling_3day_distinct": """
            WITH d AS (
              SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
              FROM events WHERE user_id IS NOT NULL
            ), days AS (SELECT DISTINCT day FROM d)
            SELECT days.day,
                   CAST((SELECT COUNT(DISTINCT d2.day) FROM d d2
                         WHERE d2.day BETWEEN days.day - 2 AND days.day)
                        AS INTEGER) AS n_days_in_window,
                   (SELECT COUNT(DISTINCT d3.user_id) FROM d d3
                    WHERE d3.day BETWEEN days.day - 2 AND days.day)
                     AS n_active
            FROM days ORDER BY day
        """,
        "lineitem_abc_classification": """
            WITH rev AS (
              SELECT l_partkey,
                     CAST(SUM(CAST(FLOOR(l_extendedprice
                                         * (1 - l_discount) * 100)
                              AS BIGINT)) AS BIGINT) AS v
              FROM lineitem GROUP BY l_partkey
            ), t AS (SELECT CAST(SUM(v) AS BIGINT) AS total FROM rev),
            c AS (
              SELECT v,
                     CAST(SUM(v) OVER (
                       ORDER BY v DESC, l_partkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
              FROM rev
            ), cls AS (
              SELECT CASE
                       WHEN cum * 10 <= 7 * (SELECT total FROM t) THEN 'A'
                       WHEN cum * 10 <= 9 * (SELECT total FROM t) THEN 'B'
                       ELSE 'C' END AS abc_class,
                     v
              FROM c
            )
            SELECT abc_class, COUNT(*) AS n_parts,
                   CAST(SUM(v) AS BIGINT) AS revenue_cents,
                   CAST(SUM(v) AS DOUBLE) / (SELECT total FROM t)
                     AS revenue_share
            FROM cls GROUP BY abc_class ORDER BY abc_class
        """,
        "events_type_pagerank": """
            WITH seq AS (
              SELECT LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS from_type,
                     event_type AS to_type
              FROM events WHERE user_id IS NOT NULL
            ), tr AS (
              SELECT from_type, to_type, COUNT(*) AS n
              FROM seq WHERE from_type IS NOT NULL
              GROUP BY from_type, to_type
            ), tot AS (
              SELECT from_type, CAST(SUM(n) AS BIGINT) AS w_out
              FROM tr GROUP BY from_type
            ), nodes AS (
              SELECT DISTINCT event_type FROM events
              WHERE user_id IS NOT NULL
            ), nn AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
            ), p0 AS (
              SELECT event_type, 1.0 / (SELECT n FROM nn) AS p FROM nodes
            ), p1 AS (
              SELECT nd.event_type,
                     0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
                       SELECT SUM(p0.p *
                                  (CAST(tr.n AS DOUBLE) / tot.w_out))
                       FROM tr JOIN tot USING (from_type)
                       JOIN p0 ON p0.event_type = tr.from_type
                       WHERE tr.to_type = nd.event_type), 0.0) AS p
              FROM nodes nd
            ), p2 AS (
              SELECT nd.event_type,
                     0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
                       SELECT SUM(p1.p *
                                  (CAST(tr.n AS DOUBLE) / tot.w_out))
                       FROM tr JOIN tot USING (from_type)
                       JOIN p1 ON p1.event_type = tr.from_type
                       WHERE tr.to_type = nd.event_type), 0.0) AS p
              FROM nodes nd
            ), p3 AS (
              SELECT nd.event_type,
                     0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
                       SELECT SUM(p2.p *
                                  (CAST(tr.n AS DOUBLE) / tot.w_out))
                       FROM tr JOIN tot USING (from_type)
                       JOIN p2 ON p2.event_type = tr.from_type
                       WHERE tr.to_type = nd.event_type), 0.0) AS p
              FROM nodes nd
            )
            SELECT event_type, ROUND(p, 6) AS pagerank
            FROM p3 ORDER BY pagerank DESC, event_type
        """,
        "events_type_markov_transitions": """
            WITH seq AS (
              SELECT LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS from_type,
                     event_type AS to_type
              FROM events WHERE user_id IS NOT NULL
            ), trans AS (
              SELECT from_type, to_type, COUNT(*) AS n
              FROM seq WHERE from_type IS NOT NULL
              GROUP BY from_type, to_type
            ), totals AS (
              SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
              FROM trans GROUP BY from_type
            )
            SELECT t.from_type, t.to_type, t.n,
                   ROUND(CAST(t.n AS DOUBLE) / tt.n_from, 6) AS p
            FROM trans t JOIN totals tt USING (from_type)
            ORDER BY from_type, to_type
        """,
        "events_user_hour_anomalies": """
            WITH h AS (
              SELECT user_id, epoch_us(ts) // 3600000000 AS h,
                     CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM events WHERE user_id IS NOT NULL
              GROUP BY user_id, epoch_us(ts) // 3600000000
            ), med AS (
              SELECT user_id, median(cents) AS med,
                     COUNT(*) AS n_hours
              FROM h GROUP BY user_id
            ), d AS (
              SELECT h.user_id, m.n_hours, m.med,
                     ABS(h.cents - m.med) AS dev
              FROM h JOIN med m USING (user_id)
            ), mad AS (
              SELECT user_id, median(dev) AS mad FROM d GROUP BY user_id
            )
            SELECT d.user_id, ANY_VALUE(d.n_hours) AS n_hours,
                   ANY_VALUE(d.med) AS med, ANY_VALUE(mad.mad) AS mad,
                   CAST(SUM(CASE WHEN d.dev > 3.0 * mad.mad
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_anomalous
            FROM d JOIN mad USING (user_id)
            GROUP BY d.user_id ORDER BY d.user_id
        """,
        "events_user_spearman": """
            WITH u AS (
              SELECT user_id,
                     CAST(COUNT(*) AS BIGINT) AS x,
                     CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT))
                          AS BIGINT) AS y
              FROM events WHERE user_id IS NOT NULL
              GROUP BY user_id
            ), r AS (
              SELECT
                2 * (RANK() OVER (ORDER BY x))
                  + COUNT(*) OVER (PARTITION BY x) - 1 AS r2x,
                2 * (RANK() OVER (ORDER BY y))
                  + COUNT(*) OVER (PARTITION BY y) - 1 AS r2y
              FROM u
            ), s AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(r2x) AS BIGINT) AS sx,
                     CAST(SUM(r2y) AS BIGINT) AS sy,
                     CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
                     CAST(SUM(r2y * r2y) AS BIGINT) AS syy,
                     CAST(SUM(r2x * r2y) AS BIGINT) AS sxy
              FROM r
            )
            SELECT n AS n_users,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                        * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                     AS spearman_rho
            FROM s
        """,
        "events_kruskal_wallis": """
            WITH e AS (
              SELECT event_type AS g,
                     CAST(FLOOR(value * 100) AS BIGINT) + 1 AS v
              FROM events WHERE value IS NOT NULL
            ), r AS (
              SELECT g,
                     2 * (RANK() OVER (ORDER BY v))
                       + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
              FROM e
            ), grp AS (
              SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
                     CAST(SUM(r2) AS BIGINT) AS s2_i
              FROM r GROUP BY g
            ), agg AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
                     SUM((CAST(s2_i AS DOUBLE) / 2.0)
                         * (CAST(s2_i AS DOUBLE) / 2.0)
                         / CAST(n_i AS DOUBLE)) AS srr
              FROM grp
            ), tie AS (
              SELECT CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie3,
                     CAST(SUM(cv) AS BIGINT) AS n
              FROM (
                SELECT CAST(COUNT(*) AS BIGINT) AS cv FROM e GROUP BY v
              )
            )
            SELECT n AS n_events, k_groups,
                   ROUND(
                     (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                        * srr
                      - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                     / (1.0 - CAST(tie3 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))),
                     6) AS h_stat
            FROM agg, tie
        """,
        "events_user_engagement_ols": """
            WITH u AS (
              SELECT user_id,
                     CAST(COUNT(*) AS BIGINT) AS x,
                     CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS y
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
              GROUP BY user_id
            ), m AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(y * y) AS BIGINT) AS syy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy
              FROM u
            )
            SELECT n AS n_users,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
                   CAST(sy * sxx - sx * sxy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) AS intercept,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) AS r_squared
            FROM m
        """,
        "events_bootstrap_mean_ci": _bootstrap_oracle_sql(),
        "events_permutation_test": _permutation_oracle_sql(),
        "events_ab_cuped_adjustment": """
            WITH ev AS (
              SELECT user_id,
                     epoch_us(ts) // 3600000000 AS h,
                     CAST(FLOOR(value * 100) AS BIGINT) AS cents
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
            ), b AS (
              SELECT (MIN(h) + MAX(h)) // 2 AS hmid FROM ev
            ), ux AS (
              SELECT
                CAST(SUM(CASE WHEN h < hmid THEN cents ELSE 0 END)
                  AS BIGINT) AS x,
                CAST(SUM(CASE WHEN h >= hmid THEN cents ELSE 0 END)
                  AS BIGINT) AS y,
                md5_number_lower('ab:' || CAST(user_id AS VARCHAR)) % 2
                  = 0 AS t
              FROM ev, b GROUP BY user_id
            ), m AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(x * y) AS BIGINT) AS sxy,
                     CAST(SUM(y * y) AS BIGINT) AS syy,
                     CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
                       AS nt,
                     CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT)
                       AS syt,
                     CAST(SUM(CASE WHEN t THEN 0 ELSE y END) AS BIGINT)
                       AS syc,
                     CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT)
                       AS sxt,
                     CAST(SUM(CASE WHEN t THEN 0 ELSE x END) AS BIGINT)
                       AS sxc
              FROM ux
            )
            SELECT n AS n_users, nt AS n_treat,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
                   CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
                     - CAST(syc AS DOUBLE) / CAST(n - nt AS DOUBLE)
                     AS diff_raw,
                   (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
                     - CAST(syc AS DOUBLE) / CAST(n - nt AS DOUBLE))
                   - (CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE))
                     * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
                        - CAST(sxc AS DOUBLE) / CAST(n - nt AS DOUBLE))
                     AS diff_cuped,
                   1.0 - (CAST(n * syy - sy * sy AS DOUBLE)
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                          - 2.0 * (CAST(n * sxy - sx * sy AS DOUBLE)
                                   / CAST(n * sxx - sx * sx AS DOUBLE))
                                * (CAST(n * sxy - sx * sy AS DOUBLE)
                                   / (CAST(n AS DOUBLE)
                                      * CAST(n AS DOUBLE)))
                          + (CAST(n * sxy - sx * sy AS DOUBLE)
                             / CAST(n * sxx - sx * sx AS DOUBLE))
                            * (CAST(n * sxy - sx * sy AS DOUBLE)
                               / CAST(n * sxx - sx * sx AS DOUBLE))
                            * (CAST(n * sxx - sx * sx AS DOUBLE)
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                       / (CAST(n * syy - sy * sy AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                     AS var_reduction
            FROM m
        """,
        "events_metric_correlation_matrix": """
            WITH u AS (
              SELECT user_id,
                     CAST(COUNT(*) AS BIGINT) AS a,
                     CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT))
                       AS BIGINT) AS s,
                     CAST(MAX(CAST(FLOOR(value * 100) AS BIGINT))
                       AS BIGINT) AS b
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            ), m AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(a) AS BIGINT) AS sa,
                     CAST(SUM(s) AS BIGINT) AS ss,
                     CAST(SUM(b) AS BIGINT) AS sb,
                     CAST(SUM(a * a) AS BIGINT) AS saa,
                     CAST(SUM(s * s) AS BIGINT) AS sss,
                     CAST(SUM(b * b) AS BIGINT) AS sbb,
                     CAST(SUM(a * s) AS BIGINT) AS sas,
                     CAST(SUM(a * b) AS BIGINT) AS sab,
                     CAST(SUM(s * b) AS BIGINT) AS ssb
              FROM u
            )
            SELECT n AS n_users,
                   CAST(n * sas - sa * ss AS DOUBLE)
                     / (SQRT(CAST(n * saa - sa * sa AS DOUBLE))
                        * SQRT(CAST(n * sss - ss * ss AS DOUBLE)))
                     AS r_activity_spend,
                   CAST(n * sab - sa * sb AS DOUBLE)
                     / (SQRT(CAST(n * saa - sa * sa AS DOUBLE))
                        * SQRT(CAST(n * sbb - sb * sb AS DOUBLE)))
                     AS r_activity_peak,
                   CAST(n * ssb - ss * sb AS DOUBLE)
                     / (SQRT(CAST(n * sss - ss * ss AS DOUBLE))
                        * SQRT(CAST(n * sbb - sb * sb AS DOUBLE)))
                     AS r_spend_peak
            FROM m
        """,
        "events_simpson_slope_check": """
            WITH h0 AS (
              SELECT MIN(epoch_us(ts) // 3600000000) AS h0
              FROM events WHERE value IS NOT NULL
            ), base AS (
              SELECT event_type AS g,
                     epoch_us(ts) // 3600000000 - h0 AS x,
                     CAST(FLOOR(value * 100) AS BIGINT) AS y
              FROM events, h0 WHERE value IS NOT NULL
            ), m AS (
              SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(x * y) AS BIGINT) AS sxy
              FROM base GROUP BY g
              UNION ALL
              SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(x) AS BIGINT), CAST(SUM(y) AS BIGINT),
                     CAST(SUM(x * x) AS BIGINT),
                     CAST(SUM(x * y) AS BIGINT)
              FROM base
            ), sl AS (
              SELECT g, n AS n_events,
                     CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
              FROM m
            ), ps AS (
              SELECT SIGN(slope) AS pooled_sign FROM sl WHERE g = 'ALL'
            )
            SELECT g, n_events, slope,
                   g <> 'ALL' AND SIGN(slope) <> pooled_sign
                     AS sign_reversed
            FROM sl, ps ORDER BY g
        """,
        "events_user_survival_hazard": """
            WITH peru AS (
              SELECT user_id,
                     MIN(epoch_us(ts) // 86400000000) AS d0,
                     MAX(epoch_us(ts) // 86400000000) AS d1,
                     MIN(CASE WHEN event_type = 'purchase'
                         THEN epoch_us(ts) // 86400000000 END) AS dp
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            ), gmax AS (SELECT MAX(d1) AS gmax FROM peru),
            durs AS (
              SELECT COALESCE(dp, gmax) - d0 AS t_days,
                     CAST(SUM(CASE WHEN dp IS NULL THEN 0 ELSE 1 END)
                       AS BIGINT) AS d,
                     CAST(SUM(CASE WHEN dp IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS c
              FROM peru, gmax GROUP BY t_days
            ), risk AS (
              SELECT t_days, d,
                     CAST(SUM(d + c) OVER () AS BIGINT)
                       - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND
                           1 PRECEDING), 0) AS BIGINT) AS n_risk
              FROM durs
            ), hz AS (
              SELECT t_days, n_risk, d AS n_deaths,
                     CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard
              FROM risk WHERE d > 0
            )
            SELECT t_days, n_risk, n_deaths, hazard,
                   ROUND(SUM(hazard) OVER (ORDER BY t_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     6) AS cum_hazard
            FROM hz ORDER BY t_days
        """,
        "events_type_dow_independence": """
            WITH cells AS (
              SELECT event_type AS t,
                     (epoch_us(ts) // 86400000000) % 7 AS d,
                     CAST(COUNT(*) AS BIGINT) AS o
              FROM events GROUP BY t, d
            ), rt AS (
              SELECT t, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY t
            ), ct AS (
              SELECT d, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY d
            ), tot AS (
              SELECT CAST(SUM(o) AS BIGINT) AS n,
                     CAST(COUNT(DISTINCT t) AS BIGINT) AS r,
                     CAST(COUNT(DISTINCT d) AS BIGINT) AS c
              FROM cells
            ), terms AS (
              SELECT n, r, c,
                     (CAST(o AS DOUBLE)
                        - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(o AS DOUBLE)
                        - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                     / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                       AS term
              FROM cells JOIN rt USING (t) JOIN ct USING (d)
              CROSS JOIN tot
            )
            SELECT MIN(n) AS n_events,
                   CAST((MIN(r) - 1) * (MIN(c) - 1) AS BIGINT) AS dof,
                   ROUND(SUM(term), 6) AS chi2,
                   ROUND(SQRT(SUM(term)
                         / CAST(MIN(n) * LEAST(MIN(r) - 1, MIN(c) - 1)
                             AS DOUBLE)), 6) AS cramers_v
            FROM terms
        """,
        "orders_rfm_segmentation": """
            WITH cust AS (
              SELECT o_custkey,
                     MAX(epoch_us(o_orderdate) // 86400000000) AS r_day,
                     CAST(COUNT(*) AS BIGINT) AS f_cnt,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS m_cents
              FROM orders GROUP BY o_custkey
            ), ks AS (
              SELECT (n + 3) // 4 AS k1, (n + 1) // 2 AS k2,
                     (3 * n + 3) // 4 AS k3
              FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust)
            ), rcut AS (
              SELECT MIN(CASE WHEN cum >= k1 THEN v END) AS rc1,
                     MIN(CASE WHEN cum >= k2 THEN v END) AS rc2,
                     MIN(CASE WHEN cum >= k3 THEN v END) AS rc3
              FROM (SELECT r_day AS v,
                           SUM(COUNT(*)) OVER (ORDER BY r_day) AS cum
                    FROM cust GROUP BY r_day), ks
            ), fcut AS (
              SELECT MIN(CASE WHEN cum >= k1 THEN v END) AS fc1,
                     MIN(CASE WHEN cum >= k2 THEN v END) AS fc2,
                     MIN(CASE WHEN cum >= k3 THEN v END) AS fc3
              FROM (SELECT f_cnt AS v,
                           SUM(COUNT(*)) OVER (ORDER BY f_cnt) AS cum
                    FROM cust GROUP BY f_cnt), ks
            ), mcut AS (
              SELECT MIN(CASE WHEN cum >= k1 THEN v END) AS mc1,
                     MIN(CASE WHEN cum >= k2 THEN v END) AS mc2,
                     MIN(CASE WHEN cum >= k3 THEN v END) AS mc3
              FROM (SELECT m_cents AS v,
                           SUM(COUNT(*)) OVER (ORDER BY m_cents) AS cum
                    FROM cust GROUP BY m_cents), ks
            )
            SELECT CAST(1 + CAST(r_day > rc1 AS INTEGER)
                          + CAST(r_day > rc2 AS INTEGER)
                          + CAST(r_day > rc3 AS INTEGER) AS VARCHAR)
                   || CAST(1 + CAST(f_cnt > fc1 AS INTEGER)
                          + CAST(f_cnt > fc2 AS INTEGER)
                          + CAST(f_cnt > fc3 AS INTEGER) AS VARCHAR)
                   || CAST(1 + CAST(m_cents > mc1 AS INTEGER)
                          + CAST(m_cents > mc2 AS INTEGER)
                          + CAST(m_cents > mc3 AS INTEGER) AS VARCHAR)
                     AS segment,
                   COUNT(*) AS n_customers,
                   CAST(SUM(m_cents) AS BIGINT) AS segment_cents
            FROM cust, rcut, fcut, mcut
            GROUP BY segment
            ORDER BY segment
        """,
        "events_forecast_backtest": """
            WITH hourly AS (
              SELECT epoch_us(ts) // 3600000000 AS h,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY h
            ), hmax AS (SELECT MAX(h) AS hmax FROM hourly),
            lagged AS (
              SELECT a.h, a.c, b.c AS l24, d.c AS l1
              FROM hourly a
              JOIN hourly b ON b.h = a.h - 24
              JOIN hourly d ON d.h = a.h - 1
              CROSS JOIN hmax
              WHERE a.h > hmax - 168
            ), agg AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_backtest_hours,
                     CAST(SUM(ABS(c - l24)) AS BIGINT) AS ss,
                     CAST(SUM(ABS(c - l1)) AS BIGINT) AS sn
              FROM lagged
            )
            SELECT n_backtest_hours,
                   CAST(ss AS DOUBLE) / CAST(n_backtest_hours AS DOUBLE)
                     AS mae_seasonal,
                   CAST(sn AS DOUBLE) / CAST(n_backtest_hours AS DOUBLE)
                     AS mae_naive,
                   CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE) AS skill_ratio
            FROM agg
        """,
        "orders_pipe_syntax_summary": """
            SELECT o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS total_cents,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                     AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_cents
            FROM orders
            WHERE o_orderstatus <> 'P'
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "lineitem_dq_expectations": """
            WITH base AS (SELECT COUNT(*) AS n FROM lineitem),
            dup AS (
              SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v FROM (
                SELECT COUNT(*) AS c FROM lineitem
                GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
              )
            ),
            fk AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
              WHERE l_orderkey IS NOT NULL
                AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
            ),
            qty AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
              WHERE l_quantity < 1 OR l_quantity > 50
            ),
            disc AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
              WHERE l_discount < 0 OR l_discount > CAST(0.1 AS DOUBLE)
            ),
            nn AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
              WHERE l_shipdate IS NULL
            )
            SELECT '1_pk_unique' AS check_name, n AS n_checked,
                   dup.v AS n_violations, dup.v = 0 AS passed
            FROM base, dup
            UNION ALL
            SELECT '2_fk_orders', n, fk.v, fk.v = 0 FROM base, fk
            UNION ALL
            SELECT '3_quantity_range', n, qty.v, qty.v = 0 FROM base, qty
            UNION ALL
            SELECT '4_discount_range', n, disc.v, disc.v = 0 FROM base, disc
            UNION ALL
            SELECT '5_shipdate_not_null', n, nn.v, nn.v = 0 FROM base, nn
            ORDER BY check_name
        """,
        "events_cusum_changepoint": """
            WITH hourly AS (
              SELECT epoch_us(ts) // 3600000000 AS h,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY h
            ), cum AS (
              SELECT h,
                     CAST(SUM(c) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
                     CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS t
              FROM hourly
            ), tot AS (
              SELECT CAST(MAX(t) AS BIGINT) AS n_hours,
                     CAST(MAX(s) AS BIGINT) AS n_events
              FROM cum
            )
            SELECT h AS change_hour,
                   ABS(n_hours * s - t * n_events) AS d_stat,
                   CAST(ABS(n_hours * s - t * n_events) AS DOUBLE)
                     / CAST(n_hours * n_events AS DOUBLE) AS d_norm
            FROM cum, tot
            ORDER BY d_stat DESC, h ASC LIMIT 1
        """,
        "events_anova_f_oneway": """
            WITH ev AS (
              SELECT event_type,
                     CAST(FLOOR(value * 100.0) AS BIGINT) AS x
              FROM events WHERE value IS NOT NULL
            ), g AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_i,
                     CAST(SUM(x) AS BIGINT) AS s_i
              FROM ev GROUP BY event_type
            ), tot AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(x) AS BIGINT) AS s,
                     CAST(SUM(x * x) AS BIGINT) AS q
              FROM ev
            ), fold AS (
              SELECT CAST(COUNT(*) AS INTEGER) AS k,
                     list_reduce(
                       list(CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                            / CAST(n_i AS DOUBLE) ORDER BY event_type),
                       (acc, x) -> acc + x
                     ) AS b
              FROM g
            ), stats AS (
              SELECT k, n,
                     b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE) AS ssb,
                     CAST(q AS DOUBLE) - b AS ssw
              FROM fold, tot
            )
            SELECT k, n, ssb, ssw,
                   (ssb / CAST(k - 1 AS DOUBLE))
                     / (ssw / CAST(n - k AS DOUBLE)) AS f_stat
            FROM stats
        """,
        "part_name_fuzzy_match": """
            WITH p AS (
              SELECT p_partkey, p_name,
                     string_split(p_name, ' ')[1] AS blk,
                     LENGTH(p_name) // 3 AS lb
              FROM part
            ), pairs AS (
              SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                     levenshtein(a.p_name, b.p_name) AS dist
              FROM p a JOIN p b
                ON a.blk = b.blk
               AND ABS(a.lb - b.lb) <= 1
               AND a.p_partkey < b.p_partkey
              WHERE ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
            ), hits AS (
              SELECT * FROM pairs WHERE dist <= 2
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_exact,
                   CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dist1,
                   CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dist2,
                   CAST(SUM(dist) AS BIGINT) AS sum_dist
            FROM hits
        """,
        "part_catalog_reconciliation": """
            WITH cat AS (
              SELECT DISTINCT p_name AS cat_name FROM part
            ), vendor AS (
              SELECT cat_name AS vid,
                     CAST(md5_number_lower('tok:' || cat_name)
                          % len(string_split(cat_name, ' ')) AS INTEGER)
                       AS k,
                     md5_number_lower('typo:' || cat_name) % 4 = 0
                       AS is_typo
              FROM cat
            ), feed AS (
              SELECT vid,
                     CASE WHEN is_typo THEN array_to_string(
                       list_transform(string_split(vid, ' '),
                         (t, i) -> CASE WHEN i = k + 1
                                        THEN substr(t, 2) ELSE t END),
                       ' ')
                     ELSE vid END AS vendor_name
              FROM vendor
            ), vkeys AS (
              SELECT DISTINCT vid, vendor_name, UNNEST(
                list_transform(string_split(vendor_name, ' '),
                  (t, j) -> array_to_string(
                    list_filter(string_split(vendor_name, ' '),
                      (x, i) -> i <> j), ' '))
              ) AS bkey
              FROM feed
            ), ckeys AS (
              SELECT DISTINCT cat_name, UNNEST(
                list_transform(string_split(cat_name, ' '),
                  (t, j) -> array_to_string(
                    list_filter(string_split(cat_name, ' '),
                      (x, i) -> i <> j), ' '))
              ) AS bkey
              FROM cat
            ), cand AS (
              SELECT DISTINCT v.vid, v.vendor_name, c.cat_name
              FROM vkeys v JOIN ckeys c ON c.bkey = v.bkey
            ), verified AS (
              SELECT vid, cat_name,
                     levenshtein(vendor_name, cat_name) AS dist
              FROM cand
              WHERE levenshtein(vendor_name, cat_name) <= 2
            ), best AS (
              SELECT vid, dist,
                     ROW_NUMBER() OVER (PARTITION BY vid
                                        ORDER BY dist, cat_name) AS rn
              FROM verified
            )
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM vendor)
                     AS n_vendor,
                   CAST(COUNT(*) AS BIGINT) AS n_matched,
                   CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_exact,
                   CAST(SUM(CASE WHEN dist >= 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_fuzzy,
                   CAST(SUM(dist) AS BIGINT) AS sum_dist
            FROM best WHERE rn = 1
        """,
        "events_hourly_ewma": """
            WITH hourly AS (
              SELECT epoch_us(ts) // 3600000000 AS h,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY h
            ), arr AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
                     CAST(MAX(h) AS BIGINT) AS last_hour,
                     CAST(SUM(c) AS BIGINT) AS n_events,
                     list(CAST(c AS DOUBLE) ORDER BY h) AS l
              FROM hourly
            ), e AS (
              SELECT n_hours, last_hour, n_events,
                     list_reduce(
                       l, (acc, x) -> (acc + x) / CAST(2 AS DOUBLE)
                     ) AS ewma_last
              FROM arr
            )
            SELECT n_hours, last_hour, n_events, ewma_last,
                   ewma_last / (CAST(n_events AS DOUBLE)
                                / CAST(n_hours AS DOUBLE)) AS ewma_to_mean
            FROM e
        """,
        "iceberg_add_files_read": """
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
                   TRUE AS duplicate_refused
            FROM documents
            WHERE source IN ('src0', 'src1', 'src2', 'src3')
            GROUP BY source
            ORDER BY source
        """,
        "iceberg_sorted_rewrite_pruned_read": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
                   CAST(4 AS BIGINT) AS files_scanned_pre,
                   CAST(1 AS BIGINT) AS files_scanned_post
            FROM documents
        """,
        "events_dau_wau_stickiness": """
            WITH ev AS (
              SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
              FROM events WHERE user_id IS NOT NULL
            ), days AS (
              SELECT DISTINCT day FROM ev
            ), dau AS (
              SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
              FROM ev GROUP BY day
            ), wau AS (
              SELECT d.day,
                     CAST(COUNT(DISTINCT e.day) AS INTEGER)
                       AS n_days_in_window,
                     CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
              FROM days d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
              GROUP BY d.day
            )
            SELECT w.day, w.n_days_in_window, dau.dau, w.wau,
                   CAST(dau.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)
                     AS stickiness
            FROM wau w JOIN dau ON dau.day = w.day
            ORDER BY w.day
        """,
        "events_trailing_6h_p95": """
            WITH ev AS (
              SELECT epoch_us(ts) // 3600000000 AS h,
                     CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
              FROM events
            ), hours AS (
              SELECT DISTINCT h FROM ev
            ), win AS (
              SELECT hours.h AS hour, e.h AS src_h, e.cents
              FROM hours JOIN ev e ON e.h BETWEEN hours.h - 5 AND hours.h
            ), nh AS (
              SELECT hour,
                     CAST(COUNT(DISTINCT src_h) AS INTEGER)
                       AS n_hours_in_window
              FROM win GROUP BY hour
            ), cum AS (
              SELECT hour, cents,
                     SUM(COUNT(*)) OVER (PARTITION BY hour ORDER BY cents)
                       AS c,
                     SUM(COUNT(*)) OVER (PARTITION BY hour) AS n
              FROM win GROUP BY hour, cents
            ), p AS (
              SELECT hour, CAST(MAX(n) AS BIGINT) AS n_events,
                     MIN(CASE WHEN c >= 0.95 * n THEN cents END)
                       AS p95_cents
              FROM cum GROUP BY hour
            )
            SELECT p.hour, nh.n_hours_in_window, p.n_events, p.p95_cents
            FROM p JOIN nh ON nh.hour = p.hour
            ORDER BY p.hour
        """,
        "part_cooccurrence_triangles": """
            WITH op AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), edges AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
              WHERE a.l_partkey < b.l_partkey
              GROUP BY 1, 2
              HAVING COUNT(*) >= 2
            ), deg AS (
              SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT pa AS p FROM edges
                UNION ALL SELECT pb AS p FROM edges
              ) GROUP BY p
            ), w AS (
              SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS w FROM deg
            ), t AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS t
              FROM edges e1
              JOIN edges e2 ON e2.pa = e1.pb
              JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
            ), ne AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
            )
            SELECT ne.n_edges, w.w AS n_wedges, t.t AS n_triangles,
                   CASE WHEN w.w > 0
                        THEN CAST(3 * t.t AS DOUBLE) / CAST(w.w AS DOUBLE)
                   END AS clustering_coefficient
            FROM ne, w, t
        """,
        "events_type_lift_matrix": """
            WITH ut AS (
              SELECT DISTINCT user_id, event_type FROM events
              WHERE user_id IS NOT NULL
            ), n AS (
              SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM ut
            ), tc AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
              FROM ut GROUP BY event_type
            ), p AS (
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                     CAST(COUNT(*) AS BIGINT) AS n_ab
              FROM ut a JOIN ut b ON a.user_id = b.user_id
              WHERE a.event_type < b.event_type
              GROUP BY 1, 2
            )
            SELECT p.type_a, p.type_b, p.n_ab,
                   ta.n_t AS n_a, tb.n_t AS n_b,
                   CAST(p.n_ab * n.n_users AS DOUBLE)
                     / CAST(ta.n_t * tb.n_t AS DOUBLE) AS lift
            FROM p
            JOIN tc ta ON ta.event_type = p.type_a
            JOIN tc tb ON tb.event_type = p.type_b
            CROSS JOIN n
            ORDER BY type_a, type_b
        """,
        "customer_k_anonymity_audit": """
            WITH qi AS (
              SELECT c_nationkey, c_mktsegment,
                     FLOOR(c_acctbal / CAST(100 AS DOUBLE)) AS bal_band,
                     CAST(COUNT(*) AS BIGINT) AS g
              FROM customer GROUP BY 1, 2, 3
            ), s AS (
              SELECT CAST(SUM(g) AS BIGINT) AS n_rows,
                     CAST(COUNT(*) AS BIGINT) AS n_groups,
                     CAST(MIN(g) AS BIGINT) AS min_group_size,
                     CAST(SUM(CASE WHEN g < 5 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_violating_groups,
                     CAST(SUM(CASE WHEN g < 5 THEN g ELSE 0 END) AS BIGINT)
                       AS n_suppressed_rows
              FROM qi
            )
            SELECT n_rows, n_groups, min_group_size, n_violating_groups,
                   n_suppressed_rows,
                   CAST(n_suppressed_rows AS DOUBLE)
                     / CAST(n_rows AS DOUBLE) AS suppression_rate
            FROM s
        """,
        "events_user_gini": """
            WITH counts AS (
              SELECT user_id, COUNT(*) AS x FROM events
              WHERE user_id IS NOT NULL GROUP BY user_id
            ), ranked AS (
              SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, user_id ASC)
                       AS i
              FROM counts
            ), s AS (
              SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(i * x) AS BIGINT) AS six
              FROM ranked
            )
            SELECT n, sx,
                   ROUND(2.0 * six / (n * sx)
                         - (n + 1) / CAST(n AS DOUBLE), 6) AS gini
            FROM s
        """,
        "events_funnel_conversion": """
            WITH s AS (
              SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
              WHERE event_type = 'signup' AND user_id IS NOT NULL
              GROUP BY user_id
            ), p AS (
              SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us,
                     ANY_VALUE(s.s_us) AS s_us
              FROM events e JOIN s USING (user_id)
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_us
              GROUP BY e.user_id
            ), conv AS (SELECT * FROM p WHERE p_us - s_us <= 86400000000)
            SELECT (SELECT COUNT(*) FROM s) AS n_signup_users,
                   (SELECT COUNT(*) FROM conv) AS n_converted,
                   CAST((SELECT COUNT(*) FROM conv) AS DOUBLE)
                         / (SELECT COUNT(*) FROM s) AS conv_rate,
                   (CAST((SELECT SUM(p_us - s_us) FROM conv)
                               AS DOUBLE)
                          / (SELECT COUNT(*) FROM conv)) / 60000000.0
                     AS avg_minutes_to_convert
        """,
        "doc_zipf_slope": """
            WITH words AS (
              SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)),
                                                  '\\s+')) AS w
              FROM documents WHERE TRIM(text) <> ''
            ), freq AS (
              SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words
              WHERE w <> '' GROUP BY w
            ), top AS (
              SELECT ln(CAST(r AS DOUBLE)) AS x,
                     ln(CAST(c AS DOUBLE)) AS y
              FROM (SELECT c, w,
                           ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS r
                    FROM freq)
              WHERE r <= 1000
            ), s AS (
              SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x * y) AS sxy, SUM(x * x) AS sxx
              FROM top
            )
            SELECT n,
                   ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                     AS slope,
                   ROUND((sy - ((n * sxy - sx * sy)
                                / (n * sxx - sx * sx)) * sx) / n, 6)
                     AS intercept
            FROM s
        """,
        "doc_bm25_topk": """
            WITH words AS (
              SELECT doc_id,
                     UNNEST(regexp_split_to_array(TRIM(LOWER(text)),
                                                  '\\s+')) AS w
              FROM documents
            ), words2 AS (SELECT * FROM words WHERE w <> ''),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM words2
                   GROUP BY doc_id),
            stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                      FROM dl),
            n AS (SELECT COUNT(*) AS n_docs FROM documents),
            tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words2
                   WHERE w IN ('the', 'data', 'model')
                   GROUP BY doc_id, w),
            dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
            parts AS (
              SELECT t.doc_id,
                     ln((CAST(n.n_docs AS DOUBLE) - d.df
                         + CAST(0.5 AS DOUBLE))
                        / (d.df + CAST(0.5 AS DOUBLE))
                        + CAST(1.0 AS DOUBLE))
                     * (t.tf * CAST(2.2 AS DOUBLE))
                     / (t.tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl)))
                       AS part
              FROM tf t JOIN dfreq d USING (w) JOIN dl l USING (doc_id),
                   n, stats s
            )
            SELECT doc_id, ROUND(SUM(part), 6) AS bm25
            FROM parts GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id LIMIT 25
        """,
        "events_user_trailing_hour": """
            SELECT event_id,
                   COUNT(*) OVER w AS n_in_hour,
                   CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) OVER w
                        AS BIGINT) AS cents_in_hour
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            ORDER BY event_id
        """,
        # range join: plain inequality join in the oracle; the engine's
        # bucket-expansion equi-join must produce identical pairs.
        # epoch_us == Spark unix_micros (integer µs, no fp boundary flips).
        "purchase_prior_events_range_join": """
            WITH p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            )
            SELECT p.event_id,
                   COUNT(e.event_id) AS n_prior,
                   CAST(COALESCE(SUM(CASE WHEN e.event_type = 'view'
                                          THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_prior_views
            FROM p LEFT JOIN events e
              ON e.user_id = p.user_id
             AND epoch_us(e.ts) >= epoch_us(p.ts) - 1800000000
             AND epoch_us(e.ts) <= epoch_us(p.ts)
             AND e.event_id <> p.event_id
            GROUP BY p.event_id ORDER BY p.event_id
        """,
        # daily p95: exact-map grouped digests => per-group Nearest-Rank is
        # exact for ANY data; 0.95*n doubles are IEEE-identical both sides
        "events_daily_p95_by_type": """
            WITH b AS (
              SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                     CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
              FROM events
            ), cum AS (
              SELECT event_type, day, cents,
                     SUM(COUNT(*)) OVER (PARTITION BY event_type, day
                                         ORDER BY cents) AS c,
                     SUM(COUNT(*)) OVER (PARTITION BY event_type, day) AS n
              FROM b GROUP BY event_type, day, cents
            )
            SELECT event_type, day,
                   CAST(MAX(n) AS BIGINT) AS n_events,
                   MIN(CASE WHEN c >= 0.95 * n THEN cents END) AS p95_cents
            FROM cum GROUP BY event_type, day
            ORDER BY event_type, day
        """,
        # MAD: stage-1 Nearest-Rank median is an exact data value, so the
        # stage-2 deviations ABS(x - m) are integer-valued doubles — both
        # digest passes reproduce closed-form
        "discrete_quantity_mad": """
            WITH cum AS (
              SELECT CAST(l_quantity AS DOUBLE) AS v,
                     SUM(COUNT(*)) OVER (ORDER BY l_quantity) AS c,
                     SUM(COUNT(*)) OVER () AS n
              FROM lineitem GROUP BY l_quantity
            ), med AS (
              SELECT MIN(v) AS m FROM cum WHERE c >= 0.5 * n
            ), dcum AS (
              SELECT ABS(CAST(l_quantity AS DOUBLE) - (SELECT m FROM med)) AS d,
                     SUM(COUNT(*)) OVER (
                       ORDER BY ABS(CAST(l_quantity AS DOUBLE)
                                    - (SELECT m FROM med))) AS c,
                     SUM(COUNT(*)) OVER () AS n
              FROM lineitem GROUP BY 1
            )
            SELECT (SELECT m FROM med) AS median,
                   (SELECT MIN(d) FROM dcum WHERE c >= 0.5 * n) AS mad
        """,
        "tdigest_quantity_centroids": """
            SELECT CAST(l_quantity AS DOUBLE) AS mean,
                   CAST(COUNT(*) AS DOUBLE) AS n
            FROM lineitem GROUP BY l_quantity ORDER BY mean
        """,
        "tdigest_quantity_cdf": f"""
            SELECT CAST(x AS DOUBLE) AS x,
                   (SUM(CASE WHEN l_quantity < x THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN l_quantity = x THEN 1 ELSE 0 END) / 2.0)
                   / COUNT(*) AS cdf
            FROM lineitem, {qty_cdf_xs}
            GROUP BY x ORDER BY x
        """,
        # probe surface: bucket thresholds are digest mid-CDF values —
        # numerator/denominator exact in double, so > compares bit-safely
        "lineitem_quantile_buckets": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS v,
                     CAST(COUNT(*) AS DOUBLE) AS c
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT v,
                     (SUM(c) OVER (ORDER BY v) - c + c / 2)
                       / (SUM(c) OVER ()) AS r
              FROM cent
            ), dim AS (
              SELECT v,
                     CAST(1 + CASE WHEN r > 0.25 THEN 1 ELSE 0 END
                            + CASE WHEN r > 0.5  THEN 1 ELSE 0 END
                            + CASE WHEN r > 0.75 THEN 1 ELSE 0 END
                          AS INTEGER) AS bucket
              FROM cum
            )
            SELECT bucket, COUNT(*) AS n_rows,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem l JOIN dim ON CAST(l.l_quantity AS DOUBLE) = dim.v
            GROUP BY bucket ORDER BY bucket
        """,
        "tdigest_quantity_quantiles": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS mean,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT mean, w,
                     SUM(w) OVER (ORDER BY mean) - w / 2 AS mc,
                     SUM(w) OVER () AS n
              FROM cent
            ), ps AS (
              SELECT * FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.95)) t(p)
            ), brackets AS (
              SELECT p,
                     MAX(CASE WHEN mc <= p * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  p * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= p * n THEN mean END) AS m_lo,
                     MIN(CASE WHEN mc >  p * n THEN mean END) AS m_hi,
                     ANY_VALUE(n) AS n
              FROM ps, cum GROUP BY p
            )
            SELECT CAST(p AS DOUBLE) AS p,
                   ROUND(m_lo + ((m_hi - m_lo) / (mc_hi - mc_lo)) * (p * n - mc_lo), 6) AS q
            FROM brackets ORDER BY p
        """,
        "tdigest_summary": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS mean,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT mean, w,
                     SUM(w) OVER (ORDER BY mean) - w / 2 AS mc,
                     SUM(w) OVER () AS n
              FROM cent
            ), ps AS (
              SELECT * FROM (VALUES (0.25),(0.5),(0.75)) t(p)
            ), brackets AS (
              SELECT p,
                     MAX(CASE WHEN mc <= p * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  p * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= p * n THEN mean END) AS m_lo,
                     MIN(CASE WHEN mc >  p * n THEN mean END) AS m_hi,
                     ANY_VALUE(n) AS n
              FROM ps, cum GROUP BY p
            )
            SELECT CAST(0.0 AS DOUBLE) AS p, MIN(CAST(l_quantity AS DOUBLE)) AS q FROM lineitem
            UNION ALL
            SELECT CAST(p AS DOUBLE) AS p,
                   ROUND(m_lo + ((m_hi - m_lo) / (mc_hi - mc_lo)) * (p * n - mc_lo), 6) AS q
            FROM brackets
            UNION ALL
            SELECT CAST(1.0 AS DOUBLE) AS p, MAX(CAST(l_quantity AS DOUBLE)) AS q FROM lineitem
            ORDER BY p
        """,
        "tdigest_checkpoint_resume": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS mean,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT mean, w,
                     SUM(w) OVER (ORDER BY mean) - w / 2 AS mc,
                     SUM(w) OVER () AS n
              FROM cent
            ), ps AS (
              SELECT * FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.95)) t(p)
            ), brackets AS (
              SELECT p,
                     MAX(CASE WHEN mc <= p * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  p * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= p * n THEN mean END) AS m_lo,
                     MIN(CASE WHEN mc >  p * n THEN mean END) AS m_hi,
                     ANY_VALUE(n) AS n
              FROM ps, cum GROUP BY p
            )
            SELECT CAST(p AS DOUBLE) AS p,
                   ROUND(m_lo + ((m_hi - m_lo) / (mc_hi - mc_lo)) * (p * n - mc_lo), 6) AS q
            FROM brackets ORDER BY p
        """,
        "tdigest_tree_merged_quantiles": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS mean,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT mean, w,
                     SUM(w) OVER (ORDER BY mean) - w / 2 AS mc,
                     SUM(w) OVER () AS n
              FROM cent
            ), ps AS (
              SELECT * FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.95)) t(p)
            ), brackets AS (
              SELECT p,
                     MAX(CASE WHEN mc <= p * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  p * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= p * n THEN mean END) AS m_lo,
                     MIN(CASE WHEN mc >  p * n THEN mean END) AS m_hi,
                     ANY_VALUE(n) AS n
              FROM ps, cum GROUP BY p
            )
            SELECT CAST(p AS DOUBLE) AS p,
                   ROUND(m_lo + ((m_hi - m_lo) / (mc_hi - mc_lo)) * (p * n - mc_lo), 6) AS q
            FROM brackets ORDER BY p
        """,
        "tdigest_weighted_quantiles": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS mean,
                     CAST(SUM(l_linenumber) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT mean, w,
                     SUM(w) OVER (ORDER BY mean) - w / 2 AS mc,
                     SUM(w) OVER () AS n
              FROM cent
            ), ps AS (
              SELECT * FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.95)) t(p)
            ), brackets AS (
              SELECT p,
                     MAX(CASE WHEN mc <= p * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  p * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= p * n THEN mean END) AS m_lo,
                     MIN(CASE WHEN mc >  p * n THEN mean END) AS m_hi,
                     ANY_VALUE(n) AS n
              FROM ps, cum GROUP BY p
            )
            SELECT CAST(p AS DOUBLE) AS p,
                   ROUND(m_lo + ((m_hi - m_lo) / (mc_hi - mc_lo)) * (p * n - mc_lo), 6) AS q
            FROM brackets ORDER BY p
        """,
        "tdigest_weighted_by_flag": """
            WITH cent AS (
              SELECT l_returnflag AS flag,
                     CAST(l_quantity AS DOUBLE) AS mean,
                     CAST(SUM(l_linenumber) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_returnflag, l_quantity
            ), cum AS (
              SELECT flag, mean, w,
                     SUM(w) OVER (PARTITION BY flag ORDER BY mean) - w / 2
                       AS mc,
                     SUM(w) OVER (PARTITION BY flag) AS n
              FROM cent
            ), ps AS (
              SELECT * FROM (VALUES (0.25),(0.5),(0.75),(0.9)) t(p)
            ), brackets AS (
              SELECT flag, p,
                     MAX(CASE WHEN mc <= p * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  p * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= p * n THEN mean END) AS m_lo,
                     MIN(CASE WHEN mc >  p * n THEN mean END) AS m_hi,
                     ANY_VALUE(n) AS n
              FROM ps, cum GROUP BY flag, p
            )
            SELECT flag, CAST(p AS DOUBLE) AS p,
                   ROUND(m_lo + ((m_hi - m_lo) / (mc_hi - mc_lo))
                         * (p * n - mc_lo), 6) AS q
            FROM brackets ORDER BY flag, p
        """,
        "discrete_quantile_quantity": """
            WITH cum AS (
              SELECT CAST(l_quantity AS DOUBLE) AS v, COUNT(*) AS w,
                     SUM(COUNT(*)) OVER (ORDER BY l_quantity) AS c,
                     SUM(COUNT(*)) OVER () AS n
              FROM lineitem GROUP BY l_quantity
            ), ps AS (
              SELECT * FROM (VALUES (0.01),(0.1),(0.25),(0.5),(0.75),(0.9),(0.99),(1.0)) t(p)
            )
            SELECT CAST(p AS DOUBLE) AS p, MIN(v) AS q
            FROM ps JOIN cum ON c >= p * n
            GROUP BY p ORDER BY p
        """,
        "tdigest_winsorized_mean": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS v,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT v, w,
                     SUM(w) OVER (ORDER BY v) AS chi,
                     SUM(w) OVER (ORDER BY v) - w AS clo,
                     SUM(w) OVER (ORDER BY v) - w / 2 AS mc,
                     SUM(w) OVER () AS n
              FROM cent
            ), wins AS (
              SELECT CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi
              FROM (VALUES (0.0, 1.0), (0.05, 0.95), (0.1, 0.9),
                           (0.25, 0.75)) t(lo, hi)
            ), br AS (
              SELECT lo, hi, ANY_VALUE(n) AS n,
                     MAX(CASE WHEN mc <= lo * n THEN mc END) AS lmc_lo,
                     MIN(CASE WHEN mc >  lo * n THEN mc END) AS lmc_hi,
                     MAX(CASE WHEN mc <= lo * n THEN v END) AS lm_lo,
                     MIN(CASE WHEN mc >  lo * n THEN v END) AS lm_hi,
                     MAX(CASE WHEN mc <= hi * n THEN mc END) AS hmc_lo,
                     MIN(CASE WHEN mc >  hi * n THEN mc END) AS hmc_hi,
                     MAX(CASE WHEN mc <= hi * n THEN v END) AS hm_lo,
                     MIN(CASE WHEN mc >  hi * n THEN v END) AS hm_hi,
                     SUM(v * GREATEST(LEAST(chi, hi * n)
                                      - GREATEST(clo, lo * n), 0)) AS num
              FROM wins, cum GROUP BY lo, hi
            ), q AS (
              SELECT lo, hi, n, num,
                     CASE WHEN lo <= 0.0 OR lmc_lo IS NULL
                            THEN (SELECT MIN(v) FROM cent)
                          WHEN lmc_hi IS NULL
                            THEN (SELECT MAX(v) FROM cent)
                          ELSE lm_lo + ((lm_hi - lm_lo)
                                        / (lmc_hi - lmc_lo))
                               * (lo * n - lmc_lo) END AS qlo,
                     CASE WHEN hi >= 1.0 OR hmc_hi IS NULL
                            THEN (SELECT MAX(v) FROM cent)
                          WHEN hmc_lo IS NULL
                            THEN (SELECT MIN(v) FROM cent)
                          ELSE hm_lo + ((hm_hi - hm_lo)
                                        / (hmc_hi - hmc_lo))
                               * (hi * n - hmc_lo) END AS qhi
              FROM br
            )
            SELECT lo, hi,
                   ROUND((lo * n * qlo + num + (n - hi * n) * qhi) / n, 6)
                     AS wmean
            FROM q ORDER BY lo
        """,
        "tdigest_trimmed_mean": """
            WITH cent AS (
              SELECT CAST(l_quantity AS DOUBLE) AS v,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_quantity
            ), cum AS (
              SELECT v, w,
                     SUM(w) OVER (ORDER BY v) AS chi,
                     SUM(w) OVER (ORDER BY v) - w AS clo,
                     SUM(w) OVER () AS n
              FROM cent
            ), wins AS (
              SELECT CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi
              FROM (VALUES (0.0, 1.0), (0.05, 0.95), (0.1, 0.9),
                           (0.25, 0.75)) t(lo, hi)
            )
            SELECT lo, hi,
                   ROUND(
                     SUM(v * GREATEST(LEAST(chi, hi * n)
                                      - GREATEST(clo, lo * n), 0))
                     / SUM(GREATEST(LEAST(chi, hi * n)
                                    - GREATEST(clo, lo * n), 0)), 6
                   ) AS tmean
            FROM wins, cum
            GROUP BY lo, hi ORDER BY lo
        """,
        "discrete_chars_cube_from_merges": """
            WITH base AS (
              SELECT source, lang, CAST(n_chars AS DOUBLE) AS v
              FROM documents WHERE source IN ('src0', 'src1', 'src2')
            ), cells AS (
              SELECT COALESCE(source, '__all__') AS source,
                     COALESCE(lang, '__all__') AS lang,
                     v, COUNT(*) AS w
              FROM base GROUP BY CUBE(source, lang), v
            ), cum AS (
              SELECT source, lang, v,
                     SUM(w) OVER (PARTITION BY source, lang
                                  ORDER BY v) AS c,
                     SUM(w) OVER (PARTITION BY source, lang) AS n
              FROM cells
            )
            SELECT source, lang, CAST(MAX(n) AS BIGINT) AS n,
                   MIN(CASE WHEN c >= 0.5 * n THEN v END) AS p50
            FROM cum GROUP BY source, lang ORDER BY source, lang
        """,
        "discrete_chars_by_source_rollup": """
            WITH cum AS (
              SELECT source, CAST(n_chars AS DOUBLE) AS v,
                     SUM(COUNT(*)) OVER (PARTITION BY source ORDER BY n_chars) AS c,
                     SUM(COUNT(*)) OVER (PARTITION BY source) AS n
              FROM documents GROUP BY source, n_chars
            ), per AS (
              SELECT source, CAST(MAX(n) AS BIGINT) AS n,
                     MIN(CASE WHEN c >= 0.5 * n THEN v END) AS p50,
                     MIN(CASE WHEN c >= 0.9 * n THEN v END) AS p90
              FROM cum GROUP BY source
            ), g_cum AS (
              SELECT CAST(n_chars AS DOUBLE) AS v,
                     SUM(COUNT(*)) OVER (ORDER BY n_chars) AS c,
                     SUM(COUNT(*)) OVER () AS n
              FROM documents GROUP BY n_chars
            ), g_all AS (
              SELECT '__all__' AS source, CAST(MAX(n) AS BIGINT) AS n,
                     MIN(CASE WHEN c >= 0.5 * n THEN v END) AS p50,
                     MIN(CASE WHEN c >= 0.9 * n THEN v END) AS p90
              FROM g_cum
            )
            SELECT * FROM per UNION ALL SELECT * FROM g_all
            ORDER BY source
        """,
        "autodigest_modes": """
            SELECT * FROM (VALUES
              ('l_extendedprice', 'cont', TRUE),
              ('l_quantity', 'disc', TRUE)
            ) t(column_name, mode, size_bounded)
        """,
        "kll_rank_error_check": """
            SELECT CAST(p AS DOUBLE) AS p, TRUE AS within_bound
            FROM (VALUES (0.01),(0.1),(0.25),(0.5),(0.75),(0.9),(0.99)) t(p)
        """,
        # DDSketch is exact-in-SQL by construction: bucket counts over
        # idx = ceil(ln(x)/ln(gamma)), quantile = first bucket whose
        # running count exceeds floor(p*(n-1)), est = 2*gamma^idx/(gamma+1)
        "ddsketch_price_quantiles": """
            WITH b AS (
              SELECT CAST(ceil(ln(l_extendedprice)
                              / ln(CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE)))
                          AS BIGINT) AS idx,
                     COUNT(*) AS c
              FROM lineitem GROUP BY 1
            ), cum AS (
              SELECT idx, SUM(c) OVER (ORDER BY idx) AS cum,
                     SUM(c) OVER () AS n
              FROM b
            ), ps AS (
              SELECT CAST(p AS DOUBLE) AS p
              FROM (VALUES (0.01),(0.1),(0.25),(0.5),(0.75),(0.9),(0.99)) t(p)
            ), sel AS (
              SELECT ps.p, MIN(cum.idx) AS bucket_idx
              FROM ps JOIN cum
                ON CAST(cum.cum AS DOUBLE) > floor(ps.p * (CAST(cum.n AS DOUBLE) - 1))
              GROUP BY ps.p
            )
            SELECT p, bucket_idx,
                   ROUND(2 * power(CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE),
                                   bucket_idx)
                         / (CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE) + 1),
                         6) AS est
            FROM sel ORDER BY p
        """,
        "ddsketch_price_by_flag": """
            WITH b AS (
              SELECT l_returnflag,
                     CAST(ceil(ln(l_extendedprice)
                              / ln(CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE)))
                          AS BIGINT) AS idx,
                     COUNT(*) AS c
              FROM lineitem GROUP BY 1, 2
            ), cum AS (
              SELECT l_returnflag, idx,
                     SUM(c) OVER (PARTITION BY l_returnflag ORDER BY idx) AS cum,
                     SUM(c) OVER (PARTITION BY l_returnflag) AS n
              FROM b
            ), ps AS (
              SELECT CAST(p AS DOUBLE) AS p FROM (VALUES (0.5),(0.99)) t(p)
            ), sel AS (
              SELECT cum.l_returnflag, ps.p, ANY_VALUE(cum.n) AS n,
                     MIN(cum.idx) AS qidx
              FROM ps JOIN cum
                ON CAST(cum.cum AS DOUBLE) > floor(ps.p * (CAST(cum.n AS DOUBLE) - 1))
              GROUP BY 1, 2
            )
            SELECT l_returnflag, CAST(ANY_VALUE(n) AS BIGINT) AS n,
                   MAX(CASE WHEN p = 0.5 THEN
                     ROUND(2 * power(CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE), qidx)
                           / (CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE) + 1), 6)
                   END) AS p50,
                   MAX(CASE WHEN p = 0.99 THEN
                     ROUND(2 * power(CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE), qidx)
                           / (CAST(1.01 AS DOUBLE) / CAST(0.99 AS DOUBLE) + 1), 6)
                   END) AS p99
            FROM sel GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "sql_digest_surface": """
            WITH cent AS (
              SELECT l_returnflag AS rf, CAST(l_quantity AS DOUBLE) AS v,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_returnflag, l_quantity
            ), cum AS (
              SELECT rf, v, w,
                     SUM(w) OVER (PARTITION BY rf ORDER BY v) - w / 2 AS mc,
                     SUM(w) OVER (PARTITION BY rf) AS n
              FROM cent
            ), ps AS (
              SELECT * FROM (VALUES (0.25),(0.75)) t(p)
            ), brackets AS (
              SELECT rf, p,
                     MAX(CASE WHEN mc <= p * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  p * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= p * n THEN v END) AS v_lo,
                     MIN(CASE WHEN mc >  p * n THEN v END) AS v_hi,
                     ANY_VALUE(n) AS n
              FROM cum, ps GROUP BY rf, p
            ), q AS (
              SELECT rf, p,
                     ROUND(v_lo + ((v_hi - v_lo) / (mc_hi - mc_lo))
                                * (p * n - mc_lo), 6) AS qv
              FROM brackets
            ), cdfx AS (
              SELECT rf,
                     ROUND((SUM(CASE WHEN v < 30.0 THEN w ELSE 0 END)
                            + SUM(CASE WHEN v = 30.0 THEN w ELSE 0 END) / 2.0)
                           / ANY_VALUE(n), 9) AS cdf_30
              FROM cum GROUP BY rf
            )
            SELECT q.rf AS l_returnflag,
                   MAX(CASE WHEN p = 0.25 THEN qv END) AS p25,
                   MAX(CASE WHEN p = 0.75 THEN qv END) AS p75,
                   ANY_VALUE(cdf_30) AS cdf_30
            FROM q JOIN cdfx ON cdfx.rf = q.rf
            GROUP BY q.rf ORDER BY l_returnflag
        """,
        "grouped_digest_functions": """
            WITH cent AS (
              SELECT l_returnflag AS rf, CAST(l_quantity AS DOUBLE) AS v,
                     CAST(COUNT(*) AS DOUBLE) AS w
              FROM lineitem GROUP BY l_returnflag, l_quantity
            ), cum AS (
              SELECT rf, v, w,
                     SUM(w) OVER (PARTITION BY rf ORDER BY v) AS chi,
                     SUM(w) OVER (PARTITION BY rf ORDER BY v) - w AS clo,
                     SUM(w) OVER (PARTITION BY rf ORDER BY v) - w / 2 AS mc,
                     SUM(w) OVER (PARTITION BY rf) AS n
              FROM cent
            ), p50 AS (
              SELECT rf,
                     MAX(CASE WHEN mc <= 0.5 * n THEN mc END) AS mc_lo,
                     MIN(CASE WHEN mc >  0.5 * n THEN mc END) AS mc_hi,
                     MAX(CASE WHEN mc <= 0.5 * n THEN v END) AS v_lo,
                     MIN(CASE WHEN mc >  0.5 * n THEN v END) AS v_hi,
                     ANY_VALUE(n) AS n
              FROM cum GROUP BY rf
            ), cdfx AS (
              SELECT rf,
                     (SUM(CASE WHEN v < 25.0 THEN w ELSE 0 END)
                      + SUM(CASE WHEN v = 25.0 THEN w ELSE 0 END) / 2.0)
                     / ANY_VALUE(n) AS cdf_25
              FROM cum GROUP BY rf
            ), tm AS (
              SELECT rf,
                     SUM(v * GREATEST(LEAST(chi, 0.75 * n)
                                      - GREATEST(clo, 0.25 * n), 0))
                     / SUM(GREATEST(LEAST(chi, 0.75 * n)
                                    - GREATEST(clo, 0.25 * n), 0)) AS iqm
              FROM cum GROUP BY rf
            )
            SELECT p50.rf AS l_returnflag,
                   CAST(p50.n AS BIGINT) AS n,
                   ROUND(v_lo + ((v_hi - v_lo) / (mc_hi - mc_lo))
                              * (0.5 * p50.n - mc_lo), 6) AS p50,
                   ROUND(cdf_25, 9) AS cdf_25,
                   ROUND(iqm, 6) AS iqm
            FROM p50
            JOIN cdfx ON cdfx.rf = p50.rf
            JOIN tm ON tm.rf = p50.rf
            ORDER BY l_returnflag
        """,
        "discrete_quantile_priority": """
            WITH cum AS (
              SELECT o_orderpriority AS v,
                     SUM(COUNT(*)) OVER (ORDER BY o_orderpriority) AS c,
                     SUM(COUNT(*)) OVER () AS n
              FROM orders GROUP BY o_orderpriority
            ), ps AS (
              SELECT * FROM (VALUES (0.1),(0.3),(0.5),(0.7),(0.9),(1.0)) t(p)
            )
            SELECT CAST(p AS DOUBLE) AS p, MIN(v) AS q
            FROM ps JOIN cum ON c >= p * n
            GROUP BY p ORDER BY p
        """,
        "hll_distinct_check": """
            SELECT * FROM (VALUES
              ('l_orderkey', TRUE), ('l_partkey', TRUE),
              ('l_quantity', TRUE), ('l_suppkey', TRUE)
            ) t(column_name, within_bound)
        """,
        "hll_set_algebra": """
            SELECT 'a' AS set_op, TRUE AS within_bound
            UNION ALL SELECT 'b', TRUE
            UNION ALL SELECT 'intersect', TRUE
            UNION ALL SELECT 'union', TRUE
            ORDER BY set_op
        """,
        "bloom_partkey_membership": """
            SELECT DISTINCT l_partkey, TRUE AS might_contain
            FROM lineitem ORDER BY l_partkey
        """,
        "bottomk_sample_check": """
            SELECT * FROM (VALUES
              ('l_orderkey', TRUE, TRUE), ('l_partkey', TRUE, TRUE)
            ) t(column_name, est_within_bound, sample_valid)
        """,
        # KMV Jaccard is exact-in-SQL: priorities are md5_number_lower of
        # the decimal user id, bottom-k = ROW_NUMBER <= k over the distinct
        # hashes, estimate = |union-bottom-k present in both sketches| / |it|
        "bottomk_jaccard_event_types": """
            WITH hu AS (
              SELECT DISTINCT event_type,
                     CAST(md5_number_lower(CAST(user_id AS VARCHAR)) AS UBIGINT) AS h
              FROM events WHERE user_id IS NOT NULL
            ), bk AS (
              SELECT event_type, h FROM (
                SELECT event_type, h,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM hu
              ) WHERE rn <= 256
            ), types AS (SELECT DISTINCT event_type FROM events),
            pairs AS (
              SELECT a.event_type AS ta, b.event_type AS tb
              FROM types a JOIN types b ON a.event_type < b.event_type
            ), uh AS (
              SELECT p.ta, p.tb, k.h
              FROM pairs p JOIN bk k ON k.event_type IN (p.ta, p.tb)
              GROUP BY 1, 2, 3
            ), unionk AS (
              SELECT ta, tb, h FROM (
                SELECT ta, tb, h,
                       ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
                FROM uh
              ) WHERE rn <= 256
            ), flag AS (
              SELECT u.ta, u.tb, u.h,
                     MAX(CASE WHEN k.event_type = u.ta THEN 1 ELSE 0 END) AS in_a,
                     MAX(CASE WHEN k.event_type = u.tb THEN 1 ELSE 0 END) AS in_b
              FROM unionk u
              JOIN bk k ON k.h = u.h AND k.event_type IN (u.ta, u.tb)
              GROUP BY 1, 2, 3
            ), est AS (
              SELECT ta, tb,
                     ROUND(CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*), 6) AS est_jaccard
              FROM flag GROUP BY 1, 2
            ), du AS (
              SELECT DISTINCT event_type, user_id FROM events
              WHERE user_id IS NOT NULL
            ),
            exflag AS (
              SELECT p.ta, p.tb, d.user_id,
                     MAX(CASE WHEN d.event_type = p.ta THEN 1 ELSE 0 END) AS a,
                     MAX(CASE WHEN d.event_type = p.tb THEN 1 ELSE 0 END) AS b
              FROM pairs p JOIN du d ON d.event_type IN (p.ta, p.tb)
              GROUP BY 1, 2, 3
            ), ex AS (
              SELECT ta, tb,
                     ROUND(CAST(SUM(a * b) AS DOUBLE) / COUNT(*), 6) AS exact_jaccard
              FROM exflag GROUP BY 1, 2
            )
            SELECT e.ta AS type_a, e.tb AS type_b, e.est_jaccard, x.exact_jaccard
            FROM est e JOIN ex x ON e.ta = x.ta AND e.tb = x.tb
            ORDER BY type_a, type_b
        """,
        # Theta-sketch set algebra, reproduced hash-for-hash: bottom-64
        # md5-lower-64 priorities per type (ROW_NUMBER <= 64), theta = the
        # priority at rn = 64 (NULL = unsaturated = 2^64), retained = the
        # hashes strictly below theta, pairwise estimates = count below
        # min(theta) / (theta / 2^64) with the union re-trimmed to k when
        # the candidate set exceeds it — each double op mirrors the numpy
        # expression tree so IEEE-754 pins identical values.
        "theta_event_audience_ops": """
            WITH hu AS (
              SELECT DISTINCT event_type,
                     CAST(md5_number_lower(CAST(user_id AS VARCHAR)) AS UBIGINT) AS h
              FROM events WHERE user_id IS NOT NULL
            ), ranked AS (
              SELECT event_type, h,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
              FROM hu
            ), theta AS (
              SELECT event_type,
                     MAX(CASE WHEN rn = 64 THEN h END) AS th,
                     CASE WHEN MAX(CASE WHEN rn = 64 THEN h END) IS NOT NULL
                          THEN CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
                               / 18446744073709551616.0
                          ELSE 1.0 END AS thf
              FROM ranked GROUP BY event_type
            ), ret AS (
              SELECT r.event_type, r.h
              FROM ranked r JOIN theta t USING (event_type)
              WHERE t.th IS NULL OR r.h < t.th
            ), types AS (SELECT DISTINCT event_type FROM events),
            pairs AS (
              SELECT a.event_type AS ta, b.event_type AS tb,
                     CASE WHEN x.th IS NULL THEN y.th
                          WHEN y.th IS NULL THEN x.th
                          ELSE LEAST(x.th, y.th) END AS thr,
                     LEAST(x.thf, y.thf) AS thrf
              FROM types a JOIN types b ON a.event_type < b.event_type
              JOIN theta x ON x.event_type = a.event_type
              JOIN theta y ON y.event_type = b.event_type
            ), uh AS (
              SELECT p.ta, p.tb, r.h
              FROM pairs p JOIN ret r ON r.event_type IN (p.ta, p.tb)
              WHERE p.thr IS NULL OR r.h < p.thr
              GROUP BY 1, 2, 3
            ), uranked AS (
              SELECT ta, tb, h,
                     ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
                     COUNT(*) OVER (PARTITION BY ta, tb) AS uc
              FROM uh
            ), uest AS (
              SELECT ta, tb,
                     CASE WHEN MAX(uc) > 64
                          THEN 64.0 / (CAST(MAX(CASE WHEN rn = 65 THEN h END) AS DOUBLE)
                                       / 18446744073709551616.0)
                          ELSE CAST(MAX(uc) AS DOUBLE) END AS u_raw,
                     MAX(uc) > 64 AS trimmed
              FROM uranked GROUP BY 1, 2
            ), icnt AS (
              SELECT p.ta, p.tb, COUNT(*) AS c
              FROM pairs p
              JOIN ret ra ON ra.event_type = p.ta
              JOIN ret rb ON rb.event_type = p.tb AND rb.h = ra.h
              GROUP BY 1, 2
            ), acnt AS (
              SELECT p.ta, p.tb, COUNT(*) AS c
              FROM pairs p
              JOIN ret ra ON ra.event_type = p.ta
              WHERE (p.thr IS NULL OR ra.h < p.thr)
                AND NOT EXISTS (
                  SELECT 1 FROM ret rb
                  WHERE rb.event_type = p.tb AND rb.h = ra.h
                )
              GROUP BY 1, 2
            ), du AS (
              SELECT DISTINCT event_type, user_id FROM events
              WHERE user_id IS NOT NULL
            ), exflag AS (
              SELECT p.ta, p.tb, d.user_id,
                     MAX(CASE WHEN d.event_type = p.ta THEN 1 ELSE 0 END) AS a,
                     MAX(CASE WHEN d.event_type = p.tb THEN 1 ELSE 0 END) AS b
              FROM pairs p JOIN du d ON d.event_type IN (p.ta, p.tb)
              GROUP BY 1, 2, 3
            ), ex AS (
              SELECT ta, tb,
                     CAST(COUNT(*) AS BIGINT) AS exact_union,
                     CAST(SUM(a * b) AS BIGINT) AS exact_inter,
                     CAST(SUM(a * (1 - b)) AS BIGINT) AS exact_anotb
              FROM exflag GROUP BY 1, 2
            )
            SELECT p.ta AS type_a, p.tb AS type_b,
                   ROUND(CASE WHEN u.trimmed THEN u.u_raw
                              ELSE u.u_raw / p.thrf END, 6) AS union_est,
                   ROUND(CAST(COALESCE(i.c, 0) AS DOUBLE) / p.thrf, 6) AS inter_est,
                   ROUND(CAST(COALESCE(ac.c, 0) AS DOUBLE) / p.thrf, 6) AS anotb_est,
                   x.exact_union, x.exact_inter, x.exact_anotb
            FROM pairs p
            JOIN uest u ON u.ta = p.ta AND u.tb = p.tb
            LEFT JOIN icnt i ON i.ta = p.ta AND i.tb = p.tb
            LEFT JOIN acnt ac ON ac.ta = p.ta AND ac.tb = p.tb
            JOIN ex x ON x.ta = p.ta AND x.tb = p.tb
            ORDER BY type_a, type_b
        """,
        "cms_topk_quantity": """
            SELECT CAST(l_quantity AS BIGINT) AS l_quantity,
                   COUNT(*) AS est_count
            FROM lineitem GROUP BY l_quantity
            ORDER BY est_count DESC, l_quantity LIMIT 10
        """,
        "digest_centroids_udtf": """
            SELECT l_returnflag,
                   CAST(l_quantity AS DOUBLE) AS mean,
                   CAST(COUNT(*) AS DOUBLE) AS weight
            FROM lineitem
            GROUP BY l_returnflag, l_quantity
            ORDER BY l_returnflag, mean
        """,
        "cms_lang_estimates": """
            SELECT lang, COUNT(*) AS est_count
            FROM documents GROUP BY lang ORDER BY lang
        """,
        # CMS inner product never under-counts and meets its eps bound by
        # construction on this data; the exact join size anchors the row
        "hll_users_by_event_type": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS within_bound
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "ams_f2_quantity_selfjoin": _ams_f2_oracle_sql(5, 1024),
        "cms_join_size_estimate": """
            SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs,
                   TRUE AS est_ge_exact,
                   TRUE AS est_within_eps
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_totalprice > 400000
        """,
        "skewed_source_salted_agg": """
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source ORDER BY source
        """,
        # clustering only changes layout: the oracle is the plain filter
        "lineitem_zorder_pruned_scan": """
            SELECT COUNT(*) AS n_rows,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            WHERE l_quantity < 10 AND l_extendedprice < 5000
        """,
        # snapshot isolation: only the current snapshot's file is read, so
        # the counts equal the plain table's despite the orphan duplicate
        "iceberg_snapshot_isolated_read": """
            SELECT source, COUNT(*) AS n_docs
            FROM documents GROUP BY source ORDER BY source
        """,
        # three committed snapshots = three recomputable table states:
        # v1 append(even ids), v2 append(odd ids), v3 overwrite(lang='en')
        "iceberg_time_travel_read": """
            SELECT 'v1' AS snapshot, source, COUNT(*) AS n_docs
            FROM documents WHERE doc_id % 2 = 0 GROUP BY source
            UNION ALL
            SELECT 'v2' AS snapshot, source, COUNT(*) AS n_docs
            FROM documents GROUP BY source
            UNION ALL
            SELECT 'v3' AS snapshot, source, COUNT(*) AS n_docs
            FROM documents WHERE lang = 'en' GROUP BY source
            ORDER BY snapshot, source
        """,
        "iceberg_time_travel_by_timestamp": """
            SELECT 't2500' AS "asof", source, COUNT(*) AS n_docs
            FROM documents WHERE doc_id % 2 = 0 GROUP BY source
            UNION ALL
            SELECT 't3500' AS "asof", source, COUNT(*) AS n_docs
            FROM documents GROUP BY source
            UNION ALL
            SELECT 't99999' AS "asof", source, COUNT(*) AS n_docs
            FROM documents WHERE lang = 'en' GROUP BY source
            ORDER BY "asof", source
        """,
        # discrete digest = exact value map: Nearest-Rank quantiles per
        # snapshot state (v1 = even doc_ids, v2 = the whole table)
        "iceberg_incremental_sketch_maintenance": """
            WITH states AS (
              SELECT 'v1' AS snapshot, CAST(n_chars AS DOUBLE) AS v
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT 'v2' AS snapshot, CAST(n_chars AS DOUBLE) AS v
              FROM documents
            ), cum AS (
              SELECT snapshot, v, SUM(COUNT(*)) OVER (
                       PARTITION BY snapshot ORDER BY v) AS c,
                     SUM(COUNT(*)) OVER (PARTITION BY snapshot) AS n
              FROM states GROUP BY snapshot, v
            ), ps AS (
              SELECT * FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(1.0)) t(p)
            )
            SELECT snapshot, CAST(p AS DOUBLE) AS p, MIN(v) AS q
            FROM ps JOIN cum ON c >= p * n
            GROUP BY snapshot, p ORDER BY snapshot, p
        """,
        # v2 = equality delete of lang de/fr over the full table; v3 = the
        # later re-append of even-doc_id German docs survives the delete
        "iceberg_stats_pruned_read": """
            WITH m AS (
              SELECT strftime(o_orderdate, '%Y-%m') AS month,
                     COUNT(*) AS n_orders,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS price_cents
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-06-01'
                AND o_orderdate < TIMESTAMP '1997-06-01'
              GROUP BY 1
            ), f AS (
              SELECT COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
                       FILTER (WHERE o_orderdate >= TIMESTAMP '1996-06-01'
                                 AND o_orderdate < TIMESTAMP '1997-06-01')
                       AS files_scanned,
                     COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
                       AS files_total
              FROM orders
            )
            SELECT month, n_orders, price_cents, files_scanned, files_total
            FROM m, f ORDER BY month
        """,
        "iceberg_schema_evolution_read": """
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_len,
                   COUNT(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_lang,
                   COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END)
                     AS n_distinct_lang
            FROM documents GROUP BY source ORDER BY source
        """,
        "iceberg_evolved_upsert_read": """
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN doc_id % 10 = 0
                                 THEN n_chars + 1000000
                                 ELSE n_chars END) AS BIGINT) AS sum_len,
                   CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_updated
            FROM documents GROUP BY source ORDER BY source
        """,
        "doc_pmi_collocations": """
            WITH toks AS (
              SELECT regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS t
              FROM documents WHERE TRIM(text) <> ''
            ), uc AS (
              SELECT word, COUNT(*) AS c FROM (
                SELECT UNNEST(t) AS word FROM toks
              ) WHERE word <> '' GROUP BY word
            ), n1t AS (SELECT CAST(SUM(c) AS BIGINT) AS n1 FROM uc),
            bc AS (
              SELECT bg['a'] AS w1, bg['b'] AS w2, COUNT(*) AS c_ab FROM (
                SELECT UNNEST(
                  [struct_pack(a := t[i], b := t[i+1]) FOR i IN range(1, len(t))]
                ) AS bg FROM toks
              ) GROUP BY 1, 2
            ), nbt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS nb FROM bc)
            SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
                   ROUND(LN((CAST(c_ab AS DOUBLE) / nb)
                            / ((CAST(ua.c AS DOUBLE) / n1)
                               * (CAST(ub.c AS DOUBLE) / n1))), 6) AS pmi
            FROM bc JOIN uc ua ON ua.word = bc.w1
            JOIN uc ub ON ub.word = bc.w2, n1t, nbt
            WHERE c_ab >= 5
            ORDER BY pmi DESC, w1, w2 LIMIT 50
        """,
        "iceberg_incremental_vocab_drift": """
            WITH v1w AS (
              SELECT DISTINCT word FROM (
                SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))
                       AS word
                FROM documents WHERE doc_id % 2 = 0 AND TRIM(text) <> ''
              ) WHERE word <> ''
            ), dw AS (
              SELECT DISTINCT source, word FROM (
                SELECT source,
                       UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))
                       AS word
                FROM documents WHERE doc_id % 2 = 1 AND TRIM(text) <> ''
              ) WHERE word <> ''
            )
            SELECT source,
                   COUNT(*) AS n_delta_words,
                   COUNT(*) FILTER (WHERE word NOT IN (SELECT word FROM v1w))
                     AS n_new_words
            FROM dw GROUP BY source ORDER BY source
        """,
        "iceberg_metadata_tables_read": """
            SELECT (SELECT COUNT(DISTINCT source) FROM documents
                    WHERE doc_id % 2 = 0) + 1 AS n_files,
                   (SELECT COUNT(*) FROM documents) AS total_records,
                   CAST(1 AS BIGINT) AS seq_min,
                   CAST(2 AS BIGINT) AS seq_max,
                   CAST(2 AS BIGINT) AS n_snapshots,
                   'append,append' AS ops,
                   CAST(2 AS BIGINT) AS n_manifests
        """,
        "iceberg_wap_rollback_read": """
            SELECT '1_pre_publish' AS state, COUNT(*) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT '2_staged', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents
            UNION ALL
            SELECT '3_bad_commit', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents WHERE lang = 'zh'
            UNION ALL
            SELECT '4_final', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents
            ORDER BY state
        """,
        "iceberg_wap_cherry_pick": """
            SELECT '1_pre_fork' AS state, COUNT(*) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT '2_advanced', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 3 IN (0, 2)
            UNION ALL
            SELECT '3_published', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents
            ORDER BY state
        """,
        "iceberg_stream_dv_delete_apply": """
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(3 AS BIGINT) AS n_snapshots,
                   (SELECT COUNT(DISTINCT source) FROM documents
                    WHERE doc_id % 10 IN (3, 8)) AS n_live_dvs
            FROM documents WHERE doc_id % 10 NOT IN (3, 8)
            GROUP BY source ORDER BY source
        """,
        "iceberg_maintenance_pipeline": """
            SELECT (SELECT COUNT(*) FROM documents WHERE n_chars >= 60)
                     AS n_docs,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
                    WHERE n_chars >= 60) AS chars_sum,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
                    WHERE n_chars >= 60) AS id_sum,
                   CAST(6 AS BIGINT) AS files_before,
                   CAST(1 AS BIGINT) AS files_after,
                   CAST(7 AS BIGINT) AS manifests_before,
                   CAST(2 AS BIGINT) AS manifests_after,
                   CAST(1 AS BIGINT) AS orphans_removed
        """,
        "iceberg_null_pruned_scan": """
            WITH rule AS (
              SELECT doc_id, source, n_chars,
                     (source = (SELECT MIN(source) FROM documents)
                      OR (doc_id % 7 = 2 AND source LIKE 'src1%'))
                       AS is_null
              FROM documents
            )
            SELECT (SELECT COUNT(*) FROM rule WHERE is_null) AS n_null,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM rule
                    WHERE is_null) AS null_chars,
                   (SELECT COUNT(*) FROM rule WHERE NOT is_null)
                     AS n_notnull,
                   (SELECT CAST(COUNT(DISTINCT source) AS BIGINT)
                    FROM rule WHERE is_null) AS files_scanned_null,
                   (SELECT CAST(COUNT(DISTINCT source) - 1 AS BIGINT)
                    FROM rule) AS files_scanned_notnull,
                   (SELECT CAST(COUNT(DISTINCT source) AS BIGINT)
                    FROM rule) AS files_total
        """,
        "iceberg_row_lineage_read": """
            WITH ids AS (
              SELECT doc_id, n_chars,
                     ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1
                       AS row_id
              FROM documents
            )
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(row_id) AS BIGINT) AS row_id_sum,
                   CAST(MIN(row_id) AS BIGINT) AS row_id_min,
                   CAST(MAX(row_id) AS BIGINT) AS row_id_max,
                   COUNT(*) AS n_seq1,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM ids WHERE n_chars >= 60
        """,
        "iceberg_deletion_vector_read": """
            SELECT (SELECT COUNT(*) FROM documents WHERE n_chars >= 100)
                     AS n_docs,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
                    WHERE n_chars >= 100) AS chars_sum,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
                    WHERE n_chars >= 100) AS id_sum,
                   (SELECT COUNT(*) FROM documents WHERE n_chars < 60)
                     AS n_deleted_1,
                   (SELECT COUNT(*) FROM documents
                    WHERE n_chars >= 60 AND n_chars < 100) AS n_deleted_2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                      SELECT source FROM documents
                      GROUP BY source HAVING MIN(n_chars) < 100))
                     AS n_live_dvs,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                      SELECT source FROM documents
                      GROUP BY source HAVING MIN(n_chars) < 60))
                     AS n_superseded
        """,
        "iceberg_delete_where_read": """
            SELECT (SELECT COUNT(*) FROM documents WHERE n_chars >= 60)
                     AS n_docs,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
                    WHERE n_chars >= 60) AS chars_sum,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
                    WHERE n_chars >= 60) AS id_sum,
                   (SELECT COUNT(*) FROM documents WHERE n_chars < 60)
                     AS n_deleted,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                      SELECT source FROM documents
                      GROUP BY source HAVING MIN(n_chars) < 60))
                     AS files_scanned,
                   (SELECT CAST(COUNT(DISTINCT source) AS BIGINT)
                    FROM documents) AS files_total
        """,
        "iceberg_update_where_read": """
            SELECT (SELECT COUNT(*) FROM documents WHERE n_chars >= 60)
                     AS n_docs,
                   (SELECT CAST(SUM(CASE WHEN n_chars < 100
                                         THEN n_chars + 1000
                                         ELSE n_chars END) AS BIGINT)
                    FROM documents WHERE n_chars >= 60) AS chars_sum,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
                    WHERE n_chars >= 60) AS id_sum,
                   (SELECT COUNT(*) FROM documents
                    WHERE n_chars >= 60 AND n_chars < 100) AS n_updated,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                      SELECT source FROM documents
                      GROUP BY source HAVING MIN(n_chars) < 100))
                     AS files_scanned,
                   (SELECT CAST(COUNT(DISTINCT source) AS BIGINT)
                    FROM documents) AS files_total
        """,
        "iceberg_table_stats_read": """
            SELECT * FROM (
              SELECT CAST(1 AS BIGINT) AS snap, 'lang' AS "column",
                     CAST(COUNT(DISTINCT lang) AS BIGINT) AS ndv
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT CAST(1 AS BIGINT), 'n_chars',
                     CAST(COUNT(DISTINCT n_chars) AS BIGINT)
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT CAST(1 AS BIGINT), 'source',
                     CAST(COUNT(DISTINCT source) AS BIGINT)
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT CAST(2 AS BIGINT), 'lang',
                     CAST(COUNT(DISTINCT lang) AS BIGINT)
              FROM documents
              UNION ALL
              SELECT CAST(2 AS BIGINT), 'n_chars',
                     CAST(COUNT(DISTINCT n_chars) AS BIGINT)
              FROM documents
              UNION ALL
              SELECT CAST(2 AS BIGINT), 'source',
                     CAST(COUNT(DISTINCT source) AS BIGINT)
              FROM documents
            ) ORDER BY snap, "column"
        """,
        "iceberg_compact_small_files_read": """
            WITH live AS (
              SELECT doc_id, source FROM documents
              WHERE source IN ('src0','src1','src2','src3','src4','src5')
            ), pos2 AS (
              SELECT doc_id FROM live WHERE source = 'src1'
              ORDER BY doc_id LIMIT 2
            ), kept AS (
              SELECT doc_id FROM live
              WHERE doc_id % 5 <> 0
                AND doc_id NOT IN (SELECT doc_id FROM pos2)
            )
            SELECT CAST(6 AS BIGINT) AS files_before,
                   CAST(1 AS BIGINT) AS files_after,
                   CAST(6 AS BIGINT) AS files_rewritten,
                   (SELECT COUNT(*) FROM kept) AS rows_rewritten,
                   (SELECT COUNT(*) FROM kept) AS n_rows,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM kept)
                     AS sum_doc_id
        """,
        "iceberg_metadata_only_aggregates": """
            SELECT COUNT(*) AS n_rows,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
                   CAST(MIN(n_chars) AS BIGINT) AS min_chars,
                   CAST(MAX(n_chars) AS BIGINT) AS max_chars
            FROM documents
            WHERE source IN ('src0','src1','src2','src3','src4','src5')
        """,
        "iceberg_rewrite_manifests_read": """
            WITH live AS (
              SELECT doc_id, source FROM documents
              WHERE source IN ('src0','src1','src2','src3')
            ), pos3 AS (
              SELECT doc_id FROM live WHERE source = 'src0'
              ORDER BY doc_id LIMIT 3
            ), kept AS (
              SELECT doc_id FROM live
              WHERE doc_id % 7 <> 0
                AND doc_id NOT IN (SELECT doc_id FROM pos3)
            ), mins AS (
              SELECT source, MIN(doc_id) AS mn FROM live GROUP BY source
            ), k AS (
              SELECT MIN(doc_id) + 1 AS kk FROM live WHERE source = 'src2'
            )
            SELECT CAST(6 AS BIGINT) AS n_manifests_before,
                   CAST(2 AS BIGINT) AS n_manifests_after,
                   (SELECT COUNT(*) FROM kept) AS n_rows,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM kept)
                     AS sum_doc_id,
                   (SELECT COUNT(*) FROM mins, k WHERE mn < kk)
                     AS files_scanned_pre,
                   (SELECT COUNT(*) FROM mins, k WHERE mn < kk)
                     AS files_scanned_post,
                   CAST(4 AS BIGINT) AS files_total
        """,
        "iceberg_rewrite_pos_deletes_read": """
            WITH live AS (
              SELECT doc_id, source FROM documents
              WHERE source IN ('src0','src1','src2')
            ), drop0 AS (
              SELECT doc_id FROM live WHERE source = 'src0'
              ORDER BY doc_id LIMIT 3
            ), mins AS (
              SELECT MIN(doc_id) AS m FROM live WHERE source = 'src1'
              UNION ALL
              SELECT MIN(doc_id) AS m FROM live WHERE source = 'src2'
            ), kept AS (
              SELECT doc_id FROM live
              WHERE doc_id NOT IN (SELECT doc_id FROM drop0)
                AND doc_id NOT IN (SELECT m FROM mins)
            )
            SELECT CAST(3 AS BIGINT) AS n_pos_files_before,
                   CAST(1 AS BIGINT) AS n_pos_files_after,
                   CAST(6 AS BIGINT) AS n_del_rows_before,
                   CAST(4 AS BIGINT) AS n_del_rows_after,
                   CAST(3 AS BIGINT) AS n_data_files,
                   (SELECT COUNT(*) FROM kept) AS n_rows,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM kept)
                     AS sum_doc_id,
                   (SELECT COUNT(*) FROM kept) AS pre_n_rows,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM kept)
                     AS pre_sum_doc_id
        """,
        "iceberg_partition_evolution_read": """
            WITH even AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
            odd AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
            g1 AS (  -- gen-1 'web' file: kept iff it exists and its lang
                     -- bounds bracket 'en' (identity tuple prunes source)
              SELECT CASE WHEN COUNT(*) > 0
                          AND MIN(lang) <= 'en' AND MAX(lang) >= 'en'
                     THEN 1 ELSE 0 END AS k
              FROM even WHERE source = 'src3'
            ), g2 AS (  -- gen-2 'en' file: kept iff source bounds bracket
              SELECT CASE WHEN COUNT(*) > 0
                          AND MIN(source) <= 'src3' AND MAX(source) >= 'src3'
                     THEN 1 ELSE 0 END AS k
              FROM odd WHERE lang = 'en'
            ), hit AS (
              SELECT * FROM documents WHERE source = 'src3' AND lang = 'en'
            )
            SELECT (SELECT COUNT(*) FROM hit) AS n_docs,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM hit)
                     AS chars_sum,
                   (SELECT CAST(SUM(doc_id) AS BIGINT) FROM hit) AS id_sum,
                   CAST((SELECT k FROM g1) + (SELECT k FROM g2) AS BIGINT)
                     AS files_scanned,
                   CAST((SELECT COUNT(DISTINCT source) FROM even)
                        + (SELECT COUNT(DISTINCT lang) FROM odd) AS BIGINT)
                     AS files_total
        """,
        "iceberg_hidden_partition_read": """
            SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(1 AS BIGINT) AS files_scanned,
                   (SELECT COUNT(DISTINCT lang) * 8 FROM documents)
                     AS files_total
            FROM documents
            WHERE lang = 'en'
              AND doc_id = (SELECT MIN(doc_id) FROM documents
                            WHERE lang = 'en')
            ORDER BY doc_id
        """,
        "doc_bloom_index_point_lookup": """
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents WHERE doc_id IN (1, 3, 5, 7, 9)
            ORDER BY doc_id
        """,
        # hot = 3 lexicographically-smallest sources; counters pinned
        "doc_dpp_partitioned_join": """
            WITH hot AS (
              SELECT DISTINCT source FROM documents
              ORDER BY source LIMIT 3
            )
            SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(3 AS INTEGER) AS n_files_read,
                   CAST(20 AS INTEGER) AS n_files_total
            FROM documents d JOIN hot h ON h.source = d.source
            GROUP BY d.source ORDER BY d.source
        """,
        # version algebra replayed from the modulo history: v1 for every
        # key (closed by the %3 upsert at 2 else the %5 delete at 3),
        # v2 for %3 keys (closed only by the %5 delete); -1 = open
        "iceberg_scd2_dimension_build": """
            WITH k AS (
              SELECT doc_id, n_chars FROM documents WHERE doc_id < 120
            ), v1 AS (
              SELECT doc_id, CAST(n_chars AS BIGINT) AS value,
                     CAST(1 AS BIGINT) AS valid_from,
                     CAST(CASE WHEN doc_id % 3 = 0 THEN 2
                               WHEN doc_id % 5 = 0 THEN 3
                               ELSE -1 END AS BIGINT) AS valid_to
              FROM k
            ), v2 AS (
              SELECT doc_id, CAST(n_chars * 2 AS BIGINT) AS value,
                     CAST(2 AS BIGINT) AS valid_from,
                     CAST(CASE WHEN doc_id % 5 = 0 THEN 3
                               ELSE -1 END AS BIGINT) AS valid_to
              FROM k WHERE doc_id % 3 = 0
            ), v AS (
              SELECT * FROM v1 UNION ALL SELECT * FROM v2
            )
            SELECT doc_id, value, valid_from, valid_to,
                   CAST(CASE WHEN valid_to = -1 THEN 1 ELSE 0 END
                     AS INTEGER) AS is_current
            FROM v ORDER BY doc_id, valid_from
        """,
        # the min source gets two files; counts replay from raw docs
        "iceberg_partition_stats_read": """
            WITH m AS (SELECT MIN(source) AS s0 FROM documents)
            SELECT source,
                   CAST(CASE WHEN source = (SELECT s0 FROM m)
                        THEN 2 ELSE 1 END AS BIGINT) AS n_files,
                   CAST(COUNT(*) AS BIGINT) AS record_count,
                   CAST(1 AS INTEGER) AS size_positive
            FROM documents GROUP BY source ORDER BY source
        """,
        # current = even + odd + en appends; counters pinned by the
        # deterministic ts_ms fixture (ref aged out in round 2 only)
        "iceberg_ref_retention_expire": """
            WITH cur AS (
              SELECT source, n_chars FROM documents
              UNION ALL
              SELECT source, n_chars FROM documents WHERE lang = 'en'
            )
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(0 AS BIGINT) AS r1_removed,
                   CAST(0 AS BIGINT) AS r1_expired,
                   CAST(1 AS BIGINT) AS r2_removed,
                   CAST(1 AS BIGINT) AS r2_expired,
                   CAST(1 AS BIGINT) AS even_file_survives,
                   CAST(1 AS BIGINT) AS release_resolves,
                   CAST(1 AS BIGINT) AS s1_travel_raises
            FROM cur GROUP BY source ORDER BY source
        """,
        "iceberg_expire_maintenance_read": """
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(2 AS BIGINT) AS n_expired,
                   CAST(2 AS BIGINT) AS n_deleted_data,
                   CAST(1 AS BIGINT) AS n_orphans,
                   CAST(1 AS BIGINT) AS maintenance_ok
            FROM documents WHERE lang = 'en'
            GROUP BY source ORDER BY source
        """,
        "iceberg_upsert_read": """
            WITH merged AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 2 = 0 THEN n_chars * 2
                          ELSE n_chars END AS n_chars
              FROM documents
              UNION ALL
              SELECT -1 AS doc_id, 'src0' AS source, 777 AS n_chars
            )
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM merged GROUP BY source ORDER BY source
        """,
        "iceberg_datasource_write_read": """
            WITH m AS (
              SELECT o_orderpriority,
                     COUNT(*) AS n_orders,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS price_cents
              FROM orders
              WHERE o_totalprice > 50000
              GROUP BY 1
            ), f AS (
              SELECT CAST(2 AS BIGINT) AS n_snapshots,
                     COUNT(*) FILTER (WHERE o_orderkey % 2 = 0)
                       AS snapshot1_rows
              FROM orders
            )
            SELECT o_orderpriority, n_orders, price_cents,
                   n_snapshots, snapshot1_rows
            FROM m, f ORDER BY o_orderpriority
        """,
        "doc_bpe_pair_counts": r"""
            WITH words AS (
              SELECT w, CAST(COUNT(*) AS BIGINT) AS c
              FROM (
                SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+'))
                         AS w
                FROM documents WHERE TRIM(text) <> ''
              ) WHERE w <> '' GROUP BY w
            ), pairs AS (
              SELECT substr(w, i, 2) AS pair, c
              FROM words, UNNEST(range(1, length(w))) AS t(i)
              WHERE length(w) >= 2
            )
            SELECT pair, CAST(SUM(c) AS BIGINT) AS n_weighted
            FROM pairs GROUP BY pair
            ORDER BY n_weighted DESC, pair ASC
            LIMIT 25
        """,
        "iceberg_changelog_read": """
            SELECT 'delete_key' AS change_type,
                   COUNT(*) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(0 AS BIGINT) AS chars_sum
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'insert' AS change_type,
                   COUNT(*) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(SUM(n_chars * 2) AS BIGINT) AS chars_sum
            FROM documents WHERE doc_id % 2 = 0
            ORDER BY change_type
        """,
        "lineitem_scripted_median_bisect": """
            WITH n AS (
              SELECT COUNT(*) AS n_total,
                     (COUNT(*) + 1) // 2 AS target
              FROM lineitem
            ), cand AS (
              SELECT gs.v,
                     (SELECT COUNT(*) FROM lineitem
                      WHERE l_quantity <= gs.v) AS n_le
              FROM (SELECT UNNEST(range(1, 51)) AS v) gs
            ), best AS (
              SELECT MIN(v) AS median_q FROM cand, n WHERE n_le >= target
            )
            SELECT CAST(b.median_q AS BIGINT) AS median_q,
                   CAST((SELECT n_le FROM cand WHERE v = b.median_q)
                        AS BIGINT) AS n_le,
                   n.n_total
            FROM best b, n
        """,
        "events_dynamic_pivot_udtf": """
            SELECT user_id,
                   COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
                   COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                   COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
                   COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view
            FROM events GROUP BY user_id ORDER BY user_id LIMIT 25
        """,
        "iceberg_ref_reads": """
            SELECT source,
                   COUNT(*) FILTER (WHERE doc_id % 2 = 1) AS n_tag,
                   COUNT(*) AS n_main,
                   COUNT(*) + COUNT(*) FILTER (WHERE doc_id % 2 = 0)
                     AS n_branch
            FROM documents GROUP BY source ORDER BY source
        """,
        "doc_unigram_logprob_rank": r"""
            WITH w AS (
              SELECT doc_id, source,
                     UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+'))
                       AS word
              FROM documents WHERE TRIM(text) <> ''
            ), ww AS (
              SELECT * FROM w WHERE word <> ''
            ), vocab AS (
              SELECT word, CAST(COUNT(*) AS BIGINT) AS c_w
              FROM ww GROUP BY word
            ), tot AS (
              SELECT CAST(SUM(c_w) AS BIGINT) AS n_total FROM vocab
            )
            SELECT doc_id, source,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   ROUND(SUM(LN(CAST(c_w AS DOUBLE) / CAST(n_total AS DOUBLE)))
                         / COUNT(*), 6) AS logp
            FROM ww JOIN vocab USING (word) CROSS JOIN tot
            GROUP BY doc_id, source
            ORDER BY logp ASC, doc_id ASC
            LIMIT 15
        """,
        "events_stream_tws_warm_start": """
            WITH per AS (
              SELECT user_id,
                     COUNT(*) AS n_events,
                     CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents
              FROM events GROUP BY user_id
            ), top3 AS (
              SELECT user_id, CAST(SUM(event_id) AS BIGINT) AS top3_id_sum
              FROM (
                SELECT user_id, event_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY user_id ORDER BY event_id DESC
                       ) AS rn
                FROM events WHERE event_id % 2 = 1
              ) WHERE rn <= 3 GROUP BY user_id
            )
            SELECT p.user_id, p.n_events, p.value_cents, t.top3_id_sum
            FROM per p JOIN top3 t USING (user_id)
            ORDER BY n_events DESC, user_id ASC
            LIMIT 20
        """,
        "orders_recursive_month_spine": """
            WITH RECURSIVE months(m) AS (
              SELECT DATE '1996-01-01'
              UNION ALL
              SELECT m + INTERVAL 1 MONTH FROM months
              WHERE m < DATE '1996-12-01'
            ), agg AS (
              SELECT strftime(o_orderdate, '%Y-%m') AS month,
                     COUNT(*) AS cnt,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_orderpriority = '1-URGENT'
              GROUP BY 1
            )
            SELECT strftime(m, '%Y-%m') AS month,
                   CAST(COALESCE(cnt, 0) AS BIGINT) AS n_orders,
                   CAST(COALESCE(cents, 0) AS BIGINT) AS revenue_cents,
                   CAST(SUM(COALESCE(cents, 0)) OVER (
                     ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS running_cents
            FROM months LEFT JOIN agg ON strftime(m, '%Y-%m') = agg.month
            ORDER BY month
        """,
        "events_stream_tws_inactivity_flush": """
            WITH wm AS (
              SELECT (epoch_us(MAX(ts)) // 1000) - 10000 AS wm_ms FROM events
            ), per_user AS (
              SELECT user_id,
                     COUNT(*) AS n_events,
                     CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents,
                     (epoch_us(MAX(ts)) // 1000) + 3600000 AS expiry_ms
              FROM events GROUP BY user_id
            ), flushed AS (
              SELECT p.user_id, p.n_events, p.value_cents
              FROM per_user p, wm
              WHERE p.expiry_ms <= wm.wm_ms
            )
            SELECT user_id, n_events, value_cents,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM flushed) AS n_flushed
            FROM flushed
            ORDER BY n_events DESC, user_id ASC
            LIMIT 20
        """,
        "events_stream_tws_type_breakdown": """
            SELECT user_id, event_type, COUNT(*) AS n_events
            FROM events
            GROUP BY user_id, event_type
            ORDER BY n_events DESC, user_id ASC, event_type ASC
            LIMIT 20
        """,
        "iceberg_stream_mv_maintenance": """
            SELECT '1_initial' AS phase, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM events WHERE event_id % 2 = 0
            GROUP BY event_type
            UNION ALL
            SELECT '2_after_increment', event_type, COUNT(*),
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
            FROM events GROUP BY event_type
            ORDER BY phase, event_type
        """,
        "iceberg_datasource_stream_upsert": """
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars * 2
                                 ELSE n_chars END) AS BIGINT) AS sum_chars,
                   CAST(2 AS BIGINT) AS n_snapshots
            FROM documents GROUP BY source ORDER BY source
        """,
        "events_statestore_inspect": """
            SELECT user_id,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents,
                   'stateStoreSave' AS operator_name,
                   CAST(1 AS BIGINT) AS last_batch
            FROM events
            GROUP BY user_id
            ORDER BY n_events DESC, user_id ASC
            LIMIT 20
        """,
        "events_stream_tws_ttl_counts": """
            WITH agg AS (
              SELECT user_id,
                     SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS n_even,
                     SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                       AS n_odd
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            )
            SELECT user_id,
                   CAST(CASE WHEN n_odd > 0 THEN n_odd ELSE n_even END
                        AS BIGINT) AS n_short,
                   CAST(n_even + n_odd AS BIGINT) AS n_long
            FROM agg
        """,
        "events_stream_tws_user_totals": """
            SELECT user_id,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM events
            GROUP BY user_id
            ORDER BY n_events DESC, user_id ASC
            LIMIT 20
        """,
        "events_variant_extract": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                     AS sum_k,
                   CAST(0 AS BIGINT) AS n_missing
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "iceberg_datasource_partitioned_write": """
            WITH m AS (
              SELECT event_type,
                     COUNT(*) AS n_events,
                     CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents
              FROM events
              WHERE ts >= TIMESTAMP '2024-01-10'
                AND ts < TIMESTAMP '2024-01-20'
              GROUP BY 1
            ), f AS (
              -- one file per distinct day (fanout + repartition by day);
              -- scanned = days with a row inside the half-open range
              -- (stats pruning is exact on micros bounds and composes
              -- with the relaxed day-transform partition pruning)
              SELECT COUNT(DISTINCT CAST(ts AS DATE))
                       FILTER (WHERE ts >= TIMESTAMP '2024-01-10'
                                 AND ts < TIMESTAMP '2024-01-20')
                       AS files_scanned,
                     COUNT(DISTINCT CAST(ts AS DATE)) AS files_total
              FROM events
            )
            SELECT event_type, n_events, value_cents,
                   files_scanned, files_total
            FROM m, f ORDER BY event_type
        """,
        # delta-join maintenance must equal the full join on raw tables
        "iceberg_incremental_join_mv": """
            SELECT c_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))
                     AS BIGINT) AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        # batch i carries exactly the %4 == i residue class
        "iceberg_stream_rate_limited_tail": """
            WITH t AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars
              FROM documents
            ), b AS (
              SELECT CAST(doc_id % 4 AS INTEGER) AS batch_idx,
                     CAST(COUNT(*) AS BIGINT) AS batch_rows
              FROM documents GROUP BY doc_id % 4
            )
            SELECT batch_idx, batch_rows, total_rows, total_chars
            FROM b CROSS JOIN t ORDER BY batch_idx
        """,
        "iceberg_datasource_stream_tail": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents,
                   CAST(2 AS BIGINT) AS n_snapshots
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_stream_iceberg_sink": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents,
                   CAST(2 AS BIGINT) AS n_snapshots,
                   CAST(1 AS BIGINT) AS idempotent_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_window_function_suite": """
            SELECT event_id, event_type,
                   ROUND(percent_rank() OVER w, 6) AS pr,
                   ROUND(cume_dist() OVER w, 6) AS cd,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                   first_value(event_id) OVER w AS first_id,
                   nth_value(event_id, 3) OVER w AS third_id,
                   lead(event_id, 2) OVER w AS lead2,
                   lag(event_id, 1, -1) OVER w AS lag1
            FROM events
            WHERE event_type IN ('click', 'purchase')
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
            ORDER BY event_type, event_id
        """,
        "lineitem_unpivot_measures": """
            WITH agg AS (
              SELECT l_returnflag, l_linestatus,
                     CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                     CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                          AS BIGINT) AS price_cents,
                     CAST(COUNT(*) AS BIGINT) AS n_items
              FROM lineitem GROUP BY l_returnflag, l_linestatus
            )
            SELECT l_returnflag, l_linestatus, measure, value
            FROM agg UNPIVOT (value FOR measure IN (qty, price_cents, n_items))
            ORDER BY l_returnflag, l_linestatus, measure
        """,
        "iceberg_python_datasource_read": """
            WITH m AS (
              SELECT o_orderpriority,
                     COUNT(*) AS n_orders,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS price_cents
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-06-01'
                AND o_orderdate < TIMESTAMP '1997-06-01'
              GROUP BY 1
            ), f AS (
              SELECT COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
                       FILTER (WHERE o_orderdate >= TIMESTAMP '1996-06-01'
                                 AND o_orderdate < TIMESTAMP '1997-06-01')
                       AS files_scanned,
                     COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
                       AS files_total
              FROM orders
            )
            SELECT o_orderpriority, n_orders, price_cents,
                   files_scanned, files_total
            FROM m, f ORDER BY o_orderpriority
        """,
        "iceberg_eq_delete_read": """
            SELECT 'v2' AS snapshot, lang, COUNT(*) AS n_docs
            FROM documents WHERE lang NOT IN ('de', 'fr')
            GROUP BY lang
            UNION ALL
            SELECT 'v3' AS snapshot, lang, COUNT(*) AS n_docs
            FROM documents
            WHERE lang NOT IN ('de', 'fr')
               OR (lang = 'de' AND doc_id % 2 = 0)
            GROUP BY lang
            ORDER BY snapshot, lang
        """,
        # the v1 -> v2 delta is exactly the odd-doc_id append
        "iceberg_incremental_read": """
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents WHERE doc_id % 2 = 1
            GROUP BY source ORDER BY source
        """,
        # v1 = the full table; v2 = after the merge-on-read position-delete
        # snapshot tombstones lang='de' OR doc_id % 7 = 3
        "iceberg_mor_deleted_read": """
            SELECT 'v1' AS snapshot, lang, COUNT(*) AS n_docs
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 'v2' AS snapshot, lang, COUNT(*) AS n_docs
            FROM documents
            WHERE NOT (lang = 'de' OR doc_id % 7 = 3)
            GROUP BY lang
            ORDER BY snapshot, lang
        """,
        # salting only changes placement: the oracle is the plain join
        "skewed_key_join": """
            WITH fact AS (
              SELECT CASE WHEN event_type IN ('click', 'view', 'error')
                          THEN 'hot' ELSE event_type END AS hk,
                     value
              FROM events
            ), dim AS (
              SELECT * FROM (VALUES
                ('hot', CAST(10.0 AS DOUBLE)),
                ('purchase', CAST(2.0 AS DOUBLE)),
                ('signup', CAST(1.0 AS DOUBLE))) t(hk, weight)
            )
            SELECT f.hk, COUNT(*) AS n_events,
                   ROUND(SUM(f.value * d.weight), 2) AS weighted_value
            FROM fact f JOIN dim d ON d.hk = f.hk
            GROUP BY f.hk ORDER BY f.hk
        """,
        "doc_exact_dedup": """
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY text) AS canonical_id,
                   COUNT(*) OVER (PARTITION BY text) AS group_size,
                   doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_duplicate
            FROM documents ORDER BY doc_id
        """,
        # sampling thresholds use the SAME python float expression as
        # operators/sample.py (int(f * 2^64)) so the literals are
        # bit-identical to the engine's
        "doc_hash_sample": f"""
            SELECT doc_id, source, n_chars
            FROM documents
            WHERE md5_number_lower(CAST(doc_id AS VARCHAR)) < {int(0.1 * (1 << 64))}
            ORDER BY doc_id
        """,
        "doc_stratified_sample": f"""
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents
            WHERE md5_number_lower(CAST(doc_id AS VARCHAR)) <
                  CASE source
                    WHEN 'src0' THEN {int(0.75 * (1 << 64))}
                    WHEN 'src1' THEN {int(0.5 * (1 << 64))}
                    WHEN 'src2' THEN {int(0.1 * (1 << 64))}
                    ELSE 0 END
            GROUP BY source ORDER BY source
        """,
        "doc_text_stats": r"""
            SELECT doc_id,
                   LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_words,
                   LENGTH(text) AS n_chars_measured,
                   LENGTH(text) - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
            FROM documents ORDER BY doc_id
        """,
        "doc_lang_counts": """
            SELECT lang, source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang, source ORDER BY lang, source
        """,
        "ngram_jaccard_dup_pairs": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w
              FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
              FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
              WHERE len(w) >= 3
              UNION
              SELECT DISTINCT doc_id, array_to_string(w, ' ') AS g
              FROM words WHERE len(w) < 3
            ), hv AS (
              SELECT DISTINCT doc_id, md5_number_lower(g) AS h FROM grams
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM hv GROUP BY doc_id
            ), kept AS (
              -- the operator's default max_df='auto' hot-shingle cap:
              -- max(64, ceil(0.005 * n_docs)); set sizes keep capped
              -- shingles, intersections exclude them
              SELECT h FROM (SELECT h, COUNT(*) AS df FROM hv GROUP BY h)
              WHERE df <= GREATEST(
                64, CEIL(CAST((SELECT COUNT(DISTINCT doc_id) FROM hv)
                              AS DOUBLE) * 0.005))
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
              FROM hv a JOIN hv b ON a.h = b.h AND a.doc_id < b.doc_id
              JOIN kept k ON k.h = a.h
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.05
            ORDER BY id_a, id_b
        """,
        "doc_curation_funnel": _curation_funnel_oracle_sql(),
        "minhash_lsh_pairs": _minhash_oracle_sql(k=32, bands=8, threshold=0.5),
        "minhash_recall_at_bands": _minhash_recall_oracle_sql(threshold=0.5),
        "doc_bpe_merges": _bpe_oracle_sql(n_merges=6),
        "doc_bpe_token_stats": _bpe_stats_oracle_sql(n_merges=6),
        "dedup_group_resolution": _dedup_groups_oracle_sql(
            k=32, bands=8, threshold=0.5
        ),
        "simhash_dup_candidates": _simhash_oracle_sql(ngram=2, max_hamming=3),
        "media_decode_stats": _media_stats_oracle_sql(),
        "media_real_decode_stats": _media_real_oracle_sql(),
        "media_video_real_frame_stats": _media_video_oracle_sql(),
        "media_audio_real_frame_features": _media_audio_oracle_sql(),
        # fan-out shapes are metadata arithmetic: image 16x16 grid = 256,
        # audio floor(sample_rate/1024) frames, video ceil(n_frames/8)
        "media_pipeline_shapes": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS kind,
                   CAST(CASE doc_id % 3
                        WHEN 0 THEN 256
                        WHEN 1 THEN (4096 + (n_chars % 7) * 1024) // 1024
                        ELSE CAST(CEIL((24 + n_chars % 50) / 8.0) AS BIGINT)
                        END AS INTEGER) AS n_out
            FROM documents WHERE doc_id < 300
            ORDER BY doc_id
        """,
        "doc_quality_scores": r"""
            WITH base AS (
              SELECT doc_id, text,
                     regexp_split_to_array(TRIM(text), '\s+') AS words,
                     LENGTH(text) AS nc
              FROM documents
            ), feat AS (
              SELECT doc_id,
                     LEN(words) AS n_words, nc,
                     nc - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')) AS np,
                     LEN(list_filter(words, w -> list_contains(
                       ['the','and','of','to','a','in','is','that','for','it'],
                       LOWER(w)))) AS stop_hits
              FROM base
            )
            SELECT doc_id, n_words,
                   ROUND(CASE WHEN n_words > 0
                         THEN (nc - (n_words - 1)) * 1.0 / n_words
                         ELSE 0.0 END, 6) AS avg_word_len,
                   ROUND(CASE WHEN nc > 0 THEN np * 1.0 / nc
                         ELSE 0.0 END, 6) AS punct_ratio,
                   ROUND(CASE WHEN n_words > 0 THEN stop_hits * 1.0 / n_words
                         ELSE 0.0 END, 6) AS stopword_ratio
            FROM feat ORDER BY doc_id
        """,
        "doc_langid_counts": r"""
            WITH base AS (
              SELECT lang,
                     regexp_split_to_array(TRIM(text), '\s+') AS words
              FROM documents
            ), hits AS (
              SELECT lang,
                LEN(list_filter(words, w -> list_contains(
                  ['the','and','of','to','a','in','is','that','for','it'],
                  LOWER(w)))) AS h_en,
                LEN(list_filter(words, w -> list_contains(
                  ['el','la','de','que','y','en','un','los','por','con'],
                  LOWER(w)))) AS h_es,
                LEN(list_filter(words, w -> list_contains(
                  ['der','die','und','das','ist','von','mit','den','ein','zu'],
                  LOWER(w)))) AS h_de,
                LEN(list_filter(words, w -> list_contains(
                  ['le','la','de','et','les','des','un','une','est','dans'],
                  LOWER(w)))) AS h_fr,
                LEN(list_filter(words, w -> list_contains(
                  ['的','是','了','在','我','有','和','就','不','人'],
                  LOWER(w)))) AS h_zh
              FROM base
            ), pred AS (
              SELECT lang,
                CASE WHEN GREATEST(h_en,h_es,h_de,h_fr,h_zh) = 0 THEN 'und'
                     -- tie-break mirrors array_max on struct(hits, lang):
                     -- max hits, then lexicographically greatest lang
                     WHEN h_zh = GREATEST(h_en,h_es,h_de,h_fr,h_zh) THEN 'zh'
                     WHEN h_fr = GREATEST(h_en,h_es,h_de,h_fr,h_zh) THEN 'fr'
                     WHEN h_es = GREATEST(h_en,h_es,h_de,h_fr,h_zh) THEN 'es'
                     WHEN h_en = GREATEST(h_en,h_es,h_de,h_fr,h_zh) THEN 'en'
                     ELSE 'de' END AS pred_lang
              FROM hits
            )
            SELECT pred_lang, lang, COUNT(*) AS n_docs
            FROM pred GROUP BY pred_lang, lang
            ORDER BY pred_lang, lang
        """,
        "doc_token_counts": r"""
            -- blank text counts 0 words (a bare split yields [''] = 1)
            SELECT doc_id,
                   CASE WHEN TRIM(text) = '' THEN 0
                        ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
                   END AS n_tokens,
                   CASE WHEN TRIM(text) = '' THEN 0
                        ELSE LEN(regexp_split_to_array(TRIM(text), '\s+'))
                   END
                   + LEN(regexp_split_to_array(text, '[^\w\s]')) - 1
                     AS n_subwords
            FROM documents ORDER BY doc_id
        """,
        # bag semantics are identical: INTERSECT ALL = min(multiplicities),
        # EXCEPT ALL = 0-floored difference
        "lineitem_multiset_ops": """
            WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 10),
                 b AS (SELECT l_suppkey FROM lineitem WHERE l_discount = 0),
                 u AS (
                   SELECT 'inter_all' AS tag, l_suppkey FROM (
                     SELECT l_suppkey FROM a INTERSECT ALL
                     SELECT l_suppkey FROM b)
                   UNION ALL
                   SELECT 'except_all' AS tag, l_suppkey FROM (
                     SELECT l_suppkey FROM a EXCEPT ALL
                     SELECT l_suppkey FROM b)
                 )
            SELECT tag, l_suppkey, COUNT(*) AS multiplicity
            FROM u GROUP BY tag, l_suppkey ORDER BY tag, l_suppkey
        """,
        # DuckDB GROUPING() == Spark grouping_id(): bit i set when column i
        # is aggregated away in that grouping set
        "lineitem_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                   COUNT(*) AS n,
                   CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            ORDER BY gid, l_returnflag, l_linestatus
        """,
        # same sliding windows: integer-exact chunk count, 1-based DuckDB
        # list_slice == Spark slice(start, length) with clamping
        "doc_chunk_overlap": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(TRIM(text), '\s+')
                     END AS w
              FROM documents WHERE doc_id < 200
            ), counted AS (
              SELECT doc_id, w,
                     CASE WHEN len(w) <= 64 THEN 1
                          ELSE (len(w) - 64 + 47) // 48 + 1 END AS k
              FROM toks
            ), chunks AS (
              SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                     w[i * 48 + 1 : i * 48 + 64] AS piece
              FROM counted, UNNEST(range(k)) AS t(i)
            )
            SELECT doc_id, chunk_idx,
                   CAST(len(piece) AS INTEGER) AS n_tokens,
                   array_to_string(piece, ' ') AS chunk_text
            FROM chunks ORDER BY doc_id, chunk_idx
        """,
        # same injection, same RE2-safe patterns, 'g' = Spark's always-global
        # regexp_replace
        "doc_pii_redaction": r"""
            WITH aug AS (
              SELECT source,
                     text
                     || CASE WHEN doc_id % 7 = 0
                        THEN ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com now' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                        THEN ' call 415-555-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE '' END AS text
              FROM documents
            ), scored AS (
              SELECT source, text,
                     len(regexp_extract_all(
                         text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
                     )) AS e,
                     len(regexp_extract_all(
                         text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS p,
                     regexp_replace(regexp_replace(
                         text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<PII>', 'g'),
                         '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PII>', 'g') AS red
              FROM aug
            )
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(e) AS BIGINT) AS n_emails,
                   CAST(SUM(p) AS BIGINT) AS n_phones,
                   CAST(SUM(CASE WHEN red <> text THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_redacted_docs,
                   CAST(SUM(
                     len(regexp_extract_all(
                         red, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     + len(regexp_extract_all(
                         red, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
                   ) AS BIGINT) AS n_residual
            FROM scored GROUP BY source ORDER BY source
        """,
        "doc_decontamination_anti": rf"""
            WITH {_grams_cte(3)}, hv AS (
              SELECT DISTINCT doc_id, md5_number_lower(g) AS h FROM grams
            ), probe AS (
              SELECT DISTINCT h FROM hv WHERE doc_id < 10
            ), bad AS (
              SELECT DISTINCT doc_id FROM hv
              WHERE doc_id >= 10 AND h IN (SELECT h FROM probe)
            )
            SELECT doc_id FROM documents
            WHERE doc_id >= 10 AND doc_id NOT IN (SELECT doc_id FROM bad)
            ORDER BY doc_id
        """,
        # contamination report: both engines dedup shingles per doc ON THE
        # HASH, so even an md5 collision is mirrored
        "doc_contamination_report": rf"""
            WITH {_grams_cte(5)}, hv AS (
              SELECT DISTINCT doc_id, md5_number_lower(g) AS h FROM grams
            ), bench AS (
              SELECT DISTINCT h FROM hv WHERE doc_id % 10 = 7
            )
            SELECT v.doc_id, COUNT(*) AS n_shared
            FROM hv v JOIN bench b USING (h)
            WHERE v.doc_id % 10 <> 7
            GROUP BY v.doc_id ORDER BY v.doc_id
        """,
        "doc_repetition_filter": r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\s+')) AS word
              FROM documents WHERE trim(text) <> ''
            ), f AS (
              SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2
            ), a AS (
              SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n_words,
                     CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dr,
                     CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS tr
              FROM f GROUP BY 1
            )
            SELECT d.doc_id,
                   COALESCE(a.n_words, 0) AS n_words,
                   ROUND(COALESCE(a.dr, CAST(0 AS DOUBLE)), 6) AS distinct_ratio,
                   ROUND(COALESCE(a.tr, CAST(0 AS DOUBLE)), 6) AS top_word_ratio,
                   COALESCE(a.dr >= 0.45 AND a.tr <= 0.12, FALSE) AS keep
            FROM documents d LEFT JOIN a USING (doc_id)
            ORDER BY doc_id
        """,
        "doc_clean_pipeline": r"""
            WITH base AS (
              SELECT doc_id, source, lang, text,
                     regexp_split_to_array(TRIM(text), '\s+') AS words,
                     LENGTH(text) AS nc,
                     LENGTH(text)
                       - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')) AS np
              FROM documents
            ), q AS (
              SELECT doc_id, source, lang, text, LEN(words) AS n_words
              FROM base
              WHERE LEN(words) >= 5
                AND (CASE WHEN nc > 0 THEN np * 1.0 / nc ELSE 0.0 END) <= 0.25
            ), f AS (
              SELECT doc_id, word, COUNT(*) AS c
              FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\s+')) AS word
                FROM q
              ) GROUP BY 1, 2
            ), rep AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dr,
                     CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS tr
              FROM f GROUP BY 1
            ), r AS (
              SELECT q.* FROM q JOIN rep USING (doc_id)
              WHERE rep.dr >= 0.45 AND rep.tr <= 0.12
            ), keep AS (
              SELECT MIN(doc_id) AS doc_id FROM r GROUP BY text
            )
            SELECT r.source, r.lang, COUNT(*) AS n_docs,
                   CAST(SUM(r.n_words) AS BIGINT) AS sum_words
            FROM r JOIN keep USING (doc_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "token_mix_rebalance": rf"""
            WITH per AS (
              SELECT source, CAST(SUM({_TOKENS_SQL}) AS BIGINT) AS n_tokens
              FROM documents GROUP BY source
            ), tot AS (
              SELECT CAST(SUM(n_tokens) AS BIGINT) AS t, COUNT(*) AS k FROM per
            )
            SELECT source, n_tokens,
                   ROUND(LEAST(CAST(1.0 AS DOUBLE),
                               (CAST(t AS DOUBLE) / k) / n_tokens), 6) AS weight
            FROM per, tot ORDER BY source
        """,
        "doc_pack_chunks": rf"""
            WITH t AS (
              SELECT doc_id, CAST({_TOKENS_SQL} AS BIGINT) AS n FROM documents
            )
            , e AS (
              SELECT doc_id, n,
                     unnest(range(0, (n + 31) // 32)) AS chunk_id
              FROM t WHERE n > 0
            )
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(LEAST(32, n - 32 * chunk_id) AS BIGINT) AS chunk_tokens
            FROM e ORDER BY doc_id, chunk_id
        """,
        "token_shards_by_source": rf"""
            WITH t AS (
              SELECT doc_id, source,
                     CAST({_TOKENS_SQL} AS BIGINT) AS n_tokens
              FROM documents
            ), s AS (
              SELECT source, n_tokens,
                     (SUM(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      ) - n_tokens) // 2000 AS shard
              FROM t
            )
            SELECT source, CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
            FROM s GROUP BY source, shard ORDER BY source, shard
        """,
        "doc_table_profile": """
            SELECT * FROM (
              SELECT 'doc_id' AS "column",
                     COUNT(doc_id) AS n_nonnull,
                     COUNT(DISTINCT doc_id) AS n_distinct,
                     CAST(MIN(doc_id) AS VARCHAR) AS min_s,
                     CAST(MAX(doc_id) AS VARCHAR) AS max_s,
                     CAST(SUM(LENGTH(CAST(doc_id AS VARCHAR))) AS DOUBLE)
                       / COUNT(doc_id) AS avg_len
              FROM documents
              UNION ALL
              SELECT 'text' AS "column",
                     COUNT(text) AS n_nonnull,
                     COUNT(DISTINCT text) AS n_distinct,
                     CAST(MIN(text) AS VARCHAR) AS min_s,
                     CAST(MAX(text) AS VARCHAR) AS max_s,
                     CAST(SUM(LENGTH(CAST(text AS VARCHAR))) AS DOUBLE)
                       / COUNT(text) AS avg_len
              FROM documents
              UNION ALL
              SELECT 'lang' AS "column",
                     COUNT(lang) AS n_nonnull,
                     COUNT(DISTINCT lang) AS n_distinct,
                     CAST(MIN(lang) AS VARCHAR) AS min_s,
                     CAST(MAX(lang) AS VARCHAR) AS max_s,
                     CAST(SUM(LENGTH(CAST(lang AS VARCHAR))) AS DOUBLE)
                       / COUNT(lang) AS avg_len
              FROM documents
              UNION ALL
              SELECT 'source' AS "column",
                     COUNT(source) AS n_nonnull,
                     COUNT(DISTINCT source) AS n_distinct,
                     CAST(MIN(source) AS VARCHAR) AS min_s,
                     CAST(MAX(source) AS VARCHAR) AS max_s,
                     CAST(SUM(LENGTH(CAST(source AS VARCHAR))) AS DOUBLE)
                       / COUNT(source) AS avg_len
              FROM documents
              UNION ALL
              SELECT 'n_chars' AS "column",
                     COUNT(n_chars) AS n_nonnull,
                     COUNT(DISTINCT n_chars) AS n_distinct,
                     CAST(MIN(n_chars) AS VARCHAR) AS min_s,
                     CAST(MAX(n_chars) AS VARCHAR) AS max_s,
                     CAST(SUM(LENGTH(CAST(n_chars AS VARCHAR))) AS DOUBLE)
                       / COUNT(n_chars) AS avg_len
              FROM documents
            ) ORDER BY "column"
        """,
        "doc_chars_quantile_normalize": """
            WITH blk AS (
              SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
              FROM documents GROUP BY source, n_chars
            ), src AS (
              SELECT source, n_chars, c,
                     COALESCE(SUM(c) OVER (
                       PARTITION BY source ORDER BY n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS clo,
                     SUM(c) OVER (PARTITION BY source) AS n_src
              FROM blk
            ), tot AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
            ), tgt AS (
              SELECT source, n_chars, c, n_src,
                     ((clo + clo + c) * (SELECT n FROM tot)
                      + 2 * n_src - 1) // (2 * n_src) AS target
              FROM src
            ), g AS (
              SELECT n_chars AS gv,
                     SUM(cnt) OVER (ORDER BY n_chars) AS gcum
              FROM (
                SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM documents GROUP BY n_chars
              )
            ), mapped AS (
              SELECT t.source, t.n_chars, t.c, t.n_src,
                     MIN(g.gv) AS norm
              FROM tgt t JOIN g ON g.gcum >= t.target
              GROUP BY t.source, t.n_chars, t.c, t.n_src
            )
            SELECT source,
                   CAST(MAX(n_src) AS BIGINT) AS n_docs,
                   CAST(SUM(norm * c) AS DOUBLE)
                     / CAST(MAX(n_src) AS BIGINT) AS norm_mean,
                   CAST(MIN(norm) AS BIGINT) AS norm_min,
                   CAST(MAX(norm) AS BIGINT) AS norm_max
            FROM mapped GROUP BY source ORDER BY source
        """,
        "doc_source_vocab_overlap": r"""
            WITH v AS (
              SELECT DISTINCT source, word FROM (
                SELECT source,
                       UNNEST(regexp_split_to_array(TRIM(LOWER(text)),
                                                    '\s+')) AS word
                FROM documents WHERE TRIM(text) <> ''
              ) WHERE word <> ''
            ), sz AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS nv
              FROM v GROUP BY source
            ), inter AS (
              SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS n_common
              FROM v a JOIN v b
                ON a.word = b.word AND a.source < b.source
              GROUP BY a.source, b.source
            )
            SELECT i.src_a, i.src_b, sa.nv AS nv_a, sb.nv AS nv_b,
                   i.n_common,
                   CAST(i.n_common AS DOUBLE)
                     / (sa.nv + sb.nv - i.n_common) AS jaccard
            FROM inter i
            JOIN sz sa ON sa.source = i.src_a
            JOIN sz sb ON sb.source = i.src_b
            ORDER BY src_a, src_b
        """,
        "doc_source_temperature_mix": """
            WITH s AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents GROUP BY source
            ), t AS (
              SELECT SUM(SQRT(CAST(chars AS DOUBLE))) AS totw,
                     CAST(SUM(chars) AS BIGINT) AS totc
              FROM s
            )
            SELECT source, n_docs, chars,
                   ROUND(SQRT(CAST(chars AS DOUBLE))
                         / (SELECT totw FROM t), 6) AS sample_p,
                   ROUND(SQRT(CAST(chars AS DOUBLE))
                         / (SELECT totw FROM t)
                         * (SELECT totc FROM t) / chars, 6)
                     AS upsample_factor
            FROM s ORDER BY source
        """,
        "doc_bigram_lm_quality": r"""
            WITH toks AS (
              SELECT source,
                     regexp_split_to_array(TRIM(LOWER(text)),
                                           '\s+') AS ws
              FROM documents WHERE TRIM(text) <> ''
            ), bh AS (
              SELECT source, ws[i] AS w1, ws[i + 1] AS w2,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM toks,
                   UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
              WHERE len(ws) >= 2
              GROUP BY source, w1, w2
            ), c12 AS (
              SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12
              FROM bh GROUP BY w1, w2
            ), c1 AS (
              SELECT w1, CAST(SUM(n) AS BIGINT) AS c1
              FROM bh GROUP BY w1
            ), v AS (
              SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS nv
              FROM (SELECT UNNEST(ws) AS w FROM toks)
            ), srcstats AS (
              SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(len(ws) - 1) AS BIGINT) AS n_bigrams
              FROM toks WHERE len(ws) >= 2 GROUP BY source
            ), terms AS (
              SELECT bh.source,
                     SUM(bh.n * LN((c12.c12 + 1)
                                   / (c1.c1 + (SELECT nv FROM v))))
                       AS lsum
              FROM bh
              JOIN c12 ON bh.w1 = c12.w1 AND bh.w2 = c12.w2
              JOIN c1 ON bh.w1 = c1.w1
              GROUP BY bh.source
            )
            SELECT s.source, s.n_docs, s.n_bigrams,
                   ROUND(t.lsum / s.n_bigrams, 6) AS avg_logprob
            FROM srcstats s JOIN terms t ON s.source = t.source
            ORDER BY s.source
        """,
        "events_hourofday_chi2": """
            WITH hh AS (
              SELECT event_type,
                     (epoch_us(ts) // 3600000000) % 24 AS hod,
                     CAST(COUNT(*) AS BIGINT) AS o
              FROM events GROUP BY event_type, hod
            ), agg AS (
              SELECT event_type, CAST(SUM(o) AS BIGINT) AS total,
                     CAST(COUNT(*) AS BIGINT) AS n_hours_active,
                     CAST(SUM(o * o) AS BIGINT) AS so2
              FROM hh GROUP BY event_type
            )
            SELECT event_type, total, n_hours_active,
                   CAST(24.0 AS DOUBLE) * so2 / total - total AS chi2,
                   (CAST(24.0 AS DOUBLE) * so2 / total - total)
                     > CAST(41.638 AS DOUBLE) AS skewed
            FROM agg ORDER BY event_type
        """,
        "orders_cohort_ltv": """
            WITH o AS (
              SELECT o_custkey,
                     CAST(year(o_orderdate) * 12 + month(o_orderdate)
                          AS INTEGER) AS m,
                     CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders
            ), c AS (
              SELECT *, MIN(m) OVER (PARTITION BY o_custkey) AS cohort
              FROM o
            )
            SELECT CAST(cohort AS INTEGER) AS cohort_month,
                   CAST(m - cohort AS INTEGER) AS months_since,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                     AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS revenue_cents
            FROM c GROUP BY cohort, m - cohort
            ORDER BY cohort_month, months_since
        """,
        "doc_fuzzy_prefix_dedup": """
            WITH d AS (
              SELECT doc_id, substr(text, 1, 4) AS b,
                     substr(text, 1, 24) AS pfx
              FROM documents
            ), pairs AS (
              SELECT a.doc_id AS id_a, c.doc_id AS id_b,
                     levenshtein(a.pfx, c.pfx) AS dist
              FROM d a JOIN d c
                ON a.b = c.b AND a.doc_id < c.doc_id
            ), base AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(COUNT(DISTINCT b) AS BIGINT) AS n_blocks
              FROM d
            ), ps AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
                     CAST(SUM(CASE WHEN dist <= 6 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_fuzzy_pairs,
                     CAST(SUM(CASE WHEN dist <= 6 THEN dist END)
                          AS BIGINT) AS dsum
              FROM pairs
            ), dd AS (
              SELECT CAST(COUNT(DISTINCT i) AS BIGINT)
                       AS n_docs_with_dup
              FROM (
                SELECT id_a AS i FROM pairs WHERE dist <= 6
                UNION ALL
                SELECT id_b FROM pairs WHERE dist <= 6
              )
            )
            SELECT n_docs, n_blocks, n_candidate_pairs, n_fuzzy_pairs,
                   n_docs_with_dup,
                   CAST(dsum AS DOUBLE) / n_fuzzy_pairs
                     AS avg_fuzzy_dist
            FROM base, ps, dd
        """,
        "events_type_reachability": """
            WITH RECURSIVE ev AS (
              SELECT LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                     ) AS from_type,
                     event_type AS to_type
              FROM events WHERE user_id IS NOT NULL
            ), edges AS (
              SELECT DISTINCT from_type, to_type FROM ev
              WHERE from_type IS NOT NULL
            ), reach(src, dst, hops) AS (
              SELECT from_type, to_type, 1 FROM edges
              UNION ALL
              SELECT r.src, e.to_type, r.hops + 1
              FROM reach r JOIN edges e ON r.dst = e.from_type
              WHERE r.hops < 4
            )
            SELECT src, dst, MIN(hops) AS min_hops,
                   CAST(COUNT(*) AS BIGINT) AS n_walks
            FROM reach GROUP BY src, dst ORDER BY src, dst
        """,
        "events_sequence_pattern_match": """
            WITH seqs AS (
              SELECT user_id,
                     string_agg(event_type, '>'
                       ORDER BY epoch_us(ts), event_id) AS seq
              FROM events WHERE user_id IS NOT NULL
              GROUP BY user_id
            ), flags AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                     CAST(SUM(CASE WHEN regexp_matches(seq,
                            'error.*purchase') THEN 1 ELSE 0 END)
                          AS BIGINT) AS m0,
                     CAST(SUM(CASE WHEN regexp_matches(seq,
                            'signup.*purchase') THEN 1 ELSE 0 END)
                          AS BIGINT) AS m1,
                     CAST(SUM(CASE WHEN regexp_matches(seq,
                            'view.*click.*purchase') THEN 1 ELSE 0 END)
                          AS BIGINT) AS m2
              FROM seqs
            )
            SELECT * FROM (
              SELECT 'error_then_purchase' AS pattern, m0 AS n_matched,
                     n_users, CAST(m0 AS DOUBLE) / n_users AS match_rate
              FROM flags
              UNION ALL
              SELECT 'signup_then_purchase', m1, n_users,
                     CAST(m1 AS DOUBLE) / n_users FROM flags
              UNION ALL
              SELECT 'view_click_purchase', m2, n_users,
                     CAST(m2 AS DOUBLE) / n_users FROM flags
            ) ORDER BY pattern
        """,
        "lineitem_key_skew_report": """
            WITH kv AS (
              SELECT 'l_orderkey' AS key_name, l_orderkey AS key_value
              FROM lineitem
              UNION ALL
              SELECT 'l_partkey', l_partkey FROM lineitem
              UNION ALL
              SELECT 'l_suppkey', l_suppkey FROM lineitem
            ), counts AS (
              SELECT key_name, key_value, CAST(COUNT(*) AS BIGINT) AS c
              FROM kv GROUP BY key_name, key_value
            )
            SELECT key_name,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS ndv,
                   CAST(MAX(c) AS BIGINT) AS max_count,
                   CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT)
                     AS top1_share,
                   ROUND(LN(CAST(SUM(c) AS BIGINT))
                         - SUM(c * LN(c)) / CAST(SUM(c) AS BIGINT), 6)
                     AS entropy
            FROM counts GROUP BY key_name ORDER BY key_name
        """,
        "events_ab_test_ztest": """
            WITH pu AS (
              SELECT user_id % 2 AS variant, user_id,
                     CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                        THEN 1 ELSE 0 END) >= 13
                          THEN 1 ELSE 0 END AS conv
              FROM events WHERE user_id IS NOT NULL
              GROUP BY user_id % 2, user_id
            ), r AS (
              SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(conv) AS BIGINT) AS c
              FROM pu GROUP BY variant
            ), a AS (
              SELECT n AS n_a, c AS conv_a FROM r WHERE variant = 0
            ), b AS (
              SELECT n AS n_b, c AS conv_b FROM r WHERE variant = 1
            )
            SELECT n_a, n_b, conv_a, conv_b,
                   CAST(conv_a AS DOUBLE) / n_a AS rate_a,
                   CAST(conv_b AS DOUBLE) / n_b AS rate_b,
                   (CAST(conv_a AS DOUBLE) / n_a
                    - CAST(conv_b AS DOUBLE) / n_b)
                   / SQRT((CAST(conv_a + conv_b AS DOUBLE)
                           / (n_a + n_b))
                          * (CAST(1 AS DOUBLE)
                             - CAST(conv_a + conv_b AS DOUBLE)
                               / (n_a + n_b))
                          * (CAST(1 AS DOUBLE) / n_a
                             + CAST(1 AS DOUBLE) / n_b))
                     AS z_score,
                   ABS((CAST(conv_a AS DOUBLE) / n_a
                        - CAST(conv_b AS DOUBLE) / n_b)
                       / SQRT((CAST(conv_a + conv_b AS DOUBLE)
                               / (n_a + n_b))
                              * (CAST(1 AS DOUBLE)
                                 - CAST(conv_a + conv_b AS DOUBLE)
                                   / (n_a + n_b))
                              * (CAST(1 AS DOUBLE) / n_a
                                 + CAST(1 AS DOUBLE) / n_b)))
                     > CAST(1.96 AS DOUBLE) AS significant
            FROM a, b
        """,
        "events_mannwhitney_value": """
            WITH e AS (
              SELECT event_type,
                     CAST(FLOOR(value * 100) + 1 AS BIGINT) AS x
              FROM events
              WHERE event_type IN ('purchase', 'view')
                AND value IS NOT NULL
            ), blk AS (
              SELECT x,
                     CAST(SUM(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM e GROUP BY x
            ), cum AS (
              SELECT ca, c,
                     COALESCE(SUM(c) OVER (
                       ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS prefix
              FROM blk
            ), agg AS (
              SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                     CAST(SUM(c - ca) AS BIGINT) AS n_b,
                     CAST(SUM(ca * (2 * prefix + c + 1)) AS BIGINT)
                       AS two_ra,
                     CAST(SUM(c * c * c - c) AS BIGINT) AS sumt
              FROM cum
            )
            SELECT n_a, n_b,
                   (two_ra - n_a * (n_a + 1)) AS two_u_a,
                   CAST(two_ra - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
                     / (CAST(2 AS DOUBLE)
                        * SQRT((CAST(n_a AS DOUBLE) * n_b / 12)
                               * ((n_a + n_b + 1)
                                  - CAST(sumt AS DOUBLE)
                                    / (CAST(n_a + n_b AS DOUBLE)
                                       * (n_a + n_b - 1)))))
                     AS z_score,
                   ABS(CAST(two_ra - n_a * (n_a + 1) - n_a * n_b
                            AS DOUBLE)
                       / (CAST(2 AS DOUBLE)
                          * SQRT((CAST(n_a AS DOUBLE) * n_b / 12)
                                 * ((n_a + n_b + 1)
                                    - CAST(sumt AS DOUBLE)
                                      / (CAST(n_a + n_b AS DOUBLE)
                                         * (n_a + n_b - 1))))))
                     > CAST(1.96 AS DOUBLE) AS significant
            FROM agg
        """,
        "events_ks_test_value": """
            WITH e AS (
              SELECT event_type,
                     CAST(FLOOR(value * 100) + 1 AS BIGINT) AS x
              FROM events
              WHERE event_type IN ('purchase', 'view')
                AND value IS NOT NULL
            ), blk AS (
              SELECT x,
                     CAST(SUM(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM e GROUP BY x
            ), tot AS (
              SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                     CAST(SUM(c - ca) AS BIGINT) AS n_b
              FROM blk
            ), cum AS (
              SELECT CAST(SUM(ca) OVER (ORDER BY x) AS BIGINT) AS cum_a,
                     CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) AS cum_all
              FROM blk
            ), m AS (
              SELECT CAST(MAX(ABS(cum_a * (SELECT n_b FROM tot)
                                  - (cum_all - cum_a)
                                    * (SELECT n_a FROM tot)))
                          AS BIGINT) AS d_num
              FROM cum
            )
            SELECT n_a, n_b, d_num,
                   CAST(d_num AS DOUBLE) / (n_a * n_b) AS ks_d,
                   CAST(1.358 AS DOUBLE)
                     * SQRT(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b))
                     AS crit_05,
                   CAST(d_num AS DOUBLE) / (n_a * n_b)
                     > CAST(1.358 AS DOUBLE)
                       * SQRT(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b))
                     AS significant
            FROM tot, m
        """,
        "events_welch_ttest_value": """
            WITH e AS (
              SELECT event_type,
                     CAST(FLOOR(value * 100) AS BIGINT) AS x
              FROM events
              WHERE event_type IN ('purchase', 'view')
                AND value IS NOT NULL
            ), a AS (
              SELECT
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN x ELSE 0 END) AS BIGINT) AS s1_a,
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN x * x ELSE 0 END) AS BIGINT) AS s2_a,
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 0 ELSE x END) AS BIGINT) AS s1_b,
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 0 ELSE x * x END) AS BIGINT) AS s2_b
              FROM e
            ), m AS (
              SELECT n_a, n_b,
                     CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                       AS mean_cents_a,
                     CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                       AS mean_cents_b,
                     ((CAST(s2_a AS DOUBLE)
                       - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE)
                         / CAST(n_a AS DOUBLE))
                      / (CAST(n_a AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                     / CAST(n_a AS DOUBLE) AS ta,
                     ((CAST(s2_b AS DOUBLE)
                       - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE)
                         / CAST(n_b AS DOUBLE))
                      / (CAST(n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                     / CAST(n_b AS DOUBLE) AS tb
              FROM a
            )
            SELECT n_a, n_b, mean_cents_a, mean_cents_b,
                   (mean_cents_a - mean_cents_b) / SQRT(ta + tb)
                     AS t_stat,
                   ((ta + tb) * (ta + tb))
                     / (ta * ta
                        / (CAST(n_a AS DOUBLE) - CAST(1.0 AS DOUBLE))
                        + tb * tb
                          / (CAST(n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                     AS welch_df,
                   ABS((mean_cents_a - mean_cents_b) / SQRT(ta + tb))
                     > CAST(1.96 AS DOUBLE) AS significant
            FROM m
        """,
        "events_hourly_autocorrelation": """
            WITH hrs AS (
              SELECT (epoch_us(ts) // 3600000000) AS h,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY 1
            ), rng AS (
              SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hrs
            ), spine AS (
              SELECT UNNEST(generate_series(h0, h1)) AS h FROM rng
            ), dense AS (
              SELECT s.h, CAST(COALESCE(c, 0) AS BIGINT) AS c
              FROM spine s LEFT JOIN hrs USING (h)
            ), pairs AS (
              SELECT a.c AS x, b.c AS y
              FROM dense a JOIN dense b ON b.h = a.h + 24
            ), g AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(y * y) AS BIGINT) AS syy
              FROM pairs
            )
            SELECT n AS n_pairs,
                   CAST(n * sxy - sx * sy AS BIGINT) AS acf_num,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                        * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                     AS acf24,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                        * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                     > CAST(0.25 AS DOUBLE) AS daily_seasonal
            FROM g
        """,
        "lineitem_benford_digits": """
            WITH cents AS (
              SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c
              FROM lineitem
            ), dig AS (
              SELECT CAST(SUBSTR(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
                       AS digit
              FROM cents WHERE c > 0
            ), counts AS (
              SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_d
              FROM dig GROUP BY digit
            ), tot AS (
              SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM counts
            )
            SELECT digit, n_d,
                   CAST(n_d AS DOUBLE) / n AS share,
                   ROUND(LOG10(CAST(1.0 AS DOUBLE)
                               + CAST(1.0 AS DOUBLE)
                                 / CAST(digit AS DOUBLE)), 6) AS benford_p,
                   ROUND(ABS(CAST(n_d AS DOUBLE) / n
                             - LOG10(CAST(1.0 AS DOUBLE)
                                     + CAST(1.0 AS DOUBLE)
                                       / CAST(digit AS DOUBLE))), 6)
                     AS abs_dev
            FROM counts, tot
            ORDER BY digit
        """,
        "doc_neyman_allocation": """
            WITH a AS (
              SELECT source,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS s1,
                     CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
              FROM documents GROUP BY source
            ), w AS (
              SELECT source, n, s1,
                     SQRT((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                       AS sd,
                     CAST(n AS DOUBLE)
                       * SQRT((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                 / CAST(n AS DOUBLE))
                              / (CAST(n AS DOUBLE)
                                 - CAST(1.0 AS DOUBLE))) AS wgt
              FROM a
            ), t AS (
              SELECT SUM(wgt) AS tw FROM w
            )
            SELECT source, n AS n_docs,
                   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_chars,
                   ROUND(sd, 6) AS sd_chars,
                   ROUND(wgt / tw, 6) AS neyman_share
            FROM w, t
            ORDER BY source
        """,
        "events_daily_changepoint": """
            WITH days AS (
              SELECT (epoch_us(ts) // 86400000000) AS day,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY 1
            ), tot AS (
              SELECT CAST(SUM(c) AS BIGINT) AS n_events,
                     CAST(COUNT(*) AS BIGINT) AS n_days
              FROM days
            ), cum AS (
              SELECT day,
                     CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS cum_c,
                     CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
                       AS k
              FROM days
            ), g AS (
              SELECT day,
                     ABS(cum_c * (SELECT n_days FROM tot)
                         - (SELECT n_events FROM tot) * k) AS g
              FROM cum
            )
            SELECT (SELECT n_days FROM tot) AS n_days,
                   (SELECT n_events FROM tot) AS n_events,
                   day AS cp_day, g AS g_max,
                   CAST(g AS DOUBLE)
                     / ((SELECT n_events FROM tot)
                        * (SELECT n_days FROM tot)) AS cp_frac
            FROM g ORDER BY g DESC, day ASC LIMIT 1
        """,
        "events_seasonal_naive_forecast": """
            WITH days AS (
              SELECT (epoch_us(ts) // 86400000000) AS day,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY 1
            ), scored AS (
              SELECT d.c AS c, f.c AS fc
              FROM days d JOIN days f ON d.day = f.day + 7
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
                   CAST(SUM(ABS(c - fc)) AS DOUBLE) / COUNT(*) AS mae,
                   CAST(SUM(c - fc) AS DOUBLE) / COUNT(*) AS bias,
                   ROUND(SUM(CAST(ABS(c - fc) AS DOUBLE) / c)
                         / COUNT(*), 6) AS mape
            FROM scored
        """,
        "doc_vocab_coverage_topk": r"""
            WITH words AS (
              SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)),
                                                  '\s+')) AS word
              FROM documents WHERE TRIM(text) <> ''
            ), freq AS (
              SELECT word, COUNT(*) AS c FROM words
              WHERE word <> '' GROUP BY word
            ), ranked AS (
              SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word ASC) AS r
              FROM freq
            ), tot AS (
              SELECT CAST(SUM(c) AS BIGINT) AS t,
                     CAST(COUNT(*) AS BIGINT) AS nv
              FROM freq
            ), ks AS (
              SELECT CAST(k AS BIGINT) AS k
              FROM (VALUES (10), (100), (1000)) t(k)
            )
            SELECT k,
                   CAST((SELECT SUM(c) FROM ranked WHERE r <= k)
                        AS BIGINT) AS covered,
                   (SELECT t FROM tot) AS total_occurrences,
                   (SELECT nv FROM tot) AS n_vocab,
                   CAST((SELECT SUM(c) FROM ranked WHERE r <= k)
                        AS DOUBLE)
                     / CAST((SELECT t FROM tot) AS DOUBLE) AS coverage
            FROM ks ORDER BY k
        """,
        "doc_vocab_topk": r"""
            SELECT word, COUNT(*) AS n
            FROM (
              SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS word
              FROM documents WHERE TRIM(text) <> ''
            )
            WHERE word <> ''
            GROUP BY word ORDER BY n DESC, word LIMIT 50
        """,
        "doc_bigram_topk": r"""
            WITH toks AS (
              SELECT regexp_split_to_array(TRIM(LOWER(text)), '\s+') AS t
              FROM documents WHERE TRIM(text) <> ''
            ), big AS (
              SELECT UNNEST([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
              FROM toks
            )
            SELECT bigram, COUNT(*) AS n
            FROM big GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
        """,
        # KL per-term doubles are IEEE-exact products/divisions of integer
        # counts (< 2^53) spelled exactly like the Spark expression; ln ULP
        # noise + summation order are absorbed by ROUND(..., 6). The lift
        # test is integer cross-multiplication — exact on both engines.
        # span identity = md5_number_lower of the comma-joined token ids —
        # the SAME uint64 Spark's conv(md5-lower-hex,16,10) path computes,
        # so duplicate classification is exact (not merely collision-equal)
        "token_span_dedup": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN TRIM(text) = '' THEN CAST([] AS BIGINT[])
                          ELSE list_transform(
                                 regexp_split_to_array(TRIM(LOWER(text)), '\s+'),
                                 w -> CAST(md5_number_lower(w) % 50257 AS BIGINT))
                     END AS t
              FROM documents
            ), spans AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5_number_lower(array_to_string(t[i:i+4], ',')) AS h
              FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
              WHERE len(t) >= 5
            ), dups AS (
              SELECT h FROM spans GROUP BY h HAVING COUNT(*) > 1
            ), hits AS (
              SELECT s.doc_id, s.pos, s.pos + 4 AS e
              FROM spans s JOIN dups USING (h)
            ), isl AS (
              SELECT doc_id, pos, e,
                     CASE WHEN pos > COALESCE(MAX(e) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            -1) + 1
                          THEN 1 ELSE 0 END AS ni
              FROM hits
            ), isl2 AS (
              SELECT doc_id, pos, e,
                     SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS g
              FROM isl
            ), cov AS (
              SELECT doc_id, CAST(SUM(mx - mn + 1) AS BIGINT) AS dup_covered
              FROM (SELECT doc_id, g, MIN(pos) AS mn, MAX(e) AS mx
                    FROM isl2 GROUP BY doc_id, g)
              GROUP BY doc_id
            )
            SELECT b.doc_id, CAST(len(b.t) AS INT) AS n_tok,
                   CAST(COALESCE(c.dup_covered, 0) AS BIGINT) AS dup_covered,
                   CASE WHEN len(b.t) = 0 THEN CAST(0.0 AS DOUBLE)
                        ELSE ROUND(CAST(COALESCE(c.dup_covered, 0) AS DOUBLE)
                                   / len(b.t), 6)
                   END AS dup_fraction
            FROM toks b LEFT JOIN cov c USING (doc_id)
            ORDER BY b.doc_id
        """,
        # packed-stream fingerprint: md5-lower-64 hex of the comma-joined
        # token ids — certifies exact in-shard token ORDER, not just sizes
        "token_pack_sequences": rf"""
            WITH toks AS (
              SELECT doc_id, source,
                     CASE WHEN TRIM(text) = '' THEN CAST([] AS BIGINT[])
                          ELSE list_transform(
                                 regexp_split_to_array(TRIM(LOWER(text)), '\s+'),
                                 w -> CAST(md5_number_lower(w) % 50257 AS BIGINT))
                     END AS t
              FROM documents
            ), sh AS (
              SELECT source, doc_id, t,
                     CAST(FLOOR((SUM(len(t)) OVER (
                         PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - len(t)) / 512.0) AS BIGINT) AS shard
              FROM toks
            ), packed AS (
              SELECT source, shard,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     flatten(list(t ORDER BY doc_id)) AS p
              FROM sh GROUP BY source, shard
            ), hashed AS (
              SELECT source, shard, n_docs, CAST(len(p) AS INT) AS n_tokens,
                     md5(array_to_string(p, ',')) AS h
              FROM packed
            )
            SELECT source, shard, n_docs, n_tokens,
                   {" || ".join(f"substr(h, {31 - 2 * i}, 2)" for i in range(8))} AS pack_fp
            FROM hashed
            ORDER BY source, shard
        """,
        "token_vocab_audit": r"""
            WITH tok AS (
              SELECT source,
                     UNNEST(list_transform(
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+'),
                       w -> CAST(md5_number_lower(w) % 50257 AS BIGINT))) AS tok
              FROM documents WHERE TRIM(text) <> ''
            ), per AS (
              SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM tok GROUP BY source, tok
            )
            SELECT source,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   ROUND(CAST(MAX(c) AS DOUBLE)
                         / CAST(SUM(c) AS DOUBLE), 6) AS top_share,
                   ROUND(LN(CAST(SUM(c) AS DOUBLE))
                         - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)))
                           / CAST(SUM(c) AS DOUBLE), 6) AS entropy_nats
            FROM per
            GROUP BY source
            ORDER BY source
        """,
        "moments_quantity_stats": """
            WITH s AS (
              SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                     SUM(CAST(l_quantity AS HUGEINT)) AS s1,
                     SUM(CAST(l_quantity AS HUGEINT)
                         * CAST(l_quantity AS HUGEINT)) AS s2,
                     SUM(CAST(l_quantity AS HUGEINT)
                         * CAST(l_quantity AS HUGEINT)
                         * CAST(l_quantity AS HUGEINT)) AS s3,
                     SUM(CAST(l_quantity AS HUGEINT)
                         * CAST(l_quantity AS HUGEINT)
                         * CAST(l_quantity AS HUGEINT)
                         * CAST(l_quantity AS HUGEINT)) AS s4
              FROM lineitem
            ), v AS (
              SELECT n, s1, s2, s3, s4,
                     CAST(n * s2 - s1 * s1 AS DOUBLE)
                       / CAST(n * n AS DOUBLE) AS var
              FROM s
            )
            SELECT CAST(n AS BIGINT) AS n,
                   ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
                   ROUND(var, 6) AS variance,
                   ROUND(CAST(n * n * s3 - 3 * n * s1 * s2
                              + 2 * s1 * s1 * s1 AS DOUBLE)
                         / CAST(n * n * n AS DOUBLE)
                         / (var * SQRT(var)), 6) AS skewness,
                   ROUND(CAST(n * n * n * s4 - 4 * n * n * s1 * s3
                              + 6 * n * s1 * s1 * s2
                              - 3 * s1 * s1 * s1 * s1 AS DOUBLE)
                         / CAST(n * n * n * n AS DOUBLE)
                         / (var * var), 6) AS kurtosis
            FROM v
        """,
        "moments_price_by_flag": """
            WITH c AS (
              SELECT l_returnflag,
                     CAST(FLOOR(l_extendedprice * 100) AS HUGEINT) AS v
              FROM lineitem
            ), s AS (
              SELECT l_returnflag,
                     CAST(COUNT(*) AS HUGEINT) AS n,
                     SUM(v) AS s1, SUM(v * v) AS s2, SUM(v * v * v) AS s3
              FROM c GROUP BY l_returnflag
            ), v AS (
              SELECT l_returnflag, n, s1, s2, s3,
                     CAST(n * s2 - s1 * s1 AS DOUBLE)
                       / CAST(n * n AS DOUBLE) AS var
              FROM s
            )
            SELECT l_returnflag,
                   CAST(n AS BIGINT) AS n,
                   ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
                   ROUND(var, 6) AS variance,
                   ROUND(CAST(n * n * s3 - 3 * n * s1 * s2
                              + 2 * s1 * s1 * s1 AS DOUBLE)
                         / CAST(n * n * n AS DOUBLE)
                         / (var * SQRT(var)), 6) AS skewness
            FROM v ORDER BY l_returnflag
        """,
        "token_zipf_fit": r"""
            WITH tok AS (
              SELECT source,
                     UNNEST(list_transform(
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+'),
                       w -> CAST(md5_number_lower(w) % 50257 AS BIGINT))) AS tok
              FROM documents WHERE TRIM(text) <> ''
            ), per AS (
              SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM tok GROUP BY source, tok
            ), ranked AS (
              SELECT source, c,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY c DESC, tok) AS r
              FROM per
            ), t AS (
              SELECT source, LN(CAST(r AS DOUBLE)) AS x,
                     LN(CAST(c AS DOUBLE)) AS y
              FROM ranked
            ), s AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x * x) AS sxx, SUM(x * y) AS sxy
              FROM t GROUP BY source
            ), sl AS (
              SELECT source, n_distinct, sx, sy,
                     (CAST(n_distinct AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n_distinct AS DOUBLE) * sxx - sx * sx) AS slope
              FROM s
            )
            SELECT source, n_distinct,
                   ROUND(slope, 6) AS zipf_slope,
                   ROUND((sy - slope * sx)
                         / CAST(n_distinct AS DOUBLE), 6) AS zipf_intercept
            FROM sl ORDER BY source
        """,
        "token_bigram_novelty": r"""
            WITH toks AS (
              SELECT source,
                     list_transform(
                       regexp_split_to_array(TRIM(LOWER(text)), '\s+'),
                       w -> CAST(md5_number_lower(w) % 50257 AS BIGINT)) AS t
              FROM documents WHERE TRIM(text) <> ''
            ), bgt AS (
              SELECT source, t[i] * 50257 + t[i + 1] AS bg
              FROM toks, UNNEST(range(1, len(t))) AS u(i)
              WHERE len(t) >= 2
            ), per AS (
              SELECT source, bg, CAST(COUNT(*) AS BIGINT) AS c
              FROM bgt GROUP BY source, bg
            ), solo AS (
              SELECT bg FROM per GROUP BY bg HAVING COUNT(*) = 1
            ), excl AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exclusive
              FROM per WHERE bg IN (SELECT bg FROM solo)
              GROUP BY source
            ), stats AS (
              SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct
              FROM per GROUP BY source
            )
            SELECT s.source, n_bigrams, n_distinct,
                   CAST(COALESCE(n_exclusive, 0) AS BIGINT) AS n_exclusive,
                   ROUND(CAST(COALESCE(n_exclusive, 0) AS DOUBLE)
                         / CAST(n_distinct AS DOUBLE), 6) AS novelty
            FROM stats s LEFT JOIN excl e ON s.source = e.source
            ORDER BY s.source
        """,
        "doc_source_word_kl": r"""
            WITH w AS (
              SELECT source,
                     UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS word
              FROM documents WHERE TRIM(text) <> ''
            ), gw AS (
              SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c_gw
              FROM w WHERE word <> '' GROUP BY source, word
            ), wt AS (
              SELECT word, CAST(SUM(c_gw) AS BIGINT) AS c_w FROM gw GROUP BY word
            ), gt AS (
              SELECT source, CAST(SUM(c_gw) AS BIGINT) AS n_g FROM gw GROUP BY source
            ), tot AS (
              SELECT CAST(SUM(n_g) AS BIGINT) AS n_total FROM gt
            )
            SELECT gw.source,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   ROUND(SUM(
                     (CAST(c_gw AS DOUBLE) / CAST(n_g AS DOUBLE))
                     * LN((CAST(c_gw AS DOUBLE) * CAST(n_total AS DOUBLE))
                          / (CAST(c_w AS DOUBLE) * CAST(n_g AS DOUBLE)))
                   ), 6) AS kl,
                   CAST(SUM(CASE WHEN c_gw * n_total > 8 * c_w * n_g
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_lifted
            FROM gw
            JOIN wt USING (word)
            JOIN gt USING (source)
            CROSS JOIN tot
            GROUP BY gw.source
            ORDER BY gw.source
        """,
        # PSI terms are IEEE-exact products/divisions of integer counts
        # spelled exactly like the Spark expression; FLOOR(value/10.0)
        # bucket edges are pure IEEE double ops (no libm), so bucket ids
        # are bit-identical across engines. ln ULPs + summation order are
        # absorbed by ROUND(..., 6).
        "events_value_psi": r"""
            WITH pb AS (
              SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
                     CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS c_a,
                     CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END)
                          AS BIGINT) AS c_b
              FROM events GROUP BY 1
            ), tot AS (
              SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                     CAST(SUM(c_b) AS BIGINT) AS n_b
              FROM pb
            )
            SELECT ROUND(SUM(CASE WHEN c_a > 0 AND c_b > 0 THEN
                     (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                     * LN((CAST(c_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                          / (CAST(c_b AS DOUBLE) * CAST(n_a AS DOUBLE)))
                   END), 6) AS psi,
                   CAST(SUM(CASE WHEN c_a > 0 AND c_b > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_buckets_both,
                   CAST(SUM(CASE WHEN c_a > 0 AND c_b = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_only_a,
                   CAST(SUM(CASE WHEN c_a = 0 AND c_b > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_only_b
            FROM pb CROSS JOIN tot
        """,
        # DuckDB date_trunc('week') is Monday-truncated like Spark's;
        # week offsets are exact multiples of 7 days, so /7 is exact.
        "events_weekly_retention": r"""
            WITH wk AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('week', ts) AS DATE) AS wk
              FROM events
            ), c AS (
              SELECT user_id, MIN(wk) AS cohort FROM wk GROUP BY user_id
            )
            SELECT c.cohort,
                   CAST(date_diff('day', c.cohort, wk.wk) / 7 AS BIGINT)
                     AS week_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM wk JOIN c USING (user_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # MG candidates are a guaranteed superset of {f > n/51} (k=64 >= 50),
        # and the second pass recounts exactly, so the result IS the plain
        # GROUP BY / HAVING answer
        "mg_heavy_words": r"""
            WITH w2 AS (
              SELECT word FROM (
                SELECT UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS word
                FROM documents WHERE TRIM(text) <> ''
              ) WHERE word <> ''
            ), tot AS (SELECT COUNT(*) AS n FROM w2)
            SELECT word, COUNT(*) AS cnt
            FROM w2 GROUP BY word
            HAVING COUNT(*) * 51 > (SELECT n FROM tot)
            ORDER BY word
        """,
        # grouped MG: candidate superset + exact recount == plain per-group
        # GROUP BY + HAVING
        "mg_heavy_words_by_source": r"""
            WITH w2 AS (
              SELECT source, word FROM (
                SELECT source,
                       UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+'))
                         AS word
                FROM documents WHERE TRIM(text) <> ''
              ) WHERE word <> ''
            ), tot AS (SELECT source, COUNT(*) AS n FROM w2 GROUP BY source)
            SELECT w2.source, word, COUNT(*) AS cnt
            FROM w2 JOIN tot ON tot.source = w2.source
            GROUP BY w2.source, word, tot.n
            HAVING COUNT(*) * 64 > tot.n
            ORDER BY w2.source, word
        """,
        # fingerprint = min md5-lower-64 over word 5-grams, spelled as the
        # 16-hex-char little-endian string (byte-reversed lower half of the
        # md5 hex) — identical on both engines, min-lexicographic == min-
        # numeric on fixed-width lowercase hex.
        "doc_quality_importance_sample": """
            WITH b AS (
              SELECT doc_id, n_chars,
                     CASE WHEN n_chars >= 300 THEN 'long'
                          WHEN n_chars >= 150 THEN 'mid'
                          ELSE 'short' END AS bucket,
                     md5_number_lower('2:' || CAST(doc_id AS VARCHAR)) AS h
              FROM documents
            ), k AS (
              SELECT *,
                     CASE bucket WHEN 'long' THEN CAST(1.0 AS DOUBLE)
                                 WHEN 'mid' THEN CAST(0.5 AS DOUBLE)
                                 ELSE CAST(0.1 AS DOUBLE) END AS p,
                     CASE bucket WHEN 'long' THEN TRUE
                                 WHEN 'mid' THEN h < 9223372036854775808
                                 ELSE h < 1844674407370955264 END AS kept
              FROM b
            )
            SELECT bucket, ANY_VALUE(p) AS p, COUNT(*) AS n_total,
                   CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_sampled,
                   ROUND(SUM(CASE WHEN kept THEN 1.0 / p ELSE 0.0 END), 6)
                     AS ht_docs,
                   ROUND(SUM(CASE WHEN kept THEN n_chars * (1.0 / p)
                             ELSE 0.0 END), 6) AS ht_chars,
                   CAST(SUM(n_chars) AS BIGINT) AS chars_sum
            FROM k GROUP BY bucket ORDER BY bucket
        """,
        "doc_leakage_safe_split": """
            WITH g AS (
              SELECT md5_number_lower(text) AS th, MIN(doc_id) AS rep,
                     COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents GROUP BY th
            ), s AS (
              SELECT n, chars,
                     CASE WHEN shard = 8 THEN 'val'
                          WHEN shard = 9 THEN 'test'
                          ELSE 'train' END AS split
              FROM (SELECT *,
                           md5_number_lower('1:' || CAST(rep AS VARCHAR))
                             % 10 AS shard
                    FROM g)
            )
            SELECT split,
                   CAST(SUM(n) AS BIGINT) AS n_docs,
                   COUNT(*) AS n_groups,
                   CAST(SUM(chars) AS BIGINT) AS chars_sum,
                   CAST(0 AS BIGINT) AS leaked_groups
            FROM s GROUP BY split ORDER BY split
        """,
        "doc_fingerprint_clusters": f"""
            WITH {_grams_cte(5)}, hv AS (
              SELECT doc_id, md5(g) AS h FROM grams
            ), fp AS (
              SELECT doc_id,
                     MIN({" || ".join(f"substr(h, {31 - 2 * i}, 2)" for i in range(8))}) AS fp
              FROM hv GROUP BY doc_id
            )
            SELECT doc_id, fp,
                   COUNT(*) OVER (PARTITION BY fp) AS cluster_size
            FROM fp ORDER BY doc_id
        """,
        # dedup of the doubled stream == the original table
        # MG candidates ⊇ {f > n/128} independent of micro-batch layout and
        # the second pass recounts exactly — plain GROUP BY / HAVING
        "events_stream_heavy_users": """
            WITH tot AS (SELECT COUNT(user_id) AS n FROM events)
            SELECT user_id, COUNT(*) AS cnt
            FROM events GROUP BY user_id
            HAVING COUNT(*) * 128 > (SELECT n FROM tot)
            ORDER BY user_id
        """,
        # stream-static inner join over the whole file == the batch join
        "events_stream_enriched_segments": """
            SELECT c.c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(e.value), 2) AS sum_value
            FROM events e
            JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1 ORDER BY 1
        """,
        "events_stream_dedup_counts": """
            SELECT event_type, COUNT(*) AS n_events
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # text-source roundtrip: staged column is integer cents (exact in
        # text); n_corrupt's literal 2 certifies the PERMISSIVE path found
        # exactly the injected malformed lines
        "events_xml_source_roundtrip": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(user_id) AS BIGINT) AS n_with_user,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                     AS cents,
                   CAST(2 AS INTEGER) AS n_corrupt
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # UTF8_LCASE grouping == lower() grouping on this ASCII corpus;
        # rep is the BINARY min surface form (upper sorts before lower)
        "doc_collated_vocab_topk": """
            WITH cased AS (
              SELECT CASE WHEN doc_id % 2 = 0 THEN upper(text)
                          ELSE text END AS text
              FROM documents
            ), words AS (
              SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM cased
            ), t AS (
              SELECT word, lower(word) AS ci FROM words WHERE word <> ''
            )
            SELECT MIN(word) AS rep,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT word) AS BIGINT) AS n_forms
            FROM t GROUP BY ci
            ORDER BY n DESC, rep LIMIT 20
        """,
        "events_text_source_roundtrip": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(2 AS INTEGER) AS n_corrupt
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_avro_source_roundtrip": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT))
                        AS BIGINT) AS cents,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_orc_source_roundtrip": """
            SELECT event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT))
                        AS BIGINT) AS cents,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events
            WHERE CAST(FLOOR(value * 100.0) AS BIGINT) >= 0
            GROUP BY event_type ORDER BY event_type
        """,
        "ann_filtered_topk": """
            WITH q AS (
              SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
            ), scored AS (
              SELECT vec_id, label,
                     list_cosine_similarity(embedding, qe) AS cosine
              FROM embeddings, q WHERE vec_id <> 0
            ), g AS (
              SELECT vec_id, label,
                     ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id)
                       AS global_rank
              FROM scored
            ), f AS (
              SELECT vec_id, global_rank,
                     ROW_NUMBER() OVER (ORDER BY global_rank) AS rank
              FROM g WHERE label = 3
            )
            SELECT CAST(rank AS INTEGER) AS rank, vec_id,
                   CAST(global_rank AS BIGINT) AS global_rank
            FROM f WHERE rank <= 10 ORDER BY rank
        """,
        "embedding_sq8_recall": """
            WITH q AS (
              SELECT list_transform(embedding, x ->
                       CAST(FLOOR(CAST(x AS DOUBLE) * 256) AS BIGINT))
                       AS qv
              FROM embeddings WHERE vec_id = 0
            ), vv AS (
              SELECT vec_id,
                     list_transform(embedding, x ->
                       CAST(FLOOR(CAST(x AS DOUBLE) * 256) AS BIGINT))
                       AS v
              FROM embeddings WHERE vec_id <> 0
            ), scored AS (
              SELECT vec_id,
                     list_dot_product(v, qv)
                     / SQRT(list_dot_product(v, v)
                            * list_dot_product(qv, qv)) AS cosq
              FROM vv, q
            ), qt AS (
              SELECT vec_id, ROW_NUMBER() OVER (
                       ORDER BY cosq DESC, vec_id) AS rk
              FROM scored
            ), ft AS (
              SELECT vec_id FROM (
                SELECT e.vec_id, ROW_NUMBER() OVER (
                         ORDER BY list_cosine_similarity(
                                    e.embedding, f.embedding) DESC,
                                  e.vec_id) AS rk
                FROM embeddings e,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0) f
                WHERE e.vec_id <> 0) WHERE rk <= 10
            )
            SELECT CAST(256 AS INTEGER) AS scale,
                   CAST(10 AS INTEGER) AS k,
                   (SELECT COUNT(*) FROM qt JOIN ft USING (vec_id)
                    WHERE rk <= 10) AS n_hits,
                   CAST((SELECT COUNT(*) FROM qt JOIN ft USING (vec_id)
                         WHERE rk <= 10) AS DOUBLE)
                     / CAST(10 AS DOUBLE) AS recall,
                   (SELECT vec_id FROM qt WHERE rk = 1) AS top1_vec_id
        """,
        "embedding_matryoshka_recall": """
            WITH q AS (
              SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
            ), dims AS (
              SELECT * FROM (VALUES (16), (32), (64)) t(d)
            ), full_top AS (
              SELECT vec_id FROM (
                SELECT vec_id, ROW_NUMBER() OVER (
                         ORDER BY list_cosine_similarity(embedding, qe)
                           DESC, vec_id) AS rk
                FROM embeddings, q WHERE vec_id <> 0) WHERE rk <= 10
            ), trunc_top AS (
              SELECT d, vec_id FROM (
                SELECT d, vec_id, ROW_NUMBER() OVER (
                         PARTITION BY d
                         ORDER BY list_cosine_similarity(
                                    embedding[1:d], qe[1:d]) DESC,
                                  vec_id) AS rk
                FROM embeddings, q, dims WHERE vec_id <> 0) WHERE rk <= 10
            )
            SELECT CAST(d AS INTEGER) AS dims, CAST(10 AS INTEGER) AS k,
                   (SELECT COUNT(*) FROM trunc_top t
                    JOIN full_top f USING (vec_id) WHERE t.d = dims.d)
                     AS n_hits,
                   CAST((SELECT COUNT(*) FROM trunc_top t
                         JOIN full_top f USING (vec_id)
                         WHERE t.d = dims.d) AS DOUBLE)
                     / CAST(10 AS DOUBLE) AS recall
            FROM dims ORDER BY dims
        """,
        "doc_hybrid_rrf_topk": r"""
            WITH w AS (
              SELECT doc_id,
                     UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+'))
                       AS word
              FROM documents WHERE TRIM(text) <> ''
            ), lex AS (
              SELECT doc_id, COUNT(*) AS tf
              FROM w WHERE word IN ('spark', 'join', 'window')
              GROUP BY doc_id
            ), lexr AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id)
                       AS lex_rank
              FROM lex
            ), q AS (
              SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
            ), denser AS (
              SELECT vec_id AS doc_id,
                     ROW_NUMBER() OVER (
                       ORDER BY list_cosine_similarity(embedding, qe) DESC,
                                vec_id) AS dense_rank
              FROM embeddings, q WHERE vec_id <> 0
            ), fused AS (
              SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                     l.lex_rank, d.dense_rank,
                     COALESCE(CAST(1 AS DOUBLE)
                              / CAST(60 + l.lex_rank AS DOUBLE), 0)
                     + COALESCE(CAST(1 AS DOUBLE)
                                / CAST(60 + d.dense_rank AS DOUBLE), 0)
                       AS rrf
              FROM (SELECT * FROM lexr WHERE lex_rank <= 20) l
              FULL OUTER JOIN
                   (SELECT * FROM denser WHERE dense_rank <= 20) d
              ON l.doc_id = d.doc_id
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(lex_rank, 0) AS INTEGER) AS lex_rank,
                   CAST(COALESCE(dense_rank, 0) AS INTEGER) AS dense_rank,
                   rrf
            FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
        """,
        "events_winsorized_mean": """
            WITH h AS (
              SELECT event_type,
                     CAST(FLOOR(value * 100.0) AS BIGINT) AS cents,
                     COUNT(*) AS cnt
              FROM events GROUP BY event_type, cents
            ), cum AS (
              SELECT *,
                     SUM(cnt) OVER (PARTITION BY event_type
                                    ORDER BY cents) AS c,
                     SUM(cnt) OVER (PARTITION BY event_type) AS n
              FROM h
            ), cuts AS (
              SELECT event_type,
                     MIN(CASE WHEN c >= CAST(n AS DOUBLE)
                                       * CAST(0.05 AS DOUBLE)
                              THEN cents END) AS lo_cut,
                     MIN(CASE WHEN c >= CAST(n AS DOUBLE)
                                       * CAST(0.95 AS DOUBLE)
                              THEN cents END) AS hi_cut
              FROM cum GROUP BY event_type
            )
            SELECT event_type,
                   CAST(MAX(lo_cut) AS BIGINT) AS lo_cut,
                   CAST(MAX(hi_cut) AS BIGINT) AS hi_cut,
                   CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(GREATEST(lo_cut, LEAST(hi_cut, cents)) * cnt)
                        AS DOUBLE)
                     / CAST(SUM(cnt) AS DOUBLE) AS win_mean
            FROM h JOIN cuts USING (event_type)
            GROUP BY event_type ORDER BY event_type
        """,
        "orders_repeat_purchase_stats": """
            WITH o AS (
              SELECT o_custkey, o_orderkey, o_orderpriority,
                     epoch_us(o_orderdate) // 86400000000 AS day
              FROM orders
            ), g AS (
              SELECT o_orderpriority,
                     day - LAG(day) OVER (
                       PARTITION BY o_custkey
                       ORDER BY day, o_orderkey) AS gap
              FROM o
            ), pc AS (
              SELECT o_custkey, o_orderpriority, COUNT(*) AS n
              FROM o GROUP BY o_custkey, o_orderpriority
            ), base AS (
              SELECT o_orderpriority,
                     COUNT(*) AS n_customers,
                     CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_repeat,
                     CAST(SUM(n) AS BIGINT) AS n_orders
              FROM pc GROUP BY o_orderpriority
            ), h AS (
              SELECT o_orderpriority, gap, COUNT(*) AS c
              FROM g WHERE gap IS NOT NULL
              GROUP BY o_orderpriority, gap
            ), med AS (
              SELECT o_orderpriority,
                     CAST(MIN(gap) AS BIGINT) AS median_gap_days
              FROM (
                SELECT *,
                       SUM(c) OVER (PARTITION BY o_orderpriority
                                    ORDER BY gap) AS cum,
                       SUM(c) OVER (PARTITION BY o_orderpriority) AS tot
                FROM h)
              WHERE cum >= CAST(tot AS DOUBLE) * CAST(0.5 AS DOUBLE)
              GROUP BY o_orderpriority
            )
            SELECT o_orderpriority, n_customers, n_repeat, n_orders,
                   CAST(n_repeat AS DOUBLE) / CAST(n_customers AS DOUBLE)
                     AS repeat_rate,
                   median_gap_days
            FROM base LEFT JOIN med USING (o_orderpriority)
            ORDER BY o_orderpriority
        """,
        "doc_char_bigram_entropy": """
            WITH d AS (
              SELECT source, LOWER(text) AS t FROM documents
              WHERE LENGTH(LOWER(text)) >= 2
            ), g AS (
              SELECT source,
                     UNNEST(list_transform(
                       generate_series(1, LENGTH(t) - 1),
                       i -> substr(t, CAST(i AS INTEGER), 2))) AS g
              FROM d
            ), c AS (
              SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
              FROM g GROUP BY source, g
            )
            SELECT source,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams,
                   COUNT(*) AS n_distinct,
                   ROUND(LN(CAST(SUM(c) AS DOUBLE))
                         - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)))
                           / CAST(SUM(c) AS DOUBLE), 6) AS entropy
            FROM c GROUP BY source ORDER BY source
        """,
        "doc_safety_keyword_screen": r"""
            WITH d AS (
              SELECT source,
                     len(list_intersect(
                           regexp_split_to_array(TRIM(LOWER(text)), '\s+'),
                           ['slow', 'dup', 'big'])) > 0 AS flagged
              FROM documents
            )
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_flagged,
                   CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS flag_rate
            FROM d GROUP BY source ORDER BY source
        """,
        "events_ab_srm_check": """
            WITH arms AS (
              SELECT CAST(md5_number_lower(
                       'srm:' || CAST(user_id AS VARCHAR)) % 2 AS BIGINT)
                       AS arm
              FROM (SELECT DISTINCT user_id FROM events)
            ), c AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                     CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_a,
                     CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_b
              FROM arms
            )
            SELECT n_users, n_a, n_b,
                   (CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                   * (CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                   / (CAST(n_users AS DOUBLE) / 2)
                   + (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                   * (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                   / (CAST(n_users AS DOUBLE) / 2) AS chi2,
                   ((CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                    * (CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                    / (CAST(n_users AS DOUBLE) / 2)
                    + (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                    * (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
                    / (CAST(n_users AS DOUBLE) / 2))
                   > CAST(3.84 AS DOUBLE) AS srm_flag
            FROM c
        """,
        "doc_tfidf_top_terms": r"""
            WITH w AS (
              SELECT source,
                     UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+'))
                       AS word
              FROM documents WHERE TRIM(text) <> ''
            ), ww AS (
              SELECT * FROM w WHERE word <> ''
            ), tf AS (
              SELECT source, word, CAST(COUNT(*) AS BIGINT) AS tf
              FROM ww GROUP BY source, word
            ), df AS (
              SELECT word, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY word
            ), ns AS (
              SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS ns FROM tf
            ), scored AS (
              SELECT source, word, tf, df,
                     ROUND(tf * LN(ns / CAST(df AS DOUBLE)), 6) AS score
              FROM tf JOIN df USING (word) CROSS JOIN ns
            ), r AS (
              SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY source
                          ORDER BY score DESC, word ASC) AS rank
              FROM scored
            )
            SELECT source, CAST(rank AS INTEGER) AS rank, word, tf, df,
                   score
            FROM r WHERE rank <= 3 ORDER BY source, rank
        """,
        "doc_curriculum_pack": r"""
            WITH d AS (
              SELECT doc_id, lang, n_chars,
                     CAST(len(regexp_split_to_array(TRIM(text), '\s+'))
                          AS BIGINT) AS n_tok
              FROM documents WHERE TRIM(text) <> ''
            ), sh AS (
              SELECT *,
                     CAST(FLOOR(CAST(SUM(n_tok) OVER (
                              PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_tok AS DOUBLE)
                            / 2000) AS BIGINT) AS shard
              FROM d
            ), rr AS (
              SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY lang, shard
                       ORDER BY n_chars DESC, doc_id) AS rf,
                     ROW_NUMBER() OVER (PARTITION BY lang, shard
                       ORDER BY n_chars ASC, doc_id DESC) AS rb
              FROM sh
            )
            SELECT lang, shard, COUNT(*) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                   CAST(MAX(CASE WHEN rf = 1 THEN doc_id END) AS BIGINT)
                     AS lead_doc,
                   CAST(MAX(CASE WHEN rb = 1 THEN doc_id END) AS BIGINT)
                     AS tail_doc
            FROM rr GROUP BY lang, shard ORDER BY lang, shard
        """,
        "doc_grouped_kfold_split": """
            SELECT CAST(md5_number_lower('fold:' || source) % 5 AS BIGINT)
                     AS fold,
                   COUNT(DISTINCT source) AS n_groups,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
                   CAST(0 AS BIGINT) AS leaked_groups
            FROM documents GROUP BY fold ORDER BY fold
        """,
        # streaming session windows: gaps-and-islands rebuild; only
        # sessions the final watermark (max ts - 1s) finalized are emitted.
        # tests/test_streaming guards the boundary margin (no session end
        # near the watermark at any SF)
        # dynamic gaps-and-islands: running max of us+gap (each event
        # extends by ITS OWN gap); finalized iff end <= max_us - 1s
        "events_stream_dynamic_sessions": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS us, value,
                     CASE WHEN event_type = 'purchase'
                          THEN 3600000000 ELSE 1800000000 END AS gap
              FROM events
            ), flagged AS (
              SELECT user_id, us, value, gap,
                     CASE WHEN MAX(us + gap) OVER (
                            PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) IS NULL THEN 1
                          WHEN us > MAX(us + gap) OVER (
                            PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) THEN 1
                     ELSE 0 END AS new_sess
              FROM e
            ), sess AS (
              SELECT user_id, us, value, gap,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged
            ), agg AS (
              SELECT user_id,
                     MIN(us) AS session_start,
                     MAX(us + gap) AS session_end,
                     COUNT(*) AS n_events,
                     CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT))
                          AS BIGINT) AS cents
              FROM sess GROUP BY user_id, sid
            )
            SELECT user_id, session_start, session_end, n_events, cents
            FROM agg
            WHERE session_end <=
                  (SELECT MAX(epoch_us(ts)) FROM events) - 1000000
            ORDER BY user_id, session_start
        """,
        "events_stream_session_stats": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS us, value FROM events
            ), flagged AS (
              SELECT user_id, us, value,
                     CASE WHEN us - LAG(us) OVER (
                            PARTITION BY user_id ORDER BY us) > 1800000000
                          OR LAG(us) OVER (
                            PARTITION BY user_id ORDER BY us) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
              FROM e
            ), sess AS (
              SELECT user_id, us, value,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged
            ), agg AS (
              SELECT user_id,
                     MIN(us) AS session_start,
                     MAX(us) + 1800000000 AS session_end,
                     COUNT(*) AS n_events,
                     CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT))
                          AS BIGINT) AS cents
              FROM sess GROUP BY user_id, sid
            )
            SELECT user_id, session_start, session_end, n_events, cents
            FROM agg
            WHERE session_end <=
                  (SELECT MAX(epoch_us(ts)) FROM events) - 1000000
            ORDER BY user_id, session_start
        """,
        # sliding windows: each event lands in exactly two epoch-aligned
        # 2h/1h-hop windows; append mode keeps windows finalized by the
        # drain-time watermark (end <= max event time - delay)
        "events_stream_sliding_window_counts": """
            WITH e AS (
              SELECT epoch_us(ts) AS us, event_type,
                     CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
              FROM events
            ), w AS (
              SELECT (us // 3600000000 - k) * 3600000000 AS win_start,
                     event_type, cents
              FROM e, UNNEST([0, 1]) AS t(k)
            ), agg AS (
              SELECT win_start, event_type,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(cents) AS BIGINT) AS cents
              FROM w GROUP BY win_start, event_type
            )
            SELECT win_start,
                   win_start + 7200000000 AS win_end,
                   event_type, n_events, cents
            FROM agg
            WHERE win_start + 7200000000 <=
                  (SELECT MAX(epoch_us(ts)) FROM events) - 1000000
            ORDER BY win_start, event_type
        """,
        # drained interval stream-stream join == batch interval join
        # drained-bounded left-semi emission == the EXISTS set (no
        # watermark finalization term, unlike the outer flavors)
        "events_stream_semi_converted": """
            SELECT CAST(c.event_id AS BIGINT) AS click_id,
                   CAST(c.user_id AS BIGINT) AS user_id,
                   CAST(epoch_us(c.ts) AS BIGINT) AS click_us
            FROM events c
            WHERE c.event_type = 'click' AND EXISTS (
              SELECT 1 FROM events p
              WHERE p.event_type = 'purchase'
                AND p.user_id = c.user_id
                AND epoch_us(p.ts) >= epoch_us(c.ts)
                AND epoch_us(p.ts) <= epoch_us(c.ts) + 7200000000)
            ORDER BY click_id
        """,
        "events_stream_attribution": """
            SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                   c.user_id, ROUND(p.value, 2) AS purchase_value
            FROM events c
            JOIN events p ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
            ORDER BY click_id, purchase_id
        """,
        # left-outer stream-stream join: matched pairs + watermark-expired
        # unmatched clicks (null emission == state eviction at
        # click_ts + horizon < min-watermark); -1 stands in for NULL so
        # both engines sort/hash identically. Boundary margin test-guarded.
        "events_stream_attribution_full": """
            WITH c AS (
              SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
              FROM events WHERE event_type = 'click'
            ), p AS (
              SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
              FROM events WHERE event_type = 'purchase'
            ), m AS (
              SELECT c.click_id, p.purchase_id
              FROM c JOIN p ON c.user_id = p.user_id
               AND p.pus >= c.cus AND p.pus <= c.cus + 7200000000
            ), wm AS (
              SELECT LEAST((SELECT MAX(cus) FROM c),
                           (SELECT MAX(pus) FROM p)) - 1000000 AS w
            )
            SELECT click_id, purchase_id, 'attributed' AS kind FROM m
            UNION ALL
            SELECT c.click_id, CAST(-1 AS BIGINT), 'unconverted_click'
            FROM c, wm
            WHERE c.click_id NOT IN (SELECT click_id FROM m)
              AND c.cus + 7200000000 < wm.w
            UNION ALL
            SELECT CAST(-1 AS BIGINT), p.purchase_id, 'orphan_purchase'
            FROM p, wm
            WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
              AND p.pus < wm.w
            ORDER BY click_id, purchase_id
        """,
        "events_stream_attribution_outer": """
            WITH c AS (
              SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
              FROM events WHERE event_type = 'click'
            ), p AS (
              SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
              FROM events WHERE event_type = 'purchase'
            ), m AS (
              SELECT c.click_id, p.purchase_id
              FROM c JOIN p ON c.user_id = p.user_id
               AND p.pus >= c.cus AND p.pus <= c.cus + 7200000000
            ), wm AS (
              SELECT LEAST((SELECT MAX(cus) FROM c),
                           (SELECT MAX(pus) FROM p)) - 1000000 AS w
            )
            SELECT click_id, purchase_id, TRUE AS attributed FROM m
            UNION ALL
            SELECT c.click_id, CAST(-1 AS BIGINT) AS purchase_id,
                   FALSE AS attributed
            FROM c, wm
            WHERE c.click_id NOT IN (SELECT click_id FROM m)
              AND c.cus + 7200000000 < wm.w
            ORDER BY click_id, purchase_id
        """,
        "events_hourly_stream_digest": """
            WITH cum AS (
              SELECT event_type,
                     CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
                     CAST(value AS DOUBLE) AS v,
                     SUM(COUNT(*)) OVER (
                       PARTITION BY event_type,
                         CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)
                       ORDER BY value) AS c,
                     SUM(COUNT(*)) OVER (
                       PARTITION BY event_type,
                         CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)
                     ) AS n
              FROM events GROUP BY event_type, ws, value
            )
            SELECT ws AS window_start, event_type,
                   CAST(MAX(n) AS BIGINT) AS n,
                   MIN(CASE WHEN c >= 0.5 * n THEN v END) AS p50
            FROM cum GROUP BY ws, event_type
            ORDER BY window_start, event_type
        """,
        "ann_topk_cosine": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT ROW_NUMBER() OVER (
                     ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id
                   ) AS rank,
                   vec_id
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY rank LIMIT 10
        """,
        "embedding_knn_label_consistency": """
            WITH probes AS (
              SELECT vec_id AS pid, embedding AS pe, label AS plab
              FROM embeddings WHERE vec_id < 16
            ), ranked AS (
              SELECT pid, plab, e.label,
                     ROW_NUMBER() OVER (
                       PARTITION BY pid
                       ORDER BY list_cosine_similarity(
                                  CAST(e.embedding AS DOUBLE[]),
                                  CAST(pe AS DOUBLE[])) DESC,
                                e.vec_id) AS rk
              FROM probes, embeddings e WHERE e.vec_id <> pid
            )
            SELECT pid, ANY_VALUE(plab) AS probe_label,
                   CAST(SUM(CASE WHEN label = plab THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_same_label,
                   CAST(SUM(CASE WHEN label = plab THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(5.0 AS DOUBLE) AS consistency
            FROM ranked WHERE rk <= 5
            GROUP BY pid ORDER BY pid
        """,
        "embedding_dup_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a
            JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                    CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])
                  ) >= 0.42
            ORDER BY id_a, id_b
        """,
        # keep-best semantic dedup: pair set is engine-stable (no cosine
        # within 3e-5 of 0.42 at any SF — same basis as embedding_dup_pairs);
        # components + winner pick are integer-deterministic from there
        "semantic_dedup_keep_best": """
            WITH RECURSIVE pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])) >= 0.42
            ), edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION
              SELECT id_b AS u, id_a AS v FROM pairs
            ), reach(u, v) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), comp AS (
              SELECT u AS doc_id, LEAST(u, MIN(v)) AS group_id
              FROM reach GROUP BY u
            ), sized AS (
              SELECT c.group_id, c.doc_id, e.label,
                     COUNT(*) OVER (PARTITION BY c.group_id) AS group_size,
                     ROW_NUMBER() OVER (PARTITION BY c.group_id
                                        ORDER BY e.label DESC, c.doc_id) AS rn
              FROM comp c JOIN embeddings e ON e.vec_id = c.doc_id
            )
            SELECT group_id, doc_id AS kept_id, label AS kept_label,
                   group_size
            FROM sized WHERE rn = 1 ORDER BY group_id
        """,
        "ivf_topk_cosine": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT ROW_NUMBER() OVER (
                     ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id
                   ) AS rank,
                   vec_id
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY rank LIMIT 10
        """,
        "semantic_dedup_ann_keep_best": _semantic_ann_oracle_sql(),
        "ann_pruned_topk": _ann_pruned_oracle_sql(),
        "ann_recall_at_k": _ann_recall_oracle_sql(),
        "ann_bucket_balance": _ann_bucket_balance_oracle_sql(),
        "pq_adc_topk": _pq_oracle_sql(),
        "embedding_kmeans_lloyd": _kmeans_oracle_sql(),
        "ivf_recall_at_probe": _ivf_recall_oracle_sql(),
        "ann_pruned_filtered_topk": _ann_pruned_oracle_sql(k=5, label=3),
        "events_theil_sen_trend": """
            WITH daily AS (
              SELECT epoch_us(ts) // 86400000000 AS d,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY 1
            ), pairs AS (
              SELECT CAST(b.c - a.c AS DOUBLE)
                       / CAST(b.d - a.d AS DOUBLE) AS slope
              FROM daily a JOIN daily b ON a.d < b.d
            ), ranked AS (
              SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn,
                     COUNT(*) OVER () AS m
              FROM pairs
            ), med AS (
              SELECT (MIN(slope) + MAX(slope)) / CAST(2.0 AS DOUBLE) AS s
              FROM ranked WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
            ), terms AS (
              SELECT CAST(daily.c AS DOUBLE)
                       - med.s * CAST(daily.d AS DOUBLE) AS t
              FROM daily, med
            ), ranked2 AS (
              SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS rn,
                     COUNT(*) OVER () AS n
              FROM terms
            ), icept AS (
              SELECT (MIN(t) + MAX(t)) / CAST(2.0 AS DOUBLE) AS i
              FROM ranked2 WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
            )
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
                   med.s AS ts_slope, icept.i AS ts_intercept
            FROM med, icept
        """,
        "events_dow_seasonal_decomposition": """
            WITH daily AS (
              SELECT epoch_us(ts) // 86400000000 AS d,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY 1
            ), det AS (
              SELECT d % 7 AS dow_idx,
                     7 * c - SUM(c) OVER w AS detr7,
                     COUNT(*) OVER w AS wn
              FROM daily
              WINDOW w AS (ORDER BY d
                           RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            )
            SELECT CAST(dow_idx AS BIGINT) AS dow_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(detr7) AS BIGINT) AS sum_detr7,
                   CAST(MAX(ABS(detr7)) AS BIGINT) AS max_abs_detr7,
                   CAST(SUM(detr7) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                     / CAST(7.0 AS DOUBLE) AS seasonal
            FROM det WHERE wn = 7
            GROUP BY dow_idx ORDER BY dow_idx
        """,
        "doc_source_word_diversity": r"""
            WITH hist AS (
              SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
              FROM (
                SELECT source,
                       UNNEST(regexp_split_to_array(TRIM(LOWER(text)),
                                                    '\s+')) AS word
                FROM documents WHERE TRIM(text) <> ''
              ) WHERE word <> ''
              GROUP BY source, word
            ), agg AS (
              SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     CAST(SUM(c * (c - 1)) AS BIGINT) AS sum_cc,
                     CAST(MAX(c) AS BIGINT) AS max_c
              FROM hist GROUP BY source
            )
            SELECT source, n_tokens, n_distinct,
                   CAST(1.0 AS DOUBLE)
                     - CAST(sum_cc AS DOUBLE)
                       / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) AS simpson,
                   CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     AS ttr,
                   CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     AS top_share
            FROM agg ORDER BY source
        """,
        "part_link_prediction": """
            WITH op AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), edges AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY a.l_partkey, b.l_partkey
              HAVING COUNT(*) >= 2
            ), und AS (
              SELECT pa AS p, pb AS nbr FROM edges
              UNION ALL SELECT pb AS p, pa AS nbr FROM edges
            ), deg AS (
              SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY p
            ), cand AS (
              SELECT u1.p AS key_a, u2.p AS key_b,
                     CAST(COUNT(*) AS BIGINT) AS cn
              FROM und u1 JOIN und u2
                ON u1.nbr = u2.nbr AND u1.p < u2.p
              GROUP BY u1.p, u2.p
            ), new_links AS (
              SELECT c.* FROM cand c
              WHERE NOT EXISTS (SELECT 1 FROM edges e
                                WHERE e.pa = c.key_a AND e.pb = c.key_b)
            )
            SELECT n.key_a, n.key_b, n.cn, da.d AS deg_a, db.d AS deg_b,
                   CAST(n.cn AS DOUBLE)
                     / CAST(da.d + db.d - n.cn AS DOUBLE) AS jaccard
            FROM new_links n
            JOIN deg da ON da.p = n.key_a
            JOIN deg db ON db.p = n.key_b
            ORDER BY cn DESC, key_a, key_b LIMIT 10
        """,
        "media_image_phash_dedup": _phash_dedup_oracle_sql(),
        "events_type_hits": """
            WITH seq AS (
              SELECT LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS from_type,
                     event_type AS to_type
              FROM events WHERE user_id IS NOT NULL
            ), wgt AS (
              SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM seq WHERE from_type IS NOT NULL
              GROUP BY from_type, to_type
            ), a1 AS (
              SELECT to_type AS t, CAST(SUM(n) AS DOUBLE) AS v
              FROM wgt GROUP BY to_type
            ), a1n AS (
              SELECT t, v / (SELECT MAX(v) FROM a1) AS v FROM a1
            ), h1 AS (
              SELECT w.from_type AS s,
                     list_reduce(
                       list(CAST(w.n AS DOUBLE) * a.v ORDER BY w.to_type),
                       (acc, x) -> acc + x) AS v
              FROM wgt w JOIN a1n a ON a.t = w.to_type
              GROUP BY w.from_type
            ), h1n AS (
              SELECT s, v / (SELECT MAX(v) FROM h1) AS v FROM h1
            ), a2 AS (
              SELECT w.to_type AS t,
                     list_reduce(
                       list(CAST(w.n AS DOUBLE) * h.v ORDER BY w.from_type),
                       (acc, x) -> acc + x) AS v
              FROM wgt w JOIN h1n h ON h.s = w.from_type
              GROUP BY w.to_type
            ), a2n AS (
              SELECT t, v / (SELECT MAX(v) FROM a2) AS v FROM a2
            ), nodes AS (
              SELECT DISTINCT event_type FROM events
              WHERE user_id IS NOT NULL
            )
            SELECT nd.event_type,
                   COALESCE(h.v, CAST(0 AS DOUBLE)) AS hub,
                   COALESCE(a.v, CAST(0 AS DOUBLE)) AS authority
            FROM nodes nd
            LEFT JOIN h1n h ON h.s = nd.event_type
            LEFT JOIN a2n a ON a.t = nd.event_type
            ORDER BY nd.event_type
        """,
        # sessionization CTE reuses the proven events_sessionized spelling;
        # start boundaries at 2t sort before same-µs end boundaries at 2t+1
        "events_max_concurrent_sessions": """
            WITH flagged AS (
              SELECT user_id, ts, epoch_us(ts) AS us,
                     CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts)) > 1800
                          OR LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
              FROM events WHERE user_id IS NOT NULL
            ), numbered AS (
              SELECT user_id, us,
                     SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sidx
              FROM flagged
            ), sess AS (
              SELECT user_id, sidx, MIN(us) AS s_us, MAX(us) AS e_us
              FROM numbered GROUP BY user_id, sidx
            ), bounds AS (
              SELECT s_us * 2 AS v, CAST(1 AS BIGINT) AS w FROM sess
              UNION ALL
              SELECT e_us * 2 + 1 AS v, CAST(-1 AS BIGINT) AS w FROM sess
            ), net AS (
              SELECT v, SUM(w) AS w FROM bounds GROUP BY v
            ), conc AS (
              SELECT v, SUM(w) OVER (ORDER BY v) AS conc FROM net
            )
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess)
                     AS n_sessions,
                   CAST(conc AS BIGINT) AS max_concurrent,
                   CAST(v // 2 AS BIGINT) AS at_us
            FROM conc ORDER BY conc DESC, v ASC LIMIT 1
        """,
        "part_component_label_propagation": """
            WITH op AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), edges AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY a.l_partkey, b.l_partkey
              HAVING COUNT(*) >= 2
            ), und AS (
              SELECT pa AS u, pb AS v FROM edges
              UNION ALL SELECT pb AS u, pa AS v FROM edges
            ), l0 AS (
              SELECT DISTINCT u AS node, u AS lbl FROM und
            ), l1 AS (
              SELECT l.node, LEAST(l.lbl, MIN(n.lbl)) AS lbl
              FROM l0 l JOIN und e ON e.u = l.node
              JOIN l0 n ON n.node = e.v
              GROUP BY l.node, l.lbl
            ), l2 AS (
              SELECT l.node, LEAST(l.lbl, MIN(n.lbl)) AS lbl
              FROM l1 l JOIN und e ON e.u = l.node
              JOIN l1 n ON n.node = e.v
              GROUP BY l.node, l.lbl
            ), l3 AS (
              SELECT l.node, LEAST(l.lbl, MIN(n.lbl)) AS lbl
              FROM l2 l JOIN und e ON e.u = l.node
              JOIN l2 n ON n.node = e.v
              GROUP BY l.node, l.lbl
            )
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM l3) AS n_nodes,
                   (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM l3)
                     AS n_components,
                   (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM l3 a JOIN l2 b ON a.node = b.node
                    WHERE a.lbl <> b.lbl) AS n_changed_last_round,
                   (SELECT CAST(MAX(c) AS BIGINT) FROM (
                      SELECT COUNT(*) AS c FROM l3 GROUP BY lbl))
                     AS max_component_size
        """,
        "doc_containment_dup_pairs": r"""
            WITH raw AS (
              SELECT doc_id AS k, text FROM documents WHERE doc_id < 150
            ), corp AS (
              SELECT 'd' || CAST(k AS VARCHAR) AS doc_id, text FROM raw
              UNION ALL
              SELECT 'c' || CAST(k AS VARCHAR) AS doc_id,
                     array_to_string(w[1 : len(w) // 2], ' ') AS text
              FROM (SELECT k, regexp_split_to_array(TRIM(text), '\s+') AS w
                    FROM raw WHERE k < 40)
            ), words AS (
              SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w
              FROM corp
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
              FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
              WHERE len(w) >= 3
              UNION
              SELECT DISTINCT doc_id, array_to_string(w, ' ') AS g
              FROM words WHERE len(w) < 3
            ), hv AS (
              SELECT DISTINCT doc_id, md5_number_lower(g) AS h FROM grams
            ), sizes AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM hv GROUP BY doc_id
            ), kept AS (
              SELECT h FROM (SELECT h, COUNT(*) AS df FROM hv GROUP BY h)
              WHERE df <= GREATEST(
                64, CEIL(CAST((SELECT COUNT(DISTINCT doc_id) FROM hv)
                              AS DOUBLE) * 0.005))
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS i
              FROM hv a JOIN hv b ON a.h = b.h AND a.doc_id < b.doc_id
              JOIN kept k2 ON k2.h = a.h
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b, sa.sz AS len_a, sb.sz AS len_b,
                   i AS inter,
                   CAST(i AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
                     AS containment
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
                  >= 0.8
            ORDER BY id_a, id_b
        """,
        "customer_top_orders_lateral": """
            SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
            FROM customer c, LATERAL (
              SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
            WHERE c.c_custkey % 100 = 7
            ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
        """,
        # Spark DIV on positive BIGINTs == DuckDB // ; spine 0..6
        "orders_sql_udf_buckets": """
            WITH agg AS (
              SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) // 100000
                       AS bucket,
                     COUNT(*) AS n_orders,
                     SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                       AS cents
              FROM orders
              GROUP BY 1
            ), spine AS (
              SELECT CAST(g AS BIGINT) AS bucket
              FROM generate_series(0, 6) AS t(g)
            )
            SELECT s.bucket,
                   CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
                   CAST(COALESCE(a.cents, 0) AS BIGINT) AS cents
            FROM spine s LEFT JOIN agg a ON a.bucket = s.bucket
            ORDER BY s.bucket
        """,
        # the 3 lexicographically-smallest sources of src0..src19
        "doc_source_metrics_transpose": """
            SELECT 'n_docs' AS key,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                    WHERE source = 'src0') AS src0,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                    WHERE source = 'src1') AS src1,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                    WHERE source = 'src10') AS src10
            UNION ALL
            SELECT 'sum_chars' AS key,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
                    WHERE source = 'src0') AS src0,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
                    WHERE source = 'src1') AS src1,
                   (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
                    WHERE source = 'src10') AS src10
            ORDER BY key
        """,
        # identical RANGE-frame peers-by-value semantics both engines;
        # corr chain spelled op-for-op, NULLIF guards zero variance
        "events_rolling_weekly_corr": """
            WITH daily AS (
              SELECT epoch_us(ts) // 86400000000 AS d,
                     CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(FLOOR(value * 100.0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
                     CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(FLOOR(value * 100.0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
              FROM events
              WHERE event_type IN ('purchase', 'view')
              GROUP BY d
            ), m AS (
              SELECT d,
                     CAST(COUNT(*) OVER w AS BIGINT) AS n,
                     CAST(SUM(x) OVER w AS BIGINT) AS sx,
                     CAST(SUM(y) OVER w AS BIGINT) AS sy,
                     CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
                     CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
                     CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
              FROM daily
              WINDOW w AS (ORDER BY d
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT d, n, sx, sy,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / NULLIF(
                         sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)),
                         CAST(0.0 AS DOUBLE))
                     AS corr7
            FROM m WHERE n = 7 ORDER BY d
        """,
        # z = three identically-spelled ops on exact ints; DuckDB sign()
        # == Spark signum on integer diffs
        "events_mann_kendall_trend": """
            WITH daily AS (
              SELECT epoch_us(ts) // 86400000000 AS d,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM events GROUP BY d
            ), s AS (
              SELECT CAST(SUM(sign(b.c - a.c)) AS BIGINT) AS s_stat
              FROM daily a JOIN daily b ON a.d < b.d
            ), ties AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY c
            ), tsum AS (
              SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                       AS tie_term
              FROM ties
            ), n AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
            ), base AS (
              SELECT n_days, s_stat,
                     CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                          - tie_term AS BIGINT) AS var_num
              FROM n, s, tsum
            )
            SELECT n_days, s_stat, var_num,
                   CAST(var_num AS DOUBLE) / CAST(18.0 AS DOUBLE)
                     AS var_s,
                   CASE WHEN s_stat > 0 THEN
                          CAST(s_stat - 1 AS DOUBLE)
                          / sqrt(CAST(var_num AS DOUBLE)
                                 / CAST(18.0 AS DOUBLE))
                        WHEN s_stat < 0 THEN
                          CAST(s_stat + 1 AS DOUBLE)
                          / sqrt(CAST(var_num AS DOUBLE)
                                 / CAST(18.0 AS DOUBLE))
                        ELSE CAST(0.0 AS DOUBLE) END AS z
            FROM base
        """,
        "customer_l_diversity_audit": """
            WITH grp AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(COUNT(*) AS BIGINT) AS g,
                     CAST(COUNT(DISTINCT
                       FLOOR(c_acctbal / CAST(100 AS DOUBLE)))
                       AS BIGINT) AS l
              FROM customer GROUP BY c_nationkey, c_mktsegment
            )
            SELECT CAST(SUM(g) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(MIN(l) AS BIGINT) AS min_l,
                   CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_violating_groups,
                   CAST(SUM(CASE WHEN l < 3 THEN g ELSE 0 END) AS BIGINT)
                     AS n_exposed_rows,
                   CAST(SUM(CASE WHEN l < 3 THEN g ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(g) AS DOUBLE) AS exposed_share
            FROM grp
        """,
        # flesch = identical literal/division/subtraction chain on exact
        # ints — bit-identical, unrounded
        "doc_readability_scores": r"""
            WITH d AS (
              SELECT source,
                     len(string_split_regex(trim(text), '\s+')) AS w,
                     GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                       AS s,
                     len(regexp_extract_all(text, '[aeiou]+')) AS syl
              FROM documents
            ), agg AS (
              SELECT source,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(w) AS BIGINT) AS words,
                     CAST(SUM(s) AS BIGINT) AS sentences,
                     CAST(SUM(syl) AS BIGINT) AS syllables
              FROM d GROUP BY source
            )
            SELECT source, n_docs, words, sentences, syllables,
                   CAST(206.835 AS DOUBLE)
                     - CAST(1.015 AS DOUBLE)
                       * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
                     - CAST(84.6 AS DOUBLE)
                       * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                     AS flesch
            FROM agg ORDER BY source
        """,
        # p literals are %.17g roundtrips of math.log10(1+1/d) — the
        # exact doubles the Spark side carries; no libm in either plan
        "orders_benford_audit": """
            WITH c AS (
              SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c
              FROM orders
              WHERE CAST(FLOOR(o_totalprice * 100) AS BIGINT) > 0
            ), dig AS (
              SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
                       AS digit,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM c GROUP BY 1
            ), tot AS (
              SELECT CAST(SUM(n) AS BIGINT) AS total FROM dig
            ), pmap AS (
              SELECT * FROM (VALUES
                (1, CAST(0.3010299956639812 AS DOUBLE)),
                (2, CAST(0.17609125905568124 AS DOUBLE)),
                (3, CAST(0.12493873660829992 AS DOUBLE)),
                (4, CAST(0.09691001300805642 AS DOUBLE)),
                (5, CAST(0.079181246047624818 AS DOUBLE)),
                (6, CAST(0.066946789630613221 AS DOUBLE)),
                (7, CAST(0.057991946977686733 AS DOUBLE)),
                (8, CAST(0.051152522447381291 AS DOUBLE)),
                (9, CAST(0.045757490560675143 AS DOUBLE))
              ) AS t(digit, p)
            ), terms AS (
              SELECT d.digit, d.n, p.p,
                     CAST(d.n AS DOUBLE) / CAST(t.total AS DOUBLE)
                       AS share,
                     (CAST(d.n AS DOUBLE) - CAST(t.total AS DOUBLE) * p.p)
                       * (CAST(d.n AS DOUBLE)
                          - CAST(t.total AS DOUBLE) * p.p)
                       / (CAST(t.total AS DOUBLE) * p.p) AS term
              FROM dig d JOIN pmap p ON p.digit = d.digit
              CROSS JOIN tot t
            )
            SELECT digit, n, share, p AS p_benford,
                   (SELECT ROUND(SUM(term), 6) FROM terms) AS chi2
            FROM terms ORDER BY digit
        """,
        # EMA weights are integer SHIFTS (1<<(n-rn), n<=12 so shift<=11 —
        # far below DuckDB's <<63 overflow edge); the normalized EMA is
        # one division of exact BIGINTs, bit-identical, no ROUND
        "events_hourly_ema": """
            WITH hourly AS (
              SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                     SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS cents
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type, h
            ), ranked AS (
              SELECT event_type, h, cents,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY h DESC) AS BIGINT)
                       AS rn
              FROM hourly
            ), kept AS (
              SELECT event_type, h, cents, rn,
                     CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n_h
              FROM ranked WHERE rn <= 12
            )
            SELECT event_type,
                   CAST(MAX(n_h) AS BIGINT) AS n_hours_used,
                   CAST(MAX(h) AS BIGINT) AS last_hour,
                   CAST(MAX(CASE WHEN rn = 1 THEN cents END) AS BIGINT)
                     AS last_cents,
                   CAST(SUM(cents * (CAST(1 AS BIGINT)
                     << CAST(n_h - rn AS INTEGER))) AS BIGINT) AS ema_num,
                   CAST(SUM(cents * (CAST(1 AS BIGINT)
                     << CAST(n_h - rn AS INTEGER))) AS DOUBLE)
                     / CAST((CAST(1 AS BIGINT)
                       << CAST(MAX(n_h) AS INTEGER)) - 1 AS DOUBLE)
                     AS ema_cents
            FROM kept GROUP BY event_type ORDER BY event_type
        """,
        # replays the IDENTICAL three peel rounds (exact whether or not
        # peeling converged; n_removed_last_round reports convergence)
        "part_kcore_peel": """
            WITH op AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), edges AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY a.l_partkey, b.l_partkey
              HAVING COUNT(*) >= 2
            ), und AS (
              SELECT pa AS u, pb AS v FROM edges
              UNION ALL SELECT pb AS u, pa AS v FROM edges
            ), a0 AS (
              SELECT DISTINCT u AS node FROM und
            ), a1 AS (
              SELECT e.u AS node FROM und e
              JOIN a0 x ON x.node = e.u JOIN a0 y ON y.node = e.v
              GROUP BY e.u HAVING COUNT(*) >= 3
            ), a2 AS (
              SELECT e.u AS node FROM und e
              JOIN a1 x ON x.node = e.u JOIN a1 y ON y.node = e.v
              GROUP BY e.u HAVING COUNT(*) >= 3
            ), a3 AS (
              SELECT e.u AS node FROM und e
              JOIN a2 x ON x.node = e.u JOIN a2 y ON y.node = e.v
              GROUP BY e.u HAVING COUNT(*) >= 3
            )
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a0) AS n_nodes,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM a1) AS n_alive_r1,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM a2) AS n_alive_r2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM a3) AS n_alive_r3,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM a2)
                     - (SELECT CAST(COUNT(*) AS BIGINT) FROM a3)
                     AS n_removed_last_round
        """,
        # pinned by micro-probe: fixed gap 10s with events at 0s and 10s
        # yields ONE session 0->20 (touching windows MERGE: new session
        # iff ts > running max(ts+gap)); dynamic gaps [0,5)[4,24)[23,28)
        # merge to one 0->28 session (end = max member ts+gap)
        "events_dynamic_gap_sessions": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts) AS us,
                     CASE WHEN event_type = 'purchase'
                          THEN 3600000000 ELSE 1800000000 END AS gap
              FROM events
              WHERE user_id IS NOT NULL AND user_id % 50 = 7
            ), flagged AS (
              SELECT user_id, us, gap,
                     CASE WHEN MAX(us + gap) OVER (
                            PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) IS NULL THEN 1
                          WHEN us > MAX(us + gap) OVER (
                            PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) THEN 1
                     ELSE 0 END AS ns
              FROM ev
            ), numbered AS (
              SELECT user_id, us, gap,
                     SUM(ns) OVER (
                       PARTITION BY user_id ORDER BY us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sidx
              FROM flagged
            ), sess AS (
              SELECT user_id, sidx,
                     MIN(us) AS s_us, MAX(us + gap) AS e_us,
                     COUNT(*) AS n
              FROM numbered GROUP BY user_id, sidx
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(n) AS BIGINT) AS n_events,
                   CAST(MIN(s_us) AS BIGINT) AS first_start_us,
                   CAST(MAX(e_us) AS BIGINT) AS last_end_us,
                   CAST(MAX(e_us - s_us) AS BIGINT)
                     AS max_session_len_us
            FROM sess GROUP BY user_id ORDER BY user_id
        """,
        "orders_priority_listagg": """
            WITH ranked AS (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders
            )
            SELECT o_orderpriority,
                   string_agg(CAST(o_orderkey AS VARCHAR), ','
                     ORDER BY o_totalprice DESC, o_orderkey) AS top_keys,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS top3_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_top
            FROM ranked WHERE rn <= 3
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    }
