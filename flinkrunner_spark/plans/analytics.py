"""Analytics query plans — the Table/SQL-API parity surface (reference
flink/TableStreamJob.scala + util/SqlBuilder.scala prove out SQL pipelines;
these are the equivalent declarative DataFrame plans on the test schema).

All money arithmetic goes through exact DECIMAL (see operators/aggregates.py)
so results are bit-identical across engines and cluster sizes. Dimension
tables are explicitly broadcast — at 100 TB the fact tables shuffle only on
their join keys and every dim join is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.operators.aggregates import DEC, dmean, dsum
from flinkrunner_spark.operators.joins import topk_per_group
from flinkrunner_spark.tables import load_table, load_tables


def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (flagship). Scan → filter (pushed to
    parquet) → single hash aggregation with partial (map-side) combine."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    tax = F.lit(1).cast("decimal(8,6)") + F.col("l_tax").cast("decimal(8,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum(price, "sum_base_price"),
            F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("sum_disc_price"),
            F.sum(price * disc * tax).cast("decimal(24,6)").cast("double").alias("sum_charge"),
            dmean("l_quantity", "avg_qty"),
            dmean("l_extendedprice", "avg_price"),
            dmean("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-style shipping priority: top-10 open orders by pending revenue
    for one market segment. customer is broadcast; lineitem⋈orders
    shuffles on the order key only."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1998-06-01").cast("timestamp")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") > cutoff)
        .join(
            t["orders"].filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q5_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style local-supplier revenue by nation: 6-way join where every
    dimension (region→nation→supplier/customer) is broadcast; the only
    shuffles are lineitem⋈orders on the order key and the final agg."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = t["supplier"].join(
        F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("revenue"))
    )


def q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-style forecast revenue change: pure filter + scalar aggregate —
    every predicate pushes to the parquet scan (zero joins, zero wide
    shuffles; the canonical predicate-pushdown probe)."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast("decimal(8,6)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style returned-item revenue: top-20 customers by revenue lost to
    returns in one quarter. lineitem⋈orders shuffles on the order key;
    customer and nation are broadcast; the quarter predicate and the
    returnflag filter both push to the parquet scan."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q18_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style large-volume customers: orders whose total quantity
    exceeds 250. The per-order aggregate IS the output quantity (the
    final group is per order), so lineitem is scanned and shuffled exactly
    once — no join-back, which at 100 TB halves the fact shuffle."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-style promotion revenue share for one quarter: lineitem⋈part
    with part broadcast, conditional aggregation to one row. The date
    filter pushes to the parquet scan; the join adds no shuffle."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    rev = (price * disc).cast("decimal(24,6)")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(24,6)")))
                .cast("double")
                * 100.0
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
        .select(F.round("promo_revenue_pct", 6).alias("promo_revenue_pct"))
    )


def q19_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-style disjunctive brand/quantity revenue: OR-of-ANDs predicate
    across the join — Catalyst pushes the common join key and evaluates
    the disjunction post-join; part is broadcast."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    j = t["lineitem"].join(
        F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity").between(1, 11)) & (F.col("p_size").between(1, 5)))
        | ((F.col("p_brand") == "Brand#13") & (F.col("l_quantity").between(10, 20)) & (F.col("p_size").between(1, 10)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("l_quantity").between(20, 30)) & (F.col("p_size").between(1, 15)))
    )
    return j.filter(cond).agg(
        F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def salted_supplier_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier revenue via the skew-mitigating salted join
    (operators/joins.salted_join) — result-identical to the plain
    equi-join the oracle runs, but each supplier key's rows spread over
    16 salt slices in the shuffle."""
    from flinkrunner_spark.operators.joins import salted_join

    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    li = t["lineitem"].select("l_suppkey", "l_extendedprice", "l_discount")
    supp = t["supplier"].select("s_suppkey", "s_name")
    return (
        salted_join(li, supp, "l_suppkey", "s_suppkey", salt=16)
        .groupBy("s_name")
        .agg(F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("revenue"))
    )


def q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style order-priority checking: per-priority count of orders in a
    quarter having at least one returned lineitem (the schema has no
    commit/receipt dates, so 'late' is re-expressed as 'returned').
    EXISTS becomes a left-semi join — lineitem is projected to the join
    key before the shuffle, and the semi form never duplicates orders."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    returned = (
        t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    )
    return (
        orders.join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style volume shipping between two nations, by direction and ship
    year. Both nation-keyed dims (supplier, customer) are broadcast after
    their nation filter, so the only wide shuffle is lineitem⋈orders."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    pair = ("NATION_13", "NATION_19")
    nat = t["nation"].filter(F.col("n_name").isin(*pair))
    supp = (
        t["supplier"]
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        t["customer"]
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("revenue"))
    )


def q8_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-style market share: of all revenue from customers in one region,
    the fraction supplied by one nation, per order year. Conditional
    aggregation over a join where every dimension is broadcast."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    rev = (price * disc).cast("decimal(24,6)")
    cust_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    cust = t["customer"].join(
        F.broadcast(cust_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    target = F.col("supp_nation") == "NATION_13"
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(target, rev).otherwise(F.lit(0).cast("decimal(24,6)")))
                .cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share_raw")
        )
        .select(
            "o_year", F.round("mkt_share_raw", 6).alias("mkt_share")
        )
    )


def q12_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-style priority mix per line status (the schema has no shipmode;
    l_linestatus plays its role): CASE-counts of urgent/high vs other
    order priorities after the fact-fact join."""
    t = load_tables(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-style customer order-count distribution: left outer join so
    customers with no qualifying orders count as 0, then a second
    aggregation over the counts. Orders shuffle on the customer key with
    map-side combine; the distribution agg is tiny."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q15_topsupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-style top supplier: per-supplier quarterly revenue, keep the
    supplier(s) hitting the maximum. The scalar max is a one-row broadcast
    joined back on equality — no windowing over a single partition."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(price * disc).cast("decimal(24,6)").cast("double").alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-style small-quantity revenue: lineitems of one brand whose
    quantity is under 20% of that part's average. The correlated scalar
    subquery becomes a per-part aggregate joined back — both the brand
    prune and the per-part avg touch lineitem once each, and the avg
    side is broadcast (one row per part of the brand)."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    li = t["lineitem"].join(
        F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        dmean("l_quantity", "avg_qty")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0)
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(F.round("avg_yearly", 6).alias("avg_yearly"), "n_items")
    )


def q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-style sole-failing-supplier count (no commit/receipt dates in
    the schema, so 'failed delivery' is re-expressed as 'returned'):
    suppliers that were the only supplier with returned items on a
    multi-supplier order. The EXISTS / NOT EXISTS pair collapses into one
    per-order aggregate (distinct suppliers, distinct returning
    suppliers) — lineitem shuffles once on the order key instead of two
    correlated self-joins."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_returnflag")
    ret_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    ostats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(ret_supp).alias("n_supp_ret"),
        # with n_supp_ret == 1 enforced below, the max IS the sole
        # returner — identified inside the same aggregate, so lineitem is
        # scanned and shuffled exactly once (no returned-pairs join-back)
        F.max(ret_supp).alias("ret_suppkey"),
    )
    return (
        ostats.filter((F.col("n_supp") > 1) & (F.col("n_supp_ret") == 1))
        .groupBy("ret_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(t["supplier"]), F.col("ret_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


def q22_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-style sales opportunity: well-funded customers (balance above
    the positive-balance average) with no recent orders, grouped by
    market segment. The scalar average is a broadcast one-row cross join;
    the NOT EXISTS is a left-anti join shuffling only the filtered
    orders."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("2000-01-01").cast("timestamp")
    avg_bal = t["customer"].filter(F.col("c_acctbal") > 0).agg(
        dmean("c_acctbal", "avg_bal")
    )
    recent = t["orders"].filter(F.col("o_orderdate") >= cutoff).select("o_custkey")
    return (
        t["customer"]
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


def q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-style minimum-cost supplier: for each LARGE part, the EUROPE
    supplier(s) offering it at the lowest observed price. The schema has
    no partsupp table, so the part-supplier catalog is derived from
    lineitem (min extended price per (part, supplier) — untouched parquet
    doubles, so the min-equality join is bit-exact on any engine). The
    catalog aggregate shuffles lineitem once on (partkey, suppkey); part
    and the region-filtered supplier dim are broadcast. The per-part min
    is a window over the filtered candidate set — a self-join against a
    min aggregate would re-scan and re-shuffle lineitem a second time,
    which is the dominant cost at 100 TB."""
    t = load_tables(spark, sf_dir)
    eu_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(eu_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = (
        t["part"]
        .filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 25))
        .select("p_partkey", "p_size")
    )
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supply_cost"))
    )
    cand = ps.join(
        F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey")
    ).join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    from pyspark.sql.window import Window

    min_cost = F.min("supply_cost").over(Window.partitionBy("p_partkey"))
    return (
        cand.withColumn("min_cost", min_cost)
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_size", "supply_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-style product-type profit by supplier nation and order year.
    Without partsupp supply costs, cost is re-expressed as retail value
    (p_retailprice × l_quantity); profit = discounted revenue − retail
    value, summed exactly in DECIMAL (quantities are integral, retail
    prices cents-exact — no rounding anywhere). lineitem⋈orders is the
    only wide shuffle; part and the nation-tagged supplier dim broadcast."""
    t = load_tables(spark, sf_dir)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)")
    cost = F.col("p_retailprice").cast(DEC) * F.col("l_quantity").cast(DEC)
    parts = t["part"].filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(price * disc).cast("decimal(24,6)")
                - F.sum(cost).cast("decimal(24,6)")
            )
            .cast("double")
            .alias("sum_profit")
        )
    )


def q11_important(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-style important-part value: per-part sales value restricted to
    suppliers of one region, keeping parts whose value exceeds 1.5× the
    mean per-part value (TPC-H's fixed fraction is SF-dependent; the
    mean-relative form stays non-vacuous at every scale). The scalar
    (total, n_parts) is a one-row broadcast; both sides of the comparison
    are exact decimal sums cast to double, and the ×1.5 / ÷n threshold ops
    are identical IEEE doubles on both engines."""
    t = load_tables(spark, sf_dir)
    supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].join(
                    F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = t["lineitem"].join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    val = li.groupBy("l_partkey").agg(dsum("l_extendedprice", "part_value"))
    total = val.agg(
        dsum("part_value", "total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        val.join(F.broadcast(total))
        .filter(
            F.col("part_value")
            > F.lit(1.5) * (F.col("total_value") / F.col("n_parts"))
        )
        .select("l_partkey", "part_value")
    )


def q16_suppcnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-style supplier count per (brand, type, size): how many distinct
    suppliers ship each part profile, excluding one brand, one type, and
    'complaint' suppliers (re-expressed as balance < 1000 — the schema
    has no comment column). The part-supplier catalog is the distinct
    (partkey, suppkey) projection of lineitem — one shuffle; the
    exclusion is a broadcast left-anti join."""
    t = load_tables(spark, sf_dir)
    ps = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 49))
    )
    bad_supp = t["supplier"].filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    return (
        ps.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-style excess-share suppliers: EUROPE suppliers that shipped more
    than 1.5× the average per-supplier quantity of some 'large…' part in
    one year (partsupp availqty re-expressed as shipped-quantity share).
    Quantities are integral so the decimal sums are exact; the ×1.5 and
    the per-part average division are identical IEEE double ops on both
    engines. lineitem shuffles once on (partkey, suppkey); the per-part
    rollup reuses that partitioning."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(F.col("p_name").like("large%")).select("p_partkey")
    li = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    )
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(dsum("l_quantity", "supp_qty"))
    per_part = per_supp.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        dsum("supp_qty", "part_qty"), F.count(F.lit(1)).alias("n_supp")
    )
    excess = (
        per_supp.join(F.broadcast(per_part), F.col("l_partkey") == F.col("pp_partkey"))
        .filter(
            F.col("supp_qty")
            > F.lit(1.5) * (F.col("part_qty") / F.col("n_supp"))
        )
        .select("l_suppkey")
        .distinct()
    )
    eu_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    return (
        t["supplier"]
        .join(F.broadcast(eu_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price per order priority (window top-k)."""
    orders = load_table(spark, sf_dir, "orders")
    return topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-count matrix per user (pivot on event type)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup over (returnflag, linestatus) — Table-API GROUP BY ROLLUP."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty")
    )


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over (returnflag, linestatus) — all grouping-set combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty")
    )
