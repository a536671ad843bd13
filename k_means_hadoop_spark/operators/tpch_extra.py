"""Additional TPC-H-shaped query plans (beyond-reference: the reference
has no relational surface at all — SURVEY.md §2.3/§2.9; these widen the
general-engine query shapes: EXISTS/NOT-EXISTS decorrelation, disjunctive
multi-table predicates, having-subquery joins, conditional aggregation,
relational division).

The driver star schema is reduced TPC-H (no partsupp; lineitem lacks
commitdate/receiptdate/shipmode; customer lacks phone), so each query
keeps the *plan shape* of its TPC-H namesake while using the columns
that exist (TESTDATA.md).

Scale notes (same conventions as operators/relational.py):
- money math in DECIMAL(18,4) — exact and partitioning-independent;
- part/customer/supplier/nation are broadcast; only lineitem/orders
  shuffle;
- EXISTS/NOT EXISTS are expressed as left_semi/left_anti joins so
  Catalyst plans a single pass (no correlated re-scan per outer row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k_means_hadoop_spark.operators.relational import _dec, _t
from k_means_hadoop_spark.partitioning import truncate_lineage_lazy


def q4_priority_late_ships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated subquery → left-semi join.

    Orders (one quarter) that have at least one lineitem shipped >60 days
    after the order date, counted per priority.  The semi-join keeps the
    probe side at most one output row per order — no fan-out, no
    dedup-shuffle afterwards.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bi-national volume — lineitem⋈supplier⋈nation on
    the supply side, ⋈orders⋈customer⋈nation on the demand side, revenue
    per (supp_nation, cust_nation, ship year).

    Both nation legs broadcast; the only shuffles are lineitem⋈orders
    and the final group-by.  Nation keys < 5 on both sides keeps the
    result non-empty at every test scale factor.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 5)
    orders = _t(spark, sf_dir, "orders")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    )
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(revenue.cast("double").alias("revenue"))
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, sum(volume)::DOUBLE AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate)::INTEGER AS l_year,
             l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)) AS volume
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE s_nationkey < 5 AND c_nationkey < 5 AND s_nationkey != c_nationkey
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01')
GROUP BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    quarter.  customer/nation broadcast; orders⋈lineitem shuffles once;
    DECIMAL revenue + custkey tiebreak make the limit-20 cut
    deterministic.
    """
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            F.round("c_acctbal", 6).alias("acctbal"),
            "revenue",
        )
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name, round(c_acctbal, 6) AS acctbal, revenue
FROM (SELECT c_custkey, c_name, n_name, c_acctbal,
             sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DOUBLE AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY c_custkey, c_name, n_name, c_acctbal)
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast join —
    promo revenue share for one month of shipments.  The CASE lives
    inside the aggregate, so one pass computes both numerator and
    denominator."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                / F.sum(disc_price).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN volume ELSE 0::DECIMAL(18,4) END)::DOUBLE
             / sum(volume)::DOUBLE, 6) AS promo_revenue_pct
FROM (SELECT p_type,
             l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)) AS volume
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01')
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate subquery joined back to
    the fact tables.  The per-order quantity sum is a first, cheap
    aggregation (map-side partials shrink it before the shuffle); only
    the few qualifying orderkeys then join to orders/customer — both
    probe-side after the big agg, so the wide tables are scanned once.
    """
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 180)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.round("o_totalprice", 6).alias("totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 6) AS totalprice, sum_qty
FROM (SELECT l_orderkey, sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity::DECIMAL(18,4)) > 180)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    The part-only conjuncts (brand, size) are pushed below the broadcast
    join by Catalyst; the mixed (brand, quantity) conjuncts evaluate as
    the join filter — one scan of each table either way."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(
                _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q19_SQL = """
SELECT sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS → anti
    join.  The average-balance scalar is computed once and folded into
    the filter; customers with no orders are found with a left-anti join
    on the (much smaller after filtering) customer side.  Grouped by
    nation key as the stand-in for Q22's phone country code.  "Idle" is
    "no orders since 1999-01-01" rather than Q22's "no orders ever":
    every fixture customer has at least one order at every sf, so the
    literal form returns an empty (hence non-discriminating) result —
    the date-bounded anti join keeps the same plan shape with a
    non-trivial answer at sf0.001+."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    # threshold rounded to cents: balances have 2dp, so a ~1e-12 engine
    # difference in the double avg can never flip a customer across it
    avg_bal = round(
        cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).collect()[0][0], 2
    )
    return (
        cust.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


Q22_SQL = """
SELECT c_nationkey, count(*)::BIGINT AS numcust,
       sum(c_acctbal::DECIMAL(18,4))::DOUBLE AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '1999-01-01')
GROUP BY c_nationkey
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery → window min-per-group.

    For each small part, the supplier quoting the lowest unit price.
    The correlated ``price = (SELECT min ...)`` of the original is
    rewritten as one window pass over the joined fact — a single shuffle
    on partkey instead of a re-aggregation per outer row.  Ties break on
    suppkey, so the winner is deterministic.
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    sup = _t(spark, sf_dir, "supplier")
    unit_price = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    w = Window.partitionBy("p_partkey").orderBy(F.col("unit_price"), F.col("l_suppkey"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("p_partkey", "p_brand", "l_suppkey", unit_price)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "p_partkey", "p_brand", "s_name",
            F.round("unit_price", 6).alias("min_unit_price"),
        )
    )


Q2_SQL = """
SELECT p_partkey, p_brand, s_name, round(unit_price, 6) AS min_unit_price
FROM (SELECT p_partkey, p_brand, l_suppkey,
             l_extendedprice / l_quantity AS unit_price,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY l_extendedprice / l_quantity, l_suppkey) AS rn
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 5)
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
"""


def q21_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the double-correlated EXISTS / NOT-EXISTS
    ("another supplier on the order exists; no OTHER supplier was late")
    rewritten as ONE aggregation pass per order.

    The rewrite matters at scale: the correlated form re-probes lineitem
    twice per outer row; this form shuffles lineitem once on orderkey,
    reduces each order to (distinct suppliers, distinct late suppliers),
    and keeps orders with >=2 suppliers where exactly one was late.  The
    oracle deliberately uses the textbook EXISTS form, so parity also
    proves the rewrite correct.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.collect_set(F.when(late, F.col("l_suppkey"))).alias("late_supps"),
        )
        .filter((F.col("n_supp") >= 2) & (F.size("late_supps") == 1))
        .select(F.element_at("late_supps", 1).alias("suppkey"))
    )
    return (
        per_order.groupBy("suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(sup), F.col("suppkey") == sup.s_suppkey)
        .select("s_name", "numwait")
    )


Q21_SQL = """
SELECT s_name, count(DISTINCT l1.l_orderkey)::BIGINT AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY s_name
"""


TPCH_EXTRA_QUERIES = {
    "q4_priority_late_ships": (q4_priority_late_ships, Q4_SQL),
    "q7_volume_shipping": (q7_volume_shipping, Q7_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "q18_large_volume_customers": (q18_large_volume_customers, Q18_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "q22_idle_rich_customers": (q22_idle_rich_customers, Q22_SQL),
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_SQL),
    "q21_sole_late_suppliers": (q21_sole_late_suppliers, Q21_SQL),
}


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market-share ratio — a 6-way snowflake join with a
    conditional aggregate (target nation's volume over total volume) per
    order year.  All dimension legs broadcast; lineitem⋈orders is the
    only shuffled join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat_c = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    vol = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_c), cust.c_nationkey == nat_c.n_nationkey)
        .join(F.broadcast(reg), nat_c.n_regionkey == reg.r_regionkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("sk"))
        .select(F.year("o_orderdate").cast("int").alias("o_year"), vol.alias("volume"), "supp_nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                      .otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT o_year, round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0::DECIMAL(18,4) END)::DOUBLE
                 / sum(volume)::DOUBLE, 6) AS mkt_share
FROM (SELECT EXTRACT(year FROM o_orderdate)::INTEGER AS o_year,
             l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE p_type = 'STANDARD' AND r_name = 'ASIA')
GROUP BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, year).  The original
    costs against partsupp.ps_supplycost, which this schema lacks; the
    stand-in cost is 10% of p_retailprice per unit — same plan shape
    (two fact-dim joins + grouped signed sum), DECIMAL-exact."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    amount = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
        - _dec("p_retailprice") * F.lit(0.1).cast("decimal(18,4)") * _dec("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate)::INTEGER AS o_year,
       sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))
           - p_retailprice::DECIMAL(18,4) * 0.1::DECIMAL(18,4) * l_quantity::DECIMAL(18,4))::DOUBLE AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)::INTEGER
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + two conditional counts (high- vs
    low-priority orders) per group — the original groups by shipmode,
    which this schema lacks; l_returnflag stands in."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution via LEFT OUTER
    join — the one query whose semantics REQUIRE preserving zero-order
    customers, so the outer join cannot be rewritten away.  Two
    aggregations: per customer, then the histogram over counts."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, count(*)::BIGINT AS custdist
FROM (SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority != '5-LOW'
      GROUP BY c_custkey)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    global maximum — the scalar ``= (SELECT max ...)`` is a 1-row
    aggregate broadcast back against the per-supplier revenue table
    (the earlier unpartitioned window max dragged every supplier into
    ONE task; suppliers are a corpus-growing domain — round-9
    registry-wide audit).  The per-supplier agg is localCheckpointed
    (the lorenz_spend_deciles convention) so the max and the filter
    share ONE lineitem scan — Spark does not ReuseExchange across the
    two consumers (verified), and a second fact scan would be the
    worse trade.  eager=False so merely BUILDING the query (plan
    tests, the window audit, .explain()) runs no job; the checkpoint
    materializes on the first action.  DECIMAL revenue makes
    max-equality exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    sup = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).alias("total_revenue"))
    ).transform(truncate_lineage_lazy)
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select("s_name", F.col("total_revenue").cast("double").alias("total_revenue"))
    )


Q15_SQL = """
WITH rev AS (SELECT l_suppkey,
                    sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))) AS total_revenue
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
             GROUP BY l_suppkey)
SELECT s_name, total_revenue::DOUBLE AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute,
    with an excluded-supplier anti join (negative account balance stands
    in for the original's complaints NOT-IN subquery)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad_sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_sup), li.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#45' AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers who shipped a
    meaningful volume (>50 units) of PROMO parts in one year, restricted
    to low nation keys.  Both membership tests are semi joins over
    pre-aggregated keys; nothing fans out."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    promo = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 10)
    qualifying = (
        li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        sup.join(qualifying, sup.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", "s_nationkey")
    )


Q20_SQL = """
SELECT s_name, s_nationkey
FROM supplier
WHERE s_nationkey < 10
  AND s_suppkey IN (SELECT l_suppkey
                    FROM lineitem JOIN part ON l_partkey = p_partkey
                    WHERE p_type = 'PROMO'
                      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
                    GROUP BY l_suppkey
                    HAVING sum(l_quantity::DECIMAL(18,4)) > 50)
"""


# --------------------------------------------- relational division
#
# The classic "FOR ALL" operator SQL lacks natively: customers whose
# orders cover EVERY order priority — division of orders by the
# priority domain.  Expressed the scalable way (distinct-count equals
# domain size: two partial-agg shuffles), not the nested NOT EXISTS
# double negation (whose naive plan is a per-customer correlated
# scan).


def relational_division_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, n_orders, n_priorities) — customers whose orders
    span every distinct o_orderpriority value."""
    o = _t(spark, sf_dir, "orders")
    dom = o.agg(F.countDistinct("o_orderpriority").alias("n_dom"))
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )
    return (
        per.crossJoin(F.broadcast(dom))
        .where(F.col("n_priorities") == F.col("n_dom"))
        .select(
            F.col("o_custkey").cast("bigint").alias("c_custkey"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("n_priorities").cast("int").alias("n_priorities"),
        )
    )


DIVISION_SQL = """
WITH dom AS (SELECT count(DISTINCT o_orderpriority)::BIGINT AS n_dom FROM orders),
per AS (SELECT o_custkey, count(*)::BIGINT AS n_orders,
               count(DISTINCT o_orderpriority)::BIGINT AS n_priorities
        FROM orders GROUP BY 1)
SELECT o_custkey::BIGINT AS c_custkey, n_orders,
       n_priorities::INT AS n_priorities
FROM per CROSS JOIN dom
WHERE n_priorities = n_dom
"""


TPCH_EXTRA_QUERIES.update(
    {
        "q8_market_share": (q8_market_share, Q8_SQL),
        "q9_product_profit": (q9_product_profit, Q9_SQL),
        "q12_priority_shipping": (q12_priority_shipping, Q12_SQL),
        "q13_order_count_distribution": (q13_order_count_distribution, Q13_SQL),
        "q15_top_supplier": (q15_top_supplier, Q15_SQL),
        "q16_supplier_part_counts": (q16_supplier_part_counts, Q16_SQL),
        "q20_promo_part_suppliers": (q20_promo_part_suppliers, Q20_SQL),
        "relational_division_priorities": (
            relational_division_priorities,
            DIVISION_SQL,
        ),
    }
)
