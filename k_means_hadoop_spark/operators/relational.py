"""Relational query surface over the driver star schema (beyond-reference:
the reference has no joins/windows/set-ops beyond its k-means core —
SURVEY.md §2.9; this module is the general-engine capability the north
star mandates).

Scale notes baked into each query:
- money sums are computed in DECIMAL(18,4): exact, associative,
  summation-order-independent — deterministic across engines AND across
  partitionings (a double sum is neither);
- dimension tables (region/nation/supplier/part/customer) are broadcast;
  only lineitem/orders-sized tables ever shuffle;
- filters are expressed on the scan columns so Catalyst pushes them into
  the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.zorder import interleave_bits, interleave_bits_sql
from k_means_hadoop_spark.partitioning import ntile_expr, prefix_sum, scan_parts, truncate_lineage
from k_means_hadoop_spark.sources.events import load_events


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c) -> F.Column:
    return F.col(c).cast("decimal(18,4)") if isinstance(c, str) else c.cast("decimal(18,4)")


def _d38(c: str) -> F.Column:
    return F.col(c).cast("decimal(38,0)")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy group-aggregate over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,4)") + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,4))::DOUBLE AS sum_base_price,
       sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DOUBLE AS sum_disc_price,
       sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))
           * (1::DECIMAL(18,4) + l_tax::DECIMAL(18,4)))::DOUBLE AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + top-N.

    customer is broadcast (small dim); orders⋈lineitem is the real join.
    DECIMAL revenue makes the top-10 cut deterministic.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(revenue.cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join through two broadcast dims."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DOUBLE AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per group (absent in reference — SURVEY §2.9)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 6).alias("totalprice"), "rn")
    )


WINDOW_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders)
WHERE rn <= 3
"""


def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (absent in reference); NULL grouping keys are
    coalesced so cross-engine hashing never sees NULL."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty,
       count(*)::BIGINT AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def anti_join_unordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join (absent in reference): parts never ordered in bulk
    (no lineitem with quantity > 45).  The quantity predicate keeps the
    result non-vacuous at every fixture scale — the unrestricted form
    returns 0 rows (every part has some order), which would make the
    driver's hash check an empty-vs-empty non-test; the filter is pushed
    below the anti join onto the lineitem scan."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


ANTI_SQL = """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey AND l_quantity > 45)
"""


def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi join: customers with ≥1 order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


SEMI_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def distinct_agg_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


DISTINCT_AGG_SQL = """
SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS n_parts,
       count(DISTINCT l_suppkey)::BIGINT AS n_supps
FROM lineitem GROUP BY l_returnflag
"""


def events_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily windows over the events stream table (batch view of
    the streaming op in streaming/)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


EVENTS_WINDOW_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*)::BIGINT AS n, sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2
"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (F-category beyond-reference scalar functions)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_mod"))
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENTS_JSON_SQL = """
SELECT (json_extract_string(props, '$.k')::INTEGER % 10) AS k_mod, count(*)::BIGINT AS n
FROM events GROUP BY 1
"""


def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload stats via Spark 4 VARIANT: ``parse_json``
    converts the payload to the binary variant encoding ONCE, then typed
    ``try_variant_get`` paths read it without re-parsing — the at-scale
    answer to repeated ``get_json_object`` string parsing (each call
    re-tokenizes the JSON text; variant decode is a pointer chase).
    Same group-agg shape as events_json_props so the two paths are
    directly comparable in plans and benchmarks."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_VARIANT_SQL = """
SELECT event_type, count(*)::BIGINT AS n,
       sum(json_extract_string(props, '$.k')::INTEGER)::BIGINT AS sum_k,
       min(json_extract_string(props, '$.k')::INTEGER)::INTEGER AS min_k,
       max(json_extract_string(props, '$.k')::INTEGER)::INTEGER AS max_k
FROM events GROUP BY event_type
"""

def asof_join_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (absent in reference; classic time-series operator the
    DataFrame API lacks natively): for every 'click' event, the most
    recent 'purchase' by the same user at-or-before the click.

    Scale-correct composition — union + running last_value over a window
    keyed by user: ONE shuffle on user_id, no range-pair explosion
    (the naive t1⋈t2 ON ts<=ts join is quadratic per key).  Ties at
    identical ts: purchase sorts before click (at-or-before includes
    equal ts); among equal-ts purchases the highest event_id wins —
    deterministic on both engines.
    """
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("p_event_id"),
        F.lit(None).cast("double").alias("p_value"),
        F.col("event_id").alias("click_id"),
    )
    purchases = purchases.withColumn("click_id", F.lit(None).cast("long"))
    merged = purchases.unionByName(clicks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "p_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        merged.withColumn("asof_purchase", F.last("p_event_id", ignorenulls=True).over(w))
        .withColumn("asof_value", F.last("p_value", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
    )
    return out.select(
        "click_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.coalesce("asof_purchase", F.lit(-1)).alias("purchase_id"),
        F.round(F.coalesce("asof_value", F.lit(0.0)), 6).alias("purchase_value"),
    )


ASOF_SQL = """
WITH clicks AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
ranked AS (
  SELECT c.click_id, c.user_id, c.ts AS cts, p.event_id, p.value,
         row_number() OVER (PARTITION BY c.click_id ORDER BY p.ts DESC, p.event_id DESC) AS rn
  FROM clicks c JOIN purch p ON c.user_id = p.user_id AND p.ts <= c.ts)
SELECT c.click_id, c.user_id, epoch_us(c.ts) AS click_us,
       coalesce(r.event_id, -1) AS purchase_id,
       round(coalesce(r.value, 0.0), 6) AS purchase_value
FROM clicks c LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON c.click_id = r.click_id
"""


def range_join_views_near_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (absent in reference): per click, number of 'view'
    events by the same user within ±10 minutes.  Expressed as equi-join
    on user_id + range predicate — the shuffle is keyed, so the range
    condition only scans within a user's partition (never a cross
    product at scale)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    joined = clicks.join(
        views,
        (F.col("cu") == F.col("vu"))
        & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("vts") <= F.col("cts") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    return joined.groupBy("click_id").agg(
        F.count(F.col("vts")).alias("n_views_nearby")
    )


RANGE_JOIN_SQL = """
SELECT c.event_id AS click_id, count(v.ts)::BIGINT AS n_views_nearby
FROM events c
LEFT JOIN events v
  ON v.event_type = 'view' AND v.user_id = c.user_id
 AND v.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts + INTERVAL 10 MINUTE
WHERE c.event_type = 'click'
GROUP BY c.event_id
"""


def except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set-op: customers who ordered in 1995 but not in 1996."""
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    # subtract == EXCEPT DISTINCT (exceptAll's bag semantics would keep a
    # customer that ordered in both years whenever 1995 had more orders)
    return y95.subtract(y96)


EXCEPT_SQL = """
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


def intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set-op: customers who ordered in both 1995 and 1996."""
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


def except_all_order_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — the BAG-semantics set ops (each
    surviving row keeps its multiplicity difference, unlike the
    DISTINCT forms above): per-customer order-month multiset of 1995
    minus 1996, summarized as surviving-row counts so the output stays
    small at any SF."""
    orders = _t(spark, sf_dir, "orders")
    m95 = orders.filter(F.year("o_orderdate") == 1995).select(
        "o_custkey", F.month("o_orderdate").alias("m")
    )
    m96 = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_custkey", F.month("o_orderdate").alias("m")
    )
    return (
        m95.exceptAll(m96)
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("surviving_rows"))
        .unionAll(
            m95.intersectAll(m96).groupBy("m").agg(
                (F.count(F.lit(1)) * -1).alias("surviving_rows")
            )
        )
    )


EXCEPT_ALL_SQL = """
WITH m95 AS (SELECT o_custkey, month(o_orderdate) AS m FROM orders WHERE year(o_orderdate) = 1995),
m96 AS (SELECT o_custkey, month(o_orderdate) AS m FROM orders WHERE year(o_orderdate) = 1996)
SELECT m, count(*)::BIGINT AS surviving_rows
FROM (SELECT * FROM m95 EXCEPT ALL SELECT * FROM m96) GROUP BY m
UNION ALL
SELECT m, (count(*) * -1)::BIGINT AS surviving_rows
FROM (SELECT * FROM m95 INTERSECT ALL SELECT * FROM m96) GROUP BY m
"""


def hof_embedding_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order predicate functions (exists / forall / filter) over
    the embedding arrays — all row-local lambda expressions inside
    codegen, summarized to corpus counts."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    has_big = F.exists(v, lambda x: x > 0.3)
    all_sane = F.forall(v, lambda x: (x > -1.0) & (x < 1.0))
    n_pos = F.size(F.filter(v, lambda x: x > 0.1))
    return (
        emb.select(
            has_big.cast("int").alias("has_big"),
            all_sane.cast("int").alias("all_sane"),
            n_pos.alias("n_pos"),
        )
        .groupBy("has_big", "all_sane")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("n_pos").alias("total_pos_dims"),
        )
    )


HOF_FLAGS_SQL = """
WITH v AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
f AS (SELECT
        (len(list_filter(v, x -> x > 0.3)) > 0)::INTEGER AS has_big,
        (len(list_filter(v, x -> NOT (x > -1.0 AND x < 1.0))) = 0)::INTEGER AS all_sane,
        len(list_filter(v, x -> x > 0.1))::INTEGER AS n_pos
      FROM v)
SELECT has_big, all_sane, count(*)::BIGINT AS n_vectors,
       sum(n_pos)::BIGINT AS total_pos_dims
FROM f GROUP BY has_big, all_sane
"""


def structured_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-line structured parsers (from_json / from_csv / from_xml)
    in one plan: serialize (event_id, user_id) into each format, parse
    back with an explicit schema, and count full-identity roundtrips per
    event_type — the ingest shape for embedded payload columns (a JSON
    field inside a CSV log line, an XML attribute blob, ...).  All three
    parsers are row-local expressions; the oracle reduces to count(*)
    because a lossless parser must roundtrip every row."""
    ev = _t(spark, sf_dir, "events")
    js = F.to_json(F.struct(F.col("event_id").alias("e"), F.col("user_id").alias("u")))
    cs = F.concat_ws(",", "event_id", "user_id")
    xm = F.concat(
        F.lit("<r><e>"), F.col("event_id"), F.lit("</e><u>"), F.col("user_id"), F.lit("</u></r>")
    )
    parsed = ev.select(
        "event_type",
        "event_id",
        "user_id",
        F.from_json(js, "e BIGINT, u BIGINT").alias("pj"),
        F.from_csv(cs, "e BIGINT, u BIGINT").alias("pc"),
        F.from_xml(xm, "e BIGINT, u BIGINT").alias("px"),
    )
    ok = (
        (F.col("pj.e") == F.col("event_id")) & (F.col("pj.u") == F.col("user_id"))
        & (F.col("pc.e") == F.col("event_id")) & (F.col("pc.u") == F.col("user_id"))
        & (F.col("px.e") == F.col("event_id")) & (F.col("px.u") == F.col("user_id"))
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce(ok.cast("bigint"), F.lit(0))).alias("n_roundtripped"),
        )
    )


# A lossless parser roundtrips every row whose ids are both non-NULL;
# NULL ids can't roundtrip (concat_ws drops NULL fields and the equality
# predicate is NULL).  The oracle mirrors that predicate instead of
# assuming count(*) — so it stays correct on data with NULL ids, not
# just the current fixture.
PARSE_ROUNDTRIP_SQL = """
SELECT event_type, count(*)::BIGINT AS n_rows,
       sum(CASE WHEN event_id IS NOT NULL AND user_id IS NOT NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_roundtripped
FROM events GROUP BY event_type
"""


def fuzzy_match_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (levenshtein) — the
    name-reconciliation scalar every entity-resolution pass needs:
    nation-name pairs within distance 8, a bounded 25x25 self-join."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    a = n.select(F.col("n_nationkey").alias("a_key"), F.col("n_name").alias("a_name"))
    b = n.select(F.col("n_nationkey").alias("b_key"), F.col("n_name").alias("b_name"))
    dist = F.levenshtein("a_name", "b_name")
    return (
        a.crossJoin(b)
        .filter(F.col("a_key") < F.col("b_key"))
        .select("a_key", "b_key", dist.cast("int").alias("edit_dist"))
        .filter(F.col("edit_dist") <= 8)
    )


FUZZY_SQL = """
SELECT a.n_nationkey AS a_key, b.n_nationkey AS b_key,
       levenshtein(a.n_name, b.n_name)::INTEGER AS edit_dist
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
WHERE levenshtein(a.n_name, b.n_name) <= 8
"""


INTERSECT_SQL = """
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over two order dimensions (all 4 grouping sets)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "sum_price",
        )
    )


CUBE_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*)::BIGINT AS n,
       sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): totals by
    returnflag alone and by linestatus alone, in one pass over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return li.sparkSession.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(1) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*)::BIGINT AS n,
       sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75) of extendedprice per
    returnflag — F.percentile is the exact (sort-based) aggregate;
    approx_percentile is the sketch path for 100 TB (registered
    separately, rows-only)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75"),
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
FROM lineitem GROUP BY l_returnflag
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery, decorrelated as a
    per-key aggregate join): revenue from lineitems with quantity below
    20% of their part's average quantity."""
    li = _t(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(thresholds, li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(_dec("l_extendedprice")) / F.lit(7).cast("decimal(18,4)"))
            .cast("double")
            .alias("avg_yearly")
        )
    )


Q17_SQL = """
SELECT (sum(l_extendedprice::DECIMAL(18,4)) / 7::DECIMAL(18,4))::DOUBLE AS avg_yearly
FROM lineitem l
WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey)
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate must
    reach the parquet reader (range on date, band on discount, cap on
    quantity), making this the canonical pushdown benchmark."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


Q6_SQL = """
SELECT sum(l_extendedprice::DECIMAL(18,4) * l_discount::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 25
"""


def session_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via the native
    ``F.session_window`` aggregation — the same operator Structured
    Streaming uses for stateful sessionization; here exercised in batch
    so the DuckDB gaps-and-islands formulation can check it exactly."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
SELECT user_id, epoch_us(min(ts)) AS session_start_us,
       count(*)::BIGINT AS n_events,
       sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM numbered GROUP BY user_id, session_id
"""


def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the manual skew-mitigation pattern
    (AQE's skew handling covers joins; a single hot GROUP BY key still
    needs salting at 100 TB).  Phase 1 aggregates on (key, salt) spreading
    a hot key over 16 reducers; phase 2 merges the partials.  The result
    is identical to a plain GROUP BY, which is exactly what the oracle
    checks."""
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", (F.pmod(F.xxhash64("event_id"), F.lit(16))).cast("int"))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(_dec("value")).alias("psum"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").cast("double").alias("sum_value"),
    )


SALTED_AGG_SQL = """
SELECT event_type, count(*)::BIGINT AS n,
       sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events GROUP BY event_type
"""


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch path of distinct_agg_parts, reported as an
    oracle-checkable WITHIN-TOLERANCE verdict: the raw estimate is
    engine-specific (no cross-engine value equality), but "the sketch
    lands within 3×rsd of the exact count" is a hard boolean the DuckDB
    oracle asserts as ``true`` — so a broken sketch pipeline flips the
    hash instead of hiding behind a rows-only row.  Both aggregates run
    in the same single-Exchange pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts_exact"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02).cast("double")
                - F.count_distinct("l_partkey").cast("double")
            )
            <= F.greatest(
                F.lit(3.0), 0.06 * F.count_distinct("l_partkey").cast("double")
            )
        ).alias("approx_ok"),
    )


APPROX_DISTINCT_SQL = """
SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS n_parts_exact,
       true AS approx_ok
FROM lineitem GROUP BY l_returnflag"""


ZORDER_BITS = 8


def zorder_events_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, x, y, zval) — Z-order curve key over the two columns
    event queries filter on (user bucket × time-of-day bucket): the
    multi-dimensional layout key.  At 100 TB the pipeline writes
    ``df.sortWithinPartitions('zval')`` so every parquet file covers a
    tight (user, time) rectangle and footer min/max stats prune files
    for filters on EITHER column.  The curve itself is pure integer bit
    interleaving — oracle-checked bit-for-bit; the stats-skipping write
    is exercised in the sinks tests."""
    ev = _t(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1 << ZORDER_BITS)).cast("int")
    y = (F.hour("ts") * 4 + F.minute("ts") / 15).cast("int")  # 96 quarter-hours
    base = ev.select("event_id", x.alias("x"), y.alias("y"))
    return base.select(
        "event_id", "x", "y", interleave_bits(F.col("x"), F.col("y"), ZORDER_BITS).alias("zval")
    )


def _zorder_sql() -> str:
    z = interleave_bits_sql("x", "y", ZORDER_BITS)
    return f"""
WITH b AS (SELECT event_id, (user_id % {1 << ZORDER_BITS})::INTEGER AS x,
                  (hour(ts) * 4 + minute(ts) // 15)::INTEGER AS y
           FROM events)
SELECT event_id, x, y, {z} AS zval FROM b"""


def hll_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, exact_users, est_ok) — the sketch-MERGE distinct pipeline:
    one Datasketches HLL sketch per day, then a union of the day
    sketches for the corpus-wide estimate — the only way
    COUNT(DISTINCT) scales to 100 TB with reprocessing-free rollups
    (store the day sketches, merge any date range later without
    rescanning events).  The sketch estimate itself is engine-specific,
    so the driver-checked projection is the WITHIN-TOLERANCE verdict:
    ``est_ok`` asserts the estimate (including the merged ALL row,
    which exercises hll_union_agg) lands within 5% of the exact
    distinct count the oracle recomputes — register-level corruption or
    a broken merge flips the hash."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg(F.col("user_id")).alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    # absolute-slack floor: at low cardinality 5% is < 1 distinct user,
    # which would demand an EXACT sketch estimate — a fixture change
    # could then flip est_ok with no code bug
    ok = (
        F.abs(F.hll_sketch_estimate("sk").cast("double") - F.col("exact_users"))
        <= F.greatest(F.lit(2.0), 0.05 * F.col("exact_users"))
    ).alias("est_ok")
    per_day = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("exact_users"),
        ok,
    )
    # the ALL row re-counts exactly over the raw events; the estimate
    # side MERGES the per-day sketches (the rollup under test)
    total_exact = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    total = (
        daily.agg(F.hll_union_agg(F.col("sk")).alias("sk"))
        .crossJoin(total_exact)
        .select(F.lit("ALL").alias("day"), F.col("exact_users"), ok)
    )
    return per_day.unionByName(total)


HLL_DAILY_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       count(DISTINCT user_id)::BIGINT AS exact_users, true AS est_ok
FROM events GROUP BY CAST(ts AS DATE)
UNION ALL
SELECT 'ALL' AS day, count(DISTINCT user_id)::BIGINT AS exact_users,
       true AS est_ok
FROM events"""


def stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates per returnflag: Pearson
    correlation, sample covariance/stddev/variance.  Each is a
    sum-of-co-moments aggregate, so Catalyst plans the same single
    partial→final hash agg (one Exchange) as a plain count — no extra
    pass over the 100 TB scan to get the full moment profile."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_discount"), 6).alias("std_discount"),
        F.round(F.var_samp("l_tax"), 6).alias("var_tax"),
    )


STATS_SQL = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
       round(stddev_samp(l_discount), 6) AS std_discount,
       round(var_samp(l_tax), 6) AS var_tax
FROM lineitem GROUP BY l_returnflag
"""


def running_spend_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative + lag window analytics: per-customer running spend and
    order-over-order delta, ordered by (orderdate, orderkey).  One window
    spec serves both frames, so the plan is a single hash-partition
    Exchange on o_custkey + one sort — the canonical sessionized-history
    shape for per-entity time series at scale (partition by entity, never
    a global sort)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(_dec("o_totalprice")).over(w).cast("double"), 4
        ).alias("running_spend"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 4
        ).alias("delta_vs_prev"),
    )


RUNNING_SPEND_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice::DECIMAL(18,4))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)::DOUBLE,
             4) AS running_spend,
       round(o_totalprice - lag(o_totalprice, 1, 0.0)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             4) AS delta_vs_prev
FROM orders
"""


def pivot_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT / cross-tab: order counts and spend per priority, fanned
    across status columns.  Values are ENUMERATED (['F','O','P']) so the
    pivot compiles to one pass of conditional aggregates — omitting the
    list makes Spark run an extra distinct-collect job over the 100 TB
    fact table just to discover the columns."""
    orders = _t(spark, sf_dir, "orders")
    piv = orders.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"])
    return (
        piv.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("spend"),
        )
        .select(
            "o_orderpriority",
            # empty pivot cells: Spark count yields NULL, SQL's count FILTER
            # yields 0 — coalesce so sparse SFs stay oracle-equal
            F.coalesce("F_n", F.lit(0)).alias("n_f"),
            F.round("F_spend", 4).alias("spend_f"),
            F.coalesce("O_n", F.lit(0)).alias("n_o"),
            F.round("O_spend", 4).alias("spend_o"),
            F.coalesce("P_n", F.lit(0)).alias("n_p"),
            F.round("P_spend", 4).alias("spend_p"),
        )
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'F')::BIGINT AS n_f,
       round(sum(o_totalprice::DECIMAL(18,4)) FILTER (o_orderstatus = 'F')::DOUBLE, 4) AS spend_f,
       count(*) FILTER (o_orderstatus = 'O')::BIGINT AS n_o,
       round(sum(o_totalprice::DECIMAL(18,4)) FILTER (o_orderstatus = 'O')::DOUBLE, 4) AS spend_o,
       count(*) FILTER (o_orderstatus = 'P')::BIGINT AS n_p,
       round(sum(o_totalprice::DECIMAL(18,4)) FILTER (o_orderstatus = 'P')::DOUBLE, 4) AS spend_p
FROM orders GROUP BY o_orderpriority
"""


def latest_event_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction / upsert-view: collapse a keyed change log to the
    newest record per key (`row_number` over key ORDER BY ts DESC, with
    the unique event_id as tiebreak).  One hash Exchange on the key and
    a per-partition sort — the batch MERGE-snapshot pattern for a 100 TB
    change stream; never a global sort or a self-join on max(ts)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
        )
    )


SNAPSHOT_SQL = """
SELECT user_id, epoch_us(ts) AS last_ts_us,
       event_type AS last_event_type, round(value, 6) AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def full_outer_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation: per-user click vs purchase counts,
    keeping users present on only one side (the join type Q13's left
    outer can't express).  Both inputs are pre-aggregated per key before
    the join, so the full-outer matches k rows against k rows — never
    raw events against raw events."""
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("p_user_id"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        clicks.join(
            purchases, clicks.user_id == purchases.p_user_id, "full_outer"
        )
        .select(
            F.coalesce("user_id", "p_user_id").alias("user_id"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
    )


FULL_OUTER_SQL = """
WITH c AS (SELECT user_id, count(*)::BIGINT AS n_clicks FROM events
           WHERE event_type = 'click' GROUP BY user_id),
p AS (SELECT user_id, count(*)::BIGINT AS n_purchases FROM events
      WHERE event_type = 'purchase' GROUP BY user_id)
SELECT coalesce(c.user_id, p.user_id) AS user_id,
       coalesce(c.n_clicks, 0) AS n_clicks,
       coalesce(p.n_purchases, 0) AS n_purchases
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


def top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (arg-extrema) aggregates: richest and poorest
    customer per nation in ONE hash aggregate — no self-join on max(),
    no window sort.  The ordering scalar folds c_custkey into the
    cents-scaled balance so extrema are unique by construction
    (tie-proof at any scale factor)."""
    cust = _t(spark, sf_dir, "customer")
    key = (F.round(F.col("c_acctbal") * 100) * 10_000_000 + F.col("c_custkey")).alias(
        "ord_key"
    )
    return (
        cust.select("c_nationkey", "c_name", "c_acctbal", key)
        .groupBy("c_nationkey")
        .agg(
            F.max_by("c_name", "ord_key").alias("richest_customer"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
            F.min_by("c_name", "ord_key").alias("poorest_customer"),
            F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
        )
    )


ARG_EXTREMA_SQL = """
SELECT c_nationkey,
       arg_max(c_name, round(c_acctbal * 100) * 10000000 + c_custkey) AS richest_customer,
       round(max(c_acctbal), 2) AS max_acctbal,
       arg_min(c_name, round(c_acctbal * 100) * 10000000 + c_custkey) AS poorest_customer,
       round(min(c_acctbal), 2) AS min_acctbal
FROM customer GROUP BY c_nationkey
"""


def gap_fill_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a calendar scaffold spanning the events
    table's full date range (built with sequence+explode from a 1-row
    min/max aggregate — never a driver-side loop), left-joined to daily
    purchase aggregates with zero-fill.  Missing days appear as explicit
    zero rows — the shape every downstream forecasting job expects.
    The scaffold side is a few thousand rows even at 100 TB (it scales
    with the DATE RANGE, not the row count), so the join broadcasts."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 6).alias("purchase_value"),
        )
    )
    return (
        days.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
    )


def interpolate_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of a sparse daily series — the step after
    gap-fill when zero-fill is wrong (sensor feeds, sampled metrics):
    missing days get prev + (next-prev)·(elapsed/gap) between their
    nearest observed neighbors; leading/trailing gaps take the nearest
    single neighbor.

    The series is deliberately thinned (purchases with event_id % 29
    == 0) so gaps EXIST at test scale.  Neighbor lookup (round 13,
    verdict item 4: shrink the global-window allowlist) is two
    aggregating joins against the OBSERVED-day table — prev = the
    max-day observed row ≤ day, next = the min-day observed row ≥ day,
    via max_by/min_by over a broadcast-NL join of two day-grain tables
    — replacing the two IGNORE-NULLS unpartitioned window passes, so
    no all-to-one sort exists in the plan.  Equivalence: observed days
    are unique (group key), the window's last(v) over the trailing
    frame IS the value at max(observed day ≤ day) and first(v) over
    the leading frame the value at min(observed day ≥ day); empty
    neighbor sets yield NULL on both forms (left join + max_by of no
    rows).  Both join sides are date-range-grain, so the pair work is
    calendar², corpus-independent."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    daily = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("event_id") % 29 == 0))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    g = days.join(daily, "day", "left")
    obs_p = daily.select(F.col("day").alias("od"), F.col("v").alias("ov"))
    obs_n = daily.select(F.col("day").alias("od"), F.col("v").alias("ov"))
    prev_t = (
        g.join(obs_p, F.col("od") <= F.col("day"), "left")
        .groupBy("day", "v")
        .agg(
            F.max("od").alias("prev_d"),
            F.max_by("ov", "od").alias("prev_v"),
        )
    )
    both = (
        prev_t.join(obs_n, F.col("od") >= F.col("day"), "left")
        .groupBy("day", "v", "prev_d", "prev_v")
        .agg(
            F.min("od").alias("next_d"),
            F.min_by("ov", "od").alias("next_v"),
        )
    )
    g = both
    prev_v, prev_d = F.col("prev_v"), F.col("prev_d")
    next_v, next_d = F.col("next_v"), F.col("next_d")
    gap = F.datediff(next_d, prev_d)
    frac = F.datediff(F.col("day"), prev_d).cast("double") / gap.cast("double")
    # FMA-free interpolation (same discipline as quantize_embeddings):
    # `prev + (next-prev)*frac` is the exact multiply-add shape an engine
    # may contract to an FMA, shifting the double by an ulp and breaking
    # hash equality at a round-half boundary.  Route the increment
    # through floor(·1e6) — a convention-free bigint — so the final add
    # operates on identical doubles in every engine; prev_v is already a
    # multiple of 1e-6 (daily agg rounds), keeping round(·, 6) far from
    # half boundaries.
    delta_ppm = F.floor((next_v - prev_v) * frac * F.lit(1e6))
    filled = (
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(gap == 0, prev_v)
        .otherwise(prev_v + delta_ppm.cast("double") / F.lit(1e6))
    )
    return g.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").isNull().cast("int").alias("was_missing"),
        F.round(filled, 6).alias("filled_value"),
    )


INTERPOLATE_SQL = """
WITH b AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b),
daily AS (
  SELECT ts::DATE AS day, round(sum(value), 6) AS v
  FROM events WHERE event_type = 'purchase' AND event_id % 29 = 0 GROUP BY 1
),
g AS (SELECT cal.day, daily.v FROM cal LEFT JOIN daily ON cal.day = daily.day),
n AS (
  SELECT day, v,
    last_value(v IGNORE NULLS) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
    first_value(v IGNORE NULLS) OVER (ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM g
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       (v IS NULL)::INTEGER AS was_missing,
       round(CASE WHEN prev_v IS NULL THEN next_v
                  WHEN next_v IS NULL THEN prev_v
                  WHEN date_diff('day', prev_d, next_d) = 0 THEN prev_v
                  ELSE prev_v + floor((next_v - prev_v)
                       * (date_diff('day', prev_d, day)::DOUBLE
                          / date_diff('day', prev_d, next_d)::DOUBLE)
                       * 1e6) / 1e6
             END, 6) AS filled_value
FROM n
"""


def window_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window breadth (§2.9): percent_rank + cume_dist +
    nth_value over per-nation account-balance orderings — the
    distribution-position metrics an analyst layer exposes.  One hash
    partitioning (nationkey) serves all three functions; tie-proof
    ordering (acctbal DESC, custkey)."""
    c = _t(spark, sf_dir, "customer")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    wr = Window.partitionBy("c_nationkey").orderBy(*order)
    wf = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): percent_rank/cume_dist are
    # small-denominator rationals (k/(n-1)) that can land exactly on a
    # 6-dp half — Spark rounds the SHORTEST-DECIMAL rep half-up while
    # DuckDB rounds the BINARY value, and the two disagree on those ties
    # (first bites at sf0.1 where a nation has 641 customers).  The
    # floor chain is pure IEEE ops, bit-identical on any engine.
    half_up6 = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return c.select(
        "c_custkey",
        "c_nationkey",
        half_up6(F.percent_rank().over(wr)).alias("pct_rank"),
        half_up6(F.cume_dist().over(wr)).alias("cume"),
        F.nth_value("c_acctbal", 2).over(wf).alias("second_bal"),
    )


WINDOW_RANK_SQL = """
SELECT c_custkey, c_nationkey,
       floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
       floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume,
       nth_value(c_acctbal, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS second_bal
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""


GAP_FILL_SQL = """
WITH b AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b),
daily AS (
  SELECT ts::DATE AS day, count(*)::BIGINT AS n_purchases,
         round(sum(value), 6) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT strftime(cal.day, '%Y-%m-%d') AS day,
       coalesce(daily.n_purchases, 0) AS n_purchases,
       coalesce(daily.purchase_value, 0.0) AS purchase_value
FROM cal LEFT JOIN daily ON cal.day = daily.day
"""


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: one hash
    aggregate computes each user's first timestamp per stage
    (conditional min — no per-stage self-joins), then a 1-row rollup
    counts users whose stages happened in order.  Two Exchanges total
    regardless of data size; the per-user state is three timestamps."""
    ev = _t(spark, sf_dir, "events")

    def first_ts(ev_type: str):
        return F.min(F.when(F.col("event_type") == ev_type, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_viewed"),
        F.count(F.when(clicked, 1)).alias("n_clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("n_purchased_after_click"),
    )


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(ts) FILTER (event_type = 'view') AS t_view,
         min(ts) FILTER (event_type = 'click') AS t_click,
         min(ts) FILTER (event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) FILTER (t_view IS NOT NULL)::BIGINT AS n_viewed,
       count(*) FILTER (t_view IS NOT NULL AND t_click > t_view)::BIGINT
         AS n_clicked_after_view,
       count(*) FILTER (t_view IS NOT NULL AND t_click > t_view
                        AND t_purchase > t_click)::BIGINT
         AS n_purchased_after_click
FROM per_user
"""


def decile_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile decile analysis of customer balances WITHIN each nation —
    the window is partitioned (each nation ranks independently), so it
    scales horizontally; a global ntile would funnel 100 TB through one
    partition and is deliberately avoided.  custkey tiebreak makes the
    bucketing deterministic under ties."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.select(
            "c_nationkey",
            "c_acctbal",
            F.ntile(10).over(w).cast("int").alias("decile"),
        )
        .groupBy("c_nationkey", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


DECILE_SQL = """
SELECT c_nationkey, decile,
       count(*)::BIGINT AS n_customers,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM (
  SELECT c_nationkey, c_acctbal,
         ntile(10) OVER (PARTITION BY c_nationkey
                         ORDER BY c_acctbal ASC, c_custkey ASC)::INTEGER AS decile
  FROM customer
)
GROUP BY c_nationkey, decile
"""


def moving_avg_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-window rolling statistics: daily event counts per
    type, 7-day trailing moving average (ROWS BETWEEN 6 PRECEDING) and
    next-day delta (lead).  The window's input is the DAILY aggregate —
    days × types rows, not raw events — so at 100 TB the expensive pass
    is a plain partial-aggregated groupBy and the ordered window runs on
    a few thousand rows per event_type partition."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round(F.avg("n_events").over(w.rowsBetween(-6, 0)), 6).alias("ma7"),
        (F.lead("n_events").over(w) - F.col("n_events")).alias("next_day_delta"),
    )


MOVING_AVG_SQL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
       round(avg(n_events) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7,
       lead(n_events) OVER (PARTITION BY event_type ORDER BY day) - n_events
         AS next_day_delta
FROM daily
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics over the embedding column via
    higher-order functions (transform → aggregate fold), entirely
    JVM-side — the vector math never leaves codegen, no UDF, no
    explode (an explode would multiply the shuffle by the dimension)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sq_sum = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(sq_sum)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(norm), 6).alias("avg_norm"),
        F.round(F.min(norm), 6).alias("min_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )


EMB_NORM_SQL = """
SELECT label,
       count(*)::BIGINT AS n_vectors,
       round(avg(nrm), 6) AS avg_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM (
  SELECT label,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
)
GROUP BY label
"""


def sessionize_by_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the lag + cumulative-sum idiom): a new
    session starts after >30 min of inactivity; session ids are the
    running count of session starts per user.  Both windows and the
    final aggregate partition on user_id, so Catalyst plans ONE
    Exchange for the whole query — the canonical scalable sessionize.
    Complements `session_windows_events` (Spark's built-in
    session_window) with the portable window-function formulation.
    Gap math is integer microseconds — no interval-type comparisons."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    new_sess = F.when(
        us - F.lag(us).over(w) > 30 * 60 * 1_000_000, 1
    ).otherwise(F.lit(0))
    with_sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("is_start", new_sess)
        .withColumn(
            "session_id",
            F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    per_session = with_sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("longest_session"),
    )


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, count(*)::BIGINT AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       count(*)::BIGINT AS n_sessions,
       sum(n_events)::BIGINT AS n_events,
       max(n_events)::BIGINT AS longest_session
FROM per_session
GROUP BY user_id
"""


def scd2_user_purchase_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: turn each user's
    purchase event stream into validity intervals [valid_from,
    valid_to) via lead() — the batch pattern that materializes a
    temporal dimension from a change log.  One window partitioned by
    user_id = one shuffle; timestamps exported as epoch micros
    (cross-engine-stable, no string formats)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("valid_from_us"),
            F.round("value", 6).alias("value"),
        )
        .select(
            "user_id",
            "event_id",
            "valid_from_us",
            F.lead("valid_from_us").over(
                Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
            ).alias("valid_to_us"),
            "value",
        )
        .withColumn("is_current", F.col("valid_to_us").isNull())
    )


SCD2_SQL = """
SELECT user_id, event_id,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS valid_to_us,
       round(value, 6) AS value,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) IS NULL
         AS is_current
FROM events WHERE event_type = 'purchase'
"""


def ri_audit_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    edge of the star schema, each as a LEFT ANTI join (the build side
    is the key projection of the parent — broadcast when small,
    shuffled-exchange otherwise; never a fan-out join).  The four
    checks run as one unioned plan so a scheduler sees a single job."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    ev = _t(spark, sf_dir, "events")

    def check(name: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str):
        orphans = child.select(F.col(ckey).alias("k")).join(
            parent.select(F.col(pkey).alias("k")), "k", "left_anti"
        )
        return orphans.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_orphans"),
        )

    return (
        check("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(check("orders->customer", orders, "o_custkey", cust, "c_custkey"))
        .unionByName(check("customer->nation", cust, "c_nationkey", nation, "n_nationkey"))
        .unionByName(check("events->customer", ev, "user_id", cust, "c_custkey"))
    )


RI_AUDIT_SQL = """
SELECT 'lineitem->orders' AS check_name, count(*)::BIGINT AS n_orphans
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'orders->customer', count(*)::BIGINT
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'customer->nation', count(*)::BIGINT
FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
UNION ALL
SELECT 'events->customer', count(*)::BIGINT
FROM events WHERE user_id NOT IN (SELECT c_custkey FROM customer)
"""


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler over the corpus: row count, per-column
    null counts, exact distinct cardinalities, length extrema and mean
    — all in a single hash aggregate (one scan, one 1-row result).
    At 100 TB swap the exact distincts for approx_count_distinct; the
    shape of the plan is unchanged."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("bigint")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("bigint")).alias("null_lang"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


PROFILE_SQL = """
SELECT count(*)::BIGINT AS n_rows,
       sum((text IS NULL)::BIGINT)::BIGINT AS null_text,
       sum((lang IS NULL)::BIGINT)::BIGINT AS null_lang,
       count(DISTINCT source)::BIGINT AS n_sources,
       count(DISTINCT lang)::BIGINT AS n_langs,
       min(n_chars)::BIGINT AS min_chars,
       max(n_chars)::BIGINT AS max_chars,
       round(avg(n_chars), 6) AS avg_chars
FROM documents
"""


_JOIN_SALT = 8


def salted_join_event_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted JOIN — the manual skew fix when ONE join key is hot and
    the dimension is too big to broadcast: the fact side gets a salt in
    [0, 8), the dimension is replicated 8× (explode over a sequence
    literal — no driver loop), and the join key becomes (key, salt), so
    a hot user's rows spread over 8 reducers instead of one.  Semantics
    are exactly the unsalted inner join, which is what the oracle
    asserts.  Complements `salted_event_counts` (salted aggregation)
    and AQE's automatic skew-join split (asserted in
    tests/test_relational_ext.py) with the fully manual form."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    ev_s = ev.select("user_id", "value", "event_id").withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(_JOIN_SALT)).cast("int")
    )
    cust_r = (
        cust.select("c_custkey", "c_nationkey")
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALT - 1)))
        )
    )
    return (
        ev_s.join(
            cust_r,
            (ev_s.user_id == cust_r.c_custkey) & (ev_s._salt == cust_r._salt),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


SALTED_JOIN_SQL = """
SELECT c.c_nationkey,
       count(*)::BIGINT AS n_events,
       sum(e.value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
"""


def _docs_v2(docs: DataFrame) -> DataFrame:
    """Simulated next corpus snapshot, derived deterministically from v1:
    doc_id % 13 == 0 deleted, % 7 == 0 revised, % 17 == 0 cloned in as a
    new id — so the diff result is scale-factor-proof and oracle-able."""
    base = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 17 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return base.unionByName(added)


def diff_table_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (data-diff): classify every key across
    two table versions as added / removed / changed / unchanged and
    report counts — the audit run after every backfill or migration.

    One-pass shape: tag each side, reduce to (key, side-flags,
    side-row-hashes) in a single groupBy — ONE shuffle of (key, 16-byte
    md5), never a full-outer join of wide rows, never two scans of
    either side.  At 100 TB the row hash is computed at the scan and
    the shuffle carries 24 bytes/row."""
    docs = _t(spark, sf_dir, "documents")
    rh = F.md5(F.concat_ws("|", "text", "lang", "source", "n_chars"))
    v1 = docs.select("doc_id", rh.alias("rh"), F.lit(1).alias("side"))
    v2 = _docs_v2(docs).select("doc_id", rh.alias("rh"), F.lit(2).alias("side"))
    status = (
        F.when(F.bool_or(F.col("side") == 1) & ~F.bool_or(F.col("side") == 2), "removed")
        .when(~F.bool_or(F.col("side") == 1) & F.bool_or(F.col("side") == 2), "added")
        .when(
            F.max(F.when(F.col("side") == 1, F.col("rh")))
            == F.max(F.when(F.col("side") == 2, F.col("rh"))),
            "unchanged",
        )
        .otherwise("changed")
    )
    return (
        v1.unionByName(v2)
        .groupBy("doc_id")
        .agg(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


DIFF_SQL = """
WITH v1 AS (SELECT doc_id, md5(concat_ws('|', text, lang, source, n_chars)) AS rh
            FROM documents),
v2_rows AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 17 = 0),
v2 AS (SELECT doc_id, md5(concat_ws('|', text, lang, source, n_chars)) AS rh
       FROM v2_rows),
tagged AS (SELECT doc_id, rh, 1 AS side FROM v1
           UNION ALL SELECT doc_id, rh, 2 FROM v2),
per_key AS (
  SELECT doc_id,
         CASE WHEN bool_or(side = 1) AND NOT bool_or(side = 2) THEN 'removed'
              WHEN NOT bool_or(side = 1) AND bool_or(side = 2) THEN 'added'
              WHEN max(CASE WHEN side = 1 THEN rh END)
                   = max(CASE WHEN side = 2 THEN rh END) THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM tagged GROUP BY doc_id)
SELECT status, count(*)::BIGINT AS n_keys FROM per_key GROUP BY status
"""


def approx_percentile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, ok_p50, ok_p90, ok_p99) — approximate
    percentiles of event value per type via the ``approx_percentile``
    sketch, reported as oracle-checkable RANK-ERROR verdicts.  The
    sketch values themselves are engine-specific, but the sketch's
    contract — the returned value's true CDF position is within the
    rank-error bound of the target percentile — is checkable: the
    estimates are joined back (broadcast: one row per type) and each
    ``ok_pXX`` asserts |share of rows <= estimate  −  p| <= 0.02
    (accuracy 10000 → guaranteed rank error 1e-4; 0.02 absorbs value
    ties).  The sketch remains the 100 TB path — mergeable fixed-size
    state per group instead of a full sort."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    est = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("pcts")
    )
    j = ev.join(F.broadcast(est), "event_type")
    share = [
        F.avg((F.col("value") <= F.col("pcts")[i]).cast("double")) for i in range(3)
    ]
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.abs(share[0] - 0.5) <= 0.02).alias("ok_p50"),
        (F.abs(share[1] - 0.9) <= 0.02).alias("ok_p90"),
        (F.abs(share[2] - 0.99) <= 0.02).alias("ok_p99"),
    )


APPROX_PCT_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       true AS ok_p50, true AS ok_p90, true AS ok_p99
FROM events GROUP BY event_type"""


def trailing_hour_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour activity (event-time RANGE frame): for
    every event, how many events and how much value the same user
    produced in the preceding hour INCLUDING this one — the online
    feature a rate limiter or fraud score reads.

    The frame is RANGE over epoch-micros (value-based, so same-timestamp
    ties land in the same frame regardless of row order — deterministic
    without a row tie-break).  One hash partition by user, one sort;
    DECIMAL sums keep the sliding aggregation order-exact."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_prev_hour"),
        F.sum(_dec("value")).over(w).cast("double").alias("value_prev_hour"),
    )


TRAILING_SQL = """
SELECT user_id, event_id,
       count(*) OVER w AS n_prev_hour,
       sum(value::DECIMAL(18,4)) OVER w::DOUBLE AS value_prev_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


_PATH_LEN = 8
_PATH_TOP = 20


def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: each user's first 8 event types (by
    time) joined into a '>' path, then the 20 most common paths — the
    onboarding-funnel shape product analytics runs daily.

    Shape: one ranking window (hash partition by user) → per-user
    ordered reassembly via array_sort over (rank, type) structs —
    collect_list alone has NO order guarantee across partitions; sorting
    by the rank we just computed makes it deterministic — → path counts
    → TakeOrderedAndProject top-k (no global sort)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_n = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_LEN)
    )
    paths = first_n.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(_PATH_TOP)
    )


PATHS_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {_PATH_LEN} GROUP BY user_id)
SELECT path, count(*)::BIGINT AS n_users FROM paths
GROUP BY path ORDER BY n_users DESC, path LIMIT {_PATH_TOP}
"""


# --------------------------------------------------------------- round 4

# MATCH_RECOGNIZE-style sequence pattern: view → (no purchase) → click →
# (no purchase) → purchase.  The match's end is forced (the first
# purchase after a qualifying click), so Java-regex (leftmost-greedy)
# and RE2 (leftmost-longest) agree on every match and on the
# non-overlapping count — the property that makes the operator
# cross-engine deterministic.
_FUNNEL_PATTERN = "v[^p]*c[^p]*p"
_EVENT_SYMBOLS = {"view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"}


def event_funnel_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, conversions) — per-user MATCH_RECOGNIZE-style
    pattern detection: compress each user's chronological event stream
    to a symbol string (v/c/p/s/e) and count non-overlapping
    view→click→purchase conversions (no intervening purchase), the
    sequence-pattern surface SQL engines expose as MATCH_RECOGNIZE and
    Spark lacks natively.

    Shape: ONE hash partition by user (ranking window + grouped
    reassembly share it), symbol string built by array_sort over
    (rn, symbol) structs — collect_list alone has no cross-partition
    order guarantee — then a single regexp_count per user.  At 100 TB:
    shuffle ∝ events, state ∝ one string per user; pattern evaluation
    is row-local codegen."""
    ev = _t(spark, sf_dir, "events")
    sym = F.element_at(
        F.create_map(*[F.lit(x) for kv in _EVENT_SYMBOLS.items() for x in kv]),
        F.col("event_type"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqs = (
        ev.select("user_id", "ts", "event_id", sym.alias("sym"))
        .withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "sym"))),
                    lambda x: x["sym"],
                ),
                "",
            ).alias("seq"),
        )
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.regexp_count("seq", F.lit(_FUNNEL_PATTERN)).cast("bigint").alias("conversions"),
    )


FUNNEL_PATTERN_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_id, ts,
         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END AS sym,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
seqs AS (
  SELECT user_id, count(*)::BIGINT AS n_events,
         string_agg(sym, '' ORDER BY rn) AS seq
  FROM ranked GROUP BY user_id)
SELECT user_id, n_events,
       len(regexp_extract_all(seq, '{_FUNNEL_PATTERN}'))::BIGINT AS conversions
FROM seqs
"""

_EWMA_ALPHA = 0.3


def ewma_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, total, ewma) — exponentially-weighted moving average over
    the daily purchase-revenue series (alpha = 0.3, seeded with the
    first day's total): the sequential recurrence a window frame cannot
    express, run as ONE ordered fold over the aggregated series.

    Shape: daily totals are a DECIMAL hash aggregate (order-exact);
    the fold runs over the collected per-day array — ~days elements,
    never row-sized, so the non-parallel part of the recurrence is
    bounded by the calendar, not the corpus.  Both engines evaluate the
    recurrence as ``total * 0.3 + prev * 0.7`` in IEEE doubles (the
    oracle's recursive CTE uses the identical expression text), so the
    chain is bit-reproducible."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(_dec("value")).cast("double").alias("total"))
    )
    arr = daily.agg(F.array_sort(F.collect_list(F.struct("day", "total"))).alias("a"))
    folded = arr.select(
        F.expr(
            f"""
            aggregate(
              a,
              named_struct('prev', CAST(0.0 AS DOUBLE), 'started', false,
                           'out', CAST(array() AS ARRAY<STRUCT<day: DATE, total: DOUBLE, ewma: DOUBLE>>)),
              (acc, x) -> named_struct(
                'prev', CASE WHEN acc.started
                             THEN x.total * CAST({_EWMA_ALPHA} AS DOUBLE) + acc.prev * CAST({1 - _EWMA_ALPHA} AS DOUBLE)
                             ELSE x.total END,
                'started', true,
                'out', array_append(acc.out, named_struct(
                  'day', x.day, 'total', x.total,
                  'ewma', CASE WHEN acc.started
                               THEN x.total * CAST({_EWMA_ALPHA} AS DOUBLE) + acc.prev * CAST({1 - _EWMA_ALPHA} AS DOUBLE)
                               ELSE x.total END))),
              acc -> acc.out)
            """
        ).alias("out")
    )
    row = folded.select(F.explode("out").alias("r"))
    return row.select(
        F.date_format("r.day", "yyyy-MM-dd").alias("day"),
        F.round("r.total", 6).alias("total"),
        F.round("r.ewma", 6).alias("ewma"),
    )


EWMA_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day, sum(value::DECIMAL(18,4))::DOUBLE AS total
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
ord AS (SELECT day, total, row_number() OVER (ORDER BY day) AS rn FROM daily),
r AS (
  SELECT rn, day, total, total AS ewma FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.day, o.total,
         o.total * CAST({_EWMA_ALPHA} AS DOUBLE) + r.ewma * CAST({1 - _EWMA_ALPHA} AS DOUBLE)
  FROM ord o JOIN r ON o.rn = r.rn + 1)
SELECT strftime(day, '%Y-%m-%d') AS day, round(total, 6) AS total, round(ewma, 6) AS ewma FROM r
"""


_HOLT_A = 0.5   # level smoothing
_HOLT_B = 0.3   # trend smoothing


def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n_events, level, trend) — Holt's linear
    (double-exponential) smoothing of the daily event-count series PER
    EVENT TYPE: l' = a·x + (1-a)(l+b), b' = b_s·(l'-l) + (1-b_s)·b,
    seeded l=x_first, b=0 — the trend-aware sibling of
    ewma_daily_purchases.  Same scale shape: the corpus-sized pass is
    one partial-agg groupBy; the sequential recurrence folds over a
    per-type array bounded by the calendar, and both engines run the
    IDENTICAL double expression text (ordered fold ≡ recursive CTE),
    so the chain is bit-reproducible."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    arr = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("a")
    )
    a, b = _HOLT_A, _HOLT_B
    lvl_new = (
        f"CAST(x.x AS DOUBLE) * CAST({a} AS DOUBLE)"
        f" + CAST({1 - a} AS DOUBLE) * (acc.l + acc.b)"
    )
    folded = arr.select(
        "event_type",
        F.expr(
            f"""
            aggregate(
              a,
              named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE), 'started', false,
                           'out', CAST(array() AS ARRAY<STRUCT<day: DATE, x: BIGINT, level: DOUBLE, trend: DOUBLE>>)),
              (acc, x) -> named_struct(
                'l', CASE WHEN acc.started THEN {lvl_new} ELSE CAST(x.x AS DOUBLE) END,
                'b', CASE WHEN acc.started
                          THEN CAST({b} AS DOUBLE) * (({lvl_new}) - acc.l)
                               + CAST({1 - b} AS DOUBLE) * acc.b
                          ELSE CAST(0.0 AS DOUBLE) END,
                'started', true,
                'out', array_append(acc.out, named_struct(
                  'day', x.day, 'x', x.x,
                  'level', CASE WHEN acc.started THEN {lvl_new} ELSE CAST(x.x AS DOUBLE) END,
                  'trend', CASE WHEN acc.started
                                THEN CAST({b} AS DOUBLE) * (({lvl_new}) - acc.l)
                                     + CAST({1 - b} AS DOUBLE) * acc.b
                                ELSE CAST(0.0 AS DOUBLE) END))),
              acc -> acc.out)
            """
        ).alias("out"),
    )
    row = folded.select("event_type", F.explode("out").alias("r"))
    return row.select(
        "event_type",
        F.date_format("r.day", "yyyy-MM-dd").alias("day"),
        F.col("r.x").cast("bigint").alias("n_events"),
        F.round("r.level", 6).alias("level"),
        F.round("r.trend", 6).alias("trend"),
    )


def _holt_sql() -> str:
    a, b = _HOLT_A, _HOLT_B
    lvl_new = (
        f"CAST(o.x AS DOUBLE) * CAST({a} AS DOUBLE)"
        f" + CAST({1 - a} AS DOUBLE) * (h.level + h.trend)"
    )
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2),
ord AS (SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily),
h AS (
  SELECT event_type, rn, day, x,
         CAST(x AS DOUBLE) AS level, CAST(0.0 AS DOUBLE) AS trend
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn, o.day, o.x,
         {lvl_new},
         CAST({b} AS DOUBLE) * (({lvl_new}) - h.level)
           + CAST({1 - b} AS DOUBLE) * h.trend
  FROM ord o JOIN h ON o.event_type = h.event_type AND o.rn = h.rn + 1)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x AS n_events,
       round(level, 6) AS level, round(trend, 6) AS trend
FROM h
"""


def anomaly_event_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n, z, is_anomaly) — daily-volume anomaly flags
    per event type: z-score of each day's event count against that
    type's distribution over all days, |z| > 2 flagged — the
    volume-drop/spike monitor every ingest pipeline runs.

    The moments come from EXACT integer sums (Σn, Σn² over int64 via a
    window on the tiny daily table), and the z arithmetic is the same
    double expression text on both engines — no Welford-vs-naive
    variance drift, so even round(z, 6) is deterministic.  Shape: one
    hash aggregate to days (shuffle ∝ days·types), then a per-type
    window over ~30 rows."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    mean = F.col("s1").cast("double") / F.col("cnt").cast("double")
    var = F.col("s2").cast("double") / F.col("cnt").cast("double") - mean * mean
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return stats.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, day, n,
         sum(n) OVER w AS s1, sum(n * n) OVER w AS s2, count(*) OVER w AS cnt
  FROM daily WINDOW w AS (PARTITION BY event_type))
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
       round((n::DOUBLE - s1::DOUBLE / cnt::DOUBLE)
             / sqrt(s2::DOUBLE / cnt::DOUBLE
                    - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE)), 6) AS z,
       abs((n::DOUBLE - s1::DOUBLE / cnt::DOUBLE)
           / sqrt(s2::DOUBLE / cnt::DOUBLE
                  - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE))) > 2.0 AS is_anomaly
FROM stats
"""

_ER_MAX_LEV = 2


def er_blocked_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name_a, name_b, lev_dist, n_a, n_b) — entity resolution over the
    part catalog: distinct listing names are the entities, BLOCKED on
    the product noun (last name token), and verified within each block
    by Levenshtein distance ≤ 2 — the classic two-stage ER plan
    (cheap blocking key prunes the O(n²) candidate space; the expensive
    edit-distance runs only inside blocks).

    Shape: names are first DISTINCT'd with their listing counts (one
    hash agg — the corpus self-join happens at ENTITY cardinality,
    never listing cardinality), then a block equi-join; at 100 TB
    the shuffle is ∝ distinct entities and the in-block verify is
    Σ|block|², controlled by blocking-key selectivity."""
    part = _t(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_listings"))
        .select(
            "p_name",
            "n_listings",
            F.element_at(F.split("p_name", " "), -1).alias("noun"),
        )
    )
    a, b = names.alias("a"), names.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(b, F.col("a.noun") == F.col("b.noun"))
        .filter(F.col("a.p_name") < F.col("b.p_name"))
        .filter(lev <= _ER_MAX_LEV)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.cast("int").alias("lev_dist"),
            F.col("a.n_listings").alias("n_a"),
            F.col("b.n_listings").alias("n_b"),
        )
    )


ER_FUZZY_SQL = f"""
WITH names AS (
  SELECT p_name, count(*)::BIGINT AS n_listings,
         split_part(p_name, ' ', 2) AS noun
  FROM part GROUP BY p_name)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name)::INTEGER AS lev_dist,
       a.n_listings AS n_a, b.n_listings AS n_b
FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAX_LEV}
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort, day_offset, n_users) — cohort retention: users grouped
    by FIRST-ACTIVE day, counted on each subsequent day they return —
    the daily-retention triangle every product analytics stack
    maintains.

    Shape: one user-keyed aggregate for cohort assignment, one distinct
    (user, day) reduction, a join on user (at 100 TB the cohort table
    is user-sized and co-partitions with the activity reduction), and
    the final small aggregate.  All counts exact integers."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    first = ev.groupBy("user_id").agg(F.min(day).alias("cohort"))
    active = ev.select("user_id", day.alias("day")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            F.datediff("day", "cohort").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


RETENTION_SQL = """
WITH first AS (SELECT user_id, min(ts::DATE) AS cohort FROM events GROUP BY user_id),
active AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
       (a.day - f.cohort)::INTEGER AS day_offset,
       count(*)::BIGINT AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, recency_days, frequency, monetary, segment) — RFM
    quartile segmentation of customers from their order history: the
    marketing-analytics classic (recency since the corpus's last order
    date, order count, DECIMAL-exact spend), each scored into ntile(4)
    quartiles under tie-proof orderings, concatenated into the 'RFM'
    segment label.

    Shape: one customer-keyed aggregate over orders, then three
    RANGE-PARTITIONED prefix-sum rankings over the customer table
    (``partitioning.prefix_sum`` with a ones column = distributed
    row_number — the round-8 verdict's fix for the three global
    ``ntile`` sorts, which each collapsed ~10^8 customers at 100x
    into ONE task).  ntile(4) is then closed-form from the rank rn
    and the customer count n: with q = n DIV 4 and r = n % 4 the
    first r tiles hold q+1 rows, so

        tile = (rn + q) DIV (q + 1)                  if rn <= r·(q+1)
             = r + (rn - r·(q+1) + q - 1) DIV q      otherwise

    — bit-identical to the window ntile for every n.  The corpus max
    date is a 1-row aggregate broadcast in."""
    o = _t(spark, sf_dir, "orders")
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(_dec("o_totalprice")).cast("double").alias("monetary"),
        )
        .crossJoin(F.broadcast(asof))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.datediff("asof", "last_order").alias("recency_days"),
            "frequency",
            F.round("monetary", 6).alias("monetary"),
        )
    )
    ranked = per_cust.withColumn("_one", F.lit(1))
    # chained prefix sums: each call range-shuffles on its own order
    # and localCheckpoints, so the three ranks never meet in a join
    # and no single task ever holds the whole customer table.
    # customer grain GROWS with the data (fact-grain in prefix_sum's
    # contract), so size the range shuffle from the orders SCAN's
    # split count — the pre-aggregation volume proxy; floors at the
    # measured-best 8 locally
    rfm_parts = scan_parts(o)
    ranked = prefix_sum(
        ranked,
        "_one",
        [F.col("recency_days").asc(), F.col("c_custkey").asc()],
        out_col="rn_r",
        num_parts=rfm_parts,
    )
    ranked = prefix_sum(
        ranked,
        "_one",
        [F.col("frequency").desc(), F.col("c_custkey").asc()],
        out_col="rn_f",
        num_parts=rfm_parts,
    )
    ranked = prefix_sum(
        ranked,
        "_one",
        [F.col("monetary").desc(), F.col("c_custkey").asc()],
        out_col="rn_m",
        num_parts=rfm_parts,
    )
    # n from the (checkpointed) ranked tail — a cheap count, not a
    # second pass over orders
    n_df = ranked.agg(F.count(F.lit(1)).alias("_n"))
    scored = ranked.crossJoin(F.broadcast(n_df)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.expr(ntile_expr("rn_r", "_n", 4)).cast("int").alias("r"),
        F.expr(ntile_expr("rn_f", "_n", 4)).cast("int").alias("f"),
        F.expr(ntile_expr("rn_m", "_n", 4)).cast("int").alias("m"),
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.concat(F.col("r"), F.col("f"), F.col("m")).alias("segment"),
    )


RFM_SQL = """
WITH cutoff AS (SELECT max(o_orderdate::DATE) AS cutoff_day FROM orders),
per_cust AS (
  SELECT o_custkey AS c_custkey,
         (cutoff.cutoff_day - max(o_orderdate::DATE))::INTEGER AS recency_days,
         count(*)::BIGINT AS frequency,
         round(sum(o_totalprice::DECIMAL(18,4))::DOUBLE, 6) AS monetary
  FROM orders, cutoff GROUP BY o_custkey, cutoff.cutoff_day),
scored AS (
  SELECT c_custkey, recency_days, frequency, monetary,
         ntile(4) OVER (ORDER BY recency_days ASC, c_custkey ASC) AS r,
         ntile(4) OVER (ORDER BY frequency DESC, c_custkey ASC) AS f,
         ntile(4) OVER (ORDER BY monetary DESC, c_custkey ASC) AS m
  FROM per_cust)
SELECT c_custkey, recency_days, frequency, monetary,
       r::VARCHAR || f::VARCHAR || m::VARCHAR AS segment
FROM scored
"""



_BASKET_TOP_K = 50


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, n_pairs, support, confidence_a_b, lift) —
    market-basket association mining over order baskets: the TOP-50
    most co-purchased part pairs (count ties broken by part ids — a
    fixed absolute count threshold goes vacuous as the catalog grows,
    a rank cut never does), each with support (pair share of all
    orders), directional confidence P(b|a), and lift
    (observed / expected-if-independent) — the classic association-rule
    screen.

    Scale shape: the pair generation self-joins WITHIN orderkey only
    (baskets are small — cost Σ|basket|², never corpus²), part counts
    broadcast back, and the order total is a 1-row broadcast.  All
    ratios divide exact integers, so 6-dp rounding is engine-stable."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    part_n = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(_BASKET_TOP_K)
    )
    na = part_n.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    nb = part_n.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    d = F.col("n_orders").cast("double")
    support = F.col("n_pairs").cast("double") / d
    conf = F.col("n_pairs").cast("double") / F.col("n_a").cast("double")
    lift = (F.col("n_pairs").cast("double") * d) / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pairs",
            F.round(support, 6).alias("support"),
            F.round(conf, 6).alias("confidence_a_b"),
            F.round(lift, 6).alias("lift"),
        )
    )


MARKET_BASKET_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM li),
part_n AS (SELECT l_partkey, count(*)::BIGINT AS n_part FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*)::BIGINT AS n_pairs
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 ORDER BY n_pairs DESC, part_a ASC, part_b ASC LIMIT {_BASKET_TOP_K})
SELECT part_a, part_b, n_pairs,
       round(n_pairs::DOUBLE / n.n_orders::DOUBLE, 6) AS support,
       round(n_pairs::DOUBLE / na.n_part::DOUBLE, 6) AS confidence_a_b,
       round((n_pairs::DOUBLE * n.n_orders::DOUBLE)
             / (na.n_part::DOUBLE * nb.n_part::DOUBLE), 6) AS lift
FROM pairs
JOIN part_n na ON na.l_partkey = pairs.part_a
JOIN part_n nb ON nb.l_partkey = pairs.part_b
CROSS JOIN n
"""



def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cur, next, n, p) — first-order Markov transition matrix of
    event types: for each consecutive per-user event pair, the count
    and conditional probability P(next|cur) — the session-model /
    next-action-prediction baseline.

    Shape: ONE user-hash Exchange (ranking window), consecutive pairs
    via a row-local lead() in the same window, then a types²-sized
    aggregate; probabilities divide exact integers."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("cur"))
        .withColumn("next", F.lead("cur").over(w))
        .filter(F.col("next").isNotNull())
    )
    counts = pairs.groupBy("cur", "next").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("cur")
    return counts.select(
        "cur",
        "next",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"), 6
        ).alias("p"),
    )


TRANSITION_SQL = """
WITH ordered AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
  FROM events),
counts AS (SELECT cur, next, count(*)::BIGINT AS n
           FROM ordered WHERE next IS NOT NULL GROUP BY cur, next)
SELECT cur, next, n,
       round(n::DOUBLE / sum(n) OVER (PARTITION BY cur)::DOUBLE, 6) AS p
FROM counts
"""


def dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, dau, wau, mau) — daily / trailing-7-day / trailing-30-day
    distinct active users, the engagement dashboard every product
    reports.  EXACT via the (user, day) reduction joined to a trailing
    day range — at fixture scale that join is days×users-sized; at
    100 TB the same columns feed the mergeable HLL-sketch path
    (hll_users_daily) whose per-day registers union across any trailing
    window without re-scanning events — this operator is the exact
    ground truth that path is tolerance-checked against."""
    ev = _t(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = active.select("day").distinct()
    a, d = active.alias("a"), days.alias("d")
    joined = d.join(
        a,
        (F.datediff(F.col("d.day"), F.col("a.day")) >= 0)
        & (F.datediff(F.col("d.day"), F.col("a.day")) < 30),
    )
    off = F.datediff(F.col("d.day"), F.col("a.day"))
    return (
        joined.groupBy(F.date_format(F.col("d.day"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.countDistinct(F.when(off == 0, F.col("a.user_id"))).alias("dau"),
            F.countDistinct(F.when(off < 7, F.col("a.user_id"))).alias("wau"),
            F.countDistinct(F.col("a.user_id")).alias("mau"),
        )
    )


DAU_SQL = """
WITH active AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
days AS (SELECT DISTINCT day FROM active)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN d.day = a.day THEN a.user_id END)::BIGINT AS dau,
       count(DISTINCT CASE WHEN d.day - a.day < 7 THEN a.user_id END)::BIGINT AS wau,
       count(DISTINCT a.user_id)::BIGINT AS mau
FROM days d JOIN active a ON d.day - a.day >= 0 AND d.day - a.day < 30
GROUP BY d.day
"""



_PR_DAMPING = 0.85
_PR_ITERS = 5
_PR_EDGE_TOP = 200


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, rank) — PageRank over the co-purchase graph (nodes =
    parts, undirected edges = the top-200 most co-purchased pairs),
    5 fixed iterations, damping 0.85 — the fourth iterative algorithm
    in the engine next to Lloyd, connected components, and the BPE
    trainer, and like them it carries a FULL VALUE oracle: every input
    is deterministic (rank-cut edge set, integer degrees), so the
    oracle unrolls the identical 5 steps as a DuckDB CTE chain.

    Shape per iteration: ranks join edges on src (both tables edge- /
    node-sized, co-partitioned at scale), one grouped sum; only the
    final node-sized table leaves the loop.  r_{i+1}(v) = (1-d)/N +
    d·Σ_{u~v} r_i(u)/deg(u); the undirected edge set lists both
    directions so every node has out-degree ≥ 1 (no dangling mass)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    top = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(_PR_EDGE_TOP)
    )
    edges = top.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        top.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    ).cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("part"), "deg").cache()
    n_nodes_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    n = n_nodes_df.first()["n"]
    d = _PR_DAMPING
    ranks = nodes.select("part", F.lit(1.0 / n).alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(nodes, "part")
            .select(
                F.col("part").alias("src"),
                (F.col("rank") / F.col("deg").cast("double")).alias("c"),
            )
            .join(edges, "src")
            .groupBy(F.col("dst").alias("part"))
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.select("part")
            .join(contrib, "part", "left")
            .select(
                "part",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
            # node-sized; per-round lineage truncation (bfs_levels /
            # label_prop pattern — the lazily chained 5-iteration plan
            # measured 256 Exchanges / 139 scans before this)
            .transform(truncate_lineage)
        )
    return ranks.select("part", F.round("rank", 6).alias("rank"))


def _pagerank_sql() -> str:
    d = _PR_DAMPING
    parts = [
        """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
top AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 ORDER BY n DESC, pa ASC, pb ASC LIMIT """
        + str(_PR_EDGE_TOP)
        + """),
edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM top
                       UNION ALL SELECT pb, pa FROM top),
deg AS MATERIALIZED (SELECT src AS part, count(*)::BIGINT AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*)::BIGINT AS n FROM deg),
r0 AS (SELECT part, 1.0::DOUBLE / nn.n::DOUBLE AS rank FROM deg, nn)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS part, sum(r.rank / dg.deg::DOUBLE) AS in_sum
  FROM r{i - 1} r JOIN deg dg ON dg.part = r.part JOIN edges e ON e.src = r.part
  GROUP BY e.dst),
r{i} AS (SELECT dg.part,
         (1.0::DOUBLE - {d}::DOUBLE) / nn.n::DOUBLE
           + {d}::DOUBLE * coalesce(c.in_sum, 0.0::DOUBLE) AS rank
  FROM deg dg CROSS JOIN nn LEFT JOIN c{i} c ON c.part = dg.part)"""
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT part, round(rank, 6) AS rank FROM r{_PR_ITERS}"
    )



# ------------------------------------------------ recursive CTE BFS
#
# Spark 4's WITH RECURSIVE, exercised on the bounded co-purchase
# graph: min-hop distance from the minimum node, the PURE-SQL sibling
# of the driver-loop bfs_levels — the recursion runs inside the engine
# (Catalyst's recursive-CTE operator), not as an unrolled Python loop,
# and DuckDB executes the IDENTICAL statement text as the oracle.
# Depth is bounded (dist < 4) so the walk table is finite even with
# cycles; the aggregate outside the recursion collapses walks to
# shortest hops.  Graph tables are node-/edge-sized throughout.

_RCTE_MAX_PART = 300  # same bounded subgraph as the analytics graph ops
_RCTE_HOPS = 4


def _rcte_sql(lineitem_ref: str) -> str:
    return f"""
WITH RECURSIVE
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM {lineitem_ref}
       WHERE l_partkey <= {_RCTE_MAX_PART}),
e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
undir AS (SELECT pa, pb FROM e UNION ALL SELECT pb AS pa, pa AS pb FROM e),
src AS (SELECT MIN(pa) AS s FROM undir),
walk(part, dist) AS (
  SELECT s AS part, CAST(0 AS INT) AS dist FROM src
  UNION ALL
  -- DISTINCT bounds every recursion level at |nodes| rows (a frontier,
  -- not an all-walks enumeration — without it the level-k working
  -- table holds every length-k walk and trips the engine row limit)
  SELECT DISTINCT b.pb AS part, CAST(w.dist + 1 AS INT) AS dist
  FROM walk w JOIN undir b ON b.pa = w.part
  WHERE w.dist < {_RCTE_HOPS}
)
SELECT part, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY part
"""


def recursive_cte_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, dist) — min-hop BFS via an engine-side recursive CTE.

    SQL-surface EXHIBIT, not the production path: Catalyst's
    recursive-CTE operator re-evaluates the edge CTE at every
    recursion level (~2.9 s vs 1.2 s at sf0.1), so AT SCALE USE
    :func:`k_means_hadoop_spark.operators.analytics.bfs_levels` — the
    driver-loop form materializes the edge list once and truncates
    lineage per round.  This entry exists to prove the WITH RECURSIVE
    surface compiles to the same semantics (DuckDB runs the identical
    statement text), the same role the guarded O(n²) oracle measures
    play for the banded dedup tiers.
    """
    return spark.sql(_rcte_sql(f"parquet.`{sf_dir}/lineitem.parquet`"))


# ------------------------------------------------ LATERAL top-k join
#
# The correlated LATERAL subquery surface: per order, its 2 most
# expensive line items — the "top-k per key without a window over the
# whole fact table" idiom.  Both engines run the same statement text.

_LATERAL_MAX_ORDER = 30000


def _lateral_sql(orders_ref: str, lineitem_ref: str) -> str:
    return f"""
SELECT o.o_orderkey, t.l_linenumber,
       CAST(t.price AS DOUBLE) AS price
FROM (SELECT o_orderkey FROM {orders_ref}
      WHERE o_orderkey <= {_LATERAL_MAX_ORDER}) o,
LATERAL (
  SELECT l_linenumber, round(CAST(l_extendedprice AS DOUBLE), 2) AS price
  FROM {lineitem_ref} l
  WHERE l.l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber ASC
  LIMIT 2
) t
"""


def lateral_top2_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, l_linenumber, price) — top-2 line items per order
    via a correlated LATERAL subquery."""
    return spark.sql(
        _lateral_sql(
            f"parquet.`{sf_dir}/orders.parquet`",
            f"parquet.`{sf_dir}/lineitem.parquet`",
        )
    )


# ------------------------------------------------ SQL pipe syntax
#
# Spark 4's pipe-syntax (|>) surface: the same revenue-per-priority
# rollup a user would write imperatively, executed by Catalyst as the
# equivalent relational plan.  DuckDB has no pipe parser, so the
# oracle is the standard-SQL equivalent — the hash match proves the
# pipe form compiles to the same semantics, which is exactly what a
# user migrating queries needs to know.


def pipe_syntax_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, n_orders, revenue) via |> stages."""
    return spark.sql(f"""
      FROM parquet.`{sf_dir}/orders.parquet` AS o
      |> JOIN parquet.`{sf_dir}/lineitem.parquet` AS l ON l.l_orderkey = o.o_orderkey
      |> WHERE o.o_orderstatus = 'F'
      |> AGGREGATE count(DISTINCT o.o_orderkey) AS n_orders,
                   round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(5,4)))) AS DOUBLE), 2) AS revenue
         GROUP BY o.o_orderpriority
    """)


PIPE_SYNTAX_SQL = """
SELECT o.o_orderpriority,
       count(DISTINCT o.o_orderkey)::BIGINT AS n_orders,
       round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(5,4)))) AS DOUBLE), 2) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY o.o_orderpriority
"""


RELATIONAL_QUERIES = {
    "retention_cohorts": (retention_cohorts, RETENTION_SQL),
    "market_basket_pairs": (market_basket_pairs, MARKET_BASKET_SQL),
    "event_transition_matrix": (event_transition_matrix, TRANSITION_SQL),
    "dau_wau_mau": (dau_wau_mau, DAU_SQL),
    "pagerank_copurchase": (pagerank_copurchase, _pagerank_sql()),
    "rfm_segments": (rfm_segments, RFM_SQL),
    "event_funnel_pattern": (event_funnel_pattern, FUNNEL_PATTERN_SQL),
    "ewma_daily_purchases": (ewma_daily_purchases, EWMA_SQL),
    # SQL-surface exhibit — at scale use bfs_levels (see the docstring)
    "recursive_cte_bfs": (recursive_cte_bfs, _rcte_sql("lineitem")),
    "pipe_syntax_priority_revenue": (pipe_syntax_priority_revenue, PIPE_SYNTAX_SQL),
    "lateral_top2_lineitems": (lateral_top2_lineitems, _lateral_sql("orders", "lineitem")),
    "holt_linear_daily": (holt_linear_daily, _holt_sql()),
    "anomaly_event_days": (anomaly_event_days, ANOMALY_SQL),
    "er_blocked_fuzzy": (er_blocked_fuzzy, ER_FUZZY_SQL),
    "stats_by_flag": (stats_by_flag, STATS_SQL),
    "zorder_events_curve": (zorder_events_curve, _zorder_sql()),
    "pivot_orders_status": (pivot_orders_by_status, PIVOT_SQL),
    "latest_event_snapshot": (latest_event_snapshot, SNAPSHOT_SQL),
    "full_outer_click_purchase": (full_outer_click_purchase, FULL_OUTER_SQL),
    "gap_fill_daily_purchases": (gap_fill_daily_purchases, GAP_FILL_SQL),
    "funnel_view_click_purchase": (funnel_view_click_purchase, FUNNEL_SQL),
    "sessionize_by_gap": (sessionize_by_gap, SESSIONIZE_SQL),
    "scd2_user_purchase_history": (scd2_user_purchase_history, SCD2_SQL),
    "ri_audit_orphans": (ri_audit_orphans, RI_AUDIT_SQL),
    "profile_documents": (profile_documents, PROFILE_SQL),
    "salted_join_event_nations": (salted_join_event_nations, SALTED_JOIN_SQL),
    "diff_table_versions": (diff_table_versions, DIFF_SQL),
    "trailing_hour_user_stats": (trailing_hour_user_stats, TRAILING_SQL),
    "top_event_paths": (top_event_paths, PATHS_SQL),
    "decile_customers_by_nation": (decile_customers_by_nation, DECILE_SQL),
    "moving_avg_daily_events": (moving_avg_daily_events, MOVING_AVG_SQL),
    "embedding_norm_stats": (embedding_norm_stats, EMB_NORM_SQL),
    "top_customer_per_nation": (top_customer_per_nation, ARG_EXTREMA_SQL),
    "running_spend_customer": (running_spend_per_customer, RUNNING_SPEND_SQL),
    "asof_join_purchase_click": (asof_join_purchase_before_click, ASOF_SQL),
    "range_join_views_clicks": (range_join_views_near_clicks, RANGE_JOIN_SQL),
    "except_custkeys": (except_custkeys, EXCEPT_SQL),
    "intersect_custkeys": (intersect_custkeys, INTERSECT_SQL),
    "except_all_order_months": (except_all_order_months, EXCEPT_ALL_SQL),
    "hof_embedding_flags": (hof_embedding_flags, HOF_FLAGS_SQL),
    "fuzzy_match_nations": (fuzzy_match_nations, FUZZY_SQL),
    "structured_parse_roundtrip": (structured_parse_roundtrip, PARSE_ROUNDTRIP_SQL),
    "cube_orders": (cube_orders, CUBE_SQL),
    "grouping_sets_lineitem": (grouping_sets_lineitem, GROUPING_SETS_SQL),
    "percentiles_by_flag": (percentiles_by_flag, PERCENTILES_SQL),
    "q17_small_qty_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "session_windows_events": (session_windows_events, SESSION_WINDOW_SQL),
    "salted_event_counts": (salted_event_counts, SALTED_AGG_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_revenue_orders": (q3_top_revenue_orders, Q3_SQL),
    "q5_nation_revenue": (q5_nation_revenue, Q5_SQL),
    "window_top_orders": (window_top_orders_per_customer, WINDOW_SQL),
    "rollup_lineitem": (rollup_lineitem, ROLLUP_SQL),
    "anti_join_unordered_parts": (anti_join_unordered_parts, ANTI_SQL),
    "semi_join_active_customers": (semi_join_active_customers, SEMI_SQL),
    "distinct_agg_parts": (distinct_agg_parts_per_flag, DISTINCT_AGG_SQL),
    "events_daily_windows": (events_daily_windows, EVENTS_WINDOW_SQL),
    "events_json_props": (events_json_props, EVENTS_JSON_SQL),
    "events_variant_stats": (events_variant_stats, EVENTS_VARIANT_SQL),
    "interpolate_daily_purchases": (interpolate_daily_purchases, INTERPOLATE_SQL),
    "window_rank_metrics": (window_rank_metrics, WINDOW_RANK_SQL),
    # Sketch queries, upgraded from rows-only: the raw estimates are
    # engine-specific, but each now reports exact values + a
    # within-tolerance verdict the oracle asserts as ``true`` — a broken
    # sketch pipeline flips the hash (round-2 verdict item 5).
    "approx_distinct_parts": (approx_distinct_parts, APPROX_DISTINCT_SQL),
    "approx_percentile_values": (approx_percentile_values, APPROX_PCT_SQL),
    "hll_users_daily": (hll_users_daily, HLL_DAILY_SQL),
}
