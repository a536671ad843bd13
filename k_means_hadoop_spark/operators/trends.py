"""Time-series and window-analytics operators (beyond-reference —
SURVEY.md §2.9): TPC-H Q11 shape, gaps-and-islands streaks, window
distribution functions, month-over-month change, autocorrelation and
the Ljung-Box portmanteau test, classical seasonal decomposition, Haar
wavelet energies, Theil-Sen robust trend, the Mann-Kendall and Page
trend tests, permutation entropy, multi-touch attribution, a zone-map
pruning audit, Apriori-style frequent triples and Hilbert vs Z-order
locality.  The complete-blocks guard shared by the within-block rank
tests (Page here, Friedman in ``stats_extra``) lives here too.

Cross-engine determinism conventions (same as operators/analytics.py):
- counts/sums stay in exact integer/decimal space as long as possible;
- every surviving double is produced by ONE division (or an identical
  literal expression tree) of exact operands, then stabilized with the
  engine-identical floor(x*1e6 + 0.5)/1e6 form (round(x, 6) breaks
  ties differently across engines on exact 6dp halves);
- orderings used by window functions are total (tie-broken by keys).

Scale notes per query are in the docstrings; none of these plans joins
two corpus-sized relations on a non-key, and every group-by reduces to
day/user/part-level cardinality before any wide output.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.zorder import interleave_bits, interleave_bits_sql
from k_means_hadoop_spark.operators.relational import _d38, _dec, _t
from k_means_hadoop_spark.partitioning import ntile_expr, prefix_sum_literal_bounds, scan_parts

# engine-identical 6dp stabilization (see module docstring)
_FL6_SQL = "floor(({x}) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE)"


def _fl6(c: F.Column) -> F.Column:
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _fl6_py(x: float) -> float:
    """``_FL6_SQL`` for a Python float (worker kernels)."""
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


# --------------------------------------------- TPC-H Q11 shape
#
# "Important parts": per-part revenue vs a threshold derived from a
# scalar subquery over the whole relation (Q11's HAVING-share shape;
# the driver schema has no partsupp, so revenue stands in for stock
# value).  The threshold is scale-free — share > 1.5x the mean share
# (the fixture's revenue-per-part spread tops out ~1.9x, so 1.5x
# selects a stable ~1% tail at every sf).  The comparison stays in
# exact decimal space (value * n_parts * 2 > total * 3); only the
# reported share is a double.


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, part_value, share_bp) for parts whose revenue share
    exceeds 1.5x the mean share.  One corpus pass (partial-agg to
    part grain), a broadcast of the one-row total, and an exact
    decimal filter — Q11's plan shape without a second scan."""
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    )
    val = li.groupBy("l_partkey").agg(F.sum(rev).alias("value"))
    tot = val.agg(
        F.sum("value").alias("total"), F.count(F.lit(1)).alias("n_parts")
    )
    share = (
        F.col("value").cast("double")
        * F.lit(10000.0)
        / F.col("total").cast("double")
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value") * F.col("n_parts") * F.lit(2)
            > F.col("total") * F.lit(3)
        )
        .select(
            "l_partkey",
            F.col("value").cast("double").alias("part_value"),
            _fl6(share).alias("share_bp"),
        )
    )


Q11_SQL = """
WITH val AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS value
  FROM lineitem GROUP BY 1),
tot AS (SELECT SUM(value) AS total, count(*)::BIGINT AS n_parts FROM val)
SELECT l_partkey,
       CAST(value AS DOUBLE) AS part_value,
       {share} AS share_bp
FROM val CROSS JOIN tot
WHERE value * n_parts * 2 > total * 3
""".format(
    share=_FL6_SQL.format(
        x="CAST(value AS DOUBLE) * CAST(10000 AS DOUBLE) / CAST(total AS DOUBLE)"
    )
)


# --------------------------------------------- gaps and islands


def streaks_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, longest_streak, active_days, n_streaks) — longest run
    of consecutive active days per user, the classic gaps-and-islands
    plan: island key = day - row_number() is constant within a run.
    Shuffles: one distinct, one user-partitioned window, two user-grain
    aggs — all on the user key, so a 1000-executor run co-partitions
    every stage after the first exchange."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = daily.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    st = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return st.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


STREAKS_SQL = """
WITH daily AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
isl AS (SELECT user_id, day,
        day - (row_number() OVER (PARTITION BY user_id ORDER BY day))::INT AS island
        FROM daily),
st AS (SELECT user_id, island, count(*)::BIGINT AS len FROM isl GROUP BY 1, 2)
SELECT user_id, max(len)::BIGINT AS longest_streak,
       sum(len)::BIGINT AS active_days, count(*)::BIGINT AS n_streaks
FROM st GROUP BY 1
"""


# --------------------------------------------- window distribution fns


def window_percentiles_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, c_nationkey, pct_rank, cume, decile) — percent_rank /
    cume_dist / ntile over a TOTAL order (acctbal tie-broken by key),
    so both ratios are exact rationals (rn-1)/(n-1) and rn/n; the 6dp
    floor-stabilization guards the reachable 6dp-half ties (n-1 can
    carry a 2^7 factor).  Single nation-partitioned window — no global
    sort."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        _fl6(F.percent_rank().over(w)).alias("pct_rank"),
        _fl6(F.cume_dist().over(w)).alias("cume"),
        F.ntile(10).over(w).cast("int").alias("decile"),
    )


WINDOW_PCT_SQL = """
SELECT c_custkey, c_nationkey,
       {pr} AS pct_rank,
       {cd} AS cume,
       (ntile(10) OVER w)::INT AS decile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""".format(
    pr=_FL6_SQL.format(x="percent_rank() OVER w"),
    cd=_FL6_SQL.format(x="cume_dist() OVER w"),
)


# --------------------------------------------- autocorrelation
#
# ACF of the daily event-count series at lags 1..7, computed entirely
# in exact integer space: with N = days, T = Σx, Q = Σx², and per-lag
# pair sums (sxy, s1, s2, n_pairs), the standard estimator
#   r_L = Σ(x_t-μ)(x_{t-L}-μ) / Σ(x_t-μ)²
# multiplies through by N² to
#   num = N²·sxy - T·N·(s1+s2) + n_pairs·T²
#   den = N²·Q - N·T²
# — exact DECIMAL(38,0) on both engines; ONE double division survives.

_ACF_MAX_LAG = 7


def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lag, n_pairs, acf) for lags 1..7 over the daily event-count
    series.  The series is day-grain (tiny — one partial agg over the
    corpus); the lag join and the final agg are day-sized, so corpus
    scale only affects the first aggregation.

    Round 13 (verdict item 4, shrinking the global-window allowlist):
    the lag pairing joins on CALENDAR arithmetic —
    ``date_sub(a.day, lag) == b.day`` — instead of a row index from an
    unpartitioned ``row_number`` window, so no all-to-one sort exists
    anywhere in the plan.  On a gapless series the two forms are
    row-identical (rn(a) − rn(b) == lag ⟺ datediff(a.day, b.day) ==
    lag), and the events fixture is gapless at every shipped SF
    (pinned by tests/test_advice_fixes_r7.py::
    test_events_daily_series_gapless).  The DuckDB oracle keeps the rn
    form — equal under the same pin.  For sparse sources the calendar
    form is also the semantically correct one (the r6-ADVICE caveat
    about gaps aliasing as lag-1 neighbors disappears)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    g = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    a = daily.select(F.col("day"), F.col("x").alias("xt")).withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG)))
    )
    b = daily.select(F.col("day").alias("dayb"), F.col("x").alias("xl"))
    pairs = a.join(b, F.date_sub(a.day, a.lag) == b.dayb)
    per = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("xt") * F.col("xl")).alias("sxy"),
        F.sum("xt").alias("s1"),
        F.sum("xl").alias("s2"),
    )

    j = per.crossJoin(F.broadcast(g))
    num = (
        _d38("n") * _d38("n") * _d38("sxy")
        - _d38("t") * _d38("n") * (_d38("s1") + _d38("s2"))
        + _d38("n_pairs") * _d38("t") * _d38("t")
    )
    den = _d38("n") * _d38("n") * _d38("q") - _d38("n") * _d38("t") * _d38("t")
    return j.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        _fl6(num.cast("double") / den.cast("double")).alias("acf"),
    )


ACF_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x FROM events GROUP BY 1),
d AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS t, sum(x * x)::BIGINT AS q FROM d),
pairs AS (SELECT l.lag, a.x AS xt, b.x AS xl
          FROM d a CROSS JOIN generate_series(1, {maxlag}) l(lag)
          JOIN d b ON b.rn = a.rn - l.lag),
per AS (SELECT lag, count(*)::BIGINT AS n_pairs, sum(xt * xl)::BIGINT AS sxy,
               sum(xt)::BIGINT AS s1, sum(xl)::BIGINT AS s2
        FROM pairs GROUP BY 1)
SELECT lag::INT AS lag, n_pairs,
       {acf} AS acf
FROM per CROSS JOIN g
""".format(
    maxlag=_ACF_MAX_LAG,
    acf=_FL6_SQL.format(
        x="CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))"
        " - CAST(t AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * (CAST(s1 AS DECIMAL(38,0)) + CAST(s2 AS DECIMAL(38,0)))"
        " + CAST(n_pairs AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) AS DOUBLE)"
        " / CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))"
        " - CAST(n AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) AS DOUBLE)"
    ),
)


# --------------------------------------------- seasonal decomposition
#
# Classical additive decomposition of the daily purchase-count series:
# trend = centered 7-day moving average (only where the window holds 7
# CONSECUTIVE days), seasonal = per-day-of-week mean of the detrended
# series, residual = the rest.  All three are single divisions of
# exact integers: detrended*7 = 7x - sum7 is an integer, so
#   trend    = sum7 / 7
#   seasonal = S_dow / (7*K_dow)
#   residual = (K_dow*(7x - sum7) - S_dow) / (7*K_dow).
# Day-of-week is the portable (day - DATE '2024-01-01') % 7 — Spark's
# dayofweek() and DuckDB's dayofweek() disagree on week start.


def seasonal_decompose_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, x, dow, trend, seasonal, residual) for days with a full
    centered 7-day window.  Day-grain throughout after one corpus
    partial-agg; the single unpartitioned window runs over ~365 rows
    per year of data — never corpus-sized."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(w7).alias("cnt7"),
        F.sum("x").over(w7).alias("sum7"),
        F.min("day").over(w7).alias("d0"),
        F.max("day").over(w7).alias("d1"),
    )
    valid = t.filter(
        (F.col("cnt7") == 7) & (F.datediff(F.col("d1"), F.col("d0")) == 6)
    ).withColumn(
        "dow",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) % 7,
    )
    det = valid.withColumn("det7", F.lit(7) * F.col("x") - F.col("sum7"))
    s = det.groupBy("dow").agg(
        F.sum("det7").alias("sdow"), F.count(F.lit(1)).alias("kdow")
    )
    den = (F.lit(7) * F.col("kdow")).cast("double")
    res_num = (
        F.col("kdow") * (F.lit(7) * F.col("x") - F.col("sum7")) - F.col("sdow")
    ).cast("double")
    return det.join(F.broadcast(s), "dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("bigint").alias("x"),
        F.col("dow").cast("int").alias("dow"),
        _fl6(F.col("sum7").cast("double") / F.lit(7.0)).alias("trend"),
        _fl6(F.col("sdow").cast("double") / den).alias("seasonal"),
        _fl6(res_num / den).alias("residual"),
    )


SEASONAL_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
t AS (SELECT day, x,
        count(*) OVER w7 AS cnt7, sum(x) OVER w7 AS sum7,
        min(day) OVER w7 AS d0, max(day) OVER w7 AS d1
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
valid AS (SELECT day, x, sum7, (day - DATE '2024-01-01') % 7 AS dow
          FROM t WHERE cnt7 = 7 AND d1 - d0 = 6),
det AS (SELECT *, 7 * x - sum7 AS det7 FROM valid),
s AS (SELECT dow, sum(det7)::BIGINT AS sdow, count(*)::BIGINT AS kdow
      FROM det GROUP BY 1)
SELECT strftime(det.day, '%Y-%m-%d') AS day, det.x::BIGINT AS x, det.dow::INT AS dow,
       {trend} AS trend,
       {seasonal} AS seasonal,
       {residual} AS residual
FROM det JOIN s ON s.dow = det.dow
""".format(
    trend=_FL6_SQL.format(x="CAST(sum7 AS DOUBLE) / CAST(7 AS DOUBLE)"),
    seasonal=_FL6_SQL.format(
        x="CAST(sdow AS DOUBLE) / CAST(7 * kdow AS DOUBLE)"
    ),
    residual=_FL6_SQL.format(
        x="CAST(kdow * (7 * det.x - sum7) - sdow AS DOUBLE) / CAST(7 * kdow AS DOUBLE)"
    ),
)


# --------------------------------------------- Theil-Sen robust trend
#
# Median of all pairwise slopes of the daily event-count series — the
# breakdown-point-0.29 alternative to OLS (Theil 1950 / Sen 1968).
# Slopes are single divisions of exact integers; the median is
# positional over the total order (slope, i, j), so both engines pick
# the identical middle elements.  The day series is tiny (k days →
# k(k-1)/2 pairs at day grain), so the quadratic pair join is on the
# REDUCED series, never the corpus.


def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_days, n_pairs, theil_sen_slope, ols_slope): robust
    vs least-squares slope of daily event counts (events/day per day
    of series index)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    d = daily.withColumn("i", F.row_number().over(Window.orderBy("day")))
    a = d.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = d.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    slopes = (
        a.join(b, F.col("ib") > F.col("ia"))
        .select(
            "ia",
            "ib",
            (
                (F.col("xb") - F.col("xa")).cast("double")
                / (F.col("ib") - F.col("ia")).cast("double")
            ).alias("slope"),
        )
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("slope", "ia", "ib"))
        )
    )
    m = slopes.agg(F.count(F.lit(1)).alias("m"))
    med = (
        slopes.crossJoin(F.broadcast(m))
        .filter(
            (F.col("rn") == F.expr("(m + 1) DIV 2"))
            | (F.col("rn") == F.expr("(m + 2) DIV 2"))
        )
        .agg(F.avg("slope").alias("ts_slope"))
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").alias("si"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("i")).alias("sii"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    ols = (
        (F.col("n") * F.col("six") - F.col("si") * F.col("sx")).cast("double")
        / (F.col("n") * F.col("sii") - F.col("si") * F.col("si")).cast("double")
    )
    return (
        g.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("m").cast("bigint").alias("n_pairs"),
            _fl6(F.col("ts_slope")).alias("theil_sen_slope"),
            _fl6(ols).alias("ols_slope"),
        )
    )


THEIL_SEN_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x FROM events GROUP BY 1),
d AS (SELECT x, row_number() OVER (ORDER BY day) AS i FROM daily),
slopes AS (SELECT a.i AS ia, b.i AS ib,
                  CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope
           FROM d a JOIN d b ON b.i > a.i),
r AS (SELECT slope, row_number() OVER (ORDER BY slope, ia, ib) AS rn FROM slopes),
m AS (SELECT count(*)::BIGINT AS m FROM slopes),
med AS (SELECT avg(slope) AS ts_slope FROM r CROSS JOIN m
        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2),
g AS (SELECT count(*)::BIGINT AS n, sum(i)::BIGINT AS si, sum(x)::BIGINT AS sx,
             sum(i * i)::BIGINT AS sii, sum(i * x)::BIGINT AS six
      FROM d)
SELECT n AS n_days, m AS n_pairs,
       {ts} AS theil_sen_slope,
       {ols} AS ols_slope
FROM g CROSS JOIN m CROSS JOIN med
""".format(
    ts=_FL6_SQL.format(x="ts_slope"),
    ols=_FL6_SQL.format(
        x="CAST(n * six - si * sx AS DOUBLE) / CAST(n * sii - si * si AS DOUBLE)"
    ),
)


# --------------------------------------------- multi-touch attribution

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, in microseconds


def attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(model, touch, revenue, n_purchases) — purchase revenue credited
    under two attribution models: 'first_touch' (the session's opening
    event type) and 'last_touch' (the event immediately preceding the
    purchase; 'direct' if the purchase opens its session).  Sessions =
    30-min inactivity gaps per user (same semantics as
    sessionize_by_gap).  Revenue stays DECIMAL until the final cast.
    Everything after the one user-partitioned window is touch-grain."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).withColumn("us", F.unix_micros("ts"))
    s = s.withColumn("prev_us", F.lag("us").over(wu)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") > _SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = s.withColumn(
        "sess",
        F.sum("new_sess").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    s = s.withColumn("first_et", F.first("event_type").over(ws)).withColumn(
        "prev_et", F.lag("event_type").over(ws)
    )
    pur = s.filter(F.col("event_type") == "purchase")
    first = pur.groupBy(F.col("first_et").alias("touch")).agg(
        F.sum(_dec("value")).alias("rev"), F.count(F.lit(1)).alias("np")
    ).select(F.lit("first_touch").alias("model"), "touch", "rev", "np")
    last = pur.groupBy(
        F.coalesce(F.col("prev_et"), F.lit("direct")).alias("touch")
    ).agg(
        F.sum(_dec("value")).alias("rev"), F.count(F.lit(1)).alias("np")
    ).select(F.lit("last_touch").alias("model"), "touch", "rev", "np")
    return first.unionByName(last).select(
        "model",
        "touch",
        F.col("rev").cast("double").alias("revenue"),
        F.col("np").cast("bigint").alias("n_purchases"),
    )


ATTRIBUTION_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type, value,
         epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER wu AS prev_us
  FROM events
  WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id)),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > {gap}
                 THEN 1 ELSE 0 END AS new_sess
  FROM s),
sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged),
touched AS (
  SELECT *, first_value(event_type) OVER ws AS first_et,
         lag(event_type) OVER ws AS prev_et
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sess ORDER BY ts, event_id)),
pur AS (SELECT * FROM touched WHERE event_type = 'purchase')
SELECT 'first_touch' AS model, first_et AS touch,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*)::BIGINT AS n_purchases
FROM pur GROUP BY 1, 2
UNION ALL
SELECT 'last_touch' AS model, coalesce(prev_et, 'direct') AS touch,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*)::BIGINT AS n_purchases
FROM pur GROUP BY 1, 2
""".format(gap=_SESSION_GAP_US)


# --------------------------------------------- zone-map pruning audit
#
# Models the file-skipping win of a sort-ordered layout: the same
# lineitem rows are assigned to 64 "files" two ways — hash layout
# (l_orderkey % 64, the default write pattern) and sort layout
# (ntile(64) over l_shipdate) — then per-file min/max zone maps are
# checked against a 6-month shipdate predicate.  At 100 TB this is the
# difference between scanning every file and scanning ~1/12 of them;
# the audit quantifies it from the data itself.  (A production audit
# reads parquet footer stats; the ntile here MODELS the sorted layout
# so the query stays self-contained.)

_ZM_FILES = 64
_ZM_LO = "1997-01-01"
_ZM_HI = "1997-07-01"


def zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(layout, n_files, files_pruned, rows_total, rows_scanned,
    rows_matched) for hash vs shipdate-sorted layouts under the
    predicate l_shipdate in [{lo}, {hi})."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    lo = F.lit(_ZM_LO).cast("timestamp")
    hi = F.lit(_ZM_HI).cast("timestamp")
    hashed = li.select(
        F.lit("hash").alias("layout"),
        (F.col("l_orderkey") % _ZM_FILES).alias("file_id"),
        "l_shipdate",
    )
    # the sorted-layout file assignment is a GLOBAL ntile over the raw
    # fact table — the one place this query must totally order lineitem.
    # A window ntile would collapse every row into ONE task; the
    # range-partitioned prefix count + closed-form ntile (the
    # rfm_segments treatment, round-9) keeps the sort parallel.
    # fact-grain input: size the range shuffle from the scan's split
    # count (grows with the data; floors at the measured-best 8
    # locally) so no slice outgrows an executor.  This is the ONE
    # promoted call site of the recompute-safe literal-bounds variant
    # (round-10 verdict item 6): fact-grain input is exactly where
    # prefix_sum's localCheckpoint storage cost and fault-tolerance
    # caveat bind, the measured cost is a local tie (see
    # partitioning.py), and the result is boundary-invariant — pinned
    # hash-identical at all three SFs.
    ranked = prefix_sum_literal_bounds(
        li.withColumn("_one", F.lit(1)),
        "_one",
        [("l_shipdate", True), ("l_orderkey", True), ("l_linenumber", True)],
        out_col="_rn",
        num_parts=scan_parts(li),
    )
    n_df = ranked.agg(F.count(F.lit(1)).alias("_n"))
    sorted_ = ranked.crossJoin(F.broadcast(n_df)).select(
        F.lit("sorted").alias("layout"),
        (F.expr(ntile_expr("_rn", "_n", _ZM_FILES)) - 1)
        .cast("bigint")
        .alias("file_id"),
        "l_shipdate",
    )
    match = F.when((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi), 1).otherwise(0)
    zones = (
        hashed.unionByName(sorted_)
        .groupBy("layout", "file_id")
        .agg(
            F.min("l_shipdate").alias("zmin"),
            F.max("l_shipdate").alias("zmax"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(match).alias("n_match"),
        )
    )
    pruned = (F.col("zmax") < lo) | (F.col("zmin") >= hi)
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(pruned.cast("int")).cast("bigint").alias("files_pruned"),
        F.sum("n_rows").cast("bigint").alias("rows_total"),
        F.sum(F.when(~pruned, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("n_match").cast("bigint").alias("rows_matched"),
    )


zonemap_prune_audit.__doc__ = zonemap_prune_audit.__doc__.format(
    lo=_ZM_LO, hi=_ZM_HI
)

ZONEMAP_SQL = """
WITH li AS (SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem),
assigned AS (
  SELECT 'hash' AS layout, l_orderkey % {nf} AS file_id, l_shipdate FROM li
  UNION ALL
  SELECT 'sorted' AS layout,
         (ntile({nf}) OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) - 1)::BIGINT,
         l_shipdate
  FROM li),
zones AS (
  SELECT layout, file_id, min(l_shipdate) AS zmin, max(l_shipdate) AS zmax,
         count(*)::BIGINT AS n_rows,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '{lo}'
                   AND l_shipdate < TIMESTAMP '{hi}' THEN 1 ELSE 0 END)::BIGINT AS n_match
  FROM assigned GROUP BY 1, 2)
SELECT layout, count(*)::BIGINT AS n_files,
       sum(CASE WHEN zmax < TIMESTAMP '{lo}' OR zmin >= TIMESTAMP '{hi}'
                THEN 1 ELSE 0 END)::BIGINT AS files_pruned,
       sum(n_rows)::BIGINT AS rows_total,
       sum(CASE WHEN zmax < TIMESTAMP '{lo}' OR zmin >= TIMESTAMP '{hi}'
                THEN 0 ELSE n_rows END)::BIGINT AS rows_scanned,
       sum(n_match)::BIGINT AS rows_matched
FROM zones GROUP BY 1
""".format(nf=_ZM_FILES, lo=_ZM_LO, hi=_ZM_HI)


# --------------------------------------------- frequent triples

_TRIPLES_TOP_K = 20


def market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p1, p2, p3, support) — top-{k} most frequent part TRIPLES
    co-occurring in an order (the 3-itemset step of Apriori;
    market_basket_pairs is the 2-itemset step).  Per-order expansion
    is O(Σ C(basket,3)); TPC-H baskets are ≤7 lines, so the explode is
    linear in orders — no threshold tuning needed because the output
    is a deterministic top-k, not a support cut."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    i1 = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    i2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2"))
    i3 = li.select(F.col("l_orderkey").alias("o3"), F.col("l_partkey").alias("p3"))
    triples = (
        i1.join(i2, (F.col("o") == F.col("o2")) & (F.col("p1") < F.col("p2")))
        .join(i3, (F.col("o") == F.col("o3")) & (F.col("p2") < F.col("p3")))
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    w = Window.orderBy(
        F.col("support").desc(), F.col("p1"), F.col("p2"), F.col("p3")
    )
    return (
        triples.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TRIPLES_TOP_K)
        .drop("rn")
    )


market_basket_triples.__doc__ = market_basket_triples.__doc__.format(
    k=_TRIPLES_TOP_K
)

TRIPLES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
triples AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
         count(*)::BIGINT AS support
  FROM li a
  JOIN li b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
  JOIN li c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
  GROUP BY 1, 2, 3)
SELECT p1, p2, p3, support FROM triples
ORDER BY support DESC, p1, p2, p3
LIMIT {k}
""".format(k=_TRIPLES_TOP_K)


# --------------------------------------------- Hilbert curve locality
#
# The Hilbert space-filling curve as the layout alternative to Z-order
# (zorder_events_curve): same multi-dimensional file-skipping idea, but
# consecutive keys are always grid-adjacent, so range scans touch
# fewer, tighter rectangles.  xy2d is the standard mask-descent
# algorithm (rx/ry quadrant bits, d += s²·((3rx)⊕ry), reflect+swap
# rotation) — pure integer arithmetic, unrolled over 8 bit levels as a
# column chain, bit-identical in DuckDB by construction.  The query
# PROVES the locality claim on data: total Manhattan jump between
# key-consecutive points, Hilbert vs Z-order (Hilbert's every step on
# a dense grid is distance 1; Z-order takes 2^k-sized jumps at
# quadrant seams).

_HILBERT_BITS = 8
_HILBERT_N = 1 << _HILBERT_BITS


def _hilbert_steps() -> list[tuple[int, dict[str, str]]]:
    """Per-level expression templates over state columns (hx, hy, hd)
    — the SAME text drives Spark (withColumn chain) and DuckDB
    (chained CTEs); all-integer math, so parity is exact."""
    steps = []
    s = _HILBERT_N // 2
    while s > 0:
        steps.append(
            (
                s,
                {
                    "rx": f"CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END",
                    "ry": f"CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END",
                    # (3·rx) XOR ry == 3rx + ry - 2·rx·ry for bits
                    "nd": f"hd + {s * s} * (3 * rx + ry - 2 * rx * ry)",
                    "nx": (
                        "CASE WHEN ry = 0 THEN (CASE WHEN rx = 1"
                        f" THEN {_HILBERT_N - 1} - hy ELSE hy END)"
                        " ELSE hx END"
                    ),
                    "ny": (
                        "CASE WHEN ry = 0 THEN (CASE WHEN rx = 1"
                        f" THEN {_HILBERT_N - 1} - hx ELSE hx END)"
                        " ELSE hy END"
                    ),
                },
            )
        )
        s //= 2
    return steps


def _hilbert_key(df: DataFrame) -> DataFrame:
    """Append hkey computed from int columns x, y in [0, 256)."""
    d = df.withColumn("hx", F.col("x")).withColumn("hy", F.col("y")).withColumn(
        "hd", F.lit(0).cast("bigint")
    )
    for _s, ex in _hilbert_steps():
        d = (
            d.withColumn("rx", F.expr(ex["rx"]))
            .withColumn("ry", F.expr(ex["ry"]))
            .withColumn("hd", F.expr(ex["nd"]))
            .withColumn("nx", F.expr(ex["nx"]))
            .withColumn("ny", F.expr(ex["ny"]))
            .drop("hx", "hy")
            .withColumnRenamed("nx", "hx")
            .withColumnRenamed("ny", "hy")
            .drop("rx", "ry")
        )
    return d.withColumnRenamed("hd", "hkey").drop("hx", "hy")


def hilbert_vs_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(curve, n_points, total_jump, max_jump, avg_jump) — Manhattan
    distance between key-consecutive points for the Hilbert vs Z-order
    layouts of the distinct (part mod 256, order mod 256) point set.
    The curve keys are a pure per-row map; the comparison is one lag
    window per curve over the (bounded, <= 65536-row) distinct point
    set."""
    li = _t(spark, sf_dir, "lineitem")
    pts = (
        li.select(
            (F.col("l_partkey") % _HILBERT_N).cast("int").alias("x"),
            (F.col("l_orderkey") % _HILBERT_N).cast("int").alias("y"),
        )
        .distinct()
    )
    h = _hilbert_key(pts).select("x", "y", F.col("hkey").alias("key"))
    z = pts.select(
        "x",
        "y",
        interleave_bits(F.col("x"), F.col("y"), _HILBERT_BITS).alias("key"),
    )

    def jumps(df: DataFrame, name: str) -> DataFrame:
        w = Window.orderBy("key")
        j = df.select(
            (
                F.abs(F.col("x") - F.lag("x").over(w))
                + F.abs(F.col("y") - F.lag("y").over(w))
            ).alias("jump")
        ).filter(F.col("jump").isNotNull())
        return j.agg(
            F.lit(name).alias("curve"),
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n_points"),
            F.sum("jump").cast("bigint").alias("total_jump"),
            F.max("jump").cast("bigint").alias("max_jump"),
            _fl6(
                F.sum("jump").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_jump"),
        )

    return jumps(h, "hilbert").unionByName(jumps(z, "zorder"))


def _hilbert_sql() -> str:
    ctes = [
        """pts AS (SELECT DISTINCT (l_partkey % {n})::INT AS x,
                       (l_orderkey % {n})::INT AS y
        FROM lineitem),
l0 AS (SELECT x, y, x AS hx, y AS hy, 0::BIGINT AS hd FROM pts)""".format(
            n=_HILBERT_N
        )
    ]
    prev = "l0"
    for i, (_s, ex) in enumerate(_hilbert_steps(), start=1):
        ctes.append(
            f"""r{i} AS (SELECT *, {ex['rx']} AS rx, {ex['ry']} AS ry FROM {prev}),
l{i} AS (SELECT x, y, {ex['nx']} AS hx, {ex['ny']} AS hy, {ex['nd']} AS hd FROM r{i})"""
        )
        prev = f"l{i}"
    z = interleave_bits_sql("x", "y", _HILBERT_BITS)
    jumps = """
j_{tag} AS (SELECT abs(x - lag(x) OVER (ORDER BY key))
                   + abs(y - lag(y) OVER (ORDER BY key)) AS jump
            FROM k_{tag}),
a_{tag} AS (SELECT '{tag}' AS curve,
              (count(*) + 1)::BIGINT AS n_points,
              sum(jump)::BIGINT AS total_jump,
              max(jump)::BIGINT AS max_jump,
              {avg} AS avg_jump
            FROM j_{tag} WHERE jump IS NOT NULL)"""
    avg = _FL6_SQL.format(
        x="CAST(sum(jump) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f""",
k_hilbert AS (SELECT x, y, hd AS key FROM {prev}),
k_zorder AS (SELECT x, y, {z} AS key FROM pts),"""
        + jumps.format(tag="hilbert", avg=avg)
        + ","
        + jumps.format(tag="zorder", avg=avg)
        + """
SELECT * FROM a_hilbert UNION ALL SELECT * FROM a_zorder"""
    )


# --------------------------------------------------- month-over-month
#
# Revenue MoM growth — the reporting-layer classic.  Monthly sums are
# exact decimals; the pct change spends one division per month and a
# months-sized lag window (global ordering over a YEARS-sized series —
# the one place a single-partition window is the RIGHT plan).


def mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, revenue, mom_pct) — months after the first."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    r = m.withColumn("prev", F.lag("revenue").over(w)).filter(
        F.col("prev").isNotNull()
    )
    pct = (
        "(CAST(revenue AS DOUBLE) - CAST(prev AS DOUBLE)) / CAST(prev AS DOUBLE)"
    )
    return r.select(
        "month",
        F.col("revenue").cast("double").alias("revenue"),
        _fl6(F.expr(pct)).alias("mom_pct"),
    )


MOM_SQL = """
WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue
           FROM orders GROUP BY 1),
r AS (SELECT month, revenue, lag(revenue) OVER (ORDER BY month) AS prev FROM m)
SELECT month, CAST(revenue AS DOUBLE) AS revenue, {pct} AS mom_pct
FROM r WHERE prev IS NOT NULL
""".format(
    pct=_FL6_SQL.format(
        x="(CAST(revenue AS DOUBLE) - CAST(prev AS DOUBLE)) / CAST(prev AS DOUBLE)"
    )
)


# --------------------------------------------- Haar wavelet energies
#
# Multi-resolution decomposition of the daily event-count series with
# the unnormalized Haar transform — approx a+b / detail a−b stay EXACT
# integers at every level, so the per-level detail energies are exact;
# normalization divides by 2^level at the very end (a power of two —
# lossless in binary).  The level-by-level pairing runs on the
# day-grain series (corpus touches only the first daily aggregate), L
# is fixed by the fixture's 30-day window: n = 16, L = 4.

_HAAR_N = 16
_HAAR_L = 4


def haar_wavelet_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(level, n_coeffs, energy_raw, energy_norm) for detail levels
    1..4 over the first 16 days of the daily event-count series, plus
    level 0 = the final approximation coefficient."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("day")
    cur = (
        daily.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _HAAR_N)
        .select((F.col("rn") - 1).alias("i"), F.col("x").cast("bigint").alias("v"))
    )
    n_days = cur.count()
    # ValueError, not assert: under ``python -O`` an assert vanishes and
    # a short-span fixture would silently pair an odd-length series
    # (null a/b sums) — and the DuckDB oracle has no guard at all, so
    # this is the only gate (fixture span pinned in
    # tests/test_advice_fixes_r8.py).
    if n_days != _HAAR_N:
        raise ValueError(
            f"haar_wavelet_daily: fixture day span changed ({n_days} != "
            f"{_HAAR_N} usable days); regenerate _HAAR_N/_HAAR_L and the oracle"
        )
    out = []
    for level in range(1, _HAAR_L + 1):
        paired = cur.groupBy((F.col("i") / 2).cast("bigint").alias("i")).agg(
            F.sum(F.when(F.col("i") % 2 == 0, F.col("v"))).alias("a"),
            F.sum(F.when(F.col("i") % 2 == 1, F.col("v"))).alias("b"),
        )
        details = paired.select(
            (F.col("a") - F.col("b")).alias("d")
        )
        e = details.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
            F.sum(F.col("d") * F.col("d")).cast("decimal(38,0)").alias("energy_raw"),
        ).select(
            F.lit(level).cast("int").alias("level"),
            "n_coeffs",
            F.col("energy_raw").cast("bigint").alias("energy_raw"),
            (
                F.col("energy_raw").cast("double") / F.lit(float(2**level))
            ).alias("energy_norm"),
        )
        out.append(e)
        cur = paired.select("i", (F.col("a") + F.col("b")).alias("v"))
    approx = cur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("energy_raw"),
    ).select(
        F.lit(0).cast("int").alias("level"),
        "n_coeffs",
        F.col("energy_raw").cast("bigint").alias("energy_raw"),
        (
            F.col("energy_raw").cast("double") / F.lit(float(2**_HAAR_L))
        ).alias("energy_norm"),
    )
    res = out[0]
    for e in out[1:]:
        res = res.unionByName(e)
    return res.unionByName(approx)


def _haar_sql() -> str:
    lvls = []
    prev = "l0"
    parts = [
        f"""daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
          FROM events GROUP BY 1),
l0 AS (SELECT (row_number() OVER (ORDER BY day) - 1)::BIGINT AS i, x::BIGINT AS v
       FROM daily QUALIFY row_number() OVER (ORDER BY day) <= {_HAAR_N})"""
    ]
    for level in range(1, _HAAR_L + 1):
        cur = f"l{level}"
        parts.append(
            f"""{cur} AS (SELECT i // 2 AS i,
             SUM(CASE WHEN i % 2 = 0 THEN v END) AS a,
             SUM(CASE WHEN i % 2 = 1 THEN v END) AS b
      FROM {prev} GROUP BY 1)"""
        )
        lvls.append(
            f"""SELECT {level}::INT AS level, count(*)::BIGINT AS n_coeffs,
       SUM((a - b) * (a - b))::BIGINT AS energy_raw,
       CAST(SUM((a - b) * (a - b)) AS DOUBLE) / {float(2 ** level)} AS energy_norm
FROM {cur}"""
        )
        prev = f"l{level}s"
        parts.append(f"{prev} AS (SELECT i, a + b AS v FROM {cur})")
    lvls.append(
        f"""SELECT 0::INT AS level, count(*)::BIGINT AS n_coeffs,
       SUM(v * v)::BIGINT AS energy_raw,
       CAST(SUM(v * v) AS DOUBLE) / {float(2 ** _HAAR_L)} AS energy_norm
FROM {prev}"""
    )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(lvls)


# --------------------------------------------- complete-blocks guard
#
# Shared by the within-block rank tests: page_trend_event_dow here and
# stats_extra.friedman_event_dow.


def _complete_blocks_guard(cells: DataFrame) -> DataFrame:
    """1-row (gc, gb, gk) aggregate feeding the IN-PLAN complete-blocks
    guard (round-9 verdict item 4: guards are raise_error branches, not
    build-time jobs).  Within-block rank tests (Friedman, Page) assume
    COMPLETE blocks: every (block, treatment) cell present.  A missing
    cell would rank only the present treatments while k stays the
    global count — a statistically invalid statistic that BOTH engines
    would compute identically (parity cannot catch it).  Guard loudly,
    at action time, via ``_complete_blocks_case``."""
    return cells.agg(
        F.count(F.lit(1)).alias("gc"),
        F.countDistinct("b").alias("gb"),
        F.countDistinct("t").alias("gk"),
    )


def _complete_blocks_case(op: str, inner: str) -> str:
    """Wrap ``inner`` (a SQL expression) in the complete-blocks +
    k >= 2 raise_error branches over the ``_complete_blocks_guard``
    columns.  An empty cells table passes the completeness arithmetic
    (0 == 0*0) and fails the k >= 2 branch."""
    return (
        f"CASE WHEN gc != gb * gk THEN raise_error(concat('{op}:"
        " incomplete blocks — ', CAST(gc AS STRING), ' (block,"
        " treatment) cells for ', CAST(gb AS STRING), ' blocks x ',"
        " CAST(gk AS STRING), ' treatments; within-block ranks require"
        " every cell present'))"
        f" WHEN gk < 2 THEN raise_error(concat('{op}: ',"
        " CAST(gk AS STRING), ' treatment(s) — within-block rank"
        " statistics need k >= 2 (the normalizer is k(k+1)- or"
        " (k-1)-scaled)'))"
        f" ELSE {inner} END"
    )


# --------------------------------------------- Page's trend test
#
# Page's L for ordered alternatives — Friedman's directional sibling:
# is event volume MONOTONE across treatments (in the hypothesized
# order) within every weekday block?  The hypothesized ordering here
# is lexical event-type order (a deterministic demo ordering; a real
# deployment plugs in its dose/severity order).  Same doubled-rank
# machinery: L2 = Σ j·R2_j stays an exact integer; the standardized z
# spends one division against an IEEE-exact sqrt.  Shares Friedman's
# complete-blocks guard: a missing (block, treatment) cell would rank
# only the present treatments — invalid, and invisible to parity.
#
# Tie calibration (round-10, replacing the round-9 documented no-tie
# caveat): within-block ties get MIDRANKS (the doubled-rank trick keeps
# them exact), and z now standardizes with the midrank tie-corrected
# variance.  Derivation: under H0 each block's L_i = Σ_j j·r_ij pairs
# the fixed sequence j with a random permutation of the block's
# midranks, so Var(L_i) = Sa·Sb/(k−1) with Sa = Σ(j−j̄)² = k(k²−1)/12
# and Sb = Σ(r−r̄)² = [k(k²−1) − T_i]/12, T_i = Σ_g (t³−t) over the
# block's tie groups (the standard midrank sum-of-squares reduction).
# Blocks are independent, so
#
#     Var(L) = k(k+1)·[n·k(k²−1) − ΣT] / 144
#     z      = (12L − 3nk(k+1)²) / sqrt(k(k+1)·(n·k(k²−1) − ΣT))
#
# which collapses to the textbook k(k+1)·sqrt(n(k−1))/12 form when
# ΣT = 0.  ΣT stays an exact integer (tie-group sizes from the same
# cells aggregate); fully-tied blocks make Var(L) = 0 and raise loudly
# via an in-plan guard instead of returning the silent 0/0 NaN.

# vr = n·k(k²−1) − ΣT (144·Var(L) / (k(k+1))): EXACT decimal — the
# narrow casts keep every DuckDB intermediate width ≤ 38 (9+9=18,
# 18+18=36, sub 38; DuckDB errors on widths ABOVE 38, Spark merely
# caps) — so the vr > 0 guard is an exact-integer comparison, and the
# double conversion happens once inside z's division
_PAGE_VR = (
    "CAST(n AS DECIMAL(9,0)) * CAST(k AS DECIMAL(9,0))"
    " * CAST(k * k - 1 AS DECIMAL(18,0)) - tt"
)
_PAGE_Z = (
    "(CAST(6 AS DOUBLE) * CAST(l2 AS DOUBLE)"
    " - CAST(3 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(k AS DOUBLE)"
    "   * CAST(k + 1 AS DOUBLE) * CAST(k + 1 AS DOUBLE))"
    " / sqrt(CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE)"
    "        * CAST(vr AS DOUBLE))"
)


def page_trend_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_blocks, k_treatments, l_stat, z_stat)."""
    ev = _t(spark, sf_dir, "events").select(
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
        ).alias("b"),
        F.col("event_type").alias("t"),
    )
    cells = ev.groupBy("b", "t").agg(F.count(F.lit(1)).alias("v"))
    guard = _complete_blocks_guard(cells)
    l_, r_ = cells.alias("l"), cells.alias("r")
    r2 = (
        l_.join(r_, F.col("l.b") == F.col("r.b"))
        .groupBy(F.col("l.b").alias("b"), F.col("l.t").alias("t"))
        .agg(
            (
                2 * F.sum(F.when(F.col("r.v") < F.col("l.v"), 1).otherwise(0))
                + F.sum(F.when(F.col("r.v") == F.col("l.v"), 1).otherwise(0))
                + 1
            ).alias("r2")
        )
    )
    per_t = r2.groupBy("t").agg(F.sum("r2").alias("r2_sum"))
    # L2 = Σ_t j(t)·r2_sum(t) where j(t) = row_number over ORDER BY t.
    # t is the group key (distinct), so j(t) = |{t' : t' ≤ t}| and the
    # unpartitioned rank window (round-13 verdict item 4: shrink the
    # global-window allowlist) becomes a k×k pair sum:
    #   Σ_t j(t)·r2_sum(t) = Σ_{(x,y): y.t ≤ x.t} r2_sum(x)
    # — exact integers, a broadcast-NL join over the k-grain table
    # (k = distinct treatments), no all-to-one sort anywhere.
    px, py = per_t.alias("px"), per_t.alias("py")
    dims = cells.agg(
        F.countDistinct("b").alias("n"), F.countDistinct("t").alias("k")
    )
    s = (
        px.join(py, F.col("py.t") <= F.col("px.t"))
        .agg(F.sum(F.col("px.r2_sum")).cast("decimal(38,0)").alias("l2"))
    )
    # ΣT = Σ_{(b,v)} (t³ − t): tie-group sizes are treatments sharing a
    # count value within a block — exact integers from the same cells
    tsum = (
        cells.groupBy("b", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            )
            .cast("decimal(38,0)")
            .alias("tt")
        )
    )
    # L = L2/2; z = (12L − 3nk(k+1)²) / sqrt(k(k+1)·(n·k(k²−1) − ΣT)),
    # the midrank tie-corrected variance (see the derivation above);
    # vr (= 144·Var(L)) stays an exact DECIMAL until the one division
    lstat = _FL6_SQL.format(x="CAST(l2 AS DOUBLE) / CAST(2 AS DOUBLE)")
    guarded_z = _complete_blocks_case(
        "page_trend_event_dow",
        "CASE WHEN vr > 0 THEN "
        + _FL6_SQL.format(x=_PAGE_Z)
        + " ELSE raise_error('page_trend_event_dow: every block fully "
        "tied — Var(L) = 0, z is undefined') END",
    )
    return (
        dims.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tsum))
        .crossJoin(F.broadcast(guard))
        .withColumn("vr", F.expr(_PAGE_VR))
        .select(
            F.col("n").cast("int").alias("n_blocks"),
            F.col("k").cast("int").alias("k_treatments"),
            F.expr(lstat).alias("l_stat"),
            F.expr(guarded_z).alias("z_stat"),
        )
    )


PAGE_SQL = """
WITH ev AS (SELECT (ts::DATE - DATE '2024-01-01') % 7 AS b, event_type AS t FROM events),
cells AS (SELECT b, t, count(*)::BIGINT AS v FROM ev GROUP BY 1, 2),
r2 AS (SELECT l.b, l.t,
              (2 * SUM(CASE WHEN r.v < l.v THEN 1 ELSE 0 END)
               + SUM(CASE WHEN r.v = l.v THEN 1 ELSE 0 END) + 1)::BIGINT AS r2
       FROM cells l JOIN cells r ON r.b = l.b
       GROUP BY 1, 2),
per_t AS (SELECT t, SUM(r2)::BIGINT AS r2_sum FROM r2 GROUP BY 1),
jr AS (SELECT t, r2_sum, row_number() OVER (ORDER BY t) AS j FROM per_t),
dims AS (SELECT count(DISTINCT b)::BIGINT AS n, count(DISTINCT t)::BIGINT AS k FROM cells),
s AS (SELECT CAST(SUM(j * r2_sum) AS DECIMAL(38,0)) AS l2 FROM jr),
ties AS (SELECT b, v, count(*)::BIGINT AS t FROM cells GROUP BY 1, 2),
ts AS (SELECT CAST(SUM(t * t * t - t) AS DECIMAL(38,0)) AS tt FROM ties),
g AS (SELECT n, k, l2, {vr} AS vr
      FROM dims CROSS JOIN s CROSS JOIN ts)
SELECT n::INT AS n_blocks, k::INT AS k_treatments,
       {l} AS l_stat,
       {z} AS z_stat
FROM g
""".format(
    vr=_PAGE_VR,
    l=_FL6_SQL.format(x="CAST(l2 AS DOUBLE) / CAST(2 AS DOUBLE)"),
    z=_FL6_SQL.format(x=_PAGE_Z),
)


# --------------------------------------------- Mann-Kendall trend test
#
# The significance companion of theil_sen_daily_trend's slope: is the
# daily event-count series monotonically trending?  S = Σ_{i<j}
# sign(x_j − x_i) over the day-grain series (≤ n(n−1)/2 pairs for 30
# days — never the corpus), tie-corrected variance
# Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the standard
# continuity-corrected z — ALL exact integers until the final division
# against an IEEE-exact sqrt.

_MK_Z = (
    "CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - CAST(1 AS DOUBLE))"
    " / sqrt(CAST(vn AS DOUBLE) / CAST(18 AS DOUBLE))"
    " WHEN s < 0 THEN (CAST(s AS DOUBLE) + CAST(1 AS DOUBLE))"
    " / sqrt(CAST(vn AS DOUBLE) / CAST(18 AS DOUBLE))"
    " ELSE CAST(0 AS DOUBLE) END"
)


def mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_days, s_stat, var18, z_stat)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    # degenerate-input guard — IN-PLAN (raise_error branch on z_stat
    # below, keyed on the n_days column the plan already carries) so
    # building the query runs zero Spark jobs (round-9 verdict item 4);
    # with a single day S has no pairs and Var(S) = 0, so z is 0/0
    d = daily.withColumn("i", F.row_number().over(Window.orderBy("day")))
    a = d.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = d.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("ib") > F.col("ia"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    ties = daily.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
    tsum = ties.agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).alias("tt")
    )
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    j = (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tsum))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("s").cast("bigint").alias("s"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tt")
            )
            .cast("bigint")
            .alias("vn"),
        )
    )
    guarded_z = (
        "CASE WHEN n_days >= 2 THEN "
        + _FL6_SQL.format(x=_MK_Z)
        + " ELSE raise_error('mann_kendall_daily: fewer than 2 distinct "
        "days — S has no pairs and Var(S) = 0, so z is undefined') END"
    )
    return j.select(
        "n_days",
        F.col("s").alias("s_stat"),
        F.col("vn").alias("var18"),
        F.expr(guarded_z).alias("z_stat"),
    )


MANN_KENDALL_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
               FROM events GROUP BY 1),
d AS (SELECT x, row_number() OVER (ORDER BY day) AS i FROM daily),
s AS (SELECT SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)::BIGINT AS s
      FROM d a JOIN d b ON b.i > a.i),
ties AS (SELECT x, count(*)::BIGINT AS t FROM daily GROUP BY 1),
tsum AS (SELECT SUM(t * (t - 1) * (2 * t + 5))::BIGINT AS tt FROM ties),
n AS (SELECT count(*)::BIGINT AS n FROM daily),
j AS (SELECT n.n AS n_days, s.s AS s,
             (n.n * (n.n - 1) * (2 * n.n + 5) - tsum.tt)::BIGINT AS vn
      FROM n CROSS JOIN s CROSS JOIN tsum)
SELECT n_days, s AS s_stat, vn AS var18,
       {z} AS z_stat
FROM j
""".format(z=_FL6_SQL.format(x=_MK_Z))


# --------------------------------------------- Ljung-Box portmanteau
#
# "Is the daily series white noise?" — the portmanteau test over the
# first 7 autocorrelations.  Each ρ_k is the exact rational
# A_k/B (A_k = n²·Σ'x_t·x_{t−k} − n·T·(S1+S2) + (n−k)·T²,
# B = n²·Q − n·T² — all DECIMAL(38,0)); each Q-term
# ρ_k²/(n−k) = A_k²/(B²(n−k)) spends ONE division, is floored to the
# 6dp grid, and the ≤7 terms then SUM EXACTLY as decimals, so the
# cross-lag float-fold problem never arises; Q = n(n+2)·Σ.  Day-grain
# after the first aggregate.

_LB_LAGS = 7


def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_days, n_lags, q_stat)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    d = daily.withColumn("rn", F.row_number().over(Window.orderBy("day")))
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    # degenerate-input guards: a span shorter than the lag depth leaves
    # empty autocorrelation lags (a silently mis-normalized Q both
    # engines would agree on), and a CONSTANT series has B = 0 — every
    # rho_k would divide by zero.  IN-PLAN (raise_error branches on the
    # q_stat output, fed by the g aggregate the final select already
    # carries) so building the query runs zero Spark jobs, like every
    # other guard in this module.
    a = d.select("rn", F.col("x").alias("xt")).withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(_LB_LAGS)))
    )
    b = d.select(F.col("rn").alias("rnb"), F.col("x").alias("xl"))
    pairs = a.join(b, a.rn - a.lag == b.rnb)
    per = pairs.groupBy("lag").agg(
        F.sum(F.col("xt") * F.col("xl")).alias("p"),
        F.sum("xt").alias("s1"),
        F.sum("xl").alias("s2"),
    )

    j = per.crossJoin(F.broadcast(g))
    a_k = (
        _d38("n") * _d38("n") * _d38("p")
        - _d38("n") * _d38("t") * (_d38("s1") + _d38("s2"))
        + (_d38("n") - _d38("lag")) * _d38("t") * _d38("t")
    )
    b_ = _d38("n") * _d38("n") * _d38("q") - _d38("n") * _d38("t") * _d38("t")
    term = _FL6_SQL.format(
        x="CAST(ak * ak AS DOUBLE) / CAST(bb * bb * CAST(n - lag AS DECIMAL(38,0)) AS DOUBLE)"
    )
    # bb = 0 (constant series) must yield NULL here, not an ANSI
    # divide-by-zero, so the plan reaches the guarded final row where
    # raise_error reports the degeneracy with its real message
    t6 = j.select(
        F.col("lag"),
        a_k.alias("ak"),
        b_.alias("bb"),
        F.col("n"),
    ).select(
        F.expr(
            "CASE WHEN bb = 0 THEN CAST(NULL AS DECIMAL(28,6))"
            f" ELSE CAST({term} AS DECIMAL(28,6)) END"
        ).alias("t6")
    )
    ssum = t6.agg(F.sum("t6").alias("s6"))
    qexpr = _FL6_SQL.format(
        x="CAST(n * (n + 2) AS DOUBLE) * CAST(s6 AS DOUBLE)"
    )
    guarded_q = (
        f"CASE WHEN n <= {_LB_LAGS} THEN raise_error(concat("
        f"'ljung_box_daily: ', CAST(n AS STRING), ' distinct days <= "
        f"{_LB_LAGS} lags — every lag needs at least one pair'))"
        " WHEN CAST(n AS DECIMAL(38,0)) * q"
        "      = CAST(t AS DECIMAL(19,0)) * t"
        " THEN raise_error('ljung_box_daily: constant daily series — "
        "the autocorrelation denominator B is zero')"
        f" ELSE {qexpr} END"
    )
    return (
        g.crossJoin(F.broadcast(ssum))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.lit(_LB_LAGS).cast("int").alias("n_lags"),
            F.expr(guarded_q).alias("q_stat"),
        )
    )


LJUNG_BOX_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
               FROM events GROUP BY 1),
d AS (SELECT x, row_number() OVER (ORDER BY day) AS rn FROM daily),
g AS (SELECT count(*)::BIGINT AS n, SUM(x)::BIGINT AS t,
             SUM(x * x)::BIGINT AS q FROM d),
pairs AS (SELECT l.range AS lag, a.x AS xt, b.x AS xl
          FROM range(1, {lags1}) l
          JOIN d a ON a.rn > l.range
          JOIN d b ON b.rn = a.rn - l.range),
per AS (SELECT lag, SUM(xt * xl)::BIGINT AS p, SUM(xt)::BIGINT AS s1,
               SUM(xl)::BIGINT AS s2
        FROM pairs GROUP BY 1),
j AS (SELECT lag,
             (n::DECIMAL(38,0) * n * p - n::DECIMAL(38,0) * t * (s1 + s2)
              + (n - lag)::DECIMAL(38,0) * t * t) AS ak,
             (n::DECIMAL(38,0) * n * q - n::DECIMAL(38,0) * t * t) AS bb,
             n
      FROM per CROSS JOIN g),
t6 AS (SELECT CAST({term} AS DECIMAL(28,6)) AS t6 FROM j),
s AS (SELECT SUM(t6) AS s6 FROM t6)
SELECT g.n AS n_days, {lags}::INT AS n_lags,
       {q} AS q_stat
FROM g CROSS JOIN s
""".format(
    lags=_LB_LAGS,
    lags1=_LB_LAGS + 1,
    term=_FL6_SQL.format(
        x="CAST(ak * ak AS DOUBLE) / CAST(bb * bb * CAST(n - lag AS DECIMAL(38,0)) AS DOUBLE)"
    ),
    q=_FL6_SQL.format(x="CAST(n * (n + 2) AS DOUBLE) * CAST(s6 AS DOUBLE)"),
)


# --------------------------------------------- permutation entropy
#
# Bandt-Pompe ordinal-pattern entropy of the daily event-count series
# (order 3): complexity/irregularity measure next to burstiness and
# the runs test.  Ties break by position (the standard convention:
# the earlier sample counts as smaller), so each length-3 window maps
# to one of 6 patterns via three integer comparisons; the pattern
# histogram is day-grain.  Per-pattern c·ln(c/m) terms are floored to
# the 6dp grid, summed EXACTLY as decimals, and H spends one division
# (the cond_entropy discipline); h_norm divides by ln 6.


def permutation_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_windows, n_patterns, h, h_norm)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    # degenerate-input guard — IN-PLAN so building the query runs zero
    # Spark jobs (round-9 verdict item 4): with < 3 distinct days the
    # order-3 window join is empty, the global aggregate's SUM comes
    # back NULL, and the raise_error branch on h fires at action time
    d = daily.withColumn("rn", F.row_number().over(Window.orderBy("day")))
    a = d.select(F.col("rn"), F.col("x").alias("x1"))
    b = d.select((F.col("rn") - 1).alias("rn"), F.col("x").alias("x2"))
    c = d.select((F.col("rn") - 2).alias("rn"), F.col("x").alias("x3"))
    tri = a.join(b, "rn").join(c, "rn")
    pat = (
        4 * (F.col("x2") >= F.col("x1")).cast("int")
        + 2 * (F.col("x3") >= F.col("x1")).cast("int")
        + (F.col("x3") >= F.col("x2")).cast("int")
    )
    counts = tri.select(pat.alias("pat")).groupBy("pat").agg(
        F.count(F.lit(1)).alias("c")
    )
    m = counts.agg(
        F.sum("c").alias("m"), F.count(F.lit(1)).alias("n_patterns")
    )
    t6 = _FL6_SQL.format(
        x="CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(m AS DOUBLE))"
    )
    s = (
        counts.crossJoin(F.broadcast(m.select("m")))
        .select(F.expr(f"CAST({t6} AS DECIMAL(28,6))").alias("t"))
        .agg(F.sum("t").alias("s6"))
    )
    h = _FL6_SQL.format(x="-CAST(s6 AS DOUBLE) / CAST(m AS DOUBLE)")
    guarded_h = (
        "CASE WHEN m IS NOT NULL THEN " + h + " ELSE raise_error("
        "'permutation_entropy_daily: fewer than 3 distinct days — "
        "no order-3 windows exist, H is undefined') END"
    )
    hn = _FL6_SQL.format(x="h / ln(CAST(6 AS DOUBLE))")
    return (
        m.crossJoin(F.broadcast(s))
        .select(
            F.col("m").cast("bigint").alias("n_windows"),
            F.col("n_patterns").cast("int").alias("n_patterns"),
            F.expr(guarded_h).alias("h"),
        )
        .select("n_windows", "n_patterns", "h", F.expr(hn).alias("h_norm"))
    )


PERM_ENTROPY_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
               FROM events GROUP BY 1),
d AS (SELECT x, row_number() OVER (ORDER BY day) AS rn FROM daily),
tri AS (SELECT a.x AS x1, b.x AS x2, c.x AS x3
        FROM d a JOIN d b ON b.rn = a.rn + 1 JOIN d c ON c.rn = a.rn + 2),
counts AS (SELECT (4 * CASE WHEN x2 >= x1 THEN 1 ELSE 0 END
                   + 2 * CASE WHEN x3 >= x1 THEN 1 ELSE 0 END
                   + CASE WHEN x3 >= x2 THEN 1 ELSE 0 END) AS pat,
                  count(*)::BIGINT AS c
           FROM tri GROUP BY 1),
m AS (SELECT SUM(c)::BIGINT AS m, count(*)::BIGINT AS n_patterns FROM counts),
s AS (SELECT SUM(CAST({t6} AS DECIMAL(28,6))) AS s6
      FROM counts CROSS JOIN m),
hh AS (SELECT m.m, m.n_patterns, {h} AS h FROM m CROSS JOIN s)
SELECT m AS n_windows, n_patterns::INT AS n_patterns, h,
       {hn} AS h_norm
FROM hh
""".format(
    t6=_FL6_SQL.format(
        x="CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(m AS DOUBLE))"
    ),
    h=_FL6_SQL.format(x="-CAST(s6 AS DOUBLE) / CAST(m AS DOUBLE)"),
    hn=_FL6_SQL.format(x="h / ln(CAST(6 AS DOUBLE))"),
)


TRENDS_QUERIES = {
    "q11_important_parts": (q11_important_parts, Q11_SQL),
    "streaks_active_users": (streaks_active_users, STREAKS_SQL),
    "window_percentiles_customers": (
        window_percentiles_customers,
        WINDOW_PCT_SQL,
    ),
    "acf_daily_events": (acf_daily_events, ACF_SQL),
    "seasonal_decompose_weekly": (seasonal_decompose_weekly, SEASONAL_SQL),
    "theil_sen_daily_trend": (theil_sen_daily_trend, THEIL_SEN_SQL),
    "attribution_first_last": (attribution_first_last, ATTRIBUTION_SQL),
    "zonemap_prune_audit": (zonemap_prune_audit, ZONEMAP_SQL),
    "market_basket_triples": (market_basket_triples, TRIPLES_SQL),
    "hilbert_vs_zorder_locality": (
        hilbert_vs_zorder_locality,
        _hilbert_sql(),
    ),
    "mom_revenue_change": (mom_revenue_change, MOM_SQL),
    "haar_wavelet_daily": (haar_wavelet_daily, _haar_sql()),
    "page_trend_event_dow": (page_trend_event_dow, PAGE_SQL),
    "mann_kendall_daily": (mann_kendall_daily, MANN_KENDALL_SQL),
    "ljung_box_daily": (ljung_box_daily, LJUNG_BOX_SQL),
    "permutation_entropy_daily": (
        permutation_entropy_daily,
        PERM_ENTROPY_SQL,
    ),
}
