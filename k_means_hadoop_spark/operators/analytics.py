"""Statistical and graph analytics over the driver fixtures.

Round-4d surface: distributed descriptive statistics (correlation
matrix, OLS regression via normal equations, chi-square independence,
key-skew profiling) and co-purchase graph analytics (triangle counting,
degree distribution, fixed-iteration label propagation) — the kinds of
queries the reference's notebook stage (``SURVEY.md §2.8``, the
post-clustering analysis in ``Kmeans_visualisation.ipynb``) performs
client-side after the MapReduce job, re-expressed as distributed
DataFrame plans with full DuckDB value oracles.

Cross-engine float determinism: every query whose output chains more
than one float operation computes its sums EXACTLY (decimal(18,4)
casts — the fixture's money/ratio columns carry ≤4 decimal places, so
the cast is lossless and the decimal SUM is exact in both engines),
then applies the SAME literal arithmetic text (shared between the
Spark plan and the DuckDB oracle via ``str.format``) to the exact
sums, so both engines execute the identical IEEE-754 op sequence.
Integer-exact queries (triangles, degrees, label propagation,
contingency counts) need no such care.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.operators.relational import _dec, _t
from k_means_hadoop_spark.partitioning import truncate_lineage

# ------------------------------------------------------------------ helpers


def _dec14(c: str) -> F.Column:
    # product operands: 14+14 digits keeps the pairwise product inside
    # DuckDB's 38-digit multiply; fixture values are < 1e10 with ≤4dp,
    # so the narrower cast is still lossless
    return F.col(c).cast("decimal(14,4)")


# ------------------------------------------------- correlation matrix
#
# Pearson correlation over the four lineitem measures, long format
# (col_a < col_b).  One full-scan aggregate computes the exact decimal
# sums Σx, Σxy for every pair (map-side partial agg, one row out); the
# 6 output rows are then pure driver-free arithmetic on that single
# row.  At 100 TB this is the minimal plan: one scan, one 10-column
# reduce, no shuffle wider than the partial-agg exchange.

_CORR_COLS = {
    "q": "l_quantity",
    "p": "l_extendedprice",
    "d": "l_discount",
    "t": "l_tax",
}

# shared literal formula — identical text runs in both engines
_CORR_FORMULA = (
    "round((CAST(n AS DOUBLE) * CAST(s_{a}{b} AS DOUBLE)"
    " - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(s_{a}{a} AS DOUBLE)"
    " - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(s_{b}{b} AS DOUBLE)"
    " - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 6)"
)


def _corr_pairs() -> list[tuple[str, str]]:
    keys = list(_CORR_COLS)
    return [(a, b) for i, a in enumerate(keys) for b in keys[i:]]


def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_a, col_b, corr) — Pearson correlation for the 6 unordered
    pairs of (l_quantity, l_extendedprice, l_discount, l_tax)."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for k, c in _CORR_COLS.items():
        aggs.append(F.sum(_dec(c)).alias(f"s_{k}"))
    for a, b in _corr_pairs():
        aggs.append(
            F.sum(_dec14(_CORR_COLS[a]) * _dec14(_CORR_COLS[b])).alias(f"s_{a}{b}")
        )
    sums = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(_CORR_COLS[a]).alias("col_a"),
            F.lit(_CORR_COLS[b]).alias("col_b"),
            F.expr(_CORR_FORMULA.format(a=a, b=b)).alias("corr"),
        )
        for a, b in _corr_pairs()
        if a != b
    ]
    return sums.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")


def _corr_sql() -> str:
    sum_exprs = ["count(*) AS n"]
    for k, c in _CORR_COLS.items():
        sum_exprs.append(f"SUM(CAST({c} AS DECIMAL(18,4))) AS s_{k}")
    for a, b in _corr_pairs():
        # (24,4)×(14,4): DuckDB 1.0 keeps an 18×18-width product in
        # int64 and overflows; widening one side forces the exact
        # hugeint DECIMAL(38,8) path.  Spark uses (14,4)×(14,4) →
        # decimal(29,8) — both EXACT, so the sums agree bit-for-bit
        # after the shared CAST-to-DOUBLE.
        sum_exprs.append(
            f"SUM(CAST({_CORR_COLS[a]} AS DECIMAL(24,4))"
            f" * CAST({_CORR_COLS[b]} AS DECIMAL(14,4))) AS s_{a}{b}"
        )
    rows = [
        f"SELECT '{_CORR_COLS[a]}' AS col_a, '{_CORR_COLS[b]}' AS col_b, "
        + _CORR_FORMULA.format(a=a, b=b)
        + " AS corr FROM sums"
        for a, b in _corr_pairs()
        if a != b
    ]
    return (
        "WITH sums AS (SELECT " + ", ".join(sum_exprs) + " FROM lineitem) "
        + " UNION ALL ".join(rows)
    )


# ------------------------------------------------- OLS via normal equations
#
# l_extendedprice ~ intercept + l_quantity + l_discount, solved with
# the 3x3 normal equations by Cramer's rule.  The distributed part is
# ONE exact-decimal aggregate (10 sums); the solve is constant-size
# arithmetic applied identically in both engines.  This is the
# scale-correct shape for closed-form linear models: k small → the
# Gram matrix, not the data, crosses the network.

# shared literal formulas (identical text in both engines), applied to
# the CAST-to-DOUBLE images of the engine-specific exact decimal sums
_OLS_DET = (
    "(n * (s11 * s22 - s12 * s12)"
    " - sx1 * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * s12 - s11 * sx2))"
)
_OLS_B0 = (
    "(sy * (s11 * s22 - s12 * s12)"
    " - sx1 * (s1y * s22 - s12 * s2y)"
    " + sx2 * (s1y * s12 - s11 * s2y)) / det"
)
_OLS_B1 = (
    "(n * (s1y * s22 - s12 * s2y)"
    " - sy * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * s2y - s1y * sx2)) / det"
)
_OLS_B2 = (
    "(n * (s11 * s2y - s1y * s12)"
    " - sx1 * (sx1 * s2y - s1y * sx2)"
    " + sy * (sx1 * s12 - s11 * sx2)) / det"
)
_OLS_R2 = (
    "round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)"
    " / (syy - sy * sy / n), 6)"
)

_OLS_COLS = {
    "sx1": "l_quantity",
    "sx2": "l_discount",
    "sy": "l_extendedprice",
}
_OLS_PRODS = {
    "s11": ("l_quantity", "l_quantity"),
    "s12": ("l_quantity", "l_discount"),
    "s22": ("l_discount", "l_discount"),
    "s1y": ("l_quantity", "l_extendedprice"),
    "s2y": ("l_discount", "l_extendedprice"),
    "syy": ("l_extendedprice", "l_extendedprice"),
}


def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_rows, intercept, beta_quantity, beta_discount, r2) —
    the exact least-squares fit of l_extendedprice on l_quantity and
    l_discount.  Sums are exact decimals (engine-specific widths, see
    ``_corr_sql``); every double op after them is shared literal text
    (``_OLS_DET``..``_OLS_R2``).  A NumPy ``lstsq`` parity test pins
    the algebra."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("nb")]
    for alias, c in _OLS_COLS.items():
        aggs.append(F.sum(_dec(c)).alias(f"{alias}_d"))
    for alias, (a, b) in _OLS_PRODS.items():
        aggs.append(F.sum(_dec14(a) * _dec14(b)).alias(f"{alias}_d"))
    s = li.agg(*aggs).select(
        F.col("nb"),
        F.col("nb").cast("double").alias("n"),
        *[
            F.col(f"{alias}_d").cast("double").alias(alias)
            for alias in (*_OLS_COLS, *_OLS_PRODS)
        ],
    )
    m = s.withColumn("det", F.expr(_OLS_DET))
    c = (
        m.withColumn("b0", F.expr(_OLS_B0))
        .withColumn("b1", F.expr(_OLS_B1))
        .withColumn("b2", F.expr(_OLS_B2))
    )
    return c.select(
        F.col("nb").alias("n_rows"),
        F.round("b0", 6).alias("intercept"),
        F.round("b1", 6).alias("beta_quantity"),
        F.round("b2", 6).alias("beta_discount"),
        F.expr(_OLS_R2).alias("r2"),
    )


def _ols_sql() -> str:
    sums = ["CAST(count(*) AS BIGINT) AS nb"]
    for alias, c in _OLS_COLS.items():
        sums.append(f"SUM(CAST({c} AS DECIMAL(18,4))) AS {alias}_d")
    for alias, (a, b) in _OLS_PRODS.items():
        sums.append(
            f"SUM(CAST({a} AS DECIMAL(24,4)) * CAST({b} AS DECIMAL(14,4))) AS {alias}_d"
        )
    casts = ", ".join(
        f"CAST({alias}_d AS DOUBLE) AS {alias}" for alias in (*_OLS_COLS, *_OLS_PRODS)
    )
    return f"""
WITH s0 AS (SELECT {', '.join(sums)} FROM lineitem),
s AS (SELECT nb, CAST(nb AS DOUBLE) AS n, {casts} FROM s0),
m AS (SELECT s.*, {_OLS_DET} AS det FROM s),
c AS (SELECT m.*, {_OLS_B0} AS b0, {_OLS_B1} AS b1, {_OLS_B2} AS b2 FROM m)
SELECT nb AS n_rows,
       round(b0, 6) AS intercept,
       round(b1, 6) AS beta_quantity,
       round(b2, 6) AS beta_discount,
       {_OLS_R2} AS r2
FROM c
"""


# ------------------------------------------------- chi-square independence
#
# event_type × day-of-week contingency table with expected counts and
# per-cell chi-square contributions.  Counts are exact integers; each
# float output is a fixed two-op sequence on integers, so no shared
# text is needed.  The totals tables are tiny → broadcast joins.


def chi2_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, dow, observed, expected, contrib) — the per-cell
    chi-square decomposition for event-type vs day-of-week (0=Sunday).
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - F.lit(1)).alias("dow")
    )
    obs = ev.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("observed"))
    rt = obs.groupBy("event_type").agg(F.sum("observed").alias("rt"))
    ct = obs.groupBy("dow").agg(F.sum("observed").alias("ct"))
    tot = obs.agg(F.sum("observed").alias("tot"))
    e = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn("expected_raw", (F.col("rt") * F.col("ct")) / F.col("tot"))
    )
    contrib = (
        (F.col("observed") - F.col("expected_raw"))
        * (F.col("observed") - F.col("expected_raw"))
        / F.col("expected_raw")
    )
    return e.select(
        "event_type",
        "dow",
        "observed",
        F.round("expected_raw", 6).alias("expected"),
        F.round(contrib, 6).alias("contrib"),
    )


_CHI2_SQL = """
WITH cells AS (
  SELECT event_type, dayofweek(ts) AS dow, count(*)::BIGINT AS observed
  FROM events GROUP BY 1, 2),
rt AS (SELECT event_type, SUM(observed)::BIGINT AS rt FROM cells GROUP BY 1),
ct AS (SELECT dow, SUM(observed)::BIGINT AS ct FROM cells GROUP BY 1),
tot AS (SELECT SUM(observed)::BIGINT AS tot FROM cells),
e AS (
  SELECT c.event_type, c.dow, c.observed,
         (rt.rt * ct.ct) / tot.tot AS expected_raw
  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tot)
SELECT event_type, dow, observed,
       round(expected_raw, 6) AS expected,
       round((observed - expected_raw) * (observed - expected_raw)
             / expected_raw, 6) AS contrib
FROM e
"""


# ------------------------------------------------- key-skew profile
#
# The operational question behind salting and AQE skew-join: how
# skewed is the orders→customer key?  One row of distribution facts
# over the per-key counts.  The per-key aggregate is the only shuffle;
# the stats reduce is over |keys| rows.


def skew_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_keys, total, max_cnt, p50, p90, p99, top_share,
    gini) profiling o_custkey fan-out.

    Gini WITHOUT a global per-key rank (a row_number over 10⁹ keys is
    a single-partition sort — the one scale-killer the first draft of
    this operator had): since ties commute in the rank-sum identity
    G = (2·Σ i·c_i − (n+1)·Σc)/(n·Σc), the doubled rank-sum has a
    closed form over the DISTINCT-count histogram —
    2·Σ i·c_i = Σ_v v·m_v·(2·B_v + m_v + 1), with m_v = #keys at
    count v and B_v = #keys at counts < v.  The histogram has at most
    max_cnt rows (≈ dozens), so the only window runs over a tiny
    table; everything else is distributed aggregates."""
    cnt = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist = cnt.groupBy("cnt").agg(F.count(F.lit(1)).alias("m"))
    w = Window.orderBy(F.col("cnt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    t_df = (
        hist.withColumn("below", F.coalesce(F.sum("m").over(w), F.lit(0)))
        .agg(
            F.sum(
                F.col("cnt")
                * F.col("m")
                * (F.lit(2) * F.col("below") + F.col("m") + F.lit(1))
            ).alias("t2")  # = 2·Σ i·c_i exactly
        )
    )
    stats = cnt.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(cnt, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99"),
    )
    return stats.crossJoin(F.broadcast(t_df)).select(
        "n_keys",
        "total",
        "max_cnt",
        "p50",
        "p90",
        "p99",
        F.round(
            F.col("max_cnt").cast("double") / F.col("total").cast("double"), 6
        ).alias("top_share"),
        F.round(
            (
                F.col("t2") - (F.col("n_keys") + F.lit(1)) * F.col("total")
            ).cast("double")
            / (F.col("n_keys") * F.col("total")).cast("double"),
            6,
        ).alias("gini"),
    )


_SKEW_SQL = """
WITH cnt AS (
  SELECT o_custkey, count(*)::BIGINT AS cnt FROM orders GROUP BY 1),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt ASC, o_custkey ASC) AS i FROM cnt)
SELECT count(*)::BIGINT AS n_keys,
       SUM(cnt)::BIGINT AS total,
       MAX(cnt)::BIGINT AS max_cnt,
       round(quantile_cont(cnt, 0.5), 6) AS p50,
       round(quantile_cont(cnt, 0.9), 6) AS p90,
       round(quantile_cont(cnt, 0.99), 6) AS p99,
       round(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_share,
       round(CAST(2 * SUM(i * cnt) - (count(*) + 1) * SUM(cnt) AS DOUBLE)
             / CAST(count(*) * SUM(cnt) AS DOUBLE), 6) AS gini
FROM ranked
"""


# ------------------------------------------------- 2-D skyline (Pareto front)
#
# Parts not dominated on (minimize p_retailprice, maximize p_size).
# The naive formulation is an O(n²) self-join; the 2-D skyline is an
# O(n log n) window computation — per-size price minima, then a
# running strict-suffix minimum over descending size.  The oracle
# keeps the NOT EXISTS formulation, so the two engines prove each
# other through DIFFERENT algorithms.


def pareto_front_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_partkey, p_size, p_retailprice) — the Pareto front.  A part
    survives iff it has the minimum price at its size AND its price is
    strictly below every price seen at any larger size."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    per_size = p.groupBy("p_size").agg(F.min("p_retailprice").alias("min_at"))
    w = Window.orderBy(F.col("p_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = per_size.withColumn("min_gt", F.min("min_at").over(w))
    return (
        p.join(F.broadcast(frontier), "p_size")
        .where(
            (F.col("p_retailprice") == F.col("min_at"))
            & (
                F.col("min_gt").isNull()
                | (F.col("p_retailprice") < F.col("min_gt"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


_PARETO_SQL = """
SELECT p_partkey, p_size, p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
"""


# ------------------------------------------------- co-purchase graph
#
# Nodes = parts with id ≤ _GRAPH_MAX_PART (a deterministic id-bounded
# subgraph — dense enough to carry triangles at every fixture scale,
# and the bound is the standard trick this repo uses to keep O(n²)-ish
# graph ops fixture-safe; at production scale the bound becomes the
# partition predicate of a per-subgraph run).  Undirected edges =
# distinct co-purchased pairs.

_GRAPH_MAX_PART = 300

_EDGES_CTE = """
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       WHERE l_partkey <= {maxp}),
e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
""".format(maxp=_GRAPH_MAX_PART)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (pa < pb) distinct co-purchase edges on the bounded
    subgraph.  Per-order pair expansion is O(Σ basket²) — baskets are
    bounded small (TPC-H ≤ 7 lines/order), so this scales linearly in
    orders."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") <= _GRAPH_MAX_PART)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
    )


def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, n_triangles) for every part in ≥1 triangle of the
    co-purchase graph.  Canonical-orientation join (pa<pb<pc): each
    triangle enumerated exactly once, the standard shuffle-efficient
    formulation (edges joined on their shared endpoint, then one
    existence probe)."""
    e = _copurchase_edges(spark, sf_dir).cache()
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("x"),
            F.col("e1.pb").alias("y"),
            F.col("e2.pb").alias("z"),
        )
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_TRIANGLE_SQL = (
    "WITH "
    + _EDGES_CTE
    + """,
tri AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM e e1 JOIN e e2 ON e1.pb = e2.pa
        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
m AS (SELECT x AS part FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
SELECT part, count(*)::BIGINT AS n_triangles FROM m GROUP BY part
"""
)


def copurchase_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(degree, n_parts) — degree distribution of the co-purchase
    graph.  Two integer aggregates; the histogram is the input to
    partition-sizing decisions for any downstream graph op."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("part"))
        .unionAll(e.select(F.col("pb").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_parts"))


_DEGREE_SQL = (
    "WITH "
    + _EDGES_CTE
    + """,
d AS (SELECT part, count(*)::BIGINT AS degree
      FROM (SELECT pa AS part FROM e UNION ALL SELECT pb FROM e) GROUP BY part)
SELECT degree, count(*)::BIGINT AS n_parts FROM d GROUP BY degree
"""
)


_LP_ITERS = 4


def label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, community) — min-label propagation, exactly
    ``_LP_ITERS`` synchronous iterations seeded with community=part.
    l_{i+1}(v) = min(l_i(v), min over neighbors of l_i) — integer
    min-semilattice, so the unrolled DuckDB CTE is an exact value
    oracle (same pattern as the PageRank and Lloyd oracles).  Per
    iteration: one node⋈edge join + one grouped min — node- and
    edge-sized tables only, co-partitionable on the id key at scale."""
    e = _copurchase_edges(spark, sf_dir).cache()
    both = e.unionAll(e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb")))
    labels = (
        both.select(F.col("pa").alias("part"))
        .distinct()
        .withColumn("community", F.col("part"))
    )
    for _ in range(_LP_ITERS):
        nbr_min = (
            labels.join(both, labels.part == both.pa)
            .groupBy(F.col("pb").alias("part"))
            .agg(F.min("community").alias("nbr"))
        )
        labels = (
            labels.join(nbr_min, "part", "left")
            .select(
                "part",
                F.least(
                    F.col("community"), F.coalesce(F.col("nbr"), F.col("community"))
                ).alias("community"),
            )
            # node-sized; per-round lineage truncation (bfs_levels pattern)
            .transform(truncate_lineage)
        )
    return labels


def _label_prop_sql() -> str:
    parts = [
        _EDGES_CTE.strip()
        + """,
nbrs AS (SELECT pa, pb FROM e UNION ALL SELECT pb, pa FROM e),
l0 AS (SELECT DISTINCT pa AS part, pa AS community FROM nbrs)"""
    ]
    for i in range(1, _LP_ITERS + 1):
        parts.append(
            f"""n{i} AS (SELECT b.pb AS part, min(l.community) AS nbr
  FROM l{i - 1} l JOIN nbrs b ON b.pa = l.part GROUP BY b.pb),
l{i} AS (SELECT l.part,
         least(l.community, coalesce(n.nbr, l.community)) AS community
  FROM l{i - 1} l LEFT JOIN n{i} n ON n.part = l.part)"""
        )
    return (
        "WITH " + ", ".join(parts) + f" SELECT part, community FROM l{_LP_ITERS}"
    )


# ------------------------------------------------- A/B conversion lift
#
# Two-proportion z-test over a deterministic user split (user_id % 2 —
# the hash-bucket assignment an experimentation system uses).
# Conversion = the user purchases within 24 h of their FIRST view (a
# real funnel outcome: measured rates ~35-60% per cohort at every sf,
# never saturated — "has any purchase ever" converts ~100% of this
# fixture and degenerates the variance).  Counts are exact integers;
# the rate/lift/z chain is shared literal text with lazy CASE guards
# for the zero-variance and empty-cohort edges (Spark ANSI mode errors
# on 1/0 where DuckDB returns inf — the guard keeps both engines off
# that surface entirely).

_AB_WINDOW_HOURS = 24
_AB_STAGE1 = {
    "rate0": "CASE WHEN n0 = 0 THEN 0.0 ELSE CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) END",
    "rate1": "CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) END",
    "pool": "CASE WHEN n0 + n1 = 0 THEN 0.0 ELSE CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) END",
}
_AB_Z = (
    "CASE WHEN n0 = 0 OR n1 = 0 OR c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN 0.0"
    " ELSE (rate1 - rate0) / sqrt(pool * (1.0 - pool)"
    " * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) END"
)


def ab_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n0, c0, n1, c1, rate0, rate1, lift, z) — purchase-
    within-24h-of-first-view conversion compared across the two
    user_id-parity cohorts.  Shape: first-view agg, one user-key join,
    per-user conversion agg, constant-size reduce."""
    ev = _t(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    conv = (
        fv.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_view"))
                    & (
                        F.col("ts")
                        <= F.col("first_view")
                        + F.expr(f"INTERVAL {_AB_WINDOW_HOURS} HOURS")
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("conv")
        )
    )
    g = conv.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n0"),
        F.sum(
            F.when(F.col("user_id") % 2 == 0, F.col("conv")).otherwise(0)
        ).alias("c0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when(F.col("user_id") % 2 == 1, F.col("conv")).otherwise(0)
        ).alias("c1"),
    )
    s = g
    for alias, expr in _AB_STAGE1.items():
        s = s.withColumn(alias, F.expr(expr))
    return s.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round("rate0", 6).alias("rate0"),
        F.round("rate1", 6).alias("rate1"),
        F.round(F.col("rate1") - F.col("rate0"), 6).alias("lift"),
        F.round(F.expr(_AB_Z), 6).alias("z"),
    )


def _ab_sql() -> str:
    stage1 = ", ".join(f"{e} AS {a}" for a, e in _AB_STAGE1.items())
    return f"""
WITH fv AS (
  SELECT user_id, min(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id),
conv AS (
  SELECT f.user_id,
         max(CASE WHEN e.event_type = 'purchase' AND e.ts > f.first_view
                   AND e.ts <= f.first_view + INTERVAL {_AB_WINDOW_HOURS} HOUR
                  THEN 1 ELSE 0 END) AS conv
  FROM fv f JOIN events e ON e.user_id = f.user_id
  GROUP BY f.user_id),
g AS (
  SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)::BIGINT AS c0,
         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)::BIGINT AS c1
  FROM conv),
s AS (SELECT g.*, {stage1} FROM g)
SELECT n0, c0, n1, c1,
       round(rate0, 6) AS rate0,
       round(rate1, 6) AS rate1,
       round(rate1 - rate0, 6) AS lift,
       round({_AB_Z}, 6) AS z
FROM s
"""


# ------------------------------------------------- data-quality battery
#
# A deequ-style expectation suite: each check is (name, n_checked,
# n_violations), all exact integers.  One scan per table computes that
# table's checks as conditional sums (no per-check re-scan); the
# referential check is one anti-join count.  The battery deliberately
# mixes checks the fixture PASSES (range/null/pk — 0 violations) with
# checks it VIOLATES (a 1995-2000 date window the 2001 orders break,
# a non-negative balance rule ~9% of customers break), so both result
# classes are driver-hash-verified.


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(check_name, n_checked, n_violations) — the data-quality
    expectation battery over lineitem / orders / customer."""
    li = _t(spark, sf_dir, "lineitem")
    li_checks = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("v_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
            ).otherwise(0)
        ).alias("v_disc"),
        F.sum(
            F.when(
                F.col("l_orderkey").isNull()
                | F.col("l_partkey").isNull()
                | F.col("l_suppkey").isNull(),
                1,
            ).otherwise(0)
        ).alias("v_null"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem_quantity_range").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_qty").alias("n_violations"),
                ),
                F.struct(
                    F.lit("lineitem_discount_range").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_disc").alias("n_violations"),
                ),
                F.struct(
                    F.lit("lineitem_null_keys").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_null").alias("n_violations"),
                ),
            )
        ).alias("kv")
    ).select("kv.*")
    o = _t(spark, sf_dir, "orders")
    o_checks = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_pk"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"), 1)
            .otherwise(0)
        ).alias("v_date"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("orders_pk_unique").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_pk").alias("n_violations"),
                ),
                F.struct(
                    F.lit("orders_date_window_1995_2000").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_date").alias("n_violations"),
                ),
            )
        ).alias("kv")
    ).select("kv.*")
    c = _t(spark, sf_dir, "customer")
    c_checks = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias("v_bal"),
    ).select(
        F.lit("customer_acctbal_nonneg").alias("check_name"),
        F.col("n").alias("n_checked"),
        F.col("v_bal").alias("n_violations"),
    )
    orphan = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(F.broadcast(li.agg(F.count(F.lit(1)).alias("n_checked"))))
        .select(
            F.lit("lineitem_orphan_orderkeys").alias("check_name"),
            "n_checked",
            "n_violations",
        )
    )
    return li_checks.unionByName(o_checks).unionByName(c_checks).unionByName(orphan)


_DQ_SQL = """
WITH li AS (
  SELECT count(*)::BIGINT AS n,
         SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT AS v_qty,
         SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)::BIGINT AS v_disc,
         SUM(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL
                  THEN 1 ELSE 0 END)::BIGINT AS v_null
  FROM lineitem),
o AS (
  SELECT count(*)::BIGINT AS n,
         (count(*) - count(DISTINCT o_orderkey))::BIGINT AS v_pk,
         SUM(CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01' THEN 1 ELSE 0 END)::BIGINT AS v_date
  FROM orders),
c AS (
  SELECT count(*)::BIGINT AS n,
         SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)::BIGINT AS v_bal
  FROM customer),
orphan AS (
  SELECT (SELECT count(*)::BIGINT FROM lineitem) AS n,
         count(*)::BIGINT AS v
  FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders oo WHERE oo.o_orderkey = l.l_orderkey))
SELECT 'lineitem_quantity_range' AS check_name, n AS n_checked, v_qty AS n_violations FROM li
UNION ALL SELECT 'lineitem_discount_range', n, v_disc FROM li
UNION ALL SELECT 'lineitem_null_keys', n, v_null FROM li
UNION ALL SELECT 'orders_pk_unique', n, v_pk FROM o
UNION ALL SELECT 'orders_date_window_1995_2000', n, v_date FROM o
UNION ALL SELECT 'customer_acctbal_nonneg', n, v_bal FROM c
UNION ALL SELECT 'lineitem_orphan_orderkeys', n, v FROM orphan
"""


# ------------------------------------------------- BFS levels
#
# Hop distance from the graph's minimum node id, 4 synchronous rounds
# of the min-plus recurrence d_{i+1}(v) = min(d_i(v), min_{u~v} d_i(u)
# + 1) — the tropical-semiring sibling of the min-label propagation
# above, with the same unrolled-CTE exact oracle.  Only nodes reached
# within 4 hops are emitted.

_BFS_ITERS = 4


def bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, dist) — BFS hop distance (≤ 4) from the minimum part id
    of the bounded co-purchase graph."""
    e = _copurchase_edges(spark, sf_dir).cache()
    nbrs = e.unionAll(e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb")))
    nodes = nbrs.select(F.col("pa").alias("part")).distinct()
    src = nodes.agg(F.min("part").alias("src"))
    labels = nodes.crossJoin(F.broadcast(src)).select(
        "part",
        F.when(F.col("part") == F.col("src"), F.lit(0))
        .otherwise(F.lit(None).cast("int"))
        .alias("dist"),
    )
    nbrs = nbrs.cache()
    for _ in range(_BFS_ITERS):
        relax = (
            labels.where(F.col("dist").isNotNull())
            .join(nbrs, labels.part == nbrs.pa)
            .groupBy(F.col("pb").alias("part"))
            .agg((F.min("dist") + F.lit(1)).alias("via"))
        )
        labels = labels.join(relax, "part", "left").select(
            "part", F.least(F.col("dist"), F.col("via")).alias("dist")
        )
        # node-sized table; truncating lineage per round keeps Catalyst
        # analysis flat instead of doubling per iteration (the
        # lloyd_kmeans pattern) — measured 3-8× on the fixture
        labels = labels.transform(truncate_lineage)
    return labels.where(F.col("dist").isNotNull()).select(
        "part", F.col("dist").cast("int").alias("dist")
    )


def _bfs_sql() -> str:
    parts = [
        _EDGES_CTE.strip()
        + """,
nbrs AS (SELECT pa, pb FROM e UNION ALL SELECT pb, pa FROM e),
nodes AS (SELECT DISTINCT pa AS part FROM nbrs),
src AS (SELECT min(part) AS src FROM nodes),
l0 AS (SELECT part, CASE WHEN part = src.src THEN 0 END AS dist
       FROM nodes CROSS JOIN src)"""
    ]
    for i in range(1, _BFS_ITERS + 1):
        parts.append(
            f"""r{i} AS (SELECT b.pb AS part, min(l.dist) + 1 AS via
  FROM l{i - 1} l JOIN nbrs b ON b.pa = l.part
  WHERE l.dist IS NOT NULL GROUP BY b.pb),
l{i} AS (SELECT l.part, least(l.dist, r.via) AS dist
  FROM l{i - 1} l LEFT JOIN r{i} r ON r.part = l.part)"""
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT part, dist::INTEGER AS dist FROM l{_BFS_ITERS} WHERE dist IS NOT NULL"
    )


# ------------------------------------------------- k-core peeling
#
# 2-core membership by iterative peeling: repeatedly drop nodes whose
# CURRENT degree is below k, recomputing degrees on the survivors —
# a shrinking-fixed-point iteration (the opposite shape of the
# label/rank propagations, whose node set is static).  Integer-exact,
# unrolled-CTE oracle; _KC_ITERS rounds suffice for the fixture (a
# production run iterates to emptiness-of-change with the same body).

_KC_K = 2  # sf0.1's sparser subgraph has NO 3-core — k=2 survives at every sf
_KC_ITERS = 4


def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    # __doc__ assigned after the def: a literal followed by .format()
    # is a discarded expression, not a docstring
    e = _copurchase_edges(spark, sf_dir).cache()
    nbrs = e.unionAll(
        e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    ).cache()
    alive = nbrs.select(F.col("pa").alias("part")).distinct()
    for _ in range(_KC_ITERS):
        deg = (
            nbrs.join(alive.withColumnRenamed("part", "pa"), "pa")
            .join(alive.withColumnRenamed("part", "pb"), "pb")
            .groupBy(F.col("pa").alias("part"))
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        alive = (
            deg.where(F.col("degree") >= _KC_K)
            .select("part")
            .transform(truncate_lineage)
        )
    final_deg = (
        nbrs.join(alive.withColumnRenamed("part", "pa"), "pa")
        .join(alive.withColumnRenamed("part", "pb"), "pb")
        .groupBy(F.col("pa").alias("part"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return final_deg


kcore_membership.__doc__ = (
    "(part, degree) — the nodes surviving ``_KC_ITERS`` peeling "
    "rounds at k={k}, with their residual in-core degree."
).format(k=_KC_K)


def _kcore_sql() -> str:
    parts = [
        _EDGES_CTE.strip()
        + """,
nbrs AS (SELECT pa, pb FROM e UNION ALL SELECT pb, pa FROM e),
a0 AS (SELECT DISTINCT pa AS part FROM nbrs)"""
    ]
    for i in range(1, _KC_ITERS + 1):
        parts.append(
            f"""d{i} AS (SELECT n.pa AS part, count(*)::BIGINT AS degree
  FROM nbrs n
  JOIN a{i - 1} x ON x.part = n.pa
  JOIN a{i - 1} y ON y.part = n.pb
  GROUP BY n.pa),
a{i} AS (SELECT part FROM d{i} WHERE degree >= {_KC_K})"""
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f"""
SELECT n.pa AS part, count(*)::BIGINT AS degree
FROM nbrs n
JOIN a{_KC_ITERS} x ON x.part = n.pa
JOIN a{_KC_ITERS} y ON y.part = n.pb
GROUP BY n.pa"""
    )


# ------------------------------------------------- inter-arrival stats
#
# Per-event-type inter-arrival gaps (seconds between a user's
# consecutive events of that type) — the cadence profile behind
# rate-limit and anomaly thresholds.  Gaps are exact integer seconds
# from a user-partitioned lag (partitioned window — scale-fine, unlike
# the global windows this module refactored away); the percentile
# aggregates interpolate over identical integer multisets.


def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_gaps, p50_gap_s, p90_gap_s, max_gap_s)."""
    # event_id breaks exact-timestamp ties deterministically
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    gaps = (
        ev.withColumn("prev", F.lag("us").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "event_type",
            ((F.col("us") - F.col("prev")) / F.lit(1000000)).cast("bigint").alias(
                "gap_s"
            ),
        )
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 6).alias("p50_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 6).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


_INTERARRIVAL_SQL = """
WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
g AS (SELECT event_type,
             (us - lag(us) OVER (PARTITION BY user_id, event_type
                                 ORDER BY us, event_id)) // 1000000 AS gap_s
      FROM ev)
SELECT event_type, count(*)::BIGINT AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
       round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s,
       max(gap_s)::BIGINT AS max_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


# ------------------------------------------------- weighted shortest paths
#
# Bellman-Ford over the co-purchase graph with edge weight
# w(u,v) = round(1 / n_uv, 6) (strong ties are cheap) — the min-plus
# (tropical) semiring sibling of the BFS hop levels: path costs are
# SUMS of ≤ _SP_ITERS exact DECIMAL(12,6) weights, so every candidate
# distance is exact and the min is order-free — a full value oracle
# for a weighted-graph iteration.

_SP_ITERS = 3


def shortest_paths_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # __doc__ assigned after the def: a literal followed by .format()
    # is a discarded expression, not a docstring
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") <= _GRAPH_MAX_PART)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    cnt = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_uv"))
    )
    w = F.round(F.lit(1.0) / F.col("n_uv").cast("double"), 6).cast(
        "decimal(12,6)"
    )
    e = cnt.select("pa", "pb", w.alias("w"))
    nbrs = e.unionAll(
        e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "w")
    ).cache()
    nodes = nbrs.select(F.col("pa").alias("part")).distinct()
    src = nodes.agg(F.min("part").alias("src"))
    labels = nodes.crossJoin(F.broadcast(src)).select(
        "part",
        F.when(F.col("part") == F.col("src"), F.lit(0).cast("decimal(14,6)"))
        .otherwise(F.lit(None).cast("decimal(14,6)"))
        .alias("dist"),
    )
    for _ in range(_SP_ITERS):
        relax = (
            labels.where(F.col("dist").isNotNull())
            .join(nbrs, labels.part == nbrs.pa)
            .groupBy(F.col("pb").alias("part"))
            .agg(
                F.min(
                    (F.col("dist") + F.col("w")).cast("decimal(14,6)")
                ).alias("via")
            )
        )
        labels = (
            labels.join(relax, "part", "left")
            .select("part", F.least(F.col("dist"), F.col("via")).alias("dist"))
            .transform(truncate_lineage)
        )
    return labels.where(F.col("dist").isNotNull()).select(
        "part", F.round(F.col("dist").cast("double"), 6).alias("dist")
    )


shortest_paths_weighted.__doc__ = (
    "(part, dist) — cheapest-path cost (≤ {i} hops) from the minimum "
    "node of the bounded co-purchase graph."
).format(i=_SP_ITERS)


def _sp_sql() -> str:
    parts = [
        """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       WHERE l_partkey <= {maxp}),
cnt AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n_uv
        FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
e AS (SELECT pa, pb,
             CAST(round(1.0 / CAST(n_uv AS DOUBLE), 6) AS DECIMAL(12,6)) AS w
      FROM cnt),
nbrs AS (SELECT pa, pb, w FROM e UNION ALL SELECT pb, pa, w FROM e),
nodes AS (SELECT DISTINCT pa AS part FROM nbrs),
src AS (SELECT min(part) AS src FROM nodes),
l0 AS (SELECT part,
              CASE WHEN part = src.src THEN CAST(0 AS DECIMAL(14,6)) END AS dist
       FROM nodes CROSS JOIN src)""".format(maxp=_GRAPH_MAX_PART)
    ]
    for i in range(1, _SP_ITERS + 1):
        parts.append(
            f"""r{i} AS (SELECT b.pb AS part,
         min(CAST(l.dist + b.w AS DECIMAL(14,6))) AS via
  FROM l{i - 1} l JOIN nbrs b ON b.pa = l.part
  WHERE l.dist IS NOT NULL GROUP BY b.pb),
l{i} AS (SELECT l.part, least(l.dist, r.via) AS dist
  FROM l{i - 1} l LEFT JOIN r{i} r ON r.part = l.part)"""
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f""" SELECT part, round(CAST(dist AS DOUBLE), 6) AS dist
FROM l{_SP_ITERS} WHERE dist IS NOT NULL"""
    )


# ------------------------------------------------- one-way ANOVA
#
# Does mean event value differ by event type?  Exact-decimal group
# sums (value ≤ ~600 with ≤6dp → DECIMAL(10,6) is lossless and its
# square stays inside DuckDB's int64 multiply), one double term per
# group, and the cross-group Σ S_g²/n_g runs as an ORDERED left fold
# over the type-sorted term list (Spark ``aggregate`` ≡ DuckDB
# ``list_reduce`` — the deterministic sum-chain pattern the PQ/ADC
# tier established), so both engines execute the identical IEEE
# sequence even across groups.

_ANOVA_TERM = "CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)"
_ANOVA_FINAL = {
    "ssb": "sumterm - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)",
    "ssw": "CAST(q_tot AS DOUBLE) - sumterm",
}
_ANOVA_F = (
    "CASE WHEN k_groups <= 1 OR n_tot <= k_groups OR ssw <= 0.0 THEN 0.0"
    " ELSE (ssb / CAST(k_groups - 1 AS DOUBLE))"
    " / (ssw / CAST(n_tot - k_groups AS DOUBLE)) END"
)


def anova_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (k_groups, n_tot, ssb, ssw, f_stat) — one-way ANOVA of
    event value across event types."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(10,6)").alias("x")
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).alias("q_g"),
    )
    terms = g.select(
        "event_type",
        "n_g",
        "s_g",
        "q_g",
        F.expr(_ANOVA_TERM).alias("term"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("n_g").alias("n_tot"),
        F.sum("s_g").alias("s_tot"),
        F.sum("q_g").alias("q_tot"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("event_type", "term"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("sumterm"),
    )
    staged = agg
    for alias, expr in _ANOVA_FINAL.items():
        staged = staged.withColumn(alias, F.expr(expr))
    return staged.select(
        "k_groups",
        F.col("n_tot").cast("bigint").alias("n_tot"),
        F.round("ssb", 6).alias("ssb"),
        F.round("ssw", 6).alias("ssw"),
        F.round(F.expr(_ANOVA_F), 6).alias("f_stat"),
    )


def _anova_sql() -> str:
    finals = ", ".join(f"{e} AS {a}" for a, e in _ANOVA_FINAL.items())
    return f"""
WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(10,6)) AS x FROM events),
g AS (SELECT event_type, count(*)::BIGINT AS n_g,
             SUM(x) AS s_g, SUM(x * x) AS q_g
      FROM ev GROUP BY event_type),
terms AS (SELECT event_type, n_g, s_g, q_g, {_ANOVA_TERM} AS term FROM g),
agg AS (
  SELECT count(*)::BIGINT AS k_groups,
         SUM(n_g)::BIGINT AS n_tot,
         SUM(s_g) AS s_tot,
         SUM(q_g) AS q_tot,
         list_reduce(
           list_transform(
             list_sort(list({{'event_type': event_type, 'term': term}})),
             s -> s.term),
           (a, b) -> a + b) AS sumterm
  FROM terms),
s AS (SELECT agg.*, {finals} FROM agg)
SELECT k_groups, n_tot,
       round(ssb, 6) AS ssb,
       round(ssw, 6) AS ssw,
       round({_ANOVA_F}, 6) AS f_stat
FROM s
"""


# ------------------------------------------------- MERGE changelog apply
#
# The batch MERGE INTO pattern: apply an insert/update/delete changelog
# to a keyed snapshot in ONE full-outer join + CASE projection — the
# lakehouse operation behind every CDC sink (the streaming face of the
# idea is `streaming_upsert_snapshot`; this is its three-verb batch
# form, deletes included).  The changelog is derived deterministically
# from the key space so every verb engages at every sf: custkey%10==0 →
# DELETE, %10∈{1,2} → UPDATE (acctbal+100), and INSERTs beyond
# max(custkey).


def merge_changelog_of(base: DataFrame) -> DataFrame:
    """The deterministic (k, op, val) three-verb changelog both MERGE
    faces share: custkey%10==0 → D, %10∈{1,2} → U (+100),
    %10==3 → I beyond max(custkey).  Every key appears at most once,
    so applying it in ANY batch partition order yields the same final
    snapshot — the property the streaming face relies on."""
    mx = base.agg(F.max("c_custkey").alias("mx"))
    deletes = base.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"), F.lit("D").alias("op"), F.lit(None).cast("double").alias("val")
    )
    updates = base.where(F.col("c_custkey") % 10 <= 2).where(
        F.col("c_custkey") % 10 != 0
    ).select(
        F.col("c_custkey").alias("k"),
        F.lit("U").alias("op"),
        (F.col("c_acctbal") + F.lit(100.0)).alias("val"),
    )
    inserts = (
        base.where(F.col("c_custkey") % 10 == 3)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("c_custkey") + F.col("mx") + F.lit(1)).alias("k"),
            F.lit("I").alias("op"),
            F.col("c_acctbal").alias("val"),
        )
    )
    return deletes.unionByName(updates).unionByName(inserts)


def merge_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, c_acctbal, src) — the post-MERGE snapshot with row
    provenance: src ∈ base/updated/inserted; deleted keys absent."""
    base = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    chg = merge_changelog_of(base)
    merged = base.join(chg, base.c_custkey == chg.k, "full_outer").select(
        F.coalesce(F.col("c_custkey"), F.col("k")).alias("c_custkey"),
        F.when(F.col("op") == "U", F.col("val"))
        .when(F.col("op") == "I", F.col("val"))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("op") == "U", F.lit("updated"))
        .when(F.col("op") == "I", F.lit("inserted"))
        .otherwise(F.lit("base"))
        .alias("src"),
        F.col("op"),
    )
    return merged.where((F.col("op").isNull()) | (F.col("op") != "D")).drop("op")


_MERGE_SQL = """
WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
mx AS (SELECT max(c_custkey) AS mx FROM base),
chg AS (
  SELECT c_custkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS val
  FROM base WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 'U', c_acctbal + 100.0
  FROM base WHERE c_custkey % 10 <= 2 AND c_custkey % 10 != 0
  UNION ALL
  SELECT c_custkey + mx.mx + 1, 'I', c_acctbal
  FROM base CROSS JOIN mx WHERE c_custkey % 10 = 3),
merged AS (
  SELECT coalesce(b.c_custkey, c.k) AS c_custkey,
         CASE WHEN c.op IN ('U', 'I') THEN c.val ELSE b.c_acctbal END AS c_acctbal,
         CASE WHEN c.op = 'U' THEN 'updated'
              WHEN c.op = 'I' THEN 'inserted'
              ELSE 'base' END AS src,
         c.op AS op
  FROM base b FULL OUTER JOIN chg c ON b.c_custkey = c.k)
SELECT c_custkey, c_acctbal, src FROM merged WHERE op IS NULL OR op != 'D'
"""



# ------------------------------------------------- CUSUM changepoint
#
# Page's cumulative-sum statistic over the daily event series — the
# level-shift detector a pipeline runs on ingest volume ("did the
# crawler break on the 14th?").  S_k = Σ_{j<=k}(c_j − T/K) peaks at
# the changepoint; we keep everything integer-exact by working with
# the K-scaled form K·S_k = K·cum_k − k·T (counts, day ranks and
# totals are all BIGINT), dividing back to S_k only at the final
# 6dp rounding — both engines do the identical single division.
#
# Scale shape: the raw pass is one partial-agg groupBy(day); every
# window below runs on the DAILY table (one row per day — a bounded,
# tiny domain at any corpus size), so no global sort ever touches
# event-level rows.


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_events, cusum, is_changepoint) — the CUSUM of daily
    event counts against thewhole-series mean; is_changepoint marks the
    |CUSUM| argmax (ties all marked)."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.orderBy("day")
    tot = daily.agg(
        F.sum("n_events").alias("t_total"),
        F.count(F.lit(1)).alias("k_days"),
    )
    scaled = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("n_events").over(w))
        .withColumn("k", F.row_number().over(wk))
        .withColumn(
            "scaled",
            F.col("k_days") * F.col("cum") - F.col("k") * F.col("t_total"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return scaled.withColumn(
        "peak", F.max(F.abs("scaled")).over(wall)
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        # floor(x·1e6 + 0.5)/1e6, not round(x, 6): scaled/k_days is an
        # exact rational, and when k_days carries a 2^7 factor the 6dp
        # half is exactly representable — Spark and DuckDB round() break
        # that tie differently (same divergence class as _HLL_EST/IPF).
        (
            F.floor(
                F.col("scaled").cast("double")
                / F.col("k_days")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("cusum"),
        (F.abs("scaled") == F.col("peak")).alias("is_changepoint"),
    )


_CUSUM_SQL = """
WITH daily AS (
  SELECT ts::DATE AS day, count(*)::BIGINT AS n_events
  FROM events GROUP BY 1),
tot AS (SELECT SUM(n_events)::BIGINT AS t_total, count(*)::BIGINT AS k_days
        FROM daily),
scaled AS (
  SELECT day, n_events, k_days,
         k_days * SUM(n_events) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           - row_number() OVER (ORDER BY day) * t_total AS scaled
  FROM daily CROSS JOIN tot)
SELECT strftime(day, '%Y-%m-%d') AS day, n_events,
       floor(CAST(scaled AS DOUBLE) / k_days * CAST(1000000 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS cusum,
       abs(scaled) = max(abs(scaled)) OVER () AS is_changepoint
FROM scaled
"""


ANALYTICS_QUERIES = {
    "corr_matrix_lineitem": (corr_matrix_lineitem, _corr_sql()),
    "ols_price_model": (ols_price_model, _ols_sql()),
    "chi2_event_dow": (chi2_event_dow, _CHI2_SQL),
    "skew_report_orders": (skew_report_orders, _SKEW_SQL),
    "pareto_front_parts": (pareto_front_parts, _PARETO_SQL),
    "triangle_count_parts": (triangle_count_parts, _TRIANGLE_SQL),
    "copurchase_degree_hist": (copurchase_degree_hist, _DEGREE_SQL),
    "label_prop_communities": (label_prop_communities, _label_prop_sql()),
    "ab_conversion_lift": (ab_conversion_lift, _ab_sql()),
    "dq_expectations": (dq_expectations, _DQ_SQL),
    "bfs_levels": (bfs_levels, _bfs_sql()),
    "merge_apply_changelog": (merge_apply_changelog, _MERGE_SQL),
    "anova_event_values": (anova_event_values, _anova_sql()),
    "shortest_paths_weighted": (shortest_paths_weighted, _sp_sql()),
    "kcore_membership": (kcore_membership, _kcore_sql()),
    "interarrival_stats": (interarrival_stats, _INTERARRIVAL_SQL),
    "cusum_changepoints": (cusum_changepoints, _CUSUM_SQL),
}
