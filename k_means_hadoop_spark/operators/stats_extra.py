"""Statistical tests and distribution summaries (beyond-reference —
SURVEY.md §2.9), each with a full-value DuckDB oracle:

- rank and paired tests: Mann-Whitney U, Wilcoxon signed-rank, Kendall
  tau-b (daily and on a grid), Friedman, McNemar, Mood's median, the
  runs test, Brown-Forsythe/Levene and Benford's first-digit test;
- multiple testing: Benjamini-Hochberg FDR and Holm step-down FWER;
- association and information: Cohen's kappa, Cramér's V, Theil's U,
  conditional entropy, hypergeometric enrichment, a precision-recall
  curve;
- inequality and diversity: concentration, Gini, Lorenz deciles,
  Simpson diversity, event burstiness;
- sketches and estimators: KMV distinct counts (batch and streaming
  merge), log2 value histograms, Kaplan-Meier retention, ridge and
  logistic regression steps, Cronbach's alpha, exact percentiles,
  two-way ANOVA, a differentially private count release.

Cross-engine determinism (operators/trends.py conventions): exact
integer/decimal arithmetic everywhere, ONE double division (or a
shared literal expression tree) per reported float, floor(x*1e6+0.5)
stabilization.  Rank sums in Mann-Whitney stay exact in double space
because average ranks are half-integers (< 2^52 — every partial sum
is a multiple of 0.5, so addition order cannot change the result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.hashing import stable_hash64, stable_hash64_sql
from k_means_hadoop_spark.operators.relational import _t
from k_means_hadoop_spark.operators.trends import (
    _FL6_SQL,
    _complete_blocks_case,
    _complete_blocks_guard,
    _fl6,
)

from k_means_hadoop_spark.partitioning import truncate_lineage_lazy

# --------------------------------------------- Mann-Whitney U
#
# Rank-sum test (Mann & Whitney 1947) between the 'click' and 'view'
# event-value samples, with the tie-corrected normal approximation:
#   U1 = R1 - n1(n1+1)/2,   mu = n1 n2 / 2
#   sigma^2 = n1 n2 [(N+1)N(N-1) - SUM(t^3 - t)] / (12 N (N-1))
# Average ranks are rank_min + (ties-1)/2 — half-integers, so R1 is
# EXACT in double arithmetic regardless of summation order.

_MW_A, _MW_B = "click", "view"


def mannwhitney_value_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n1, n2, r1, u1, u2, tie_sum, z) — Mann-Whitney U of
    event value, '{a}' vs '{b}'.

    Rank sums come from the value HISTOGRAM, not a row-level global
    window (the round-8 verdict's fact-grain single-partition-sort
    fix, the ``auc_quality_vs_gopher`` pattern): every pooled row at
    value v carries average rank B_v + (m_v + 1)/2 where B_v is the
    count of strictly smaller values, so

        2·R1 = Σ_v p_v · (2·B_v + m_v + 1)

    with m_v the pooled count and p_v the group-'{a}' count at v.
    B_v = cumm_v − m_v is a distributed ``partitioning.prefix_sum``
    over the (small, value-grain) histogram — one range shuffle
    instead of an all-to-one sort of the fact sample.  2·R1 ≈ n² and
    the tie sum ≈ m³, so BOTH accumulate in DECIMAL(38,0) (a bigint
    sum wraps silently past ~3·10⁹ pooled rows — exactly the fact
    scale this rewrite exists for); r1 = (2·R1)/2 reproduces the
    window form's half-integer rank sum bit-for-bit while 2·R1 < 2⁵³,
    and past that both engines round the SAME exact decimal with the
    same IEEE conversion, so cross-engine parity holds at ANY scale —
    the DuckDB oracle computes 2·R1 from the identical exact
    histogram form, NOT a double sum of avg_ranks whose accumulation
    error would diverge exactly where the exactness matters (round-10
    ADVICE fix).  Known output-column bound, shared by both engines'
    z: the REPORTED tie_sum column is bigint and wraps past m³ ≈ 2⁶³
    (a single value carrying ~2×10⁶ rows); sigma² itself consumes the
    exact decimal, so z never does."""
    from k_means_hadoop_spark.partitioning import prefix_sum

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MW_A, _MW_B)
    )
    pooled = ev.select("event_type", "value")
    hist = pooled.groupBy("value").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("event_type") == _MW_A).cast("bigint")).alias("p"),
    )
    cum = prefix_sum(hist, "m", [F.col("value").asc()], out_col="cumm")
    dec = "decimal(38,0)"
    g = cum.agg(
        F.sum("p").alias("n1"),
        F.sum(F.col("m") - F.col("p")).alias("n2"),
        (
            F.sum(
                F.col("p").cast(dec)
                * (
                    F.lit(2) * (F.col("cumm") - F.col("m"))
                    + F.col("m")
                    + F.lit(1)
                ).cast(dec)
            ).cast("double")
            / F.lit(2.0)
        ).alias("r1"),
        F.sum(
            F.col("m").cast(dec) * F.col("m").cast(dec) * F.col("m").cast(dec)
            - F.col("m").cast(dec)
        ).cast(dec).alias("tie_sum"),
    )
    expr = (
        "CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " * CAST((n1 + n2 + 1) * CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2 - 1)"
        "        - tie_sum AS DOUBLE)"
        " / CAST(12 * CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2 - 1) AS DOUBLE)"
    )
    u1 = "r1 - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE) / CAST(2 AS DOUBLE)"
    z = (
        f"(({u1}) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(2 AS DOUBLE))"
        f" / sqrt({expr})"
    )
    return g.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("r1"),
        F.expr(u1).alias("u1"),
        F.expr(
            f"CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - ({u1})"
        ).alias("u2"),
        F.col("tie_sum").cast("bigint").alias("tie_sum"),
        _fl6(F.expr(z)).alias("z"),
    )


mannwhitney_value_groups.__doc__ = mannwhitney_value_groups.__doc__.format(
    a=_MW_A, b=_MW_B
)

_MW_SIGMA2 = (
    "CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * CAST((n1 + n2 + 1) * CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2 - 1)"
    "        - tie_sum AS DOUBLE)"
    " / CAST(12 * CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2 - 1) AS DOUBLE)"
)
_MW_U1 = "r1 - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE) / CAST(2 AS DOUBLE)"

MANNWHITNEY_SQL = """
WITH pooled AS (SELECT event_type, value FROM events
                WHERE event_type IN ('{a}', '{b}')),
hist AS (SELECT value, count(*)::BIGINT AS m,
                sum(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END)::BIGINT AS p
         FROM pooled GROUP BY value),
cum AS (SELECT m, p, sum(m) OVER (ORDER BY value) AS cumm FROM hist),
g AS (SELECT sum(p)::BIGINT AS n1,
             sum(m - p)::BIGINT AS n2,
             CAST(CAST(sum(CAST(p AS DECIMAL(19,0))
                           * CAST(2 * (cumm - m) + m + 1 AS DECIMAL(19,0)))
                       AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(2 AS DOUBLE) AS r1,
             CAST(sum(CAST(m AS DECIMAL(12,0)) * CAST(m AS DECIMAL(12,0))
                      * CAST(m AS DECIMAL(12,0))
                      - CAST(m AS DECIMAL(12,0))) AS DECIMAL(38,0)) AS tie_sum
      FROM cum)
SELECT n1, n2, r1,
       {u1} AS u1,
       CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - ({u1}) AS u2,
       tie_sum::BIGINT AS tie_sum,
       {z} AS z
FROM g
""".format(
    a=_MW_A,
    b=_MW_B,
    u1=_MW_U1,
    z=_FL6_SQL.format(
        x=f"(({_MW_U1}) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        f" / CAST(2 AS DOUBLE)) / sqrt({_MW_SIGMA2})"
    ),
)


# --------------------------------------------- Kendall tau-b
#
# Rank correlation between daily event count and daily distinct users,
# from exact pair counts (concordant / discordant / x-only / y-only /
# both ties) over the day-grain series:
#   tau_b = (C - D) / sqrt((C + D + Tx)(C + D + Ty)).


def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_days, n_pairs, concordant, discordant, ties_x,
    ties_y, ties_xy, tau_b).  The quadratic pair join runs on the
    day-grain series (k(k-1)/2 pairs for k days) — never the corpus."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.count_distinct(F.col("user_id")).alias("y"),
    )
    d = daily.withColumn("i", F.row_number().over(Window.orderBy("day")))
    a = d.select(F.col("i").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("i").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    pr = a.join(b, F.col("ib") > F.col("ia"))
    cmp_x = F.signum((F.col("xb") - F.col("xa")).cast("double")).cast("int")
    cmp_y = F.signum((F.col("yb") - F.col("ya")).cast("double")).cast("int")
    flags = pr.select(cmp_x.alias("sx"), cmp_y.alias("sy"))
    g = flags.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(((F.col("sx") * F.col("sy")) == 1).cast("int")).alias("c"),
        F.sum(((F.col("sx") * F.col("sy")) == -1).cast("int")).alias("d"),
        F.sum(((F.col("sx") == 0) & (F.col("sy") != 0)).cast("int")).alias("tx"),
        F.sum(((F.col("sx") != 0) & (F.col("sy") == 0)).cast("int")).alias("ty"),
        F.sum(((F.col("sx") == 0) & (F.col("sy") == 0)).cast("int")).alias("txy"),
    )
    n = d.agg(F.count(F.lit(1)).alias("n_days"))
    tau = (
        "CAST(c - d AS DOUBLE)"
        " / sqrt(CAST(c + d + tx AS DOUBLE) * CAST(c + d + ty AS DOUBLE))"
    )
    return g.crossJoin(F.broadcast(n)).select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("c").cast("bigint").alias("concordant"),
        F.col("d").cast("bigint").alias("discordant"),
        F.col("tx").cast("bigint").alias("ties_x"),
        F.col("ty").cast("bigint").alias("ties_y"),
        F.col("txy").cast("bigint").alias("ties_xy"),
        _fl6(F.expr(tau)).alias("tau_b"),
    )


KENDALL_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x,
                      count(DISTINCT user_id)::BIGINT AS y
               FROM events GROUP BY 1),
d AS (SELECT x, y, row_number() OVER (ORDER BY day) AS i FROM daily),
pr AS (SELECT sign(b.x - a.x)::INT AS sx, sign(b.y - a.y)::INT AS sy
       FROM d a JOIN d b ON b.i > a.i),
g AS (SELECT count(*)::BIGINT AS n_pairs,
             sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
             sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END)::BIGINT AS d,
             sum(CASE WHEN sx = 0 AND sy != 0 THEN 1 ELSE 0 END)::BIGINT AS tx,
             sum(CASE WHEN sx != 0 AND sy = 0 THEN 1 ELSE 0 END)::BIGINT AS ty,
             sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)::BIGINT AS txy
      FROM pr),
n AS (SELECT count(*)::BIGINT AS n_days FROM d)
SELECT n_days, n_pairs, c AS concordant, d AS discordant,
       tx AS ties_x, ty AS ties_y, txy AS ties_xy,
       {tau} AS tau_b
FROM g CROSS JOIN n
""".format(
    tau=_FL6_SQL.format(
        x="CAST(c - d AS DOUBLE)"
        " / sqrt(CAST(c + d + tx AS DOUBLE) * CAST(c + d + ty AS DOUBLE))"
    )
)


# --------------------------------------------- BH FDR (Chebyshev p)
#
# Multiple-testing demo with EXACT arithmetic end-to-end: per nation,
# a two-sided location test of mean acctbal vs the global mean using
# the distribution-free Chebyshev bound P(|Z| >= z) <= 1/z² as a
# (conservative, valid) p-value — an exact rational den/num, so the
# Benjamini-Hochberg step-up condition p_(k) <= k·q/m becomes the
# integer comparison 10·m·p_num <= k·p_den (q = 0.10).  acctbal is
# 2dp — cents are exact BIGINTs.
#
#   z² = (N·S_i - n_i·S)² / (n_i · (N·SS - S²))      (population σ²)

_BH_Q_NUM, _BH_Q_DEN = 1, 10  # q = 0.10


def bh_fdr_nation_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_nationkey, n, z2, p_chebyshev, p_rank, significant) — BH
    step-up at q=0.10 over per-nation Chebyshev p-values.  Two
    nation-grain aggregates and a 25-row window — corpus is touched
    once."""
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    per = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s_i")
    )
    g = c.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    j = per.crossJoin(F.broadcast(g))

    def d38(c_):
        return c_.cast("decimal(38,0)")

    diff = d38(F.col("nn")) * d38(F.col("s_i")) - d38(F.col("n")) * d38(F.col("s"))
    num = diff * diff  # z² numerator
    den = d38(F.col("n")) * (
        d38(F.col("nn")) * d38(F.col("ss")) - d38(F.col("s")) * d38(F.col("s"))
    )
    j = j.select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n"),
        num.alias("znum"),
        den.alias("zden"),
    )
    # p = min(1, 1/z²) as the exact rational p_num/p_den.  The znum <=
    # zden branch (INCLUDING znum = 0, where 1/z² = inf) must yield the
    # rational 1/1 — least(0, zden)/greatest(0, 1) = 0/1 would claim
    # p = 0, the STRONGEST evidence, and drag every rank into the BH
    # rejection set via k_star = m.
    one38 = F.lit(1).cast("decimal(38,0)")
    clipped = F.col("znum") <= F.col("zden")
    j = j.withColumn(
        "p_num", F.when(clipped, one38).otherwise(F.col("zden"))
    ).withColumn("p_den", F.when(clipped, one38).otherwise(F.col("znum")))
    # rank by the (identical cross-engine) double p, tie-broken by key
    p_dbl = F.when(F.col("znum") <= F.col("zden"), F.lit(1.0)).otherwise(
        F.col("zden").cast("double") / F.col("znum").cast("double")
    )
    j = j.withColumn("p", p_dbl).withColumn(
        "p_rank",
        F.row_number().over(Window.orderBy("p", "c_nationkey")).cast("bigint"),
    )
    m = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j = j.withColumn("m", F.count(F.lit(1)).over(m))
    # exact BH condition: p <= k q / m  <=>  q_den * m * p_num <= k * q_num * p_den
    cond = (
        F.lit(_BH_Q_DEN) * F.col("m") * F.col("p_num")
        <= F.col("p_rank") * F.lit(_BH_Q_NUM) * F.col("p_den")
    )
    j = j.withColumn(
        "k_star", F.max(F.when(cond, F.col("p_rank"))).over(m)
    )
    return j.select(
        "c_nationkey",
        "n",
        _fl6(F.col("znum").cast("double") / F.col("zden").cast("double")).alias(
            "z2"
        ),
        _fl6(F.col("p")).alias("p_chebyshev"),
        "p_rank",
        (F.col("p_rank") <= F.coalesce(F.col("k_star"), F.lit(0))).alias(
            "significant"
        ),
    )


BH_FDR_SQL = """
WITH c AS (SELECT c_nationkey,
                  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           FROM customer),
per AS (SELECT c_nationkey, count(*)::BIGINT AS n, sum(cents)::BIGINT AS s_i
        FROM c GROUP BY 1),
g AS (SELECT count(*)::BIGINT AS nn, sum(cents)::BIGINT AS s,
             sum(cents * cents)::BIGINT AS ss
      FROM c),
z AS (SELECT c_nationkey, n,
        (CAST(nn AS DECIMAL(38,0)) * CAST(s_i AS DECIMAL(38,0))
         - CAST(n AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))
        * (CAST(nn AS DECIMAL(38,0)) * CAST(s_i AS DECIMAL(38,0))
           - CAST(n AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))) AS znum,
        CAST(n AS DECIMAL(38,0))
        * (CAST(nn AS DECIMAL(38,0)) * CAST(ss AS DECIMAL(38,0))
           - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))) AS zden
      FROM per CROSS JOIN g),
p AS (SELECT *,
        CASE WHEN znum <= zden THEN CAST(1 AS DECIMAL(38,0))
             ELSE zden END AS p_num,
        CASE WHEN znum <= zden THEN CAST(1 AS DECIMAL(38,0))
             ELSE znum END AS p_den,
        CASE WHEN znum <= zden THEN 1.0
             ELSE CAST(zden AS DOUBLE) / CAST(znum AS DOUBLE) END AS pv
      FROM z),
r AS (SELECT *,
        row_number() OVER (ORDER BY pv, c_nationkey)::BIGINT AS p_rank,
        count(*) OVER ()::BIGINT AS m
      FROM p),
k AS (SELECT *,
        max(CASE WHEN {qd} * m * p_num <= p_rank * {qn} * p_den
                 THEN p_rank END) OVER () AS k_star
      FROM r)
SELECT c_nationkey, n,
       {z2} AS z2,
       {pch} AS p_chebyshev,
       p_rank,
       p_rank <= coalesce(k_star, 0) AS significant
FROM k
""".format(
    qd=_BH_Q_DEN,
    qn=_BH_Q_NUM,
    z2=_FL6_SQL.format(x="CAST(znum AS DOUBLE) / CAST(zden AS DOUBLE)"),
    pch=_FL6_SQL.format(x="pv"),
)


# --------------------------------------------- Cohen's kappa

_KAPPA_CHARS = 300
_KAPPA_WORDS = 40


def cohens_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n11, n10, n01, n00, po, pe, kappa) — inter-rater
    agreement between two document quality gates (chars >= {ch} vs
    words >= {wd}).  kappa = (N(n11+n00) - a1 b1 - a0 b0) /
    (N² - a1 b1 - a0 b0): exact integers, one division."""
    d = _t(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= _KAPPA_CHARS).cast("int").alias("ga"),
        (
            F.expr("size(regexp_extract_all(text, '[^ ]+', 0))")
            >= _KAPPA_WORDS
        )
        .cast("int")
        .alias("gb"),
    )
    g = d.agg(
        F.sum((F.col("ga") * F.col("gb"))).alias("n11"),
        F.sum((F.col("ga") * (1 - F.col("gb")))).alias("n10"),
        F.sum(((1 - F.col("ga")) * F.col("gb"))).alias("n01"),
        F.sum(((1 - F.col("ga")) * (1 - F.col("gb")))).alias("n00"),
    )
    nn = "(n11 + n10 + n01 + n00)"
    a1b1 = "(n11 + n10) * (n11 + n01)"
    a0b0 = "(n00 + n01) * (n00 + n10)"
    return g.select(
        F.col("n11").cast("bigint").alias("n11"),
        F.col("n10").cast("bigint").alias("n10"),
        F.col("n01").cast("bigint").alias("n01"),
        F.col("n00").cast("bigint").alias("n00"),
        _fl6(
            F.expr(f"CAST(n11 + n00 AS DOUBLE) / CAST({nn} AS DOUBLE)")
        ).alias("po"),
        _fl6(
            F.expr(
                f"CAST({a1b1} + {a0b0} AS DOUBLE)"
                f" / CAST({nn} * CAST({nn} AS DECIMAL(38,0)) AS DOUBLE)"
            )
        ).alias("pe"),
        _fl6(
            F.expr(
                f"CAST({nn} * CAST(n11 + n00 AS DECIMAL(38,0)) - {a1b1} - {a0b0} AS DOUBLE)"
                f" / CAST({nn} * CAST({nn} AS DECIMAL(38,0)) - {a1b1} - {a0b0} AS DOUBLE)"
            )
        ).alias("kappa"),
    )


cohens_kappa_gates.__doc__ = cohens_kappa_gates.__doc__.format(
    ch=_KAPPA_CHARS, wd=_KAPPA_WORDS
)

_K_NN = "(n11 + n10 + n01 + n00)"
_K_A1B1 = "(n11 + n10) * (n11 + n01)"
_K_A0B0 = "(n00 + n01) * (n00 + n10)"

KAPPA_SQL = """
WITH d AS (SELECT (n_chars >= {ch})::INT AS ga,
                  (len(regexp_extract_all(text, '[^ ]+')) >= {wd})::INT AS gb
           FROM documents),
g AS (SELECT sum(ga * gb)::BIGINT AS n11,
             sum(ga * (1 - gb))::BIGINT AS n10,
             sum((1 - ga) * gb)::BIGINT AS n01,
             sum((1 - ga) * (1 - gb))::BIGINT AS n00
      FROM d)
SELECT n11, n10, n01, n00,
       {po} AS po,
       {pe} AS pe,
       {kappa} AS kappa
FROM g
""".format(
    ch=_KAPPA_CHARS,
    wd=_KAPPA_WORDS,
    po=_FL6_SQL.format(x=f"CAST(n11 + n00 AS DOUBLE) / CAST({_K_NN} AS DOUBLE)"),
    pe=_FL6_SQL.format(
        x=f"CAST({_K_A1B1} + {_K_A0B0} AS DOUBLE)"
        f" / CAST({_K_NN} * CAST({_K_NN} AS DECIMAL(38,0)) AS DOUBLE)"
    ),
    kappa=_FL6_SQL.format(
        x=f"CAST({_K_NN} * CAST(n11 + n00 AS DECIMAL(38,0)) - {_K_A1B1} - {_K_A0B0} AS DOUBLE)"
        f" / CAST({_K_NN} * CAST({_K_NN} AS DECIMAL(38,0)) - {_K_A1B1} - {_K_A0B0} AS DOUBLE)"
    ),
)


# --------------------------------------------- precision-recall curve

_PR_TOP = 100


def pr_curve_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, doc_id, is_pos, precision, recall) for the top-{k} ranks
    of the n_chars score against the lang='en' label — the per-rank PR
    curve (each point is ONE exact division; no noisy scalar AP sum).
    The global order is total (score desc, doc_id)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (F.col("lang") == "en").cast("int").alias("is_pos"),
    )
    # rank-after-filter (the round-8 verdict's fix): the global
    # orderBy+limit plans as a distributed TakeOrderedAndProject
    # (per-partition top-k, merge of k-row heads — never a full sort),
    # and the window then ranks only the {k}-row survivor set.  Ranks
    # 1..{k} of the full corpus ARE the top-{k} rows under the total
    # order, so cum_pos over the survivors equals the global form.
    top = d.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(_PR_TOP)
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    p = top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "doc_id",
        "is_pos",
        F.sum("is_pos")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_pos"),
    )
    tot = d.agg(F.sum("is_pos").alias("p_total"))
    return (
        p.crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "doc_id",
            F.col("is_pos").cast("int").alias("is_pos"),
            _fl6(
                F.col("cum_pos").cast("double") / F.col("rank").cast("double")
            ).alias("precision"),
            _fl6(
                F.col("cum_pos").cast("double") / F.col("p_total").cast("double")
            ).alias("recall"),
        )
    )


pr_curve_quality.__doc__ = pr_curve_quality.__doc__.format(k=_PR_TOP)

PR_CURVE_SQL = """
WITH d AS (SELECT doc_id, n_chars, (lang = 'en')::INT AS is_pos FROM documents),
p AS (SELECT row_number() OVER w::BIGINT AS rank, doc_id, is_pos,
             sum(is_pos) OVER (ORDER BY n_chars DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_pos
      FROM d WINDOW w AS (ORDER BY n_chars DESC, doc_id)),
tot AS (SELECT sum(is_pos)::BIGINT AS p_total FROM d)
SELECT rank, doc_id, is_pos::INT AS is_pos,
       {prec} AS precision,
       {rec} AS recall
FROM p CROSS JOIN tot
WHERE rank <= {k}
""".format(
    k=_PR_TOP,
    prec=_FL6_SQL.format(x="CAST(cum_pos AS DOUBLE) / CAST(rank AS DOUBLE)"),
    rec=_FL6_SQL.format(x="CAST(cum_pos AS DOUBLE) / CAST(p_total AS DOUBLE)"),
)


# --------------------------------------------- KMV distinct sketch
#
# K-minimum-values estimator (Bar-Yossef et al. 2002): keep the K
# smallest 60-bit hashes of the key; estimate = (K-1) * 2^60 / h_K.
# The sketch is a K-row top-k — mergeable (union of mins) and tiny;
# an exact count verifies it side-by-side.

_KMV_K = 64
_TWO60 = 1 << 60


def _kmv_hashes(df: DataFrame) -> DataFrame:
    """Distinct portable hashes of user_id — the sketch's key space."""
    return df.select(
        stable_hash64(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("h")
    ).distinct()


def _kmv_finish(hashes: DataFrame, n: DataFrame) -> DataFrame:
    """kth-order-statistic pick + estimate — shared by the batch face
    and the streaming min-merge so both stay byte-identical to the
    single KMV_SQL oracle they register against (the _log2_finish
    pattern).  The K smallest hashes come from a distributed
    ``orderBy().limit(K)`` (TakeOrderedAndProject — per-partition
    top-K heads merged on the driver side), so the rank window runs
    over <= K rows; the previous bare row_number ranked EVERY distinct
    user hash in one task (round-9 registry-wide audit)."""
    ranked = (
        hashes.orderBy("h")
        .limit(_KMV_K)
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
    )
    kth = (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.col("rn") == F.least(F.lit(_KMV_K), F.col("n_exact")))
        .select("rn", "h", "n_exact")
    )
    est = (
        "CAST(rn - 1 AS DOUBLE) * CAST({two60} AS DOUBLE) / CAST(h AS DOUBLE)"
    ).format(two60=_TWO60)
    return kth.select(
        F.col("rn").cast("bigint").alias("k_used"),
        F.col("h").alias("kth_hash"),
        _fl6(F.expr(est)).alias("kmv_estimate"),
        F.col("n_exact").cast("bigint").alias("exact_distinct"),
        _fl6(
            F.expr(
                f"(({est}) - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)"
            )
        ).alias("rel_err"),
    )


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (k_used, kth_hash, kmv_estimate, exact_distinct,
    rel_err).  k adapts to min({k}, distinct) so the query is defined
    at every sf.  One hash pass + a K-row ordered head — the exact
    count shares the same shuffled distinct."""
    h = _kmv_hashes(_t(spark, sf_dir, "events"))
    n = h.agg(F.count(F.lit(1)).alias("n_exact"))
    return _kmv_finish(h, n)


kmv_distinct_users.__doc__ = kmv_distinct_users.__doc__.format(k=_KMV_K)

_KMV_EST = (
    f"CAST(rn - 1 AS DOUBLE) * CAST({_TWO60} AS DOUBLE) / CAST(h AS DOUBLE)"
)

KMV_SQL = """
WITH h AS (SELECT DISTINCT {h} AS h FROM events),
n AS (SELECT count(*)::BIGINT AS n_exact FROM h),
ranked AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h)
SELECT rn::BIGINT AS k_used, h AS kth_hash,
       {est} AS kmv_estimate,
       n_exact AS exact_distinct,
       {rel} AS rel_err
FROM ranked CROSS JOIN n
WHERE rn = least({k}, n_exact)
""".format(
    h=stable_hash64_sql("'kmv:' || user_id::VARCHAR"),
    k=_KMV_K,
    est=_FL6_SQL.format(x=_KMV_EST),
    rel=_FL6_SQL.format(
        x=f"(({_KMV_EST}) - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)"
    ),
)


# --------------------------------------------- log2 value histogram
#
# DDSketch-style relative-error quantiles with gamma = 2, kept in pure
# integer space: bucket = bitlength(cents) (cents = value*100 rounded
# once, identically, on both engines), so no transcendental log sits
# on a cross-engine boundary.  Quantile markers follow from the exact
# cumulative counts.


def _log2_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side (bucket) rows for positive event values — the sketch's
    ingest kernel, shared by the batch and streaming faces."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    # filter on CENTS, not the raw value: 0 < value < 0.005 rounds to
    # cents = 0, and bucket 1's reported bounds [1, 1] would not
    # contain it — sub-half-cent rows are out of the sketch's domain
    return (
        ev.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(F.length(F.bin(F.col("cents"))).cast("int").alias("bucket"))
    )


def _log2_finish(hist: DataFrame) -> DataFrame:
    """Finish a (bucket, n) histogram into the quantile-marked output —
    identical for the batch sketch and the streaming count-merge."""
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    h = hist.withColumn("cum_n", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(wall)
    )

    def marker(pct_num: int, pct_den: int) -> F.Column:
        thr = F.expr(f"(total * {pct_num} + {pct_den} - 1) DIV {pct_den}")
        return (F.col("cum_n") >= thr) & (F.col("cum_n") - F.col("n") < thr)

    return h.select(
        "bucket",
        # PySpark's shiftleft() helper needs a literal bit count; the
        # SQL form accepts a column expression on both engines.
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)").alias("lo_cents"),
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1").alias("hi_cents"),
        F.col("n").cast("bigint").alias("n"),
        F.col("cum_n").cast("bigint").alias("cum_n"),
        marker(1, 2).alias("is_q50"),
        marker(95, 100).alias("is_q95"),
        marker(99, 100).alias("is_q99"),
    )


def log2_histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, lo_cents, hi_cents, n, cum_n, is_q50, is_q95, is_q99)
    — power-of-two histogram of positive event values with exact
    quantile-containing-bucket flags (DDSketch with gamma=2, kept in
    pure integer space — bucket = bitlength(cents) — so no
    transcendental log sits on a cross-engine boundary).  One map-side
    bucket pass, a ~30-row ordered window."""
    hist = _log2_buckets(spark, sf_dir).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return _log2_finish(hist)


def streaming_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-merge face of the log2 sketch: per-micro-batch bucket
    counts written idempotently (batch_id-partitioned dynamic
    overwrite), merged by groupBy(bucket).sum — histogram counts are
    fully mergeable, so the result is IDENTICAL to the batch sketch
    and shares its oracle.  Shuffle per batch ∝ distinct buckets
    (~30 rows), not events."""
    from k_means_hadoop_spark.session import scratch_dir

    ev = _t(spark, sf_dir, "events").select("value")
    src = scratch_dir("log2_src")
    store = scratch_dir("log2_store")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        (
            batch_df.select(cents.alias("cents"))
            .filter(F.col("cents") > 0)
            .select(F.length(F.bin(F.col("cents"))).cast("int").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", scratch_dir("log2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(store)
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
    )
    return _log2_finish(merged)


LOG2_HIST_SQL = """
WITH c0 AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
b AS (SELECT length(bin(cents))::INT AS bucket FROM c0 WHERE cents > 0),
hist AS (SELECT bucket, count(*)::BIGINT AS n FROM b GROUP BY 1),
h AS (SELECT *,
        sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_n,
        sum(n) OVER () AS total
      FROM hist)
SELECT bucket,
       (1::BIGINT << (bucket - 1)) AS lo_cents,
       (1::BIGINT << bucket) - 1 AS hi_cents,
       n, cum_n::BIGINT AS cum_n,
       (cum_n >= (total * 1 + 1) // 2 AND cum_n - n < (total * 1 + 1) // 2) AS is_q50,
       (cum_n >= (total * 95 + 99) // 100 AND cum_n - n < (total * 95 + 99) // 100) AS is_q95,
       (cum_n >= (total * 99 + 99) // 100 AND cum_n - n < (total * 99 + 99) // 100) AS is_q99
FROM h
"""


# --------------------------------------------- exact percentiles
#
# EXACT interpolated percentiles (the percentile_cont semantics) per
# event type, as a VALUE oracle — the exact complement of the
# approx_percentile contract entries.  With cents c_(1..n) sorted and
# index i = (n-1)p/100 = k + r/100 (k, r exact integers), the result
# is (c_(k+1)·(100-r) + c_(k+2)·r) / 100 — exact integer arithmetic
# and ONE division per output cell.

_PCTS = (25, 50, 75, 90)


def exact_percentiles_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, p, pct_value) — exact interpolated percentiles of
    event value.  One type-partitioned sort window; the percentile
    picks are two positional joins against k+1/k+2 — type-grain rows
    only after the first window."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("c", "event_id")
    ranked = ev.select(
        "event_type", "c", F.row_number().over(w).cast("bigint").alias("rn")
    )
    n = ranked.groupBy("event_type").agg(F.max("rn").alias("n"))
    picks = (
        n.withColumn("p", F.explode(F.array(*[F.lit(p) for p in _PCTS])))
        .withColumn("k", F.expr("(n - 1) * p DIV 100"))
        .withColumn("r", F.expr("(n - 1) * p % 100"))
    )
    lo = ranked.select(
        F.col("event_type").alias("et_lo"),
        F.col("rn").alias("rn_lo"),
        F.col("c").alias("c_lo"),
    )
    hi = ranked.select(
        F.col("event_type").alias("et_hi"),
        F.col("rn").alias("rn_hi"),
        F.col("c").alias("c_hi"),
    )
    j = (
        picks.join(
            lo,
            (F.col("event_type") == F.col("et_lo"))
            & (F.col("rn_lo") == F.col("k") + 1),
        )
        .join(
            hi,
            (F.col("event_type") == F.col("et_hi"))
            & (F.col("rn_hi") == F.least(F.col("k") + 2, F.col("n"))),
        )
    )
    # cents -> currency: (lo*(100-r) + hi*r) / 100 is interpolated
    # cents; a further /100 converts to value units — ONE combined
    # division by 10000 of an exact integer
    val = (
        "CAST(c_lo * (100 - r) + c_hi * r AS DOUBLE)"
        " / CAST(10000 AS DOUBLE)"
    )
    return j.select(
        "event_type",
        F.col("p").cast("int").alias("p"),
        _fl6(F.expr(val)).alias("pct_value"),
    )


EXACT_PCT_SQL = """
WITH ev AS (SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                   event_id
            FROM events),
ranked AS (SELECT event_type, c,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY c, event_id) AS rn
           FROM ev),
n AS (SELECT event_type, max(rn)::BIGINT AS n FROM ranked GROUP BY 1),
picks AS (SELECT event_type, n, p,
                 (n - 1) * p // 100 AS k,
                 (n - 1) * p % 100 AS r
          FROM n, (SELECT unnest([{plist}]) AS p)),
j AS (SELECT picks.event_type, p, r, n, k,
             lo.c AS c_lo, hi.c AS c_hi
      FROM picks
      JOIN ranked lo ON lo.event_type = picks.event_type AND lo.rn = k + 1
      JOIN ranked hi ON hi.event_type = picks.event_type
                    AND hi.rn = least(k + 2, n))
SELECT event_type, p::INT AS p,
       {val} AS pct_value
FROM j
""".format(
    plist=", ".join(str(p) for p in _PCTS),
    val=_FL6_SQL.format(
        x="CAST(c_lo * (100 - r) + c_hi * r AS DOUBLE) / CAST(10000 AS DOUBLE)"
    ),
)


# --------------------------------------------- two-way ANOVA
#
# Two-factor decomposition (event_type × day-of-week) of event value
# with interaction, using the classical unweighted sums formulas (the
# proportional-frequencies assumption is stated, not hidden):
#   SS_A = Σ_a S_a²/n_a - C,  SS_cells = Σ_ab S_ab²/n_ab - C,
#   SS_AB = SS_cells - SS_A - SS_B,  SS_err = SS_tot - SS_cells.
# Each Σ over groups of S²/n terms (doubles with engine-varying group
# order) runs as the ORDERED fold over the key-sorted term list — the
# anova_event_values pattern — so both engines execute the identical
# IEEE addition chain.


def anova_two_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_tot, a_levels, b_levels, ss_a, ss_b, ss_ab, ss_err,
    f_a, f_b, f_ab) — two-way ANOVA of value across event_type x dow.
    One cell-grain aggregate over the corpus; three <= 35-element
    ordered folds."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
        ).alias("b"),
        F.col("value").cast("decimal(10,6)").alias("x"),
    )
    cells = ev.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_ab"), F.sum("x").alias("s_ab")
    )
    term = "CAST(s_ab AS DOUBLE) * CAST(s_ab AS DOUBLE) / CAST(n_ab AS DOUBLE)"
    cells = cells.withColumn("term", F.expr(term))

    def fold(df: DataFrame, keys: list[str], out: str) -> DataFrame:
        return df.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(*keys, "term"))),
                F.lit(0.0),
                lambda acc, s: acc + s["term"],
            ).alias(out),
            F.count(F.lit(1)).alias(f"k_{out}"),
        )

    # marginals share the same exact-decimal sums regrouped
    a_m = ev.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_ab"), F.sum("x").alias("s_ab")
    ).withColumn("term", F.expr(term))
    b_m = ev.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_ab"), F.sum("x").alias("s_ab")
    ).withColumn("term", F.expr(term))
    g = ev.agg(
        F.count(F.lit(1)).alias("n_tot"),
        F.sum("x").alias("s_tot"),
        F.sum(F.col("x") * F.col("x")).alias("q_tot"),
    )
    f_cells = fold(cells, ["a", "b"], "sum_cells")
    f_a = fold(a_m, ["a"], "sum_a")
    f_b = fold(b_m, ["b"], "sum_b")
    j = (
        g.crossJoin(F.broadcast(f_cells))
        .crossJoin(F.broadcast(f_a))
        .crossJoin(F.broadcast(f_b))
    )
    finals = {
        "c_corr": "CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)",
        "ss_a": "sum_a - c_corr",
        "ss_b": "sum_b - c_corr",
        "ss_cells": "sum_cells - c_corr",
        "ss_ab": "ss_cells - ss_a - ss_b",
        "ss_tot": "CAST(q_tot AS DOUBLE) - c_corr",
        "ss_err": "ss_tot - ss_cells",
        "df_a": "k_sum_a - 1",
        "df_b": "k_sum_b - 1",
        "df_ab": "(k_sum_a - 1) * (k_sum_b - 1)",
        "df_err": "n_tot - k_sum_cells",
        "f_a": "(ss_a / df_a) / (ss_err / df_err)",
        "f_b": "(ss_b / df_b) / (ss_err / df_err)",
        "f_ab": "(ss_ab / df_ab) / (ss_err / df_err)",
    }
    for alias, expr in finals.items():
        j = j.withColumn(alias, F.expr(expr))
    return j.select(
        F.col("n_tot").cast("bigint").alias("n_tot"),
        F.col("k_sum_a").cast("int").alias("a_levels"),
        F.col("k_sum_b").cast("int").alias("b_levels"),
        _fl6(F.col("ss_a")).alias("ss_a"),
        _fl6(F.col("ss_b")).alias("ss_b"),
        _fl6(F.col("ss_ab")).alias("ss_ab"),
        _fl6(F.col("ss_err")).alias("ss_err"),
        _fl6(F.col("f_a")).alias("f_a"),
        _fl6(F.col("f_b")).alias("f_b"),
        _fl6(F.col("f_ab")).alias("f_ab"),
    )


def _anova2_sql() -> str:
    term = "CAST(s_ab AS DOUBLE) * CAST(s_ab AS DOUBLE) / CAST(n_ab AS DOUBLE)"
    finals = (
        "CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS c_corr"
    )
    return f"""
WITH ev AS (SELECT event_type AS a,
                   (ts::DATE - DATE '2024-01-01') % 7 AS b,
                   CAST(value AS DECIMAL(10,6)) AS x
            FROM events),
cells AS (SELECT a, b, count(*)::BIGINT AS n_ab, SUM(x) AS s_ab FROM ev GROUP BY 1, 2),
am AS (SELECT a, count(*)::BIGINT AS n_ab, SUM(x) AS s_ab FROM ev GROUP BY 1),
bm AS (SELECT b, count(*)::BIGINT AS n_ab, SUM(x) AS s_ab FROM ev GROUP BY 1),
fc AS (SELECT count(*)::BIGINT AS k_sum_cells,
              list_reduce(list_prepend(0.0, list_transform(
                list_sort(list({{'a': a, 'b': b, 'term': {term}}})),
                s -> s.term)), (p, q) -> p + q) AS sum_cells
       FROM cells),
fa AS (SELECT count(*)::BIGINT AS k_sum_a,
              list_reduce(list_prepend(0.0, list_transform(
                list_sort(list({{'a': a, 'term': {term}}})),
                s -> s.term)), (p, q) -> p + q) AS sum_a
       FROM am),
fb AS (SELECT count(*)::BIGINT AS k_sum_b,
              list_reduce(list_prepend(0.0, list_transform(
                list_sort(list({{'b': b, 'term': {term}}})),
                s -> s.term)), (p, q) -> p + q) AS sum_b
       FROM bm),
g AS (SELECT count(*)::BIGINT AS n_tot, SUM(x) AS s_tot, SUM(x * x) AS q_tot FROM ev),
j AS (SELECT *, {finals}
      FROM g CROSS JOIN fc CROSS JOIN fa CROSS JOIN fb),
s1 AS (SELECT *, sum_a - c_corr AS ss_a, sum_b - c_corr AS ss_b,
              sum_cells - c_corr AS ss_cells,
              CAST(q_tot AS DOUBLE) - c_corr AS ss_tot
       FROM j),
s2 AS (SELECT *, ss_cells - ss_a - ss_b AS ss_ab, ss_tot - ss_cells AS ss_err,
              k_sum_a - 1 AS df_a, k_sum_b - 1 AS df_b,
              (k_sum_a - 1) * (k_sum_b - 1) AS df_ab,
              n_tot - k_sum_cells AS df_err
       FROM s1)
SELECT n_tot, k_sum_a::INT AS a_levels, k_sum_b::INT AS b_levels,
       {_FL6_SQL.format(x="ss_a")} AS ss_a,
       {_FL6_SQL.format(x="ss_b")} AS ss_b,
       {_FL6_SQL.format(x="ss_ab")} AS ss_ab,
       {_FL6_SQL.format(x="ss_err")} AS ss_err,
       {_FL6_SQL.format(x="(ss_a / df_a) / (ss_err / df_err)")} AS f_a,
       {_FL6_SQL.format(x="(ss_b / df_b) / (ss_err / df_err)")} AS f_b,
       {_FL6_SQL.format(x="(ss_ab / df_ab) / (ss_err / df_err)")} AS f_ab
FROM s2
"""


# --------------------------------------------- ridge regression
#
# Closed-form ridge (Tikhonov) fit of l_extendedprice on l_quantity +
# l_discount beside the unpenalized OLS solution — the regularization
# story for the closed-form linear-model family: the SAME one-pass
# exact-decimal Gram sums (ols_price_model's), with lambda added to
# the two diagonal slope entries (the intercept is not penalized)
# before the shared-literal-text Cramer solve.  k small => only the
# Gram matrix crosses the network.

_RIDGE_LAMBDA = 1000.0


def _ridge_formulas() -> dict[str, str]:
    """The OLS Cramer fragments with the penalized diagonal — derived
    by token substitution so the algebra provably matches
    ols_price_model's pinned formulas."""
    from k_means_hadoop_spark.operators.analytics import (
        _OLS_B0,
        _OLS_B1,
        _OLS_B2,
        _OLS_DET,
    )

    def pen(f: str) -> str:
        return f.replace("s11", "(s11 + lam)").replace("s22", "(s22 + lam)")

    return {
        "det_r": pen(_OLS_DET),
        "r0": pen(_OLS_B0).replace("/ det", "/ det_r"),
        "r1": pen(_OLS_B1).replace("/ det", "/ det_r"),
        "r2_": pen(_OLS_B2).replace("/ det", "/ det_r"),
        "det": _OLS_DET,
        "b0": _OLS_B0,
        "b1": _OLS_B1,
        "b2": _OLS_B2,
    }


def ridge_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_rows, lam, ridge_intercept, ridge_beta_quantity,
    ridge_beta_discount, ols_beta_quantity, ols_beta_discount) — the
    ridge fit at lambda={lam} next to OLS, from ONE Gram aggregate."""
    from k_means_hadoop_spark.operators.analytics import (
        _OLS_COLS,
        _OLS_PRODS,
        _dec14,
    )
    from k_means_hadoop_spark.operators.relational import _dec

    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("nb")]
    for alias, c in _OLS_COLS.items():
        aggs.append(F.sum(_dec(c)).alias(f"{alias}_d"))
    for alias, (a, b) in _OLS_PRODS.items():
        aggs.append(F.sum(_dec14(a) * _dec14(b)).alias(f"{alias}_d"))
    s = li.agg(*aggs).select(
        F.col("nb"),
        F.col("nb").cast("double").alias("n"),
        F.lit(_RIDGE_LAMBDA).alias("lam"),
        *[
            F.col(f"{alias}_d").cast("double").alias(alias)
            for alias in (*_OLS_COLS, *_OLS_PRODS)
        ],
    )
    fx = _ridge_formulas()
    m = s.withColumn("det_r", F.expr(fx["det_r"])).withColumn(
        "det", F.expr(fx["det"])
    )
    return (
        m.withColumn("rb0", F.expr(fx["r0"]))
        .withColumn("rb1", F.expr(fx["r1"]))
        .withColumn("rb2", F.expr(fx["r2_"]))
        .withColumn("ob1", F.expr(fx["b1"]))
        .withColumn("ob2", F.expr(fx["b2"]))
        .select(
            F.col("nb").alias("n_rows"),
            F.col("lam"),
            F.round("rb0", 6).alias("ridge_intercept"),
            F.round("rb1", 6).alias("ridge_beta_quantity"),
            F.round("rb2", 6).alias("ridge_beta_discount"),
            F.round("ob1", 6).alias("ols_beta_quantity"),
            F.round("ob2", 6).alias("ols_beta_discount"),
        )
    )


ridge_price_model.__doc__ = ridge_price_model.__doc__.format(
    lam=_RIDGE_LAMBDA
)


def _ridge_sql() -> str:
    from k_means_hadoop_spark.operators.analytics import (
        _OLS_COLS,
        _OLS_PRODS,
    )

    fx = _ridge_formulas()
    sum_exprs = ["count(*) AS nb", "CAST(count(*) AS DOUBLE) AS n"]
    for alias, c in _OLS_COLS.items():
        sum_exprs.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) AS {alias}"
        )
    for alias, (a, b) in _OLS_PRODS.items():
        sum_exprs.append(
            f"CAST(SUM(CAST({a} AS DECIMAL(24,4))"
            f" * CAST({b} AS DECIMAL(14,4))) AS DOUBLE) AS {alias}"
        )
    return f"""
WITH sums AS (SELECT {', '.join(sum_exprs)},
                     CAST({_RIDGE_LAMBDA} AS DOUBLE) AS lam
              FROM lineitem),
d AS (SELECT *, {fx['det_r']} AS det_r, {fx['det']} AS det FROM sums),
c AS (SELECT *, {fx['r0']} AS rb0, {fx['r1']} AS rb1, {fx['r2_']} AS rb2,
             {fx['b1']} AS ob1, {fx['b2']} AS ob2
      FROM d)
SELECT nb AS n_rows, lam,
       round(rb0, 6) AS ridge_intercept,
       round(rb1, 6) AS ridge_beta_quantity,
       round(rb2, 6) AS ridge_beta_discount,
       round(ob1, 6) AS ols_beta_quantity,
       round(ob2, 6) AS ols_beta_discount
FROM c
"""


# --------------------------------------------- logistic Newton step
#
# One Newton-Raphson step from beta = 0 for P(lang = 'en' | 1, chars,
# words): at beta = 0 the weights are the constant 1/4, so the step has
# the CLOSED FORM beta1 = 2 (X'X)^-1 X'(2y - 1) — the same 3x3 Gram
# matrix as OLS (shared Cramer text) and an exact-integer gradient
# (2y - 1 in {-1, +1}).  This is the distributed shape of IRLS: one
# Gram + gradient aggregate per step, constant-size solve.


def logistic_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_docs, n_pos, b0, b_chars, b_words) — the first IRLS
    step of the lang='en' logistic model.  One exact-integer aggregate
    over the corpus; everything after is shared literal arithmetic."""
    from k_means_hadoop_spark.operators.analytics import (
        _OLS_B0,
        _OLS_B1,
        _OLS_B2,
        _OLS_DET,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x1"),
        F.expr("size(regexp_extract_all(text, '[^ ]+', 0))").alias("x2"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    g = d.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("y").alias("n_pos"),
        F.sum("x1").alias("sx1_i"),
        F.sum("x2").alias("sx2_i"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x1")).alias("s11_i"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x2")).alias("s12_i"),
        F.sum(F.col("x2").cast("decimal(38,0)") * F.col("x2")).alias("s22_i"),
        F.sum(2 * F.col("y") - 1).alias("g0_i"),
        F.sum(F.col("x1") * (2 * F.col("y") - 1)).alias("g1_i"),
        F.sum(F.col("x2") * (2 * F.col("y") - 1)).alias("g2_i"),
    )
    s = g.select(
        "nb",
        "n_pos",
        F.col("nb").cast("double").alias("n"),
        F.col("sx1_i").cast("double").alias("sx1"),
        F.col("sx2_i").cast("double").alias("sx2"),
        F.col("s11_i").cast("double").alias("s11"),
        F.col("s12_i").cast("double").alias("s12"),
        F.col("s22_i").cast("double").alias("s22"),
        F.col("g0_i").cast("double").alias("sy"),
        F.col("g1_i").cast("double").alias("s1y"),
        F.col("g2_i").cast("double").alias("s2y"),
    )
    # beta = 2 * (X'X)^-1 X'(2y-1): reuse the OLS Cramer text (its
    # "y-vector" sums are exactly our gradient sums), then double
    m = s.withColumn("det", F.expr(_OLS_DET))
    c = (
        m.withColumn("b0", F.expr(f"2 * ({_OLS_B0})"))
        .withColumn("b1", F.expr(f"2 * ({_OLS_B1})"))
        .withColumn("b2", F.expr(f"2 * ({_OLS_B2})"))
    )
    return c.select(
        F.col("nb").cast("bigint").alias("n_docs"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        _fl6(F.col("b0")).alias("b0"),
        _fl6(F.col("b1")).alias("b_chars"),
        _fl6(F.col("b2")).alias("b_words"),
    )


def _logistic_sql() -> str:
    from k_means_hadoop_spark.operators.analytics import (
        _OLS_B0,
        _OLS_B1,
        _OLS_B2,
        _OLS_DET,
    )

    return """
WITH d AS (SELECT n_chars AS x1,
                  len(regexp_extract_all(text, '[^ ]+')) AS x2,
                  (lang = 'en')::INT AS y
           FROM documents),
g AS (SELECT count(*)::BIGINT AS nb, sum(y)::BIGINT AS n_pos,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS sx1,
             CAST(sum(x2) AS DOUBLE) AS sx2,
             CAST(sum(x1::DECIMAL(38,0) * x1) AS DOUBLE) AS s11,
             CAST(sum(x1::DECIMAL(38,0) * x2) AS DOUBLE) AS s12,
             CAST(sum(x2::DECIMAL(38,0) * x2) AS DOUBLE) AS s22,
             CAST(sum(2 * y - 1) AS DOUBLE) AS sy,
             CAST(sum(x1 * (2 * y - 1)) AS DOUBLE) AS s1y,
             CAST(sum(x2 * (2 * y - 1)) AS DOUBLE) AS s2y
      FROM d),
m AS (SELECT *, {det} AS det FROM g),
c AS (SELECT *, 2 * ({b0}) AS b0, 2 * ({b1}) AS b1, 2 * ({b2}) AS b2 FROM m)
SELECT nb AS n_docs, n_pos,
       {fb0} AS b0,
       {fb1} AS b_chars,
       {fb2} AS b_words
FROM c
""".format(
        det=_OLS_DET,
        b0=_OLS_B0,
        b1=_OLS_B1,
        b2=_OLS_B2,
        fb0=_FL6_SQL.format(x="b0"),
        fb1=_FL6_SQL.format(x="b1"),
        fb2=_FL6_SQL.format(x="b2"),
    )


# --------------------------------------------- Cronbach's alpha
#
# Internal-consistency reliability of a k=3 "quality item" battery
# (chars, words, distinct words) per document:
#   alpha = k/(k-1) * (1 - SUM_i var_i / var_total)
# with population variances; the variance RATIO is one division of
# exact integers: SUM_i (n*Qi - Si^2)  /  (n*Qt - St^2).


def cronbach_alpha_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_docs, k_items, var_ratio, alpha) — reliability of the
    3-item document quality battery.  One exact-integer aggregate."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("i1"),
        F.expr("size(regexp_extract_all(text, '[^ ]+', 0))").alias("i2"),
        F.expr(
            "size(array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0)))"
        ).alias("i3"),
    )
    d = d.withColumn("t", F.col("i1") + F.col("i2") + F.col("i3"))

    def d38(c):
        return c.cast("decimal(38,0)")

    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(c).alias(f"s_{c}") for c in ("i1", "i2", "i3", "t")],
        *[
            F.sum(d38(F.col(c)) * d38(F.col(c))).alias(f"q_{c}")
            for c in ("i1", "i2", "i3", "t")
        ],
    )
    num = (
        "(CAST(n AS DECIMAL(38,0)) * q_i1 - CAST(s_i1 AS DECIMAL(38,0)) * s_i1)"
        " + (CAST(n AS DECIMAL(38,0)) * q_i2 - CAST(s_i2 AS DECIMAL(38,0)) * s_i2)"
        " + (CAST(n AS DECIMAL(38,0)) * q_i3 - CAST(s_i3 AS DECIMAL(38,0)) * s_i3)"
    )
    den = "(CAST(n AS DECIMAL(38,0)) * q_t - CAST(s_t AS DECIMAL(38,0)) * s_t)"
    ratio = f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)"
    return g.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.lit(3).cast("int").alias("k_items"),
        _fl6(F.expr(ratio)).alias("var_ratio"),
        _fl6(
            F.expr(
                f"CAST(3 AS DOUBLE) / CAST(2 AS DOUBLE)"
                f" * (CAST(1 AS DOUBLE) - ({ratio}))"
            )
        ).alias("alpha"),
    )


_CRONBACH_NUM = (
    "(CAST(n AS DECIMAL(38,0)) * q_i1 - CAST(s_i1 AS DECIMAL(38,0)) * s_i1)"
    " + (CAST(n AS DECIMAL(38,0)) * q_i2 - CAST(s_i2 AS DECIMAL(38,0)) * s_i2)"
    " + (CAST(n AS DECIMAL(38,0)) * q_i3 - CAST(s_i3 AS DECIMAL(38,0)) * s_i3)"
)
_CRONBACH_DEN = (
    "(CAST(n AS DECIMAL(38,0)) * q_t - CAST(s_t AS DECIMAL(38,0)) * s_t)"
)
_CRONBACH_RATIO = (
    f"CAST({_CRONBACH_NUM} AS DOUBLE) / CAST({_CRONBACH_DEN} AS DOUBLE)"
)

CRONBACH_SQL = """
WITH d AS (SELECT n_chars AS i1,
                  len(regexp_extract_all(text, '[^ ]+')) AS i2,
                  len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS i3
           FROM documents),
dt AS (SELECT *, i1 + i2 + i3 AS t FROM d),
g AS (SELECT count(*)::BIGINT AS n,
             sum(i1)::BIGINT AS s_i1, sum(i2)::BIGINT AS s_i2,
             sum(i3)::BIGINT AS s_i3, sum(t)::BIGINT AS s_t,
             sum(i1::DECIMAL(38,0) * i1) AS q_i1,
             sum(i2::DECIMAL(38,0) * i2) AS q_i2,
             sum(i3::DECIMAL(38,0) * i3) AS q_i3,
             sum(t::DECIMAL(38,0) * t) AS q_t
      FROM dt)
SELECT n AS n_docs, 3::INT AS k_items,
       {ratio} AS var_ratio,
       {alpha} AS alpha
FROM g
""".format(
    ratio=_FL6_SQL.format(x=_CRONBACH_RATIO),
    alpha=_FL6_SQL.format(
        x="CAST(3 AS DOUBLE) / CAST(2 AS DOUBLE)"
        f" * (CAST(1 AS DOUBLE) - ({_CRONBACH_RATIO}))"
    ),
)


# --------------------------------------------- Kaplan-Meier survival
#
# Right-censored survival curve of user "lifetimes" (days between
# first and last activity; users still active in the final week of the
# observation window are CENSORED, not churned).  The KM estimator
# S(t) = Π_{t_i <= t} (1 - d_i/n_i) is a cumulative PRODUCT — computed
# as an ordered fold over the sorted per-time factor list (the
# anova/ewma pattern: Spark aggregate(array_sort(collect_list(...)))
# ≡ DuckDB list_reduce(list_sort(list(...)))), so both engines run the
# IDENTICAL IEEE multiplication chain.  Factors are single divisions
# of exact integers ((n_i - d_i)/n_i); n_at_risk is an exact suffix
# sum.

_KM_CENSOR_CUTOFF = "2024-01-24"  # last-active >= this => censored


def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(duration, n_risk, d_churn, n_censored, km_survival) — the user
    retention survival curve with right censoring.  One user-grain
    agg, then everything is duration-grain (<= observation days)."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    life = users.select(
        F.datediff(F.col("d1"), F.col("d0")).alias("duration"),
        (F.col("d1") < F.lit(_KM_CENSOR_CUTOFF).cast("date"))
        .cast("int")
        .alias("churned"),
    )
    per_t = life.groupBy("duration").agg(
        F.count(F.lit(1)).alias("n_t"),
        F.sum("churned").alias("d_churn"),
    )
    w_desc = Window.orderBy(F.col("duration").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = per_t.withColumn("n_risk", F.sum("n_t").over(w_desc))
    # per-time factor: ONE division of exact integers
    fac = at_risk.withColumn(
        "factor",
        (F.col("n_risk") - F.col("d_churn")).cast("double")
        / F.col("n_risk").cast("double"),
    )
    # the full sorted (duration, factor) list as a one-row broadcast;
    # per-row S(t) folds the prefix <= t in sorted order
    flist = fac.agg(
        F.array_sort(F.collect_list(F.struct("duration", "factor"))).alias(
            "fl"
        )
    )
    km = (
        fac.crossJoin(F.broadcast(flist))
        .withColumn(
            "km_raw",
            F.aggregate(
                F.filter(
                    F.col("fl"), lambda s: s["duration"] <= F.col("duration")
                ),
                F.lit(1.0),
                lambda acc, s: acc * s["factor"],
            ),
        )
    )
    return km.select(
        F.col("duration").cast("int").alias("duration"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_churn").cast("bigint").alias("d_churn"),
        (F.col("n_t") - F.col("d_churn")).cast("bigint").alias("n_censored"),
        _fl6(F.col("km_raw")).alias("km_survival"),
    )


KM_SQL = """
WITH users AS (SELECT user_id, min(ts::DATE) AS d0, max(ts::DATE) AS d1
               FROM events GROUP BY 1),
life AS (SELECT (d1 - d0) AS duration,
                (d1 < DATE '{cutoff}')::INT AS churned
         FROM users),
per_t AS (SELECT duration, count(*)::BIGINT AS n_t,
                 sum(churned)::BIGINT AS d_churn
          FROM life GROUP BY 1),
at_risk AS (SELECT *, sum(n_t) OVER (ORDER BY duration DESC
                                     ROWS UNBOUNDED PRECEDING) AS n_risk
            FROM per_t),
fac AS (SELECT *,
          CAST(n_risk - d_churn AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
        FROM at_risk),
flist AS (SELECT list_sort(list({{'duration': duration, 'factor': factor}})) AS fl
          FROM fac),
km AS (SELECT fac.*,
         list_reduce(
           list_prepend(1.0,
             list_transform(
               list_filter(fl, s -> s.duration <= fac.duration),
               s -> s.factor)),
           (a, b) -> a * b) AS km_raw
       FROM fac CROSS JOIN flist)
SELECT duration::INT AS duration, n_risk::BIGINT AS n_risk, d_churn,
       (n_t - d_churn)::BIGINT AS n_censored,
       {km} AS km_survival
FROM km
""".format(cutoff=_KM_CENSOR_CUTOFF, km=_FL6_SQL.format(x="km_raw"))


# --------------------------------------------- Laplace mechanism demo
#
# Differential-privacy-SHAPED noisy counts (the Laplace mechanism with
# sensitivity 1 at epsilon = 0.5) over per-language document counts.
# The "noise" is derived from the deterministic portable hash via the
# inverse CDF — reproducible on purpose (this demonstrates the
# mechanism's plumbing and calibration, NOT a private release; a real
# release needs a fresh entropy source, as the docstring states).

_DP_EPS_NUM, _DP_EPS_DEN = 1, 2  # epsilon = 0.5


def dp_noisy_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_true, noise, n_noisy) — Laplace(1/eps) noisy counts per
    language.  NOT a private release (the noise is a deterministic
    hash so the oracle can replay it); the mechanism, scale
    calibration, and inverse-CDF transform are the real thing."""
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_true"))
    # u in (0,1): hash/2^60; Laplace inverse CDF at scale b = 1/eps:
    # noise = -b * sign(u - 0.5) * ln(1 - 2*|u - 0.5|).  The ln is the
    # one transcendental in this module — safe here because u depends
    # ONLY on the 5 fixed language strings (not on sf or data volume),
    # so the noise values are constants: having hash-matched once they
    # match forever, and the 6dp floor absorbs any last-ulp libm
    # difference away from a boundary.
    u_spark = stable_hash64(F.concat(F.lit("dp:"), F.col("lang"))).cast(
        "double"
    ) / F.lit(float(_TWO60))
    b = float(_DP_EPS_DEN) / float(_DP_EPS_NUM)
    noise = (
        -F.lit(b)
        * F.signum(u_spark - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u_spark - F.lit(0.5)))
    )
    return g.select(
        "lang",
        F.col("n_true").cast("bigint").alias("n_true"),
        _fl6(noise).alias("noise"),
        _fl6(F.col("n_true").cast("double") + noise).alias("n_noisy"),
    )


DP_NOISY_SQL = """
WITH g AS (SELECT lang, count(*)::BIGINT AS n_true FROM documents GROUP BY 1),
u AS (SELECT *,
        CAST({h} AS DOUBLE) / CAST({two60} AS DOUBLE) AS uu
      FROM g),
nz AS (SELECT *,
         -CAST({b} AS DOUBLE) * sign(uu - 0.5)
           * ln(1.0 - 2.0 * abs(uu - 0.5)) AS noise
       FROM u)
SELECT lang, n_true,
       {noise} AS noise,
       {noisy} AS n_noisy
FROM nz
""".format(
    h=stable_hash64_sql("'dp:' || lang"),
    two60=_TWO60,
    b=float(_DP_EPS_DEN) / float(_DP_EPS_NUM),
    noise=_FL6_SQL.format(x="noise"),
    noisy=_FL6_SQL.format(x="CAST(n_true AS DOUBLE) + noise"),
)


# --------------------------------------------- Benford first digits
#
# First-significant-digit audit of order totals vs Benford's law —
# the classic fabricated-data screen.  The digit comes from the
# integer cents' STRING form (integer-to-string is identical across
# engines; double-to-string is not), and the expected probabilities
# log10(1 + 1/d) are shared 16-digit literals so no transcendental is
# evaluated on either engine.  Each digit row carries its own exact
# chi-square term — no cross-row float sum is emitted.

_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.1760912590556813",
    3: "0.1249387366082999",
    4: "0.0969100130080564",
    5: "0.0791812460476248",
    6: "0.0669467896306132",
    7: "0.0579919469776868",
    8: "0.0511525224473813",
    9: "0.0457574905606751",
}


def benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(digit, n_obs, expected_p, obs_p, chi2_term) — per-digit Benford
    deviation of o_totalprice.  One map pass + a 9-row reduce."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    d = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    p_expr = "CASE digit " + " ".join(
        f"WHEN {k} THEN CAST({v} AS DOUBLE)" for k, v in _BENFORD_P.items()
    ) + " END"
    chi = (
        "(CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ({p}))"
        " * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ({p}))"
        " / (CAST(n AS DOUBLE) * ({p}))"
    ).format(p=p_expr)
    return g.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.expr(p_expr).alias("expected_p"),
        _fl6(F.expr("CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)")).alias(
            "obs_p"
        ),
        _fl6(F.expr(chi)).alias("chi2_term"),
    )


def _benford_sql() -> str:
    p_expr = "CASE digit " + " ".join(
        f"WHEN {k} THEN CAST({v} AS DOUBLE)" for k, v in _BENFORD_P.items()
    ) + " END"
    chi = (
        "(CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ({p}))"
        " * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ({p}))"
        " / (CAST(n AS DOUBLE) * ({p}))"
    ).format(p=p_expr)
    return """
WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
           FROM orders WHERE o_totalprice > 0),
g AS (SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY 1),
tot AS (SELECT count(*)::BIGINT AS n FROM d)
SELECT digit, n_obs,
       {p} AS expected_p,
       {obs} AS obs_p,
       {chi} AS chi2_term
FROM g CROSS JOIN tot
""".format(
        p=p_expr,
        obs=_FL6_SQL.format(x="CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)"),
        chi=_FL6_SQL.format(x=chi),
    )


# --------------------------------------------- burstiness
#
# Goh & Barabási (2008) burstiness B = (σ - μ)/(σ + μ) of per-type
# inter-arrival gaps: with D = n·Σg² - (Σg)² (exact DECIMAL(38,0) over
# microsecond gaps), σ/μ = sqrt(D)/Σg, so
#   B = (sqrt(D) - Σg) / (sqrt(D) + Σg)
# — one sqrt of an exact integer, one division.


def burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_gaps, mean_gap_us, burstiness) — how bursty each
    event stream is (B→-1 periodic, 0 Poisson, →1 bursty).  One
    type-partitioned lag window + a type-grain reduce."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        ev.withColumn("g", F.col("us") - F.lag("us").over(w))
        .filter(F.col("g").isNotNull())
    )
    g = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("s"),
        F.sum(
            F.col("g").cast("decimal(38,0)") * F.col("g").cast("decimal(38,0)")
        ).alias("q"),
    )
    dd = (
        "CAST(CAST(n AS DECIMAL(38,0)) * q"
        " - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)"
    )
    b = (
        f"(sqrt({dd}) - CAST(s AS DOUBLE))"
        f" / (sqrt({dd}) + CAST(s AS DOUBLE))"
    )
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        _fl6(F.expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")).alias(
            "mean_gap_us"
        ),
        _fl6(F.expr(b)).alias("burstiness"),
    )


_BURST_D = (
    "CAST(CAST(n AS DECIMAL(38,0)) * q"
    " - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)"
)

BURSTINESS_SQL = """
WITH ev AS (SELECT event_type, epoch_us(ts) AS us, event_id FROM events),
gaps AS (SELECT event_type,
                us - lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id) AS g
         FROM ev),
g AS (SELECT event_type, count(*)::BIGINT AS n, sum(g)::BIGINT AS s,
             sum(g::DECIMAL(38,0) * g::DECIMAL(38,0)) AS q
      FROM gaps WHERE g IS NOT NULL GROUP BY 1)
SELECT event_type, n AS n_gaps,
       {mean} AS mean_gap_us,
       {b} AS burstiness
FROM g
""".format(
    mean=_FL6_SQL.format(x="CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"),
    b=_FL6_SQL.format(
        x=f"(sqrt({_BURST_D}) - CAST(s AS DOUBLE))"
        f" / (sqrt({_BURST_D}) + CAST(s AS DOUBLE))"
    ),
)


# --------------------------------------------- KMV streaming merge


def streaming_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The min-merge face of the KMV sketch: each micro-batch keeps its
    K smallest distinct hashes; the union of per-batch heads provably
    contains the global K smallest (any globally-small value is small
    within its own batch), so re-selecting the K smallest over the
    merged store reproduces the batch sketch EXACTLY — same oracle.
    Per-batch shuffle ∝ K rows."""
    from k_means_hadoop_spark.session import scratch_dir

    ev = _t(spark, sf_dir, "events").select("user_id")
    src = scratch_dir("kmv_src")
    store = scratch_dir("kmv_store")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        h = _kmv_hashes(batch_df)
        (
            h.withColumn("rn", F.row_number().over(Window.orderBy("h")))
            .filter(F.col("rn") <= _KMV_K)
            .select("h")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", scratch_dir("kmv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = spark.read.parquet(store).select("h").distinct()
    # exact count comes from the source (the sketch's verification side,
    # as in the batch face — the store alone cannot know it)
    n = _kmv_hashes(ev).agg(F.count(F.lit(1)).alias("n_exact"))
    return _kmv_finish(merged, n)


# --------------------------------------------- Wilcoxon signed-rank
#
# Paired test (Wilcoxon 1945) of daily clicks vs daily views: ranks of
# |d| are half-integers (exact in double), zero differences drop, and
# the tie-corrected normal approximation is
#   z = (W+ - n(n+1)/4) / sqrt((2n(n+1)(2n+1) - SUM(t³-t)) / 48).


def wilcoxon_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_used, w_plus, w_minus, tie_sum, z) — paired daily
    clicks-vs-views signed-rank test.  Day-grain after one corpus
    partial agg; the rank window runs over <= days rows."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("int")).alias("c"),
            F.sum((F.col("event_type") == "view").cast("int")).alias("v"),
        )
        .select((F.col("c") - F.col("v")).alias("d"))
        .filter(F.col("d") != 0)
        .withColumn("ad", F.abs(F.col("d")))
    )
    w = Window.orderBy("ad")
    ranked = daily.select(
        "d",
        "ad",
        (
            F.rank().over(w).cast("double")
            + (F.count(F.lit(1)).over(Window.partitionBy("ad")) - 1)
            .cast("double")
            / F.lit(2.0)
        ).alias("avg_rank"),
    )
    ties = (
        daily.groupBy("ad")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
                "tie_sum"
            )
        )
    )
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("avg_rank")).otherwise(0.0)).alias(
            "w_plus"
        ),
        F.sum(F.when(F.col("d") < 0, F.col("avg_rank")).otherwise(0.0)).alias(
            "w_minus"
        ),
    ).crossJoin(F.broadcast(ties))
    z = (
        "(w_plus - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / CAST(4 AS DOUBLE))"
        " / sqrt(CAST(2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1)"
        "             - tie_sum AS DOUBLE) / CAST(48 AS DOUBLE))"
    )
    return g.select(
        F.col("n").cast("bigint").alias("n_used"),
        F.col("w_plus"),
        F.col("w_minus"),
        F.col("tie_sum").cast("bigint").alias("tie_sum"),
        _fl6(F.expr(z)).alias("z"),
    )


_WX_Z = (
    "(w_plus - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / CAST(4 AS DOUBLE))"
    " / sqrt(CAST(2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1)"
    "             - tie_sum AS DOUBLE) / CAST(48 AS DOUBLE))"
)

WILCOXON_SQL = """
WITH daily AS (
  SELECT ts::DATE AS day,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
           - sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS d
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
nz AS (SELECT d, abs(d) AS ad FROM daily WHERE d != 0),
ranked AS (
  SELECT d,
         CAST(rank() OVER (ORDER BY ad) AS DOUBLE)
           + CAST(count(*) OVER (PARTITION BY ad) - 1 AS DOUBLE)
             / CAST(2 AS DOUBLE) AS avg_rank
  FROM nz),
ties AS (SELECT sum(t * t * t - t)::BIGINT AS tie_sum
         FROM (SELECT count(*)::BIGINT AS t FROM nz GROUP BY ad)),
g AS (SELECT count(*)::BIGINT AS n,
             sum(CASE WHEN d > 0 THEN avg_rank ELSE 0.0 END) AS w_plus,
             sum(CASE WHEN d < 0 THEN avg_rank ELSE 0.0 END) AS w_minus
      FROM ranked)
SELECT n AS n_used, w_plus, w_minus, tie_sum,
       {z} AS z
FROM g CROSS JOIN ties
""".format(z=_FL6_SQL.format(x=_WX_Z))


# --------------------------------------------- Wald-Wolfowitz runs
#
# Randomness test on the daily event-count series: sign of
# 2x - (m1 + m2) vs the pooled median (m1, m2 = the two middle order
# statistics — the x2 trick keeps the median comparison in integers),
# runs counted with one lag window,
#   E[R] = 2 n1 n2 / (n1 + n2) + 1
#   Var  = 2 n1 n2 (2 n1 n2 - n1 - n2) / ((n1+n2)² (n1+n2-1)).


def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_days, n_above, n_below, n_runs, expected_runs, z) —
    runs test of daily event counts around the median.  Day-grain
    everywhere after one corpus partial agg."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    byx = daily.withColumn(
        "rx", F.row_number().over(Window.orderBy("x", "day"))
    )
    # ONE pass picks the middle order statistic(s): odd n selects one
    # row ((n+1) DIV 2 == (n+2) DIV 2), even n two — k_mid carries
    # which, so the sign comparison k_mid*x - m2 stays in integers
    # (the mood_median_test form).
    mid = (
        byx.crossJoin(F.broadcast(n))
        .filter(
            (F.col("rx") == F.expr("(n + 1) DIV 2"))
            | (F.col("rx") == F.expr("(n + 2) DIV 2"))
        )
        .agg(F.sum("x").alias("m2"), F.count(F.lit(1)).alias("k_mid"))
    )
    s = (
        daily.crossJoin(F.broadcast(mid))
        .select(
            "day",
            F.signum(
                (F.col("k_mid") * F.col("x") - F.col("m2")).cast("double")
            )
            .cast("int")
            .alias("s"),
        )
        .filter(F.col("s") != 0)
    )
    wd = Window.orderBy("day")
    runs = s.select(
        "s", F.lag("s").over(wd).alias("prev")
    ).agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(((F.col("prev").isNull()) | (F.col("s") != F.col("prev"))).cast("int")).alias(
            "n_runs"
        ),
        F.sum((F.col("s") > 0).cast("int")).alias("n1"),
        F.sum((F.col("s") < 0).cast("int")).alias("n2"),
    )
    er = (
        "CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)"
        " + CAST(1 AS DOUBLE)"
    )
    var = (
        "CAST(2 * CAST(n1 AS DECIMAL(38,0)) * n2"
        " * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n1 - n2) AS DOUBLE)"
        " / CAST(CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE)"
    )
    z = f"(CAST(n_runs AS DOUBLE) - ({er})) / sqrt({var})"
    out = runs.crossJoin(
        F.broadcast(daily.agg(F.count(F.lit(1)).alias("n_days")))
    )
    return out.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        F.col("n_runs").cast("bigint").alias("n_runs"),
        _fl6(F.expr(er)).alias("expected_runs"),
        _fl6(F.expr(z)).alias("z"),
    )


_RUNS_ER = (
    "CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)"
    " + CAST(1 AS DOUBLE)"
)
_RUNS_VAR = (
    "CAST(2 * CAST(n1 AS DECIMAL(38,0)) * n2"
    " * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n1 - n2) AS DOUBLE)"
    " / CAST(CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE)"
)

RUNS_TEST_SQL = """
WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
               FROM events GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n FROM daily),
byx AS (SELECT x, row_number() OVER (ORDER BY x, day) AS rx FROM daily),
mid AS (SELECT sum(x)::BIGINT AS m2, count(*)::BIGINT AS k_mid
        FROM byx CROSS JOIN n
        WHERE rx = (n + 1) // 2 OR rx = (n + 2) // 2),
s AS (SELECT day, sign(k_mid * x - m2)::INT AS s
      FROM daily CROSS JOIN mid),
nz AS (SELECT day, s FROM s WHERE s != 0),
lagged AS (SELECT s, lag(s) OVER (ORDER BY day) AS prev FROM nz),
runs AS (SELECT count(*)::BIGINT AS m,
                sum(CASE WHEN prev IS NULL OR s != prev THEN 1 ELSE 0 END)::BIGINT AS n_runs,
                sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
                sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)::BIGINT AS n2
         FROM lagged),
nd AS (SELECT count(*)::BIGINT AS n_days FROM daily)
SELECT n_days, n1 AS n_above, n2 AS n_below, n_runs,
       {er} AS expected_runs,
       {z} AS z
FROM runs CROSS JOIN nd
""".format(
    er=_FL6_SQL.format(x=_RUNS_ER),
    z=_FL6_SQL.format(
        x=f"(CAST(n_runs AS DOUBLE) - ({_RUNS_ER})) / sqrt({_RUNS_VAR})"
    ),
)


# --------------------------------------------- spend concentration
#
# Gini / HHI / top-share of customer lifetime spend — the standard
# concentration report.  Spend is exact cents; Gini uses the sorted
# closed form Σ(2i - n - 1)·x_(i) / (n·Σx) (one division), HHI sums
# exact DECIMAL(38,0) squares.


def concentration_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_customers, total_cents, gini, hhi, top1_share,
    top10_share).  One orders partial agg to customer grain, one
    range-partitioned prefix-sum rank (a GLOBAL row_number() window
    would sort every customer in ONE task — partitioning.prefix_sum
    keeps the sort parallelism at num_parts; round-7 verdict item 6),
    constant-size reduce."""
    from k_means_hadoop_spark.partitioning import prefix_sum

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    spend = o.groupBy("o_custkey").agg(F.sum("cents").alias("x"))
    # materialized once: prefix_sum's range-bound sampling re-evaluates
    # its input (the quantile_normalize_scores lesson)
    spend = spend.transform(truncate_lineage_lazy)
    ranked = prefix_sum(
        spend.withColumn("_one", F.lit(1)),
        "_one",
        [F.col("x").asc(), F.col("o_custkey").asc()],
        out_col="i",
    )
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("t"),
        F.sum(
            (2 * F.col("i") - 1).cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        ).alias("gnum0"),  # Σ(2i-1)x; gini num = gnum0 - n·t
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
        ).alias("sq"),
    )
    shares = ranked.crossJoin(F.broadcast(g.select("n", "t"))).agg(
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.expr("(n + 99) DIV 100"),
                F.col("x"),
            ).otherwise(0)
        ).alias("top1"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.expr("(n + 9) DIV 10"),
                F.col("x"),
            ).otherwise(0)
        ).alias("top10"),
    )
    gini = (
        "CAST(gnum0 - CAST(n AS DECIMAL(38,0)) * t AS DOUBLE)"
        " / CAST(CAST(n AS DECIMAL(38,0)) * t AS DOUBLE)"
    )
    hhi = (
        "CAST(sq AS DOUBLE)"
        " / CAST(CAST(t AS DECIMAL(38,0)) * t AS DOUBLE)"
    )
    return g.crossJoin(F.broadcast(shares)).select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("t").cast("bigint").alias("total_cents"),
        _fl6(F.expr(gini)).alias("gini"),
        _fl6(F.expr(hhi)).alias("hhi"),
        _fl6(F.expr("CAST(top1 AS DOUBLE) / CAST(t AS DOUBLE)")).alias(
            "top1_share"
        ),
        _fl6(F.expr("CAST(top10 AS DOUBLE) / CAST(t AS DOUBLE)")).alias(
            "top10_share"
        ),
    )


CONCENTRATION_SQL = """
WITH o AS (SELECT o_custkey,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
spend AS (SELECT o_custkey, sum(cents)::BIGINT AS x FROM o GROUP BY 1),
ranked AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend),
g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS t,
             sum((2 * i - 1)::DECIMAL(38,0) * x::DECIMAL(38,0)) AS gnum0,
             sum(x::DECIMAL(38,0) * x::DECIMAL(38,0)) AS sq
      FROM ranked),
shares AS (SELECT sum(CASE WHEN i > n - (n + 99) // 100 THEN x ELSE 0 END)::BIGINT AS top1,
                  sum(CASE WHEN i > n - (n + 9) // 10 THEN x ELSE 0 END)::BIGINT AS top10
           FROM ranked CROSS JOIN g)
SELECT n AS n_customers, t AS total_cents,
       {gini} AS gini,
       {hhi} AS hhi,
       {t1} AS top1_share,
       {t10} AS top10_share
FROM g CROSS JOIN shares
""".format(
    gini=_FL6_SQL.format(
        x="CAST(gnum0 - CAST(n AS DECIMAL(38,0)) * t AS DOUBLE)"
        " / CAST(CAST(n AS DECIMAL(38,0)) * t AS DOUBLE)"
    ),
    hhi=_FL6_SQL.format(
        x="CAST(sq AS DOUBLE) / CAST(CAST(t AS DECIMAL(38,0)) * t AS DOUBLE)"
    ),
    t1=_FL6_SQL.format(x="CAST(top1 AS DOUBLE) / CAST(t AS DOUBLE)"),
    t10=_FL6_SQL.format(x="CAST(top10 AS DOUBLE) / CAST(t AS DOUBLE)"),
)


# --------------------------------------------- Mood's median test
#
# Distribution-free location test: cut both samples at the pooled
# median (the x2 order-statistic trick keeps the cut exact), then the
# 2x2 chi-square  chi2 = N(ad - bc)² / ((a+b)(c+d)(a+c)(b+d)) — exact
# integers, one division.

_MOOD_A, _MOOD_B = "click", "view"


def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_a_above, n_b_above, n_a_below, n_b_below, chi2) —
    Mood's median test of event value, '{a}' vs '{b}'; values ON the
    median are excluded (the standard convention that keeps the 2x2
    margins honest).

    The middle order statistics come from the value HISTOGRAM + a
    distributed ``partitioning.prefix_sum`` of its counts (the
    round-8 verdict's fact-grain single-partition-sort fix): the k-th
    order statistic is the histogram row whose cumulative count first
    reaches k — no row-level ``row_number`` over the pooled sample.
    The k1/k2 tiebreak of the old window form (value, event_id) is
    irrelevant to the order STATISTIC (it depends only on the sorted
    value multiset), and classifying with sign(2·v − (v_k1 + v_k2))
    equals the old sign(k_mid·v − m2) in every branch: doubling is
    exact in double arithmetic, and when k1 = k2 (odd n) both pick
    the same row.  The 2x2 margins then reduce over the SAME
    histogram — the pooled fact sample is scanned exactly once."""
    from k_means_hadoop_spark.partitioning import prefix_sum

    pooled = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MOOD_A, _MOOD_B)
    ).select("event_type", "value")
    hist = pooled.groupBy("value").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("event_type") == _MOOD_A).cast("bigint")).alias("pa"),
    )
    cum = prefix_sum(hist, "m", [F.col("value").asc()], out_col="cumm")
    n = cum.agg(F.sum("m").alias("n"))
    # the histogram row containing order statistic k satisfies
    # cumm - m < k <= cumm; sum value x (hits of k1) + (hits of k2)
    mid = (
        cum.crossJoin(F.broadcast(n))
        .select(
            "value",
            (
                (
                    (F.expr("cumm - m") < F.expr("(n + 1) DIV 2"))
                    & (F.expr("(n + 1) DIV 2") <= F.col("cumm"))
                ).cast("int")
                + (
                    (F.expr("cumm - m") < F.expr("(n + 2) DIV 2"))
                    & (F.expr("(n + 2) DIV 2") <= F.col("cumm"))
                ).cast("int")
            ).alias("hits"),
        )
        .agg(F.sum(F.col("value") * F.col("hits")).alias("m2"))
    )
    cls = cum.crossJoin(F.broadcast(mid)).select(
        "m",
        "pa",
        F.signum(F.lit(2) * F.col("value") - F.col("m2"))
        .cast("int")
        .alias("s"),
    ).filter(F.col("s") != 0)
    g = cls.agg(
        F.sum(F.when(F.col("s") > 0, F.col("pa")).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("s") > 0, F.col("m") - F.col("pa")).otherwise(0)).alias("b"),
        F.sum(F.when(F.col("s") < 0, F.col("pa")).otherwise(0)).alias("c"),
        F.sum(F.when(F.col("s") < 0, F.col("m") - F.col("pa")).otherwise(0)).alias("d"),
    )
    chi2 = (
        "CAST(CAST(a + b + c + d AS DECIMAL(38,0))"
        " * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)"
        " * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c) AS DOUBLE)"
        " / CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d)"
        " * CAST(a + c AS DECIMAL(38,0)) * (b + d) AS DOUBLE)"
    )
    return g.select(
        F.col("a").cast("bigint").alias("n_a_above"),
        F.col("b").cast("bigint").alias("n_b_above"),
        F.col("c").cast("bigint").alias("n_a_below"),
        F.col("d").cast("bigint").alias("n_b_below"),
        _fl6(F.expr(chi2)).alias("chi2"),
    )


mood_median_test.__doc__ = mood_median_test.__doc__.format(
    a=_MOOD_A, b=_MOOD_B
)

_MOOD_CHI2 = (
    "CAST(CAST(a + b + c + d AS DECIMAL(38,0))"
    " * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)"
    " * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c) AS DOUBLE)"
    " / CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d)"
    " * CAST(a + c AS DECIMAL(38,0)) * (b + d) AS DOUBLE)"
)

MOOD_SQL = """
WITH pooled AS (SELECT event_type, value, event_id FROM events
                WHERE event_type IN ('{a}', '{b}')),
n AS (SELECT count(*)::BIGINT AS n FROM pooled),
byv AS (SELECT value, row_number() OVER (ORDER BY value, event_id) AS rv
        FROM pooled),
mid AS (SELECT sum(value) AS m2, count(*)::BIGINT AS k_mid
        FROM byv CROSS JOIN n
        WHERE rv = (n + 1) // 2 OR rv = (n + 2) // 2),
cls AS (SELECT event_type, sign(k_mid * value - m2)::INT AS s
        FROM pooled CROSS JOIN mid),
nz AS (SELECT * FROM cls WHERE s != 0),
g AS (SELECT
        sum(CASE WHEN event_type = '{a}' AND s > 0 THEN 1 ELSE 0 END)::BIGINT AS a,
        sum(CASE WHEN event_type = '{b}' AND s > 0 THEN 1 ELSE 0 END)::BIGINT AS b,
        sum(CASE WHEN event_type = '{a}' AND s < 0 THEN 1 ELSE 0 END)::BIGINT AS c,
        sum(CASE WHEN event_type = '{b}' AND s < 0 THEN 1 ELSE 0 END)::BIGINT AS d
      FROM nz)
SELECT a AS n_a_above, b AS n_b_above, c AS n_a_below, d AS n_b_below,
       {chi2} AS chi2
FROM g
""".format(a=_MOOD_A, b=_MOOD_B, chi2=_FL6_SQL.format(x=_MOOD_CHI2))


# ------------------------------------------------------- Gini coefficient
#
# Inequality of customer spend within each nation — the concentration
# measure (0 = equal, →1 = one whale) a marketplace watches per region.
# Exact form over the order-statistic identity
#   G = Σ_i (2i − n − 1)·x_(i) / (n·Σx)
# with x = per-customer total spend (exact decimal) and i the rank
# under (spend, custkey) — the Σ(2i−n−1)x_i block sum is permutation-
# invariant within tied spend values, so the tiebreak cannot change
# the result.
#
# SCALE: nations are LOW-cardinality (25 at any SF), so a nation-
# partitioned row_number() window sorts each nation's entire customer
# set inside ONE task — 25 sort tasks no matter the cluster (round-7
# verdict item 6).  The rank pass therefore runs as the range-
# partitioned prefix-sum (partitioning.prefix_sum, the
# auc_quality_vs_gopher pattern): a GLOBAL rank under
# (n_name, spend, c_custkey) whose parallelism follows num_parts, and
# the within-nation rank is that global rank minus a broadcast
# 25-row per-nation base — identical integers, identical hashes.


def gini_spend_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_name, n_cust, total_spend, gini) per nation."""
    from k_means_hadoop_spark.partitioning import prefix_sum

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("spend")
        )
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    x = (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name", "c_custkey", "spend")
    )
    # materialize the join ONCE: prefix_sum's range-bound sampling
    # re-evaluates its input (the quantile_normalize_scores lesson)
    x = x.transform(truncate_lineage_lazy)
    ranked = prefix_sum(
        x.withColumn("_one", F.lit(1)),
        "_one",
        [F.col("n_name").asc(), F.col("spend").asc(), F.col("c_custkey").asc()],
        out_col="gidx",
    )
    base = ranked.groupBy("n_name").agg((F.min("gidx") - 1).alias("_base"))
    r = ranked.join(F.broadcast(base), "n_name").withColumn(
        "i", F.col("gidx") - F.col("_base")
    )
    per = r.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("spend").alias("total_spend"),
        F.sum(
            (2 * F.col("i") - 1).cast("decimal(38,2)") * F.col("spend")
        ).alias("wsum"),
    )
    # Σ(2i−n−1)x = Σ(2i−1)x − n·Σx, kept exact until the single division
    g = (
        "(CAST(wsum AS DOUBLE) - CAST(n_cust AS DOUBLE) * CAST(total_spend AS DOUBLE))"
        " / (CAST(n_cust AS DOUBLE) * CAST(total_spend AS DOUBLE))"
    )
    return per.select(
        "n_name",
        "n_cust",
        F.col("total_spend").cast("double").alias("total_spend"),
        _fl6(F.expr(g)).alias("gini"),
    )


GINI_SQL = """
WITH spend AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
               FROM orders GROUP BY 1),
x AS (SELECT n.n_name, c.c_custkey, s.spend
      FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey),
r AS (SELECT n_name, spend,
             row_number() OVER (PARTITION BY n_name ORDER BY spend, c_custkey) AS i
      FROM x),
per AS (SELECT n_name, count(*)::BIGINT AS n_cust, SUM(spend) AS total_spend,
               SUM((2 * i - 1)::DECIMAL(38,2) * spend) AS wsum
        FROM r GROUP BY 1)
SELECT n_name, n_cust, CAST(total_spend AS DOUBLE) AS total_spend,
       {g} AS gini
FROM per
""".format(
    g=_FL6_SQL.format(
        x="(CAST(wsum AS DOUBLE) - CAST(n_cust AS DOUBLE) * CAST(total_spend AS DOUBLE))"
        " / (CAST(n_cust AS DOUBLE) * CAST(total_spend AS DOUBLE))"
    )
)


# ------------------------------------------------------- Cramér's V
#
# Effect size of the event_type × day-of-week association — the
# normalized companion of the chi² independence test (chi2_event_dow):
# V = sqrt(chi² / (N·min(r−1, c−1))).  Each cell's chi² term keeps its
# numerator (o·N − r·c)² exact in DECIMAL(38,0), spends its ONE double
# division, and is stabilized to the 6dp grid; the cell terms then sum
# exactly, so the cross-group float-accumulation problem never arises
# (the anova/e-fold alternative is unnecessary).  sqrt is correctly
# rounded IEEE — identical cross-engine.


def cramers_v_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n, r_levels, c_levels, chi2, cramers_v)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
        ).alias("b"),
    )
    o = ev.groupBy("a", "b").agg(F.count(F.lit(1)).alias("o"))
    ra = o.groupBy("a").agg(F.sum("o").alias("r"))
    cb = o.groupBy("b").agg(F.sum("o").alias("c"))
    nn = o.agg(F.sum("o").alias("n"), F.count(F.lit(1)).alias("n_cells"))
    term = (
        "CAST((CAST(o AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))"
        " - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))"
        " * (CAST(o AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))"
        " - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))"
    )
    cells = (
        o.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(nn.select("n")))
        .select(
            F.expr(
                f"CAST({_FL6_SQL.format(x=term)} AS DECIMAL(28,6))"
            ).alias("t6")
        )
    )
    agg = cells.agg(F.sum("t6").alias("chi2_6"))
    dims = (
        o.agg(
            F.countDistinct("a").alias("r_levels"),
            F.countDistinct("b").alias("c_levels"),
        )
    )
    v = (
        "sqrt(CAST(chi2_6 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE)))"
    )
    return (
        nn.select("n")
        .crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(agg))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.col("r_levels").cast("int").alias("r_levels"),
            F.col("c_levels").cast("int").alias("c_levels"),
            F.col("chi2_6").cast("double").alias("chi2"),
            _fl6(F.expr(v)).alias("cramers_v"),
        )
    )


CRAMERS_SQL = """
WITH ev AS (SELECT event_type AS a, (ts::DATE - DATE '2024-01-01') % 7 AS b FROM events),
o AS (SELECT a, b, count(*)::BIGINT AS o FROM ev GROUP BY 1, 2),
ra AS (SELECT a, SUM(o)::BIGINT AS r FROM o GROUP BY 1),
cb AS (SELECT b, SUM(o)::BIGINT AS c FROM o GROUP BY 1),
nn AS (SELECT SUM(o)::BIGINT AS n FROM o),
dims AS (SELECT count(DISTINCT a)::INT AS r_levels, count(DISTINCT b)::INT AS c_levels FROM o),
cells AS (SELECT CAST({t6} AS DECIMAL(28,6)) AS t6
          FROM o JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nn),
agg AS (SELECT SUM(t6) AS chi2_6 FROM cells)
SELECT nn.n, dims.r_levels, dims.c_levels,
       CAST(chi2_6 AS DOUBLE) AS chi2,
       {v} AS cramers_v
FROM nn CROSS JOIN dims CROSS JOIN agg
""".format(
    t6=_FL6_SQL.format(
        x="CAST((CAST(o AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))"
        " - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))"
        " * (CAST(o AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))"
        " - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))"
    ),
    v=_FL6_SQL.format(
        x="sqrt(CAST(chi2_6 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE)))"
    ),
)


# --------------------------------------------------- Simpson diversity
#
# Language diversity of each source — 1 − Σ n_i(n_i−1)/(N(N−1)), the
# probability two random documents from a source differ in language
# (the ecology index corpus dashboards reuse).  Exact integers until
# one division per source.


def simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_langs, simpson)."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("ni"))
    per = c.groupBy("source").agg(
        F.sum("ni").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("int").alias("n_langs"),
        F.sum(F.col("ni") * (F.col("ni") - 1)).cast("decimal(38,0)").alias("ss"),
    )
    s = (
        "CAST(1 AS DOUBLE) - CAST(ss AS DOUBLE)"
        " / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE))"
    )
    return per.where(F.col("n_docs") > 1).select(
        "source", "n_docs", "n_langs", _fl6(F.expr(s)).alias("simpson")
    )


SIMPSON_SQL = """
WITH c AS (SELECT source, lang, count(*)::BIGINT AS ni FROM documents GROUP BY 1, 2),
per AS (SELECT source, SUM(ni)::BIGINT AS n_docs, count(*)::INT AS n_langs,
               CAST(SUM(ni * (ni - 1)) AS DECIMAL(38,0)) AS ss
        FROM c GROUP BY 1)
SELECT source, n_docs, n_langs, {s} AS simpson
FROM per WHERE n_docs > 1
""".format(
    s=_FL6_SQL.format(
        x="CAST(1 AS DOUBLE) - CAST(ss AS DOUBLE)"
        " / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE))"
    )
)


# --------------------------------------------- conditional entropy
#
# H(next | cur) of the per-user event-type transition chain — how
# predictable the next action is given the current one (0 bits =
# deterministic sessions).  Companion to event_transition_matrix's
# probabilities and mi_lang_source_cells' mutual information.  Each
# cell's c_ij·ln(c_ij/c_i) term is stabilized to the 6dp grid before
# the exact decimal sum (the per-term-fl6 discipline), then ONE final
# division by N and the nats→result floor.


def cond_entropy_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_transitions, n_cells, cond_entropy_nats)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("cur"))
        .withColumn("next", F.lead("cur").over(w))
        .filter(F.col("next").isNotNull())
    )
    counts = pairs.groupBy("cur", "next").agg(F.count(F.lit(1)).alias("cij"))
    rows = counts.groupBy("cur").agg(F.sum("cij").alias("ci"))
    term = (
        "CAST(cij AS DOUBLE)"
        " * ln(CAST(cij AS DOUBLE) / CAST(ci AS DOUBLE))"
    )
    cells = counts.join(F.broadcast(rows), "cur").select(
        F.expr(f"CAST({_FL6_SQL.format(x=term)} AS DECIMAL(28,6))").alias("t6")
    )
    agg = cells.agg(
        F.sum("t6").alias("tsum"), F.count(F.lit(1)).alias("n_cells")
    )
    nn = counts.agg(F.sum("cij").alias("n"))
    h = "-CAST(tsum AS DOUBLE) / CAST(n AS DOUBLE)"
    return nn.crossJoin(F.broadcast(agg)).select(
        F.col("n").cast("bigint").alias("n_transitions"),
        F.col("n_cells").cast("int").alias("n_cells"),
        _fl6(F.expr(h)).alias("cond_entropy_nats"),
    )


COND_ENTROPY_SQL = """
WITH ordered AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
  FROM events),
counts AS (SELECT cur, next, count(*)::BIGINT AS cij
           FROM ordered WHERE next IS NOT NULL GROUP BY 1, 2),
rows_ AS (SELECT cur, SUM(cij)::BIGINT AS ci FROM counts GROUP BY 1),
cells AS (SELECT CAST({t6} AS DECIMAL(28,6)) AS t6
          FROM counts JOIN rows_ USING (cur)),
agg AS (SELECT SUM(t6) AS tsum, count(*)::INT AS n_cells FROM cells),
nn AS (SELECT SUM(cij)::BIGINT AS n FROM counts)
SELECT nn.n AS n_transitions, agg.n_cells,
       {h} AS cond_entropy_nats
FROM nn CROSS JOIN agg
""".format(
    t6=_FL6_SQL.format(
        x="CAST(cij AS DOUBLE) * ln(CAST(cij AS DOUBLE) / CAST(ci AS DOUBLE))"
    ),
    h=_FL6_SQL.format(x="-CAST(tsum AS DOUBLE) / CAST(n AS DOUBLE)"),
)


# --------------------------------------------- Brown-Forsythe test
#
# Equality-of-spread test across event types, on |x − median| (the
# outlier-robust Levene variant).  Exactness trick: work with DOUBLED
# deviations z2 = |2x − m2| where m2 = (odd n ? 2·x_mid : x_lo + x_hi)
# — m2 is an exact decimal for ANY parity, no half-cent ever divides —
# and the W statistic is a ratio of z-quadratics, so the uniform ×2
# cancels.  Group-level S²/n terms are floored to the 6dp grid before
# their exact decimal sums (k ≈ 5 terms), then the one final division.


def levene_value_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_tot, k_groups, df1, df2, w_stat) — Brown-Forsythe
    W for event value spread across event types."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.col("value").cast("decimal(10,2)").alias("x"),
    )
    w = Window.partitionBy("g").orderBy("x")
    r = ev.withColumn("rn", F.row_number().over(w))
    ng = ev.groupBy("g").agg(F.count(F.lit(1)).alias("ng"))
    # middle order statistics: odd n → the single mid row (doubled in
    # the agg), even n → the two middles summed
    mid = (
        r.join(F.broadcast(ng), "g")
        .where(
            (
                (F.col("ng") % 2 == 1)
                & (F.col("rn") == (F.col("ng") + 1) / 2)
            )
            | (
                (F.col("ng") % 2 == 0)
                & (
                    (F.col("rn") == F.col("ng") / 2)
                    | (F.col("rn") == F.col("ng") / 2 + 1)
                )
            )
        )
        .groupBy("g")
        .agg(
            (
                F.when(F.max("ng") % 2 == 1, F.sum("x") * 2).otherwise(
                    F.sum("x")
                )
            ).alias("m2")
        )
    )
    z = (
        ev.join(F.broadcast(mid), "g")
        .select(
            "g",
            F.abs(
                F.col("x").cast("decimal(12,2)") * 2 - F.col("m2")
            ).alias("z2"),
        )
    )
    per = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z2").alias("s"),
        F.sum(F.col("z2") * F.col("z2")).alias("q"),
    )
    t6 = _FL6_SQL.format(
        x="CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    d6 = _FL6_SQL.format(
        x="CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    terms = per.select(
        "n",
        "s",
        F.expr(f"CAST({t6} AS DECIMAL(28,6))").alias("t6"),
        F.expr(f"CAST({d6} AS DECIMAL(28,6))").alias("d6"),
    )
    agg = terms.agg(
        F.sum("n").alias("n_tot"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s").alias("s_tot"),
        F.sum("t6").alias("bsum"),
        F.sum("d6").alias("wsum"),
    )
    # between-group SS = Σ S_g²/n_g − (ΣS)²/N; W = ((N−k)/(k−1))·B/Wit
    wstat = (
        "(CAST(n_tot - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))"
        " * (CAST(bsum AS DOUBLE)"
        "    - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))"
        " / CAST(wsum AS DOUBLE)"
    )
    return agg.select(
        F.col("n_tot").cast("bigint").alias("n_tot"),
        F.col("k").cast("int").alias("k_groups"),
        (F.col("k") - 1).cast("int").alias("df1"),
        (F.col("n_tot") - F.col("k")).cast("bigint").alias("df2"),
        _fl6(F.expr(wstat)).alias("w_stat"),
    )


LEVENE_SQL = """
WITH ev AS (SELECT event_type AS g, CAST(value AS DECIMAL(10,2)) AS x FROM events),
r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn FROM ev),
ng AS (SELECT g, count(*)::BIGINT AS ng FROM ev GROUP BY 1),
mid AS (SELECT r.g,
               CASE WHEN MAX(ng.ng) % 2 = 1 THEN SUM(r.x) * 2 ELSE SUM(r.x) END AS m2
        FROM r JOIN ng ON ng.g = r.g
        WHERE (ng.ng % 2 = 1 AND r.rn = (ng.ng + 1) / 2)
           OR (ng.ng % 2 = 0 AND (r.rn = ng.ng / 2 OR r.rn = ng.ng / 2 + 1))
        GROUP BY r.g),
z AS (SELECT ev.g, abs(CAST(ev.x AS DECIMAL(12,2)) * 2 - mid.m2) AS z2
      FROM ev JOIN mid ON mid.g = ev.g),
per AS (SELECT g, count(*)::BIGINT AS n, SUM(z2) AS s, SUM(z2 * z2) AS q
        FROM z GROUP BY 1),
terms AS (SELECT n, s,
                 CAST({t6} AS DECIMAL(28,6)) AS t6,
                 CAST({d6} AS DECIMAL(28,6)) AS d6
          FROM per),
agg AS (SELECT SUM(n)::BIGINT AS n_tot, count(*)::BIGINT AS k,
               SUM(s) AS s_tot, SUM(t6) AS bsum, SUM(d6) AS wsum
        FROM terms)
SELECT n_tot, k::INT AS k_groups, (k - 1)::INT AS df1,
       (n_tot - k)::BIGINT AS df2,
       {w} AS w_stat
FROM agg
""".format(
    t6=_FL6_SQL.format(
        x="CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    ),
    d6=_FL6_SQL.format(
        x="CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    ),
    w=_FL6_SQL.format(
        x="(CAST(n_tot - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))"
        " * (CAST(bsum AS DOUBLE)"
        "    - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))"
        " / CAST(wsum AS DOUBLE)"
    ),
)


# --------------------------------------------- Holm step-down FWER
#
# The family-wise companion of bh_fdr_nation_acctbal's step-up FDR:
# Holm rejects ranks 1..k* where k* + 1 is the FIRST rank whose
# p_(i) > α/(m−i+1).  Same exact rational p machinery (Chebyshev
# bounds from integer moments; condition as a cross-multiplied integer
# comparison, never a float threshold), same corpus shape: one
# nation-grain aggregate + a 25-row window.

# alpha = 0.25: under Chebyshev bounds max achievable z² ≈ N (an
# extreme group inflates the global σ² it is judged against), so the
# sf0.001 fixture (N ≈ 180 with plants) mathematically cannot clear
# 0.05/m — this alpha keeps the planted rank-1 rejection reachable at
# every SF while the natural nations (z² ≤ ~6) stay non-significant.
_HOLM_A_NUM, _HOLM_A_DEN = 1, 4


def holm_bonferroni_nation_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_nationkey, n, z2, p_chebyshev, p_rank, significant) — Holm
    step-down at alpha = _HOLM_A_NUM/_HOLM_A_DEN = 0.25 over per-nation
    Chebyshev p-values (see the constant's comment for why 0.05 is
    mathematically unreachable under Chebyshev bounds at sf0.001).

    The fixture's natural nations never clear the conservative
    Chebyshev bar (max z² ≈ 6), which would leave the rejection branch
    vacuously untested — so two synthetic outlier groups (keys
    9001/9002, 16 rows each at 500 000 / 200 000 dollars) are PLANTED
    inside the query on both engines, the harness's documented pattern
    for fixture gaps.  9001 rejects at every SF (z² ≈ 144 at sf0.001
    vs the 108 bar, ≥ 1300 above); 9002 rejects from sf0.01 up; every
    natural nation stays non-significant — the step-down's
    stop-at-first-failure rule runs against a mixed outcome set."""
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    planted = spark.range(16).select(
        F.explode(F.array(F.lit(9001), F.lit(9002))).alias("c_nationkey"),
        F.col("id"),
    ).select(
        "c_nationkey",
        F.when(F.col("c_nationkey") == 9001, F.lit(50_000_000))
        .otherwise(F.lit(20_000_000))
        .cast("bigint")
        .alias("cents"),
    )
    c = c.unionByName(planted)
    per = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s_i")
    )
    g = c.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    j = per.crossJoin(F.broadcast(g))

    def d38(c_):
        return c_.cast("decimal(38,0)")

    diff = d38(F.col("nn")) * d38(F.col("s_i")) - d38(F.col("n")) * d38(F.col("s"))
    num = diff * diff
    den = d38(F.col("n")) * (
        d38(F.col("nn")) * d38(F.col("ss")) - d38(F.col("s")) * d38(F.col("s"))
    )
    j = j.select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n"),
        num.alias("znum"),
        den.alias("zden"),
    )
    one38 = F.lit(1).cast("decimal(38,0)")
    clipped = F.col("znum") <= F.col("zden")  # p = min(1, 1/z²), z=0 → 1/1
    j = j.withColumn(
        "p_num", F.when(clipped, one38).otherwise(F.col("zden"))
    ).withColumn("p_den", F.when(clipped, one38).otherwise(F.col("znum")))
    p_dbl = F.when(clipped, F.lit(1.0)).otherwise(
        F.col("zden").cast("double") / F.col("znum").cast("double")
    )
    j = j.withColumn("p", p_dbl).withColumn(
        "p_rank",
        F.row_number().over(Window.orderBy("p", "c_nationkey")).cast("bigint"),
    )
    m = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j = j.withColumn("m", F.count(F.lit(1)).over(m))
    # p_(i) <= α/(m−i+1)  <=>  α_den·(m−i+1)·p_num <= α_num·p_den
    cond = (
        F.lit(_HOLM_A_DEN) * (F.col("m") - F.col("p_rank") + 1) * F.col("p_num")
        <= F.lit(_HOLM_A_NUM) * F.col("p_den")
    )
    first_fail = F.min(F.when(~cond, F.col("p_rank"))).over(m)
    j = j.withColumn("first_fail", first_fail)
    return j.select(
        "c_nationkey",
        "n",
        _fl6(F.col("znum").cast("double") / F.col("zden").cast("double")).alias("z2"),
        _fl6(F.col("p")).alias("p_chebyshev"),
        "p_rank",
        (
            F.col("first_fail").isNull()
            | (F.col("p_rank") < F.col("first_fail"))
        ).alias("significant"),
    )


HOLM_SQL = """
WITH c AS (SELECT c_nationkey,
                  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           FROM customer
           UNION ALL
           SELECT k AS c_nationkey,
                  CASE WHEN k = 9001 THEN 50000000 ELSE 20000000 END::BIGINT AS cents
           FROM range(16), (SELECT unnest([9001, 9002]) AS k)),
per AS (SELECT c_nationkey, count(*)::BIGINT AS n, sum(cents)::BIGINT AS s_i
        FROM c GROUP BY 1),
g AS (SELECT count(*)::BIGINT AS nn, sum(cents)::BIGINT AS s,
             sum(cents * cents)::BIGINT AS ss
      FROM c),
z AS (SELECT c_nationkey, n,
             (nn::DECIMAL(38,0) * s_i::DECIMAL(38,0)
              - n::DECIMAL(38,0) * s::DECIMAL(38,0))
             * (nn::DECIMAL(38,0) * s_i::DECIMAL(38,0)
                - n::DECIMAL(38,0) * s::DECIMAL(38,0)) AS znum,
             n::DECIMAL(38,0)
             * (nn::DECIMAL(38,0) * ss::DECIMAL(38,0)
                - s::DECIMAL(38,0) * s::DECIMAL(38,0)) AS zden
      FROM per CROSS JOIN g),
p AS (SELECT *,
             CASE WHEN znum <= zden THEN 1::DECIMAL(38,0) ELSE zden END AS p_num,
             CASE WHEN znum <= zden THEN 1::DECIMAL(38,0) ELSE znum END AS p_den,
             CASE WHEN znum <= zden THEN 1.0
                  ELSE CAST(zden AS DOUBLE) / CAST(znum AS DOUBLE) END AS pv
      FROM z),
r AS (SELECT *, row_number() OVER (ORDER BY pv, c_nationkey)::BIGINT AS p_rank,
             count(*) OVER ()::BIGINT AS m
      FROM p),
f AS (SELECT *,
             min(CASE WHEN NOT ({a_den} * (m - p_rank + 1) * p_num
                                <= {a_num} * p_den)
                      THEN p_rank END) OVER () AS first_fail
      FROM r)
SELECT c_nationkey, n,
       {z2} AS z2,
       {pc} AS p_chebyshev,
       p_rank,
       (first_fail IS NULL OR p_rank < first_fail) AS significant
FROM f
""".format(
    a_num=_HOLM_A_NUM,
    a_den=_HOLM_A_DEN,
    z2=_FL6_SQL.format(x="CAST(znum AS DOUBLE) / CAST(zden AS DOUBLE)"),
    pc=_FL6_SQL.format(x="pv"),
)


# --------------------------------------------- Friedman rank test
#
# Friedman's within-block rank test of event volume across event types,
# blocked by day-of-week: do the type intensities keep the same
# ordering every weekday?  Average ranks are computed as DOUBLED
# integers (r2 = 2·|less| + |equal| + 1 — exact for any ties), so
# Σ R_j² stays an exact integer and the statistic spends ONE division:
#   Q = 3·Σ R2_j² / (n·k·(k+1)) − 3·n·(k+1).
# Blocks and treatments are category-sized: the only corpus pass is
# the (dow, type) cell aggregate.


def friedman_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_blocks, k_treatments, df, q_stat)."""
    ev = _t(spark, sf_dir, "events").select(
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
        ).alias("b"),
        F.col("event_type").alias("t"),
    )
    cells = ev.groupBy("b", "t").agg(F.count(F.lit(1)).alias("v"))
    guard = _complete_blocks_guard(cells)
    l, r = cells.alias("l"), cells.alias("r")
    r2 = (
        l.join(r, F.col("l.b") == F.col("r.b"))
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
    dims = cells.agg(
        F.countDistinct("b").alias("n"), F.countDistinct("t").alias("k")
    )
    s = per_t.agg(
        F.sum(F.col("r2_sum") * F.col("r2_sum")).cast("decimal(38,0)").alias("ssr2")
    )
    q = (
        "CAST(3 AS DOUBLE) * CAST(ssr2 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))"
        " - CAST(3 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE)"
    )
    guarded_q = _complete_blocks_case(
        "friedman_event_dow", _FL6_SQL.format(x=q)
    )
    return (
        dims.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(guard))
        .select(
            F.col("n").cast("int").alias("n_blocks"),
            F.col("k").cast("int").alias("k_treatments"),
            (F.col("k") - 1).cast("int").alias("df"),
            F.expr(guarded_q).alias("q_stat"),
        )
    )


FRIEDMAN_SQL = """
WITH ev AS (SELECT (ts::DATE - DATE '2024-01-01') % 7 AS b, event_type AS t FROM events),
cells AS (SELECT b, t, count(*)::BIGINT AS v FROM ev GROUP BY 1, 2),
r2 AS (SELECT l.b, l.t,
              (2 * SUM(CASE WHEN r.v < l.v THEN 1 ELSE 0 END)
               + SUM(CASE WHEN r.v = l.v THEN 1 ELSE 0 END) + 1)::BIGINT AS r2
       FROM cells l JOIN cells r ON r.b = l.b
       GROUP BY 1, 2),
per_t AS (SELECT t, SUM(r2)::BIGINT AS r2_sum FROM r2 GROUP BY 1),
dims AS (SELECT count(DISTINCT b)::BIGINT AS n, count(DISTINCT t)::BIGINT AS k FROM cells),
s AS (SELECT CAST(SUM(r2_sum * r2_sum) AS DECIMAL(38,0)) AS ssr2 FROM per_t)
SELECT n::INT AS n_blocks, k::INT AS k_treatments, (k - 1)::INT AS df,
       {q} AS q_stat
FROM dims CROSS JOIN s
""".format(
    q=_FL6_SQL.format(
        x="CAST(3 AS DOUBLE) * CAST(ssr2 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k + 1 AS DOUBLE))"
        " - CAST(3 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE)"
    )
)


# --------------------------------------------- McNemar paired test
#
# Marginal-homogeneity companion of cohens_kappa_gates: do the two
# document gates (chars >= C vs words >= W) FAIL different documents,
# beyond agreeing overall?  Only the discordant counts matter:
# chi² = (b−c)²/(b+c), plus Edwards' continuity-corrected form —
# exact integers, one division each.


def mcnemar_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_discordant_10, n_discordant_01, chi2, chi2_corrected)."""

    d = _t(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= _KAPPA_CHARS).cast("int").alias("ga"),
        (
            F.expr("size(regexp_extract_all(text, '[^ ]+', 0))")
            >= _KAPPA_WORDS
        )
        .cast("int")
        .alias("gb"),
    )
    g = d.agg(
        F.sum(F.col("ga") * (1 - F.col("gb"))).alias("b"),
        F.sum((1 - F.col("ga")) * F.col("gb")).alias("c"),
    )
    chi2 = (
        "CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)"
    )
    chi2c = (
        "CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)"
        " / CAST(b + c AS DOUBLE)"
    )
    return g.where(F.col("b") + F.col("c") > 0).select(
        F.col("b").cast("bigint").alias("n_discordant_10"),
        F.col("c").cast("bigint").alias("n_discordant_01"),
        _fl6(F.expr(chi2)).alias("chi2"),
        _fl6(F.expr(chi2c)).alias("chi2_corrected"),
    )


def _mcnemar_sql() -> str:

    return """
WITH d AS (SELECT (n_chars >= {ch})::INT AS ga,
                  (len(regexp_extract_all(text, '[^ ]+')) >= {wd})::INT AS gb
           FROM documents),
g AS (SELECT SUM(ga * (1 - gb))::BIGINT AS b, SUM((1 - ga) * gb)::BIGINT AS c FROM d)
SELECT b AS n_discordant_10, c AS n_discordant_01,
       {chi2} AS chi2,
       {chi2c} AS chi2_corrected
FROM g WHERE b + c > 0
""".format(
        ch=_KAPPA_CHARS,
        wd=_KAPPA_WORDS,
        chi2=_FL6_SQL.format(
            x="CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)"
        ),
        chi2c=_FL6_SQL.format(
            x="CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)"
            " / CAST(b + c AS DOUBLE)"
        ),
    )


# --------------------------------------------- Theil's U (lang|source)
#
# Uncertainty coefficient: how much of the language entropy a
# document's source explains — the ASYMMETRIC, normalized companion of
# mi_lang_source_cells' mutual information and cond_entropy's raw
# conditional entropy.  Same per-term discipline: every c·ln(·) term
# is floored to the 6dp grid before its exact decimal sum; the
# entropies then spend one division each and U one more.


def theil_u_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_docs, h_lang, h_lang_given_source, theil_u)."""
    d = _t(spark, sf_dir, "documents").select("lang", "source")
    cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    srcs = cells.groupBy("source").agg(F.sum("c").alias("cs"))
    langs = cells.groupBy("lang").agg(F.sum("c").alias("cl"))
    # degenerate-input guard (the power_iteration empty-table pattern):
    # one distinct language means H(lang) = 0 and U = 0/0 — a silent
    # NaN both engines would agree on; raise loudly instead.  The guard
    # is IN-PLAN (a raise_error branch on the one output row, fed by a
    # count that rides the s_l aggregate) so merely BUILDING the query
    # runs zero Spark jobs — round-9 verdict item 4; it fires at action
    # time on the degenerate fixture instead of at construction.
    nn = cells.agg(F.sum("c").alias("n"))
    t_l = _FL6_SQL.format(x="CAST(cl AS DOUBLE) * ln(CAST(cl AS DOUBLE))")
    t_c = _FL6_SQL.format(
        x="CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))"
    )
    s_l = langs.select(
        F.expr(f"CAST({t_l} AS DECIMAL(28,6))").alias("t")
    ).agg(F.sum("t").alias("sl"), F.count(F.lit(1)).alias("nl"))
    s_c = (
        cells.join(F.broadcast(srcs), "source")
        .select(F.expr(f"CAST({t_c} AS DECIMAL(28,6))").alias("t"))
        .agg(F.sum("t").alias("sc"))
    )
    h1 = _FL6_SQL.format(
        x="ln(CAST(n AS DOUBLE)) - CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    h2 = _FL6_SQL.format(x="-CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)")
    j = (
        nn.crossJoin(F.broadcast(s_l))
        .crossJoin(F.broadcast(s_c))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.expr(h1).alias("h_lang"),
            F.expr(h2).alias("h_lang_given_source"),
            F.col("nl"),
        )
    )
    u = _FL6_SQL.format(x="(h_lang - h_lang_given_source) / h_lang")
    guarded_u = (
        "CASE WHEN nl >= 2 THEN " + u + " ELSE raise_error("
        "'theil_u_lang_source: single-language corpus — H(lang) = 0 "
        "makes the uncertainty coefficient U = 0/0 undefined') END"
    )
    return j.select(
        "n_docs",
        "h_lang",
        "h_lang_given_source",
        F.expr(guarded_u).alias("theil_u"),
    )


THEIL_U_SQL = """
WITH cells AS (SELECT source, lang, count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
srcs AS (SELECT source, SUM(c)::BIGINT AS cs FROM cells GROUP BY 1),
langs AS (SELECT lang, SUM(c)::BIGINT AS cl FROM cells GROUP BY 1),
nn AS (SELECT SUM(c)::BIGINT AS n FROM cells),
sl AS (SELECT SUM(CAST({tl} AS DECIMAL(28,6))) AS sl FROM langs),
sc AS (SELECT SUM(CAST({tc} AS DECIMAL(28,6))) AS sc
       FROM cells JOIN srcs USING (source)),
h AS (SELECT n, {h1} AS h_lang, {h2} AS h_lang_given_source
      FROM nn CROSS JOIN sl CROSS JOIN sc)
SELECT n AS n_docs, h_lang, h_lang_given_source,
       {u} AS theil_u
FROM h
""".format(
    tl=_FL6_SQL.format(x="CAST(cl AS DOUBLE) * ln(CAST(cl AS DOUBLE))"),
    tc=_FL6_SQL.format(
        x="CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))"
    ),
    h1=_FL6_SQL.format(
        x="ln(CAST(n AS DOUBLE)) - CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)"
    ),
    h2=_FL6_SQL.format(x="-CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)"),
    u=_FL6_SQL.format(x="(h_lang - h_lang_given_source) / h_lang"),
)


# --------------------------------------------- Lorenz curve by decile
#
# The curve behind concentration_spend's Gini: cumulative spend share
# by customer-spend decile.  The rank pass is the range-partitioned
# prefix-sum (partitioning.prefix_sum — NEVER a global row_number
# window, which sorts every customer in one task); the decile cut is
# pure integer arithmetic on that rank, and the cumulative step runs
# at DECILE grain (10 rows).  Spend stays exact cents until the one
# share division per decile.


def lorenz_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(decile, n_cust, cents, cum_cents, cum_share) for deciles 0-9
    of per-customer lifetime spend (0 = lowest spenders)."""
    from k_means_hadoop_spark.partitioning import prefix_sum

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    spend = o.groupBy("o_custkey").agg(F.sum("cents").alias("x"))
    # materialized once: prefix_sum's range-bound sampling re-evaluates
    # its input (the quantile_normalize_scores lesson)
    spend = spend.transform(truncate_lineage_lazy)
    n = spend.agg(F.count(F.lit(1)).alias("n"))
    ranked = prefix_sum(
        spend.withColumn("_one", F.lit(1)),
        "_one",
        [F.col("x").asc(), F.col("o_custkey").asc()],
        out_col="i",
    )
    dec = (
        ranked.crossJoin(F.broadcast(n))
        .select(
            F.expr("CAST((i - 1) * 10 DIV n AS INT)").alias("decile"),
            "x",
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_cust"), F.sum("x").alias("cents"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = _FL6_SQL.format(
        x="CAST(cum_cents AS DOUBLE) / CAST(total AS DOUBLE)"
    )
    return (
        dec.withColumn("cum_cents", F.sum("cents").over(w))
        .withColumn("total", F.sum("cents").over(wt))
        .select(
            "decile",
            F.col("n_cust").cast("bigint").alias("n_cust"),
            F.col("cents").cast("bigint").alias("cents"),
            F.col("cum_cents").cast("bigint").alias("cum_cents"),
            F.expr(share).alias("cum_share"),
        )
    )


LORENZ_SQL = """
WITH o AS (SELECT o_custkey,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
spend AS (SELECT o_custkey, SUM(cents)::BIGINT AS x FROM o GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n FROM spend),
ranked AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend),
dec AS (SELECT CAST((i - 1) * 10 // n AS INT) AS decile,
               count(*)::BIGINT AS n_cust, SUM(x)::BIGINT AS cents
        FROM ranked CROSS JOIN n GROUP BY 1),
c AS (SELECT decile, n_cust, cents,
             SUM(cents) OVER (ORDER BY decile)::BIGINT AS cum_cents,
             SUM(cents) OVER ()::BIGINT AS total
      FROM dec)
SELECT decile, n_cust, cents, cum_cents,
       {share} AS cum_share
FROM c
""".format(
    share=_FL6_SQL.format(
        x="CAST(cum_cents AS DOUBLE) / CAST(total AS DOUBLE)"
    )
)


# --------------------------------------------- Kendall tau-b on a grid
#
# Rank correlation between two DATA-GRAIN ordinals (line-item quantity
# × discount) — the contingency-grid scale path next to
# kendall_tau_daily's day-grain pair join: pair counting runs over the
# (quantity, discount-cent) CELL table, whose size is bounded by the
# DOMAIN (50×11 here), never the data, so the quadratic step is
# constant at any SF.  C/D come from one inequality join over the
# broadcast cell grid; the tie terms come from the two marginals with
# no join at all.  Everything stays exact integers/decimals until
# tau-b's single division against an IEEE-exact sqrt.


def kendall_tau_grid_qty_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_rows, n_cells, concordant, discordant, tau_b)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("q"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("int")
        .alias("dc"),
    )
    cells = li.groupBy("q", "dc").agg(F.count(F.lit(1)).alias("n"))
    # degenerate-marginal guard — IN-PLAN (raise_error branch on tau_b,
    # fed by level counts riding the tq/td marginal aggregates) so
    # building the query runs zero Spark jobs (round-9 verdict item 4
    # extended): tau-b's denominator is zero when either ordinal is
    # constant
    a = cells.select(
        F.col("q").alias("qa"), F.col("dc").alias("da"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("q").alias("qb"), F.col("dc").alias("db"), F.col("n").alias("nb")
    )
    cd = (
        a.join(F.broadcast(b), F.col("qb") > F.col("qa"))
        .agg(
            F.sum(
                F.when(
                    F.col("db") > F.col("da"), F.col("na") * F.col("nb")
                ).otherwise(0)
            ).alias("c"),
            F.sum(
                F.when(
                    F.col("db") < F.col("da"), F.col("na") * F.col("nb")
                ).otherwise(0)
            ).alias("d"),
        )
    )
    nn = cells.agg(
        F.sum("n").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    tq = (
        cells.groupBy("q")
        .agg(F.sum("n").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1)).alias("tq2"),
            F.count(F.lit(1)).alias("nq"),
        )
    )
    td = (
        cells.groupBy("dc")
        .agg(F.sum("n").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1)).alias("td2"),
            F.count(F.lit(1)).alias("nd"),
        )
    )
    tau = _FL6_SQL.format(
        x="CAST(c - d AS DOUBLE)"
        " / sqrt(CAST(CAST((n * (n - 1) - tq2) DIV 2 AS DECIMAL(38,0))"
        " * CAST((n * (n - 1) - td2) DIV 2 AS DECIMAL(38,0)) AS DOUBLE))"
    )
    guarded_tau = (
        "CASE WHEN nq < 2 OR nd < 2 THEN raise_error(concat("
        "'kendall_tau_grid_qty_disc: degenerate marginal (',"
        " CAST(nq AS STRING), ' quantity / ', CAST(nd AS STRING),"
        " ' discount levels) — tau-b''s denominator is zero when"
        " either ordinal is constant'))"
        f" ELSE {tau} END"
    )
    return (
        nn.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tq))
        .crossJoin(F.broadcast(td))
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("n_cells").cast("bigint").alias("n_cells"),
            F.col("c").cast("bigint").alias("concordant"),
            F.col("d").cast("bigint").alias("discordant"),
            F.expr(guarded_tau).alias("tau_b"),
        )
    )


KENDALL_GRID_SQL = """
WITH li AS (SELECT l_quantity::INT AS q,
                   CAST(floor(l_discount * 100 + 0.5) AS INT) AS dc
            FROM lineitem),
cells AS (SELECT q, dc, count(*)::BIGINT AS n FROM li GROUP BY 1, 2),
cd AS (SELECT SUM(CASE WHEN b.dc > a.dc THEN a.n * b.n ELSE 0 END)::BIGINT AS c,
              SUM(CASE WHEN b.dc < a.dc THEN a.n * b.n ELSE 0 END)::BIGINT AS d
       FROM cells a JOIN cells b ON b.q > a.q),
nn AS (SELECT SUM(n)::BIGINT AS n, count(*)::BIGINT AS n_cells FROM cells),
tq AS (SELECT SUM(t * (t - 1))::BIGINT AS tq2
       FROM (SELECT SUM(n)::BIGINT AS t FROM cells GROUP BY q)),
td AS (SELECT SUM(t * (t - 1))::BIGINT AS td2
       FROM (SELECT SUM(n)::BIGINT AS t FROM cells GROUP BY dc))
SELECT n AS n_rows, n_cells, c AS concordant, d AS discordant,
       {tau} AS tau_b
FROM nn CROSS JOIN cd CROSS JOIN tq CROSS JOIN td
""".format(
    tau=_FL6_SQL.format(
        x="CAST(c - d AS DOUBLE)"
        " / sqrt(CAST(CAST((n * (n - 1) - tq2) // 2 AS DECIMAL(38,0))"
        " * CAST((n * (n - 1) - td2) // 2 AS DECIMAL(38,0)) AS DOUBLE))"
    )
)


# --------------------------------------------- hypergeometric enrichment
#
# Which sources are enriched for long documents?  The classic
# sampling-without-replacement test: with N docs, K gated
# (n_chars >= threshold), a source holding n_s docs would carry
# E = n_s·K/N gated ones under the null; the z-score uses the exact
# hypergeometric variance.  znum = N·k_s − n_s·K and the variance
# product n_s·K·(N−K)·(N−n_s) stay EXACT (DECIMAL(38,0) — the product
# exceeds 2^53 at scale) until each source's one division.

_HG_CHARS = 300  # gates ~half the corpus at every shipped SF


def hypergeom_enrichment_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_gated, expected, z) per source."""
    from k_means_hadoop_spark.operators.corpus_extra import _docs

    d = _docs(spark, sf_dir).select(
        "source", (F.col("n_chars") >= _HG_CHARS).cast("int").alias("g")
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("ns"), F.sum("g").alias("ks")
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("g").alias("kk"),
        F.countDistinct("source").alias("nsrc"),
    )
    # degenerate-input guards, IN-PLAN (raise_error branches on z, fed
    # by counts riding the tot aggregate) so building the query runs
    # zero Spark jobs — round-9 verdict item 4 extended: the
    # corpus-level gate must split the corpus (0 < K < N, else the
    # hypergeometric variance is zero) and a single-source corpus makes
    # the variance factor (N - ns) zero, so every z is 0/0 NaN and
    # would slip past parity instead of failing loudly.  An EMPTY
    # corpus has no per-source rows to carry the raise, so the
    # empty-corpus arm rides a unioned branch of the 1-row tot
    # aggregate instead (filtered empty — zero rows, zero cost — the
    # moment the corpus is non-empty), keeping every degenerate input
    # loud like the rest of the guarded family.
    j = per.crossJoin(F.broadcast(tot))
    expected = _FL6_SQL.format(
        x="CAST(ns * kk AS DOUBLE) / CAST(nn AS DOUBLE)"
    )
    z = _FL6_SQL.format(
        x="CAST(nn * ks - ns * kk AS DOUBLE)"
        " / sqrt(CAST(CAST(ns AS DECIMAL(38,0)) * kk * (nn - kk) * (nn - ns)"
        " AS DOUBLE) / CAST(nn - 1 AS DOUBLE))"
    )
    guarded_z = (
        "CASE WHEN nn < 2 OR kk <= 0 OR kk >= nn THEN raise_error(concat("
        "'hypergeom_enrichment_sources: gate does not split the corpus"
        " (N=', CAST(nn AS STRING), ', K=', CAST(kk AS STRING), ') — the"
        " hypergeometric variance is zero and every z divides by zero'))"
        " WHEN nsrc < 2 THEN raise_error(concat("
        "'hypergeom_enrichment_sources: corpus has ', CAST(nsrc AS STRING),"
        " ' distinct source(s); with one source ns == N makes the"
        " variance factor (N - ns) zero and z = 0/0 NaN'))"
        f" ELSE {z} END"
    )
    empty_guard = tot.where(F.col("nn") == 0).select(
        F.expr(
            "CAST(raise_error('hypergeom_enrichment_sources: empty "
            "corpus — no documents to gate (N=0)') AS STRING)"
        ).alias("source"),
        F.lit(0).cast("bigint").alias("n_docs"),
        F.lit(0).cast("bigint").alias("n_gated"),
        F.lit(0.0).alias("expected"),
        F.lit(0.0).alias("z"),
    )
    return j.select(
        "source",
        F.col("ns").cast("bigint").alias("n_docs"),
        F.col("ks").cast("bigint").alias("n_gated"),
        F.expr(expected).alias("expected"),
        F.expr(guarded_z).alias("z"),
    ).unionByName(empty_guard)


HYPERGEOM_SQL = """
WITH d AS (SELECT source,
                  CASE WHEN n_chars >= {chars} THEN 1 ELSE 0 END AS g
           FROM documents),
per AS (SELECT source, count(*)::BIGINT AS ns, SUM(g)::BIGINT AS ks
        FROM d GROUP BY 1),
tot AS (SELECT count(*)::BIGINT AS nn, SUM(g)::BIGINT AS kk FROM d)
SELECT source, ns AS n_docs, ks AS n_gated,
       {expected} AS expected,
       {z} AS z
FROM per CROSS JOIN tot
""".format(
    chars=_HG_CHARS,
    expected=_FL6_SQL.format(
        x="CAST(ns * kk AS DOUBLE) / CAST(nn AS DOUBLE)"
    ),
    z=_FL6_SQL.format(
        x="CAST(nn * ks - ns * kk AS DOUBLE)"
        " / sqrt(CAST(CAST(ns AS DECIMAL(38,0)) * kk * (nn - kk) * (nn - ns)"
        " AS DOUBLE) / CAST(nn - 1 AS DOUBLE))"
    ),
)


STATS_EXTRA_QUERIES = {
    "mannwhitney_value_groups": (mannwhitney_value_groups, MANNWHITNEY_SQL),
    "kendall_tau_daily": (kendall_tau_daily, KENDALL_SQL),
    "bh_fdr_nation_acctbal": (bh_fdr_nation_acctbal, BH_FDR_SQL),
    "cohens_kappa_gates": (cohens_kappa_gates, KAPPA_SQL),
    "pr_curve_quality": (pr_curve_quality, PR_CURVE_SQL),
    "kmv_distinct_users": (kmv_distinct_users, KMV_SQL),
    "log2_histogram_values": (log2_histogram_values, LOG2_HIST_SQL),
    # the streaming count-merge MUST reproduce the batch sketch exactly,
    # so it shares the batch oracle on purpose — any merge loss flips
    # the hash (the streaming_hll_merge convention).
    "streaming_log2_histogram": (streaming_log2_histogram, LOG2_HIST_SQL),
    "wilcoxon_clicks_views": (wilcoxon_clicks_views, WILCOXON_SQL),
    "runs_test_daily": (runs_test_daily, RUNS_TEST_SQL),
    "concentration_spend": (concentration_spend, CONCENTRATION_SQL),
    "mood_median_test": (mood_median_test, MOOD_SQL),
    "benford_totalprice": (benford_totalprice, _benford_sql()),
    "burstiness_events": (burstiness_events, BURSTINESS_SQL),
    # the min-merge MUST reproduce the batch KMV sketch exactly (the
    # union of per-batch K-smallest heads contains the global K
    # smallest) — same oracle on purpose.
    "streaming_kmv_merge": (streaming_kmv_merge, KMV_SQL),
    "kaplan_meier_retention": (kaplan_meier_retention, KM_SQL),
    "dp_noisy_lang_counts": (dp_noisy_lang_counts, DP_NOISY_SQL),
    "ridge_price_model": (ridge_price_model, _ridge_sql()),
    "logistic_newton_step": (logistic_newton_step, _logistic_sql()),
    "cronbach_alpha_items": (cronbach_alpha_items, CRONBACH_SQL),
    "exact_percentiles_values": (exact_percentiles_values, EXACT_PCT_SQL),
    "anova_two_way": (anova_two_way, _anova2_sql()),
    "gini_spend_nations": (gini_spend_nations, GINI_SQL),
    "cramers_v_event_dow": (cramers_v_event_dow, CRAMERS_SQL),
    "simpson_diversity_sources": (simpson_diversity_sources, SIMPSON_SQL),
    "cond_entropy_transitions": (cond_entropy_transitions, COND_ENTROPY_SQL),
    "levene_value_groups": (levene_value_groups, LEVENE_SQL),
    "holm_bonferroni_nation_acctbal": (
        holm_bonferroni_nation_acctbal,
        HOLM_SQL,
    ),
    "friedman_event_dow": (friedman_event_dow, FRIEDMAN_SQL),
    "mcnemar_gates": (mcnemar_gates, _mcnemar_sql()),
    "theil_u_lang_source": (theil_u_lang_source, THEIL_U_SQL),
    "lorenz_spend_deciles": (lorenz_spend_deciles, LORENZ_SQL),
    "kendall_tau_grid_qty_disc": (
        kendall_tau_grid_qty_disc,
        KENDALL_GRID_SQL,
    ),
    "hypergeom_enrichment_sources": (
        hypergeom_enrichment_sources,
        HYPERGEOM_SQL,
    ),
}
