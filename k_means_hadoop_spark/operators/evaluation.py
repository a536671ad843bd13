"""External cluster evaluation — reference ``jaccardCoeff``
(KMeans.java:623-665).

The reference materializes two n×n 0/1 co-membership matrices (ground
truth at :624-633, prediction at :635-644; ``-1`` labels excluded from
BOTH matrices via the ``clus1 != -1`` guard) and counts ordered pairs
INCLUDING the diagonal: m1 = pairs co-clustered in both, m0 = pairs
where the matrices disagree, J = m1/(m1+m0) (:646-663).

That is O(n²) memory/time.  The identical counts come out of the
(label, cluster) contingency table in O(n + |L|·|C|):

  with n_lc = |{i : label_i = l, cluster_i = c}|,
       n_l  = Σ_c n_lc,   m_c = Σ_l n_lc   (l ranging over labels ≠ -1
       for ground-truth counts; predicted clusters are never -1 but the
       same guard is applied for exactness):

  ground1 = Σ_{l≠-1} n_l²          (ordered pairs incl. diagonal)
  pred1   = Σ_c     m_c²           (over rows with any label, incl. -1)
  both1   = Σ_{l≠-1, c} n_lc²
  m1 = both1
  m0 = (ground1 - both1) + (pred1 - both1)

Distributed cost: one groupBy over n rows producing ≤ |L|·|C| cells —
at 100 TB this is a single partial-agg shuffle of a few thousand rows.
SQL-expressible → DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.hashing import stable_hash64
from k_means_hadoop_spark.functions.vector import euclidean as _euclidean, euclidean_unrolled


def contingency(assignments: DataFrame, label_col: str = "label", cluster_col: str = "cluster") -> DataFrame:
    """(label, cluster, n) co-occurrence counts (A7's base aggregate)."""
    return assignments.groupBy(label_col, cluster_col).agg(F.count(F.lit(1)).alias("n"))


def jaccard_reference(assignments: DataFrame, label_col: str = "label", cluster_col: str = "cluster") -> DataFrame:
    """Single-row (m1 BIGINT, m0 BIGINT, jaccard DOUBLE) —
    bit-identical to the reference's ordered-pairs-with-diagonal counts.

    Plan shape (this matters at scale — a naive three-branch formulation
    re-aggregates the full assignment table three times and cost ~14
    exchanges): ONE pass over the assignments builds the contingency
    cells; the marginals n_l, m_c are window sums over the tiny cell
    table; the three pair-sums collapse into a single global aggregate
    using  Σ_l n_l² = Σ_cells n·n_l  (and likewise for m_c).
    """
    from pyspark.sql import Window

    cells = contingency(assignments, label_col, cluster_col)
    ground_ok = F.col(label_col) != -1
    # Mirrors the reference's `clus1 != -1` guard on the prediction matrix
    # (clusters are 1..k so it never fires, but the formula stays exact).
    pred_ok = F.col(cluster_col) != -1
    stats = cells.select(
        F.col("n"),
        ground_ok.alias("g_ok"),
        pred_ok.alias("p_ok"),
        F.sum("n").over(Window.partitionBy(label_col)).alias("n_l"),
        F.sum("n").over(Window.partitionBy(cluster_col)).alias("m_c"),
    )
    totals = stats.agg(
        F.sum(F.when(F.col("g_ok"), F.col("n") * F.col("n_l")).otherwise(0)).alias("ground1"),
        F.sum(F.when(F.col("p_ok"), F.col("n") * F.col("m_c")).otherwise(0)).alias("pred1"),
        F.sum(
            F.when(F.col("g_ok") & F.col("p_ok"), F.col("n") * F.col("n")).otherwise(0)
        ).alias("both1"),
    )
    return totals.select(
        F.col("both1").cast("bigint").alias("m1"),
        (F.col("ground1") + F.col("pred1") - 2 * F.col("both1")).cast("bigint").alias("m0"),
        (
            F.col("both1").cast("double")
            / (F.col("ground1") + F.col("pred1") - F.col("both1")).cast("double")
        ).alias("jaccard"),
    )


def wssse(assignments: DataFrame, dist_col: str = "dist") -> float:
    """Within-set sum of squared errors (beyond-reference convergence
    telemetry; property tests assert it is non-increasing per iteration)."""
    row = assignments.agg(F.sum(F.col(dist_col) * F.col(dist_col)).alias("w")).first()
    return float(row["w"]) if row and row["w"] is not None else 0.0


# ------------------------------------------------- silhouette (internal)
#
# The reference evaluates clusterings externally (Jaccard vs ground
# truth, above); silhouette is the standard INTERNAL complement — it
# needs no labels, only distances.  s(i) = (b−a)/max(a,b) with a =
# mean distance to own cluster (excl. self), b = the smallest mean
# distance to another cluster; singleton clusters define s = 0.
#
# All-pairs distances are O(n²): the registered query bounds ids (the
# repo-standard fixture-safe cap; at production scale silhouette runs
# on a uniform sample — the estimator is a mean, so a sample bound is
# principled).  Determinism: each pairwise distance is ONE euclidean
# fold (ascending-dim order, hash-proven equal to DuckDB list_distance
# by f1_euclidean) rounded to 6dp and cast DECIMAL(18,6), so every
# mean is a ratio of an exact decimal sum and an integer count, and
# the s formula is shared literal text.

SIL_MEAN = "CAST(sum_d AS DOUBLE) / cnt"
SIL_S = (
    "CASE WHEN a IS NULL OR b IS NULL THEN 0.0"
    " WHEN greatest(a, b) = 0.0 THEN 0.0"
    " ELSE (b - a) / greatest(a, b) END"
)


def _pair_dist(d_dim: int | None):
    """The rounded-decimal pairwise distance both silhouette operators
    sum: the codegen'd unrolled chain when the caller knows the
    dimension (bit-identical to the HOF fold — see
    ``vector.squared_distance_unrolled``; the distance pass is ~92% of
    the sampled operator's runtime and measured 2.7× faster unrolled),
    else the dimension-agnostic HOF form."""
    dist = (
        euclidean_unrolled("a.features", "b.features", d_dim)
        if d_dim is not None
        else _euclidean(F.col("a.features"), F.col("b.features"))
    )
    return F.round(dist, 6).cast("decimal(18,6)")


def silhouette_by_cluster(assigned: DataFrame, d_dim: int | None = None) -> DataFrame:
    """(cluster, n_points, mean_silhouette) from an assignment carrying
    (id, cluster, features).  ``d_dim``: pass the (caller-known) vector
    dimension to run the distance chain inside whole-stage codegen."""
    pts = assigned.select("id", "cluster", "features")
    a, b = pts.alias("a"), pts.alias("b")
    d = _pair_dist(d_dim)
    grp = (
        a.join(b, F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("i"),
            F.col("a.cluster").alias("ci"),
            F.col("b.cluster").alias("cj"),
            d.alias("d"),
        )
        .groupBy("i", "ci", "cj")
        .agg(F.sum("d").alias("sum_d"), F.count(F.lit(1)).alias("cnt"))
    )
    own = grp.where(F.col("ci") == F.col("cj")).select(
        "i", F.expr(SIL_MEAN).alias("a")
    )
    oth = (
        grp.where(F.col("ci") != F.col("cj"))
        .select("i", "ci", F.expr(SIL_MEAN).alias("mean_j"))
        .groupBy("i")
        .agg(F.min("mean_j").alias("b"))
    )
    s = (
        pts.select(F.col("id").alias("i"), "cluster")
        .join(own, "i", "left")
        .join(oth, "i", "left")
        .withColumn("s", F.expr(SIL_S))
    )
    return s.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(
            F.sum(F.round(F.col("s"), 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_silhouette"),
    )


# ------------------------------------------------- sampled silhouette
#
# The production-scale form of the evaluator above: s(i) is still
# computed EXACTLY (against every point), but only for a deterministic
# uniform per-cluster sample of m points — the estimator of the mean
# silhouette is the sample mean of exact s values, so the cost drops
# from O(n²) to O(m·k·n): one broadcast of k·m sampled rows and a
# single linear pass over the corpus.  At 100 TB this is the ONLY
# runnable shape; the exact operator stays as the bounded oracle
# measure.
#
# Determinism/portability: the sample is the m smallest md5-based
# stable_hash64(id||salt) per cluster — bit-identical in DuckDB, so
# the sampled estimator carries a FULL value oracle (not an ε
# contract).  The sample ranking runs on a THIN (id, cluster, hash)
# projection — features are never shuffled — via the two-phase top-k
# (partition-local rank, then a global rank over ≤ m·P survivors).

SIL_SAMPLE_PER_CLUSTER = 16
_SIL_SALT = ":sil42"


def sample_per_cluster(
    assigned: DataFrame, m: int = SIL_SAMPLE_PER_CLUSTER, salt: str = _SIL_SALT
) -> DataFrame:
    """Deterministic m-per-cluster uniform sample of an assignment —
    the m smallest stable_hash64(id||salt) ids per cluster, id
    tie-broken.  Two-phase top-k on a thin projection: no global
    per-cluster sort of the full table, features joined back only for
    the k·m winners."""
    from pyspark.sql import Window

    thin = assigned.select(
        "id",
        "cluster",
        stable_hash64(F.concat(F.col("id").cast("string"), F.lit(salt))).alias("_h"),
    )
    w_local = (
        Window.partitionBy(F.spark_partition_id(), "cluster")
        .orderBy("_h", "id")
    )
    survivors = (
        thin.withColumn("_r", F.row_number().over(w_local))
        .where(F.col("_r") <= m)
        .drop("_r")
    )
    w_global = Window.partitionBy("cluster").orderBy("_h", "id")
    winners = (
        survivors.withColumn("_r", F.row_number().over(w_global))
        .where(F.col("_r") <= m)
        .select("id")
    )
    return assigned.join(F.broadcast(winners), "id")


def silhouette_sampled(
    assigned: DataFrame,
    m: int = SIL_SAMPLE_PER_CLUSTER,
    salt: str = _SIL_SALT,
    d_dim: int | None = None,
) -> DataFrame:
    """(cluster, n_sampled, mean_silhouette) — exact s(i) for the
    deterministic per-cluster sample, each against ALL points.
    ``d_dim``: see ``silhouette_by_cluster``."""
    pts = assigned.select("id", "cluster", "features")
    # k·m rows; persisted because the plan references it twice (the
    # distance build side and the final per-sample s rows) and each
    # uncached reference would re-run the thin rank pass over all points
    sample = (
        sample_per_cluster(assigned, m, salt)
        .select("id", "cluster", "features")
        .persist()
    )
    a, b = F.broadcast(sample).alias("a"), pts.alias("b")
    d = _pair_dist(d_dim)
    grp = (
        a.join(b, F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("i"),
            F.col("a.cluster").alias("ci"),
            F.col("b.cluster").alias("cj"),
            d.alias("d"),
        )
        .groupBy("i", "ci", "cj")
        .agg(F.sum("d").alias("sum_d"), F.count(F.lit(1)).alias("cnt"))
    )
    own = grp.where(F.col("ci") == F.col("cj")).select(
        "i", F.expr(SIL_MEAN).alias("a")
    )
    oth = (
        grp.where(F.col("ci") != F.col("cj"))
        .select("i", F.expr(SIL_MEAN).alias("mean_j"))
        .groupBy("i")
        .agg(F.min("mean_j").alias("b"))
    )
    s = (
        sample.select(F.col("id").alias("i"), "cluster")
        .join(own, "i", "left")
        .join(oth, "i", "left")
        .withColumn("s", F.expr(SIL_S))
    )
    return s.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(
            F.sum(F.round(F.col("s"), 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_silhouette"),
    )
