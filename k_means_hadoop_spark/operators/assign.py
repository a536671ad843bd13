"""Nearest-centroid assignment — reference mapper (KMeans.java:78-114).

The reference implements J1 (broadcast nested-loop join of every point
with the k-centroid table held in mapper memory, KMeans.java:36,40-74,
101-107) + J2 (argmin over the k distances, KMeans.java:98-107).

Two Spark-first realizations, both pure Catalyst expressions:

``assign_expr``  — the 100 TB path, and the one assignment expression
    of the Lloyd loop, the streaming assigner and every query built on
    them.  The k×d centroid table is folded into the plan as a literal
    ARRAY<STRUCT<cluster,centroid>> and the argmin is a single
    projection: **zero shuffle, zero join**, one narrow map over the
    points (see ``nearest_centroid_sql``).  This is strictly better than
    a broadcast join (no build-side hashing, no stream-side probe) and
    is exactly what the reference's in-mapper centroid cache
    approximates.

``assign_join``  — the general path when centroids are a DataFrame
    (e.g. produced by an upstream query): ``crossJoin(F.broadcast(...))``
    + min-by via ``F.min(struct(dist, cluster))``.  The struct-min makes
    tie-breaking deterministic: lowest distance, then lowest cluster id
    (the reference is nondeterministic on ties — HashMap iteration
    order at KMeans.java:101; SURVEY.md §4 quirk 2).

Label exclusion (P1, KMeans.java:88-90) falls out of column pruning:
neither path ever touches ``label``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.vector import squared_distance

Centroids = Sequence[tuple[int, Sequence[float]]]


def _double_sql(v: float) -> str:
    """Round-trip-exact SQL double literal (repr is shortest-exact)."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _centroid_literal_sql(centroids: Centroids) -> str:
    """k×d centroid table as a literal array-of-structs SQL string,
    ordered by cluster id so the fold's strict-< tie-break lands on the
    lowest id."""
    entries = ", ".join(
        "named_struct('cluster', {}, 'centroid', array({}))".format(
            int(cid), ", ".join(_double_sql(v) for v in vec)
        )
        for cid, vec in sorted(centroids, key=lambda t: t[0])
    )
    return f"array({entries})"


def nearest_centroid_sql(features_sql: str, centroids: Centroids) -> str:
    """``array_min`` argmin over STRUCT(sqdist, cluster) as ONE SQL
    string, parsed JVM-side in one call — building the k×d literals
    through the Column API cost hundreds of Py4J round-trips per call
    (~1.4 s per Lloyd iteration of pure driver overhead at k=8, d=64).

    The HOF form (``transform`` over the centroid array,
    ``aggregate``-fold distance) is CodegenFallback, so the hot loop is
    interpreted, but nothing is recompiled when the literals change.  An
    unrolled arithmetic chain would run inside whole-stage codegen, but
    Janino must recompile it for every fresh centroid table: measured 3×
    slower per Lloyd iteration at k=8, d=64, so do not retry it.

    Struct comparison is lexicographic, so ties go to the lowest
    cluster id (deterministic — the reference is HashMap-order
    nondeterministic here, KMeans.java:101).
    """
    return (
        f"array_min(transform({_centroid_literal_sql(centroids)}, "
        f"c -> named_struct('sqdist', "
        f"aggregate(zip_with({features_sql}, c.centroid, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, v) -> acc + v), "
        f"'cluster', c.cluster)))"
    )


def assign_expr(
    points: DataFrame,
    centroids: Centroids,
    features_col: str = "features",
) -> DataFrame:
    """Assignment as a single narrow projection (no shuffle, no join):
    adds ``cluster`` and ``dist`` (Euclidean) to every point.

    The argmin struct is materialized once in an intermediate column so
    the k×d expression tree appears exactly once in the plan (two
    direct ``withColumn``s would embed it twice and double both the
    analysis cost and — where Catalyst declines to CSE a non-cheap
    expression — the execution cost)."""
    best = F.expr(nearest_centroid_sql(features_col, centroids))
    return (
        points.withColumn("_best", best)
        .withColumn("cluster", F.col("_best").getField("cluster"))
        .withColumn("dist", F.sqrt(F.col("_best").getField("sqdist")))
        .drop("_best")
    )


def assign_join(
    points: DataFrame,
    centroids: DataFrame,
    id_col: str = "id",
    features_col: str = "features",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Assignment via explicit broadcast join + min-by aggregation.

    ``centroids`` must have columns (cluster INT, centroid ARRAY<DOUBLE>).
    The n×k intermediate never materializes beyond the codegen'd stage;
    the groupBy keys on the point id so partial aggregation collapses the
    k candidate rows map-side before any exchange.
    """
    cand = points.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", F.sqrt(squared_distance(features_col, "centroid"))
    )
    keys = [id_col, *carry_cols]
    best = F.min(F.struct(F.col("dist"), F.col("cluster"))).alias("best")
    return (
        cand.groupBy(*keys)
        .agg(best)
        .select(*keys, F.col("best.cluster").alias("cluster"), F.col("best.dist").alias("dist"))
    )
