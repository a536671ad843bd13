"""Centroid recomputation — reference reducer (KMeans.java:148-200).

The reference's reducer collects every member vector of a cluster into
a list (A2's combiner only concatenates lists — it pre-aggregates
nothing, KMeans.java:128-144) and then sums/divides dimension-wise
(``reCalculateCentroid``, KMeans.java:184-198).

Spark-first: per-dimension ``avg`` columns under one ``groupBy('cluster')``
— Catalyst plans a *real* partial aggregation (map-side sums + counts per
dimension), so the exchange carries k rows × d running sums instead of
the reference's entire shuffled dataset.  The d element accessors are
unrolled as literal columns (d is known from the schema), keeping the
whole thing inside whole-stage codegen.

A5 (cluster size, KMeans.java:524) rides the same aggregation; A4
(member-id collect, KMeans.java:166) is the ``a4_member_ids`` registry
query, whose member lists are sorted for determinism (the reference
inherits arrival order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def feature_dim(points: DataFrame, features_col: str = "features") -> int:
    """Dimensionality from the first row (the reference likewise learns d
    from the rows themselves, KMeans.java:171)."""
    row = points.select(F.size(features_col).alias("d")).first()
    if row is None:
        raise ValueError("empty points DataFrame")
    return int(row["d"])


def recompute_centroids(
    assignments: DataFrame,
    d: int | None = None,
    features_col: str = "features",
    cluster_col: str = "cluster",
) -> DataFrame:
    """(cluster, centroid ARRAY<DOUBLE>, size BIGINT).

    Empty clusters produce no output row — the reference's C5 semantics
    (a key that is never emitted simply vanishes, KMeans.java:113,148).
    """
    if d is None:
        d = feature_dim(assignments, features_col)
    # One JVM-parsed expression instead of d Column-API avg() builders:
    # the Py4J round-trips otherwise dominate driver time in the Lloyd
    # loop (see assign.nearest_centroid_sql).
    mean_arr = "array({}) AS centroid".format(
        ", ".join(f"avg(`{features_col}`[{i}])" for i in range(d))
    )
    return assignments.groupBy(cluster_col).agg(
        F.expr(mean_arr), F.count(F.lit(1)).alias("size")
    )


def recompute_exploded(
    assignments: DataFrame,
    features_col: str = "features",
    cluster_col: str = "cluster",
) -> DataFrame:
    """(cluster, pos, mean_val) — posexplode variant.

    Same math, row-per-dimension output; used by the oracle-checked
    parity query (arrays are awkward to hash cross-engine) and as the
    scale fallback when d is large enough that d unrolled agg columns
    stop being reasonable (d in the thousands).
    """
    return (
        assignments.select(cluster_col, F.posexplode(features_col).alias("pos", "v"))
        .groupBy(cluster_col, "pos")
        .agg(F.avg("v").alias("mean_val"))
    )
