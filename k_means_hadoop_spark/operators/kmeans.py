"""Lloyd's k-means driver loop — reference KMeans.main (KMeans.java:202-289).

Reference lifecycle per iteration: full input re-scan from HDFS
(KMeans.java:242 inside the :220 loop), centroid state round-tripped
through the filesystem (:246-247), whole dataset shuffled every
iteration.  Spark-first replacement:

- points are **cached once** before the loop (the canonical
  Spark-over-MapReduce k-means win);
- the k×d centroid table is the ONLY thing that ever reaches the
  driver (``recompute_centroids().collect()``) and goes back out as a
  plan literal (``assign_expr``) — no filesystem round-trip, no
  broadcast-variable churn;
- each iteration is one narrow map (assignment) + one partial-agg
  shuffle of k×d running sums.

Semantics preserved from the reference (SURVEY.md §4 quirks):
- convergence = EXACT centroid equality, tolerance 0 (checkSimilar,
  KMeans.java:291-310) — ``tol`` is exposed but defaults to 0.0;
- a size mismatch between old and new centroid sets blocks convergence
  (KMeans.java:294,306-307);
- empty clusters VANISH — k shrinks (C5; consequence of
  KMeans.java:113,148-182);
- max_iter = -1 means run until convergence (KMeans.java:213-225);
- ties in assignment are broken to the lowest cluster id (deliberate
  determinism fix; reference is HashMap-order nondeterministic).

Init modes:
- ``init_ids``   — I2, user-specified seed rows renumbered 1..k in the
  given order (KMeans.java:598-607): the reproducible golden mode.
- ``init_random`` — I1, seeded uniform distinct sampling (deliberate
  fidelity break: the reference's RNG is unseeded and biased to ids
  ≤ 10000, KMeans.java:586).
- ``mllib_kmeans`` — the scale path: pyspark.ml KMeans with
  k-means|| init (I3, beyond-reference).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from k_means_hadoop_spark.functions.hashing import stable_hash64
from k_means_hadoop_spark.operators.assign import Centroids, assign_expr
from k_means_hadoop_spark.operators.recompute import feature_dim, recompute_centroids


@dataclass
class KMeansResult:
    assignments: DataFrame  # points + cluster + dist
    centroids: list[tuple[int, list[float]]]  # final k×d table (driver-local)
    iterations: int
    converged: bool


def init_ids(points: DataFrame, seed_ids: Sequence[int], id_col: str = "id", features_col: str = "features") -> list[tuple[int, list[float]]]:
    """I2: seed rows by id, renumbered 1..k in the order given
    (KMeans.java:597-606 ``clusNum++``)."""
    rows = {
        r[id_col]: list(r[features_col])
        for r in points.filter(F.col(id_col).isin(list(seed_ids))).select(id_col, features_col).collect()
    }
    missing = [i for i in seed_ids if i not in rows]
    if missing:
        raise ValueError(f"seed ids not found: {missing}")
    return [(i + 1, rows[sid]) for i, sid in enumerate(seed_ids)]


def init_random(points: DataFrame, k: int, seed: int = 42, id_col: str = "id", features_col: str = "features", fast: bool = False) -> list[tuple[int, list[float]]]:
    """I1: seeded uniform k-row sample, renumbered 1..k deterministically.

    Default ordering is ``stable_hash64(id || ':' || seed)`` (md5-based)
    so the selection is reproducible in DuckDB and the registry entry
    carries a full value oracle; ``fast=True`` keeps the xxhash64
    ordering for internal hot paths that don't need cross-engine parity
    (e.g. the IVF quantizer's training init).  ``id`` is the secondary
    sort key: hash collisions can't make the sample nondeterministic.
    """
    order_hash = (
        F.xxhash64(F.col(id_col), F.lit(seed))
        if fast
        else stable_hash64(F.concat_ws(":", F.col(id_col), F.lit(seed)))
    )
    sample = (
        points.select(id_col, features_col)
        .orderBy(order_hash, F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(sample) < k:
        raise ValueError(f"not enough rows ({len(sample)}) for k={k}")
    return [(i + 1, list(r[features_col])) for i, r in enumerate(sample)]


def _collect_centroids(cent_df: DataFrame) -> list[tuple[int, list[float]]]:
    return sorted(
        ((r["cluster"], list(r["centroid"])) for r in cent_df.select("cluster", "centroid").collect()),
        key=lambda t: t[0],
    )


def _converged(old: Centroids, new: Centroids, tol: float) -> bool:
    """checkSimilar (KMeans.java:291-310): every centroid moved ≤ tol
    (default exactly 0) AND the cluster-id sets match (a vanished
    cluster blocks convergence, :294,:306-307)."""
    old_d, new_d = dict(old), dict(new)
    if set(old_d) != set(new_d):
        return False
    for cid, vec in new_d.items():
        prev = old_d[cid]
        if len(prev) != len(vec):
            return False
        move2 = sum((a - b) * (a - b) for a, b in zip(prev, vec))
        if move2 > tol * tol:
            return False
    return True


def lloyd_kmeans(
    points: DataFrame,
    init_centroids: Centroids,
    max_iter: int = -1,
    tol: float = 0.0,
    features_col: str = "features",
) -> KMeansResult:
    """Full Lloyd loop (C1-C5). ``max_iter=-1`` runs until convergence."""
    centroids = [(int(c), [float(v) for v in vec]) for c, vec in init_centroids]
    # d from the init table (k×d, already driver-local) — the init rows
    # come from the same points table, so this replaces feature_dim's
    # first() scan: one Spark job saved per Lloyd invocation (the
    # flagship, plus every IVF quantizer fit that trains on a sample).
    d = len(centroids[0][1]) if centroids else feature_dim(points, features_col)
    points = points.persist(StorageLevel.MEMORY_AND_DISK)
    iterations = 0
    converged = False
    # Hard backstop for max_iter=-1 so a pathological non-convergence
    # (possible only with tol=0 float cycling) cannot loop forever.
    cap = max_iter if max_iter >= 0 else 10_000
    while iterations < cap:
        assigned = assign_expr(points, centroids, features_col)
        new_centroids = _collect_centroids(
            recompute_centroids(assigned, d=d, features_col=features_col)
        )
        iterations += 1
        if _converged(centroids, new_centroids, tol):
            centroids = new_centroids
            converged = True
            break
        centroids = new_centroids
    result = assign_expr(points, centroids, features_col)
    points.unpersist()
    return KMeansResult(assignments=result, centroids=centroids, iterations=iterations, converged=converged)


def mllib_kmeans(points: DataFrame, k: int, seed: int = 42, max_iter: int = 20, tol: float = 0.0, features_col: str = "features"):
    """I3 scale path: MLlib KMeans (k-means|| init, DataFrame-native).

    Returns (assignments DataFrame with ``cluster`` 1..k, fitted model).
    NOTE parity gaps vs ``lloyd_kmeans`` (documented, SURVEY.md §4):
    MLlib keeps empty clusters' old centroids instead of dropping them.
    """
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector

    vec = points.withColumn("_fvec", array_to_vector(F.col(features_col)))
    model = MLKMeans(
        k=k, seed=seed, maxIter=max_iter, tol=tol, initMode="k-means||",
        featuresCol="_fvec", predictionCol="_pred",
    ).fit(vec)
    out = model.transform(vec).withColumn("cluster", F.col("_pred") + 1).drop("_fvec", "_pred")
    return out, model
