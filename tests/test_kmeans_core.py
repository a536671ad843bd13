"""Core k-means operator tests: assignment, recompute, loop, evaluation.

Golden values are hand-computed on tiny inline datasets; reference
semantics cited per test (SURVEY.md §2/§4).
"""

from __future__ import annotations

import math

import pytest

from k_means_hadoop_spark.operators.assign import assign_expr, assign_join
from k_means_hadoop_spark.operators.evaluation import contingency, jaccard_reference, wssse
from k_means_hadoop_spark.operators.kmeans import init_ids, init_random, lloyd_kmeans, mllib_kmeans
from k_means_hadoop_spark.operators.recompute import recompute_centroids, recompute_exploded


def tiny_points(spark):
    # Two obvious blobs around (0,0) and (10,10), plus one tie point.
    rows = [
        (1, 1, [0.0, 0.0]),
        (2, 1, [1.0, 0.0]),
        (3, 1, [0.0, 1.0]),
        (4, 2, [10.0, 10.0]),
        (5, 2, [9.0, 10.0]),
        (6, 2, [10.0, 9.0]),
        (7, -1, [5.0, 5.0]),  # equidistant from both seed centroids
    ]
    return spark.createDataFrame(rows, "id int, label int, features array<double>")


CENTS = [(1, [0.0, 0.0]), (2, [10.0, 10.0])]


def test_assign_expr_basic(spark):
    out = {r["id"]: (r["cluster"], r["dist"]) for r in assign_expr(tiny_points(spark), CENTS).collect()}
    assert out[1] == (1, 0.0)
    assert out[4] == (2, 0.0)
    assert out[2][0] == 1 and math.isclose(out[2][1], 1.0)
    assert out[5][0] == 2 and math.isclose(out[5][1], 1.0)
    # tie → lowest cluster id (SURVEY §4 quirk 2, deliberate determinism fix)
    assert out[7][0] == 1
    assert math.isclose(out[7][1], math.sqrt(50.0))


def test_assign_join_matches_expr(spark):
    pts = tiny_points(spark)
    cent_df = spark.createDataFrame(
        [(c, v) for c, v in CENTS], "cluster int, centroid array<double>"
    )
    a = {(r["id"], r["cluster"]) for r in assign_expr(pts, CENTS).select("id", "cluster").collect()}
    b = {(r["id"], r["cluster"]) for r in assign_join(pts, cent_df).select("id", "cluster").collect()}
    assert a == b


def test_recompute_centroids(spark):
    assigned = assign_expr(tiny_points(spark), CENTS)
    cents = {
        r["cluster"]: (list(r["centroid"]), r["size"])
        for r in recompute_centroids(assigned).collect()
    }
    # cluster 1: points 1,2,3,7 → mean ((0+1+0+5)/4, (0+0+1+5)/4) = (1.5, 1.5)
    assert cents[1][0] == [1.5, 1.5]
    assert cents[1][1] == 4
    # cluster 2: points 4,5,6 → ((10+9+10)/3, (10+10+9)/3)
    assert cents[2][0] == [pytest.approx(29.0 / 3), pytest.approx(29.0 / 3)]
    assert cents[2][1] == 3


def test_recompute_exploded_matches_array(spark):
    assigned = assign_expr(tiny_points(spark), CENTS)
    arr = {r["cluster"]: list(r["centroid"]) for r in recompute_centroids(assigned).collect()}
    expl = recompute_exploded(assigned).collect()
    for r in expl:
        assert arr[r["cluster"]][r["pos"]] == pytest.approx(r["mean_val"])


def test_empty_cluster_vanishes(spark):
    # C5: a centroid that attracts nothing produces no group
    # (KMeans.java:113,148 — keys only exist if emitted).
    cents = CENTS + [(3, [100.0, 100.0])]
    assigned = assign_expr(tiny_points(spark), cents)
    got = {r["cluster"] for r in recompute_centroids(assigned).collect()}
    assert got == {1, 2}


def test_lloyd_converges_tiny(spark):
    res = lloyd_kmeans(tiny_points(spark), CENTS, max_iter=-1, tol=0.0)
    assert res.converged
    # exact-equality convergence needs one extra confirming pass
    assert res.iterations >= 2
    final = dict(res.centroids)
    assert final[1] == [pytest.approx(1.5), pytest.approx(1.5)]
    assignments = {r["id"]: r["cluster"] for r in res.assignments.collect()}
    assert assignments[7] == 1


def test_lloyd_max_iter_cap(spark):
    res = lloyd_kmeans(tiny_points(spark), [(1, [4.9, 5.0]), (2, [5.1, 5.0])], max_iter=1)
    assert res.iterations == 1


def test_wssse_nonincreasing(spark, sf_dir):
    from k_means_hadoop_spark.sources.points import points_from_embeddings

    pts = points_from_embeddings(spark, sf_dir).limit(200).cache()
    cents = init_ids(pts, [1, 2, 3])
    values = []
    for _ in range(4):
        assigned = assign_expr(pts, cents)
        values.append(wssse(assigned))
        cents = [
            (r["cluster"], list(r["centroid"]))
            for r in recompute_centroids(assigned).collect()
        ]
    pts.unpersist()
    for a, b in zip(values, values[1:]):
        assert b <= a + 1e-9


def test_init_ids_renumbering(spark):
    # I2: renumbered 1..k in the ORDER GIVEN (KMeans.java:597-606)
    cents = init_ids(tiny_points(spark), [4, 1])
    assert cents[0] == (1, [10.0, 10.0])
    assert cents[1] == (2, [0.0, 0.0])


def test_init_random_deterministic(spark):
    pts = tiny_points(spark)
    a = init_random(pts, 3, seed=7)
    b = init_random(pts, 3, seed=7)
    assert a == b
    assert len({c for c, _ in a}) == 3


def test_jaccard_reference_exact(spark):
    # Hand-computed on 4 rows incl. a -1 outlier.
    # labels:   [1, 1, 2, -1]; clusters: [1, 1, 1, 2]
    rows = [(1, 1, 1), (2, 1, 1), (3, 2, 1), (4, -1, 2)]
    df = spark.createDataFrame(rows, "id int, label int, cluster int")
    # ground matrix (ordered, diag, -1 excluded): pairs among {1,2} and {3}
    #   ground1 = 2^2 + 1^2 = 5
    # pred matrix: cluster 1 = {1,2,3} → 9, cluster 2 = {4} → 1 → pred1 = 10
    # both1 = cells (l=1,c=1):2² + (l=2,c=1):1² = 5
    # m1 = 5, m0 = (5-5)+(10-5) = 5, J = 0.5
    got = jaccard_reference(df).first()
    assert got["m1"] == 5
    assert got["m0"] == 5
    assert got["jaccard"] == pytest.approx(0.5)


def test_jaccard_matches_bruteforce_reference_loop(spark, sf_dir):
    """Property check: contingency formula == literal O(n²) reference loop."""
    from k_means_hadoop_spark.sources.points import points_from_embeddings

    pts = points_from_embeddings(spark, sf_dir).limit(120)
    res = lloyd_kmeans(pts, init_ids(pts, [1, 5, 9]), max_iter=3)
    rows = res.assignments.select("label", "cluster").collect()
    labels = [r["label"] for r in rows]
    clusters = [r["cluster"] for r in rows]
    n = len(rows)
    m1 = m0 = 0
    for i in range(n):
        for j in range(n):
            g = 1 if labels[i] == labels[j] and labels[i] != -1 else 0
            c = 1 if clusters[i] == clusters[j] and clusters[i] != -1 else 0
            if c == 1 and g == 1:
                m1 += 1
            elif c != g:
                m0 += 1
    got = jaccard_reference(res.assignments).first()
    assert (got["m1"], got["m0"]) == (m1, m0)


def test_contingency(spark):
    rows = [(1, 1, 1), (2, 1, 1), (3, 2, 2)]
    df = spark.createDataFrame(rows, "id int, label int, cluster int")
    got = {(r["label"], r["cluster"]): r["n"] for r in contingency(df).collect()}
    assert got == {(1, 1): 2, (2, 2): 1}


def test_mllib_path(spark, sf_dir):
    from k_means_hadoop_spark.sources.points import points_from_embeddings

    pts = points_from_embeddings(spark, sf_dir).limit(300)
    out, model = mllib_kmeans(pts, k=4, max_iter=5, tol=1e-4)
    clusters = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    assert clusters <= {1, 2, 3, 4}
    assert out.count() == 300
