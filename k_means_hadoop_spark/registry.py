"""Query registry: every SURVEY.md §2 operator as a (PySpark builder,
DuckDB oracle SQL) pair.

This is the engine's user-visible query surface and the driver's
correctness gate: each entry's Spark DataFrame and oracle SQL must
produce identical (row-count, schema, value-hash) results at sf0.01.

Conventions:
- every computed column is aliased identically on both sides;
- every float column is rounded to 6 decimals on both sides (Spark and
  DuckDB agree to ~1e-15 relative; rounding absorbs summation-order
  noise);
- rank-ish ints are cast to the same width on both sides.

The "points" table of the reference (id, label, features) is projected
from the driver ``embeddings`` parquet (FIXTURES.md §1); fixed seed ids
make every query fully deterministic (I2 init mode, KMeans.java:598-607).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.vector import euclidean
from k_means_hadoop_spark.operators.assign import assign_expr, assign_join
from k_means_hadoop_spark.operators.evaluation import jaccard_reference
from k_means_hadoop_spark.operators.kmeans import init_ids, lloyd_kmeans
from k_means_hadoop_spark.operators.recompute import recompute_centroids, recompute_exploded
from k_means_hadoop_spark.sources.points import points_from_embeddings

# Fixed I2 seed ids (all < 500 so the same queries run at sf0.001).
SEEDS = [1, 51, 101, 151, 201, 251, 301, 351]
_SEEDS_SQL = ", ".join(str(s) for s in SEEDS)

# ---------------------------------------------------------------- Spark side

QueryFn = Callable[[SparkSession, str], DataFrame]


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return points_from_embeddings(spark, sf_dir)


def _seed_centroids_df(pts: DataFrame) -> DataFrame:
    """Seed rows renumbered 1..k in id order, as a DataFrame (J1 build side)."""
    w = Window.orderBy("id")
    return (
        pts.filter(F.col("id").isin(SEEDS))
        .select(
            F.row_number().over(w).cast("int").alias("cluster"),
            F.col("features").alias("centroid"),
        )
    )


def _assigned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment via broadcast join, carrying label (J1+J2)."""
    pts = _points(spark, sf_dir)
    return assign_join(pts, _seed_centroids_df(pts), carry_cols=("label",))


def _assigned_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment via the no-shuffle literal-fold path (the scale path)."""
    pts = _points(spark, sf_dir)
    return assign_expr(pts, init_ids(pts, SEEDS))


def q_s2_points_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _points(spark, sf_dir).select(
        "id", "label", F.size("features").alias("dim")
    )


def q_p1_drop_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1/P2: label never touched — Catalyst prunes the parquet scan to 2 cols.
    return _points(spark, sf_dir).select(
        "id", F.round(F.col("features")[0], 6).alias("f0")
    )


def q_p3_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _points(spark, sf_dir)
        .filter(F.col("label") != -1)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_p4_lookup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _points(spark, sf_dir).filter(F.col("id").isin(SEEDS)).select("id", "label")


def q_f1_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    seed = pts.filter(F.col("id") == SEEDS[0]).select(
        F.col("features").alias("centroid")
    )
    return pts.crossJoin(F.broadcast(seed)).select(
        "id", F.round(euclidean("features", "centroid"), 6).alias("dist")
    )


def q_i2_init_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _seed_centroids_df(_points(spark, sf_dir)).select(
        "cluster", F.element_at("centroid", 1).alias("c0")
    ).withColumn("c0", F.round("c0", 6))


def q_j1_assign_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assigned_join(spark, sf_dir).select(
        "id", "cluster", F.round("dist", 6).alias("dist")
    )


def q_j2_assign_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assigned_expr(spark, sf_dir).select(
        "id", "cluster", F.round("dist", 6).alias("dist")
    )


def q_a1_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assigned_expr(spark, sf_dir).groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_a3_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = recompute_exploded(_assigned_expr(spark, sf_dir))
    return out.select("cluster", "pos", F.round("mean_val", 6).alias("mean_val"))


def q_a3_recompute_summarizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 via MLlib ``Summarizer.mean`` — the native vector-aggregate
    candidate SURVEY §4 flags for the 100 TB per-dim mean (one buffer of
    d running sums per group vs d scalar agg columns).  Registered
    against the SAME oracle as a3_recompute: a hash-match proves the
    MLlib aggregate computes exactly what the unrolled per-dim avg and
    the DuckDB oracle compute."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    asg = _assigned_expr(spark, sf_dir)
    m = (
        asg.withColumn("_v", array_to_vector("features"))
        .groupBy("cluster")
        .agg(Summarizer.mean(F.col("_v")).alias("_mvec"))
    )
    return m.select(
        "cluster", F.posexplode(vector_to_array("_mvec")).alias("pos", "mean_val")
    ).select("cluster", "pos", F.round("mean_val", 6).alias("mean_val"))


def q_a4_member_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F4 parity: pipe-joined member-id list (sorted for determinism).
    return (
        _assigned_expr(spark, sf_dir)
        .groupBy("cluster")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("id")), lambda x: x.cast("string")),
                "|",
            ).alias("members")
        )
    )


def q_a6_distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _points(spark, sf_dir).select("label").distinct()


def q_a7_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # literal-fold assignment: keeps label without the join path's extra
    # groupBy(id) shuffle of all n rows (J1 itself is covered by j1_*)
    asg = _assigned_expr(spark, sf_dir)
    return jaccard_reference(asg).select(
        "m1", "m0", F.round("jaccard", 6).alias("jaccard")
    )


def q_c1_one_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One full Lloyd step: assign with seed centroids → recompute →
    # reassign against the new centroids → report the new cluster sizes.
    pts = _points(spark, sf_dir)
    new_cents = [
        (int(r["cluster"]), list(r["centroid"]))
        for r in recompute_centroids(_assigned_expr(spark, sf_dir)).collect()
    ]
    reassigned = assign_expr(pts, new_cents)
    return reassigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))


_SIL_MAX_ID = 400  # fixture-safe all-pairs bound (sampled estimator at scale)


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal clustering quality: per-cluster mean silhouette over
    the id-bounded point set under the I2-seeded assignment — the
    label-free complement of the reference's external Jaccard
    (``operators/evaluation.py`` module docstring).  Full value
    oracle: every pairwise distance is rounded+DECIMAL'd before any
    mean, and the s-formula is shared literal text (SIL_S)."""
    from k_means_hadoop_spark.operators.evaluation import silhouette_by_cluster

    pts = _points(spark, sf_dir).where(F.col("id") <= _SIL_MAX_ID)
    cents = init_ids(pts, SEEDS)
    # d from the already-collected init rows → codegen'd distance chain
    return silhouette_by_cluster(assign_expr(pts, cents), d_dim=len(cents[0][1]))


def _silhouette_sql() -> str:
    from k_means_hadoop_spark.operators.evaluation import SIL_MEAN, SIL_S

    return f"""
WITH pts AS (SELECT vec_id::INTEGER AS id, embedding::DOUBLE[] AS features
             FROM embeddings WHERE vec_id <= {_SIL_MAX_ID}),
cents AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INTEGER) AS cluster,
                 features AS centroid
          FROM pts WHERE id IN ({_SEEDS_SQL})),
asg AS (SELECT id, cluster, features FROM (
  SELECT p.id, p.features, c.cluster,
         row_number() OVER (PARTITION BY p.id
                            ORDER BY list_distance(p.features, c.centroid), c.cluster) AS rn
  FROM pts p CROSS JOIN cents c) WHERE rn = 1),
grp AS (
  SELECT a.id AS i, a.cluster AS ci, b.cluster AS cj,
         SUM(CAST(round(list_distance(a.features, b.features), 6) AS DECIMAL(18,6))) AS sum_d,
         count(*)::BIGINT AS cnt
  FROM asg a JOIN asg b ON a.id <> b.id
  GROUP BY 1, 2, 3),
own AS (SELECT i, {SIL_MEAN} AS a FROM grp WHERE ci = cj),
oth AS (SELECT i, min(mean_j) AS b FROM (
          SELECT i, {SIL_MEAN} AS mean_j FROM grp WHERE ci <> cj) GROUP BY i),
s AS (SELECT p.id AS i, p.cluster, {SIL_S} AS s
      FROM asg p LEFT JOIN own ON own.i = p.id LEFT JOIN oth ON oth.i = p.id)
SELECT cluster, count(*)::BIGINT AS n_points,
       round(CAST(SUM(CAST(round(s, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_silhouette
FROM s GROUP BY cluster
"""


def q_silhouette_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale silhouette (round-5 verdict item 2): exact
    s(i) for a deterministic md5-ranked per-cluster sample against ALL
    points — O(m·k·n), no id bound needed.  Full value oracle: the
    sample predicate is the same portable hash rank on both sides, and
    every distance/mean keeps the exact-decimal discipline of the
    all-pairs operator."""
    from k_means_hadoop_spark.operators.evaluation import silhouette_sampled

    pts = _points(spark, sf_dir)
    cents = init_ids(pts, SEEDS)
    # d from the already-collected init rows → codegen'd distance chain
    return silhouette_sampled(assign_expr(pts, cents), d_dim=len(cents[0][1]))


def _silhouette_sampled_sql() -> str:
    from k_means_hadoop_spark.functions.hashing import stable_hash64_sql
    from k_means_hadoop_spark.operators.evaluation import (
        _SIL_SALT,
        SIL_MEAN,
        SIL_S,
        SIL_SAMPLE_PER_CLUSTER,
    )

    h = stable_hash64_sql(f"id::VARCHAR || '{_SIL_SALT}'")
    return f"""
WITH pts AS (SELECT vec_id::INTEGER AS id, embedding::DOUBLE[] AS features
             FROM embeddings),
cents AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INTEGER) AS cluster,
                 features AS centroid
          FROM pts WHERE id IN ({_SEEDS_SQL})),
asg AS (SELECT id, cluster, features FROM (
  SELECT p.id, p.features, c.cluster,
         row_number() OVER (PARTITION BY p.id
                            ORDER BY list_distance(p.features, c.centroid), c.cluster) AS rn
  FROM pts p CROSS JOIN cents c) WHERE rn = 1),
sample AS (SELECT id, cluster, features FROM (
  SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY {h}, id) AS rk
  FROM asg) WHERE rk <= {SIL_SAMPLE_PER_CLUSTER}),
grp AS (
  SELECT a.id AS i, a.cluster AS ci, b.cluster AS cj,
         SUM(CAST(round(list_distance(a.features, b.features), 6) AS DECIMAL(18,6))) AS sum_d,
         count(*)::BIGINT AS cnt
  FROM sample a JOIN asg b ON a.id <> b.id
  GROUP BY 1, 2, 3),
own AS (SELECT i, {SIL_MEAN} AS a FROM grp WHERE ci = cj),
oth AS (SELECT i, min(mean_j) AS b FROM (
          SELECT i, {SIL_MEAN} AS mean_j FROM grp WHERE ci <> cj) GROUP BY i),
s AS (SELECT p.id AS i, p.cluster, {SIL_S} AS s
      FROM sample p LEFT JOIN own ON own.i = p.id LEFT JOIN oth ON oth.i = p.id)
SELECT cluster, count(*)::BIGINT AS n_sampled,
       round(CAST(SUM(CAST(round(s, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_silhouette
FROM s GROUP BY cluster
"""


def q_j3_comembership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: co-membership pair counts via self equi-join on cluster —
    the reference materializes n×n 0/1 matrices (KMeans.java:624-644);
    this is the O(n·k) contingency form: per cluster, the number of
    ordered co-member pairs including the diagonal is n²."""
    sizes = _assigned_expr(spark, sf_dir).groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.select(
        "cluster", (F.col("n") * F.col("n")).alias("ordered_pairs")
    )


def q_i1_init_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 seeded-uniform init.  The default ordering hash is the
    md5-based ``stable_hash64`` (bit-identical in DuckDB), so the seeded
    sample itself carries a full value oracle: rank by the same hash on
    both sides, take the top k, renumber 1..k in hash order."""
    from k_means_hadoop_spark.operators.kmeans import init_random

    pts = _points(spark, sf_dir)
    cents = init_random(pts, k=8, seed=42)
    return spark.createDataFrame(
        [(c, round(v[0], 6)) for c, v in cents], "cluster int, c0 double"
    )


def q_kmeans_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: MLlib k-means|| scale path, upgraded from rows-only to a
    QUALITY-CONTRACT oracle (the last substantive rows-only entry):
    the clustering itself is MLlib-internal (k-means|| sampling order
    depends on partitioning), but what a correct clustering must
    satisfy is checkable — every point assigned exactly once (exact
    hashable count), at most k clusters, and a WSSSE no worse than
    1.2× the deterministic Lloyd loop's on the same points with the
    same k (the solution-quality floor: a broken assignment or
    degenerate init blows past it, while legitimate init variation
    sits well inside).  Agreement with the DataFrame loop remains
    pinned in tests/test_kmeans_core.py."""
    from k_means_hadoop_spark.operators.kmeans import lloyd_kmeans, mllib_kmeans

    pts = _points(spark, sf_dir).cache()
    out, _model = mllib_kmeans(pts, k=8, seed=42, max_iter=10)
    sq_err = F.aggregate(
        F.zip_with("features", "centroid", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def wssse(asg: DataFrame, cent_df: DataFrame) -> float:
        return (
            asg.join(F.broadcast(cent_df), "cluster")
            .agg(F.sum(sq_err).alias("w"))
            .first()["w"]
        )

    ml_cents = [
        (i + 1, [float(v) for v in c]) for i, c in enumerate(_model.clusterCenters())
    ]
    spark_sess = pts.sparkSession
    ml_cent_df = spark_sess.createDataFrame(
        ml_cents, "cluster int, centroid array<double>"
    )
    ml_w = wssse(out.select("cluster", "features"), ml_cent_df)
    ll = lloyd_kmeans(pts, init_ids(pts, SEEDS), max_iter=10)
    ll_cent_df = spark_sess.createDataFrame(
        [(c, list(v)) for c, v in ll.centroids], "cluster int, centroid array<double>"
    )
    ll_w = wssse(ll.assignments.select("cluster", "features"), ll_cent_df)
    stats = out.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("cluster").alias("k_found"),
    )
    return stats.select(
        "n_points",
        (F.col("k_found") <= 8).alias("ok_k"),
        F.lit(bool(ml_w <= ll_w * 1.2)).alias("ok_quality"),
    )


def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd loop (fixed 10 iterations, I2 seeds, tol=0) — the
    engine's flagship.  Every input is deterministic, so the loop IS
    oracle-expressible: ``_lloyd_oracle_sql`` unrolls the same 10
    assign→recompute steps as a DuckDB CTE chain (argmin with
    lowest-cluster tie-break, per-dim mean, empty clusters vanish).
    Early convergence is hash-equivalent to the full unroll: once
    centroids are exactly fixed, further assign/recompute steps are
    identity."""
    pts = _points(spark, sf_dir)
    res = lloyd_kmeans(pts, init_ids(pts, SEEDS), max_iter=10)
    return res.assignments.select("id", "label", "cluster", F.round("dist", 6).alias("dist"))


def _tmpdir(tag: str) -> str:
    from k_means_hadoop_spark.session import scratch_dir

    return scratch_dir(f"kmh_{tag}")


def q_s1_points_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S4 driver proof: render the points table to the reference's
    TSV wire format (id \\t label \\t f1..fd, KMeans.java:79-96) WITH a
    trailing CR on every line (cho.txt's CRLF, KMeans.java:80), write it
    as text, re-read through read_points_tsv (line scan + CRLF-tolerant
    parse + path glob), and report each point — a hash-match against the
    parquet-side oracle proves the writer/parser pair is lossless
    (Double.toString round-trips doubles exactly)."""
    from k_means_hadoop_spark.sources.points import read_points_tsv

    pts = _points(spark, sf_dir)
    line = F.concat(
        F.concat_ws("\t", F.col("id"), F.col("label"), F.array_join("features", "\t")),
        F.lit("\r"),
    )
    path = _tmpdir("s1_tsv")
    pts.select(line.alias("value")).write.mode("overwrite").text(path)
    back = read_points_tsv(spark, path)
    return back.select(
        "id",
        "label",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.size("features").alias("dim"),
    )


def q_s3_centroid_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S5/S7/F2 driver proof: build the full centroid state (seed
    vectors + pipe-joined sorted member ids + negated size,
    KMeans.java:516-526), write it through write_centroid_file, re-read
    through read_centroid_file (tab split, first-pipe-token break,
    negated-size decode), and report per-cluster state — hash-matched
    against an oracle that recomputes the same state straight from the
    parquet tables and never sees the wire file."""
    from k_means_hadoop_spark.sources.centroid_io import (
        read_centroid_file,
        write_centroid_file,
    )

    pts = _points(spark, sf_dir)
    cents = _seed_centroids_df(pts)
    mem = (
        _assigned_expr(spark, sf_dir)
        .groupBy("cluster")
        .agg(
            F.sort_array(F.collect_list("id")).alias("member_ids"),
            F.count(F.lit(1)).alias("size"),
        )
    )
    path = _tmpdir("s3_wire")
    write_centroid_file(cents.join(mem, "cluster"), path)
    back = read_centroid_file(spark, path)
    return back.select(
        "cluster",
        F.round(F.element_at("centroid", 1), 6).alias("c0"),
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), "|").alias(
            "members"
        ),
        F.col("size").alias("n_members"),
    )


def q_s6_final_output_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 driver proof: write the final assignment table through the
    reference's finalOutput.txt sink (id \\t cluster \\t f1..fd,
    KMeans.java:353-357), re-read and re-parse the text, and report each
    row — hash-matched against the assignment oracle computed without
    the file."""
    from k_means_hadoop_spark.sources.sinks import write_final_output

    path = _tmpdir("s6_final")
    write_final_output(_assigned_expr(spark, sf_dir), path)
    toks = F.split(F.col("value"), "\t")
    return spark.read.text(path).select(
        F.element_at(toks, 1).cast("int").alias("id"),
        F.element_at(toks, 2).cast("int").alias("cluster"),
        F.round(F.element_at(toks, 3).cast("double"), 6).alias("f0"),
        (F.size(toks) - 2).alias("dim"),
    )


# --------------------------------------------------------------- oracle SQL

_PTS = (
    "SELECT vec_id::INTEGER AS id, label::INTEGER AS label, "
    "embedding::DOUBLE[] AS features FROM embeddings"
)
_CENTS = (
    "SELECT CAST(row_number() OVER (ORDER BY id) AS INTEGER) AS cluster, "
    f"features AS centroid FROM pts WHERE id IN ({_SEEDS_SQL})"
)
_ASSIGN = (
    "SELECT id, label, cluster, dist FROM ("
    "  SELECT p.id, p.label, c.cluster, list_distance(p.features, c.centroid) AS dist,"
    "         row_number() OVER (PARTITION BY p.id"
    "                            ORDER BY list_distance(p.features, c.centroid), c.cluster) AS rn"
    "  FROM pts p CROSS JOIN cents c) WHERE rn = 1"
)
_WITH_ASSIGN = f"WITH pts AS ({_PTS}), cents AS ({_CENTS}), asg AS ({_ASSIGN})"


def _lloyd_oracle_sql(n_iter: int) -> str:
    """Value oracle for the full Lloyd loop: the fixed-iteration
    assign→recompute cycle unrolled as a DuckDB CTE chain.

    Mirrors ``lloyd_kmeans`` exactly at every step: assignment is the
    argmin over Euclidean distance with ties broken to the lowest
    cluster id (``assign.nearest_centroid_sql``'s struct-min), recompute
    is the per-dimension mean (``recompute.recompute_centroids``), and a
    cluster that receives no members simply produces no c_i row — the
    reference's C5 vanish semantics (KMeans.java:113,148).  ``pts`` is
    MATERIALIZED: the chain references it 2·n_iter+1 times and DuckDB
    would otherwise inline (re-scan) it at each reference."""
    parts = [f"pts AS MATERIALIZED ({_PTS})", f"c0 AS ({_CENTS})"]
    for i in range(1, n_iter + 1):
        parts.append(
            f"a{i} AS (SELECT id, cluster FROM ("
            f"SELECT p.id, c.cluster, row_number() OVER (PARTITION BY p.id "
            f"ORDER BY list_distance(p.features, c.centroid), c.cluster) AS rn "
            f"FROM pts p CROSS JOIN c{i - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f"c{i} AS (SELECT cluster, list(m ORDER BY pos) AS centroid FROM ("
            f"SELECT e.cluster, e.pos, avg(e.v) AS m FROM ("
            f"SELECT a.cluster, generate_subscripts(p.features, 1) AS pos, "
            f"unnest(p.features) AS v FROM a{i} a JOIN pts p ON a.id = p.id) e "
            f"GROUP BY e.cluster, e.pos) GROUP BY cluster)"
        )
    final = (
        "SELECT id, label, cluster, round(dist, 6) AS dist FROM ("
        "SELECT p.id, p.label, c.cluster, "
        "list_distance(p.features, c.centroid) AS dist, "
        "row_number() OVER (PARTITION BY p.id "
        f"ORDER BY list_distance(p.features, c.centroid), c.cluster) AS rn "
        f"FROM pts p CROSS JOIN c{n_iter} c) WHERE rn = 1"
    )
    return "WITH " + ", ".join(parts) + " " + final

_ASSIGN_SQL = f"{_WITH_ASSIGN} SELECT id, cluster, round(dist, 6) AS dist FROM asg"
_RECOMPUTE_SQL = (
    f"WITH pts AS ({_PTS}), cents AS ({_CENTS}), asg AS ({_ASSIGN}), "
    "j AS (SELECT a.cluster, p.features FROM asg a JOIN pts p ON a.id = p.id), "
    "expl AS (SELECT cluster, (generate_subscripts(features, 1) - 1)::INTEGER AS pos, "
    "         unnest(features) AS v FROM j) "
    "SELECT cluster, pos, round(avg(v), 6) AS mean_val FROM expl GROUP BY cluster, pos"
)

KMEANS_QUERIES: dict[str, tuple[QueryFn, str]] = {
    "s2_points_scan": (
        q_s2_points_scan,
        f"WITH pts AS ({_PTS}) SELECT id, label, len(features)::INTEGER AS dim FROM pts",
    ),
    "p1_drop_label": (
        q_p1_drop_label,
        f"WITH pts AS ({_PTS}) SELECT id, round(features[1], 6) AS f0 FROM pts",
    ),
    "p3_outlier_filter": (
        q_p3_outlier_filter,
        f"WITH pts AS ({_PTS}) SELECT label, count(*)::BIGINT AS n "
        "FROM pts WHERE label != -1 GROUP BY label",
    ),
    "p4_lookup_ids": (
        q_p4_lookup_ids,
        f"WITH pts AS ({_PTS}) SELECT id, label FROM pts WHERE id IN ({_SEEDS_SQL})",
    ),
    "f1_euclidean": (
        q_f1_euclidean,
        f"WITH pts AS ({_PTS}), seed AS (SELECT features AS centroid FROM pts WHERE id = {SEEDS[0]}) "
        "SELECT p.id, round(list_distance(p.features, s.centroid), 6) AS dist "
        "FROM pts p CROSS JOIN seed s",
    ),
    "i2_init_seeds": (
        q_i2_init_seeds,
        f"WITH pts AS ({_PTS}), cents AS ({_CENTS}) "
        "SELECT cluster, round(centroid[1], 6) AS c0 FROM cents",
    ),
    "j1_assign_join": (q_j1_assign_join, _ASSIGN_SQL),
    "j2_assign_expr": (q_j2_assign_expr, _ASSIGN_SQL),
    "a1_cluster_sizes": (
        q_a1_cluster_sizes,
        f"{_WITH_ASSIGN} SELECT cluster, count(*)::BIGINT AS n FROM asg GROUP BY cluster",
    ),
    "a3_recompute": (q_a3_recompute, _RECOMPUTE_SQL),
    # Same oracle text as a3_recompute on purpose: the MLlib Summarizer
    # path must hash-match the exact per-dim mean.
    "a3_recompute_summarizer": (q_a3_recompute_summarizer, _RECOMPUTE_SQL),
    "a4_member_ids": (
        q_a4_member_ids,
        f"{_WITH_ASSIGN} SELECT cluster, string_agg(id::VARCHAR, '|' ORDER BY id) AS members "
        "FROM asg GROUP BY cluster",
    ),
    "a6_distinct_labels": (
        q_a6_distinct_labels,
        f"WITH pts AS ({_PTS}) SELECT DISTINCT label FROM pts",
    ),
    "a7_jaccard": (
        q_a7_jaccard,
        f"WITH pts AS ({_PTS}), cents AS ({_CENTS}), asg AS ({_ASSIGN}), "
        "cells AS (SELECT label, cluster, count(*)::BIGINT AS n FROM asg GROUP BY label, cluster), "
        "g AS (SELECT sum(s * s) AS ground1 FROM (SELECT sum(n) AS s FROM cells WHERE label != -1 GROUP BY label) t), "
        "p AS (SELECT sum(s * s) AS pred1 FROM (SELECT sum(n) AS s FROM cells WHERE cluster != -1 GROUP BY cluster) t), "
        "b AS (SELECT sum(n * n) AS both1 FROM cells WHERE label != -1 AND cluster != -1) "
        "SELECT both1::BIGINT AS m1, (ground1 + pred1 - 2 * both1)::BIGINT AS m0, "
        "round(both1::DOUBLE / (ground1 + pred1 - both1)::DOUBLE, 6) AS jaccard "
        "FROM g, p, b",
    ),
    "j3_comembership": (
        q_j3_comembership,
        f"{_WITH_ASSIGN} SELECT cluster, (count(*) * count(*))::BIGINT AS ordered_pairs "
        "FROM asg GROUP BY cluster",
    ),
    "c1_one_iteration": (
        q_c1_one_iteration,
        f"WITH pts AS ({_PTS}), cents AS ({_CENTS}), asg AS ({_ASSIGN}), "
        "j AS (SELECT a.cluster, p.features FROM asg a JOIN pts p ON a.id = p.id), "
        "expl AS (SELECT cluster, generate_subscripts(features, 1) AS pos, unnest(features) AS v FROM j), "
        "means AS (SELECT cluster, pos, avg(v) AS m FROM expl GROUP BY cluster, pos), "
        "cents2 AS (SELECT cluster, list(m ORDER BY pos) AS centroid FROM means GROUP BY cluster), "
        "asg2 AS (SELECT id, cluster FROM ("
        "  SELECT p.id, c.cluster, row_number() OVER (PARTITION BY p.id"
        "         ORDER BY list_distance(p.features, c.centroid), c.cluster) AS rn"
        "  FROM pts p CROSS JOIN cents2 c) WHERE rn = 1) "
        "SELECT cluster, count(*)::BIGINT AS n FROM asg2 GROUP BY cluster",
    ),
    "s1_points_tsv_roundtrip": (
        q_s1_points_tsv_roundtrip,
        f"WITH pts AS ({_PTS}) SELECT id, label, round(features[1], 6) AS f0, "
        "len(features)::INTEGER AS dim FROM pts",
    ),
    "s3_centroid_wire_roundtrip": (
        q_s3_centroid_wire_roundtrip,
        f"{_WITH_ASSIGN} "
        "SELECT c.cluster, round(c.centroid[1], 6) AS c0, "
        "string_agg(a.id::VARCHAR, '|' ORDER BY a.id) AS members, "
        "count(*)::BIGINT AS n_members "
        "FROM cents c JOIN asg a ON a.cluster = c.cluster "
        "GROUP BY c.cluster, c.centroid[1]",
    ),
    "s6_final_output_roundtrip": (
        q_s6_final_output_roundtrip,
        f"{_WITH_ASSIGN} "
        "SELECT a.id, a.cluster, round(p.features[1], 6) AS f0, "
        "len(p.features)::INTEGER AS dim "
        "FROM asg a JOIN pts p ON a.id = p.id",
    ),
    # Flagship value oracle: the registered query runs lloyd_kmeans with
    # max_iter=10; the oracle unrolls the identical 10 steps in DuckDB.
    "kmeans_lloyd": (q_kmeans_lloyd, _lloyd_oracle_sql(10)),
    "silhouette_by_cluster": (q_silhouette, _silhouette_sql()),
    "silhouette_sampled": (q_silhouette_sampled, _silhouette_sampled_sql()),
    # I1: identical md5 rank on both sides (stable_hash64 ==
    # ('0x' || substr(md5(s),1,15))::BIGINT), id as the collision tiebreak.
    "i1_init_random": (
        q_i1_init_random,
        f"WITH pts AS ({_PTS}), ranked AS ("
        "SELECT features, CAST(row_number() OVER (ORDER BY "
        "('0x' || substr(md5(id::VARCHAR || ':42'), 1, 15))::BIGINT, id) AS INTEGER) AS cluster "
        "FROM pts) "
        "SELECT cluster, round(features[1], 6) AS c0 FROM ranked WHERE cluster <= 8",
    ),
    "kmeans_mllib": (
        q_kmeans_mllib,
        f"WITH pts AS ({_PTS}) SELECT count(*)::BIGINT AS n_points, "
        "true AS ok_k, true AS ok_quality FROM pts",
    ),
}

from k_means_hadoop_spark.operators.analytics import ANALYTICS_QUERIES
from k_means_hadoop_spark.operators.corpus_extra import CORPUS_EXTRA_QUERIES
from k_means_hadoop_spark.operators.sketches import SKETCH_QUERIES
from k_means_hadoop_spark.operators.curation import CURATION_QUERIES
from k_means_hadoop_spark.operators.relational import RELATIONAL_QUERIES
from k_means_hadoop_spark.operators.tpch_extra import TPCH_EXTRA_QUERIES
from k_means_hadoop_spark.operators.trends import TRENDS_QUERIES
from k_means_hadoop_spark.operators.stats_extra import STATS_EXTRA_QUERIES
from k_means_hadoop_spark.operators.mining import MINING_QUERIES
from k_means_hadoop_spark.operators.containers import CONTAINER_QUERIES
from k_means_hadoop_spark.registry_pipeline import PIPELINE_QUERIES

# Every family registers {name: (fn, oracle_sql)} pairs, so a query and
# its oracle can only be added together.
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
for _family in (
    KMEANS_QUERIES,
    RELATIONAL_QUERIES,
    TPCH_EXTRA_QUERIES,
    CURATION_QUERIES,
    ANALYTICS_QUERIES,
    CORPUS_EXTRA_QUERIES,
    SKETCH_QUERIES,
    TRENDS_QUERIES,
    STATS_EXTRA_QUERIES,
    MINING_QUERIES,
    CONTAINER_QUERIES,
    PIPELINE_QUERIES,
):
    for _name, (_fn, _sql) in _family.items():
        QUERIES[_name] = _fn
        ORACLES[_name] = _sql

# ---------------------------------------------------------------- ordering
#
# The driver's correctness gate checks the first 50 entries of queries().
# So that every query keeps getting re-proven, the order is derived from
# the CORRECTNESS_rNN.json artifacts next to the package: never-verified
# queries first (registry order), then verified ones, oldest latest green
# round first.  Each new round's artifact re-rotates the window.


def latest_green_rounds(root: str) -> dict[str, int]:
    """name -> latest round NN whose CORRECTNESS_rNN.json row is green:
    hash_match=True, or a completed rows-only run (err='no_oracle' with
    a row count).  Failed or errored rows do not count; an unreadable
    artifact is skipped."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and (
                row.get("hash_match") is True
                or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
            ):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def window_order(names, latest_green: dict[str, int]) -> list[str]:
    """Stable sort on the latest green round (0 = never verified)."""
    return sorted(names, key=lambda n: latest_green.get(n, 0))


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = {n: QUERIES[n] for n in window_order(QUERIES, latest_green_rounds(_ROOT))}
