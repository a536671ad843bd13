"""Round-12 optimization equivalence pins.

Every optimization this round must keep the computed results
bit-identical; these tests pin the two internals that changed shape:

1. the unrolled fixed-dimension distance/cosine chains
   (``vector.squared_distance_unrolled`` / ``cosine_similarity_unrolled``)
   vs the HOF folds they replace — per-ROW double equality, not just
   aggregate equality;
2. the silhouette operators' ``d_dim`` fast path vs the HOF path;
3. ``prefix_filtered_jaccard``'s row-local array_intersect verification
   (already pinned equal to ngram_jaccard_pairs in test_analytics.py —
   here we pin that its output is unchanged by the candidate order).
"""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F

from k_means_hadoop_spark import registry
from k_means_hadoop_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_unrolled,
    dot_unrolled,
    euclidean,
    euclidean_unrolled,
    l2_norm_unrolled,
)
from k_means_hadoop_spark.operators.assign import assign_expr
from k_means_hadoop_spark.operators.corpus_extra import _docs
from k_means_hadoop_spark.operators.evaluation import (
    silhouette_by_cluster,
    silhouette_sampled,
)
from k_means_hadoop_spark.operators.kmeans import init_ids
from k_means_hadoop_spark.operators.multimodal import synthesize_codec_media
from k_means_hadoop_spark.sources.points import points_from_embeddings


def _vec_pairs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("int").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    a = emb.select(F.col("vid").alias("a_id"), F.col("vec").alias("va"))
    b = emb.select(F.col("vid").alias("b_id"), F.col("vec").alias("vb"))
    # a bounded but non-trivial pair set (adjacent ids)
    return a.join(b, F.col("b_id") == F.col("a_id") + 1).alias("p")


def test_unrolled_euclidean_bit_equal(spark, sf_dir):
    """The codegen'd unrolled chain must produce the IDENTICAL double
    (raw bits, pre-rounding) as the interpreted HOF fold on every pair."""
    pairs = _vec_pairs(spark, sf_dir)
    d = len(pairs.select("va").first()["va"])
    diff = pairs.select(
        euclidean(F.col("va"), F.col("vb")).alias("h"),
        euclidean_unrolled("va", "vb", d).alias("u"),
    ).where("h IS DISTINCT FROM u OR CAST(h AS STRING) != CAST(u AS STRING)")
    assert diff.count() == 0


def test_unrolled_cosine_bit_equal(spark, sf_dir):
    pairs = _vec_pairs(spark, sf_dir)
    d = len(pairs.select("va").first()["va"])
    diff = pairs.select(
        cosine_similarity(F.col("va"), F.col("vb")).alias("h"),
        cosine_similarity_unrolled("va", "vb", d).alias("u"),
    ).where("h IS DISTINCT FROM u OR CAST(h AS STRING) != CAST(u AS STRING)")
    assert diff.count() == 0


def test_silhouette_d_dim_path_identical(spark, sf_dir):
    """silhouette_by_cluster/sampled with the d_dim fast path must
    return exactly the rows of the HOF path."""
    pts = points_from_embeddings(spark, sf_dir).where(F.col("id") <= 400)
    cents = init_ids(pts, registry.SEEDS)
    asg = assign_expr(pts, cents)
    d = len(cents[0][1])
    for fn in (silhouette_by_cluster, silhouette_sampled):
        hof = sorted(map(tuple, fn(asg).collect()))
        fast = sorted(map(tuple, fn(asg, d_dim=d).collect()))
        assert hof == fast, fn.__name__


def test_silhouette_sampled_signature_back_compat(spark, sf_dir):
    """The new keyword slots in AFTER the existing positional params —
    callers passing (assigned, m, salt) positionally are unaffected."""
    params = list(inspect.signature(silhouette_sampled).parameters)
    assert params[:3] == ["assigned", "m", "salt"]
    assert params[3] == "d_dim"

def test_synthesize_kinds_subset_identical(spark, sf_dir):
    """synthesize_codec_media(docs, kinds=K) must emit exactly the rows
    of the full synthesis filtered on kind — the kinds pushdown skips
    excluded payloads BEFORE the Python kernel, it must never change
    what the surviving rows contain (payload bytes included)."""
    docs = _docs(spark, sf_dir)
    full = synthesize_codec_media(docs)
    for kinds in (("audio",), ("image",), ("image", "audio")):
        want = sorted(
            (r["media_id"], r["kind"], bytes(r["payload"]))
            for r in full.filter(F.col("kind").isin(list(kinds))).collect()
        )
        got = sorted(
            (r["media_id"], r["kind"], bytes(r["payload"]))
            for r in synthesize_codec_media(docs, kinds=kinds).collect()
        )
        assert got == want, kinds


def test_norm_hoisted_cosine_bit_equal(spark, sf_dir):
    """dot(a,b)/(‖a‖·‖b‖) with the norms hoisted to per-row columns
    (the knn_ivf probe-scoring form) must produce the IDENTICAL double
    as the single-expression cosine — same operand values through the
    same operator tree, per row."""
    pairs = _vec_pairs(spark, sf_dir)
    d = len(pairs.select("va").first()["va"])
    hoisted = pairs.withColumn("na", l2_norm_unrolled("va", d)).withColumn(
        "nb", l2_norm_unrolled("vb", d)
    )
    diff = hoisted.select(
        cosine_similarity(F.col("va"), F.col("vb")).alias("h"),
        (dot_unrolled("va", "vb", d) / (F.col("na") * F.col("nb"))).alias("u"),
    ).where("h IS DISTINCT FROM u OR CAST(h AS STRING) != CAST(u AS STRING)")
    assert diff.count() == 0
