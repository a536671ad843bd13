"""Semantics pins for the round-4d corpus-pipeline operators
(cross-engine parity is covered by test_oracle_parity.py)."""

from __future__ import annotations

import collections
import math
import random

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.hashing import word_ngrams
from k_means_hadoop_spark.operators import corpus_extra
from k_means_hadoop_spark.operators import text as text_ops
from k_means_hadoop_spark.operators.analytics import ab_conversion_lift
from k_means_hadoop_spark.operators.corpus_extra import (
    _docs,
    auc_quality_vs_gopher,
    classifier_calibration,
    ks_quality_halves,
    mi_lang_source_cells,
    spearman_quality_logprob,
)
from k_means_hadoop_spark.partitioning import prefix_sum


def test_curriculum_phases_follow_quality_order(spark, sf_dir):
    df = corpus_extra.curriculum_schedule(spark, sf_dir).toPandas()
    assert set(df["phase"]) == {1, 2, 3, 4}
    # phases are contiguous in the quality ordering: the worst quality
    # in phase k must be >= the best quality in phase k+1 (ties broken
    # by doc_id can interleave equal scores only)
    for k in (1, 2, 3):
        assert df[df.phase == k]["quality"].min() >= df[df.phase == k + 1]["quality"].max() - 1e-9
    # each phase's token budget is ~1/4 of total (within one document)
    total = df["n_tokens"].sum()
    max_doc = df["n_tokens"].max()
    for k in (1, 2, 3, 4):
        share = df[df.phase == k]["n_tokens"].sum()
        assert share <= total / 4 + max_doc


def test_perplexity_buckets_are_rank_thirds(spark, sf_dir):
    df = corpus_extra.perplexity_buckets(spark, sf_dir).toPandas()
    sizes = df.groupby("bucket").size()
    assert set(sizes.index) == {"head", "middle", "tail"}
    assert sizes.max() - sizes.min() <= 1
    assert df[df.bucket == "head"]["avg_logprob"].min() >= df[df.bucket == "tail"]["avg_logprob"].max() - 1e-9


def test_repeated_ngram_spans_detect_planted_clones(spark, sf_dir):
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in corpus_extra.repeated_ngram_spans(spark, sf_dir).collect()
    }
    docs = corpus_extra._docs(spark, sf_dir)
    for r in (
        docs.where(F.col("doc_id") <= 3)
        .select(
            "doc_id",
            F.size(word_ngrams(F.col("text"), corpus_extra._SPAN_N)).alias("n"),
        )
        .collect()
    ):
        if r["n"] > 0:
            # the verbatim clone shares every distinct 8-gram
            assert got[(r["doc_id"], r["doc_id"] + 300000)] == r["n"]


def test_mad_gate_flags_planted_outliers(spark, sf_dir):
    df = corpus_extra.mad_outlier_docs(spark, sf_dir).toPandas()
    planted = df[df.doc_id > 200000]
    assert len(planted) == 3, "all 3 stretched clones must be flagged"
    # every flagged row genuinely violates the gate
    assert ((df["n_chars"] - df["med"]).abs() > 3 * df["mad"]).all()


def test_dup_rate_engages_only_on_planted_sources(spark, sf_dir):
    df = corpus_extra.dedup_rate_by_source(spark, sf_dir).toPandas()
    planted_sources = set(
        r["source"]
        for r in corpus_extra._docs(spark, sf_dir)
        .where(F.col("doc_id") <= 5)
        .select("source")
        .collect()
    )
    with_dups = set(df[df.dup_rate > 0]["source"])
    assert with_dups == planted_sources
    assert (df[~df.source.isin(planted_sources)]["dup_rate"] == 0).all()
    # rate definition holds exactly
    recon = 1.0 - df["n_unique"] / df["n_docs"]
    assert (recon.round(6) == df["dup_rate"]).all()


def test_pmi_matches_local_computation(spark, sf_dir):
    docs = corpus_extra._docs(spark, sf_dir).select("text").toPandas()["text"]
    uni: collections.Counter = collections.Counter()
    bg: collections.Counter = collections.Counter()
    for t in docs:
        toks = [w for w in str(t).lower().strip().split() if w]
        uni.update(toks)
        bg.update(zip(toks, toks[1:]))
    n_total = sum(uni.values())
    top = sorted(bg.items(), key=lambda kv: (-kv[1], kv[0]))[: corpus_extra._PMI_TOP]
    expect = {
        (w1, w2): (c, round(math.log(c * n_total / (uni[w1] * uni[w2])), 6))
        for (w1, w2), c in top
    }
    got = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi"])
        for r in corpus_extra.pmi_bigrams(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0], k
        assert got[k][1] == pytest.approx(expect[k][1], abs=2e-6), k


def test_quality_length_slopes_match_numpy(spark, sf_dir):
    rows = corpus_extra.quality_length_slopes(spark, sf_dir).collect()
    docs = corpus_extra._docs(spark, sf_dir)

    q = text_ops.quality_scores(docs).select("doc_id", "quality")
    d = (
        docs.select("doc_id", "lang", "n_chars")
        .join(q, "doc_id")
        .toPandas()
    )
    for r in rows:
        sub = d[d.lang == r["lang"]]
        x = np.round(np.log(sub["n_chars"].to_numpy(dtype=float)), 6)
        y = sub["quality"].to_numpy(dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert r["n_docs"] == len(sub)
        assert r["slope"] == pytest.approx(slope, abs=1e-5), r["lang"]
        assert r["intercept"] == pytest.approx(intercept, abs=1e-5), r["lang"]


def test_ab_lift_reconstructs_from_counts(spark, sf_dir):
    r = corpus_extra  # noqa: F841  (module kept imported for symmetry)

    row = ab_conversion_lift(spark, sf_dir).first()
    n0, c0, n1, c1 = row["n0"], row["c0"], row["n1"], row["c1"]
    assert n0 > 0 and n1 > 0, "both cohorts must exist at test scale"
    assert 0 < c0 + c1 < n0 + n1, "conversion must be non-degenerate"
    rate0, rate1 = c0 / n0, c1 / n1
    pool = (c0 + c1) / (n0 + n1)
    z = (rate1 - rate0) / math.sqrt(pool * (1 - pool) * (1 / n0 + 1 / n1))
    assert row["rate0"] == pytest.approx(rate0, abs=1e-6)
    assert row["rate1"] == pytest.approx(rate1, abs=1e-6)
    assert row["lift"] == pytest.approx(rate1 - rate0, abs=1e-6)
    assert row["z"] == pytest.approx(z, abs=1e-5)


def test_prefix_sum_matches_single_window(spark):
    """The two-phase distributed prefix sum must equal the naive global
    window for any total order, including negative values."""
    rng = random.Random(7)
    rows = [(i, rng.randint(-50, 100)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["k"]: r["cum"]
        for r in prefix_sum(df, "v", [F.col("k").asc()], num_parts=7).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r["k"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_auc_matches_local_rank_computation(spark, sf_dir):
    row = auc_quality_vs_gopher(spark, sf_dir).first()
    docs = _docs(spark, sf_dir)
    q = {r["doc_id"]: r["quality"] for r in text_ops.quality_scores(docs).collect()}
    g = {
        r["doc_id"]: int(r["verdict"])
        for r in text_ops.gopher_quality_gate(docs).collect()
    }
    pairs = [(q[d], g[d]) for d in q]
    # tie-aware average ranks, ascending score
    pairs.sort()
    ranks: dict[int, float] = {}
    i = 0
    rank_sum_pos = 0.0
    while i < len(pairs):
        j = i
        while j < len(pairs) and pairs[j][0] == pairs[i][0]:
            j += 1
        avg_rank = (i + 1 + j) / 2  # positions i+1..j
        rank_sum_pos += avg_rank * sum(lab for _, lab in pairs[i:j])
        i = j
    n_pos = sum(lab for _, lab in pairs)
    n_neg = len(pairs) - n_pos
    auc = (rank_sum_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert row["n_pos"] == n_pos and row["n_neg"] == n_neg
    assert row["auc"] == pytest.approx(auc, abs=1e-6)
    # the two quality signals must rank-agree well above chance
    assert row["auc"] > 0.7


def test_calibration_deciles_are_monotone_and_consistent(spark, sf_dir):
    df = classifier_calibration(spark, sf_dir).toPandas().sort_values("decile")
    assert list(df["decile"]) == list(range(1, 11))
    # rank-cut deciles: sizes differ by at most 1
    assert df["n"].max() - df["n"].min() <= 1
    # mean score must be non-increasing across deciles (sorted best-first)
    ms = df["mean_score"].to_numpy()
    assert all(ms[i] >= ms[i + 1] - 1e-9 for i in range(9))
    # a well-behaved signal: positive rate higher in the top half than
    # the bottom half
    assert df.head(5)["frac_pos"].mean() > df.tail(5)["frac_pos"].mean()
    # per-bucket Brier consistency: brier >= (mean residual)^2 (Jensen)
    resid = df["mean_score"] - df["frac_pos"]
    assert (df["brier"] + 1e-9 >= resid**2).all()


def test_spearman_matches_numpy_ranks(spark, sf_dir):
    row = spearman_quality_logprob(spark, sf_dir).first()
    docs = _docs(spark, sf_dir)
    q = {r["doc_id"]: r["quality"] for r in text_ops.quality_scores(docs).collect()}
    lp = {r["doc_id"]: r["avg_logprob"] for r in text_ops.unigram_logprob(docs).collect()}
    ids = sorted(set(q) & set(lp))
    x = np.array([q[i] for i in ids])
    y = np.array([lp[i] for i in ids])

    def avg_rank(v):
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v))
        sv = v[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2
            i = j
        return ranks

    rx, ry = avg_rank(x), avg_rank(y)
    rho = np.corrcoef(rx, ry)[0, 1]
    assert row["n_docs"] == len(ids)
    assert row["rho"] == pytest.approx(rho, abs=1e-6)
    # the two quality signals genuinely co-rank (non-vacuity)
    assert abs(row["rho"]) > 0.05


def test_ks_matches_numpy(spark, sf_dir):
    row = ks_quality_halves(spark, sf_dir).first()
    d = {
        r["doc_id"]: r["quality"]
        for r in text_ops.quality_scores(_docs(spark, sf_dir)).collect()
    }
    a = np.sort([v for k, v in d.items() if k % 2 == 0])
    b = np.sort([v for k, v in d.items() if k % 2 == 1])
    values = np.unique(np.concatenate([a, b]))
    f1 = np.searchsorted(a, values, side="right") / len(a)
    f2 = np.searchsorted(b, values, side="right") / len(b)
    ks = np.abs(f1 - f2).max()
    assert row["n_even"] == len(a) and row["n_odd"] == len(b)
    assert row["ks_d"] == pytest.approx(ks, abs=1e-6)


def test_mi_cells_reconstruct_nonnegative_total(spark, sf_dir):
    rows = mi_lang_source_cells(spark, sf_dir).collect()
    pdf = _docs(spark, sf_dir).select("lang", "source").toPandas()
    n_total = len(pdf)
    assert sum(r["n"] for r in rows) == n_total
    # recompute each contribution locally
    r_tot = pdf.groupby("lang").size().to_dict()
    c_tot = pdf.groupby("source").size().to_dict()
    for r in rows:
        expect = (r["n"] / n_total) * math.log(
            r["n"] * n_total / (r_tot[r["lang"]] * c_tot[r["source"]])
        )
        assert r["contrib"] == pytest.approx(expect, abs=2e-6)
    # the MI total (ordered fold) is non-negative by Gibbs' inequality
    total = sum(sorted(r["contrib"] for r in rows))
    assert total >= -1e-6
