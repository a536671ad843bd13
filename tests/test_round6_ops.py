"""Behavioral invariants for the round-6 operators (trends.py,
stats_extra.py, mining.py) — complements the DuckDB hash-parity gate
with the identities each statistic must satisfy regardless of data.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from k_means_hadoop_spark import registry
from k_means_hadoop_spark.operators.analytics import _copurchase_edges
from k_means_hadoop_spark.operators.trends import _hilbert_key
from k_means_hadoop_spark.plans import plan_of


def _q(name, spark, sf_dir):
    return registry.QUERIES[name](spark, sf_dir)


# ---------------------------------------------------------- trends


def test_q11_selects_above_threshold_tail(spark, sf_dir):
    rows = _q("q11_important_parts", spark, sf_dir).collect()
    assert rows, "threshold selected nothing (vacuous)"
    # share_bp is basis points; selected parts must exceed 1.5x the mean
    # share = 1.5 * 10000 / n_parts; recover n_parts from the fixture
    n_parts = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
        .count()
    )
    for r in rows:
        assert r["share_bp"] * n_parts > 1.5 * 10000 * 0.999  # fl6 slack
        assert r["part_value"] > 0


def test_streaks_identities_and_hand_check(spark, sf_dir):
    rows = {r["user_id"]: r for r in _q("streaks_active_users", spark, sf_dir).collect()}
    assert rows
    for r in rows.values():
        assert 1 <= r["longest_streak"] <= r["active_days"]
        assert r["n_streaks"] >= 1
    # hand-recompute one user from the raw table
    uid = sorted(rows)[0]
    days = sorted(
        {
            r["day"]
            for r in spark.read.parquet(f"{sf_dir}/events.parquet")
            .filter(F.col("user_id") == uid)
            .select(F.to_date("ts").alias("day"))
            .collect()
        }
    )
    longest, cur = 1, 1
    for a, b in zip(days, days[1:]):
        cur = cur + 1 if (b - a).days == 1 else 1
        longest = max(longest, cur)
    assert rows[uid]["active_days"] == len(days)
    assert rows[uid]["longest_streak"] == longest


def test_window_percentiles_bounds(spark, sf_dir):
    rows = _q("window_percentiles_customers", spark, sf_dir).collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r["c_nationkey"], []).append(r)
    for grp in by_nation.values():
        assert max(x["cume"] for x in grp) == 1.0
        assert min(x["pct_rank"] for x in grp) == 0.0
        assert all(1 <= x["decile"] <= 10 for x in grp)


def test_acf_range_and_pair_counts(spark, sf_dir):
    rows = {r["lag"]: r for r in _q("acf_daily_events", spark, sf_dir).collect()}
    assert set(rows) == set(range(1, 8))
    n_days = rows[1]["n_pairs"] + 1
    for lag, r in rows.items():
        assert r["n_pairs"] == n_days - lag
        assert -1.000001 <= r["acf"] <= 1.000001


def test_seasonal_decomposition_reconstructs(spark, sf_dir):
    """trend + seasonal + residual == x exactly in rational space; after
    three independent 6dp roundings the sum is within 3e-6 + fp noise."""
    rows = _q("seasonal_decompose_weekly", spark, sf_dir).collect()
    assert rows
    for r in rows:
        recon = r["trend"] + r["seasonal"] + r["residual"]
        assert abs(recon - r["x"]) < 3.1e-6, r


def test_theil_sen_pair_count(spark, sf_dir):
    r = _q("theil_sen_daily_trend", spark, sf_dir).first()
    k = r["n_days"]
    assert r["n_pairs"] == k * (k - 1) // 2
    assert math.isfinite(r["theil_sen_slope"])
    assert math.isfinite(r["ols_slope"])


def test_attribution_models_conserve_revenue(spark, sf_dir):
    """Both models attribute every purchase exactly once — total revenue
    and purchase counts must agree across models."""
    rows = _q("attribution_first_last", spark, sf_dir).collect()
    tot = {}
    for r in rows:
        t = tot.setdefault(r["model"], [0.0, 0])
        t[0] += r["revenue"]
        t[1] += r["n_purchases"]
    assert set(tot) == {"first_touch", "last_touch"}
    assert tot["first_touch"][1] == tot["last_touch"][1]
    assert abs(tot["first_touch"][0] - tot["last_touch"][0]) < 1e-6


def test_zonemap_sorted_layout_prunes_more(spark, sf_dir):
    rows = {r["layout"]: r for r in _q("zonemap_prune_audit", spark, sf_dir).collect()}
    assert set(rows) == {"hash", "sorted"}
    h, s = rows["hash"], rows["sorted"]
    # identical data, identical predicate -> identical matches
    assert h["rows_matched"] == s["rows_matched"]
    assert h["rows_total"] == s["rows_total"]
    # the point of the audit: sort layout skips files, hash layout can't
    assert s["files_pruned"] > h["files_pruned"]
    assert s["rows_scanned"] < h["rows_scanned"]


def test_market_basket_triples_shape(spark, sf_dir):
    rows = _q("market_basket_triples", spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r["p1"] < r["p2"] < r["p3"]
        assert r["support"] >= 1


def test_triples_plan_no_cartesian(spark, sf_dir):
    p = plan_of(_q("market_basket_triples", spark, sf_dir))
    assert "CartesianProduct" not in p


# ---------------------------------------------------------- stats


def test_mannwhitney_u_identity(spark, sf_dir):
    r = _q("mannwhitney_value_groups", spark, sf_dir).first()
    assert abs(r["u1"] + r["u2"] - r["n1"] * r["n2"]) < 1e-9
    # R1 is a sum of half-integers — exactly representable
    assert (2 * r["r1"]) == int(2 * r["r1"])


def test_kendall_pair_partition(spark, sf_dir):
    r = _q("kendall_tau_daily", spark, sf_dir).first()
    assert (
        r["concordant"] + r["discordant"] + r["ties_x"] + r["ties_y"] + r["ties_xy"]
        == r["n_pairs"]
    )
    assert r["n_pairs"] == r["n_days"] * (r["n_days"] - 1) // 2
    assert -1.000001 <= r["tau_b"] <= 1.000001


def test_bh_significance_is_prefix(spark, sf_dir):
    rows = sorted(
        _q("bh_fdr_nation_acctbal", spark, sf_dir).collect(),
        key=lambda r: r["p_rank"],
    )
    sig = [r["significant"] for r in rows]
    # BH step-up: the significant set is exactly ranks 1..k*
    if any(sig):
        k = max(i for i, s in enumerate(sig) if s)
        assert all(sig[: k + 1]) and not any(sig[k + 1 :])
    for r in rows:
        assert 0.0 <= r["p_chebyshev"] <= 1.0
        assert r["z2"] >= 0.0


def test_kappa_bounds(spark, sf_dir):
    r = _q("cohens_kappa_gates", spark, sf_dir).first()
    n = r["n11"] + r["n10"] + r["n01"] + r["n00"]
    assert n > 0
    assert 0.0 <= r["po"] <= 1.0
    assert 0.0 <= r["pe"] <= 1.0
    assert r["kappa"] <= 1.0 + 1e-9


def test_pr_curve_monotone_recall(spark, sf_dir):
    rows = sorted(
        _q("pr_curve_quality", spark, sf_dir).collect(), key=lambda r: r["rank"]
    )
    assert rows[0]["precision"] in (0.0, 1.0)
    for a, b in zip(rows, rows[1:]):
        assert b["recall"] >= a["recall"] - 1e-9
        assert 0.0 <= b["precision"] <= 1.0


def test_kmv_estimate_in_sketch_error_band(spark, sf_dir):
    r = _q("kmv_distinct_users", spark, sf_dir).first()
    assert r["k_used"] >= 2
    assert r["kmv_estimate"] > 0
    # k=64 -> relative sigma ~ 1/sqrt(k-2) ~ 13%; allow a generous 4+
    # sigma band (the fixture hash draw is fixed, not adversarial)
    assert abs(r["rel_err"]) < 0.6


def test_log2_histogram_quantile_markers(spark, sf_dir):
    rows = sorted(
        _q("log2_histogram_values", spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert rows[-1]["cum_n"] == sum(r["n"] for r in rows)
    for flag in ("is_q50", "is_q95", "is_q99"):
        assert sum(1 for r in rows if r[flag]) == 1, flag
    for r in rows:
        assert r["lo_cents"] <= r["hi_cents"]
        assert r["lo_cents"] == 2 ** (r["bucket"] - 1)


def test_log2_histogram_plan_join_free(spark, sf_dir):
    p = plan_of(_q("log2_histogram_values", spark, sf_dir))
    assert "Join" not in p
    assert "CartesianProduct" not in p


# ---------------------------------------------------------- mining


def test_hits_normalized(spark, sf_dir):
    rows = _q("hits_copurchase", spark, sf_dir).collect()
    assert rows
    vals = [r["authority"] for r in rows]
    assert max(vals) == 1.0
    assert all(0.0 < v <= 1.0 for v in vals)


def test_resource_allocation_excludes_existing_edges(spark, sf_dir):
    edges = {
        (r["pa"], r["pb"]) for r in _copurchase_edges(spark, sf_dir).collect()
    }
    rows = _q("resource_allocation_links", spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert (r["u"], r["v"]) not in edges
        assert r["u"] < r["v"]
        assert r["ra"] > 0
        assert r["n_common"] >= 1


def test_readability_hand_recompute(spark, sf_dir):
    """Recompute one document's counts with Python re — the Spark regex
    semantics must agree."""
    rows = {r["doc_id"]: r for r in _q("readability_scores", spark, sf_dir).collect()}
    assert rows
    did = sorted(rows)[0]
    text = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") == did)
        .first()["text"]
    )
    words = re.findall(r"[a-z]+", text.lower())
    s = max(1, len(re.findall(r"[.!?]+", text)))
    sy = sum(max(1, len(re.findall(r"[aeiouy]+", w))) for w in words)
    r = rows[did]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (
        len(words),
        s,
        sy,
    )
    flesch = 206.835 - 1.015 * (len(words) / s) - 84.6 * (sy / len(words))
    assert abs(r["flesch"] - flesch) < 1e-5


def test_char_entropy_hand_recompute(spark, sf_dir):
    rows = {r["doc_id"]: r for r in _q("char_entropy_docs", spark, sf_dir).collect()}
    assert rows
    did = sorted(rows)[0]
    text = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") == did)
        .first()["text"]
    )
    letters = re.findall(r"[a-z]", text.lower())

    c = Counter(letters)
    n = len(letters)
    ent = -sum((k / n) * math.log(k / n) for k in c.values())
    r = rows[did]
    assert r["n_letters"] == n
    assert r["distinct_chars"] == len(c)
    assert abs(r["entropy"] - ent) < 1e-5


def test_jl_projection_shape_and_determinism(spark, sf_dir):
    df = _q("random_projection_jl", spark, sf_dir)
    rows = df.collect()
    n_vec = len({r["vec_id"] for r in rows})
    assert len(rows) == 16 * n_vec
    assert all(math.isfinite(r["proj"]) for r in rows)
    again = {(r["vec_id"], r["j"]): r["proj"] for r in df.collect()}
    for r in rows:
        assert again[(r["vec_id"], r["j"])] == r["proj"]


def test_ra_plan_no_cartesian(spark, sf_dir):
    p = plan_of(_q("resource_allocation_links", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ------------------------------------------------- round-6 late batch


def test_streaming_log2_matches_batch(spark, sf_dir):
    """The streaming count-merge must reproduce the batch sketch
    EXACTLY (histogram counts are fully mergeable)."""
    batch = sorted(
        map(tuple, _q("log2_histogram_values", spark, sf_dir).collect())
    )
    stream = sorted(
        map(tuple, _q("streaming_log2_histogram", spark, sf_dir).collect())
    )
    assert batch == stream


def test_wilcoxon_rank_sum_identity(spark, sf_dir):
    r = _q("wilcoxon_clicks_views", spark, sf_dir).first()
    n = r["n_used"]
    # W+ + W- = n(n+1)/2 exactly (ranks are exact half-integers)
    assert r["w_plus"] + r["w_minus"] == n * (n + 1) / 2
    assert math.isfinite(r["z"])


def test_runs_test_bounds(spark, sf_dir):
    r = _q("runs_test_daily", spark, sf_dir).first()
    m = r["n_above"] + r["n_below"]
    assert m <= r["n_days"]
    assert 1 <= r["n_runs"] <= m
    assert r["expected_runs"] <= m + 1
    assert math.isfinite(r["z"])


def test_concentration_identities(spark, sf_dir):
    r = _q("concentration_spend", spark, sf_dir).first()
    n = r["n_customers"]
    assert 0.0 <= r["gini"] < 1.0
    # HHI of n players is bounded by [1/n, 1]
    assert 1.0 / n - 1e-9 <= r["hhi"] <= 1.0
    assert 0.0 < r["top1_share"] <= r["top10_share"] <= 1.0
    # top-1% of customers must hold at least 1%-ish of spend
    assert r["top1_share"] >= 0.01 * 0.5


def test_mood_median_margins(spark, sf_dir):
    r = _q("mood_median_test", spark, sf_dir).first()
    above = r["n_a_above"] + r["n_b_above"]
    below = r["n_a_below"] + r["n_b_below"]
    # median cut: above/below counts differ by at most the ties dropped
    assert above > 0 and below > 0
    assert r["chi2"] >= 0.0


# ------------------------------------------------- round-7 prep batch


def test_benford_probabilities_complete(spark, sf_dir):
    rows = {r["digit"]: r for r in _q("benford_totalprice", spark, sf_dir).collect()}
    assert set(rows) <= set(range(1, 10))
    assert abs(sum(r["expected_p"] for r in rows.values()) - 1.0) < 1e-9 or len(rows) < 9
    n = sum(r["n_obs"] for r in rows.values())
    assert abs(sum(r["obs_p"] for r in rows.values()) - 1.0) < 1e-5
    for r in rows.values():
        assert r["chi2_term"] >= 0.0
        assert abs(r["obs_p"] - r["n_obs"] / n) < 1e-6


def test_burstiness_bounds(spark, sf_dir):
    rows = _q("burstiness_events", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["burstiness"] <= 1.0
        assert r["mean_gap_us"] > 0


def test_streaming_kmv_matches_batch(spark, sf_dir):
    """The min-merge must reproduce the batch KMV sketch EXACTLY."""
    batch = _q("kmv_distinct_users", spark, sf_dir).first()
    stream = _q("streaming_kmv_merge", spark, sf_dir).first()
    assert tuple(batch) == tuple(stream)


def test_assortativity_bounds(spark, sf_dir):
    r = _q("graph_assortativity", spark, sf_dir).first()
    assert -1.0 - 1e-9 <= r["assortativity"] <= 1.0 + 1e-9
    # directed multiset: Σj over both directions = Σ deg² / ... at least
    # every endpoint appears deg times, so sum_j >= m
    assert r["sum_j"] >= r["m_directed"]


def test_mattr_identities_and_hand_check(spark, sf_dir):
    """MATTR is bounded by the min/max single-window TTR; recompute one
    doc with a brute-force window scan."""
    rows = {r["doc_id"]: r for r in _q("mattr_docs", spark, sf_dir).collect()}
    assert rows
    did = sorted(rows)[0]
    text = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") == did)
        .first()["text"]
    )
    toks = re.findall(r"[a-z0-9]+", text.lower())
    W = 50
    vals = [
        len(set(toks[s : s + W])) / W for s in range(len(toks) - W + 1)
    ]
    expect = sum(vals) / len(vals)
    r = rows[did]
    assert r["n_tokens"] == len(toks)
    assert r["n_types"] == len(set(toks))
    assert abs(r["mattr"] - expect) < 1e-6
    for r in rows.values():
        assert 0.0 < r["mattr"] <= 1.0
        assert r["ttr"] <= 1.0


def test_hilbert_key_matches_python_reference(spark, sf_dir):
    """Pin the unrolled column chain against the canonical xy2d."""

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = (n - 1) - x, (n - 1) - y
                x, y = y, x
            s //= 2
        return d

    pts = spark.createDataFrame(
        [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 13)],
        "x int, y int",
    )
    rows = _hilbert_key(pts).collect()
    for r in rows:
        assert r["hkey"] == xy2d(256, r["x"], r["y"]), (r["x"], r["y"])


def test_hilbert_beats_zorder_locality(spark, sf_dir):
    """The point of the curve: lower total Manhattan jump than Z-order
    on the same point set."""
    rows = {
        r["curve"]: r
        for r in _q("hilbert_vs_zorder_locality", spark, sf_dir).collect()
    }
    assert set(rows) == {"hilbert", "zorder"}
    assert rows["hilbert"]["n_points"] == rows["zorder"]["n_points"]
    assert rows["hilbert"]["total_jump"] < rows["zorder"]["total_jump"]


def test_kaplan_meier_monotone_and_hand_check(spark, sf_dir):
    """S(t) must be non-increasing in t and equal the hand-computed
    product of factors."""
    rows = sorted(
        _q("kaplan_meier_retention", spark, sf_dir).collect(),
        key=lambda r: r["duration"],
    )
    assert rows
    km_prev = 1.0 + 1e-12
    prod = 1.0
    for r in rows:
        assert r["km_survival"] <= km_prev + 1e-9
        km_prev = r["km_survival"]
        prod *= (r["n_risk"] - r["d_churn"]) / r["n_risk"]
        assert abs(r["km_survival"] - prod) < 1e-6
        assert r["d_churn"] + r["n_censored"] >= 1
    # at-risk counts telescope: n_risk at t = everyone with duration >= t
    assert rows[0]["n_risk"] == sum(
        r["d_churn"] + r["n_censored"] for r in rows
    )


def test_dp_noise_calibration(spark, sf_dir):
    """noise = n_noisy - n_true; all finite; deterministic across runs."""
    rows = {r["lang"]: r for r in _q("dp_noisy_lang_counts", spark, sf_dir).collect()}
    assert rows
    for r in rows.values():
        assert abs((r["n_true"] + r["noise"]) - r["n_noisy"]) < 2e-6
        assert math.isfinite(r["noise"])
    again = {r["lang"]: r["noise"] for r in _q("dp_noisy_lang_counts", spark, sf_dir).collect()}
    assert again == {k: v["noise"] for k, v in rows.items()}


def test_ridge_matches_numpy(spark, sf_dir):
    """Pin the penalized Cramer solve against numpy.linalg.solve; at
    lambda -> the fixed 1000, ridge slopes must shrink toward zero
    relative to OLS (the regularization sanity)."""
    r = _q("ridge_price_model", spark, sf_dir).first()
    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .collect()
    )
    X = np.array([[1.0, a["l_quantity"], a["l_discount"]] for a in rows])
    y = np.array([a["l_extendedprice"] for a in rows])
    G = X.T @ X
    lam = r["lam"]
    Gp = G + np.diag([0.0, lam, lam])
    beta = np.linalg.solve(Gp, X.T @ y)
    assert abs(r["ridge_intercept"] - beta[0]) < max(1e-3, abs(beta[0]) * 1e-5)
    assert abs(r["ridge_beta_quantity"] - beta[1]) < 1e-4
    assert abs(r["ridge_beta_discount"] - beta[2]) < max(1e-3, abs(beta[2]) * 1e-4)
    # shrinkage: |ridge slope| <= |ols slope| on the penalized coords
    assert abs(r["ridge_beta_discount"]) <= abs(r["ols_beta_discount"]) + 1e-9


def test_logistic_newton_matches_numpy(spark, sf_dir):
    r = _q("logistic_newton_step", spark, sf_dir).first()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("n_chars", "text", "lang")
        .collect()
    )
    X = np.array(
        [[1.0, d["n_chars"], len(re.findall(r"[^ ]+", d["text"]))] for d in docs]
    )
    y = np.array([1.0 if d["lang"] == "en" else 0.0 for d in docs])
    beta = 2.0 * np.linalg.solve(X.T @ X, X.T @ (2 * y - 1))
    assert abs(r["b0"] - beta[0]) < 1e-4
    assert abs(r["b_chars"] - beta[1]) < 1e-6
    assert abs(r["b_words"] - beta[2]) < 1e-5
    assert r["n_pos"] == int(y.sum())


def test_cronbach_alpha_hand_recompute(spark, sf_dir):
    r = _q("cronbach_alpha_items", spark, sf_dir).first()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("n_chars", "text")
        .collect()
    )
    items = np.array(
        [
            [
                d["n_chars"],
                len(re.findall(r"[^ ]+", d["text"])),
                len(set(re.findall(r"[a-z0-9]+", d["text"].lower()))),
            ]
            for d in docs
        ],
        dtype=float,
    )
    var_i = items.var(axis=0).sum()
    var_t = items.sum(axis=1).var()
    alpha = 1.5 * (1 - var_i / var_t)
    assert abs(r["alpha"] - alpha) < 1e-5
    assert r["n_docs"] == len(docs)
    assert r["alpha"] <= 1.0 + 1e-9


def test_exact_percentiles_match_numpy(spark, sf_dir):
    """Pin the positional interpolation against numpy.percentile
    (linear interpolation = the percentile_cont semantics) on cents."""
    rows = _q("exact_percentiles_values", spark, sf_dir).collect()
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(
            math.floor(r["value"] * 100 + 0.5)
        )
    for r in rows:
        expect = np.percentile(
            np.array(by_type[r["event_type"]], dtype=float),
            r["p"],
            method="linear",
        ) / 100.0
        assert abs(r["pct_value"] - expect) < 1e-6, (r["event_type"], r["p"])


def test_anova_two_way_decomposition(spark, sf_dir):
    """SS components must be non-negative-ish and sum to SS_total; the
    one-way ANOVA on factor A must agree with anova_event_values' SSB."""
    r = _q("anova_two_way", spark, sf_dir).first()
    one_way = _q("anova_event_values", spark, sf_dir).first()
    assert abs(r["ss_a"] - one_way["ssb"]) < 1e-3
    assert r["ss_err"] > 0
    assert r["a_levels"] == 5 and r["b_levels"] == 7
    for f in ("f_a", "f_b", "f_ab"):
        assert math.isfinite(r[f])


def test_personalized_pagerank_concentrates_on_seeds(spark, sf_dir):
    """Mass must concentrate on/near the seed set: the mean rank of
    seed nodes exceeds the mean rank of non-seeds, and ranks are a
    probability-like vector (all >= 0)."""
    rows = _q("pagerank_personalized", spark, sf_dir).collect()
    seeds = [r["rank"] for r in rows if r["part"] <= 50]
    rest = [r["rank"] for r in rows if r["part"] > 50]
    assert seeds and rest
    assert min(r["rank"] for r in rows) >= 0.0
    assert sum(seeds) / len(seeds) > sum(rest) / len(rest)


def test_streaming_outer_join_supersets_inner(spark, sf_dir):
    """The left-outer drain must contain every inner-join pair plus
    only NULL-click rows; no view may appear both matched and null."""
    outer = _q("streaming_outer_interval_join", spark, sf_dir).collect()
    inner = _q("streaming_interval_join", spark, sf_dir).collect()
    outer_pairs = {(r["view_id"], r["click_id"]) for r in outer if r["click_id"] is not None}
    inner_pairs = {(r["view_id"], r["click_id"]) for r in inner}
    assert inner_pairs == outer_pairs
    matched_views = {v for v, _ in outer_pairs}
    null_views = {r["view_id"] for r in outer if r["click_id"] is None}
    assert not (matched_views & null_views)


def test_negative_sampling_no_self_hits(spark, sf_dir):
    rows = _q("negative_sampling_pairs", spark, sf_dir).collect()
    anchors = {r["doc_id"] for r in rows}
    assert len(rows) == 5 * len(anchors)
    for r in rows:
        assert r["neg_doc_id"] != r["doc_id"]
    # determinism
    again = {(r["doc_id"], r["j"]): r["neg_doc_id"] for r in rows}
    for r in _q("negative_sampling_pairs", spark, sf_dir).collect():
        assert again[(r["doc_id"], r["j"])] == r["neg_doc_id"]
