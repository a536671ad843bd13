"""Algebra and semantics pins for the round-4d analytics operators.

The cross-engine oracle (tests/test_oracle_parity.py) proves Spark and
DuckDB agree; these tests prove both agree with the MATH — NumPy for
the closed-form statistics, brute force for the skyline and triangle
semantics — and that the distributed plans keep their scale shape.
"""

from __future__ import annotations

from collections import deque

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.operators import analytics, dedup
from k_means_hadoop_spark.operators.analytics import (
    _BFS_ITERS,
    _KC_ITERS,
    _KC_K,
    _SP_ITERS,
    _copurchase_edges,
    _t,
    anova_event_values,
    bfs_levels,
    dq_expectations,
    interarrival_stats,
    kcore_membership,
    merge_apply_changelog,
    shortest_paths_weighted,
)
from k_means_hadoop_spark.operators.assign import assign_expr
from k_means_hadoop_spark.operators.kmeans import init_ids
from k_means_hadoop_spark.operators.sketches import (
    bloom_bits_streaming,
    bloom_membership_audit,
    cms_event_counts,
    cms_event_counts_streaming,
)
from k_means_hadoop_spark.partitioning import prefix_sum
from k_means_hadoop_spark.registry import SEEDS, _SIL_MAX_ID, _points, q_silhouette
from k_means_hadoop_spark.registry_pipeline import NGRAM_N, NGRAM_THRESHOLD, _docs
from k_means_hadoop_spark.session import scratch_dir


@pytest.fixture(scope="module")
def lineitem_pd(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .toPandas()
    )


def test_ols_matches_numpy_lstsq(spark, sf_dir, lineitem_pd):
    row = analytics.ols_price_model(spark, sf_dir).first()
    X = np.column_stack(
        [
            np.ones(len(lineitem_pd)),
            lineitem_pd["l_quantity"].to_numpy(),
            lineitem_pd["l_discount"].to_numpy(),
        ]
    )
    y = lineitem_pd["l_extendedprice"].to_numpy()
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert row["n_rows"] == len(lineitem_pd)
    assert row["intercept"] == pytest.approx(beta[0], rel=1e-6, abs=1e-4)
    assert row["beta_quantity"] == pytest.approx(beta[1], rel=1e-6, abs=1e-4)
    assert row["beta_discount"] == pytest.approx(beta[2], rel=1e-6, abs=1e-4)
    pred = X @ beta
    r2 = 1.0 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert row["r2"] == pytest.approx(r2, abs=1e-5)
    assert 0.0 <= row["r2"] <= 1.0  # fixture prices ⊥ quantity → r2 ≈ 0


def test_corr_matches_numpy(spark, sf_dir, lineitem_pd):
    rows = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in analytics.corr_matrix_lineitem(spark, sf_dir).collect()
    }
    assert len(rows) == 6
    for (a, b), v in rows.items():
        expect = np.corrcoef(lineitem_pd[a], lineitem_pd[b])[0, 1]
        assert v == pytest.approx(expect, abs=1e-6), (a, b)
    # fixture prices are synthetic (independent of quantity — measured
    # corr ≈ -0.01), so assert only the mathematical envelope
    assert all(abs(v) <= 1.0 for v in rows.values())


def test_chi2_cells_sum_to_statistic(spark, sf_dir):
    df = analytics.chi2_event_dow(spark, sf_dir).toPandas()
    # expected counts reconstruct the observed marginals exactly
    piv_o = df.pivot_table(index="event_type", columns="dow", values="observed", aggfunc="sum")
    piv_e = df.pivot_table(index="event_type", columns="dow", values="expected", aggfunc="sum")
    assert np.allclose(piv_o.sum(axis=1).to_numpy(dtype=float),
                       piv_e.sum(axis=1).to_numpy(), rtol=1e-6)
    assert np.allclose(piv_o.sum(axis=0).to_numpy(dtype=float),
                       piv_e.sum(axis=0).to_numpy(), rtol=1e-6)
    # contributions reproduce (o-e)^2/e
    recon = (df["observed"] - df["expected"]) ** 2 / df["expected"]
    assert np.allclose(recon, df["contrib"], atol=1e-4)


def test_skew_gini_matches_direct_formula(spark, sf_dir):
    row = analytics.skew_report_orders(spark, sf_dir).first()
    cnt = (
        analytics._t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .count()
        .toPandas()["count"]
        .to_numpy()
    )
    c = np.sort(cnt)
    n = len(c)
    gini = (2 * np.sum(np.arange(1, n + 1) * c) - (n + 1) * c.sum()) / (n * c.sum())
    assert row["n_keys"] == n
    assert row["total"] == int(c.sum())
    assert row["max_cnt"] == int(c.max())
    assert row["gini"] == pytest.approx(gini, abs=1e-6)
    assert row["p50"] == pytest.approx(np.percentile(c, 50), abs=1e-6)
    assert row["p99"] == pytest.approx(np.percentile(c, 99), abs=1e-6)


def test_pareto_ties_survive_together(spark):
    # two parts sharing the frontier point (same size, same price) both
    # survive (neither strictly dominates); a same-size higher price
    # falls; a larger-size equal-price part kills the smaller size
    rows = [
        (1, 10, 5.0),
        (2, 10, 5.0),   # tie with 1 → both survive unless a larger size ≤ 5.0
        (3, 10, 6.0),   # dominated within size 10
        (4, 20, 5.0),   # larger size, equal price → dominates 1 and 2
        (5, 20, 7.0),   # dominated by 4
        (6, 30, 9.0),   # largest size → survives
    ]
    df = spark.createDataFrame(rows, ["p_partkey", "p_size", "p_retailprice"])

    orig = analytics._t
    analytics._t = lambda s, d, n: df
    try:
        got = sorted(r["p_partkey"] for r in analytics.pareto_front_parts(spark, "-").collect())
    finally:
        analytics._t = orig
    assert got == [4, 6]


def test_pareto_tied_frontier_pair(spark):
    rows = [(1, 10, 5.0), (2, 10, 5.0), (3, 5, 4.0), (4, 5, 4.5)]
    df = spark.createDataFrame(rows, ["p_partkey", "p_size", "p_retailprice"])

    orig = analytics._t
    analytics._t = lambda s, d, n: df
    try:
        got = sorted(r["p_partkey"] for r in analytics.pareto_front_parts(spark, "-").collect())
    finally:
        analytics._t = orig
    # 1 and 2 tie on the frontier; 3 survives (cheaper than everything
    # larger); 4 is beaten at its own size
    assert got == [1, 2, 3]


def test_triangles_match_bruteforce(spark, sf_dir):
    edges = {
        (r["pa"], r["pb"])
        for r in analytics._copurchase_edges(spark, sf_dir).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per_node: dict[int, int] = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if a < b < c:
                for v in (a, b, c):
                    per_node[v] = per_node.get(v, 0) + 1
    got = {
        r["part"]: r["n_triangles"]
        for r in analytics.triangle_count_parts(spark, sf_dir).collect()
    }
    assert got == per_node
    assert per_node, "fixture graph must contain triangles (vacuity guard)"


def test_label_prop_refines_toward_components(spark, sf_dir):
    labels = {
        r["part"]: r["community"]
        for r in analytics.label_prop_communities(spark, sf_dir).collect()
    }
    edges = [
        (r["pa"], r["pb"])
        for r in analytics._copurchase_edges(spark, sf_dir).collect()
    ]
    # exact union-find components
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for v in parent:
        r = find(v)
        comp_min.setdefault(r, v)
        comp_min[r] = min(comp_min[r], v)
    # after k rounds every label is a valid node id of the same
    # component, never below the component minimum
    for v, lab in labels.items():
        assert find(lab) == find(v)
        assert lab >= comp_min[find(v)]
    # and nodes within 4 hops of their component min have converged:
    # at minimum, the component min itself keeps its label
    for r, m in comp_min.items():
        assert labels[m] == m


def test_corr_plan_is_single_scan_single_agg(spark, sf_dir):
    plan = analytics.corr_matrix_lineitem(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 1  # partial-agg + one final exchange


def test_pareto_plan_broadcasts_frontier(spark, sf_dir):
    plan = analytics.pareto_front_parts(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_prefix_filter_equals_inverted_index(spark, sf_dir):
    """The PPJoin prefix filter must lose no pair and must prune the
    candidate space vs the full inverted-index join."""
    docs = _docs(spark, sf_dir)
    full = sorted(
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, n=NGRAM_N, threshold=NGRAM_THRESHOLD
        ).collect()
    )
    pref = sorted(
        tuple(r)
        for r in dedup.prefix_filtered_jaccard(
            docs, n=NGRAM_N, threshold=NGRAM_THRESHOLD
        ).collect()
    )
    assert pref == full
    assert full, "fixture must contain near-dup pairs (vacuity guard)"
    # candidate pruning: pairs sharing >=1 PREFIX shingle must be fewer
    # than pairs sharing >=1 shingle at all

    sh = dedup.shingle_table(docs, NGRAM_N)
    a, b = sh.alias("a"), sh.alias("b")
    full_cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix = (
        sh.join(df_tbl, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(counts, "doc_id")
        .where(F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(NGRAM_THRESHOLD) * F.col("n_sh")) + 1)
        .select("doc_id", "shingle")
    )
    pa, pb = prefix.alias("a"), prefix.alias("b")
    pref_cand = (
        pa.join(
            pb,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert pref_cand < full_cand, (pref_cand, full_cand)


def test_silhouette_matches_numpy(spark, sf_dir):
    got = {
        r["cluster"]: (r["n_points"], r["mean_silhouette"])
        for r in q_silhouette(spark, sf_dir).collect()
    }
    pts = _points(spark, sf_dir).where(f"id <= {_SIL_MAX_ID}")
    asg = assign_expr(pts, init_ids(pts, SEEDS)).select("id", "cluster", "features").toPandas()
    X = np.array(asg["features"].tolist())
    lab = asg["cluster"].to_numpy()
    D = np.round(np.sqrt(((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)), 6)
    s_vals: dict[int, list[float]] = {}
    for i in range(len(X)):
        own = lab == lab[i]
        own[i] = False
        a = D[i][own].mean() if own.any() else None
        bs = [D[i][lab == c].mean() for c in set(lab) if c != lab[i] and (lab == c).any()]
        b = min(bs) if bs else None
        s = 0.0 if a is None or b is None else (b - a) / max(a, b) if max(a, b) > 0 else 0.0
        s_vals.setdefault(int(lab[i]), []).append(s)
    for c, vals in s_vals.items():
        n, mean_s = got[c]
        assert n == len(vals)
        assert mean_s == pytest.approx(float(np.mean(vals)), abs=2e-6), c
    # non-vacuity: a sane clustering has positive mean silhouette somewhere
    assert any(v[1] > 0 for v in got.values())


def test_cms_overestimates_only_and_collides(spark, sf_dir):
    df = cms_event_counts(spark, sf_dir).toPandas()
    assert (df["over"] >= 0).all(), "CMS must never underestimate"
    assert (df["est"] - df["exact"] == df["over"]).all()
    # with |users| >> w the sketch must actually collide somewhere,
    # otherwise the estimate path is untested
    assert (df["over"] > 0).any(), "no collision engaged — sketch vacuous"


def test_bloom_guarantees(spark, sf_dir):
    row = bloom_membership_audit(spark, sf_dir).first()
    assert row["false_negatives"] == 0, "Bloom must never miss a member"
    assert row["n_members"] == row["n_nonmembers"] > 0
    assert 0 < row["false_positives"] < row["n_nonmembers"], (
        "fp rate must be engaged but not saturated"
    )


def test_bfs_matches_local_bfs(spark, sf_dir):
    edges = [(r["pa"], r["pb"]) for r in _copurchase_edges(spark, sf_dir).collect()]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    src = min(adj)
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        if dist[u] >= _BFS_ITERS:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {r["part"]: r["dist"] for r in bfs_levels(spark, sf_dir).collect()}
    assert got == dist
    assert len(set(dist.values())) > 2, "graph must have multi-hop depth (vacuity guard)"


def test_dq_battery_has_both_result_classes(spark, sf_dir):
    rows = {r["check_name"]: r for r in dq_expectations(spark, sf_dir).collect()}
    assert len(rows) == 7
    clean = {k for k, r in rows.items() if r["n_violations"] == 0}
    dirty = {k for k, r in rows.items() if r["n_violations"] > 0}
    # the fixture passes the range/null/pk/referential checks...
    assert {"lineitem_quantity_range", "lineitem_null_keys",
            "orders_pk_unique", "lineitem_orphan_orderkeys"} <= clean
    # ...and genuinely violates the date-window and balance rules
    assert {"orders_date_window_1995_2000", "customer_acctbal_nonneg"} <= dirty
    for r in rows.values():
        assert 0 <= r["n_violations"] <= r["n_checked"]


def test_streaming_cms_merges_multiple_batches(spark, sf_dir):
    """The stream must actually produce >1 micro-batch partial (else
    the merge path is untested) and equal the one-shot batch sketch."""
    store = scratch_dir("cms_store_test")
    batch = sorted(tuple(r) for r in cms_event_counts(spark, sf_dir).collect())
    streamed = sorted(
        tuple(r)
        for r in cms_event_counts_streaming(spark, sf_dir, store_path=store).collect()
    )
    assert streamed == batch
    n_batches = (
        spark.read.parquet(store).select("batch_id").distinct().count()
    )
    assert n_batches > 1, "stream must split into multiple micro-batches"


def test_merge_changelog_applies_all_three_verbs(spark, sf_dir):
    df = merge_apply_changelog(spark, sf_dir).toPandas()
    base = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal").toPandas()
    mx = base["c_custkey"].max()
    # deletes gone
    assert not (df["c_custkey"] % 10 == 0)[df["c_custkey"] <= mx].any()
    # updates applied
    upd = df[(df.src == "updated")]
    assert len(upd) > 0
    merged_bal = dict(zip(df["c_custkey"], df["c_acctbal"]))
    base_bal = dict(zip(base["c_custkey"], base["c_acctbal"]))
    for k in upd["c_custkey"]:
        assert merged_bal[k] == pytest.approx(base_bal[k] + 100.0)
    # inserts present beyond the original key space
    ins = df[df.src == "inserted"]
    assert len(ins) > 0 and (ins["c_custkey"] > mx).all()
    # untouched rows unchanged
    b = df[df.src == "base"]
    for k in b["c_custkey"].head(50):
        assert merged_bal[k] == pytest.approx(base_bal[k])
    # row count = base - deletes + inserts
    n_del = (base["c_custkey"] % 10 == 0).sum()
    n_ins = (base["c_custkey"] % 10 == 3).sum()
    assert len(df) == len(base) - n_del + n_ins


def test_anova_matches_scipy_free_formula(spark, sf_dir):
    row = anova_event_values(spark, sf_dir).first()
    pdf = (
        _t(spark, sf_dir, "events")
        .select("event_type", "value")
        .toPandas()
    )
    # mirror the operator's 6dp-decimal quantization of the input
    pdf["x"] = pdf["value"].round(6)
    groups = [g["x"].to_numpy() for _, g in pdf.groupby("event_type")]
    k = len(groups)
    n = sum(len(g) for g in groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k_groups"] == k and row["n_tot"] == n
    assert row["ssb"] == pytest.approx(ssb, rel=1e-6, abs=1e-3)
    assert row["ssw"] == pytest.approx(ssw, rel=1e-6, abs=1e-3)
    assert row["f_stat"] == pytest.approx(f, rel=1e-5, abs=1e-5)


def test_weighted_shortest_paths_match_local_bellman_ford(spark, sf_dir):
    li = (
        _t(spark, sf_dir, "lineitem")
        .where("l_partkey <= 300")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    cnt = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .count()
        .collect()
    )
    adj: dict[int, list] = {}
    for r in cnt:
        w = round(1.0 / r["count"], 6)
        adj.setdefault(r["pa"], []).append((r["pb"], w))
        adj.setdefault(r["pb"], []).append((r["pa"], w))
    src = min(adj)
    dist = {v: None for v in adj}
    dist[src] = 0.0
    for _ in range(_SP_ITERS):
        nxt = dict(dist)
        for u, d in dist.items():
            if d is None:
                continue
            for v, w in adj[u]:
                cand = round(d + w, 6)
                if nxt[v] is None or cand < nxt[v]:
                    nxt[v] = cand
        dist = nxt
    want = {v: d for v, d in dist.items() if d is not None}
    got = {
        r["part"]: r["dist"]
        for r in shortest_paths_weighted(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), v
    assert len({round(v, 3) for v in want.values()}) > 2


def test_streaming_bloom_merges_multiple_batches(spark, sf_dir):
    store = scratch_dir("bloom_store_test")
    batch = sorted(tuple(r) for r in bloom_membership_audit(spark, sf_dir).collect())
    streamed = sorted(
        tuple(r)
        for r in bloom_bits_streaming(spark, sf_dir, store_path=store).collect()
    )
    assert streamed == batch
    n_batches = spark.read.parquet(store).select("batch_id").distinct().count()
    assert n_batches > 1


def test_kcore_matches_local_peeling(spark, sf_dir):
    edges = {(r["pa"], r["pb"]) for r in _copurchase_edges(spark, sf_dir).collect()}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    for _ in range(_KC_ITERS):
        alive = {v for v in alive if len(adj[v] & alive) >= _KC_K}
    want = {v: len(adj[v] & alive) for v in alive}
    got = {r["part"]: r["degree"] for r in kcore_membership(spark, sf_dir).collect()}
    assert got == want
    assert want, "core must be non-empty (vacuity guard)"
    # the defining core property holds for every survivor
    assert all(d >= _KC_K for d in want.values())


def test_interarrival_stats_match_pandas(spark, sf_dir):
    got = {
        r["event_type"]: (r["n_gaps"], r["p50_gap_s"], r["p90_gap_s"], r["max_gap_s"])
        for r in interarrival_stats(spark, sf_dir).collect()
    }
    pdf = (
        _t(spark, sf_dir, "events")
        .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) as us")
        .toPandas()
        .sort_values(["user_id", "event_type", "us", "event_id"])
    )
    pdf["prev"] = pdf.groupby(["user_id", "event_type"])["us"].shift()
    g = pdf.dropna(subset=["prev"])
    gaps = ((g["us"] - g["prev"]) // 1_000_000).astype("int64")
    for et, sub in gaps.groupby(g["event_type"]):
        v = sub.to_numpy()
        n, p50, p90, mx = got[et]
        assert n == len(v)
        assert p50 == pytest.approx(np.percentile(v, 50), abs=1e-6)
        assert p90 == pytest.approx(np.percentile(v, 90), abs=1e-6)
        assert mx == v.max()


def test_prefix_sum_property_random_orders(spark):
    """Property: prefix_sum equals the naive global window for random
    values, duplicate keys, and any partition count."""
    @settings(max_examples=5, deadline=None)
    @given(
        vals=st.lists(
            st.tuples(st.integers(0, 30), st.integers(-100, 100)),
            min_size=1,
            max_size=120,
        ),
        nparts=st.integers(2, 9),
    )
    def check(vals, nparts):
        rows = [(i, k, v) for i, (k, v) in enumerate(vals)]
        df = spark.createDataFrame(rows, ["i", "k", "v"])
        order = [F.col("k").asc(), F.col("i").asc()]
        got = {
            r["i"]: r["cum"]
            for r in prefix_sum(df, "v", order, num_parts=nparts).collect()
        }
        w = Window.orderBy("k", "i").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        want = {
            r["i"]: r["cum"]
            for r in df.withColumn("cum", F.sum("v").over(w)).collect()
        }
        assert got == want

    check()


def test_pareto_property_random_points(spark):
    """Property: the window skyline equals the brute-force dominance
    scan for random (size, price) clouds with ties."""
    @settings(max_examples=5, deadline=None)
    @given(
        pts=st.lists(
            st.tuples(st.integers(1, 8), st.integers(1, 8)),
            min_size=1,
            max_size=40,
        )
    )
    def check(pts):
        rows = [(i, s, float(p)) for i, (s, p) in enumerate(pts)]
        df = spark.createDataFrame(rows, ["p_partkey", "p_size", "p_retailprice"])
        orig = analytics._t
        analytics._t = lambda sp, d, n: df
        try:
            got = sorted(
                r["p_partkey"] for r in analytics.pareto_front_parts(spark, "-").collect()
            )
        finally:
            analytics._t = orig
        want = sorted(
            i
            for i, s, p in rows
            if not any(
                (q_p <= p and q_s >= s and (q_p < p or q_s > s))
                for _, q_s, q_p in rows
            )
        )
        assert got == want

    check()
