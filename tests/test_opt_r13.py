"""Round-13 optimization equivalence pins.

Every optimization this round must leave results identical; these tests
pin the specific equivalences the changes rely on, next to the full
oracle-parity gate (tests/test_oracle_parity.py) that re-proves each
touched query hash-identical end to end.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.vector import (
    dot_unrolled,
    squared_distance_unrolled,
)
from k_means_hadoop_spark.operators.multimodal import synthesize_codec_media
from k_means_hadoop_spark.operators.similarity import knn_ivf
from k_means_hadoop_spark.partitioning import (
    prefix_sum,
    truncate_lineage,
    truncate_lineage_lazy,
)
from k_means_hadoop_spark.sources.events import load_events


def test_truncate_lineage_default_is_local_checkpoint(spark, tmp_path, monkeypatch):
    """Env unset → localCheckpoint semantics: the plan is truncated to
    an RDD scan, values identical, and NOTHING is written to disk (the
    executor-local default the plans were measured with)."""
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = truncate_lineage(df)
    assert "LogicalRDD" in out._jdf.queryExecution().logical().toString()
    assert [r["v"] for r in out.orderBy("id").collect()] == [
        2 * i for i in range(100)
    ]


def test_truncate_lineage_reliable_escape_hatch(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_DIR set → a RELIABLE checkpoint into that
    directory (round-13 verdict item 7): files land under the dir, the
    frame is checkpointed (not locally), values identical."""
    ckpt = tmp_path / "reliable_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    df = spark.range(50).withColumn("v", F.col("id") + 7)
    out = truncate_lineage(df)
    assert "LogicalRDD" in out._jdf.queryExecution().logical().toString()
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
    ]
    assert files, "reliable checkpoint wrote nothing under the configured dir"
    assert [r["v"] for r in out.orderBy("id").collect()] == [
        i + 7 for i in range(50)
    ]
    # lazy variant drives through the same hatch (materializes on action)
    n_before = len(
        [f for dp, _, fs in os.walk(ckpt) for f in fs]
    )
    out2 = truncate_lineage_lazy(spark.range(10))
    assert out2.count() == 10
    n_after = len([f for dp, _, fs in os.walk(ckpt) for f in fs])
    assert n_after > n_before


def test_truncate_lineage_env_dir_wins_over_earlier_dir(spark, tmp_path, monkeypatch):
    """A checkpoint dir already set on the context (another caller, an
    earlier test) must not capture the reliable checkpoints: they land
    under SPARK_GRAFT_CHECKPOINT_DIR, and repeated calls reuse the one
    <uuid> dir setCheckpointDir made there."""
    other, ckpt = tmp_path / "other", tmp_path / "env"
    spark.sparkContext.setCheckpointDir(str(other))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    assert truncate_lineage(spark.range(20)).count() == 20
    assert truncate_lineage(spark.range(5)).count() == 5
    assert not [f for _, _, fs in os.walk(other) for f in fs]
    assert [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert len(os.listdir(ckpt)) == 1


def test_prefix_sum_identical_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """prefix_sum's pinned-assignment correctness holds through the
    reliable-checkpoint route: same cumulative sums as the default."""
    rows = [(i, (i * 37) % 11) for i in range(200)]
    df = spark.createDataFrame(rows, "k int, v int")
    base = {
        r["k"]: r["cum"]
        for r in prefix_sum(df, "v", ["k"], num_parts=4).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck2"))
    reliable = {
        r["k"]: r["cum"]
        for r in prefix_sum(df, "v", ["k"], num_parts=4).collect()
    }
    assert base == reliable
    # and both equal the single-window ground truth
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    truth = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert base == truth


def test_acf_lag_join_calendar_equals_row_number(spark, sf_dir):
    """acf_daily_events round-13 rewrite: on the (pinned-gapless) daily
    series, pairing rows by date_sub(day, lag) == day yields the exact
    pair set the old rn - lag == rn join produced — per lag, both the
    pair count and the sum of xt*xl match."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    d = daily.withColumn("rn", F.row_number().over(Window.orderBy("day")))
    a_old = d.select("rn", F.col("x").alias("xt")).withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(7)))
    )
    b_old = d.select(F.col("rn").alias("rnb"), F.col("x").alias("xl"))
    old = (
        a_old.join(b_old, a_old.rn - a_old.lag == b_old.rnb)
        .groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("xt") * F.col("xl")).alias("s"))
    )
    a_new = daily.select("day", F.col("x").alias("xt")).withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(7)))
    )
    b_new = daily.select(F.col("day").alias("dayb"), F.col("x").alias("xl"))
    new = (
        a_new.join(b_new, F.date_sub(a_new.day, a_new.lag) == b_new.dayb)
        .groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("xt") * F.col("xl")).alias("s"))
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))


def test_pair_rank_sum_equals_row_number_rank(spark):
    """page_trend_event_dow round-13 rewrite: Σ j·w over row_number
    ranks equals the pair sum Σ_{y.t <= x.t} w(x) when t is distinct."""
    rows = [("c", 10), ("a", 3), ("e", 7), ("b", 1), ("d", 5)]
    per_t = spark.createDataFrame(rows, "t string, w long")
    jr = per_t.withColumn("j", F.row_number().over(Window.orderBy("t")))
    old = jr.agg(F.sum(F.col("j") * F.col("w"))).collect()[0][0]
    x, y = per_t.alias("x"), per_t.alias("y")
    new = (
        x.join(y, F.col("y.t") <= F.col("x.t"))
        .agg(F.sum(F.col("x.w")))
        .collect()[0][0]
    )
    assert old == new == 3 * 1 + 1 * 2 + 10 * 3 + 5 * 4 + 7 * 5


def test_interpolate_neighbor_join_equals_window(spark):
    """interpolate_daily_purchases round-13 rewrite: max_by/min_by
    neighbor joins reproduce the ignore-nulls window lookups exactly,
    including leading/trailing all-null edges."""
    d0 = dt.date(2024, 1, 1)
    days = [(d0 + dt.timedelta(days=i),) for i in range(12)]
    cal = spark.createDataFrame(days, "day date")
    obs = spark.createDataFrame(
        [(d0 + dt.timedelta(days=3), 1.5), (d0 + dt.timedelta(days=7), 4.25)],
        "day date, v double",
    )
    g = cal.join(obs, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    old = g.select(
        "day",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True)
        .over(w_prev)
        .alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True)
        .over(w_next)
        .alias("nd"),
    )
    obs_a = obs.select(F.col("day").alias("od"), F.col("v").alias("ov"))
    prev_t = (
        g.join(obs_a, F.col("od") <= F.col("day"), "left")
        .groupBy("day", "v")
        .agg(F.max("od").alias("pd"), F.max_by("ov", "od").alias("pv"))
    )
    new = (
        prev_t.join(obs_a, F.col("od") >= F.col("day"), "left")
        .groupBy("day", "v", "pd", "pv")
        .agg(F.min("od").alias("nd"), F.min_by("ov", "od").alias("nv"))
        .select("day", "pv", "pd", "nv", "nd")
    )
    o = {r["day"]: (r["pv"], r["pd"], r["nv"], r["nd"]) for r in old.collect()}
    n = {r["day"]: (r["pv"], r["pd"], r["nv"], r["nd"]) for r in new.collect()}
    assert o == n


def test_unrolled_rejects_zero_dim():
    with pytest.raises(ValueError):
        squared_distance_unrolled("a", "b", 0)
    with pytest.raises(ValueError):
        dot_unrolled("a", "b", 0)


def test_knn_ivf_empty_queries_degrades(spark, sf_dir):
    """r12 ADVICE: no matching query_ids must yield an empty frame, not
    StopIteration."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = knn_ivf(emb, query_ids=[-999999], k=3)
    assert out.count() == 0
    assert out.columns == ["qid", "nid", "cos_sim", "rank"]


def test_synthesize_kinds_pmod_matches_python_mod(spark):
    """r12 ADVICE: negative doc_ids must not be dropped by the kinds
    pushdown — the JVM filter uses pmod, matching Python's %."""
    docs = spark.createDataFrame(
        [(-5, "neg five"), (-4, "neg four"), (-3, "neg three"), (4, "pos four")],
        "doc_id long, text string",
    )
    full = synthesize_codec_media(docs)
    for kinds in (["audio"], ["image"], ["video"]):
        sub = synthesize_codec_media(docs, kinds=kinds)
        exp = sorted(
            (r["media_id"], r["kind"], bytes(r["payload"]))
            for r in full.collect()
            if r["kind"] in kinds
        )
        got = sorted(
            (r["media_id"], r["kind"], bytes(r["payload"])) for r in sub.collect()
        )
        assert got == exp, f"kinds={kinds}"
