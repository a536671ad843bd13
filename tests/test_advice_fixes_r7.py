"""Pins for the four round-6 ADVICE items (ADVICE.md, round 6):

1. mining.py JL_SQL hardcodes the sign-matrix i-range at 64 while the
   Spark face derives dim from data — a dim>64 fixture would silently
   hash-diverge.  Fix: loud assert in random_projection_jl.
2. STREAMING_OUTER_JOIN_SQL's strict-inequality eviction rule
   (view_ts + 30min < wm) is a knife-edge vs Spark's internal state
   watermark handling.  Fix: synthetic fixture placing a view exactly
   at wm - 30min pins the boundary.
3. acf_daily_events lags over the row index assume a gapless day
   series.  Fix: docstring states the assumption; this test pins that
   the shipped fixtures actually satisfy it.
4. anova_two_way used round(x, 6) instead of the module's cross-engine
   floor(x*1e6+0.5) convention.  Fix: both faces now use the floor
   form; pinned textually and by parity.
"""

from __future__ import annotations

import datetime as dt
import inspect

import duckdb
import pandas as pd
import pytest

from k_means_hadoop_spark.operators import stats_extra
from k_means_hadoop_spark.operators.mining import random_projection_jl
from k_means_hadoop_spark.registry_pipeline import (
    STREAMING_OUTER_JOIN_SQL,
    q_streaming_outer_interval_join,
)
from tests.helpers import SF_DIRS
from tests.oracle_harness import compare, duck_connection


def test_jl_dim_guard_fails_loudly(spark, tmp_path):
    """ADVICE 1: a non-64-dim embeddings fixture must raise, not
    silently diverge from the oracle's range(0, 64) sign matrix."""
    pd.DataFrame(
        {"vec_id": [0, 1], "embedding": [[1.0] * 8, [2.0] * 8]}
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    with pytest.raises(AssertionError, match="dim 8 != 64"):
        random_projection_jl(spark, str(tmp_path))


def test_jl_dim_matches_oracle_hardcode():
    """The fixture dim the oracle hardcodes is still what ships."""
    con = duckdb.connect()
    for d in SF_DIRS:
        (dim,) = con.execute(
            f"SELECT len(embedding) FROM '{d}/embeddings.parquet' LIMIT 1"
        ).fetchone()
        assert dim == 64, f"{d}: embedding dim {dim}"


def test_streaming_outer_join_watermark_boundary(spark, tmp_path):
    """ADVICE 2: pin the eviction rule at the knife-edge.  Fixture:
    anchors on both streams at base+10h fix the global watermark at
    base+8h (2h delay); three clickless views straddle the deadline:

      view 4: deadline wm - 1s  -> evicted  -> NULL row emitted
      view 3: deadline == wm    -> HELD     -> absent (strict <)
      view 5: deadline wm + 1s  -> held     -> absent

    plus one matched pair (view 6/click 7) that must appear regardless.
    Spark (availableNow drain) and the oracle SQL must agree row-for-
    row — a Spark version bump that changes the internal state-
    watermark adjustment fails HERE, not as a headline hash mismatch."""
    base = dt.datetime(2024, 1, 1)
    H, M, S = (dt.timedelta(hours=1), dt.timedelta(minutes=1),
               dt.timedelta(seconds=1))
    wm = base + 8 * H
    rows = [
        (1, base + 10 * H, 99, "view"),
        (2, base + 10 * H, 98, "click"),
        (3, wm - 30 * M, 1, "view"),
        (4, wm - 30 * M - S, 2, "view"),
        (5, wm - 30 * M + S, 3, "view"),
        (6, base + 1 * H, 4, "view"),
        (7, base + 1 * H + 10 * M, 4, "click"),
    ]
    pd.DataFrame(
        [(i, ts, u, et, 1.0, "{}") for i, ts, u, et in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(tmp_path / "events.parquet", index=False)

    got = {
        (r["view_id"], r["click_id"])
        for r in q_streaming_outer_interval_join(spark, str(tmp_path))
        .toPandas()
        .to_dict("records")
    }
    want = {(4, None), (6, 7.0)}
    norm = {(v, None if pd.isna(c) else c) for v, c in got}
    assert norm == want, f"spark drain produced {norm}"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    odf = con.execute(STREAMING_OUTER_JOIN_SQL).df()
    onorm = {
        (r["view_id"], None if pd.isna(r["click_id"]) else r["click_id"])
        for r in odf.to_dict("records")
    }
    assert onorm == want, f"oracle produced {onorm}"


def test_events_daily_series_gapless():
    """ADVICE 3: acf_daily_events' row-index lags equal calendar lags
    iff every calendar day in [min, max] has >= 1 event.  Pin that the
    shipped fixtures satisfy the stated assumption at all three SFs."""
    con = duckdb.connect()
    for d in SF_DIRS:
        n_days, span = con.execute(
            f"""SELECT count(DISTINCT ts::DATE),
                       (max(ts::DATE) - min(ts::DATE)) + 1
                FROM '{d}/events.parquet'"""
        ).fetchone()
        assert n_days == span, f"{d}: {n_days} distinct days over span {span}"


def test_anova_two_way_uses_floor_rounding(spark, sf_dir):
    """ADVICE 4: both anova_two_way faces use the tie-stable
    floor(x*1e6+0.5) form, and they still agree value-for-value."""
    src = inspect.getsource(stats_extra.anova_two_way)
    assert "round(" not in src.replace("F.round", "ROUND_TOKEN"), (
        "Spark face must not use F.round"
    )
    assert "F.round" not in src
    sql = stats_extra._anova2_sql()
    assert "round(" not in sql.lower()
    assert "floor(" in sql.lower()
    ok, msg = compare(
        stats_extra.anova_two_way(spark, sf_dir), duck_connection(sf_dir), sql
    )
    assert ok, msg
