"""Pins for the five round-7 ADVICE items (ADVICE.md, round 7):

1. holm_bonferroni_nation_acctbal's docstring claimed alpha=0.05 while
   the code uses _HOLM_A_NUM/_HOLM_A_DEN = 1/4.  Fix: docstring states
   0.25; this test pins docstring-vs-constant agreement.
2. friedman_event_dow assumed complete blocks silently — a missing
   (block, treatment) cell yields a statistically invalid Q that BOTH
   engines compute identically (parity cannot catch it).  Fix: loud
   ValueError guard + fixture-completeness pin at all three SFs.
3. power_iteration_pc1_float had no empty-table guard (n=0 divides by
   zero in the covariance and poisons the injected CAST({n} AS DOUBLE)
   SQL).  Fix: descriptive ValueError before any arithmetic.
4. bench.py's artifact-write gate used object identity
   (`names is HEADLINE`); a refactor that copies the list would
   silently stop persisting BENCH_LOCAL_r*.json.  Fix: explicit
   is_subset flag; pinned textually.
5. haar_wavelet_daily guarded its 16-day span with a bare assert
   (vanishes under python -O) and the oracle has no guard at all.
   Fix: ValueError + fixture-span pin.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from k_means_hadoop_spark.operators import stats_extra
from k_means_hadoop_spark.operators.pca import power_iteration_pc1_float
from k_means_hadoop_spark.operators.stats_extra import friedman_event_dow
from k_means_hadoop_spark.operators.trends import _HAAR_N, haar_wavelet_daily
from tests.helpers import SF_DIRS, write_events


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_holm_docstring_states_actual_alpha():
    """ADVICE 1: the docstring must state the alpha the code uses."""
    doc = stats_extra.holm_bonferroni_nation_acctbal.__doc__
    alpha = stats_extra._HOLM_A_NUM / stats_extra._HOLM_A_DEN
    assert f"{alpha}" in doc, "docstring no longer states the code's alpha"
    assert "0.05" not in doc.split("unreachable")[0].split("(see")[0], (
        "docstring still claims the unreachable 0.05 as the operating alpha"
    )


def test_friedman_incomplete_blocks_raise(spark, tmp_path):
    """ADVICE 2: a fixture with a missing (block, treatment) cell must
    raise, not silently rank over the present treatments only."""
    # block b=0 (2024-01-01) has types A and B; block b=1 (2024-01-02)
    # has only A -> 3 cells for 2 blocks x 2 treatments
    d = write_events(
        tmp_path,
        [
            ("2024-01-01 01:00:00", "A"),
            ("2024-01-01 02:00:00", "B"),
            ("2024-01-02 01:00:00", "A"),
        ],
    )
    # round 10: the guard moved in-plan (raise_error on q_stat) so
    # building runs no Spark job; it fires at action time
    with pytest.raises(Exception, match="incomplete blocks"):
        friedman_event_dow(spark, d).first()


def test_friedman_fixture_blocks_complete():
    """The shipped fixtures satisfy the complete-blocks assumption at
    every SF (mirrors test_events_daily_series_gapless)."""
    con = duckdb.connect()
    for d in SF_DIRS:
        n_cells, nb, kt = con.execute(
            f"""SELECT count(*),
                       count(DISTINCT b), count(DISTINCT t)
                FROM (SELECT (ts::DATE - DATE '2024-01-01') % 7 AS b,
                             event_type AS t, count(*)
                      FROM '{d}/events.parquet' GROUP BY 1, 2)"""
        ).fetchone()
        assert n_cells == nb * kt, f"{d}: {n_cells} cells for {nb}x{kt}"


def test_power_iteration_float_empty_guard(spark, tmp_path):
    """ADVICE 3: an empty embeddings table raises a descriptive error
    instead of a divide-by-zero / NaN cascade."""
    pd.DataFrame(
        {"vec_id": pd.Series([], dtype="int64"),
         "embedding": pd.Series([], dtype="object"),
         "label": pd.Series([], dtype="int32")}
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    with pytest.raises(ValueError, match="empty"):
        power_iteration_pc1_float(spark, str(tmp_path))


def test_bench_gate_is_explicit_flag():
    """ADVICE 4: the artifact-write gate must be the explicit
    is_subset flag, never object identity on the query list."""
    with open(os.path.join(_REPO, "bench.py")) as f:
        src = f.read()
    assert "names is HEADLINE" not in src
    assert "is_subset" in src
    # and the stdout line must stay unclippable: no per-query map on it
    line_block = src.split("line = {", 1)[1].split("}", 1)[0]
    assert '"queries"' not in line_block, (
        "the stdout line carries the per-query map again — the driver "
        "pipe clipped it in r04/r06/r07"
    )


def test_haar_short_span_raises_valueerror(spark, tmp_path):
    """ADVICE 5: a fixture with fewer than _HAAR_N usable days must
    raise ValueError (assert would vanish under python -O)."""
    d = write_events(
        tmp_path,
        [(f"2024-01-0{i} 01:00:00", "A") for i in range(1, 5)],
    )
    with pytest.raises(ValueError, match="day span"):
        haar_wavelet_daily(spark, d)


def test_haar_fixture_span():
    """The shipped fixtures provide >= _HAAR_N distinct event days."""
    con = duckdb.connect()
    for d in SF_DIRS:
        (n_days,) = con.execute(
            f"SELECT count(DISTINCT ts::DATE) FROM '{d}/events.parquet'"
        ).fetchone()
        assert n_days >= _HAAR_N, f"{d}: only {n_days} distinct days"
