"""Registry-wide unpartitioned-window audit, pinned (round-9 verdict
item 3).

tests/test_plans.py::test_headline_no_unbounded_global_windows sweeps
the HEADLINE set every run; this opt-in sweep runs the same pinned
detector over ALL registry queries and asserts the flag set equals the
documented bounded-grain allowlist EXACTLY — both directions, the same
honest-allowlist discipline: a new unbounded-window operator fails it,
and an allowlist entry whose window disappeared fails it too (stale
exemption).

Opt-in because building every registry query takes minutes (prefix_sum
queries execute their documented build-time checkpoint jobs):

    SPARK_GRAFT_SLOW=1 python -m pytest tests/test_registry_window_audit.py

The round-close checklist runs it (or tools/audit_global_windows.py,
the same detector) after any new operator lands.
"""

from __future__ import annotations

import os

import pytest

from k_means_hadoop_spark import registry
from test_plans import _unbounded_global_windows

# Every flagged window is GRAIN-BOUNDED: its input cardinality is fixed
# by a calendar, a dimension, or a k/bucket constant — it does not grow
# with the corpus, so the single-task sort is a constant-size no-op at
# any scale.  Grain noted per name; audited 2026-08-16 (round 10).
# Round 13 (verdict item 4) removed three entries by rewriting their
# windows away: acf_daily_events (lag pairing now joins on calendar
# arithmetic), interpolate_daily_purchases (neighbor lookup now two
# max_by/min_by joins), page_trend_event_dow (treatment rank now a
# k×k pair sum).
_BOUNDED_GRAIN_ALLOWLIST = {
    # day-grain daily series (rows = distinct days)
    "cusum_changepoints",
    "kendall_tau_daily",
    "ljung_box_daily",
    "mann_kendall_daily",
    "permutation_entropy_daily",
    "runs_test_daily",
    "seasonal_decompose_weekly",
    "theil_sen_daily_trend",
    "wilcoxon_clicks_views",
    "kaplan_meier_retention",
    # month-grain series
    "mom_revenue_change",
    # nation-grain (25-row dimension)
    "bh_fdr_nation_acctbal",
    "holm_bonferroni_nation_acctbal",
    "skew_report_orders",
    # <= 64 log2 buckets
    "log2_histogram_values",
    "streaming_log2_histogram",
    # decile-grain (10 rows)
    "lorenz_spend_deciles",
    # p_size domain (50 distinct values)
    "pareto_front_parts",
    # k-grain: sources / seeds / centroids
    "dataset_mixture_plan",
    "i2_init_seeds",
    "j1_assign_join",
    # fixed curve-cell grid
    "hilbert_vs_zorder_locality",
}


@pytest.mark.slow
@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SLOW"),
    reason="full-registry build sweep (minutes): set SPARK_GRAFT_SLOW=1",
)
def test_registry_no_undocumented_global_windows(spark, sf_dir):
    flagged, errors = {}, {}
    for name in registry.QUERIES:
        try:
            w = _unbounded_global_windows(
                registry.QUERIES[name](spark, sf_dir)
            )
            if w:
                flagged[name] = w
        except Exception as exc:  # build error = audit hole, fail loud
            errors[name] = repr(exc)
    assert not errors, f"queries failed to BUILD during the audit: {errors}"
    offenders = {
        n: w for n, w in flagged.items() if n not in _BOUNDED_GRAIN_ALLOWLIST
    }
    assert not offenders, (
        "unpartitioned Window over non-limit-bounded input outside the "
        f"documented bounded-grain allowlist: {offenders}"
    )
    stale = _BOUNDED_GRAIN_ALLOWLIST - set(flagged)
    assert not stale, (
        f"allowlist entries without a global window (remove them): {stale}"
    )
