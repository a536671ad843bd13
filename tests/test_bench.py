"""bench.py's headline set and its comparison against the prior record."""

from __future__ import annotations

import json

import bench
from k_means_hadoop_spark import registry


def test_headline_unique_and_registered():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert not [n for n in bench.HEADLINE if n not in registry.QUERIES]


def test_compare_with_prior_uses_newest_earlier_record(tmp_path):
    def record(name, queries, contaminated=False):
        body = {"queries": queries, "contaminated": contaminated}
        (tmp_path / name).write_text(json.dumps(body))

    record("BENCH_LOCAL_r03.json", {"a": 9.0, "b": 9.0})
    record("BENCH_LOCAL_r05.json", {"a": 2.0, "c": 4.0, "gone": 1.0}, True)
    record("BENCH_LOCAL_r05_draft.json", {"a": 1.0})
    record("BENCH_LOCAL_r07.json", {"a": 1.0, "b": 1.0})  # this round's own
    timings = {"a": 1.5, "b": 0.5, "c": 3.0}
    assert bench.compare_with_prior(str(tmp_path), 7, timings) == {
        "record": "BENCH_LOCAL_r05.json",
        "n_queries": 2,
        "this_run": 4.5,
        "prior_run": 6.0,
        "prior_contaminated": True,
    }
    assert bench.compare_with_prior(str(tmp_path), 3, timings) is None
    (tmp_path / "BENCH_LOCAL_r06.json").write_text("{clipped")
    assert bench.compare_with_prior(str(tmp_path), 7, timings) is None
