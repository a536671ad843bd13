"""bench.py's headline set and its comparison against the prior record."""

from __future__ import annotations

import json
from types import SimpleNamespace

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


def test_contaminated_run_keeps_quiet_record(tmp_path, monkeypatch, capsys):
    """A loaded full run must not overwrite the quiet record of its own
    round, and its contract line then names no full record."""
    quiet = {"queries": {"a": 1.0}, "contaminated": False}
    (tmp_path / "BENCH_r04.json").write_text("{}")
    record = tmp_path / "BENCH_LOCAL_r05.json"
    record.write_text(json.dumps(quiet))

    spark = SimpleNamespace(read=SimpleNamespace(parquet=lambda p: SimpleNamespace(count=lambda: 0)))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "HEADLINE", ["a", "b"])
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setattr(bench, "run_query", lambda spark, name, sf_dir: 2.0)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (5.0, 5.0, 5.0))
    monkeypatch.setattr(bench.sys, "argv", ["bench.py"])
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    contract = json.loads(lines[-1])
    assert contract["contaminated"] is True and "full_record" not in contract
    assert json.loads(lines[0])["queries"] == {"a": 2.0, "b": 2.0}
    assert json.loads(record.read_text()) == quiet

    # a quiet run replaces whatever is there, and a contaminated run may
    # replace a contaminated record
    assert bench.write_full_record(str(record), {"contaminated": True, "v": 1}) is False
    assert bench.write_full_record(str(record), {"contaminated": False, "v": 2}) is True
    assert bench.write_full_record(str(record), {"contaminated": True, "v": 3}) is False
    record.write_text(json.dumps({"contaminated": True}))
    assert bench.write_full_record(str(record), {"contaminated": True, "v": 4}) is True
    assert json.loads(record.read_text())["v"] == 4
