"""Tests of the benchmark itself:  python3 -m pytest perfbench -q"""

from __future__ import annotations

import copy
import hashlib
import os
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for name in names:
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_gives_identical_input_bytes(tmp_path, workload):
    a, meta_a, oracle_a = inputs.prepare(workload, 7, 8, str(tmp_path / "a"))
    b, meta_b, oracle_b = inputs.prepare(workload, 7, 8, str(tmp_path / "b"))
    c, _, _ = inputs.prepare(workload, 8, 8, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert (meta_a, oracle_a) == (meta_b, oracle_b)
    assert _digest(a) != _digest(c)
    # a second call with the same key is served from the cache
    again = inputs.prepare(workload, 7, 8, str(tmp_path / "a"))
    assert again == (a, meta_a, oracle_a)


@pytest.fixture(scope="module")
def oracles(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("oracles"))
    return {w: inputs.prepare(w, 3, 8, root) for w in inputs.GENERATORS}


def _as_output(workload: str, data: str, oracle: dict, tmp_path) -> dict:
    """The op output an exactly correct program would return."""
    if workload == "lloyd_fit":
        sink = tmp_path / "sink"
        sink.mkdir()
        with open(sink / "part-00000", "w") as f:
            for pid, cluster in enumerate(oracle["assign"]):
                f.write(f"{pid}\t{cluster}\t0.5\t1.5\n")
        return {"iterations": oracle["iterations"], "centroids": oracle["centroids"], "sink": str(sink)}
    if workload == "lloyd_reference":
        return {name: {"iterations": o["iterations"], "converged": True, "centroids": o["centroids"]}
                for name, o in oracle.items()}
    return {"verdicts": oracle["verdicts"]}


def _perturbations(workload: str, got: dict):
    if workload == "lloyd_fit":
        g = copy.deepcopy(got)
        g["centroids"][0][1][0] += 1e-6
        yield g
        g = copy.deepcopy(got)
        g["iterations"] -= 1
        yield g
        g = copy.deepcopy(got)
        path = os.path.join(g["sink"], "part-00000")
        with open(path) as f:
            lines = f.readlines()
        pid, cluster, rest = lines[5].split("\t", 2)
        lines[5] = f"{pid}\t{int(cluster) % 8 + 1}\t{rest}"
        with open(os.path.join(g["sink"], "part-00001"), "w") as f:
            f.writelines(lines[5:6])
        yield g
    elif workload == "lloyd_reference":
        g = copy.deepcopy(got)
        g["cho"]["centroids"][-1][1][-1] *= 1 + 1e-7
        yield g
        g = copy.deepcopy(got)
        g["iyer"]["iterations"] += 1
        yield g
        g = copy.deepcopy(got)
        g["iris"]["centroids"].pop()
        yield g
    else:
        g = copy.deepcopy(got)
        g["verdicts"][0][1] = "near_dup" if g["verdicts"][0][1] != "near_dup" else "new"
        yield g
        g = copy.deepcopy(got)
        g["verdicts"].pop()
        yield g


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_perturbed_result_fails_check(oracles, tmp_path, workload):
    data, _meta, oracle = oracles[workload]
    check = workloads.WORKLOADS[workload].check
    got = _as_output(workload, data, oracle, tmp_path)
    assert check(got, oracle) is None
    for bad in _perturbations(workload, got):
        assert check(bad, oracle) is not None


def test_ingest_oracle_plants_every_verdict(oracles):
    statuses = {s for _, s in oracles["ingest_store"][2]["verdicts"]}
    assert statuses == {"exact_dup", "near_dup", "new"}


def test_numpy_lloyd_breaks_ties_to_lowest_id_and_drops_empty_clusters():
    import numpy as np

    # x=1 is equidistant from clusters 1 and 2, whatever the dict order
    x = np.array([[0.0], [1.0], [2.0], [10.0]])
    assert inputs._assign(x, {2: np.array([2.0]), 1: np.array([0.0])}).tolist() == [1, 1, 2, 2]
    # seeds 1 and 2 coincide: cluster 3 never wins a point and vanishes
    x = np.array([[0.0], [2.0], [2.0], [10.0]])
    cents, iters, _, converged = inputs.numpy_lloyd(x, [0, 1, 2], max_iter=1)
    assert sorted(cents) == [1, 2] and iters == 1 and not converged


def test_tail_keeps_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    values = [float(i) for i in range(20)]
    v, pct = run.tail(values)
    assert v == 9.0 and sum(x > v for x in values) == 10 and pct == 50.0


def test_covered_ms_merges_overlaps_and_clips():
    assert layers.covered_ms([(0, 10), (5, 20), (30, 40), (45, 100)], 2, 50) == 18 + 10 + 5


def test_reducer_attributes_a_two_stage_query(tmp_path, monkeypatch):
    """A tagged groupBy (map stage + reduce stage) inside an op window, an
    untagged job from another thread inside the window, and a tagged-away
    job outside it: only the first two belong to the op."""
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    knobs = run.configure(True, str(tmp_path / "state"))
    from pyspark.sql import functions as F

    from k_means_hadoop_spark.session import get_spark

    spark = get_spark("perfbench-test")
    try:
        sc = spark.sparkContext
        sc.setJobGroup("other:0", "outside")
        spark.range(0, 100, 1, 2).count()
        sc.setJobGroup("t:0", "op")
        t0 = time.time()
        rows = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        th = threading.Thread(target=lambda: spark.range(0, 10, 1, 3).collect())
        th.start()
        th.join(60)
        assert not th.is_alive()
        t1 = time.time()
        assert len(rows) == 7
    finally:
        run.shutdown_jvm()
    log = layers.read_event_log(knobs["event_log"])
    per_op = layers.attribute(log, [{"group": "t:0", "t0": t0, "t1": t1}])["t:0"]
    groups = [j["group"] for j in log["jobs"].values()]
    assert None in groups  # the thread's job carried no group
    # groupBy under AQE: a map-stage job (4 tasks) and a result job whose
    # reduce stage is coalesced to one task; plus the thread's 3-task job
    assert (per_op["jobs"], per_op["stages"], per_op["tasks"]) == (3, 3, 8)
    assert per_op["shuffle_write"] > 0 and per_op["shuffle_read"] == per_op["shuffle_write"]
    assert per_op["run_ms"] >= 0 and per_op["cpu_ns"] > 0
