"""The three workloads: one op each, driven through the package's public
functions, and the check that compares an op's output with the oracle.

Why these three (each stresses a different layer):

- ``lloyd_fit``: executor distance work (n*k*d) and the driver loop each
  take about half an op on 4 cores, so assignment-kernel, pruning and
  partition-balance changes show here, and so do driver-loop cuts.  Points
  are written as 2 x cores parquet files so every core gets splits.
- ``lloyd_reference``: executor work is tiny, so per-iteration planning,
  job launch and the centroid collect dominate; driver-loop cuts show here
  and kernel cuts do not.
- ``ingest_store``: writes beside reads, and a shuffle join path Lloyd
  never touches (the stored-signature incremental dedup).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from inputs import BATCH_MOD, BATCH_REM, REF_SHAPES, dir_stats
from k_means_hadoop_spark import registry_pipeline as rp
from k_means_hadoop_spark.operators import dedup
from k_means_hadoop_spark.operators.kmeans import init_ids, lloyd_kmeans
from k_means_hadoop_spark.partitioning import fan_out
from k_means_hadoop_spark.sources.points import points_from_embeddings
from k_means_hadoop_spark.sources.sinks import write_final_output

# Centroids are compared with this relative tolerance: the package averages
# in partition order and numpy pairwise, so the last bits may differ.
CENTROID_RTOL = 1e-9


@dataclass
class Ctx:
    spark: object
    data: str  # input dir
    work: str  # dir for op outputs, removed after the run
    meta: dict
    tracer: object  # Tracer; spans are no-ops when tracing is off


@dataclass
class Workload:
    name: str
    op: Callable[[Ctx], dict]
    check: Callable[[dict, dict], str | None]
    # per-op values for the layer table that only the op's output holds
    extras: Callable[[dict], dict] | None = None


def _centroid_diff(got: list, want: list) -> str | None:
    got_d = {int(c): list(v) for c, v in got}
    want_d = {int(c): v for c, v in want}
    if got_d.keys() != want_d.keys():
        return f"cluster ids {sorted(got_d)} != {sorted(want_d)}"
    for cid, vec in want_d.items():
        for a, b in zip(got_d[cid], vec, strict=True):
            if abs(a - b) > CENTROID_RTOL * max(1.0, abs(b)):
                return f"cluster {cid}: {a!r} != {b!r}"
    return None


# ------------------------------------------------------------- lloyd_fit


def lloyd_fit_op(ctx: Ctx) -> dict:
    tr = ctx.tracer
    with tr.span("sources", "points_from_embeddings"):
        pts = points_from_embeddings(ctx.spark, ctx.data)
    with tr.span("kmeans", "init_ids"):
        init = init_ids(pts, ctx.meta["seed_ids"])
    with tr.span("kmeans", "lloyd_kmeans"):
        res = lloyd_kmeans(pts, init, max_iter=5)
    out = os.path.join(ctx.work, "final_output")
    write_final_output(res.assignments, out)
    return {"iterations": res.iterations, "centroids": res.centroids, "sink": out}


def lloyd_fit_check(got: dict, oracle: dict) -> str | None:
    if got["iterations"] != oracle["iterations"]:
        return f"iterations {got['iterations']} != {oracle['iterations']}"
    bad = _centroid_diff(got["centroids"], oracle["centroids"])
    if bad:
        return bad
    want = oracle["assign"]
    seen = [None] * len(want)
    for path in glob.glob(os.path.join(got["sink"], "part-*")):
        with open(path) as f:
            for line in f:
                pid, cluster, _ = line.split("\t", 2)
                seen[int(pid)] = int(cluster)
    if seen != want:
        n_bad = sum(a != b for a, b in zip(seen, want))
        return f"sink: {n_bad} of {len(want)} points missing or in another cluster"
    return None


# -------------------------------------------------------- lloyd_reference


def lloyd_reference_op(ctx: Ctx) -> dict:
    tr = ctx.tracer
    out = {}
    for shape in ctx.meta["shapes"]:
        with tr.span("sources", "points_from_embeddings"):
            pts = points_from_embeddings(ctx.spark, os.path.join(ctx.data, shape["name"]))
        with tr.span("kmeans", "init_ids"):
            init = init_ids(pts, shape["seed_ids"])
        with tr.span("kmeans", "lloyd_kmeans"):
            res = lloyd_kmeans(pts, init, max_iter=-1, tol=0.0)
        out[shape["name"]] = {"iterations": res.iterations, "converged": res.converged,
                              "centroids": res.centroids}
    return out


def lloyd_reference_check(got: dict, oracle: dict) -> str | None:
    for name, *_ in REF_SHAPES:
        g, w = got[name], oracle[name]
        if not g["converged"] or g["iterations"] != w["iterations"]:
            return f"{name}: iterations {g['iterations']} (converged={g['converged']}) != {w['iterations']}"
        bad = _centroid_diff(g["centroids"], w["centroids"])
        if bad:
            return f"{name}: {bad}"
    return None


# ----------------------------------------------------------- ingest_store


def ingest_store_op(ctx: Ctx) -> dict:
    tr = ctx.tracer
    path = os.path.join(ctx.data, "documents.parquet")
    store = os.path.join(ctx.work, "signature_store")
    with tr.span("sources", "read_documents"):
        # the registry's read path for the single-row-group documents table
        docs = fan_out(ctx.spark.read.parquet(path))
    verdicts = dedup.incremental_dedup_stored(
        docs, F.col("doc_id") % BATCH_MOD == BATCH_REM, store,
        n=rp.NGRAM_N, threshold=rp.NGRAM_THRESHOLD,
    ).collect()
    return {"verdicts": sorted([int(r["doc_id"]), r["status"]] for r in verdicts),
            "store": store, "input": path}


def ingest_store_check(got: dict, oracle: dict) -> str | None:
    if got["verdicts"] != oracle["verdicts"]:
        want = {d: s for d, s in oracle["verdicts"]}
        have = {d: s for d, s in got["verdicts"]}
        diff = sorted(d for d in want.keys() | have.keys() if want.get(d) != have.get(d))
        return f"{len(diff)} verdicts differ, first doc_ids {diff[:5]}"
    return None


def ingest_store_extras(got: dict) -> dict:
    counts: dict[str, int] = {}
    for _, status in got["verdicts"]:
        counts[status] = counts.get(status, 0) + 1
    store_bytes, _ = dir_stats(got["store"])
    return {"verdicts": counts,
            "store_bytes_per_input_byte": store_bytes / os.path.getsize(got["input"])}


WORKLOADS = {
    w.name: w
    for w in (
        Workload("lloyd_fit", lloyd_fit_op, lloyd_fit_check),
        Workload("lloyd_reference", lloyd_reference_op, lloyd_reference_check),
        Workload("ingest_store", ingest_store_op, ingest_store_check, ingest_store_extras),
    )
}
