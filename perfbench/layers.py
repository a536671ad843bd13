"""Layer trace: spans recorded around package calls, and a stdlib reducer
for Spark's JSON event log.

Spans are (layer, name, start, end) in epoch seconds, kept in memory.  The
benchmark opens spans around the calls it makes itself, and ``Tracer.wrap``
replaces a module-level function, in the module whose globals the caller
resolves it from, with a timing wrapper.  The event log carries the
executor side: jobs, stages and tasks with their metrics, stamped with the
job group that names the op (``<workload>:<op#>``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import statistics
import time

# ------------------------------------------------------------------ spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, str, float, float]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, name, t0, time.time()))

    def wrap(self, module, attr: str, layer: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(layer, attr):
                return fn(*args, **kwargs)

        setattr(module, attr, timed)

    def within(self, t0: float, t1: float, layer: str | None = None, name: str | None = None):
        return [
            s for s in self.spans
            if s[2] >= t0 and s[3] <= t1
            and (layer is None or s[0] == layer) and (name is None or s[1] == name)
        ]


# ------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from every uncompressed, non-rolling event
    log file under ``log_dir``.  Times are epoch milliseconds."""
    jobs: dict = {}
    stages: dict = {}
    tasks: list = []
    for i, path in enumerate(sorted(glob.glob(f"{log_dir}/*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[(i, ev["Job ID"])] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"],
                        "end": None,
                        "stages": [(i, s) for s in ev["Stage IDs"]],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[(i, ev["Job ID"])]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (i, info["Stage ID"], info["Stage Attempt ID"])
                    stages[key] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": info.get("Submission Time"),
                        "end": None,
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (i, info["Stage ID"], info["Stage Attempt ID"])
                    stages.setdefault(key, {"group": None, "start": info.get("Submission Time")})
                    stages[key]["end"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": (i, ev["Stage ID"], ev["Stage Attempt ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def attribute(log: dict, ops: list[dict]) -> dict[str, dict]:
    """Per-op executor totals.  A job or stage belongs to the op whose job
    group it carries; one without a group (submitted from a thread that
    did not inherit the group) belongs to the op whose wall interval holds
    its start.  ``ops`` items carry ``group``, ``t0`` and ``t1`` (epoch s)."""

    def owner(group, start_ms):
        if group is not None:
            return group if group in by_group else None
        for op in ops:
            if start_ms is not None and op["t0"] * 1000 - 1 <= start_ms <= op["t1"] * 1000 + 1:
                return op["group"]
        return None

    by_group = {op["group"]: op for op in ops}
    out = {
        g: {"jobs": [], "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "input_bytes": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "job_list": []}
        for g in by_group
    }
    for job in log["jobs"].values():
        g = owner(job["group"], job["start"])
        if g is not None:
            out[g]["job_list"].append(job)
    stage_owner = {}
    for key, st in log["stages"].items():
        g = owner(st["group"], st["start"])
        stage_owner[key] = g
        if g is not None and st.get("end") is not None:
            out[g]["stages"] += 1
    for t in log["tasks"]:
        g = stage_owner.get(t["stage"])
        if g is None:
            continue
        acc = out[g]
        acc["tasks"] += 1
        for k in ("run_ms", "cpu_ns", "gc_ms", "input_bytes", "shuffle_read", "shuffle_write", "spill"):
            acc[k] += t[k]
    for g, acc in out.items():
        acc["jobs"] = len(acc["job_list"])
    return out


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def stage_shuffle_write_in(log: dict, spans: list[tuple]) -> int:
    """Shuffle bytes written by stages of jobs submitted inside ``spans``."""
    stage_keys = set()
    for job in log["jobs"].values():
        if any(s[2] * 1000 - 1 <= job["start"] <= s[3] * 1000 + 1 for s in spans):
            stage_keys.update(job["stages"])
    return sum(t["shuffle_write"] for t in log["tasks"] if t["stage"][:2] in stage_keys)


def layer_table(tracer: Tracer, log: dict, ops: list[dict], cores: int, setup_samples: list[float]) -> dict:
    """The per-layer metrics: per-op values, reduced to medians over ``ops``."""
    per_op = attribute(log, ops)
    rows = []
    for op in ops:
        t0, t1 = op["t0"], op["t1"]
        wall = t1 - t0
        ex = per_op[op["group"]]
        lloyd = tracer.within(t0, t1, "kmeans", "lloyd_kmeans")
        assigns = tracer.within(t0, t1, "assign", "assign_expr")
        recs = tracer.within(t0, t1, "recompute", "recompute_centroids")
        iter_s, collect_s = [], 0.0
        for ls in lloyd:
            starts = sorted(s[2] for s in assigns if ls[2] <= s[2] <= ls[3])
            iter_s += [b - a for a, b in zip(starts, starts[1:])]
            for r in (s for s in recs if ls[2] <= s[2] <= ls[3]):
                nxt = min((a for a in starts if a >= r[3]), default=ls[3])
                collect_s += nxt - r[3]
        jobs_iv = [(j["start"], j["end"] or t1 * 1000) for j in ex["job_list"]]
        store = tracer.within(t0, t1, "dedup", "build_signature_store")
        probe = tracer.within(t0, t1, "dedup", "incremental_dedup_from_store")
        rows.append({
            "sources.read_s": sum(s[3] - s[2] for s in tracer.within(t0, t1, "sources")),
            "sources.input_bytes": ex["input_bytes"],
            "kmeans.iterations": len(iter_s),
            "kmeans.init_s": sum(s[3] - s[2] for s in tracer.within(t0, t1, "kmeans", "init_ids")),
            "kmeans.iter_s.p50": statistics.median(iter_s) if iter_s else 0.0,
            "kmeans.driver_gap_s": wall - covered_ms(jobs_iv, t0 * 1000, t1 * 1000) / 1000,
            "kmeans.jobs": ex["jobs"],
            "kmeans.stages": ex["stages"],
            "kmeans.tasks": ex["tasks"],
            "assign.build_s": sum(s[3] - s[2] for s in assigns),
            "assign.calls": len(assigns),
            "recompute.collect_s": collect_s,
            "recompute.shuffle_write_bytes": stage_shuffle_write_in(log, lloyd),
            "executor.run_s": ex["run_ms"] / 1000,
            "executor.cpu_s": ex["cpu_ns"] / 1e9,
            "executor.gc_s": ex["gc_ms"] / 1000,
            "executor.utilization": ex["run_ms"] / 1000 / (wall * cores),
            "executor.shuffle_read_bytes": ex["shuffle_read"],
            "executor.shuffle_write_bytes": ex["shuffle_write"],
            "executor.spill_bytes": ex["spill"],
            "dedup.store_write_s": sum(s[3] - s[2] for s in store),
            "dedup.probe_s": sum(t1 - s[2] for s in probe),
            "dedup.store_bytes_per_input_byte": op.get("store_bytes_per_input_byte", 0.0),
            "dedup.verdicts_exact": op.get("verdicts", {}).get("exact_dup", 0),
            "dedup.verdicts_near": op.get("verdicts", {}).get("near_dup", 0),
            "dedup.verdicts_new": op.get("verdicts", {}).get("new", 0),
        })
    table = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    table["session.get_spark_s"] = statistics.median(setup_samples)
    return table
