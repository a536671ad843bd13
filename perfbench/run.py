"""Benchmark for the Lloyd loop and the stored-ingest path.

    python3 perfbench/run.py --workload lloyd_fit --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One run: generate the seeded inputs (or
reuse them), start Spark, run one cold op, a fixed number of warm ops, and
about ``--seconds`` worth of measured ops, checking every op against the
oracle.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs with
Spark's event log and the layer wrappers on and prints the per-layer
table.  The last stdout line is the result object; the line before it
holds the run's context (input sizes, pinned knobs, load stamp, every op's
wall time).  Everything the run writes goes under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Ops run in a fixed sequence: one cold op, WARM_OPS warm ops, then the
# measured ops.  Counts rather than time windows, so both sides of a
# comparison measure the same op indices: the JIT is still warming when the
# measured ops run, and a time window would hand a faster program later,
# warmer ops.  --seconds buys one measured op per NOMINAL_OP_S.
WARM_OPS = 3
NOMINAL_OP_S = 3.0
MIN_MEASURED_OPS = 2
SETUP_SAMPLES = 3  # session set-ups per run; setup_s is their median
DEADLINE_S = 170
MAX_CPUS = 4  # Spark task threads: at most nproc, and the same on any box
MAX_DRIVER_MEM_MB = 1024


class Deadline(BaseException):
    pass


class NullTracer:
    def span(self, layer, name):
        return contextlib.nullcontext()


# --------------------------------------------------------------- /proc


def jvm_thread_cpu_s(pid: int) -> dict[int, float]:
    """CPU seconds per JVM thread, leaving out the JIT compiler threads:
    their work is warm-up (it shows in ``cold_op_s``), and the JVM starts
    and retires them at will, which would make per-op deltas jump."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread ended
            continue
        name, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            continue
        fields = rest.split()
        out[int(tid)] = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return out


def op_cpu_delta(before: dict, after: dict) -> float:
    return sum(v - before.get(tid, 0.0) for tid, v in after.items())


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def proc_field_kb(path: str, key: str) -> int:
    """A ``key: <n> kB`` line of a /proc file such as ``status`` or ``meminfo``."""
    with open(path) as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(f"{key} not in {path}")


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


# ---------------------------------------------------------------- stats


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are eleven samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# ----------------------------------------------------------------- run


def configure(trace: bool, state: str) -> dict:
    """Pin the package's env knobs and keep every file Spark, the JVM and
    Python write inside ``state``."""
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    mem_mb = min(MAX_DRIVER_MEM_MB, proc_field_kb("/proc/meminfo", "MemTotal") // 4096)
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        # -Xms at the pinned driver memory: without it the JVM's peak RSS
        # follows G1's heap-resize timing and spread 15-20% run to run.
        "--driver-java-options", f'"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem_mb}m"',
        "--conf", f"spark.sql.warehouse.dir={os.path.join(state, 'warehouse')}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(state, f"eventlog-{os.getpid()}")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return {"cpus": cpus, "event_log": log_dir}


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, run_dirs: list[str]) -> tuple[dict, dict]:
    """One benchmark run; appends the per-run dirs it creates to ``run_dirs``."""
    marks = {"start": time.perf_counter()}
    import inputs
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    state = os.path.join(ROOT, ".perfbench")
    knobs = configure(bool(args.trace), state)
    work = os.path.join(state, "work", str(os.getpid()))
    run_dirs.append(work)
    if knobs["event_log"]:
        run_dirs.append(knobs["event_log"])
    os.makedirs(work)

    # Generation and the oracle run in a child process while the JVM starts:
    # outside every metric, and outside this process's peak RSS.
    key = (args.workload, args.seed, 2 * knobs["cpus"], os.path.join(state, "inputs"))
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "inputs.py"), *map(str, key)])
    try:
        stat0, load0 = cpu_times(), loadavg()
        from k_means_hadoop_spark.session import get_spark

        spark = get_spark("perfbench")
        marks["spark"] = time.perf_counter()
        if gen.wait() != 0:
            raise RuntimeError(f"input generation exited with {gen.returncode}")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    marks["inputs"] = time.perf_counter()
    data, meta, oracle = inputs.prepare(*key)  # served from the cache

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    tracer = NullTracer()
    if args.trace:
        import layers

        from k_means_hadoop_spark.operators import dedup, kmeans

        tracer = layers.Tracer()
        tracer.wrap(kmeans, "assign_expr", "assign")
        tracer.wrap(kmeans, "recompute_centroids", "recompute")
        tracer.wrap(dedup, "build_signature_store", "dedup")
        tracer.wrap(dedup, "incremental_dedup_from_store", "dedup")
    ctx = workloads.Ctx(spark=spark, data=data, work=work, meta=meta, tracer=tracer)

    ops: list[dict] = []

    def one_op(phase: str) -> None:
        group = f"{args.workload}:{len(ops)}"
        spark.sparkContext.setJobGroup(group, phase)
        jvm0, py0 = jvm_thread_cpu_s(jvm_pid), self_cpu_s()
        t0 = time.time()
        p0 = time.perf_counter()
        err = got = None
        try:
            got = wl.op(ctx)
        except Exception as e:
            err = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - p0
        t1 = time.time()
        cpu = op_cpu_delta(jvm0, jvm_thread_cpu_s(jvm_pid)) + self_cpu_s() - py0
        if err is None:
            try:
                err = wl.check(got, oracle)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
        op = {"group": group, "phase": phase, "wall": wall, "cpu": cpu, "t0": t0, "t1": t1, "err": err}
        if args.trace and err is None and wl.extras:
            op.update(wl.extras(got))
        ops.append(op)

    one_op("cold")
    marks["cold"] = time.perf_counter()
    for _ in range(WARM_OPS):
        one_op("warm")
    for _ in range(max(MIN_MEASURED_OPS, round(args.seconds / NOMINAL_OP_S))):
        one_op("measure")
    rss_mb = (proc_field_kb(f"/proc/{jvm_pid}/status", "VmHWM")
              + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    marks["measure"] = time.perf_counter()
    setup = []
    for _ in range(SETUP_SAMPLES):
        spark.stop()
        p0 = time.perf_counter()
        spark = get_spark("perfbench")
        setup.append(time.perf_counter() - p0)
    marks["setup"] = time.perf_counter()
    shutdown_jvm()
    marks["shutdown"] = time.perf_counter()
    stat1, load1 = cpu_times(), loadavg()

    measured = [op for op in ops if op["phase"] == "measure"]
    walls = [op["wall"] for op in measured]
    failed = sum(op["err"] is not None for op in ops)
    p50 = statistics.median(walls)
    tail_v, tail_pct = tail(walls)
    d_stat = [b - a for a, b in zip(stat0, stat1)]
    half = len(walls) // 2
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": {k: meta[k] for k in ("rows", "dims", "bytes", "files")},
        "knobs": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "stamp": {
            "loadavg_before": load0, "loadavg_after": load1,
            "steal_share": d_stat[7] / max(1, sum(d_stat)),
            # measured ops in the second half vs the first: < 1 means still warming
            "warm_trend": (statistics.median(walls[half:]) / statistics.median(walls[:half])
                           if half else 1.0),
        },
        "samples": len(walls), "tail_percentile": tail_pct,
        "ops": [{k: op[k] for k in ("phase", "wall", "cpu", "err")} for op in ops],
        "setup_samples_s": setup,
        # wall seconds from the previous mark to each named one
        "phases_s": {b: marks[b] - marks[a] for a, b in zip(marks, list(marks)[1:])},
    }
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    if args.trace:
        import layers

        log = layers.read_event_log(knobs["event_log"])
        values = layers.layer_table(tracer, log, measured, knobs["cpus"], setup)
        values["trace.op_s.p50"] = p50
    else:
        values = {
            "op_s.p50": p50,
            "op_s.tail": tail_v,
            "rows_per_s": meta["rows_per_op"] / p50,
            "op_cpu_s": statistics.median(op["cpu"] for op in measured),
            "cold_op_s": ops[0]["wall"],
            "setup_s": statistics.median(setup),
            "ok_ratio": (len(ops) - failed) / len(ops),
            "peak_rss_mb": rss_mb,
        }
    units = metric_units(bool(args.trace))
    if values.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(values)} do not match BENCHMARK.json {sorted(units)}")
    result["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
    return info, result


def metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics this mode must report, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("lloyd_fit", "lloyd_reference", "ingest_store"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "k_means_hadoop_spark", "__init__.py")):
        print(f"perfbench: no k_means_hadoop_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    def on_alarm(signum, frame):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    def on_term(signum, frame):
        raise SystemExit(f"signal {signum}")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, on_term)
    signal.alarm(DEADLINE_S)
    run_dirs: list[str] = []
    try:
        info, result = run(args, run_dirs)
    except BaseException as e:
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        with contextlib.suppress(BaseException):
            shutdown_jvm(timeout=5)
        return 1
    finally:
        signal.alarm(0)
        for path in run_dirs:
            shutil.rmtree(path, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
