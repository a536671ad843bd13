"""Seeded inputs and independent oracles for the benchmark workloads.

Every input is a pure function of (workload, seed, file count): the same
arguments write byte-identical parquet.  Inputs and oracle answers are
cached per key under the cache root, so a repeated seed pays neither
generation nor the oracle again; both happen before any timed span.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# lloyd_fit: Gaussian blobs, k=8, a fixed 5 iterations.  Sized so a warm
# op takes ~2 s on 4 cores (executor distance work n*k*d dominates).
FIT_N, FIT_D, FIT_K, FIT_ITERS = 24_000, 16, 8, 5

# lloyd_reference: the reference repo's three dataset shapes
# (name, rows, dims, k, iterations to convergence).  The generator redraws
# until the numpy Lloyd converges in exactly the stated count, so every seed
# costs the same number of driver round trips.
REF_SHAPES = (
    ("iris", 150, 4, 3, 3),
    ("cho", 386, 16, 5, 3),
    ("iyer", 517, 12, 10, 4),
)

# ingest_store: documents.parquet schema with planted duplicates.
DOCS_N = 1200
DOCS_P_EXACT = 0.08
DOCS_P_NEAR = 0.08
BATCH_MOD, BATCH_REM = 10, 7
WORDS = (
    "a the spark data query table row column key value hash join sort merge "
    "group agg filter scan window stream batch part line order customer vector "
    "fast slow big small index cache shard store probe plan stage task shuffle "
    "spill cluster point"
).split()


# ---------------------------------------------------------------- generators


def _blobs(rng: np.random.Generator, n: int, d: int, k: int, sep: float):
    centers = rng.normal(0.0, sep, size=(k, d))
    label = rng.integers(0, k, size=n)
    x = centers[label] + rng.normal(0.0, 1.0, size=(n, d))
    return x.astype(np.float32), label.astype(np.int64)


def _write_points(path: str, x: np.ndarray, label: np.ndarray, n_files: int) -> None:
    """The package's embeddings schema (vec_id, embedding FLOAT[], label),
    split into ``n_files`` parquet files of one row group each."""
    os.makedirs(path)
    d = x.shape[1]
    for i, idx in enumerate(np.array_split(np.arange(len(x)), n_files)):
        emb = pa.FixedSizeListArray.from_arrays(pa.array(x[idx].ravel()), d)
        table = pa.table(
            {
                "vec_id": pa.array(idx.astype(np.int64)),
                "embedding": emb.cast(pa.list_(pa.float32())),
                "label": pa.array(label[idx]),
            }
        )
        pq.write_table(table, f"{path}/part-{i:03d}.parquet")


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents; a share are exact copies of an earlier
    document and a share are copies with one or two words replaced."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < DOCS_P_EXACT:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < DOCS_P_EXACT + DOCS_P_NEAR:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(1 + int(rng.integers(0, 2))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            m = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=m)))
    return texts


def _write_docs(path: str, texts: list[str]) -> None:
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([("en", "de", "fr", "zh")[i % 4] for i in range(n)]),
            "source": pa.array([f"src{i % 5}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(table, path)


# ------------------------------------------------------------------- oracles


def numpy_lloyd(x: np.ndarray, seed_ids, max_iter: int = -1):
    """Independent Lloyd with the package's semantics: I2 seeds renumbered
    1..k in the given order, squared distance summed left to right over the
    dimensions, ties to the lowest cluster id, empty clusters dropped,
    convergence on exact centroid equality.  Returns (centroids dict,
    iterations, final assignment array, converged)."""
    cents = {i + 1: x[s].copy() for i, s in enumerate(seed_ids)}
    iterations, converged = 0, False
    cap = max_iter if max_iter >= 0 else 10_000
    while iterations < cap:
        assign = _assign(x, cents)
        new = {c: x[assign == c].mean(axis=0) for c in sorted(cents) if (assign == c).any()}
        iterations += 1
        same = new.keys() == cents.keys() and all(np.array_equal(new[c], cents[c]) for c in new)
        cents = new
        if same:
            converged = True
            break
    return cents, iterations, _assign(x, cents), converged


def _assign(x: np.ndarray, cents: dict) -> np.ndarray:
    ids = sorted(cents)
    c = np.stack([cents[i] for i in ids])
    d2 = np.zeros((len(x), len(ids)))
    for j in range(x.shape[1]):  # 0.0 + t0 + t1 + ..., the package's fold order
        d2 = d2 + (x[:, j, None] - c[None, :, j]) ** 2
    # argmin keeps the first minimum: ids ascend, so ties go to the lowest id
    return np.asarray(ids)[d2.argmin(axis=1)]


def ingest_oracle(docs_path: str) -> list[list]:
    """Batch verdicts from the package's own DuckDB oracle
    (``registry_pipeline._incremental_sql``)."""
    import duckdb

    from k_means_hadoop_spark import registry_pipeline as rp

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        rows = con.execute(
            rp._incremental_sql(rp.NGRAM_N, rp.NGRAM_THRESHOLD, BATCH_MOD, BATCH_REM)
        ).fetchall()
    finally:
        con.close()
    return sorted([int(d), s] for d, s in rows)


# --------------------------------------------------------------- per workload


def _gen_lloyd_fit(rng, out: str, n_files: int) -> tuple[dict, dict]:
    while True:
        x32, label = _blobs(rng, FIT_N, FIT_D, FIT_K, sep=2.0)
        seed_ids = sorted(int(i) for i in rng.choice(FIT_N, size=FIT_K, replace=False))
        x = x32.astype(np.float64)
        cents, iters, assign, converged = numpy_lloyd(x, seed_ids, FIT_ITERS)
        # a run that converges early would stop before the fixed 5
        if not converged and len(cents) == FIT_K:
            break
    _write_points(f"{out}/embeddings.parquet", x32, label, n_files)
    meta = {"rows": FIT_N, "dims": FIT_D, "k": FIT_K, "seed_ids": seed_ids,
            "rows_per_op": FIT_N * FIT_ITERS}
    oracle = {"iterations": iters, "centroids": _cents_json(cents),
              "assign": assign.tolist()}
    return meta, oracle


def _gen_lloyd_reference(rng, out: str, n_files: int) -> tuple[dict, dict]:
    meta = {"shapes": [], "rows": 0, "rows_per_op": 0}
    oracle = {}
    for name, n, d, k, target in REF_SHAPES:
        while True:
            x32, label = _blobs(rng, n, d, k, sep=1.5)
            seed_ids = sorted(int(i) for i in rng.choice(n, size=k, replace=False))
            cents, iters, _, converged = numpy_lloyd(x32.astype(np.float64), seed_ids)
            if converged and iters == target:
                break
        # one file, as the reference reads one text file per dataset
        _write_points(f"{out}/{name}/embeddings.parquet", x32, label, 1)
        meta["shapes"].append({"name": name, "rows": n, "dims": d, "k": k, "seed_ids": seed_ids})
        meta["rows"] += n
        meta["rows_per_op"] += n * iters
        oracle[name] = {"iterations": iters, "centroids": _cents_json(cents)}
    meta["dims"] = max(s[2] for s in REF_SHAPES)
    return meta, oracle


def _gen_ingest_store(rng, out: str, n_files: int) -> tuple[dict, dict]:
    path = f"{out}/documents.parquet"
    _write_docs(path, _docs(rng, DOCS_N))
    meta = {"rows": DOCS_N, "dims": 1, "rows_per_op": DOCS_N}
    return meta, {"verdicts": ingest_oracle(path)}


def _cents_json(cents: dict) -> list:
    return [[int(c), [float(v) for v in cents[c]]] for c in sorted(cents)]


GENERATORS = {
    "lloyd_fit": _gen_lloyd_fit,
    "lloyd_reference": _gen_lloyd_reference,
    "ingest_store": _gen_ingest_store,
}


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet file count) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return total, files


def prepare(workload: str, seed: int, n_files: int, cache_root: str) -> tuple[str, dict, dict]:
    """Generate (or reuse) the inputs and oracle for one seed.  Returns
    (input dir, meta, oracle).  ``meta.json`` is written last, so a cache
    entry without it is incomplete and is rebuilt."""
    key = f"{workload}-s{seed}-f{n_files}-v{GEN_VERSION}"
    out = os.path.join(cache_root, key)
    done = os.path.join(out, "meta.json")
    if os.path.exists(done):
        with open(done) as f:
            meta = json.load(f)
        with open(os.path.join(out, "oracle.json")) as f:
            return os.path.join(out, "data"), meta, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    os.makedirs(data)
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    meta, oracle = GENERATORS[workload](rng, data, n_files)
    meta["bytes"], meta["files"] = dir_stats(data)
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    with open(done, "w") as f:
        json.dump(meta, f)
    return data, meta, oracle


if __name__ == "__main__":
    import sys

    # python3 inputs.py <workload> <seed> <n_files> <cache_root>
    prepare(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
