"""Similarity search over the ``embeddings`` table (beyond-reference).

Three tiers, one semantic (top-k by cosine):

- ``knn_bruteforce`` — exact: broadcast the (small) query set against
  every candidate; one narrow map + one per-query top-k.  The correct
  baseline and the oracle-checkable measure.
- ``knn_lsh``  — random-hyperplane LSH: candidates share a signature
  bucket with the query (recall < 1, cost ∝ bucket size).  Hyperplanes
  are seeded-deterministic and live in the plan as literals.
- ``knn_ivf``  — IVF: coarse k-means quantizer (our own lloyd_kmeans),
  probe the ``nprobe`` nearest cells only.  The canonical 100 TB layout:
  partition the corpus by cell id so a query touches nprobe partitions.

All distance math is Catalyst expressions (functions/vector.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_unrolled,
    dot_unrolled,
    euclidean,
    l2_norm_unrolled,
)
from k_means_hadoop_spark.operators.assign import assign_expr
from k_means_hadoop_spark.operators.kmeans import init_random, lloyd_kmeans


def _vectors(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        F.col("vec_id").cast("int").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )


def knn_bruteforce(
    embeddings: DataFrame, query_ids: Sequence[int], k: int = 5
) -> DataFrame:
    """(qid, nid, cos_sim, rank) — exact top-k by cosine, self excluded.

    The query side is k rows → broadcast; candidates stream through one
    codegen'd stage; per-query top-k via window (rank ties broken by nid).

    The HOF cosine is the measured design of record here (round 12):
    the unrolled 3-chain falls out of whole-stage codegen (Janino
    CompileException → interpreted fallback, +36%), and even the
    norm-hoisted unrolled form measured +10-14% vs the fold in
    interleaved same-session A/B — the scan+window dominate and 64
    bound-checked array accesses per pair beat the fold nowhere."""
    vecs = _vectors(embeddings)
    queries = vecs.filter(F.col("vid").isin(list(query_ids))).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qvec")
    )
    sim = cosine_similarity(F.col("qvec"), F.col("vec"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        vecs.crossJoin(F.broadcast(queries))
        .filter(F.col("vid") != F.col("qid"))
        .select(F.col("qid"), F.col("vid").alias("nid"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("sim", 6).alias("cos_sim"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded deterministic random hyperplanes (numpy RNG, plan literals)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _dot_chain_sql(vec_sql: str, plane: list[float], one_based: bool) -> str:
    """vec · plane as an EXPLICIT left-associative literal chain:
    ``v[0]*p0 + v[1]*p1 + ...``.  Both Spark SQL and DuckDB parse ``+``
    left-associative and evaluate in IEEE doubles, so the chain — unlike
    an engine-internal fold or sum() — produces the bit-identical result
    in both engines, making even the SIGN of a near-zero dot product
    cross-engine reproducible.  ``repr`` round-trips doubles exactly."""
    return " + ".join(
        f"{vec_sql}[{j + 1 if one_based else j}] * CAST({float(p)!r} AS DOUBLE)"
        for j, p in enumerate(plane)
    )


def lsh_signature_sql(vec_sql: str, planes: list[list[float]], one_based: bool) -> str:
    """Bit-signature SQL text: bit i = sign(vec · plane_i).  The same
    text (modulo array-index base) runs on Spark and DuckDB."""
    parts = [
        f"(CASE WHEN ({_dot_chain_sql(vec_sql, plane, one_based)}) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    ]
    return "(" + " + ".join(parts) + ")"


def lsh_signature(vec_col_name: str, planes: list[list[float]]):
    """Bit-signature column over the named array column (parsed as ONE
    SQL expression — thousands of literals via the Column API would cost
    a py4j round-trip each, the knn_pq lesson)."""
    return F.expr(
        f"CAST({lsh_signature_sql(vec_col_name, planes, one_based=False)} AS BIGINT)"
    )


def knn_lsh(
    embeddings: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(qid, nid, cos_sim, rank) — approximate top-k within the query's
    random-hyperplane LSH bucket.  Recall < 1 by construction; at scale
    the table is pre-partitioned by signature so a query reads one
    bucket.

    Fully oracle-checkable: the plane dots are explicit left-assoc
    literal chains (see ``_dot_chain_sql``), so bucket membership is
    bit-exact across engines, and ranking on the ROUNDED similarity
    with nid tie-break makes the whole top-k cross-engine
    deterministic — the same recipe as ``knn_signbit_lsh``."""
    planes = _hyperplanes(dim, n_planes, seed)
    vecs = _vectors(embeddings).withColumn("sig", lsh_signature("vec", planes))
    queries = vecs.filter(F.col("vid").isin(list(query_ids))).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qvec"), F.col("sig").alias("qsig")
    )
    # dim is already a caller contract (the hyperplanes need it), so the
    # scoring cosine runs as the codegen'd unrolled chain — bit-exact vs
    # the HOF fold (vector.cosine_similarity_unrolled).  NOT norm-hoisted
    # on purpose (round-12 A/B): this side projection already carries the
    # 512-term plane-signature chains, and stacking the norm chain on an
    # already-huge projection measured slower at the same-shaped
    # semantic_cell_pairs site (codegen method-size hazard).
    sim = F.round(cosine_similarity_unrolled("qvec", "vec", dim), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        vecs.join(F.broadcast(queries), F.col("sig") == F.col("qsig"))
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("nid"), sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def knn_signbit_lsh(
    embeddings: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_bits: int = 6,
) -> DataFrame:
    """(qid, nid, cos_sim, rank) — approximate top-k within the query's
    SIGN-BIT LSH bucket (bit i = sign of dimension i): the simplest
    oracle-checkable ANN tier — sign buckets use raw comparisons only
    (no float summation at all), and ranking on the ROUNDED similarity
    with nid tie-break makes the whole top-k cross-engine
    deterministic.  Random-hyperplane ``knn_lsh`` achieves the same
    reproducibility the harder way (left-assoc literal dot chains);
    both share the scale shape: bucket equi-join, cost ∝ bucket size,
    recall < 1."""
    bits = [
        F.when(F.element_at("vec", i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    vecs = _vectors(embeddings).withColumn("sig", sig.cast("int"))
    queries = vecs.filter(F.col("vid").isin(list(query_ids))).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qvec"), F.col("sig").alias("qsig")
    )
    # HOF cosine by measurement — see knn_bruteforce
    sim = F.round(cosine_similarity(F.col("qvec"), F.col("vec")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        vecs.join(F.broadcast(queries), F.col("sig") == F.col("qsig"))
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("nid"), sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


# Trained IVF coarse quantizers keyed by (corpus key + data fingerprint,
# n_cells, seed): training scans the sample corpus for 5 Lloyd
# iterations (~10 jobs) and is by far the operator's dominant cost, yet
# a production index trains ONCE and serves every query.  Same opt-in
# contract and staleness protection as _PQ_PLAN_CACHE.
_IVF_CELL_CACHE: dict[tuple, list] = {}


def knn_ivf(
    embeddings: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    seed: int = 42,
    plan_cache_key: str | None = None,
) -> DataFrame:
    """(qid, nid, cos_sim, rank) — IVF approximate top-k.

    Train a coarse quantizer with our Lloyd loop ON A SAMPLE, assign
    every vector to its cell (zero-shuffle literal fold), then for each
    query search only the ``nprobe`` nearest cells.  At 100 TB: persist
    the corpus bucketed/partitioned by ``cell`` so each query's probe is
    a partition-pruned scan.

    The training sample is a deterministic hash slice (xxhash64(id) mod
    ``sample_mod``) — partitioning-independent, so the quantizer is
    reproducible on any cluster layout; cell quality needs only enough
    points per cell (~thousands), never the corpus.  The Lloyd loop's
    per-iteration cost therefore stays CONSTANT as the corpus grows —
    only the single assignment pass is data-sized.
    """
    vecs = _vectors(embeddings)
    pts = vecs.select(F.col("vid").alias("id"), F.col("vec").alias("features"))
    cache_key = (
        (plan_cache_key, _data_fingerprint(plan_cache_key), n_cells, seed)
        if plan_cache_key is not None
        else None
    )
    if cache_key is not None and cache_key in _IVF_CELL_CACHE:
        cells = _IVF_CELL_CACHE[cache_key]
    else:
        sample_mod = 4  # ~25% of the corpus; at 100 TB raise toward O(corpus/cells)
        train = pts.filter(
            F.pmod(F.xxhash64(F.col("id") + F.lit(seed)), F.lit(sample_mod)) == 0
        )
        # fast=True keeps the original xxhash64 seed ordering: the quantizer
        # needs no cross-engine parity (knn_ivf's contract oracle recomputes
        # the exact top-k independently of which cells were trained).
        model = lloyd_kmeans(
            train, init_random(train, n_cells, seed=seed, fast=True), max_iter=5
        )
        cells = model.centroids  # k×d driver-local
        if cache_key is not None:
            _IVF_CELL_CACHE[cache_key] = cells
    assigned = assign_expr(pts, cells).select(
        F.col("id").alias("vid"), F.col("features").alias("vec"), F.col("cluster").alias("cell")
    )
    # nprobe nearest cells per query, driver-side (queries are few, cells k×d)
    queries = {r["vid"]: list(r["vec"]) for r in vecs.filter(F.col("vid").isin(list(query_ids))).collect()}
    if not queries:
        # No query_id matched a vector: degrade to the empty result the
        # pre-r12 HOF form produced instead of StopIteration from
        # next(iter(...)) below (r12 ADVICE).
        return embeddings.sparkSession.createDataFrame(
            [], "qid int, nid int, cos_sim double, rank int"
        )
    probe_rows = []
    for qid, qvec in queries.items():
        by_dist = sorted(
            cells,
            key=lambda c: sum((a - b) * (a - b) for a, b in zip(c[1], qvec)),
        )[:nprobe]
        for cid, _ in by_dist:
            probe_rows.append((qid, qvec, cid))
    spark = embeddings.sparkSession
    probes = spark.createDataFrame(
        probe_rows, "qid int, qvec array<double>, cell int"
    )
    # d from the already-collected query vectors → per-row norms hoisted
    # out of the per-pair probe-scoring cosine + codegen'd unrolled pair
    # dot, bit-identical to the HOF (see vector.cosine_similarity_unrolled)
    d_dim = len(next(iter(queries.values())))
    assigned = assigned.withColumn("nv", l2_norm_unrolled("vec", d_dim))
    probes = probes.withColumn("nq", l2_norm_unrolled("qvec", d_dim))
    sim = dot_unrolled("qvec", "vec", d_dim) / (F.col("nq") * F.col("nv"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("nid"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round("sim", 6).alias("cos_sim"), "rank")
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """(vec_id, lo, hi, q_hash, max_abs_err) — per-vector int8-range
    scalar quantization, the storage/bandwidth lever for ANN at 100 TB
    (4 bytes/dim → 1, before IVF/PQ refinements).

    Per vector: lo/hi bounds, scale = (hi-lo)/255, code
    q_i = floor((x_i-lo)/scale + 0.5) ∈ [0,255] (floor(+0.5) — not
    round() — because banker's-rounding conventions differ across
    engines), reconstruction lo + q_i·scale.  Constant vectors (hi==lo)
    quantize to all-zeros with zero error.  Output stays narrow: the
    code array is reported as an md5 over its ','-join, plus the max
    absolute reconstruction error — an accuracy audit computed in the
    same pass.  Pure Catalyst higher-order functions: no shuffle, no
    Python, fully codegen'd."""
    v = F.col("embedding").cast("array<double>")
    base = embeddings.select(F.col("vec_id"), v.alias("v"))
    lo, hi = F.array_min("v"), F.array_max("v")
    base = base.select(
        "vec_id",
        "v",
        lo.alias("lo"),
        hi.alias("hi"),
        ((hi - lo) / F.lit(255.0)).alias("scale"),
    ).withColumn(
        "safe", F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(F.col("scale"))
    )
    q = F.transform(
        "v", lambda x: F.floor((x - F.col("lo")) / F.col("safe") + F.lit(0.5)).cast("int")
    )
    # Error in STEP units, |(x-lo)/scale - q| ∈ [0, 0.5] — deliberately
    # NOT |x - (lo + q·scale)|: reconstructing via lo + q·scale is a
    # multiply-add that some engines (DuckDB) contract to an FMA,
    # shifting the result by an ulp and breaking cross-engine equality.
    # The step-unit form uses only sub/div/sub (nothing fusable), so the
    # double is bit-identical everywhere; absolute error = step_err·scale.
    step_err = F.array_max(
        F.zip_with(
            "v",
            "q",
            lambda x, qi: F.abs((x - F.col("lo")) / F.col("safe") - qi.cast("double")),
        )
    )
    return (
        base.withColumn("q", q)
        # step_err is added BEFORE the output projection: the final select
        # re-aliases a rounded "lo", and Spark's lateral-column-alias
        # resolution would otherwise bind the lambda's lo reference to the
        # ROUNDED value, silently corrupting the error computation.
        .withColumn("step_err", step_err)
        .select(
            "vec_id",
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            F.md5(F.array_join(F.transform("q", lambda c: c.cast("string")), ",")).alias("q_hash"),
            # floor(·1e6), not round(·, 6): round-half conventions differ
            # across engines; floor of an identical double is convention-free.
            F.floor(F.col("step_err") * F.lit(1e6)).cast("bigint").alias("max_step_err_ppm"),
        )
    )


def truncate_renorm(embeddings: DataFrame, dim: int = 16) -> DataFrame:
    """(vec_id, norm_full, norm_trunc, energy_retained) — Matryoshka-style
    dimensionality reduction audit: truncate each embedding to its first
    ``dim`` dimensions and report how much L2 energy survives
    (norm_trunc² / norm_full²) — the accept/reject signal for serving a
    cheaper prefix of a long embedding (MRL-trained models concentrate
    information in the prefix; this measures whether THIS corpus does).

    Row-local higher-order functions only — zero shuffle, no Python;
    the same pass a 100 TB pipeline would fuse into its embedding scan.
    """
    v = F.col("embedding").cast("array<double>")
    base = embeddings.select(F.col("vec_id"), v.alias("v"))
    sq = lambda c: F.aggregate(  # noqa: E731 — local fold helper
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    full_sq = sq(F.col("v"))
    trunc_sq = sq(F.slice("v", 1, dim))
    return (
        base.withColumn("_fs", full_sq)
        .withColumn("_ts", trunc_sq)
        .select(
            "vec_id",
            F.round(F.sqrt("_fs"), 6).alias("norm_full"),
            F.round(F.sqrt("_ts"), 6).alias("norm_trunc"),
            F.round(F.col("_ts") / F.col("_fs"), 6).alias("energy_retained"),
        )
    )


def knn_mllib_lsh(
    embeddings: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    num_tables: int = 8,
    bucket_length: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """(qid, nid, eucl_dist, rank) — MLlib ``BucketedRandomProjectionLSH``
    approxNearestNeighbors, the library-native ANN tier next to the
    custom knn_lsh (SURVEY §7 M3).  Euclidean-metric LSH (that's the
    BRP family), so the reported distance is L2, not cosine; queries
    are few → a driver loop of per-key probes, each a bucket-pruned
    scan.  Rows-only: hash tables and probe order are MLlib-internal."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as SF

    vecs = _vectors(embeddings).withColumn("_v", array_to_vector("vec"))
    model = BucketedRandomProjectionLSH(
        inputCol="_v", outputCol="_h", numHashTables=num_tables,
        bucketLength=bucket_length, seed=seed,
    ).fit(vecs)
    hashed = model.transform(vecs).cache()
    queries = {
        r["vid"]: r["_v"]
        for r in vecs.filter(SF.col("vid").isin(list(query_ids))).collect()
    }
    parts = []
    for qid, qvec in sorted(queries.items()):
        nn = model.approxNearestNeighbors(hashed, qvec, k + 1, distCol="_d")
        parts.append(
            nn.filter(SF.col("vid") != qid)
            .select(
                SF.lit(qid).alias("qid"),
                SF.col("vid").alias("nid"),
                SF.round("_d", 6).alias("eucl_dist"),
            )
            # Explicit (dist, nid) sort before limit: relying on
            # approxNearestNeighbors' internal order surviving the
            # self-match filter would keep an arbitrary member of a
            # distance tie — the kept set must be deterministic for the
            # rows-only snapshot and the recall test.
            .orderBy(SF.col("eucl_dist").asc(), SF.col("nid").asc())
            .limit(k)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    w = Window.partitionBy("qid").orderBy(SF.col("eucl_dist").asc(), SF.col("nid").asc())
    return out.withColumn("rank", F.row_number().over(w).cast("int"))




def _dlit(v: float) -> str:
    return f"CAST({v!r} AS DOUBLE)"  # repr round-trips doubles exactly


def _darr(vals: list[float]) -> str:
    return "array(" + ", ".join(_dlit(v) for v in vals) + ")"


def _sq_dist_sql(vec_col: str, lo: int, codeword: list[float]) -> str:
    """Left-assoc diff*diff fold over vec[lo+1 : lo+len] vs a literal
    codeword — bit-compatible with ``_py_sq`` and the SQL mirrors'
    explicit + chains."""
    return (
        f"aggregate(zip_with(slice({vec_col}, {lo + 1}, {len(codeword)}), "
        f"{_darr(codeword)}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def _py_sq(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


# Built PQ plan texts keyed by (corpus key + data fingerprint, ids, m):
# a PQ index is trained/encoded ONCE and then serves every query —
# re-collecting the codebook rows and re-rendering the literal tables
# per invocation (~1 s driver-side at m=8, K=16) is the anti-pattern
# this memo removes.  Opt-in via plan_cache_key (callers pass the
# corpus path); None keeps the stateless behavior.
_PQ_PLAN_CACHE: dict[tuple, tuple] = {}


def _data_fingerprint(key: str) -> tuple:
    """Cheap content-change detector folded into the PQ cache key: if
    ``key`` is a local path, the (name, size, mtime_ns) of every file
    under it — a regenerated fixture or rewritten parquet at the same
    path changes the fingerprint and invalidates the cached literal
    tables (which were derived from collected DATA, not just the path).
    Non-local keys (object-store URLs, opaque version strings) fall
    back to the key itself: the caller owns bumping it when the corpus
    version changes."""
    import os

    if not os.path.exists(key):
        return (key,)
    if os.path.isfile(key):
        st = os.stat(key)
        return ((os.path.basename(key), st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(key):
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            out.append((os.path.relpath(os.path.join(root, f), key), st.st_size, st.st_mtime_ns))
    return tuple(out)


def knn_pq(
    embeddings: DataFrame,
    query_ids: Sequence[int],
    codebook_ids: Sequence[int],
    k: int = 5,
    m: int = 4,
    plan_cache_key: str | None = None,
) -> DataFrame:
    """(qid, nid, approx_dist, rank) — product-quantization ANN
    (asymmetric distance computation), the compressed-domain tier of the
    similarity family: vectors are encoded as ``m`` per-subspace
    codeword ids, and query-to-vector distance is approximated as the
    sum of per-subspace query→codeword distances looked up from a tiny
    table — the corpus is scanned in code space (m small ints per
    vector), never in float space.

    At 100 TB this is the IVF+PQ layout every vector store runs: codes
    are ~32× smaller than raw floats, the distance tables (m × |codebook|
    doubles per query) are computed once driver-side and folded into the
    plan as literals, and scoring is one codegen'd map over the encoded
    corpus + a per-query top-k window.  Codebooks here are fixed seed
    rows (renumbered 1..K in id order) rather than per-subspace k-means —
    that keeps encode (a per-subspace argmin literal fold, the
    assign_expr pattern) and ADC scoring closed-form, so the ENTIRE
    operator is SQL-mirrorable and driver hash-checked; swap in
    lloyd_kmeans-per-subspace on a sample for production recall (the
    plan shape is unchanged).  Ranks use the 6-dp-rounded distance
    (ties → lowest nid) so ordering is cross-engine stable."""
    vecs = _vectors(embeddings)
    cache_key = (
        (
            plan_cache_key,
            _data_fingerprint(plan_cache_key),
            tuple(sorted(set(query_ids))),
            tuple(sorted(set(codebook_ids))),
            m,
        )
        if plan_cache_key is not None
        else None
    )
    if cache_key is not None and cache_key in _PQ_PLAN_CACHE:
        code_col_texts, q_structs_sql = _PQ_PLAN_CACHE[cache_key]
    else:
        # one collect for codebook + query rows (one Spark job, not two)
        wanted = set(codebook_ids) | set(query_ids)
        rows = {
            r["vid"]: list(r["vec"])
            for r in vecs.filter(F.col("vid").isin(list(wanted))).collect()
        }
        missing = sorted(wanted - rows.keys())
        if missing:
            raise ValueError(
                f"knn_pq: requested codebook/query ids absent from embeddings: {missing}"
            )
        cb_rows = sorted((vid, rows[vid]) for vid in set(codebook_ids))
        q_rows = sorted((vid, rows[vid]) for vid in set(query_ids))
        d = len(cb_rows[0][1])
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        sub = d // m
        # codebook[j] = [(c, subvector)] for subspace j, c renumbered 1..K
        codebook = [
            [(ci + 1, vec[j * sub : (j + 1) * sub]) for ci, (_vid, vec) in enumerate(cb_rows)]
            for j in range(m)
        ]

        # All literal-heavy expressions are built as SQL TEXT and parsed
        # with ONE F.expr each: composing them from F.lit/F.array objects
        # costs a py4j round-trip per literal (thousands here), which
        # measured as the dominant cost of the whole query — driver-side,
        # before any task ran.
        code_col_texts = [
            "array_min(array("
            + ", ".join(
                f"named_struct('d', {_sq_dist_sql('vec', j * sub, cw)}, 'c', {c})"
                for c, cw in codebook[j]
            )
            + ")).c"
            for j in range(m)
        ]

        # per-query ADC tables, computed driver-side (pure IEEE doubles,
        # same left-assoc order as the SQL mirror), folded in as literals
        q_structs_sql = "array(" + ", ".join(
            "named_struct('qid', "
            + str(qid)
            + ", "
            + ", ".join(
                f"'t{j}', "
                + _darr([_py_sq(qvec[j * sub : (j + 1) * sub], cw) for _c, cw in codebook[j]])
                for j in range(m)
            )
            + ")"
            for qid, qvec in q_rows
        ) + ")"
        if cache_key is not None:
            _PQ_PLAN_CACHE[cache_key] = (code_col_texts, q_structs_sql)

    code_cols = [F.expr(t).alias(f"code{j}") for j, t in enumerate(code_col_texts)]
    enc = vecs.select("vid", *code_cols)

    scored = (
        enc.select("vid", *[f"code{j}" for j in range(m)],
                   F.explode(F.expr(q_structs_sql)).alias("q"))
        .filter(F.col("vid") != F.col("q")["qid"])
    )
    approx = None
    for j in range(m):
        term = F.element_at(F.col("q")[f"t{j}"], F.col(f"code{j}"))
        approx = term if approx is None else approx + term
    w = Window.partitionBy("qid").orderBy(F.col("approx_dist"), F.col("nid"))
    return (
        scored.select(
            F.col("q")["qid"].alias("qid"),
            F.col("vid").alias("nid"),
            F.round(approx, 6).alias("approx_dist"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def knn_pq_rerank(
    embeddings: DataFrame,
    query_ids: Sequence[int],
    codebook_ids: Sequence[int],
    k: int = 5,
    m: int = 8,
    shortlist: int = 100,
    plan_cache_key: str | None = None,
) -> DataFrame:
    """(qid, nid, eucl_dist, rank) — the production PQ two-stage: ADC
    over the compressed corpus prunes to a per-query ``shortlist``, then
    EXACT euclidean distance re-ranks only those candidates to the final
    top-k.  The corpus-sized pass stays in code space; the float-space
    work is shortlist-sized.  Recall@k equals the probability the true
    neighbors survive the ADC cut (pinned in tests); precision of the
    kept ordering is exact by construction.  Fully SQL-mirrorable, like
    knn_pq."""
    cand = knn_pq(
        embeddings, query_ids, codebook_ids, k=shortlist, m=m,
        plan_cache_key=plan_cache_key,
    ).select("qid", "nid")
    vecs = _vectors(embeddings)
    qv = vecs.filter(F.col("vid").isin(list(query_ids))).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qvec")
    )
    nv = vecs.select(F.col("vid").alias("nid"), F.col("vec").alias("nvec"))
    w = Window.partitionBy("qid").orderBy(F.col("eucl_dist"), F.col("nid"))
    return (
        cand.join(nv, "nid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid", "nid", F.round(euclidean("qvec", "nvec"), 6).alias("eucl_dist")
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def knn_ivf_pq(
    embeddings: DataFrame,
    query_ids: Sequence[int],
    cell_ids: Sequence[int],
    codebook_ids: Sequence[int],
    k: int = 5,
    m: int = 8,
    nprobe: int = 3,
) -> DataFrame:
    """(qid, nid, approx_dist, rank) — the combined IVF+PQ tier, the
    layout every production vector store (FAISS IVFPQ) runs at scale:
    a coarse quantizer prunes the corpus to ``nprobe`` inverted lists
    per query, and PQ asymmetric-distance scoring ranks only the
    surviving lists' codes — corpus cost = |probed cells| in code
    space, never the full corpus in float space.

    Like knn_pq, every ingredient is closed-form so the WHOLE operator
    carries a value oracle: cells and codebooks are fixed seed rows
    (renumbered in id order), cell assignment is a literal-fold argmin
    (lowest-cell tie-break), the probe set is computed driver-side with
    the same left-assoc float arithmetic the SQL mirror unrolls, and
    ADC ranks on the 6-dp-rounded distance with nid tie-break.  At
    100 TB: partition/bucket the encoded corpus BY CELL so each probe
    is a partition-pruned scan of ~corpus/cells codes; the quantizers
    train on samples (swap lloyd_kmeans in; plan shape unchanged)."""
    vecs = _vectors(embeddings)
    wanted = set(cell_ids) | set(codebook_ids) | set(query_ids)
    rows = {
        r["vid"]: list(r["vec"])
        for r in vecs.filter(F.col("vid").isin(list(wanted))).collect()
    }
    missing = sorted(wanted - rows.keys())
    if missing:
        raise ValueError(f"knn_ivf_pq: ids absent from embeddings: {missing}")
    cells = [(ci + 1, rows[vid]) for ci, vid in enumerate(sorted(set(cell_ids)))]
    cb_rows = sorted((vid, rows[vid]) for vid in set(codebook_ids))
    q_rows = sorted((vid, rows[vid]) for vid in set(query_ids))
    d = len(cb_rows[0][1])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    codebook = [
        [(ci + 1, vec[j * sub : (j + 1) * sub]) for ci, (_vid, vec) in enumerate(cb_rows)]
        for j in range(m)
    ]
    cell_col_text = (
        "array_min(array("
        + ", ".join(
            f"named_struct('d', {_sq_dist_sql('vec', 0, cvec)}, 'c', {c})" for c, cvec in cells
        )
        + ")).c"
    )
    code_col_texts = [
        "array_min(array("
        + ", ".join(
            f"named_struct('d', {_sq_dist_sql('vec', j * sub, cw)}, 'c', {c})"
            for c, cw in codebook[j]
        )
        + ")).c"
        for j in range(m)
    ]
    # probe sets + ADC tables, driver-side, same arithmetic as the mirror
    probes = {
        qid: [c for c, _ in sorted(((c, _py_sq(qvec, cvec)) for c, cvec in cells),
                                   key=lambda t: (t[1], t[0]))[:nprobe]]
        for qid, qvec in q_rows
    }
    q_structs_sql = "array(" + ", ".join(
        "named_struct('qid', "
        + str(qid)
        + ", 'cells', array("
        + ", ".join(str(c) for c in probes[qid])
        + "), "
        + ", ".join(
            f"'t{j}', "
            + _darr([_py_sq(qvec[j * sub : (j + 1) * sub], cw) for _c, cw in codebook[j]])
            for j in range(m)
        )
        + ")"
        for qid, qvec in q_rows
    ) + ")"
    enc = vecs.select(
        "vid",
        F.expr(cell_col_text).alias("cell"),
        *[F.expr(t).alias(f"code{j}") for j, t in enumerate(code_col_texts)],
    )
    scored = (
        enc.select("vid", "cell", *[f"code{j}" for j in range(m)],
                   F.explode(F.expr(q_structs_sql)).alias("q"))
        .filter(F.array_contains(F.col("q")["cells"], F.col("cell")))
        .filter(F.col("vid") != F.col("q")["qid"])
    )
    approx = None
    for j in range(m):
        term = F.element_at(F.col("q")[f"t{j}"], F.col(f"code{j}"))
        approx = term if approx is None else approx + term
    w = Window.partitionBy("qid").orderBy(F.col("approx_dist"), F.col("nid"))
    return (
        scored.select(
            F.col("q")["qid"].alias("qid"),
            F.col("vid").alias("nid"),
            F.round(approx, 6).alias("approx_dist"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def knn_filtered(
    embeddings: DataFrame,
    docs: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
) -> DataFrame:
    """(qid, nid, lang, cos_sim, rank) — metadata-FILTERED exact top-k:
    each query's neighbors are restricted to corpus vectors whose
    document shares the query's language — the filtered-ANN shape every
    retrieval stack needs (filter + vector search in ONE pass, not
    post-filtering a top-k that may then run dry).

    The language joins onto the vector rows by id (at 100 TB the
    attribute lives WITH the embedding row in the same parquet, making
    this join a column read); the filter applies BEFORE scoring, so
    selectivity cuts compute proportionally — the reason pre-filtering
    beats over-fetch-then-filter.  Composes with the IVF/PQ tiers
    unchanged (filter inside the probed cells).  Exact scoring keeps
    the operator value-oracle-checkable."""
    vecs = _vectors(embeddings).join(
        docs.select(F.col("doc_id").cast("int").alias("vid"), "lang"), "vid"
    )
    queries = vecs.filter(F.col("vid").isin(list(query_ids))).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qvec"), F.col("lang").alias("qlang")
    )
    # HOF cosine by measurement — see knn_bruteforce
    sim = cosine_similarity(F.col("qvec"), F.col("vec"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        vecs.join(F.broadcast(queries), F.col("lang") == F.col("qlang"))
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("nid"), "lang", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "lang", F.round("sim", 6).alias("cos_sim"), "rank")
    )
