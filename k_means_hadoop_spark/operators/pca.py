"""PCA projection pipeline — reference ``PCA_Plot.ipynb`` cell-0
(N1-N5 in SURVEY.md §2.8).

The notebook: load TSV (last col = cluster id) → mean-center →
covariance → eigendecomposition → top-2 eigenvectors → project.
Spark-first: ``StandardScaler(withMean=True, withStd=False)`` (N2) →
``ml.feature.PCA(k)`` (N3-N5) — distributed covariance + local
eigensolve on the driver (d×d only), exactly the right split at 100 TB
(n never leaves the cluster, d×d is tiny).

The dominant component is also computed twice by explicit distributed
linear algebra: ``power_iteration_pc1`` (exact decimals, the value
oracle) and ``power_iteration_pc1_float`` (one Arrow-batched Gram pass
plus a driver-local eigensolve, the scale path, checked by contract).

Eigenvector SIGN is indeterminate across implementations (the notebook
inherits numpy's convention); downstream consumers (plotting) are
sign-invariant, so parity is defined up to per-component sign.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k_means_hadoop_spark.operators.relational import _t
from k_means_hadoop_spark.operators.trends import _FL6_SQL
from k_means_hadoop_spark.partitioning import truncate_lineage


def pca_project(
    df: DataFrame,
    k: int = 2,
    features_col: str = "features",
    keep_cols: tuple[str, ...] = ("id", "cluster"),
) -> DataFrame:
    """Returns (projected DataFrame, fitted PCAModel); the DataFrame is
    (keep_cols..., pc ARRAY<DOUBLE> length k) — top-k projection of the
    mean-centered features."""
    from pyspark.ml.feature import PCA, StandardScaler
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vec = df.withColumn("_v", array_to_vector(F.col(features_col)))
    scaler = StandardScaler(
        withMean=True, withStd=False, inputCol="_v", outputCol="_centered"
    ).fit(vec)
    centered = scaler.transform(vec)
    model = PCA(k=k, inputCol="_centered", outputCol="_pc").fit(centered)
    out = model.transform(centered)
    return out.select(*keep_cols, vector_to_array(F.col("_pc")).alias("pc")), model


def explained_variance(model) -> list[float]:
    return [float(v) for v in model.explainedVariance]


# ------------------------------------------- power iteration (PC1)
#
# The top principal component via EXPLICIT distributed linear algebra
# — the full-value-oracle complement of ``pca_project`` (whose
# eigensolver is MLlib-internal and therefore contract-oracled).
#
#   1. one distributed pass builds the d×d scatter: per-dim sums and
#      upper-triangle pair-product sums as EXACT decimal aggregates
#      (embedding floats are binary fractions, so round(x, 9) can
#      never sit on a decimal half — the 9dp decimal cast is
#      deterministic);
#   2. cov cells are finished as doubles and stabilized to 6dp with
#      the engine-identical floor(x·1e6+0.5) form;
#   3. ``_PI_SQUARINGS`` repeated matrix squarings (M ← M²,
#      renormalized) run against the d² cell table (node-sized
#      joins); the final matvec of the uniform start against M^(2^s)
#      is equivalent to 2^s = 64 power steps, each re-stabilized to
#      6dp decimal — deterministic cross-engine, so the unrolled
#      DuckDB CTE is a full value oracle.
#
# Scale shape: the ONLY corpus-sized pass is step 1 (map-side explode
# into a 2080-cell partial agg); every squaring touches the d²-cell
# table only.  The effective step count is high (2^6 = 64) because
# the fixture embeddings are near-isotropic (λ2/λ1 ≈ 0.93 —
# convergence is (λ2/λ1)^k, so ~64 steps ≈ 1% residual); squaring
# reaches it in 6 d²×d² joins, independent of corpus size.  Cost
# note: the pair explode is O(n·d²) rows —
# for d beyond a few hundred the one-pass Gram trick (outer products
# into a single aggregate buffer via Summarizer) replaces it; at the
# fixture's d=64 the explicit cells keep the oracle checkable.

_PI_SQUARINGS = 6
_R6 = (
    "CAST(floor(CAST({x} AS DOUBLE) * CAST(1000000 AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS DECIMAL(18,6))"
)


def power_iteration_pc1(spark, sf_dir: str) -> DataFrame:
    """(pos, loading, eigenvalue) — the dominant eigenvector of the
    embedding covariance matrix after ``_PI_SQUARINGS`` repeated
    renormalized matrix squarings (equivalent to 2^s = 64 power steps)
    applied to the uniform start, with its Rayleigh-quotient
    eigenvalue (repeated per row)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("embedding")
    d = len(emb.first()["embedding"])
    e9 = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 9).cast("decimal(18,9)"),
    )
    base = emb.select(e9.alias("e"))

    n_row = base.agg(F.count(F.lit(1)).alias("n"))
    sums = (
        base.select(F.posexplode("e").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
    )
    tri = base.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(d - 1)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(d - 1)),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at("e", i + 1)
                                * F.element_at("e", j + 1)
                            ).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("t")
    ).select("t.*")
    spp = tri.groupBy("i", "j").agg(F.sum("p").alias("spp"))
    si = sums.select(F.col("i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    cov_expr = _R6.format(
        x="(CAST(spp AS DOUBLE) - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)"
    )
    upper = (
        spp.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n_row))
        .select("i", "j", F.expr(cov_expr).alias("a"))
    )
    cells = upper.unionByName(
        upper.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "a"
        )
    ).transform(truncate_lineage)

    # Repeated squaring instead of 60 sequential matvecs: M <- R6(M²/max|M²|)
    # six times gives (up to positive scaling) A^64, whose dominant-direction
    # residual is (λ2/λ1)^64 ≈ 1% on the near-isotropic fixture spectrum —
    # 7 node-sized distributed steps instead of 60 (the max-normalization
    # keeps entries in [-1,1] so the 6dp stabilization never underflows;
    # max of exact decimals is order-free, so every step stays
    # deterministic cross-engine).
    M = cells
    for _ in range(_PI_SQUARINGS):
        l, r = M.alias("l"), M.alias("r")
        P = (
            l.join(r, F.col("l.j") == F.col("r.i"))
            .groupBy(F.col("l.i").alias("i"), F.col("r.j").alias("j"))
            .agg(F.sum(F.col("l.a") * F.col("r.a")).alias("p"))
        )
        mx = P.agg(F.max(F.abs(F.col("p"))).alias("mx"))
        M = (
            P.crossJoin(F.broadcast(mx))
            .select(
                "i",
                "j",
                F.expr(
                    _R6.format(x="CAST(p AS DOUBLE) / CAST(mx AS DOUBLE)")
                ).alias("a"),
            )
            .transform(truncate_lineage)
        )
    v0 = spark.range(d).select(
        F.col("id").cast("int").alias("j"),
        F.expr(_R6.format(x=f"1.0 / {d}")).alias("val"),
    )
    w = (
        M.join(F.broadcast(v0), "j")
        .groupBy("i")
        .agg(F.sum(F.col("a") * F.col("val")).alias("w"))
        .withColumn("w6", F.expr(_R6.format(x="w")))
    )
    nrm = w.agg(
        F.sqrt(F.sum(F.col("w6") * F.col("w6")).cast("double")).alias("nrm")
    )
    v = (
        w.crossJoin(F.broadcast(nrm))
        .select(
            F.col("i").alias("j"),
            F.expr(_R6.format(x="CAST(w6 AS DOUBLE) / nrm")).alias("val"),
        )
        .transform(truncate_lineage)
    )
    # Rayleigh quotient λ = vᵀAv / vᵀv from the final stabilized vector
    av = (
        cells.join(F.broadcast(v), "j")
        .groupBy("i")
        .agg(F.sum(F.col("a") * F.col("val")).alias("av"))
    )
    lam = (
        av.join(F.broadcast(v.select(F.col("j").alias("i"), "val")), "i")
        .agg(
            (
                F.sum(F.expr(_R6.format(x="av")) * F.col("val")).cast("double")
                / F.sum(F.col("val") * F.col("val")).cast("double")
            ).alias("lam")
        )
        .select(
            F.expr(
                "floor(lam * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
                " / CAST(1000000 AS DOUBLE)"
            ).alias("eigenvalue")
        )
    )
    return v.crossJoin(F.broadcast(lam)).select(
        F.col("j").alias("pos"),
        F.col("val").cast("double").alias("loading"),
        "eigenvalue",
    )


def _power_iteration_sql(d: int = 64) -> str:
    r6 = _R6
    parts = [
        # MATERIALIZED: the 60-level CTE chain references cells -> base at
        # every level and DuckDB would otherwise re-open the parquet per
        # reference ("Too many open files")
        "base AS MATERIALIZED (SELECT list_transform(embedding::DOUBLE[], "
        "x -> CAST(round(x, 9) AS DECIMAL(18,9))) AS e FROM embeddings)",
        "nr AS (SELECT count(*)::BIGINT AS n FROM base)",
        "dims AS (SELECT CAST(range AS INT) AS i FROM range(0, {d}))".format(d=d),
        "sums AS (SELECT CAST(t.i AS INT) AS i, SUM(b.e[t.i + 1]) AS s "
        "FROM base b CROSS JOIN dims t GROUP BY 1)",
        "spp AS (SELECT di.i AS i, dj.i AS j, SUM(b.e[di.i + 1] * b.e[dj.i + 1]) AS spp "
        "FROM base b CROSS JOIN dims di JOIN dims dj ON dj.i >= di.i GROUP BY 1, 2)",
        (
            "upper_c AS (SELECT p.i, p.j, "
            + r6.format(
                x="(CAST(p.spp AS DOUBLE) - CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE)"
                " / CAST(nr.n AS DOUBLE)) / CAST(nr.n AS DOUBLE)"
            )
            + " AS a FROM spp p JOIN sums a ON a.i = p.i JOIN sums b ON b.i = p.j"
            " CROSS JOIN nr)"
        ),
        "cells AS MATERIALIZED (SELECT i, j, a FROM upper_c UNION ALL "
        "SELECT j AS i, i AS j, a FROM upper_c WHERE i <> j)",
        "v0 AS (SELECT i AS j, " + r6.format(x=f"1.0 / {d}") + " AS val FROM dims)",
    ]
    prev = "cells"
    for k in range(1, _PI_SQUARINGS + 1):
        parts.append(
            f"p{k} AS MATERIALIZED (SELECT l.i, r.j, SUM(l.a * r.a) AS p "
            f"FROM {prev} l JOIN {prev} r ON l.j = r.i GROUP BY l.i, r.j)"
        )
        parts.append(f"x{k} AS (SELECT MAX(abs(p)) AS mx FROM p{k})")
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT p.i, p.j, "
            + r6.format(x="CAST(p.p AS DOUBLE) / CAST(x.mx AS DOUBLE)")
            + f" AS a FROM p{k} p CROSS JOIN x{k} x)"
        )
        prev = f"m{k}"
    parts.append(
        "w AS MATERIALIZED (SELECT i, w, " + r6.format(x="w") + " AS w6 FROM ("
        f"SELECT m.i, SUM(m.a * v.val) AS w "
        f"FROM {prev} m JOIN v0 v ON v.j = m.j GROUP BY m.i))"
    )
    parts.append("nv AS (SELECT sqrt(CAST(SUM(w6 * w6) AS DOUBLE)) AS nrm FROM w)")
    parts.append(
        "vf AS MATERIALIZED (SELECT w.i AS j, "
        + r6.format(x="CAST(w.w6 AS DOUBLE) / n.nrm")
        + " AS val FROM w CROSS JOIN nv n)"
    )
    prev = "vf"
    parts.append(
        f"av AS (SELECT c.i, SUM(c.a * v.val) AS av FROM cells c JOIN {prev} v ON v.j = c.j GROUP BY c.i)"
    )
    parts.append(
        "lam AS (SELECT floor((CAST(SUM(" + r6.format(x="a.av") + " * v.val) AS DOUBLE)"
        " / CAST(SUM(v.val * v.val) AS DOUBLE))"
        " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS eigenvalue "
        f"FROM av a JOIN {prev} v ON v.j = a.i)"
    )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT v.j AS pos, CAST(v.val AS DOUBLE) AS loading, lam.eigenvalue"
        f" FROM {prev} v CROSS JOIN lam"
    )


# ------------------------------------------- float-path power iteration
#
# The SCALE path for the dominant principal component (r5 verdict item
# 2): the exact-decimal ``power_iteration_pc1`` is the value oracle —
# auditable cross-engine, but decimal arithmetic makes its corpus pass
# ~6 s at sf0.1.  This variant does what a production Spark job would:
#
#   1. ONE Arrow-batched pass computes the Gram matrix — numpy
#      ``X.T @ X`` per batch inside ``mapInPandas`` (BLAS, not a d²
#      row explode), partials summed on the driver.  Only d×d values
#      ever cross the network; corpus size only affects the scan.
#   2. The d×d eigensolve runs driver-local (numpy.linalg.eigh) — the
#      same split MLlib's PCA uses, exactly right at 100 TB.
#   3. Float sums are partial-agg-order dependent, so the eigenpair is
#      NOT hash-comparable; the emitted row is the CONTRACT the
#      eigensolve must satisfy against exactly-verified quantities:
#      trace6 / maxvar6 / top_var_pos come from the decimal pass (hard
#      hash-checked values tying the float path to the data), and the
#      booleans are mathematically guaranteed for a correct dominant
#      eigenpair of the true covariance: residual ‖Cv−λv‖ ≤ 1e-6·λ,
#      λ > 0, max_i cov_ii ≤ λ ≤ trace (Rayleigh bounds).
#
# tests/test_round7_ops.py additionally pins the float eigenvector
# against the exact-decimal path (direction cosine / λ ratio).
"""Cites reference PCA_Plot.ipynb cell-0 (covariance + eig) for the
semantics; the distributed Gram split is the Spark-first re-design."""


def _gram_partials(emb: DataFrame, d: int) -> list:
    """Collect per-batch (n, colsum, gram) partials — ≤ one small row
    per Arrow batch; the corpus never reaches the driver."""
    import numpy as np
    import pandas as pd

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n_b": [len(X)],
                    "s_b": [X.sum(axis=0).tolist()],
                    "g_b": [(X.T @ X).ravel().tolist()],
                }
            )

    schema = "n_b bigint, s_b array<double>, g_b array<double>"
    return emb.mapInPandas(_batches, schema=schema).collect()


def power_iteration_pc1_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (d, n, trace6, maxvar6, top_var_pos, lam_pos,
    lam_le_trace, lam_ge_maxvar, residual_ok) — the float-path dominant
    eigenpair contract (see module comment)."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    first = emb.first()
    d = len(first["embedding"]) if first else 0

    parts = _gram_partials(emb, d)
    n = int(sum(p["n_b"] for p in parts))
    if n <= 0 or d <= 0:
        # an empty table would otherwise surface as a divide-by-zero in
        # the covariance and NaNs in the injected CAST({n} AS DOUBLE)
        # SQL — fail loudly instead (the random_projection_jl pattern)
        raise ValueError(
            f"power_iteration_pc1_float: embeddings table is empty "
            f"(n={n}, d={d}); the covariance and the var6 oracle "
            "expression require n > 0 and d > 0"
        )
    s = np.zeros(d)
    G = np.zeros((d, d))
    for p in parts:
        s += np.array(p["s_b"])
        G += np.array(p["g_b"]).reshape(d, d)
    cov = (G - np.outer(s, s) / n) / n
    vals, vecs = np.linalg.eigh((cov + cov.T) / 2.0)
    lam = float(vals[-1])
    v = vecs[:, -1]
    residual = float(np.linalg.norm(cov @ v - lam * v))
    trace_f = float(np.trace(cov))
    maxvar_f = float(np.max(np.diag(cov)))
    checks = {
        "lam_pos": bool(lam > 0),
        "lam_le_trace": bool(lam <= trace_f * (1 + 1e-9) + 1e-12),
        "lam_ge_maxvar": bool(lam >= maxvar_f * (1 - 1e-9) - 1e-12),
        "residual_ok": bool(residual <= 1e-6 * max(abs(lam), 1e-30)),
    }

    # exact side: per-dim variances from decimal sums — the hash-checked
    # values (one double division each, then the floor-6dp decimal grid)
    e9 = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 9).cast("decimal(18,9)"),
    )
    per_dim = (
        emb.select(F.posexplode(e9).alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s"), F.sum(F.col("x") * F.col("x")).alias("q"))
    )
    var6 = (
        "CAST(floor((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        f" / CAST({n} AS DOUBLE)) / CAST({n} AS DOUBLE)"
        " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE)"
        " AS DECIMAL(18,6))"
    )
    pv = per_dim.select("i", F.expr(var6).alias("v6"))
    exact = pv.agg(
        F.sum("v6").cast("decimal(28,6)").alias("trace6"),
        F.max("v6").cast("decimal(18,6)").alias("maxvar6"),
    )
    top_pos = (
        pv.orderBy(F.col("v6").desc(), F.col("i").asc())
        .limit(1)
        .select(F.col("i").cast("int").alias("top_var_pos"))
    )
    flags = spark.createDataFrame(
        [
            (
                int(d),
                int(n),
                checks["lam_pos"],
                checks["lam_le_trace"],
                checks["lam_ge_maxvar"],
                checks["residual_ok"],
            )
        ],
        "d int, n bigint, lam_pos boolean, lam_le_trace boolean,"
        " lam_ge_maxvar boolean, residual_ok boolean",
    )
    return (
        flags.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(top_pos))
        .select(
            "d",
            "n",
            "trace6",
            "maxvar6",
            "top_var_pos",
            "lam_pos",
            "lam_le_trace",
            "lam_ge_maxvar",
            "residual_ok",
        )
    )


def _pi_float_sql() -> str:
    var6 = _FL6_SQL.format(
        x="(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(nr.n AS DOUBLE)) / CAST(nr.n AS DOUBLE)"
    )
    return f"""
WITH base AS (SELECT list_transform(embedding::DOUBLE[],
                x -> CAST(round(x, 9) AS DECIMAL(18,9))) AS e FROM embeddings),
nr AS (SELECT count(*)::BIGINT AS n FROM base),
expl AS (SELECT (generate_subscripts(e, 1) - 1)::INT AS i, unnest(e) AS x FROM base),
per_dim AS (SELECT i, SUM(x) AS s, SUM(x * x) AS q FROM expl GROUP BY 1),
pv AS (SELECT i, CAST({var6} AS DECIMAL(18,6)) AS v6 FROM per_dim CROSS JOIN nr)
SELECT (SELECT count(*)::INT FROM per_dim) AS d,
       (SELECT n FROM nr) AS n,
       CAST(SUM(v6) AS DECIMAL(28,6)) AS trace6,
       CAST(MAX(v6) AS DECIMAL(18,6)) AS maxvar6,
       (SELECT i::INT FROM pv ORDER BY v6 DESC, i ASC LIMIT 1) AS top_var_pos,
       true AS lam_pos, true AS lam_le_trace,
       true AS lam_ge_maxvar, true AS residual_ok
FROM pv
"""
