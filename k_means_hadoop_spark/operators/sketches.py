"""Deterministic probabilistic-sketch and streaming-summary operators
with FULL value oracles.

The registry's other sketch entries (HLL, approx percentile/top-k,
MLlib MinHash) carry contract oracles because their registers are
engine-internal.  These two are built from the repo's portable hash
(``stable_hash64`` — md5-based, bit-identical in DuckDB), so every
register value is reproducible cross-engine and the driver hash checks
the SKETCH ITSELF, not just a tolerance envelope:

- Count-Min: d×w integer counter matrix over the event stream;
  estimate(u) = min_i counters[i][h_i(u)].  Overestimate-only is a
  theorem (each counter sums a superset of u's events) — pinned by
  test AND visible in the output as ``over = est - exact ≥ 0``.
- Bloom: m-bit membership filter over customer keys probed with a
  half-members/half-nonmembers id set; zero false negatives is the
  structural guarantee, the false-positive count is the measured rate.

Both sketches are pure groupBy/join plans: counters are built with ONE
map-side-combinable aggregation over d·N hash rows, probes join the
(tiny, broadcast) counter table.  At 100 TB the counter matrix is the
mergeable per-partition state CMS exists for — w·d integers per
executor, merged by addition.

The streaming faces (CMS, Bloom, HLL merges and the exact top-k users)
drain a micro-batch stream and must reproduce the batch result
exactly, so each shares its batch oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.hashing import stable_hash64, stable_hash64_sql
from k_means_hadoop_spark.operators.relational import _t

CMS_D = 4
# w=16 is the FIXTURE-scale width: small enough that the 15-user sf0.001
# corpus still produces all-rows collisions (the overestimate path must
# engage at test scale to be tested at all); production sizes w = e/eps.
CMS_W = 16
BLOOM_M_PER_KEY = 4  # m = 4·n_keys → load k/4, fp ≈ (1−e^{-3/4})³ ≈ 15%
BLOOM_K = 3
BLOOM_PROBE_N = 300


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from k_means_hadoop_spark.sources.events import load_events

    return load_events(spark, sf_dir)


def _cms_key(i: int, col: str) -> F.Column:
    return F.concat(F.lit(f"cms{i}:"), F.col(col).cast("string"))


def _cms_key_sql(i: int, expr: str) -> str:
    return f"('cms{i}:' || {expr}::VARCHAR)"


def cms_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # __doc__ assigned below: a literal followed by .format() is a
    # discarded expression, not a docstring
    ev = _events(spark, sf_dir).select("user_id")
    rows = ev.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (stable_hash64(_cms_key(i, "user_id")) % CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("hb"),
    ).select("user_id", "hb.i", "hb.bucket")
    counters = rows.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    probe = exact.select(
        "user_id",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (stable_hash64(_cms_key(i, "user_id")) % CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("hb"),
    ).select("user_id", "exact", "hb.i", "hb.bucket")
    return (
        probe.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id", "exact")
        .agg(F.min("cnt").alias("est"))
        .select(
            "user_id",
            "exact",
            "est",
            (F.col("est") - F.col("exact")).alias("over"),
        )
    )


cms_event_counts.__doc__ = (
    "(user_id, exact, est, over) — per-user event counts, exact vs "
    "the Count-Min estimate from a d={d}, w={w} sketch."
).format(d=CMS_D, w=CMS_W)


def _cms_sql() -> str:
    hash_rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS i, "
        f"{stable_hash64_sql(_cms_key_sql(i, 'user_id'))} % {CMS_W} AS bucket "
        "FROM events"
        for i in range(CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, exact, {i} AS i, "
        f"{stable_hash64_sql(_cms_key_sql(i, 'user_id'))} % {CMS_W} AS bucket "
        "FROM exact"
        for i in range(CMS_D)
    )
    return f"""
WITH rows_h AS ({hash_rows}),
counters AS (SELECT i, bucket, count(*)::BIGINT AS cnt FROM rows_h GROUP BY 1, 2),
exact AS (SELECT user_id, count(*)::BIGINT AS exact FROM events GROUP BY user_id),
probe AS ({probe_rows}),
est AS (
  SELECT p.user_id, p.exact, min(c.cnt)::BIGINT AS est
  FROM probe p JOIN counters c ON c.i = p.i AND c.bucket = p.bucket
  GROUP BY 1, 2)
SELECT user_id, exact, est, (est - exact)::BIGINT AS over FROM est
"""


def _bloom_key(j: int, col: str) -> F.Column:
    return F.concat(F.lit(f"bloom{j}:"), F.col(col).cast("string"))


def _bloom_key_sql(j: int, expr: str) -> str:
    return f"('bloom{j}:' || {expr}::VARCHAR)"


def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_members, n_nonmembers, false_positives,
    false_negatives) — a Bloom filter sized m = {c}·n_keys (constant
    k/{c} load at EVERY corpus size — the sizing rule a production
    filter uses), k={k} hashes, built over ALL customer keys and
    probed with up to {p} known members and as many known non-members
    (ids beyond max(c_custkey)).  false_negatives = 0 is the Bloom
    guarantee; false_positives is the measured rate (~15% by design,
    so the exhibit never goes vacuous or saturated).""".format(
        c=BLOOM_M_PER_KEY, k=BLOOM_K, p=BLOOM_PROBE_N
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    m_df = cust.agg((F.count(F.lit(1)) * BLOOM_M_PER_KEY).alias("m"))
    bits = (
        cust.crossJoin(F.broadcast(m_df))
        .select(
            F.explode(
                F.array(
                    *[
                        (stable_hash64(_bloom_key(j, "c_custkey")) % F.col("m")).alias(
                            "b"
                        )
                        for j in range(BLOOM_K)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    max_key = cust.agg(F.max("c_custkey").alias("mx"))
    members = cust.where(F.col("c_custkey") < BLOOM_PROBE_N).select(
        F.col("c_custkey").alias("probe"), F.lit(1).alias("is_member")
    )
    nonmembers = (
        cust.where(F.col("c_custkey") < BLOOM_PROBE_N)
        .crossJoin(F.broadcast(max_key))
        .select(
            (F.col("c_custkey") + F.col("mx") + F.lit(1)).alias("probe"),
            F.lit(0).alias("is_member"),
        )
    )
    probes = members.unionByName(nonmembers)
    probe_bits = probes.crossJoin(F.broadcast(m_df)).select(
        "probe",
        "is_member",
        F.explode(
            F.array(
                *[
                    (stable_hash64(_bloom_key(j, "probe")) % F.col("m")).alias("b")
                    for j in range(BLOOM_K)
                ]
            )
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(
            F.broadcast(bits.withColumn("set_", F.lit(1))), "bit", "left"
        )
        .groupBy("probe", "is_member")
        .agg(
            (F.count(F.lit(1)) == F.sum(F.coalesce(F.col("set_"), F.lit(0))))
            .cast("int")
            .alias("positive")
        )
    )
    return hits.agg(
        F.sum("is_member").cast("bigint").alias("n_members"),
        F.sum(1 - F.col("is_member")).cast("bigint").alias("n_nonmembers"),
        F.sum(
            F.when((F.col("is_member") == 0) & (F.col("positive") == 1), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("false_positives"),
        F.sum(
            F.when((F.col("is_member") == 1) & (F.col("positive") == 0), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("false_negatives"),
    )


def _bloom_sql() -> str:
    bit_rows = " UNION ALL ".join(
        f"SELECT {stable_hash64_sql(_bloom_key_sql(j, 'c_custkey'))} % mm.m AS bit "
        "FROM customer CROSS JOIN mm"
        for j in range(BLOOM_K)
    )
    probe_bit_rows = " UNION ALL ".join(
        f"SELECT probe, is_member, "
        f"{stable_hash64_sql(_bloom_key_sql(j, 'probe'))} % mm.m AS bit "
        "FROM probes CROSS JOIN mm"
        for j in range(BLOOM_K)
    )
    return f"""
WITH mm AS (SELECT (count(*) * {BLOOM_M_PER_KEY})::BIGINT AS m FROM customer),
bits AS (SELECT DISTINCT bit FROM ({bit_rows})),
mx AS (SELECT max(c_custkey) AS mx FROM customer),
probes AS (
  SELECT c_custkey AS probe, 1 AS is_member FROM customer
  WHERE c_custkey < {BLOOM_PROBE_N}
  UNION ALL
  SELECT c_custkey + mx.mx + 1, 0 FROM customer CROSS JOIN mx
  WHERE c_custkey < {BLOOM_PROBE_N}),
pb AS ({probe_bit_rows}),
hits AS (
  SELECT p.probe, p.is_member,
         CAST(count(*) = SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS positive
  FROM pb p LEFT JOIN bits b ON b.bit = p.bit
  GROUP BY 1, 2)
SELECT SUM(is_member)::BIGINT AS n_members,
       SUM(1 - is_member)::BIGINT AS n_nonmembers,
       SUM(CASE WHEN is_member = 0 AND positive = 1 THEN 1 ELSE 0 END)::BIGINT AS false_positives,
       SUM(CASE WHEN is_member = 1 AND positive = 0 THEN 1 ELSE 0 END)::BIGINT AS false_negatives
FROM hits
"""


SKETCH_QUERIES = {
    "cms_event_counts": (cms_event_counts, _cms_sql()),
    "bloom_membership_audit": (bloom_membership_audit, _bloom_sql()),
}


def cms_event_counts_streaming(
    spark: SparkSession, sf_dir: str, store_path: str | None = None
) -> DataFrame:
    """The SAME Count-Min result as ``cms_event_counts``, built by
    MERGING per-micro-batch counter partials across a real multi-batch
    Structured Streaming drain — the property CMS exists for: counters
    merge by ADDITION, so the stream-of-partials equals the one-shot
    batch sketch exactly, and the entry registers against the SAME
    oracle (``_cms_sql``) to prove it.

    Shape: the event stream (4 source files, maxFilesPerTrigger=1 → 4
    micro-batches) runs ``foreachBatch``; each batch writes its OWN
    (i, bucket, cnt) partial into a batch_id-partitioned store
    (overwrite-by-partition → idempotent under micro-batch retry, the
    repo's streaming-sink convention); the merged counters are one
    grouped SUM over the store.  At scale this is exactly the
    per-executor-partial + merge topology the batch aggregate already
    uses, made durable across time."""
    import uuid

    from k_means_hadoop_spark.session import scratch_dir

    src = scratch_dir("cms_src")
    store = store_path or scratch_dir("cms_store")
    ev = _events(spark, sf_dir).select("user_id")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def _hash_rows(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            (stable_hash64(_cms_key(i, "user_id")) % CMS_W).alias(
                                "bucket"
                            ),
                        )
                        for i in range(CMS_D)
                    ]
                )
            ).alias("hb")
        ).select("hb.i", "hb.bucket")

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            _hash_rows(batch_df)
            .groupBy("i", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            partial.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", scratch_dir("cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counters = (
        spark.read.parquet(store)
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    probe = exact.select(
        "user_id",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (stable_hash64(_cms_key(i, "user_id")) % CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("hb"),
    ).select("user_id", "exact", "hb.i", "hb.bucket")
    return (
        probe.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id", "exact")
        .agg(F.min("cnt").cast("bigint").alias("est"))
        .select(
            "user_id",
            "exact",
            "est",
            (F.col("est") - F.col("exact")).alias("over"),
        )
    )


SKETCH_QUERIES["streaming_cms_counts"] = (cms_event_counts_streaming, _cms_sql())


def bloom_bits_streaming(
    spark: SparkSession, sf_dir: str, store_path: str | None = None
) -> DataFrame:
    """The SAME Bloom membership audit as ``bloom_membership_audit``,
    with the bit set built by OR-MERGING per-micro-batch bit partials
    across a multi-batch drain — the union-merge counterpart of the
    Count-Min's addition merge, registered against the SAME oracle.
    Each batch writes its batch's distinct bits into a
    batch_id-partitioned store; the merged filter is one DISTINCT over
    the store (bitwise OR ≡ set union of set bit positions)."""
    from k_means_hadoop_spark.session import scratch_dir

    src = scratch_dir("bloom_src")
    store = store_path or scratch_dir("bloom_store")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    m_df = cust.agg((F.count(F.lit(1)) * BLOOM_M_PER_KEY).alias("m"))
    m_val = m_df.first()["m"]
    cust.repartition(4).write.mode("overwrite").parquet(src)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.select(
                F.explode(
                    F.array(
                        *[
                            (
                                stable_hash64(_bloom_key(j, "c_custkey"))
                                % F.lit(m_val)
                            ).alias("b")
                            for j in range(BLOOM_K)
                        ]
                    )
                ).alias("bit")
            )
            .distinct()
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            partial.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    stream = (
        spark.readStream.schema(cust.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", scratch_dir("bloom_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    bits = spark.read.parquet(store).select("bit").distinct()
    max_key = cust.agg(F.max("c_custkey").alias("mx"))
    members = cust.where(F.col("c_custkey") < BLOOM_PROBE_N).select(
        F.col("c_custkey").alias("probe"), F.lit(1).alias("is_member")
    )
    nonmembers = (
        cust.where(F.col("c_custkey") < BLOOM_PROBE_N)
        .crossJoin(F.broadcast(max_key))
        .select(
            (F.col("c_custkey") + F.col("mx") + F.lit(1)).alias("probe"),
            F.lit(0).alias("is_member"),
        )
    )
    probe_bits = members.unionByName(nonmembers).select(
        "probe",
        "is_member",
        F.explode(
            F.array(
                *[
                    (stable_hash64(_bloom_key(j, "probe")) % F.lit(m_val)).alias(
                        "b"
                    )
                    for j in range(BLOOM_K)
                ]
            )
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(
            F.broadcast(bits.withColumn("set_", F.lit(1))), "bit", "left"
        )
        .groupBy("probe", "is_member")
        .agg(
            (F.count(F.lit(1)) == F.sum(F.coalesce(F.col("set_"), F.lit(0))))
            .cast("int")
            .alias("positive")
        )
    )
    return hits.agg(
        F.sum("is_member").cast("bigint").alias("n_members"),
        F.sum(1 - F.col("is_member")).cast("bigint").alias("n_nonmembers"),
        F.sum(
            F.when((F.col("is_member") == 0) & (F.col("positive") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_positives"),
        F.sum(
            F.when((F.col("is_member") == 1) & (F.col("positive") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_negatives"),
    )


SKETCH_QUERIES["streaming_bloom_bits"] = (bloom_bits_streaming, _bloom_sql())


# ----------------------------------------------------- portable HLL
#
# HyperLogLog with FULLY portable registers — unlike the
# `hll_users_daily` entry (Spark's internal HLL++, contract-oracled),
# every register here derives from the md5 stable_hash64, so the
# driver hash checks the sketch registers themselves:
#
#   h = stable_hash64('hll:' || user_id)   (60-bit, non-negative)
#   bucket = h mod 64,  w = h div 64       (54-bit remainder)
#   rho = 55 - bitlen(w)  (w > 0)   |   55 (w = 0)
#       — leading zeros in the 54-bit window + 1; bitlen via the
#         engine-identical bin() string length (verified: Spark and
#         DuckDB bin() both print without leading zeros)
#
# The harmonic sum is kept EXACT by scaling: Σ 2^(-M_j) over all 64
# buckets (absent bucket ⇒ M=0) becomes the integer
# S = Σ 2^(55 - M_j) ≤ 64·2^55 < 2^62 — both engines then do ONE
# identical double division for the estimate.  The streaming face is
# the MAX-merge (registers are max-mergeable), completing the
# sketch-merge family: Count-Min = addition, Bloom = OR,
# MinHash = min, HLL = max.

HLL_M = 64
_HLL_W_BITS = 54  # 60-bit hash minus 6 bucket bits
# alpha_m for m = 64, the standard bias constant — every literal is
# CAST to DOUBLE because bare decimal-point literals parse as DECIMAL
# in BOTH engines (with different precision rules); the explicit casts
# make the multiply/divide chain identical IEEE double ops.
_HLL_EST = (
    "(CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE)"
    " + CAST(1.079 AS DOUBLE) / CAST({m} AS DOUBLE)))"
    " * CAST({m} AS DOUBLE) * CAST({m} AS DOUBLE)"
    " * CAST({two_pow} AS DOUBLE) / CAST(s_scaled AS DOUBLE)"
).format(m=HLL_M, two_pow=1 << (_HLL_W_BITS + 1))


def _hll_rho(h: F.Column) -> F.Column:
    # h div 64 as an EXACT integer op: h is a non-negative 60-bit hash,
    # i.e. above 2^53, so `h / 64` (IEEE double division in Spark) could
    # differ by ±1 from DuckDB's exact integer `h // 64` near a
    # power-of-two boundary and flip the bin() length.  shiftright is
    # pure integer (h >> 6 == h // 64 for h >= 0) on both engines.
    w = F.shiftright(h, 6)
    return F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w))
    )


def _hll_registers(keys: DataFrame, key_col: str = "user_id") -> DataFrame:
    """(bucket, register) for buckets hit by ≥1 key (register = max rho)."""
    h = stable_hash64(F.concat(F.lit("hll:"), F.col(key_col).cast("string")))
    return (
        keys.select((h % HLL_M).cast("int").alias("bucket"), _hll_rho(h).alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )


def _hll_summary(registers: DataFrame, exact: DataFrame) -> DataFrame:
    """One row (n_exact, n_buckets_hit, sum_rho, max_rho, s_scaled,
    estimate, rel_err) — s_scaled/sum_rho/max_rho pin the register
    table; the estimate is the classic alpha·m²/Σ2^(-M)."""
    regs = registers.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_hit"),
        F.sum("register").cast("bigint").alias("sum_rho"),
        F.max("register").cast("bigint").alias("max_rho"),
        # hit buckets contribute 2^(55-M); the (64 - hit) empty buckets
        # contribute 2^55 each, added below via n_buckets_hit
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {_HLL_W_BITS + 1} - CAST(register AS INT))"
            )
        )
        .cast("bigint")
        .alias("s_hit"),
    )
    s_all = (
        F.col("s_hit")
        + (F.lit(HLL_M) - F.col("n_buckets_hit")) * F.lit(1 << (_HLL_W_BITS + 1))
    ).cast("bigint")
    # floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): the estimate is a
    # small-denominator rational that can sit exactly on a 6-dp half,
    # where Spark's and DuckDB's round() disagree (round-4 divergence
    # class); the floor form is engine-identical.
    est = F.expr(
        f"floor(({_HLL_EST}) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        " / CAST(1000000 AS DOUBLE)"
    )
    return (
        regs.crossJoin(F.broadcast(exact))
        .withColumn("s_scaled", s_all)
        .withColumn("estimate", est)
        .select(
            "n_exact",
            "n_buckets_hit",
            "sum_rho",
            "max_rho",
            "s_scaled",
            "estimate",
            F.expr(
                "floor(abs(estimate - n_exact) / CAST(n_exact AS DOUBLE)"
                " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
                " / CAST(1000000 AS DOUBLE)"
            ).alias("rel_err"),
        )
    )


def hll_portable_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch portable HLL over distinct event users."""
    ev = _events(spark, sf_dir).select("user_id")
    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    return _hll_summary(_hll_registers(ev), exact)


def streaming_hll_merge(
    spark: SparkSession, sf_dir: str, store_path: str | None = None
) -> DataFrame:
    """The max-merge: per-micro-batch registers written idempotently,
    merged by groupBy(bucket).max — same oracle as the batch sketch."""
    from k_means_hadoop_spark.session import scratch_dir

    ev = _events(spark, sf_dir).select("user_id")
    src = scratch_dir("hll_src")
    store = store_path or scratch_dir("hll_store")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            _hll_registers(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", scratch_dir("hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(store)
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )
    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    return _hll_summary(merged, exact)


def _hll_sql() -> str:
    h = stable_hash64_sql("('hll:' || user_id::VARCHAR)")
    w_bits1 = _HLL_W_BITS + 1
    return f"""
WITH hb AS (
  SELECT ({h}) % {HLL_M} AS bucket,
         ({h}) // {HLL_M} AS w
  FROM events),
regs AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN {w_bits1}
                  ELSE {w_bits1} - length(bin(w)) END) AS register
  FROM hb GROUP BY bucket),
agg AS (
  SELECT count(*)::BIGINT AS n_buckets_hit,
         SUM(register)::BIGINT AS sum_rho,
         MAX(register)::BIGINT AS max_rho,
         SUM((1::BIGINT << ({w_bits1} - register)))::BIGINT AS s_hit
  FROM regs),
ex AS (SELECT count(DISTINCT user_id)::BIGINT AS n_exact FROM events),
s AS (SELECT n_exact, n_buckets_hit, sum_rho, max_rho,
             (s_hit + ({HLL_M} - n_buckets_hit) * (1::BIGINT << {w_bits1}))::BIGINT AS s_scaled
      FROM agg CROSS JOIN ex),
e AS (SELECT *, floor(({_HLL_EST}) * CAST(1000000 AS DOUBLE)
                      + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS estimate
      FROM s)
SELECT n_exact, n_buckets_hit, sum_rho, max_rho, s_scaled, estimate,
       floor(abs(estimate - n_exact) / CAST(n_exact AS DOUBLE)
             * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / CAST(1000000 AS DOUBLE) AS rel_err
FROM e
"""


SKETCH_QUERIES["hll_portable_registers"] = (hll_portable_registers, _hll_sql())
SKETCH_QUERIES["streaming_hll_merge"] = (streaming_hll_merge, _hll_sql())


# --------------------------------------------- streaming exact top-k
#
# Exact heavy users from a stream: per-micro-batch (user_id, count)
# partials written idempotently (batch_id-partitioned dynamic
# overwrite), merged by sum — counts are fully mergeable, so the
# drained result equals batch GROUP BY + top-k exactly and shares its
# oracle (the sum-merge law, proven the same way the sketch faces
# prove theirs).  Shuffle per batch ∝ distinct users in the batch.

_TOPK_USERS = 10


def streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events) — exact top-{k} users by event count,
    computed as a streaming count-merge drained with availableNow."""
    from k_means_hadoop_spark.session import scratch_dir

    ev = _t(spark, sf_dir, "events").select("user_id")
    src = scratch_dir("topk_src")
    store = scratch_dir("topk_store")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", scratch_dir("topk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(store)
        .groupBy("user_id")
        .agg(F.sum("n").alias("n_events"))
    )
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOPK_USERS)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


streaming_topk_users.__doc__ = streaming_topk_users.__doc__.format(
    k=_TOPK_USERS
)

TOPK_USERS_SQL = f"""
SELECT user_id, count(*)::BIGINT AS n_events
FROM events GROUP BY 1
ORDER BY n_events DESC, user_id ASC
LIMIT {_TOPK_USERS}
"""


SKETCH_QUERIES["streaming_topk_users"] = (streaming_topk_users, TOPK_USERS_SQL)
