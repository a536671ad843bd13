"""Streaming relational operators (beyond-reference; the reference is
batch-only — SURVEY.md §2.9): stateful key dedup and stream-static
dimension enrichment.

Both are the production shapes a training-data ingest pipeline runs
continuously: dedup-on-arrival and join-to-dims-on-arrival.  Both are
drained with ``availableNow`` in tests so a batch SQL oracle checks them
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from k_means_hadoop_spark.operators.analytics import merge_changelog_of
from k_means_hadoop_spark.operators.dedup import build_signature_store, incremental_dedup_from_store
from k_means_hadoop_spark.session import scratch_dir


def dedup_stream_keys(events: DataFrame, keys: list[str]) -> DataFrame:
    """First-seen streaming deduplication on ``keys``.

    Emits each distinct key combination once (append mode).  Projecting
    to the keys BEFORE ``dropDuplicates`` keeps the state store entries
    key-sized — never whole events.

    State is O(distinct keys) and unbounded here, which is correct for
    the drain-a-table tests; a forever-running stream at 100 TB/day
    should bound it with ``withWatermark(ts, ...)`` +
    ``dropDuplicatesWithinWatermark`` (same plan, state evicted past the
    watermark).
    """
    return events.select(*keys).dropDuplicates(keys)


def enrich_events_with_customer(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static equi-join: each arriving event picks up its
    customer's nation and segment.

    The static side is broadcast per micro-batch (customers is a
    dimension); the stream side never shuffles — the join is stateless,
    so append mode emits each event exactly once.
    """
    dim = F.broadcast(
        customers.select("c_custkey", "c_nationkey", "c_mktsegment")
    )
    return events.join(dim, events.user_id == dim.c_custkey).select(
        "event_id", "user_id", "event_type", "value", "c_nationkey", "c_mktsegment"
    )


def join_view_click_streams(
    views: DataFrame, clicks: DataFrame, within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM interval join: each click pairs with the same
    user's view events from the preceding ``within`` interval — the
    online attribution join (which impression led to this click?).

    Both sides carry a watermark and the join condition bounds
    click_ts - view_ts, so Spark can size the join state: a buffered
    view is dropped once the watermark passes view_ts + within (state
    is O(rate × interval), NOT O(stream length)).  Inner join + append
    mode → each matched pair is emitted exactly once; drained with
    availableNow over a finite source this equals the batch interval
    join, which is what the oracle asserts.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return v.join(
        c,
        F.expr(
            f"""v_user = c_user
            AND click_ts >= view_ts
            AND click_ts <= view_ts + INTERVAL {within}"""
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def streaming_upsert_snapshot(spark, events_stream: DataFrame, out_path: str, ckpt_path: str):
    """Continuous CDC apply: maintain a latest-record-per-key parquet
    snapshot from a keyed change stream via ``foreachBatch`` MERGE.

    Each micro-batch: reduce the batch to its newest record per key,
    union with the affected keys' current snapshot rows, re-reduce, and
    overwrite ONLY the touched key-bucket partitions (dynamic partition
    overwrite) — the idempotent upsert pattern that replaces a MERGE
    INTO on plain parquet.  Bucketing user_id % 16 bounds each batch's
    rewrite to the partitions it touches; at 100 TB the bucket count
    scales with key cardinality, not data volume.  Replaying a batch
    after a crash rewrites the same partitions to the same content
    (exactly-once effect on top of at-least-once foreachBatch)."""
    from pyspark.sql import Window

    def latest_per_key(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        batch_latest = latest_per_key(
            batch.select("user_id", "ts", "event_id", "event_type", "value")
        ).withColumn("bucket", (F.col("user_id") % 16).cast("int"))
        spark_b = batch_latest.sparkSession
        # Snapshot absence must be detected EXPLICITLY: only a missing
        # path means "first batch".  A transient read failure (FS hiccup,
        # listing race) must propagate so the micro-batch retries —
        # treating it as first-batch would overwrite touched buckets
        # with batch-only rows, silently dropping every other key's
        # latest record in those buckets.
        try:
            current = spark_b.read.parquet(out_path)
        except AnalysisException as e:
            err_class = e.getErrorClass() if hasattr(e, "getErrorClass") else None
            if err_class is not None and "PATH_NOT_FOUND" not in err_class:
                raise
            if err_class is None and "PATH_NOT_FOUND" not in str(e):
                raise
            current = None
        if current is not None:
            touched = [r["bucket"] for r in batch_latest.select("bucket").distinct().collect()]
            merged = latest_per_key(
                current.filter(F.col("bucket").isin(touched)).unionByName(batch_latest)
            )
        else:
            merged = batch_latest
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_path)
        )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_ingest_dedup(
    docs_stream: DataFrame,
    corpus_path: str,
    store_path: str,
    out_path: str,
    ckpt_path: str,
    batch_mod: int,
    batch_rem: int,
    n: int = 3,
    threshold: float = 0.7,
):
    """Dedup-on-arrival: every micro-batch of incoming documents is
    classified against the corpus's PERSISTED signature store — exact
    md5 semi-join, banded-LSH candidates (batch-vs-store only), exact
    Jaccard verify against the stored shingle arrays — and the
    per-document admission statuses are written to ``out_path``.

    This is the streaming face of
    ``operators.dedup.incremental_dedup_from_store``: the store (md5
    digests + banded signatures + verify shingles) is built ONCE before
    the stream starts (``build_signature_store`` — the table a live
    ingest service maintains across increments), and each micro-batch
    joins the store read from disk.  Per-batch cost is O(batch + the
    store rows its joins touch) — the corpus text is never re-read and
    never re-shingled, so batch latency is independent of corpus size.
    Drained with ``availableNow`` the single-batch result has a closed
    form, so the whole streaming loop is oracle-checkable.

    foreachBatch is at-least-once: a micro-batch can be REPLAYED after
    a failure, so the sink must be idempotent per batch_id.  Statuses
    are written partitioned by batch_id with dynamic partition
    overwrite — a replay rewrites its own partition instead of
    double-appending rows."""
    corpus = (
        docs_stream.sparkSession.read.parquet(corpus_path)
        .filter(F.col("doc_id") % batch_mod != batch_rem)
        .select("doc_id", "text")
    )
    build_signature_store(corpus, store_path, n=n, text_col="text")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        out = incremental_dedup_from_store(
            batch.select("doc_id", "text"), store_path, n=n, threshold=threshold
        )
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt_path)
        .trigger(availableNow=True)
        .start()
    )


def streaming_merge_changelog(spark, sf_dir: str, snap_root: str | None = None) -> "DataFrame":
    """The streaming face of the batch three-verb MERGE
    (``analytics.merge_apply_changelog``): the changelog arrives as a
    multi-batch stream and each micro-batch applies its slice to a
    VERSIONED snapshot (read v{batch_id}, write v{batch_id+1} — a
    replayed batch re-reads the same input version, so the apply is
    idempotent, the foreachBatch requirement).  Because every key
    appears at most once in the changelog, per-batch application in
    any order converges to the batch operator's snapshot — the same
    partition-invariance argument as the sketch merges, proven here by
    registering against the IDENTICAL oracle."""
    base = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_acctbal")
    )
    snap_root = snap_root or scratch_dir("merge_snap")
    base.withColumn("src", F.lit("base")).write.mode("overwrite").parquet(
        f"{snap_root}/v0"
    )
    chg_src = scratch_dir("merge_chg")
    merge_changelog_of(base).repartition(4).write.mode("overwrite").parquet(chg_src)

    def apply_batch(batch: "DataFrame", batch_id: int) -> None:
        cur = spark.read.parquet(f"{snap_root}/v{batch_id}")
        nxt = cur.join(batch, cur.c_custkey == batch.k, "full_outer").select(
            F.coalesce(F.col("c_custkey"), F.col("k")).alias("c_custkey"),
            F.when(F.col("op").isin("U", "I"), F.col("val"))
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            F.when(F.col("op") == "U", F.lit("updated"))
            .when(F.col("op") == "I", F.lit("inserted"))
            .otherwise(F.col("src"))
            .alias("src"),
            F.col("op"),
        )
        (
            nxt.where(F.col("op").isNull() | (F.col("op") != "D"))
            .drop("op")
            .write.mode("overwrite")
            .parquet(f"{snap_root}/v{batch_id + 1}")
        )

    chg_schema = spark.read.parquet(chg_src).schema
    stream = (
        spark.readStream.schema(chg_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chg_src)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", scratch_dir("merge_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import glob as _glob
    import os as _os

    latest = max(
        int(_os.path.basename(p)[1:]) for p in _glob.glob(f"{snap_root}/v*")
    )
    return spark.read.parquet(f"{snap_root}/v{latest}")
