"""Structured Streaming surface (beyond-reference; SURVEY.md §2.9 marks
the reference batch-only — this is the north-star streaming extension).

Three streaming operators over the ``events`` stream:

- ``stream_assign``        — stateless streaming k-means assignment:
  the same zero-shuffle literal-fold expression as the batch path
  (operators/assign.py) applied to a readStream source.  Identical
  semantics batch vs stream by construction.
- ``windowed_event_stats`` — watermarked tumbling-window aggregation
  (late data dropped past the watermark).
- ``streaming_kmeans_update`` — stateful mini-batch centroid updates
  via foreachBatch: per micro-batch, c_new = (1-α)·c_old + α·mean(batch
  members) — the classic streaming k-means rule (MLlib's
  StreamingKMeans decay model), with centroid state held driver-side
  (k×d, the only mutable state — same discipline as the batch loop).

Event featurization: [value, hour_of_day] — 2-d, purely so the stream
has a vector to cluster; any numeric projection works.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from k_means_hadoop_spark.operators.assign import Centroids, assign_expr
from k_means_hadoop_spark.operators.recompute import recompute_centroids
from k_means_hadoop_spark.session import scratch_dir


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over event parquet files (ts nanos → timestamp).

    The fixture parquet stores ``ts`` as TIMESTAMP(NANOS).  How that
    surfaces depends on the Spark version (nanosAsLong BIGINT on 3.x vs
    native TIMESTAMP_NTZ on 4.1+), so the stream schema mirrors whatever
    a batch footer-read of the same path reports, then normalizes to
    TIMESTAMP (session tz is UTC — wall clock preserved).

    Accepts a directory or glob; a single *file* path (the shape of the
    local test fixtures) is staged as a symlink inside a temp directory,
    because the file stream source only monitors directories."""
    import os

    batch_ts = spark.read.parquet(path).schema["ts"].dataType
    if path.endswith(".parquet") and os.path.isfile(path):
        staging = scratch_dir("event_stream")
        os.symlink(path, os.path.join(staging, os.path.basename(path)))
        path = staging
    raw = (
        spark.readStream.schema(_events_schema(batch_ts))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    if isinstance(batch_ts, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def featurize_events(events: DataFrame) -> DataFrame:
    """events → (id, features ARRAY<DOUBLE>) with ts carried."""
    return events.select(
        F.col("event_id").alias("id"),
        "ts",
        "event_type",
        F.array(
            F.col("value").cast("double"),
            F.hour("ts").cast("double"),
        ).alias("features"),
    )


def stream_assign(events: DataFrame, centroids: Centroids) -> DataFrame:
    """Stateless per-event nearest-centroid assignment (stream-safe:
    narrow projection, no shuffle, no state) — the batch ``assign_expr``
    over the featurized events."""
    return assign_expr(featurize_events(events), centroids)


def windowed_event_stats(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@dataclass
class StreamingKMeansState:
    """Driver-held k×d centroid state updated per micro-batch."""

    centroids: list[tuple[int, list[float]]]
    alpha: float = 0.5
    batches_seen: int = 0
    history: list[list[tuple[int, list[float]]]] = field(default_factory=list)

    def update_from_batch(self, batch_df: DataFrame) -> None:
        """Mini-batch update: assign batch to current centroids, then
        c ← (1-α)·c + α·batch_mean for clusters that received points."""
        if not batch_df.take(1):
            return
        d = len(self.centroids[0][1])
        assigned = assign_expr(batch_df, self.centroids)
        batch_means = {
            r["cluster"]: list(r["centroid"])
            for r in recompute_centroids(assigned, d=d).collect()
        }
        new: list[tuple[int, list[float]]] = []
        for cid, vec in self.centroids:
            if cid in batch_means:
                bm = batch_means[cid]
                new.append(
                    (cid, [(1 - self.alpha) * v + self.alpha * m for v, m in zip(vec, bm)])
                )
            else:
                new.append((cid, vec))
        self.history.append(self.centroids)
        self.centroids = new
        self.batches_seen += 1


def streaming_kmeans_update(
    events: DataFrame, state: StreamingKMeansState, checkpoint_dir: str
):
    """foreachBatch stateful streaming k-means; returns the StreamingQuery.

    Caller drives the stream (e.g. trigger(availableNow=True) +
    awaitTermination) and reads final centroids off ``state``.
    """
    feat = featurize_events(events).select("id", "features")

    def _update(batch_df: DataFrame, _batch_id: int) -> None:
        state.update_from_batch(batch_df)

    return (
        feat.writeStream.foreachBatch(_update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
