"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource`` API) —
the beyond-reference connector seam: how this engine would ingest a
bespoke feed (an internal record service, a proprietary file format)
without JVM code.

``ArithSeqDataSource`` generates a deterministic arithmetic sequence,
PARTITIONED: the planner asks the source for input partitions and each
executor materializes only its slice — the same contract a real
connector uses to parallelize reads.  Values are pure integer
arithmetic (Knuth multiplicative hash), so the scan is exactly
reproducible in any engine — the registry checks it against a DuckDB
``range()`` query.

At 100 TB the Python data source is the slow path vs native parquet
(rows cross the Python boundary via Arrow); it's the EXTENSIBILITY
seam, not the bulk-scan path — which is why the registered query pushes
an aggregate on top, the realistic shape (custom source → first
aggregation) for a side feed.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

SEQ_MULT = 2654435761  # Knuth multiplicative constant (same as curation split)
SEQ_MOD = 1000


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _ArithSeqReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        step = max(1, self.n // self.parts)
        bounds = list(range(0, self.n, step)) + [self.n]
        return [_RangePartition(a, b) for a, b in zip(bounds, bounds[1:])]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (i, (i * SEQ_MULT) % SEQ_MOD)


class ArithSeqDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "arith_seq"

    def schema(self) -> str:
        return "id bigint, val bigint"

    def reader(self, schema) -> _ArithSeqReader:
        return _ArithSeqReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the custom format with the session.

    The DataSource class is cloudpickled to the worker that instantiates
    it and ships by value under the package-wide pickling rule
    (``k_means_hadoop_spark/__init__.py``), so the source works wherever
    the driver runs from — the portability a connector seam must have."""
    spark.dataSource.register(ArithSeqDataSource)


def read_arith_seq(spark, n: int, parts: int = 8):
    register(spark)
    return (
        spark.read.format("arith_seq")
        .option("n", str(n))
        .option("parts", str(parts))
        .load()
    )


# ------------------------------------------------------------------ streaming

from pyspark.sql.datasource import DataSourceStreamReader


class _ArithSeqStreamReader(DataSourceStreamReader):
    """Micro-batch reader over the same deterministic sequence: offsets
    are plain row indices, each batch covers [start, end) split into
    ``parts`` input partitions — the contract a real feed (Kafka-like
    cursor, change stream) implements.  ``latestOffset`` reports full
    availability (an availableNow run snapshots it ONCE up front — an
    incrementally-advancing latest would silently truncate the drain to
    the first micro-batch, which is exactly the bug the exactly-once
    oracle count catches)."""

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 4))

    def initialOffset(self):
        return {"i": 0}

    def latestOffset(self):
        return {"i": self.n}

    def partitions(self, start, end):
        a, b = start["i"], end["i"]
        step = max(1, (b - a) // self.parts) if b > a else 1
        bounds = list(range(a, b, step)) + [b]
        return [_RangePartition(x, y) for x, y in zip(bounds, bounds[1:])]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (i, (i * SEQ_MULT) % SEQ_MOD)

    def commit(self, end):
        pass


class ArithSeqStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "arith_seq_stream"

    def schema(self) -> str:
        return "id bigint, val bigint"

    def streamReader(self, schema) -> _ArithSeqStreamReader:
        return _ArithSeqStreamReader(self.options)


def register_stream(spark) -> None:
    """Idempotent registration of the streaming source, as in ``register``."""
    spark.dataSource.register(ArithSeqStreamDataSource)


def read_arith_seq_stream(spark, n: int, parts: int = 4):
    register_stream(spark)
    return (
        spark.readStream.format("arith_seq_stream")
        .option("n", str(n))
        .option("parts", str(parts))
        .load()
    )
