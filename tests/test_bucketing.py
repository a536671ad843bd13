"""Bucketed co-located join — the pre-shuffle lever for repeated big-big
joins at 100 TB.

Writing both sides bucketed by the join key (same bucket count) lets the
sort-merge join read bucket-aligned splits: NO Exchange on either side.
This is the storage-layout answer to "orders ⋈ lineitem shuffles 100 TB
every night" — shuffle once at write time, never again at read time.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from k_means_hadoop_spark.plans import n_nodes, plan_of
from k_means_hadoop_spark.sources.sinks import write_clustered_parquet


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for name, df, key in (("b_orders", orders, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .option("path", str(wh / name))  # external table: no static warehouse conf
            .saveAsTable(name)
        )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_no_shuffle(spark, bucketed_tables):
    ot, lt = bucketed_tables
    orders = spark.table(ot)
    li = spark.table(lt)
    joined = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderstatus"
    ).agg(F.count(F.lit(1)).alias("n"))
    p = plan_of(joined)
    joins = n_nodes(p, "SortMergeJoin")
    assert joins == 1, p
    # the ONLY exchange allowed is the final groupBy aggregation — the
    # join itself must consume bucket-aligned scans with no shuffle
    n_exchanges = n_nodes(p, "Exchange")
    assert n_exchanges == 1, f"expected only the agg exchange, got {n_exchanges}:\n{p}"


def test_bucketed_join_matches_plain(spark, sf_dir, bucketed_tables):
    ot, lt = bucketed_tables
    bucketed = (
        spark.table(lt)
        .join(spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .count()
    )
    plain = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .count()
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, plain.collect()))


def test_clustered_write_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """write_clustered_parquet must produce files owning DISJOINT key
    ranges (checked via parquet footer stats) — the property that lets a
    range predicate skip whole files at 100 TB — and read back exactly."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = str(tmp_path / "clustered")
    write_clustered_parquet(ev.select("event_id", "user_id", "value"), out, "user_id")

    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["user_id"]).statistics
            los.append(st.min)
            his.append(st.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    assert len(ranges) >= 2  # the range partitioner actually split
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {hi1} vs {lo2}"
    # roundtrip: nothing lost or duplicated
    assert spark.read.parquet(out).count() == ev.count()
