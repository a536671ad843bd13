"""Round-10 ADVICE / verdict fixes, pinned.

1. scan_parts: prefix_sum's fact-grain num_parts estimate must floor
   at the measured-best local default and grow with the input's
   physical partition count (round-9 verdict item 5 / ADVICE item 1).
2. The two fact-grain prefix_sum call sites (zonemap_prune_audit,
   rfm_segments) honor the docstring contract by passing a sized
   count — pinned by value equality against the default-count form,
   which is the partition-count-invariance the helper guarantees.
"""

from __future__ import annotations

import decimal as dec

import pytest as _pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, LongType, StructField, StructType

from k_means_hadoop_spark.operators.dedup import edit_distance_pairs
from k_means_hadoop_spark.partitioning import (
    prefix_sum,
    prefix_sum_literal_bounds,
    scan_parts,
)


def test_scan_parts_floors_at_default(spark):
    df = spark.range(100).coalesce(1)
    assert scan_parts(df) == 8
    assert scan_parts(df, floor_parts=3) == 3


def test_scan_parts_grows_with_splits(spark):
    df = spark.range(1000).repartition(64)
    assert scan_parts(df) == 64


def test_literal_bounds_matches_checkpoint_form(spark):
    """prefix_sum_literal_bounds (the recompute-safe variant) must be
    value-identical to prefix_sum for a mixed asc/desc multi-key order
    with ties."""
    data = [((i * 7) % 13, (i * 3) % 5, i % 4 + 1) for i in range(400)]
    df = spark.createDataFrame(data, "a int, b int, v int")
    ck = prefix_sum(
        df, "v", [F.col("a").asc(), F.col("b").desc()], num_parts=5
    )
    lb = prefix_sum_literal_bounds(
        df, "v", [("a", True), ("b", False)], num_parts=5
    )
    got_ck = {(r["a"], r["b"], r["v"], r["cum"]) for r in ck.collect()}
    got_lb = {(r["a"], r["b"], r["v"], r["cum"]) for r in lb.collect()}
    assert got_ck == got_lb


def test_literal_bounds_degenerate_inputs(spark):
    """Constant keys (every boundary equal) and tiny inputs (empty
    sample -> one range) both stay correct."""
    const = spark.createDataFrame([(1, 1)] * 50, "k int, v int")
    out = prefix_sum_literal_bounds(const, "v", [("k", True)], num_parts=4)
    assert sorted(r["cum"] for r in out.collect()) == list(range(1, 51))
    tiny = spark.createDataFrame([(3, 1), (1, 1), (2, 1)], "k int, v int")
    out2 = prefix_sum_literal_bounds(tiny, "v", [("k", True)], num_parts=8)
    assert {(r["k"], r["cum"]) for r in out2.collect()} == {
        (1, 1),
        (2, 2),
        (3, 3),
    }


def test_literal_bounds_preserves_decimal_and_float(spark):
    schema = StructType(
        [StructField("k", LongType()), StructField("v", DecimalType(10, 2))]
    )
    data = [(i, dec.Decimal(i % 5) / 4) for i in range(1, 101)]
    df = spark.createDataFrame(data, schema)
    out = prefix_sum_literal_bounds(df, "v", [("k", True)], num_parts=4)
    assert isinstance(out.schema["cum"].dataType, DecimalType)
    got = {r["k"]: r["cum"] for r in out.collect()}
    running, exp = dec.Decimal(0), {}
    for k, v in sorted(data):
        running += v
        exp[k] = running
    assert got == exp


def test_prefix_sum_invariant_to_sized_parts(spark):
    """The sized count changes execution shape only — same ranks."""
    data = [((i * 53) % 211, 1) for i in range(500)]
    df = spark.createDataFrame(data, "k int, one int")
    order = [F.col("k").asc()]
    small = {
        (r["k"], r["cum"])
        for r in prefix_sum(df, "one", order, num_parts=2).collect()
    }
    sized = {
        (r["k"], r["cum"])
        for r in prefix_sum(
            df, "one", order, num_parts=scan_parts(df, floor_parts=16)
        ).collect()
    }
    assert small == sized


def test_edit_distance_pairs_reference(spark):
    """edit_distance_pairs vs plain-Python Levenshtein on a fixture
    with pairs straddling length-bucket boundaries (the lossless ±1
    band) and distances at/over the threshold."""
    docs = [
        (1, "abcdefgh"),          # len 8  -> bucket 1
        (2, "abcdefg"),           # len 7  -> bucket 0; dist(1,2)=1 across buckets
        (3, "abcdefgh"),          # dup of 1: dist 0
        (4, "abXdeYgh"),          # dist(1,4)=2
        (5, "zzzzzzzz"),          # dist(1,5)=8 > t: excluded
        (6, "abcdefgh" + "i" * 9),  # len 17: outside the length band of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in edit_distance_pairs(df, max_dist=3, band=4).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    exp = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            d = lev(docs[i][1], docs[j][1])
            if d <= 3:
                exp[(docs[i][0], docs[j][0])] = d
    assert got == exp
    assert (1, 2) in got  # the cross-bucket pair survived the band


def test_edit_distance_band_guard():
    with _pytest.raises(ValueError, match="band"):
        edit_distance_pairs(None, max_dist=8, band=8)
