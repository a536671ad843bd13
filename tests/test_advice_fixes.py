"""Regression tests for the round-4 ADVICE findings.

1. classifier_calibration: Spark's closed-form decile and the oracle's
   bucketing must agree when N mod 10 is in 2..9 (ntile(10) would not —
   it front-loads the remainder; the closed form spreads it).
2. prefix_sum: fractional (float / decimal) value columns must not be
   truncated when the phase-2 offsets are built.
3. pmi_bigrams: a whitespace-only document (zero tokens) must not make
   the bigram slice length negative.
"""

from __future__ import annotations

import decimal
import os

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, LongType, StructField, StructType

from k_means_hadoop_spark.operators.analytics import (
    kcore_membership,
    shortest_paths_weighted,
)
from k_means_hadoop_spark.operators.corpus_extra import (
    _calibration_sql,
    classifier_calibration,
    pmi_bigrams,
)
from k_means_hadoop_spark.operators.sketches import cms_event_counts
from k_means_hadoop_spark.partitioning import prefix_sum
from tests.helpers import DOC_SCHEMA
from tests.oracle_harness import compare


def _write_docs(spark, tmp_path, texts) -> str:
    rows = [
        (i + 1, t, "en", "web", len(t)) for i, t in enumerate(texts)
    ]
    out = os.path.join(str(tmp_path), "docs_sf")
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "documents.parquet"))
    return out


def _varied_texts(n: int) -> list[str]:
    # distinct lengths/punctuation so quality scores are spread out
    base = "the quick brown fox jumps over the lazy dog and runs far away. "
    return [base * (1 + i % 7) + "word" * (i % 5) + f" tail{i}." for i in range(n)]


@pytest.mark.parametrize("n_docs", [13, 15])
def test_calibration_decile_parity_n_not_divisible_by_10(spark, tmp_path, n_docs):
    """End-to-end Spark-vs-DuckDB parity of classifier_calibration on a
    corpus whose size is NOT divisible by 10 — the exact case where
    ntile(10) and the closed form floor((rk-1)*10/N)+1 disagree."""
    sf = _write_docs(spark, tmp_path, _varied_texts(n_docs))
    sdf = classifier_calibration(spark, sf)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    ok, msg = compare(sdf, con, _calibration_sql())
    assert ok, msg
    # and the closed form actually spreads the remainder: with N=13/15
    # every decile is non-empty and sizes differ by at most 1
    sizes = [r["n"] for r in sdf.collect()]
    assert len(sizes) == 10 and max(sizes) - min(sizes) <= 1


def _expected_cumsum(rows, key, val):
    out = {}
    running = 0
    for r in sorted(rows, key=key):
        running += val(r)
        out[key(r)] = running
    return out


def test_prefix_sum_preserves_float(spark):
    data = [(i, 0.25 + (i % 7) * 0.125) for i in range(1, 201)]
    df = spark.createDataFrame(data, "k int, v double")
    got = {
        r["k"]: r["cum"]
        for r in prefix_sum(df, "v", [F.col("k").asc()], num_parts=5).collect()
    }
    exp = _expected_cumsum(data, lambda r: r[0], lambda r: r[1])
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9), k
    # the old int() truncation would floor every offset: partition 2+
    # offsets are fractional here, so any truncation shows as >=0.1 error
    assert any(abs(v - round(v)) > 0.01 for v in got.values())


def test_prefix_sum_preserves_decimal(spark):
    schema = StructType(
        [StructField("k", LongType()), StructField("v", DecimalType(10, 2))]
    )
    data = [(i, decimal.Decimal(i % 5) / 4) for i in range(1, 101)]
    df = spark.createDataFrame(data, schema)
    out = prefix_sum(df, "v", [F.col("k").asc()], num_parts=4)
    assert isinstance(out.schema["cum"].dataType, DecimalType)
    got = {r["k"]: r["cum"] for r in out.collect()}
    exp = _expected_cumsum(data, lambda r: r[0], lambda r: r[1])
    assert got == exp


def test_prefix_sum_matches_global_window_float(spark):
    """Cross-check against the single-partition global window it replaces."""
    data = [((i * 37) % 97, float(i) / 3.0) for i in range(300)]
    df = spark.createDataFrame(data, "k int, v double")
    fast = prefix_sum(df, "v", [F.col("k").asc(), F.col("v").asc()], num_parts=6)
    w = Window.orderBy(F.col("k").asc(), F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    slow = df.withColumn("cum", F.sum("v").over(w))
    f_rows = sorted((r["k"], round(r["cum"], 6)) for r in fast.collect())
    s_rows = sorted((r["k"], round(r["cum"], 6)) for r in slow.collect())
    assert f_rows == s_rows


def test_pmi_bigrams_survives_empty_and_one_token_docs(spark, tmp_path):
    texts = ["   ", "\t\n ", "single", ""] + [
        "new york city hosts new york marathons in new york every year"
    ] * 3
    sf = _write_docs(spark, tmp_path, texts)
    rows = pmi_bigrams(spark, sf).collect()
    assert any(r["w1"] == "new" and r["w2"] == "york" for r in rows)


def test_interpolated_docstrings_attached():
    """The three .format() docstrings flagged by ADVICE must actually be
    attached and interpolated (no stray {placeholders})."""
    for fn in (cms_event_counts, kcore_membership, shortest_paths_weighted):
        assert fn.__doc__, fn.__name__
        assert "{" not in fn.__doc__, fn.__doc__
