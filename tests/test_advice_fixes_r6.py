"""Regression tests for the round-5 ADVICE findings.

1. _hll_rho: h div 64 must be EXACT integer division — double division
   misrounds 60-bit hashes near power-of-two boundaries.
2. cusum_changepoints: a 128-day series puts scaled/k_days on an exact
   6dp half for every odd `scaled`; the floor(x*1e6+0.5) form must make
   Spark and DuckDB agree bit-for-bit.
3. wav_frame_features: a malformed payload labeled kind='audio' must be
   skipped, not fail the task (kind comes from file extension alone).
4. power_iteration_pc1 docs must reference the real _PI_SQUARINGS knob.
5. tar_shards scan must tolerate foreign WebDataset shards (non-numeric
   stems, directory members).
"""

from __future__ import annotations

import inspect
import io
import os
import tarfile

import duckdb
import numpy as np
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions import codecs
from k_means_hadoop_spark.operators import pca
from k_means_hadoop_spark.operators.analytics import _CUSUM_SQL, cusum_changepoints
from k_means_hadoop_spark.operators.multimodal import wav_frame_features
from k_means_hadoop_spark.operators.sketches import _hll_rho
from k_means_hadoop_spark.operators.stats_extra import bh_fdr_nation_acctbal
from k_means_hadoop_spark.sources.tar_shards import read_tar_shards


def test_hll_rho_exact_at_power_of_two_boundary(spark):
    """h = 2^56 - 1: double(h) rounds UP to 2^56, so double division
    yields w = 2^50 (bin length 51, rho 4); exact h//64 = 2^50 - 1
    (bin length 50, rho 5).  The DuckDB oracle computes the exact form."""
    h = (1 << 56) - 1
    row = (
        spark.range(1)
        .select(_hll_rho(F.lit(h).cast("bigint")).alias("rho"))
        .first()
    )
    assert row["rho"] == 5  # 55 - bitlen(2^50 - 1) = 55 - 50
    # and the misrounding really is reachable via double division:
    assert int(float(h) / 64) == 1 << 50  # the buggy value


def test_cusum_6dp_half_matches_duckdb(spark, tmp_path):
    """128 days (k_days carries 2^7) with odd cumulative residuals —
    every odd `scaled` lands on an exact 6dp half.  Spark and the
    oracle must produce identical cusum values."""
    rows = []
    eid = 0
    for d in range(128):
        # 1 or 2 events/day in a pattern that makes scaled odd often
        n = 1 + ((d * 7) % 3 == 0)
        for _ in range(n):
            rows.append((eid, f"2024-01-01 00:00:{d % 60:02d}", d))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts_s string, d int").select(
        "event_id",
        (F.to_timestamp("ts_s") + F.expr("make_interval(0,0,0,d,0,0,0)")).alias(
            "ts"
        ),
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))

    got = {
        r["day"]: r["cusum"]
        for r in cusum_changepoints(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'events.parquet')}/*.parquet')"
    )
    exp = {r[0]: r[2] for r in con.execute(_CUSUM_SQL).fetchall()}
    assert got == exp
    # the tie really is exercised: an odd `scaled` (exact 6dp half —
    # scaled*1e6/128 = scaled*7812.5) must exist, i.e. DuckDB's
    # banker's round(x, 6) disagrees with the floor form somewhere
    n_ties = con.execute(
        """
        WITH daily AS (
          SELECT ts::DATE AS day, count(*)::BIGINT AS n_events
          FROM events GROUP BY 1),
        tot AS (SELECT SUM(n_events)::BIGINT AS t, count(*)::BIGINT AS k
                FROM daily),
        s AS (SELECT k * SUM(n_events) OVER (ORDER BY day)
                     - row_number() OVER (ORDER BY day) * t AS scaled
              FROM daily CROSS JOIN tot)
        SELECT count(*) FROM s WHERE scaled % 2 != 0
        """
    ).fetchone()[0]
    assert n_ties > 0


def test_wav_frame_features_skips_malformed_audio(spark):
    good = codecs.encode_wav(
        np.arange(64, dtype=np.int16), 16000
    )
    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(good)),
            (2, "audio", bytearray(b"RIFFnot-a-wav-at-all")),
            (3, "image", bytearray(b"ignored")),
        ],
        "media_id long, kind string, payload binary",
    )
    rows = wav_frame_features(media, frame=16).collect()
    ids = {r["media_id"] for r in rows}
    assert ids == {1}
    assert len(rows) == 4  # 64 samples / 16 per frame


def test_power_iteration_docs_reference_real_knob():
    src = inspect.getsource(pca)
    assert "_PI_ITERS" not in src
    assert "_PI_SQUARINGS" in pca.power_iteration_pc1.__doc__


def test_bh_zero_z2_is_weakest_not_strongest_evidence(spark, tmp_path):
    """A nation whose mean acctbal EXACTLY equals the global mean has
    z² = 0 and p = 1 (weakest evidence).  The exact-rational encoding
    must be 1/1, not 0/1 — the 0/1 form made the BH step-up condition
    true at the last rank and dragged EVERY nation into the rejection
    set."""
    rows = [
        (1, "a", 0, 1.00, "m"),
        (2, "b", 0, 3.00, "m"),  # nation 0 mean = 2.00
        (3, "c", 1, 2.00, "m"),
        (4, "d", 1, 2.00, "m"),  # nation 1 mean = 2.00 = global mean
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "customer.parquet")
    )
    out = {r["c_nationkey"]: r for r in bh_fdr_nation_acctbal(spark, sf).collect()}
    # both nations sit exactly at the global mean => z2 = 0, p = 1
    for r in out.values():
        assert r["z2"] == 0.0
        assert r["p_chebyshev"] == 1.0
        assert not r["significant"], "p=1 rows must never be rejected"


def test_tar_scan_skips_int_unparseable_stems(spark, tmp_path):
    """isdigit() admits stems int() rejects ('--3', unicode digits) —
    the guard must be int-parse-based."""
    shard_dir = str(tmp_path / "shards2")
    os.makedirs(shard_dir)
    with tarfile.open(os.path.join(shard_dir, "shard-00000.tar"), "w") as tf:
        for name, payload in (
            ("--3.bin", b"x"),  # lstrip('-').isdigit() passes, int() raises
            ("².bin", b"y"),  # superscript two: isdigit True, int raises
            ("11.bin", b"ok"),
        ):
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    rows = read_tar_shards(spark, shard_dir).collect()
    assert [(r["media_id"], bytes(r["payload"])) for r in rows] == [(11, b"ok")]


def test_tar_scan_tolerates_foreign_members(spark, tmp_path):
    shard_dir = str(tmp_path / "shards")
    os.makedirs(shard_dir)
    with tarfile.open(os.path.join(shard_dir, "shard-00000.tar"), "w") as tf:
        # directory member
        d = tarfile.TarInfo("assets/")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        # non-numeric stem (foreign WebDataset key)
        meta = b'{"caption": "x"}'
        info = tarfile.TarInfo("sample-000.json")
        info.size = len(meta)
        tf.addfile(info, io.BytesIO(meta))
        # a well-formed numeric member
        payload = b"\x01\x02\x03"
        info = tarfile.TarInfo("7.bin")
        info.size = len(payload)
        tf.addfile(info, io.BytesIO(payload))
    rows = read_tar_shards(spark, shard_dir).collect()
    assert [(r["media_id"], r["kind"]) for r in rows] == [(7, "video")]
