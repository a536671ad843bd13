"""Round-9 pins: the ISO-BMFF (MP4) container codec and the
global-window rewrites' plan shapes.

The MP4 codec (functions/codecs.py) is the container-level closer of
the compressed-format seam (round-8 verdict item 7): real box tree,
chunked sample tables, the stsc/stco/stsz demux walk, 32/64-bit box
sizes, stco and co64.  Sample payloads stay opaque — codec-bitstream
decode is the documented ffmpeg seam.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions import codecs
from k_means_hadoop_spark.operators.containers import _fmp4_plant, _mp4_plant
from k_means_hadoop_spark.partitioning import ntile_expr


def _blob(did: int, **kw) -> bytes:
    return codecs.encode_mp4(_mp4_plant(did), **kw)


@pytest.mark.parametrize("did", [0, 1, 2, 3, 7, 12345, 999983])
def test_mp4_roundtrip_bit_exact(did):
    tracks = _mp4_plant(did)
    parsed = codecs.parse_mp4(_blob(did))
    assert parsed["brand"] == "isom"
    assert parsed["timescale"] == 1000
    assert len(parsed["tracks"]) == 2
    for want, got in zip(tracks, parsed["tracks"]):
        n = len(want["samples"])
        assert got["handler"] == want["handler"]
        assert got["timescale"] == want["timescale"]
        assert got["duration"] == n * want["delta"]
        assert got["n_samples"] == n
        assert got["width"] == want.get("width", 0)
        assert got["height"] == want.get("height", 0)
        # every demuxed byte equals the planted payload
        assert got["samples"] == want["samples"]
    # the short trailing video chunk exercises the 2-entry
    # run-length stsc: 5+did%4 samples in chunks of 3
    nv = 5 + did % 4
    assert parsed["tracks"][0]["n_chunks"] == (nv + 2) // 3


def test_mp4a_samplerate_is_timescale_16_16():
    """ISO/IEC 14496-12 §12.2.3: the AudioSampleEntry samplerate is the
    mdhd timescale in 16.16 fixed point — round-9 wrote 0 (a third-party
    demuxer reads 0 Hz); round-10 ADVICE fix, pinned on raw bytes since
    the in-repo parser intentionally never reads the field."""
    blob = _blob(3)
    idx = blob.index(b"mp4a")
    # AudioSampleEntry payload starts 4 bytes after the type tag:
    # 6 reserved + 2 dref_index + 8 reserved + 2 ch + 2 bits + 4 = 24
    rate = struct.unpack_from(">I", blob, idx + 4 + 24)[0]
    assert rate == 48 << 16  # the planted audio track's timescale
    assert rate & 0xFFFF == 0  # fractional half must be zero
    # timescales past 2^16 don't fit 16.16: the encoder must write 0
    # (the rate-in-mdhd convention), never a masked WRONG nonzero rate
    big = codecs.encode_mp4(
        [
            {
                "handler": "soun",
                "timescale": 90000,
                "delta": 1,
                "samples": [b"x"],
                "chunk_size": 1,
            }
        ]
    )
    bidx = big.index(b"mp4a")
    assert struct.unpack_from(">I", big, bidx + 4 + 24)[0] == 0


def test_mp4_movie_duration_is_max_track():
    parsed = codecs.parse_mp4(_blob(11))
    nv, na = 5 + 11 % 4, 8 + 11 % 5
    assert parsed["duration"] == max(nv * 1000 // 30, 2 * na * 1000 // 48)


def test_mp4_co64_roundtrip():
    """The 64-bit chunk-offset table (>4 GiB containers) demuxes
    identically to stco."""
    tracks = _mp4_plant(5)
    parsed = codecs.parse_mp4(codecs.encode_mp4(tracks, use_co64=True))
    assert [t["samples"] for t in parsed["tracks"]] == [
        t["samples"] for t in tracks
    ]


def test_mp4_largesize_box():
    """A size==1 box carries its real size in a 64-bit largesize
    field; rewrap the moov and reparse."""
    blob = _blob(9)
    spans = {
        t: (b, e) for t, b, e in codecs._mp4_walk(blob, 0, len(blob))
    }
    mb, me = spans[b"moov"]
    payload = blob[mb:me]
    large = (
        struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", 16 + len(payload))
        + payload
    )
    rewrapped = blob[: mb - 8] + large
    assert (
        codecs.parse_mp4(rewrapped)["tracks"][0]["samples"]
        == _mp4_plant(9)[0]["samples"]
    )


def test_mp4_truncation_always_value_error():
    """Every prefix cut either raises ValueError or is rejected —
    never a silent wrong parse (the decode_wav rejection contract)."""
    blob = _blob(4)
    for cut in range(0, len(blob), 7):
        with pytest.raises(ValueError):
            codecs.parse_mp4(blob[:cut])


def test_mp4_corrupt_box_size_rejected():
    blob = bytearray(_blob(2))
    # inflate the moov box's declared size past EOF
    idx = bytes(blob).find(b"moov") - 4
    struct.pack_into(">I", blob, idx, len(blob) * 2)
    with pytest.raises(ValueError):
        codecs.parse_mp4(bytes(blob))


def test_mp4_sniff_format():
    assert codecs.sniff_format(_blob(1)) == "mp4"
    assert codecs.sniff_format(b"\x00\x00\x00\x08free") == "unknown"


def test_ntile_expr_matches_window_ntile(spark):
    """The closed-form ntile (partitioning.ntile_expr) is bit-identical
    to F.ntile for every (n, k) combination — the identity the
    rfm_segments and zonemap rewrites rest on."""
    for n in (1, 2, 3, 4, 5, 7, 8, 63, 64, 65, 100):
        for k in (4, 10, 64):
            df = spark.range(1, n + 1).withColumnRenamed("id", "rn")
            got = (
                df.withColumn("_n", F.lit(n))
                .select("rn", F.expr(ntile_expr("rn", "_n", k)).alias("t"))
            )
            want = spark.range(n).select(
                (F.col("id") + 1).alias("rn"),
                F.ntile(k).over(Window.orderBy("id")).alias("t"),
            )
            assert got.exceptAll(want).count() == 0
            assert want.exceptAll(got).count() == 0


def test_mp4_roundtrip_fuzz():
    """Property fuzz: ANY track list (1-3 tracks, arbitrary sample
    bytes/sizes/chunking, stco or co64) demuxes back bit-exact."""
    sample = st.binary(min_size=0, max_size=40)
    track = st.fixed_dictionaries(
        {
            "handler": st.sampled_from(["vide", "soun"]),
            "timescale": st.integers(min_value=1, max_value=90000),
            "delta": st.integers(min_value=1, max_value=3000),
            "samples": st.lists(sample, min_size=1, max_size=12),
            "chunk_size": st.integers(min_value=1, max_value=5),
            "width": st.integers(min_value=0, max_value=4096),
            "height": st.integers(min_value=0, max_value=4096),
        }
    )

    @settings(max_examples=60, deadline=None)
    @given(
        tracks=st.lists(track, min_size=1, max_size=3),
        co64=st.booleans(),
    )
    def check(tracks, co64):
        parsed = codecs.parse_mp4(codecs.encode_mp4(tracks, use_co64=co64))
        assert len(parsed["tracks"]) == len(tracks)
        for want, got in zip(tracks, parsed["tracks"]):
            assert got["samples"] == want["samples"]
            assert got["n_samples"] == len(want["samples"])
            assert got["duration"] == len(want["samples"]) * want["delta"]
            assert got["timescale"] == want["timescale"]
            assert got["handler"] == want["handler"]

    check()


# ------------------------------------------------- fragmented MP4


def _fblob(did: int) -> bytes:
    return codecs.encode_fmp4(30, 1, _fmp4_plant(did))


@pytest.mark.parametrize("did", [0, 1, 2, 7, 12345])
def test_fmp4_roundtrip_bit_exact(did):
    frags = _fmp4_plant(did)
    parsed = codecs.parse_fmp4(_fblob(did))
    assert parsed["brand"] == "iso5"
    assert parsed["timescale"] == 30
    assert len(parsed["fragments"]) == len(frags)
    for f, (want, got) in enumerate(zip(frags, parsed["fragments"])):
        assert got["seq"] == f + 1
        assert got["samples"] == want  # every demuxed byte
        assert got["n_samples"] == len(want)
        assert got["duration"] == len(want)


def test_fmp4_init_segment_prefix_parses_empty():
    """A stream cut exactly after the moov (the DASH init segment) is
    a VALID zero-fragment stream, and any cut that severs a fragment
    either drops whole trailing fragments or raises ValueError —
    never yields corrupt samples."""
    blob = _fblob(3)
    full = codecs.parse_fmp4(blob)["fragments"]
    spans = [(t, b, e) for t, b, e in codecs._mp4_walk(blob, 0, len(blob))]
    moov_end = next(e for t, b, e in spans if t == b"moov")
    assert codecs.parse_fmp4(blob[:moov_end])["fragments"] == []
    for cut in range(0, len(blob), 13):
        try:
            got = codecs.parse_fmp4(blob[:cut])["fragments"]
        except ValueError:
            continue
        assert got == full[: len(got)]


def test_fmp4_unsupported_flags_rejected():
    """Flag layouts the parser does not implement raise loudly instead
    of silently mis-demuxing."""
    blob = bytearray(_fblob(1))
    i = bytes(blob).find(b"tfhd")
    # clear default-base-is-moof
    blob[i + 4 : i + 8] = struct.pack(">B3s", 0, (0).to_bytes(3, "big"))
    with pytest.raises(ValueError):
        codecs.parse_fmp4(bytes(blob))


def test_fmp4_fuzz_roundtrip():
    frag = st.lists(st.binary(min_size=0, max_size=30), min_size=1, max_size=6)

    @settings(max_examples=40, deadline=None)
    @given(
        frags=st.lists(frag, min_size=1, max_size=5),
        ts=st.integers(min_value=1, max_value=90000),
        delta=st.integers(min_value=1, max_value=3000),
    )
    def check(frags, ts, delta):
        parsed = codecs.parse_fmp4(codecs.encode_fmp4(ts, delta, frags))
        assert parsed["timescale"] == ts
        got = parsed["fragments"]
        assert [g["samples"] for g in got] == frags
        assert [g["duration"] for g in got] == [len(f) * delta for f in frags]

    check()
