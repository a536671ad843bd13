"""Round-10 pins: the Matroska/WebM (EBML) container codec.

The MKV codec (functions/codecs.py) makes streaming-video containers
two-for-two next to MP4/fMP4 (round-9 verdict item 7): real EBML VINT
walk, DocType, Info, TrackEntry video/audio settings, Cluster >
SimpleBlock demux.  Frame payloads stay opaque — codec-bitstream
decode is the documented ffmpeg seam.
"""

from __future__ import annotations

import pytest

from k_means_hadoop_spark.functions import codecs
from k_means_hadoop_spark.operators.containers import _mkv_plant


def _blob(did: int) -> bytes:
    w = _mkv_plant(did)
    return codecs.encode_mkv(
        w["doctype"],
        w["timescale_ns"],
        w["duration_ticks"],
        w["tracks"],
        w["clusters"],
    )


@pytest.mark.parametrize("did", [0, 1, 2, 3, 4, 7, 12345, 999983])
def test_mkv_roundtrip_bit_exact(did):
    w = _mkv_plant(did)
    p = codecs.parse_mkv(_blob(did))
    assert p["doctype"] == w["doctype"]
    assert p["timescale"] == 1_000_000
    assert p["duration"] == float(w["duration_ticks"])
    assert p["n_clusters"] == len(w["clusters"])
    assert p["n_blocks"] == len(w["vframes"]) + len(w["aframes"])
    v, a = p["tracks"]
    assert (v["number"], v["type"]) == (1, "video")
    assert v["codec_id"] == w["tracks"][0]["codec_id"]
    assert v["width"] == w["tracks"][0]["width"]
    assert v["height"] == w["tracks"][0]["height"]
    # every demuxed frame byte equals the planted payload, in order
    assert v["frames"] == w["vframes"]
    assert (a["number"], a["type"]) == (2, "audio")
    assert a["codec_id"] == w["tracks"][1]["codec_id"]
    assert a["sampling"] == 48000.0
    assert a["channels"] == w["tracks"][1]["channels"]
    assert a["frames"] == w["aframes"]


def test_mkv_truncation_always_value_error():
    blob = _blob(9)
    for cut in range(0, len(blob), 7):
        with pytest.raises(ValueError):
            codecs.parse_mkv(blob[:cut])


def test_mkv_bad_magic_rejected():
    with pytest.raises(ValueError, match="magic"):
        codecs.parse_mkv(b"\x00\x00\x00\x00" + _blob(2)[4:])


def test_mkv_overrunning_size_rejected():
    """Corrupting an element size so it overruns its parent raises."""
    blob = bytearray(_blob(5))
    # the Segment size VINT starts right after the 4-byte Segment ID;
    # bump its low byte so the declared size exceeds the buffer
    seg_at = blob.index(b"\x18\x53\x80\x67")
    size_at = seg_at + 4
    first = blob[size_at]
    l = 9 - first.bit_length()
    blob[size_at + l - 1] = (blob[size_at + l - 1] + 1) % 256
    with pytest.raises(ValueError):
        codecs.parse_mkv(bytes(blob))


def test_mkv_unknown_size_rejected():
    """The all-ones 'unknown size' VINT (streaming Matroska) is the
    documented unsupported corner — reject, never mis-walk."""
    blob = bytearray(_blob(6))
    seg_at = blob.index(b"\x18\x53\x80\x67")
    size_at = seg_at + 4
    first = blob[size_at]
    l = 9 - first.bit_length()
    blob[size_at] = 0xFF >> (l - 1)  # marker + all-ones value bits
    for i in range(1, l):
        blob[size_at + i] = 0xFF
    with pytest.raises(ValueError):
        codecs.parse_mkv(bytes(blob))


def test_mkv_simpleblock_unknown_track_rejected():
    w = _mkv_plant(3)
    w["clusters"][0]["blocks"][0] = (9, 0, b"xx")  # track 9 undeclared
    blob = codecs.encode_mkv(
        w["doctype"],
        w["timescale_ns"],
        w["duration_ticks"],
        w["tracks"],
        w["clusters"],
    )
    with pytest.raises(ValueError, match="unknown track"):
        codecs.parse_mkv(blob)


def test_ebml_size_vint_boundaries():
    """126 fits one byte; 127 (the 1-byte all-ones reserved pattern)
    must widen to two; 2^14-1 widens to three."""
    assert codecs._ebml_size(126) == bytes([0x80 | 126])
    assert len(codecs._ebml_size(127)) == 2
    assert len(codecs._ebml_size((1 << 14) - 1)) == 3
    for n in (0, 1, 126, 127, 128, 16382, 16383, 1 << 20):
        enc = codecs._ebml_size(n)
        v, nxt = codecs._ebml_read_vint(enc, 0, keep_marker=False)
        assert (v, nxt) == (n, len(enc))


def test_mkv_parse_random_bytes_never_crashes():
    """Hostile input: arbitrary bytes either parse or raise ValueError —
    never IndexError/struct.error/hangs (the decode_wav rejection
    contract, fuzz-checked)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=200))
    def check(data):
        try:
            codecs.parse_mkv(data)
        except ValueError:
            pass

    check()


def test_mkv_bitflip_never_crashes():
    """Single-byte corruption of a VALID container either still parses
    or raises ValueError — no other exception class escapes."""
    from hypothesis import given, settings, strategies as st

    blob = _blob(7)

    @settings(max_examples=200, deadline=None)
    @given(
        pos=st.integers(min_value=0, max_value=len(blob) - 1),
        delta=st.integers(min_value=1, max_value=255),
    )
    def check(pos, delta):
        mutated = bytearray(blob)
        mutated[pos] = (mutated[pos] + delta) % 256
        try:
            codecs.parse_mkv(bytes(mutated))
        except ValueError:
            pass

    check()


def test_mkv_sniff_format():
    assert codecs.sniff_format(_blob(1)) == "mkv"
    assert codecs.sniff_format(b"\x1a\x45\xdf") == "unknown"  # short


# --------------------------------------------------------- Ogg container


def _ogg_blob(did: int) -> bytes:
    from k_means_hadoop_spark.operators.containers import _ogg_plant

    w = _ogg_plant(did)
    return codecs.encode_ogg(w["serial"], w["packets"])


def test_ogg_crc_reference_vector():
    """The page CRC is the documented Ogg variant: poly 0x04C11DB7,
    init 0, unreflected, no final xor — check value 0x89A1897F."""
    assert codecs._ogg_crc(b"123456789") == 0x89A1897F
    assert codecs._ogg_crc(b"") == 0


@pytest.mark.parametrize("did", [0, 1, 2, 3, 6, 13, 999983])
def test_ogg_roundtrip_bit_exact(did):
    from k_means_hadoop_spark.operators.containers import _ogg_plant

    w = _ogg_plant(did)
    p = codecs.parse_ogg(_ogg_blob(did))
    assert p["serial"] == w["serial"]
    assert p["packets"] == w["packets"]  # every reassembled byte
    assert p["n_pages"] == 2  # the long packet spans pages
    assert (p["bos_pages"], p["eos_pages"], p["continued_pages"]) == (
        1,
        1,
        1,
    )
    assert p["max_granule"] == len(w["packets"])


def test_ogg_crc_corruption_rejected():
    blob = bytearray(_ogg_blob(4))
    blob[50] ^= 0x01  # flip one body bit on page 0
    with pytest.raises(ValueError, match="CRC"):
        codecs.parse_ogg(bytes(blob))


def test_ogg_truncation_always_value_error():
    blob = _ogg_blob(9)
    for cut in range(0, len(blob), 97):
        with pytest.raises(ValueError):
            codecs.parse_ogg(blob[:cut])


def test_ogg_lacing_edge_cases():
    """Zero-length packets and exact-multiple-of-255 packets take the
    terminal-0-lace path; both must reassemble bit-exact."""
    packets = [b"", b"x" * 255, b"y" * 510, b"tail"]
    p = codecs.parse_ogg(codecs.encode_ogg(7, packets))
    assert p["packets"] == packets
    assert p["n_packets"] == 4


def test_ogg_multiplexed_serial_rejected():
    a = codecs.encode_ogg(1, [b"one"])
    b = codecs.encode_ogg(2, [b"two"])
    # strip BOS/EOS coherence concerns: concatenation changes serial
    with pytest.raises(ValueError, match="multiplexed"):
        codecs.parse_ogg(a + b)


def test_ogg_sniff_format():
    assert codecs.sniff_format(_ogg_blob(2)) == "ogg"


def test_ogg_parse_random_bytes_never_crashes():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=200))
    def check(data):
        try:
            codecs.parse_ogg(data)
        except ValueError:
            pass

    check()


def test_ogg_bitflip_never_crashes():
    from hypothesis import given, settings, strategies as st

    blob = _ogg_blob(5)

    @settings(max_examples=200, deadline=None)
    @given(
        pos=st.integers(min_value=0, max_value=len(blob) - 1),
        delta=st.integers(min_value=1, max_value=255),
    )
    def check(pos, delta):
        mutated = bytearray(blob)
        mutated[pos] = (mutated[pos] + delta) % 256
        try:
            codecs.parse_ogg(bytes(mutated))
        except ValueError:
            pass

    check()


def test_ogg_roundtrip_fuzz():
    """Property fuzz: ANY packet list (arbitrary bytes and sizes, any
    max_laces >= 1) reassembles bit-exact with correct page flags."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        packets=st.lists(st.binary(max_size=700), min_size=1, max_size=6),
        max_laces=st.integers(min_value=1, max_value=20),
        serial=st.integers(min_value=0, max_value=0xFFFFFFFF),
    )
    def check(packets, max_laces, serial):
        p = codecs.parse_ogg(
            codecs.encode_ogg(serial, packets, max_laces=max_laces)
        )
        assert p["packets"] == packets
        assert p["serial"] == serial
        assert p["bos_pages"] == 1 and p["eos_pages"] == 1
        assert p["max_granule"] == len(packets)

    check()


def test_mkv_roundtrip_fuzz():
    """Property fuzz: ANY doctype/track/cluster spec (arbitrary frame
    bytes, dimensions, channel counts) roundtrips bit-exact."""
    from hypothesis import given, settings, strategies as st

    frame = st.binary(min_size=0, max_size=40)

    @settings(max_examples=60, deadline=None)
    @given(
        doctype=st.sampled_from(["matroska", "webm"]),
        width=st.integers(min_value=1, max_value=8192),
        height=st.integers(min_value=1, max_value=8192),
        channels=st.integers(min_value=1, max_value=8),
        vframes=st.lists(frame, min_size=0, max_size=6),
        aframes=st.lists(frame, min_size=0, max_size=6),
        duration=st.integers(min_value=0, max_value=1 << 31),
    )
    def check(doctype, width, height, channels, vframes, aframes, duration):
        tracks = [
            {
                "number": 1,
                "type": "video",
                "codec_id": "V_VP9",
                "width": width,
                "height": height,
            },
            {
                "number": 2,
                "type": "audio",
                "codec_id": "A_OPUS",
                "sampling": 48000.0,
                "channels": channels,
            },
        ]
        clusters = [
            {
                "timestamp": 0,
                "blocks": [(1, i, f) for i, f in enumerate(vframes)]
                + [(2, i, f) for i, f in enumerate(aframes)],
            }
        ]
        p = codecs.parse_mkv(
            codecs.encode_mkv(doctype, 1_000_000, duration, tracks, clusters)
        )
        assert p["doctype"] == doctype
        assert p["duration"] == float(duration)
        v, a = p["tracks"]
        assert (v["width"], v["height"]) == (width, height)
        assert a["channels"] == channels
        assert v["frames"] == vframes
        assert a["frames"] == aframes

    check()
