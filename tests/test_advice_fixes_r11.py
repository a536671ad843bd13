"""Round-11 ADVICE fixes, pinned.

1. MKV SimpleBlock lacing (ADVICE r10 item 1): a laced block from a
   third-party muxer was previously swallowed as one corrupt 'frame';
   now all three RFC 9559 §10.3 lacing modes (Xiph / fixed / EBML) are
   implemented on BOTH sides — encode_mkv emits laced blocks, parse_mkv
   reassembles them — and malformed lace tables raise ValueError.
2. Ogg page-sequence continuity (ADVICE r10 item 2): a dropped or
   reordered whole page whose packet boundaries align used to pass all
   CRC/flag checks and silently lose packets; parse_ogg now enforces
   seq == prev + 1 (RFC 3533 uses the sequence number exactly for
   page-loss detection).
3. encode_ogg([]) (ADVICE r10 item 3): the zero-packet stream used to
   encode to b'' which its own parser rejected; it now emits a single
   BOS+EOS page with an empty lacing table that parse_ogg reads back.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from k_means_hadoop_spark.functions import codecs

_TRACKS = [
    {"number": 1, "type": "video", "codec_id": "V_VP9", "width": 64, "height": 36},
]


def _mkv(blocks: list) -> bytes:
    return codecs.encode_mkv(
        "webm", 1_000_000, 1000, _TRACKS, [{"timestamp": 0, "blocks": blocks}]
    )


# ------------------------------------------------------- 1. MKV lacing


@pytest.mark.parametrize("mode", ["xiph", "fixed", "ebml"])
def test_mkv_lacing_single_frame_roundtrip(mode):
    p = codecs.parse_mkv(_mkv([(1, 0, [b"only"], mode)]))
    assert p["tracks"][0]["frames"] == [b"only"]
    assert p["n_blocks"] == 1


@pytest.mark.parametrize("mode", ["xiph", "ebml"])
def test_mkv_lacing_multi_frame_roundtrip(mode):
    # 300-byte frame exercises the multi-byte Xiph run (255 + 45) and
    # the shrink-then-grow sequence signed EBML deltas
    frames = [b"a" * 3, b"b" * 300, b"c" * 1, b"d" * 7]
    p = codecs.parse_mkv(_mkv([(1, 0, frames, mode)]))
    assert p["tracks"][0]["frames"] == frames
    assert p["n_blocks"] == 1  # one laced block, four frames


def test_mkv_fixed_lacing_roundtrip():
    fixed = [b"x" * 10, b"y" * 10, b"z" * 10]
    p = codecs.parse_mkv(_mkv([(1, 0, fixed, "fixed")]))
    assert p["tracks"][0]["frames"] == fixed


def test_mkv_mixed_plain_and_laced_blocks():
    frames = [b"e" * 200, b"f" * 2, b"g" * 500]
    p = codecs.parse_mkv(_mkv([(1, 0, b"plain"), (1, 1, frames, "ebml")]))
    assert p["tracks"][0]["frames"] == [b"plain"] + frames
    assert p["n_blocks"] == 2


def test_mkv_fixed_lacing_unequal_frames_rejected_at_encode():
    with pytest.raises(ValueError, match="equal-size"):
        _mkv([(1, 0, [b"ab", b"c"], "fixed")])


def test_mkv_empty_lace_rejected_at_encode():
    with pytest.raises(ValueError, match="at least one frame"):
        _mkv([(1, 0, [], "xiph")])


def test_mkv_unknown_lacing_mode_rejected_at_encode():
    with pytest.raises(ValueError):
        _mkv([(1, 0, [b"x"], "zigzag")])


def _raw_simpleblock_mkv(block_body: bytes) -> bytes:
    """A full container whose single SimpleBlock carries ``block_body``
    verbatim (track VINT + rel_ts + flags + lace region) — for crafting
    malformed lace tables that encode_mkv refuses to produce."""
    good = _mkv([(1, 0, b"x")])
    el = codecs._ebml_el(codecs._MKV_SIMPLEBLOCK, block_body)
    cluster = codecs._ebml_el(
        codecs._MKV_CLUSTER, codecs._ebml_uint(codecs._MKV_TIMESTAMP, 0) + el
    )
    # splice: keep the good EBML header + Segment head (Info, Tracks),
    # swap the cluster, re-encode the Segment so sizes stay consistent
    header_end = good.index(codecs._ebml_id(codecs._MKV_SEGMENT))
    seg_b, _seg_e = codecs._ebml_first(
        good, header_end, len(good), codecs._MKV_SEGMENT
    )
    orig_cluster_start = good.index(
        codecs._ebml_id(codecs._MKV_CLUSTER), seg_b
    )
    seg_body = good[seg_b:orig_cluster_start] + cluster
    return good[:header_end] + codecs._ebml_el(codecs._MKV_SEGMENT, seg_body)


def _lace_body(flags: int, payload: bytes) -> bytes:
    return codecs._ebml_size(1) + struct.pack(">h", 0) + bytes([flags]) + payload


def test_mkv_truncated_xiph_lace_table_rejected():
    # claims 3 frames but the lace table (and payload) run out
    body = _lace_body(0x80 | 0x02, bytes([2, 255]))
    with pytest.raises(ValueError):
        codecs.parse_mkv(_raw_simpleblock_mkv(body))


def test_mkv_overrunning_lace_sizes_rejected():
    # xiph sizes (200, 200) exceed the 10-byte frame region
    body = _lace_body(0x80 | 0x02, bytes([2, 200, 200]) + b"z" * 10)
    with pytest.raises(ValueError, match="overrun"):
        codecs.parse_mkv(_raw_simpleblock_mkv(body))


def test_mkv_fixed_lace_non_divisible_rejected():
    # 3 frames over a 10-byte region
    body = _lace_body(0x80 | 0x04, bytes([2]) + b"z" * 10)
    with pytest.raises(ValueError, match="divisible"):
        codecs.parse_mkv(_raw_simpleblock_mkv(body))


def test_mkv_negative_ebml_lace_size_rejected():
    # EBML lacing: first size 5, delta -20 -> negative second size
    body = _lace_body(
        0x80 | 0x06,
        bytes([2]) + codecs._ebml_size(5) + codecs._ebml_svint(-20) + b"z" * 8,
    )
    with pytest.raises(ValueError, match="negative"):
        codecs.parse_mkv(_raw_simpleblock_mkv(body))


def test_mkv_lacing_roundtrip_fuzz():
    """Property fuzz: ANY frame list under ANY lacing mode roundtrips
    bit-exact (fixed mode gets equal-size frames by construction)."""
    @settings(max_examples=60, deadline=None)
    @given(
        mode=st.sampled_from(["xiph", "ebml", "fixed"]),
        sizes=st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=8),
        fill=st.integers(min_value=0, max_value=255),
    )
    def check(mode, sizes, fill):
        if mode == "fixed":
            sizes = [sizes[0]] * len(sizes)
        frames = [bytes([(fill + i) % 256]) * s for i, s in enumerate(sizes)]
        p = codecs.parse_mkv(_mkv([(1, 0, frames, mode)]))
        assert p["tracks"][0]["frames"] == frames

    check()


def test_mkv_laced_bitflip_never_crashes():
    """Every single-bit corruption of a laced container either parses
    or raises ValueError — never any other exception."""
    blob = _mkv([(1, 0, [b"a" * 3, b"b" * 300, b"c" * 7], "xiph")])
    for byte_at in range(len(blob)):
        mutated = bytearray(blob)
        mutated[byte_at] ^= 0x10
        try:
            codecs.parse_mkv(bytes(mutated))
        except ValueError:
            pass


# --------------------------------------- 2. Ogg page-loss detection


def _page_offsets(blob: bytes) -> list[tuple[int, int]]:
    offs, at = [], 0
    while at < len(blob):
        n_laces = blob[at + 26]
        body = sum(blob[at + 27 : at + 27 + n_laces])
        offs.append((at, at + 27 + n_laces + body))
        at = offs[-1][1]
    return offs


def test_ogg_dropped_page_detected():
    # max_laces=1 -> one complete packet per page, so the drop leaves
    # every CRC valid and no dangling continuation — only the sequence
    # number can catch it
    pkts = [b"p0" * 10, b"p1" * 10, b"p2" * 10]
    blob = codecs.encode_ogg(3, pkts, max_laces=1)
    offs = _page_offsets(blob)
    assert len(offs) == 3
    dropped = blob[: offs[1][0]] + blob[offs[1][1] :]
    with pytest.raises(ValueError, match="sequence"):
        codecs.parse_ogg(dropped)


def test_ogg_reordered_pages_detected():
    pkts = [b"p0" * 10, b"p1" * 10, b"p2" * 10]
    blob = codecs.encode_ogg(3, pkts, max_laces=1)
    (a0, a1), (b0, b1), (c0, c1) = _page_offsets(blob)
    swapped = blob[:a1] + blob[b1:c1] + blob[b0:b1]
    with pytest.raises(ValueError, match="sequence"):
        codecs.parse_ogg(swapped)


def test_ogg_intact_stream_still_parses():
    pkts = [b"p" * 300, b"q" * 5]
    p = codecs.parse_ogg(codecs.encode_ogg(9, pkts, max_laces=1))
    assert p["packets"] == pkts


# ------------------------------------------- 3. encode_ogg([]) roundtrip


def test_ogg_empty_stream_roundtrip():
    p = codecs.parse_ogg(codecs.encode_ogg(7, []))
    assert p["n_packets"] == 0 and p["packets"] == []
    assert p["n_pages"] == 1
    assert p["bos_pages"] == 1 and p["eos_pages"] == 1
    assert p["continued_pages"] == 0
    assert p["max_granule"] is None  # no packet ever completed
    assert p["serial"] == 7


# ------------------- round-11 self-review regression pins (same round)


def test_ogg_dropped_first_and_last_page_detected():
    """The sequence chain alone cannot catch a dropped FIRST or LAST
    page; the BOS/EOS placement checks must."""
    pkts = [b"p0" * 10, b"p1" * 10, b"p2" * 10]
    blob = codecs.encode_ogg(3, pkts, max_laces=1)
    offs = _page_offsets(blob)
    no_first = blob[offs[0][1] :]
    with pytest.raises(ValueError, match="BOS"):
        codecs.parse_ogg(no_first)
    no_last = blob[: offs[2][0]]
    with pytest.raises(ValueError, match="EOS"):
        codecs.parse_ogg(no_last)


def test_ogg_same_stream_data_after_eos_rejected():
    blob = codecs.encode_ogg(3, [b"pkt"])  # one BOS+EOS page
    with pytest.raises(ValueError, match="after the EOS"):
        codecs.parse_ogg(blob + blob)  # same serial, same seq 0... but


def test_mkv_minimal_all_ones_first_lace_size_accepted():
    """A third-party muxer minimally encodes a first EBML-lace size of
    127 as the 1-byte all-ones VINT 0xFF — a LACING size, not an
    element size, so the unknown-size reservation must not reject it."""
    frames = [b"a" * 127, b"b" * 5]
    body = (
        codecs._ebml_size(1)
        + struct.pack(">h", 0)
        + bytes([0x80 | 0x06, len(frames) - 1])
        + b"\xff"  # minimal 1-byte VINT for 127 (all data bits set)
        + frames[0]
        + frames[1]
    )
    p = codecs.parse_mkv(_raw_simpleblock_mkv(body))
    assert p["tracks"][0]["frames"] == frames
