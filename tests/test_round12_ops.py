"""Round-12 pins: the Ogg codec-identification layer, the WET
conversion-record shape, the .warc.gz shard source, and the
survivor-selecting edit-distance dedup composition.

1. OpusHead (RFC 7845 §5.1) and the Vorbis identification header
   (Vorbis I §4.2.2) — fixed-layout public structs parsed out of the
   BOS packet, the honest thin slice of the codec seam (compressed
   frames stay the documented bitstream boundary).  Pins: roundtrips
   for both mapping families and codecs, every documented rejection,
   truncation at every prefix, bitflip behavior, dispatch.
2. WET conversion records (warcinfo + text/plain conversion — the
   Common Crawl WET layout): record-type / header / payload pins
   beside tests/test_round11_ops.py's WARC family.
3. The warc_shards Python Data Source: golden write→Spark-read
   roundtrip over shards produced by encode_gzip/encode_warc_record,
   plus executor-side framing-error rejection.
4. dedup_edit_components: a planted multi-doc clone cluster must land
   in ONE component with exactly one quality-argmax survivor.
"""

from __future__ import annotations

import os

import pytest

from k_means_hadoop_spark.functions import codecs
from k_means_hadoop_spark.operators.containers import _ogg_codec_plant


# ------------------------------------------------- 1. OpusHead / Vorbis


def test_opus_head_family0_roundtrip():
    pkt = codecs.encode_opus_head(2, 312, input_sample_rate=44100, output_gain_q8=-128)
    p = codecs.parse_opus_head(pkt)
    assert p == {
        "codec": "opus",
        "version": 1,
        "channels": 2,
        "pre_skip": 312,
        "input_sample_rate": 44100,
        "output_gain_q8": -128,
        "mapping_family": 0,
        "stream_count": 1,
        "coupled_count": 1,
        "channel_mapping": [0, 1],
    }
    assert len(pkt) == 19


def test_opus_head_family1_roundtrip():
    pkt = codecs.encode_opus_head(
        6, 500, mapping_family=1, stream_count=4, coupled_count=2,
        mapping=[0, 1, 2, 3, 4, 5],
    )
    p = codecs.parse_opus_head(pkt)
    assert (p["channels"], p["mapping_family"]) == (6, 1)
    assert (p["stream_count"], p["coupled_count"]) == (4, 2)
    assert p["channel_mapping"] == [0, 1, 2, 3, 4, 5]
    assert len(pkt) == 21 + 6


def test_opus_head_encode_guards():
    with pytest.raises(ValueError):  # family 0 is mono/stereo only
        codecs.encode_opus_head(3, 0)
    with pytest.raises(ValueError):  # family 0 takes no explicit mapping
        codecs.encode_opus_head(2, 0, mapping_family=0, mapping=[0, 1])
    with pytest.raises(ValueError):  # family 1 requires the mapping
        codecs.encode_opus_head(3, 0, mapping_family=1)
    with pytest.raises(ValueError):  # pre_skip uint16 bound
        codecs.encode_opus_head(1, 1 << 16)
    with pytest.raises(ValueError):  # family >= 2 out of scope
        codecs.encode_opus_head(2, 0, mapping_family=2)
    with pytest.raises(ValueError):  # coupled > streams
        codecs.encode_opus_head(
            4, 0, mapping_family=1, stream_count=1, coupled_count=2,
            mapping=[0, 1, 2, 0],
        )
    with pytest.raises(ValueError):  # mapping index out of range
        codecs.encode_opus_head(
            3, 0, mapping_family=1, stream_count=2, coupled_count=1,
            mapping=[0, 1, 7],
        )


def test_opus_head_parse_rejections():
    good = codecs.encode_opus_head(2, 312)
    with pytest.raises(ValueError):  # bad magic
        codecs.parse_opus_head(b"OpusHeaX" + good[8:])
    for cut in range(len(good)):  # every truncation
        with pytest.raises(ValueError):
            codecs.parse_opus_head(good[:cut])
    bad_ver = bytearray(good)
    bad_ver[8] = 0x10  # upper nibble set = incompatible major revision
    with pytest.raises(ValueError):
        codecs.parse_opus_head(bytes(bad_ver))
    bad_ver[8] = 0  # version 0 never shipped
    with pytest.raises(ValueError):
        codecs.parse_opus_head(bytes(bad_ver))
    too_many = bytearray(good)
    too_many[9] = 3  # family 0 with 3 channels
    with pytest.raises(ValueError):
        codecs.parse_opus_head(bytes(too_many))
    with pytest.raises(ValueError):  # family 0 with trailing bytes
        codecs.parse_opus_head(good + b"\x00")
    fam1 = codecs.encode_opus_head(
        3, 0, mapping_family=1, stream_count=2, coupled_count=1, mapping=[0, 1, 2]
    )
    with pytest.raises(ValueError):  # family 1 length/channel mismatch
        codecs.parse_opus_head(fam1[:-1])
    bad_map = bytearray(fam1)
    bad_map[-1] = 9  # >= streams + coupled and != 255
    with pytest.raises(ValueError):
        codecs.parse_opus_head(bytes(bad_map))
    ok_unmapped = bytearray(fam1)
    ok_unmapped[-1] = 255  # 255 = explicitly silent channel, legal
    codecs.parse_opus_head(bytes(ok_unmapped))


def test_vorbis_id_roundtrip():
    pkt = codecs.encode_vorbis_id(
        2, 44100, 256, 2048, bitrate_max=0, bitrate_nominal=128000, bitrate_min=-1
    )
    assert len(pkt) == 30
    p = codecs.parse_vorbis_id(pkt)
    assert p == {
        "codec": "vorbis",
        "version": 0,
        "channels": 2,
        "sample_rate": 44100,
        "bitrate_max": 0,
        "bitrate_nominal": 128000,
        "bitrate_min": -1,
        "blocksize_0": 256,
        "blocksize_1": 2048,
    }


def test_vorbis_id_encode_guards():
    with pytest.raises(ValueError):  # non-power-of-two block size
        codecs.encode_vorbis_id(2, 44100, 200, 2048)
    with pytest.raises(ValueError):  # b0 > b1
        codecs.encode_vorbis_id(2, 44100, 2048, 256)
    with pytest.raises(ValueError):  # below 64
        codecs.encode_vorbis_id(2, 44100, 32, 256)
    with pytest.raises(ValueError):  # above 8192
        codecs.encode_vorbis_id(2, 44100, 256, 16384)
    with pytest.raises(ValueError):  # zero channels
        codecs.encode_vorbis_id(0, 44100, 256, 256)
    with pytest.raises(ValueError):  # zero rate
        codecs.encode_vorbis_id(2, 0, 256, 256)


def test_id_header_numeric_range_guards():
    """Out-of-range numeric fields must raise ValueError (the module's
    rejection contract), never struct.error — kernels wrap encode calls
    in `except ValueError` (round-12 review finding)."""
    with pytest.raises(ValueError):
        codecs.encode_opus_head(2, 0, output_gain_q8=40000)
    with pytest.raises(ValueError):
        codecs.encode_opus_head(2, 0, output_gain_q8=-40000)
    with pytest.raises(ValueError):
        codecs.encode_opus_head(2, 0, input_sample_rate=1 << 32)
    with pytest.raises(ValueError):
        codecs.encode_opus_head(2, 0, input_sample_rate=-1)
    with pytest.raises(ValueError):
        codecs.encode_vorbis_id(2, 1 << 32, 256, 256)
    with pytest.raises(ValueError):
        codecs.encode_vorbis_id(2, 44100, 256, 256, bitrate_nominal=1 << 31)
    with pytest.raises(ValueError):
        codecs.encode_vorbis_id(2, 44100, 256, 256, bitrate_min=-(1 << 31) - 1)


def test_vorbis_id_parse_rejections():
    good = codecs.encode_vorbis_id(2, 44100, 256, 2048)
    with pytest.raises(ValueError):  # bad magic (wrong packet type)
        codecs.parse_vorbis_id(b"\x03" + good[1:])
    for cut in range(len(good)):  # every truncation
        with pytest.raises(ValueError):
            codecs.parse_vorbis_id(good[:cut])
    with pytest.raises(ValueError):  # trailing bytes
        codecs.parse_vorbis_id(good + b"\x00")
    bad = bytearray(good)
    bad[7] = 1  # vorbis_version != 0
    with pytest.raises(ValueError):
        codecs.parse_vorbis_id(bytes(bad))
    bad = bytearray(good)
    bad[28] = (8 << 4) | 9  # e0 > e1
    with pytest.raises(ValueError):
        codecs.parse_vorbis_id(bytes(bad))
    bad = bytearray(good)
    bad[28] = (14 << 4) | 8  # e1 out of range
    with pytest.raises(ValueError):
        codecs.parse_vorbis_id(bytes(bad))
    bad = bytearray(good)
    bad[29] = 0  # framing bit unset
    with pytest.raises(ValueError):
        codecs.parse_vorbis_id(bytes(bad))


@pytest.mark.parametrize("codec_fixture", ["opus0", "opus1", "vorbis"])
def test_id_header_bitflip_never_silent(codec_fixture):
    """Flipping any single byte of a header either raises ValueError or
    changes the parsed result — no flip can pass through unnoticed
    (every byte of both structs is either validated or emitted)."""
    if codec_fixture == "opus0":
        pkt = codecs.encode_opus_head(2, 312, input_sample_rate=48000)
    elif codec_fixture == "opus1":
        pkt = codecs.encode_opus_head(
            4, 99, mapping_family=1, stream_count=3, coupled_count=1,
            mapping=[0, 1, 2, 3],
        )
    else:
        pkt = codecs.encode_vorbis_id(3, 32000, 128, 1024)
    base = codecs.identify_ogg_codec(pkt)
    for i in range(len(pkt)):
        mut = bytearray(pkt)
        mut[i] ^= 0xFF
        try:
            got = codecs.identify_ogg_codec(bytes(mut))
        except ValueError:
            continue
        assert got != base, f"byte {i} flip went unnoticed"


def test_identify_dispatch_and_unknown():
    assert codecs.identify_ogg_codec(codecs.encode_opus_head(1, 0))["codec"] == "opus"
    assert (
        codecs.identify_ogg_codec(codecs.encode_vorbis_id(1, 8000, 64, 64))["codec"]
        == "vorbis"
    )
    with pytest.raises(ValueError):
        codecs.identify_ogg_codec(b"\x01theora\x00\x00\x00")
    with pytest.raises(ValueError):
        codecs.identify_ogg_codec(b"")


@pytest.mark.parametrize("did", [1, 12, 23, 34, 45, 56, 67, 78, 89, 100, 111, 999988])
def test_ogg_codec_plant_roundtrip(did):
    """The full composition the operator runs: plant → encode_ogg →
    parse_ogg → identify the BOS packet; every spec field must match."""
    want = _ogg_codec_plant(did)
    blob = codecs.encode_ogg(did & 0xFFFFFFFF, want["packets"])
    p = codecs.parse_ogg(blob)
    assert p["packets"] == want["packets"]
    ident = codecs.identify_ogg_codec(p["packets"][0])
    assert ident["codec"] == want["codec"]
    assert ident["channels"] == want["channels"]
    if want["codec"] == "opus":
        assert ident["input_sample_rate"] == want["sample_rate"]
        assert ident["pre_skip"] == want["pre_skip"]
        assert ident["mapping_family"] == want["mapping_family"]
        assert ident["stream_count"] == want["stream_count"]
        assert ident["coupled_count"] == want["coupled_count"]
    else:
        assert ident["sample_rate"] == want["sample_rate"]
        assert ident["blocksize_0"] == want["blocksize_0"]
        assert ident["blocksize_1"] == want["blocksize_1"]


# ------------------------------------------------- 2. WET records


def test_wet_record_shape_roundtrip():
    """The WET two-record shape: warcinfo (application/warc-fields) +
    conversion (text/plain) whose payload is the extracted text, one
    gzip member per record, WARC-Refers-To linking back."""
    from k_means_hadoop_spark.operators.containers import _WET_INFO_PAYLOAD

    body = b"Extracted plain text.\nSecond line."
    info = codecs.encode_warc_record(
        [("WARC-Type", "warcinfo"), ("Content-Type", "application/warc-fields")],
        _WET_INFO_PAYLOAD,
    )
    conv = codecs.encode_warc_record(
        [
            ("WARC-Type", "conversion"),
            ("WARC-Refers-To", "<urn:uuid:00000007>"),
            ("Content-Type", "text/plain"),
        ],
        body,
    )
    g = codecs.parse_gzip(codecs.encode_gzip([{"data": info}, {"data": conv}]))
    assert g["n_members"] == 2
    recs = [codecs.parse_warc(m["data"])["records"][0] for m in g["members"]]
    assert [r["headers"]["WARC-Type"] for r in recs] == ["warcinfo", "conversion"]
    assert recs[0]["headers"]["Content-Type"] == "application/warc-fields"
    assert recs[1]["headers"]["Content-Type"] == "text/plain"
    assert recs[1]["headers"]["WARC-Refers-To"] == "<urn:uuid:00000007>"
    assert recs[1]["payload"] == body
    assert int(recs[1]["headers"]["Content-Length"]) == len(body)


def test_wet_stats_non_ascii_yields_parse_ok_false(spark, sf_dir):
    """Same hostile-row contract as warc_ingest_stats (the r12 ADVICE
    fix): a non-ASCII text emits parse_ok=False, not a task failure."""
    from k_means_hadoop_spark.operators import containers

    docs = spark.createDataFrame(
        [(2, "ascii text"), (13, "naïve café")], "doc_id bigint, text string"
    )
    orig = containers._t
    try:
        containers._t = lambda sp, sd, name: docs
        out = containers.warc_wet_stats(spark, sf_dir).collect()
    finally:
        containers._t = orig
    by_id = {r["media_id"]: r for r in out}
    assert by_id[2]["parse_ok"] is True
    assert by_id[2]["record_types"] == "warcinfo,conversion"
    assert by_id[13]["parse_ok"] is False


# ------------------------------------------------- 3. warc_shards source


def _stage_shards(tmp_path, docs, n_shards=3):
    from k_means_hadoop_spark.sources.warc_shards import write_warc_shards

    out = os.path.join(str(tmp_path), "wet")
    write_warc_shards(docs, out, n_shards=n_shards)
    return out


def test_warc_shards_golden_roundtrip(spark, tmp_path):
    """Shards written by encode_gzip/encode_warc_record read back
    through the Spark Data Source with exact ids, types, and payloads;
    shard count = partition count."""
    from k_means_hadoop_spark.sources.warc_shards import read_warc_shards

    docs = [(i, f"document number {i} body text") for i in (0, 1, 2, 5, 7, 30)]
    out = _stage_shards(tmp_path, docs)
    df = read_warc_shards(spark, out)
    assert df.rdd.getNumPartitions() == 3
    rows = sorted(df.collect(), key=lambda r: r["doc_id"])
    assert [r["doc_id"] for r in rows] == [0, 1, 2, 5, 7, 30]
    for r in rows:
        assert r["record_type"] == "conversion"
        assert r["content_type"] == "text/plain"
        assert bytes(r["payload"]) == f"document number {r['doc_id']} body text".encode()


def test_warc_shards_reader_rejects_corruption(tmp_path):
    """A flipped byte inside a shard fails that partition loudly (the
    gzip CRC layer), and structural violations — leading record not
    warcinfo, two records in one member — are framing errors."""
    from k_means_hadoop_spark.sources.warc_shards import (
        _ShardPartition,
        _WarcShardReader,
        write_warc_shards,
    )

    d = os.path.join(str(tmp_path), "wet")
    write_warc_shards([(4, "payload four")], d, n_shards=1)
    shard = os.path.join(d, "shard-00000.warc.gz")
    reader = _WarcShardReader({"path": d})
    assert [r[0] for r in reader.read(_ShardPartition(shard))] == [4]

    blob = bytearray(open(shard, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    bad = os.path.join(str(tmp_path), "bad.warc.gz")
    with open(bad, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises(ValueError):
        list(reader.read(_ShardPartition(bad)))

    # first member not warcinfo
    conv = codecs.encode_warc_record(
        [("WARC-Type", "conversion"), ("WARC-Record-ID", "<urn:uuid:wet-00000001>")],
        b"x",
    )
    noinfo = os.path.join(str(tmp_path), "noinfo.warc.gz")
    with open(noinfo, "wb") as f:
        f.write(codecs.encode_gzip([{"data": conv}]))
    with pytest.raises(ValueError, match="not warcinfo"):
        list(reader.read(_ShardPartition(noinfo)))

    # two records in one member
    info = codecs.encode_warc_record([("WARC-Type", "warcinfo")], b"i")
    packed = os.path.join(str(tmp_path), "packed.warc.gz")
    with open(packed, "wb") as f:
        f.write(codecs.encode_gzip([{"data": info}, {"data": conv + conv}]))
    with pytest.raises(ValueError, match="one per member"):
        list(reader.read(_ShardPartition(packed)))


def test_warc_shards_reader_has_no_runtime_package_import():
    """The round-12 sweep regression: the reader executes on workers
    that may lack the repo on sys.path, so ``codecs`` must be a
    module-level binding (captured by cloudpickle's by-value
    registration) — a runtime ``import k_means_hadoop_spark...`` inside
    read() re-resolves by NAME and raises ModuleNotFoundError off-path.
    The authoritative check is run_window_check from /tmp; this pin
    catches the regression statically."""
    import dis

    import k_means_hadoop_spark.sources.warc_shards as ws

    assert ws.codecs is codecs  # module-level by-value capture seam
    imported = {
        i.argval
        for i in dis.get_instructions(ws._WarcShardReader.read)
        if i.opname == "IMPORT_NAME"
    }
    assert not any(str(n).startswith("k_means_hadoop_spark") for n in imported)

    # same seam for the worker-side plant helper (the sweep's second
    # off-path failure): module-level codecs binding, no runtime import
    import k_means_hadoop_spark.operators.containers as containers

    assert containers.codecs is codecs
    plant_imports = {
        i.argval
        for i in dis.get_instructions(_ogg_codec_plant)
        if i.opname == "IMPORT_NAME"
    }
    assert not any(
        str(n).startswith("k_means_hadoop_spark") for n in plant_imports
    )


def test_package_import_ships_worker_code_by_value(tmp_path):
    """Importing the package alone registers it pickle-by-value: a plain
    module-level codecs function pickled by one interpreter loads and
    runs in a second one whose cwd and sys.path hold no copy of the
    package — the situation of a worker launched off the repo root."""
    import subprocess
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dump = (
        "import sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "import k_means_hadoop_spark\n"
        "from pyspark import cloudpickle\n"
        "from k_means_hadoop_spark.functions import codecs\n"
        "sys.stdout.buffer.write(cloudpickle.dumps((codecs.encode_wav, codecs.decode_wav)))\n"
    )
    load = (
        "import importlib.util, pickle, sys\n"
        "import numpy as np\n"
        "assert importlib.util.find_spec('k_means_hadoop_spark') is None\n"
        "enc, dec = pickle.loads(sys.stdin.buffer.read())\n"
        "samples, rate = dec(enc(np.arange(-3, 4, dtype=np.int16), 8000))\n"
        "print(rate, samples.tolist())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    blob = subprocess.run(
        [sys.executable, "-c", dump, repo_root],
        capture_output=True, timeout=120, env=env, check=True,
    ).stdout
    r = subprocess.run(
        [sys.executable, "-c", load],
        input=blob, capture_output=True, timeout=120, env=env, cwd=tmp_path,
    )
    assert r.returncode == 0, r.stderr.decode()[-2000:]
    assert r.stdout.decode().split() == ["8000", "[-3,", "-2,", "-1,", "0,", "1,", "2,", "3]"]


def test_record_doc_id_urn():
    from k_means_hadoop_spark.sources.warc_shards import _record_doc_id

    assert _record_doc_id("<urn:uuid:wet-0000002a>") == 42
    with pytest.raises(ValueError):
        _record_doc_id("<urn:uuid:0000002a>")
    with pytest.raises(ValueError):
        _record_doc_id("<urn:uuid:wet-zzzz>")


def test_write_warc_shards_rejects_non_ascii(tmp_path):
    """Staging raises the module's ValueError (naming the doc) instead
    of a bare UnicodeEncodeError escaping mid-write: WET staging
    requires the enforced ASCII fixture bound, and the scan schema has
    no parse_ok channel to degrade into (round-12 review finding)."""
    from k_means_hadoop_spark.sources.warc_shards import write_warc_shards

    with pytest.raises(ValueError, match="doc 9 text is not ASCII"):
        write_warc_shards(
            [(1, "fine"), (9, "café au lait")], os.path.join(str(tmp_path), "w")
        )


def test_duplicate_components_raises_on_unconverged_chain(spark):
    """A component whose diameter exceeds max_iter must RAISE, not
    return silently non-minimal labels that fail the oracle hash with
    no Spark-side signal (round-12 review finding).  A 12-node chain
    converges under the default cap but not under max_iter=2."""
    from k_means_hadoop_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a_id bigint, b_id bigint"
    )
    with pytest.raises(ValueError, match="not converged"):
        dedup.duplicate_components(chain, max_iter=2)
    comps = {
        r["comp_id"] for r in dedup.duplicate_components(chain).collect()
    }
    assert comps == {0}  # ample cap: one component labelled by its min


# --------------------------------------- 4. edit-distance components


def test_edit_components_planted_clone_cluster(spark):
    """Three near-identical clones (pairwise levenshtein <= 5) must
    collapse into ONE component with exactly one survivor — the
    quality arg-max (ties to lowest doc_id) — while unrelated docs
    stay singleton survivors."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from k_means_hadoop_spark.operators import dedup, text
    from k_means_hadoop_spark.registry_pipeline import EDIT_DIST_MAX, NGRAM_N

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun light"
    )
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base.replace("afternoon", "afternoom")),  # 1 edit
            (12, base.replace("quick", "quack") + "!"),  # 2 edits
            (20, "completely unrelated text about spark execution plans"),
            (21, "another separate document mentioning parquet files only"),
        ],
        "doc_id bigint, text string",
    )
    pairs = dedup.edit_verified_pairs(docs, n=NGRAM_N, max_dist=EDIT_DIST_MAX)
    got_pairs = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert got_pairs == {(10, 11), (10, 12), (11, 12)}

    comps = dedup.duplicate_components(pairs)
    q = text.quality_scores(docs).select("doc_id", "quality")
    full = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .withColumn("comp_id", F.coalesce("comp_id", F.col("doc_id")))
        .join(q, "doc_id")
    )
    w = Window.partitionBy("comp_id").orderBy(F.col("quality").desc(), F.col("doc_id"))
    rows = {
        r["doc_id"]: r
        for r in full.select(
            "doc_id", "comp_id", (F.row_number().over(w) == 1).alias("is_survivor")
        ).collect()
    }
    assert rows[10]["comp_id"] == rows[11]["comp_id"] == rows[12]["comp_id"] == 10
    assert sum(rows[d]["is_survivor"] for d in (10, 11, 12)) == 1
    assert rows[20]["is_survivor"] and rows[20]["comp_id"] == 20
    assert rows[21]["is_survivor"] and rows[21]["comp_id"] == 21
