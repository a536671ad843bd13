"""Round-12 ADVICE regression pins (the three low items from ADVICE.md).

1. ``warc_ingest_stats`` must emit a parse_ok=False row — not fail the
   Spark task — when a document's text is not ASCII-encodable: the
   encode step runs inside the same try as the parse walk.
2. ``sniff_format`` must not report 'tar' for arbitrary binary data
   that merely carries b'ustar' at offset 257: the header checksum
   must verify too.
3. (comment-only item: the gzip FNAME bytes.index note — no runtime
   pin needed; behavior was already correct.)
"""

from __future__ import annotations

import io
import tarfile

from k_means_hadoop_spark.functions import codecs
from k_means_hadoop_spark.operators import containers


def test_warc_ingest_non_ascii_text_yields_parse_ok_false(spark, sf_dir):
    """A non-ASCII text row flows through the kernel as parse_ok=False
    instead of raising UnicodeEncodeError out of the Spark task.  The
    shipped fixtures are ASCII-pinned, so the hostile row is planted by
    routing the operator's table read to a crafted frame (containers
    imported ``_t`` by name, so the patch targets ITS binding)."""
    docs = spark.createDataFrame(
        [(5, "plain ascii"), (16, "smart “quotes”")],
        "doc_id bigint, text string",
    )
    orig = containers._t
    try:
        containers._t = lambda sp, sd, name: docs
        out = containers.warc_ingest_stats(spark, sf_dir).collect()
    finally:
        containers._t = orig
    by_id = {r["media_id"]: r for r in out}
    assert by_id[5]["parse_ok"] is True
    assert by_id[5]["record_types"] == "warcinfo,response"
    assert by_id[16]["parse_ok"] is False
    assert by_id[16]["n_records"] == 0


def test_unicode_encode_error_is_a_value_error():
    """The kernel's single ``except ValueError`` covers the encode step
    because UnicodeEncodeError subclasses ValueError — pin the
    hierarchy the fix relies on."""
    assert issubclass(UnicodeEncodeError, ValueError)


def test_sniff_tar_requires_verified_checksum():
    """Random bytes with b'ustar' planted at offset 257 must sniff as
    'unknown'; a real encode_tar archive still sniffs as 'tar' (and so
    does a stdlib-tarfile archive)."""
    blob = bytearray(bytes((i * 37 + 11) % 256 for i in range(1024)))
    blob[257:262] = b"ustar"
    assert codecs.sniff_format(bytes(blob)) == "unknown"

    real = codecs.encode_tar([{"name": "a.bin", "data": b"xyz"}])
    assert codecs.sniff_format(real) == "tar"

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        info = tarfile.TarInfo("b.bin")
        info.size = 3
        tf.addfile(info, io.BytesIO(b"abc"))
    assert codecs.sniff_format(buf.getvalue()) == "tar"


def test_sniff_tar_short_blob_with_magic_is_unknown():
    """A blob long enough to carry the magic but shorter than one header
    block cannot verify a checksum — 'unknown', not an exception."""
    blob = b"\x00" * 257 + b"ustar" + b"\x00" * 10
    assert codecs.sniff_format(blob) == "unknown"
