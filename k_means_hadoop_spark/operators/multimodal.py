"""Multimodal columns (beyond-reference north-star surface).

Media (image/audio/video) are opaque ``BinaryType`` payloads with a
typed metadata struct; heavy per-item work (decode / feature-extract /
resize / frame-sample) runs as Arrow-batched ``mapInPandas`` — the
correct 100 TB shape: payloads never leave their partition, Python sees
columnar batches, and the output schema is declared up front so the
rest of the plan stays Catalyst-planned.  ``map_rows`` is the one batch
loop every per-row kernel here and in ``containers.py`` runs through:
a kernel is a plain function of one input row that returns its output
rows.

``decode_media`` computes deterministic pseudo-features from the raw
bytes and is clearly marked as a fake.  ``decode_media_real`` (round
5) is a REAL decoder for the formats that need no third-party codec —
uncompressed 24-bit BMP and PCM WAV, parsed byte-for-byte by
``functions/codecs.py`` — with honest ok=false rows for everything
else (video / compressed codecs: the remaining Pillow/ffmpeg seam,
now visible in the output instead of raising).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from k_means_hadoop_spark.functions import codecs

# synthesize_codec_media's kind assignment: kind = doc_id % 3.
_MEDIA_KIND_MOD = {"image": 0, "audio": 1, "video": 2}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_bytes", T.LongType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("mean_byte", T.DoubleType(), False),
        T.StructField("byte_entropy", T.DoubleType(), False),
    ]
)


def map_rows(df: DataFrame, row_fn: Callable[..., list], schema: T.StructType | str) -> DataFrame:
    """Run a per-row Python kernel on the executors through ``mapInPandas``.

    ``row_fn(*values)`` is called once per row of ``df``, with the values
    in ``df.columns`` order, and returns that row's output rows: tuples
    in ``schema`` order or dicts keyed by column name.  An empty list
    emits nothing (how a kernel skips a malformed payload); several rows
    expand the input row.  Each Arrow batch becomes one pandas frame
    whose column names come from ``schema``, so a kernel states its
    columns once.  Select the consumed columns JVM-side first: every
    column of ``df`` crosses the Arrow boundary."""
    import pandas as pd

    parsed = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    names = parsed.fieldNames()

    def _batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = [
                out for values in zip(*(pdf[c] for c in pdf.columns)) for out in row_fn(*values)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(_batches, schema=schema)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from ``documents`` (deterministic test
    fixture): payload = utf-8 text bytes, kind round-robins, meta derived
    from doc stats.  Real deployments would scan parquet/tar shards of
    actual media bytes with this same schema."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") % 300).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """FAKE-decode feature extraction (deterministic stand-in).

    Real plumbing: Arrow-batched mapInPandas with declared output
    schema; per-batch vectorized numpy over the payload bytes.  The
    computed features (hash / mean byte / entropy) are placeholders for
    decoded-pixel or waveform statistics.

    Only the three consumed columns cross the Python boundary (guide
    §4.1 — round-13 audit: the kernel never reads ``meta``, but an
    opaque mapInPandas over the full frame shipped it anyway AND kept
    the scan from pruning the columns meta is derived from).
    """
    import hashlib

    import numpy as np

    def _row(mid, kind, payload):
        buf = np.frombuffer(payload, dtype=np.uint8)
        counts = np.bincount(buf, minlength=256).astype(np.float64)
        p = counts[counts > 0] / max(len(buf), 1)
        entropy = float(-(p * np.log2(p)).sum()) if len(buf) else 0.0
        return [
            (
                int(mid),
                str(kind),
                int(len(buf)),
                hashlib.md5(bytes(payload)).hexdigest(),
                float(buf.mean()) if len(buf) else 0.0,
                entropy,
            )
        ]

    return map_rows(media.select("media_id", "kind", "payload"), _row, FEATURES_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), False),
    ]
)


def sample_frames(media: DataFrame, stride: int = 30) -> DataFrame:
    """Frame sampling over video payloads — the ROW-EXPANDING mapInPandas
    shape (1 video → n_frames/stride frame rows), complementing
    ``decode_media``'s 1:1 shape.  At 100 TB this is how video becomes
    training items: payloads stay partition-local, Python sees Arrow
    batches, fan-out happens inside the kernel so no exploded
    intermediate ever materializes in the JVM.

    The frame "decode" is the deterministic stub (md5 of payload + ':' +
    index — where ffmpeg would emit the real frame tensor); sampling
    indices are real: range(0, meta.n_frames, stride)."""
    import hashlib

    videos = media.filter(F.col("kind") == "video").select(
        "media_id", "payload", F.col("meta.n_frames").alias("n_frames")
    )

    def _row(mid, payload, n_frames):
        out: list[tuple[int, int, str]] = []
        for idx in range(0, int(n_frames), stride):
            h = hashlib.md5(bytes(payload) + b":" + str(idx).encode()).hexdigest()
            out.append((int(mid), idx, h))
        return out

    return map_rows(videos, _row, FRAME_SCHEMA)


ARROW_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_bytes", T.LongType(), False),
    ]
)


def arrow_byte_stats(media: DataFrame) -> DataFrame:
    """Payload stats via ``mapInArrow`` — the third UDx batch shape next
    to mapInPandas (1:1 and row-expanding): the kernel receives raw
    ``pyarrow.RecordBatch``es with NO pandas conversion, the right seam
    when the per-batch work is itself Arrow-native (pyarrow.compute,
    Arrow-backed ML preprocessing).  Zero-copy in, columnar compute,
    zero-copy out."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def _batches(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in it:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("media_id"),
                    batch.column("kind"),
                    pc.cast(pc.binary_length(batch.column("payload")), pa.int64()),
                ],
                names=["media_id", "kind", "payload_bytes"],
            )

    return media.select("media_id", "kind", "payload").mapInArrow(
        _batches, schema=ARROW_STATS_SCHEMA
    )


# ------------------------------------------------- REAL decode (BMP/WAV)
#
# Round 5 closed half of the round-4 seam WITHOUT new dependencies:
# uncompressed 24-bit BMP is a fixed-layout struct and PCM WAV is
# stdlib `wave` — complete parsers live in functions/codecs.py
# (header validation, bottom-up rows, 4-byte padding, 16-bit PCM
# framing).  Video (and any compressed image/audio codec) remains the
# documented Pillow/ffmpeg seam — those payloads come back as honest
# ok=false rows instead of fake features.

REAL_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("reason", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("thumb_hash", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zcr", T.DoubleType(), True),
    ]
)


def decode_media_real(media: DataFrame, thumb: tuple[int, int] = (4, 3)) -> DataFrame:
    """REAL decode of BMP images and PCM-WAV audio payloads: pixels and
    samples are parsed from the actual bytes (not metadata), images get
    a nearest-neighbor thumbnail whose pixel bytes are hashed, audio
    gets RMS / zero-crossing rate from the waveform.  Payloads the
    container has no codec for yield ok=false rows carrying the reason
    — the remaining Pillow/ffmpeg seam, kept visible in the output
    instead of raising.  Only the three consumed columns cross the
    Arrow boundary (``meta`` stays JVM-side)."""
    import hashlib

    import numpy as np

    tw, th = thumb

    def _row(mid, kind, payload):
        mid, kind = int(mid), str(kind)
        base = {
            "media_id": mid, "kind": kind, "ok": False, "reason": None,
            "width": None, "height": None, "mean_r": None, "mean_g": None,
            "mean_b": None, "thumb_hash": None, "sample_rate": None,
            "n_samples": None, "rms": None, "zcr": None,
        }
        try:
            if kind == "image":
                # dispatch on MAGIC BYTES, not the kind column:
                # all four in-repo image codecs land in the same
                # (H, W, 3) RGB stats shape, so a BMP payload
                # (the planted-oracle case) is byte-identical to
                # the pre-sniffing behavior while PNG/GIF/JPEG
                # payloads now decode instead of erroring
                raw = bytes(payload)
                fmt = codecs.sniff_format(raw)
                if fmt == "bmp":
                    img = codecs.decode_bmp(raw)
                elif fmt == "png":
                    img = codecs.decode_png(raw)
                elif fmt == "gif":
                    idx, pal = codecs.decode_gif(raw)
                    img = pal[idx]
                elif fmt == "jpeg":
                    gray = codecs.decode_jpeg(raw)
                    img = np.stack([gray] * 3, axis=-1)
                else:
                    raise ValueError(
                        f"no codec for image format {fmt!r}"
                    )
                h, w, _ = img.shape
                # integer channel sums, ONE division each — the
                # same op order the oracle's closed form uses
                sums = img.reshape(-1, 3).astype(np.int64).sum(axis=0)
                n_px = h * w
                tb = codecs.resize_nearest(img, tw, th)
                base.update(
                    ok=True, width=w, height=h,
                    mean_r=float(sums[0]) / n_px,
                    mean_g=float(sums[1]) / n_px,
                    mean_b=float(sums[2]) / n_px,
                    # md5 over the HEX of the thumb bytes (not the
                    # raw bytes): the oracle can only md5 strings,
                    # and hex is a faithful byte-level encoding
                    thumb_hash=hashlib.md5(
                        tb.tobytes().hex().encode()
                    ).hexdigest(),
                )
            elif kind == "audio":
                samples, rate = codecs.decode_wav(bytes(payload))
                s = samples.astype(np.int64)
                n = len(s)
                import math

                base.update(
                    ok=True, sample_rate=rate, n_samples=n,
                    rms=math.sqrt(float((s * s).sum()) / n) if n else 0.0,
                    zcr=(
                        float(int((s[1:] * s[:-1] < 0).sum())) / (n - 1)
                        if n > 1 else 0.0
                    ),
                )
            else:
                base["reason"] = "no codec for kind=video in this container (ffmpeg seam)"
        except ValueError as e:
            base["reason"] = str(e)
        return [base]

    return map_rows(
        media.select("media_id", "kind", "payload"), _row, REAL_DECODE_SCHEMA
    )


def synthesize_codec_media(
    docs: DataFrame, kinds: Sequence[str] | None = None
) -> DataFrame:
    """Planted REAL-format payloads, closed-form so an engine with no
    codec (DuckDB) can still predict every decoded statistic:

    - image (doc_id % 3 == 0): 8×6 BMP whose flattened pixel i has all
      three channels equal to (doc_id·31 + i) mod 256;
    - audio (doc_id % 3 == 1): 64-sample 16 kHz PCM WAV with
      s_i = (doc_id·7 + i) mod 201 − 100;
    - video (doc_id % 3 == 2): utf-8 text bytes (no codec here — the
      honest ffmpeg seam, asserted as ok=false downstream).

    ``kinds`` (optional): the subset the caller will consume.  The kind
    assignment is pure ``doc_id % 3``, so it is applied as a JVM filter
    BEFORE the Python kernel — excluded payloads are never synthesized
    or shipped across the Arrow boundary — and the text column (read
    only for video payloads) is replaced by an empty literal when video
    is excluded, so document text stays out of the exchange entirely.
    Emitted rows are identical to filtering the full output on kind.
    """
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def _row(did, text):
        did = int(did)
        m = did % 3
        if m == 0:
            i = np.arange(48, dtype=np.int64)
            px = ((did * 31 + i) % 256).astype(np.uint8)
            img = np.repeat(px, 3).reshape(6, 8, 3)
            payload = codecs.encode_bmp(img)
            kind = "image"
        elif m == 1:
            i = np.arange(64, dtype=np.int64)
            s = ((did * 7 + i) % 201 - 100).astype(np.int16)
            payload = codecs.encode_wav(s, 16000)
            kind = "audio"
        else:
            payload = str(text).encode("utf-8")
            kind = "video"
        return [(did, kind, payload)]

    inp = docs
    if kinds is not None:
        mods = sorted(_MEDIA_KIND_MOD[k] for k in kinds)
        # pmod, not %: Spark's % yields negative remainders for negative
        # doc_ids while the kernel's Python `did % 3` is always in
        # {0,1,2} — % would silently drop negative-id rows of a
        # requested kind (r12 ADVICE; testdata ids are non-negative, but
        # the 'identical to filtering the full output' contract must not
        # depend on that).
        inp = inp.filter(F.pmod(F.col("doc_id"), F.lit(3)).isin(mods))
        if "video" not in kinds:
            return map_rows(inp.select("doc_id", F.lit("").alias("text")), _row, out_schema)
    return map_rows(inp.select("doc_id", "text"), _row, out_schema)


WAV_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("energy", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def wav_frame_features(media: DataFrame, frame: int = 16) -> DataFrame:
    """Framewise features from REAL WAV decode — the row-expanding
    counterpart of ``decode_media_real``'s 1:1 shape (``sample_frames``
    does row expansion over a stub; this one parses actual PCM bytes):
    each audio payload becomes n_samples/frame rows of exact integer
    energy (Σ s², order-free) and its RMS.  Non-audio rows are
    filtered JVM-side before the kernel."""
    import math

    import numpy as np

    audio = media.filter(F.col("kind") == "audio").select("media_id", "payload")

    def _row(mid, payload):
        try:
            samples, _rate = codecs.decode_wav(bytes(payload))
        except ValueError:
            # kind='audio' is assigned by file extension alone
            # (tar_shards), so a malformed payload is reachable;
            # skip it instead of failing the whole task —
            # mirroring decode_media_real's rejection contract.
            return []
        rows = []
        s = samples.astype(np.int64)
        for fi in range(len(s) // frame):
            chunk = s[fi * frame : (fi + 1) * frame]
            energy = int((chunk * chunk).sum())
            rows.append(
                (
                    int(mid),
                    fi,
                    energy,
                    math.sqrt(energy / float(frame)),
                )
            )
        return rows

    return map_rows(audio, _row, WAV_FRAME_SCHEMA)
