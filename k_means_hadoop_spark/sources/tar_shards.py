"""WebDataset-style tar-shard media source (Spark 4 Python Data Source).

Large multimodal training corpora ship as directories of .tar shards
whose members are media files named by sample id (the WebDataset
layout); the shard is the unit of parallelism.  This source implements
that contract with stdlib ``tarfile``: ``partitions()`` returns one
input partition PER SHARD, and each executor opens only its own tar
and streams (media_id, kind, payload) rows out of the member bytes —
payloads never touch the driver, and adding shards adds parallelism
with no code change.

kind is derived from the member extension (.bmp → image, .wav → audio,
anything else → video), matching the dependency-free real decoders in
``functions/codecs.py`` — `webdataset_tar_scan` chains this source
into ``decode_media_real`` and hash-matches the SAME closed-form
oracle as ``multimodal_decode_real``, proving tar framing + codec
round trip end to end.
"""

from __future__ import annotations

import os
import tarfile

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_EXT_KIND = {".bmp": "image", ".wav": "audio"}


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _TarShardReader(DataSourceReader):
    def __init__(self, options):
        self.dir = options["path"]

    def partitions(self):
        shards = sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir)
            if f.endswith(".tar")
        )
        return [_ShardPartition(p) for p in shards]

    def read(self, partition: _ShardPartition):
        with tarfile.open(partition.path, "r") as tf:
            for member in tf.getmembers():
                if not member.isfile():
                    continue
                stem, ext = os.path.splitext(os.path.basename(member.name))
                # Tolerate foreign WebDataset shards: a stem int() can't
                # parse (isdigit() is NOT the right guard — '--3' and
                # unicode digits like '²' pass it but fail int()) or a
                # member extractfile() can't materialize (sparse /
                # special entries return None) is skipped, not a crash.
                try:
                    media_id = int(stem)
                except ValueError:
                    continue
                fobj = tf.extractfile(member)
                if fobj is None:
                    continue
                payload = fobj.read()
                yield (media_id, _EXT_KIND.get(ext, "video"), payload)


class TarShardDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tar_shards"

    def schema(self) -> str:
        return "media_id bigint, kind string, payload binary"

    def reader(self, schema) -> _TarShardReader:
        return _TarShardReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the source with the session."""
    spark.dataSource.register(TarShardDataSource)


def write_tar_shards(media_rows, out_dir: str, n_shards: int = 8) -> None:
    """Stage (media_id, kind, payload) rows as WebDataset-style shards:
    shard = media_id % n_shards, member name = ``{id}.{ext}``.  Fixture
    staging happens driver-side (payloads are test-sized); a production
    corpus is sharded by its ingest job with the identical layout."""
    kind_ext = {"image": "bmp", "audio": "wav", "video": "bin"}
    os.makedirs(out_dir, exist_ok=True)
    tars = [
        tarfile.open(os.path.join(out_dir, f"shard-{s:05d}.tar"), "w")
        for s in range(n_shards)
    ]
    try:
        import io
        import time

        for mid, kind, payload in media_rows:
            info = tarfile.TarInfo(name=f"{int(mid)}.{kind_ext[kind]}")
            info.size = len(payload)
            info.mtime = 0  # deterministic archives
            tars[int(mid) % n_shards].addfile(info, io.BytesIO(bytes(payload)))
    finally:
        for t in tars:
            t.close()


def read_tar_shards(spark, path: str):
    register(spark)
    return spark.read.format("tar_shards").option("path", path).load()
