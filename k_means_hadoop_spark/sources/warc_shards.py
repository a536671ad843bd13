"""WET-shard source: .warc.gz shards as a Spark 4 Python Data Source.

The round-11 verdict item 3: apply the ``tar_shards`` WebDataset
pattern to the format a 100 TB text crawl actually arrives in.  A WET
shard is one ``.warc.gz`` file — a leading gzip member holding the
'warcinfo' record, then ONE GZIP MEMBER PER 'conversion' RECORD (the
Common Crawl convention: per-record members make any record seekable
without inflating the whole file).  ``partitions()`` returns one input
partition PER SHARD and each executor walks only its own file through
the two verified layers from ``functions/codecs.py`` — the gzip member
walk (CRC-32 + ISIZE checked) and the WARC record parse (version,
headers, exact Content-Length bound) — so a framing error anywhere in
a shard fails ITS partition loudly rather than yielding silently
wrong rows.  Payloads never touch the driver; adding shards adds
parallelism with no code change.

The document id rides in the WARC-Record-ID urn
(``<urn:uuid:wet-XXXXXXXX>``, hex), the same id convention
``operators/containers.warc_wet_stats`` roundtrips in memory —
``warc_shard_scan`` chains this source over staged shards and
hash-matches payload bytes + md5 against the REAL documents table,
proving on-disk framing end to end.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# Module-level binding, NOT an in-method import: the reader executes on
# workers that may not have the repo on sys.path.  The package pickles
# by value (``k_means_hadoop_spark/__init__.py``), and cloudpickle
# resolves the reader's global reference to the by-value copy — a
# runtime `import k_means_...` in read() would instead re-resolve by
# NAME and raise ModuleNotFoundError off-path.
from k_means_hadoop_spark.functions import codecs

_WET_INFO_PAYLOAD = b"Software-Info: k-means-hadoop-spark-wet\r\n"


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _record_doc_id(rid: str) -> int:
    """Decode ``<urn:uuid:wet-XXXXXXXX>`` back to the document id."""
    if not (rid.startswith("<urn:uuid:wet-") and rid.endswith(">")):
        raise ValueError(f"WET shard: unrecognized record id {rid!r}")
    return int(rid[14:-1], 16)


class _WarcShardReader(DataSourceReader):
    def __init__(self, options):
        self.dir = options["path"]

    def partitions(self):
        shards = sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir)
            if f.endswith(".warc.gz")
        )
        return [_ShardPartition(p) for p in shards]

    def read(self, partition: _ShardPartition):
        with open(partition.path, "rb") as f:
            blob = f.read()
        g = codecs.parse_gzip(blob)
        if not g["members"]:
            raise ValueError(f"WET shard {partition.path}: no gzip members")
        for i, member in enumerate(g["members"]):
            w = codecs.parse_warc(member["data"])
            if w["n_records"] != 1:
                raise ValueError(
                    f"WET shard {partition.path}: member {i} holds "
                    f"{w['n_records']} records (one per member required)"
                )
            rec = w["records"][0]
            rtype = rec["headers"].get("WARC-Type", "")
            if i == 0:
                # the shard-level warcinfo is metadata, not a row — but
                # its absence or corruption is a framing error
                if rtype != "warcinfo":
                    raise ValueError(
                        f"WET shard {partition.path}: first record is "
                        f"{rtype!r}, not warcinfo"
                    )
                continue
            if rtype != "conversion":
                raise ValueError(
                    f"WET shard {partition.path}: member {i} is "
                    f"{rtype!r}, not conversion"
                )
            yield (
                _record_doc_id(rec["headers"]["WARC-Record-ID"]),
                rtype,
                rec["headers"].get("Content-Type", ""),
                rec["payload"],
            )


class WarcShardDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "warc_shards"

    def schema(self) -> str:
        return "doc_id bigint, record_type string, content_type string, payload binary"

    def reader(self, schema) -> _WarcShardReader:
        return _WarcShardReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the source with the session."""
    spark.dataSource.register(WarcShardDataSource)


def write_warc_shards(doc_rows, out_dir: str, n_shards: int = 8) -> None:
    """Stage (doc_id, text) rows as WET shards: shard = doc_id %
    n_shards, each shard a .warc.gz whose first gzip member is the
    warcinfo record and every later member one conversion record
    (payload = ascii text bytes, id in the WARC-Record-ID urn),
    members in doc_id order for determinism.  Staging happens
    driver-side (fixtures are test-sized); a production corpus is
    sharded by its conversion job with the identical layout."""
    by_shard: dict[int, list] = {s: [] for s in range(n_shards)}
    for did, text in doc_rows:
        by_shard[int(did) % n_shards].append((int(did), str(text)))
    os.makedirs(out_dir, exist_ok=True)
    for s, docs in by_shard.items():
        members = [
            {
                "data": codecs.encode_warc_record(
                    [
                        ("WARC-Type", "warcinfo"),
                        ("WARC-Record-ID", f"<urn:uuid:wetinfo-{s:08x}>"),
                        ("Content-Type", "application/warc-fields"),
                    ],
                    _WET_INFO_PAYLOAD,
                )
            }
        ]
        for did, text in sorted(docs):
            try:
                body = text.encode("ascii")
            except UnicodeEncodeError as e:
                # the module's ValueError rejection contract, not a bare
                # UnicodeEncodeError escaping mid-write: WET staging
                # requires the enforced ASCII fixture bound (a real
                # conversion job transcodes upstream), and the scan
                # schema has no parse_ok channel to degrade into
                raise ValueError(
                    f"WET staging: doc {did} text is not ASCII: {e}"
                ) from e
            members.append(
                {
                    "data": codecs.encode_warc_record(
                        [
                            ("WARC-Type", "conversion"),
                            ("WARC-Record-ID", f"<urn:uuid:wet-{did:08x}>"),
                            ("WARC-Refers-To", f"<urn:uuid:{did:08x}>"),
                            ("Content-Type", "text/plain"),
                        ],
                        body,
                    )
                }
            )
        path = os.path.join(out_dir, f"shard-{s:05d}.warc.gz")
        with open(path, "wb") as f:
            f.write(codecs.encode_gzip(members))


def read_warc_shards(spark, path: str):
    register(spark)
    return spark.read.format("warc_shards").option("path", path).load()
