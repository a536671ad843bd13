"""Shared test helpers: the document schema, the fixture roots and the
one-table events writer used by more than one test module."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql.types import LongType, StringType, StructField, StructType


DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


# SPARK_GRAFT_TEST_SF_DIR picks the scale factor the suite runs at; the
# other scale factors are its siblings under the same fixture root.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ROOT = os.path.dirname(os.path.normpath(SF_DIR))
SF_DIRS = [os.path.join(SF_ROOT, f"sf{s}") for s in ("0.001", "0.01", "0.1")]


def write_events(tmp_path, rows):
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [pd.Timestamp(ts) for ts, _ in rows],
            "user_id": [1] * len(rows),
            "event_type": [t for _, t in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)
