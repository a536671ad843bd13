"""Python UDTF (Spark 3.5+/4 table functions) — the user-extensible
table-function seam (beyond-reference; SURVEY.md §2.9 notes the
reference has no UDx surface at all).

``TokenizeUDTF`` emits one (pos, token) row per whitespace token of its
input — the minimal honest lateral table function, deterministic so the
registry can oracle-check it against DuckDB's unnest.  Each eval() call
handles one input row and yields its expansion; Spark runs the UDTF
Arrow-batched per partition, so the fan-out never materializes JVM-side
(same argument as multimodal.sample_frames, here for the SQL-lateral
surface instead of mapInPandas).

Python UDTFs are the EXTENSIBILITY path, not the hot path — the parity
surface proper uses zero Python row kernels (everything else compiles
to Catalyst expressions); use a UDTF where the expansion logic is
genuinely imperative.
"""

from __future__ import annotations

import re

from pyspark.sql.functions import udtf

# \s+ (not str.split) so the Python kernel and the regex-split oracle
# agree on what counts as whitespace: str.split() also splits on
# \x1c-\x1f file/group separators, which regex \s does not.  Empty
# tokens are filtered (they only arise from empty/whitespace-only
# input, where the filtered list is empty) — matching word_ngrams
# semantics; the oracle filters '' the same way.
_WS = re.compile(r"\s+")


@udtf(returnType="pos int, token string")
class TokenizeUDTF:
    def eval(self, text: str):
        if text is None:
            return
        toks = [t for t in _WS.split(text.lower().strip()) if t]
        for i, tok in enumerate(toks):
            yield i, tok


def register(spark) -> None:
    """Idempotent session registration under the SQL name ``tokenize``."""
    spark.udtf.register("tokenize", TokenizeUDTF)


class NgramColumnsUDTF:
    """Dynamic-schema UDTF (Spark 4 ``analyze()`` static method): the
    output schema is computed at PLAN TIME from the constant ``n``
    argument — ``ngram_cols(text, 3)`` yields (pos, t0, t1, t2), a
    different relation type per call site.  This is the polymorphic
    table-function capability (like SQL-standard PTFs) that a fixed
    ``returnType`` UDTF cannot express; everything else (Arrow batching,
    per-row eval) matches TokenizeUDTF."""

    @staticmethod
    def analyze(text, n):
        from pyspark.sql.types import IntegerType, StringType, StructField, StructType
        from pyspark.sql.udtf import AnalyzeResult

        if n.value is None or not isinstance(n.value, int) or n.value < 1:
            raise ValueError("ngram_cols: n must be a constant positive int")
        fields = [StructField("pos", IntegerType())]
        fields += [StructField(f"t{i}", StringType()) for i in range(n.value)]
        return AnalyzeResult(StructType(fields))

    def eval(self, text: str, n: int):
        if text is None:
            return
        toks = [t for t in _WS.split(text.lower().strip()) if t]
        for i in range(max(len(toks) - n + 1, 0)):
            yield (i, *toks[i : i + n])


def register_ngram_cols(spark) -> None:
    from pyspark.sql.functions import udtf as _udtf

    spark.udtf.register("ngram_cols", _udtf(NgramColumnsUDTF))
