"""Pins for the round-8 ADVICE items (ADVICE.md, round 8).  Item 1, a
registry scheduling comment, went with the scheduling table itself.

2. hypergeom_enrichment_sources guarded only the corpus-level gate
   (0 < K < N); a single-source corpus makes the variance factor
   (N - ns) zero and every z = 0/0 NaN — identical on both engines, so
   parity can't catch it.  Fix: loud ValueError when the corpus has
   fewer than 2 distinct sources.
3. page_trend_event_dow standardizes midranked ties with the no-tie
   variance; the z is then calibration-shifted (never parity-breaking).
   Fix: the docstring/comment states the caveat explicitly; pinned.
4. decode_gif returned the LZW indices as a read-only np.frombuffer
   view — callers mutating the decoded plane hit a WRITEABLE error the
   BMP/PNG decoders never raise.  Fix: .copy(); pinned by mutating.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _docs_parquet(tmp_path, sources):
    pd.DataFrame(
        {
            "doc_id": range(len(sources)),
            "text": ["alpha beta gamma"] * len(sources),
            "lang": ["en"] * len(sources),
            "source": sources,
            # straddle the _HG_CHARS=300 gate so ONLY the source
            # degeneracy (not the corpus gate) can trigger
            "n_chars": [100 if i % 2 else 400 for i in range(len(sources))],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_hypergeom_single_source_raises(spark, tmp_path):
    """ADVICE 2: one distinct source -> loud ValueError, not NaN rows."""
    from k_means_hadoop_spark.operators.stats_extra import (
        hypergeom_enrichment_sources,
    )

    sf_dir = _docs_parquet(tmp_path, ["only_src"] * 6)
    # round 10: the guard moved in-plan (raise_error on z) so building
    # runs no Spark job; it fires at action time with the same message
    with pytest.raises(Exception, match="distinct source"):
        hypergeom_enrichment_sources(spark, sf_dir).collect()


def test_hypergeom_empty_corpus_raises(spark, tmp_path):
    """Round 10: the empty-corpus arm rides a unioned 1-row branch of
    the tot aggregate, so even ZERO per-source rows raise loudly."""
    from k_means_hadoop_spark.operators.stats_extra import (
        hypergeom_enrichment_sources,
    )

    sf_dir = _docs_parquet(tmp_path, [])
    with pytest.raises(Exception, match="empty\\s+corpus"):
        hypergeom_enrichment_sources(spark, sf_dir).collect()


def test_hypergeom_two_sources_pass(spark, tmp_path):
    """The guard must NOT fire on a healthy 2-source corpus."""
    from k_means_hadoop_spark.operators.stats_extra import (
        hypergeom_enrichment_sources,
    )

    sf_dir = _docs_parquet(tmp_path, ["a", "a", "a", "b", "b", "b"])
    rows = hypergeom_enrichment_sources(spark, sf_dir).collect()
    assert len(rows) == 2
    assert all(r["z"] == r["z"] for r in rows)  # no NaN


def test_page_trend_documents_tie_variance_caveat():
    """ADVICE 3, superseded in round 10: the no-tie variance the round-9
    advice flagged is GONE — z now uses the midrank tie-corrected
    variance, and the derivation is documented where the caveat was
    (round-9 verdict item 6; value pin in tests/test_round8_ops.py::
    test_page_trend_against_local_reference)."""
    import inspect

    from k_means_hadoop_spark.operators import trends

    src = inspect.getsource(trends)
    blurb = src.split("def page_trend_event_dow")[0]
    assert "tie-corrected" in blurb and "Var(L)" in blurb, (
        "page_trend tie-corrected variance is no longer documented"
    )
    assert "no standard tie-corrected variance" not in blurb, (
        "the superseded round-9 no-tie caveat text is back"
    )


def test_decode_gif_returns_writable_arrays():
    """ADVICE 4: decoded GIF indices must be mutable like BMP/PNG."""
    from k_means_hadoop_spark.functions.codecs import decode_gif, encode_gif

    plane = (np.arange(48, dtype=np.uint8) % 7).reshape(6, 8)
    indices, palette = decode_gif(encode_gif(plane))
    assert indices.flags.writeable and palette.flags.writeable
    indices[0, 0] = 255  # must not raise
    np.testing.assert_array_equal(
        decode_gif(encode_gif(plane))[0], plane
    )
