"""Round-8 operator pins beyond the oracle-parity gate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- GIF codec


def test_gif_lzw_width_boundaries_and_reset():
    """The LZW roundtrip must survive every code-width boundary
    (9→10→11→12) and the 4096-entry dictionary reset — seeded random
    streams sized to cross each."""
    from k_means_hadoop_spark.functions import codecs

    rng = np.random.RandomState(0)
    for n in (100, 300, 600, 2000, 10000, 60000, 200000):
        d = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        assert codecs._lzw_decode_gif(codecs._lzw_encode_gif(d)) == d, n


def test_gif_lzw_kwkwk_and_runs():
    """The KwKwK self-reference case (code == table size) and deep
    dictionary chains from low-entropy runs."""
    from k_means_hadoop_spark.functions import codecs

    d = b"\x05" * 1000  # the classic KwKwK trigger
    assert codecs._lzw_decode_gif(codecs._lzw_encode_gif(d)) == d
    rng = np.random.RandomState(1)
    r = np.repeat(rng.randint(0, 3, 25001), 4)[:100000].astype(np.uint8)
    d = r.tobytes()
    assert codecs._lzw_decode_gif(codecs._lzw_encode_gif(d)) == d


def test_gif_container_roundtrip_and_rejects():
    from k_means_hadoop_spark.functions import codecs

    rng = np.random.RandomState(2)
    px = rng.randint(0, 256, (50, 100)).astype(np.uint8)
    idx, pal = codecs.decode_gif(codecs.encode_gif(px))
    assert (idx == px).all()
    assert (pal[:, 0] == np.arange(256)).all()
    assert (pal == pal[:, :1]).all()  # grayscale identity palette
    with pytest.raises(ValueError, match="not a GIF"):
        codecs.decode_gif(b"NOTAGIF" + b"\x00" * 32)


def test_gif_decode_stats_roundtrip_flag(spark, sf_dir):
    """Every planted image must survive the encode→decode roundtrip
    (decode_ok is the in-query proof the oracle cannot see)."""
    from k_means_hadoop_spark.operators.containers import gif_decode_stats

    rows = gif_decode_stats(spark, sf_dir).collect()
    assert rows, "no planted GIF rows"
    assert all(r["decode_ok"] for r in rows)
    assert all(r["n_px"] == 48 for r in rows)


# --------------------------------------------------------- rank statistics


def test_page_incomplete_blocks_raise(spark, tmp_path):
    """Page shares Friedman's complete-blocks guard (round-7 ADVICE
    pattern): a missing (block, treatment) cell must raise."""
    import pandas as pd

    from k_means_hadoop_spark.operators.trends import page_trend_event_dow

    rows = [
        ("2024-01-01 01:00:00", "A"),
        ("2024-01-01 02:00:00", "B"),
        ("2024-01-02 01:00:00", "A"),
    ]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [pd.Timestamp(t) for t, _ in rows],
            "user_id": [1] * len(rows),
            "event_type": [t for _, t in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)
    with pytest.raises(Exception, match="incomplete blocks"):
        page_trend_event_dow(spark, str(tmp_path)).first()


def test_mann_kendall_against_local_reference(spark, sf_dir):
    """S, the tie term, and z recomputed from the collected daily
    series with plain Python — the definition, not the SQL."""
    import math

    from k_means_hadoop_spark.operators.trends import mann_kendall_daily

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily]
    n = len(xs)
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tt = sum(t * (t - 1) * (2 * t + 5) for t in Counter(xs).values())
    vn = n * (n - 1) * (2 * n + 5) - tt
    if s > 0:
        z = (s - 1) / math.sqrt(vn / 18)
    elif s < 0:
        z = (s + 1) / math.sqrt(vn / 18)
    else:
        z = 0.0
    row = mann_kendall_daily(spark, sf_dir).first()
    assert row["n_days"] == n
    assert row["s_stat"] == s
    assert row["var18"] == vn
    assert row["z_stat"] == pytest.approx(z, abs=1e-6)


def test_page_trend_against_local_reference(spark, sf_dir):
    """L, ΣT, and the midrank tie-corrected z recomputed from the
    collected (weekday, event_type) count cells with plain Python —
    the definition, not the SQL (round-9 verdict item 6)."""
    import math
    from collections import Counter

    from k_means_hadoop_spark.operators.trends import page_trend_event_dow

    cells = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            (
                F.datediff(
                    F.to_date("ts"), F.lit("2024-01-01").cast("date")
                )
                % 7
            ).alias("b"),
            F.col("event_type").alias("t"),
        )
        .groupBy("b", "t")
        .agg(F.count(F.lit(1)).alias("v"))
        .collect()
    )
    blocks: dict = {}
    for r in cells:
        blocks.setdefault(r["b"], {})[r["t"]] = r["v"]
    treatments = sorted({r["t"] for r in cells})
    k, n = len(treatments), len(blocks)
    L = 0.0
    tsum = 0
    for row_ in blocks.values():
        vals = [row_[t] for t in treatments]
        for j, t in enumerate(treatments, start=1):
            v = row_[t]
            less = sum(1 for u in vals if u < v)
            eq = sum(1 for u in vals if u == v)
            L += j * (less + (eq + 1) / 2)
        tsum += sum(c**3 - c for c in Counter(vals).values())
    assert tsum > 0, "sf fixture has no within-block ties — pin is vacuous"
    var144 = k * (k + 1) * (n * k * (k * k - 1) - tsum)
    z = (12 * L - 3 * n * k * (k + 1) ** 2) / math.sqrt(var144)
    row = page_trend_event_dow(spark, sf_dir).first()
    assert row["n_blocks"] == n and row["k_treatments"] == k
    assert row["l_stat"] == pytest.approx(L, abs=1e-6)
    assert row["z_stat"] == pytest.approx(z, abs=1e-6)


def test_page_trend_fully_tied_raises_in_plan(spark, tmp_path):
    """Every block fully tied -> Var(L) = 0: the in-plan guard fires at
    action time (build stays job-free modulo the complete-blocks
    guard's own documented job)."""
    rows = []
    for d in range(1, 8):
        rows.append((f"2024-01-{d:02d} 01:00:00", "A"))
        rows.append((f"2024-01-{d:02d} 02:00:00", "B"))
    _write_events(tmp_path, rows)
    from k_means_hadoop_spark.operators.trends import page_trend_event_dow

    df = page_trend_event_dow(spark, str(tmp_path))
    with pytest.raises(Exception, match="fully\\s+tied"):
        df.first()


def test_ljung_box_nonnegative_and_reference(spark, sf_dir):
    """Q recomputed from the collected series via the exact same
    rational A_k/B definition in Python floats — and Q >= 0 always."""
    import math

    from k_means_hadoop_spark.operators.trends import (
        _LB_LAGS,
        ljung_box_daily,
    )

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily]
    n, t, q = len(xs), sum(xs), sum(v * v for v in xs)
    b = n * n * q - n * t * t
    acc = 0.0
    for k in range(1, _LB_LAGS + 1):
        p = sum(xs[i] * xs[i - k] for i in range(k, n))
        s1 = sum(xs[k:])
        s2 = sum(xs[:-k])
        a = n * n * p - n * t * (s1 + s2) + (n - k) * t * t
        term = (a * a) / (b * b * (n - k))
        acc += math.floor(term * 1_000_000 + 0.5) / 1_000_000
    expect = math.floor(n * (n + 2) * acc * 1_000_000 + 0.5) / 1_000_000
    row = ljung_box_daily(spark, sf_dir).first()
    assert row["q_stat"] >= 0
    assert row["q_stat"] == pytest.approx(expect, abs=2e-6)


def test_kendall_grid_bounds(spark, sf_dir):
    """|tau_b| <= 1 and C + D can never exceed the untied pair count."""
    from k_means_hadoop_spark.operators.stats_extra import (
        kendall_tau_grid_qty_disc,
    )

    r = kendall_tau_grid_qty_disc(spark, sf_dir).first()
    assert abs(r["tau_b"]) <= 1
    n0 = r["n_rows"] * (r["n_rows"] - 1) // 2
    assert r["concordant"] + r["discordant"] <= n0
    assert r["n_cells"] <= 50 * 11  # domain-bounded grid


# ----------------------------------------------------- distribution shapes


def test_lorenz_monotone_and_total(spark, sf_dir):
    """Lorenz cumulative share is nondecreasing, convex-ish by decile
    construction, and ends at exactly 1."""
    from k_means_hadoop_spark.operators.stats_extra import lorenz_spend_deciles

    rows = lorenz_spend_deciles(spark, sf_dir).orderBy("decile").collect()
    assert [r["decile"] for r in rows] == list(range(len(rows)))
    shares = [r["cum_share"] for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert shares[-1] == pytest.approx(1.0, abs=1e-6)
    assert rows[-1]["cum_cents"] == sum(r["cents"] for r in rows)


def test_permutation_entropy_bounds(spark, sf_dir):
    """0 <= h_norm <= 1, at most 6 ordinal patterns of order 3, and
    m = n_days - 2 windows."""
    from k_means_hadoop_spark.operators.trends import (
        permutation_entropy_daily,
    )

    r = permutation_entropy_daily(spark, sf_dir).first()
    assert 0 <= r["h_norm"] <= 1
    assert 1 <= r["n_patterns"] <= 6
    n_days = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .count()
    )
    assert r["n_windows"] == n_days - 2


def test_theil_u_bounds(spark, sf_dir):
    """0 <= U <= 1 and H(lang|source) <= H(lang) (conditioning never
    increases entropy — up to the 6dp grid)."""
    from k_means_hadoop_spark.operators.stats_extra import theil_u_lang_source

    r = theil_u_lang_source(spark, sf_dir).first()
    assert -1e-6 <= r["theil_u"] <= 1 + 1e-6
    assert r["h_lang_given_source"] <= r["h_lang"] + 2e-6


def test_hypergeom_znum_telescopes(spark, sf_dir):
    """Σ_s (N·k_s − n_s·K) = N·K − K·N = 0 exactly — the enrichment
    numerators must cancel across sources (exact-integer identity)."""
    from k_means_hadoop_spark.operators.stats_extra import (
        _HG_CHARS,
        hypergeom_enrichment_sources,
    )

    rows = hypergeom_enrichment_sources(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nn = docs.count()
    kk = docs.where(F.col("n_chars") >= _HG_CHARS).count()
    assert 0 < kk < nn, "gate must split the corpus at this SF"
    znum_sum = sum(nn * r["n_gated"] - r["n_docs"] * kk for r in rows)
    assert znum_sum == 0


def test_log_odds_topk_shape(spark, sf_dir):
    """Exactly 20 rows, lor ordered (desc, term asc), and the top
    term is genuinely en-associated (positive log-odds — a RATE
    statement: c_en/n1 beats c_rest/n2, not a raw-count one)."""
    from k_means_hadoop_spark.operators.mining import (
        _LO_TOPK,
        log_odds_terms_langs,
    )

    rows = log_odds_terms_langs(spark, sf_dir).collect()
    assert len(rows) == _LO_TOPK
    keys = [(-r["lor"], r["term"]) for r in rows]
    assert keys == sorted(keys)
    assert rows[0]["lor"] > 0


# ------------------------------------------------------------ JPEG codec


def _jpeg_reference_pipeline(img):
    """DCT-only reference (no entropy coding): what a lossless entropy
    layer must reproduce exactly for ANY input."""
    from k_means_hadoop_spark.functions import codecs

    h, w = img.shape
    hp, wp = -(-h // 8) * 8, -(-w // 8) * 8
    x = np.pad(img, ((0, hp - h), (0, wp - w)), mode="edge").astype(
        np.float64
    ) - 128.0
    c = codecs._jpeg_dct_mat()
    blocks = x.reshape(hp // 8, 8, wp // 8, 8).transpose(0, 2, 1, 3)
    f = np.einsum("ij,abjk,lk->abil", c, blocks, c)
    q = np.floor(f / codecs._JPEG_Q_LUM + 0.5)
    pix = np.einsum("ji,abjk,kl->abil", c, q * codecs._JPEG_Q_LUM, c)
    out = (
        np.clip(np.floor(pix + 128.5), 0, 255)
        .astype(np.uint8)
        .transpose(0, 2, 1, 3)
        .reshape(hp, wp)
    )
    return out[:h, :w]


def test_jpeg_entropy_layer_lossless():
    """decode(encode(x)) must equal the DCT-only reference on
    arbitrary images — proving DPCM + RLE + Huffman + byte stuffing
    perfectly lossless (the honest part of a lossy codec)."""
    from k_means_hadoop_spark.functions import codecs

    rng = np.random.RandomState(3)
    for shape in ((8, 8), (16, 24), (40, 56), (10, 13), (64, 64)):
        img = rng.randint(0, 256, shape).astype(np.uint8)
        dec = codecs.decode_jpeg(codecs.encode_jpeg(img))
        assert (dec == _jpeg_reference_pipeline(img)).all(), shape


def test_jpeg_scan_zrl_eob_and_sign_edges():
    """The entropy layer alone, on crafted coefficient blocks: ZRL
    runs (>15 zeros between nonzeros), EOB-only blocks, negative DC
    swings, and max-magnitude ACs."""
    from k_means_hadoop_spark.functions import codecs

    blocks = []
    b = np.zeros(64, dtype=np.int64)
    b[0] = 5
    b[40] = -3  # 39 zeros -> two ZRLs + a run-7 code
    blocks.append(b)
    b = np.zeros(64, dtype=np.int64)
    b[0] = -200  # negative DC diff from prev block's +5
    blocks.append(b)  # EOB-only ACs
    b = np.zeros(64, dtype=np.int64)
    b[0] = 0
    b[1] = 1023  # max baseline AC magnitude (size 10)
    b[63] = -1023  # 61 zeros -> three ZRLs + run-13
    blocks.append(b)
    scan = codecs._jpeg_encode_scan(blocks)
    dc = codecs._jpeg_canonical(codecs._JPEG_DC_BITS, codecs._JPEG_DC_VALS)
    ac = codecs._jpeg_canonical(codecs._JPEG_AC_BITS, codecs._JPEG_AC_VALS)
    dc_t = {(ln, code): s for s, (code, ln) in dc.items()}
    ac_t = {(ln, code): s for s, (code, ln) in ac.items()}
    back = codecs._jpeg_decode_scan(scan, len(blocks), dc_t, ac_t)
    for want, got in zip(blocks, back):
        assert (want == got).all()


def test_jpeg_huffman_tables_are_prefix_free():
    """The canonical (BITS, HUFFVAL) construction must yield
    prefix-free codes for both Annex-K tables."""
    from k_means_hadoop_spark.functions import codecs

    for bits, vals in (
        (codecs._JPEG_DC_BITS, codecs._JPEG_DC_VALS),
        (codecs._JPEG_AC_BITS, codecs._JPEG_AC_VALS),
    ):
        table = codecs._jpeg_canonical(bits, vals)
        assert len(table) == len(vals)
        codes = {
            format(code, f"0{ln}b") for code, ln in table.values()
        }
        assert len(codes) == len(table)
        for a in codes:
            for b in codes:
                if a is not b and b.startswith(a):
                    assert a == b, (a, b)


def test_jpeg_container_roundtrip_and_rejects():
    from k_means_hadoop_spark.functions import codecs

    px = np.zeros((16, 16), dtype=np.uint8)
    for b, (y, x) in enumerate(((0, 0), (0, 8), (8, 0), (8, 8))):
        px[y : y + 8, x : x + 8] = ((5 * 29 + b * 17) % 127) * 2
    data = codecs.encode_jpeg(px)
    assert (codecs.decode_jpeg(data) == px).all()
    with pytest.raises(ValueError, match="not a JPEG"):
        codecs.decode_jpeg(b"\x00\x01" + data[2:])
    # flip SOF0 -> SOF2 (progressive) and expect the loud reject
    sof = data.index(b"\xff\xc0")
    prog = data[:sof] + b"\xff\xc2" + data[sof + 2 :]
    with pytest.raises(ValueError, match="baseline"):
        codecs.decode_jpeg(prog)


def test_jpeg_decode_stats_roundtrip_flag(spark, sf_dir):
    """Every planted block-constant image must survive the lossy codec
    bit-exactly (the DC-only / even-value construction) — decode_ok is
    the in-query proof the oracle cannot see."""
    from k_means_hadoop_spark.operators.containers import jpeg_decode_stats

    rows = jpeg_decode_stats(spark, sf_dir).collect()
    assert rows, "no planted JPEG rows"
    assert all(r["decode_ok"] for r in rows)
    assert all(r["n_px"] == 256 for r in rows)


# ----------------------------------------------- format-agnostic dispatch


def test_sniff_format_all_five_codecs():
    from k_means_hadoop_spark.functions import codecs

    px3 = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert codecs.sniff_format(codecs.encode_bmp(px3)) == "bmp"
    assert codecs.sniff_format(codecs.encode_png(px3)) == "png"
    assert codecs.sniff_format(codecs.encode_gif(g)) == "gif"
    assert codecs.sniff_format(codecs.encode_jpeg(g)) == "jpeg"
    assert (
        codecs.sniff_format(codecs.encode_wav(np.zeros(4, np.int16)))
        == "wav"
    )
    assert codecs.sniff_format(b"\x00nope") == "unknown"


def test_decode_media_real_sniffs_all_image_formats(spark):
    """The multimodal seam dispatches on magic bytes: one payload per
    in-repo image codec, all declared kind='image', must all decode —
    BMP through the original path (oracle-pinned elsewhere), PNG/GIF/
    JPEG through the round-7/8 codecs; garbage stays ok=false."""
    from k_means_hadoop_spark.functions import codecs
    from k_means_hadoop_spark.operators.multimodal import decode_media_real

    px3 = np.full((8, 6, 3), 100, dtype=np.uint8)
    g = np.full((16, 16), 100, dtype=np.uint8)  # block-constant, even
    rows = [
        (1, "image", bytearray(codecs.encode_bmp(px3))),
        (2, "image", bytearray(codecs.encode_png(px3))),
        (3, "image", bytearray(codecs.encode_gif(g))),
        (4, "image", bytearray(codecs.encode_jpeg(g))),
        (5, "image", bytearray(b"\x00garbage")),
    ]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    out = {r["media_id"]: r for r in decode_media_real(media).collect()}
    assert out[1]["ok"] and (out[1]["width"], out[1]["height"]) == (6, 8)
    assert out[2]["ok"] and (out[2]["width"], out[2]["height"]) == (6, 8)
    assert out[3]["ok"] and (out[3]["width"], out[3]["height"]) == (16, 16)
    assert out[4]["ok"] and (out[4]["width"], out[4]["height"]) == (16, 16)
    for mid in (1, 2):  # same pixels -> same channel means
        assert out[mid]["mean_r"] == 100.0
    assert out[3]["mean_r"] == 100.0  # identity grayscale palette
    assert out[4]["mean_r"] == 100.0  # exact-invertible JPEG payload
    assert not out[5]["ok"] and "no codec" in out[5]["reason"]


def test_jpeg_dri_rejected():
    from k_means_hadoop_spark.functions import codecs

    g = np.zeros((8, 8), dtype=np.uint8)
    data = codecs.encode_jpeg(g)
    sos = data.index(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x08"  # DRI segment, interval 8
    with pytest.raises(ValueError, match="restart intervals"):
        codecs.decode_jpeg(data[:sos] + dri + data[sos:])


# -------------------------------------------- degenerate-input guards
#
# The power_iteration / Friedman ADVICE pattern, applied proactively:
# every round-8 statistic whose degenerate fixture would produce a
# silent NaN (or a silently mis-normalized value BOTH engines agree
# on) raises a descriptive ValueError instead.


def _write_events(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [pd.Timestamp(t) for t, _ in rows],
            "user_id": [1] * len(rows),
            "event_type": [t for _, t in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)


def _build_runs_no_jobs(spark, fn, *args, table="events"):
    """Build fn(*args) under a fresh job group and assert construction
    scheduled no Spark jobs beyond the table scan's own schema-
    inference job (round-9 verdict item 4: the degenerate guards are
    in-plan raise_error branches, not build-time counts).  Spark 4
    runs one tiny footer-read job per ``spark.read.parquet``, so the
    honest zero is "build jobs == plain-read jobs", measured here
    rather than assumed."""
    from k_means_hadoop_spark.operators.relational import _t

    sf_dir = args[-1]
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(f"read-baseline-{fn.__name__}", "plain table read")
    _t(spark, sf_dir, table)
    baseline = len(st.getJobIdsForGroup(f"read-baseline-{fn.__name__}"))
    group = f"no-eager-{fn.__name__}"
    sc.setJobGroup(group, "build must be lazy")
    try:
        df = fn(*args)
        built = len(st.getJobIdsForGroup(group))
        assert built <= baseline, (
            f"building {fn.__name__} ran {built} jobs vs {baseline} "
            "for a plain table read — an eager guard job is back"
        )
    finally:
        sc.setJobGroup(None, None)
    return df


def test_mann_kendall_single_day_raises(spark, tmp_path):
    from k_means_hadoop_spark.operators.trends import mann_kendall_daily

    _write_events(tmp_path, [("2024-01-01 01:00:00", "A")] * 3)
    df = _build_runs_no_jobs(spark, mann_kendall_daily, spark, str(tmp_path))
    with pytest.raises(Exception, match="fewer than 2 distinct days"):
        df.first()


def test_ljung_box_short_and_constant_raise(spark, tmp_path):
    from k_means_hadoop_spark.operators.trends import ljung_box_daily

    _write_events(
        tmp_path, [(f"2024-01-0{d} 01:00:00", "A") for d in range(1, 6)]
    )
    df = _build_runs_no_jobs(spark, ljung_box_daily, spark, str(tmp_path))
    with pytest.raises(Exception, match="distinct days <="):
        df.first()
    # 10 days, one event each: a CONSTANT series -> B = 0
    _write_events(
        tmp_path,
        [(f"2024-01-{d:02d} 01:00:00", "A") for d in range(1, 11)],
    )
    with pytest.raises(Exception, match="constant daily series"):
        ljung_box_daily(spark, str(tmp_path)).first()


def test_permutation_entropy_two_days_raises(spark, tmp_path):
    from k_means_hadoop_spark.operators.trends import (
        permutation_entropy_daily,
    )

    _write_events(
        tmp_path,
        [("2024-01-01 01:00:00", "A"), ("2024-01-02 01:00:00", "A")],
    )
    df = _build_runs_no_jobs(
        spark, permutation_entropy_daily, spark, str(tmp_path)
    )
    with pytest.raises(Exception, match="fewer than 3 distinct days"):
        df.first()


def test_page_single_treatment_raises(spark, tmp_path):
    """k = 1 is complete-blocks-valid but rank-degenerate — the shared
    guard (now also protecting Friedman) must reject it."""
    from k_means_hadoop_spark.operators.trends import page_trend_event_dow

    _write_events(
        tmp_path,
        [(f"2024-01-{d:02d} 01:00:00", "A") for d in range(1, 8)],
    )
    df = _build_runs_no_jobs(
        spark, page_trend_event_dow, spark, str(tmp_path)
    )
    with pytest.raises(Exception, match="k >= 2"):
        df.first()


def test_theil_u_single_language_raises(spark, tmp_path):
    import pandas as pd

    from k_means_hadoop_spark.operators.stats_extra import theil_u_lang_source

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "lang": ["en"] * 3,
            "source": ["web", "web", "news"],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    df = _build_runs_no_jobs(
        spark, theil_u_lang_source, spark, str(tmp_path), table="documents"
    )
    with pytest.raises(Exception, match="single-language corpus"):
        df.first()


def test_kendall_grid_constant_marginal_raises(spark, tmp_path):
    import pandas as pd

    from k_means_hadoop_spark.operators.stats_extra import (
        kendall_tau_grid_qty_disc,
    )

    pd.DataFrame(
        {"l_quantity": [5.0] * 4, "l_discount": [0.01, 0.02, 0.03, 0.04]}
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)
    df = _build_runs_no_jobs(
        spark, kendall_tau_grid_qty_disc, spark, str(tmp_path),
        table="lineitem",
    )
    with pytest.raises(Exception, match="degenerate marginal"):
        df.first()


def test_hypergeom_nonsplitting_gate_raises(spark, tmp_path):
    import pandas as pd

    from k_means_hadoop_spark.operators.stats_extra import (
        hypergeom_enrichment_sources,
    )

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["web", "news", "web"],
            "n_chars": [10, 20, 30],  # all below the 300-char gate
            "text": ["x"] * 3,
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    df = _build_runs_no_jobs(
        spark, hypergeom_enrichment_sources, spark, str(tmp_path),
        table="documents",
    )
    with pytest.raises(Exception, match="does not split"):
        df.first()


def test_gif_jpeg_truncation_normalized_to_valueerror():
    """The sniff-dispatch seam catches ValueError ONLY — a truncated
    payload raising IndexError/struct.error would kill the whole Arrow
    batch.  Every truncation point must surface as ValueError."""
    from k_means_hadoop_spark.functions import codecs

    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    gif, jpg = codecs.encode_gif(g), codecs.encode_jpeg(g)
    for data, dec in ((gif, codecs.decode_gif), (jpg, codecs.decode_jpeg)):
        for cut in (8, 14, 20, len(data) // 2, len(data) - 3):
            with pytest.raises(ValueError):
                dec(data[:cut])
