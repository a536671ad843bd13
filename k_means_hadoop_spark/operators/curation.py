"""Corpus-curation operators: the selection/splitting/outlier-control
steps a large-scale training-data pipeline runs between dedup and
tokenization (beyond-reference — SURVEY.md §2.9; the reference engine
has no document pipeline at all), plus the two learned-selection
steps: importance reweighting toward a target mixture and a
decision-stump quality model.

Scale notes:
- the train/val/test split is a *deterministic arithmetic hash* on the
  document key (Knuth multiplicative), NOT ``rand()``: reproducible
  across runs, partitionings, and engines, and needs zero shuffles —
  each row decides its split locally.  At 100 TB the same expression
  runs inside whole-stage codegen on every executor; swap the
  multiplier for ``xxhash64`` when cross-engine parity is not needed;
- per-source quota capping is one window (hash-partition by the quota
  key) followed by a groupBy on the SAME key — Catalyst reuses the
  window's hashpartitioning, so the whole query is a single Exchange;
- winsorization broadcasts a 1-row percentile aggregate to the clamp —
  the big side is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.operators.relational import _t
from k_means_hadoop_spark.operators.trends import _FL6_SQL, _fl6
from k_means_hadoop_spark.partitioning import truncate_lineage_lazy


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ------------------------------------------------------------- split / mix

# Knuth multiplicative hash: bucket in [0, 1000) from the doc key alone.
# Pure BIGINT arithmetic → bit-identical in Spark, DuckDB, or any engine.
_SPLIT_MULT = 2654435761
_SPLIT_BUCKETS = 1000
_TRAIN_LT = 900   # buckets [0,900) → train (90%)
_VAL_LT = 950     # buckets [900,950) → val (5%); rest → test (5%)


def split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split of the corpus, reported
    as per-(source, split) document counts and character volume.  The
    split column is a pure row-local expression (no shuffle, no RNG
    state); the only Exchange is the final small aggregation."""
    docs = _docs(spark, sf_dir)
    bucket = (F.col("doc_id") * F.lit(_SPLIT_MULT)) % F.lit(_SPLIT_BUCKETS)
    split = (
        F.when(bucket < _TRAIN_LT, "train")
        .when(bucket < _VAL_LT, "val")
        .otherwise("test")
    )
    return (
        docs.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


SPLIT_SQL = f"""
SELECT source,
       CASE WHEN (doc_id * {_SPLIT_MULT}) % {_SPLIT_BUCKETS} < {_TRAIN_LT} THEN 'train'
            WHEN (doc_id * {_SPLIT_MULT}) % {_SPLIT_BUCKETS} < {_VAL_LT} THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars
FROM documents
GROUP BY source, split
"""


# ------------------------------------------------------------ quota capping

_QUOTA = 5  # max documents kept per (source, lang)


def quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) quota cap — keep the top-5 longest documents
    per group (doc_id ascending tiebreak), the standard guard against a
    single domain dominating a web-scale corpus.  One hash partitioning
    serves both the ranking window and the final aggregate."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source", "lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("source", "lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _QUOTA)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("n_chars").alias("shortest_kept"),
        )
    )


QUOTA_SQL = f"""
SELECT source, lang,
       count(*)::BIGINT AS n_kept,
       sum(n_chars)::BIGINT AS kept_chars,
       min(n_chars)::BIGINT AS shortest_kept
FROM (
  SELECT source, lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= {_QUOTA}
GROUP BY source, lang
"""


# --------------------------------------------------------- length histogram

_BUCKET_CHARS = 50


def histogram_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram: 50-char buckets with count and mean
    length — the distribution check run before choosing chunking /
    truncation limits.  Integer ``div`` on both engines (float division
    would bucket 49.999… differently)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            F.expr(f"n_chars div {_BUCKET_CHARS}").alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


HISTOGRAM_SQL = f"""
SELECT n_chars // {_BUCKET_CHARS} AS bucket,
       count(*)::BIGINT AS n_docs,
       round(avg(n_chars), 6) AS avg_chars
FROM documents
GROUP BY bucket
"""


# ------------------------------------------------------------- winsorizing

def winsorize_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization: clamp account balances to [p05, p95]
    before averaging per nation — outlier-robust feature scaling.  The
    two exact percentiles are a 1-row aggregate broadcast to the clamp;
    at 100 TB substitute approx_percentile for the sketch path."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pcts = cust.agg(
        F.percentile("c_acctbal", F.lit(0.05)).alias("p05"),
        F.percentile("c_acctbal", F.lit(0.95)).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("c_acctbal"), F.col("p05")), F.col("p95"))
    return (
        cust.select("c_nationkey", "c_acctbal")
        .crossJoin(F.broadcast(pcts))
        .groupBy("c_nationkey")
        .agg(
            F.round(F.avg(clamped), 6).alias("avg_winsorized"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_raw"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


WINSORIZE_SQL = """
WITH b AS (
  SELECT quantile_cont(c_acctbal, 0.05) AS p05,
         quantile_cont(c_acctbal, 0.95) AS p95
  FROM customer
)
SELECT c_nationkey,
       round(avg(least(greatest(c_acctbal, p05), p95)), 6) AS avg_winsorized,
       round(avg(c_acctbal), 6) AS avg_raw,
       count(*)::BIGINT AS n_customers
FROM customer, b
GROUP BY c_nationkey
"""


# ----------------------------------------------------------- source mixing

# Per-source keep rate in per-mille: src0 keeps everything, each later
# source keeps 45‰ less.  ONE Python literal drives both the Spark
# broadcast dim and the SQL VALUES list.
_MIX_WEIGHTS = {f"src{i}": 1000 - 45 * i for i in range(20)}


def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture downsampling: each source keeps a configured
    fraction of its documents, selected by the same deterministic
    arithmetic hash as the split (reproducible, row-local).  The weights
    are a 20-row dimension broadcast to the scan — the corpus itself is
    only shuffled once, for the final report aggregate.  This is the
    'data mixing' step that rebalances web-crawl dumps before training."""
    docs = _docs(spark, sf_dir)
    weights = spark.createDataFrame(
        [(s, w) for s, w in sorted(_MIX_WEIGHTS.items())], "source string, keep_pm int"
    )
    bucket = (F.col("doc_id") * F.lit(_SPLIT_MULT)) % F.lit(_SPLIT_BUCKETS)
    return (
        docs.join(F.broadcast(weights), "source")
        .filter(bucket < F.col("keep_pm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


_MIX_VALUES = ", ".join(f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items()))
MIX_SQL = f"""
SELECT d.source,
       count(*)::BIGINT AS n_kept,
       sum(d.n_chars)::BIGINT AS kept_chars
FROM documents d
JOIN (VALUES {_MIX_VALUES}) AS w(source, keep_pm) ON d.source = w.source
WHERE (d.doc_id * {_SPLIT_MULT}) % {_SPLIT_BUCKETS} < w.keep_pm
GROUP BY d.source
"""


# ------------------------------------------------- temperature resampling

# Independent hash stream from the split/mix bucket (prime offset): a doc's
# sampling fate must not correlate with its train/val/test assignment.
_SAMPLE_OFFSET = 7919


def temperature_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (alpha = 0.5): the
    multilingual-pretraining step that downsamples dominant languages
    toward balance.  Per-language keep rate = sqrt(min_count / count) —
    the rarest language keeps 100%, a 4×-bigger one keeps 50%.

    Rates are DATA-DEPENDENT: pass 1 is a lang-only aggregate (at 100 TB
    a column-pruned scan of one dictionary-encoded column), whose tiny
    result is broadcast back onto pass 2; membership is the same
    row-local arithmetic hash as the split (reproducible, no RNG state).
    All threshold math is IEEE correctly-rounded ops (divide, sqrt,
    multiply, floor), so Spark and DuckDB agree bit-for-bit."""
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    min_cnt = counts.agg(F.min("n_total").alias("min_total"))
    rates = counts.crossJoin(F.broadcast(min_cnt)).select(
        "lang",
        "n_total",
        F.floor(
            1000 * F.sqrt(F.col("min_total").cast("double") / F.col("n_total").cast("double"))
        ).cast("int").alias("keep_pm"),
    )
    bucket = (F.col("doc_id") * F.lit(_SPLIT_MULT) + F.lit(_SAMPLE_OFFSET)) % F.lit(_SPLIT_BUCKETS)
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("keep_pm"))
        .groupBy("lang", "n_total", "keep_pm")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


TEMPERATURE_SQL = f"""
WITH c AS (SELECT lang, count(*)::BIGINT AS n_total FROM documents GROUP BY lang),
t AS (SELECT lang, n_total,
             CAST(floor(1000 * sqrt((SELECT min(n_total) FROM c)::DOUBLE / n_total::DOUBLE)) AS INT)
               AS keep_pm
      FROM c)
SELECT d.lang, t.n_total, t.keep_pm, count(*)::BIGINT AS n_kept
FROM documents d JOIN t ON d.lang = t.lang
WHERE (d.doc_id * {_SPLIT_MULT} + {_SAMPLE_OFFSET}) % {_SPLIT_BUCKETS} < t.keep_pm
GROUP BY d.lang, t.n_total, t.keep_pm
"""


# ------------------------------------------------------ sequence packing

_PACK_BUDGET = 64  # tokens per pack; production values (2k-8k) change nothing structurally


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-offset sequence packing: concatenate each source's documents
    (doc_id order) into one token stream and cut it every _PACK_BUDGET
    tokens — the step that turns a curated corpus into fixed-size
    training sequences.  A document's pack is the one containing its
    start offset (greedy streaming packing without per-bin state, so it
    stays a pure prefix-sum).

    Scale shape: ONE Exchange (hash by source) feeding a running-sum
    window; every downstream column is row-local arithmetic.  At 100 TB
    the per-source streams are independent — exactly how a tokenizer
    sharding job would consume them."""
    docs = _docs(spark, sf_dir)
    n_toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_toks").over(w), F.lit(0)).cast("bigint")
    return (
        docs.select("doc_id", "source", n_toks.alias("n_toks"))
        .withColumn("stream_offset", offset)
        .withColumn("pack_id", F.floor(F.col("stream_offset") / _PACK_BUDGET).cast("bigint"))
    )


PACK_SQL = f"""
WITH t AS (SELECT doc_id, source,
                  len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n_toks
           FROM documents)
SELECT doc_id, source, n_toks,
       COALESCE(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS stream_offset,
       CAST(floor(COALESCE(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) / {_PACK_BUDGET}) AS BIGINT) AS pack_id
FROM t
"""


# ------------------------------------------- benchmark decontamination

_BENCH_MOD = 97   # doc_id % 97 == 0 → the held-out "benchmark" set
_DECON_N = 5      # n-gram size for contamination overlap


def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    5-gram with a held-out benchmark set (here: doc_id % 97 == 0,
    a deterministic stand-in for an eval suite).  Returns
    (doc_id, matched_shingles) for contaminated documents only — the
    kill-list a pretraining pipeline subtracts before tokenization.

    Scale shape: the benchmark shingle set is tiny relative to the corpus
    → broadcast LEFT SEMI join against the exploded corpus shingles (no
    corpus-side shuffle), then one groupBy(doc_id).  For benchmark sets
    too big to broadcast, the same plan degrades gracefully to a
    shuffled semi join; shingles are distinct per doc (word_ngrams), so
    count(*) is exactly the distinct overlap count."""
    from k_means_hadoop_spark.functions.hashing import word_ngrams

    docs = _docs(spark, sf_dir)
    sh = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), _DECON_N)).alias("shingle")
    )
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("matched_shingles"))
    )


def _decontam_sql() -> str:
    from k_means_hadoop_spark.functions.hashing import word_ngrams_sql

    grams = word_ngrams_sql("text", _DECON_N)
    return f"""
WITH sh AS (SELECT doc_id, unnest({grams}) AS shingle FROM documents),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0)
SELECT doc_id, count(*)::BIGINT AS matched_shingles
FROM sh
WHERE doc_id % {_BENCH_MOD} <> 0 AND shingle IN (SELECT shingle FROM bench)
GROUP BY doc_id
"""


# -------------------------------------------------- payload scrubbing

def scrub_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-identifier scrubbing of raw event payloads: mask every
    digit run in ``props`` and report how many were masked — the
    PII-redaction shape (same plan applies to email/phone/SSN regexes).
    Row-local regex expressions only: zero shuffles, full codegen; at
    100 TB this is a pure map over the scan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.regexp_replace(F.col("props"), "[0-9]+", "#").alias("masked_props"),
        F.regexp_count(F.col("props"), F.lit("[0-9]+")).cast("int").alias("n_masked"),
    )


SCRUB_SQL = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '#', 'g') AS masked_props,
       len(regexp_extract_all(props, '[0-9]+'))::INTEGER AS n_masked
FROM events
"""


# ------------------------------------------------- boilerplate audit

_BOILER_N = 5
_BOILER_DF = 20  # a 5-gram in more than this many docs is boilerplate
_BOILER_PLANT = "creative commons attribution license applies to this page"


def _boiler_counts(docs: DataFrame, df_threshold: int) -> DataFrame:
    """(doc_id, n_shingles, n_boiler) — the shared single-scan boiler
    core: shingle doc-frequency via a count() window (same hash shuffle
    as a separate df groupBy, without the extra scan and join-back),
    then one partial-aggregated per-doc aggregate.  Used by both
    ``boilerplate_spans`` and ``curate_corpus_release`` so the df
    semantics can never diverge between them."""
    from k_means_hadoop_spark.functions.hashing import word_ngrams

    sh = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), _BOILER_N)).alias("shingle")
    )
    return (
        sh.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_df") > df_threshold, 1).otherwise(0)).alias("n_boiler"),
        )
    )


def _boiler_counts_sql(docs_cte: str, df_threshold: int) -> str:
    """CTE chain ending in ``bcounts(doc_id, n_shingles, n_boiler)`` —
    DuckDB mirror of ``_boiler_counts`` over the named docs CTE (which
    must expose doc_id and text)."""
    from k_means_hadoop_spark.functions.hashing import word_ngrams_sql

    grams = word_ngrams_sql("text", _BOILER_N)
    return f"""bsh AS (SELECT doc_id, unnest({grams}) AS shingle FROM {docs_cte}),
bdf AS (SELECT doc_id, count(*) OVER (PARTITION BY shingle) AS df FROM bsh),
bcounts AS (SELECT doc_id, count(*)::BIGINT AS n_shingles,
            sum(CASE WHEN df > {df_threshold} THEN 1 ELSE 0 END)::BIGINT AS n_boiler
            FROM bdf GROUP BY doc_id)"""


def boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_boiler, boiler_ratio) — per-document
    boilerplate load: the fraction of a doc's distinct word 5-grams
    that recur across more than ``_BOILER_DF`` documents (nav bars,
    license headers, templated footers — the spans C4/RefinedWeb-style
    pipelines strip before training).  Only docs carrying at least one
    boilerplate span are returned — the worklist a span-removal pass
    consumes.

    The synthetic corpus has no real boilerplate (max natural 5-gram
    doc-frequency is 3-4 at test scales), so — per the planted-case
    rule — the query appends a fixed license-header sentence to every
    7th document (mirrored in the oracle): its within-sentence shingles
    land in ~n/7 docs, far above the threshold, while the doc-boundary
    shingles stay unique, so the df cut, the semi join, and the ratio
    arithmetic are all exercised by non-trivial rows.

    Scale shape: ONE corpus scan via the shared ``_boiler_counts``
    core.  No join, no all-pairs structure anywhere."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" " + _BOILER_PLANT))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        _boiler_counts(docs, _BOILER_DF)
        .filter(F.col("n_boiler") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias("boiler_ratio"),
        )
    )


def _boilerplate_sql() -> str:
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' {_BOILER_PLANT}' ELSE text END AS text
  FROM documents),
{_boiler_counts_sql('planted', _BOILER_DF)}
SELECT doc_id, n_shingles, n_boiler,
       round(n_boiler / n_shingles::DOUBLE, 6) AS boiler_ratio
FROM bcounts WHERE n_boiler > 0
"""


# ------------------------------------------------------ PII redaction

# Patterns deliberately restricted to syntax Java regex and RE2 (DuckDB)
# interpret identically: character classes, bounded repetition, \d, \b.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _pii_planted_expr(text_col="text", id_col="doc_id"):
    """Text with the deterministic PII plants appended (see
    ``pii_redact_docs``); the identical row-local expression is mirrored
    in SQL by ``_pii_planted_sql``."""
    return F.concat(
        F.col(text_col),
        F.when(
            F.col(id_col) % 37 == 0,
            F.concat(F.lit(" contact user"), F.col(id_col).cast("string"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col(id_col) % 41 == 0,
            F.concat(F.lit(" call 415-555-"), F.lpad((F.col(id_col) % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            F.col(id_col) % 43 == 0,
            F.concat(F.lit(" from 10."), (F.col(id_col) % 256).cast("string"), F.lit(".0.9")),
        ).otherwise(F.lit("")),
    )


def _pii_clean_expr(planted):
    """Redaction chain: email → phone → IP, in that order so a later
    pattern can never match inside an earlier placeholder."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )


def _pii_planted_sql(text_expr="text", id_expr="doc_id") -> str:
    return (
        f"{text_expr}"
        f" || CASE WHEN {id_expr} % 37 = 0"
        f" THEN ' contact user' || {id_expr}::VARCHAR || '@example.com now' ELSE '' END"
        f" || CASE WHEN {id_expr} % 41 = 0"
        f" THEN ' call 415-555-' || lpad(({id_expr} % 10000)::VARCHAR, 4, '0') ELSE '' END"
        f" || CASE WHEN {id_expr} % 43 = 0"
        f" THEN ' from 10.' || ({id_expr} % 256)::VARCHAR || '.0.9' ELSE '' END"
    )


def _pii_clean_sql(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace(regexp_replace({expr}, "
        f"'{_PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{_PII_PHONE}', '<PHONE>', 'g'), "
        f"'{_PII_IP}', '<IP>', 'g')"
    )


def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ips, clean) — document-level PII
    redaction, the release gate every public training corpus runs:
    emails → <EMAIL>, phone numbers → <PHONE>, IPv4 addresses → <IP>,
    applied in that order so a later pattern can never match inside an
    earlier placeholder.

    The fixture corpus is synthetic word soup with no PII, so — per the
    planted-case rule for discriminating oracles — the query itself
    plants deterministic PII on a doc_id grid (every 37th doc an email
    derived from its id, every 41st a phone, every 43rd an IP), with the
    identical row-local expression mirrored in the oracle SQL.  Counts
    are taken on the planted text BEFORE redaction; the output keeps
    only touched docs and hash-compares the fully redacted text, so a
    wrong pattern, wrong order, or missed occurrence flips the driver
    hash.  Row-local regex only: zero shuffles, a pure map over the
    scan at 100 TB."""
    docs = _docs(spark, sf_dir)
    planted = _pii_planted_expr()
    clean = _pii_clean_expr(planted)
    return (
        docs.select(
            "doc_id",
            F.regexp_count(planted, F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
            F.regexp_count(planted, F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
            F.regexp_count(planted, F.lit(_PII_IP)).cast("int").alias("n_ips"),
            clean.alias("clean"),
        )
        .filter((F.col("n_emails") + F.col("n_phones") + F.col("n_ips")) > 0)
    )


PII_REDACT_SQL = f"""
WITH planted AS (SELECT doc_id, {_pii_planted_sql()} AS t FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '{_PII_EMAIL}'))::INTEGER AS n_emails,
       len(regexp_extract_all(t, '{_PII_PHONE}'))::INTEGER AS n_phones,
       len(regexp_extract_all(t, '{_PII_IP}'))::INTEGER AS n_ips,
       {_pii_clean_sql('t')} AS clean
FROM planted
WHERE len(regexp_extract_all(t, '{_PII_EMAIL}'))
      + len(regexp_extract_all(t, '{_PII_PHONE}'))
      + len(regexp_extract_all(t, '{_PII_IP}')) > 0
"""


# ------------------------------------------------------- leakage audit

def _split_expr(id_col: str):
    bucket = (F.col(id_col) * F.lit(_SPLIT_MULT)) % F.lit(_SPLIT_BUCKETS)
    return (
        F.when(bucket < _TRAIN_LT, "train")
        .when(bucket < _VAL_LT, "val")
        .otherwise("test")
    )


def _split_sql(id_expr: str) -> str:
    return (
        f"CASE WHEN ({id_expr} * {_SPLIT_MULT}) % {_SPLIT_BUCKETS} < {_TRAIN_LT} THEN 'train' "
        f"WHEN ({id_expr} * {_SPLIT_MULT}) % {_SPLIT_BUCKETS} < {_VAL_LT} THEN 'val' "
        "ELSE 'test' END"
    )


def leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit — the split and near-dedup
    operators COMPOSED the way an eval pipeline needs them: verified
    near-duplicate pairs (MinHash LSH candidates passing exact Jaccard)
    whose two documents land in DIFFERENT splits leak training data
    into evaluation.  The split is the row-local arithmetic hash, so
    stamping it onto the pair table adds zero shuffles beyond the
    near-dup pipeline itself.  (The corpus has no EXACT duplicates, so
    the md5-grouping form of this audit would be vacuous — near-dup
    leakage is also the form that catches paraphrase-level leaks at
    100 TB.)"""
    from k_means_hadoop_spark.operators.dedup import minhash_verified_pairs

    pairs = minhash_verified_pairs(_docs(spark, sf_dir), n=3, threshold=0.7)
    return (
        pairs.withColumn("split_a", _split_expr("a_id"))
        .withColumn("split_b", _split_expr("b_id"))
        .filter(F.col("split_a") != F.col("split_b"))
        .select("a_id", "b_id", "split_a", "split_b", "jaccard")
    )


def _leakage_sql() -> str:
    from k_means_hadoop_spark.registry_pipeline import _minhash_verified_sql

    return f"""
WITH ver AS ({_minhash_verified_sql(3, 0.7)})
SELECT a_id, b_id,
       {_split_sql('a_id')} AS split_a,
       {_split_sql('b_id')} AS split_b,
       jaccard
FROM ver
WHERE {_split_sql('a_id')} != {_split_sql('b_id')}
"""


# ---------------------------------------------------- stratified sampling

WEIGHTED_SAMPLE_K = 25
_WS_SALT = "ws:"
_WS_MOD = 1_000_000


def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars, skey) — weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): inclusion probability ∝ document weight
    (here n_chars), via key = ln(u)/w with u a deterministic hash-derived
    uniform — take the top-k keys.  The workhorse for building a
    length-weighted pilot corpus reproducibly: no RNG stream, so the
    sample is a pure function of the data and re-runs (or another
    engine) pick the identical k documents.

    Scale shape: per-row arithmetic + a distributed top-k
    (TakeOrderedAndProject) — no global sort, no shuffle of the corpus.
    Keys are rounded to 9 decimals with doc_id as tie-break so the
    boundary of the top-k set is cross-engine deterministic."""
    from k_means_hadoop_spark.functions.hashing import stable_hash64

    docs = _docs(spark, sf_dir)
    h = stable_hash64(F.concat(F.lit(_WS_SALT), F.col("doc_id").cast("string")))
    u = ((h % _WS_MOD) + 1).cast("double") / F.lit(float(_WS_MOD + 1))
    skey = F.round(F.log(u) / F.col("n_chars").cast("double"), 9)
    return (
        docs.select("doc_id", "n_chars", skey.alias("skey"))
        .orderBy(F.col("skey").desc(), F.col("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
    )


def _sample_weighted_sql() -> str:
    from k_means_hadoop_spark.functions.hashing import stable_hash64_sql

    h = stable_hash64_sql(f"'{_WS_SALT}' || doc_id::VARCHAR")
    return f"""
WITH s AS (SELECT doc_id, n_chars,
                  round(ln((({h} % {_WS_MOD}) + 1) / {float(_WS_MOD + 1)!r}) / n_chars::DOUBLE, 9) AS skey
           FROM documents)
SELECT doc_id, n_chars, skey FROM s
ORDER BY skey DESC, doc_id LIMIT {WEIGHTED_SAMPLE_K}"""


N_SHUFFLE_SHARDS = 8
SHUFFLE_SALT = "shuf1:"  # changing the salt re-deals the whole permutation


def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shard, pos) — deterministic global training-order
    shuffle, sharded: every document gets a pseudo-random shard and a
    position within that shard, reproducible across runs, engines, and
    cluster layouts (the order is a pure function of doc_id + salt).

    This is how a 100 TB pipeline shuffles: a single global
    row_number() would funnel the corpus through one partition, so the
    permutation is expressed as (shard = hash % N, pos = rank within
    shard by hash) — one hash-partitioned window per shard, N-way
    parallel, and a trainer streams shards in index order.  Sorting
    within shards by the same hash keeps the composite order
    (shard, pos) a uniform permutation of the corpus."""
    docs = _docs(spark, sf_dir)
    from k_means_hadoop_spark.functions.hashing import stable_hash64

    h = stable_hash64(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", F.pmod("h", F.lit(N_SHUFFLE_SHARDS)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("int"))
        .select("doc_id", "shard", "pos")
    )


def _shuffle_shards_sql() -> str:
    from k_means_hadoop_spark.functions.hashing import stable_hash64_sql

    h = stable_hash64_sql(f"'{SHUFFLE_SALT}' || doc_id::VARCHAR")
    return f"""
WITH h AS (SELECT doc_id, {h} AS h FROM documents)
SELECT doc_id, (h % {N_SHUFFLE_SHARDS})::INTEGER AS shard,
       (row_number() OVER (PARTITION BY h % {N_SHUFFLE_SHARDS} ORDER BY h, doc_id) - 1)::INTEGER AS pos
FROM h"""


SAMPLE_FRACTIONS = {"en": 0.2, "es": 0.4, "fr": 0.5, "de": 0.8}
SAMPLE_SEED = 7


def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_total, rate_ok) — per-stratum (language) sampling at
    configured fractions via ``sampleBy`` — the engine-native stratified
    sampler (one pass, per-row Bernoulli keyed by the stratum's
    fraction, no shuffle).  The accept/reject RNG stream is
    engine-internal (no cross-engine value equality for the sampled
    set), so the driver-checked projection is the WITHIN-TOLERANCE
    verdict: per stratum, ``rate_ok`` asserts the sampled count is
    within 4.5 binomial standard deviations (+3 rows of slack) of
    fraction × stratum size — swapped or ignored fractions flip the
    hash, while seed-level RNG variation never does.  Contrast with
    temperature_sample_langs, whose arithmetic-hash membership IS
    cross-engine-reproducible — use that form when reproducibility
    across engines matters more than statistical independence from the
    key."""
    docs = _docs(spark, sf_dir)
    sampled_counts = (
        docs.stat.sampleBy("lang", SAMPLE_FRACTIONS, seed=SAMPLE_SEED)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    totals = (
        docs.filter(F.col("lang").isin(list(SAMPLE_FRACTIONS)))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    frac = F.element_at(
        F.create_map(*[F.lit(x) for kv in SAMPLE_FRACTIONS.items() for x in kv]),
        F.col("lang"),
    )
    tol = 4.5 * F.sqrt(F.col("n_total") * frac * (1.0 - frac)) + 3.0
    return (
        totals.join(sampled_counts, "lang", "left")
        .fillna(0, subset=["n_sampled"])
        .select(
            "lang",
            "n_total",
            (F.abs(F.col("n_sampled") - frac * F.col("n_total")) <= tol).alias("rate_ok"),
        )
    )


STRATIFIED_SQL = f"""
SELECT lang, count(*)::BIGINT AS n_total, true AS rate_ok
FROM documents
WHERE lang IN ({", ".join(repr(k) for k in SAMPLE_FRACTIONS)})
GROUP BY lang"""


def curate_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, n_docs, total_tokens) — the ENTIRE curation pipeline
    composed as one declarative plan, the way a pretraining run consumes
    it: quality gate (score >= 0.5) → exact-dedup survivors → near-dup
    drop (verified MinHash pairs, greedy keep-the-smaller-id; pairwise
    form of the components-based clustering) → benchmark
    decontamination (any 5-gram overlap with the held-out slice, and
    the slice itself excluded) → train/val/test split stamp → per-split
    document and token totals.

    Catalyst plans the whole chain together: the quality filter and the
    semi/anti joins sit below the split stamp, each dedup/decontam
    input builds its own bounded side (broadcast where small), and the
    corpus-sized stream is scanned once per independent probe — there
    is no driver-side orchestration between stages to lose pushdowns
    across."""
    from k_means_hadoop_spark.operators import text as text_ops
    from k_means_hadoop_spark.operators.dedup import exact_duplicates, minhash_verified_pairs

    docs = _docs(spark, sf_dir)
    quality = text_ops.quality_scores(docs).select("doc_id", "quality")
    keep_exact = exact_duplicates(docs).select(F.col("keep_id").alias("doc_id"))
    neardup_drop = (
        minhash_verified_pairs(docs, n=3, threshold=0.7)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    contaminated = decontaminate_corpus(spark, sf_dir).select("doc_id")
    kept = (
        docs.join(quality, "doc_id")
        .filter(F.col("quality") >= 0.5)
        .join(keep_exact, "doc_id", "left_semi")
        .join(neardup_drop, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        .filter(F.col("doc_id") % _BENCH_MOD != 0)
    )
    n_toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return (
        kept.withColumn("split", _split_expr("doc_id"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_toks.cast("bigint")).alias("total_tokens"),
        )
    )


def _curate_full_sql() -> str:
    from k_means_hadoop_spark.functions.hashing import word_ngrams_sql
    from k_means_hadoop_spark.registry_pipeline import (
        _minhash_verified_sql,
        _quality_sql,
    )

    grams = word_ngrams_sql("text", _DECON_N)
    toks = "string_split_regex(lower(trim(text)), '\\s+')"
    return f"""
WITH q AS (SELECT doc_id, quality FROM ({_quality_sql()}) t),
keepx AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
nd AS (SELECT DISTINCT b_id AS doc_id FROM ({_minhash_verified_sql(3, 0.7)}) mv),
sh AS (SELECT doc_id, unnest({grams}) AS shingle FROM documents),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
cont AS (SELECT DISTINCT doc_id FROM sh
         WHERE doc_id % {_BENCH_MOD} <> 0 AND shingle IN (SELECT shingle FROM bench)),
kept AS (SELECT d.doc_id, d.text FROM documents d JOIN q USING (doc_id)
         WHERE q.quality >= 0.5
           AND d.doc_id IN (SELECT doc_id FROM keepx)
           AND d.doc_id NOT IN (SELECT doc_id FROM nd)
           AND d.doc_id NOT IN (SELECT doc_id FROM cont)
           AND d.doc_id % {_BENCH_MOD} <> 0)
SELECT {_split_sql('doc_id')} AS split, count(*)::BIGINT AS n_docs,
       sum(len({toks}))::BIGINT AS total_tokens
FROM kept GROUP BY 1"""


_RELEASE_BOILER_RATIO = 0.5  # natural df>1 ratio is 1.0 for exact-dup families


def curate_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, n_docs, total_tokens) — the full RELEASE pipeline, one
    plan: every admission gate `curate_corpus_full` runs (quality ≥ 0.5
    → exact-dedup survivors → verified near-dup drop → benchmark
    decontamination → held-out slice excluded) PLUS the boilerplate
    gate (drop docs whose df>1 5-gram ratio exceeds
    ``_RELEASE_BOILER_RATIO`` — on this corpus that is exactly the
    exact-duplicate families, whose every shingle recurs), and the
    final token accounting runs over the PII-REDACTED text (planted
    grid + email/phone/IP placeholders) — tokens are counted the way a
    tokenizer would actually see them after scrubbing.

    Composed declaratively: the boilerplate ratio is the single-scan
    count()-window form, redaction is a row-local expression on the
    kept stream, and Catalyst plans all gates together — no driver
    orchestration between stages."""
    from k_means_hadoop_spark.operators import text as text_ops
    from k_means_hadoop_spark.operators.dedup import exact_duplicates, minhash_verified_pairs

    docs = _docs(spark, sf_dir)
    quality = text_ops.quality_scores(docs).select("doc_id", "quality")
    keep_exact = exact_duplicates(docs).select(F.col("keep_id").alias("doc_id"))
    neardup_drop = (
        minhash_verified_pairs(docs, n=3, threshold=0.7)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    contaminated = decontaminate_corpus(spark, sf_dir).select("doc_id")
    boilerish = (
        _boiler_counts(docs, df_threshold=1)
        .filter(
            F.col("n_boiler") / F.col("n_shingles") > _RELEASE_BOILER_RATIO
        )
        .select("doc_id")
    )
    kept = (
        docs.join(quality, "doc_id")
        .filter(F.col("quality") >= 0.5)
        .join(keep_exact, "doc_id", "left_semi")
        .join(neardup_drop, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        .join(boilerish, "doc_id", "left_anti")
        .filter(F.col("doc_id") % _BENCH_MOD != 0)
    )
    clean = _pii_clean_expr(_pii_planted_expr())
    n_toks = F.size(F.split(F.lower(F.trim(clean)), r"\s+"))
    return (
        kept.withColumn("split", _split_expr("doc_id"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_toks.cast("bigint")).alias("total_tokens"),
        )
    )


def _curate_release_sql() -> str:
    from k_means_hadoop_spark.functions.hashing import word_ngrams_sql
    from k_means_hadoop_spark.registry_pipeline import (
        _minhash_verified_sql,
        _quality_sql,
    )

    grams = word_ngrams_sql("text", _DECON_N)
    clean = _pii_clean_sql(f"({_pii_planted_sql()})")
    toks = f"string_split_regex(lower(trim({clean})), '\\s+')"
    return f"""
WITH q AS (SELECT doc_id, quality FROM ({_quality_sql()}) t),
keepx AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
nd AS (SELECT DISTINCT b_id AS doc_id FROM ({_minhash_verified_sql(3, 0.7)}) mv),
sh AS (SELECT doc_id, unnest({grams}) AS shingle FROM documents),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
cont AS (SELECT DISTINCT doc_id FROM sh
         WHERE doc_id % {_BENCH_MOD} <> 0 AND shingle IN (SELECT shingle FROM bench)),
{_boiler_counts_sql('documents', 1)},
boiler AS (SELECT doc_id FROM bcounts
           WHERE n_boiler::DOUBLE / n_shingles > {_RELEASE_BOILER_RATIO}),
kept AS (SELECT d.doc_id, d.text FROM documents d JOIN q USING (doc_id)
         WHERE q.quality >= 0.5
           AND d.doc_id IN (SELECT doc_id FROM keepx)
           AND d.doc_id NOT IN (SELECT doc_id FROM nd)
           AND d.doc_id NOT IN (SELECT doc_id FROM cont)
           AND d.doc_id NOT IN (SELECT doc_id FROM boiler)
           AND d.doc_id % {_BENCH_MOD} <> 0)
SELECT {_split_sql('doc_id')} AS split, count(*)::BIGINT AS n_docs,
       sum(len({toks}))::BIGINT AS total_tokens
FROM kept GROUP BY 1"""


# ------------------------------------------- model-based quality filter

_QC_LABEL_MOD = 5  # doc_id % 5 == 0 → the "annotated" training slice
_QC_SEED = 42


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, p_keep, keep) — model-based quality filtering, the stage
    after heuristic gates in every production pretraining pipeline
    (fastText/logistic classifiers scoring web text against a curated
    seed set).

    Shape: a LABELED SLICE (here doc_id % 5 == 0, standing in for a
    human/LLM-annotated seed set; labels distilled from the heuristic
    quality gate) trains an MLlib logistic regression over the per-doc
    quality features; the fitted coefficients — a handful of doubles —
    then score the ENTIRE corpus as a closed-form sigmoid expression in
    native columns.  At 100 TB: training reads only the bounded labeled
    sample, and scoring is one embarrassingly-parallel map pass with the
    model folded into the plan as literals (no MLlib transform, no UDF,
    no shuffle).

    Rows-only driver check: LBFGS training is iterative and
    engine-internal; determinism and heuristic-agreement are pinned in
    tests/test_relational_ext.py."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from k_means_hadoop_spark.operators import text

    feats = text.quality_scores(_docs(spark, sf_dir))
    x = F.array(
        F.log(F.col("n_tokens").cast("double") + 1.0),
        F.col("avg_token_len"),
        F.col("punct_ratio"),
        F.col("stop_ratio"),
        F.col("digit_ratio"),
    )
    featured = feats.select(
        "doc_id", x.alias("x"), (F.col("quality") >= 0.5).cast("double").alias("label")
    )
    train = featured.filter(F.col("doc_id") % _QC_LABEL_MOD == 0).select(
        array_to_vector("x").alias("features"), "label"
    )
    lr = LogisticRegression(
        maxIter=50, regParam=0.01, standardization=True, tol=1e-8
    )
    model = lr.fit(train)
    coefs = [float(c) for c in model.coefficients]
    intercept = float(model.intercept)
    # Closed-form scoring: fold the fitted model into the plan as
    # literals — whole-stage-codegen arithmetic, zero Python in the pass.
    z = F.lit(intercept)
    for i, c in enumerate(coefs):
        z = z + F.lit(c) * F.col("x")[i]
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return featured.select(
        "doc_id",
        F.round(p, 4).alias("p_keep"),
        (p >= 0.5).cast("int").alias("keep"),
    )


def quality_classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, n_label_pos, agreement_ok) — the driver-checkable face
    of :func:`quality_classifier`.  The per-doc probabilities are
    engine-internal (LBFGS), but the distillation CONTRACT is not: a
    model trained on the labeled slice must agree with the heuristic
    label on at least 85% of the whole corpus.  ``n_docs`` and
    ``n_label_pos`` (heuristic positives) are exact and oracle-mirrored;
    ``agreement_ok`` is asserted ``true`` by the oracle, so a training
    or literal-fold scoring bug flips the hash instead of hiding behind
    a rows-only row."""
    from k_means_hadoop_spark.operators import text

    scored = quality_classifier(spark, sf_dir).select("doc_id", "keep")
    heur = text.quality_scores(_docs(spark, sf_dir)).select(
        "doc_id", (F.col("quality") >= 0.5).cast("int").alias("hlabel")
    )
    return (
        scored.join(heur, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("hlabel").cast("bigint").alias("n_label_pos"),
            (F.avg((F.col("keep") == F.col("hlabel")).cast("double")) >= 0.85).alias(
                "agreement_ok"
            ),
        )
    )


def _qc_agreement_sql() -> str:
    from k_means_hadoop_spark.registry_pipeline import _quality_sql

    return f"""
SELECT count(*)::BIGINT AS n_docs,
       sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_label_pos,
       true AS agreement_ok
FROM ({_quality_sql()}) t"""




# ------------------------------------------------ dynamic quality gate

_QGATE_PCT = 0.25


def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality, keep) — DATA-DEPENDENT quality gate: the
    threshold is the corpus's own 25th percentile of the heuristic
    quality score, so the gate adapts to corpus drift instead of a
    hard-coded cutoff going stale (the CCNet/Gopher practice of
    percentile-calibrated filtering).

    Two-phase shape like winsorize: a 1-row exact-percentile aggregate
    over the 6-dp-rounded scores, broadcast back onto the row-local
    comparison — the corpus scans twice, shuffles never.  Both engines
    interpolate the percentile over identical rounded inputs."""
    from k_means_hadoop_spark.operators.text import quality_expr

    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", quality_expr().alias("quality"))
    thr = scored.agg(
        F.expr(f"percentile(quality, {_QGATE_PCT})").alias("thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .select("doc_id", "quality", (F.col("quality") >= F.col("thr")).alias("keep"))
    )


def _qgate_sql() -> str:
    from k_means_hadoop_spark.registry_pipeline import _quality_sql

    return f"""
WITH scored AS (SELECT doc_id, quality FROM ({_quality_sql()}) t),
thr AS (SELECT quantile_cont(quality, {_QGATE_PCT}) AS thr FROM scored)
SELECT doc_id, quality, quality >= thr AS keep FROM scored, thr
"""



# ------------------------------------------------------ group-level split

_GSPLIT_SALT = "gsplit:"
_GSPLIT_TRAIN_LT = 8  # of 10 hash buckets: 80/10/10


def split_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, n_groups, n_docs, n_tokens) — LEAKAGE-SAFE split: the
    hash runs on the GROUP key (source), not the row id, so every
    document of a source lands in the same split — near-duplicates and
    templated documents cluster within sources, and a row-level split
    would leak them across the train/eval boundary (the failure
    leakage_audit measures; this operator prevents it by construction).

    Same arithmetic-hash reproducibility story as split_train_val: no
    RNG state, any engine computes the same membership.  One corpus
    aggregate; the group→split map is derivable row-locally so no
    group-table join is needed."""
    from k_means_hadoop_spark.functions.hashing import stable_hash64

    docs = _docs(spark, sf_dir)
    h = stable_hash64(F.concat(F.lit(_GSPLIT_SALT), F.col("source"))) % F.lit(10)
    split = (
        F.when(h < _GSPLIT_TRAIN_LT, F.lit("train"))
        .when(h < _GSPLIT_TRAIN_LT + 1, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    n_toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return (
        docs.select(split.alias("split"), "source", n_toks.alias("nt"))
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_groups"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
    )


def _gsplit_sql() -> str:
    from k_means_hadoop_spark.functions.hashing import stable_hash64_sql

    h = stable_hash64_sql(f"'{_GSPLIT_SALT}' || source")
    return f"""
WITH t AS (
  SELECT CASE WHEN {h} % 10 < {_GSPLIT_TRAIN_LT} THEN 'train'
              WHEN {h} % 10 < {_GSPLIT_TRAIN_LT + 1} THEN 'val'
              ELSE 'test' END AS split,
         source,
         len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS nt
  FROM documents)
SELECT split, count(DISTINCT source)::BIGINT AS n_groups,
       count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
FROM t GROUP BY split
"""



# ------------------------------------------------------ mixture planning

# Budget = 90% of the corpus token count (exact integer arithmetic, so
# the plan is scale-free and both engines agree bit-for-bit), shared
# across language strata by temperature-0.5 weight with a single cap-and-
# redistribute pass; lang (not source) is the stratum because the
# fixture's languages are skewed (en ≈ 40%), so the cap-and-
# redistribute branch provably engages at every scale factor.
_MIX_BUDGET_NUM = 9
_MIX_BUDGET_DEN = 10


def dataset_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, avail_tokens, target_tokens, alloc_tokens, epochs) —
    the training-mixture planner: allocate a global token budget across
    sources with temperature-0.5 weights (weight ∝ sqrt(available), the
    standard rebalance toward small sources), cap every source at its
    available tokens, and redistribute the slack to the uncapped
    sources in one pass — the per-source token quota a data-loader
    consumes (epochs = alloc/avail > 1 would mean repetition; capping
    keeps it ≤ 1).

    Determinism at 6 dp is engineered, not hoped for: every cross-source
    SUM runs over exact integers (token counts, and sqrt-weights floored
    to micro-units), so no double-summation order exists anywhere; the
    remaining arithmetic is identical single-expression IEEE math on
    both engines.  Shape: one corpus hash-agg to ~sources rows, then
    whole-table windows over that tiny table."""
    docs = _docs(spark, sf_dir)
    n_toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    per_src = docs.groupBy("lang").agg(F.sum(n_toks).cast("bigint").alias("avail"))
    w = Window.partitionBy()
    staged = per_src.select(
        "lang",
        "avail",
        F.floor(F.sqrt(F.col("avail").cast("double")) * 1e6).cast("bigint").alias("raw"),
    ).select(
        "lang",
        "avail",
        "raw",
        F.sum("raw").over(w).alias("tot_raw"),
        # integer `div`, not `/` + cast: float division then cast
        # TRUNCATES in Spark but ROUNDS in a DuckDB double→int cast —
        # the two disagree whenever sum*num isn't a multiple of den
        # (first bites at sf0.1)
        F.expr(f"sum(avail) OVER () * {_MIX_BUDGET_NUM} div {_MIX_BUDGET_DEN}")
        .alias("budget"),
    )
    target = F.col("budget").cast("double") * (
        F.col("raw").cast("double") / F.col("tot_raw").cast("double")
    )
    staged = staged.select(
        "lang", "avail", "raw", "budget", target.alias("target"),
        (target >= F.col("avail").cast("double")).alias("capped"),
    )
    alloc1_micro = F.floor(
        F.least(F.col("avail").cast("double"), F.col("target")) * 1e6
    ).cast("bigint")
    staged = staged.select(
        "*",
        (F.col("budget") * F.lit(1_000_000) - F.sum(alloc1_micro).over(w)).alias("left_micro"),
        F.sum(F.when(~F.col("capped"), F.col("raw")).otherwise(F.lit(0))).over(w).alias(
            "unc_raw"
        ),
    )
    final = F.when(F.col("capped"), F.col("avail").cast("double")).otherwise(
        F.least(
            F.col("avail").cast("double"),
            F.col("target")
            + (F.col("left_micro").cast("double") / F.lit(1e6))
            * (F.col("raw").cast("double") / F.col("unc_raw").cast("double")),
        )
    )
    return staged.select(
        "lang",
        F.col("avail").alias("avail_tokens"),
        F.round("target", 6).alias("target_tokens"),
        F.round(final, 6).alias("alloc_tokens"),
        F.round(final / F.col("avail").cast("double"), 6).alias("epochs"),
    )


MIXTURE_PLAN_SQL = f"""
WITH per_src AS (
  SELECT lang, sum(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT AS avail
  FROM documents GROUP BY lang),
staged AS (
  SELECT lang, avail,
         CAST(floor(sqrt(avail::DOUBLE) * 1e6) AS BIGINT) AS raw
  FROM per_src),
tot AS (
  SELECT lang, avail, raw,
         sum(raw) OVER () AS tot_raw,
         (sum(avail) OVER () * {_MIX_BUDGET_NUM}) // {_MIX_BUDGET_DEN} AS budget
  FROM staged),
t2 AS (
  SELECT *, budget::DOUBLE * (raw::DOUBLE / tot_raw::DOUBLE) AS target,
         budget::DOUBLE * (raw::DOUBLE / tot_raw::DOUBLE) >= avail::DOUBLE AS capped
  FROM tot),
t3 AS (
  SELECT *,
         budget * 1000000 - sum(CAST(floor(least(avail::DOUBLE, target) * 1e6) AS BIGINT)) OVER ()
           AS left_micro,
         sum(CASE WHEN NOT capped THEN raw ELSE 0 END) OVER () AS unc_raw
  FROM t2),
fin AS (
  SELECT lang, avail, target,
         CASE WHEN capped THEN avail::DOUBLE
              ELSE least(avail::DOUBLE,
                         target + (left_micro::DOUBLE / 1e6) * (raw::DOUBLE / unc_raw::DOUBLE))
         END AS final
  FROM t3)
SELECT lang, avail AS avail_tokens, round(target, 6) AS target_tokens,
       round(final, 6) AS alloc_tokens, round(final / avail::DOUBLE, 6) AS epochs
FROM fin
"""

# --------------------------------------------- importance reweighting
#
# Domain reweighting to a uniform language target (the DoReMi-style
# mixture correction in its closed static form): each language gets
# weight w_l = N/(L·n_l) so the weighted corpus is language-balanced;
# the effective sample size (Σw)²/Σw² says how much data survives the
# reweight.  Weights are per-lang floats (one division each, floored),
# and the ESS numerator/denominator are exact decimal sums of those
# floored weights — no cross-group float accumulation.


def importance_weights_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, weight, ess_share) — per-language reweighting to
    the uniform target + each language's share of the global ESS."""
    d = _t(spark, sf_dir, "documents")
    nl = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = nl.agg(
        F.sum("n_docs").alias("n"), F.count(F.lit(1)).alias("n_langs")
    )
    wexpr = (
        "CAST(n AS DOUBLE) / (CAST(n_langs AS DOUBLE) * CAST(n_docs AS DOUBLE))"
    )
    wl = nl.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n",
        F.expr(f"CAST({_FL6_SQL.format(x=wexpr)} AS DECIMAL(18,6))").alias("w6"),
    )
    # ESS = (Σ n_l·w_l)² / (Σ n_l·w_l²) over the floored weights; each
    # language's share is n_l·w_l² / Σ n_l·w_l² — exact decimals until
    # the one division.
    sums = wl.agg(
        F.sum(F.col("n_docs").cast("decimal(38,6)") * F.col("w6")).alias("s1"),
        F.sum(
            F.col("n_docs").cast("decimal(38,6)") * F.col("w6") * F.col("w6")
        ).alias("s2"),
    )
    share = (
        "CAST(n_docs AS DOUBLE) * CAST(w6 AS DOUBLE) * CAST(w6 AS DOUBLE)"
        " / CAST(s2 AS DOUBLE)"
    )
    return wl.crossJoin(F.broadcast(sums)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("w6").cast("double").alias("weight"),
        _fl6(F.expr(share)).alias("ess_share"),
    )


IMPORTANCE_SQL = """
WITH nl AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT SUM(n_docs)::BIGINT AS n, count(*)::BIGINT AS n_langs FROM nl),
wl AS (SELECT lang, n_docs,
              CAST({w} AS DECIMAL(18,6)) AS w6
       FROM nl CROSS JOIN tot),
sums AS (SELECT SUM(CAST(n_docs AS DECIMAL(38,6)) * w6) AS s1,
                SUM(CAST(n_docs AS DECIMAL(38,6)) * w6 * w6) AS s2
         FROM wl)
SELECT lang, n_docs, CAST(w6 AS DOUBLE) AS weight,
       {share} AS ess_share
FROM wl CROSS JOIN sums
""".format(
    w=_FL6_SQL.format(
        x="CAST(n AS DOUBLE) / (CAST(n_langs AS DOUBLE) * CAST(n_docs AS DOUBLE))"
    ),
    share=_FL6_SQL.format(
        x="CAST(n_docs AS DOUBLE) * CAST(w6 AS DOUBLE) * CAST(w6 AS DOUBLE)"
        " / CAST(s2 AS DOUBLE)"
    ),
)


# --------------------------------------------- decision stump (CART)
#
# The best single split of document length predicting the quality
# gate (quality >= 0.5) by weighted Gini impurity — the closed-form
# first node of a CART tree, and the exact-arithmetic template for
# histogram-based split finding (what LightGBM-style trainers do per
# feature).  Candidate thresholds are the distinct n_chars values
# (histogram-sized); cumulative class counts come from one prefix
# pass; each candidate's impurity spends its two in-branch divisions
# and is floored to the 6dp grid, so the argmin (with smallest-
# threshold tiebreak) is deterministic.


def decision_stump_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (threshold, n_left, n_right, pos_left, pos_right,
    impurity) — the Gini-optimal n_chars split for quality >= 0.5."""
    from k_means_hadoop_spark.operators import text as text_ops
    from k_means_hadoop_spark.partitioning import prefix_sum

    docs = _t(spark, sf_dir, "documents")
    q = text_ops.quality_scores(docs).select(
        "doc_id",
        "n_chars",
        (F.col("quality") >= 0.5).cast("int").alias("y"),
    )
    # materialize the histogram once: prefix_sum's range-bound sampling
    # would otherwise re-run the quality pipeline per evaluation (the
    # quantile_normalize lesson); the histogram is distinct-value-sized
    hist = q.groupBy("n_chars").agg(
        F.count(F.lit(1)).alias("m"), F.sum("y").alias("p")
    ).transform(truncate_lineage_lazy)
    tot = hist.agg(
        F.sum("m").alias("n"), F.sum("p").alias("pos")
    )
    cum_m = prefix_sum(hist, "m", [F.col("n_chars").asc()], out_col="cm")
    cum = prefix_sum(
        cum_m, "p", [F.col("n_chars").asc()], out_col="cp"
    ).select("n_chars", "cm", "cp")
    # weighted Gini: N - A/n_l - B/n_r with A = pos_l² + neg_l², etc.
    imp = (
        "CAST(n AS DOUBLE)"
        " - (CAST(cp AS DOUBLE) * CAST(cp AS DOUBLE)"
        "    + CAST(cm - cp AS DOUBLE) * CAST(cm - cp AS DOUBLE)) / CAST(cm AS DOUBLE)"
        " - (CAST(pos - cp AS DOUBLE) * CAST(pos - cp AS DOUBLE)"
        "    + CAST((n - cm) - (pos - cp) AS DOUBLE)"
        "      * CAST((n - cm) - (pos - cp) AS DOUBLE)) / CAST(n - cm AS DOUBLE)"
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cm") < F.col("n"))  # both sides non-empty
        .select(
            F.col("n_chars").alias("threshold"),
            F.col("cm").cast("bigint").alias("n_left"),
            (F.col("n") - F.col("cm")).cast("bigint").alias("n_right"),
            F.col("cp").cast("bigint").alias("pos_left"),
            (F.col("pos") - F.col("cp")).cast("bigint").alias("pos_right"),
            F.expr(
                f"CAST({_FL6_SQL.format(x=imp)} AS DECIMAL(28,6))"
            ).alias("imp6"),
        )
    )
    w = Window.orderBy(F.col("imp6").asc(), F.col("threshold").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("threshold").cast("bigint").alias("threshold"),
            "n_left",
            "n_right",
            "pos_left",
            "pos_right",
            F.col("imp6").cast("double").alias("impurity"),
        )
    )


def _stump_sql() -> str:
    from k_means_hadoop_spark.registry_pipeline import _quality_sql

    imp = (
        "CAST(n AS DOUBLE)"
        " - (CAST(cp AS DOUBLE) * CAST(cp AS DOUBLE)"
        "    + CAST(cm - cp AS DOUBLE) * CAST(cm - cp AS DOUBLE)) / CAST(cm AS DOUBLE)"
        " - (CAST(pos - cp AS DOUBLE) * CAST(pos - cp AS DOUBLE)"
        "    + CAST((n - cm) - (pos - cp) AS DOUBLE)"
        "      * CAST((n - cm) - (pos - cp) AS DOUBLE)) / CAST(n - cm AS DOUBLE)"
    )
    return f"""
WITH q AS (SELECT doc_id, n_chars, (quality >= 0.5)::INT AS y
           FROM ({_quality_sql()})),
hist AS (SELECT n_chars, count(*)::BIGINT AS m, SUM(y)::BIGINT AS p
         FROM q GROUP BY 1),
tot AS (SELECT SUM(m)::BIGINT AS n, SUM(p)::BIGINT AS pos FROM hist),
cum AS (SELECT n_chars,
               SUM(m) OVER (ORDER BY n_chars) AS cm,
               SUM(p) OVER (ORDER BY n_chars) AS cp
        FROM hist),
cand AS (SELECT n_chars AS threshold, cm::BIGINT AS n_left,
                (n - cm)::BIGINT AS n_right, cp::BIGINT AS pos_left,
                (pos - cp)::BIGINT AS pos_right,
                CAST({_FL6_SQL.format(x=imp)} AS DECIMAL(28,6)) AS imp6
         FROM cum CROSS JOIN tot WHERE cm < n)
SELECT threshold, n_left, n_right, pos_left, pos_right,
       CAST(imp6 AS DOUBLE) AS impurity
FROM cand ORDER BY imp6 ASC, threshold ASC LIMIT 1
"""


CURATION_QUERIES = {
    "split_train_val": (split_train_val, SPLIT_SQL),
    "dataset_mixture_plan": (dataset_mixture_plan, MIXTURE_PLAN_SQL),
    "split_by_group": (split_by_group, _gsplit_sql()),
    "quality_percentile_gate": (quality_percentile_gate, _qgate_sql()),
    "quota_per_source": (quota_per_source, QUOTA_SQL),
    "histogram_doc_lengths": (histogram_doc_lengths, HISTOGRAM_SQL),
    "winsorize_acctbal": (winsorize_acctbal, WINSORIZE_SQL),
    "mix_sources_weighted": (mix_sources_weighted, MIX_SQL),
    "temperature_sample_langs": (temperature_sample_langs, TEMPERATURE_SQL),
    "pack_sequences": (pack_sequences, PACK_SQL),
    "decontaminate_corpus": (decontaminate_corpus, _decontam_sql()),
    "scrub_event_props": (scrub_event_props, SCRUB_SQL),
    "pii_redact_docs": (pii_redact_docs, PII_REDACT_SQL),
    "boilerplate_spans": (boilerplate_spans, _boilerplate_sql()),
    "leakage_audit": (leakage_audit, _leakage_sql()),
    "shuffle_shards": (shuffle_shards, _shuffle_shards_sql()),
    "sample_weighted_docs": (sample_weighted_docs, _sample_weighted_sql()),
    "curate_corpus_full": (curate_corpus_full, _curate_full_sql()),
    "curate_corpus_release": (curate_corpus_release, _curate_release_sql()),
    # Upgraded from rows-only (round-2 verdict item 5): exact columns +
    # a within-tolerance/contract verdict the oracle asserts as true.
    "stratified_sample_langs": (stratified_sample_langs, STRATIFIED_SQL),
    "quality_classifier": (quality_classifier_agreement, _qc_agreement_sql()),
    "importance_weights_mixture": (importance_weights_mixture, IMPORTANCE_SQL),
    "decision_stump_quality": (decision_stump_quality, _stump_sql()),
}
