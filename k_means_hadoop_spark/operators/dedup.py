"""Deduplication operators — exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine (beyond-reference north-star surface).

Scale design (the point of each op at 100 TB):

- exact: groupBy on md5(text) — one shuffle of (16-byte key, id); never
  group on the raw text (wide shuffle rows).
- n-gram Jaccard: the EXACT pair measure.  Brute force is the
  shingle-inverted-index self-join (explode → join on shingle → count
  common); output pair count is bounded by co-shingle frequency, so at
  scale hot shingles must be dropped (document-frequency cap — the
  classic stop-shingle trick) or the MinHash path used instead.
- MinHash+LSH: signatures via one explode + one groupBy (num_hashes
  conditional mins, map-side combinable); banding turns near-dup search
  into an equi-join on (band, band-hash) — shuffle ∝ corpus size, not
  pairs².  Candidates are then verified with the exact measure.
- SimHash: near-dup via Hamming distance on 32-bit fingerprints;
  bucket by bit-bands for the scale path.
- embedding cosine: exact pairwise over a bounded subset; LSH/IVF in
  operators/similarity.py is the scale path.

Hashes use the md5-based ``stable_hash64`` so every step is
reproducible in DuckDB (oracle-checkable end to end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.hashing import (
    minhash_value,
    stable_hash64,
    word_ngrams,
)
from k_means_hadoop_spark.functions.vector import cosine_similarity
from k_means_hadoop_spark.partitioning import truncate_lineage

# Deterministic universal-hash parameters (a odd, b arbitrary; values are
# arbitrary fixed constants — NOT tuned to the testdata).
MINHASH_PARAMS: list[tuple[int, int]] = [
    (2 * i + 1 + 0x9E3779B1, (i * 0x85EBCA77) & 0x7FFFFFFF) for i in range(16)
]
LSH_BANDS = 4  # 16 hashes / 4 rows per band


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(text_md5, keep_id, n_copies) — canonical survivor = min doc_id."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_table(
    docs: DataFrame, n: int = 3, text_col: str = "text", max_doc_freq: int | None = None
) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams, exploded.

    ``max_doc_freq`` is the stop-shingle cap: shingles appearing in more
    than that many documents are dropped BEFORE any self-join.  At 100 TB
    a single boilerplate shingle shared by 1M docs otherwise generates
    5·10¹¹ candidate pairs; the cap bounds per-shingle join fan-out at
    max_doc_freq².  Default None = exact semantics (oracle parity)."""
    sh = docs.select(
        "doc_id", F.explode(word_ngrams(F.col(text_col), n)).alias("shingle")
    )
    if max_doc_freq is None:
        return sh
    from pyspark.sql import Window

    df_count = Window.partitionBy("shingle")
    return (
        sh.withColumn("_df", F.count(F.lit(1)).over(df_count))
        .filter(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.7,
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(a_id, b_id, jaccard) for pairs with shingle-set Jaccard ≥ threshold.

    Inverted-index self-join: pairs are generated only for documents
    sharing ≥1 shingle; |A∪B| from per-doc shingle counts.  At scale pass
    ``max_doc_freq`` (stop-shingle cap, see shingle_table) — candidate
    recall drops only for pairs whose every shared shingle is hot, while
    the denominator counts stay exact.
    """
    sh = shingle_table(docs, n, text_col)
    join_side = sh if max_doc_freq is None else shingle_table(docs, n, text_col, max_doc_freq)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = join_side.alias("a")
    b = join_side.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(ca, "a_id")
        .join(cb, "b_id")
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _verify_jaccard(
    cand: DataFrame, docs: DataFrame, n: int, text_col: str, threshold: float
) -> DataFrame:
    """(a_id, b_id, jaccard) for the candidate pairs whose EXACT n-gram
    Jaccard is ≥ ``threshold``.

    Per-doc shingle ARRAYS, not the exploded table: candidates join
    twice on doc_id (narrow keys + one doc-sized array column) and
    |A∩B| is computed row-locally with array_intersect — no second
    explode, no per-shingle join fan-out, no extra aggregation, and
    |A| / |B| fall out of F.size instead of two more count joins.  The
    arrays are bounded by document length, so the shuffle rows stay
    small even when a candidate doc appears in many pairs.  word_ngrams
    arrays are distinct, so size(array_intersect) equals the
    exploded-join common count exactly; result-set equality with
    ngram_jaccard_pairs stays pinned in tests/test_analytics.py."""
    doc_sh = docs.select(
        "doc_id", word_ngrams(F.col(text_col), n).alias("sh_arr")
    )
    a_sh = doc_sh.select(F.col("doc_id").alias("a_id"), F.col("sh_arr").alias("sa"))
    b_sh = doc_sh.select(F.col("doc_id").alias("b_id"), F.col("sh_arr").alias("sb"))
    common = F.size(F.array_intersect("sa", "sb"))
    jac = common.cast("double") / (F.size("sa") + F.size("sb") - common)
    return (
        cand.join(a_sh, "a_id")
        .join(b_sh, "b_id")
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filtered_jaccard(
    docs: DataFrame, n: int = 3, threshold: float = 0.7, text_col: str = "text"
) -> DataFrame:
    """(a_id, b_id, jaccard) — identical semantics (and registered
    oracle) as ``ngram_jaccard_pairs``, computed by the PPJoin-style
    PREFIX FILTER instead of the full inverted-index self-join.

    Candidate generation joins only each document's prefix — its first
    ``|x| − ⌈t·|x|⌉ + 1`` shingles in the global rarest-first order
    (ascending document frequency, shingle text as tiebreak).  The
    standard prefix-filtering theorem guarantees completeness: any pair
    with Jaccard ≥ t shares at least one shingle inside both prefixes
    under a consistent total order.  Verification then computes the
    FULL intersection row-locally (array_intersect over the two
    doc-sized shingle arrays, cost Σ_cand (|A|+|B|)) for surviving
    candidates only, so the quadratic explosion moves from all
    co-occurring pairs to pairs sharing a RARE shingle — the asymptotic
    win at 100 TB, where hot boilerplate shingles dominate the full
    index's fan-out.

    A pytest pins result-set equality with ``ngram_jaccard_pairs`` and
    that the candidate set is strictly smaller than the full index's.
    """
    from pyspark.sql import Window

    sh = shingle_table(docs, n, text_col)
    # counts stays the aggregate over the exploded table ON PURPOSE
    # (round-13 negative result): deriving |x| row-locally as
    # size(word_ngrams(text)) — one fewer aggregate on paper — measured
    # 3.2 → 7.5 s isolated at sf0.1: the aggregate's 5k-row output
    # broadcast-joins into the ranked prefix pass and its exchange is
    # runtime-reused, while the docs-derived frame re-tokenizes and
    # re-plans as a non-reusable subtree on both sides of the
    # candidate self-join.  Do not retry.
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    pref = (
        sh.join(df_tbl, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(counts, "doc_id")
        .where(
            F.col("rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select("doc_id", "shingle")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    return _verify_jaccard(cand, docs, n, text_col, threshold)


def minhash_signatures(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, m0..m15) — MinHash signature: per-doc minimum of each
    universal hash over the shingle hashes.  One explode + one groupBy
    with 16 min-aggregates (fully map-side combinable)."""
    sh = shingle_table(docs, n, text_col).withColumn("h", stable_hash64(F.col("shingle")))
    aggs = [
        F.min(minhash_value(F.col("h"), a, b)).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def banded_signatures(
    docs: DataFrame, n: int = 3, bands: int = LSH_BANDS, text_col: str = "text"
) -> DataFrame:
    """(doc_id, band, bucket) — MinHash signatures banded for LSH.

    Band hash = md5 of the '|'-joined band rows; joining two of these
    tables on (band, bucket) is the LSH trick that makes near-dup
    detection linear-ish in corpus size at 100 TB."""
    return bands_from_signatures(minhash_signatures(docs, n, text_col), bands)


def bands_from_signatures(sig: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, band, bucket) from an existing (doc_id, m0..m15)
    signature table — split out so signatures merged from a store
    (streaming min-merge) band identically to freshly computed ones."""
    rows_per_band = len(MINHASH_PARAMS) // bands
    band_cols = []
    for bi in range(bands):
        members = [F.col(f"m{bi * rows_per_band + j}").cast("string") for j in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *members)).alias(f"band{bi}"))
    banded = sig.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(bi).alias("band"), F.col(f"band{bi}").alias("bucket"))
                for bi in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    docs: DataFrame, n: int = 3, bands: int = LSH_BANDS, text_col: str = "text"
) -> DataFrame:
    """(a_id, b_id) distinct candidate pairs sharing ≥1 LSH band bucket.

    Kept as a (band, bucket) equi-self-join ON PURPOSE: the measured
    alternative — groupBy bucket + collect_list + row-local pair
    expansion with higher-order functions — was 15-100% SLOWER at sf0.1
    (array allocation beats the JVM join probe only for near-empty
    buckets) and is strictly worse at scale, where a hot bucket becomes
    one unsplittable array row (executor OOM) while the join form gets
    AQE skew-splitting and shuffle-stage reuse for the identical sides."""
    stacked = banded_signatures(docs, n, bands, text_col)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def minhash_verified_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.7,
    bands: int = LSH_BANDS,
    text_col: str = "text",
) -> DataFrame:
    """(a_id, b_id, jaccard) — the production near-dedup output: LSH
    candidate pairs verified with the EXACT n-gram Jaccard and filtered
    at ``threshold``.

    This is the two-stage pipeline every web-scale dedup runs: banding
    bounds the candidate set (shuffle ∝ corpus, not pairs²), then the
    exact measure is computed ONLY for candidates — the common-shingle
    count joins the candidate list back to the shingle table on doc_id,
    so the quadratic verification cost collapses to
    O(candidates · shingles/doc)."""
    cand = minhash_lsh_candidates(docs, n, bands, text_col)
    return _verify_jaccard(cand, docs, n, text_col, threshold)


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 5,
    band: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """(a_id, b_id, dist) for pairs with levenshtein ≤ ``max_dist`` —
    the EXACT character-level near-dup verifier next to the set-based
    measures (Jaccard/MinHash/SimHash): the right tool for
    template-edit duplicates (one changed date, a swapped name) that
    shingle sets blur.

    Candidate band: ``|len(a) − len(b)| ≤ max_dist`` is NECESSARY for
    an edit distance ≤ max_dist, so an EQUI-join on the length bucket
    ``len DIV band`` (``band > max_dist``, left side exploded to its
    {bucket−1, bucket, bucket+1}) is lossless and each qualifying pair
    matches exactly one key — no all-pairs scan, no dedup pass.
    Verification uses the THRESHOLD form of the JVM levenshtein
    (banded DP, O(max_dist·min_len) per pair and early-exit, returning
    −1 above the threshold) — never the full O(m·n) matrix.

    100 TB note: length-banding alone leaves large cohorts at scale
    (millions of docs share a length); compose with content banding —
    run this verifier over ``minhash_lsh_candidates`` instead of the
    length join — for the bounded-candidates story, exactly like
    ``minhash_verified_pairs``.  The verify stage itself is the point
    here: exact distances, JVM-side, candidates ∝ band cohorts.

    Unicode seam: Spark's levenshtein counts CHARACTERS while DuckDB's
    counts BYTES, so the registered oracle pairing is exact only for
    single-byte (ASCII/latin1) text — true of every shipped fixture
    (verified at all 3 SFs).  On multi-byte corpora the engine's
    character distances are the semantically right ones; the oracle
    would need a byte-projected comparison column to follow."""
    if band <= max_dist:
        raise ValueError(
            f"edit_distance_pairs: band ({band}) must exceed max_dist "
            f"({max_dist}) so qualifying pairs sit in adjacent buckets"
        )
    d = docs.select(
        "doc_id",
        F.col(text_col).alias("_txt"),
        F.length(text_col).alias("_len"),
        F.expr(f"CAST(length({text_col}) AS BIGINT) DIV {band}").alias(
            "_bk"
        ),
    )
    a = d.select(
        F.col("doc_id").alias("a_id"),
        F.col("_txt").alias("ta"),
        F.col("_len").alias("la"),
        F.explode(
            F.array(F.col("_bk") - 1, F.col("_bk"), F.col("_bk") + 1)
        ).alias("_key"),
    )
    b = d.select(
        F.col("doc_id").alias("b_id"),
        F.col("_txt").alias("tb"),
        F.col("_len").alias("lb"),
        F.col("_bk").alias("_key"),
    )
    dist = F.levenshtein(F.col("ta"), F.col("tb"), max_dist)
    return (
        a.join(b, ["_key"])
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("la") - F.col("lb")) <= max_dist)
        )
        .select("a_id", "b_id", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
    )


def edit_verified_pairs(
    docs: DataFrame,
    n: int = 3,
    max_dist: int = 5,
    bands: int = LSH_BANDS,
    text_col: str = "text",
) -> DataFrame:
    """(a_id, b_id, dist) — the 100 TB composition the
    ``edit_distance_pairs`` docstring prescribes: MinHash LSH candidate
    pairs (content banding — shuffle ∝ corpus, candidates ∝ Σ|bucket|²)
    verified with the THRESHOLD form of the JVM levenshtein, exactly
    the ``minhash_verified_pairs`` two-stage pattern with the exact
    character measure in the verify seat.

    Length-banding alone (the candidate scheme inside
    ``edit_distance_pairs``) leaves huge cohorts at corpus scale —
    millions of documents share a length bucket — while near-identical
    texts share nearly all their shingles and so collide in an LSH
    band with near-certainty.  The cheap ``|len(a)−len(b)| ≤ max_dist``
    necessary condition still prunes candidates BEFORE any levenshtein
    runs.  Output ⊆ edit_distance_pairs (recall < 1 by LSH
    construction, precision 1 — every emitted distance is exact); the
    registered oracle mirrors the candidate set, so the driver
    hash-checks banding + prune + verify end to end."""
    cand = minhash_lsh_candidates(docs, n, bands, text_col)
    d = docs.select("doc_id", F.col(text_col).alias("_txt"), F.length(text_col).alias("_len"))
    a = d.select(F.col("doc_id").alias("a_id"), F.col("_txt").alias("ta"), F.col("_len").alias("la"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("_txt").alias("tb"), F.col("_len").alias("lb"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"), max_dist)
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .filter(F.abs(F.col("la") - F.col("lb")) <= max_dist)
        .select("a_id", "b_id", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
    )


def incremental_dedup(
    docs: DataFrame,
    is_batch,
    n: int = 3,
    threshold: float = 0.7,
    bands: int = LSH_BANDS,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, status) for every incoming-batch document, where status is
    'exact_dup' (byte-identical to a corpus doc), 'near_dup' (LSH-verified
    n-gram Jaccard ≥ threshold vs a corpus doc), or 'new'.

    The production ingestion shape: a daily increment is deduplicated
    AGAINST the accumulated corpus without ever re-deduplicating the
    corpus itself.  No self-join touches the corpus side — candidate
    generation is the batch-vs-corpus equi-join on (band, bucket), so the
    shuffle is O(batch + corpus signatures), and at 100 TB the corpus
    signatures would be a persisted table maintained across increments
    (computing them here from raw text stands in for that read).
    Verification is row-local array_intersect on candidate pairs only.
    ``is_batch`` is a boolean Column splitting docs into increment vs
    corpus."""
    docs = docs.withColumn("_is_batch", is_batch)
    batch = docs.filter(F.col("_is_batch"))
    corpus = docs.filter(~F.col("_is_batch"))
    corpus_md5 = corpus.select(F.md5(F.col(text_col)).alias("text_md5")).distinct()
    st_corpus = banded_signatures(corpus, n, bands, text_col)
    c_arr = corpus.select(
        F.col("doc_id").alias("c_id"), word_ngrams(F.col(text_col), n).alias("sc")
    )
    return _incremental_statuses(
        batch, corpus_md5, st_corpus, c_arr, n, threshold, bands, text_col
    )


def build_signature_store(
    corpus: DataFrame,
    store_path: str,
    n: int = 3,
    bands: int = LSH_BANDS,
    text_col: str = "text",
) -> None:
    """Write the corpus index an ingest service maintains across
    increments: THREE parquet tables under ``store_path`` — exact-match
    digests (``md5``: distinct text_md5), banded LSH signatures
    (``bands``: doc_id, band, bucket), and the verify-side shingle
    arrays (``shingles``: doc_id, sh_arr).  Once built, admission of a
    new batch touches ONLY this store: candidate generation joins
    ``bands``, verification joins ``shingles`` — the corpus text is
    never re-read and never re-shingled.  Overwrite here stands in for
    the per-increment append a live service would do."""
    # The three tables are independent jobs over the same corpus scan —
    # submit them from a small thread pool (guide §2.6) so each job's
    # straggler tail back-fills with the next job's tasks instead of
    # idling the cluster three times in a row.  Results are identical:
    # three separate overwrite targets, no shared state.
    from concurrent.futures import ThreadPoolExecutor

    writes = [
        lambda: corpus.select(F.md5(F.col(text_col)).alias("text_md5"))
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{store_path}/md5"),
        lambda: banded_signatures(corpus, n, bands, text_col)
        .write.mode("overwrite")
        .parquet(f"{store_path}/bands"),
        lambda: corpus.select(
            "doc_id", word_ngrams(F.col(text_col), n).alias("sh_arr")
        )
        .write.mode("overwrite")
        .parquet(f"{store_path}/shingles"),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(w) for w in writes]:
            f.result()


def incremental_dedup_from_store(
    batch: DataFrame,
    store_path: str,
    n: int = 3,
    threshold: float = 0.7,
    bands: int = LSH_BANDS,
    text_col: str = "text",
) -> DataFrame:
    """``incremental_dedup`` where the corpus side is the persisted
    signature store (``build_signature_store``): the batch is the only
    side whose text is scanned — exact digests, LSH candidates, and
    Jaccard verification all join tables read back from ``store_path``.
    This is the per-increment (and per-micro-batch, see
    ``streaming.relational.streaming_ingest_dedup``) admission query:
    cost is O(batch + touched store rows), independent of corpus size
    beyond the store joins."""
    spark = batch.sparkSession
    corpus_md5 = spark.read.parquet(f"{store_path}/md5")
    st_corpus = spark.read.parquet(f"{store_path}/bands")
    c_arr = spark.read.parquet(f"{store_path}/shingles").select(
        F.col("doc_id").alias("c_id"), F.col("sh_arr").alias("sc")
    )
    return _incremental_statuses(
        batch, corpus_md5, st_corpus, c_arr, n, threshold, bands, text_col
    )


def incremental_dedup_stored(
    docs: DataFrame,
    is_batch,
    store_path: str,
    n: int = 3,
    threshold: float = 0.7,
    bands: int = LSH_BANDS,
    text_col: str = "text",
) -> DataFrame:
    """``incremental_dedup`` against a PERSISTED corpus index — the
    actual 100 TB ingest shape made concrete: the corpus's exact
    digests, banded signatures, AND verify-side shingle arrays are
    written once to ``store_path`` (``build_signature_store``), and the
    daily batch joins against the store READ BACK from disk — after the
    build, the corpus text is never consulted again, not even for
    candidate verification.  Statuses are identical to the
    from-raw-text operator, so the same oracle hash-checks both: a
    lossy store schema, a broken roundtrip, or a wrong join against the
    stored index all flip the driver hash."""
    docs = docs.withColumn("_is_batch", is_batch)
    batch = docs.filter(F.col("_is_batch"))
    corpus = docs.filter(~F.col("_is_batch"))
    build_signature_store(corpus, store_path, n, bands, text_col)
    return incremental_dedup_from_store(
        batch, store_path, n, threshold, bands, text_col
    )


def _incremental_statuses(
    batch: DataFrame,
    corpus_md5: DataFrame,
    st_corpus: DataFrame,
    c_arr: DataFrame,
    n: int,
    threshold: float,
    bands: int,
    text_col: str,
) -> DataFrame:
    """Shared tail of the incremental operators: exact-md5 semi join +
    batch-vs-corpus banded candidates + row-local Jaccard verify →
    (doc_id, status).  ``c_arr`` is the corpus verify side
    (c_id, sc: shingle array) — computed inline by ``incremental_dedup``,
    read from the persisted store by ``incremental_dedup_from_store``."""
    exact_ids = (
        batch.select("doc_id", F.md5(F.col(text_col)).alias("text_md5"))
        .join(corpus_md5, "text_md5", "left_semi")
        .select("doc_id")
    )

    st_batch = banded_signatures(batch, n, bands, text_col)
    cand = (
        st_batch.alias("b")
        .join(
            st_corpus.alias("c"),
            (F.col("b.band") == F.col("c.band")) & (F.col("b.bucket") == F.col("c.bucket")),
        )
        .select(F.col("b.doc_id").alias("b_id"), F.col("c.doc_id").alias("c_id"))
        .distinct()
    )
    b_arr = batch.select(
        F.col("doc_id").alias("b_id"), word_ngrams(F.col(text_col), n).alias("sb")
    )
    common = F.size(F.array_intersect("sb", "sc"))
    jac = common.cast("double") / (F.size("sb") + F.size("sc") - common)
    near_ids = (
        cand.join(b_arr, "b_id")
        .join(c_arr, "c_id")
        .filter(F.round(jac, 6) >= threshold)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )

    return (
        batch.select("doc_id")
        .join(exact_ids.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near_ids.withColumn("_n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e") == 1, F.lit("exact_dup"))
            .when(F.col("_n") == 1, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def simhash_pairs(
    simhashes: DataFrame, max_hamming: int = 3, unbounded_ok: bool = False
) -> DataFrame:
    """(a_id, b_id, hamming) — SimHash near-dup pairs.

    Brute-force a<b self-join with xor+bit_count (cheap per pair); the
    scale path buckets on bit-bands of the fingerprint first (pigeonhole:
    hamming ≤ 3 over 4 bands → ≥1 identical band).

    This is the deliberately-bounded O(n²) oracle measure, NOT a
    production path — callers must acknowledge the cost with
    ``unbounded_ok=True`` (after bounding the input themselves) so the
    all-pairs join can't silently run on a full corpus; use
    :func:`simhash_pairs_banded` at scale.
    """
    if not unbounded_ok:
        raise ValueError(
            "simhash_pairs is an O(n²) all-pairs oracle measure; bound the "
            "input and pass unbounded_ok=True, or use simhash_pairs_banded "
            "(equi-join, recall-1 for max_hamming <= bands-1) at scale"
        )
    a = simhashes.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"))
    b = simhashes.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_banded(
    simhashes: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """(a_id, b_id, hamming) — SimHash near-dup pairs via bit-band
    bucketing: the scale path ``simhash_pairs``'s docstring promises.

    Pigeonhole: two fingerprints within Hamming distance ``bands - 1``
    must agree on at least one of ``bands`` disjoint bit slices — so for
    ``max_hamming <= bands - 1`` the banded equi-join has RECALL 1 and
    produces EXACTLY the brute-force pair set (which is therefore its
    oracle).  Shuffle is ∝ corpus × bands on narrow (band, slice) keys;
    join fan-out is bounded by per-bucket density, not n² — no
    CartesianProduct anywhere in the plan (pinned in tests/test_plans).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding loses recall: max_hamming={max_hamming} needs <= bands-1={bands - 1}"
        )
    width = bits // bands
    mask = (1 << width) - 1
    slices = simhashes.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.shiftright("simhash", bi * width).bitwiseAND(F.lit(mask)).alias("slice"),
                )
                for bi in range(bands)
            ])
        ).alias("bs"),
    ).select(
        "doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.slice").alias("slice")
    )
    a = slices.alias("a")
    b = slices.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    max_id: int | None = None,
    unbounded_ok: bool = False,
) -> DataFrame:
    """(a_id, b_id, cos_sim) — embedding near-duplicates by cosine.

    Exact pairwise over an id-bounded subset (the oracle-checkable
    measure); ANN in operators/similarity.py is the scale path.

    O(n²) in its input: requires either ``max_id`` (the built-in id
    bound) or ``unbounded_ok=True`` (caller bounded the input some
    other way) so the cross join can't silently run on a full corpus —
    use :func:`embedding_neardup_bucketed` at scale.
    """
    if max_id is None and not unbounded_ok:
        raise ValueError(
            "embedding_neardup_pairs is an O(n²) all-pairs oracle measure; "
            "pass max_id (or bound the input yourself and pass "
            "unbounded_ok=True), or use embedding_neardup_bucketed at scale"
        )
    emb = embeddings.select(
        F.col("vec_id").cast("int").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    if max_id is not None:
        emb = emb.filter(F.col("vid") < max_id)
    a = emb.select(F.col("vid").alias("a_id"), F.col("vec").alias("va"))
    b = emb.select(F.col("vid").alias("b_id"), F.col("vec").alias("vb"))
    # HOF cosine by measurement (round 12): the unrolled 3-chain breaks
    # whole-stage codegen inside the BNLJ condition and the norm-hoisted
    # form measured no better than the fold — see similarity.knn_bruteforce
    sim = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_neardup_bucketed(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """(a_id, b_id, cos_sim) — embedding near-duplicates via LSH-bucketed
    candidate generation + in-bucket cosine verification: the scale path
    next to the all-pairs ``embedding_neardup_pairs`` oracle measure.

    Signature = sign bits of the first ``n_bits`` dimensions
    (axis-aligned hyperplane LSH for cosine), split into ``bands`` bit
    slices; candidates are pairs agreeing on at least one (band, slice)
    — an equi-join whose shuffle is ∝ corpus × bands, never n².  Each
    candidate is then verified with the exact cosine.  Recall < 1 by
    construction (a near-dup pair straddling every band is missed —
    P(miss) ≈ (1-(1-θ/π)^{bits/band})^bands); precision 1 (verified).
    Sign-bit signatures use only raw comparisons — no float summation —
    so an SQL oracle can reproduce the candidate set bit-exactly.
    """
    width = n_bits // bands
    emb = embeddings.select(
        F.col("vec_id").cast("int").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    slice_structs = []
    for bi in range(bands):
        bits = [
            F.when(F.element_at("vec", bi * width + j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(width)
        ]
        acc = bits[0]
        for bexpr in bits[1:]:
            acc = acc + bexpr
        slice_structs.append(
            F.struct(F.lit(bi).alias("band"), acc.cast("int").alias("slice"))
        )
    stacked = emb.select(
        "vid", F.explode(F.array(*slice_structs)).alias("bs")
    ).select("vid", F.col("bs.band").alias("band"), F.col("bs.slice").alias("slice"))
    cand = (
        stacked.alias("a")
        .join(
            stacked.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("a_id"), F.col("b.vid").alias("b_id"))
        .distinct()
    )
    av = emb.select(F.col("vid").alias("a_id"), F.col("vec").alias("va"))
    bv = emb.select(F.col("vid").alias("b_id"), F.col("vec").alias("vb"))
    # HOF cosine by measurement — interleaved A/B had the norm-hoisted
    # unrolled verify at parity, not better (see embedding_neardup_pairs)
    sim = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        cand.join(av, "a_id")
        .join(bv, "b_id")
        .select("a_id", "b_id", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_cell_pairs(
    embeddings: DataFrame,
    seed_ids: list[int],
    threshold: float = 0.9,
) -> DataFrame:
    """(a_id, b_id, cell, cos_sim) — SemDeDup-style semantic dedup:
    partition the embedding space into cells around fixed seed
    centroids (nearest-seed assignment, the zero-shuffle literal fold),
    then report exact-cosine near-duplicate pairs WITHIN each cell —
    semantically redundant documents cluster together, so restricting
    the pair search to cells bounds candidates at Σ|cell|² instead of
    n², and the cell equi-join is the only shuffle.

    Fixed seeds (vs an iterative quantizer) keep the whole operator a
    deterministic closed-form expression — SQL-mirrorable end to end,
    so the driver hash-checks it.  At 100 TB: train seeds with
    lloyd_kmeans on a sample (knn_ivf shows the pattern), persist the
    corpus partitioned by cell, and LSH-bucket WITHIN cells if a cell
    outgrows memory."""
    emb = embeddings.select(
        F.col("vec_id").cast("int").alias("id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    from k_means_hadoop_spark.operators.assign import assign_expr
    from k_means_hadoop_spark.operators.kmeans import init_ids

    cents = init_ids(emb, seed_ids)
    asg = assign_expr(emb, cents).select(
        F.col("id").alias("vid"), F.col("features").alias("vec"), F.col("cluster").alias("cell")
    )
    a = asg.select(F.col("vid").alias("a_id"), F.col("vec").alias("va"), "cell")
    b = asg.select(F.col("vid").alias("b_id"), F.col("vec").alias("vb"), F.col("cell").alias("cell_b"))
    # d from the already-collected seed rows → the in-cell verification
    # cosine runs as the codegen'd unrolled chain (bit-exact vs the HOF,
    # see vector.cosine_similarity_unrolled).  NOT norm-hoisted on
    # purpose (round-12 A/B): the side projections carry the 8-way
    # assign argmin already, and stacking the norm chain there measured
    # 1.78 → 2.37 s isolated (codegen method-size hazard).
    from k_means_hadoop_spark.functions.vector import cosine_similarity_unrolled

    sim = cosine_similarity_unrolled("va", "vb", len(cents[0][1]))
    return (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("a_id") < F.col("b_id")))
        .select("a_id", "b_id", "cell", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def duplicate_components(
    pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id", max_iter: int = 20
) -> DataFrame:
    """(doc_id, comp_id) — connected components over duplicate pairs:
    the step that turns pairwise near-dup hits into dedup CLUSTERS (keep
    one representative per component, drop the rest).

    Iterative min-label propagation: every node starts as its own
    component; each round a node adopts the minimum component id among
    itself and its neighbors; converged when no label changes.  Rounds
    needed = graph diameter — tiny for LSH duplicate clusters (near-dups
    of a common source chain together within a few hops).

    Scale shape per round: one equi-join (edges ⨝ labels on dst) + one
    groupBy(node) min — both hash-partition on the node id, so Catalyst
    reuses one Exchange per round.  ``localCheckpoint`` truncates the
    lineage so plans don't grow with iterations (same trick as
    kmeans.lloyd_kmeans).  This is the standard "small-star" style
    MapReduce CC; for billion-edge graphs swap in the two-phase
    large-star/small-star variant — the per-round plan is unchanged.
    """
    e1 = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    e2 = pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    # eager ON PURPOSE (round-12 A/B): folding the materialization into
    # the sum-probe job (the prefix_sum lazy treatment) measured SLOWER
    # here — 1.85 → 2.0-2.3 s isolated — the per-round join+agg+probe
    # pipeline schedules better against pre-materialized inputs.
    edges = e1.unionByName(e2).distinct().transform(truncate_lineage)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .transform(truncate_lineage)
    )

    # Convergence probe: comp(node) := min(comp(node), neighbor comps)
    # is per-node NON-INCREASING, so the label table is unchanged iff
    # Σ comp is unchanged — one map-side-combined aggregate over the
    # just-checkpointed table, replacing the old per-round
    # join + filter + limit(1).count() probe (a whole extra join job
    # per round).  decimal(38,0) keeps the sum exact at any node count.
    def _label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), F.col("comp"))
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        ).transform(truncate_lineage)
        s = _label_sum(neighbor_min)
        labels = neighbor_min
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        # Returning the partial labels would be SILENTLY WRONG — a
        # chain component with diameter > max_iter would carry
        # non-minimal ids while every oracle (recursive-CTE transitive
        # closure) computes the true fixed point, failing the hash with
        # no Spark-side signal.  LSH duplicate clusters converge in a
        # handful of rounds; hitting this cap means the graph has a
        # pathological long chain and the caller should raise max_iter
        # (or switch to the large-star/small-star variant).
        raise ValueError(
            f"duplicate_components: min-label propagation not converged "
            f"after {max_iter} rounds (component diameter exceeds the "
            f"cap); raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("comp_id"))


def neardup_mllib_minhash(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.7,
    num_tables: int = 16,
    seed: int = 42,
    text_col: str = "text",
) -> DataFrame:
    """(a_id, b_id, jaccard) — MLlib-native near-dup: shingle sets →
    ``CountVectorizer(binary=True)`` sparse vectors → ``MinHashLSH
    .approxSimilarityJoin`` at distance ≤ 1-threshold (SURVEY §7 M3's
    library tier next to the hand-built banding path).

    approxSimilarityJoin computes the EXACT Jaccard distance on every
    LSH candidate, so output pairs are always TRUE pairs (precision 1
    vs the exact operator); recall < 1 is the approximation — pinned in
    tests against dedup.ngram_jaccard_pairs.  Rows-only: the hash family
    is MLlib-internal."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = docs.select(
        "doc_id", word_ngrams(F.col(text_col), n).alias("sh_arr")
    ).filter(F.size("sh_arr") > 0)
    cv = CountVectorizer(inputCol="sh_arr", outputCol="_v", binary=True).fit(sh)
    vec = cv.transform(sh)
    model = MinHashLSH(inputCol="_v", outputCol="_h", numHashTables=num_tables, seed=seed).fit(vec)
    joined = model.approxSimilarityJoin(vec, vec, 1.0 - threshold + 1e-9, distCol="_jd")
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("a_id"),
            F.col("datasetB.doc_id").alias("b_id"),
            F.round(1.0 - F.col("_jd"), 6).alias("jaccard"),
        )
        .filter(F.col("a_id") < F.col("b_id"))
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(a_id, b_id, common, c_a_in_b, c_b_in_a) — ASYMMETRIC near-dup
    measure: shingle-set containment |A∩B|/|A| (and /|B|), emitted when
    either direction ≥ threshold.  Containment catches what Jaccard
    misses: a short document embedded inside a long one (quotes,
    excerpts, page-in-crawl) scores containment ≈ 1 while its Jaccard
    stays small because the union is large.

    Same inverted-index candidate plan as ngram_jaccard_pairs (pairs
    exist only for docs sharing a shingle; ``max_doc_freq`` stop-shingle
    cap bounds the per-shingle fan-out at scale); only the final
    row-local ratio differs."""
    sh = shingle_table(docs, n, text_col)
    join_side = sh if max_doc_freq is None else shingle_table(docs, n, text_col, max_doc_freq)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = join_side.alias("a")
    b = join_side.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    c_ab = F.col("common").cast("double") / F.col("na").cast("double")
    c_ba = F.col("common").cast("double") / F.col("nb").cast("double")
    return (
        common.join(ca, "a_id")
        .join(cb, "b_id")
        .filter(F.greatest(c_ab, c_ba) >= threshold)
        .select(
            "a_id",
            "b_id",
            "common",
            F.round(c_ab, 6).alias("c_a_in_b"),
            F.round(c_ba, 6).alias("c_b_in_a"),
        )
    )


# ----------------------------------------------- streaming MinHash store
#
# The min-merge counterpart of streaming_cms_counts' addition merge:
# MinHash signatures are mergeable sketches — sig(A ∪ B) =
# elementwise-min(sig(A), sig(B)) — so a signature STORE can absorb a
# document's content in pieces, across micro-batches, in any order,
# with replays (min is idempotent and commutative).  That is the 100 TB
# admission shape: each arriving chunk contributes a partial signature
# (one map-side-combinable groupBy of the batch only), the store merges
# by min, and near-dup candidate generation bands the MERGED signatures
# — the corpus text is never re-read, and a batch's cost is O(batch).
#
# Chunks overlap by n-1 tokens so the union of chunk shingle sets is
# exactly the whole-document shingle set; duplicate shingles across
# chunks are harmless under min.  Drained to completion, the merged
# store is therefore bit-identical to batch-computed signatures, and
# the candidate pairs hash-match dedup_minhash_lsh's oracle — the
# driver checks the cross-batch merge itself, not just its plumbing.

_MH_STREAM_CHUNKS = 3


def chunked_docs(docs: DataFrame, n: int, n_chunks: int = _MH_STREAM_CHUNKS, text_col: str = "text") -> DataFrame:
    """(doc_id, chunk_id, chunk) — each document's token array cut into
    ``n_chunks`` ranges overlapping by n-1 tokens (shingle-preserving)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = F.split(norm, " ")
    # per-doc chunk length: ceil(len / n_chunks), floor at 1
    clen = F.greatest(-F.floor(-F.size(toks) / F.lit(n_chunks)).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), F.lit(n_chunks - 1)),
        lambda c: F.array_join(
            F.slice(toks, c * clen + 1, clen + F.lit(n - 1)), " "
        ),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .where(F.col("chunk") != "")
    )


def partial_signatures(chunks: DataFrame, n: int, text_col: str = "chunk") -> DataFrame:
    """(doc_id, m0..m15) partial MinHash signatures over whatever
    chunks are present — same explode + 16-min groupBy as the batch
    signature, applied to a slice of the corpus."""
    sh = chunks.select(
        "doc_id", F.explode(word_ngrams(F.col(text_col), n)).alias("shingle")
    ).withColumn("h", stable_hash64(F.col("shingle")))
    aggs = [
        F.min(minhash_value(F.col("h"), a, b)).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def merge_signature_store(store: DataFrame) -> DataFrame:
    """Elementwise min-merge of partial signatures: the store fold."""
    return store.groupBy("doc_id").agg(
        *[F.min(f"m{i}").alias(f"m{i}") for i in range(len(MINHASH_PARAMS))]
    )


def minhash_candidates_streaming(
    spark,
    docs: DataFrame,
    n: int = 3,
    bands: int = LSH_BANDS,
    text_col: str = "text",
    store_path: str | None = None,
) -> DataFrame:
    """(a_id, b_id) LSH candidate pairs computed through the streaming
    signature store: document chunks arrive as a multi-batch stream,
    each micro-batch writes its partial signatures (idempotent per
    batch_id), and candidates band the min-merged store.  Pass
    ``store_path`` to inspect the per-batch partial-signature
    partitions afterwards (the multi-batch materialization pin)."""
    from k_means_hadoop_spark.session import scratch_dir

    src = scratch_dir("mh_stream_src")
    store = store_path or scratch_dir("mh_stream_store")
    chunks = chunked_docs(docs, n, text_col=text_col)
    # one file per chunk_id -> maxFilesPerTrigger=1 gives a genuinely
    # multi-batch drain (the cross-batch merge is the thing under test)
    chunks.repartition(_MH_STREAM_CHUNKS, "chunk_id").write.mode("overwrite").parquet(src)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            partial_signatures(batch_df, n)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store)
        )

    stream = (
        spark.readStream.schema(chunks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", scratch_dir("mh_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = merge_signature_store(spark.read.parquet(store))
    stacked = bands_from_signatures(merged, bands)
    a, b = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


# --------------------------------------------- MinHash estimator audit
#
# Sketch-quality telemetry: for every LSH candidate pair, the Jaccard
# similarity ESTIMATED from the signatures (fraction of agreeing
# signature components — the MinHash estimator's definition) next to
# the EXACT shingle-set Jaccard, with the absolute error.  This is the
# calibration a pipeline consults before trusting banded candidates at
# a new threshold: the estimate is unbiased with std ≈ sqrt(J(1-J)/16)
# at 16 hashes, and the audit makes that error concrete on real data.
# All counts are exact integers; the only floats are two divisions and
# one abs, shared-text on both engines.  Cost: the candidate set (the
# already-bounded LSH output) joined twice against the signature table
# — no new quadratic surface.


def minhash_estimate_audit(
    docs: DataFrame, n: int = 3, bands: int = LSH_BANDS, text_col: str = "text"
) -> DataFrame:
    """(a_id, b_id, n_match, est_jaccard, exact_jaccard, abs_err) for
    each LSH candidate pair."""
    k = len(MINHASH_PARAMS)
    sig = minhash_signatures(docs, n, text_col)
    cand = minhash_lsh_candidates(docs, n, bands, text_col)
    sa = sig.select(F.col("doc_id").alias("a_id"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col("doc_id").alias("b_id"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)])
    arr = docs.select("doc_id", word_ngrams(F.col(text_col), n).alias("sh"))
    aa = arr.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    ab = arr.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    n_match = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)),
        F.lit(0),
    ).cast("bigint")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exact_j = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    ).cast("double")
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .join(aa, "a_id")
        .join(ab, "b_id")
        .withColumn("n_match", n_match)
        .withColumn("est_jaccard", F.round(F.col("n_match").cast("double") / F.lit(float(k)), 6))
        .withColumn("exact_jaccard", F.round(exact_j, 6))
        .select(
            "a_id",
            "b_id",
            "n_match",
            "est_jaccard",
            "exact_jaccard",
            F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6).alias("abs_err"),
        )
    )
