"""Text-analysis operators over the ``documents`` table (beyond-reference
north-star surface; BASELINE.json mandates an LLM-training-data pipeline).

All pure Catalyst expressions — no Python UDFs — so every operator is
DuckDB-oracle-checkable and stays inside whole-stage codegen at 100 TB.
Documents are embarrassingly parallel here (no shuffle in any of these
except the final aggregation a caller might add).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.hashing import (
    stable_hash64,
    tokens,
    tokens_sql,
    word_ngrams_all,
)
from k_means_hadoop_spark.partitioning import truncate_lineage

# Marker stopwords per language for the n-gram/marker-word heuristic
# language-ID.  Deliberately tiny and deterministic; the CASE order below
# is the documented tie-break (first language in LANGS wins ties).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "with", "for"),
    "es": ("el", "la", "de", "que", "los", "con", "por"),
    "fr": ("le", "la", "les", "des", "est", "dans", "pour"),
    "de": ("der", "die", "das", "und", "ist", "mit", "von"),
}
LANGS = tuple(LANG_MARKERS)

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# BPE-ish tokenization: runs of letters, runs of digits, or single other
# non-space chars — a crude but deterministic proxy for subword counts.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_CLASS = r"[.,!?;:]"


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens) — whitespace + BPE-ish counts."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(tokens(t)).alias("ws_tokens"),
        F.regexp_count(t, F.lit(BPE_REGEX)).cast("bigint").alias("bpe_tokens"),
    )


def quality_expr(text_col: str = "text"):
    """The combined [0,1] quality score as a row-local Column (rounded
    to 6 dp — the form every consumer aggregates or thresholds on)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t).cast("double")
    n_toks = F.size(toks).cast("double")
    punct = (F.length(t) - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))).cast("double")
    digits = (F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stops = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("double")
    quality = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.25)
            + F.least(n_toks / 400.0, F.lit(0.35))
            + F.least((stops / n_toks) * 2.0, F.lit(0.25))
            - (punct / n_chars) * 2.0
            - (digits / n_chars) * 1.5,
        ),
    )
    return F.round(quality, 6)


def _quality_sql() -> str:
    stop_lst = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH f AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n_chars,
         len({tokens_sql('text')})::DOUBLE AS n_toks,
         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE AS punct,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS digits,
         len(list_filter({tokens_sql('text')}, w -> list_contains([{stop_lst}], w)))::DOUBLE AS stops
  FROM documents)
SELECT doc_id,
       n_chars::BIGINT AS n_chars,
       n_toks::BIGINT AS n_tokens,
       round((n_chars - (n_toks - 1)) / n_toks, 6) AS avg_token_len,
       round(punct / n_chars, 6) AS punct_ratio,
       round(stops / n_toks, 6) AS stop_ratio,
       round(digits / n_chars, 6) AS digit_ratio,
       round(greatest(0.0, least(1.0,
             0.25 + least(n_toks / 400.0, 0.35) + least(stops / n_toks * 2.0, 0.25)
             - punct / n_chars * 2.0 - digits / n_chars * 1.5)), 6) AS quality
FROM f"""


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + combined score.

    Features: char length, token count, mean token length, punctuation
    ratio, stopword ratio, digit ratio.  ``quality`` is a fixed linear
    combination clamped to [0,1] — heuristic gate for pretraining-data
    filtering (longer docs with sane punctuation and some stopwords
    score higher).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t).cast("double")
    n_toks = F.size(toks).cast("double")
    punct = (F.length(t) - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))).cast("double")
    digits = (F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stops = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("double")
    avg_tok = (n_chars - (n_toks - 1)) / n_toks  # chars net of separators
    punct_ratio = punct / n_chars
    stop_ratio = stops / n_toks
    digit_ratio = digits / n_chars
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_toks.cast("bigint").alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        quality_expr(text_col).alias("quality"),
    )


def with_lang_pred(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Append the predicted language via STAGED projections: tokens
    once, the four marker scores once, then the CASE over the score
    columns.  A single-Column nested-CASE form re-evaluates each score
    ~5× (measured 1.4× slower);
    staging keeps every sub-expression computed once — Catalyst does
    not collapse the projections because the token array is non-cheap
    and multiply referenced.  Same values, same tie-break."""
    carried = df.columns
    staged = df.withColumn("_toks", tokens(F.col(text_col)))
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        score_cols.append(
            F.size(F.filter(F.col("_toks"), lambda w: F.array_contains(arr, w))).alias(f"_s_{lang}")
        )
    staged = staged.select(*carried, *score_cols)
    expr = F.lit("und")
    for lang in reversed(LANGS):
        others = [F.col(f"_s_{o}") for o in LANGS if o != lang]
        cond = (F.col(f"_s_{lang}") > 0) & (F.col(f"_s_{lang}") >= F.greatest(*others))
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return staged.select(*carried, expr.alias(out_col))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang) — marker-word language ID."""
    return with_lang_pred(docs.select("doc_id", text_col), text_col).select(
        "doc_id", "pred_lang"
    )


def _adjacent_pairs(toks_col: str):
    """ARRAY<STRUCT<a,b>> of adjacent token pairs (empty for <2 tokens —
    guarded, since sequence(1, 0) would descend)."""
    return F.when(
        F.size(toks_col) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks_col) - 1),
            lambda i: F.struct(
                F.element_at(toks_col, i).alias("a"),
                F.element_at(toks_col, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _bpe_rounds(docs: DataFrame, n_rounds: int, text_col: str, checkpoint_every: int = 4):
    """Shared train loop: returns (per-round top-merge DataFrames, the
    final re-segmented token table) — one Catalyst DAG, each learned
    merge entering the next round via a broadcast 1-row join.

    Plan-depth control: every ``checkpoint_every`` rounds the token
    table is ``localCheckpoint``-ed (eager, the ``lloyd_kmeans``
    lineage-truncation pattern), so Catalyst analysis cost stays
    bounded by the window size instead of growing superlinearly with
    ``n_rounds`` — a real tokenizer fit runs hundreds of merges.  The
    registered n_rounds=3 entries never hit a checkpoint, so their
    plans (and hashes) are byte-identical to the unchunked form;
    values are checkpoint-invariant either way (pinned by
    test_bpe_checkpoint_invariant).

    Degenerate rounds fail LOUDLY: if a round finds no adjacent pair
    anywhere (every doc already merged to <2 tokens), the former
    crossJoin silently emptied the token table and every later round.
    The merge now enters via a broadcast LEFT join and each output row
    asserts the merge pair is present, so execution raises with the
    round number instead of silently truncating the merge table."""
    cur = docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    rounds = []
    for r in range(1, n_rounds + 1):
        pairs = cur.select(F.explode(_adjacent_pairs("toks")).alias("p"))
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
        )
        rounds.append(top.select(F.lit(r).cast("int").alias("round"), "a", "b", "n"))
        merged = F.aggregate(
            F.col("toks"),
            F.array().cast("array<string>"),
            lambda acc, t: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("a"))
                & (t == F.col("b")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat_ws(" ", F.col("a"), F.col("b"))),
                ),
            ).otherwise(F.concat(acc, F.array(t))),
        )
        # assert_true is NULL on success, so the when() passes `merged`
        # through untouched; an empty `top` (degenerate round) makes the
        # left join emit NULL pairs and every row raises with context.
        guard = F.assert_true(
            F.col("a").isNotNull(),
            F.lit(
                f"bpe round {r}: no adjacent token pairs remain "
                f"(corpus fully merged or every doc has <2 tokens) — lower n_rounds"
            ),
        )
        cur = cur.join(F.broadcast(top.select("a", "b")), F.lit(True), "left").select(
            "doc_id", F.when(guard.isNull(), merged).alias("toks")
        )
        if checkpoint_every and r % checkpoint_every == 0 and r < n_rounds:
            cur = cur.transform(truncate_lineage)
    return rounds, cur


def bpe_train_merges(docs: DataFrame, n_rounds: int = 3, text_col: str = "text", checkpoint_every: int = 4) -> DataFrame:
    """(round, a, b, n) — BPE merge training at token granularity,
    expressed as ONE declarative plan: each round counts adjacent token
    pairs over the current segmentation, picks the top merge (count
    DESC, then a, b — deterministic), and applies it leftmost-greedy
    (the exact BPE application rule: after a merge the new token can't
    immediately re-merge with the consumed left context).

    The learned merge of round r enters round r+1 as a broadcast 1-row
    join — NOT a driver-side collect — so the entire trainer is a
    single Catalyst DAG, fully SQL-mirrored and driver hash-checked,
    iterative algorithm included.  Round r's plan nests all earlier
    rounds; every ``checkpoint_every`` rounds the token table is
    localCheckpoint-ed (the lloyd_kmeans lineage-truncation pattern) so
    plan depth — and Catalyst analysis cost — stays bounded for real
    tokenizer fits (hundreds of merges); the per-round shape (explode →
    partial-agg count → top-1 → fold map) is unchanged."""
    rounds, _cur = _bpe_rounds(docs, n_rounds, text_col, checkpoint_every)
    out = rounds[0]
    for nxt in rounds[1:]:
        out = out.unionByName(nxt)
    return out


def bpe_apply_merges(docs: DataFrame, n_rounds: int = 3, text_col: str = "text", checkpoint_every: int = 4) -> DataFrame:
    """(doc_id, toks) — the corpus re-segmented by the ``n_rounds``
    learned merges (train + apply in the same DAG)."""
    _rounds, cur = _bpe_rounds(docs, n_rounds, text_col, checkpoint_every)
    return cur


def bpe_compression(docs: DataFrame, n_rounds: int = 3, text_col: str = "text", checkpoint_every: int = 4) -> DataFrame:
    """(n_docs, tokens_before, tokens_after, ratio) — the APPLY side of
    merge training: re-segment the corpus with the learned merges and
    report the sequence-length compression — the number a tokenizer fit
    is actually optimizing (shorter sequences = more text per context
    window).  One plan: train + apply + both totals."""
    before = docs.select("doc_id", tokens(F.col(text_col)).alias("toks")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks").cast("bigint")).alias("tokens_before"),
    )
    after = bpe_apply_merges(docs, n_rounds, text_col, checkpoint_every).agg(
        F.sum(F.size("toks").cast("bigint")).alias("tokens_after")
    )
    return before.crossJoin(after).select(
        "n_docs",
        "tokens_before",
        "tokens_after",
        F.round(F.col("tokens_after") / F.col("tokens_before").cast("double"), 6).alias("ratio"),
    )


def dataset_card(docs: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """(source, n_docs, total_tokens, avg_quality, pct_en, avg_chars) —
    the per-source summary a dataset release publishes (its "data
    card"), computed in ONE pass: every signal (quality score, predicted
    language, token count) is a row-local expression inlined next to the
    group key, so the whole card is a single partial-aggregated groupBy.

    Aggregates are ORDER-PROOF for cross-engine hashing: the quality
    mean is taken over 6-dp-rounded scores scaled to exact integer
    micro-units and summed as BIGINT (float summation order could
    otherwise flip the 6th decimal between engines/partitionings), and
    the language share is an integer count ratio."""
    q_micro = F.round(quality_expr(text_col) * 1e6, 0).cast("bigint")
    n_toks = F.size(tokens(F.col(text_col))).cast("bigint")
    base = with_lang_pred(
        docs.select(F.col(group_col).alias("source"), text_col), text_col
    )
    return (
        base.select(
            "source",
            q_micro.alias("qm"),
            F.when(F.col("pred_lang") == "en", 1).otherwise(0).alias("en"),
            n_toks.alias("nt"),
            F.length(text_col).cast("bigint").alias("nc"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.round(F.sum("qm") / F.count(F.lit(1)) / 1e6, 6).alias("avg_quality"),
            F.round(F.sum("en") / F.count(F.lit(1)).cast("double"), 6).alias("pct_en"),
            F.round(F.sum("nc") / F.count(F.lit(1)).cast("double"), 6).alias("avg_chars"),
        )
    )


def langid_confusion(docs: DataFrame, text_col: str = "text", lang_col: str = "lang") -> DataFrame:
    """(true_lang, pred_lang, n) — confusion matrix of the heuristic
    language ID against the labeled ``lang`` column: the calibration
    audit run before trusting a classifier to route a 100 TB corpus.
    The prediction is computed beside the label (staged projections,
    see with_lang_pred), so the whole matrix is one scan + one
    partial-aggregated groupBy — no join."""
    return (
        with_lang_pred(
            docs.select(F.col(lang_col).alias("true_lang"), text_col), text_col
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp) — deterministic document fingerprint: 60-bit stable
    hash of the whitespace-normalized lower-cased text."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return docs.select("doc_id", stable_hash64(norm).alias("fp"))


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) — corpus-trained unigram
    language-model score: mean ln p(token) per document, the cheap
    stand-in for the perplexity filtering every web-scale corpus runs
    (CCNet-style) — outlier documents (gibberish, boilerplate in another
    register) score far below the corpus mode.

    Two aggregations, both map-side combinable: (1) token counts over
    the corpus = the unigram model; (2) per-document mean of
    ln(count/N).  The model join broadcasts — the vocabulary is
    sublinear in corpus size (Heaps' law), the same assumption
    tfidf_top_terms documents.  No smoothing needed: the model is
    trained on the same corpus it scores, so every token has mass."""
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    # ONE explode pass: doc-term occurrence counts feed BOTH the model
    # (regroup by tok) and the scoring (weighted mean), instead of
    # tokenizing the corpus twice and joining every occurrence.  The
    # join shrinks from total tokens to distinct doc-term pairs; the
    # per-doc mean Σc·lp / Σc is the same average re-associated —
    # within the 6dp rounding slack the plain AVG already relies on
    # (Spark's partial-agg order is nondeterministic either way).
    dt = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = dt.groupBy("tok").agg(F.sum("c").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    scored = (
        dt.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "c",
            F.log(F.col("cnt").cast("double") / F.col("n_total").cast("double")).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum(F.col("c").cast("double") * F.col("lp"))
            / F.sum(F.col("c").cast("double")),
            6,
        ).alias("avg_logprob"),
    )


def _unigram_logprob_sql() -> str:
    return f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents),
t AS (SELECT doc_id, tok FROM tok WHERE tok != ''),
vocab AS (SELECT tok, count(*)::BIGINT AS cnt FROM t GROUP BY tok),
n AS (SELECT sum(cnt)::BIGINT AS n_total FROM vocab)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(ln(cnt::DOUBLE / n_total::DOUBLE)), 6) AS avg_logprob
FROM t JOIN vocab USING (tok) CROSS JOIN n
GROUP BY doc_id"""


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, dup_ratio, top_token_ratio) —
    intra-document repetition signals (the Gopher-rules style quality
    gate that catches boilerplate, keyword stuffing, and decode loops):

    - ``dup_ratio``: fraction of token occurrences that are repeats
      (1 - distinct/total);
    - ``top_token_ratio``: frequency share of the single most common
      token.

    Entirely row-local higher-order functions — zero shuffle, runs
    inside whole-stage codegen; the per-row cost is O(distinct·total),
    bounded by document length (documents are KB-sized by contract; at
    100 TB this is the map-side filter it is meant to be)."""
    toks = tokens(F.col(text_col))
    base = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    nd = F.size(F.array_distinct("toks"))
    top = F.array_max(
        F.transform(
            F.array_distinct("toks"),
            lambda t: F.size(F.filter(F.col("toks"), lambda x: x == t)),
        )
    )
    return base.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        nd.cast("bigint").alias("n_distinct"),
        F.round(F.lit(1.0) - nd.cast("double") / n.cast("double"), 6).alias("dup_ratio"),
        F.round(top.cast("double") / n.cast("double"), 6).alias("top_token_ratio"),
    )


SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash BIGINT) — classic SimHash over token hashes.

    Every token occurrence votes ±1 on each of ``bits`` bit positions of
    its stable hash; the fingerprint sets bits with positive tallies.
    Shape: explode tokens → one groupBy(doc_id) with ``bits`` conditional
    sums (single partial-agg shuffle; at 100 TB this is the canonical
    map-side-combinable form).
    """
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("w")
    ).withColumn("h", stable_hash64(F.col("w")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    tallies = tok.groupBy("doc_id").agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        fp = term if fp is None else fp + term
    return tallies.select("doc_id", fp.alias("simhash"))


def top_terms(docs: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus-level term-frequency top-k — the canonical "wordcount"
    vocabulary query every tokenizer-training pipeline starts with.

    Shape: explode tokens → one partial-aggregated groupBy(term) →
    global top-k.  The ``orderBy().limit(k)`` pair compiles to
    ``TakeOrderedAndProject`` — each partition keeps only its local
    top-k and the driver merges k·P rows, so there is never a global
    sort shuffle no matter the corpus size.  Tie-break (count DESC,
    term ASC) makes the k-set deterministic.
    """
    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
    return (
        tok.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )


def tokenizer_fit_bigrams(docs: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """(pair, n) — the k most frequent ADJACENT token pairs across the
    corpus: the first merge candidates a BPE tokenizer fit computes
    (each merge round picks the top pair, re-segments, repeats — this is
    that counting pass, the part that touches all 100 TB).

    Counts every occurrence (``word_ngrams_all``, not the distinct
    shingle form), aggregated map-side, then ``orderBy().limit(k)`` →
    ``TakeOrderedAndProject``: partitions keep local top-k, the driver
    merges k·P rows, no global sort shuffle.  Ties (n DESC, pair ASC)
    make the k-set deterministic."""
    pairs = docs.select(F.explode(word_ngrams_all(F.col(text_col), 2)).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(k)
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Per-document top-k TF-IDF keywords — the relevance-scored variant
    of ``top_terms`` (document fingerprinting / keyword extraction for
    corpus exploration and near-dup triage).

    tf = term count within the doc; idf = ln((N+1)/(df+1)) with N from a
    1-row corpus-count aggregate broadcast onto the term table (same
    broadcast-a-scalar shape as curation.winsorize_acctbal — the big
    side never reshuffles for it).  Document frequencies are a second
    aggregate of the tf table (already partitioned by term after the
    groupBy — at corpus scale the df table is vocabulary-sized and
    broadcastable).  Ties broken (score DESC, term ASC) so the k-set is
    deterministic.
    """
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def chunk_documents(
    docs: DataFrame, text_col: str = "text", window: int = 32, stride: int = 24
) -> DataFrame:
    """Overlapping token-window chunking — the canonical LLM-pretraining
    preprocessing step (context-length splitting with overlap).

    Pure expression: tokenize → start offsets via ``sequence(0, n-1,
    stride)`` → ``posexplode`` → per-chunk slice.  The explode is the
    only fan-out (bounded by ~n/stride per doc); no shuffle, no Python.
    Chunks are emitted as (token count, md5 of the joined tokens) so the
    output stays narrow even for book-sized documents.
    """
    toks = tokens(F.col(text_col))
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride))
    return (
        docs.select("doc_id", toks.alias("toks"), starts.alias("starts"))
        .select("doc_id", "toks", F.posexplode("starts").alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            F.slice("toks", F.col("start") + 1, window).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").alias("n_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
    )


# ------------------------------------------------------------------ round 4

# Gopher-style rule bounds (Rae et al. 2021 §A1.1, adapted to this
# corpus's word-soup documents: the line-shape rules — bullet/ellipsis
# line fractions — need newline structure the fixture lacks and are
# covered corpus-side by boilerplate_spans instead).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 500
GOPHER_MIN_MEAN_LEN = 2.5
GOPHER_MAX_MEAN_LEN = 8.0
GOPHER_MIN_ALPHA_FRAC = 0.9
GOPHER_MIN_STOPWORDS = 1
GOPHER_MAX_TOP_RATIO = 0.15


def gopher_quality_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_words, mean_word_len, alpha_frac, n_stop, top_ratio,
    verdict, reason) — the Gopher quality-rule gate: word-count bounds,
    mean-word-length bounds, alphabetic-word fraction, minimum stopword
    evidence, and max top-token share, with the FIRST failing rule named
    per document (the audit column a curation run reports).

    Entirely row-local Catalyst expressions — zero shuffle, runs inside
    the corpus scan at 100 TB exactly like pii_redact/quality_scores;
    every sub-signal is computed once in a staged projection."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    staged = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks").cast("bigint")
    sum_len = F.aggregate(
        F.transform("toks", lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_len = sum_len.cast("double") / n.cast("double")
    alpha = F.size(F.filter("toks", lambda t: t.rlike("[a-z]")))
    alpha_frac = alpha.cast("double") / n.cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter("toks", lambda w: F.array_contains(stop_arr, w))).cast("bigint")
    top = F.array_max(
        F.transform(
            F.array_distinct("toks"),
            lambda t: F.size(F.filter(F.col("toks"), lambda x: x == t)),
        )
    )
    top_ratio = top.cast("double") / n.cast("double")
    staged = staged.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("_ml"),
        alpha_frac.alias("_af"),
        n_stop.alias("n_stop"),
        top_ratio.alias("_tr"),
    )
    reason = (
        F.when(F.col("n_words") < GOPHER_MIN_WORDS, F.lit("too_few_words"))
        .when(F.col("n_words") > GOPHER_MAX_WORDS, F.lit("too_many_words"))
        .when(F.col("_ml") < GOPHER_MIN_MEAN_LEN, F.lit("short_words"))
        .when(F.col("_ml") > GOPHER_MAX_MEAN_LEN, F.lit("long_words"))
        .when(F.col("_af") < GOPHER_MIN_ALPHA_FRAC, F.lit("non_alpha"))
        .when(F.col("n_stop") < GOPHER_MIN_STOPWORDS, F.lit("no_stopwords"))
        .when(F.col("_tr") > GOPHER_MAX_TOP_RATIO, F.lit("repetitive"))
        .otherwise(F.lit("pass"))
    )
    return staged.select(
        "doc_id",
        "n_words",
        F.round("_ml", 6).alias("mean_word_len"),
        F.round("_af", 6).alias("alpha_frac"),
        "n_stop",
        F.round("_tr", 6).alias("top_ratio"),
        (reason == "pass").alias("verdict"),
        reason.alias("reason"),
    )


def _gopher_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    top = (
        "list_max(list_transform(list_distinct(toks), "
        "t -> len(list_filter(toks, x -> x = t))))"
    )
    return f"""
WITH t AS (SELECT doc_id, list_filter({tokens_sql('text')}, x -> x != '') AS toks FROM documents),
m AS (SELECT doc_id,
             len(toks)::BIGINT AS n_words,
             list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)::DOUBLE AS ml,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
               / len(toks)::DOUBLE AS af,
             len(list_filter(toks, t -> t IN ({stops})))::BIGINT AS n_stop,
             {top}::DOUBLE / len(toks)::DOUBLE AS tr
      FROM t),
r AS (SELECT *, CASE WHEN n_words < {GOPHER_MIN_WORDS} THEN 'too_few_words'
                     WHEN n_words > {GOPHER_MAX_WORDS} THEN 'too_many_words'
                     WHEN ml < {GOPHER_MIN_MEAN_LEN} THEN 'short_words'
                     WHEN ml > {GOPHER_MAX_MEAN_LEN} THEN 'long_words'
                     WHEN af < {GOPHER_MIN_ALPHA_FRAC} THEN 'non_alpha'
                     WHEN n_stop < {GOPHER_MIN_STOPWORDS} THEN 'no_stopwords'
                     WHEN tr > {GOPHER_MAX_TOP_RATIO} THEN 'repetitive'
                     ELSE 'pass' END AS reason
      FROM m)
SELECT doc_id, n_words, round(ml, 6) AS mean_word_len, round(af, 6) AS alpha_frac,
       n_stop, round(tr, 6) AS top_ratio, reason = 'pass' AS verdict, reason
FROM r"""


BIGRAM_LAMBDA = 0.8  # interpolation weight on the bigram term


def bigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) — interpolated bigram language
    model score: mean ln(λ·c(w1,w2)/c(w1) + (1−λ)·c(w2)/N) over each
    document's adjacent token pairs — the next step up from
    unigram_logprob toward the CCNet perplexity filter (context-aware:
    scrambled token order now scores below natural order).

    Shape: adjacent pairs are built ROW-LOCALLY (zip_with over two
    slices — no positional self-join), the bigram and unigram models
    are corpus aggregates broadcast back (vocabulary sublinear in
    corpus, Heaps' law), and scoring is one joined map.  Interpolation
    means no smoothing constant to tune: every pair backs off to the
    always-present unigram mass."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    base = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    pairs = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = (
        base.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").alias("n_total"))
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    lam = F.lit(BIGRAM_LAMBDA)
    lp = F.log(
        lam * (F.col("cb").cast("double") / F.col("cw1").cast("double"))
        + (F.lit(1.0) - lam) * (F.col("cw2").cast("double") / F.col("n_total").cast("double"))
    )
    scored = (
        pairs.join(F.broadcast(bg), ["w1", "w2"])
        .join(F.broadcast(uni.select(F.col("tok").alias("w1"), F.col("cnt").alias("cw1"))), "w1")
        .join(F.broadcast(uni.select(F.col("tok").alias("w2"), F.col("cnt").alias("cw2"))), "w2")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    docs: DataFrame, query_terms: list[str], k: int = 20, text_col: str = "text"
) -> DataFrame:
    """(doc_id, score, rank) — Okapi BM25 lexical retrieval for a fixed
    query-term set: the inverted-index scoring tier of a retrieval
    stack (the dense ANN family is its semantic sibling; hybrid fusion
    joins the two).

    Shape: term frequencies come from one corpus scan filtered to the
    query terms (at 100 TB this is the posting-list read an inverted
    index serves; here the scan IS the index), document frequencies and
    average doc length are tiny aggregates broadcast back, and scoring
    is row-local.  idf uses the standard +1 form (never negative);
    ranking is on the 6-dp-rounded score with doc_id tie-break so the
    top-k is cross-engine deterministic."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", "toks", F.size("toks").cast("double").alias("dl")
    )
    corpus_stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(F.filter("toks", lambda t: F.array_contains(terms, t))).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = idf * (
        F.col("tf") * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    from pyspark.sql import Window as W

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus_stats))
        .select("doc_id", term_score.alias("ts"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("ts"), 6).alias("score"))
    )
    w = W.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
