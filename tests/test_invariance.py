"""Partitioning-invariance property: results must not depend on how the
data is split.

At 1000 executors the shuffle partition count is whatever the cluster
sets it to — a query whose result changes with it (double sums in
summation-sensitive order, unstable top-N ties) is wrong even if one
configuration happens to match the oracle.  DECIMAL money math and
explicit tie-breaks are the design guarantees; this test exercises them
by re-running representative queries under very different shuffle
partition counts and demanding identical rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k_means_hadoop_spark import registry

CASES = [
    "q1_pricing_summary",     # decimal sums
    "q10_returned_items",     # top-20 cut with tie-break
    "q15_top_supplier",       # max-equality on decimal
    "a7_jaccard",             # contingency counts
    "dedup_exact",            # hash-groupBy
    "sessionize_by_gap",      # two windows + two aggs, explicit tie-break
    "quota_per_source",       # ranking window with custkey tiebreak
    "salted_join_event_nations",  # decimal sums across 8 salt shards
    "mix_sources_weighted",   # row-local arithmetic hash sampling
    "top_terms_corpus",       # global top-k with term tie-break
    "dedup_components",       # iterative propagation, per-round shuffles
    "temperature_sample_langs",  # data-dependent rates + hash membership
    "top_event_paths",        # ordered reassembly + top-k path tie-break
    "trailing_hour_user_stats",  # value-based RANGE frame, decimal sums
    # round 3
    "tokenizer_fit_bigrams",  # global top-k with pair tie-break
    "boilerplate_spans",      # count() window over shingle + per-doc agg
    "curate_corpus_release",  # every admission gate composed, int sums
    "dedup_incremental_stored",  # statuses through the parquet store
    "bpe_train_merges",       # iterative top-1 selection must not depend on partitioning
    "dataset_card",           # order-proof integer-sum statistics
    # round 4
    "event_funnel_pattern",   # ordered symbol reassembly via rank structs
    "ewma_daily_purchases",   # sequential fold over the sorted day array
    "dataset_mixture_plan",   # integer micro-unit sums across strata
    "er_blocked_fuzzy",       # block join at entity cardinality
    "dedup_containment",      # inverted-index pair counts + ratio cut
    "knn_ivf_pq",             # literal-fold encode + rounded-rank window
    "split_by_group",         # group-key hash membership
    "retention_cohorts",      # exact distinct-day cohort counts
    "rfm_segments",           # three ntile rankings, custkey tie-proof
    "vocab_coverage",         # exact-integer coverage sums under a global rank
    "market_basket_pairs",    # rank-cut top-k with part-id tie-break
    "event_transition_matrix",  # lead() pairs under one user partition
    "pagerank_copurchase",    # 5 iterative rank joins, rank-cut edge set
    # round 4d
    "corr_matrix_lineitem",   # exact decimal moment sums, shared-text combine
    "ols_price_model",        # exact decimal Gram matrix, Cramer solve
    "skew_report_orders",     # rank-sum Gini — tie positions must commute
    "pareto_front_parts",     # window skyline with strict/tie dominance split
    "label_prop_communities", # synchronous min-label rounds, per-round shuffles
    "curriculum_schedule",    # cumulative token budget over a global quality order
    "repeated_ngram_spans",   # gram-partitioned inverted-index pair counts
    "pmi_bigrams",            # distributed top-k cut + broadcast unigram joins
    "quality_length_slopes",  # exact per-group decimal Gram sums
    "dedup_prefix_filter",    # rarest-first prefix rank must not depend on partitioning
    "silhouette_by_cluster",  # decimal-exact distance means over all pairs
    "cms_event_counts",       # integer counter matrix + min-probe
    "bfs_levels",             # min-plus rounds with per-round checkpoints
]


def rows_of(spark, name, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", CASES)
def test_shuffle_partition_invariance(spark, sf_dir, name):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        low = rows_of(spark, name, sf_dir)
        spark.conf.set(key, "64")
        high = rows_of(spark, name, sf_dir)
    finally:
        spark.conf.set(key, before)
    assert low == high


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """AQE skew-join handling — the runtime lever for hot keys at 100 TB.

    A sort-merge join where one key holds ~99% of the rows must be
    re-planned by AQE into split sub-partitions (the executed plan marks
    the join 'skew=true').  Thresholds are lowered so the tiny fixture
    triggers the same code path production data would."""
    skewed = spark.range(50_000).select(
        F.when(F.col("id") < 49_500, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    other = spark.range(100).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # AQE declines the split if it must add a shuffle for downstream
        # requirements; force it so the assertion is shape-independent
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        joined = skewed.join(other, "k")
        # collect() THIS DataFrame: a sink (e.g. noop write) executes a
        # copy of the plan, and queryExecution here would stay unfinalized
        assert len(joined.collect()) == 50_000
        executed = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "isFinalPlan=true" in executed
    assert "skew=true" in executed, executed[:3000]
