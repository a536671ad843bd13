"""Physical-plan regression tests — the 100 TB design properties.

Each assertion pins a plan shape that keeps the engine scalable: filters
reaching the parquet scan, column pruning, dimension broadcast, and the
zero-shuffle assignment map.  A refactor that silently trades one of
these away (e.g. a filter that stops pushing down, a join that starts
shuffling lineitem) fails here long before it shows up in a benchmark.
"""

from __future__ import annotations

import json
import math
import os
import re

import pytest
from pyspark.sql import functions as F

import bench
from k_means_hadoop_spark import registry
from k_means_hadoop_spark.operators.assign import assign_expr
from k_means_hadoop_spark.operators.dedup import build_signature_store, incremental_dedup_from_store
from k_means_hadoop_spark.operators.kmeans import init_ids, init_random, lloyd_kmeans
from k_means_hadoop_spark.operators.recompute import recompute_centroids
from k_means_hadoop_spark.operators.relational import recursive_cte_bfs
from k_means_hadoop_spark.plans import n_nodes, plan_of, pushed_filters
from k_means_hadoop_spark.registry_pipeline import _emb
from k_means_hadoop_spark.sources.points import points_from_embeddings


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name: str) -> str:
        return plan_of(registry.QUERIES[name](spark, sf_dir))

    return get


def test_q1_filter_pushdown_and_pruning(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # projection pruned to the 7 needed columns — no l_orderkey/partkey/suppkey
    assert "l_orderkey" not in p
    assert "l_partkey" not in p


def test_q3_broadcasts_dimensions(plans):
    p = plans("q3_top_revenue_orders")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # at this SF everything joinable broadcasts
    assert "EqualTo(c_mktsegment,BUILDING)" in p  # dim filter pushed to scan


def test_q5_snowflake_all_dims_broadcast(plans):
    p = plans("q5_nation_revenue")
    assert n_nodes(p, "BroadcastHashJoin") == 3
    assert "EqualTo(r_name,ASIA)" in p


def test_assign_expr_zero_shuffle(plans):
    """The k-means assignment map must stay a single narrow projection:
    no Exchange, no join — the centroid table is a plan literal."""
    p = plans("j2_assign_expr")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "label" not in p  # P1: ground-truth column pruned at the scan


def test_p1_column_pruning(plans):
    p = plans("p1_drop_label")
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p


def test_lloyd_iteration_single_exchange(spark, sf_dir):
    """One Lloyd iteration = assignment map + k-row partial agg: exactly
    one shuffle (the groupBy('cluster') exchange), nothing else."""
    pts = points_from_embeddings(spark, sf_dir)
    cents = init_ids(pts, [1, 51, 101])
    p = plan_of(recompute_centroids(assign_expr(pts, cents), d=64))
    assert n_nodes(p, "Exchange") == 1
    assert "partial_avg" in p or "HashAggregate" in p  # map-side combine


def test_a7_jaccard_single_pass(plans):
    """The contingency-based Jaccard must aggregate the assignments ONCE:
    1 big exchange (groupBy label,cluster) + 2 tiny window exchanges over
    the k×L cell table + the single-row final agg.  A naive three-branch
    formulation costs 14 exchanges and three scans."""
    p = plans("a7_jaccard")
    assert n_nodes(p, "Exchange") <= 4
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 0


def test_dedup_exact_groups_on_hash_not_text(plans):
    """The exact-dedup shuffle key must be the 16-byte md5, never the
    raw document text (wide rows through the exchange kill it at scale)."""
    p = plans("dedup_exact")
    assert "md5" in p


def test_q4_semi_join_no_fanout(plans):
    """EXISTS must plan as a semi join (one output row per order max),
    with the quarter filter pushed into the orders scan."""
    p = plans("q4_priority_late_ships")
    assert "LeftSemi" in p
    assert "GreaterThanOrEqual(o_orderdate,1996-07-01" in p
    assert n_nodes(p, "Exchange") <= 3  # join sides (if SMJ) + final agg


def test_q7_derived_dim_filters_reach_all_scans(plans):
    """The nationkey<5 predicates must propagate through the equi-joins
    into supplier, customer AND both nation scans (4 scans filtered)."""
    p = plans("q7_volume_shipping")

    filtered = [f for f in pushed_filters(p) if "LessThan" in f and "nationkey,5)" in f]
    assert len(filtered) == 4, p


def test_q19_or_predicates_push_to_both_scans(plans):
    """Catalyst must derive per-side OR-filters from the OR-of-ANDs:
    the quantity bands into the lineitem scan, brand/size into part."""
    p = plans("q19_disjunctive_revenue")

    fs = pushed_filters(p)
    assert any("l_quantity" in f and "Or(" in f for f in fs), fs
    assert any("p_brand" in f and "Or(" in f for f in fs), fs


def test_q22_anti_join_and_folded_threshold(plans):
    """NOT EXISTS plans as LeftAnti; the scalar avg-balance threshold is
    collected once and folded into the customer scan as a literal."""
    p = plans("q22_idle_rich_customers")
    assert "LeftAnti" in p
    assert "GreaterThan(c_acctbal," in p


def test_q18_preaggregates_before_join(plans):
    """The per-order quantity agg must run BEFORE any join: the only
    shuffle in the plan is the groupBy(l_orderkey) exchange feeding the
    partial→final agg (lineitem shrinks to one row per order pre-join);
    orders/customer enter via broadcast only."""
    p = plans("q18_large_volume_customers")
    assert n_nodes(p, "Exchange") == 1, p
    assert "hashpartitioning(l_orderkey" in p
    assert n_nodes(p, "SortMergeJoin") == 0


def test_q13_outer_join_preserved(plans):
    """Q13's LEFT OUTER is semantically required (zero-order customers
    are the point); nothing may rewrite it to inner.  Two agg exchanges
    (per-customer, then histogram) are the only shuffles."""
    p = plans("q13_order_count_distribution")
    assert "LeftOuter" in p
    assert n_nodes(p, "Exchange") == 2, p


def test_q15_single_fact_scan(plans):
    """The 'revenue = global max' scalar must reuse the aggregated
    per-supplier table WITHOUT a second lineitem pass and WITHOUT the
    old unpartitioned window max (which dragged the corpus-growing
    supplier domain into one task — round-9 audit).  The per-supplier
    agg is localCheckpointed, so the visible plan reads the
    checkpointed RDD twice (max + filter) and parquet only for the
    supplier dim."""
    p = plans("q15_top_supplier")
    assert n_nodes(p, "Scan parquet") == 1, p  # supplier dim only
    assert "lineitem" not in p  # fact scan happened once, at checkpoint
    assert n_nodes(p, "Window") == 0
    assert n_nodes(p, "Scan ExistingRDD") == 2  # checkpoint read twice


def test_running_spend_one_shuffle_one_window(plans):
    """Both window frames (cumulative RANGE sum + ROWS lag) share one
    window spec: exactly one hash Exchange on o_custkey, one Sort, ONE
    Window node — and the scan prunes to the 4 needed columns (never a
    global sort, which would not scale past one executor)."""
    p = plans("running_spend_customer")
    assert n_nodes(p, "Exchange") == 1, p
    assert "hashpartitioning(o_custkey" in p
    assert n_nodes(p, "Sort") == 1
    assert n_nodes(p, "Window") == 1
    assert "o_orderstatus" not in p  # ReadSchema pruned


def test_q16_anti_join_broadcast(plans):
    """The excluded-supplier NOT-IN is a broadcast anti join on the tiny
    filtered supplier set, not a shuffle."""
    p = plans("q16_supplier_part_counts")
    assert "LeftAnti" in p
    assert n_nodes(p, "SortMergeJoin") == 0


def test_q20_nested_semi_joins(plans):
    """Both membership tests plan as semi joins (promo parts into
    lineitem; qualifying suppkeys into supplier) — no fan-out anywhere."""
    p = plans("q20_promo_part_suppliers")
    assert p.count("LeftSemi") >= 2, p


def test_q8_snowflake_single_shuffle(plans):
    """Seven broadcast joins, one exchange: the 6-way snowflake + ratio
    agg reads lineitem once and shuffles only the year-grouped rows."""
    p = plans("q8_market_share")
    assert n_nodes(p, "BroadcastHashJoin") == 7, p
    assert n_nodes(p, "Exchange") == 1, p


def test_quota_window_and_agg_share_one_exchange(plans):
    """quota_per_source ranks with a window partitioned by (source, lang)
    and then aggregates on the same keys: Catalyst must reuse the
    window's hashpartitioning so the whole query has ONE shuffle."""
    p = plans("quota_per_source")
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(source" in p


def test_split_train_val_is_row_local(plans):
    """The split expression must be computed map-side: the only Exchange
    is the final (source, split) aggregation — no shuffle to decide a
    row's split, no rand()."""
    p = plans("split_train_val")
    assert n_nodes(p, "Exchange") == 1
    assert "rand" not in p


def test_winsorize_broadcasts_percentiles(plans):
    """The 1-row percentile aggregate must broadcast to the clamp — the
    customer scan itself is never shuffled for the join."""
    p = plans("winsorize_acctbal")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_sessionize_single_exchange(plans):
    """Gap sessionization: both windows and both aggregates partition on
    user_id — the whole query must plan exactly ONE shuffle."""
    p = plans("sessionize_by_gap")
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(user_id" in p


def test_mix_weights_dim_broadcasts(plans):
    """Weighted source mixing joins a 20-row weights dim: it must
    broadcast; the corpus scan shuffles only for the report aggregate."""
    p = plans("mix_sources_weighted")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert n_nodes(p, "Exchange") == 1


def test_salted_join_spreads_key(plans):
    """The salted join must actually join on (key, salt): the plan keys
    include _salt and the dimension side carries the explode Generate."""
    p = plans("salted_join_event_nations")
    assert "_salt" in p
    assert "Generate explode" in p or "Generate" in p


def test_q9_three_dims_broadcast_one_fact_shuffle(plans):
    """Q9: part/supplier/nation broadcast; the only SortMergeJoin (if
    any) is lineitem⨝orders — the fact-fact edge."""
    p = plans("q9_product_profit")
    assert n_nodes(p, "BroadcastHashJoin") >= 3
    assert "StringContains(p_name,red)" in p  # LIKE filter reaches the part scan


def test_q14_case_inside_single_aggregate(plans):
    """Q14: numerator and denominator in ONE aggregate over one scan —
    no self-join, and the one-month range reaches the parquet scan."""
    p = plans("q14_promo_revenue")
    assert n_nodes(p, "Scan parquet") == 2  # lineitem + part, each once
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "BroadcastHashJoin" in p


def test_q12_date_range_pushdown(plans):
    p = plans("q12_priority_shipping")
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p
    # two conditional sums, one aggregate: a single pass over the join
    assert n_nodes(p, "HashAggregate") <= 4  # partial+final, no extra pass


def test_q21_single_lineitem_scan(plans):
    """The Q21 EXISTS/NOT-EXISTS rewrite must stay one lineitem pass —
    the textbook correlated form would scan it three times."""
    p = plans("q21_sole_late_suppliers")
    assert n_nodes(p, "Scan parquet") == 3  # lineitem, orders, supplier: once each


def test_top_terms_uses_partial_topk(plans):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), never a global sort Exchange."""
    p = plans("top_terms_corpus")
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_temperature_sample_broadcasts_rates(plans):
    """The data-dependent rate table must broadcast back onto the corpus
    scan — the corpus itself is only shuffled for the report aggregate."""
    p = plans("temperature_sample_langs")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_unpivot_is_row_local(plans):
    """Wide→long melt must stay a row-local Expand over the scan: the
    only Exchange is the single-row-group fan_out round-robin (a no-op
    on real multi-split data) — never a hash shuffle."""
    p = plans("unpivot_quality_metrics")
    assert "Expand" in p
    assert n_nodes(p, "Exchange") == 1
    assert "REPARTITION_BY_NUM" in p and "hashpartitioning" not in p


def test_diff_versions_no_join(plans):
    """Snapshot diff must be the union+groupBy shape — zero Join nodes
    (a full-outer join of wide rows would shuffle both sides' payloads;
    this shuffles (key, md5) only)."""
    p = plans("diff_table_versions")
    assert "Join" not in p
    assert n_nodes(p, "Exchange") == 2  # per-key reduce + status rollup


def test_trailing_window_single_exchange(plans):
    """The RANGE-frame trailing window must be one hash Exchange on
    user_id + one Window — never a global sort."""
    p = plans("trailing_hour_user_stats")
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(user_id" in p
    assert n_nodes(p, "Window") == 1
    assert "rangepartitioning" not in p


def test_event_paths_topk_no_global_sort(plans):
    """Path mining ends in TakeOrderedAndProject (per-partition heap),
    and the ranking window + per-user reassembly share the user_id
    hash partitioning."""
    p = plans("top_event_paths")
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_runtime_bloom_filter_prefilters_fact_side(spark, sf_dir):
    """Runtime bloom-filter join filter — the engine's answer to
    "semi-join pushdown" at 100 TB: a selective dim predicate builds a
    bloom_filter_agg whose might_contain() is injected into the FACT
    scan, cutting shuffle volume before the SortMergeJoin.  Off by
    default locally only because the application side must be ≥10 GB to
    pay for the sketch — this test zeroes that threshold to pin the
    plan shape the 100 TB configuration relies on."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    before = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        p = plan_of(j)
        assert "might_contain" in p, p
        assert "bloom_filter_agg" in p
        # the injected filter must sit on the fact (lineitem) side
        assert "l_orderkey" in p.split("might_contain", 1)[1][:200]
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pack_sequences_single_exchange(plans):
    """Sequence packing is one running-sum window over the per-source
    stream: exactly ONE shuffle (hash by source); pack_id/offset are
    row-local arithmetic on the window output."""
    p = plans("pack_sequences")
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(source" in p


def test_decontaminate_broadcasts_benchmark(plans):
    """The benchmark shingle set must broadcast into a LEFT SEMI join —
    the corpus-side shingle table is never shuffled for the membership
    probe (its only Exchange is the final per-doc aggregate)."""
    p = plans("decontaminate_corpus")
    assert "BroadcastHashJoin" in p
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_scrub_event_props_row_local(plans):
    """Payload scrubbing is a pure map: no Exchange, no join — regex
    masking runs inside the scan's codegen stage."""
    p = plans("scrub_event_props")
    assert "Exchange" not in p
    assert "Join" not in p


def test_tfidf_broadcasts_vocabulary(plans):
    """Per-doc TF-IDF joins the vocabulary df table and the 1-row corpus
    count: both must broadcast — the (doc, term) table never reshuffles
    for them; SortMergeJoin anywhere means the scale design regressed."""
    p = plans("tfidf_top_terms")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_quantize_embeddings_is_map_only(plans):
    """Scalar quantization is a per-row transform: no join, no
    aggregate; the only permissible Exchange is the small-file fan_out
    repartition (absent at real scale)."""
    p = plans("quantize_embeddings")
    assert "Join" not in p
    assert "HashAggregate" not in p
    assert n_nodes(p, "Exchange") <= 1


def test_frame_sample_fans_out_inside_python_kernel(plans):
    """Video frame sampling must expand rows INSIDE the Arrow batch
    kernel (MapInPandas), not via a JVM-side explode — no Exchange, no
    Generate node materializing an exploded intermediate."""
    p = plans("multimodal_frame_sample")
    assert "MapInPandas" in p
    assert "Generate" not in p
    assert n_nodes(p, "Exchange") <= 1


def test_ivf_partitioned_layout_prunes_probe(spark, sf_dir, tmp_path):
    """The IVF scale layout knn_ivf's docstring promises: persist the
    corpus partitioned by cell id, and a query's nprobe probe becomes a
    partition-pruned scan — the plan must carry the cell filter as a
    PartitionFilter (pruning happens at planning, not per row)."""
    vecs = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("features")
    )
    model = lloyd_kmeans(vecs, init_random(vecs, 8, seed=42), max_iter=3)
    assigned = assign_expr(vecs, model.centroids).select("id", "features", "cluster")
    path = str(tmp_path / "ivf_corpus")
    assigned.write.partitionBy("cluster").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("cluster").isin([1, 3]))
    p = plan_of(probe)
    assert "PartitionFilters" in p and "cluster" in p.split("PartitionFilters", 1)[1].split("]")[0]
    n_cells = len([r for r in probe.select("cluster").distinct().collect()])
    assert n_cells <= 2


def test_join_hints_control_physical_strategy(spark, sf_dir):
    """Join-strategy hints — the manual override lever when statistics
    mislead the planner at scale: with broadcast disabled the same
    logical join must plan as SortMergeJoin by default, ShuffledHashJoin
    under a SHUFFLE_HASH hint, and BroadcastHashJoin under a BROADCAST
    hint even below-threshold-disabled."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_orderpriority")

        default = plan_of(li.join(o, li.l_orderkey == o.o_orderkey))
        assert "SortMergeJoin" in default

        hashed = plan_of(li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey))
        assert "ShuffledHashJoin" in hashed

        bcast = plan_of(li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey))
        assert "BroadcastHashJoin" in bcast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_variant_and_json_paths_share_agg_shape(plans):
    """events_variant_stats is the VARIANT twin of events_json_props:
    both must stay single-aggregation scans (partial+final hash agg,
    one Exchange) — the variant path adds no extra stage, it only
    swaps string re-parsing for binary decode."""
    for name in ("events_variant_stats", "events_json_props"):
        p = plans(name)
        assert n_nodes(p, "Exchange") == 1, name
        assert "Join" not in p, name


def test_decontaminate_filters_precede_explode(plans):
    """Both decontamination sides must filter on doc_id % 97 AT THE SCAN
    (DataFilters), before any shingle explode — the benchmark side then
    explodes only its 1/97 slice.  A regression here multiplies the
    exploded row volume ~100x at scale."""
    p = plans("decontaminate_corpus")
    assert "NOT ((doc_id" in p and "% 97) = 0)" in p, "corpus-side slice filter missing"
    filter_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Filter\n(?:.*\n)?Condition : .*% 97\)", p)
    ]
    generate_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Generate", p)]
    assert len(filter_ids) == 2, f"expected both sides filtered, got nodes {filter_ids}"
    assert generate_ids and min(generate_ids) > min(filter_ids), (
        f"explode (Generate {generate_ids}) must sit above the slice filters {filter_ids}"
    )


def test_rebalance_hint_plans_aqe_rebalance(spark, sf_dir):
    """The REBALANCE hint — the writer-side answer to small-file output
    at scale: it must plan an AQE-managed rebalance exchange
    (REBALANCE_PARTITIONS_BY_COL origin), not a plain fixed-partition
    repartition."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = plan_of(li.hint("rebalance", "l_orderkey"))
    assert "REBALANCE_PARTITIONS_BY_COL" in p


def test_simhash_banded_no_cartesian(plans):
    """The banded SimHash pair search must plan as a (band, slice)
    equi-join — never a CartesianProduct / BroadcastNestedLoopJoin, which
    is exactly the n² scan the banding exists to avoid.  (The brute-force
    simhash_pairs keeps its cross join deliberately: it is the bounded
    oracle measure.)"""
    p = plans("dedup_simhash_banded")
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 0
    assert "Join" in p  # candidates come from a real equi-join


def test_embedding_bucketed_no_cartesian(plans):
    """Bucketed embedding near-dup: candidate generation and cosine
    verification must both be equi-joins (signature buckets, then id
    joins back to vectors) — no all-pairs operator anywhere."""
    p = plans("dedup_embedding_bucketed")
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 0


def test_incremental_dedup_no_cartesian(plans):
    """Incremental batch-vs-corpus dedup: the exact tier is a semi-join
    on md5 keys, candidates come from the batch-vs-corpus (band, bucket)
    equi-join, and verification joins candidates back on doc_id — no
    all-pairs operator anywhere, and in particular no corpus self-join."""
    p = plans("dedup_incremental")
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 0


def test_semantic_cells_no_cartesian(plans):
    """SemDeDup cells: the assignment is a literal fold (no join) and the
    pair search an equi-join on cell — no all-pairs operator anywhere."""
    p = plans("dedup_semantic_cells")
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 0


def test_unigram_logprob_broadcasts_vocab(plans):
    """The unigram model join must broadcast the vocabulary — the corpus
    token stream (the 100 TB side) never shuffles for the model lookup."""
    p = plans("text_unigram_logprob")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_zorder_curve_is_map_only(plans):
    """The Z-order key is pure per-row bit math — zero Exchange, zero
    Join; at scale it rides the write path as sortWithinPartitions."""
    p = plans("zorder_events_curve")
    assert "Exchange" not in p
    assert "Join" not in p


def test_truncate_renorm_is_map_only(plans):
    # the only Exchange allowed is the fixture fan_out round-robin (the
    # test parquet is a single row-group); no data-keyed shuffle.
    p = plans("embedding_truncate_renorm")
    assert "Exchange hashpartitioning" not in p
    assert "Exchange SinglePartition" not in p
    assert "Join" not in p


def test_repetition_scores_is_map_only(plans):
    p = plans("text_repetition_scores")
    assert "Exchange hashpartitioning" not in p
    assert "Exchange SinglePartition" not in p
    assert "Join" not in p


def test_shuffle_shards_single_exchange(plans):
    """The sharded permutation = one hash partitioning by shard (the
    window) — a global row_number (single-partition sort) must never
    appear."""
    p = plans("shuffle_shards")
    assert n_nodes(p, "Exchange") == 1
    assert "SinglePartition" not in p


def test_knn_pq_join_free(plans):
    """PQ ADC is a pure map over one corpus scan: codebooks and per-query
    distance tables are plan literals, encode is a per-subspace argmin
    fold, scoring explodes the literal query array — NO join anywhere,
    one parquet scan, and the only data-sized shuffle is the per-query
    top-k window."""
    p = plans("knn_pq")
    assert n_nodes(p, "Join") == 0
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "Scan parquet") == 1


def test_pii_redact_is_map_only(plans):
    """PII redaction is a pure map over the documents scan: plant,
    count, redact are all row-local regex expressions — no Exchange, no
    Join, text+doc_id the only columns read."""
    p = plans("pii_redact_docs")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_langid_confusion_single_agg_no_join(plans):
    """The calibration matrix inlines the prediction next to the label:
    one partial-aggregated groupBy, no join, lang+text+doc_id... only
    the label and text columns read."""
    p = plans("langid_confusion")
    assert "Join" not in p
    # two exchanges: the agg's hashpartitioning plus _docs' round-robin
    # fan_out (input-parallelism guard, a no-op on well-partitioned
    # real input) — nothing else
    assert n_nodes(p, "Exchange") == 2
    assert p.count("RoundRobinPartitioning") == 1
    assert "ReadSchema: struct<text:string,lang:string>" in p


def test_tokenizer_bigrams_top_k_no_global_sort(plans):
    """Merge-pair counting must end in TakeOrderedAndProject (local
    top-k + driver merge), never a global sort shuffle."""
    p = plans("tokenizer_fit_bigrams")
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p
    # the pair-count groupBy plus _docs' round-robin fan_out guard only
    assert n_nodes(p, "Exchange") == 2
    assert p.count("RoundRobinPartitioning") == 1


def test_boilerplate_single_scan_no_join(plans):
    """The boilerplate audit reads the corpus ONCE: the shingle
    doc-frequency is an inline count() window, so the plan is
    scan → explode → window shuffle → per-doc agg — no join, no
    second scan."""
    p = plans("boilerplate_spans")
    assert n_nodes(p, "Scan parquet") == 1
    assert "Join" not in p
    assert n_nodes(p, "Window") == 1


def test_bpe_trainer_broadcast_only_joins(plans):
    """The iterative one-DAG BPE trainer: every learned-merge join is a
    broadcast of a 1-row side (never a shuffled join of the corpus),
    top-merge selection is TakeOrderedAndProject (no global sort), and
    no unbounded cartesian appears.  Round r nests all earlier rounds,
    so the corpus scan count grows with rounds — the documented trade
    a per-round checkpoint flattens at scale."""
    p = plans("bpe_train_merges")
    assert n_nodes(p, "SortMergeJoin") == 0
    assert n_nodes(p, "ShuffledHashJoin") == 0
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "TakeOrderedAndProject") >= 3  # one top-1 per round
    assert n_nodes(p, "BroadcastNestedLoopJoin") >= 1  # the 1-row merge feeds


def test_incremental_from_store_scans_store_only(spark, sf_dir, tmp_path):
    """The store-backed admission query must touch ONLY the persisted
    signature store on the corpus side: digests, banded signatures, and
    verify shingles all come from store tables; the corpus parquet
    appears nowhere in the plan (the batch arrives from its own
    source).  This is the per-micro-batch plan streaming_ingest_dedup
    runs — corpus text is never re-read, never re-shingled."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store = str(tmp_path / "sig_store")
    build_signature_store(docs.filter("doc_id % 10 != 7"), store)
    batch_path = str(tmp_path / "incoming")
    docs.filter("doc_id % 10 = 7").write.parquet(batch_path)

    q = incremental_dedup_from_store(spark.read.parquet(batch_path), store)
    p = plan_of(q)
    assert "documents.parquet" not in p
    for table in ("md5", "bands", "shingles"):
        assert f"sig_store/{table}" in p, f"store table {table} not scanned"
    assert "incoming" in p


def test_round5_ops_no_quadratic_joins(plans):
    """The round-5 additions must keep their linear join shapes: no
    CartesianProduct anywhere; the only nested-loop joins allowed are
    broadcast one-row/tiny-side forms (the crossJoin(broadcast(tot))
    pattern and the sampled-silhouette distance build)."""
    for name in (
        "span_scrub_docs",
        "minhash_estimate_audit",
        "welch_ttest_langs",
        "cusum_changepoints",
        "holt_linear_daily",
        "silhouette_sampled",
        "hll_portable_registers",
        "median_polish_cells",
        "neighbor_jaccard_edges",
        "pipe_syntax_priority_revenue",
        "lateral_top2_lineitems",
        "power_iteration_pc1",
        "wav_frame_energy",
    ):
        p = plans(name)
        assert "CartesianProduct" not in p, name
    # the gram/signature equi-joins must never degrade to nested loops
    for name in ("span_scrub_docs", "minhash_estimate_audit"):
        assert "BroadcastNestedLoopJoin" not in plans(name), name


def test_ipf_lineage_truncated(plans):
    """IPF's per-round localCheckpoint must keep the final plan flat:
    without it the 6 scaling steps re-derive each other into a
    1000-Exchange plan (measured before the fix)."""
    p = plans("ipf_raking")
    assert p.count("Exchange") == 0, p.count("Exchange")


def test_holt_is_two_aggregations_no_join(plans):
    """Daily partial agg + per-type fold: no join anywhere, and the
    corpus-sized pass is the FIRST aggregation only."""
    p = plans("holt_linear_daily")
    assert "Join" not in p
    assert p.count("Exchange") <= 4


def _repo_greens() -> dict[str, int]:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return registry.latest_green_rounds(root)


def test_window_schedule_regression():
    """queries() is the ordering rule applied to the artifacts on disk:
    the key set is the oracle set, and the order is a fixed point of the
    never-verified-first, oldest-green-next sort."""
    names = list(registry.QUERIES)
    assert set(names) == set(registry.ORACLES)
    assert registry.window_order(names, _repo_greens()) == names


def test_window_order_rule_synthetic():
    """The rule on a synthetic green map: never-verified names head the
    list in registry order, then verified ones oldest green first, ties
    in registry order."""
    names = ["a", "b", "c", "d", "e", "f"]
    green = {"a": 3, "c": 1, "e": 3, "f": 2, "zz": 1}
    assert registry.window_order(names, green) == ["b", "d", "c", "f", "a", "e"]
    assert registry.window_order(names, {}) == names


def test_latest_green_rounds_scan(tmp_path):
    """One scan of CORRECTNESS_rNN.json: hash matches and completed
    rows-only runs are green, failures are not, the latest round wins,
    and an unreadable or misnamed artifact is skipped."""
    def art(name, rows):
        (tmp_path / name).write_text(json.dumps(rows))

    art("CORRECTNESS_r01.json", {
        "old": {"hash_match": True},
        "rows_only": {"err": "no_oracle", "spark_rows": 4},
        "later_failed": {"hash_match": True},
        "note": "not a row",
    })
    art("CORRECTNESS_r03.json", {
        "old": {"hash_match": True},
        "later_failed": {"hash_match": False, "err": "hash"},
        "crashed": {"err": "no_oracle", "spark_rows": None},
    })
    (tmp_path / "CORRECTNESS_r04.json").write_text("{truncated")
    art("CORRECTNESS_r05_draft.json", {"old": {"hash_match": True}})
    assert registry.latest_green_rounds(str(tmp_path)) == {
        "old": 3,
        "rows_only": 1,
        "later_failed": 1,
    }


def test_window_staleness_sweep():
    """The verified tier is ordered oldest-green-round first, so the
    window's leftover slots re-verify the stalest rows every round.

    Invariants:
      1. verified tier sorted non-decreasing by latest green round;
      2. every leftover window slot holds the globally stalest greens
         (no fresher green precedes a staler one into the window);
      3. bounded max staleness: with U = unverified head size < 50,
         each round recycles 50 - U greens, so a full pass over G
         greens takes ceil(G / (50 - U)) rounds.
    """
    names = list(registry.QUERIES)
    green = _repo_greens()
    verified = [n for n in names if green.get(n, 0) > 0]
    rounds = [green[n] for n in verified]
    assert rounds == sorted(rounds), "verified tier not oldest-first"
    unverified_head = len(names) - len(verified)
    window_greens = [n for n in names[:50] if green.get(n, 0) > 0]
    if window_greens:
        newest_in_window = max(green[n] for n in window_greens)
        outside = [green[n] for n in names[50:] if green.get(n, 0) > 0]
        assert all(r >= newest_in_window for r in outside), (
            "a staler green sits outside the window while a fresher one "
            "occupies a recycle slot"
        )
    if unverified_head < 50:
        per_round = 50 - unverified_head
        bound = math.ceil(len(verified) / per_round)
        assert bound <= 9, (
            f"max-staleness bound {bound} rounds — registry grew past "
            "what the recycle cadence can re-verify; widen the window "
            "share or prune"
        )
    # the steady-state bound — the full-registry sweep cadence once
    # every entry holds a green row (all 50 slots recycle) — must stay
    # within one sweep per ~7 rounds.
    steady = math.ceil(len(names) / 50)
    assert steady <= 7, (
        f"steady-state sweep bound {steady} rounds — cap registry "
        "growth or widen the window"
    )


def test_round7_graph_ops_no_cartesian(plans):
    """Adamic-Adar and the per-node clustering coefficient must build
    all candidates from equi-joins (shared-neighbor key / canonical
    edge orientation) — an all-pairs operator anywhere would be the n²
    scan both are designed to avoid at 100 TB."""
    for name in ("adamic_adar_links", "clustering_coefficient_nodes"):
        p = plans(name)
        assert n_nodes(p, "CartesianProduct") == 0, name
        assert n_nodes(p, "BroadcastNestedLoopJoin") == 0, name


def test_stupid_backoff_broadcasts_model_grid(plans):
    """The backoff grid (top bigrams x top unigrams, 100 rows) and its
    count lookups must plan as broadcast joins against the corpus-sized
    count tables — shipping the small side, never shuffling the model
    tables by grid keys."""
    p = plans("stupid_backoff_trigrams")
    assert n_nodes(p, "BroadcastHashJoin") >= 2
    assert n_nodes(p, "CartesianProduct") == 0


def test_umass_co_counts_single_exchange_to_pairs(plans):
    """The rebuilt umass co-occurrence stage: the (doc, tid) self-join
    feeds a partial-aggregated count — the plan must carry a hash
    aggregate ABOVE the join and no all-pairs operator; the decode
    joins broadcast."""
    p = plans("umass_topic_coherence")
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(p, "BroadcastHashJoin") >= 2


def test_rank_passes_are_range_partitioned(plans):
    """Round-8 (verdict item 6): the Gini / concentration rank passes
    run as the range-partitioned prefix-sum — sort parallelism follows
    num_parts — never a low-cardinality window that sorts a nation's
    (or the whole table's) rows in one task."""
    for name in ("gini_spend_nations", "concentration_spend"):
        p = plans(name)
        # prefix_sum's checkpoint truncates lineage, so its range
        # shuffle predates the visible plan; the markers are the
        # per-_pid local cumsum window and NO all-to-one sort exchange
        assert "hashpartitioning(_pid" in p, name
        assert "Exchange SinglePartition" not in p, name


def test_round8_ops_bounded_join_shapes(plans):
    """Round-8 stats ops: no CartesianProduct anywhere, and every
    nested-loop join is bounded by construction — a broadcast of a
    1-row aggregate, the calendar-bounded day-grain pair step
    (Mann-Kendall: rows grow with DAYS, not data), or the
    domain-bounded <=550-cell contingency grid (tau-b) — never a
    data-grain all-pairs scan.  The caps pin today's exact counts so
    a refactor that adds an unbounded NL join fails loudly."""
    caps = {
        "theil_u_lang_source": 2,
        # round 10: +1 for the broadcast 1-row tie-sum aggregate the
        # midrank tie-corrected variance folds in, +1 for the in-plan
        # complete-blocks guard aggregate (both 1-row broadcasts);
        # round 13: +1 for the k×k treatment-rank pair join that
        # replaced the unpartitioned row_number window (k = distinct
        # event types — bounded by construction)
        "page_trend_event_dow": 4,
        "mann_kendall_daily": 3,
        "ljung_box_daily": 2,
        "permutation_entropy_daily": 2,
        "lorenz_spend_deciles": 1,
        "log_odds_terms_langs": 1,
        "kendall_tau_grid_qty_disc": 4,
        "hypergeom_enrichment_sources": 1,
    }
    for name, cap in caps.items():
        p = plans(name)
        assert n_nodes(p, "CartesianProduct") == 0, name
        assert n_nodes(p, "BroadcastNestedLoopJoin") <= cap, name


def test_lorenz_rank_is_range_partitioned(plans):
    """lorenz_spend_deciles ranks customers via the range-partitioned
    prefix-sum (the gini/concentration pattern) — the per-_pid local
    cumsum must be visible and no all-to-one exchange may appear; the
    only ordered window runs at DECILE grain (10 rows)."""
    p = plans("lorenz_spend_deciles")
    assert "hashpartitioning(_pid" in p
    assert "Exchange SinglePartition" not in p


def test_recursive_cte_bfs_steering_marker():
    """Round-8 (verdict item 5): the SQL-exhibit status and the
    bfs_levels steering live in the operator docstring, not only in
    BENCH_NOTES."""
    doc = recursive_cte_bfs.__doc__
    assert "bfs_levels" in doc
    assert "EXHIBIT" in doc.upper()


# ---------------------------------------------------------------------
# Round-9 (verdict item 4): the unpartitioned-WindowExec sweep.  A bare
# Window.orderBy() moves EVERY input row into one task — the classic
# hidden scale-killer this repo spent rounds 7-9 draining (gini,
# concentration, mannwhitney, mood_median, pr_curve, rfm, zonemap,
# umass, zipf).  This test walks every headline query's optimized plan
# and fails if an unpartitioned Window appears over an input that is
# not limit-bounded, unless the query is explicitly allowlisted below
# with its bounded grain.  Re-introducing the anti-pattern (e.g.
# reverting mannwhitney to its round-6 global rank) fails here.

# queries allowed to keep an unpartitioned Window, each over a
# cardinality-bounded input a 100x corpus cannot grow:
_BOUNDED_WINDOW_OK = {
    # day-grain daily series (calendar-bounded: rows = distinct days)
    # (acf_daily_events left this list in round 13: its lag pairing now
    # joins on calendar arithmetic — no window at all)
    "cusum_changepoints",
    "ljung_box_daily",
    # nation-grain (25-row dimension)
    "bh_fdr_nation_acctbal",
    # decile-grain cumulative shares (10 rows; the customer-grain rank
    # below it is already a range-partitioned prefix_sum)
    "lorenz_spend_deciles",
    # p_size-domain suffix-min (TPC-H sizes: 50 distinct values)
    "pareto_front_parts",
}


def _unbounded_global_windows(df):
    """Unpartitioned Window nodes whose child chain has no Limit —
    i.e. global sorts whose input grows with the corpus.  (Spark's
    LimitPushDownThroughWindow turns rank()<=k filters into
    GlobalLimit-under-Window = TakeOrderedAndProject + a k-row window,
    which is the scale-safe top-k shape and is NOT flagged.)"""

    def bounded_below(node):
        name = node.getClass().getSimpleName()
        if name in ("GlobalLimit", "LocalLimit"):
            return True
        if node.children().size() != 1:
            return False
        return bounded_below(node.children().apply(0))

    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "Window" and node.partitionSpec().isEmpty():
            if not bounded_below(node.children().apply(0)):
                out.append(str(node.windowExpressions().head())[:90])
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def test_headline_no_unbounded_global_windows(spark, sf_dir):
    flagged = {}
    for name in bench.HEADLINE:
        df = registry.QUERIES[name](spark, sf_dir)
        w = _unbounded_global_windows(df)
        if w:
            flagged[name] = w
    offenders = {n: w for n, w in flagged.items() if n not in _BOUNDED_WINDOW_OK}
    assert not offenders, (
        "unpartitioned Window over non-limit-bounded input (single-task "
        f"global sort at scale): {offenders}"
    )
    # keep the allowlist honest: an entry whose window disappeared no
    # longer needs the exemption
    stale = _BOUNDED_WINDOW_OK - set(flagged)
    assert not stale, f"allowlist entries without a global window: {stale}"
