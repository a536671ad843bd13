"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the contract JSON line LAST on stdout:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "n_queries": N, "sf": "...", "loadavg_1min": L, "contaminated": bool,
   "full_record": "BENCH_LOCAL_rNN.json"}
where ``full_record`` is present only when this run wrote that file: a
contaminated run leaves a quiet record of the same round in place.
The full-precision per-query timing map lives in the BENCH_LOCAL_r*.json
full record — the driver's stdout pipe clipped the long single line
three times (BENCH_r04/r06/r07 "parsed": null), so the map never rides
ONE line again.  Round 13 restores driver-side per-query visibility
(round-12 PERF had per_query: {} and a null geomean) with CHUNKED
stdout lines printed BEFORE the contract line, each well under the
~2000-char clip and self-describing:
  {"metric": "headline_queries_part", "part": i, "of": k,
   "queries": {"name": 0.01-rounded sec, ...}}
A parser that reads only the last line sees the unchanged contract
line; a parser that reads all lines can reassemble the full map.

Round 13 also acts on the loadavg it has recorded since round 8: a run
whose 1-min loadavg at start exceeds 1.0 is stamped
"contaminated": true in both the stdout line and the full record, so a
load-burst run can never silently become a cross-round-comparable
number (the round-11 and round-12 verdicts both traced bogus
round-over-round regressions to exactly this).

Each query is forced end-to-end with the noop sink (full execution, no
driver-side result transfer) so the timing measures the plan, not
collect().

Timing protocol: two untimed warm-up executions per query, then the
timed run.  The warm-ups absorb one-time JVM costs (Janino whole-stage
codegen compilation, HotSpot JIT of the generated classes — empirically
2-3 executions to steady state) that dominate at sf0.1 scale but are
irrelevant amortized noise on a long-running cluster; the timed number
is steady-state throughput of the physical plan.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from k_means_hadoop_spark import registry
from k_means_hadoop_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship iterative query + one representative per
# operator family (scan/agg, join+topN, snowflake join, window, dedup
# exact + LSH, text, similarity).
HEADLINE = [
    "kmeans_lloyd",
    "j2_assign_expr",
    "a7_jaccard",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "window_top_orders",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_scores",
    "text_simhash",
    "knn_bruteforce",
    "asof_join_purchase_click",
    "session_windows_events",
    "q17_small_qty_revenue",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "dedup_minhash_verified",
    "pack_sequences",
    "quantize_embeddings",
    "tfidf_top_terms",
    "decontaminate_corpus",
    "prepare_corpus",
    # round 2: heaviest previously-unbenched families — iterative graph
    # (connected components), the full near-dup audit join, the deepest
    # TPC-H snowflake, two streaming drains (stateful agg + watermarked
    # window), and the banded/bucketed LSH scale paths.
    "dedup_components",
    "leakage_audit",
    "q9_product_profit",
    "streaming_window_stats",
    "streaming_stateful_totals",
    "dedup_simhash_banded",
    "dedup_embedding_bucketed",
    # the flagship curation composition + the newest pipeline operators
    "curate_corpus_full",
    "dedup_semantic_cells",
    "text_unigram_logprob",
    "shuffle_shards",
    # round 2b: incremental ingestion dedup (batch-vs-corpus LSH) and the
    # model-based quality filter (train on labeled slice, closed-form
    # sigmoid scoring pass over the corpus)
    "dedup_incremental",
    "quality_classifier",
    "ingest_increment",
    "knn_pq_rerank",
    # round 3: PII redaction (pure regex map), boilerplate df-cut audit,
    # BPE merge-pair counting (all-occurrence explode + distributed
    # top-k), and the language-ID calibration matrix (joinless).
    "pii_redact_docs",
    "curate_corpus_release",
    "boilerplate_spans",
    "tokenizer_fit_bigrams",
    "bpe_train_merges",
    "langid_confusion",
    # round 4: the store-backed admission query (the per-micro-batch
    # plan), the BPE apply-side compression, the corpus dataset card,
    # and the IVF ANN tier (sample-trained quantizer + pruned probes).
    "dedup_incremental_stored",
    "bpe_compression",
    "dataset_card",
    "knn_ivf",
    # round 4b: the Gopher rule gate (map-only corpus scan), bigram LM
    # scoring (corpus model + broadcast joins), MATCH_RECOGNIZE-style
    # funnel counting (one user partition), and the combined IVF+PQ tier.
    "gopher_quality_gate",
    "text_bigram_logprob",
    "event_funnel_pattern",
    "knn_ivf_pq",
    # round 4c: cohort retention (distinct-day reduction + join),
    # PageRank (iterative rank joins), and the retrieval stack's
    # lexical + hybrid tiers.
    "retention_cohorts",
    "pagerank_copurchase",
    "bm25_search",
    "hybrid_retrieval",
    # round 4d: one-scan statistics (corr matrix / OLS — the minimal
    # moment-reduce plans), the window skyline, graph analytics
    # (triangles + label propagation), the PPJoin prefix filter vs the
    # inverted index it must match, the all-pairs silhouette, and the
    # curriculum/PMI corpus passes.
    "corr_matrix_lineitem",
    "ols_price_model",
    "pareto_front_parts",
    "triangle_count_parts",
    "label_prop_communities",
    "dedup_prefix_filter",
    "silhouette_by_cluster",
    "curriculum_schedule",
    "pmi_bigrams",
    "ab_conversion_lift",
    # round 4d later batch: the exact ranking metrics (histogram
    # rank-sum AUC + Spearman over prefix-sum ranks), the three-verb
    # MERGE, and the value-oracle Count-Min.
    "auc_quality_vs_gopher",
    "spearman_quality_logprob",
    "merge_apply_changelog",
    "cms_event_counts",
    # round 5: the sampled silhouette (the O(m·k·n) scale path), the
    # cross-batch MinHash store merge, the sub-document span scrub, the
    # sketch-calibration audit, and the two closed-form stats passes.
    "silhouette_sampled",
    "streaming_minhash_store",
    "span_scrub_docs",
    "minhash_estimate_audit",
    "welch_ttest_langs",
    "cusum_changepoints",
    # round 6: the zone-map layout audit (the file-skipping economics),
    # the Apriori triple join, gaps-and-islands streaks, the exact-
    # integer ACF, the BH multiple-testing pass, HITS (iterative
    # decimal-stabilized joins), resource-allocation link prediction,
    # and the explode-heavy readability scan.
    "zonemap_prune_audit",
    "market_basket_triples",
    "streaks_active_users",
    "acf_daily_events",
    "bh_fdr_nation_acctbal",
    "hits_copurchase",
    "resource_allocation_links",
    "readability_scores",
    # round 7: the two re-flagged perf targets (now one-rank-pass /
    # single-materialization forms), the float-path eigensolve, and the
    # new operator families — inequality/association stats, LM backoff,
    # the CART stump's prefix-sum split scan, log-weighted link
    # prediction, per-node triangle credit, the streaming exact top-k
    # merge, and the frame-grain real-PCM decode.
    "umass_topic_coherence",
    "quantile_normalize_scores",
    "power_iteration_pc1_float",
    "gini_spend_nations",
    "stupid_backoff_trigrams",
    "decision_stump_quality",
    "adamic_adar_links",
    "clustering_coefficient_nodes",
    "streaming_topk_users",
    "wav_frame_zero_crossings",
    "png_decode_stats",
    # round 8: the fourth real codec (GIF/LZW roundtrip), the
    # contingency-grid tau (domain-bounded pair step), the term-grain
    # log-odds sweep with a TakeOrdered top-k, the prefix-sum Lorenz
    # deciles, and the exact-rational Ljung-Box portmanteau.
    "gif_decode_stats",
    "jpeg_decode_stats",
    "kendall_tau_grid_qty_disc",
    "log_odds_terms_langs",
    "lorenz_spend_deciles",
    "ljung_box_daily",
    # round 9: the ISO-BMFF container roundtrip (the sixth in-repo
    # format) and the heaviest global-window rewrite (prefix-sum ntile
    # over customers; its raw-lineitem sibling zonemap_prune_audit is
    # benched above) so the fixed-cost-for-parallel-sort trade stays
    # visible round to round.
    "mp4_container_stats",
    "rfm_segments",
    "fmp4_fragment_stats",
    # round 10: the Matroska/WebM EBML container roundtrip (streaming
    # containers two-for-two next to MP4/fMP4), the exact edit-distance
    # near-dup verifier (threshold levenshtein over length-banded
    # candidates), and the Ogg container walk (the first with a REAL
    # verified checksum layer: per-page CRC-32)
    "mkv_container_stats",
    "dedup_edit_distance",
    "ogg_container_stats",
    # round 11: the ZIP archive roundtrip (the ninth in-repo format,
    # reflected CRC-32 verification) and the LSH→levenshtein dedup
    # composition (the 100 TB shape of the edit-distance tier).  The
    # zonemap entry above now runs on prefix_sum_literal_bounds, so its
    # round-to-round timing tracks the recompute-safe variant.
    "zip_container_stats",
    "dedup_edit_verified",
    "gzip_member_stats",
    "warc_ingest_stats",
    "tar_archive_stats",
]


def run_query(spark, name: str, sf_dir: str) -> float:
    fn = registry.QUERIES[name]
    for _ in range(2):  # warm-ups (codegen compile + JIT)
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    # min of 3 timed runs: transient machine load (e.g. a test suite's JVM
    # winding down) can inflate a single run several-fold
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return best


def compare_with_prior(here: str, this_round: int, timings: dict) -> dict | None:
    """This run against the newest earlier full record,
    BENCH_LOCAL_rNN.json with NN < this_round, over the queries both
    timed.  The headline set grows round over round, so the totals are
    restricted to the shared names, and the prior record's load stamp
    is carried along.  None when no readable record exists or it shares
    no query."""
    records = sorted(
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(here, "BENCH_LOCAL_r*.json"))
        for m in [re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", os.path.basename(p))]
        if m and int(m.group(1)) < this_round
    )
    if not records:
        return None
    path = records[-1][1]
    try:
        with open(path) as f:
            prior = json.load(f)
        prior_q = prior.get("queries") or {}
    except (OSError, ValueError, AttributeError):
        return None
    shared = sorted(set(prior_q) & set(timings))
    if not shared:
        return None
    return {
        "record": os.path.basename(path),
        "n_queries": len(shared),
        "this_run": round(sum(timings[n] for n in shared), 3),
        "prior_run": round(sum(prior_q[n] for n in shared), 3),
        "prior_contaminated": bool(prior.get("contaminated")),
    }


def write_full_record(path: str, record: dict) -> bool:
    """Write the full record to ``path``; True when written.  A
    contaminated run never replaces a record of the same round stamped
    ``contaminated: false`` — the quiet numbers are the comparable ones."""
    if record["contaminated"]:
        try:
            with open(path) as f:
                if json.load(f).get("contaminated") is False:
                    return False
        except (OSError, ValueError, AttributeError):
            pass
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return True


def main() -> None:
    # --only name1 name2 ...: bench a subset in THIS fresh process — the
    # isolation protocol for disambiguating in-run interference (a long
    # multi-query run inflates later queries via JVM/GC pressure; an
    # isolated re-run of the same query shows its true steady state).
    names = HEADLINE
    # explicit flag, NOT object identity on the query list: a future
    # refactor that copies the list would silently stop persisting the
    # BENCH_LOCAL_r*.json artifact (round-7 ADVICE item)
    is_subset = False
    if len(sys.argv) > 1 and sys.argv[1] == "--only":
        is_subset = True
        names = sys.argv[2:]
        if not names:
            sys.exit("bench.py --only requires at least one query name")
        unknown = [n for n in names if n not in registry.QUERIES]
        if unknown:
            sys.exit(f"bench.py --only: unknown queries {unknown}")
    spark = get_spark("bench")
    # co-tenant load poisoned BENCH_LOCAL_r08's cross-round deltas
    # (~25% uniform inflation under loadavg 5-8, see BENCH_NOTES.md);
    # record the box's load before and after so every future artifact
    # carries its own quiet/loaded evidence (round-8 verdict item 5)
    load_before = [round(x, 2) for x in os.getloadavg()]
    # one warm-up scan so JVM/codegen startup doesn't pollute query 1
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    timings: dict[str, float] = {}
    for name in names:
        timings[name] = round(run_query(spark, name, SF_DIR), 3)
        if is_subset:
            # --only is the isolation protocol: surface each query's
            # number on stderr as it lands (stdout stays the one-line
            # contract; subset runs write no BENCH_LOCAL artifact)
            print(f"[only] {name}: {timings[name]}", file=sys.stderr, flush=True)
    total = round(sum(timings.values()), 3)
    here = os.path.dirname(os.path.abspath(__file__))
    # Round number for the local artifact: one past the newest driver
    # BENCH file.  The driver's round-N sequence is: correctness gate ->
    # bench run -> write BENCH_rN.json, so at driver-bench time files
    # r1..r(N-1) exist and this yields N — the driver's own numbering.
    # (Rounds <= 7 keyed off CORRECTNESS_r*.json, which the driver
    # writes BEFORE the bench run, so those local artifacts ran one
    # ahead: round 7's record landed in BENCH_LOCAL_r08.json.  See
    # BENCH_NOTES.md "artifact numbering".)
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        for m in [re.search(r"BENCH_r(\d+)", p)]
        if m
    ]
    this_round = (max(rounds) + 1) if rounds else 0
    vs_prior = compare_with_prior(here, this_round, timings)
    # Contamination stamp (round-13, verdict item 1): a 1-min loadavg
    # above 1.0 at start means another workload owned part of the box —
    # the record is still written unless it would replace a quiet record
    # of the same round, and every artifact carries the stamp so no
    # comparison can use it silently.
    contaminated = load_before[0] > 1.0
    full_record = {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "vs_prior": vs_prior,
                "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
                "contaminated": contaminated,
                "loadavg_before": load_before,
                "loadavg_after": [round(x, 2) for x in os.getloadavg()],
                "notes": {
                    "protocol": (
                        "per query: 2 untimed warm-ups (codegen+JIT), then "
                        "min of 3 timed runs in one JVM; `python bench.py "
                        "--only <names>` re-benches a subset in a fresh "
                        "process for isolation (see BENCH_NOTES.md for the "
                        "round-2 regression disambiguation)"
                    ),
                    "known_skip": (
                        "pytest skips transformWithStateInPandas "
                        "(tests/test_pca_streaming_multimodal.py): "
                        "google.protobuf is not installed in this container "
                        "and installs are disallowed; the registry surfaces "
                        "the gate as the streaming_tws_user_stats capability "
                        "row, and the applyInPandasWithState sibling covers "
                        "the stateful path"
                    ),
                },
    }
    # The driver captures stdout through a pipe that clipped long lines
    # THREE times (BENCH_r04/r06/r07: "parsed": null — the per-query map
    # pushed the line past the ~2000-char clip).  The contract line
    # therefore carries only the small fields (~200 bytes, unclippable)
    # and is printed LAST; the per-query map rides stdout as CHUNKED
    # part-lines before it (round-13, verdict item 2), each ~1 KB —
    # under the clip individually — with 0.01-s-rounded values.  The
    # full-precision map stays in the BENCH_LOCAL_r*.json full record.
    line = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": full_record["sf"],
        "loadavg_1min": load_before[0],
        "contaminated": contaminated,
    }
    local_path = os.path.join(here, f"BENCH_LOCAL_r{this_round:02d}.json")
    if not is_subset:  # --only subset runs must not clobber the artifact
        if write_full_record(local_path, full_record):
            line["full_record"] = os.path.basename(local_path)
        chunk_names = sorted(timings)
        per_chunk = 28  # ~30 bytes/entry -> ~900-byte lines
        parts = [
            {n: round(timings[n], 2) for n in chunk_names[i : i + per_chunk]}
            for i in range(0, len(chunk_names), per_chunk)
        ]
        for i, p in enumerate(parts, 1):
            print(
                json.dumps(
                    {
                        "metric": "headline_queries_part",
                        "part": i,
                        "of": len(parts),
                        "queries": p,
                    },
                    separators=(",", ":"),
                ),
                flush=True,
            )
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
