"""Dump `explain("formatted")` physical plans for the headline queries
into EXPLAINS.md — the reviewable record that each plan is the one we
WANT (broadcasts where intended, pushed filters, pruned scans, no
scale-killer joins), not just the first one that passed.

Complements the mechanical guards (tests/test_plan_guards.py,
tests/test_pushdown_guards.py): the guards pin the invariants; this
artifact lets a human read the actual operator tree per query.

    python tools/explain_audit.py            # writes EXPLAINS.md
    python tools/explain_audit.py --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Curated one-line "what to read for" notes, per query. Every
# registered non-streaming query gets a section (completeness is
# asserted at generation time and pinned by tests/test_rotation.py's
# EXPLAINS freshness check); queries without a curated note get a
# default pointer to their SCALE_SUMMARY row.
HEADLINERS = [
    ("pricing_summary", "scan pushdown + partial aggregation"),
    ("ticker_sync_changes", "full sync pipeline: one anti-join + one rarest-gram probe join"),
    ("rename_detection", "rarest-gram needle probe join (no nested loop)"),
    ("scd1_merge", "SCD-1 conditional merge as left join + when-chains"),
    ("ohlc_daily", "date-bucketed aggregation"),
    ("moving_avg", "per-key ordered window"),
    ("sessionize_events", "lag + running-sum sessionization window"),
    ("asof_join_clicks", "union + carry-forward as-of join (no range explosion)"),
    ("range_join_binned", "keyless range join via hour-bin hash join"),
    ("dedup_bucket_prefilter", "broadcast digest prefilter + exact anti-join"),
    ("minhash_lsh_pairs", "banded LSH signature equi-join"),
    ("minhash_incremental", "batch-vs-store LSH index probe"),
    ("json_snapshot_latest", "dated snapshot read, data-borne latest selection"),
    ("ngram_jaccard_pairs", "prefix-filtered (PPJoin) candidate join"),
    ("decontaminate", "broadcast benchmark shingles vs corpus"),
    ("cosine_topk", "broadcast bounded query set, corpus never shuffles"),
    ("ivf_topk", "centroid-cell candidate equi-join"),
    ("token_budget_sample", "lane-partitioned cumulative-sum window"),
    ("event_cube", "CUBE grouping sets in one shuffle"),
    ("dup_span_fraction", "xxhash candidate agg + string-verified dup spans"),
    ("heavy_shingles", "heavy-bucket candidates + broadcast exact recount"),
    ("bucketed_join", "exchange-free SMJ over bucketed fact tables"),
    ("bm25_scores", "term-filtered scan; df + top-k share one term exchange"),
    ("audio_decode", "narrow Arrow mapInPandas codec pipeline"),
    ("embedding_stats", "total QA scan with validity-gated expressions"),
    ("lsh_bucketed_neighbors", "indexable-gated signature bucket join"),
    ("ann_recall", "memoized top-k results: join of two in-memory tables"),
    ("schema_evolution", "mergeSchema scan unioning additive-column files"),
    ("image_decode", "struct-level binary codec in Arrow mapInPandas"),
    ("vocab_sketch", "HLL registers: one bounded map-side-combinable agg"),
    ("vocab_overlap_sketch", "register min-merge per source pair, equi-join"),
    ("count_min_hitters", "constant-size CM grid agg + broadcast cell probe"),
    ("group_quantiles", "exact percentiles over distinct-value counts"),
    ("stratified_sample", "per-stratum hash rank under WindowGroupLimit"),
    ("ks_drift", "bounded bin-grid windows; pooled cume joined broadcast"),
    ("robust_outliers", "median/MAD via distinct-value windows, broadcast back"),
    ("resample_ffill", "hour-collapsed rows + bounded grid explode + union fill"),
    ("video_decode", "RIFF/AVI demux + frame sample in Arrow mapInPandas"),
    ("neighbor_triangles", "wedge-close equi-joins over LSH edge list"),
    ("split_assign", "hash-residue split + broadcast quota audit"),
    ("rrf_fusion", "bounded candidate re-rank; corpus joined by broadcast ids"),
    ("pagerank_sim", "checkpointed edge list; per-step equi-join + combine"),
    ("bpe_pair_counts", "vocab-bounded pair explode; constant-size final agg"),
    ("pq_adc_topk", "broadcast codebook encode + ADC lookup-table scan"),
    ("pq_recall", "join of two memoized top-k result tables"),
    ("fuzzy_name_linkage", "multi-pass blocking equi-join + banded levenshtein"),
    ("zorder_layout", "Morton-code bucketing; one range-row broadcast"),
    ("bloom_semijoin", "constant-size words table probed by k broadcast joins"),
    ("ivm_user_totals", "bucketed view merge; delta-only shuffle"),
    ("ewma_prices", "K-lag dyadic kernel over per-symbol window"),
    ("quantile_calibrate", "domain-bounded cume windows + 1001-point grid"),
    ("blocklist_scan", "broadcast literal patterns; shuffle-free scan"),
    ("minhash_calibration", "banded candidates; sig + shingle equi-joins"),
    ("corpus_diff", "fingerprint projections; one full-outer id join"),
    ("constraint_audit", "one conditional-sum scan per table; FK probes"),
    ("bigram_perplexity", "shifted-zip bigrams; distributed model tables"),
    ("kmeans_topics", "K-row centroid broadcast; 64-col mean agg"),
    ("hard_negatives", "bounded query broadcast; label-pruned scoring"),
    ("orc_sink_roundtrip", "typed columnar write + metadata read-back"),
    ("perplexity_buckets", "distinct-score tertile windows over LM scores"),
    ("weighted_sample", "hash-clock keys; salted two-phase top-M"),
    ("k_anonymity_audit", "QI class census; two bounded hash aggs"),
    ("pseudonymize", "scan-side token hash + combinable agg"),
    ("inverted_index", "df-banded postings; one term-key shuffle"),
    ("mixing_schedule", "bounded catalogue apportionment windows"),
    ("winnowing_fingerprints", "per-doc array winnowing; no shuffle"),
    ("compaction_plan", "per-partition file windows; one manifest agg"),
    ("cdc_apply", "one keyed last-writer-wins reduction"),
    ("zone_map_prune", "exploded literal predicate catalogue; no join"),
    ("vacuum_plan", "ledger arithmetic; one manifest agg"),
    ("label_vote", "combinable tally + label-bounded windows"),
    ("min_cost_supplier", "one exchange + 4 broadcast dims"),
    ("item_cooccurrence", "user-key co-located pair join; top-k limit"),
    ("l_diversity_audit", "two hash aggs; QI-domain bounded"),
    ("join_skew_audit", "count-of-counts; windows over distinct freqs"),
    ("histogram_quantiles", "shared value-counts; bounded-bin sketch"),
    ("event_transitions", "one user-key window; vocab-bounded tally"),
    ("retrieval_eval", "bm25 plan + one filtered-explode judgment agg"),
    ("embedding_outliers", "label-dim centroid broadcast; bounded ints"),
    ("small_order_revenue", "agg-then-broadcast-back correlated join"),
    ("late_order_priority", "left-semi with non-equi late predicate"),
    ("conversion_lag", "co-located user reduction; bucketed lag window"),
    ("seasonal_baseline", "bounded cell agg; one scalar broadcast"),
    ("zorder_benefit", "composes layout spans; exploded predicates"),
    ("lang_confusion", "scan-side classifier; |langs|^2 cells"),
    ("ngram_novelty", "two 8-byte-key shingle reductions; one hash join"),
    ("quality_tiles", "closed-form ntile on distinct-score counts; no global sort"),
    ("tpch_q5_local_supply", "two-arm dim join; inter-arm nation equi-tie"),
    ("tpch_q18_large_orders", "heavy rollup -> broadcast survivors join-back"),
    ("pii_scan", "3 regexp_counts scan-side; one per-source agg"),
    ("boilerplate_prefix", "(source,prefix) collapse; source-partitioned windows"),
    ("fk_orphan_audit", "per-edge anti-joins on the FK key; single-row assembly"),
    ("semdedup", "shared k-means fit; medoid struct-MIN; K-row broadcast score"),
    ("tpch_q7_volume_shipping", "two-arm nation pair; cross-arm inequality; AQE dims"),
    ("tpch_q21_waiting_supplier", "EXISTS/NOT-EXISTS as order-key-local semi+anti self-joins"),
    ("brand_supplier_diversity", "NULL-safe exclusion anti-join; (brand,supp) distinct"),
    ("tpch_q22_sales_opportunity", "scalar threshold broadcast + left-anti never-ordered"),
    ("tpch_q6_forecast_revenue", "pure scan-aggregate: every predicate pushed, 4-column read"),
    ("tpch_q20_surplus_suppliers", "one part-key exchange feeds pair agg + part-total window (no self-join)"),
    ("embedding_centroid_drift", "(label,split,dim) agg; bounded centroid self-join"),
    ("image_near_dup", "Arrow dHash + lossless 4-band pigeonhole equi-join"),
]

# Structured Streaming queries (plans/stream.py, streaming/jobs.py)
# execute through writeStream micro-batches; the DataFrame a caller
# receives is a scan of the memory-sink result table, so
# df.explain() shows only that scan — the interesting plan (stateful
# operators, watermarks) lives per micro-batch in the streaming
# query's lastProgress and is audited by tests/test_streaming_*.py
# instead. Listed here so "every query has a section or an explicit
# exclusion" stays checkable.
STREAMING_EXCLUDED = [
    "stream_window_counts", "stream_sessionize", "stream_user_totals",
    "stream_dedup", "stream_click_attribution", "stream_image_decode",
    "stream_incremental_ingest", "stream_sync_change_log",
    "stream_vocab_sketch", "stream_heavy_hitters", "stream_video_decode",
    "stream_blocklist", "stream_constraint_audit", "stream_pseudonymize",
    "stream_label_vote", "stream_zone_maps", "stream_cdc_apply",
    "stream_pii_scan", "stream_image_near_dup",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="plan shape is data-size independent; smallest is fine")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "EXPLAINS.md"))
    args = ap.parse_args()

    from psx_data_pipeline_spark.plans import QUERIES
    from psx_data_pipeline_spark.session import get_spark

    spark = get_spark("explain_audit")
    spark.sparkContext.setLogLevel("ERROR")

    curated = dict(HEADLINERS)
    stale = sorted(set(curated) - set(QUERIES))
    if stale:
        # fail loudly: a renamed/removed query must not leave a dead
        # curated note rotting (the old list-driven loop KeyErrored)
        print(f"curated HEADLINERS entries not in the registry: {stale}",
              file=sys.stderr)
        return 1
    batch_names = [n for n in QUERIES if n not in STREAMING_EXCLUDED]
    missing_stream = [
        n for n in QUERIES
        if n.startswith("stream_") and n not in STREAMING_EXCLUDED
    ]
    if missing_stream:
        print(f"new streaming queries need an exclusion entry: "
              f"{missing_stream}", file=sys.stderr)
        return 1

    lines = [
        "# EXPLAINS — formatted physical plans, every registered query",
        "",
        "> **Complete generated record.** One section per registered",
        "> batch query (completeness asserted at generation time);",
        "> streaming queries are excluded with the reason below. The",
        "> one-line-per-query index with shuffle/broadcast counts and",
        "> measured walls is `SCALE_SUMMARY.md`; this file is the full",
        "> operator tree for reading an individual plan.",
        "",
        "Generated by `python tools/explain_audit.py` (plan shapes are",
        "data-size independent; captured at sf0.001). The things to read",
        "for: `PushedFilters`/`ReadSchema` on every FileScan (pushdown +",
        "pruning), `BroadcastHashJoin` only where a side is bounded,",
        "`SortMergeJoin`/`ShuffledHashJoin` on real keys elsewhere, no",
        "`CartesianProduct`/`BroadcastNestedLoopJoin` anywhere (also",
        "pinned mechanically by tests/test_plan_guards.py), and",
        "`WholeStageCodegen` spans covering the hot expressions.",
        "",
    ]
    from psx_data_pipeline_spark.plans import clear_session_memos

    for name in batch_names:
        why = curated.get(
            name, "see the SCALE_SUMMARY.md row for this query's counts"
        )
        clear_session_memos()  # dump the true first-run plan
        df = QUERIES[name](spark, args.sf_dir)
        plan = (
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        lines += [f"## {name}", "", f"_{why}_", "", "```", plan.rstrip(), "```", ""]

    lines += [
        "## Streaming queries (excluded, with reason)",
        "",
        "The following execute through Structured Streaming",
        "micro-batches; the returned DataFrame is a scan of the",
        "memory-sink result table, so a formatted explain here would",
        "show only that scan. Their stateful operator shape",
        "(watermarks, state-store bounds, batch_id idempotency) is",
        "asserted by the streaming tests instead:",
        "",
    ] + [f"- `{n}`" for n in STREAMING_EXCLUDED] + [""]

    with open(args.out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {args.out} ({len(batch_names)} plans, "
          f"{len(STREAMING_EXCLUDED)} streaming exclusions)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
