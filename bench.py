"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized via a count-style action (collect on small
results) so the full plan executes; timings include plan + execution but
share one SparkSession (JVM startup excluded, matching how a long-lived
engine runs).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: exercised operators that dominate real usage — scan+agg,
# join+topk, star join, window dedup, merge variants, rollup.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue_share",
    "tpch_q15_top_supplier",
    "tpch_q2_min_cost_supplier",
    "tpch_q16_supplier_diversity",
    "tpch_q18_large_orders",
    "tpch_q22_idle_customers",
    "tpch_q10_returned_items",
    "tpch_q12_priority_shipping",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_discounted_revenue",
    "tpch_q21_waiting_suppliers",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q20_part_promotion",
    "last_event_per_user",
    "merge_upsert",
    "merge_upsert_delete",
    "merge_delete_only",
    "hourly_partition_rollup",
    "events_tumbling_window",
    "events_sliding_window",
    "events_sessionize",
    "events_session_window",
    "events_asof_join",
    "events_interval_join",
    # LLM-data-pipeline headline ops (added r03 — compare per-query or
    # pro-rata vs earlier rounds, not raw totals; see BASELINE.md)
    "events_value_quantiles",
    "docs_sequence_pack",
    "docs_decontaminate",
    "dedup_passages",
    "mixture_rebalance",
    "multimodal_audio_chunks",
    # r04: count-min sketch build+probe+audit (pure query). The other
    # r04 entries (warehouse_zonemap_read, rollup_incremental,
    # dedup_incremental) stage a scratch warehouse per invocation —
    # their timing is parquet-write dominated, so like
    # merge_upsert_bucketed they stay out of the throughput headline.
    "sketch_count_min",
    # r04 late additions (pure queries; the staged-warehouse entries
    # warehouse_bloom_read / ann_incremental stay out, same rationale)
    "graph_triangles",
    "text_bm25",
    "dedup_semantic",
    "events_gap_fill",
    "events_mad_outliers",
    "mixture_entropy",
    "weighted_sample",
    "search_hybrid_rrf",
    "events_rolling_7d",
    "events_asof_tolerance",
    "events_ewma",
    "events_salted_agg",
    "orders_salted_join",
    "integrity_audit",
    "session_paths",
    "events_streaks",
    # statistical testing & diagnostics family (pure queries)
    "docs_chi_square",
    "events_welch_t",
    "events_benford",
    "events_mannwhitney",
    "events_ks_test",
    "text_collocations",
    # r06 additions (pure queries): mergeable distinct sketches, the
    # ExactSubstr duplication profile, containment pairs, DSIR weights
    "sketch_hll_distinct",
    "sketch_hll_daily",
    "sketch_kmv_distinct",
    "sketch_kmv_overlap",
    "dedup_substring_runs",
    "dedup_containment",
    "docs_dsir_weights",
    "docs_vocab_growth",
    # r07 additions (pure queries). dedup_prefix_filter stays out: its
    # exact all-pairs verify runs ~28 s at sf0.1 by design (the oracle
    # brute join is out of reach entirely) — a throughput headline slot
    # would measure the corpus's near-dup band, not the engine. The
    # staged sketch_*_incremental entries stay out like the other
    # scratch-warehouse entries (timing is parquet-write dominated).
    "text_zipf_fit",
    "orders_market_basket",
    "docs_chunk_windows",
    # r08 additions (pure queries). The staged clone/cm entries stay
    # out like the other scratch-warehouse entries; sketch_ams_f2 and
    # docs_ngram_novelty are pure scans+aggs and join the headline.
    "sketch_ams_f2",
    "docs_ngram_novelty",
    # bpe_encode stays OUT of the headline: it is a pure per-row
    # projection, so the harness's .count() action column-prunes the
    # entire subword fold away and would time a bare row-count scan
    # (its real throughput is measured with a forcing aggregate in
    # BASELINE.md Round 12)
]

# The frozen r01 headline set (BENCH_r01.json): round-over-round and
# vs-baseline comparisons use THIS subset's total, so the number is
# meaningful even as HEADLINE grows. Emitted in the final summary line.
R01_COMMON = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue_share",
    "tpch_q15_top_supplier",
    "tpch_q2_min_cost_supplier",
    "tpch_q16_supplier_diversity",
    "tpch_q18_large_orders",
    "tpch_q22_idle_customers",
    "tpch_q10_returned_items",
    "tpch_q12_priority_shipping",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_discounted_revenue",
    "tpch_q21_waiting_suppliers",
    "last_event_per_user",
    "merge_upsert",
    "merge_upsert_delete",
    "merge_delete_only",
    "hourly_partition_rollup",
    "events_tumbling_window",
    "events_sliding_window",
    "events_sessionize",
    "events_session_window",
    "events_asof_join",
    "events_interval_join",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kafka_connect_bigquery_spark import queries as qmod
    from kafka_connect_bigquery_spark.session import get_spark

    spark = get_spark("bench")
    registry = qmod.queries()
    names = [n for n in HEADLINE if n in registry]
    # warmup: trigger JIT/codegen + file listing once with the flagship
    registry[names[0]](spark, sf_dir).count()

    # min of three runs per query: later runs reuse warmed file
    # listings/codegen, and the minimum suppresses machine-load spikes
    # (this host shows ±30% noise with repeated-run decay) so
    # round-over-round comparisons track the engine, not the host.
    # Sub-0.5 s queries are SPIKE-DOMINATED (r12: two of them flagged
    # 4-6x on a loaded driver host and did not reproduce quiet-host):
    # they get 2 extra samples, so their min has 5 chances to land in
    # a quiet scheduling window instead of 3.
    N_RUNS = 3
    N_RUNS_FAST = 5
    FAST_CUTOFF_SEC = 0.5
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in names:
        samples = []
        for _ in range(N_RUNS):
            t0 = time.time()
            registry[name](spark, sf_dir).count()
            samples.append(time.time() - t0)
        while min(samples) < FAST_CUTOFF_SEC and len(samples) < N_RUNS_FAST:
            t0 = time.time()
            registry[name](spark, sf_dir).count()
            samples.append(time.time() - t0)
        runs[name] = sorted(round(s, 4) for s in samples)
        timings[name] = runs[name][0]
    total = round(sum(timings.values()), 4)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    # full payload (with the per-query run distribution, so a reviewer
    # can separate host noise from real regression without re-deriving
    # it) goes to a file; the stdout line stays compact — min-of-N only
    # (r04's long line outgrew the driver's tail capture)
    full = dict(
        payload,
        runs_per_query={n: len(rs) for n, rs in runs.items()},
        aggregation="min",
        # sorted samples per query: [0]=min (the headline number),
        # [N//2]=median; spread = host noise for that query
        query_runs={n: rs for n, rs in runs.items()},
        query_median={n: rs[len(rs) // 2] for n, rs in runs.items()},
    )
    try:
        with open(os.path.join(REPO, "BENCH_LOCAL.json"), "w") as f:
            json.dump(full, f, indent=2)
    except OSError:
        pass
    # stop Spark BEFORE printing so no shutdown chatter can land after
    # (or interleave with) the summary
    spark.stop()
    # The driver records only the LAST ~2000 chars of stdout and parses
    # a JSON line out of it (BENCH_r08.json: our one ~2.3 KB line got
    # its head — the headline total — truncated away, parsed=null). So:
    # the full per-query payload line first, then a guaranteed-tiny
    # summary line LAST that always survives the tail capture whole —
    # headline total, the frozen-r01-subset total for round-over-round
    # comparison, and the per-query count. The full per-query map also
    # persists in BENCH_LOCAL.json (committed) either way.
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    r01_present = [n for n in R01_COMMON if n in timings]
    summary = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "r01_common_total_sec": round(
            sum(timings[n] for n in r01_present), 4
        ),
        # host-load self-identification: this run's tpch_q6 min over its
        # frozen r01 value (BENCH_r01.json, sf0.1). q6 is a single
        # pushed-down scan+agg whose plan has not changed since r01, so
        # the ratio measures the HOST, not the engine. Interpretation
        # rule (BASELINE.md): ~1 quiet host — trust per-query deltas;
        # >>1 loaded host — per-query flags (especially in the sub-0.5 s
        # band) need a quiet-host or interleaved settlement before being
        # called regressions. Only meaningful at sf0.1.
        "anchor_ratio": (
            round(timings["tpch_q6_forecast_revenue"] / 0.2828, 3)
            if "tpch_q6_forecast_revenue" in timings and sf_val == 0.1
            else None
        ),
        # the frozen-r01 subset's per-query map (~1.1 KB: fits the tail
        # whole) — the cross-round comparison set; the full map is on
        # the previous line and in BENCH_LOCAL.json
        "queries": {n: round(timings[n], 3) for n in r01_present},
    }
    # r14: widen the parsed per-query map beyond the frozen-30 — the
    # driver's tail capture is exactly 2000 chars (BENCH_r13.json) and
    # the full 75-query summary is ~2.3 KB, so a complete map cannot
    # survive whole; instead ADD extra entries (never remove/rename)
    # in priority order — r13/r14-touched query paths first (the ones
    # whose round-over-round comparison the 30-query cap kept forcing
    # to total-only), then the slowest of the rest — while the line
    # stays under a 1900-char budget. BENCH_LOCAL.json still carries
    # the full map + per-run distributions.
    _PRIORITY_EXTRA = [
        "search_hybrid_rrf",
        "docs_ngram_novelty",
        "integrity_audit",
        "dedup_containment",
        "dedup_semantic",
        "graph_triangles",
        "text_bm25",
        "sketch_ams_f2",
        "orders_market_basket",
        "text_collocations",
    ]
    _SUMMARY_BUDGET = 1900
    extras = [n for n in _PRIORITY_EXTRA if n in timings] + sorted(
        (n for n in timings if n not in r01_present and n not in _PRIORITY_EXTRA),
        key=lambda n: -timings[n],
    )
    widen_summary(summary, timings, extras, _SUMMARY_BUDGET)
    print(json.dumps(summary, separators=(",", ":")), flush=True)


def widen_summary(summary: dict, timings: dict, extras: list, budget: int) -> None:
    """ADD ``extras`` (never remove or rename an entry) to
    ``summary["queries"]`` in order while the compact JSON line stays
    within ``budget`` chars. An entry that would overflow is skipped,
    not a stop: a shorter later entry may still fit."""
    for n in extras:
        if n in summary["queries"]:
            continue
        summary["queries"][n] = round(timings[n], 3)
        if len(json.dumps(summary, separators=(",", ":"))) > budget:
            del summary["queries"][n]


if __name__ == "__main__":
    main()
