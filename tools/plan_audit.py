"""Physical-plan audit: verify the 100 TB design rules actually hold.

For every registered query this prints the operators that matter at scale
(join strategies, exchanges, pushed filters) and enforces per-query
expectations where they are load-bearing:

- dimension joins must be BroadcastHashJoin (no shuffle of the fact side)
- scan-heavy queries must show PushedFilters reaching parquet
- no BatchEvalPython (row-at-a-time Python UDF) anywhere — only
  ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas are sanctioned

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataframe_differ_spark.plans import plan_features
from dataframe_differ_spark.queries import load_all
from dataframe_differ_spark.session import get_spark

DEFAULT_SF = "/root/testdata/sf0.01"

# Queries whose plan MUST contain a broadcast join (dimension side small).
MUST_BROADCAST = {
    "join_broadcast",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "tpch_q10_shape",
    "text_tfidf",
    "sim_topk",
    "tpch_q7_shape",
    "tpch_q15_shape",
    "tpch_q17_shape",
    "tpch_q22_shape",
    "vec_centroid_outliers",
    "agg_bitmap_distinct",
    "tpch_q8_shape",
    # round-3: broadcast codebooks / sketches / query vectors
    "sketch_cms_topk",
    "vec_pq_codes",
    "vec_pq_adc_topk",
    "retrieval_hybrid_rrf",
    "dedup_minhash_exact",
    # round-4: the completed TPC-H shape suite's dimension joins
    "tpch_q2_shape",
    "tpch_q9_shape",
    "tpch_q11_shape",
    "tpch_q16_shape",
    "tpch_q20_shape",
}

# Queries whose parquet scan MUST show a pushed-down filter.
MUST_PUSH_FILTER = {
    "join_smj": "o_orderstatus",
    "tpch_q3_shape": "c_mktsegment",
    "tpch_q10_shape": "l_returnflag",
    "agg_pricing_summary": "l_shipdate",
    "join_pit_features": "user_id",
    "tpch_q7_shape": "l_shipdate",
    "tpch_q15_shape": "l_shipdate",
    "tpch_q13_shape": "o_orderpriority",
}

# Streaming queries execute eagerly; plan inspection not applicable.
SKIP = {"stream_tumbling", "stream_watermark", "stream_dedup", "stream_stateful"}

# Queries ALLOWED to carry a partition-less Window, each with the reason
# its window input is bounded — or it is a declared exact verifier whose
# rankops scale sibling ships window-free (Query.scale_path names it).
# Everything else: a global Window is a hard audit failure (round-3
# verdict item #3 — same gate class as BatchEvalPython).
GLOBAL_WINDOW_OK = {
    # declared verifiers with shipped two-phase-rank siblings (rankops.py)
    "agg_histogram_equidepth": "exact-ntile verifier; sibling *_sketch",
    "layout_zorder": "exact-ntile verifier; sibling *_sketch",
    "diff_quantile_drift": "exact-rank verifier; sibling *_sketch",
    "orders_rfm": "exact-ntile verifier; sibling *_sketch",
    "revenue_pareto": "exact-cumsum verifier; sibling *_sketch",
    "win_distribution": "semantics pin; sibling *_sketch",
    # bounded-input global windows (documented in each docstring)
    "contingency_chisq": "windows over the ~35-cell contingency table",
    "vocab_coverage": "windows over post-limit top-30 rows",
    "text_zipf_alpha": "rank window over post-limit top-1000 rows "
    "(TakeOrdered feeds it; the fit aggregate is 1 row)",
    "events_cumulative_uniques": "running sum over the 30-row day spine",
    "dim_surrogate_keys": "row_number over DISTINCT dims (verifier; "
    "sibling dim_surrogate_keys_sketch ships window-free)",
    "retrieval_hybrid_rrf": "rank_vec window over post-limit 100 rows "
    "(TakeOrdered feeds it); lexical rank is two-phase since r4",
    "vec_pq_codes": "cid window over post-limit 16 seed rows",
    "vec_pq_adc_topk": "16-row seed window + top-k over ADC candidates",
    "vec_ivfpq_topk": "16-row PQ seed window (post-limit) + probe crank "
    "over the 16-row checkpointed centroid table",
}


# Queries ALLOWED to carry a collect_list/collect_set aggregation, each
# with the reason its GROUP SIZE is bounded by something other than the
# corpus (round-10 verdict item #2: a collect fold materializes one
# in-memory array per group on a single reducer and defeats partial
# aggregation — ann_drift_refresh's dim_means grouped a corpus-sized set
# and was OOM-by-construction at 100 TB; fixed r11 to a FLOOR-micro
# sum/count). Everything else: a collect fold in the plan is a hard audit
# failure — either bound the group, switch to an order-free aggregate
# device, or whitelist here with the stated bound. Source-level fold
# sites hidden behind localCheckpoint cuts are inventoried in
# BASELINE.md's per-site bound table (same round item).
COLLECT_FOLD_OK = {
    "agg_collect": "collect_set of o_orderstatus per customer (≤3 distinct)",
    "agg_string_agg": "collect_set of ≤3 distinct statuses per priority",
    "ann_drift_refresh": "64 per-dim mean deltas (dimension-bounded; the "
    "corpus pass is FLOOR-micro sum/count since r11)",
    "corpus_data_card": "inherits its components' bounded folds (the "
    "per-(word) Viterbi DP edges of eval_tokenizer_fertility; each "
    "component is audited and whitelisted individually)",
    "dedup_fuzzy_names": "FastSS candidate buckets — declared exact "
    "verifier; scale sibling dedup_fuzzy_names_capped caps buckets",
    "dedup_fuzzy_names_capped": "FastSS buckets capped at top-64 members "
    "(md5 election, two-phase partitioned_topk)",
    "dedup_substring_excise": "per-doc token-position list "
    "(doc-length bounded)",
    "eval_pr_auc": "distinct-score spine (integer stopword counts — tens "
    "of rows at any SF)",
    "eval_tokenizer_fertility": "per-doc subword fold (doc-length bounded)",
    "events_changepoint_cusum": "calendar-bounded day spine per series",
    "events_holt_linear": "calendar-bounded day spine per series",
    "events_holt_winters": "calendar-bounded day spine per series",
    "events_kalman_level": "calendar-bounded day spine per series",
    "events_lz78_complexity": "one user's event-type history (fixture "
    "~60 events; production windows by time)",
    "events_pattern_sequence": "one user's event-type history (fixture "
    "~60 events; production windows by time)",
    "join_bloom_prune": "≤8192 bloom slot positions, one group",
    "km_survival_users": "day-spine risk table (calendar-bounded)",
    "privacy_t_closeness": "per-(QI,class) distribution over the "
    "quantized sensitive-value grid",
    "sample_neyman_allocation": "per-stratum summary rows (#strata "
    "bounded)",
    "sim_join_lsh": "one (band,sig) LSH bucket — E[|bucket|]=n/2^bits by "
    "plane construction; hot-bucket hazard documented in cosine_join_lsh",
    "stats_anova_f": "per-group summary rows (#groups bounded)",
    "stats_chi2_independence": "contingency cells (~35)",
    "stats_levene_bf": "per-group summary rows (#groups bounded)",
    "text_rake_keywords": "per-doc phrase folds (doc-length bounded)",
    "text_tokenize_greedy": "per-doc position spine (doc-length bounded)",
    "timeseries_ewma": "calendar-bounded day spine per series",
    "unigram_apply_segment": "per-(doc,word) Viterbi DP edges "
    "(word-length × vocab-candidate bounded)",
    "unigram_vocab_persisted": "per-(doc,word) Viterbi DP edges "
    "(word-length × vocab-candidate bounded)",
    "vec_top_pc": "64×64 covariance cells (dimension-bounded)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF
    spark = get_spark("plan_audit")
    registry = load_all()
    failures: list[str] = []
    gw_seen: set[str] = set()
    cf_seen: set[str] = set()
    for name, q in registry.items():
        if name in SKIP:
            continue
        try:
            f = plan_features(q.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: plan build failed: {e}")
            continue
        pushed_all = "; ".join(f.pushed_filters)
        print(
            f"{name}: BHJ={f.broadcast_hash_joins} SMJ={f.sort_merge_joins} "
            f"SHJ={f.shuffled_hash_joins} BNLJ={f.broadcast_nl_joins} "
            f"exchanges={f.exchanges} arrowPy={f.python_arrow_evals}"
        )
        if f.python_row_udfs:
            failures.append(f"{name}: row-at-a-time Python UDF in plan (BatchEvalPython)")
        if f.global_windows:
            gw_seen.add(name)
            if name not in GLOBAL_WINDOW_OK:
                failures.append(
                    f"{name}: {f.global_windows} partition-less Window(s) — "
                    "ship a rankops sibling or whitelist with a "
                    "bounded-input reason in GLOBAL_WINDOW_OK"
                )
        if f.collect_folds:
            cf_seen.add(name)
            if name not in COLLECT_FOLD_OK:
                failures.append(
                    f"{name}: collect_list/set aggregation in plan — "
                    "bound the group (or use an order-free device) and "
                    "whitelist with the stated bound in COLLECT_FOLD_OK"
                )
        if name in MUST_BROADCAST and f.broadcast_joins == 0:
            failures.append(f"{name}: expected a broadcast join, found none")
        want = MUST_PUSH_FILTER.get(name)
        if want and want not in pushed_all:
            failures.append(f"{name}: filter on {want} not pushed to scan")
    # Stale whitelist entries are failures too: an entry whose query no
    # longer has a global window hides the gate's coverage (and a
    # re-introduced window would sail through under the old reason).
    for name in sorted(set(GLOBAL_WINDOW_OK) - gw_seen):
        if name in registry and name not in SKIP:
            failures.append(
                f"{name}: GLOBAL_WINDOW_OK entry is STALE — plan has no "
                "partition-less Window; remove the whitelist row"
            )
    for name in sorted(set(COLLECT_FOLD_OK) - cf_seen):
        if name in registry and name not in SKIP:
            failures.append(
                f"{name}: COLLECT_FOLD_OK entry is STALE — plan has no "
                "collect_list/set aggregation; remove the whitelist row"
            )
    print()
    if failures:
        for f in failures:
            print("AUDIT FAIL:", f)
        return 1
    print(f"plan audit clean for {len(registry) - len(SKIP)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
