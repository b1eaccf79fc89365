#!/usr/bin/env python
"""One-shot physical-plan smell audit over the whole catalog.

Builds every catalog query (no execution beyond what query-construction
itself triggers) and greps the executed-plan string for the smells that
kill 100 TB runs:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — all-pairs joins;
- ``BatchEvalPython`` — row-at-a-time (non-Arrow) Python in the plan;
- parquet scans with no pushed filter while the plan filters right above
  the scan (pushdown broken);
- ``Exchange SinglePartition`` under a window (global sort bottleneck) —
  reported, since a handful of tiny rollups legitimately use it.

Usage: python scripts/audit_plans.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_cluster_hash_spark.session import start_session

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.001")


# Reviewed flags that are NOT scale problems, with the reason each is
# acceptable.  A query acquiring a smell not waived here fails the audit
# loudly; re-review before extending this table.
WAIVERS: dict[str, str] = {
    "cluster_shard_ranges": (
        "UDTF generates <=64 literal rows (B-surface shard_ranges parity); "
        "BatchEvalPython over a constant-sized generator is size-independent"
    ),
    "cluster_skew_report": "final scalar rollup of <=32 partial-agg rows",
    "events_cuped_adjustment": (
        "the nested-loop / SinglePartition pair is the 1-row broadcast "
        "min/max-epoch split point plus the final 6-counter scalar "
        "rollup; the covariate build is one keyed per-user aggregate"
    ),
    "docs_token_burstiness": (
        "the nested-loop is the 1-row broadcast corpus doc-count; the "
        "SinglePartition exchange is the 32-row TakeOrdered merge"
    ),
    "events_ab_welch_ttest": (
        "global 6-counter conditional aggregate = SinglePartition merge "
        "of map-side partials (one row total crosses the exchange)"
    ),
    "parts_kcore_decomposition": (
        "the nested-loops / 6 SinglePartition exchanges stitch the three "
        "per-round (n_vertices, n_edges) scalar rollups into graded rows; "
        "the peel itself is keyed groupBys + keyed semi-joins"
    ),
    "docs_dsir_importance": (
        "the nested-loop is the 1-row broadcast corpus-constant "
        "L(Nt+V)-L(Nr+V) shift; LM deltas join on the vocab key"
    ),
    "docs_exact_dedup": "final scalar rollup of partial-agg rows",
    "docs_quality_perceptron_sweep": (
        "the SinglePartition exchange merges map-side partials of ONE "
        "2+2k-counter scalar aggregate (one 16-counter row total crosses "
        "the wire); the stack unpivot runs on the 1-row result"
    ),
    "formats_text_roundtrip": "final scalar rollup of partial-agg rows",
    "formats_schema_evolution": "final scalar rollup of partial-agg rows",
    "docs_quality_constraints": (
        "final scalar rollup + 4-row stack unpivot (funnel shape); every "
        "violation counter partial-aggregates map-side in one pass"
    ),
    "active_multiline_customers": "final scalar rollup of partial-agg rows",
    "tpch_q6_forecast_revenue": "global sum = SinglePartition merge of partials",
    "tpch_q14_promo_effect": "global ratio = SinglePartition merge of partials",
    "tpch_q15_top_supplier": "global max revenue = merge of partials",
    "tpch_q17_small_quantity_revenue": "final scalar rollup of partials",
    "tpch_q19_disjunctive_revenue": "global sum = merge of partials",
    "tpch_q11_important_parts": (
        "1-row broadcast (global threshold) nested-loop + its scalar rollup"
    ),
    "tpch_q22_dormant_rich_customers": (
        "1-row broadcast (global avg acctbal) nested-loop + its scalar rollup"
    ),
    "docs_token_shards": "only the 256-row bucket-totals table is globally ordered",
    "docs_perplexity_filter": (
        "the nested-loop is the 1-row broadcast train-vocab scalar V "
        "(Laplace denominator) and the SinglePartition exchange computes it; "
        "the LM joins are vocab-bounded broadcasts and the stratum mean is "
        "a keyed window"
    ),
    "events_bloom_prefilter_join": (
        "the 5 SinglePartition exchanges and nested-loops are the 1-row "
        "summary scalars (buyer count, bits set, click count, candidate "
        "count, truth rollup) stitched into the single graded row; the "
        "data-path joins are the broadcast bitset probe and the "
        "candidates-only semi-join, both keyed"
    ),
    "events_churn_batch_scoring": (
        "final scalar rollup of the per-user scored table (score "
        "distribution verdict row); scoring itself is one keyed "
        "map-side-combined aggregate"
    ),
    "orders_set_operations": (
        "the nested-loops / SinglePartition exchanges stitch five 1-row "
        "set-operation counts into the single graded row; each set op "
        "itself is a keyed shuffle with map-side partial counting"
    ),
    "sql_null_semantics_probe": (
        "single scalar rollup: nine conditional counters in one map-side "
        "partial aggregate"
    ),
    "docs_quality_auc": (
        "the SinglePartition exchanges are ordered_prefix_sum's 256-row "
        "per-bucket offsets table plus the 1-row AUC rollup; documents "
        "collapse map-side to the distinct-score (cnt, pos) table before "
        "any ordering, and the unpushed filter is HAVING count > 1 over "
        "the digest group (computed column, unknowable to the scan)"
    ),
    "docs_labeler_agreement_kappa": (
        "final scalar rollup: one map-side-combining aggregate reduces "
        "the corpus to a four-cell contingency row; everything after is "
        "1-row arithmetic"
    ),
    "customer_revenue_gini": (
        "the SinglePartition exchanges are global_row_number's 256-row "
        "offsets table and the 1-row Gini rollup; per-customer revenue "
        "partial-aggs map-side and ranks via rangepartitioning + local "
        "sorts"
    ),
    "docs_softdedup_reweight": (
        "the unpushed filter is isnotnull(md5(text)) injected by the "
        "digest-keyed equi-join — a computed column unknowable to the "
        "scan; the corpus sees one digest groupBy and one keyed join "
        "back (same shape as docs_dedup_impact_by_source)"
    ),
    "docs_dedup_impact_by_source": (
        "the unpushed filter is the keep flag over the computed digest "
        "join (doc_id = min doc_id of its md5 group, unknowable to the "
        "scan); the corpus sees one digest groupBy and one keyed join "
        "back"
    ),
    "events_cusum_changepoint": (
        "the nested-loop is the 1-row centering-totals stitch and the "
        "SinglePartition exchanges order the <=366-row/year daily "
        "profile for the prefix/extrema windows; the raw table collapses "
        "in one keyed map-side-combined aggregate"
    ),
    "events_histogram_quantile_sketch": (
        "the nested-loops are the 3-row quantile-target table joined "
        "non-equi against (a) the <=16*log2(max)-row cumulative bin "
        "table (domain-bounded, never data-bounded) and (b) the <=3-row "
        "exact-rank ride-along — final stitches, r15 VERDICT item 7; "
        "the SinglePartition exchanges are the bin table's prefix sum, "
        "global_row_number's 256-row offsets, and the 3-row final "
        "orderBy; the unpushed filter is vc >= 0 over the computed "
        "value-cents column; the corpus itself sees one map-side-combined "
        "bin groupBy plus the range-partitioned rank pass"
    ),
    "events_hourly_autocorrelation": (
        "every flagged op runs on the hourly PROFILE, never on events: "
        "the nested-loops are 1-row broadcast stitches (centering totals, "
        "denominator), and the SinglePartition exchanges roll up the "
        "<=8784-row/year profile and its two lag legs; the raw table "
        "collapses in one keyed map-side-combined aggregate"
    ),
    "events_benford_digit_audit": (
        "the nested-loop is the 1-row total-count stitch onto the 9-row "
        "digit/Benford tables, the SinglePartition exchange is that same "
        "9-row rollup, and the unpushed filter is vc >= 1 over the "
        "computed value-cents column (unknowable to the scan); the raw "
        "table collapses in one map-side-combined aggregate"
    ),
    "events_k_anonymity_audit": (
        "final scalar rollup of the QI-domain-bounded group table "
        "(policy verdict row); the group aggregate itself partial-aggs "
        "map-side"
    ),
    "lineitem_trimmed_price_stats": (
        "the <=256-row offsets table of global_row_number plus the 1-row "
        "final rollup (deciles shape); the corpus ranks via literal-cut "
        "buckets + local sorts"
    ),
    "parts_skyline_price_size": (
        "the single-partition step is the running-max sweep over the "
        "per-price domain table (price-grid-bounded, NOT data-bounded); "
        "the corpus itself only sees a map-side collapse and a broadcast "
        "equi-join back"
    ),
    "tpch_fk_orphan_audit": (
        "the 28 SinglePartition exchanges / nested-loops are the 7x4 "
        "1-row count scalars stitched into the 7-row report; every "
        "data-path check is a keyed anti-join (dims broadcast, the one "
        "fact-fact pair shuffles once)"
    ),
    "events_zorder_layout": (
        "final scalar rollup x2: each layout collapses its <=256-row "
        "per-bucket zone-map table to one summary row; the per-bucket "
        "aggregates themselves partial-agg map-side"
    ),
    "docs_spearman_chars_tokens": (
        "two 64-row offsets tables of the independent rankings + the 1-row "
        "scalar rollup (deciles shape x2)"
    ),
    "customer_rfm_segments": (
        "three independent ntile_exact rankings: the SinglePartition "
        "exchanges are the <=64-row bucket-offsets tables (ntile's total "
        "is a driver-side literal now; same shape as "
        "customer_spend_deciles, x3)"
    ),
    "customer_spend_deciles": (
        "offsets window is an n_buckets-row table; the corpus itself "
        "ranks via literal-cut buckets (gated in test_plans)"
    ),
    "events_funnel_conversion": (
        "final scalar rollup + 4-row stack unpivot; input is the per-user "
        "aggregate, already partial-agged per partition"
    ),
    "lineitem_price_approx_median_contract": (
        "final scalar rollup: the 1-row sketch-vs-exact-rank verdict; both "
        "aggregations are map-side partial first"
    ),
    "supplier_pareto_abc": (
        "only the 256-row bucket-totals table of the two-level prefix sum "
        "is globally ordered (same shape as docs_token_shards)"
    ),
    "events_daily_engagement": (
        "cumulative-users running sum orders the DAY-LEVEL rollup only "
        "(tens of rows/year), not events; gated in test_plans"
    ),
    "docs_bigram_collocations": (
        "the unpushed filter is size(tokens) >= 2 over the tokenized array "
        "(computed column, unknowable to the scan); map-side, no shuffle "
        "before it"
    ),
    "events_hll_shard_distinct": (
        "two 1-row sides (exact count x merged sketch estimate) joined"
    ),
    "docs_token_weighted_sample": (
        "the nested-loop is the 1-row broadcast token total; the two "
        "SinglePartition exchanges are the 256-row prefix-sum offsets "
        "table and that 1-row total (deciles/token-shards shape)"
    ),
    "events_chi2_type_dow": (
        "the three marginal windows order the 35-row (type, dow) census "
        "only; raw events collapse by keyed partial aggregation first"
    ),
    "events_cumulative_hll_curve": (
        "the <= prefix-merge nested-loop, the cumulative window, and the "
        "coalesce filter all operate on the DAY-LEVEL rollup (|days| "
        "sketch/count rows, tens per month); events collapse by keyed "
        "partial aggregation before any of them"
    ),
    "emb_lsh_ann_recall": (
        "two 1-row sides (overlap count x self-found flag) joined"
    ),
    "emb_ivf_kmeans_recall": (
        "the unpushed filter is cell-membership over the KMeans-tagged frame "
        "(computed column, unknowable to the scan); at scale the cell is a "
        "parquet partition column (ivf_write_index) and prunes at the source"
    ),
    "docs_keyword_extraction": (
        "the nested-loop is the 1-row broadcast corpus doc-count onto the "
        "distinct-df table; the SinglePartition exchange computes that "
        "count (one row crosses); postings/vocab build via keyed "
        "map-side-combining groupBys"
    ),
    "cluster_hashring_vnodes": (
        "the nested-loops are the 193-row ring-segment broadcast (the "
        "successor lookup, one match per key) and the 1-row wrap-arc "
        "stitch; the SinglePartition exchanges order/aggregate the "
        "192-row vnode table and the 6-row census — all vnode-bounded, "
        "never data-bounded"
    ),
    "docs_gopher_repetition": (
        "the unpushed filter is size(tokens) >= 2 over the tokenized "
        "array (computed column, unknowable to the scan); map-side, no "
        "shuffle before it (same shape as docs_bigram_collocations)"
    ),
    "emb_knn_label_accuracy": (
        "the unpushed filter is the eval-holdout complement "
        "NOT(vec_id % 29 = 0 AND vec_id < 1160) — an arithmetic (modulo) "
        "predicate the parquet source cannot evaluate, so it rides as a "
        "DataFilters entry ON the scan node itself (no extra pass) and "
        "excludes only the <=40 eval rows; pushdown is impossible and "
        "would prune nothing.  The plan is unchanged since r14 — the "
        "flag surfaced because the r15 window rotation reordered the "
        "audit session, shrinking this query's expression IDs enough "
        "for the fragment to fit the smell regex's 400-char window"
    ),
    "emb_jl_projection_quality": (
        "the SinglePartition step carries only the top-20 candidate pool "
        "into the 16 projection map expressions (bounded by n_cand, not "
        "data); candidate selection is the distributed TakeOrdered scan"
    ),
    "events_kmv_distinct_jaccard": (
        "the SinglePartition exchanges sort only sketch state — the "
        "two-level bottom-k caps every sorted set at k*8 = 512 rows (the "
        "salted level-1 top-k is the distributed pass) — and the "
        "nested-loops stitch four 1-row sketch summaries into the graded "
        "row; sketch state is 64 BIGINTs per side regardless of corpus"
    ),
    "events_ams_f2_moment": (
        "the nested-loop is the broadcast 16-row seed panel (fixed "
        "estimator count) plus the 1-row exact-F2 stitch; sign-sums "
        "combine map-side, sketch state is 16 integers total"
    ),
    "events_kendall_tau_daily": (
        "the O(n^2) pairing and its scalar rollup run on the per-day "
        "profile (<=366 rows/year of data, broadcast), never on events; "
        "the raw table collapses in one keyed map-side-combined aggregate"
    ),
    "events_bitmap_distinct_rollup": (
        "the nested-loops / SinglePartition exchanges stitch three 1-row "
        "popcount rollups into the graded row; bitmap words bit_or "
        "map-side and the intersection join is word-keyed"
    ),
}


def main() -> int:
    spark = start_session()

    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    names = sys.argv[1:] or list(QUERIES)
    flagged = 0
    for name in names:
        try:
            plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — report, keep auditing
            print(f"ERR  {name}: {type(exc).__name__}: {exc}")
            flagged += 1
            continue
        smells = []
        if "CartesianProduct" in plan:
            smells.append("cartesian-product")
        if "BroadcastNestedLoopJoin" in plan:
            smells.append("nested-loop-join")
        if "BatchEvalPython" in plan:
            smells.append("row-at-a-time-python")
        n_single = plan.count("Exchange SinglePartition")
        if n_single:
            smells.append(f"single-partition-exchange x{n_single}")
        # a Filter sitting directly on a parquet scan that pushed nothing
        for m in re.finditer(r"Filter .{0,400}?PushedFilters: \[\]", plan, re.S):
            frag = m.group(0)
            if "Scan parquet" in frag:
                smells.append("unpushed-filter-over-scan")
                break
        if smells and name in WAIVERS:
            print(f"WAIVED {name}: {', '.join(smells)} — {WAIVERS[name]}")
        elif smells:
            flagged += 1
            print(f"FLAG {name}: {', '.join(smells)}")
    print(f"\n{len(names) - flagged}/{len(names)} clean ({flagged} unwaived)")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
