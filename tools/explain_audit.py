#!/usr/bin/env python
"""Physical-plan audit: print and sanity-check the executed plans of the
relational headline queries — the ".explain and iterate" discipline as a
repeatable tool.

Checks per query:
  * every parquet scan has a pruned ReadSchema (no full-width scans);
  * filters that can push down appear in PushedFilters;
  * dimension joins are BroadcastHashJoin (no SortMergeJoin on a side we
    know is small at any SF);
  * no CartesianProduct anywhere.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

AUDITS = {
    # query -> (min broadcasts, forbid sortmerge, require pushed filters)
    "q1_pricing_summary": (0, False, True),
    "q3_shipping_priority": (2, True, True),
    "q5_nation_revenue": (3, False, True),
    "events_type_stats": (0, False, False),
    "events_top_users_window": (0, False, False),
    "customers_without_orders": (0, False, True),
    "order_fill_left_join": (0, False, True),
    "part_supplier_set_ops": (0, False, True),
    "events_json_props": (0, False, False),
    "purchases_asof_view": (0, False, True),
    "events_sessionized": (0, False, False),
    # both sides pre-aggregate to <=25 rows; the full-outer join itself may
    # stay broadcast or SMJ depending on AQE stats — only forbid cartesian
    "nation_balance_full_join": (0, False, True),
    "events_user_type_map": (0, False, False),
    "lineitem_cube_counts": (0, False, False),
    "events_type_pivot": (0, False, False),
    # filter must reach the scan BELOW the generator (posexplode)
    "embedding_posexplode": (0, False, True),
    # bucket-expansion range join: the pair join must be a hash/merge
    # EQUI join (no CartesianProduct / nested loop; cartesian check below)
    "purchase_prior_events_range_join": (0, False, True),
    # fingerprint blocking: map-only + one window shuffle, pruned scan
    "doc_fingerprint_clusters": (0, False, False),
    # the (value -> bucket) digest-probe dim must BROADCAST
    "lineitem_quantile_buckets": (1, True, False),
    # wordcount: map-side partial agg + TakeOrderedAndProject, 2-col scan
    "doc_vocab_topk": (0, False, False),
    # MG second pass: 1-col scan, INSET candidate filter before the agg
    "mg_heavy_words": (0, False, False),
    # cleaning pipeline: map-side gates, window dedup, final agg — no
    # joins at all, so any cartesian/SMJ is a regression
    "doc_clean_pipeline": (0, True, False),
    # bigram wordcount: same shape contract as doc_vocab_topk
    "doc_bigram_topk": (0, False, False),
    # TF-IDF: the per-word df dim and the 1-row n_sources scalar must
    # both BROADCAST onto the persisted tf aggregate; the top-3 window
    # partitions by source (never a global rank — NO_GLOBAL_WINDOW)
    "doc_tfidf_top_terms": (1, False, False),
    # grouped k-fold: fold assignment is a map-side hash expression —
    # one keyed aggregation, no join at all
    "doc_grouped_kfold_split": (0, True, False),
    # SRM gate / Welch t / safety screen: map-side expressions + one
    # aggregate — any join is a regression
    "events_ab_srm_check": (0, True, False),
    "doc_safety_keyword_screen": (0, True, False),
    # winsorized mean: the 5-row per-type cuts dim must BROADCAST back
    # onto the (type, cents) histogram
    "events_winsorized_mean": (1, True, False),
    # curriculum pack: two per-language windows + one aggregation,
    # no join
    "doc_curriculum_pack": (0, True, False),
    # correlated EXISTS must decorrelate to a (broadcast) SEMI join with
    # the l_returnflag predicate pushed to the scan — a per-row subquery
    # or cartesian here is a scale regression
    "orders_exists_subquery": (1, False, True),
    # correlated scalar subquery: per-partkey aggregate joined back; two
    # scans of lineitem, both width-pruned
    "part_avg_correlated_subquery": (1, False, False),
    # KL drift: (text, source)-pruned single cached scan; per-group totals
    # join back via an explicit broadcast (the 1-row grand total rides a
    # BroadcastNestedLoopJoin, which the cartesian check rightly ignores)
    "doc_source_word_kl": (1, False, False),
    # PSI: conditional partials per bucket — NO equi join anywhere, so any
    # SMJ/cartesian is a regression; 2-col pruned scan
    "events_value_psi": (0, True, False),
    # retention: one user_id shuffle + re-agg, no joins at all
    "events_weekly_retention": (0, True, False),
    # time-RANGE frame: one user_id shuffle + linear sliding-frame scan —
    # any join is a regression to the quadratic self-join formulation
    "events_user_trailing_hour": (0, True, False),
    # contamination report: the benchmark shingle set must BROADCAST
    # (map-side semi-join); an SMJ here would shuffle the whole corpus
    "doc_contamination_report": (1, True, False),
    # pruned-storage ANN: no joins; the index scan must carry a non-empty
    # PartitionFilters (bucket IN-list -> directory pruning, see
    # PARTITION_PRUNED below)
    "ann_pruned_topk": (0, True, False),
    # filtered ANN: directory pruning AND the label predicate pushed into
    # the surviving scans must BOTH show up
    "ann_pruned_filtered_topk": (0, True, True),
    # salted skew join: must be a shuffled hash join keyed on (hk, _salt)
    # (see SALTED below) — a broadcast here would mean the hint regressed
    # and the demo measures nothing
    "skewed_key_join": (0, True, False),
    # PII scrub: map-only regex stages + one agg shuffle — no joins at all
    "doc_pii_redaction": (0, True, False),
    # z-order clustered scan: the conjunctive range filter must push down
    # to the clustered copy's scan
    "lineitem_zorder_pruned_scan": (0, True, True),
    # static-Iceberg read: one pruned scan of the live snapshot file only
    "iceberg_snapshot_isolated_read": (0, True, False),
    # Q7: supplier/customer reduce to (key, nation) via broadcasts against
    # the name-filtered dim (predicate pushed); only lineitem-orders may
    # shuffle
    "q7_volume_shipping": (3, False, True),
    # Q12: one fact-fact equi join + tiny year rollup, no broadcasts needed
    "q12_priority_shipping": (0, False, False),
    # Q8: region in-list, cust keyset and (suppkey, nation) all broadcast;
    # the two-year predicate must push to the orders scan
    "q8_market_share": (3, False, True),
    # Q9: LIKE-filtered part + (suppkey, nation) broadcast; the p_name
    # contains-filter must push to the part scan
    "q9_product_profit": (2, False, True),
    # Q10: pre-aggregated custkey revenue, nation broadcast, pushed
    # returnflag + date-range predicates
    "q10_returned_items": (1, False, True),
    # Q13: filter-inside-outer-join pushed to the orders scan
    "q13_order_count_distribution": (0, False, True),
    # Q15: scalar MAX and the winner set both broadcast — no SMJ anywhere
    "q15_top_supplier": (2, True, True),
    # Q16: blacklist anti-join and attribute-filtered part dim broadcast
    "q16_parts_supplier_counts": (2, True, True),
    # Q18: HAVING keyset broadcasts into orders, result into customer
    "q18_large_volume_customers": (2, True, False),
    # Q19: part broadcast; Catalyst must extract per-side disjunction
    # envelopes as pushed filters
    "q19_disjunctive_revenue": (1, True, True),
    # Q21: semi/anti self-joins are large-large (SMJ fine); supplier
    # broadcast; o_orderstatus pushed
    "q21_waiting_suppliers": (1, False, True),
    # Q22: nation broadcast; the date predicate pushes to the orders scan
    # (threshold rides a 1-row BroadcastNestedLoopJoin)
    "q22_dormant_customers": (1, False, True),
    # Q14: the part dim must BROADCAST into the fact scan
    "q14_promo_revenue": (1, True, False),
    # substring dedup: span fan-out is map-side; the dup-hash join and the
    # doc coverage join are large-large — forbid cartesian only
    "token_span_dedup": (0, False, False),
    # tokenizer audit: explode + two hash aggregates, no joins at all
    "token_vocab_audit": (0, True, False),
    # Zipf fit: explode + agg + one per-source window + regression agg —
    # no joins at all
    "token_zipf_fit": (0, True, False),
    # bigram novelty: the solo-bigram semi-join is large-large (SMJ ok);
    # only forbid cartesian
    "token_bigram_novelty": (0, False, False),
    # Q2: part + region-filtered supplier dims broadcast into the
    # (part,supplier) rollup; p_type pushes to the part scan
    "q2_min_cost_supplier": (2, True, True),
    # Q4: EXISTS decorrelates to a semi join; date window pushes to the
    # orders scan (the join is large-large at scale, SMJ fine)
    "q4_order_priority": (0, False, True),
    # Q11: nation-filtered supplier dim broadcasts into the fact scan;
    # the scalar total rides a 1-row broadcast
    "q11_important_parts": (1, False, True),
    # Q17: brand part keys broadcast; per-part avg joins back broadcast
    "q17_small_quantity_revenue": (2, True, True),
    # Q20: red-part keys + qualifying-supplier rollup broadcast; the
    # LIKE prefix and date window push to their scans
    "q20_red_part_suppliers": (2, True, True),
    # window suite: one Window node, no joins at all; the type filter
    # pushes to the scan
    "events_window_function_suite": (0, True, True),
    # unpivot: Expand over the aggregated frame — no joins
    "lineitem_unpivot_measures": (0, True, False),
    # PMI: two wordcount aggregates + vocab joins (large-large SMJ ok) +
    # 1-row total broadcasts; only forbid cartesian
    "doc_pmi_collocations": (2, False, False),
    # LOCF gap fill: spine/hourly/window all shuffle on user_id (the join
    # may be SMJ — both sides large at scale); ts/type filter pushes
    "events_user_value_locf": (0, False, True),
    # BM25: the 3-row idf dim must BROADCAST; the query-term IN-list
    # filter and the text projection push to the scan
    "doc_bm25_topk": (1, False, True),
    # importance sampling: pure map-side bucket/threshold logic + one
    # group agg — no joins at all
    "doc_quality_importance_sample": (0, True, False),
    # distributed Gini rank: the bucket-offset dim must BROADCAST and no
    # Window may sit on an Exchange SinglePartition (see NO_GLOBAL_WINDOW
    # — the unpartitioned row_number formulation is the scale regression
    # this query exists to avoid)
    "events_user_gini": (1, True, False),
    # ABC/Pareto cut: same distributed-cumsum contract — bucket-offset
    # broadcast, every Window partitioned (value blocks + bit-length
    # buckets), and the revenue rollup never SMJs (part-cardinality join
    # against the tiny distinct-value side)
    "lineitem_abc_classification": (1, False, False),
    # quantile normalization: the bit-length bucket-offset dim broadcasts
    # (BHJ); the global-cum lookup is a broadcast nested-loop over a
    # value-cardinality dim (not a cartesian); per-source windows are
    # partitioned and the global cum rides distributed_value_cumsum —
    # no single-task Window allowed
    "doc_chars_quantile_normalize": (1, True, False),
    # vocab overlap: the two per-source size dims must BROADCAST; the
    # word self-join may SMJ at scale (both sides large, bounded fan-out
    # per word) so SMJ is allowed; no cartesian
    "doc_source_vocab_overlap": (2, False, False),
    # temperature mix: corpus collapses to one groupBy; totals come back
    # as a 1-row broadcast nested-loop cross join — never an SMJ
    "doc_source_temperature_mix": (0, True, False),
    # bigram LM: the per-source terms dim broadcasts; the c12/c1 count
    # joins may SMJ at scale (vocab-sized both sides); no cartesian
    "doc_bigram_lm_quality": (1, False, False),
    # hour-of-day chi-square: two stacked aggregations, no joins, no
    # windows, no spine (the algebraic identity removes it)
    "events_hourofday_chi2": (0, True, False),
    # cohort LTV: the cohort month is a MIN window partitioned by
    # customer (one shuffle, never a join-back, never a global window)
    "orders_cohort_ltv": (0, True, False),
    # sequence regex match: one user_id shuffle (sorted collect), the
    # user_id IS NOT NULL filter pushes; no joins at all
    "events_sequence_pattern_match": (0, True, True),
    # key-skew report: stack unpivot + two stacked aggregations in one
    # scan — no joins, no windows
    "lineitem_key_skew_report": (0, True, False),
    # recursive reachability: the corpus stage is the lag edge pass; the
    # recursion runs over the #types^2 edge list (no cartesian)
    "events_type_reachability": (0, False, False),
    # A/B z-test: one user_id aggregation + 1-row broadcast cross join;
    # the user_id/event_type filters push to the scan
    "events_ab_test_ztest": (0, True, True),
    # Mann-Whitney: the cumsum bucket-offset dim broadcasts (visible
    # side of the checkpoint boundary); never an SMJ
    "events_mannwhitney_value": (2, True, False),
    # KS: both cumsum joins sit behind the lazy-checkpoint boundary;
    # the visible plan is aggregation + broadcast totals only
    "events_ks_test_value": (0, True, False),
    # Welch t: ONE scan (2 pruned cols, pushed IN/IsNotNull filters),
    # map-side partial agg to a single 6-long row — no joins at all
    "events_welch_ttest_value": (0, True, True),
    # Neyman allocation: one 2-col scan (behind the lazy-checkpoint
    # boundary) to a 20-key moment agg; the 1-row total comes back as a
    # BroadcastNestedLoopJoin (keyless cross) — never an SMJ/cartesian
    "doc_neyman_allocation": (0, True, False),
    # Spearman: both rank passes ride distributed_value_cumsum, so the
    # two bucket-offset dims must BROADCAST and no Window may collapse to
    # a single partition; the per-user agg sits behind a lazy checkpoint
    # (scan not visible), and the x/y rank join-backs may SMJ at scale
    # (the y dim is value-cardinality ~ n_users)
    "events_user_spearman": (2, False, False),
    # Kruskal-Wallis: the bucket-offset dim broadcasts; the value-level
    # rank join-back may SMJ at scale (value-cardinality both sides);
    # the scan sits behind the (type,value)-agg lazy checkpoint so no
    # PushedFilters are visible
    "events_kruskal_wallis": (1, False, False),
    # OLS: ONE pruned 2-col scan with pushed notnull filters, one
    # user_id shuffle, one 6-long reduce — no joins at all
    "events_user_engagement_ols": (0, True, True),
    # CUSUM changepoint: 1-col scan to a per-hour partial agg; the ≤720-
    # row hourly series rides one global window (scale-safe: hours grow
    # with calendar time, not data volume) and the 1-row total comes
    # back broadcast — never an SMJ
    "events_cusum_changepoint": (0, True, False),
    # k-means Lloyd: the 512-row centroid dim plus the per-cluster B/c
    # dims must BROADCAST; the vec_id assignment join-backs may SMJ at
    # scale; scans hide behind the quantized-explode lazy checkpoint
    "embedding_kmeans_lloyd": (3, False, False),
    # pipe syntax lowers to the same Catalyst plan as nested SQL: the
    # status filter must push down, one 2-col scan, no joins
    "orders_pipe_syntax_summary": (0, True, True),
    # Poisson bootstrap: the replica explode collapses map-side into the
    # 40-group agg — no joins except the final 1-row broadcast cross;
    # per-user agg sits behind a lazy checkpoint
    "events_bootstrap_mean_ci": (0, True, False),
    # randomization test: same shape as the bootstrap — replica explode
    # collapses map-side, the 60-row diffs dim broadcast-crosses the
    # 1-row observed agg; no equi joins
    "events_permutation_test": (0, True, False),
    # forecast backtest: value-lag joins on the calendar-bounded hourly
    # series (tiny; AQE may broadcast or SMJ), 1-row hmax cross
    "events_forecast_backtest": (0, False, False),
    # RFM: three bucket-offset dims (one per metric's distributed
    # quartile cuts) must BROADCAST; cut frames come back as keyless
    # 1-row crosses; no SMJ anywhere; no single-partition window
    "orders_rfm_segmentation": (3, True, False),
    # chi-square independence: 35-cell contingency agg, margins join
    # back via broadcasts (tiny dims), 1-row total cross; no SMJ
    "events_type_dow_independence": (2, True, False),
    # Nelson-Aalen: per-user agg behind a checkpoint; the ≤31-row
    # duration series rides calendar-bounded global windows; 1-row gmax
    # cross is the only join
    "events_user_survival_hazard": (0, True, False),
    # co-moment matrix: ONE pruned scan (user_id, value), one user_id
    # shuffle, one 10-long reduce — no joins at all
    "events_metric_correlation_matrix": (0, True, True),
    # Simpson screen: grouped + pooled moments read one checkpointed
    # base; 1-row h0 and pooled-sign crosses are the only joins
    "events_simpson_slope_check": (0, True, False),
    # CUPED: one checkpointed (user,h,cents) base, 1-row hmid cross,
    # one user_id shuffle to an 11-moment reduce — no equi joins
    "events_ab_cuped_adjustment": (0, True, False),
    # LATERAL top-3 per customer: Catalyst DecorrelateInnerQuery must
    # rewrite the correlated limit into a per-custkey rank (never a
    # per-row rescan); the pre-aggregated sides broadcast; modulo
    # sampling stays a DataFilter (not parquet-pushable) so no pushed
    # requirement
    "customer_top_orders_lateral": (2, True, False),
    # sweep line: the bucket-offset dim broadcasts, session windows are
    # user-partitioned, the running sum windows by calendar bucket —
    # no SMJ anywhere, user_id IS NOT NULL pushes to the scan
    "events_max_concurrent_sessions": (2, True, True),
    # truncated EMA: hourly partial agg + per-type rank window — no
    # joins at all; the value IS NOT NULL filter pushes to the scan
    "events_hourly_ema": (0, True, True),
    # dynamic-gap sessions: the native session_window aggregation is one
    # user_id shuffle, no joins; user_id IS NOT NULL pushes to the scan
    "events_dynamic_gap_sessions": (0, True, True),
    # listagg top-3: two-stage rank (pid-local prune first) so the
    # 5-cardinality priority window never sees N/5 rows; no joins
    "orders_priority_listagg": (0, True, False),
    # readability: one 2-col scan, map-side regexp counts, 20-row agg
    "doc_readability_scores": (0, True, False),
    # benford: ONE pruned scan into a checkpointed 9-row digit agg;
    # total/chi2 come back as keyless broadcast nested-loop (not BHJ)
    "orders_benford_audit": (0, True, False),
    # grouped digests: pruned 2-col scan, map-side partial states, one
    # state-only shuffle to the per-key fold, no join
    "grouped_digest_functions": (0, True, False),
}

# queries whose scan must show directory-level partition pruning: a
# non-empty PartitionFilters on a parquet scan node
PARTITION_PRUNED = {"ann_pruned_topk", "ann_pruned_filtered_topk"}

# queries whose executed plan must contain a ShuffledHashJoin whose join
# keys include the salt column (the skew-spread mechanism)
SALTED = {"skewed_key_join"}

# queries whose plan must not rank/window over a single partition: no
# Window node may have an Exchange SinglePartition within its subtree
# prefix (plan text is parent-first, so the child exchange prints within
# the next few lines)
NO_GLOBAL_WINDOW = {
    "customer_top_orders_lateral",
    "events_hourly_ema",
    "events_max_concurrent_sessions",
    "events_user_gini",
    "orders_priority_listagg",
    "lineitem_abc_classification",
    "doc_chars_quantile_normalize",
    "orders_cohort_ltv",
    "events_mannwhitney_value",
    "events_ks_test_value",
    "events_user_spearman",
    "events_kruskal_wallis",
    "orders_rfm_segmentation",
    "doc_tfidf_top_terms",
}


def _window_on_single_partition(plan: str) -> bool:
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window " in ln:
            for nxt in lines[i + 1 : i + 4]:
                if "Exchange SinglePartition" in nxt:
                    return True
    return False


def main() -> int:
    import __spark_entry__ as entrymod
    from tdigest_spark.sources.tables import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]", app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    bad = []
    for name, (min_bc, forbid_smj, want_push) in AUDITS.items():
        df = qs[name](spark, sf_dir)
        # collect() executes THIS df's QueryExecution so the adaptive plan
        # finalizes (a count() runs a derived plan and leaves this one at
        # isFinalPlan=false, hiding AQE's SMJ->BHJ / skew-split decisions)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_bc = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        n_cart = plan.count("CartesianProduct")
        pushed = [
            p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p
        ]
        # stop at end-of-line too: Spark TRUNCATES long schema strings
        # ("l_shipdate:tim..." with no closing '>'), and a greedy cross-line
        # match would count phantom columns from unrelated plan lines
        schemas = re.findall(r"ReadSchema: struct<([^>\n]*)", plan)
        # count only TOP-LEVEL fields: commas inside nested types
        # (map<string,int>, struct<...>) must not inflate the width

        def _width(s: str) -> int:
            depth, n = 0, 1
            for ch in s:
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                elif ch == "," and depth == 0:
                    n += 1
            return n

        widths = [_width(s) for s in schemas]
        part_filters = [
            p for p in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan) if p
        ]
        ok = (
            n_bc >= min_bc
            and (not forbid_smj or n_smj == 0)
            and n_cart == 0
            and (not want_push or pushed)
            and all(w <= 8 for w in widths)
            and (name not in PARTITION_PRUNED or part_filters)
            and (
                name not in SALTED
                or ("ShuffledHashJoin" in plan and "_salt" in plan)
            )
            and (
                name not in NO_GLOBAL_WINDOW
                or not _window_on_single_partition(plan)
            )
        )
        status = "OK  " if ok else "BAD "
        if not ok:
            bad.append(name)
        print(
            f"{status}{name}: broadcast={n_bc} smj={n_smj} cart={n_cart} "
            f"pushed={len(pushed)} scan_widths={widths}"
        )
    spark.stop()
    if bad:
        print("\nAUDIT FAILURES:", ", ".join(bad))
        return 1
    print("\nPLAN AUDIT PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
