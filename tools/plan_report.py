"""Generate PLANS.md: annotated physical plans for the headline queries.

Run: python tools/plan_report.py [sf_dir]

For each selected query the report shows the `.explain("formatted")` output
plus the scale property the plan is supposed to exhibit, so plan quality can
be reviewed without executing anything. The same properties are asserted in
tests/test_plan_quality.py; this artifact is the human-readable companion.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_store_fraud_detection_spark.plans.registry import QUERIES
from feature_store_fraud_detection_spark.session import get_spark

# query -> the property a reviewer should see in the plan
SELECTED: dict[str, str] = {
    "flagship_features": (
        "ONE `Exchange hashpartitioning(cc_num)` and ONE `Window` node "
        "evaluating both trailing range frames (600 s count, 3600 s avg) in a "
        "single running pass; scalar features fold into the scan-side "
        "projection inside WholeStageCodegen."
    ),
    "bucketed_trailing_features": (
        "The skew-resistant twin: every `Exchange hashpartitioning` carries "
        "`(key, __bkt)` — never the bare key — so a hot key fans out over "
        "its time range. Cost is 3 bucket-keyed shuffles + a row-id join; "
        "use when the key histogram is pathological."
    ),
    "pricing_summary": (
        "Scan reads 7 of 16 lineitem columns (`ReadSchema`), the shipdate "
        "filter reaches the scan (`PushedFilters`), and partial aggregation "
        "(`HashAggregate` x2 around the exchange) combines map-side."
    ),
    "revenue_by_nation": (
        "All three dimension joins are `BroadcastHashJoin` — the lineitem "
        "fact table is never shuffled; the only exchange is the final "
        "groupBy(n_name)."
    ),
    "large_orders": (
        "The HAVING aggregate leaves the big side partitioned on "
        "l_orderkey; the join back to orders reuses that partitioning "
        "(no re-exchange of the aggregate output)."
    ),
    "disjunctive_revenue": (
        "Hand-stated convex-hull conjuncts of the OR-of-conjunctions reach "
        "BOTH parquet scans as `PushedFilters` (row-group pruning); the "
        "exact disjunction evaluates after the broadcast join."
    ),
    "latest5_per_key": (
        "`WindowGroupLimit` prunes each key to its top-5 BEFORE the final "
        "sort — the serving path never materializes full per-key history."
    ),
    "minhash_lsh_pairs": (
        "Signatures are computed array-locally (narrow stage, one nested "
        "higher-order expression for all K permutations); shuffles move "
        "32-byte digests, never documents; verification joins per-doc "
        "shingle arrays with `array_intersect` (no shuffle)."
    ),
    "cosine_topk": (
        "Brute-force ANN baseline: the corpus side is broadcast, the "
        "per-pair dot product is a sequential fold inside codegen, and "
        "`WindowGroupLimit` caps each query's candidates at k."
    ),
    "salted_stats": (
        "Two-level aggregation: partial aggregate over (key, salt) fans a "
        "hot key across reducers; the final combine groups the uniform "
        "(key) space."
    ),
    "corpus_prep_pipeline": (
        "The whole corpus-prep flow (profile -> dedup -> gate -> stats) as "
        "one fused plan: profile expressions fold into the scan projection, "
        "the dedup window is the only wide stage on documents, and the "
        "source join broadcasts."
    ),
    "bm25_topk": (
        "Tokenize + explode + isin all fuse in the scan stage (non-query "
        "tokens never leave it); df/corpus stats broadcast (BroadcastHash/"
        "NestedLoop); the final top-k is `TakeOrderedAndProject`, not a "
        "global sort."
    ),
    "pack_sequences": (
        "Exactly ONE `Exchange hashpartitioning(shard)` feeding the "
        "prefix-sum window — packing parallelism equals the shard count; "
        "no SinglePartition exchange anywhere."
    ),
    "dup_ngram_stats": (
        "Inverted-index dedup signal: every exchange carries the md5 digest "
        "column, never raw shingle text; the doc-frequency aggregate "
        "combines map-side before its shuffle."
    ),
    "geo_proximity_pairs": (
        "Spatial join as a keyed hash join on integer grid-cell ids: the "
        "3x3 cover explode is a row-local generator; no cartesian product, "
        "no range join — candidates verify with in-codegen haversine."
    ),
    # round-6 additions
    "quantile_normalize_sources": (
        "The ntile window sorts WITHIN each source partition (`Exchange "
        "hashpartitioning(source)`, never SinglePartition); the "
        "n_buckets-row remap table joins back as `BroadcastHashJoin`."
    ),
    "holt_forecast": (
        "Rows reduce to per-key daily DECIMAL totals, then ONE keyed "
        "aggregate whose sequential struct fold is array-local — no join, "
        "no window anywhere in the plan."
    ),
    "theil_sen_trend": (
        "Same bounded-frame shape as holt: the O(days^2) pairwise-slope "
        "list is built inside the aggregate's array expressions — never a "
        "row explosion or a join."
    ),
    "hll_distinct_users": (
        "Pure keyed aggregation: one hash-aggregate to <= 4096 registers "
        "per key, one to the estimate. No join, no window; shuffle rows "
        "are (key, register) pairs regardless of cardinality."
    ),
    "attribution_position": (
        "Journey id (reversed cumulative count), forward rank and journey "
        "size all come from windows over ONE user-keyed exchange family; "
        "the channel rollup is a plain keyed integer sum (credit in exact "
        "millionths — no sorted-fold collect bound)."
    ),
    "textrank_keywords": (
        "Composes the exact scaled-BIGINT pagerank: the word co-occurrence "
        "edge cache is built once (min_count floor bounds |V|), every "
        "iteration broadcasts the |V|-row rank table over it, and the "
        "final top-k is a TakeOrdered — no global sort."
    ),
    "cusum_segments": (
        "Root level is the cusum_peak plan (one key shuffle serving all "
        "windows); the child level re-windows on (key, segment) from the "
        "same hash family plus one keyed join carrying the split point."
    ),
    # round-7 additions
    "mann_whitney_events": (
        "Raw rows collapse to ONE distinct-value hash aggregate; the rank "
        "prefix sum over it is sharded by broadcast quantile cuts (per-"
        "bucket windows + a bounded offsets table) — no SortMergeJoin, no "
        "global sort of row-scale data; the final statistics are one "
        "4-term scalar aggregate."
    ),
    "anova_priority": (
        "One keyed moment aggregate (exact BIGINT/DECIMAL cents) to k "
        "rows; the 1-row global F/eta^2 fans back over the k-row group "
        "table via BroadcastNestedLoopJoin. No window, no sort-merge "
        "join."
    ),
    "holt_winters_forecast": (
        "Keeps holt_forecast's shape: per-key daily DECIMAL totals, then "
        "ONE keyed aggregate whose sequential struct fold carries the "
        "period-slot seasonal queue as an array — no join, no window."
    ),
    "sssp_nations": (
        "Nation-pair edge weights reduce via one keyed min-aggregate; "
        "the persisted edge cache and the seed go to one grouped-map "
        "Arrow pass (FlatMapGroupsInArrow) that runs every Bellman-Ford "
        "round and the assert_converged round (the one-pass regime, "
        "under ONE_PASS_EDGE_LIMIT edges) — pure BIGINT min/plus, and the "
        "extra round fails loud instead of silently truncating deep graphs."
    ),
    "dsir_selection": (
        "Term stats join per-doc tf CO-PARTITIONED on term (the "
        "vocabulary is never broadcast — it can be arbitrarily large); "
        "only the 1-row totals broadcast; the per-doc sorted fold is "
        "array-local and the top-100 finishes in TakeOrderedAndProject."
    ),
    "ks_two_sample": (
        "Mann-Whitney's scale shape exactly: distinct-value hash "
        "aggregate, broadcast-cut sharded prefix windows, then two "
        "bounded scalar aggregates for the argmax — no SortMergeJoin, "
        "no global raw-row sort."
    ),
    "t_closeness": (
        "One (QI, v) count whose class-size window partitions by the QI "
        "columns; the |V|-row global distribution and the 1-row total "
        "broadcast. Numerators are exact DECIMAL(38,0) products (a "
        "non-ANSI BIGINT product wraps silently past ~3e9 rows) with a "
        "fail-loud BIGINT report narrowing; no sort-merge join anywhere."
    ),
    "t_closeness_emd": (
        "The ordered-domain twin: the |V|-row global histogram (plus its "
        "single-partition prefix window — bounded BY the ordered-domain "
        "threat model) broadcasts onto the class table, the dense class "
        "x value grid takes ONE per-class ordered prefix window, and "
        "every cumulative-gap term is DECIMAL(38,0)-exact until the "
        "final (mv-1)*n_c*N ratio."
    ),
    "kaplan_meier_users": (
        "Subjects collapse to ONE keyed (min,max) aggregate; the global "
        "cutoff broadcasts; everything after — at-risk prefix window, "
        "survival fold — rides the bounded day table (max_days-capped), "
        "so no subject-row sort, join, or window anywhere."
    ),
    "linkage_supervised_m": (
        "The labeled m-estimate is two id-keyed equi-joins of the "
        "bounded labeled-pair table against profiles (broadcastable "
        "when labels are scarce) + ONE 1-row aggregate unpivoted via "
        "stack; driver state is 2 integers per field. The u-histogram "
        "folds are per-field bounded aggregates."
    ),
    "cmh_urgent_highvalue": (
        "One (stratum) hash aggregate collapses all rows to exact 2x2 "
        "counts; every E/V/odds term folds stratum-sorted over that "
        "bounded frame; the global chi2/OR broadcast back as a 1-row "
        "frame. No window over raw rows, no join on the fact side."
    ),
    "conformal_events": (
        "q_hat is a prefix window over the DISTINCT quantized-score "
        "table (bounded by score cardinality, never a global row "
        "sort); the test side joins only the broadcast 1-row q_hat "
        "frame — calibration and test rows never join each other."
    ),
    "split_novelty": (
        "Both splits collapse to DISTINCT md5 digest tables (every "
        "exchange carries 32-byte digests, never shingle text); the "
        "train-index probe is one digest-keyed left join with NO "
        "broadcast-of-the-corpus assumption; the readout is one "
        "per-doc count aggregate."
    ),
    "group_sequential": (
        "One keyed unit aggregate; the K-look explode rides the UNIT "
        "table (units x 5 rows, never events); window bounds broadcast "
        "as a 1-row scalar; per-look counts collapse in one 5-row hash "
        "aggregate and the z/boundary algebra is a final projection."
    ),
    "acf_priority": (
        "Lag pairs come from ONE self-join co-partitioned on (key, "
        "integer day-number) after the lag explode — bounded |days| x "
        "max_lag per key; six exact moments collapse in one (key, lag) "
        "hash aggregate; no window, no driver state."
    ),
    "pettitt_priority": (
        "Ranks come from the per-(key, value) DISTINCT aggregate with "
        "key-partitioned prefix windows — never a raw-row or global "
        "sort; U_t is window arithmetic over the bounded day table and "
        "the argmax joins the broadcast per-key max. Entirely integer "
        "output."
    ),
    "stratified_ate": (
        "ONE (stratum) hash aggregate of exact integer-cents moments; "
        "the stratum-sorted weighted-diff fold and the replicated "
        "global ATE ride the bounded stratum table via broadcast — no "
        "window, no sort-merge join."
    ),
    "isotonic_calibration": (
        "ONE hash aggregate to <= n_bins rows; the closed-form minimax "
        "(max_j min_k prefix fractions, EXACT cross-multiplied integer "
        "comparisons) rides array folds over that bounded table — no "
        "join, no row-scale window, no PAV iteration."
    ),
    "logrank_segments": (
        "kaplan_meier's shape plus one keyed customer join: subjects "
        "collapse to one keyed aggregate, totals broadcast, and the "
        "O/E/V folds ride the bounded death-day table — the z/chi2 "
        "algebra is a final projection."
    ),
    "drift_fdr": (
        "Rows collapse to one (group, value) hash aggregate; cumulative "
        "counts are GROUP-partitioned prefix windows (groups shard "
        "naturally); per-group totals broadcast back; BH ranks and the "
        "step-up max ride two single-partition windows over the m-row "
        "test table — bounded state, not data."
    ),
    "linkage_em_weights": (
        "Identical candidate generation to linkage_pairs (blocked keyed "
        "equi-join, never CartesianProduct); pairs collapse to a <=2^k-"
        "row agreement-pattern hash aggregate, the ONLY thing the driver "
        "pulls; the 20-iteration EM is bounded driver arithmetic whose "
        "result returns as a 1-row-per-field literal table — no second "
        "pass over the data."
    ),
    "ratio_metric_ci": (
        "One keyed per-unit aggregate (exact quantized DECIMAL moments) "
        "+ one 1-row moment aggregate carrying both arms' five moments "
        "as conditional sums — no window, no join; the delta-method "
        "algebra is a final projection."
    ),
    "linkage_pairs": (
        "Profiles come from three keyed aggregates + two per-user argmax "
        "windows; candidate pairs exist only within the modal-type block "
        "(keyed equi-join, never CartesianProduct); u statistics are "
        "bounded driver scalars folded into the score projection as "
        "literals; the top-50 is a TakeOrderedAndProject."
    ),
    "brier_report": (
        "One hash aggregate to n_bins rows of exact integer moments; "
        "REL/RES/UNC fold bin-sorted over that bounded table and the "
        "1-row global stats broadcast back over the per-bin report."
    ),
    "experiment_power": (
        "The cuped shape: one keyed per-unit aggregate, one 1-row "
        "moment aggregate, MDE algebra as a final projection with the z "
        "constants folded as plan literals."
    ),
    "kruskal_event_types": (
        "Rows collapse to hash aggregates per (group, value) then per value; "
        "the rank prefix is a `Window` PARTITIONED by quantile bucket over "
        "the distinct-value table (never a global row sort), and the only "
        "partition-less Windows sit over the n_buckets-row offsets table. "
        "Group rank sums join back value-keyed; H folds over the k-row "
        "group table."
    ),
    "avg_precision_purchase": (
        "exact_auc's surface: one hash aggregate to distinct scores, one "
        "prefix `Window` over that aggregated frame (max_thresholds "
        "fail-louds the unquantized-score case), totals broadcast back, one "
        "score-sorted array fold. No per-row Python, no global sort of raw "
        "rows."
    ),
    "decomposition_priority": (
        "acf_profile's calendar pattern: one (key, day) aggregate, the "
        "centered-MA window as an explode-by-offset CO-KEYED join "
        "(`Exchange hashpartitioning` on (key, day) both sides — |days| x "
        "period rows, bounded by the calendar), seasonal indices as a "
        "bounded per-slot aggregate broadcast back. No row windows, no "
        "driver state."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_report")
    out = [
        "# PLANS — annotated physical plans (generated by tools/plan_report.py)",
        "",
        f"Scale-factor dir: `{sf_dir}`. Regenerate after plan-affecting changes:",
        "`python tools/plan_report.py`. The same properties are asserted in",
        "`tests/test_plan_quality.py`; this file is the human-readable companion.",
        "",
    ]
    for name, prop in SELECTED.items():
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Property:** {prop}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(SELECTED)} plans)")


if __name__ == "__main__":
    main()
