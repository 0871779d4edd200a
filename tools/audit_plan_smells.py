"""Catalog-wide physical-plan smell audit.

Builds every batch query's executed plan (EXPLAIN, no job run) and
flags the patterns that kill 100 TB runs:

* CartesianProduct / BroadcastNestedLoopJoin — all-pairs joins (only
  acceptable when one side is a literal 1-row aggregate or a declared
  tiny side; those are listed in ALLOW below with a reason);
* SinglePartition exchanges feeding non-final stages (a global window
  or global sort in the middle of a pipeline);
* row-at-a-time PythonUDF in a scan-side filter/project (BatchEvalPython
  outside mapInPandas/ArrowEval paths).

Streaming queries are audited too: their builders execute their
bounded streams eagerly through streaming_queries._run_bounded, which
records each run's last micro-batch physical plan (explainInternal),
and the same smell checks run over every captured micro-batch plan
plus the returned batch DataFrame's plan.

Usage: python tools/audit_plan_smells.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kbrowse_spark.catalog import all_queries  # noqa: E402
from kbrowse_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# name -> (pattern allowed, reason)
ALLOW = {
    # 1-row corpus-stats aggregates broadcast into every row: a
    # BroadcastNestedLoopJoin over a single-row build side is the
    # intended "attach scalar" plan.
    "scalar_subquery_avg": "1-row scalar aggregate attach",
    "tfidf_top_terms": "1-row n_docs aggregate attach",
    "bm25_term_scores": "2-scalar stats aggregate attach",
    "vocab_oov_rate": "vocab top-k broadcast membership",
    "mix_token_budget": "2-row rate table attach",
    "quality_classifier_logit": "1-row weight vector attach",
    "decontaminate_benchmark": "eval-suite broadcast membership",
    "boilerplate_shingle_ratio": "1-row corpus total attach",
    "quality_lm_surprisal": "1-row corpus total attach",
    "ngram_novelty_rate": "1-row corpus total attach",
    "text_heavy_hitters": "1-row corpus total attach",
    "knn_bruteforce_cosine": "broadcast literal query vector",
    "sample_stratified": "1-row stratum-count attach",
    # Adaptive LSH band width (r8): the corpus COUNT(*) attaches as a
    # 1-row broadcast so the bits-per-band CASE ladder is in-plan.
    "embedding_neardup_lsh": "1-row corpus-count attach (adaptive band width)",
    "embedding_neardup_rerank_np": "1-row corpus-count attach (adaptive band width)",
    # r9 instrumentation/sketch readouts: every cross side is a 1-row
    # aggregate or a literal <=3-row probe table by construction.
    "neardup_lsh_pair_stats": "1-row corpus/gross/distinct aggregate attaches",
    "quantile_ddsketch_chars": "3-row literal quantile-probe attach",
    "approx_percentile_prices": (
        "3-row literal quantile-probe attach onto the SKETCH-grain "
        "cumulative table (the quantile_ddsketch_chars shape, r13)"
    ),
    "hll_fold_precision_ladder": (
        "1-row exact-count attach onto the 3-row fold ladder "
        "(register-grain everything, rollup.py r13)"
    ),
    "hll_set_algebra_pairs": (
        "10-row priority-pair block x <=5x256-row register table "
        "(OR-key union-merge fan-out; both sides sketch-grain, "
        "rollup.py r13)"
    ),
    "stream_ddq_latency_monitor": (
        "3-row literal quantile-probe attach onto the SKETCH-grain "
        "state-snapshot cumulative table (the quantile_ddsketch_chars "
        "readout, streaming_queries.py r13)"
    ),
    "kl_divergence_lang_mix": (
        "1-row corpus-total attach onto the LANG-grain ratio table "
        "(5 rows; corpus_stats.py r13)"
    ),
    "stream_state_introspection": (
        "1-row state-metadata attach onto the KEY-grain statestore "
        "read (checkpoint files only; streaming_queries.py r13)"
    ),
    "ddsketch_merge_audit": "3-row literal quantile-probe attach (the quantile_ddsketch_chars readout over the merged sketch)",
    "linkage_sorted_neighborhood": "4-row literal pass-id attach",
    "skyline_price_size": "carry window over the domain-bounded price-bucket table (~20 rows)",
    "eval_auc_rank": "carry window over the model-domain-bounded score-bucket table",
    "eval_gains_deciles": "carry window over score buckets + cumulative over the 10-row decile table",
    # Iterative BPE: each round's argmax merge rule is a 1-row
    # broadcast attach (in-plan pair selection, no driver collect).
    "bpe_train_merges": "1-row argmax merge-rule attach per round",
    "bpe_tokenize_stats": "1-row argmax merge-rule attach per round (shared BPE chain)",
    # ANN lookups broadcast the query block by design: the corpus side
    # scales out; the query side is the bounded lookup batch.
    "ann_lsh_projection": "broadcast query vector + Hamming<=1 probe set",
    "ann_pq_adc": "broadcast 1-row query distance table (ADC lookup)",
    "ann_ivf_label": "broadcast query vector probing nprobe cells",
    "knn_batch_topk_join": "broadcast bounded query block (design contract)",
    # TPC-H Q11/Q22 compare against scalar subqueries: 1-row attach.
    "q11_important_stock": "1-row group-total threshold attach",
    "q22_idle_customer_balance": "1-row avg-acctbal threshold attach",
    "chisq_type_bucket_cells": "1-row grand-total attach to the cell table",
    "ab_test_welch": "1-row treatment x 1-row control readout join",
    # Theta/band join is non-equi by definition; the catalog documents
    # the band-partitioned rewrite as the at-scale plan.
    "join_theta_price_band": "declared theta join (non-equi) demo",
    # Grid densification crosses a 1-row bounds aggregate with the
    # (tiny) observed dimension table.
    "timeseries_gap_fill": "1-row bounds aggregate x type dimension",
    # CUPED attaches the 1-row (theta, n, sx) moments aggregate to the
    # per-user table — a broadcast of one row by construction.
    "cuped_adjusted_metric": "1-row CUPED theta/moments attach",
    # Calibration bins attach the 1-row (smin, smax) score-range
    # aggregate so binning stays in-plan.
    "eval_calibration_bins": "1-row score min/max attach",
    # Governance/ops audits: every cross side is a 1-row total or a
    # literal candidate table; re-aggregation runs at group/key grain.
    "kanonymity_audit": (
        "1-row total attach + 3-row literal k-candidate attach over "
        "the QI-group-grain table (data_quality.py)"
    ),
    "ann_ivf_recall_audit": (
        "exhaustive arm: the bounded 8-query block broadcast-crosses "
        "the point table (the knn_bruteforce_cosine sampled-recall "
        "shape — measuring recall exactly requires one exact scan)"
    ),
    "graph_modularity_lpa": (
        "1-row scalar assembly: four 1-row aggregates (node/community "
        "counts, edge count, within count, degree-square sum) "
        "cross-attached into the single Q row"
    ),
    "fairness_disparate_impact": (
        "1-row reference-group attach (max-rate group) onto the "
        "5-row segment-grain table"
    ),
    "encoding_advisor_stats": (
        "readout assembly: two 1-row total attaches (transition sums, "
        "boundary sums) onto the 1-row distinct-count profile; the "
        "single-partition sort/window is the SUPERBUCKET-grain carry "
        "stitch (corpus/64^2 rows, broadcast — the two-level "
        "max_concurrency_sweep sharded-prefix-sum pattern; the "
        "bucket-grain lag itself runs partitioned by superbucket)"
    ),
    "dbscan_grid_clusters": (
        "noise-row assembly: two 1-row total attaches (core count, "
        "border count) onto the 1-row point count"
    ),
    "skew_salt_apply": (
        "readout assembly: 1-row salted-key-count attach onto the "
        "2-row variant balance table"
    ),
    "stream_hotkey_gate": (
        "readout assembly: 1-row total attach (tot, n_arr) onto the "
        "hot-key dim, which is <= P rows BY PIGEONHOLE (keys above "
        "1/P of traffic); the single-partition stage is the "
        "hot-key-grain (<=32-row) drift readout"
    ),
    "scd2_asof_snapshot": (
        "two 1-row broadcast attaches: the event_id midpoint onto the "
        "event scan (cutoff derivation) and the 1-row cutoff onto the "
        "history-sized interval table (containment filter)"
    ),
    "compaction_plan_audit": (
        "readout assembly: 1-row key-span attach onto the file-grain "
        "manifest table (n_files rows); the single-partition "
        "sort/window is the SHARD-grain rank-offset table "
        "(corpus/4096 rows, broadcast — the token_budget_packing "
        "sharded-prefix-sum pattern; row ranks themselves compute "
        "partitioned by shard)"
    ),
    "ldiversity_audit": (
        "1-row total attach + 3-row literal l-candidate attach over "
        "the QI-group-grain table (the kanonymity_audit shape)"
    ),
    "heaps_vocab_growth": (
        "1-row max-doc attach (bucket arithmetic needs max+1); the "
        "single-partition sort/window is the cumulative sum over the "
        "domain-bounded 8-row checkpoint table"
    ),
    "skew_key_diagnosis": (
        "1-row total attach over the key-grain frequency table "
        "(data_quality.py)"
    ),
    # Truncation audit broadcasts the bounded 10-row query block
    # (the knn_batch_topk_join design contract).
    "embedding_truncation_recall": (
        "broadcast bounded 10-row query block x corpus scan "
        "(knn_batch_topk_join contract, knn.py)"
    ),
    "embedding_quantization_recall": (
        "broadcast bounded 10-row query block x corpus scan "
        "(the embedding_truncation_recall plan, unchanged)"
    ),
    "ann_pq_recall_audit": (
        "broadcast bounded 8-row query block x corpus scan "
        "(the embedding_truncation_recall plan, unchanged)"
    ),
    "ivfpq_retrieval": (
        "1-row query distance-table attach onto the cell-pruned "
        "candidate scan (nprobe/k of the corpus)"
    ),
    "sample_neyman_allocation": (
        "two 1-row total/shortfall attaches onto the STRATUM-grain "
        "table (5 langs; bounded by the stratum vocabulary), whose "
        "remainder-rank windows are likewise stratum-grain"
    ),
    "join_bloom_runtime_filter": (
        "1-row bloom-words Arrow frame attach onto the probe scan "
        "(the runtime-filter broadcast itself)"
    ),
    "stream_compaction_trigger": (
        "two 1-row total/small-count attaches onto the file-grain "
        "state-snapshot readout (calendar x 16 shards rows)"
    ),
    # Padding audit: the cumulative window runs over the length-DOMAIN
    # bounded length-grain count table, never the corpus.
    "padding_waste_audit": (
        "global cumulative window over the length-domain count table "
        "(<= n distinct lengths rows, pipeline_ops.py)"
    ),
    # Join-order audit: the readout chains seven 1-row scalar
    # aggregates (stat inputs + per-step actual counts) into one row.
    "join_order_cardinality_audit": (
        "1-row scalar-aggregate attaches chained into the 4-row "
        "readout (threshold attach + stats + step counts, analytics.py)"
    ),
    # Histogram audit: every non-equi/cross side is bounded — the
    # 8-row rank-target x ~105-row coarse-bucket theta join, the
    # 3-row probe dim attach, and the lag window over the 8-row
    # boundary table.
    "histogram_equidepth_audit": (
        "8-row rank-target theta join against the price-range-bounded "
        "coarse-bucket table + 3-row literal probe attaches + lag "
        "window over the 8-row boundary table (analytics.py)"
    ),
    # Lateness audit: 4-row literal watermark-candidate attach +
    # hour-grain carry window (the max_concurrency_sweep machinery).
    "stream_watermark_lateness_audit": (
        "4-row literal delay-candidate attach + carry window over "
        "arrival-hour shard aggregates (bounded by time domain, "
        "analytics.py)"
    ),
    # The Python UDTF surface is row-at-a-time by nature (Spark 3.5+
    # UDTF protocol); the Arrow-batched alternative is the explode-of-
    # pandas_udf path exercised elsewhere.
    "udtf_tokenize": "Python UDTF protocol is per-row by definition",
    "udtf_analyze_ngrams": "Python UDTF protocol is per-row by definition",
    # --- SinglePartition->Sort allow-list: global windows/sorts that
    # run over AGGREGATED, bounded-by-construction row sets, never the
    # raw corpus.  Each entry states the bound.
    "max_concurrency_sweep": (
        "global window over per-(day,shard) carry-in aggregates "
        "(<= days x shards rows by construction, linkage.py)"
    ),
    "token_budget_packing": (
        "global window over 1-row-per-shard prefix-sum carry-ins "
        "(<= n_shards rows by construction, pipeline_ops.py)"
    ),
    "seq_length_histogram": (
        "global cumulative window over the value-domain bucket table "
        "(<= n_buckets rows — value domain, not corpus, pipeline_ops.py)"
    ),
    "quantile_prune_quality": (
        "global cdf window over the value-domain score-bucket table "
        "(<= n_buckets rows by construction, pipeline_ops.py)"
    ),
    "topn_other_rollup": (
        "share-of-total window over the top-N+other rollup "
        "(<= N+1 rows by construction, analytics.py)"
    ),
    "order_stat_bucket_select": (
        "cumulative window over the coarse-bucket table (<= value "
        "range / bucket width rows — domain-bounded, not corpus) + "
        "5-row percentile-target broadcast theta join, analytics.py"
    ),
    "pmi_cooccurrence": "1-row corpus total attach",
    "shuffle_skew_planner": "1-row shuffle-total attach",
    "vocab_drift_halves": "1-row halves-count attach",
    "join_size_profiler": "1-row side-total attaches to the 1-row profile",
    "blocking_efficiency_report": "1-row record-count attach to the 1-row report",
    "pareto_source_share": (
        "rank/cumulative windows over the per-source aggregate "
        "(<= |sources| rows by construction, analytics.py)"
    ),
    "gini_source_concentration": (
        "rank window over the per-source aggregate "
        "(<= |sources| rows by construction, analytics.py)"
    ),
    "survival_kaplan_meier": (
        "risk-set cumulative window over the duration grain "
        "(<= observation-window days by construction, analytics.py)"
    ),
    "mix_temperature_quota": (
        "largest-remainder rank window over the per-source aggregate "
        "(<= |sources| rows by construction) + 1-row total/leftover "
        "attaches (pipeline_ops.py)"
    ),
    "mix_repeat_cap_audit": (
        "largest-remainder rank window over the per-LANGUAGE aggregate "
        "(<= |langs| rows by construction) + 1-row total/leftover "
        "attaches (the mix_temperature_quota apportionment, capped)"
    ),
    # round 8 session 4
    "freq_itemsets_apriori": (
        "1-row basket-count attach at each minsup/lift site "
        "(analytics.py)"
    ),
    "naive_bayes_langid": (
        "model attach: 5-row lang totals + 1-row vocab/train counts "
        "broadcast onto test tokens (text_analysis.py)"
    ),
    "decision_stump_histogram": (
        "cumulative window over the fixed-width bin histogram "
        "(<= 64 rows — domain-bounded, not corpus) + 1-row totals "
        "attach (clustering.py)"
    ),
    "shard_rebalance_hrw": (
        "constant 9-row node-table fan-out (HRW scores every node by "
        "definition) + node-grain audit attaches (pipeline_ops.py)"
    ),
    "export_zonemap_prune": (
        "constant 4-row predicate x 8-row zone-stat audit join "
        "(both bounded by construction, pipeline_ops.py)"
    ),
    "layout_zorder_skipping": (
        "constant 4-row predicate x 128-row file-stat audit join "
        "(2 layouts x 64 files, both bounded by construction, "
        "pipeline_ops.py)"
    ),
    "layout_hilbert_skipping": (
        "constant 4-row predicate x 96-row file-stat audit join "
        "(2 curves x 48 files, both bounded by construction, "
        "pipeline_ops.py)"
    ),
    "join_bloom_prefilter": (
        "1-row sizing attach + 1-row bloom-array attach + 1-row funnel "
        "stats attach (the runtime-filter broadcast by design, "
        "relational.py)"
    ),
    "ridge_lambda_sweep": (
        "4 projections of the cached 1-row sufficient statistic "
        "(analytics.py)"
    ),
    "takedown_propagation": (
        "1-row before/removed/after reconciliation attaches per table "
        "(pipeline_ops.py)"
    ),
    "bitext_margin_mining": (
        "broadcast bounded source block x target scan (the ANN "
        "query-block contract) + candidate/neighbor-sum broadcast "
        "attaches (knn.py)"
    ),
}


# Operators for which an Exchange SinglePartition child is the NORMAL
# final-stage shape, not a smell: a global aggregate's final stage
# consumes one partial-agg row per upstream partition (O(partitions)
# rows), and driver-bound collect limits are single-partition by
# definition.
_SP_OK_PARENTS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "CollectLimit",
    "TakeOrderedAndProject",
)

_TREE_PREFIX = re.compile(r"^[\s:+-]*")
_NODE_NAME = re.compile(r"^(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def _single_partition_consumers(plan: str) -> list[str]:
    """Names of operators consuming an `Exchange SinglePartition`.

    Parses the explain tree's indentation: a node's parent is the
    nearest preceding line with a strictly shorter tree prefix.  Only
    non-aggregate/limit consumers are returned — those are the global
    windows/sorts that serialize a pipeline mid-stream at scale.
    """
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        my = len(_TREE_PREFIX.match(ln).group(0))
        for j in range(i - 1, -1, -1):
            pj = _TREE_PREFIX.match(lines[j]).group(0)
            if len(pj) < my and lines[j][len(pj):].strip():
                m = _NODE_NAME.match(lines[j][len(pj):])
                parent = m.group(1) if m else lines[j][len(pj):][:30]
                if not parent.startswith(_SP_OK_PARENTS):
                    out.append(parent)
                break
    return out


def find_smells(plan: str) -> list[str]:
    """All plan smells in one executed-plan string (pure function so
    tests can pin that a raw-row global window IS flagged)."""
    smells = []
    if re.search(r"CartesianProduct", plan):
        smells.append("CartesianProduct")
    if re.search(r"BroadcastNestedLoopJoin", plan):
        smells.append("BroadcastNestedLoopJoin")
    if re.search(r"BatchEvalPython", plan):
        smells.append("row-at-a-time PythonUDF")
    for parent in _single_partition_consumers(plan):
        smells.append(f"SinglePartition->{parent}")
    return smells


def _streaming_plans(spark, name, q) -> list[str]:
    """Run a streaming builder (they execute their bounded streams
    eagerly) and return every micro-batch physical plan it executed —
    captured by streaming_queries._run_bounded.
    The builder's returned batch DataFrame plan is included too (it is
    the read-back/post-aggregation half of the pipeline)."""
    from kbrowse_spark.operators.streaming_queries import (
        executed_stream_plans,
    )

    before = set(executed_stream_plans())
    df = q.builder(spark, SF)
    captured = executed_stream_plans()
    plans = [p for k, p in captured.items() if k not in before]
    plans.append(
        df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )
    return plans


def main() -> int:
    spark = get_spark()
    qs = all_queries()
    flagged = 0
    n_streaming = 0
    for name, q in sorted(qs.items()):
        is_stream = "streaming" in q.tags or "stateful" in q.tags
        try:
            if is_stream:
                n_streaming += 1
                plans = _streaming_plans(spark, name, q)
            else:
                plans = [
                    qs[name]
                    .builder(spark, SF)
                    ._jdf.queryExecution()
                    .explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "simple"
                        )
                    )
                ]
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__} {str(e)[:120]}")
            flagged += 1
            continue
        smells = sorted({s for p in plans for s in find_smells(p)})
        if smells:
            if name in ALLOW:
                print(f"ok   {name}: {','.join(smells)} (allowed: {ALLOW[name]})")
            else:
                flagged += 1
                print(f"BAD  {name}: {', '.join(smells)}")
    print(f"(streaming queries audited: {n_streaming})")
    print(f"\n{'CLEAN (modulo allowed)' if flagged == 0 else f'{flagged} FLAGGED'}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
