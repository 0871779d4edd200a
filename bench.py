"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact (<2 KB) JSON line as the LAST stdout line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec},
"contended": bool, "loadavg_1m": ..., "sf": ...}.  Full per-query
detail (incl. spreads) goes to bench_detail.json + stderr — the
driver's record keeps only a ~2 KB stdout tail.

Queries are materialized through the noop sink (full execution, no
driver-side row transfer) so the numbers measure engine throughput,
not collect() serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kbrowse_spark.catalog import all_queries  # noqa: E402
from kbrowse_spark.session import get_spark  # noqa: E402

# Representative, scale-stressing subset of the catalog: one query per
# plan family, so a regression in any family's plan shape shows up in
# the bench total.
HEADLINE = [
    # aggregation, star joins, top-k, as-of and window, LSH and simhash
    # dedup, brute-force knn, text scoring, streaming, the kbrowse scan
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "window_topk_per_group",
    "asof_join_event_order",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_bruteforce_cosine",
    "text_quality_score",
    "stream_tumbling_counts",
    "kbrowse_regex_scan",
    "embedding_neardup_rerank_np",
    "ann_ivf_label",
    "corpus_curation_pipeline",
    # scan throughput, wide join breadth, rollup union
    "q6_forecast_revenue",
    "q10_returned_items",
    "rollup_hypertable_daily",
    # iterative clustering, 5-way star, broadcast semi-join
    # decontamination
    "kmeans_lloyd",
    "q9_product_profit",
    "decontaminate_benchmark",
    # corpus-trained bigram LM quality scoring
    "quality_lm_surprisal",
    # retrieval ranking, and the marginal-contribution audit (shares the
    # cached shingle subtree with dedup_minhash_lsh)
    "bm25_term_scores",
    "ngram_novelty_rate",
    # the driver-loop iterative family beyond kmeans (pagerank), the
    # cell-blocked semantic-prune join, the sharded prefix-sum packer
    # and the Arrow grouped-map path
    "pagerank_interaction",
    "semdedup_prune",
    "token_budget_packing",
    "arrowgroup_centroids",
    # substring-span dedup: gram index + semi-join + span-merge windows
    "dedup_substring_spans",
    # paragraph-grain keep-first dedup (segment explode + hash-keyed
    # first-occurrence join), the composed RAG retrieve stage, and
    # event-time-timer sessionization (applyInPandasWithState timeouts)
    "dedup_paragraph_keepfirst",
    "rag_chunk_retrieval",
    "stream_session_timeout",
    # pigeonhole-blocked fuzzy join (record-linkage candidates +
    # short-segment verify) and the sweep-line concurrency prefix sum
    "fuzzy_join_pigeonhole",
    "max_concurrency_sweep",
    # incremental-ingest dedup: a new batch probes the standing LSH
    # index (shares the cached bucket table with dedup_minhash_lsh, so
    # the delta it adds is the incremental probe cost)
    "dedup_incremental_minhash",
    # O(log n) large-star/small-star CC (iterative join with a
    # per-round checksum) and vocab-blocked PMI pair mining (bounded
    # candidate self-join)
    "dedup_cc_star",
    "pmi_cooccurrence",
    # the iterative in-plan-argmax family (BPE merge induction, chained
    # 1-row broadcast attaches) and the heaviest mapInPandas codec path
    # (AVI pack + idx1-seek parse)
    "bpe_train_merges",
    "multimodal_video_extract",
    # learned-centroid IVF (shares the Lloyd chain and cached point
    # table with kmeans_lloyd, so its delta is the probe cost) and the
    # substring-dedup rewriter (gram index + keeper join + per-doc cut)
    "ann_ivf_kmeans",
    "dedup_span_removal",
    # the exact similarity-join family (prefix/length/positional
    # filtered inverted-index self-join): the no-false-negative
    # counterpart to the LSH shapes above
    "dedup_prefix_filter_join",
    # the A-Priori bounded-basket pair self-join and the one-scan
    # histogram split finder (the hist-GBDT inner loop)
    "freq_itemsets_apriori",
    "decision_stump_histogram",
    # the deterministic log-linear quantile sketch (integer bucket agg +
    # sketch-grain readout) and bounded subsequence enumeration
    # (nested-transform fan-out, no self-join)
    "quantile_ddsketch_chars",
    "seq_pattern_triples",
    # windowed-adjacency blocking self-join (sorted neighbourhood)
    "linkage_sorted_neighborhood",
    # iterative peeling (shrinking working set, count-stable early exit)
    # and the one-shuffle hierarchical transform (per-leaf ancestor
    # explode)
    "kcore_decomposition",
    "wavelet_haar_synopsis",
    # grid-cell spatial blocking (bounded 9x probe fan-out) and the
    # bucketed dominance sweep
    "spatial_grid_epsilon_join",
    "skyline_price_size",
    # exact rank-sum AUC (score-grain two-level prefix sums, no corpus
    # window)
    "eval_auc_rank",
    # ranking-metric composition (rag top-k + bigram relevance window)
    # and the dual-layout Morton/linear skipping audit
    "eval_mrr_ndcg_at_k",
    "layout_zorder_skipping",
    # list-depth-bounded rank fusion (full outer join of two
    # WindowGroupLimit lists) and the 8-stage unrolled Hilbert chain
    "rag_rrf_fusion",
    "layout_hilbert_skipping",
    # deterministic-resample fan-out (x100 explode + hash multiplicities
    # + replicate-grain order stats) and frontier expansion (a growing
    # visited anti-join per round, unlike kcore's shrinking peel)
    "poisson_bootstrap_ci",
    "bfs_multisource_hops",
    # skew treatment (dual md5 placement over the occurrence stream),
    # sharded-rank compaction sizing, and a streaming ANN probe
    # (stream-static join against the shared IVF index)
    "skew_salt_apply",
    "compaction_plan_audit",
    "stream_ann_ivf_probe",
    # hash-sharded per-epoch rank (integer Spearman over seeded orders)
    "epoch_shuffle_decorrelation",
    # the composed IVF+PQ serve path (cell-prune join + ADC projection),
    # the bloom runtime-filter audit (bit_or collapse + array-literal
    # probe), the Arrow-numpy image feature step, the array-lambda-heavy
    # Gopher rule scan, and the stateful small-file monitor
    "ivfpq_retrieval",
    "join_bloom_runtime_filter",
    "multimodal_image_histogram",
    "quality_gopher_rules",
    "stream_compaction_trigger",
    # the md5-register HLL family (set algebra at register grain, the
    # fold sizing ladder, streaming register maintenance), the staged
    # partitioned write + manifest audit, and 1-bit signature
    # calibration
    "hll_set_algebra_pairs",
    "hll_fold_precision_ladder",
    "stream_hll_register_rollup",
    "partition_pruning_audit",
    "bbit_minhash_jaccard",
    # fixed-point-log2 entropy and the streaming DDSketch percentile
    # monitor (bounded bucket state)
    "vocab_entropy_fixedpoint",
    "stream_ddq_latency_monitor",
    # cross-slice KL divergence and Zipf slope (fixed-point log2), and
    # the streaming count-min sketch
    "kl_divergence_lang_mix",
    "zipf_slope_fixedpoint",
    "stream_cms_heavy_hitters",
    # Fagin TA serve-depth audit (closed-form stopping depth, per-shard
    # windows) and the checkpoint state-store read-back
    "topk_fagin_ta_depth",
    "stream_state_introspection",
]


def warm_pass(spark, qs, names, sf_dir: str, label: str) -> None:
    """Untimed warm execution of each query; a failure is NAMED on
    stderr (a query failing here would otherwise run cold in the timed
    loop and show up only as a mystery spread outlier) and never
    pollutes the stdout JSON line."""
    for name in names:
        try:
            qs[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            print(
                f"bench: {label} failed for {name}: "
                f"{type(e).__name__}: {str(e)[:200]}",
                file=sys.stderr,
            )


def is_contended(
    n_spread_gt2: int, n_queries: int, loadavg_1m: float, cpus: int
) -> bool:
    """A run is contended when EITHER within-run spread says so (>25%
    of queries with max/min over 2x) OR the 1-minute load average was
    already elevated when the run started.  Spread alone cannot see
    BETWEEN-run neighbour load: three identical-code runs once spanned
    37-53 s total with every within-run spread < 2, and a loadavg of
    2.35 recorded phantom 2.6x per-query regressions as clean data.
    cpus/8 (= 4 on a 32-cpu box) is well
    above this box's idle load (~0.3) and well below the loadavg a
    co-running Spark job produces (>8)."""
    return n_spread_gt2 > n_queries / 4 or loadavg_1m > cpus / 8


def contended_vs_reference(
    times: dict[str, float],
    ref_times: dict[str, float],
    ratio: float = 1.3,
    min_common: int = 10,
    min_ref_s: float = 0.3,
) -> tuple[bool, int, int]:
    """Between-run contention detector: min-of-N + spread cannot see
    UNIFORM background load (all samples equally slow -> spread ~ 1; one
    loaded run read 93.5 s against 79.0 s idle with n_spread_gt2 = 0).
    Compare each query's min against its
    last IDLE-RUN min: when a MAJORITY of sufficiently-long queries
    exceed ``ratio`` x their idle reference, the whole run was slowed
    by something external and must be read as an upper bound.
    Sub-``min_ref_s`` queries are excluded (scheduling jitter
    dominates them).  Returns (flag, n_slow, n_common)."""
    common = [
        n
        for n, t in ref_times.items()
        if n in times and t >= min_ref_s
    ]
    if len(common) < min_common:
        return (False, 0, len(common))
    n_slow = sum(1 for n in common if times[n] > ratio * ref_times[n])
    return (n_slow * 2 > len(common), n_slow, len(common))


def load_reference_cpus(path: str) -> int | None:
    """Core count the idle reference was recorded at (``cpus`` key),
    None when absent.  The reference comparison is only meaningful at
    the SAME core count: the driver also runs the bench at a lower
    core count to measure scaling, and every query is uniformly slower
    there for the honest reason — flagging that run "contended" against
    a 32-core reference would be a false positive by construction."""
    try:
        with open(path) as f:
            c = json.load(f).get("cpus")
        return int(c) if c is not None else None
    except Exception:  # noqa: BLE001 - missing/corrupt reference
        return None


def load_reference_times(path: str) -> dict[str, float]:
    """Per-query idle mins from a prior bench detail/idle record
    (``queries`` key), {} when absent/unreadable — the flag then
    falls back to spread+loadavg only."""
    try:
        with open(path) as f:
            d = json.load(f)
        qs = d.get("queries", {})
        return {
            k: float(v)
            for k, v in qs.items()
            if isinstance(v, (int, float))
        }
    except Exception:  # noqa: BLE001 - missing/corrupt reference
        return {}


# The driver's tail capture is 2000 bytes and the stdout JSON line
# must sit entirely inside it (line + newline <= 2000).  Budget the
# per-query dict to this cap with headroom for the metadata keys and
# catalog growth.
_STDOUT_QUERIES_BUDGET = 1650
# The ``__others__`` rollup and the dict's surrounding punctuation are
# part of the serialized size too: reserve their worst case up front so
# the budget invariant holds by construction, not by headroom.  The
# reserve is derived from the dict being serialized (worst case
# n = len(times) and total = sum of all times), so no hardcoded
# n <= 999 / total < 1e5 assumption can be silently outgrown.
def _others_reserve(times: dict[str, float]) -> int:
    worst = (
        f',"__others__":{{"n":{len(times)},'
        f'"total":{round(sum(times.values()) + 0.005, 2)}}}'
    )
    return len(worst) + 2


def stdout_queries(times: dict[str, float]) -> dict:
    """Per-query dict for the stdout line: slowest queries first,
    individually, until the serialized budget is spent; the remainder
    folds into one deterministic ``__others__`` rollup (count +
    total).  Regressions live in the slow tail, which always stays
    per-query; the sidecar keeps the full dict."""
    out: dict = {}
    spent = _others_reserve(times)
    rest_n, rest_total = 0, 0.0
    for name, t in sorted(times.items(), key=lambda kv: (-kv[1], kv[0])):
        cost = len(name) + len(f"{round(t, 2)}") + 6  # quotes, colon, comma
        if spent + cost <= _STDOUT_QUERIES_BUDGET:
            out[name] = round(t, 2)
            spent += cost
        else:
            rest_n += 1
            rest_total += t
    if rest_n:
        out["__others__"] = {"n": rest_n, "total": round(rest_total, 2)}
    return out


def bench_runs() -> int:
    """Timed runs per point for every measuring tool
    (``SPARK_GRAFT_BENCH_RUNS``, default 3)."""
    return int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def time_query(spark, builder, sf_dir: str, runs: int) -> tuple[float, float]:
    """Time one catalog query over ``sf_dir`` through the noop sink (full
    execution, no driver-side row transfer); returns (min seconds,
    max/min spread).

    One untimed run comes right before the samples: queries that ran
    in between can evict this one's session-cached subtrees, and a
    re-materialization inside the first sample once read 5.05 s for a
    0.82 s query.  Of the ``runs`` timed runs the minimum is the
    engine's steady-state time (single samples on a shared box read
    3-5x high under neighbour load); the spread makes a contended run
    identify itself."""

    def run() -> None:
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        run()
        samples.append(time.perf_counter() - t0)
    return min(samples), max(samples) / max(min(samples), 1e-9)


def main() -> int:
    # A dev-only subset filter: measure a few queries under the exact
    # bench warm discipline (cross-session timings are not comparable
    # with bench numbers).  A name outside HEADLINE is an error, not an
    # empty run that prints a 0.0 total.
    names = HEADLINE
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = {n for n in only.split(",") if n}
        unknown = sorted(wanted - set(HEADLINE))
        if unknown:
            print(
                "bench: SPARK_GRAFT_BENCH_ONLY names no headline query: "
                + ", ".join(unknown),
                file=sys.stderr,
            )
            return 2
        names = [n for n in HEADLINE if n in wanted]
    # Sample load BEFORE any Spark work: by the end of a run the
    # 1-minute average reflects the bench's OWN activity (measured 4.79
    # on an otherwise idle 32-cpu box), which would trip the contended
    # flag on every run.  At process start it reflects the pre-existing
    # neighbour load the flag is meant to detect.
    loadavg_1m = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("kbrowse_bench")
    # Input-size-aware shuffle sizing (session.py deployment rule):
    # no-op at sf<=1 (floor = cpu count), scales past it so a bigger
    # bench SF can't silently spill.
    from kbrowse_spark.session import tune_for_input

    tune_for_input(spark, sf_dir)
    qs = all_queries()

    # Warm the session (JVM/codegen/parquet footers/OS page cache)
    # outside the timings — the numbers should measure engine
    # throughput, not one-time JIT and file-listing costs.
    spark.range(1000).count()
    from kbrowse_spark.sources.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        try:
            load(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001 - missing table at this SF
            pass
    # Compile each headline plan once at the smoke SF: whole-stage
    # codegen is cached by generated source, so the timed runs below
    # measure steady-state engine throughput, not first-call JIT.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        warm_pass(spark, qs, names, warm_dir, "smoke-SF warm")

    # One untimed warm pass at the TARGET sf first: several headline
    # queries share session-cached subtrees (shingles, LSH buckets,
    # verified pairs — functions/cache_registry.py), so whichever
    # family member runs first would otherwise pay the one-time cache
    # materialization inside its first timed sample, conflating
    # cold-cache cost with neighbour noise in the spread column (7 of
    # 36 queries once read > 2x spread on an idle box).  A failure here
    # is named on stderr.
    warm_pass(spark, qs, names, sf_dir, "warm pass")

    n_runs = bench_runs()
    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        t, spread = time_query(spark, qs[name].builder, sf_dir, n_runs)
        times[name] = round(t, 3)
        spreads[name] = round(spread, 2)

    total = round(sum(times.values()), 3)
    n_contended = sum(1 for s in spreads.values() if s > 2.0)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Between-run contention vs the last idle reference: spread and
    # loadavg cannot see uniform neighbour load.  The reference ships
    # with the repo (bench_idle_reference.json, an idle min-merged run);
    # its numbers are box-relative, so a majority-slow verdict on
    # DIFFERENT hardware only means "read these numbers as upper bounds
    # vs the recorded baseline", which is exactly the flag's contract.
    ref_path = os.environ.get(
        "SPARK_GRAFT_BENCH_REF",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_idle_reference.json",
        ),
    )
    ref_cpus = load_reference_cpus(ref_path)
    if ref_cpus is not None and ref_cpus != cpus:
        # Different core count than the reference was recorded at
        # (e.g. the driver's scaling run): uniformly slower is the
        # EXPECTED shape there, not contention — skip the comparison.
        ref_flag, n_ref_slow, n_ref_common = False, 0, 0
        n_ref_slow_str = f"skip:ref_cpus={ref_cpus}"
    else:
        ref_flag, n_ref_slow, n_ref_common = contended_vs_reference(
            times, load_reference_times(ref_path)
        )
        n_ref_slow_str = f"{n_ref_slow}/{n_ref_common}"
    loadavg_end = round(os.getloadavg()[0], 2)
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # Stdout carries 2-decimal (10 ms) per-query times for the
        # SLOWEST queries and folds the fastest into one "others"
        # rollup (stdout_queries): at 66 headline queries the full dict
        # outgrew the driver's 2000-byte stdout tail (2003 bytes ->
        # parsed:null), and the slow queries are where regressions
        # live; the sidecar keeps every query at 3 decimals.
        "queries": {},
        "n_queries": len(times),
        "contended": (
            is_contended(n_contended, len(names), loadavg_1m, cpus)
            or ref_flag
        ),
        "n_spread_gt2": n_contended,
        "n_ref_slow": n_ref_slow_str,
        "loadavg_1m": loadavg_1m,
        "loadavg_end": loadavg_end,
        "runs_per_query": n_runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    summary["queries"] = stdout_queries(times)
    # Full per-query detail (incl. the spread column) goes to a sidecar
    # file + stderr: the driver's record keeps only a ~2 KB tail of
    # stdout, and a spread dict on the stdout line once pushed it past
    # that capture.  The stdout line must stay compact AND be the LAST
    # line printed.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", os.path.join(os.path.dirname(
            os.path.abspath(__file__)), "bench_detail.json")
    )
    detail = dict(
        summary,
        queries=times,
        spread=spreads,
        # Streaming deltas must be read NET of fixed micro-batch
        # machinery: stream_overhead_split.json records per-query
        # operator_ms (addBatch) vs machinery_ms — subtract the
        # machinery column before calling a streaming regression.
        streaming_note=(
            "stream_* deltas: subtract stream_overhead_split.json"
            " machinery_ms before comparing rounds"
        ),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail), file=sys.stderr)
    # Compact separators: at 60 headline queries the default ", "/": "
    # rendering alone costs ~140 bytes of the driver's 2000-byte tail.
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:
        # Catalog growth safety valve: never exceed the driver's tail
        # capture — drop the per-query dict (still in the sidecar).
        summary.pop("queries")
        line = json.dumps(summary, separators=(",", ":"))
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
