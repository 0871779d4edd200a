"""Cross-formulation and mathematical invariants of the round-5
operators — properties stronger than engine-vs-oracle equality (which
both sides could get wrong the same way): index-vs-scan agreement,
mass conservation, ordering bounds.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _q(spark, sf_dir, name):
    from kbrowse_spark.catalog import all_queries

    return all_queries()[name].builder(spark, sf_dir)


def test_phrase_index_equals_direct_scan(spark, sf_dir):
    """The positional-index count must equal the direct regex count on
    every document — the index-correctness invariant."""
    df = _q(spark, sf_dir, "phrase_search_positional")
    bad = df.filter(F.col("n_phrase") != F.col("n_direct")).count()
    assert bad == 0


def test_dau_wau_bounds(spark, sf_dir):
    """DAU <= WAU (a day's actives are a subset of the trailing week's)
    and stickiness in (0, 1]."""
    rows = _q(spark, sf_dir, "dau_wau_stickiness").collect()
    assert rows
    for r in rows:
        assert r.dau <= r.wau
        assert 0 < r.stickiness <= 1.0


def test_ohlc_band_ordering(spark, sf_dir):
    """low <= open, close <= high in every bar; every bar has ticks."""
    rows = _q(spark, sf_dir, "ohlc_hourly_bars").collect()
    assert rows
    for r in rows:
        assert r.low_cents <= r.open_cents <= r.high_cents
        assert r.low_cents <= r.close_cents <= r.high_cents
        assert r.n_ticks >= 1


def test_transition_matrix_rows_are_distributions(spark, sf_dir):
    """Each from_type's outgoing probabilities sum to 1."""
    rows = _q(spark, sf_dir, "event_transition_matrix").collect()
    sums: dict[str, float] = {}
    for r in rows:
        sums[r.from_type] = sums.get(r.from_type, 0.0) + r.p
    assert sums and all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_streaming_transitions_equal_batch(spark, sf_dir):
    """The incremental streaming accumulation must converge to the
    batch recompute exactly (counts AND probabilities)."""
    batch = {
        (r.from_type, r.to_type): r.n
        for r in _q(spark, sf_dir, "event_transition_matrix").collect()
    }
    stream = {
        (r.from_type, r.to_type): r.n
        for r in _q(spark, sf_dir, "stream_transition_counts").collect()
    }
    assert batch == stream


def test_cuped_preserves_metric_mean(spark, sf_dir):
    """CUPED shifts individual values but must not move the mean:
    sum(theta * (x - xbar)) = 0 by construction."""
    rows = _q(spark, sf_dir, "cuped_adjusted_metric").collect()
    n = len(rows)
    assert n
    mean_y = sum(r.y_cents for r in rows) / n / 100.0
    mean_adj = sum(r.y_adj for r in rows) / n
    assert abs(mean_adj - mean_y) < 1e-6 * max(1.0, abs(mean_y))


def test_paragraph_keepfirst_conservation(spark, sf_dir):
    """Kept never exceeds total (segments and words), and summed over
    the corpus every distinct segment hash is kept exactly once."""
    df = _q(spark, sf_dir, "dedup_paragraph_keepfirst")
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_kept <= r.n_segs
        assert 0 <= r.kept_words <= r.total_words
        assert abs(r.kept_ratio - r.kept_words / r.total_words) < 1e-12


def test_quality_ensemble_vote_consistency(spark, sf_dir):
    """n_votes is the sum of the four votes; keep iff majority."""
    for r in _q(spark, sf_dir, "quality_ensemble_vote").collect():
        total = r.v_length + r.v_stopword + r.v_diversity + r.v_wordshape
        assert r.n_votes == total
        assert r.keep == (1 if total >= 3 else 0)


def test_data_quality_report_shape(spark, sf_dir):
    """ok flags agree with violation counts; the orders checks all
    report the same population."""
    rows = _q(spark, sf_dir, "data_quality_report").collect()
    assert {r.check_name for r in rows} >= {
        "orders_pk_unique",
        "lineitem_fk_orders",
        "events_hourly_complete",
    }
    for r in rows:
        assert r.ok == (1 if r.n_violations == 0 else 0)
        assert 0 <= r.n_violations <= r.n_total
    orders_totals = {
        r.n_total for r in rows if r.check_name.startswith("orders_")
    }
    assert len(orders_totals) == 1


def test_topn_other_shares_sum_to_one(spark, sf_dir):
    rows = _q(spark, sf_dir, "topn_other_rollup").collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    assert rows[-1].source == "other" or len(rows) <= 5


def test_fuzzy_pigeonhole_equals_quadratic(spark, sf_dir):
    """Blocked linkage must find EXACTLY the pairs the direct quadratic
    join finds — the blocking-completeness invariant, verified by an
    independent Spark formulation (the oracle already cross-checks
    against DuckDB's quadratic; this pins the two Spark plans to each
    other at the pair grain, not just the summary grain)."""
    from kbrowse_spark.sources.tables import load

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a, b = c.alias("a"), c.alias("b")
    direct = (
        a.join(b, F.col("a.c_custkey") < F.col("b.c_custkey"))
        .where(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
        .count()
    )
    summary = _q(spark, sf_dir, "fuzzy_join_pigeonhole").collect()
    assert sum(r.n_pairs for r in summary) == direct
    assert all(1 <= r.pos_changed <= 9 for r in summary)


def test_spatial_grid_equals_quadratic(spark, sf_dir):
    """Grid-blocked epsilon join must produce EXACTLY the pair set the
    direct quadratic join produces — the blocking-completeness
    invariant for the spatial family (same pattern as
    test_fuzzy_pigeonhole_equals_quadratic).  The registered DuckDB
    oracle is the quadratic formulation too (r10 swap: the r9 oracle
    shared the grid scheme, so precisely a blocking bug could have
    hidden); this test additionally pins the two SPARK plans to each
    other at full pair grain, including bit-equal dist2."""
    from kbrowse_spark.operators import knn as K
    from kbrowse_spark.sources.tables import load

    p = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("CAST(embedding[0] AS DOUBLE)").alias("x"),
        F.expr("CAST(embedding[1] AS DOUBLE)").alias("y"),
    )
    a, b = p.alias("a"), p.alias("b")
    d2 = F.expr("(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)")
    direct = sorted(
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            d2.alias("dist2"),
        )
        .where(F.col("dist2") < F.lit(K._EPS * K._EPS))
        .collect(),
        key=lambda r: (r.vec_a, r.vec_b),
    )
    blocked = _q(spark, sf_dir, "spatial_grid_epsilon_join").collect()
    assert len(blocked) == len(direct) > 0
    for got, want in zip(blocked, direct):
        assert (got.vec_a, got.vec_b) == (want.vec_a, want.vec_b)
        assert got.dist2 == want.dist2  # identical IEEE tree: bit-equal


def test_eps_for_density_holds_occupancy_flat():
    """The density ladder's defining invariant: n * eps(n)^2 is
    constant (expected cell occupancy in a fixed 2D domain), eps at
    the calibration point is exactly _EPS, and eps shrinks
    monotonically with n."""
    from kbrowse_spark.operators.knn import _EPS, _EPS_N0, _eps_for_density

    assert _eps_for_density(_EPS_N0) == _EPS
    base = _EPS_N0 * _EPS**2
    prev = None
    for n in (500, 2_000, 20_000, 200_000, 2_000_000):
        e = _eps_for_density(n)
        assert abs(n * e * e - base) < 1e-12
        if prev is not None:
            assert e < prev
        prev = e


def test_mrr_ndcg_consistency_and_discrimination(spark, sf_dir):
    """Internal consistency of the exact ranking metrics (rr_ppm
    recomputes from first_rel_rank by integer division; dcg <= idcg
    hence ndcg <= 1e6; idcg matches the cumulative-weight ladder at
    min(n_rel_corpus, k)) AND the design signal: the bigram relevance
    label must DISCRIMINATE (the word-presence label saturated every
    query to ndcg=1.0 and was rejected — at least one query must be
    strictly between 0 and 1e6 so the metric stays informative)."""
    from kbrowse_spark.operators.knn import _NDCG_CUM, _RAG_TOPK

    rows = _q(spark, sf_dir, "eval_mrr_ndcg_at_k").collect()
    assert len(rows) == 3
    for r in rows:
        assert 0 <= r.n_rel_topk <= _RAG_TOPK
        assert r.n_rel_topk <= r.n_rel_corpus
        if r.first_rel_rank > 0:
            assert r.rr_ppm == 1_000_000 // r.first_rel_rank
            assert 1 <= r.first_rel_rank <= _RAG_TOPK
        else:
            assert r.rr_ppm == 0 and r.n_rel_topk == 0
        assert r.idcg_scaled == _NDCG_CUM[min(r.n_rel_corpus, _RAG_TOPK)]
        assert 0 <= r.dcg_scaled <= r.idcg_scaled
        if r.n_rel_corpus > 0:
            assert r.ndcg_ppm == (1_000_000 * r.dcg_scaled) // r.idcg_scaled
        assert 0 <= r.ndcg_ppm <= 1_000_000
    assert any(0 < r.ndcg_ppm < 1_000_000 for r in rows)


def test_zorder_layout_beats_linear_on_second_dim(spark, sf_dir):
    """The audit's reason to exist: both layouts hold the same rows in
    the same file count, the linear layout cannot skip ANY file for
    the second-dimension (l_partkey) predicates, and Z-order skips a
    strict majority of files for every predicate on BOTH dimensions —
    while never scanning fewer rows than the true selection (zone
    pruning is conservative, never lossy)."""
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "layout_zorder_skipping").collect()
    assert len(rows) == 8
    n_total = load(spark, sf_dir, "lineitem").count()
    by = {(r.layout, r.dim, r.pred_id): r for r in rows}
    for r in rows:
        assert r.files_total == 64
        assert 0 <= r.files_skipped < r.files_total
        assert 0 <= r.rows_scanned <= n_total
        # conservative: scanned rows cover the true predicate selection
        col = "l_orderkey" if r.dim == "x" else "l_partkey"
        true_sel = (
            load(spark, sf_dir, "lineitem")
            .filter(F.col(col).between(r.lo, r.hi))
            .count()
        )
        assert r.rows_scanned >= true_sel
    for pid in (0, 1):
        assert by[("linear", "y", pid)].files_skipped == 0
        assert by[("zorder", "y", pid)].files_skipped > 32
        assert by[("zorder", "x", pid)].files_skipped > 32


def test_stream_spatial_matches_batch_quadratic(spark, sf_dir):
    """The streaming grid join must produce EXACTLY the per-probe
    match summary a direct batch quadratic join over the same odd
    (probe) x even (build) split produces — the blocking-completeness
    invariant extended to the stream-static arm (the batch twin is
    test_spatial_grid_equals_quadratic)."""
    from kbrowse_spark.operators.knn import _EPS
    from kbrowse_spark.sources.tables import load

    p = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("CAST(embedding[0] AS DOUBLE)").alias("x"),
        F.expr("CAST(embedding[1] AS DOUBLE)").alias("y"),
    )
    a = p.filter(F.expr("vec_id % 2 = 1")).alias("a")
    b = p.filter(F.expr("vec_id % 2 = 0")).alias("b")
    d2 = F.expr("(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)")
    want = {
        (r.vec_a, r.n_matches, r.sum_vec_b)
        for r in (
            a.join(b, d2 < F.lit(_EPS * _EPS))
            .groupBy(F.col("a.vec_id").alias("vec_a"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_matches"),
                F.sum("b.vec_id").cast("long").alias("sum_vec_b"),
            )
            .collect()
        )
    }
    got = {
        (r.vec_a, r.n_matches, r.sum_vec_b)
        for r in _q(spark, sf_dir, "stream_spatial_epsilon_match").collect()
    }
    assert got == want and len(got) > 0


def test_confusion_kappa_identities(spark, sf_dir):
    """Every ppm metric must recompute exactly from the four confusion
    counts (the operator may not smuggle in independent state), the
    counts must partition the corpus against eval_auc_rank's class
    totals, and kappa must deflate accuracy (po > pe here) while
    staying consistent with the chance-corrected formula."""
    r = _q(spark, sf_dir, "eval_confusion_kappa").collect()[0]
    auc = _q(spark, sf_dir, "eval_auc_rank").collect()[0]
    tp, fp, fn, tn = r.tp, r.fp, r.fn, r.tn
    n = tp + fp + fn + tn
    assert tp + fn == auc.n_pos and fp + tn == auc.n_neg
    assert r.precision_ppm == 1_000_000 * tp // (tp + fp)
    assert r.recall_ppm == 1_000_000 * tp // (tp + fn)
    assert r.f1_ppm == 2_000_000 * tp // (2 * tp + fp + fn)
    assert r.po_ppm == 1_000_000 * (tp + tn) // n
    chance = (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)
    assert r.pe_ppm == 1_000_000 * chance // (n * n)
    num, den = n * (tp + tn) - chance, n * n - chance
    want_kappa = (
        1_000_000 * num // den
        if num >= 0
        else -((-1_000_000 * num + den - 1) // den)
    )
    assert r.kappa_ppm == want_kappa
    assert 0 < r.kappa_ppm < r.po_ppm  # chance correction bites


def test_calibration_bins_partition_and_ece(spark, sf_dir):
    """Bins partition the corpus (doc/pos counts sum to the confusion
    totals), per-bin values recompute from raw counts, conf_ppm is
    strictly increasing in bin id (equal-width bins over the score),
    w_gap = n_docs * gap, and the derived ECE lands in (0, 1e6) —
    plus the reliability SIGNAL: observed accuracy must increase from
    the bottom to the top bin."""
    rows = sorted(
        _q(spark, sf_dir, "eval_calibration_bins").collect(),
        key=lambda r: r.bin,
    )
    cm = _q(spark, sf_dir, "eval_confusion_kappa").collect()[0]
    n = cm.tp + cm.fp + cm.fn + cm.tn
    assert sum(r.n_docs for r in rows) == n
    assert sum(r.n_pos for r in rows) == cm.tp + cm.fn
    assert all(0 <= r.bin <= 9 for r in rows)
    confs = [r.conf_ppm for r in rows]
    assert confs == sorted(confs) and len(set(confs)) == len(confs)
    for r in rows:
        assert r.acc_ppm == 1_000_000 * r.n_pos // r.n_docs
        assert r.gap_ppm == abs(r.acc_ppm - r.conf_ppm)
        assert r.w_gap == r.n_docs * r.gap_ppm
    ece = sum(r.w_gap for r in rows) // n
    assert 0 < ece < 1_000_000
    assert rows[0].acc_ppm < rows[-1].acc_ppm


def test_rrf_fusion_consistency_and_mixing(spark, sf_dir):
    """rrf_scaled must recompute exactly from the two rank columns
    (absent = rank 0 = contributes nothing), fused ranks are 1..top
    per query, the list is ordered by (rrf desc, doc, chunk), and the
    fusion must actually MIX: every query's fused top list contains
    at least one chunk found by only ONE of the two rankers (else the
    second ranker adds nothing and the operator is decorative)."""
    from kbrowse_spark.operators.knn import _RRF_K, _RRF_TOP

    rows = _q(spark, sf_dir, "rag_rrf_fusion").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 3
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.fused_rank)
        assert [r.fused_rank for r in rs] == list(range(1, _RRF_TOP + 1))
        keys = []
        for r in rs:
            want = (1_000_000 // (_RRF_K + r.rank_dot) if r.rank_dot else 0) + (
                1_000_000 // (_RRF_K + r.rank_hits) if r.rank_hits else 0
            )
            assert r.rrf_scaled == want
            keys.append((-r.rrf_scaled, r.doc_id, r.chunk_idx))
        assert keys == sorted(keys)
        assert any(r.rank_dot == 0 or r.rank_hits == 0 for r in rs)
        assert any(r.rank_dot > 0 for r in rs)
        assert any(r.rank_hits > 0 for r in rs)


def test_watermark_lateness_monotone_and_bounded(spark, sf_dir):
    """Dropped counts must be non-increasing in the candidate delay,
    the 900 s candidate must drop nothing (max simulated transport
    delay is 599 s, and lateness can never exceed the max delay:
    an earlier-arriving event's ets' <= ats' <= ats = ets + delay),
    max_late_s is one global value <= 599, and the audit must show
    the designed out-of-order SIGNAL at delay 0."""
    rows = sorted(
        _q(spark, sf_dir, "stream_watermark_lateness_audit").collect(),
        key=lambda r: r.delay_s,
    )
    assert [r.delay_s for r in rows] == [0, 60, 300, 900]
    drops = [r.n_dropped for r in rows]
    assert drops == sorted(drops, reverse=True)
    assert drops[0] > 0 and drops[-1] == 0
    assert len({r.max_late_s for r in rows}) == 1
    assert 0 < rows[0].max_late_s <= 599
    # dropped_ppm recomputes from n_dropped / corpus size
    from kbrowse_spark.sources.tables import load

    n = load(spark, sf_dir, "events").count()
    for r in rows:
        assert r.dropped_ppm == 1_000_000 * r.n_dropped // n


def test_kanonymity_monotone_and_exact(spark, sf_dir):
    """Suppression must be monotone in k (a stricter k never redacts
    less), ppm recomputes from counts, group totals are constant
    across rows, and the audit agrees with an independent Python
    recount of quasi-identifier group sizes."""
    from collections import Counter

    import duckdb

    from kbrowse_spark.operators.data_quality import _KA_BAL_BUCKET
    from kbrowse_spark.sources.tables import table_path

    rows = sorted(
        _q(spark, sf_dir, "kanonymity_audit").collect(), key=lambda r: r.k
    )
    assert [r.k for r in rows] == [2, 5, 10]
    groups = Counter(
        duckdb.sql(
            f"""SELECT c_nationkey, c_mktsegment,
                 CAST(c_acctbal AS BIGINT) // {_KA_BAL_BUCKET}
                FROM read_parquet('{table_path(sf_dir, "customer")}')"""
        ).fetchall()
    )
    n = sum(groups.values())
    sup = [r.n_rows_suppressed for r in rows]
    assert sup == sorted(sup)
    for r in rows:
        assert r.n_groups_total == len(groups)
        assert r.n_groups_below == sum(1 for c in groups.values() if c < r.k)
        assert r.n_rows_suppressed == sum(
            c for c in groups.values() if c < r.k
        )
        assert r.suppressed_ppm == 1_000_000 * r.n_rows_suppressed // n
    assert 0 < rows[0].n_rows_suppressed < rows[-1].n_rows_suppressed


def test_skew_diagnosis_partitions_keyspace(spark, sf_dir):
    """Buckets partition the key space exactly (key and row sums match
    an independent bigram recount), msb is the true bit length of the
    bucket's max frequency, shares sum to ~1e6, and the salt factor
    is the exact ceiling rule — 1 for cold buckets, > 1 only when the
    hottest key exceeds a 1/32 data share."""
    import duckdb

    from kbrowse_spark.sources.tables import table_path

    rows = sorted(
        _q(spark, sf_dir, "skew_key_diagnosis").collect(),
        key=lambda r: r.msb,
    )
    nk, nr = duckdb.sql(
        f"""WITH bi AS (
              SELECT ws[i] || ' ' || ws[i+1] AS w
              FROM (SELECT string_split(text, ' ') AS ws,
                           unnest(generate_series(1,
                             len(string_split(text, ' ')) - 1)) AS i
                    FROM read_parquet('{table_path(sf_dir, "documents")}')))
            SELECT COUNT(DISTINCT w), COUNT(*) FROM bi"""
    ).fetchone()
    assert sum(r.n_keys for r in rows) == nk
    assert sum(r.n_rows for r in rows) == nr
    assert abs(sum(r.rows_share_ppm for r in rows) - 1_000_000) <= len(rows)
    for r in rows:
        assert r.msb == r.max_freq.bit_length()
        assert r.n_rows >= r.max_freq >= 1
        assert r.salt_factor == max((r.max_freq * 32 + nr - 1) // nr, 1)
        assert (r.salt_factor > 1) == (r.max_freq * 32 > nr)


def _hilbert_xy2d_reference(n: int, x: int, y: int) -> int:
    """The canonical Hilbert convert loop (Wikipedia formulation) —
    the published algorithm the SQL stage chain must reproduce."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_loop(spark):
    """The unrolled in-engine Hilbert stage chain must agree with the
    canonical convert loop for ALL 65,536 8-bit coordinate pairs —
    exhaustive, so no drift between the generated CASE algebra and
    the published algorithm can hide anywhere in the domain."""
    from kbrowse_spark.operators.pipeline_ops import (
        _ZO_BITS,
        _hilbert_stage,
    )

    n = 2**_ZO_BITS
    grid = spark.range(n * n).selectExpr(
        "CAST(id DIV 256 AS BIGINT) AS xb",
        "CAST(id % 256 AS BIGINT) AS yb",
    )
    h = grid.selectExpr(
        "xb", "yb", "xb AS hx", "yb AS hy", "CAST(0 AS BIGINT) AS acc"
    )
    for s in (2**b for b in range(_ZO_BITS - 1, -1, -1)):
        acc, nx, ny = _hilbert_stage(s)
        h = h.selectExpr(
            "xb", "yb", f"{nx} AS hx", f"{ny} AS hy", f"{acc} AS acc"
        )
    got = {(r.xb, r.yb): r.acc for r in h.collect()}
    assert len(got) == n * n
    for (x, y), d in got.items():
        assert d == _hilbert_xy2d_reference(n, x, y)


def test_hilbert_beats_zorder_off_alignment(spark, sf_dir):
    """The curve shoot-out's two pinned facts.  (1) POWER-OF-4 TIE:
    at 4^k equal-width files both quadrant-recursive curves cut into
    the SAME square tiles, so per-file (min,max,rows) stat sets are
    identical — checked in DuckDB at 64 files with the engine's own
    stage chain.  (2) OFF-ALIGNMENT SIGNAL: at the registered 48
    files Hilbert scans strictly fewer TOTAL rows than Z-order (the
    advantage is a total, not per-predicate dominance — individual
    probes can favor either curve and do on this fixture)."""
    import duckdb

    from kbrowse_spark.operators.pipeline_ops import (
        _ZO_Z_EXPR,
        _hilbert_cte_chain,
    )
    from kbrowse_spark.sources.tables import table_path

    rows = _q(spark, sf_dir, "layout_hilbert_skipping").collect()
    assert len(rows) == 8
    by = {}
    for r in rows:
        by.setdefault(r.layout, []).append(r)
    assert set(by) == {"hilbert", "zorder"}
    for rs in by.values():
        assert all(r.files_total == 48 for r in rs)
    h_total = sum(r.rows_scanned for r in by["hilbert"])
    z_total = sum(r.rows_scanned for r in by["zorder"])
    assert h_total < z_total  # continuity buys real skipping
    # (1) the tie theorem at 64 files: identical per-file stat SETS
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{table_path(sf_dir, 'lineitem')}')"
    )
    tie = con.sql(
        f"""
        WITH mx AS (SELECT CAST(MAX(l_orderkey) AS BIGINT) AS mo,
                           CAST(MAX(l_partkey) AS BIGINT) AS mp
                    FROM lineitem),
        pts AS (SELECT CAST(l_orderkey AS BIGINT) AS x,
                       CAST(l_partkey AS BIGINT) AS y,
                       CAST(l_orderkey AS BIGINT) * 256 // (mo + 1) AS xb,
                       CAST(l_partkey AS BIGINT) * 256 // (mp + 1) AS yb
                FROM lineitem CROSS JOIN mx),
        {_hilbert_cte_chain('pts')},
        zed AS (SELECT x, y, xb, ({_ZO_Z_EXPR}) AS z FROM pts),
        assigned AS (
          SELECT x, y, 'hilbert' AS layout,
                 CAST(acc * 64 // 65536 AS BIGINT) AS file_id FROM h8
          UNION ALL
          SELECT x, y, 'zorder', CAST(z * 64 // 65536 AS BIGINT) FROM zed),
        fstats AS (SELECT layout, MIN(x) xmin, MAX(x) xmax, MIN(y) ymin,
                          MAX(y) ymax, COUNT(*) nrows
                   FROM assigned GROUP BY layout, file_id)
        SELECT layout, xmin, xmax, ymin, ymax, nrows FROM fstats
        """
    ).fetchall()
    stats = {"hilbert": set(), "zorder": set()}
    for layout, *vals in tie:
        stats[layout].add(tuple(vals))
    assert stats["hilbert"] == stats["zorder"] and len(stats["hilbert"]) > 0


def test_split_leakage_partition_and_signal(spark, sf_dir):
    """Splits partition the corpus (doc counts sum to the table),
    train reports zero contamination by definition, ppm recomputes,
    the 80/10/10 hash split is roughly honored, and the SIGNAL holds:
    the fixture's near-dup structure crosses the boundary, so val and
    test must each show nonzero contamination (an all-zero audit
    would mean the segment grain is too coarse to ever fire)."""
    from kbrowse_spark.sources.tables import load

    rows = {r.split: r for r in _q(spark, sf_dir, "split_leakage_audit").collect()}
    assert set(rows) == {"train", "val", "test"}
    n = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows.values()) == n
    assert rows["train"].n_contaminated == 0
    assert rows["train"].n_shared_segments == 0
    # hash split sanity: train is the large split
    assert rows["train"].n_docs > rows["val"].n_docs + rows["test"].n_docs
    for s in ("val", "test"):
        r = rows[s]
        assert 0 < r.n_contaminated <= r.n_docs
        assert r.n_shared_segments >= r.n_contaminated
        assert r.contaminated_ppm == 1_000_000 * r.n_contaminated // r.n_docs


def test_analyze_stats_internal_consistency(spark, sf_dir):
    """Facet sanity per column (ndv bounded by non-null rows, min <=
    max where profiled, constant row count) plus independently-known
    facts about the schema: line numbers are a tiny domain, the two
    flag columns are 1-char codes (so total string length equals
    their non-null count), and key ndv relates to the table's
    structure (orderkey ndv = distinct orders <= rows)."""
    rows = {r.col_name: r for r in _q(spark, sf_dir, "analyze_table_stats").collect()}
    assert len(rows) == 11
    n = {r.n_rows for r in rows.values()}
    assert len(n) == 1
    n = n.pop()
    for r in rows.values():
        assert 0 <= r.n_nulls <= n
        assert 1 <= r.ndv <= n - r.n_nulls
        if r.min_int is not None:
            assert r.min_int <= r.max_int
    assert rows["l_linenumber"].ndv <= 7
    for flag in ("l_returnflag", "l_linestatus"):
        r = rows[flag]
        assert r.ndv <= 3
        assert r.sum_strlen == n - r.n_nulls  # 1-char codes
    assert rows["l_orderkey"].ndv <= n
    assert rows["l_discount"].max_int <= 100  # <= $1.00 in cents


def test_histogram_equidepth_estimates_close(spark, sf_dir):
    """The estimator must be exactly the defined integer formula
    (recomputed in Python from independently-derived exact boundaries
    via DuckDB ranking), actuals must match direct counts, and the
    histogram must be GOOD: every probe's estimate lands within 2% of
    truth on this near-uniform column (a broken boundary or overlap
    formula lands far outside)."""
    import duckdb

    from kbrowse_spark.operators.analytics import _HD_B
    from kbrowse_spark.sources.tables import table_path

    rows = sorted(
        _q(spark, sf_dir, "histogram_equidepth_audit").collect(),
        key=lambda r: r.probe_id,
    )
    assert len(rows) == 3
    con = duckdb.connect()
    cents = [
        r[0]
        for r in con.sql(
            f"SELECT CAST(round(l_extendedprice * 100) AS BIGINT) FROM "
            f"read_parquet('{table_path(sf_dir, 'lineitem')}') ORDER BY 1"
        ).fetchall()
    ]
    n = len(cents)
    ks = [(i * n + _HD_B - 1) // _HD_B for i in range(_HD_B + 1)]
    his = [cents[0] - 1] + [cents[k - 1] for k in ks[1:]]
    for r in rows:
        actual = sum(1 for c in cents if r.p_lo < c <= r.p_hi)
        assert r.actual_rows == actual
        est = 0
        for i in range(1, _HD_B + 1):
            lo, hi = his[i - 1], his[i]
            depth = ks[i] - ks[i - 1]
            ov = max(0, min(hi, r.p_hi) - max(lo, r.p_lo))
            est += depth * ov // (hi - lo)
        assert r.est_rows == est
        assert r.err_ppm == 1_000_000 * abs(est - actual) // max(actual, 1)
        # within 2% of truth — or within a few rows absolute, because
        # a narrow probe on a small fixture holds only dozens of rows
        # and per-bucket floor division alone costs a row or two
        assert r.err_ppm < 20_000 or abs(est - actual) <= 5


def test_join_order_audit_commutativity_and_signal(spark, sf_dir):
    """Both orders' step 2 must produce the SAME final cardinality
    (join commutativity — a differing count means one order's plan is
    wrong) and the same cascaded estimate; the signal: the
    customer-first order's step-1 intermediate is strictly smaller
    than lineitem-first's (the reordering win), and every estimate is
    within 50% of truth (the independence assumption is rough but not
    broken on TPC-H-ish data)."""
    rows = {
        (r.join_order, r.step): r
        for r in _q(spark, sf_dir, "join_order_cardinality_audit").collect()
    }
    assert len(rows) == 4
    a1, a2 = rows[("ol_then_c", 1)], rows[("ol_then_c", 2)]
    b1, b2 = rows[("oc_then_l", 1)], rows[("oc_then_l", 2)]
    assert a2.actual_rows == b2.actual_rows > 0
    # cascaded estimates commute only up to floor-division rounding:
    # (x*a//b)*c//d vs (x*c//d)*a//b differ by at most a few units
    assert abs(a2.est_rows - b2.est_rows) <= max(2, a2.est_rows // 100)
    assert b1.actual_rows < a1.actual_rows  # the reordering win
    for r in rows.values():
        assert r.err_ppm == 1_000_000 * abs(
            r.est_rows - r.actual_rows
        ) // max(r.actual_rows, 1)
        assert r.err_ppm < 500_000


def test_truncation_recall_bounds_and_self_consistency(spark, sf_dir):
    """recall_ppm recomputes from the overlap count, overlaps are
    bounded by the list depth, every query row is present — and the
    audit must actually measure LOSS on this fixture: random
    embeddings make quarter-dim prefixes nearly uncorrelated, so at
    least one query must score below perfect recall (a recall of 1.0
    everywhere would mean the truncated ranking silently equals the
    full one and the audit measures nothing)."""
    from kbrowse_spark.operators.knn import _TR_K, _TR_NQ

    rows = sorted(
        _q(spark, sf_dir, "embedding_truncation_recall").collect(),
        key=lambda r: r.qid,
    )
    assert [r.qid for r in rows] == list(range(_TR_NQ))
    for r in rows:
        assert 0 <= r.n_overlap <= _TR_K
        assert r.recall_ppm == 1_000_000 * r.n_overlap // _TR_K
    assert any(r.n_overlap < _TR_K for r in rows)


def test_padding_waste_conservation_and_signal(spark, sf_dir):
    """Both strategies batch the SAME corpus (equal tokens_real and
    batch count), padding never shrinks a batch below its real
    tokens, waste recomputes exactly, and the signal holds:
    length-sorted batching wastes strictly less than arrival order
    (equality would mean the corpus is length-constant and the audit
    is vacuous on this fixture)."""
    rows = {
        r.strategy: r
        for r in _q(spark, sf_dir, "padding_waste_audit").collect()
    }
    assert set(rows) == {"arrival", "length_sorted"}
    a, s = rows["arrival"], rows["length_sorted"]
    assert a.tokens_real == s.tokens_real > 0
    assert a.n_batches == s.n_batches > 0
    for r in (a, s):
        assert r.tokens_padded >= r.tokens_real
        assert r.waste_ppm == 1_000_000 * (
            r.tokens_padded - r.tokens_real
        ) // r.tokens_padded
    assert s.tokens_padded < a.tokens_padded
    assert s.waste_ppm < a.waste_ppm


def test_nucleus_topp_minimality(spark, sf_dir):
    """The nucleus must be the MINIMAL covering prefix: recomputed in
    Python from an independent bigram count, the selected size k must
    satisfy mass(top k) >= ceil-threshold AND mass(top k-1) < it
    (one fewer item would not cover p), with vocab/total cross-checked
    and the share recomputing exactly."""
    from collections import Counter

    import duckdb

    from kbrowse_spark.operators.corpus_stats import _NUC_P_DEN, _NUC_P_NUM
    from kbrowse_spark.sources.tables import table_path

    rows = {r.lang: r for r in _q(spark, sf_dir, "vocab_nucleus_topp").collect()}
    data = duckdb.sql(
        f"SELECT lang, text FROM read_parquet('{table_path(sf_dir, 'documents')}')"
    ).fetchall()
    by_lang: dict = {}
    for lang, text in data:
        ws = text.split(" ")
        cnt = by_lang.setdefault(lang, Counter())
        for i in range(len(ws) - 1):
            cnt[ws[i] + " " + ws[i + 1]] += 1
    assert set(rows) == set(by_lang)
    for lang, cnt in by_lang.items():
        r = rows[lang]
        tot = sum(cnt.values())
        assert r.vocab_size == len(cnt) and r.total_tokens == tot
        thresh = tot * _NUC_P_NUM // _NUC_P_DEN
        freqs = sorted(cnt.values(), reverse=True)
        # direct recompute of the operator's membership rule
        # (cum_before < tot*p => item is in; first crossing included)
        cum_before, k2 = 0, 0
        for c in freqs:
            if cum_before < thresh:
                k2 += 1
            cum_before += c
        assert r.nucleus_size == k2
        # minimality + coverage under the crossing rule
        assert sum(freqs[:k2]) >= thresh
        if k2 > 0:
            assert sum(freqs[: k2 - 1]) < thresh
        assert r.nucleus_share_ppm == 1_000_000 * k2 // len(cnt)


def test_stream_dedup_store_matches_batch(spark, sf_dir):
    """The streaming static-store gate must produce EXACTLY the
    per-doc hit summary a pure batch formulation produces over the
    same odd-probe/even-store split, and the signal must be present:
    some arriving docs are dups (the fixture's near-dup structure)
    and some are clean."""
    from kbrowse_spark.operators.pipeline_ops import _SPLIT_SEG_W
    from kbrowse_spark.sources.tables import load

    seg = (
        f"explode(array_distinct(transform(sequence(0, CAST(ceil(size(ws) /"
        f" {_SPLIT_SEG_W}.0) AS INT) - 1),"
        f" i -> md5(array_join(slice(ws, i * {_SPLIT_SEG_W} + 1,"
        f" {_SPLIT_SEG_W}), ' ')))))"
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    segs = d.select("doc_id", F.expr(seg).alias("seg"))
    store = (
        segs.filter(F.expr("doc_id % 2 = 0")).select("seg").distinct()
    )
    want = {
        (r.doc_id, r.n_segments, r.n_store_hits)
        for r in (
            segs.filter(F.expr("doc_id % 2 = 1"))
            .join(store.withColumn("hit", F.lit(1)), "seg", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_segments"),
                F.sum(F.coalesce("hit", F.lit(0)))
                .cast("long")
                .alias("n_store_hits"),
            )
            .collect()
        )
    }
    got = {
        (r.doc_id, r.n_segments, r.n_store_hits)
        for r in _q(spark, sf_dir, "stream_dedup_static_store").collect()
    }
    assert got == want and len(got) > 0
    dups = sum(1 for _, _, h in got if h > 0)
    assert 0 < dups < len(got)


def test_fuzzy_pigeonhole_rejects_malformed_keys(spark, tmp_path):
    """The blocking scheme pins the fixed 'Customer#ddddddddd' width
    into every key; a record outside that shape would be SILENTLY
    unmatched, so the operator must abort loudly instead (ADVICE r5:
    the prefix blind spot must fail, not drop)."""
    import pytest

    bad = spark.createDataFrame(
        [(1, "Customer#000000001"), (2, "Kustomer#000000001")],
        "c_custkey long, c_name string",
    )
    bad.write.parquet(str(tmp_path / "customer.parquet"))
    with pytest.raises(Exception, match="fixed-width"):
        _q(spark, str(tmp_path), "fuzzy_join_pigeonhole").collect()


def test_concurrency_sweep_matches_global_window(spark, sf_dir):
    """The sharded prefix sum must equal a single global-window
    reference (the formulation that does NOT scale but is obviously
    right), and the sweep must conserve mass: total +1s == total -1s,
    concurrency never negative."""
    from pyspark.sql import Window as W

    from kbrowse_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("start_ts"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0, 60 + event_id % 3540)"
        ).alias("end_ts"),
    )
    deltas = ev.select(
        F.col("start_ts").alias("pt"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        ev.select(
            F.col("end_ts").alias("pt"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    conc = F.sum("delta").over(
        W.orderBy("pt", "delta", "event_id").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
    )
    ref = (
        deltas.select(
            F.date_format("pt", "yyyy-MM-dd").alias("day"), conc.alias("conc")
        )
        .groupBy("day")
        .agg(F.max("conc").cast("long").alias("max_concurrency"))
    )
    ref_rows = {r.day: r.max_concurrency for r in ref.collect()}
    got = _q(spark, sf_dir, "max_concurrency_sweep").collect()
    assert {r.day: r.max_concurrency for r in got} == ref_rows
    assert all(r.max_concurrency >= 1 for r in got)
    net = deltas.agg(F.sum("delta")).collect()[0][0]
    assert net == 0


def test_ewma_bounds_and_recurrence(spark, sf_dir):
    """EWMA lies within [min, max] of its series, and the fold equals a
    driver-side recomputation of the recurrence on the same inputs."""
    from kbrowse_spark.catalog import all_queries

    rows = _q(spark, sf_dir, "ewma_daily_revenue").collect()
    assert rows
    # Recompute one nation's fold from the daily grain.
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    daily = con.execute(
        """
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name = ?
        GROUP BY date_trunc('day', o.o_orderdate)
        ORDER BY date_trunc('day', o.o_orderdate)
        """,
        [rows[0].n_name],
    ).fetchall()
    xs = [r[0] for r in daily]
    acc = xs[0]
    for x in xs[1:]:
        acc = acc * 0.5 + x * 0.5
    assert rows[0].ewma == acc
    assert min(xs) <= rows[0].ewma <= max(xs)


def test_corr_bounds_and_agreement_with_builtin(spark, sf_dir):
    """Exact-moment Pearson r lies in [-1, 1] and agrees with Spark's
    own streaming corr() to float tolerance (the builtin is
    order-dependent so equality is approximate by nature)."""
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "corr_value_props_by_type").collect()
    assert rows
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("x"),
            F.get_json_object("props", "$.k").cast("long").alias("y"),
        )
    )
    builtin = {
        r.event_type: r.r
        for r in ev.groupBy("event_type")
        .agg(F.corr("x", "y").alias("r"))
        .collect()
    }
    for r in rows:
        assert -1.0 <= r.pearson_r <= 1.0
        assert abs(r.pearson_r - builtin[r.event_type]) < 1e-9


def test_chisq_margins_reconcile(spark, sf_dir):
    """Row/column margins attached to every cell must equal the sum of
    observed counts over that row/column, expected values are positive,
    and each chi2 contribution is non-negative."""
    rows = _q(spark, sf_dir, "chisq_type_bucket_cells").collect()
    assert rows
    row_sum: dict[str, int] = {}
    col_sum: dict[int, int] = {}
    for r in rows:
        row_sum[r.event_type] = row_sum.get(r.event_type, 0) + r.o
        col_sum[r.bucket] = col_sum.get(r.bucket, 0) + r.o
    for r in rows:
        assert r.row_n == row_sum[r.event_type]
        assert r.col_n == col_sum[r.bucket]
        assert r.expected > 0
        assert r.chi2_cell >= 0


def test_stream_alerts_equal_batch_incremental_arm(spark, sf_dir):
    """The streaming foreachBatch probe must produce EXACTLY the
    new-vs-base pairs of the batch incremental operator — the
    streaming/batch twin invariant (same check stream_transition_counts
    has against event_transition_matrix)."""
    batch = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _q(spark, sf_dir, "dedup_incremental_minhash").collect()
        if r.pair_type == "new_vs_base"
    }
    stream = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _q(spark, sf_dir, "stream_neardup_alerts").collect()
    }
    assert batch == stream


def test_holt_fold_equals_driver_recurrence(spark, sf_dir):
    """The Holt struct fold equals a driver-side recomputation of the
    level/trend recurrence on the same daily inputs, and the forecast
    is exactly level + trend."""
    import duckdb

    rows = _q(spark, sf_dir, "holt_linear_forecast").collect()
    assert rows
    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    daily = con.execute(
        """
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name = ?
        GROUP BY date_trunc('day', o.o_orderdate)
        ORDER BY date_trunc('day', o.o_orderdate)
        """,
        [rows[0].n_name],
    ).fetchall()
    xs = [r[0] for r in daily]
    l, b = xs[0], 0.0
    for x in xs[1:]:
        l_new = 0.5 * x + 0.5 * (l + b)
        b = 0.5 * (l_new - l) + 0.5 * b
        l = l_new
    assert rows[0].level == l
    assert rows[0].trend == b
    assert rows[0].forecast_next == l + b


def test_welch_readout_coherence(spark, sf_dir):
    """Arms partition the population; lift = mean difference exactly;
    z has the sign of the lift; variances positive."""
    from kbrowse_spark.sources.tables import load

    r = _q(spark, sf_dir, "ab_test_welch").collect()[0]
    total = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .count()
    )
    assert r.n_treat + r.n_ctrl == total
    assert r.lift_cents == r.mean_treat - r.mean_ctrl
    assert (r.z_welch >= 0) == (r.lift_cents >= 0)


def test_seasonal_indices_weighted_mean_is_one(spark, sf_dir):
    """Seasonal indices weighted by day counts average to exactly the
    overall mean (index weighted-mean == 1 within float tolerance),
    and every weekday appears for every nation."""
    rows = _q(spark, sf_dir, "seasonal_dow_indices").collect()
    per_nation: dict[str, list] = {}
    for r in rows:
        per_nation.setdefault(r.n_name, []).append(r)
    for name, rs in per_nation.items():
        assert sorted(r.dow for r in rs) == [1, 2, 3, 4, 5, 6, 7]
        tot = sum(r.n_days for r in rs)
        wmean = sum(r.seasonal_index * r.n_days for r in rs) / tot
        assert abs(wmean - 1.0) < 1e-9


def test_cc_star_chain_converges_in_log_rounds(spark):
    """The motivating case for large-star/small-star: a 256-node PATH
    graph has diameter 255 (min-label propagation would need ~255
    rounds) but the star alternation must finish in O(log n) — and
    label every node with the component minimum."""
    from kbrowse_spark.operators.dedup import _cc_star_labels

    n = 256
    chain = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels, rounds = _cc_star_labels(chain)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r.cluster_id == 0 for r in rows)
    assert rounds <= 12, f"expected O(log 256) rounds, used {rounds}"


def test_cc_star_matches_label_propagation(spark, sf_dir):
    """Two independent CC formulations (star alternation vs min-label
    propagation) must agree row-for-row on the real near-dup graph."""
    a = _q(spark, sf_dir, "dedup_cc_star").collect()
    b = _q(spark, sf_dir, "dedup_cluster_assign").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_mix_temperature_quota_invariants(spark, sf_dir):
    """Largest-remainder apportionment must hand out EXACTLY the target
    (quotas sum to 200), and selection must fill each quota up to the
    source's actual size."""
    rows = _q(spark, sf_dir, "mix_temperature_quota").collect()
    assert sum(r.quota for r in rows) == 200
    for r in rows:
        assert r.n_taken == min(r.quota, r.n_docs)
        assert r.weight_fp > 0


def test_pmi_cooccurrence_bounds(spark, sf_dir):
    """Pair support can never exceed either margin, margins never
    exceed the corpus, and the output honors the support floor and the
    (ratio, tok_a, tok_b) ordering."""
    rows = _q(spark, sf_dir, "pmi_cooccurrence").collect()
    assert rows
    prev = None
    for r in rows:
        assert r.n_ab <= min(r.n_a, r.n_b)
        assert r.n_ab >= 5
        key = (-r.pmi_ratio_fp, r.tok_a, r.tok_b)
        assert prev is None or prev <= key
        prev = key


def test_shuffle_skew_planner_conserves_rows(spark, sf_dir):
    """Bucket rows must sum to the events count; the hot key is inside
    its bucket; every bucket gets a salt factor >= 1."""
    from kbrowse_spark.sources.tables import load

    total = load(spark, sf_dir, "events").count()
    rows = _q(spark, sf_dir, "shuffle_skew_planner").collect()
    assert len(rows) == 32  # full partition map, empty buckets included
    assert sum(r.n_rows for r in rows) == total
    for r in rows:
        assert r.salt_factor >= 1
        if r.n_rows == 0:
            assert r.n_keys == 0 and r.hot_key_rows == 0
            assert r.hot_key is None
        else:
            assert 1 <= r.hot_key_rows <= r.n_rows
            assert r.n_keys >= 1


def test_kanonymity_suppression_consistency(spark, sf_dir):
    """Suppressed rows/groups are bounded by totals, and a language
    whose min group size >= k suppresses nothing."""
    rows = _q(spark, sf_dir, "kanonymity_report").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_groups_below_k <= r.n_groups
        assert 0 <= r.n_rows_suppressed <= r.n_rows
        if r.min_group_size >= 5:
            assert r.n_rows_suppressed == 0
        else:
            assert r.n_groups_below_k >= 1
        assert abs(r.suppression_rate - r.n_rows_suppressed / r.n_rows) < 1e-12


def test_cusum_readout_bounds(spark, sf_dir):
    """Alarms cannot outnumber days; the running max dominates the
    final statistic; both are nonnegative."""
    rows = _q(spark, sf_dir, "cusum_event_drift").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_alarms <= r.n_days
        assert 0 <= r.cusum_final <= r.cusum_max


def test_containment_dominates_jaccard(spark, sf_dir):
    """Containment in either direction is >= the pair's Jaccard (the
    union is at least as large as either set).  Hence every LSH pair
    with jaccard >= the 0.5 containment floor MUST appear in both
    directed outputs; pairs below the floor may appear, and when they
    do the dominance inequality still holds."""
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _q(spark, sf_dir, "dedup_minhash_lsh").collect()
    }
    cont = {
        (r.doc_sub, r.doc_sup): r.containment
        for r in _q(spark, sf_dir, "dedup_containment").collect()
    }
    assert pairs and cont
    for (a, b), j in pairs.items():
        for direction in ((a, b), (b, a)):
            if j >= 0.5:
                assert direction in cont
            if direction in cont:
                assert cont[direction] >= j - 1e-12


def test_length_bucket_padding_conserves_docs(spark, sf_dir):
    """Buckets partition the corpus; padding arithmetic reconciles."""
    from kbrowse_spark.sources.tables import load

    total = load(spark, sf_dir, "documents").count()
    rows = _q(spark, sf_dir, "length_bucket_padding").collect()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert r.total_padding == r.n_docs * r.bucket - r.total_tokens
        assert 0 < r.efficiency <= 1.0


def test_length_bucket_padding_truncates_overlong_docs(spark, tmp_path):
    """A document longer than the top bucket must be truncated INTO it
    (tokens counted at the bucket cap), keeping padding nonnegative and
    efficiency <= 1 — the review-caught clamp bug class."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 2000), "en", "src1", 4001),
            (2, "short doc here", "en", "src1", 14),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = _q(spark, str(tmp_path), "length_bucket_padding").collect()
    by_bucket = {r.bucket: r for r in rows}
    top = by_bucket[1024]
    assert top.total_tokens == 1024  # truncated, not raw 2000
    assert top.total_padding == 0
    assert top.efficiency == 1.0
    for r in rows:
        assert r.total_padding >= 0
        assert 0 < r.efficiency <= 1.0


def test_gini_bounds_and_ratio(spark, sf_dir):
    (r,) = _q(spark, sf_dir, "gini_source_concentration").collect()
    assert 0 <= r.gini < 1
    assert abs(r.gini - r.gini_num / r.gini_den) < 1e-15
    assert r.n_sources >= 1 and r.total_tokens > 0


def test_fano_positive(spark, sf_dir):
    rows = _q(spark, sf_dir, "fano_event_burstiness").collect()
    assert rows
    for r in rows:
        assert r.fano is None or r.fano >= 0
        assert r.sxx * r.n_hours >= r.sx * r.sx  # Cauchy-Schwarz


def test_vocab_drift_ordering_and_bounds(spark, sf_dir):
    rows = _q(spark, sf_dir, "vocab_drift_halves").collect()
    assert rows
    prev = None
    for r in rows:
        assert r.df_a + r.df_b >= 5
        div = max(r.odds_fp - 1_000_000, 1_000_000 - r.odds_fp)
        key = (-div, r.token)
        assert prev is None or prev <= key
        prev = key


def test_kaplan_meier_curve_invariants(spark, sf_dir):
    """Survival is nonincreasing in (0, 1]; the risk set starts at the
    full population and shrinks by exactly the events + censorings of
    each preceding duration."""
    rows = _q(spark, sf_dir, "survival_kaplan_meier").collect()
    assert rows
    total = rows[0].n_at_risk
    assert sum(r.n_events + r.n_censored for r in rows) == total
    prev_s, expected_n = 1.0, total
    for r in rows:
        assert r.n_at_risk == expected_n
        # survival hits exactly 0.0 when the final risk set all churns
        # (d == n on the last duration) — a correct KM output.
        assert 0 <= r.survival <= prev_s + 1e-15
        prev_s = r.survival
        expected_n -= r.n_events + r.n_censored
    assert expected_n == 0
    assert all(r.survival > 0 for r in rows[:-1])


def test_previously_checked_unsets_upgraded_no_oracle(monkeypatch, tmp_path):
    """A prior driver record of err=="no_oracle" only marks a query as
    covered while it STAYS oracle-less.  Once the query gains an oracle
    (stub upgraded to a real implementation), it must sort back into the
    driver's sampling prefix for its first hash-verification."""
    import json

    import kbrowse_spark.catalog as cat

    record = tmp_path / "CORRECTNESS_r99.json"
    record.write_text(
        json.dumps(
            {
                "upgraded_q": {"err": "no_oracle"},
                "still_rows_only_q": {"err": "no_oracle"},
                "verified_q": {"hash_match": True},
            }
        )
    )
    monkeypatch.setattr(
        "glob.glob", lambda pattern: [str(record)]
    )
    fake_registry = {
        "upgraded_q": cat.QueryDef("upgraded_q", lambda s, d: None, "SELECT 1"),
        "still_rows_only_q": cat.QueryDef(
            "still_rows_only_q", lambda s, d: None, None
        ),
        "verified_q": cat.QueryDef("verified_q", lambda s, d: None, "SELECT 1"),
    }
    monkeypatch.setattr(cat, "_REGISTRY", fake_registry)
    checked = cat._previously_checked()
    assert "upgraded_q" not in checked
    assert "still_rows_only_q" in checked
    assert "verified_q" in checked


def test_span_removal_keep_first_micro(spark, tmp_path):
    """Hand-built corpus pinning dedup_span_removal's keep-first
    semantics: the smallest doc_id sharing an 8-word window keeps its
    text verbatim; the other doc loses exactly the merged span; short
    docs (< 8 words) pass through untouched."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h x1 x2", "en", "s", 21),
            (1, "z1 a b c d e f g h z2", "en", "s", 21),
            (2, "p q", "en", "s", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in _q(spark, str(tmp_path), "dedup_span_removal").collect()
    }
    assert out[0].n_removed == 0
    assert out[0].clean_text == "a b c d e f g h x1 x2"
    assert out[1].n_removed == 8
    assert out[1].clean_text == "z1 z2"
    assert out[2].n_removed == 0 and out[2].clean_text == "p q"


def test_span_removal_conserves_words(spark, sf_dir):
    """Corpus-level invariants tying the rewriter to the span
    reporter: kept-word count equals n_words - n_removed for every
    doc, and the rewriter never removes from MORE documents than the
    reporter flags (keeper docs are spared)."""
    removal = {
        r.doc_id: r for r in _q(spark, sf_dir, "dedup_span_removal").collect()
    }
    reporter = {
        r.doc_id: r
        for r in _q(spark, sf_dir, "dedup_substring_spans").collect()
    }
    for r in removal.values():
        kept = len(r.clean_text.split(" ")) if r.clean_text else 0
        assert kept == r.n_words - r.n_removed, r
    removed_docs = {k for k, r in removal.items() if r.n_removed > 0}
    assert removed_docs <= set(reporter)
    for k in removed_docs:
        assert removal[k].n_removed <= reporter[k].dup_words


def test_ann_ivf_kmeans_invariants(spark, sf_dir):
    """IVF-with-learned-centroids invariants: every query emits exactly
    top-k rows with non-decreasing exact distances, never itself; each
    neighbor's cell is one of the query's nprobe nearest trained cells
    (recomputed independently from kmeans_lloyd's assignment); and any
    brute-force true nearest neighbor that lives in a probed cell is
    found at rank 1 (IVF is exact WITHIN the probed region)."""
    from kbrowse_spark.operators import clustering as C

    out = _q(spark, sf_dir, "ann_ivf_kmeans").collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(range(C._NQ))
    asg = {
        r.vec_id: r.cluster_id
        for r in _q(spark, sf_dir, "kmeans_lloyd").collect()
    }
    pts, cents = C._lloyd_state(spark, sf_dir)
    qvecs = {
        r.vec_id: list(r.q)
        for r in pts.filter(F.col("vec_id") < C._NQ).collect()
    }
    allpts = {r.vec_id: list(r.q) for r in pts.collect()}

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, C._TOPK + 1))
        dists = [r.sq_dist for r in rows]
        assert dists == sorted(dists)
        assert all(r.vec_id != qid for r in rows)
        probed = sorted(
            (sqd(qvecs[qid], vec), cid) for cid, vec in cents
        )[: C._NPROBE]
        probe_cells = {cid for _, cid in probed}
        for r in rows:
            assert r.cluster_id == asg[r.vec_id] in probe_cells
            assert r.sq_dist == sqd(qvecs[qid], allpts[r.vec_id])
        # exactness within the probed region: the true NN, if probed,
        # must be rank 1
        true_nn = min(
            (sqd(qvecs[qid], v), vid)
            for vid, v in allpts.items()
            if vid != qid
        )
        if asg[true_nn[1]] in probe_cells:
            assert (rows[0].sq_dist, rows[0].vec_id) == true_nn


def test_priority_sampling_invariants(spark, sf_dir):
    """Priority-sampling (Duffield-Lund-Thorup) invariants: <= k rows
    per stratum with dense ranks and descending priorities; tau is a
    per-stratum constant strictly below every kept priority (0 only
    when the stratum ran out of docs); weight_est = max(w, tau)
    row-wise; and each doc's priority recomputes exactly from the
    salted hash (one IEEE rounding)."""
    import hashlib

    from kbrowse_spark.operators import pipeline_ops as P

    rows = _q(spark, sf_dir, "sample_weighted_priority").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= P._PRIORITY_K
        pris = [r.priority for r in rs]
        assert pris == sorted(pris, reverse=True)
        taus = {r.tau for r in rs}
        assert len(taus) == 1
        tau = taus.pop()
        if len(rs) == P._PRIORITY_K:
            assert all(p >= tau for p in pris)
        else:
            assert tau == 0.0  # stratum smaller than k+1: keep all
        for r in rs:
            assert r.weight_est == max(float(r.w), r.tau)
            h = int(
                hashlib.md5(f"pri:{r.doc_id}".encode()).hexdigest()[:13], 16
            )
            assert r.priority == float(r.w) / ((h + 1) / P._U_DENOM)


def test_nfc_normalize_golden_pairs(spark, tmp_path):
    """Unicode NFC semantics on corpora the fixture lacks: composed vs
    decomposed accents, Hangul jamo composition, and forms NFC must
    NOT touch (compatibility chars, already-composed text).  Expected
    values are hand-written from the Unicode standard, not recomputed
    with the library under test."""
    import hashlib

    cases = [
        # (text, expected_changed, expected_norm)
        ("éclair", 1, "éclair"),  # e + combining acute -> é
        ("éclair", 0, "éclair"),  # already composed
        ("각", 1, "각"),  # jamo G+A+G -> 각
        ("각", 0, "각"),
        ("ﬁle", 0, "ﬁle"),  # fi ligature: NFC keeps (NFKC wouldn't)
        ("ascii only", 0, "ascii only"),
        ("ö́", 1, "ö́"),  # o+diaeresis+acute -> ö+acute
    ]
    rows = [
        (i, t, "xx", "s", len(t)) for i, (t, _, _) in enumerate(cases)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in _q(spark, str(tmp_path), "text_normalize_nfc").collect()
    }
    for i, (t, changed, norm) in enumerate(cases):
        r = out[i]
        assert r.changed == changed, (t, r)
        assert r.n_cp_before == len(t)
        assert r.n_cp_after == len(norm), (t, r)
        assert r.norm_md5 == hashlib.md5(norm.encode("utf-8")).hexdigest(), t
    # the DuckDB oracle agrees on the same golden corpus: two
    # independent Unicode implementations, one answer
    import duckdb

    from kbrowse_spark.catalog import all_queries

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    duck = con.execute(all_queries()["text_normalize_nfc"].oracle).fetchall()
    for doc_id, changed, cp_b, cp_a, md5 in duck:
        r = out[doc_id]
        assert (r.changed, r.n_cp_before, r.n_cp_after, r.norm_md5) == (
            changed,
            cp_b,
            cp_a,
            md5,
        )


def test_prefix_filter_join_is_exact(spark, sf_dir):
    """dedup_prefix_filter_join must equal BRUTE-FORCE all-pairs
    Jaccard at t=4/5 over the same distinct-shingle sets — the whole
    point of prefix filtering over LSH is zero false negatives, so the
    pair set AND every score must match exactly.  The acceptance test
    mirrors the operator's integer form (5*inter >= 4*union) so a
    boundary pair cannot diverge on float rounding."""
    from itertools import combinations

    from kbrowse_spark.operators.dedup import (
        _shingles_df,
        dedup_prefix_filter_join,
    )

    sets: dict[int, set] = {}
    for r in _shingles_df(spark, sf_dir).collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    expect = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - inter
        if inter and 5 * inter >= 4 * union:
            expect[(a, b)] = (inter, inter / union)
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup_prefix_filter_join(spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must contain at least one qualifying pair"


def test_perceptron_matches_pure_python_replay(spark, sf_dir):
    """perceptron_train_batch must equal an INDEPENDENT pure-Python
    replay of the batch rule (zero init, margin<=0 misclassified,
    summed integer updates) over the same quantized fixture — a
    reference implementation sharing no code with the operator."""
    import duckdb

    from kbrowse_spark.operators.clustering import perceptron_train_batch

    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    data = [
        (
            vid,
            1 if label % 2 == 0 else -1,
            [int(round(float(x) * 1024)) for x in emb],
        )
        for vid, label, emb in rows
    ]
    dim = len(data[0][2])
    w, b = [0] * dim, 0
    for _ in range(3):
        dw, db = [0] * dim, 0
        for _vid, y, q in data:
            m = sum(qi * wi for qi, wi in zip(q, w)) + b
            if y * m <= 0:
                for d in range(dim):
                    dw[d] += y * q[d]
                db += y
        w = [wi + di for wi, di in zip(w, dw)]
        b += db
    expect = {}
    for vid, y, q in data:
        m = sum(qi * wi for qi, wi in zip(q, w)) + b
        expect[vid] = (y, m, 1 if m > 0 else -1, 1 if y * m > 0 else 0)

    got = {
        r.vec_id: (r.y_true, r.margin, r.y_pred, r.correct)
        for r in perceptron_train_batch(spark, sf_dir).collect()
    }
    assert got == expect
    # the fixture must actually exercise both prediction branches
    preds = {v[2] for v in got.values()}
    assert preds == {1, -1}


def test_order_stat_bucket_select_matches_sorted(spark, sf_dir):
    """order_stat_bucket_select must return the exact element a full
    sort would: rank k = ceil(p*n), 1-indexed."""
    import math

    import duckdb

    from kbrowse_spark.operators.analytics import order_stat_bucket_select

    vals = [
        r[0]
        for r in duckdb.sql(
            f"SELECT l_extendedprice FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet') ORDER BY 1"
        ).fetchall()
    ]
    n = len(vals)
    expect = {}
    for lbl, num, den in [
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ]:
        k = math.ceil(num * n / den)
        expect[lbl] = (k, vals[k - 1])
    got = {
        r.pct_label: (r.target_rank, r.value)
        for r in order_stat_bucket_select(spark, sf_dir).collect()
    }
    assert got == expect


def test_linreg_cramer_matches_numpy_lstsq(spark, sf_dir):
    """linreg_normal_cramer must agree with numpy's independent QR
    least-squares solve on the same design matrix (to float tolerance
    — different algorithm, same minimizer)."""
    import duckdb
    import numpy as np

    from kbrowse_spark.operators.analytics import linreg_normal_cramer

    rows = duckdb.sql(
        f"""SELECT CAST(len(string_split(text,' ')) AS BIGINT),
                   CAST(len(text) - len(replace(text,'e','')) AS BIGINT),
                   CAST(n_chars AS BIGINT)
            FROM read_parquet('{sf_dir}/documents.parquet')"""
    ).fetchall()
    X = np.array([[1.0, r[0], r[1]] for r in rows])
    y = np.array([float(r[2]) for r in rows])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)

    got = linreg_normal_cramer(spark, sf_dir).collect()[0]
    assert got.n_docs == len(rows)
    assert got.det != 0.0
    for g, b in zip(
        (got.beta_intercept, got.beta_words, got.beta_echars), beta
    ):
        assert abs(g - b) <= 1e-7 * max(1.0, abs(b)), (g, b)


def test_pca_power_matches_numpy_replay(spark, sf_dir):
    """pca_power_topvec must equal an independent numpy replay of the
    integer power iteration (exact int64 X'(Xv) + the documented
    float renormalization), and after 3 rounds the direction must have
    a large Rayleigh-quotient ratio vs the start (it actually moved
    toward the top eigenvector)."""
    import math

    import duckdb
    import numpy as np

    from kbrowse_spark.operators.clustering import pca_power_topvec

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    X = np.array(
        [[int(round(float(x) * 1024)) for x in emb] for _vid, emb in rows],
        dtype=object,  # exact python-int arithmetic, no silent overflow
    )
    v = [1024] + [0] * (X.shape[1] - 1)
    for _ in range(3):
        u = [sum(int(q) * int(vi) for q, vi in zip(row, v)) for row in X]
        w = [
            sum(int(X[i][d]) * u[i] for i in range(len(u)))
            for d in range(X.shape[1])
        ]
        mx = max(max(abs(x) for x in w), 1)
        v = [int(math.floor(float(x) * 1024.0 / float(mx))) for x in w]

    got = pca_power_topvec(spark, sf_dir).collect()
    assert [r.v_q for r in got] == v
    assert [r.dim for r in got] == list(range(X.shape[1]))

    # Rayleigh quotient improved vs the e_0 start: power iteration did
    # its job on this fixture (not a trajectory tautology).
    Xf = np.array(X.tolist(), dtype=float)
    def rq(vec):
        vec = np.array(vec, dtype=float)
        return float(vec @ (Xf.T @ (Xf @ vec))) / float(vec @ vec)
    e0 = [1.0] + [0.0] * (X.shape[1] - 1)
    assert rq(v) > rq(e0)


def test_ivf_incremental_assign_consistency(spark, sf_dir):
    """ann_ivf_incremental_assign must agree row-for-row with the full
    kmeans assignment restricted to the new batch, and its
    cell_base_n column must equal the full assignment's base-slice
    cell histogram."""
    from kbrowse_spark.operators.clustering import (
        ann_ivf_incremental_assign,
        kmeans_lloyd,
    )

    full = {r.vec_id: (r.cluster_id, r.sq_dist) for r in kmeans_lloyd(spark, sf_dir).collect()}
    base_hist: dict[int, int] = {}
    for vid, (cid, _d) in full.items():
        if vid % 10 != 0:
            base_hist[cid] = base_hist.get(cid, 0) + 1

    rows = ann_ivf_incremental_assign(spark, sf_dir).collect()
    assert {r.vec_id for r in rows} == {v for v in full if v % 10 == 0}
    for r in rows:
        assert (r.cluster_id, r.sq_dist) == full[r.vec_id]
        assert r.cell_base_n == base_hist.get(r.cluster_id, 0)


def test_naive_bayes_separable_corpus(spark, tmp_path):
    """On a corpus whose languages have disjoint vocabularies the NB
    classifier must recover every test label, and its quantized bit
    scores must match a pure-Python replay of the Laplace/bitlength
    formula exactly."""
    vocab = {
        "de": ["der", "und", "nicht"],
        "en": ["dog", "cat", "house"],
        "es": ["perro", "gato", "casa"],
        "fr": ["chien", "chat", "maison"],
        "zh": ["gou", "mao", "fang"],
    }
    langs = sorted(vocab)
    rows = []
    did = 0
    for L in langs:
        ws = vocab[L]
        for k in range(4):  # 2 even (train) + 2 odd (test) per lang
            text = " ".join(ws[(k + j) % 3] for j in range(6))
            rows.append((did, text, L, "s", len(text)))
            did += 1
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = _q(spark, str(tmp_path), "naive_bayes_langid").collect()
    assert len(out) == 10  # odd-doc_id half
    assert all(r.pred_lang == r.labeled_lang for r in out)

    # pure-Python replay of the quantized scoring
    train = [(r[2], r[1].split()) for r in rows if r[0] % 2 == 0]
    cnt: dict[tuple[str, str], int] = {}
    tot: dict[str, int] = {}
    nd: dict[str, int] = {}
    vset = set()
    for L, ws in train:
        nd[L] = nd.get(L, 0) + 1
        for w in ws:
            cnt[(L, w)] = cnt.get((L, w), 0) + 1
            tot[L] = tot.get(L, 0) + 1
            vset.add(w)
    V, ntr = len(vset), len(train)
    for r in out:
        text = dict((row[0], row[1]) for row in rows)[r.doc_id]
        for L in langs:
            bits = (ntr // nd[L]).bit_length() - 1
            for w in text.split():
                q = (tot[L] + V) // (cnt.get((L, w), 0) + 1)
                bits += q.bit_length() - 1
            assert getattr(r, f"bits_{L}") == bits, (r.doc_id, L)


def test_apriori_rules_bruteforce_replay(spark, sf_dir):
    """Every rule freq_itemsets_apriori emits must match a brute-force
    Python recomputation of supports / confidence / lift over the same
    baskets, and every emitted itemset must clear minsup."""
    import duckdb

    from kbrowse_spark.operators.analytics import _AP_MINSUP_PCT, _AP_SCALE

    con = duckdb.connect()
    baskets = con.execute(
        f"""SELECT DISTINCT l_orderkey, p_brand
            FROM '{sf_dir}/lineitem.parquet' l
            JOIN '{sf_dir}/part.parquet' p ON l_partkey = p_partkey"""
    ).fetchall()
    by_b: dict[int, set[str]] = {}
    for bid, item in baskets:
        by_b.setdefault(bid, set()).add(item)
    n = len(by_b)
    supp: dict[str, int] = {}
    psupp: dict[tuple[str, str], int] = {}
    for items in by_b.values():
        for i in items:
            supp[i] = supp.get(i, 0) + 1
        for i in items:
            for j in items:
                if i < j:
                    psupp[(i, j)] = psupp.get((i, j), 0) + 1
    rows = _q(spark, sf_dir, "freq_itemsets_apriori").collect()
    assert rows, "no rules emitted"
    for r in rows:
        a, c = r.antecedent, r.consequent
        key = (a, c) if a < c else (c, a)
        assert r.pair_support == psupp[key]
        assert r.ante_support == supp[a]
        assert r.pair_support * 100 >= n * _AP_MINSUP_PCT
        assert supp[a] * 100 >= n * _AP_MINSUP_PCT
        conf = _AP_SCALE * r.pair_support // supp[a]
        assert r.conf_scaled == conf
        assert r.lift_scaled == conf * n // supp[c]


def test_hits_integer_replay(spark, sf_dir):
    """HITS top lists must match a pure-Python replay of the scaled
    integer mutual recursion (same normalization arithmetic)."""
    import duckdb

    from kbrowse_spark.operators.graph import (
        _HITS_ITERS,
        _HITS_SCALE,
        _HITS_TOP,
    )

    con = duckdb.connect()
    pairs = con.execute(
        f"""SELECT DISTINCT o_custkey, l_suppkey
            FROM '{sf_dir}/orders.parquet' o
            JOIN '{sf_dir}/lineitem.parquet' l ON o_orderkey = l_orderkey"""
    ).fetchall()
    h = {c: _HITS_SCALE for c, _ in pairs}
    a: dict[int, int] = {}
    for _ in range(_HITS_ITERS):
        a = {}
        for c, s in pairs:
            a[s] = a.get(s, 0) + h[c]
        m = max(a.values())
        a = {s: v // (m // _HITS_SCALE) for s, v in a.items()}
        h = {}
        for c, s in pairs:
            h[c] = h.get(c, 0) + a[s]
        m = max(h.values())
        h = {c: v // (m // _HITS_SCALE) for c, v in h.items()}
    exp_s = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:_HITS_TOP]
    exp_c = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:_HITS_TOP]
    rows = _q(spark, sf_dir, "hits_hubs_authorities").collect()
    got_s = [(r.id, r.score_scaled) for r in rows if r.node_type == "supplier"]
    got_c = [(r.id, r.score_scaled) for r in rows if r.node_type == "customer"]
    assert got_s == exp_s
    assert got_c == exp_c


def test_hrw_minimal_movement_and_replay(spark, sf_dir):
    """HRW's defining property: adding a node moves docs ONLY onto the
    new node (~1/(n+1) of them); per-node counts match a pure-Python
    md5 replay."""
    import hashlib

    import duckdb

    from kbrowse_spark.operators.pipeline_ops import _HRW_NEW, _HRW_OLD

    con = duckdb.connect()
    ids = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]

    def key(doc, node):
        h = int(hashlib.md5(f"{doc}:{node}".encode()).hexdigest()[:8], 16)
        return h * 16 + node

    n_old = {n: 0 for n in range(_HRW_NEW)}
    n_new = {n: 0 for n in range(_HRW_NEW)}
    moved = {n: 0 for n in range(_HRW_NEW)}
    total_moved = 0
    for doc in ids:
        keys = [key(doc, n) for n in range(_HRW_NEW)]
        s_old = max(keys[:_HRW_OLD]) % 16
        s_new = max(keys) % 16
        n_old[s_old] += 1
        n_new[s_new] += 1
        if s_old != s_new:
            moved[s_old] += 1
            total_moved += 1
            assert s_new == _HRW_NEW - 1  # minimal movement: only to new node
    rows = _q(spark, sf_dir, "shard_rebalance_hrw").collect()
    assert len(rows) == _HRW_NEW
    for r in rows:
        assert getattr(r, f"n_under_{_HRW_OLD}") == n_old[r.node]
        assert getattr(r, f"n_under_{_HRW_NEW}") == n_new[r.node]
        assert r.moved_out == moved[r.node]
    # expected movement ~ N/9; allow generous slack for md5 variance
    frac = total_moved / len(ids)
    assert 0.4 / _HRW_NEW < frac < 2.5 / _HRW_NEW


def test_stump_best_split_matches_bruteforce(spark, sf_dir):
    """The stump's top-ranked split must equal a brute-force Python
    scan over all bin boundaries, and every row's cumulative stats
    must be internally consistent (nl+nr = N, sl+sr = S)."""
    import duckdb

    from kbrowse_spark.operators.clustering import _STUMP_BINW

    con = duckdb.connect()
    pts = con.execute(
        f"""SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) // {_STUMP_BINW},
                   CAST(FLOOR(l_quantity) AS BIGINT)
            FROM '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    hist: dict[int, list[int]] = {}
    for b, y in pts:
        e = hist.setdefault(b, [0, 0])
        e[0] += 1
        e[1] += y
    N = sum(v[0] for v in hist.values())
    S = sum(v[1] for v in hist.values())
    best = None
    for split in sorted(hist):
        nl = sum(v[0] for b, v in hist.items() if b < split)
        sl = sum(v[1] for b, v in hist.items() if b < split)
        nr, sr = N - nl, S - sl
        if nl == 0 or nr == 0:
            continue
        score = sl * sl / nl + sr * sr / nr
        if best is None or score > best[0]:
            best = (score, split)
    rows = _q(spark, sf_dir, "decision_stump_histogram").collect()
    assert rows[0].split_bin == best[1]
    assert rows[0].score == best[0]
    for r in rows:
        assert r.n_left + r.n_right == N
        assert r.sum_left + r.sum_right == S
        assert r.split_price == r.split_bin * _STUMP_BINW


def test_zonemap_prune_semantics(spark, sf_dir):
    """The written zone layout must actually prune: the above-max probe
    skips every zone; the full-range probe scans every row; partial
    probes scan only intersecting zones' rows."""
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        f"SELECT COUNT(*) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()[0]
    rows = {r.pred_id: r for r in _q(spark, sf_dir, "export_zonemap_prune").collect()}
    assert rows[2].zones_skipped == rows[2].zones_total  # empty range
    assert rows[2].rows_scanned == 0
    assert rows[3].zones_skipped == 0  # full range
    assert rows[3].rows_scanned == n
    assert 0 < rows[0].rows_scanned < n  # first eighth prunes most zones
    assert rows[0].zones_skipped >= rows[0].zones_total - 2


def test_join_size_estimate_replay_and_accuracy(spark, sf_dir):
    """Each rate's estimate must match a pure-Python md5 replay
    exactly, and the half-rate estimate must land within 50% of the
    exact self-join moment on the fixture."""
    import hashlib

    import duckdb

    from kbrowse_spark.operators.data_quality import _JSE_RATES

    con = duckdb.connect()
    counts = con.execute(
        f"SELECT l_partkey, COUNT(*) FROM '{sf_dir}/lineitem.parquet'"
        " GROUP BY l_partkey"
    ).fetchall()
    exact = sum(c * c for _, c in counts)
    est = {}
    for r in _JSE_RATES:
        tot = 0
        for k, c in counts:
            h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
            if h % r == 0:
                tot += c * c
        est[r] = r * tot
    rows = _q(spark, sf_dir, "join_size_estimate_sample").collect()
    assert [r.rate_denom for r in rows] == _JSE_RATES
    for row in rows:
        assert row.exact == exact
        assert row.estimated == est[row.rate_denom]
        n = (row.estimated - exact) * 10**6
        # engines truncate integer division toward zero; Python floors
        assert row.err_ppm == (-((-n) // exact) if n < 0 else n // exact)
    assert abs(rows[0].estimated - exact) / exact < 0.5


def test_attribution_multitouch_replay(spark, sf_dir):
    """Channel credits must match a pure-Python replay of the journey
    semantics (strict pre-first-purchase boundary, (ts, event_id)
    order, SCALE DIV n linear shares)."""
    import duckdb

    from kbrowse_spark.operators.analytics import _ATTR_SCALE

    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, event_type, ts, event_id FROM"
        f" '{sf_dir}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    first_purchase = {}
    for u, et, ts, eid in ev:
        if et == "purchase" and u not in first_purchase:
            first_purchase[u] = ts
    journeys: dict[int, list[str]] = {}
    for u, et, ts, eid in ev:
        if u in first_purchase and ts < first_purchase[u] and et != "purchase":
            journeys.setdefault(u, []).append(et)
    agg: dict[str, list[int]] = {}
    for touches in journeys.values():
        n = len(touches)
        for i, ch in enumerate(touches):
            e = agg.setdefault(ch, [0, 0, 0, 0])
            e[0] += 1
            if i == 0:
                e[1] += 1
            if i == n - 1:
                e[2] += 1
            e[3] += _ATTR_SCALE // n
    rows = _q(spark, sf_dir, "attribution_multitouch").collect()
    assert {r.channel for r in rows} == set(agg)
    for r in rows:
        assert [r.touches, r.first_touch, r.last_touch,
                r.linear_credit_scaled] == agg[r.channel]


def test_frequent_event_paths_replay(spark, sf_dir):
    """Top journey prefixes and conversion counts must match a
    pure-Python replay."""
    import duckdb

    from kbrowse_spark.operators.analytics import _PATH_LEN, _PATH_TOP

    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, event_type FROM '{sf_dir}/events.parquet'"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    seq: dict[int, list[str]] = {}
    conv: dict[int, int] = {}
    for u, et in ev:
        seq.setdefault(u, []).append(et)
        if et == "purchase":
            conv[u] = 1
    agg: dict[str, list[int]] = {}
    for u, s in seq.items():
        path = ">".join(s[:_PATH_LEN])
        e = agg.setdefault(path, [0, 0])
        e[0] += 1
        e[1] += conv.get(u, 0)
    exp = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0]))[:_PATH_TOP]
    rows = _q(spark, sf_dir, "frequent_event_paths").collect()
    assert [(r.path, [r.n_users, r.n_converted]) for r in rows] == exp
    for r in rows:
        assert r.conv_ppm == 10**6 * r.n_converted // r.n_users


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """The bloom-prefiltered join must equal the plain join exactly
    (no false negatives), and the measured funnel must actually prune:
    true matches <= bloom survivors < all fact rows."""
    from kbrowse_spark.sources.tables import load

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    plain = {
        r.l_returnflag: (r.n, r.cents)
        for r in li.join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)")).alias(
                "cents"
            ),
        )
        .collect()
    }
    rows = _q(spark, sf_dir, "join_bloom_prefilter").collect()
    assert {r.l_returnflag: (r.n_rows, r.revenue_cents) for r in rows} == plain
    n_true = sum(n for n, _ in plain.values())
    r0 = rows[0]
    assert n_true <= r0.n_bloom_pass < r0.n_fact
    # sizing ladder: at least 32 bits per dim key, power of two
    n_dim = o.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert r0.bloom_bits >= min(32 * n_dim, 2**24)
    assert r0.bloom_bits & (r0.bloom_bits - 1) == 0


def test_bloom_oracle_scores_empty_word_probes():
    """r12 ADVICE regression: the join_bloom_runtime_filter ORACLE must
    score a probe row whose hashed word has no set bits as a miss, not
    drop it (the pre-fix INNER JOIN to the words CTE shrank n_probe and
    the false-positive denominator).  Fixture is adversarial: exactly 8
    build keys whose three md5 slices all land mod 128 in [0, 64)
    (m = 1 << bit_length(16*8 - 1) = 128), so word index 1 is EMPTY —
    never materialized by the bit_or aggregate — and a probe key with
    some hash in word 1 exercises the LEFT-JOIN/COALESCE path."""
    import hashlib

    import duckdb

    from kbrowse_spark.operators.pipeline_ops import _blf_oracle

    def slices(key: int) -> list[int]:
        h = hashlib.md5(str(key).encode()).hexdigest()
        return [int(h[10 * i : 10 * i + 10], 16) % 128 for i in range(3)]

    build = [k for k in range(10_000) if all(s < 64 for s in slices(k))][:8]
    assert len(build) == 8
    probe_w1 = next(
        k
        for k in range(10_000)
        if k not in build and any(s >= 64 for s in slices(k))
    )
    probes = build[:3] + [probe_w1]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(f"({k}, '1-URGENT')" for k in build)
        + ") t(o_orderkey, o_orderpriority)"
    )
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ", ".join(f"({k})" for k in probes)
        + ") t(l_orderkey)"
    )
    r = con.execute(_blf_oracle()).fetchone()
    n_build, m_bits, n_probe, n_pass, n_true, fp_ppm = r
    assert (n_build, m_bits) == (8, 128)
    assert n_probe == len(probes), "empty-word probe row was dropped"
    assert n_true == 3
    # the word-1 prober MUST fail the membership test (its word is 0)
    assert n_pass < n_probe
    assert 0 <= fp_ppm <= 10**6


def test_partition_pruning_plan(spark, sf_dir):
    """The pruning half of partition_pruning_audit's contract: a scan
    filtered to one event_type must carry the predicate as a
    PartitionFilter (listing-time pruning, not row filtering) and its
    EXECUTED scan metrics must show only that type's leaf files read —
    salts-of-one-type out of types x salts staged files."""
    import hashlib

    from kbrowse_spark.operators.pipeline_ops import _PPA_SALTS

    # Stage (and manifest-audit) via the catalog builder itself.
    rows = _q(spark, sf_dir, "partition_pruning_audit").collect()
    total_files = sum(r.n_files for r in rows)
    probe = rows[0].event_type
    probe_files = rows[0].n_files
    assert probe_files <= _PPA_SALTS < total_files

    from kbrowse_spark.operators.pipeline_ops import _ppa_staging_root

    root = _ppa_staging_root(spark, sf_dir)
    df = spark.read.parquet(root).filter(F.col("event_type") == probe)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and f"= {probe}" in pf[0], pf
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    num_files = scan.metrics().apply("numFiles").value()
    assert num_files == probe_files, (num_files, probe_files, total_files)


def test_fagin_ta_depth_matches_simulation(spark, sf_dir):
    """topk_fagin_ta_depth's closed-form stopping depth must equal a
    literal depth-by-depth TA simulation (sorted access on both lists,
    threshold = sum of current positions' scores, stop when >= k seen
    docs have f >= threshold), and the emitted top-k must all be SEEN
    by depth d* — the TA correctness guarantee."""
    import duckdb

    from kbrowse_spark.operators.analytics import _TA_K

    rows = _q(spark, sf_dir, "topk_fagin_ta_depth").collect()
    got = {}
    for r in rows:
        got.setdefault(r.lang, {"d_star": r.d_star, "top": []})
        got[r.lang]["top"].append((r.rank, r.doc_id, r.f_score))

    con = duckdb.connect()
    docs = con.execute(
        "SELECT lang, doc_id, CAST(n_chars AS BIGINT),"
        " CAST(10 * len(string_split(text, ' ')) AS BIGINT)"
        f" FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    by_lang: dict[str, list] = {}
    for lang, did, s1, s2 in docs:
        by_lang.setdefault(lang, []).append((did, s1, s2))
    assert set(got) == set(by_lang)
    for lang, ds in by_lang.items():
        l1 = sorted(ds, key=lambda x: (-x[1], x[0]))
        l2 = sorted(ds, key=lambda x: (-x[2], x[0]))
        f = {did: s1 + s2 for did, s1, s2 in ds}
        seen: set = set()
        d_star = None
        for d in range(1, len(ds) + 1):
            seen.add(l1[d - 1][0])
            seen.add(l2[d - 1][0])
            thr = l1[d - 1][1] + l2[d - 1][2]
            if sum(1 for x in seen if f[x] >= thr) >= _TA_K:
                d_star = d
                break
        assert got[lang]["d_star"] == d_star, (lang, got[lang], d_star)
        # every emitted top-k doc is seen by depth d*
        seen_at = {x[0] for x in l1[:d_star]} | {x[0] for x in l2[:d_star]}
        exact_top = sorted(ds, key=lambda x: (-(x[1] + x[2]), x[0]))[:_TA_K]
        for rank, did, fs in got[lang]["top"]:
            assert did in seen_at
            assert (did, fs) == (
                exact_top[rank - 1][0],
                exact_top[rank - 1][1] + exact_top[rank - 1][2],
            )


def test_ridge_lambda_zero_equals_ols_and_shrinks(spark, sf_dir):
    """The lambda = 0 ridge row must reproduce linreg_normal_cramer
    bit-for-bit, and slope magnitudes must shrink monotonically as
    lambda grows (the defining ridge property); a numpy solve
    cross-checks every lambda."""
    import numpy as np

    ols = _q(spark, sf_dir, "linreg_normal_cramer").collect()[0]
    rows = _q(spark, sf_dir, "ridge_lambda_sweep").collect()
    r0 = rows[0]
    assert r0.lam == 0
    assert (r0.beta_intercept, r0.beta_words, r0.beta_echars) == (
        ols.beta_intercept,
        ols.beta_words,
        ols.beta_echars,
    )
    import duckdb

    con = duckdb.connect()
    f = con.execute(
        f"""SELECT len(string_split(text, ' ')),
                   len(text) - len(replace(text, 'e', '')), n_chars
            FROM '{sf_dir}/documents.parquet'"""
    ).fetchall()
    X = np.array([[1.0, a, b] for a, b, _ in f])
    y = np.array([c for _, _, c in f], dtype=float)
    prev = None
    for r in rows:
        A = X.T @ X + r.lam * np.eye(3)
        beta = np.linalg.solve(A, X.T @ y)
        got = np.array([r.beta_intercept, r.beta_words, r.beta_echars])
        assert np.allclose(got, beta, rtol=1e-7), (r.lam, got, beta)
        norm = got[1] ** 2 + got[2] ** 2
        if prev is not None:
            assert norm <= prev + 1e-12
        prev = norm


def test_stream_bloom_firstseen_properties(spark, sf_dir):
    """Bloom first-seen: no false negatives (approx=1 wherever
    exact=1), batch 0 flags nothing, and the false-positive rate over
    exact-unseen rows stays under 5% at the chosen sizing."""
    rows = _q(spark, sf_dir, "stream_bloom_firstseen").collect()
    assert rows
    fp = fresh = 0
    for r in rows:
        if r.seen_exact:
            assert r.seen_approx == 1, r  # bloom has no false negatives
        if r.batch_id == 0:
            assert r.seen_approx == 0 and r.seen_exact == 0
        if not r.seen_exact:
            fresh += 1
            fp += r.seen_approx
    assert fresh > 0
    assert fp / fresh < 0.05, (fp, fresh)


def test_takedown_propagation_complete(spark, sf_dir):
    """Every table's audit row balances, removal actually happened,
    and no purged doc survives in any derived table (re-derived from
    the public query output)."""
    rows = {r.tbl: r for r in _q(spark, sf_dir, "takedown_propagation").collect()}
    assert set(rows) == {"documents", "embeddings", "doc_chunks"}
    for r in rows.values():
        assert r.balanced == 1
        assert r.n_removed > 0
        assert r.n_before - r.n_removed == r.n_after
    # same takedown fraction everywhere documents/embeddings share keys
    assert rows["documents"].n_removed == rows["embeddings"].n_removed


def test_bitext_margin_numpy_replay(spark, sf_dir):
    """Margins must match a numpy replay of the ratio-margin criterion
    (forward/backward k-NN means over exact cosines) to 1e-9, and the
    hub-normalization property must hold: margin ranks differ from raw
    cosine ranks only via neighborhood density (spot-check: every
    emitted pair's target is in the query's top-k by cosine)."""
    import duckdb
    import numpy as np

    from kbrowse_spark.operators.knn import _BM_K, _BM_QBLOCK

    con = duckdb.connect()
    vecs = {
        r[0]: np.array(r[1], dtype=np.float64)
        for r in con.execute(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
        ).fetchall()
    }

    def fdot(a, b):
        return (
            sum(int(np.floor(float(x) * float(y) * 1e15)) for x, y in zip(a, b))
            / 1e15
        )

    def cos(a, b):
        import math

        return fdot(a, b) / (math.sqrt(fdot(a, a)) * math.sqrt(fdot(b, b)))

    src = [v for v in sorted(vecs) if v % 2 == 0 and v < _BM_QBLOCK]
    tgt = [v for v in sorted(vecs) if v % 2 == 1]
    sims = {(q, t): cos(vecs[q], vecs[t]) for q in src for t in tgt}
    fwd_top = {
        q: sorted(tgt, key=lambda t: (-sims[(q, t)], t))[:_BM_K] for q in src
    }
    rows = _q(spark, sf_dir, "bitext_margin_mining").collect()
    assert rows
    cand_t = {t for q in src for t in fwd_top[q]}
    bwd_top = {
        t: sorted(src, key=lambda q: (-sims[(q, t)], q))[:_BM_K]
        for t in cand_t
    }
    for r in rows:
        assert r.tid in fwd_top[r.qid]
        fs = sum(sims[(r.qid, t)] for t in fwd_top[r.qid])
        bs = sum(sims[(q, r.tid)] for q in bwd_top[r.tid])
        exp = sims[(r.qid, r.tid)] / ((fs + bs) / (2 * _BM_K))
        assert abs(r.margin - exp) < 1e-9
        assert abs(r.cosine - sims[(r.qid, r.tid)]) < 1e-12


def test_transcendental_format_boundary_margin(spark, sf_dir):
    """The scalar_transcendental hash contract formats libm doubles to
    12 significant digits via each engine's printf family — which
    round differently at EXACT midpoints (Java HALF_UP vs C
    half-even), and a value within ~1 ulp of a 12-digit boundary could
    format differently if the two engines' libm results straddle it
    (ADVICE r8).  This pins the contract's safety on the actual
    fixture: every cell's exact binary value must sit at least ~45
    double-ulps (margin 1e-3 in units of the 12th significant digit;
    1 ulp ~ 2.2e-5 in those units) away from the nearest rounding
    midpoint, so no last-ulp cross-engine disagreement can flip the
    string.  If a future fixture lands near a boundary this fails
    loudly with the offending value — widen the format then."""
    from decimal import Decimal

    from kbrowse_spark.operators.relational import _TRANSCENDENTAL_EXPRS
    from kbrowse_spark.sources.tables import load

    raw = []
    for d in {sf_dir, "/root/testdata/sf0.01"}:  # incl. the driver's gate SF
        p = load(spark, d, "part").filter(F.col("p_partkey") < 100)
        raw += p.selectExpr(
            "p_partkey",
            *[f"{e} AS {k}" for k, e in _TRANSCENDENTAL_EXPRS.items()],
        ).collect()
    assert raw
    checked = 0
    for r in raw:
        for k in _TRANSCENDENTAL_EXPRS:
            v = r[k]
            if v == 0.0:
                continue
            d = abs(Decimal(v))          # exact binary expansion
            scaled = d.scaleb(11 - d.adjusted())  # 12 sig digits as int part
            frac = scaled - int(scaled)
            margin = abs(float(frac) - 0.5)
            assert margin > 1e-3, (
                f"{k} p_partkey={r.p_partkey}: value {v!r} is within "
                f"{margin:.2e} of a 12-sig-digit rounding midpoint — the "
                f"%.11e hash contract is no longer ulp-safe for this cell"
            )
            checked += 1
    assert checked > 100


def test_ddsketch_quantile_error_guarantee(spark, sf_dir):
    """The log-linear sketch's readout must CONTAIN the exact order
    statistic: est_lo <= true-quantile < est_hi for every (lang, q),
    with bucket width bounded by ~1/16 relative — the DDSketch-style
    guarantee the operator's docstring claims."""
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "quantile_ddsketch_chars").collect()
    assert rows
    vals: dict[str, list[int]] = {}
    for r in (
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 1)
        .select("lang", "n_chars")
        .collect()
    ):
        vals.setdefault(r.lang, []).append(r.n_chars)
    for v in vals.values():
        v.sort()
    seen = set()
    for r in rows:
        n = len(vals[r.lang])
        rank = (r.q * n + 99) // 100  # ceil(q*n/100), 1-based
        true = vals[r.lang][rank - 1]
        assert r.est_lo <= true < r.est_hi, (r, true)
        assert r.est_hi - r.est_lo <= r.est_lo // 16 + 2, r
        seen.add((r.lang, r.q))
    assert len(seen) == len(vals) * 3


def test_ams_sketch_merge_linearity_and_accuracy(spark, sf_dir):
    """The AMS sketch's mergeability contract: per-(lang, j) S is
    LINEAR in the data, so sharded sketches merged by summing S equal
    the single-pass sketch (here: doc_id-parity halves).  Also pins
    the observed accuracy envelope: median-of-9 within 50% of exact
    (measured 7-20% at both test SFs; a sign/aggregation bug shows up
    as orders of magnitude, not percent)."""
    from kbrowse_spark.operators.corpus_stats import _AMS_K, _ams_sign
    from kbrowse_spark.sources.tables import load

    d = load(spark, sf_dir, "documents")

    def s_table(df):
        freq = (
            df.select("lang", F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != "")
            .groupBy("lang", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("f"))
        )
        return (
            freq.select(
                "lang", "t", "f",
                F.explode(
                    F.array(*[F.lit(j) for j in range(_AMS_K)])
                ).alias("j"),
            )
            .groupBy("lang", "j")
            .agg(
                F.sum(F.expr(f"{_ams_sign('spark', 't', 'j')} * f"))
                .cast("long")
                .alias("s")
            )
        )

    full = {(r.lang, r.j): r.s for r in s_table(d).collect()}
    half_a = {
        (r.lang, r.j): r.s
        for r in s_table(d.filter(F.col("doc_id") % 2 == 0)).collect()
    }
    half_b = {
        (r.lang, r.j): r.s
        for r in s_table(d.filter(F.col("doc_id") % 2 == 1)).collect()
    }
    assert full
    for key, s in full.items():
        assert s == half_a.get(key, 0) + half_b.get(key, 0), key

    for r in _q(spark, sf_dir, "f2_ams_sketch").collect():
        assert r.err_ppm <= 500_000, r


def test_sorted_neighborhood_recall_and_candidate_bound(spark, sf_dir):
    """Sorted-neighborhood blocking is a heuristic: measure it.
    Precision is 1.0 by construction (the verify filter IS the truth
    predicate), candidate volume is bounded by passes*w*n by
    construction, and recall vs the exact quadratic distance-<=1 truth
    must hold the measured level (100% at both fixture SFs, where ids
    have <=4 significant digits and the 4 pass keys cover every
    position; asserted at >=0.9 to leave room for fixture growth into
    the uncovered middle positions)."""
    import duckdb

    from kbrowse_spark.operators.linkage import _SN_PASSES, _SN_W
    from kbrowse_spark.sources.tables import table_path

    rows = {
        r["pass"]: r
        for r in _q(spark, sf_dir, "linkage_sorted_neighborhood").collect()
    }
    assert set(rows) == {"pass0", "pass1", "pass2", "pass3", "combined"}
    cust = table_path(sf_dir, "customer")
    n, truth = duckdb.sql(
        f"""
        SELECT (SELECT COUNT(*) FROM read_parquet('{cust}')),
               (SELECT COUNT(*)
                FROM read_parquet('{cust}') a
                JOIN read_parquet('{cust}') b
                  ON a.c_custkey < b.c_custkey
                 AND levenshtein(a.c_name, b.c_name) <= 1)
        """
    ).fetchone()
    comb = rows["combined"]
    assert comb.n_candidates <= _SN_PASSES * _SN_W * n
    assert truth > 0
    assert comb.n_matches / truth >= 0.9, (comb.n_matches, truth)
    # per-pass matches can overlap; the deduped union never exceeds
    # their sum and never exceeds the truth (precision 1.0)
    assert comb.n_matches <= sum(
        rows[f"pass{i}"].n_matches for i in range(_SN_PASSES)
    )
    assert comb.n_matches <= truth


def test_kcore_reaches_true_fixpoint(spark, sf_dir):
    """The fixed 6-round peel must land on the TRUE k-core (the unique
    maximal subgraph with all degrees >= k), proven against an
    independent Python peel-to-fixpoint over the same edge list — if
    the fixture ever needs more rounds than _KCORE_ROUNDS, this fails
    naming the gap rather than the oracle silently agreeing on a
    half-peeled artifact (both engines run the same round count)."""
    import duckdb

    from kbrowse_spark.operators.graph import _KCORE_K
    from kbrowse_spark.sources.tables import table_path

    edges = duckdb.sql(
        f"""
        SELECT DISTINCT o_custkey, l_suppkey
        FROM read_parquet('{table_path(sf_dir, "orders")}') o
        JOIN read_parquet('{table_path(sf_dir, "lineitem")}') l
          ON o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    # peel to fixpoint
    while True:
        from collections import Counter

        dc, ds = Counter(c for c, _ in edges), Counter(s for _, s in edges)
        nxt = [
            (c, s)
            for c, s in edges
            if dc[c] >= _KCORE_K and ds[s] >= _KCORE_K
        ]
        if len(nxt) == len(edges):
            break
        edges = nxt
    from collections import Counter

    dc, ds = Counter(c for c, _ in edges), Counter(s for _, s in edges)
    expect = {("customer", c): d for c, d in dc.items()}
    expect |= {("supplier", s): d for s, d in ds.items()}
    got = {
        (r.node_type, r.id): r.degree
        for r in _q(spark, sf_dir, "kcore_decomposition").collect()
    }
    assert got == expect
    for (_t, _i), d in got.items():
        assert d >= _KCORE_K


def test_wavelet_synopsis_matches_python_reference(spark, sf_dir):
    """Full independent reimplementation of the Haar synopsis in plain
    Python from the raw leaf table: tree build, |d|-ranked top-B
    selection with the same tie-break, and the x8 path reconstruction
    must agree EXACTLY with the operator — a third formulation beyond
    the Spark plan and the chained-CTE oracle."""
    import duckdb

    from kbrowse_spark.operators.rollup import (
        _WAV_B,
        _WAV_BLOCK_HI,
        _WAV_BLOCK_LO,
        _WAV_EPOCH,
        _WAV_LEVELS,
        _WAV_PATH,
    )
    from kbrowse_spark.sources.tables import table_path

    rows = duckdb.sql(
        f"""
        SELECT l_suppkey,
               datediff('day', DATE '{_WAV_EPOCH}', l_shipdate) AS pos,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM read_parquet('{table_path(sf_dir, "lineitem")}')
        GROUP BY 1, 2
        """
    ).fetchall()
    series: dict[int, dict[int, int]] = {}
    for s, pos, v in rows:
        series.setdefault(s, {})[pos] = v
    expect = {}
    for s, leaf in series.items():
        cur = dict(leaf)
        coeffs = []  # (level, pos, d)
        for lev in range(_WAV_LEVELS - 1, -1, -1):
            nxt: dict[int, int] = {}
            dd: dict[int, int] = {}
            for pos, v in cur.items():
                nxt[pos // 2] = nxt.get(pos // 2, 0) + v
                dd[pos // 2] = dd.get(pos // 2, 0) + v * (1 - 2 * (pos % 2))
            coeffs += [(lev, p, d) for p, d in dd.items()]
            cur = nxt
        t_cents = cur[0]
        kept = set()
        for lev, p, d in sorted(coeffs, key=lambda x: (-abs(x[2]), x[0], x[1]))[
            :_WAV_B
        ]:
            kept.add((lev, p, d))
        est = t_cents + sum(
            w * d
            for lv, p, w in _WAV_PATH
            for klv, kp, d in kept
            if (klv, kp) == (lv, p)
        )
        exact = 8 * sum(
            v for pos, v in leaf.items() if _WAV_BLOCK_LO <= pos < _WAV_BLOCK_HI
        )
        expect[s] = (t_cents, est, exact, abs(est - exact))
    got = {
        r.suppkey: (r.t_cents, r.est_x8, r.exact_x8, r.err_x8)
        for r in _q(spark, sf_dir, "wavelet_haar_synopsis").collect()
    }
    assert got == expect


def test_eval_metrics_signal_and_monotonicity(spark, sf_dir):
    """The eval pair must show the designed signal regime (the
    classifier carries the label's feature as one of three -> AUC
    ~0.90, asserted in a wide band so fixture drift fails loudly
    rather than silently going uninformative), and the gains table
    must be internally consistent: deciles partition the corpus,
    cumulative capture is nondecreasing to exactly 1.0, and the top
    decile is at least as positive-rich as the bottom."""
    auc = _q(spark, sf_dir, "eval_auc_rank").collect()[0]
    assert auc.n_pos > 0 and auc.n_neg > 0
    assert 700_000 <= auc.auc_ppm <= 999_999, auc
    rows = sorted(
        _q(spark, sf_dir, "eval_gains_deciles").collect(),
        key=lambda r: r.decile,
    )
    # Deciles are distinct labels from 0..9 — but not necessarily ALL
    # ten: a large tie group lands wholly in one decile by design
    # (ntile on a tied ORDER BY), which can legitimately leave a
    # decile empty on a different fixture.  Completeness is asserted
    # via the doc-count sum, not decile cardinality.
    labels = [r.decile for r in rows]
    assert len(set(labels)) == len(labels) and set(labels) <= set(range(10))
    assert sum(r.n_docs for r in rows) == auc.n_pos + auc.n_neg
    assert sum(r.n_pos for r in rows) == auc.n_pos
    caps = [r.cum_capture_ppm for r in rows]
    assert caps == sorted(caps) and caps[-1] == 1_000_000
    assert rows[0].pos_rate_ppm >= rows[-1].pos_rate_ppm


def test_poisson_bootstrap_breakpoints_and_coverage(spark, sf_dir):
    """(a) Pure math: the embedded 2^60 breakpoints must reproduce the
    Poisson(1) pmf to float accuracy and the capped distribution's
    mean must be within 1e-3 of 1.  (b) In-engine: every group's CI
    must bracket its point estimate, be properly ordered, and be
    non-degenerate (lo < hi)."""
    import math

    from kbrowse_spark.operators.analytics import _PB_TH

    prev, mean = 0, 0.0
    for k, t in enumerate(_PB_TH):
        pmf = (t - prev) / (1 << 60)
        assert abs(pmf - math.exp(-1) / math.factorial(k)) < 1e-9
        mean += k * pmf
        prev = t
    mean += 6 * (1 - prev / (1 << 60))  # capped tail mass at m=6
    assert abs(mean - 1.0) < 1e-3

    # The surviving-count rank formula (all-zero replicates are
    # EXCLUDED, not sentineled to mb=0) must degenerate to the
    # classic 3rd/98th order statistics when all B=100 survive, and
    # stay in-range for any surviving count >= 1.
    for cnt in range(1, 101):
        lo, hi = (25 * cnt + 999) // 1000, (975 * cnt + 999) // 1000
        assert 1 <= lo <= hi <= cnt
    assert ((25 * 100 + 999) // 1000, (975 * 100 + 999) // 1000) == (3, 98)

    rows = _q(spark, sf_dir, "poisson_bootstrap_ci").collect()
    assert rows
    for r in rows:
        assert r.boot_lo_cents < r.boot_hi_cents
        assert r.boot_lo_cents <= r.point_mean_cents <= r.boot_hi_cents
        # Replicate means of an n>=hundreds sample concentrate: the CI
        # width stays a small fraction of the point estimate.
        assert (
            r.boot_hi_cents - r.boot_lo_cents
        ) < 0.2 * r.point_mean_cents


def test_heaps_vocab_growth_exactness_and_shape(spark, sf_dir):
    """The bucketed first-seen construction must agree EXACTLY with
    direct distinct counts: the final checkpoint equals the corpus
    trigram-type count, every checkpoint is monotone in docs/tokens/
    vocab, new_vocab decays (first eighth introduces the most types),
    and the type/token ratio falls (Heaps sub-linearity)."""
    rows = _q(spark, sf_dir, "heaps_vocab_growth").collect()
    assert len(rows) > 1
    from kbrowse_spark.sources.tables import load

    tri = (
        load(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("ws"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
                )
            ).alias("w")
        )
        .agg(F.countDistinct("w").alias("v"))
        .collect()[0]
        .v
    )
    assert rows[-1].vocab_size == tri
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs > a.n_docs
        assert b.n_tokens > a.n_tokens
        assert b.vocab_size >= a.vocab_size
        assert b.type_token_ppm <= a.type_token_ppm
    assert rows[0].new_vocab == max(r.new_vocab for r in rows)
    assert rows[-1].vocab_size == sum(r.new_vocab for r in rows)


def test_ldiversity_monotone_and_recount(spark, sf_dir):
    """n_groups_below / n_rows_at_risk are monotone in l; the l=2 row
    is recounted directly (groups whose members all share one market
    segment); diversity can never exceed group size, so every
    singleton QI group must be below every l >= 2."""
    rows = sorted(
        _q(spark, sf_dir, "ldiversity_audit").collect(), key=lambda r: r.l
    )
    assert [r.l for r in rows] == [2, 3, 5]
    for a, b in zip(rows, rows[1:]):
        assert a.n_groups_below <= b.n_groups_below
        assert a.n_rows_at_risk <= b.n_rows_at_risk
        assert a.n_groups_total == b.n_groups_total

    from kbrowse_spark.operators.data_quality import _LD_BAL_BUCKET
    from kbrowse_spark.sources.tables import load

    g = (
        load(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            F.expr(
                f"CAST(c_acctbal AS BIGINT) DIV {_LD_BAL_BUCKET}"
            ).alias("bal_b"),
        )
        .agg(
            F.countDistinct("c_mktsegment").alias("ld"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    mono = g.filter(F.col("ld") < 2)
    assert rows[0].n_groups_below == mono.count()
    assert (
        rows[0].n_rows_at_risk
        == (mono.agg(F.sum("c")).collect()[0][0] or 0)
    )
    singles = g.filter(F.col("c") == 1).count()
    for r in rows:
        assert r.n_groups_below >= singles


def _dbscan_python(pts, eps, minpts):
    """Direct quadratic DBSCAN (union-find CC, min-id labels) — the
    independent truth for test_dbscan_equals_quadratic_python."""
    import collections

    n = {p[0]: [] for p in pts}
    for i, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[i + 1 :]:
            if (xa - xb) ** 2 + (ya - yb) ** 2 < eps * eps:
                n[ia].append(ib)
                n[ib].append(ia)
    core = {i for i in n if len(n[i]) + 1 >= minpts}
    parent = {i: i for i in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in core:
        for b in n[a]:
            if b in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    clusters = collections.defaultdict(lambda: [0, 0])
    for a in core:
        clusters[find(a)][0] += 1
    n_noise = 0
    for p in n:
        if p in core:
            continue
        cs = [find(b) for b in n[p] if b in core]
        if cs:
            clusters[min(cs)][1] += 1
        else:
            n_noise += 1
    rows = [(cid, c[0], c[1], 0) for cid, c in clusters.items()]
    rows.append((-1, 0, 0, n_noise))
    return sorted(rows)


def test_dbscan_equals_quadratic_python(spark, sf_dir):
    """The grid-blocked + star-contracted DBSCAN must equal a direct
    quadratic union-find DBSCAN computed in pure Python on the same
    points — a third formulation independent of BOTH the Spark plan
    and the DuckDB recursive-CTE oracle.  Also pins the accounting:
    core + border + noise == n_points."""
    from kbrowse_spark.operators.knn import _DB_EPS, _DB_MINPTS
    from kbrowse_spark.sources.tables import load

    pts = [
        (r.vec_id, float(r.x), float(r.y))
        for r in load(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "CAST(embedding[0] AS DOUBLE) AS x",
            "CAST(embedding[1] AS DOUBLE) AS y",
        )
        .collect()
    ]
    truth = _dbscan_python(pts, _DB_EPS, _DB_MINPTS)
    got = [
        (r.cluster_id, r.n_core, r.n_border, r.n_noise)
        for r in _q(spark, sf_dir, "dbscan_grid_clusters").collect()
    ]
    assert got == truth
    assert sum(a + b + c for _, a, b, c in got) == len(pts)
    for cid, n_core, _, _ in got:
        if cid >= 0:
            assert n_core >= 1


def test_bfs_equals_python_bfs(spark, sf_dir):
    """The frontier-expansion BFS must equal a direct Python BFS over
    the same edge set (third formulation vs the recursive-CTE
    oracle); hop-0 rows are exactly one node per seed and every
    hop's nodes were unreached at all earlier hops by construction."""
    import collections

    from kbrowse_spark.operators.graph import _BFS_H, _BFS_SEEDS
    from kbrowse_spark.sources.tables import load

    o = load(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS ok", "o_custkey AS c"
    )
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey AS ok", "l_suppkey AS s"
    )
    pairs = {
        (r.c, r.s) for r in o.join(li, "ok").select("c", "s").collect()
    }
    adj = collections.defaultdict(set)
    for c, s in pairs:
        adj[f"c{c}"].add(f"s{s}")
        adj[f"s{s}"].add(f"c{c}")
    seeds = sorted({c for c, _ in pairs})[:_BFS_SEEDS]
    truth = []
    for seed in seeds:
        dist = {f"c{seed}": 0}
        frontier = [f"c{seed}"]
        for h in range(1, _BFS_H + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = h
                        nxt.append(v)
            frontier = nxt
        hist = collections.Counter(dist.values())
        truth += [(seed, h, c) for h, c in sorted(hist.items())]
    got = [
        (r.seed_custkey, r.hop, r.n_nodes)
        for r in _q(spark, sf_dir, "bfs_multisource_hops").collect()
    ]
    assert got == truth
    assert all(c == 1 for _, h, c in got if h == 0)
    assert len({s for s, _, _ in got}) == _BFS_SEEDS


def test_hard_negatives_disjoint_and_exact(spark, sf_dir):
    """Negatives must be disjoint from the relevance set, at most K
    per query with consecutive ranks from 1, and EXACTLY the top-K
    by (dot desc, doc, chunk) among the deep pool's non-relevant
    rows (recomputed independently from the shared helpers)."""
    from kbrowse_spark.operators.knn import (
        _HN_DEPTH,
        _HN_K,
        _rag_bigram_hits,
        _rag_topk,
    )

    got = _q(spark, sf_dir, "rag_hard_negatives").collect()
    assert got
    rel = {
        (r.query_id, r.doc_id, r.chunk_idx)
        for r in _rag_bigram_hits(spark, sf_dir).collect()
    }
    for r in got:
        assert (r.query_id, r.doc_id, r.chunk_idx) not in rel
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert len(rows) <= _HN_K
        assert [r.neg_rank for r in rows] == list(range(1, len(rows) + 1))
    deep = _rag_topk(spark, sf_dir, k=_HN_DEPTH).collect()
    for q in {r.query_id for r in deep}:
        pool = sorted(
            (
                (-r.dot, r.doc_id, r.chunk_idx)
                for r in deep
                if r.query_id == q
                and (r.query_id, r.doc_id, r.chunk_idx) not in rel
            ),
        )[:_HN_K]
        want = [(q, i + 1, d, c, -nd) for i, (nd, d, c) in enumerate(pool)]
        have = [
            (r.query_id, r.neg_rank, r.doc_id, r.chunk_idx, r.dot)
            for r in by_q.get(q, [])
        ]
        assert have == want


def test_manifest_checksum_invariance_and_tamper(spark, sf_dir):
    """The manifest must be invariant under row order/partitioning
    (addition commutes) and sensitive to tampering: flipping one
    row's status changes EXACTLY that row's shard checksum while
    counts and key ranges stay put; shard counts sum to the table."""
    from kbrowse_spark.operators.pipeline_ops import _MC_MOD, _MC_SHARDS
    from kbrowse_spark.sources.tables import load

    def manifest_of(df):
        rows_h = df.select(
            F.expr(
                f"CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8),"
                f" 16, 10) AS BIGINT) % {_MC_SHARDS}"
            ).alias("shard"),
            "o_orderkey",
            F.expr(
                "CAST(conv(substr(md5(concat_ws('|',"
                " CAST(o_orderkey AS STRING),"
                " CAST(o_custkey AS STRING),"
                " o_orderstatus,"
                " CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING)"
                ")), 1, 10), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        out = (
            rows_h.groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                (F.sum(F.col("h").cast("decimal(25,0)")) % _MC_MOD)
                .cast("long")
                .alias("checksum"),
            )
            .collect()
        )
        return {r.shard: (r.n_rows, r.checksum) for r in out}

    got = {
        r.shard: (r.n_rows, r.checksum)
        for r in _q(spark, sf_dir, "export_manifest_checksums").collect()
    }
    orders = load(spark, sf_dir, "orders")
    assert manifest_of(orders) == got
    assert manifest_of(orders.repartition(7)) == got
    assert sum(n for n, _ in got.values()) == orders.count()

    key = orders.agg(F.min("o_orderkey")).collect()[0][0]
    tampered = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") == key, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    tam = manifest_of(tampered)
    diff = [s for s in got if got[s] != tam[s]]
    assert len(diff) == 1
    s = diff[0]
    assert got[s][0] == tam[s][0]  # count unchanged
    assert got[s][1] != tam[s][1]  # checksum moved


def test_conformal_rank_recount_and_coverage(spark, sf_dir):
    """qhat must be EXACTLY the ceil((n_cal+1)(1-alpha))-th smallest
    calibration score, recounted from raw rows per group; pooled test
    coverage must sit near the 1-alpha target (the conformal
    guarantee, [0.85, 0.95] band at fixture scale) and every group's
    coverage within the loose small-sample band."""
    import math

    from kbrowse_spark.operators.analytics import _CP_A_DEN, _CP_A_NUM
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "conformal_prediction_audit").collect()
    assert rows
    e = load(spark, sf_dir, "events").selectExpr(
        "event_type",
        "event_id",
        "CAST(floor(value * 100) AS BIGINT) AS cents",
    )
    cal = e.filter("event_id % 2 = 0").collect()
    pred = {}
    for r in cal:
        pred.setdefault(r.event_type, []).append(r.cents)
    pred = {t: sum(v) // len(v) for t, v in pred.items()}
    scores = {}
    for r in cal:
        scores.setdefault(r.event_type, []).append(
            abs(r.cents - pred[r.event_type])
        )
    cov_n, n_all = 0, 0
    for r in rows:
        s = sorted(scores[r.event_type])
        assert r.n_cal == len(s)
        k = math.ceil(
            (len(s) + 1) * (_CP_A_DEN - _CP_A_NUM) / _CP_A_DEN
        )
        assert r.qhat_cents == s[k - 1]
        assert 800_000 <= r.coverage_ppm <= 1_000_000
        cov_n += r.coverage_ppm * r.n_test
        n_all += r.n_test
    assert 850_000 <= cov_n / n_all <= 950_000


def test_kcenter_equals_python_greedy(spark, sf_dir):
    """The incremental LEAST-update plan must equal a direct Python
    farthest-point traversal (independent arithmetic path), the
    radius sequence must be non-increasing from round 1 (the greedy
    2-approximation property), and centers must be distinct."""
    from kbrowse_spark.operators.clustering import _KC_K
    from kbrowse_spark.sources.tables import load

    pts = {
        r.vec_id: (float(r.x), float(r.y))
        for r in load(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "CAST(embedding[0] AS DOUBLE) AS x",
            "CAST(embedding[1] AS DOUBLE) AS y",
        )
        .collect()
    }
    seed = min(pts)
    chosen = [(0, seed, 0.0)]
    mind = {
        v: (p[0] - pts[seed][0]) ** 2 + (p[1] - pts[seed][1]) ** 2
        for v, p in pts.items()
    }
    for r in range(1, _KC_K):
        best = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))
        chosen.append((r, best[0], best[1]))
        cx, cy = pts[best[0]]
        for v, p in pts.items():
            d = (p[0] - cx) ** 2 + (p[1] - cy) ** 2
            if d < mind[v]:
                mind[v] = d
    got = [
        (r.round, r.vec_id, r.radius2)
        for r in _q(spark, sf_dir, "coreset_kcenter_greedy").collect()
    ]
    assert got == chosen
    radii = [rad for _, _, rad in got[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert len({v for _, v, _ in got}) == _KC_K


def test_encoding_advisor_equals_python_scan(spark, sf_dir):
    """The sharded two-level run count must equal a direct Python
    single-scan recount over the physically-ordered rows (third
    formulation vs the oracle's monolithic window), and every
    recommendation must follow the stated thresholds."""
    from kbrowse_spark.operators.pipeline_ops import (
        _EA_COLS_SPARK,
        _EA_DICT_MAX_PPM,
        _EA_RLE_MIN_PPM,
    )
    from kbrowse_spark.sources.tables import load

    rows = {
        r.column_name: r
        for r in _q(spark, sf_dir, "encoding_advisor_stats").collect()
    }
    ordered = (
        load(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            *[f"{e} AS v_{n}" for n, e in _EA_COLS_SPARK],
        )
        .orderBy("l_orderkey", "l_linenumber")
        .collect()
    )
    for name, _ in _EA_COLS_SPARK:
        vals = [r[f"v_{name}"] for r in ordered]
        runs = 1 + sum(
            1 for a, b in zip(vals, vals[1:]) if a != b
        )
        r = rows[name]
        assert r.n == len(vals)
        assert r.n_distinct == len(set(vals))
        assert r.runs == runs
        if r.avg_run_len_ppm >= _EA_RLE_MIN_PPM:
            assert r.encoding == "RLE"
        elif r.distinct_ppm <= _EA_DICT_MAX_PPM:
            assert r.encoding == "DICT"
        else:
            assert r.encoding == "PLAIN"


def test_minhash_estimate_audit_bounds_and_replay(spark, sf_dir):
    """Row sanity (min <= avg <= max, est in [0,k], pair total equals
    the verified-pair count) plus a full Python REPLAY of the sketch:
    for every verified pair, recompute both signatures from raw
    shingles with the same md5+affine family and confirm the pair's
    match count lands in the reported distribution exactly."""
    import collections
    import hashlib

    from kbrowse_spark.operators.dedup import (
        _COEFFS,
        _MINHASH_P,
        NUM_HASHES,
        _shingles_df,
        _verified_common,
    )

    rows = _q(spark, sf_dir, "minhash_estimate_error_audit").collect()
    assert rows
    for r in rows:
        assert 0 <= r.est_matches <= NUM_HASHES
        assert (
            r.min_true_jac_ppm <= r.avg_true_jac_ppm <= r.max_true_jac_ppm
        )
    v = _verified_common(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in rows) == len(v)

    sh = collections.defaultdict(set)
    for r in _shingles_df(spark, sf_dir).collect():
        sh[r.doc_id].add(r.shingle)

    def sig(doc):
        out = []
        for a, b in _COEFFS:
            out.append(
                min(
                    (a * int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                     + b) % _MINHASH_P
                    for s in sh[doc]
                )
            )
        return out

    hist = collections.Counter()
    for p in v:
        sa, sb = sig(p.doc_a), sig(p.doc_b)
        hist[sum(1 for x, y in zip(sa, sb) if x == y)] += 1
    assert hist == {r.est_matches: r.n_pairs for r in rows}


def test_softdedup_mass_conservation_and_weights(spark, sf_dir):
    """Token accounting: raw token mass must equal the corpus total;
    weighted mass for size-1 clusters equals raw*1e6 exactly; every
    cluster-size row's weighted mass is raw * (1e6 DIV size); and the
    doc count reconciles with the corpus."""
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "softdedup_weights").collect()
    assert rows
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_tok = docs.selectExpr(
        "CAST(SUM(size(split(text, ' '))) AS BIGINT) AS t"
    ).collect()[0].t
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.tokens_total for r in rows) == n_tok
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        w = 1_000_000 // r.cluster_size
        assert r.tokens_weighted_ppm <= r.tokens_total * 1_000_000
        if r.cluster_size == 1:
            assert r.tokens_weighted_ppm == r.tokens_total * 1_000_000
    # Down-weighting must bite: with real dup clusters present the
    # weighted mass is strictly below the raw mass.
    if any(r.cluster_size > 1 for r in rows):
        assert (
            sum(r.tokens_weighted_ppm for r in rows)
            < n_tok * 1_000_000
        )


def test_ivm_merge_equals_direct_and_partitions(spark, sf_dir):
    """The state+delta merge must equal a DIRECT Spark aggregation
    over all rows (third formulation vs the oracle), and base+delta
    counts must partition every group's total."""
    from kbrowse_spark.sources.tables import load

    got = {
        (r.event_type, str(r.day)): (
            r.n_total,
            r.cents_total,
            r.n_from_base,
            r.n_from_delta,
        )
        for r in _q(spark, sf_dir, "ivm_delta_agg_merge").collect()
    }
    direct = {
        (r.event_type, str(r.day)): (r.n, r.c)
        for r in load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "CAST(ts AS DATE) AS day",
            "CAST(floor(value * 100) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("c"),
        )
        .collect()
    }
    assert set(got) == set(direct)
    for k, (n, c, nb, nd) in got.items():
        assert (n, c) == direct[k]
        assert nb + nd == n
    assert sum(nd for _, _, _, nd in got.values()) > 0


def test_modularity_python_recompute_and_lpa_bipartite_no_within_edges(
    spark, sf_dir
):
    """(a) Exact Python recompute of Q from the collected labels and
    edges; (b) the structural finding: synchronous self-init LPA on a
    bipartite graph yields ZERO same-label edges (labels oscillate by
    side), so within_directed must be exactly 0 and Q strictly
    negative — the audit must keep exposing what the community size
    histogram hides."""
    from kbrowse_spark.operators.graph import _lpa_edges, _lpa_labels

    row = _q(spark, sf_dir, "graph_modularity_lpa").collect()[0]
    labels = {
        r.id: r.label for r in _lpa_labels(spark, sf_dir).collect()
    }
    edges = [
        (r.src, r.dst) for r in _lpa_edges(spark, sf_dir).collect()
    ]
    md = len(edges)
    a = sum(1 for s, d in edges if labels[s] == labels[d])
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    dc = {}
    for n, lb in labels.items():
        dc[lb] = dc.get(lb, 0) + deg[n]
    dd = sum(v * v for v in dc.values())
    assert row.n_nodes == len(labels)
    assert row.m_directed == md
    assert row.within_directed == a
    assert row.degree_sq_sum == dd
    num = a * md - dd
    q = (
        1_000_000 * num // (md * md)
        if num >= 0
        else -((1_000_000 * -num) // (md * md))
    )
    assert row.q_ppm == q
    # The bipartite-oscillation structure: no within edges, Q < 0.
    assert a == 0
    assert row.q_ppm < 0


def test_disparate_impact_recount_and_flag(spark, sf_dir):
    """Rates and ratios recounted from raw rows; the reference group
    has di_ratio exactly 1e6 and is never flagged; every flag agrees
    with the exact cross-multiplied comparison (not rounded rates)."""
    from kbrowse_spark.operators.data_quality import (
        _DI_BAL_THRESHOLD,
        _DI_RULE_PPM,
    )
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "fairness_disparate_impact").collect()
    assert rows
    raw = {}
    for r in load(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal"
    ).collect():
        n, s = raw.get(r.c_mktsegment, (0, 0))
        raw[r.c_mktsegment] = (
            n + 1,
            s + (1 if r.c_acctbal > _DI_BAL_THRESHOLD else 0),
        )
    ref = max(raw, key=lambda g: (10**6 * raw[g][1] // raw[g][0], g))
    # max() keeps the FIRST maximal key; the operator breaks rate ties
    # by the SMALLEST name, so re-derive with the same rule.
    best = max(10**6 * s // n for n, s in raw.values())
    ref = min(
        g for g, (n, s) in raw.items() if 10**6 * s // n == best
    )
    n_ref, sel_ref = raw[ref]
    for r in rows:
        n, sel = raw[r.segment]
        assert (r.n, r.n_sel) == (n, sel)
        assert r.reference_segment == ref
        di = 10**6 * sel * n_ref // (n * sel_ref)
        assert r.di_ratio_ppm == di
        assert r.below_four_fifths == int(di < _DI_RULE_PPM)
        if r.segment == ref:
            assert r.di_ratio_ppm == 10**6
            assert r.below_four_fifths == 0


def test_stream_conformal_matches_batch_complement(spark, sf_dir):
    """The streaming gate's flag counts must be the exact complement
    of the batch audit's coverage per group (n_flagged = n_test -
    covered), and the realized flag rate must sit near alpha."""
    gate = {
        r.event_type: (r.n_scored, r.n_flagged)
        for r in _q(spark, sf_dir, "stream_conformal_gate").collect()
    }
    audit = {
        r.event_type: (r.n_test, r.coverage_ppm)
        for r in _q(spark, sf_dir, "conformal_prediction_audit").collect()
    }
    assert set(gate) == set(audit)
    tot_scored = tot_flagged = 0
    for t, (n_scored, n_flagged) in gate.items():
        n_test, cov_ppm = audit[t]
        assert n_scored == n_test
        # coverage_ppm = 1e6 * covered DIV n  =>  covered recovers
        # exactly because the gate and audit share the same rows.
        covered = n_test - n_flagged
        assert cov_ppm == 1_000_000 * covered // n_test
        tot_scored += n_scored
        tot_flagged += n_flagged
    assert 0 < tot_flagged / tot_scored < 0.2  # near alpha=0.1


def test_span_corruption_python_replay_and_ratio(spark, sf_dir):
    """Full Python replay of the windowed masking rule (md5 span
    draws) over every document — totals must match per language —
    and the realized mask ratio must sit in the T5 operating band
    around 15%."""
    import collections
    import hashlib

    from kbrowse_spark.operators.corpus_stats import (
        _SC_LMAX,
        _SC_LMIN,
        _SC_W,
    )
    from kbrowse_spark.sources.tables import load

    rows = {
        r.lang: r for r in _q(spark, sf_dir, "span_corruption_plan").collect()
    }
    agg = collections.defaultdict(lambda: [0, 0, 0, 0])
    for d in load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect():
        n = len(d.text.split(" "))
        n_spans = n_masked = 0
        for w_idx in range(-(-n // _SC_W)):
            wlen = min(n - w_idx * _SC_W, _SC_W)
            if wlen < _SC_LMAX:
                continue
            h = int(
                hashlib.md5(f"{d.doc_id}-{w_idx}-L".encode()).hexdigest()[
                    :8
                ],
                16,
            )
            n_spans += 1
            n_masked += _SC_LMIN + h % (_SC_LMAX - _SC_LMIN + 1)
        if n_spans:
            a = agg[d.lang]
            a[0] += 1
            a[1] += n
            a[2] += n_spans
            a[3] += n_masked
    assert set(rows) == set(agg)
    for lang, (nd, nt, ns, nm) in agg.items():
        r = rows[lang]
        assert (r.n_docs, r.n_tokens, r.n_spans, r.n_masked) == (
            nd,
            nt,
            ns,
            nm,
        )
        assert 100_000 <= r.mask_ratio_ppm <= 200_000


def test_chain_risk_bounds_and_synthetic_chain(spark, sf_dir):
    """Spanning-tree lower bound (a component of n nodes needs >= n-1
    direct pairs), flag consistency, and a synthetic A-B-C chain
    through the SAME star-contraction labeling must show coverage
    2/3 and fire the chained flag (the fixture's clusters are all
    cliques, so only the synthetic arm exercises the alarm)."""
    from kbrowse_spark.operators.dedup import _cc_star_labels

    rows = _q(spark, sf_dir, "dedup_chain_risk_audit").collect()
    assert rows
    for r in rows:
        assert r.n_docs >= 2
        assert r.n_direct_pairs >= r.n_docs - 1
        assert r.direct_coverage_ppm <= 1_000_000
        assert r.chained == int(
            r.n_direct_pairs < r.pairs_possible
        )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    labels, _ = _cc_star_labels(chain)
    lab = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert lab == {1: 1, 2: 1, 3: 1}
    n, direct = 3, 2
    cov = 1_000_000 * direct // (n * (n - 1) // 2)
    assert cov == 666_666 and direct < n * (n - 1) // 2


def test_ivf_recall_bounds_and_dist_dominance(spark, sf_dir):
    """recall in (0, 1]; ivf_dist_sum >= exact_dist_sum for EVERY
    query (the IVF result can only be farther than the exhaustive
    optimum); equality holds exactly when recall is 100% (distances
    here are tie-free integer sums); and recall must equal the
    recount from the two shared top-k helpers."""
    from kbrowse_spark.operators.clustering import (
        _NQ,
        _TOPK,
        _ivf_topk,
        _lloyd_state,
    )

    rows = _q(spark, sf_dir, "ann_ivf_recall_audit").collect()
    assert len(rows) == _NQ
    ivf = {}
    for r in _ivf_topk(spark, sf_dir).collect():
        ivf.setdefault(r.qid, set()).add(r.vec_id)
    pts, _ = _lloyd_state(spark, sf_dir)
    data = {r.vec_id: list(r.q) for r in pts.collect()}
    for r in rows:
        assert 0 < r.n_hits <= _TOPK
        assert r.recall_ppm == 1_000_000 * r.n_hits // _TOPK
        assert r.ivf_dist_sum >= r.exact_dist_sum
        assert (r.ivf_dist_sum == r.exact_dist_sum) == (
            r.n_hits == _TOPK
        )
        qv = data[r.qid]
        exact = sorted(
            (
                sum((a - b) ** 2 for a, b in zip(v, qv)),
                vid,
            )
            for vid, v in data.items()
            if vid != r.qid
        )[:_TOPK]
        assert r.n_hits == len(
            {vid for _, vid in exact} & ivf[r.qid]
        )
        assert r.exact_dist_sum == sum(d for d, _ in exact)


def test_ivm_zonemap_merge_equals_direct(spark, sf_dir):
    """The semilattice merge must equal a direct Spark zone
    aggregation (third formulation vs the oracle), counts must
    partition, and every zone's min <= max."""
    from kbrowse_spark.operators.pipeline_ops import _IZ_ZONE_W
    from kbrowse_spark.sources.tables import load

    got = {
        r.zone: (r.n_rows, r.min_cents, r.max_cents, r.n_from_base,
                 r.n_from_delta)
        for r in _q(spark, sf_dir, "ivm_zonemap_refresh").collect()
    }
    direct = {
        r.zone: (r.n, r.mn, r.mx)
        for r in load(spark, sf_dir, "orders")
        .selectExpr(
            f"CAST(o_orderkey DIV {_IZ_ZONE_W} AS BIGINT) AS zone",
            "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("cents").cast("long").alias("mn"),
            F.max("cents").cast("long").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(direct)
    for z, (n, mn, mx, nb, nd) in got.items():
        assert (n, mn, mx) == direct[z]
        assert nb + nd == n
        assert mn <= mx


def test_stream_ann_ivf_equals_batch_retrieval(spark, sf_dir):
    """The streaming IVF probe must return EXACTLY the batch retrieval
    (ann_ivf_kmeans) row set — same trained quantizer, same inverted
    lists, same tie-breaks — the cross-verification that makes the
    batch/stream pair a pair."""
    batch = [
        tuple(r)
        for r in _q(spark, sf_dir, "ann_ivf_kmeans")
        .select("qid", "rn", "vec_id", "cluster_id", "sq_dist")
        .collect()
    ]
    stream = [
        tuple(r)
        for r in _q(spark, sf_dir, "stream_ann_ivf_probe").collect()
    ]
    assert stream == batch
    assert len(stream) > 0


def test_skew_salt_apply_improves_balance(spark, sf_dir):
    """Salting must CONSERVE rows (relocate, never drop), actually
    salt at least one hot key at this key grain, and strictly improve
    the hottest-partition load; the diagnosis formula's per-key bound
    (each salted piece targets <= total/P) caps how bad the salted
    max can be modulo cross-key collisions."""
    from kbrowse_spark.operators.data_quality import _SKEW_PARTS
    from kbrowse_spark.sources.tables import load

    rows = {
        r.variant: r
        for r in _q(spark, sf_dir, "skew_salt_apply").collect()
    }
    assert set(rows) == {"salted", "unsalted"}
    n_occ = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .count()
    )
    for v in rows.values():
        assert v.n_rows == n_occ
        assert 1 <= v.n_parts_used <= _SKEW_PARTS
        assert v.max_part_rows * v.n_parts_used >= v.n_rows
    assert rows["unsalted"].n_keys_salted == 0
    assert rows["salted"].n_keys_salted > 0
    assert (
        rows["salted"].max_load_ppm < rows["unsalted"].max_load_ppm
    )


def test_compaction_plan_audit_shape_and_gain(spark, sf_dir):
    """Rows must be conserved across phases; the sorted repack must
    produce ceil(n/target) files none above target with DISJOINT
    contiguous ranges (scan_amp exactly 1M ppm — the zone-map gain
    the plan exists to buy); the hash-ingest baseline must show the
    full file count and a strictly worse amplification."""
    from kbrowse_spark.operators.pipeline_ops import (
        _CP_NFILES,
        _CP_TARGET,
    )

    rows = {
        r.phase: r
        for r in _q(spark, sf_dir, "compaction_plan_audit").collect()
    }
    assert set(rows) == {"before", "after"}
    b, a = rows["before"], rows["after"]
    assert b.n_rows == a.n_rows > 0
    assert b.n_files == _CP_NFILES
    assert a.n_files == (a.n_rows + _CP_TARGET - 1) // _CP_TARGET
    assert a.max_file_rows <= _CP_TARGET
    # Disjoint post-sort ranges can never exceed the key span
    # (amp <= 1M ppm); with this fixture's gap-free orderkeys they
    # tile it exactly (== 1M).  The gain the plan buys: strictly
    # better than the hash-ingest baseline.
    assert a.scan_amp_ppm <= 1_000_000
    from kbrowse_spark.sources.tables import load as _load

    o = _load(spark, sf_dir, "orders").agg(
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if o.hi - o.lo + 1 == o.n:  # gap-free key domain
        assert a.scan_amp_ppm == 1_000_000
    assert b.scan_amp_ppm > a.scan_amp_ppm
    assert a.n_small_files <= 1  # at most the tail file
    assert b.n_small_files >= 0


def test_compaction_plan_matches_executed_repack(spark, sf_dir, tmp_path):
    """Plan -> EXECUTE -> verify: actually run the sorted repack the
    audit sizes (sinks.export.write_sized_parquet, same target) and
    check the written files against the plan's `after` row — file
    count in [plan, 2x plan] (range sampling may split an oversized
    shard via maxRecordsPerFile), rows conserved, per-file key ranges
    DISJOINT, and on this gap-free key domain the executed layout's
    scan amplification is exactly 1 — the zone-map gain the plan
    promised, realized on disk."""
    from kbrowse_spark.operators.pipeline_ops import _CP_TARGET
    from kbrowse_spark.sinks.export import write_sized_parquet
    from kbrowse_spark.sources.tables import load

    plan = {
        r.phase: r
        for r in _q(spark, sf_dir, "compaction_plan_audit").collect()
    }["after"]
    out = str(tmp_path / "repacked")
    keys = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key")
    )
    write_sized_parquet(
        keys, out, sort_col="key", target_rows_per_file=_CP_TARGET
    )
    files = (
        spark.read.parquet(out)
        .select("key", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("key").alias("mn"),
            F.max("key").alias("mx"),
        )
        .collect()
    )
    assert plan.n_files <= len(files) <= 2 * plan.n_files
    assert sum(r.n for r in files) == plan.n_rows
    spans = sorted((r.mn, r.mx) for r in files)
    for (_, amx), (bmn, _) in zip(spans, spans[1:]):
        assert amx < bmn  # disjoint, the property the repack buys
    lo, hi = spans[0][0], spans[-1][1]
    if hi - lo + 1 == plan.n_rows:  # gap-free domain
        assert sum(mx - mn + 1 for mn, mx in spans) == hi - lo + 1


def test_epoch_shuffle_decorrelation_exact_and_decorrelated(spark, sf_dir):
    """Full independent Python reimplementation (hashlib md5 ranks +
    exact integer Spearman) must agree EXACTLY with the sharded-rank
    operator; every pair's |rho| must sit within 5 sigma of zero
    (sigma = 1/sqrt(n-1) for independent rankings) — the decorrelation
    the seeded per-epoch hash shuffle exists to provide."""
    import hashlib

    from kbrowse_spark.operators.pipeline_ops import _ES_EPOCHS
    from kbrowse_spark.sources.tables import load

    ids = [
        r.doc_id
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    n = len(ids)

    def order(e):
        if e == 0:
            key = {i: (i, i) for i in ids}
        else:
            key = {
                i: (
                    int(
                        hashlib.md5(f"ep{e}:{i}".encode()).hexdigest()[:15],
                        16,
                    ),
                    i,
                )
                for i in ids
            }
        return {
            i: r + 1
            for r, i in enumerate(sorted(ids, key=lambda i: key[i]))
        }

    ranks = {e: order(e) for e in range(_ES_EPOCHS + 1)}
    expect = []
    for a in range(_ES_EPOCHS + 1):
        for b in range(a + 1, _ES_EPOCHS + 1):
            sd2 = sum((ranks[a][i] - ranks[b][i]) ** 2 for i in ids)
            rho = 1_000_000 - (6_000_000 * sd2) // (n * (n * n - 1))
            expect.append((a, b, n, sd2, rho))
    got = [
        tuple(r)
        for r in _q(spark, sf_dir, "epoch_shuffle_decorrelation").collect()
    ]
    assert got == expect
    sigma_ppm = 1_000_000 / (n - 1) ** 0.5
    for _a, _b, _n, _sd2, rho in got:
        assert abs(rho) < 5 * sigma_ppm


def test_ann_ivf_incremental_add_matches_assignment(spark, sf_dir):
    """The maintenance readout must be EXACTLY derivable from the
    kmeans_lloyd assignment rows (same frozen quantizer): per-cell
    base/delta counts, occupancy share, and floor-divided mean
    distortions recomputed in Python must agree row-for-row."""
    from collections import defaultdict

    from kbrowse_spark.operators.clustering import _IA_MOD

    asg = _q(spark, sf_dir, "kmeans_lloyd").collect()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # nb, nd, db, dd
    for r in asg:
        a = agg[r.cluster_id]
        if r.vec_id % _IA_MOD == 0:
            a[1] += 1
            a[3] += r.sq_dist
        else:
            a[0] += 1
            a[2] += r.sq_dist
    expect = [
        (
            cid,
            nb,
            nd,
            1_000_000 * nd // (nb + nd),
            db // max(nb, 1),
            dd // max(nd, 1),
        )
        for cid, (nb, nd, db, dd) in sorted(agg.items())
    ]
    got = [
        tuple(r)
        for r in _q(spark, sf_dir, "ann_ivf_incremental_add").collect()
    ]
    assert got == expect
    assert sum(nb + nd for _, nb, nd, _, _, _ in got) == len(asg)


def test_quantization_recall_brackets_truncation(spark, sf_dir):
    """8-bit grid points must stay in int8 range for every fixture
    value (the audit's validity precondition), per-query overlap is
    bounded by K, and the near-lossless precision cut must beat the
    lossy dimensionality cut on mean recall over the SAME query block
    — the bracket the two audits exist to provide."""
    from kbrowse_spark.operators.knn import _QZ_K, _QZ_L
    from kbrowse_spark.sources.tables import load

    mx = (
        load(spark, sf_dir, "embeddings")
        .select(F.explode("embedding").alias("x"))
        .agg(
            F.max(F.abs(F.round(F.col("x").cast("double") * _QZ_L)))
        )
        .collect()[0][0]
    )
    assert mx <= 127
    qz = {
        r.qid: r
        for r in _q(spark, sf_dir, "embedding_quantization_recall").collect()
    }
    tr = {
        r.qid: r
        for r in _q(spark, sf_dir, "embedding_truncation_recall").collect()
    }
    assert set(qz) == set(tr)
    for r in qz.values():
        assert 0 <= r.n_overlap <= _QZ_K
    mean_qz = sum(r.recall_ppm for r in qz.values()) / len(qz)
    mean_tr = sum(r.recall_ppm for r in tr.values()) / len(tr)
    assert mean_qz > mean_tr


def test_deletion_propagation_ledger_identities(spark, sf_dir):
    """Ledger identities: n_before = n_deleted + n_after on every row;
    cascade leaves ZERO dangling refs at every level; direct_only
    dangles exactly the victim orders (what cascade would have
    deleted) and nothing at lineitem grain (one-hop property); the
    erasure cohort is non-empty so the audit discriminates."""
    rows = {
        (r.strategy, r.tbl): r
        for r in _q(spark, sf_dir, "deletion_propagation_audit").collect()
    }
    assert len(rows) == 6
    for r in rows.values():
        assert r.n_before == r.n_deleted + r.n_after
        assert r.n_dangling_refs >= 0
    for tbl in ("customer", "orders", "lineitem"):
        assert rows[("cascade", tbl)].n_dangling_refs == 0
    assert rows[("cascade", "customer")].n_deleted > 0
    assert (
        rows[("direct_only", "orders")].n_dangling_refs
        == rows[("cascade", "orders")].n_deleted
        > 0
    )
    assert rows[("direct_only", "lineitem")].n_dangling_refs == 0
    assert rows[("direct_only", "lineitem")].n_deleted == 0


def test_scd2_asof_snapshot_equals_direct_replay(spark, sf_dir):
    """In-engine cross-formulation: the interval-containment read must
    equal a direct replay over raw events (last event per user at or
    before the same derived cutoff) computed independently in Spark —
    and be exactly one row per user with any event at or before T."""
    from kbrowse_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    mid = ev.agg(
        F.expr("CAST((MIN(event_id) + MAX(event_id)) DIV 2 AS BIGINT)")
    ).collect()[0][0]
    t = (
        ev.filter(F.col("event_id") <= mid)
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    replay = {
        (r.user_id, r.event_type)
        for r in ev.filter(F.col("ts") <= F.lit(t))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    got = [
        (r.user_id, r.state)
        for r in _q(spark, sf_dir, "scd2_asof_snapshot").collect()
    ]
    assert set(got) == replay
    assert len(got) == len({u for u, _ in got})  # one row per user
    assert len(got) > 0


def test_stream_hotkey_gate_consistent_with_salt_plan(spark, sf_dir):
    """Family consistency: the monitor's hot-key set is EXACTLY the
    key set skew_salt_apply salts (c*P > t  <=>  ceil(c*P/t) > 1), so
    the monitor watches precisely what the treatment treats; arriving
    counts are bounded by static counts (the live half is a subset of
    history), shares are well-formed, and on this stationary fixture
    every hot key's drift stays small."""
    rows = _q(spark, sf_dir, "stream_hotkey_gate").collect()
    n_salted = {
        r.variant: r.n_keys_salted
        for r in _q(spark, sf_dir, "skew_salt_apply").collect()
    }["salted"]
    assert len(rows) == n_salted > 0
    for r in rows:
        assert 0 < r.arrived_count <= r.static_count
        assert 0 < r.arrived_share_ppm <= 1_000_000
        assert r.static_share_ppm * 32 > 1_000_000  # the hot-key bound
        assert r.drift_ppm == abs(
            r.arrived_share_ppm - r.static_share_ppm
        )
        assert r.drift_ppm < 10_000  # stationary halves track closely


def test_mix_repeat_cap_exact_apportionment(spark, sf_dir):
    """Full Python reimplementation of the capped mix (IEEE sqrt
    fixed-point weights, Hamilton largest-remainder, cap + shortfall)
    must agree EXACTLY; uncapped quotas sum to the target; every
    capped row sits exactly at R*n with a positive shortfall."""
    import math

    from kbrowse_spark.operators.pipeline_ops import (
        _MRC_R,
        _MRC_SCALE,
        _MRC_T,
    )
    from kbrowse_spark.sources.tables import load

    counts = {
        r.lang: r.n
        for r in load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    w = {
        lang: int(math.floor(math.sqrt(n) * _MRC_SCALE))
        for lang, n in counts.items()
    }
    s = sum(w.values())
    base = {la: (_MRC_T * wf) // s for la, wf in w.items()}
    rem = {la: (_MRC_T * wf) % s for la, wf in w.items()}
    leftover = _MRC_T - sum(base.values())
    order = sorted(counts, key=lambda la: (-rem[la], la))
    quota = {
        la: base[la] + (1 if i < leftover else 0)
        for i, la in enumerate(order)
    }
    expect = []
    for la in sorted(counts):
        n, qq = counts[la], quota[la]
        cap = min(qq, _MRC_R * n)
        expect.append(
            (
                la,
                n,
                w[la],
                qq,
                cap,
                1_000_000 * cap // n,
                1 if qq > _MRC_R * n else 0,
                qq - cap,
            )
        )
    got = [
        tuple(r) for r in _q(spark, sf_dir, "mix_repeat_cap_audit").collect()
    ]
    assert got == expect
    assert sum(q for _, _, _, q, _, _, _, _ in got) == _MRC_T
    for _la, n, _w, _q2, cap, rp, hit, short in got:
        assert cap <= _MRC_R * n and rp <= _MRC_R * 1_000_000
        assert (hit == 1) == (short > 0)


def test_ddsketch_merge_equals_direct(spark, sf_dir):
    """The semilattice law, in-engine: quantiles read from the merged
    per-shard sketches must equal the direct sketch's rows EXACTLY
    (same bucket, same est_lo/est_hi per (lang, q))."""
    direct = {
        (r.lang, r.q): (r.bucket, r.est_lo, r.est_hi)
        for r in _q(spark, sf_dir, "quantile_ddsketch_chars").collect()
    }
    merged = {
        (r.lang, r.q): (r.bucket, r.est_lo, r.est_hi)
        for r in _q(spark, sf_dir, "ddsketch_merge_audit").collect()
    }
    assert merged == direct
    assert len(merged) > 0


def test_dedup_keep_policy_exact_and_dominant(spark, sf_dir):
    """Python recomputation of both keeper policies from the cluster
    assignment + the exact fixed-point quality formula must agree
    row-for-row; keep_best's kept-quality mean dominates keep_first's
    by construction (argmax >= first element, per cluster)."""
    from collections import defaultdict

    from kbrowse_spark.operators.text_analysis import _STOPWORDS
    from kbrowse_spark.sources.tables import load

    assign = _q(spark, sf_dir, "dedup_cluster_assign").collect()
    docs = {
        r.doc_id: r.text
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    stop = set(_STOPWORDS)

    def qfp(doc_id):
        ws = docs[doc_id].split(" ")
        n, ns, nd = len(ws), sum(w in stop for w in ws), len(set(ws))
        return (400000 * ns) // n + (400000 * nd) // n + min(n, 100) * 2000

    clusters = defaultdict(list)
    for r in assign:
        if r.cluster_size >= 2:
            clusters[r.cluster_id].append(r.doc_id)
    pol = {"keep_first": [], "keep_best": []}
    for members in clusters.values():
        pol["keep_first"].append(min(members))
        pol["keep_best"].append(
            max(members, key=lambda d: (qfp(d), -d))
        )
    expect = {
        p: (
            len(ks),
            sum(qfp(d) for d in ks),
            sum(qfp(d) for d in ks) // len(ks),
            sum(ks),
        )
        for p, ks in pol.items()
    }
    got = {
        r.policy: (
            r.n_clusters,
            r.kept_quality_sum,
            r.mean_kept_q_ppm,
            r.kept_id_sum,
        )
        for r in _q(spark, sf_dir, "dedup_keep_policy_audit").collect()
    }
    assert got == expect
    assert got["keep_best"][1] >= got["keep_first"][1]
    assert got["keep_best"][0] == got["keep_first"][0] > 0


def test_stream_erasure_gate_consistent_with_batch_cohort(spark, sf_dir):
    """Family consistency: the gate's tombstone hits across all event
    types must equal a direct batch count of victim-subject events
    (same cohort the batch deletion audit cascades); admission ledger
    identities hold per type, and the gate actually discriminates
    (some tombstoned, most admitted)."""
    from kbrowse_spark.operators.data_quality import _DEL_MOD
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "stream_erasure_gate").collect()
    assert len(rows) > 0
    ev = load(spark, sf_dir, "events").select("user_id")
    vic = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % _DEL_MOD == 0)
        .select("c_custkey")
    )
    n_vic_events = ev.join(
        vic, ev["user_id"] == vic["c_custkey"], "left_semi"
    ).count()
    assert sum(r.n_tombstoned for r in rows) == n_vic_events
    for r in rows:
        assert r.n_arrived == r.n_tombstoned + r.n_admitted
        assert 0 <= r.tombstoned_ppm < 1_000_000
    assert sum(r.n_tombstoned for r in rows) > 0
    assert sum(r.n_admitted for r in rows) > sum(
        r.n_tombstoned for r in rows
    )


def test_asof_tolerance_refines_unbounded_asof(spark, sf_dir):
    """Refinement law vs an in-engine UNBOUNDED last-click as-of: the
    tolerance variant matches exactly where the unbounded match is
    within the window (same click id, same age), NULL-out exactly the
    stale ones (dropped_stale marks them), never invents a match, and
    all three outcomes (attributed / stale / never-clicked) are
    populated at this fixture."""
    from kbrowse_spark.operators.relational import _ASOF_TOL_MIN
    from kbrowse_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    ).collect()
    clicks = {}
    for r in ev:
        if r.event_type == "click":
            clicks.setdefault(r.user_id, []).append((r.ts, r.event_id))
    purchases = [r for r in ev if r.event_type == "purchase"]

    def last_click(u, ts):
        cand = [
            (cts, cid) for cts, cid in clicks.get(u, []) if cts <= ts
        ]
        if not cand:
            return None
        mts = max(cts for cts, _ in cand)
        return (mts, max(cid for cts, cid in cand if cts == mts))

    def age_min(pts, cts):
        return (
            int(pts.replace(second=0, microsecond=0).timestamp())
            - int(cts.replace(second=0, microsecond=0).timestamp())
        ) // 60

    got = {
        r.event_id: (r.attributed_click_id, r.age_min, r.dropped_stale)
        for r in _q(spark, sf_dir, "asof_join_tolerance").collect()
    }
    assert len(got) == len(purchases) > 0
    n_attr = n_stale = n_none = 0
    for p in purchases:
        lc = last_click(p.user_id, p.ts)
        mk, age, stale = got[p.event_id]
        if lc is None:
            n_none += 1
            assert mk is None and stale == 0
        else:
            a = age_min(p.ts, lc[0])
            if a <= _ASOF_TOL_MIN:
                n_attr += 1
                assert mk == lc[1] and age == a and stale == 0
            else:
                n_stale += 1
                assert mk is None and age is None and stale == 1
    assert n_attr > 0 and n_stale > 0 and n_none >= 0


def test_audio_energy_python_reference(spark, sf_dir):
    """Full independent Python recomputation (byte-pair PCM16 samples
    straight off the text, windowed square sums, first-max peak) must
    agree EXACTLY with the mapInPandas container path; window math
    identities hold per doc."""
    from kbrowse_spark.operators.multimodal import _AE_WIN
    from kbrowse_spark.sources.tables import load

    docs = (
        load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    expect = {}
    for r in docs:
        b = r.text.encode()
        if len(b) != len(r.text) or len(b) < 2:
            continue
        n = len(b) // 2
        s = [b[2 * i] + 256 * b[2 * i + 1] for i in range(n)]
        wins = [
            sum(v * v for v in s[i : i + _AE_WIN])
            for i in range(0, n, _AE_WIN)
        ]
        pk = max(range(len(wins)), key=lambda i: (wins[i], -i))
        expect[r.doc_id] = (
            n,
            len(wins),
            pk,
            wins[pk],
            sum(wins),
        )
    got = {
        r.doc_id: (
            r.n_samples,
            r.n_windows,
            r.peak_window,
            r.peak_energy,
            r.total_energy,
        )
        for r in _q(spark, sf_dir, "multimodal_audio_energy").collect()
    }
    assert got == expect and len(got) > 0
    for n, nw, pk, pe, te in got.values():
        assert nw == (n + _AE_WIN - 1) // _AE_WIN
        assert 0 <= pk < nw and pe <= te


def test_image_histogram_python_reference(spark, sf_dir):
    """Full independent Python recomputation (pixels = text bytes
    zero-padded to 64-wide rows; quadrant sums by direct slicing —
    NOT the integral image the operator uses; bucket counts by direct
    tally) must agree EXACTLY with the pack->decode->features
    container path; additivity and count identities hold per doc."""
    from kbrowse_spark.operators.multimodal import _IH_BUCKETS, _IMG_W
    from kbrowse_spark.sources.tables import load

    docs = (
        load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    expect = {}
    for r in docs:
        b = r.text.encode()
        if len(b) != len(r.text) or len(b) < 1:
            continue
        h = (len(b) + _IMG_W - 1) // _IMG_W
        padded = b + b"\x00" * (h * _IMG_W - len(b))
        rows = [padded[i * _IMG_W : (i + 1) * _IMG_W] for i in range(h)]
        sr, sc = h // 2, _IMG_W // 2

        def quad(r0, r1, c0, c1):
            return sum(sum(row[c0:c1]) for row in rows[r0:r1])

        hist = [0] * _IH_BUCKETS
        for v in padded:
            hist[v >> 4] += 1
        mode = hist.index(max(hist))
        expect[r.doc_id] = (
            _IMG_W,
            h,
            h * _IMG_W,
            sum(padded),
            quad(0, sr, 0, sc),
            quad(0, sr, sc, _IMG_W),
            quad(sr, h, 0, sc),
            quad(sr, h, sc, _IMG_W),
            mode,
            hist[mode],
        )
    got = {
        r.doc_id: (
            r.width,
            r.height,
            r.n_pixels,
            r.total_sum,
            r.q_tl,
            r.q_tr,
            r.q_bl,
            r.q_br,
            r.mode_bucket,
            r.mode_count,
        )
        for r in _q(spark, sf_dir, "multimodal_image_histogram").collect()
    }
    assert got == expect and len(got) > 0
    for w, h, npx, tot, tl, tr, bl, br, mb, mc in got.values():
        # integral-image additivity: quadrants partition the image
        assert tl + tr + bl + br == tot
        assert npx == w * h and 0 <= mb < _IH_BUCKETS and mc <= npx


def test_ann_pq_recall_audit_invariants(spark, sf_dir):
    """The PQ recall gate must DISCRIMINATE: every audit query returns
    a nonzero, non-perfect recall (8x16 random-literal codebooks over
    random embeddings are lossy but ADC still correlates with true
    L2), with spread across queries; consistency n_overlap <-> ppm
    holds; and the quantization BRACKET orders as designed: PQ (8
    bytes/vector) recalls strictly worse on average than the int8 grid
    (64 bytes/vector, near-lossless)."""
    rows = _q(spark, sf_dir, "ann_pq_recall_audit").collect()
    from kbrowse_spark.operators.knn import _PQR_NQ, TOP_K

    assert len(rows) == _PQR_NQ
    for r in rows:
        assert 0 <= r.n_overlap <= TOP_K
        assert r.recall_ppm == 1_000_000 * r.n_overlap // TOP_K
    # Discriminating at any SF: some overlap exists (ADC correlates
    # with true L2), it is never perfect everywhere (PQ is lossy), and
    # queries spread.
    assert sum(r.n_overlap for r in rows) > 0
    assert any(r.n_overlap < TOP_K for r in rows)
    assert len({r.n_overlap for r in rows}) >= 2
    pq_mean = sum(r.recall_ppm for r in rows) / len(rows)
    qz = _q(spark, sf_dir, "embedding_quantization_recall").collect()
    qz_mean = sum(r.recall_ppm for r in qz) / len(qz)
    assert pq_mean < qz_mean  # lossy end of the bracket


def test_ann_pq_code_drift_invariants(spark, sf_dir):
    """Frozen subspaces must show ZERO churn (their argmin inputs are
    bit-identical under both codebooks — the property that makes
    per-subspace incremental retraining safe); retrained subspaces
    must show real churn; ledger consistency holds."""
    from kbrowse_spark.operators.knn import _PQ_SUBS, _PQD_RETRAINED

    rows = {r.subspace: r for r in _q(spark, sf_dir, "ann_pq_code_drift").collect()}
    assert sorted(rows) == list(range(_PQ_SUBS))
    n_vec = {r.n_vectors for r in rows.values()}
    assert len(n_vec) == 1 and n_vec.pop() > 0
    for s, r in rows.items():
        assert r.churn_ppm == 1_000_000 * r.n_changed // r.n_vectors
        if s in _PQD_RETRAINED:
            assert r.n_changed > 0, f"retrained subspace {s} shows no churn"
        else:
            assert r.n_changed == 0, f"frozen subspace {s} churned"


def test_asof_nearest_python_reference(spark, sf_dir):
    """Independent brute-force nearest-click recomputation (all pairs
    per user, microsecond deltas, tie -> earlier/backward) must agree
    row-for-row; all three outcomes (before / after / never-clicked)
    populate; and the nearest refines the backward as-of: whenever the
    plain as-of attributes a click at delta d_b, nearest's delta is
    <= d_b."""
    from kbrowse_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    rows = ev.collect()
    clicks = {}
    for r in rows:
        if r.event_type == "click":
            key = (r.user_id, r.ts)
            clicks[key] = max(clicks.get(key, 0), r.event_id)
    by_user = {}
    for (u, ts), cid in clicks.items():
        by_user.setdefault(u, []).append((ts, cid))
    expect = {}
    for r in rows:
        if r.event_type != "purchase":
            continue
        cands = by_user.get(r.user_id, [])
        best = None
        for cts, cid in cands:
            td = r.ts - cts
            d_us = abs(
                (td.days * 86_400 + td.seconds) * 1_000_000
                + td.microseconds
            )
            after = 1 if cts > r.ts else 0
            k = (d_us, after)
            if best is None or k < best[0]:
                best = (k, cid)
        if best is None:
            expect[r.event_id] = (None, None, None)
        else:
            (d_us, after), cid = best
            expect[r.event_id] = (
                cid,
                d_us,
                "after" if after else "before",
            )
    got = {
        r.event_id: (r.nearest_click_id, r.abs_delta_us, r.side)
        for r in _q(spark, sf_dir, "asof_join_nearest").collect()
    }
    assert got == expect and len(got) > 0
    sides = {v[2] for v in got.values()}
    assert {"before", "after"} <= sides  # both directions populate
    # (never-clicked does not populate on this fixture: every
    # purchasing user has at least one click — verified at both SFs;
    # the LEFT-join null path is covered by the reference recompute)
    for cid, d_us, side in got.values():
        assert (cid is None) == (d_us is None) == (side is None)
        if d_us is not None:
            assert d_us >= 0


def test_ivfpq_retrieval_python_reference(spark, sf_dir):
    """Full independent Python recomputation of the IVF+PQ composition
    — fixed-point centroid probe, half-away-from-zero quantization,
    first-min argmin codes, 8-lookup ADC, top-k by (adc, vec_id) —
    must agree row-for-row; every returned label lies in the probed
    cells."""
    import math

    from kbrowse_spark.operators.knn import (
        _IVFPQ_K,
        _IVFPQ_NPROBE,
        _PQ_SUBDIM,
        _PQ_SUBS,
        _PQ_K,
        _pq_codebook,
    )
    from kbrowse_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()

    def q1024(x: float) -> int:  # SQL round(): half away from zero
        return int(math.copysign(math.floor(abs(x * 1024.0) + 0.5), x * 1024.0))

    qv = {r.vec_id: [q1024(float(x)) for x in r.embedding] for r in emb}
    lab = {r.vec_id: r.label for r in emb}
    # fixed-point centroids + cosine probe (ann_ivf_label arithmetic)
    bylab = {}
    for r in emb:
        bylab.setdefault(r.label, []).append(
            [math.floor(float(x) * 1e6) for x in r.embedding]
        )
    qe = [float(x) for x in next(r.embedding for r in emb if r.vec_id == 0)]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    probes = []
    for label, vecs in bylab.items():
        cvec = [sum(col) / 1e6 / len(vecs) for col in zip(*vecs)]
        csim = dot(cvec, qe) / (math.sqrt(dot(cvec, cvec)) * math.sqrt(dot(qe, qe)))
        probes.append((-csim, label))
    probe = {label for _, label in sorted(probes)[:_IVFPQ_NPROBE]}
    cb = _pq_codebook()

    def dt_of(v):
        return [
            [
                sum(
                    (v[s * _PQ_SUBDIM + j] - cb[s][k][j]) ** 2
                    for j in range(_PQ_SUBDIM)
                )
                for k in range(_PQ_K)
            ]
            for s in range(_PQ_SUBS)
        ]

    qdt = dt_of(qv[0])
    scored = []
    for vid, v in qv.items():
        if vid == 0 or lab[vid] not in probe:
            continue
        dt = dt_of(v)
        codes = [dt[s].index(min(dt[s])) for s in range(_PQ_SUBS)]
        adc = sum(qdt[s][codes[s]] for s in range(_PQ_SUBS))
        scored.append((adc, vid))
    expect = [
        (vid, lab[vid], adc) for adc, vid in sorted(scored)[:_IVFPQ_K]
    ]
    got = [
        (r.vec_id, r.label, r.adc_dist)
        for r in _q(spark, sf_dir, "ivfpq_retrieval").collect()
    ]
    assert got == expect and len(got) == _IVFPQ_K
    assert {label for _, label, _ in got} <= probe


def test_gopher_rules_python_reference(spark, sf_dir):
    """Independent pure-Python recomputation of all seven Gopher rule
    ledgers (whitespace-run split, newline lines, non-overlapping
    ellipsis count, integer rational thresholds) must match exactly;
    the ledger discriminates (not every rule reads 0 or 1e6)."""
    import re

    from kbrowse_spark.operators.data_quality import (
        _GOPHER_RULES,
        _GOPHER_STOPS,
    )
    from kbrowse_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("text").collect()
    n_docs = len(docs)
    passes = {r: 0 for r in _GOPHER_RULES}
    for (t,) in docs:
        words = [w for w in re.split(r"\s+", t) if w != ""]
        lines = t.split("\n")
        nw, nl = len(words), len(lines)
        sumlen = sum(len(w) for w in words)
        nsym = t.count("#") + t.count("...")
        n_bullet = sum(
            1 for line in lines if line.startswith(("-", "*"))
        )
        n_ellend = sum(1 for line in lines if line.endswith("..."))
        n_alpha = sum(1 for w in words if re.search("[a-zA-Z]", w))
        n_stops = sum(1 for s in _GOPHER_STOPS if s in words)
        ok = {
            "wc_bounds": 50 <= nw <= 100000,
            "mean_wordlen": nw > 0 and 3 * nw <= sumlen <= 10 * nw,
            "symbol_ratio": nw > 0 and 10 * nsym <= nw,
            "bullet_lines": 10 * n_bullet <= 9 * nl,
            "ellipsis_lines": 10 * n_ellend <= 3 * nl,
            "alpha_words": nw > 0 and 5 * n_alpha >= 4 * nw,
            "stopwords": n_stops >= 2,
        }
        for r, v in ok.items():
            passes[r] += int(v)
    expect = {
        r: (n_docs, passes[r], 1_000_000 * passes[r] // n_docs)
        for r in _GOPHER_RULES
    }
    got = {
        r.rule: (r.n_docs, r.n_pass, r.pass_ppm)
        for r in _q(spark, sf_dir, "quality_gopher_rules").collect()
    }
    assert got == expect
    rates = {v[2] for v in got.values()}
    assert any(0 < x < 1_000_000 for x in rates)  # discriminating


def test_stream_compaction_trigger_invariants(spark, sf_dir):
    """The monitor's flags must be the exact integer rationals over
    the final state (2*n*files < total; 4*small >= files), the
    per-file counts must partition the corpus, the geometric layout
    must populate BOTH sides of the small-file threshold, and the
    trigger must be one consistent global verdict."""
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "stream_compaction_trigger").collect()
    n_events = load(spark, sf_dir, "events").count()
    total = sum(r.n_rows for r in rows)
    assert total == n_events
    n_files = len(rows)
    n_small = sum(r.is_small for r in rows)
    assert 0 < n_small < n_files  # both sides populated
    for r in rows:
        assert r.is_small == int(2 * r.n_rows * n_files < total)
        assert r.repack_trigger == int(4 * n_small >= n_files)
    # geometric layout: widest prefix shard outweighs a 4-bit narrower
    by_shard = {}
    for r in rows:
        by_shard[r.shard] = by_shard.get(r.shard, 0) + r.n_rows
    top = max(by_shard)
    assert by_shard[top] > by_shard.get(top - 4, 0)


def test_bloom_runtime_filter_python_reference(spark, sf_dir):
    """Independent Python bloom (same md5 hashes, same integer power-
    of-two sizing) must reproduce the ledger exactly; the bloom
    property holds (every true member passes — no false negatives by
    construction, verified per-row here); measured FP stays within 4x
    the analytic (1 - e^-kn/m)^k bound."""
    import hashlib
    import math

    from kbrowse_spark.operators.pipeline_ops import (
        _BLF_BITS_PER_KEY,
        _BLF_K,
    )
    from kbrowse_spark.sources.tables import load

    build = {
        r.o_orderkey
        for r in load(spark, sf_dir, "orders")
        .filter("o_orderpriority = '1-URGENT'")
        .select("o_orderkey")
        .collect()
    }
    m = 1 << (_BLF_BITS_PER_KEY * len(build) - 1).bit_length()

    def bits_of(key: int):
        digest = hashlib.md5(str(key).encode()).hexdigest()
        return [
            int(digest[10 * i : 10 * i + 10], 16) % m
            for i in range(_BLF_K)
        ]

    bloom = 0
    for k in build:
        for b in bits_of(k):
            bloom |= 1 << b
    n_probe = n_pass = n_true = 0
    for r in load(spark, sf_dir, "lineitem").select("l_orderkey").collect():
        n_probe += 1
        member = r.l_orderkey in build
        passed = all((bloom >> b) & 1 for b in bits_of(r.l_orderkey))
        assert passed or not member  # no false negative, per row
        n_pass += int(passed)
        n_true += int(member)
    row = _q(spark, sf_dir, "join_bloom_runtime_filter").collect()[0]
    fp_ppm = 1_000_000 * (n_pass - n_true) // (n_probe - n_true)
    assert (
        row.n_build,
        row.m_bits,
        row.n_probe,
        row.n_pass_bloom,
        row.n_true_match,
        row.false_positive_ppm,
    ) == (len(build), m, n_probe, n_pass, n_true, fp_ppm)
    analytic = (1 - math.exp(-_BLF_K * len(build) / m)) ** _BLF_K
    assert row.false_positive_ppm <= 4 * analytic * 1_000_000 + 100


def test_schema_evolution_audit_invariants(spark, sf_dir):
    """The mergeSchema scan's ledger must match the deterministic
    generation split (evolved column present exactly on odd keys,
    pre-evolution columns everywhere), discriminate (0 < o_channel
    present_ppm < 1e6), and the staged directory must really hold two
    schema generations (gen-1's footer has no o_channel)."""
    import hashlib

    from kbrowse_spark.sources.tables import load

    rows = {
        r.column_name: r
        for r in _q(spark, sf_dir, "schema_evolution_audit").collect()
    }
    n = load(spark, sf_dir, "orders").count()
    n_odd = (
        load(spark, sf_dir, "orders")
        .filter("o_orderkey % 2 = 1")
        .count()
    )
    assert rows["o_channel"].n_present == n_odd
    assert 0 < rows["o_channel"].present_ppm < 1_000_000
    for c in ("o_custkey", "o_orderkey", "o_price_cents"):
        assert rows[c].n_present == n and rows[c].present_ppm == 1_000_000
    # the staged gen-1 files really lack the evolved column
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    g1 = spark.read.parquet(f"/tmp/kbrowse_schema_evo/{tag}/gen=1")
    assert "o_channel" not in g1.columns


def test_stream_gopher_gate_invariants(spark, sf_dir):
    """The gate's score histogram must partition the corpus, admission
    must be the exact threshold readout, BOTH sides of the gate must
    populate, and the gate must agree with the batch rule audit: on
    this corpus stopwords fail everywhere and wc_bounds is the only
    variable rule, so admitted == quality_gopher_rules' wc_bounds
    n_pass (the two operators share one rule arithmetic)."""
    from kbrowse_spark.operators.streaming_queries import _SGG_MIN_RULES
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "stream_gopher_gate").collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.admitted == int(r.n_rules_passed >= _SGG_MIN_RULES)
    admitted = sum(r.n_docs for r in rows if r.admitted)
    rejected = sum(r.n_docs for r in rows if not r.admitted)
    assert admitted > 0 and rejected > 0  # the gate discriminates
    audit = {
        r.rule: r.n_pass
        for r in _q(spark, sf_dir, "quality_gopher_rules").collect()
    }
    assert audit["stopwords"] == 0 and admitted == audit["wc_bounds"]


def test_lsh_band_tuning_invariants(spark, sf_dir):
    """The tuning ledger must cover every factorization of the 12-hash
    signature, carry the exact inlined s* literals, and obey the LSH
    tradeoff laws on real data: s50 strictly decreases as bands widen
    while the candidate-pair bill (and bucket count) grows; the
    single-band config recalls the most pairs."""
    from kbrowse_spark.operators.dedup import NUM_HASHES
    from kbrowse_spark.sources.tables import load

    rows = sorted(
        _q(spark, sf_dir, "dedup_lsh_band_tuning").collect(),
        key=lambda r: r.bands,
    )
    assert [r.bands for r in rows] == [1, 2, 3, 4, 6, 12]
    n_docs = load(spark, sf_dir, "documents").count()
    for r in rows:
        assert r.bands * r.rows_per_band == NUM_HASHES
        assert r.s50_ppm == round(
            1_000_000 * (1.0 / r.bands) ** (1.0 / r.rows_per_band)
        )
        assert 0 < r.n_buckets <= r.bands * n_docs
        assert r.max_bucket >= 1 and r.n_cand_pairs >= 0
    for a, b in zip(rows, rows[1:]):
        assert a.s50_ppm > b.s50_ppm  # stricter as bands narrow
        assert a.n_cand_pairs <= b.n_cand_pairs
        assert a.n_buckets <= b.n_buckets
    assert rows[-1].n_cand_pairs > rows[0].n_cand_pairs  # curve is real


def test_confusion_thresholds_invariants(spark, sf_dir):
    """Confusion-ledger laws across the threshold sweep: cells
    partition the corpus at every threshold; positives (tp+fn) and
    negatives (fp+tn) are threshold-invariant; tp and fp are
    non-increasing in the threshold (so recall is too); the sweep
    discriminates (recall and precision both move)."""
    from kbrowse_spark.sources.tables import load

    rows = sorted(
        _q(spark, sf_dir, "eval_confusion_thresholds").collect(),
        key=lambda r: r.threshold,
    )
    n = load(spark, sf_dir, "documents").count()
    pos = rows[0].tp + rows[0].fn
    neg = rows[0].fp + rows[0].tn
    for r in rows:
        assert r.tp + r.fp + r.fn + r.tn == n
        assert r.tp + r.fn == pos and r.fp + r.tn == neg
        denom_p = r.tp + r.fp
        assert r.precision_ppm == (
            1_000_000 * r.tp // denom_p if denom_p else 0
        )
        assert r.recall_ppm == 1_000_000 * r.tp // pos
    for a, b in zip(rows, rows[1:]):
        assert a.tp >= b.tp and a.fp >= b.fp
        assert a.recall_ppm >= b.recall_ppm
    assert len({r.recall_ppm for r in rows}) >= 2
    assert len({r.precision_ppm for r in rows}) >= 2


def test_stream_ivfpq_equals_batch_retrieval(spark, sf_dir):
    """The streaming IVF+PQ probe must reproduce the batch
    composition ROW-FOR-ROW for the shared query (qid 0 ==
    ivfpq_retrieval's query, same nprobe/k): same candidates, same
    ADC distances, same order — the batch/stream symmetry law.  Each
    query's results stay inside its probed cells (<= nprobe distinct
    labels) and inside the k budget."""
    from kbrowse_spark.operators.streaming_queries import (
        _SIP_K,
        _SIP_NPROBE,
        _SIP_NQ,
    )

    rows = _q(spark, sf_dir, "stream_ivfpq_probe").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append((r.vec_id, r.label, r.adc_dist))
    assert set(by_q) <= set(range(_SIP_NQ)) and 0 in by_q
    for qid, lst in by_q.items():
        assert len(lst) <= _SIP_K
        assert len({label for _, label, _ in lst}) <= _SIP_NPROBE
        assert lst == sorted(lst, key=lambda x: (x[2], x[0]))
    batch = [
        (r.vec_id, r.label, r.adc_dist)
        for r in _q(spark, sf_dir, "ivfpq_retrieval").collect()
    ]
    assert by_q[0] == batch


def test_neyman_allocation_invariants(spark, sf_dir):
    """Both allocations must sum exactly to the budget (Hamilton
    conserves); the Neyman weight must equal the exact integer sqrt of
    N*sum(x^2)-sum(x)^2 recomputed in Python (isqrt law: w^2 <= sse <
    (w+1)^2); and on this corpus the two allocations must actually
    DIFFER somewhere (variance earns slots volume does not)."""
    import math

    from kbrowse_spark.operators.pipeline_ops import _NEY_T
    from kbrowse_spark.sources.tables import load

    rows = _q(spark, sf_dir, "sample_neyman_allocation").collect()
    assert sum(r.alloc_neyman for r in rows) == _NEY_T
    assert sum(r.alloc_proportional for r in rows) == _NEY_T
    stats = {}
    for d in load(spark, sf_dir, "documents").select("lang", "text").collect():
        n, sx, sx2 = stats.get(d.lang, (0, 0, 0))
        ln = len(d.text)
        stats[d.lang] = (n + 1, sx + ln, sx2 + ln * ln)
    for r in rows:
        n, sx, sx2 = stats[r.lang]
        sse = n * sx2 - sx * sx
        w = math.isqrt(sse)
        assert r.n_pop == n and r.neyman_weight == w
        assert w * w <= sse < (w + 1) * (w + 1)
    assert any(
        r.alloc_neyman != r.alloc_proportional for r in rows
    )  # the design ledger discriminates


def test_mad_outliers_python_reference(spark, sf_dir):
    """Independent Python recomputation (lower-median rank selection
    over integer cents, MAD over absolute deviations, 3-MAD fence)
    must agree exactly per event type; the fence fires on this
    heavy-tailed fixture but never swallows the distribution."""
    import math

    from kbrowse_spark.operators.analytics import _MAD_K
    from kbrowse_spark.sources.tables import load

    rows = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(
            (int(math.floor(r.value * 100)), r.event_id)
        )
    expect = {}
    for et, vals in by_type.items():
        n = len(vals)
        cents_sorted = sorted(vals)
        med = cents_sorted[(n + 1) // 2 - 1][0]
        devs = sorted(
            (abs(c - med), eid) for c, eid in vals
        )
        mad = devs[(n + 1) // 2 - 1][0]
        n_out = sum(1 for dv, _ in devs if dv > _MAD_K * mad)
        expect[et] = (n, med, mad, n_out, 1_000_000 * n_out // n)
    got = {
        r.event_type: (
            r.n, r.median_cents, r.mad_cents, r.n_outliers, r.outlier_ppm
        )
        for r in _q(spark, sf_dir, "mad_robust_outliers").collect()
    }
    assert got == expect and len(got) > 0
    for n, med, mad, n_out, ppm in got.values():
        assert 0 < n_out < n  # fence fires, never swallows
        assert mad > 0
