"""Record-linkage and interval-analytics operators: pigeonhole
fuzzy join, sweep-line concurrency, EWMA smoothing (SURVEY §2c
extension surface — entity-resolution and time-series primitives a
training-data pipeline needs next to dedup).

Scale rules shared by all three:
  * candidate generation is always BLOCKED (pigeonhole segments) or
    SHARDED (per-day sweep partitions) — no all-pairs, no global
    window over the raw stream;
  * every float that feeds a comparison or an ORDER BY is either an
    exact decimal aggregate (functions/determinism.dsum) or an
    identical IEEE expression tree on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kbrowse_spark.catalog import register
from kbrowse_spark.functions.determinism import dsum, sql_dsum
from kbrowse_spark.sources.tables import load

# ---------------------------------------------------------------------------
# Fuzzy join via pigeonhole segment blocking
# ---------------------------------------------------------------------------

# Customer names are fixed-width 'Customer#ddddddddd' (9 digits).  For
# equal-length keys, levenshtein <= 1 implies exactly one substituted
# character, so splitting the digit block into 4 segments guarantees
# exactly 3 of the 4 segments match (pigeonhole).  Joining on the four
# 3-segment combinations therefore finds EVERY distance-<=1 pair while
# touching only same-block candidates — the standard PassJoin / Ed-Join
# blocking family, no all-pairs anywhere.
#
# Why 4 segments and not the minimal 3: the adversarial key shape here
# is SEQUENTIAL zero-padded ids, where any key built only from
# high-order digits is near-constant.  The widest such key is the one
# that omits the low segment; with 4 segments of (3,2,2,2) digits that
# key still pins 7 high digits, so its blocks hold ~10^2 records
# instead of the ~10^3 a 2-of-3 scheme leaves — candidate volume drops
# an order of magnitude on exactly the data that stresses it.
_SEGS = [(10, 3), (13, 2), (15, 2), (17, 2)]  # 1-based (start, len)
# Each key omits exactly one segment; a distance-1 pair differs in one
# segment, hence matches exactly ONE key — complete and duplicate-free.
_KEY_TRIPLES = [(1, 2, 3), (0, 2, 3), (0, 1, 3), (0, 1, 2)]


@register(
    "fuzzy_join_pigeonhole",
    # Independent formulation: the oracle verifies by the DIRECT
    # quadratic join (fine at sf0.01), so a blocking bug that silently
    # drops pairs cannot also hide in the oracle.
    """
    WITH pairs AS (
      SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
             a.c_name AS a_name, b.c_name AS b_name
      FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1),
    posed AS (
      SELECT a_key, b_key,
             (SELECT CAST(SUM(CASE WHEN substr(a_name, 9 + i, 1)
                                      <> substr(b_name, 9 + i, 1)
                                   THEN i ELSE 0 END) AS BIGINT)
              FROM generate_series(1, 9) AS t(i)) AS pos_changed
      FROM pairs)
    SELECT pos_changed,
           COUNT(*) AS n_pairs,
           CAST(SUM(a_key) AS BIGINT) AS sum_a,
           CAST(SUM(b_key) AS BIGINT) AS sum_b,
           CAST(SUM(a_key * b_key) AS BIGINT) AS sum_ab
    FROM posed
    GROUP BY pos_changed
    ORDER BY pos_changed
    """,
    "linkage",
)
def fuzzy_join_pigeonhole(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / fuzzy self-join: customer-name pairs within
    edit distance 1, found by pigeonhole segment blocking instead of an
    all-pairs comparison (reference has no linkage operator; this is
    §2c extension surface alongside the dedup family).

    Each record emits 4 blocking keys (the 4 ways to choose 3 of its 4
    digit segments); a distance-1 pair differs in exactly one segment,
    so it matches on EXACTLY ONE key (the one omitting that segment) —
    the equi-join both finds every pair and never duplicates one, hence
    no DISTINCT (and no second shuffle) is needed.  Verification
    (`levenshtein`, JVM-side) runs on blocked candidates only.

    Output is the per-digit-position linkage summary with
    order-independent key checksums (sum_a/sum_b/sum_ab) — pair
    identity is fully value-checked without shipping the O(n) pair list
    through the gate.

    Scale posture: one shuffle on the blocking key.  For real-world
    keys (names, emails) segment blocks are balanced by construction;
    sequential zero-padded IDs are the adversarial case — the key
    omitting the low segment degenerates into hot blocks (bounded at
    ~10^2 rows by the 4-segment split; AQE skew-join spreads what
    remains).  The further production mitigations compose here: more
    segments for longer keys, or cap blocking-key frequency the way
    dedup_ngram_jaccard caps shingle df.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # Loud shape guard: the segment layout below assumes the fixed
    # 'Customer#ddddddddd' key width — the constant prefix is pinned
    # into every blocking key, so an edit INSIDE chars 1-9 would match
    # no key and the pair would be silently dropped.  Rather than
    # silently miss on other key shapes, any non-conforming row aborts
    # the job (JVM-side CASE + raise_error: one cheap regex per row, no
    # extra action, no effect on pushdown).
    c = c.withColumn(
        "c_name",
        F.when(
            F.col("c_name").rlike(r"^Customer#[0-9]{9}$"), F.col("c_name")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "fuzzy_join_pigeonhole: key violates the "
                        "fixed-width 'Customer#ddddddddd' shape the "
                        "blocking scheme assumes: "
                    ),
                    F.col("c_name"),
                )
            )
        ),
    )
    segs = [F.substring("c_name", s, ln) for s, ln in _SEGS]
    # kval pins the shared 'Customer#' prefix AND the three kept
    # segments — i.e. every character OUTSIDE the omitted segment — so
    # within a block the full-name edit distance collapses to the edit
    # distance of the omitted segment alone (`rest`, 2-3 chars).  The
    # verify step therefore runs the DP on 2-3 characters, not 18.
    keys = F.array(
        *[
            F.struct(
                F.lit(kid).alias("kid"),
                F.concat_ws(
                    "|",
                    F.substring("c_name", 1, 9),
                    *[segs[i] for i in tri],
                ).alias("kval"),
                segs[kid].alias("rest"),
            )
            for kid, tri in enumerate(_KEY_TRIPLES)
        ]
    )
    blocked = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.explode(keys).alias("bk"),
    ).select("key", "name", "bk.kid", "bk.kval", "bk.rest")
    # Spread the verify work: the dimension-sized probe side would
    # otherwise inherit the scan's partitioning (ONE task for a single
    # small file), serializing every candidate comparison.  The
    # explicit partition count keeps AQE from coalescing the tiny
    # exchange back into one task; at cluster scale the scan arrives
    # pre-split and this exchange is the join's natural
    # co-partitioning anyway.
    blocked = blocked.repartition(
        spark.sparkContext.defaultParallelism, "kid", "kval"
    )

    a, b = blocked.alias("a"), blocked.alias("b")
    cand = a.join(
        b,
        on=[
            F.col("a.kid") == F.col("b.kid"),
            F.col("a.kval") == F.col("b.kval"),
            F.col("a.key") < F.col("b.key"),
        ],
    ).where(F.levenshtein(F.col("a.rest"), F.col("b.rest")) <= 1)

    pos = None
    for i in range(1, 10):
        term = F.when(
            F.substring(F.col("a.name"), 9 + i, 1)
            != F.substring(F.col("b.name"), 9 + i, 1),
            F.lit(i),
        ).otherwise(F.lit(0))
        pos = term if pos is None else pos + term
    pairs = cand.select(
        F.col("a.key").alias("a_key"),
        F.col("b.key").alias("b_key"),
        pos.cast("long").alias("pos_changed"),
    )
    return (
        pairs.groupBy("pos_changed")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("a_key").alias("sum_a"),
            F.sum("b_key").alias("sum_b"),
            F.sum(F.col("a_key") * F.col("b_key")).alias("sum_ab"),
        )
        .orderBy("pos_changed")
    )


# ---------------------------------------------------------------------------
# Max-concurrency sweep line (sharded prefix sum)
# ---------------------------------------------------------------------------

# Deterministic synthetic duration: 60s..3599s derived from event_id.
# (The fixture has no duration column; deriving one from the real id
# keeps inputs driver-generated, per TESTDATA.md.)
_DUR_SQL = "60 + event_id % 3540"


@register(
    "max_concurrency_sweep",
    f"""
    WITH iv AS (
      SELECT event_id, ts AS start_ts,
             ts + INTERVAL (({_DUR_SQL})) SECOND AS end_ts
      FROM events),
    deltas AS (
      SELECT start_ts AS pt, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT end_ts AS pt, -1 AS delta, event_id FROM iv),
    run AS (
      SELECT pt, delta,
             SUM(delta) OVER (ORDER BY pt, delta, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS conc
      FROM deltas)
    SELECT strftime(pt, '%Y-%m-%d') AS day,
           CAST(MAX(conc) AS BIGINT) AS max_concurrency,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM run
    GROUP BY 1 ORDER BY 1
    """,
    "analytics",
)
def max_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by interval sweep-line: +1 at
    each session start, -1 at each end, running sum, per-day max.

    The running sum is a GLOBAL prefix over all 2n boundary points —
    the textbook single-task trap.  Sharded exactly like
    token_budget_packing: each day-shard computes its local running sum
    in parallel (window partitioned by day), then a broadcast
    one-row-per-shard cumulative net offset shifts each shard by the
    concurrency carried in from all earlier days (sessions that span
    midnight are handled by construction — their -1 lands in a later
    shard, so the day-net carries them forward).  The only unpartitioned
    window runs over one row per day.

    End events tie-break BEFORE start events at the same microsecond
    (ORDER BY pt, delta: -1 < +1) — touching endpoints do not count as
    concurrent; identical semantics declared in the oracle.

    Scale posture: 2x fan-out of events, one shuffle on day, windows
    stream within shards; the offset table is O(days).  The boundary
    stream is DERIVED twice (once for the per-shard windows, once for
    the day-net aggregate) — both derivations read only (event_id, ts)
    with column pruning, and at 100 TB the day-net side collapses to a
    map-side-combined count per day, so the second pass ships bytes,
    not rows.  Materialize the boundary table once if events is remote
    cold storage.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("start_ts"),
        F.expr(f"ts + make_interval(0, 0, 0, 0, 0, 0, {_DUR_SQL})").alias(
            "end_ts"
        ),
    )
    deltas = ev.select(
        F.col("start_ts").alias("pt"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        ev.select(
            F.col("end_ts").alias("pt"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    # day is a STRING key: Spark DATE surfaces as datetime.date objects
    # through toPandas while DuckDB DATE becomes datetime64 — the
    # driver's pandas canonicalizer would see two different renderings
    # of the same value (same hazard class as HUGEINT sums).
    deltas = deltas.withColumn("day", F.date_format("pt", "yyyy-MM-dd"))
    local_run = F.sum("delta").over(
        W.partitionBy("day")
        .orderBy("pt", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    with_local = deltas.select(
        "day", "pt", "delta", local_run.alias("local_run")
    )
    prior = F.coalesce(
        F.sum("day_net").over(
            W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    offsets = F.broadcast(
        deltas.groupBy("day")
        .agg(F.sum("delta").alias("day_net"))
        .select("day", prior.alias("offset"))
    )
    return (
        with_local.join(offsets, "day")
        .groupBy("day")
        .agg(
            F.max(F.col("local_run") + F.col("offset"))
            .cast("long")
            .alias("max_concurrency"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# EWMA smoothing via higher-order fold
# ---------------------------------------------------------------------------

_ALPHA = 0.5  # binary fraction: each step is one multiply + one add, IEEE-exact


@register(
    "ewma_daily_revenue",
    f"""
    WITH daily AS (
      SELECT n.n_name, date_trunc('day', o.o_orderdate) AS day,
             {sql_dsum('o.o_totalprice')} AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    series AS (
      SELECT n_name,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             list(rev ORDER BY day) AS xs
      FROM daily GROUP BY n_name)
    SELECT n_name, n_days,
           xs[len(xs)] AS last_rev,
           list_reduce(xs, (acc, x) -> acc * {_ALPHA} + x * {_ALPHA}) AS ewma
    FROM series
    ORDER BY n_name
    """,
    "analytics",
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per
    nation — the recursive smoother y_t = a*x_t + (1-a)*y_{t-1}
    expressed as a JVM higher-order fold (F.aggregate) over the
    day-ordered series, no Python in the loop and no iteration.

    Determinism: daily revenue is a decimal-exact sum (dsum); the fold
    is a LEFT fold seeded with the first element, and a = 0.5 makes
    each step one IEEE multiply-add both engines evaluate identically
    in the same order — so even this floating recursion hash-matches
    DuckDB's list_reduce bit for bit.

    Scale posture: the fold runs per GROUP over the aggregated daily
    grain (365 values/nation-year), not the raw orders — collect_list
    holds days, not orders.  At 100 TB the pre-aggregation is the same
    two-shuffle rollup as q5; the smoother itself is O(days) per group.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("rev"))
    )
    series = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "rev"))),
            lambda s: s["rev"],
        ).alias("xs"),
    )
    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.element_at("xs", 1),
        lambda acc, x: acc * F.lit(_ALPHA) + x * F.lit(_ALPHA),
    )
    return series.select(
        "n_name",
        "n_days",
        F.element_at("xs", -1).alias("last_rev"),
        fold.alias("ewma"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# Holt linear smoothing (level + trend double fold)
# ---------------------------------------------------------------------------

# alpha = beta = 0.5: every step is IEEE multiply-adds both engines
# evaluate identically (binary-fraction coefficients, same expression
# shape), so even the two-variable recursion hash-matches bit for bit.


@register(
    "holt_linear_forecast",
    f"""
    WITH RECURSIVE daily AS (
      SELECT n.n_name, date_trunc('day', o.o_orderdate) AS day,
             {sql_dsum('o.o_totalprice')} AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    numbered AS (
      SELECT n_name, rev,
             CAST(row_number() OVER (PARTITION BY n_name ORDER BY day)
                  AS BIGINT) AS rn
      FROM daily),
    counts AS (
      SELECT n_name, CAST(MAX(rn) AS BIGINT) AS n_days
      FROM numbered GROUP BY 1),
    rec AS (
      SELECT n_name, rn, rev AS l, CAST(0.0 AS DOUBLE) AS b
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT d.n_name, d.rn,
             0.5 * d.rev + 0.5 * (r.l + r.b),
             0.5 * ((0.5 * d.rev + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
      FROM rec r JOIN numbered d
        ON d.n_name = r.n_name AND d.rn = r.rn + 1)
    SELECT r.n_name, c.n_days,
           r.l AS level, r.b AS trend,
           r.l + r.b AS forecast_next
    FROM rec r JOIN counts c
      ON r.n_name = c.n_name AND r.rn = c.n_days
    ORDER BY r.n_name
    """,
    "analytics",
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per nation: the
    two-variable recursion  l_t = a*x_t + (1-a)(l+b),
    b_t = B(l_t - l_{t-1}) + (1-B)b  as ONE JVM higher-order fold with
    a struct accumulator — level and trend evolve together, and the
    one-step-ahead forecast is level + trend.  Extends
    ewma_daily_revenue from smoothing to trend-aware forecasting.

    The recursion seeds from the first observation (l = x_1, b = 0).
    The oracle replays the SAME recursion as a DuckDB recursive CTE
    stepping day by day (struct-accumulator list_reduce mis-evaluates
    in this DuckDB build — single self-referential application,
    caught during development); a = B = 0.5 and mirrored expression
    shapes keep a ~600-step two-variable floating recursion
    bit-identical across engines.

    Scale posture: identical to ewma_daily_revenue — the fold runs
    over the aggregated DAILY grain per group, never the raw orders;
    the rollup below it is the standard two-shuffle star aggregate.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("rev"))
    )
    series = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "rev"))),
            lambda s: s["rev"],
        ).alias("xs"),
    )

    def merge(acc, x):
        l_new = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (
                F.lit(0.5) * (l_new - acc["l"]) + F.lit(0.5) * acc["b"]
            ).alias("b"),
        )

    st = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.struct(
            F.element_at("xs", 1).alias("l"), F.lit(0.0).alias("b")
        ),
        merge,
    )
    return series.select(
        "n_name",
        "n_days",
        st["l"].alias("level"),
        st["b"].alias("trend"),
        (st["l"] + st["b"]).alias("forecast_next"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# Day-of-week seasonal decomposition
# ---------------------------------------------------------------------------


@register(
    "seasonal_dow_indices",
    f"""
    WITH daily AS (
      SELECT n.n_name, date_trunc('day', o.o_orderdate) AS day,
             CAST(dayofweek(o.o_orderdate) + 1 AS BIGINT) AS dow,
             {sql_dsum('o.o_totalprice')} AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2, 3),
    per_dow AS (
      SELECT n_name, dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             {sql_dsum('rev')} AS dow_rev
      FROM daily GROUP BY 1, 2),
    overall AS (
      SELECT n_name,
             CAST(COUNT(*) AS BIGINT) AS tot_days,
             {sql_dsum('rev')} AS tot_rev
      FROM daily GROUP BY 1)
    SELECT p.n_name, p.dow, p.n_days,
           p.dow_rev / p.n_days AS dow_mean,
           (p.dow_rev / p.n_days) / (o.tot_rev / o.tot_days)
             AS seasonal_index
    FROM per_dow p JOIN overall o ON p.n_name = o.n_name
    ORDER BY p.n_name, p.dow
    """,
    "analytics",
)
def seasonal_dow_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality: each nation's mean daily revenue per
    weekday, and the seasonal index (weekday mean / overall daily
    mean) — the multiplicative-decomposition table behind
    deseasonalized trend views and the divisor for seasonally-adjusted
    anomaly thresholds.

    Determinism: every sum is decimal-exact (dsum, including the
    re-aggregation of daily revenue, which is itself a rounded DOUBLE
    re-cast through the same decimal grid in both engines); the means
    and the index are IEEE divisions of identical operands.  Weekday
    numbering is Spark's 1 = Sunday .. 7 = Saturday (DuckDB's
    dayofweek is 0-based Sunday, shifted by +1 in the oracle).

    Scale posture: two map-side-combinable aggregates over the daily
    grain (which itself is the standard star rollup) and a broadcast
    join on nation — the orders table is scanned once; nothing is
    event-grain past the first aggregate.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.dayofweek("o_orderdate").cast("long").alias("dow"),
        )
        .agg(dsum("o_totalprice").alias("rev"))
    )
    per_dow = daily.groupBy("n_name", "dow").agg(
        F.count(F.lit(1)).alias("n_days"), dsum("rev").alias("dow_rev")
    )
    overall = daily.groupBy(F.col("n_name").alias("o_name")).agg(
        F.count(F.lit(1)).alias("tot_days"), dsum("rev").alias("tot_rev")
    )
    return (
        per_dow.join(
            F.broadcast(overall), per_dow.n_name == overall.o_name
        )
        .select(
            "n_name",
            "dow",
            "n_days",
            (F.col("dow_rev") / F.col("n_days")).alias("dow_mean"),
            (
                (F.col("dow_rev") / F.col("n_days"))
                / (F.col("tot_rev") / F.col("tot_days"))
            ).alias("seasonal_index"),
        )
        .orderBy("n_name", "dow")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (all-integer one-sided upper CUSUM)
# ---------------------------------------------------------------------------

# Fixed-point scale for the per-day mean; slack k = mean/10 (10% of the
# in-control mean), alarm threshold h = mean (one mean-day of
# accumulated drift).  Everything is BIGINT arithmetic, so a ~hundreds-
# step recursion hash-matches across engines with no float anywhere.
_CUSUM_SCALE = 1000


_CUSUM_SQL = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    numbered AS (
      SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS rn
      FROM daily),
    stats AS (
      SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n_days,
             CAST((SUM(x) * {_CUSUM_SCALE}) // MAX(rn) AS BIGINT)
               AS mean_fp
      FROM numbered GROUP BY 1),
    rec AS (
      SELECT n.event_type, n.rn,
             GREATEST(0, n.x * {_CUSUM_SCALE} - s.mean_fp - s.mean_fp // 10)
               AS s,
             GREATEST(0, n.x * {_CUSUM_SCALE} - s.mean_fp - s.mean_fp // 10)
               AS mx,
             CASE WHEN GREATEST(0, n.x * {_CUSUM_SCALE} - s.mean_fp
                                    - s.mean_fp // 10) > s.mean_fp
                  THEN 1 ELSE 0 END AS alarms
      FROM numbered n JOIN stats s ON s.event_type = n.event_type
      WHERE n.rn = 1
      UNION ALL
      SELECT n.event_type, n.rn,
             GREATEST(0, r.s + n.x * {_CUSUM_SCALE} - s.mean_fp
                         - s.mean_fp // 10),
             GREATEST(r.mx, GREATEST(0, r.s + n.x * {_CUSUM_SCALE} - s.mean_fp
                                        - s.mean_fp // 10)),
             r.alarms + CASE WHEN GREATEST(0, r.s + n.x * {_CUSUM_SCALE}
                                       - s.mean_fp - s.mean_fp // 10)
                                  > s.mean_fp
                             THEN 1 ELSE 0 END
      FROM rec r
      JOIN numbered n ON n.event_type = r.event_type AND n.rn = r.rn + 1
      JOIN stats s ON s.event_type = n.event_type)
    SELECT r.event_type, st.n_days, st.mean_fp,
           CAST(r.s AS BIGINT) AS cusum_final,
           CAST(r.mx AS BIGINT) AS cusum_max,
           CAST(r.alarms AS BIGINT) AS n_alarms
    FROM rec r JOIN stats st
      ON r.event_type = st.event_type AND r.rn = st.n_days
    ORDER BY r.event_type
    """


def _cusum_readout(daily: DataFrame) -> DataFrame:
    """The CUSUM fold + readout over a (event_type, day, x) daily grain
    — shared by the batch operator and the streaming arm so both are
    checked against the SAME recursive-CTE oracle."""
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("total"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s["x"],
        ).alias("xs"),
    )
    sized = series.select(
        "event_type",
        "n_days",
        "xs",
        F.expr(f"(total * {_CUSUM_SCALE}) div n_days").alias("mean_fp"),
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("s"), zero.alias("mx"), zero.alias("alarms")
    )

    def step(acc, x):
        s2 = F.greatest(
            F.lit(0).cast("long"),
            acc["s"]
            + x * _CUSUM_SCALE
            - F.col("mean_fp")
            - F.expr("mean_fp div 10"),
        )
        return F.struct(
            s2.alias("s"),
            F.greatest(acc["mx"], s2).alias("mx"),
            (
                acc["alarms"]
                + F.when(s2 > F.col("mean_fp"), 1).otherwise(0)
            ).alias("alarms"),
        )

    fold = F.aggregate("xs", init, step)
    return sized.select(
        "event_type",
        "n_days",
        "mean_fp",
        fold["s"].alias("cusum_final"),
        fold["mx"].alias("cusum_max"),
        fold["alarms"].cast("long").alias("n_alarms"),
    ).orderBy("event_type")


@register("cusum_event_drift", _CUSUM_SQL, "analytics")
def cusum_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM change-point detector over daily event
    volumes per type (Page 1954, the standard drift monitor):
    S_t = max(0, S_{t-1} + x_t - mean - slack), alarm while S_t exceeds
    the threshold — completing the time-series family (EWMA smooths,
    Holt forecasts, CUSUM detects sustained level shifts that
    point-outlier rules like MAD miss).

    All-INTEGER recursion: counts are exact, the in-control mean is a
    fixed-point BIGINT ((total*1000) div days — both engines floor
    nonneg integers identically), slack = mean/10 and threshold = mean
    derive from it, and the fold state (S, running max, alarm count) is
    a BIGINT struct — so a multi-hundred-step recursion hash-matches
    DuckDB's recursive-CTE replay exactly, no float anywhere.

    Scale posture: same as the Holt/EWMA family — the fold (one JVM
    higher-order F.aggregate, no Python, no iteration) runs over the
    aggregated DAILY grain per group, never raw events; collect_list
    holds days.  The rollup below is one map-side-combinable aggregate.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    return _cusum_readout(daily)


# ---------------------------------------------------------------------------
# Blocking-efficiency report for the pigeonhole join
# ---------------------------------------------------------------------------

_BLK_SCALE = 1_000_000


@register(
    "blocking_efficiency_report",
    f"""
    WITH c AS (SELECT c_custkey, c_name FROM customer),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rec FROM c),
    blocked AS (
      SELECT kid,
             CASE kid
               WHEN 0 THEN substr(c_name, 1, 9) || '|' || substr(c_name, 13, 2)
                           || '|' || substr(c_name, 15, 2)
                           || '|' || substr(c_name, 17, 2)
               WHEN 1 THEN substr(c_name, 1, 9) || '|' || substr(c_name, 10, 3)
                           || '|' || substr(c_name, 15, 2)
                           || '|' || substr(c_name, 17, 2)
               WHEN 2 THEN substr(c_name, 1, 9) || '|' || substr(c_name, 10, 3)
                           || '|' || substr(c_name, 13, 2)
                           || '|' || substr(c_name, 17, 2)
               ELSE substr(c_name, 1, 9) || '|' || substr(c_name, 10, 3)
                           || '|' || substr(c_name, 13, 2)
                           || '|' || substr(c_name, 15, 2)
             END AS kval
      FROM c CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS kid)),
    blocks AS (
      SELECT kid, kval, CAST(COUNT(*) AS BIGINT) AS sz
      FROM blocked GROUP BY 1, 2)
    SELECT n.n_rec,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(MAX(sz) AS BIGINT) AS max_block_size,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_candidate_pairs,
           CAST(n.n_rec * (n.n_rec - 1) // 2 AS BIGINT) AS n_full_pairs,
           CAST((SUM(sz * (sz - 1) // 2) * {_BLK_SCALE})
                // (n.n_rec * (n.n_rec - 1) // 2) AS BIGINT)
             AS candidate_ppm
    FROM blocks CROSS JOIN n
    GROUP BY n.n_rec
    """,
    "linkage",
    "agg",
)
def blocking_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-efficiency audit for the pigeonhole fuzzy join: how
    many candidate pairs the 4 blocking keys generate — computed from
    BLOCK SIZES ALONE (sum of C(sz,2) per block), never materializing
    a pair — against the full quadratic n(n-1)/2, as a fixed-point
    parts-per-million reduction ratio.  This is the number that says
    whether a blocking scheme survives growth BEFORE running it; the
    r5 adversarial-case analysis (sequential ids -> hot low-segment
    blocks) becomes a queryable metric instead of a docstring claim.

    Exactness: all counts integer; the ppm ratio is one integer div.

    Scale posture: one explode (4 keys/record) + one map-side-
    combinable block-size aggregate + a 1-row rollup; cost is
    O(records), independent of the candidate volume being estimated.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # Same loud shape guard as fuzzy_join_pigeonhole: a report computed
    # over keys the actual fuzzy join would REFUSE to run on would
    # describe the wrong population — abort on non-conforming names
    # rather than silently including them.
    c = c.withColumn(
        "c_name",
        F.when(
            F.col("c_name").rlike(r"^Customer#[0-9]{9}$"), F.col("c_name")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "blocking_efficiency_report: key violates the "
                        "fixed-width 'Customer#ddddddddd' shape the "
                        "blocking scheme assumes: "
                    ),
                    F.col("c_name"),
                )
            )
        ),
    )
    segs = [F.substring("c_name", s, ln) for s, ln in _SEGS]
    keys = F.array(
        *[
            F.struct(
                F.lit(kid).alias("kid"),
                F.concat_ws(
                    "|",
                    F.substring("c_name", 1, 9),
                    *[segs[i] for i in tri],
                ).alias("kval"),
            )
            for kid, tri in enumerate(_KEY_TRIPLES)
        ]
    )
    blocked = c.select(F.explode(keys).alias("bk")).select(
        "bk.kid", "bk.kval"
    )
    blocks = blocked.groupBy("kid", "kval").agg(
        F.count(F.lit(1)).alias("sz")
    )
    n = c.agg(F.count(F.lit(1)).alias("n_rec"))
    report = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("sz").cast("long").alias("max_block_size"),
        F.sum(F.expr("sz * (sz - 1) div 2"))
        .cast("long")
        .alias("n_candidate_pairs"),
    )
    return (
        report.crossJoin(F.broadcast(n))
        .select(
            F.col("n_rec").cast("long").alias("n_rec"),
            "n_blocks",
            "max_block_size",
            "n_candidate_pairs",
            F.expr("n_rec * (n_rec - 1) div 2")
            .cast("long")
            .alias("n_full_pairs"),
            F.expr(
                f"(n_candidate_pairs * {_BLK_SCALE})"
                " div (n_rec * (n_rec - 1) div 2)"
            ).alias("candidate_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-pass sorted-neighborhood blocking (windowed adjacency)
# ---------------------------------------------------------------------------

# The OTHER classic blocking family (Hernandez & Stolfo 1995): sort by
# a key, compare each record only to its w nearest neighbors in sort
# order, run multiple passes with different keys to recover pairs the
# first ordering separates.  Unlike the pigeonhole join above it is a
# HEURISTIC — recall < 100% by design — so the operator reports, per
# pass and combined, candidate volume, match volume, and matched-pair
# checksums; the recall actually achieved vs the exact distance-<=1
# truth is measured (not assumed) by an invariant test.
#
# Pass 0 sorts by the name itself (numeric id order: catches low-digit
# substitutions — neighbors within +-w numerically); pass 1 sorts by
# the REVERSED digit block (catches high-digit substitutions — ids
# sharing a low-digit suffix become adjacent).  Middle-digit edits can
# escape both windows: that tradeoff is the point of the operator, and
# the measured number is in the test.
_SN_W = 10         # neighbors compared per record per pass
_SN_PASSES = 4

# A pass catches a substitution at digit position p exactly when its
# sort key places p LAST among the digits that records otherwise
# share: the two keys then differ only near the end, so the records
# are adjacent within the block.  Rotating the digit block right by k
# puts position 9-k last (k=0,1,2 -> units/tens/hundreds); the reverse
# key puts position 1 last and, because dense sequential ids share
# digit SUFFIXES sparsely, opportunistically catches the other high
# positions too.  Middle positions 5-6 stay uncovered — the classic
# multi-pass-SN recall tradeoff, measured (not assumed) by the
# invariant test.
_SN_DIG = "substr(c_name, 10, 9)"
_SN_SKEYS = [
    "c_name",                                                  # rot 0
    f"substr({_SN_DIG}, 9, 1) || substr({_SN_DIG}, 1, 8)",     # rot 1
    f"substr({_SN_DIG}, 8, 2) || substr({_SN_DIG}, 1, 7)",     # rot 2
    f"reverse({_SN_DIG})",                                     # reverse
]
_SN_BLKS = [
    f"substr({_SN_DIG}, 1, 4)",
    f"substr({_SN_DIG}, 9, 1) || substr({_SN_DIG}, 1, 3)",
    f"substr({_SN_DIG}, 8, 2) || substr({_SN_DIG}, 1, 2)",
    f"substr(reverse({_SN_DIG}), 1, 3)",
]


def _sn_keys() -> tuple[str, str]:
    """(skey, blk) CASE expressions over the pass column.  Every
    expression in _SN_SKEYS/_SN_BLKS is dialect-portable (substr /
    reverse / || behave identically in Spark SQL and DuckDB), so ONE
    definition serves both engines; a future dialect-specific key must
    split this function rather than silently diverging."""
    skey = (
        "(CASE "
        + " ".join(
            f"WHEN pass = {i} THEN {e}" for i, e in enumerate(_SN_SKEYS[:-1])
        )
        + f" ELSE {_SN_SKEYS[-1]} END)"
    )
    blk = (
        "(CASE "
        + " ".join(
            f"WHEN pass = {i} THEN {e}" for i, e in enumerate(_SN_BLKS[:-1])
        )
        + f" ELSE {_SN_BLKS[-1]} END)"
    )
    return skey, blk


@register(
    "linkage_sorted_neighborhood",
    f"""
    WITH c AS (SELECT c_custkey, c_name FROM customer),
    k AS (
      SELECT p.pass, c_custkey, c_name,
             {_sn_keys()[0]} AS skey,
             {_sn_keys()[1]} AS blk
      FROM c CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS pass) p),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY pass, blk
                                   ORDER BY skey, c_custkey) AS rn
      FROM k),
    rb AS (SELECT *, rn // {_SN_W} AS band FROM r),
    probe AS (
      SELECT rb.*, u.jband
      FROM rb CROSS JOIN LATERAL
           (SELECT unnest([rb.band, rb.band + 1]) AS jband) u),
    cand AS (
      SELECT a.pass,
             LEAST(a.c_custkey, b.c_custkey) AS a_key,
             GREATEST(a.c_custkey, b.c_custkey) AS b_key,
             CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
                  THEN 1 ELSE 0 END AS is_match
      FROM probe a JOIN rb b
        ON a.pass = b.pass AND a.blk = b.blk AND a.jband = b.band
       AND b.rn > a.rn AND b.rn <= a.rn + {_SN_W}),
    agg AS (
      SELECT 'pass' || CAST(pass AS VARCHAR) AS pass,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(is_match) AS BIGINT) AS n_matches,
             CAST(SUM(CASE WHEN is_match = 1 THEN a_key ELSE 0 END) AS BIGINT) AS sum_a,
             CAST(SUM(CASE WHEN is_match = 1 THEN b_key ELSE 0 END) AS BIGINT) AS sum_b,
             CAST(SUM(CASE WHEN is_match = 1 THEN a_key * b_key ELSE 0 END) AS BIGINT) AS sum_ab
      FROM cand GROUP BY pass),
    per AS (
      SELECT l.pass,
             COALESCE(g.n_candidates, 0) AS n_candidates,
             COALESCE(g.n_matches, 0) AS n_matches,
             COALESCE(g.sum_a, 0) AS sum_a,
             COALESCE(g.sum_b, 0) AS sum_b,
             COALESCE(g.sum_ab, 0) AS sum_ab
      FROM (SELECT 'pass' || CAST(unnest(generate_series(0, 3)) AS VARCHAR)
              AS pass) l
      LEFT JOIN agg g USING (pass)),
    ded AS (
      SELECT a_key, b_key, MAX(is_match) AS is_match
      FROM cand GROUP BY a_key, b_key),
    comb AS (
      SELECT 'combined' AS pass,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(is_match) AS BIGINT) AS n_matches,
             CAST(SUM(CASE WHEN is_match = 1 THEN a_key ELSE 0 END) AS BIGINT) AS sum_a,
             CAST(SUM(CASE WHEN is_match = 1 THEN b_key ELSE 0 END) AS BIGINT) AS sum_b,
             CAST(SUM(CASE WHEN is_match = 1 THEN a_key * b_key ELSE 0 END) AS BIGINT) AS sum_ab
      FROM ded)
    SELECT * FROM per UNION ALL SELECT * FROM comb
    ORDER BY pass
    """,
    "linkage",
)
def linkage_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood entity resolution over customer
    names: {np} sort orders (digit rotations + reverse, see _SN_SKEYS),
    each record verified (levenshtein<=1, JVM-side) against its {w}
    forward neighbors per pass, reported as per-pass + combined
    candidate/match counts with matched-pair checksums (pair identity
    value-checked without shipping the pair list).

    Scale posture: per pass, ONE exchange on the block key (a
    3-4-char sort-key prefix — bounded-size range blocks at
    any corpus size) and a within-block window whose w lead() columns
    ARE the neighborhood — candidate volume is w*n by CONSTRUCTION,
    independent of data skew (contrast: hash-block families
    degenerate on hot blocks).  This is
    the blocking family you reach for when the similarity key has no
    stable segments to pigeonhole on; its cost certainty is bought
    with heuristic recall, which tests/test_operator_invariants.py
    measures against the exact distance-<=1 truth instead of assuming.

    Reference has no linkage operators (SURVEY §2c extension).
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    skey, blk = _sn_keys()
    k = c.crossJoin(
        F.broadcast(
            c.sparkSession.range(4).select(F.col("id").cast("int").alias("pass"))
        )
    ).select(
        "pass",
        "c_custkey",
        "c_name",
        F.expr(skey).alias("skey"),
        F.expr(blk).alias("blk"),
    )
    # Forward neighbors via lead() instead of a banded self-join (r14,
    # guide §2.2/§3.5): "the w records after me in sort order" is
    # expressible IN the window that sorts the neighborhood — w lead()
    # columns evaluate in ONE Window node over the one (pass, blk)
    # exchange+sort the method needs anyway.  The previous shape (rn
    # window, then an equi-join on rn-div-w bands with a 2x-exploded
    # probe side) re-exchanged and re-sorted BOTH join inputs on
    # (pass, blk, band) — 3 exchanges and an SMJ to recover adjacency
    # the sort had already established.  Candidate volume is w*n by
    # construction either way (lead past the block end is null and
    # dropped right after the explode; no array HOF — the hot-path
    # audit's interpreted-lambda class stays empty).
    # The w-forward neighborhood as ONE running collect_list over the
    # frame (1 FOLLOWING, w FOLLOWING) — r15: the 2w lead() columns
    # evaluated 20 window expressions per row where one list aggregate
    # builds the same (nk, nn) struct array (measured 1.40 -> 0.90 s
    # for the candidate stream); the frame stops at the block end
    # exactly where lead() went null, so the row set is identical
    # (no null filter needed — short frames just yield fewer structs).
    wspec = (
        W.partitionBy("pass", "blk")
        .orderBy("skey", "c_custkey")
        .rowsBetween(1, _SN_W)
    )
    leads = k.select(
        "pass",
        "c_custkey",
        "c_name",
        F.collect_list(
            F.struct(
                F.col("c_custkey").alias("nk"), F.col("c_name").alias("nn")
            )
        )
        .over(wspec)
        .alias("nb_arr"),
    )
    cand = leads.select(
        "pass",
        "c_custkey",
        "c_name",
        F.explode("nb_arr").alias("nb"),
    ).select(
        "pass",
        F.least("c_custkey", F.col("nb.nk")).alias("a_key"),
        F.greatest("c_custkey", F.col("nb.nk")).alias("b_key"),
        # Bounded edit distance (r15, guide §1.2 per-task work):
        # levenshtein with threshold=1 early-exits at O(len) per
        # pair instead of the O(len^2) full DP — the verify runs
        # once per candidate (w*n of them), so the bound is the
        # hot term.  Semantics: the 3-arg form returns -1 when the
        # distance EXCEEDS the threshold, so != -1 <=> dist <= 1
        # (`<= 1` on the bounded value would wrongly accept -1).
        (F.levenshtein("c_name", F.col("nb.nn"), 1) != -1)
        .cast("int")
        .alias("is_match"),
    )

    # Collapse to PAIR grain once, then derive both readouts from the
    # pair table: the per-pass and combined branches would otherwise
    # each re-execute the corpus-sized candidate subtree (scan +
    # explode + 4 windows + banded join) — measured ~2x wall-clock,
    # and a real double-scan at 100 TB.  is_match is a property of the
    # pair (the names), so one flag + the pass membership set carries
    # everything both readouts need; the per-pass branch re-expands at
    # pair grain (bounded by passes*w*n), the combined branch is a
    # global aggregate.
    # Pass membership as a BIT MASK, not a collect_set (r15): bit_or of
    # (1 << pass) is a plain map-side-combinable long aggregate where
    # the set forced an ObjectHashAggregate building an array per pair
    # (the groupBy was the family's hottest stage — measured 2.49 ->
    # ~1.5 s through this node); passes are <= 4 by construction, so
    # the mask is exact.
    pairs = cand.groupBy("a_key", "b_key").agg(
        F.max("is_match").alias("is_match"),
        F.expr("bit_or(shiftleft(1, pass))").alias("pmask"),
    )
    # Materialize the pair table ONCE: the per-pass and combined
    # readouts below are separate plan branches, and Catalyst plans
    # each with its own copy of the candidate subtree (scan + 4-pass
    # explode + lead window + levenshtein + pair collapse); their
    # aggregates differ (the combined branch drops the pass set), so
    # ReuseExchange cannot dedupe them.  A lazy localCheckpoint turns
    # `pairs` into one shared RDD both branches read — the candidate
    # pipeline runs exactly once.  Pair-grain (w*n-bounded) blocks;
    # executor-local and unrecoverable, like every lineage cut in the
    # engine.
    pairs = pairs.localCheckpoint(eager=False)

    def _stats():
        return [
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum("is_match").cast("long").alias("n_matches"),
            F.sum(F.expr("CASE WHEN is_match = 1 THEN a_key ELSE 0 END"))
            .cast("long")
            .alias("sum_a"),
            F.sum(F.expr("CASE WHEN is_match = 1 THEN b_key ELSE 0 END"))
            .cast("long")
            .alias("sum_b"),
            F.sum(F.expr("CASE WHEN is_match = 1 THEN a_key * b_key ELSE 0 END"))
            .cast("long")
            .alias("sum_ab"),
        ]

    agg = (
        pairs.select(
            "a_key",
            "b_key",
            "is_match",
            F.explode(
                F.expr(
                    f"filter(sequence(0, {_SN_PASSES - 1}),"
                    " p -> (pmask >> p) & 1 = 1)"
                )
            ).alias("pass"),
        )
        .groupBy("pass")
        .agg(*_stats())
        .select(
            F.concat(F.lit("pass"), F.col("pass").cast("string")).alias("pass"),
            "n_candidates",
            "n_matches",
            "sum_a",
            "sum_b",
            "sum_ab",
        )
    )
    # A pass with zero candidates must still report (groupBy drops
    # empty groups): left-join the static label pair, zero-fill.
    labels = c.sparkSession.range(4).select(
        F.concat(F.lit("pass"), F.col("id").cast("string")).alias("pass")
    )
    per = labels.join(agg, "pass", "left").select(
        "pass",
        *[
            F.coalesce(F.col(col), F.lit(0)).cast("long").alias(col)
            for col in ("n_candidates", "n_matches", "sum_a", "sum_b", "sum_ab")
        ],
    )
    comb = pairs.agg(*_stats()).select(
        F.lit("combined").alias("pass"),
        "n_candidates",
        "n_matches",
        "sum_a",
        "sum_b",
        "sum_ab",
    )
    return per.unionByName(comb).orderBy("pass")


linkage_sorted_neighborhood.__doc__ = linkage_sorted_neighborhood.__doc__.format(
    w=_SN_W, np=_SN_PASSES
)
