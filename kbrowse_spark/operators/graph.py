"""Graph operators over the customer–supplier interaction graph —
PageRank, LPA, HITS, k-core, multi-source BFS and modularity — plus the
recursive-CTE path enumeration (SURVEY §2c extension surface — iterative
graph algorithms beyond k-means/connected-components).

Every interaction-graph operator derives its edges from one cached
relation, ``_trading_pairs``: the distinct (customer, supplier) pairs of
orders ⋈ lineitem, the ``pairs`` CTE their oracles spell out.

The reference engine has no iterative operators (its only loop is the
Kafka poll, `/root/reference/src/kbrowse/kafka.clj:61-123`); PageRank
is the canonical "ranks flow along edges until fixed point" shape a
data-curation stack uses for source/site authority weighting.

Determinism contract: ranks are scaled integers (SCALE = 1e12); each
contribution is one integer floor-division (rank DIV outdeg), the
damping factor is the exact rational 85/100 applied as
``85 * sum DIV 100`` — every iteration is bit-identical across engines
and partition orders.  No float enters any aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kbrowse_spark.catalog import register
from kbrowse_spark.functions.cache_registry import cached
from kbrowse_spark.sources.tables import load

_PR_ITERS = 3
_PR_SCALE = 10**12
_PR_TOP = 20
_DAMP_NUM, _DAMP_DEN = 85, 100  # d = 0.85 as an exact rational


def _trading_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached distinct (c, s) customer-supplier trading pairs of
    orders ⋈ lineitem — the oracles' ``pairs`` CTE and the one Spark
    build of the interaction graph: PageRank, LPA, HITS, k-core, BFS
    and modularity all derive their edges from it."""

    def build():
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        return (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
        )

    return cached(spark, sf_dir, "trading_pairs", build)


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached symmetric edge list (src, dst) over ``'c'||c`` and
    ``'s'||s`` node ids, both directions of every trading pair — the
    oracles' ``edges`` CTE, derived from :func:`_trading_pairs` the
    same way."""

    def build():
        pairs = _trading_pairs(spark, sf_dir)
        c = F.concat(F.lit("c"), F.col("c").cast("string"))
        s = F.concat(F.lit("s"), F.col("s").cast("string"))
        return pairs.select(c.alias("src"), s.alias("dst")).unionAll(
            pairs.select(s.alias("src"), c.alias("dst"))
        )

    return cached(spark, sf_dir, "lpa_edges", build)


def _pagerank_oracle() -> str:
    parts = [
        f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s, 'c' || c FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src),
    r0 AS (SELECT id, {_PR_SCALE} // n AS rank FROM nodes CROSS JOIN nn)"""
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
    r{t} AS (
      SELECT e.dst AS id,
             CAST(({_DAMP_DEN - _DAMP_NUM} * {_PR_SCALE})
                    // ({_DAMP_DEN} * (SELECT n FROM nn))
                  + ({_DAMP_NUM} * SUM(r.rank // d.outdeg)) // {_DAMP_DEN}
                  AS BIGINT) AS rank
      FROM edges e
      JOIN r{t - 1} r ON r.id = e.src
      JOIN deg d ON d.id = e.src
      GROUP BY e.dst)"""
        )
    parts.append(
        f"""
    SELECT id, rank AS rank_scaled
    FROM r{_PR_ITERS}
    ORDER BY rank_scaled DESC, id
    LIMIT {_PR_TOP}"""
    )
    return "".join(parts)


@register("pagerank_interaction", _pagerank_oracle(), "graph")
def pagerank_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer–supplier graph (an edge per
    distinct trading pair, both directions, from orders ⋈ lineitem):
    {iters} power iterations at damping 85/100, top-{top} nodes.

    Every node of the symmetrized graph has outdeg >= 1 and indeg >= 1,
    so there are no dangling-mass or unreachable-node corrections to
    apply — the inner join per iteration is exact.

    Scale posture: the edge list (joined with out-degrees ONCE, then
    cached — the loop-invariant) is the only large table; each
    iteration is one src-keyed join against the node-sized rank table
    plus one dst-keyed map-side-combined aggregate — the canonical
    distributed PageRank step.  At 100 TB scale the edge list is
    pre-partitioned by src (bucketed), making the per-iteration join
    exchange-free on the big side; rank tables are node-sized (orders
    of magnitude smaller than edges).  Lineage stays 2 ops per
    iteration; for >> 3 iterations add a localCheckpoint cadence as
    dedup_cluster_assign does.
    """
    def build_edges_deg():
        edges = _lpa_edges(spark, sf_dir)
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        # Loop-invariant edge + src out-degree, cached partitioned by
        # dst: every iteration's only shuffle would be the groupBy(dst)
        # of edge-grain contributions; with the cache hash-partitioned
        # on dst (and the rank join a broadcast that keeps that
        # partitioning) the per-iteration aggregate is exchange-free.
        return edges.join(deg, "src").repartition(F.col("dst"))

    edges_deg = cached(spark, sf_dir, "pagerank_edges_deg", build_edges_deg)

    nodes = edges_deg.select(F.col("src").alias("id")).distinct()
    n = nodes.count()  # one scalar to the driver (like kmeans' centroids)
    teleport = ((_DAMP_DEN - _DAMP_NUM) * _PR_SCALE) // (_DAMP_DEN * n)

    ranks = nodes.select("id", F.lit(_PR_SCALE // n).cast("long").alias("rank"))
    for _ in range(_PR_ITERS):
        # Rank tables are node-grain (orders of magnitude below the
        # edge list) — broadcast them so each iteration is a single
        # pass over the CACHED edge partitions instead of a sort-merge
        # join that re-shuffles every edge per iteration.  A node table
        # that outgrows executors needs by-src-bucketed edges and a
        # co-partitioned join instead.
        ranks = (
            edges_deg.join(F.broadcast(ranks), edges_deg["src"] == ranks["id"])
            .select(
                F.col("dst"),
                F.expr("rank DIV outdeg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("insum"))
            .select(
                F.col("dst").alias("id"),
                (
                    F.lit(teleport)
                    + F.expr(f"{_DAMP_NUM} * insum DIV {_DAMP_DEN}")
                )
                .cast("long")
                .alias("rank"),
            )
            # Materialize each iteration's node-sized rank table (the
            # next iteration's broadcast build would otherwise
            # re-execute the ENTIRE lazy chain of all prior
            # iterations from scratch — O(k^2) edge joins instead of
            # O(k)).  Lazy: the broadcast collect materializes it.
            .localCheckpoint(eager=False)
        )
    return (
        ranks.select("id", F.col("rank").alias("rank_scaled"))
        .orderBy(F.col("rank_scaled").desc(), "id")
        .limit(_PR_TOP)
    )


pagerank_interaction.__doc__ = pagerank_interaction.__doc__.format(
    iters=_PR_ITERS, top=_PR_TOP
)


# ---------------------------------------------------------------------------
# Recursive CTE: bounded path enumeration over the behavior graph
# ---------------------------------------------------------------------------

# Edges = event-type transitions with probability >= this bound (the
# p-threshold is scale-free, unlike a raw count).
_PATH_MIN_P = 0.18
_PATH_MAX_DEPTH = 3


@register(
    "recursive_cte_paths",
    f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    counts AS (
      SELECT prev AS from_type, event_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL
      GROUP BY prev, event_type),
    edges AS (
      SELECT from_type, to_type
      FROM (SELECT from_type, to_type,
                   CAST(n AS DOUBLE)
                     / SUM(n) OVER (PARTITION BY from_type) AS p
            FROM counts)
      WHERE p >= {_PATH_MIN_P}),
    paths AS (
      SELECT from_type AS start_type, to_type AS end_type,
             from_type || '>' || to_type AS path, 1 AS depth
      FROM edges WHERE from_type = 'signup'
      UNION ALL
      SELECT p.start_type, e.to_type,
             p.path || '>' || e.to_type, p.depth + 1
      FROM paths p JOIN edges e ON p.end_type = e.from_type
      WHERE p.depth < {_PATH_MAX_DEPTH})
    SELECT start_type, end_type, path, CAST(depth AS INT) AS depth
    FROM paths
    ORDER BY depth, path
    """,
    "graph",
)
def recursive_cte_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): enumerate all
    behavior paths of depth <= {depth} from 'signup' through the
    event-transition graph, keeping only edges with transition
    probability >= {minp} — the funnel-path discovery query, and the
    SQL-surface feature (iterative UNION ALL fixpoint) that previously
    required a driver-side loop.

    The seed/edge derivation reuses the `event_transition_matrix`
    shape (one user-grain shuffle; the recursion then iterates over
    the |types|^2-bounded edge list, so each recursive step is a join
    against a FEW-ROW relation — the corpus is touched once, the
    fixpoint never re-reads it.  Depth is bounded, so the plan
    terminates regardless of cycles (cyclic edges like view>view are
    real and kept).

    Cites kbrowse parity only by contrast: the reference has no
    recursion surface; this is Spark-4 extension coverage.
    """
    from pyspark.sql import Window as W

    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    counts = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    edges = (
        counts.select(
            "from_type",
            "to_type",
            (
                F.col("n").cast("double")
                / F.sum("n").over(W.partitionBy("from_type"))
            ).alias("p"),
        )
        .filter(F.col("p") >= _PATH_MIN_P)
        # Materialize the |types|^2-bounded edge list once: the
        # recursive UNION ALL references the view at the seed AND at
        # every recursive step, and each reference re-planned the
        # corpus-grain lag window + aggregate behind it — depth+1
        # events passes for a <=25-row relation.  The lazy checkpoint
        # makes every recursion step read the materialized rows.
        .localCheckpoint(eager=False)
    )
    edges.createOrReplaceTempView("kb_transition_edges")
    return spark.sql(
        f"""
        WITH RECURSIVE paths AS (
          SELECT from_type AS start_type, to_type AS end_type,
                 concat(from_type, '>', to_type) AS path, 1 AS depth
          FROM kb_transition_edges WHERE from_type = 'signup'
          UNION ALL
          SELECT p.start_type, e.to_type,
                 concat(p.path, '>', e.to_type), p.depth + 1
          FROM paths p JOIN kb_transition_edges e
            ON p.end_type = e.from_type
          WHERE p.depth < {_PATH_MAX_DEPTH})
        SELECT start_type, end_type, path, CAST(depth AS INT) AS depth
        FROM paths
        ORDER BY depth, path
        """
    )


recursive_cte_paths.__doc__ = recursive_cte_paths.__doc__.format(
    depth=_PATH_MAX_DEPTH, minp=_PATH_MIN_P
)


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous, deterministic)
# ---------------------------------------------------------------------------

_LPA_ITERS = 2
_LPA_TOP = 20


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, label) after the synchronous LPA rounds — factored from
    lpa_communities so graph_modularity_lpa scores the SAME
    propagation the community readout reports."""
    from pyspark.sql import Window as W

    edges = _lpa_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    # Per-round broadcast of the node-grain label table: the cached
    # edge list stays unshuffled; only the (dst, label) histogram rows
    # are exchanged for the argmax window.
    for _ in range(_LPA_ITERS):
        cnt = (
            edges.join(F.broadcast(labels), edges["src"] == labels["id"])
            .select(F.col("dst").alias("nid"), "label")
            .groupBy("nid", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rk = F.row_number().over(
            W.partitionBy("nid").orderBy(F.col("n").desc(), "label")
        )
        labels = (
            cnt.withColumn("rk", rk)
            .filter(F.col("rk") == 1)
            .select(F.col("nid").alias("id"), "label")
        )
    return labels


def _lpa_labels_sql() -> str:
    """The LPA label-chain CTE prefix (pairs/edges/l0..l{iters}) — the
    ONE SQL definition of the propagation, shared by the
    lpa_communities readout and the modularity oracle."""
    parts = [
        """pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s, 'c' || c FROM pairs),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)"""
    ]
    for t in range(1, _LPA_ITERS + 1):
        parts.append(
            f""",
    cnt{t} AS (
      SELECT e.dst AS id, l.label AS label, COUNT(*) AS n
      FROM edges e JOIN l{t - 1} l ON l.id = e.src
      GROUP BY e.dst, l.label),
    l{t} AS (
      SELECT id, label FROM (
        SELECT id, label,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY n DESC, label) AS rk
        FROM cnt{t}) WHERE rk = 1)"""
        )
    return "".join(parts)


def _lpa_oracle() -> str:
    return f"""
    WITH {_lpa_labels_sql()}
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l{_LPA_ITERS}
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT {_LPA_TOP}"""


@register("lpa_communities", _lpa_oracle(), "graph")
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    customer-supplier interaction graph: every node starts as its own
    community; each round it adopts the most frequent label among its
    neighbors (ties -> lexicographically smallest — the determinism
    LPA normally lacks), {iters} rounds, top-{top} communities by size.
    Alongside connected components (reachability), PageRank
    (authority), and triangles (cohesion), this completes the graph
    family with the density-based grouping a curation stack uses to
    carve a near-dup or interaction graph into clusters.

    Scale posture: per round, ONE src-keyed join of the edge list
    against the node-sized label table, one (dst, label) count
    aggregate (map-side combinable), and one WindowGroupLimit argmax
    over the per-node label histogram (bounded by a node's distinct
    neighbor labels, not the corpus).  Identical shape to the PageRank
    iteration; the edge list would be bucketed by src at 100 TB.
    """
    labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(_LPA_TOP)
    )


lpa_communities.__doc__ = lpa_communities.__doc__.format(
    iters=_LPA_ITERS, top=_LPA_TOP
)


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the bipartite interaction graph
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_SCALE = 10**9
_HITS_TOP = 15


def _hits_oracle() -> str:
    parts = [
        f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    h0 AS (SELECT DISTINCT c, CAST({_HITS_SCALE} AS BIGINT) AS h FROM pairs)"""
    ]
    for t in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
    ar{t} AS (SELECT p.s, CAST(SUM(h.h) AS BIGINT) AS a
              FROM pairs p JOIN h{t - 1} h USING (c) GROUP BY p.s),
    am{t} AS (SELECT MAX(a) AS m FROM ar{t}),
    a{t} AS (SELECT s, CAST(a // (m // {_HITS_SCALE}) AS BIGINT) AS a
             FROM ar{t} CROSS JOIN am{t}),
    hr{t} AS (SELECT p.c, CAST(SUM(a.a) AS BIGINT) AS h
              FROM pairs p JOIN a{t} a USING (s) GROUP BY p.c),
    hm{t} AS (SELECT MAX(h) AS m FROM hr{t}),
    h{t} AS (SELECT c, CAST(h // (m // {_HITS_SCALE}) AS BIGINT) AS h
             FROM hr{t} CROSS JOIN hm{t})"""
        )
    t = _HITS_ITERS
    parts.append(
        f"""
    SELECT * FROM (
      (SELECT 'supplier' AS node_type, s AS id, a AS score_scaled
       FROM a{t} ORDER BY a DESC, s LIMIT {_HITS_TOP})
      UNION ALL
      (SELECT 'customer', c, h FROM h{t}
       ORDER BY h DESC, c LIMIT {_HITS_TOP}))
    ORDER BY node_type, score_scaled DESC, id"""
    )
    return "".join(parts)


@register("hits_hubs_authorities", _hits_oracle(), "graph")
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) on the bipartite customer-supplier graph:
    customers are hubs, suppliers are authorities; {iters} rounds of
    the mutual recursion a = E'h, h = Ea with max-normalization, then
    the top-{top} of each side.

    Complements pagerank_interaction: PageRank ranks by random-walk
    mass on the symmetrized graph; HITS keeps the two-sided semantics
    (a good customer buys from good suppliers and vice versa) without
    symmetrizing.  Scores are scaled integers; each half-iteration is
    one join + one map-side-combined SUM and the normalizer is a 1-row
    MAX broadcast — bit-identical across engines, no float in any
    aggregate.  Normalization is the overflow-free a DIV (m DIV SCALE)
    (m >= SCALE always: the max-h node has >= 1 edge), so raw sums
    never multiply — int64-safe to ~9e9 nodes.

    Scale posture: the distinct trading-pair edge list is the only
    large table (cached loop-invariant, in TWO partitionings — by s
    and by c — so each side's aggregate needs no exchange); each
    ITERATION is one Spark action — the supplier half-round and its
    max normalizer stay lazy (a window over the model-grain supplier
    aggregate) and broadcast straight into the customer half-round —
    and only the customer ranks come back to the driver per iteration
    (a cached rank table with a scalar-only collect per half-round
    would cost extra jobs and buy nothing: building the next broadcast
    already materializes the rank table driver-side).  Driver-side
    renormalization is the same overflow-free positive-int floor
    division (Python ``//`` == SQL DIV for non-negative operands), and
    round 1 folds the
    constant h0 into a degree aggregate — SUM(h0) over a supplier's
    customers IS SCALE x degree, so the first half-round needs no
    join.  Deployment caveat: rank tables here are broadcast-sized BY
    CONSTRUCTION (the join hint requires it); a graph whose node
    tables outgrow the driver flips to the shuffle-join + cached-rank
    form with scalar-only collects.

    Reference has no iterative operators (SURVEY §2c extension).
    """
    # Two cached copies of the trading pairs, pre-partitioned by each
    # side's key: alternate half-rounds aggregate by s then by c, so
    # each copy's partitioning satisfies its aggregate's required
    # distribution — every half-round is a single-stage job with no
    # exchange.  The duplicate cache is edge-sized x2 — the standard
    # both-sides layout for bipartite iteration.
    pairs = _trading_pairs(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    by_s = cached(
        spark, sf_dir, "hits_pairs_by_s", lambda: pairs.repartition(par, "s")
    )
    by_c = cached(
        spark, sf_dir, "hits_pairs_by_c", lambda: pairs.repartition(par, "c")
    )

    # One ACTION per iteration: the supplier half-round and its
    # normalizer stay lazy inside the plan — the max is a window over
    # the 1k-row supplier aggregate (model grain; the oracle's CROSS
    # JOIN am shape) broadcast straight into the customer half-round.
    # Only the customer ranks come back to the driver per iteration,
    # where the same overflow-free positive-int floor division
    # (Python // == SQL DIV for non-negative operands) renormalizes.
    def supplier_half(h_df):
        if h_df is None:
            # Round 1: h0 is the constant SCALE for every customer, so
            # raw a(s) = SCALE * deg(s) — an aggregate, no join.
            ar = by_s.groupBy("s").agg(
                (F.count(F.lit(1)) * _HITS_SCALE).cast("long").alias("a")
            )
        else:
            ar = (
                by_s.join(F.broadcast(h_df), "c")
                .groupBy("s")
                .agg(F.sum("h").cast("long").alias("a"))
            )
        return ar.select(
            "s",
            F.expr(f"a DIV (MAX(a) OVER () DIV {_HITS_SCALE})")
            .cast("long")
            .alias("a"),
        )

    # Driver transfers ride Arrow: collect()/createDataFrame(list)
    # move the ~15k-row customer rank table through the pickled-row path
    # — measured 0.4-1.0 s per iteration collect on rows that transfer
    # in ~ms as Arrow batches (guide §6 "Arrow for driver transfers").
    # The renormalization stays the same overflow-free positive-int
    # floor division, now vectorized (numpy int64 // == SQL DIV for
    # non-negative operands).
    h_df = None
    h_pdf = None
    a_n = None
    for _ in range(_HITS_ITERS):
        a_n = supplier_half(h_df)
        hr = (
            by_c.join(F.broadcast(a_n), "s")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("h"))
            .toPandas()
        )
        m = int(hr["h"].max())
        d = m // _HITS_SCALE  # >= 1: the max node has >= 1 edge
        hr["h"] = hr["h"] // d
        h_pdf = hr
        h_df = spark.createDataFrame(hr, "c long, h long")
    # Final supplier ranks: one extra small job re-reading the caches.
    a_pdf = a_n.toPandas()
    # Model-grain top-k readout (ties: score DESC, id ASC).
    top_s = sorted(
        zip(a_pdf["s"].tolist(), a_pdf["a"].tolist()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:_HITS_TOP]
    top_c = sorted(
        zip(h_pdf["c"].tolist(), h_pdf["h"].tolist()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:_HITS_TOP]
    rows = [("supplier", s, a) for s, a in top_s] + [
        ("customer", c, h) for c, h in top_c
    ]
    return spark.createDataFrame(
        rows, "node_type string, id long, score_scaled long"
    ).orderBy("node_type", F.col("score_scaled").desc(), "id")


hits_hubs_authorities.__doc__ = hits_hubs_authorities.__doc__.format(
    iters=_HITS_ITERS, top=_HITS_TOP
)


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)

_KCORE_K = 8
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    parts = [
        """
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"""
    ]
    for t in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
    e{t} AS (
      SELECT c, s FROM e{t - 1}
      WHERE c IN (SELECT c FROM e{t - 1} GROUP BY c
                  HAVING COUNT(*) >= {_KCORE_K})
        AND s IN (SELECT s FROM e{t - 1} GROUP BY s
                  HAVING COUNT(*) >= {_KCORE_K}))"""
        )
    t = _KCORE_ROUNDS
    parts.append(
        f"""
    SELECT node_type, id, degree FROM (
      SELECT 'customer' AS node_type, c AS id,
             CAST(COUNT(*) AS BIGINT) AS degree
      FROM e{t} GROUP BY c
      UNION ALL
      SELECT 'supplier', s, CAST(COUNT(*) AS BIGINT) FROM e{t} GROUP BY s)
    ORDER BY node_type, id"""
    )
    return "".join(parts)


@register("kcore_decomposition", _kcore_oracle(), "graph")
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the customer-supplier interaction graph (k={k}):
    iteratively peel nodes of degree < k until the surviving subgraph
    — the unique maximal subgraph where EVERY node keeps degree >= k —
    is stable.  The classic dense-substructure primitive (spam-farm /
    community-core detection; Seidman 1983); completes the iterative
    graph family (PageRank fixed-point, CC star-contraction, LPA
    argmax, HITS normalization) with the PEELING shape: the working
    set only ever SHRINKS, so per-round cost falls monotonically.

    {r} fixed peel rounds run identically in both engines (the
    invariant test proves that is past the fixpoint on the fixtures,
    so the output IS the k-core, not an artifact of the round count).
    Per round: two map-side-combinable degree aggregates + two
    broadcast-able semi-joins on the shrinking edge list.  Each round
    ends with a localCheckpoint — not .cache(): every round
    references the edge list THREE times (edges + both degree
    filters), so a cache-only loop grows the LOGICAL tree 3x per
    round and the 3^{r}-leaf plan string OOMs a default-heap driver
    at plan-render time (caught by the bare-session driver emulator;
    the engine session's 16g driver masked it).  localCheckpoint
    truncates lineage to a flat scan per round; the per-round blocks
    are edge-grain and reclaimed by the ContextCleaner as references
    drop.

    Fault-tolerance delta at cluster scale: localCheckpoint blocks
    are EXECUTOR-LOCAL and unrecoverable — truncated lineage means an
    executor loss mid-peel has no recomputation path and kills the
    query.  Right for local[]/bench (zero distributed-FS traffic); a
    recoverable policy for a real cluster would have to cover every
    lineage cut in the engine, not this loop alone.

    Scale posture: edges shuffle on their own keys only; node-grain
    degree tables are the only aggregates; nothing is driver-side
    except the loop counter (round count fixed, not data-dependent —
    at 100 TB the fixpoint check would be a 1-row count comparison
    per round).

    Reference has no graph operators (SURVEY §2c extension).
    """
    edges = _trading_pairs(spark, sf_dir)
    # Early exit on convergence: peeling only ever REMOVES edges, so an
    # unchanged count  <=>  no node fell below k  <=>  fixpoint — and
    # extra rounds past the fixpoint are no-ops, so stopping early is
    # result-identical to the oracle's fixed {r}-round CTE chain (one
    # scalar count per round to the driver, the kmeans footprint rule).
    n_prev = edges.count()
    for _ in range(_KCORE_ROUNDS):
        # Node-grain keep lists ship as broadcast LEFT SEMI joins
        # (keys only — keep_c holds distinct c): the checkpointed edge
        # list carries no size stats, and without the hint the planner
        # sort-merge-joins the full edge relation per filter.  Node
        # tables are orders of magnitude below edge grain; where even
        # node grain outgrows executor memory the edge list needs
        # by-key bucketing instead.
        # BOTH degree tables from ONE pass over the round's edges: a
        # 2x explode to (kind, id) rows feeds one map-side-combinable
        # aggregate (node-grain before the exchange), the keep table
        # checkpoints lazily, and the second broadcast build reads its
        # blocks instead of re-scanning the edges and re-aggregating.
        keep = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit("c").alias("kind"), F.col("c").alias("id")
                        ),
                        F.struct(
                            F.lit("s").alias("kind"), F.col("s").alias("id")
                        ),
                    )
                ).alias("t")
            )
            .groupBy(F.col("t.kind").alias("kind"), F.col("t.id").alias("id"))
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("kind", "id")
            .localCheckpoint(eager=False)
        )
        keep_c = F.broadcast(
            keep.filter(F.col("kind") == "c").select(F.col("id").alias("c"))
        )
        keep_s = F.broadcast(
            keep.filter(F.col("kind") == "s").select(F.col("id").alias("s"))
        )
        # Lazy lineage cut: the convergence count is the action that
        # materializes the round — one job per round, not a separate
        # eager-checkpoint job plus a count over its blocks.
        edges = (
            edges.join(keep_c, "c", "left_semi")
            .join(keep_s, "s", "left_semi")
            .select("c", "s")
            .localCheckpoint(eager=False)
        )
        n_now = edges.count()
        if n_now == n_prev:
            break
        n_prev = n_now
    deg_c = edges.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).select(
        F.lit("customer").alias("node_type"), F.col("c").alias("id"), "degree"
    )
    deg_s = edges.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).select(
        F.lit("supplier").alias("node_type"), F.col("s").alias("id"), "degree"
    )
    return deg_c.unionByName(deg_s).orderBy("node_type", "id")


kcore_decomposition.__doc__ = kcore_decomposition.__doc__.format(
    k=_KCORE_K, r=_KCORE_ROUNDS
)


# ---------------------------------------------------------------------------
# Multi-source BFS hop histogram (frontier expansion, min-hop exact)
# ---------------------------------------------------------------------------

_BFS_SEEDS = 3  # smallest interacting custkeys
_BFS_H = 4  # hop bound


@register(
    "bfs_multisource_hops",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s, 'c' || c FROM pairs),
    seeds AS (
      SELECT c AS seed, 'c' || c AS node
      FROM (SELECT DISTINCT c FROM pairs ORDER BY c LIMIT {_BFS_SEEDS})),
    walk(seed, node, hop) AS (
      SELECT seed, node, 0 FROM seeds
      UNION
      SELECT w.seed, e.dst, w.hop + 1
      FROM walk w JOIN edges e ON w.node = e.src
      WHERE w.hop < {_BFS_H}),
    mh AS (SELECT seed, node, MIN(hop) AS hop FROM walk
           GROUP BY seed, node)
    SELECT CAST(seed AS BIGINT) AS seed_custkey,
           CAST(hop AS BIGINT) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM mh GROUP BY seed, hop
    ORDER BY seed_custkey, hop
    """,
    "graph",
    "iterative",
)
def bfs_multisource_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the bipartite customer-supplier
    interaction graph (the pagerank_interaction edge set): exact
    minimum hop distance from each of the {seeds} smallest
    interacting customers, reported as a (seed, hop) reachability
    histogram up to {h} hops — the reachability profile a
    graph-sampling or neighborhood-feature pipeline reads first.

    The Spark plan is frontier expansion: per round, ONE edge-keyed
    equi-join from the current frontier plus an anti-join against the
    visited set — a node is labeled the first time it is reached, so
    min-hop is exact by construction (no min-aggregate over repeated
    reaches, no path enumeration).  The oracle is the independent
    formulation: recursive-CTE path expansion with MIN(hop) per
    (seed, node) — it enumerates reaches and aggregates, the Spark
    side never materializes a reach more than once.

    Scale posture: per round, the join volume is |frontier| x degree
    (frontier-bounded, never corpus^2) and the visited set grows
    monotonically to at most seeds x nodes.  Each round checkpoints
    ONLY its new frontier (eager localCheckpoint);
    ``visited`` is the union of those disjoint per-round checkpoints,
    so total materialized bytes across the traversal are O(|visited|)
    (checkpointing the union instead re-wrote every prior round's
    rows each round: O(H * |visited|)), round h+1's frontier IS round
    h's stored blocks (nothing lazy re-executes; carrying the lazy
    ``nxt`` would cost O(H^2/2) frontier joins instead of O(H)), and
    the anti-join probes a union of flat checkpoint scans.  The
    frontier and visited tables are broadcast: they are seed-bounded,
    orders of magnitude below the edge list, so every round is one
    pass over the cached edge partitions with no edge shuffle.  A
    traversal from millions of seeds would need the shuffle join
    against by-src-bucketed edges instead, and at cluster scale the
    visited set would be bucketed by node,
    making the anti-join co-partitioned.

    Reference has no graph operators (SURVEY §2c extension;
    completes the graph family: PageRank/HITS/LPA/k-core/triangles +
    traversal).
    """
    edges = _lpa_edges(spark, sf_dir)
    # The smallest interacting custkeys, read off the cached trading
    # pairs rather than a fresh orders ⋈ lineitem scan.
    seeds = (
        _trading_pairs(spark, sf_dir)
        .select(F.col("c").alias("seed"))
        .distinct()
        .orderBy("seed")
        .limit(_BFS_SEEDS)
        .select(
            "seed",
            F.concat(F.lit("c"), F.col("seed").cast("string")).alias("node"),
        )
    )
    # Checkpoint ONLY each round's new frontier, never the whole
    # visited set: `visited` is the union of the per-round
    # checkpointed frontiers (disjoint by the anti-join), so the
    # total bytes materialized across the traversal is O(|visited|)
    # instead of the O(H * |visited|) the checkpoint-the-union form
    # pays (each round re-writing every prior round's rows).  Lineage
    # stays O(1) per round — every leaf of `visited` is a flat
    # checkpoint scan — and round h+1's frontier IS round h's stored
    # blocks, so nothing lazy is ever re-executed.
    frontier = seeds.select(
        "seed", "node", F.lit(0).cast("long").alias("hop")
    ).localCheckpoint()
    visited = frontier
    for h in range(1, _BFS_H + 1):
        frontier = (
            F.broadcast(frontier)
            .join(edges, frontier["node"] == edges["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(
                F.broadcast(visited.select("seed", "node")),
                ["seed", "node"],
                "left_anti",
            )
            .withColumn("hop", F.lit(h).cast("long"))
            .localCheckpoint()
        )
        visited = visited.unionByName(frontier)
    return (
        visited.groupBy("seed", "hop")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select(
            F.col("seed").cast("long").alias("seed_custkey"),
            "hop",
            "n_nodes",
        )
        .orderBy("seed_custkey", "hop")
    )


bfs_multisource_hops.__doc__ = bfs_multisource_hops.__doc__.format(
    seeds=_BFS_SEEDS, h=_BFS_H
)


# ---------------------------------------------------------------------------
# Modularity of the LPA partition (exact rational Newman Q)
# ---------------------------------------------------------------------------


def _modularity_oracle() -> str:
    return f"""
    WITH {_lpa_labels_sql()},
    lab AS (SELECT id, label FROM l{_LPA_ITERS}),
    deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    w AS (SELECT CAST(COUNT(*) AS BIGINT) AS a
          FROM edges e JOIN lab x ON e.src = x.id
                       JOIN lab y ON e.dst = y.id
          WHERE x.label = y.label),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS md FROM edges),
    dsq AS (SELECT CAST(SUM(dc * dc) AS BIGINT) AS dd
            FROM (SELECT l.label, CAST(SUM(d.d) AS BIGINT) AS dc
                  FROM lab l JOIN deg d ON l.id = d.id
                  GROUP BY l.label)),
    nc AS (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_comm,
                  CAST(COUNT(*) AS BIGINT) AS n_nodes FROM lab)
    SELECT n_nodes, n_comm, md AS m_directed, a AS within_directed,
           dd AS degree_sq_sum,
           CAST(CASE WHEN CAST(a AS HUGEINT) * md >= dd
                THEN 1000000 * (CAST(a AS HUGEINT) * md - dd)
                     // (CAST(md AS HUGEINT) * md)
                ELSE -(1000000 * (CAST(dd AS HUGEINT) - CAST(a AS HUGEINT)
                       * md) // (CAST(md AS HUGEINT) * md)) END
                AS BIGINT) AS q_ppm
    FROM nc CROSS JOIN m CROSS JOIN w CROSS JOIN dsq
    """


@register("graph_modularity_lpa", _modularity_oracle(), "graph")
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA community partition, in exact
    rational arithmetic: Q = (A*M - D) / M^2 where A = within-
    community directed edges, M = directed edge count, and D = sum of
    squared community degree sums — the single scalar that says
    whether the LPA rounds actually found STRUCTURE (Q near 0: no
    better than random given the degree sequence; the degree-squared
    term is exactly the configuration-model null).  Scores the SAME
    labels lpa_communities reports (shared _lpa_labels /
    _lpa_labels_sql — one definition of the propagation) against the
    SAME cached edge list.

    MEASURED FINDING (the reason this audit earns its place): Q =
    -0.487 at sf0.01 with A = 0 — synchronous LPA from self-labels
    on a BIPARTITE graph can never produce a same-label edge.  After
    round 1 every customer carries a supplier-derived label and every
    supplier a customer-derived label; each round swaps the classes,
    so the two endpoints of any edge always hold labels from opposite
    sides (induction on rounds).  lpa_communities' size histogram
    looks perfectly healthy; only the modularity scalar exposes that
    the partition is ANTI-community on this graph — exactly the
    audit-catches-what-the-readout-hides pattern
    (test_lpa_bipartite_no_within_edges pins the A=0 structure, and
    the invariant test recomputes Q in Python exactly).

    The products A*M and M^2 leave int64 around M ~ 3e9 directed
    edges, so they are evaluated in 128-bit-capable arithmetic
    (DECIMAL(38,0) Spark-side, HUGEINT in DuckDB — the semdedup_prune
    overflow contract); the sign branch keeps integer division
    truncation identical in both engines (Q CAN be negative for an
    anti-community partition).

    Scale posture: one label join per edge endpoint (src-keyed, the
    same shuffle the LPA rounds use), one degree aggregate, and
    community-grain squaring — nothing beyond the label chain's own
    cost.

    Reference has no graph operators (SURVEY §2c extension; the
    quality scalar for lpa_communities, as eval_auc_rank is for the
    classifiers).
    """
    # The lazy 2-round LPA chain feeds FOUR consumers (x, y, dsq, nc),
    # and Catalyst would plan each with its own copy of the chain.
    # One lazy localCheckpoint shares a single materialization, and the
    # node-grain label table (|customers|+|suppliers| rows, NOT
    # edge-grain) is broadcast at its three join sites so the cached
    # edge list is never re-shuffled — the pagerank/kcore posture; at a
    # scale where node tables outgrow broadcast, drop the hints and
    # these become the LPA rounds' own src-keyed shuffles.
    labels = _lpa_labels(spark, sf_dir).localCheckpoint(eager=False)
    edges = _lpa_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    x = labels.select(F.col("id").alias("src"), F.col("label").alias("xl"))
    y = labels.select(F.col("id").alias("dst"), F.col("label").alias("yl"))
    a = (
        edges.join(F.broadcast(x), "src")
        .join(F.broadcast(y), "dst")
        .filter(F.col("xl") == F.col("yl"))
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
    )
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("md"))
    dsq = (
        F.broadcast(labels)
        .join(deg, labels["id"] == deg["src"])
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("dc"))
        .agg(F.expr("CAST(SUM(dc * dc) AS BIGINT)").alias("dd"))
    )
    nc = labels.agg(
        F.countDistinct("label").cast("long").alias("n_comm"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    q_expr = (
        "CAST(CASE WHEN CAST(a AS DECIMAL(38,0)) * md >= dd"
        " THEN 1000000 * (CAST(a AS DECIMAL(38,0)) * md - dd)"
        " DIV (CAST(md AS DECIMAL(38,0)) * md)"
        " ELSE -(1000000 * (CAST(dd AS DECIMAL(38,0)) - CAST(a AS"
        " DECIMAL(38,0)) * md) DIV (CAST(md AS DECIMAL(38,0)) * md)) END"
        " AS BIGINT)"
    )
    return (
        nc.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(dsq))
        .select(
            "n_nodes",
            "n_comm",
            F.col("md").alias("m_directed"),
            F.col("a").alias("within_directed"),
            F.col("dd").alias("degree_sq_sum"),
            F.expr(q_expr).alias("q_ppm"),
        )
    )
