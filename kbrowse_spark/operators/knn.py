"""Similarity search over the embedding column (array<float>).

* ``knn_bruteforce_cosine`` — exact top-k for one query vector: the
  correctness baseline.  Broadcast the query, scan the corpus once.
* ``ann_lsh_projection``    — random-hyperplane (sign) LSH: 8-bit
  signatures, multi-probe candidate set (Hamming<=1), exact re-rank.
* ``embedding_neardup_lsh`` — near-duplicate pairs by cosine, blocked
  by LSH signature bands instead of an all-pairs join.

Dot products are accumulated in decimal (exact, order-independent) so
Spark and the DuckDB oracle produce bit-identical doubles — see
functions/determinism.py for the rationale.

The hyperplane directions are Rademacher (+-1) vectors derived from
md5 in *driver-side Python* and embedded as literals into both the
Spark plan and the oracle SQL: no per-row hashing cost at execution
time, and at 100 TB the signature computation stays a narrow
map-only stage (64 multiply-adds per plane per row, JVM codegen).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kbrowse_spark.catalog import register
from kbrowse_spark.sources.tables import load

DIM = 64
N_PLANES = 8
TOP_K = 10

# Near-dup banding (r8, from the sf1 scaling probe): with a FIXED band
# width the bucket cardinality is fixed (2 bands x 16 values at 4
# bits), so bucket occupancy grows linearly with the corpus and the
# within-bucket pair join grows quadratically — measured 17.4x for a
# 10x data step.  The fix is the standard LSH scaling rule: grow bits
# per band with log2(n) so expected occupancy stays ~constant.  The
# signature is computed 32 bits wide once (a map-only stage, 32x64
# multiply-adds per row, JVM codegen); the band width is chosen by an
# integer CASE ladder over the corpus COUNT(*) — a 1-row broadcast
# attach, no driver action, and integer comparisons so Spark and the
# DuckDB oracle pick the SAME width (a libm log2 could differ by a ulp
# at a boundary).  Band 0 reads planes [0, bpb); band 1 reads planes
# [16, 16+bpb) — fixed starting planes, so widths only ever ADD
# distinguishing bits.  The ladder tops out at 16 bits/band
# (n ~ 2^16 * occupancy ~ 4.2M vectors) — raised from 12 when the
# sf10 probe measured 200k vectors brushing the old clamp, past which
# occupancy (and the pair join) turns linear-in-n again; beyond 4M,
# extend the ladder (and plane count) with the same rule — each step
# is one more literal plane.
N_PLANES_WIDE = 32
BAND_OCCUPANCY = 64  # target vectors per band bucket
_BPB_MIN, _BPB_MAX = 4, 16


def _plane_signs(p: int, dim: int = DIM) -> list[int]:
    """Deterministic Rademacher hyperplane p: +-1 per dimension."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"{p}-{j}".encode()).hexdigest()
        out.append(1 if int(h[0], 16) & 1 else -1)
    return out


_PLANES = [_plane_signs(p) for p in range(N_PLANES_WIDE)]


def _bpb_case(n_col: str) -> str:
    """Bits-per-band ladder: bpb = clamp(ceil(log2(n/occupancy)), 4, 16)
    as pure integer comparisons (portable Spark SQL / DuckDB)."""
    whens = " ".join(
        f"WHEN {n_col} > {BAND_OCCUPANCY * (1 << (k - 1))} THEN {k}"
        for k in range(_BPB_MAX, _BPB_MIN, -1)
    )
    return f"(CASE {whens} ELSE {_BPB_MIN} END)"


def _band_val_case(sig: str, band: str, bpb: str) -> str:
    """Portable band-value extraction from the 32-bit wide signature:
    band 0 = top ``bpb`` bits (planes 0..bpb-1), band 1 = ``bpb`` bits
    from plane 16 (planes 16..16+bpb-1)."""
    return (
        f"(CASE WHEN {band} = 0 THEN {sig} >> (32 - {bpb})"
        f" ELSE ({sig} >> (16 - {bpb})) & ((1 << {bpb}) - 1) END)"
    )


# --- shared expression builders (Spark expr string / DuckDB SQL) -----------

def _spark_dot(a: str, b: str) -> str:
    """Fixed-point dot product of two array<float> cols at 1e-15
    resolution, as DOUBLE.

    Each product is floored to an integer number of 1e-15 units and
    summed as BIGINT — exact and order-independent — then converted
    int->double (IEEE-exact in every engine).  A decimal accumulator
    almost works, but DuckDB's DECIMAL->DOUBLE cast is occasionally a
    ulp off Spark's correctly-rounded one; integers avoid the cast
    entirely.
    """
    return (
        f"CAST(CAST(aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e15)"
        " AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, p) -> acc + p) AS DOUBLE) / 1e15 AS DOUBLE)"
    )


def _sql_dot(a: str, b: str) -> str:
    return (
        f"CAST(CAST(CAST(list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e15)"
        " AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e15 AS DOUBLE)"
    )


def _spark_plane_lit(p: int) -> str:
    return "array(" + ", ".join(f"CAST({s} AS DOUBLE)" for s in _PLANES[p]) + ")"


def _sql_plane_lit(p: int) -> str:
    return "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in _PLANES[p]) + "]"


def _spark_signature(col: str) -> str:
    bits = [
        f"(CASE WHEN {_spark_dot(col, _spark_plane_lit(p))} > 0"
        f" THEN {1 << (N_PLANES - 1 - p)} ELSE 0 END)"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def _sql_signature(col: str) -> str:
    bits = [
        f"(CASE WHEN {_sql_dot(col, _sql_plane_lit(p))} > 0"
        f" THEN {1 << (N_PLANES - 1 - p)} ELSE 0 END)"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def _spark_signature_wide(col: str) -> str:
    bits = [
        f"(CASE WHEN {_spark_dot(col, _spark_plane_lit(p))} > 0"
        f" THEN {1 << (N_PLANES_WIDE - 1 - p)} ELSE 0 END)"
        for p in range(N_PLANES_WIDE)
    ]
    return "(" + " + ".join(bits) + ")"


def _sql_signature_wide(col: str) -> str:
    bits = [
        f"(CASE WHEN {_sql_dot(col, _sql_plane_lit(p))} > 0"
        f" THEN {1 << (N_PLANES_WIDE - 1 - p)} ELSE 0 END)"
        for p in range(N_PLANES_WIDE)
    ]
    return "(" + " + ".join(bits) + ")"


def _neardup_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached signature table for the near-dup pair queries:
    32-bit wide signature (planes 0..31) + norm, computed once per
    vector (both queries substitute onto the same cache entry)."""
    from kbrowse_spark.functions.cache_registry import cached

    emb = load(spark, sf_dir, "embeddings")
    return cached(
        spark,
        sf_dir,
        "neardup_sig",
        lambda: emb.select(
            "vec_id",
            "embedding",
            F.expr(_spark_signature_wide("embedding")).alias("signature"),
            F.sqrt(F.expr(_spark_dot("embedding", "embedding"))).alias("norm"),
        ),
    )


def _neardup_banded(sig: DataFrame) -> DataFrame:
    """(vec_id, band, band_val) with the ADAPTIVE band width: the
    corpus count attaches as a 1-row broadcast (no driver action), the
    integer CASE ladder picks bits-per-band, and band values are bit
    slices of the wide signature."""
    n = F.broadcast(sig.agg(F.count(F.lit(1)).alias("n_corpus")))
    return (
        sig.crossJoin(n)
        .withColumn("bpb", F.expr(_bpb_case("n_corpus")))
        .select(
            "vec_id",
            "signature",
            "bpb",
            F.explode(F.sequence(F.lit(0), F.lit(1))).alias("band"),
        )
        .withColumn(
            "band_val", F.expr(_band_val_case("signature", "band", "bpb"))
        )
    )


@register(
    "knn_bruteforce_cosine",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             {_sql_dot('e.embedding', 'q.qe')}
               / (sqrt({_sql_dot('e.embedding', 'e.embedding')})
                  * sqrt({_sql_dot('q.qe', 'q.qe')})) AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0)
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
    """,
    "knn",
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors of vec_id=0: broadcast the query
    row, one narrow scan over the corpus, TakeOrderedAndProject top-k
    (no global sort materialization)."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            (
                F.expr(_spark_dot("embedding", "qe"))
                / (
                    F.sqrt(F.expr(_spark_dot("embedding", "embedding")))
                    * F.sqrt(F.expr(_spark_dot("qe", "qe")))
                )
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), "vec_id").limit(TOP_K)


@register(
    "ann_lsh_projection",
    f"""
    WITH sig AS (
      SELECT vec_id, label, embedding,
             {_sql_signature('embedding')} AS signature
      FROM embeddings),
    q AS (SELECT embedding AS qe, signature AS qsig FROM sig WHERE vec_id = 0),
    cand AS (
      SELECT s.vec_id, s.label, s.embedding, q.qe, s.signature, q.qsig
      FROM sig s CROSS JOIN q
      WHERE s.vec_id <> 0
        AND bit_count(xor(s.signature, q.qsig)) <= 1)
    SELECT vec_id, label,
           CAST(bit_count(xor(signature, qsig)) AS INT) AS sig_hamming,
           {_sql_dot('embedding', 'qe')}
             / (sqrt({_sql_dot('embedding', 'embedding')})
                * sqrt({_sql_dot('qe', 'qe')})) AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id
    LIMIT 5
    """,
    "knn",
)
def ann_lsh_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: 8-bit random-hyperplane signature, multi-probe
    candidate set (signature Hamming<=1), exact cosine re-rank of the
    candidates only.  At scale the signature is a precomputed/bucketed
    column: the probe touches ~(n/256)*9 rows instead of n."""
    emb = load(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id", "label", "embedding", F.expr(_spark_signature("embedding")).alias("signature")
    )
    q = F.broadcast(
        sig.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qe"), F.col("signature").alias("qsig")
        )
    )
    cand = (
        sig.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .filter(F.expr("bit_count(signature ^ qsig) <= 1"))
    )
    return (
        cand.select(
            "vec_id",
            "label",
            F.expr("bit_count(signature ^ qsig)").cast("int").alias("sig_hamming"),
            (
                F.expr(_spark_dot("embedding", "qe"))
                / (
                    F.sqrt(F.expr(_spark_dot("embedding", "embedding")))
                    * F.sqrt(F.expr(_spark_dot("qe", "qe")))
                )
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(5)
    )


@register(
    "embedding_neardup_rerank_np",
    f"""
    WITH nrow AS (SELECT COUNT(*) AS n_corpus FROM embeddings),
    sig AS (
      SELECT vec_id, embedding,
             {_sql_signature_wide('embedding')} AS signature,
             sqrt({_sql_dot('embedding', 'embedding')}) AS norm
      FROM embeddings),
    banded AS (
      SELECT vec_id, band,
             {_band_val_case('signature', 'band', 'bpb')} AS band_val
      FROM (SELECT s.*, {_bpb_case('n_corpus')} AS bpb
            FROM sig s CROSS JOIN nrow)
      CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS band)),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
    scored AS (
      SELECT p.vec_a, p.vec_b,
             {_sql_dot('sa.embedding', 'sb.embedding')} / (sa.norm * sb.norm)
               AS cosine
      FROM pairs p JOIN sig sa ON sa.vec_id = p.vec_a
                   JOIN sig sb ON sb.vec_id = p.vec_b)
    SELECT vec_a, vec_b, cosine
    FROM scored
    WHERE cosine >= 0.35
    ORDER BY vec_a, vec_b
    """,
    "knn",
    "dedup",
    "pandas-udf",
)
def embedding_neardup_rerank_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same LSH blocking as embedding_neardup_lsh, but the exact
    re-rank runs as a numpy mapInPandas over the candidate pairs, with
    both embeddings attached to each pair *via joins* — there is no
    driver-side collect and no closure matrix, so the plan is fully
    distributed: candidate volume (LSH-bounded) is the only thing that
    moves, and each Arrow batch is re-ranked where it lives.

    Identical results to the JVM path (and the same oracle): the
    fixed-point formula floor(x*y*1e15) summed as int64 is pure IEEE
    float64 + integer math, which numpy executes bit-identically.
    Norms are computed once per *vector* JVM-side (not per pair); the
    numpy stage does exactly one vectorized dot product per pair.
    """
    # Same cached signature table + adaptive banding as
    # embedding_neardup_lsh (shared cache key): signatures + norms
    # computed once per vector, not once per reference in this
    # three-way plan.
    sig = _neardup_sig(spark, sf_dir)
    banded = _neardup_banded(sig)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    # Re-attach embeddings + norms to the id-only candidate pairs.
    # Broadcast here (the signature table is small at test SF); at
    # cluster scale the same two joins become shuffle hash joins keyed
    # by vec_id — either way nothing funnels through the driver.
    sa = F.broadcast(
        sig.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("norm").alias("na"),
        )
    )
    sb = F.broadcast(
        sig.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("eb"),
            F.col("norm").alias("nb"),
        )
    )
    cand = (
        pairs.join(sa, "vec_a")
        .join(sb, "vec_b")
        .select("vec_a", "vec_b", "ea", "eb", "na", "nb")
    )

    def rerank(batches):
        # mapInArrow, not mapInPandas (r15, guide §4.2): a pandas batch
        # materializes each embedding as a PYTHON OBJECT cell
        # (np.stack over ~100k object rows dominated the stage); the
        # Arrow list<float32> column is one contiguous values buffer +
        # offsets, so the pair matrix is a zero-copy flatten + reshape.
        import numpy as _np
        import pyarrow as _pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ea_col = rb.column(rb.schema.get_field_index("ea"))
            eb_col = rb.column(rb.schema.get_field_index("eb"))
            dim = len(ea_col.flatten()) // rb.num_rows
            # array<float> arrives as float32 values; widen to float64
            # exactly (CAST(x AS DOUBLE) parity with the JVM formula).
            ea = (
                ea_col.flatten().to_numpy(zero_copy_only=False)
                .astype(_np.float64)
                .reshape(-1, dim)
            )
            eb = (
                eb_col.flatten().to_numpy(zero_copy_only=False)
                .astype(_np.float64)
                .reshape(-1, dim)
            )
            dots = (
                _np.floor(ea * eb * 1e15)
                .astype(_np.int64)
                .sum(axis=1)
                .astype(_np.float64)
                / 1e15
            )
            na = rb.column(rb.schema.get_field_index("na")).to_numpy(
                zero_copy_only=False
            )
            nb_ = rb.column(rb.schema.get_field_index("nb")).to_numpy(
                zero_copy_only=False
            )
            cos = dots / (na * nb_)
            keep = cos >= 0.35
            yield _pa.RecordBatch.from_pydict(
                {
                    "vec_a": _pa.array(
                        rb.column(rb.schema.get_field_index("vec_a"))
                        .to_numpy(zero_copy_only=False)[keep],
                        type=_pa.int64(),
                    ),
                    "vec_b": _pa.array(
                        rb.column(rb.schema.get_field_index("vec_b"))
                        .to_numpy(zero_copy_only=False)[keep],
                        type=_pa.int64(),
                    ),
                    "cosine": _pa.array(cos[keep], type=_pa.float64()),
                }
            )

    return (
        cand.mapInArrow(rerank, schema="vec_a long, vec_b long, cosine double")
        .orderBy("vec_a", "vec_b")
    )


@register(
    "neardup_lsh_pair_stats",
    f"""
    WITH nrow AS (SELECT COUNT(*) AS n_corpus FROM embeddings),
    sig AS (
      SELECT vec_id, {_sql_signature_wide('embedding')} AS signature
      FROM embeddings),
    banded AS (
      SELECT vec_id, band,
             {_band_val_case('signature', 'band', 'bpb')} AS band_val
      FROM (SELECT s.*, {_bpb_case('n_corpus')} AS bpb
            FROM sig s CROSS JOIN nrow)
      CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS band)),
    bucket AS (
      SELECT band, band_val, COUNT(*) AS m FROM banded GROUP BY 1, 2),
    gross AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(MAX(m) AS BIGINT) AS max_bucket,
             CAST(SUM((m * (m - 1)) // 2) AS BIGINT) AS pairs_gross
      FROM bucket),
    dist AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS pairs_distinct FROM (
        SELECT DISTINCT a.vec_id, b.vec_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id))
    SELECT CAST(n_corpus AS BIGINT) AS n_corpus,
           CAST({_bpb_case('n_corpus')} AS BIGINT) AS bpb,
           n_buckets, max_bucket, pairs_gross, pairs_distinct
    FROM nrow CROSS JOIN gross CROSS JOIN dist
    """,
    "knn",
    "dedup",
    "invariant",
)
def neardup_lsh_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-volume instrumentation for the adaptive LSH band
    ladder — the TESTED form of the scale claim behind
    ``embedding_neardup_lsh``/``_rerank_np``.

    One row per corpus: ``pairs_gross`` = sum over (band, band_val)
    buckets of C(m, 2) — exactly the row count the banded self-join
    produces before DISTINCT (the cost driver of the rerank) — plus the
    post-DISTINCT pair count, bucket count, and max occupancy.  The
    invariant (tests/test_lsh_invariant.py + tools/pair_growth_probe.py)
    is that ``pairs_gross / n_corpus`` stays inside a bounded envelope
    as the corpus grows a decade: the bpb ladder holds expected bucket
    occupancy in [BAND_OCCUPANCY, 2*BAND_OCCUPANCY), so pair volume
    oscillates around linear instead of growing quadratically (the
    fixed-band failure mode measured at 17.4x/decade pre-r8).

    Scale: two aggregations over the banded table plus one
    bucket-blocked self-join — the same shuffle keys as the production
    pair query; nothing funnels through the driver.
    """
    sig = _neardup_sig(spark, sf_dir)
    banded = _neardup_banded(sig)
    bucket = banded.groupBy("band", "band_val").agg(
        F.count(F.lit(1)).alias("m")
    )
    gross = bucket.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("m").cast("long").alias("max_bucket"),
        F.sum(F.expr("(m * (m - 1)) div 2")).cast("long").alias("pairs_gross"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    dist = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select("a.vec_id", "b.vec_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("pairs_distinct"))
    )
    nrow = sig.agg(F.count(F.lit(1)).cast("long").alias("n_corpus")).withColumn(
        "bpb", F.expr(_bpb_case("n_corpus")).cast("long")
    )
    return (
        nrow.crossJoin(gross)
        .crossJoin(dist)
        .select(
            "n_corpus", "bpb", "n_buckets", "max_bucket",
            "pairs_gross", "pairs_distinct",
        )
    )


@register(
    "knn_batch_topk_join",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 10),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             {_sql_dot('e.embedding', 'q.qe')}
               / (sqrt({_sql_dot('e.embedding', 'e.embedding')})
                  * sqrt({_sql_dot('q.qe', 'q.qe')})) AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id) AS rn
      FROM scored)
    SELECT qid, rn, vec_id, label, cosine
    FROM ranked WHERE rn <= 3
    ORDER BY qid, rn
    """,
    "knn",
)
def knn_batch_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-k similarity join: k nearest neighbors for a SET of
    query vectors in one plan — broadcast the query block, one corpus
    scan, per-query top-k via WindowGroupLimit (no global sort).  This
    is the bulk-retrieval shape (dedup against a seed set, RAG batch
    lookup); corpus scales out, query block must fit broadcast."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        )
    )
    scored = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            (
                F.expr(_spark_dot("embedding", "qe"))
                / (
                    F.sqrt(F.expr(_spark_dot("embedding", "embedding")))
                    * F.sqrt(F.expr(_spark_dot("qe", "qe")))
                )
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "rn", "vec_id", "label", "cosine")
        .orderBy("qid", "rn")
    )


@register(
    "ann_ivf_label",
    f"""
    WITH ce AS (
      SELECT label, pos,
             CAST(CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
                  / 1e6 / COUNT(*) AS DOUBLE) AS c
      FROM (SELECT label, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
      GROUP BY label, pos),
    centroids AS (SELECT label, list(c ORDER BY pos) AS cvec FROM ce GROUP BY label),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cd AS (
      SELECT c.label,
             {_sql_dot('c.cvec', 'q.qe')}
               / (sqrt({_sql_dot('c.cvec', 'c.cvec')}) * sqrt({_sql_dot('q.qe', 'q.qe')}))
               AS csim
      FROM centroids c CROSS JOIN q),
    probe AS (SELECT label FROM cd ORDER BY csim DESC, label LIMIT 2),
    cand AS (
      SELECT e.vec_id, e.label, e.embedding, q.qe
      FROM embeddings e JOIN probe p ON e.label = p.label CROSS JOIN q
      WHERE e.vec_id <> 0)
    SELECT vec_id, label,
           {_sql_dot('embedding', 'qe')}
             / (sqrt({_sql_dot('embedding', 'embedding')}) * sqrt({_sql_dot('qe', 'qe')}))
             AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id
    LIMIT 5
    """,
    "knn",
)
def ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantization by the ``label`` column
    (playing the role of a k-means cell id), fixed-point centroid
    means, probe the nprobe=2 nearest cells, exact re-rank inside them.

    At scale the inverted lists are partition-pruned (cell id as a
    partition column): the probe reads ~nprobe/k of the corpus instead
    of all of it.
    """
    emb = load(spark, sf_dir, "embeddings")
    per_dim = emb.select(
        "label", F.posexplode("embedding").alias("pos", "e")
    ).groupBy("label", "pos").agg(
        (
            F.sum(F.expr("CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT)")).cast(
                "double"
            )
            / F.lit(1e6)
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("c")
    )
    centroids = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cvec")
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    csim = F.expr(_spark_dot("cvec", "qe")) / (
        F.sqrt(F.expr(_spark_dot("cvec", "cvec"))) * F.sqrt(F.expr(_spark_dot("qe", "qe")))
    )
    probe = F.broadcast(
        centroids.crossJoin(q)
        .select("label", csim.alias("csim"))
        .orderBy(F.col("csim").desc(), "label")
        .limit(2)
        .select("label")
    )
    cand = emb.join(probe, "label").filter(F.col("vec_id") != 0).crossJoin(q)
    cosine = F.expr(_spark_dot("embedding", "qe")) / (
        F.sqrt(F.expr(_spark_dot("embedding", "embedding")))
        * F.sqrt(F.expr(_spark_dot("qe", "qe")))
    )
    return (
        cand.select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(5)
    )


@register(
    "embedding_neardup_lsh",
    f"""
    WITH nrow AS (SELECT COUNT(*) AS n_corpus FROM embeddings),
    sig AS (
      SELECT vec_id, embedding,
             {_sql_signature_wide('embedding')} AS signature,
             sqrt({_sql_dot('embedding', 'embedding')}) AS norm
      FROM embeddings),
    banded AS (
      SELECT vec_id, band,
             {_band_val_case('signature', 'band', 'bpb')} AS band_val
      FROM (SELECT s.*, {_bpb_case('n_corpus')} AS bpb
            FROM sig s CROSS JOIN nrow)
      CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS band)),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
    scored AS (
      SELECT p.vec_a, p.vec_b,
             {_sql_dot('sa.embedding', 'sb.embedding')} / (sa.norm * sb.norm)
               AS cosine
      FROM pairs p JOIN sig sa ON sa.vec_id = p.vec_a
                   JOIN sig sb ON sb.vec_id = p.vec_b)
    SELECT vec_a, vec_b, cosine
    FROM scored
    WHERE cosine >= 0.35
    ORDER BY vec_a, vec_b
    """,
    "knn",
    "dedup",
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: candidates
    are pairs sharing a signature band (2 bands), then exact
    cosine >= 0.35.  Trades recall for never running the O(n^2) join —
    the only formulation that survives a billion-row corpus.

    Band width is ADAPTIVE (r8): bits per band follow an integer
    ladder over the corpus count (see _bpb_case) so expected bucket
    occupancy stays ~BAND_OCCUPANCY instead of buckets growing
    linearly with the corpus — the quadratic term the sf1 probe
    measured (17.4x time for a 10x data step at fixed 4-bit bands).

    Plan discipline: norms are computed once per *vector* (not per
    pair), the candidate distinct shuffles only id pairs (no embedding
    arrays), and embeddings re-attach via two joins against the cached
    signature table — per pair, exactly one dot product remains.  The
    id-pair repartition after the distinct spreads the per-pair dot
    work (r14): AQE coalesced the small candidate exchange to ~1
    partition, serializing ~16M interpreted zip_with element-ops onto
    one core (~3 s of the 4.2 s total); the rows being exchanged are
    two longs each, so the fan-out costs ~1% of the scoring work it
    parallelizes (the rag/text_fingerprint asymmetry test).
    """
    sig = _neardup_sig(spark, sf_dir)
    banded = _neardup_banded(sig)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sa = F.broadcast(
        sig.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("norm").alias("na"),
        )
    )
    sb = F.broadcast(
        sig.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("eb"),
            F.col("norm").alias("nb"),
        )
    )
    cosine = F.expr(_spark_dot("ea", "eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.join(sa, "vec_a")
        .join(sb, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .orderBy("vec_a", "vec_b")
    )


@register(
    "embedding_quantize_int8",
    """
    WITH m AS (
      SELECT vec_id, label, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM embeddings)
    SELECT vec_id, label,
           CAST(maxabs / 127 AS DOUBLE) AS scale,
           CASE WHEN maxabs = 0
                THEN array_to_string(list_transform(embedding,
                                                    x -> CAST(0 AS INT)), ',')
                ELSE array_to_string(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs + 0.5)
                                 AS INT)), ',') END AS qvec_csv
    FROM m
    ORDER BY vec_id
    """,
    "knn",
    "multimodal",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127):
    the storage/serving compression step of an embedding pipeline —
    4x smaller vectors, dequantize as q*scale.  Pure JVM expressions
    (higher-order array functions), one narrow projection, no shuffle;
    floor(x*127/maxabs + 0.5) is identical IEEE-double math in Spark
    and DuckDB, so quantized codes match bit-for-bit.  The code vector
    is rendered as a CSV string (``qvec_csv``) because the correctness
    gate's canonicalizer requires scalar output columns."""
    emb = load(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        ).alias("maxabs"),
    )
    qvec = F.when(
        F.col("maxabs") == 0,
        F.expr("transform(embedding, x -> CAST(0 AS INT))"),
    ).otherwise(
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs + 0.5) AS INT))"
        )
    )
    return m.select(
        "vec_id",
        "label",
        (F.col("maxabs") / 127).cast("double").alias("scale"),
        F.array_join(qvec, ",").alias("qvec_csv"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

# 64-dim vectors split into 8 subspaces of 8 dims; 16 centroids per
# subspace -> a 4-bit code per subspace, 8 bytes total per vector.
# Codebooks are md5-derived integer literals (range [-512, 512] at the
# same 1024x fixed-point scale as the quantized vectors) folded into
# the plan — the same deterministic-literal trick as the JL projection
# matrix; a production deployment trains them with kmeans_lloyd per
# subspace and broadcasts the trained table instead.
_PQ_SUBS = 8
_PQ_SUBDIM = 8
_PQ_K = 16


def _pq_codebook() -> list[list[list[int]]]:
    return [
        [
            [
                int(
                    hashlib.md5(f"pq:{s}:{k}:{j}".encode()).hexdigest()[:8],
                    16,
                )
                % 1025
                - 512
                for j in range(_PQ_SUBDIM)
            ]
            for k in range(_PQ_K)
        ]
        for s in range(_PQ_SUBS)
    ]


def _pq_lit_duck() -> str:
    cb = _pq_codebook()
    return (
        "["
        + ",".join(
            "["
            + ",".join("[" + ",".join(str(v) for v in row) + "]" for row in sk)
            + "]"
            for sk in cb
        )
        + "]"
    )


# Per-vector distance table to every centroid of every subspace, then
# 0-based argmin codes.  All exact int64: |qv| <= 1024x|x|, |diff| <=
# ~2.5k, diff^2 * 8 dims < 2^26 — no overflow anywhere near.
#
# Formulation history (r12): the original nested transform/aggregate
# lambda runs INTERPRETED in Spark (higher-order functions are
# outside whole-stage codegen) with ~1000 array allocations per row —
# measured ~20 ms/row; a fully unrolled arithmetic tree (128 cells x
# 8 squared-diff terms, ~10k expression nodes) also stays interpreted
# (~1.75 ms/row: the generated method blows the JIT/codegen size
# limits) and costs ~0.5-2 s of PLANNING per run.  Both the
# corpus-side ENCODE and the query-side distance table are therefore
# Arrow-batched numpy kernels over the SQL-quantized qv (the
# quantization itself stays in SQL so round() semantics never move
# engines): (n,8,1,8) - (8,16,8) broadcast, square, sum, argmin —
# first-min ties exactly like array_position(array_min).
def _pq_codes_udf(cb: list[list[list[int]]]):
    """array<bigint> qv -> array<int> PQ codes, vectorized numpy."""
    import numpy as np
    import pandas as pd

    cbarr = np.asarray(cb, dtype=np.int64)  # (SUBS, K, SUBDIM)

    def enc(qv):
        m = np.array(qv.tolist(), dtype=np.int64)
        sub = m.reshape(m.shape[0], _PQ_SUBS, 1, _PQ_SUBDIM)
        d = ((sub - cbarr[None]) ** 2).sum(-1)  # (n, SUBS, K)
        codes = d.argmin(-1).astype(np.int32)  # first min == lowest k
        return pd.Series(list(codes))

    return F.pandas_udf(enc, "array<int>")


def _pq_dt_udf(cb: list[list[list[int]]]):
    """array<bigint> qv -> array<array<bigint>> full distance table
    (the query-side companion of _pq_codes_udf; 1-row inputs, but as a
    udf the ~10k-node unrolled SQL tree never enters the plan, which
    was costing ~0.5-2 s of per-run planning)."""
    import numpy as np
    import pandas as pd

    cbarr = np.asarray(cb, dtype=np.int64)

    def dt(qv):
        m = np.array(qv.tolist(), dtype=np.int64)
        sub = m.reshape(m.shape[0], _PQ_SUBS, 1, _PQ_SUBDIM)
        d = ((sub - cbarr[None]) ** 2).sum(-1)  # (n, SUBS, K)
        return pd.Series([row.tolist() for row in d])

    return F.pandas_udf(dt, "array<array<bigint>>")
_PQ_DUCK_DT = (
    f"list_transform(generate_series(0, {_PQ_SUBS - 1}), s ->"
    f" list_transform(generate_series(0, {_PQ_K - 1}), k ->"
    f" CAST(list_sum(list_transform("
    f" list_transform(generate_series(1, {_PQ_SUBDIM}),"
    f" j -> qv[s * {_PQ_SUBDIM} + j] - {{cb}}[s + 1][k + 1][j]),"
    " d -> d * d)) AS BIGINT)))"
)


_PQD_RETRAINED = (0, 1)  # subspaces retrained in codebook v2; rest frozen


def _pq_codebook_v2() -> list[list[list[int]]]:
    cb = _pq_codebook()
    return [
        [
            [
                int(
                    hashlib.md5(f"pq2:{s}:{k}:{j}".encode()).hexdigest()[:8],
                    16,
                )
                % 1025
                - 512
                for j in range(_PQ_SUBDIM)
            ]
            for k in range(_PQ_K)
        ]
        if s in _PQD_RETRAINED
        else cb[s]
        for s in range(_PQ_SUBS)
    ]


def _pq_cb_values() -> str:
    """Both codebooks as one relational VALUES list
    (ver, subspace, centroid, dim, component) — 2048 rows.  The
    RELATIONAL oracle formulation exists because DuckDB evaluates
    nested-lambda distance tables at ~250 ms/row (the codebook
    literal is rebuilt per lambda call), while an explode+join+window
    argmin over the same math runs in milliseconds — and it is a
    genuinely independent derivation of the same codes."""
    rows = []
    for ver, cb in ((1, _pq_codebook()), (2, _pq_codebook_v2())):
        for s in range(_PQ_SUBS):
            for k in range(_PQ_K):
                for j in range(_PQ_SUBDIM):
                    rows.append(f"({ver},{s},{k},{j},{cb[s][k][j]})")
    return ",".join(rows)


def _pq_adc_oracle() -> str:
    # Relational formulation (see _pq_cb_values): the original
    # nested-lambda oracle evaluated the per-row distance table at
    # ~250 ms/row in DuckDB; this runs in seconds and derives the
    # codes independently of the engine's arithmetic form.
    return f"""
    WITH comp AS (
      SELECT vec_id, (j - 1) // {_PQ_SUBDIM} AS s,
             (j - 1) % {_PQ_SUBDIM} AS jj,
             CAST(round(CAST(embedding[j] AS DOUBLE) * 1024) AS BIGINT)
               AS v
      FROM embeddings, unnest(generate_series(1, {DIM})) AS t(j)),
    cbv(ver, s, k, jj, c) AS (VALUES {_pq_cb_values()}),
    dist AS (
      SELECT comp.vec_id, comp.s, cbv.k,
             SUM((comp.v - cbv.c) * (comp.v - cbv.c)) AS dd
      FROM comp JOIN cbv ON cbv.ver = 1 AND cbv.s = comp.s
                        AND cbv.jj = comp.jj
      GROUP BY comp.vec_id, comp.s, cbv.k),
    codes AS (
      SELECT vec_id, s, k FROM (
        SELECT vec_id, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dd, k) AS r
        FROM dist) WHERE r = 1),
    codestr AS (
      SELECT vec_id,
             string_agg(CAST(k AS VARCHAR), '-' ORDER BY s) AS code
      FROM codes GROUP BY vec_id),
    adc AS (
      SELECT c.vec_id AS vec_id, CAST(SUM(qd.dd) AS BIGINT) AS adc_dist
      FROM codes c JOIN dist qd
        ON qd.vec_id = 0 AND qd.s = c.s AND qd.k = c.k
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id)
    SELECT a.vec_id, e.label, cs.code, a.adc_dist
    FROM adc a JOIN codestr cs USING (vec_id)
    JOIN embeddings e ON e.vec_id = a.vec_id
    ORDER BY a.adc_dist, a.vec_id
    LIMIT {TOP_K}
    """


@register(
    "ann_pq_adc",
    _pq_adc_oracle(),
    "knn",
    "approx",
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    every vector encodes to 8x 4-bit subspace codes (argmin centroid
    per subspace, exact integer L2); the query precomputes its own
    8x16 distance table ONCE, and each candidate's distance is 8 table
    lookups summed (ADC) — never a full d-dim computation per pair.
    Top-k by ADC distance completes the ANN family (brute-force / LSH
    multi-probe / IVF / PQ).

    Scale shape: encoding is a narrow projection (codebook literals
    fold into whole-stage codegen; no join, no shuffle) — at 100 TB
    the codes (8 bytes/vector vs 256) are what you persist; the query
    side is a broadcast 1-row table; scan + TakeOrdered top-k, no
    all-pairs anywhere.  Codebooks here are deterministic literals so
    the oracle is exact; production trains them per subspace with the
    kmeans_lloyd machinery.
    """
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT))"
        ).alias("qv"),
    )
    enc = base.select(
        "vec_id",
        "label",
        _pq_codes_udf(_pq_codebook())(F.col("qv")).alias("codes"),
    )
    q = F.broadcast(
        base.filter(F.col("vec_id") == 0).select(
            _pq_dt_udf(_pq_codebook())(F.col("qv")).alias("qdt")
        )
    )
    adc = (
        "aggregate(zip_with(codes, qdt,"
        " (c, row) -> row[CAST(c AS INT)]),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        enc.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.expr(
                "array_join(transform(codes, c -> CAST(c AS STRING)), '-')"
            ).alias("code"),
            F.expr(adc).alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# PQ recall gate (exact top-k vs ADC top-k — the IVF recall-audit
# analog, closing the PQ lifecycle)
# ---------------------------------------------------------------------------

_PQR_NQ = 8  # audit queries (vec_id < _PQR_NQ)

_PQR_ED_SPARK = (
    "aggregate(zip_with(qv, qqv, (a, b) -> (a - b) * (a - b)),"
    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)
_PQR_AD_SPARK = (
    "aggregate(zip_with(codes, qdt, (c, row) -> row[CAST(c AS INT)]),"
    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)

def _pqr_oracle() -> str:
    # Relational formulation (see _pq_cb_values): explode components,
    # join the VALUES codebook, window-argmin the codes, and derive
    # BOTH rankings from grouped sums — independent of the engine's
    # lambda formulation and ~1000x faster than DuckDB nested lambdas.
    return f"""
    WITH comp AS (
      SELECT vec_id, (j - 1) // {_PQ_SUBDIM} AS s,
             (j - 1) % {_PQ_SUBDIM} AS jj,
             CAST(round(CAST(embedding[j] AS DOUBLE) * 1024) AS BIGINT)
               AS v
      FROM embeddings, unnest(generate_series(1, {DIM})) AS t(j)),
    cbv(ver, s, k, jj, c) AS (VALUES {_pq_cb_values()}),
    dist AS (
      SELECT comp.vec_id, comp.s, cbv.k,
             SUM((comp.v - cbv.c) * (comp.v - cbv.c)) AS dd
      FROM comp JOIN cbv ON cbv.ver = 1 AND cbv.s = comp.s
                        AND cbv.jj = comp.jj
      GROUP BY comp.vec_id, comp.s, cbv.k),
    codes AS (
      SELECT vec_id, s, k FROM (
        SELECT vec_id, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dd, k) AS r
        FROM dist) WHERE r = 1),
    exact AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS qid,
             CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS ed
      FROM comp a JOIN comp b ON a.s = b.s AND a.jj = b.jj
       AND b.vec_id < {_PQR_NQ} AND a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id),
    adc AS (
      SELECT c.vec_id AS vec_id, qd.vec_id AS qid,
             CAST(SUM(qd.dd) AS BIGINT) AS ad
      FROM codes c JOIN dist qd ON qd.s = c.s AND qd.k = c.k
       AND qd.vec_id < {_PQR_NQ} AND qd.vec_id <> c.vec_id
      GROUP BY c.vec_id, qd.vec_id),
    tf AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY ed, vec_id) AS r FROM exact)
           WHERE r <= {TOP_K}),
    ta AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY ad, vec_id) AS r FROM adc)
           WHERE r <= {TOP_K})
    SELECT tf.qid AS qid,
           CAST(COUNT(ta.vec_id) AS BIGINT) AS n_overlap,
           CAST(1000000 * COUNT(ta.vec_id) // {TOP_K} AS BIGINT)
             AS recall_ppm
    FROM tf LEFT JOIN ta ON tf.qid = ta.qid AND tf.vec_id = ta.vec_id
    GROUP BY tf.qid
    ORDER BY qid
    """


@register(
    "ann_pq_recall_audit",
    _pqr_oracle(),
    "knn",
    "eval",
)
def ann_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall GATE — the measurement that closes the PQ lifecycle
    the way ann_ivf_recall_audit closed IVF's: exact integer-L2
    top-{k} per audit query (full {d}-dim distance on the quantized
    grid, the ground truth an offline audit job computes) vs the ADC
    top-{k} the serving path returns (8 table lookups per candidate,
    ann_pq_adc's formulation), scored by list overlap in ppm.  This is
    the accept/reject number behind every "ship the 8-byte codes or
    keep full vectors?" decision; run per shard, it also catches
    codebook DRIFT — a stale codebook degrades recall long before it
    breaks anything visibly.

    Same recall-bracket pattern as embedding_quantization_recall
    (int8 grid ~ near-lossless) and embedding_truncation_recall
    (dim cut ~ lossy): PQ with {s} subspaces x {kk} centroids sits
    between them, and the deterministic-literal codebooks make the
    audit exactly reproducible in both engines.

    Scale posture: one corpus scan against the broadcast {nq}-row
    query block (codes + distance tables are narrow projections that
    fold into codegen; no join, no shuffle on the encode side); both
    rankings collapse via WindowGroupLimit before the k-row-grain
    overlap join — the embedding_truncation_recall plan, unchanged.

    Reference has no embedding tooling (SURVEY §2c extension;
    completes the PQ arm: encode -> retrieve -> RECALL GATE).
    """
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT))"
        ).alias("qv"),
    )
    enc = base.select(
        "vec_id",
        "qv",
        _pq_codes_udf(_pq_codebook())(F.col("qv")).alias("codes"),
    )
    q = F.broadcast(
        base.filter(F.col("vec_id") < _PQR_NQ).select(
            F.col("vec_id").alias("qid"),
            F.col("qv").alias("qqv"),
            _pq_dt_udf(_pq_codebook())(F.col("qv")).alias("qdt"),
        )
    )
    sc = (
        enc.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(_PQR_ED_SPARK).alias("ed"),
            F.expr(_PQR_AD_SPARK).alias("ad"),
        )
    )
    wf = W.partitionBy("qid").orderBy("ed", "vec_id")
    wa = W.partitionBy("qid").orderBy("ad", "vec_id")
    tf = (
        sc.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= TOP_K)
        .select(F.col("qid").alias("fq"), "vec_id")
    )
    ta = (
        sc.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= TOP_K)
        .select(F.col("qid").alias("aq"), F.col("vec_id").alias("av"))
    )
    return (
        tf.join(
            ta,
            (F.col("fq") == F.col("aq")) & (F.col("vec_id") == F.col("av")),
            "left",
        )
        .groupBy("fq")
        .agg(F.count("av").cast("long").alias("n_overlap"))
        .select(
            F.col("fq").alias("qid"),
            "n_overlap",
            F.expr(
                f"CAST(1000000 * n_overlap DIV {TOP_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("qid")
    )


ann_pq_recall_audit.__doc__ = ann_pq_recall_audit.__doc__.format(
    k=TOP_K, d=DIM, s=_PQ_SUBS, kk=_PQ_K, nq=_PQR_NQ
)


# ---------------------------------------------------------------------------
# PQ codebook-drift audit (the maintenance arm: how much of the stored
# index must re-encode when subspace codebooks retrain)
# ---------------------------------------------------------------------------

def _pqd_oracle() -> str:
    return f"""
    WITH px AS (
      SELECT vec_id, (j - 1) // {_PQ_SUBDIM} AS s,
             (j - 1) % {_PQ_SUBDIM} AS jj,
             CAST(round(CAST(embedding[j] AS DOUBLE) * 1024) AS BIGINT)
               AS v
      FROM embeddings, unnest(generate_series(1, {DIM})) AS t(j)),
    cb(ver, s, k, jj, c) AS (VALUES {_pq_cb_values()}),
    d AS (
      SELECT px.vec_id, cb.ver, px.s, cb.k,
             SUM((px.v - cb.c) * (px.v - cb.c)) AS dist
      FROM px JOIN cb ON cb.s = px.s AND cb.jj = px.jj
      GROUP BY px.vec_id, cb.ver, px.s, cb.k),
    codes AS (
      SELECT vec_id, ver, s, k FROM (
        SELECT vec_id, ver, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, ver, s
                                  ORDER BY dist, k) AS r
        FROM d) WHERE r = 1)
    SELECT CAST(c1.s AS INT) AS subspace,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN c1.k = c2.k THEN 0 ELSE 1 END) AS BIGINT)
             AS n_changed,
           CAST(1000000 * SUM(CASE WHEN c1.k = c2.k THEN 0 ELSE 1 END)
                // COUNT(*) AS BIGINT) AS churn_ppm
    FROM codes c1 JOIN codes c2
      ON c1.vec_id = c2.vec_id AND c1.s = c2.s
     AND c1.ver = 1 AND c2.ver = 2
    GROUP BY c1.s
    ORDER BY subspace
    """


@register(
    "ann_pq_code_drift",
    _pqd_oracle(),
    "knn",
    "ops",
)
def ann_pq_code_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook-drift MAINTENANCE audit — the PQ analog of
    ann_ivf_incremental_add's frozen-quantizer delta assignment: when
    subspaces {rt} retrain (codebook v2) while the rest stay frozen,
    how much of the stored code index actually changes?  Re-encodes
    the corpus under BOTH codebooks and ledgers per-subspace code
    churn in ppm.  Frozen subspaces MUST read 0 (their argmin inputs
    are bit-identical — the property that makes per-subspace
    incremental retraining safe: only the retrained subspaces' code
    bytes rewrite, 2 of 8 here, so the maintenance job touches 25% of
    the code payload and none of the frozen bytes).  Retrained
    subspaces read the real churn a re-encode would pay.

    Scale posture: one corpus scan — both encodings are narrow
    projections over codebook literals folded into codegen, the
    per-subspace changed-flags collapse in ONE map-side-combinable
    aggregate (8 conditional sums + count), and the 8-row readout is
    a stack over that 1-row aggregate.  No join, no shuffle beyond
    the final 1-row exchange.

    Reference has no embedding tooling (SURVEY §2c extension;
    completes the PQ arm: encode -> retrieve -> recall gate ->
    MAINTENANCE).
    """
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT))"
        ).alias("qv"),
    )
    enc = base.select(
        _pq_codes_udf(_pq_codebook())(F.col("qv")).alias("c1"),
        _pq_codes_udf(_pq_codebook_v2())(F.col("qv")).alias("c2"),
    )
    agg = enc.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        *[
            F.sum(F.expr(f"IF(c1[{s}] = c2[{s}], 0, 1)"))
            .cast("long")
            .alias(f"chg{s}")
            for s in range(_PQ_SUBS)
        ],
    )
    stack_args = ", ".join(f"{s}, chg{s}" for s in range(_PQ_SUBS))
    return (
        agg.selectExpr(
            "n_vectors",
            f"stack({_PQ_SUBS}, {stack_args}) AS (subspace, n_changed)",
        )
        .select(
            F.col("subspace").cast("int").alias("subspace"),
            "n_vectors",
            "n_changed",
            F.expr(
                "CAST(1000000 * n_changed DIV n_vectors AS BIGINT)"
            ).alias("churn_ppm"),
        )
        .orderBy("subspace")
    )


ann_pq_code_drift.__doc__ = ann_pq_code_drift.__doc__.format(
    rt=list(_PQD_RETRAINED)
)


# ---------------------------------------------------------------------------
# IVF+PQ composed retrieval (coarse cell probe, ADC re-rank — the
# serving-stack composition of the two ANN families)
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2
_IVFPQ_K = 5


def _ivfpq_oracle() -> str:
    # Coarse arm: ann_ivf_label's fixed-point centroid probe, verbatim.
    # Fine arm: the relational PQ formulation (_pq_cb_values), ver 1.
    return f"""
    WITH ce AS (
      SELECT label, pos,
             CAST(CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
                  / 1e6 / COUNT(*) AS DOUBLE) AS c
      FROM (SELECT label, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
      GROUP BY label, pos),
    centroids AS (SELECT label, list(c ORDER BY pos) AS cvec
                  FROM ce GROUP BY label),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cd AS (
      SELECT c.label,
             {_sql_dot('c.cvec', 'q.qe')}
               / (sqrt({_sql_dot('c.cvec', 'c.cvec')})
                  * sqrt({_sql_dot('q.qe', 'q.qe')})) AS csim
      FROM centroids c CROSS JOIN q),
    probe AS (SELECT label FROM cd
              ORDER BY csim DESC, label LIMIT {_IVFPQ_NPROBE}),
    comp AS (
      SELECT vec_id, label, (j - 1) // {_PQ_SUBDIM} AS s,
             (j - 1) % {_PQ_SUBDIM} AS jj,
             CAST(round(CAST(embedding[j] AS DOUBLE) * 1024) AS BIGINT)
               AS v
      FROM embeddings, unnest(generate_series(1, {DIM})) AS t(j)),
    cbv(ver, s, k, jj, c) AS (VALUES {_pq_cb_values()}),
    dist AS (
      SELECT comp.vec_id, comp.label, comp.s, cbv.k,
             SUM((comp.v - cbv.c) * (comp.v - cbv.c)) AS dd
      FROM comp JOIN cbv ON cbv.ver = 1 AND cbv.s = comp.s
                        AND cbv.jj = comp.jj
      GROUP BY comp.vec_id, comp.label, comp.s, cbv.k),
    codes AS (
      SELECT vec_id, label, s, k FROM (
        SELECT vec_id, label, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dd, k) AS r
        FROM dist) WHERE r = 1)
    SELECT c.vec_id AS vec_id, c.label AS label,
           CAST(SUM(qd.dd) AS BIGINT) AS adc_dist
    FROM codes c
    JOIN probe p ON c.label = p.label
    JOIN dist qd ON qd.vec_id = 0 AND qd.s = c.s AND qd.k = c.k
    WHERE c.vec_id <> 0
    GROUP BY c.vec_id, c.label
    ORDER BY adc_dist, c.vec_id
    LIMIT {_IVFPQ_K}
    """


@register(
    "ivfpq_retrieval",
    _ivfpq_oracle(),
    "knn",
    "approx",
)
def ivfpq_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed retrieval — the composition every large-scale
    vector-serving stack actually runs (FAISS IndexIVFPQ shape): the
    COARSE quantizer prunes to the {np} nearest inverted lists
    (ann_ivf_label's cell probe, fixed-point centroid means), and
    inside the surviving cells candidates are ranked by PQ ASYMMETRIC
    distance (ann_pq_adc's 8-lookup ADC over the query's precomputed
    distance table), top-{k} out.  Neither family alone has the
    serving shape: IVF-exact re-reads full vectors per candidate
    (256 B each), PQ-alone scans every code in the corpus; composed,
    the probe reads ~nprobe/k of the corpus and each candidate costs
    8 byte-lookups.

    Scale posture: cell id is a partition column at 100 TB, so the
    probe is PARTITION PRUNING, not a filter scan; the codes inside a
    cell are 8 B/vector; the query's distance table and the probe
    list are 1-row/{np}-row broadcasts.  Everything else (encode,
    ADC) is codegen-folded narrow projection — no shuffle anywhere in
    the serve path.

    The oracle composes the two arms' independent formulations: the
    fixed-point centroid probe verbatim from ann_ivf_label, the
    relational explode+join+argmin codes from the PQ family.

    Reference has no embedding tooling (SURVEY §2c extension; the
    ANN family's capstone: brute / LSH / IVF / PQ / IVF+PQ).
    """
    emb = load(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "e"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(
                    F.expr("CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT)")
                ).cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("c")
        )
    )
    centroids = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda x: x["c"],
        ).alias("cvec")
    )
    q_raw = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qe")
        )
    )
    csim = F.expr(_spark_dot("cvec", "qe")) / (
        F.sqrt(F.expr(_spark_dot("cvec", "cvec")))
        * F.sqrt(F.expr(_spark_dot("qe", "qe")))
    )
    probe = F.broadcast(
        centroids.crossJoin(q_raw)
        .select("label", csim.alias("csim"))
        .orderBy(F.col("csim").desc(), "label")
        .limit(_IVFPQ_NPROBE)
        .select("label")
    )
    qdt = F.broadcast(
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.expr(
                "transform(embedding,"
                " x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT))"
            ).alias("qv")
        )
        .select(_pq_dt_udf(_pq_codebook())(F.col("qv")).alias("qdt"))
    )
    cand = (
        emb.join(probe, "label")
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.expr(
                "transform(embedding,"
                " x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT))"
            ).alias("qv"),
        )
        .select(
            "vec_id",
            "label",
            _pq_codes_udf(_pq_codebook())(F.col("qv")).alias("codes"),
        )
        .crossJoin(qdt)
    )
    return (
        cand.select(
            "vec_id",
            "label",
            F.expr(_PQR_AD_SPARK).alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_K)
    )


ivfpq_retrieval.__doc__ = ivfpq_retrieval.__doc__.format(
    np=_IVFPQ_NPROBE, k=_IVFPQ_K
)


# ---------------------------------------------------------------------------
# RAG-style chunk retrieval (end-to-end)
# ---------------------------------------------------------------------------

_RAG_CHUNK_W = 32  # words per chunk
_RAG_BUCKETS = 16  # hashed bag-of-words feature dimension
_RAG_TOPK = 5
_RAG_QUERIES = [
    (0, "spark window join stream"),
    (1, "customer order data table"),
    (2, "batch merge sort filter"),
]
_RAG_QUERY_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _RAG_QUERIES)


@register(
    "rag_chunk_retrieval",
    f"""
    WITH words AS (
      SELECT doc_id, (i - 1) // {_RAG_CHUNK_W} AS chunk_idx,
             ('0x' || substr(md5(ws[i]), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b
      FROM (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
    cfeat AS (
      SELECT doc_id, chunk_idx, b, COUNT(*) AS cnt
      FROM words GROUP BY doc_id, chunk_idx, b),
    qwords AS (
      SELECT query_id,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b
      FROM (SELECT query_id, unnest(string_split(qtext, ' ')) AS w
            FROM (VALUES {_RAG_QUERY_VALUES}) AS q(query_id, qtext))),
    qfeat AS (
      SELECT query_id, b, COUNT(*) AS qcnt FROM qwords GROUP BY query_id, b),
    scored AS (
      SELECT q.query_id AS query_id, c.doc_id AS doc_id,
             c.chunk_idx AS chunk_idx,
             CAST(SUM(c.cnt * q.qcnt) AS BIGINT) AS dot
      FROM cfeat c JOIN qfeat q ON c.b = q.b
      GROUP BY q.query_id, c.doc_id, c.chunk_idx),
    topk AS (
      SELECT * FROM (
        SELECT query_id, doc_id, chunk_idx, dot,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, doc_id, chunk_idx) AS rnk
        FROM scored) WHERE rnk <= {_RAG_TOPK})
    SELECT t.query_id AS query_id, CAST(t.rnk AS INT) AS rnk,
           t.doc_id AS doc_id, t.chunk_idx AS chunk_idx, t.dot AS dot,
           array_to_string(list_slice(string_split(d.text, ' '),
             t.chunk_idx * {_RAG_CHUNK_W} + 1,
             t.chunk_idx * {_RAG_CHUNK_W} + 8), ' ') AS snippet
    FROM topk t JOIN documents d ON t.doc_id = d.doc_id
    ORDER BY query_id, rnk
    """,
    "knn",
    "pipeline",
)
def rag_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval: chunk every document into
    {_RAG_CHUNK_W}-word passages, featurize chunks AND queries into a
    {_RAG_BUCKETS}-bucket hashed bag-of-words, score by sparse inner
    product, take the top-{_RAG_TOPK} passages per query, and join the
    winners back to source text for the answer snippet — the full
    retrieve-stage pipeline (corpus indexing through passage return)
    in one declarative plan.  Dense-vector retrieval over real
    embeddings is the knn/ANN family; this operator pins the
    COMPOSITION: chunking, dual featurization, candidate scoring,
    per-query top-k, and text join-back.

    Scoring joins the chunk feature stream against the per-bucket
    QUERY features — a broadcast of |queries| x {_RAG_BUCKETS} rows at
    most, so the corpus side never shuffles for scoring; the per-
    (query, chunk) dot product is a map-side-combinable SUM, the
    top-{_RAG_TOPK} collapses via WindowGroupLimit before any full
    sort, and only the {_RAG_TOPK * len(_RAG_QUERIES)} winning chunk
    keys join back to document text (a broadcast semi-sized join).
    All scores are exact integer counts — identical in both engines.
    """
    topk = _rag_topk(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    return (
        topk.join(docs, "doc_id")
        .select(
            "query_id",
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            "chunk_idx",
            "dot",
            F.concat_ws(
                " ",
                F.expr(f"slice(ws, chunk_idx * {_RAG_CHUNK_W} + 1, 8)"),
            ).alias("snippet"),
        )
        .orderBy("query_id", "rnk")
    )


def _rag_chunk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, w): every document word at chunk grain —
    the shared chunking pass for rag scoring and relevance labeling."""
    # Spread the word fan-out (r14): the documents fixture arrives as
    # ONE input split (single parquet row group), which serializes the
    # split+explode+md5 featurization onto one task; a tiny doc-grain
    # repartition buys full parallelism for the per-word hash work
    # (the poisson_bootstrap_ci pattern).
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    return d.select(
        "doc_id",
        F.posexplode("ws").alias("pos", "w"),
    ).select(
        "doc_id",
        (F.col("pos") / _RAG_CHUNK_W).cast("long").alias("chunk_idx"),
        "w",
    )


def _rag_topk(
    spark: SparkSession, sf_dir: str, k: int = _RAG_TOPK
) -> DataFrame:
    """The rag retrieval core: (query_id, rnk, doc_id, chunk_idx, dot)
    top-k rows per query — shared by rag_chunk_retrieval (which adds
    the snippet join-back), eval_mrr_ndcg_at_k (which scores the
    ranking against exact-word relevance labels), and rag_rrf_fusion
    (which fuses a deeper top-k list with a second ranker)."""
    words = _rag_chunk_words(spark, sf_dir).select(
        "doc_id",
        "chunk_idx",
        (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
            % _RAG_BUCKETS
        ).alias("b"),
    )
    cfeat = words.groupBy("doc_id", "chunk_idx", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    q = spark.createDataFrame(_RAG_QUERIES, "query_id long, qtext string")
    qfeat = (
        q.select("query_id", F.explode(F.split("qtext", " ")).alias("w"))
        .select(
            "query_id",
            (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
                % _RAG_BUCKETS
            ).alias("b"),
        )
        .groupBy("query_id", "b")
        .agg(F.count(F.lit(1)).alias("qcnt"))
    )
    scored = (
        cfeat.join(F.broadcast(qfeat), "b")
        .groupBy("query_id", "doc_id", "chunk_idx")
        .agg(F.sum(F.col("cnt") * F.col("qcnt")).alias("dot"))
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.col("dot").desc(), "doc_id", "chunk_idx"
        )
    )
    return scored.withColumn("rnk", rnk).filter(F.col("rnk") <= k)


def _rag_bigram_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, chunk_idx) relevance labels: a chunk is
    relevant to a query iff it contains an exact adjacent query
    bigram (same chunk, query word order) — a criterion the
    order-blind hashed-bag-of-words retriever does NOT optimize.
    Bigram adjacency is lead(w) within each doc (one shuffle by
    doc_id) with a same-chunk guard, broadcast-joined to the 9-row
    query-bigram dim.  Shared by eval_mrr_ndcg_at_k (scores the
    ranking) and rag_hard_negatives (excludes relevants from the
    negative pool)."""
    # Adjacency by ARRAY INDEX, not by window (r14): the next word of
    # position i is ws[i+1] — carrying the split array through
    # posexplode and indexing it directly removes the corpus-grain
    # exchange + per-doc sort the lead() window required (the word
    # stream never shuffles; the only exchange left in this helper is
    # the chunk-grain DISTINCT).  Same-chunk guard: lead stays in the
    # chunk iff (pos+1) is not a chunk boundary; ws[pos+1] is NULL at
    # the document end exactly where lead() was NULL — identical row
    # set to the window formulation.
    # The bigram structs are built INSIDE the array (transform +
    # filter) and only then exploded, so each generated row carries
    # one 3-field struct — exploding the positions first and indexing
    # `ws` afterwards would copy the whole word array into every
    # generated row (O(len^2) bytes per document).
    bigram_arr = (
        "filter(transform(ws, (x, i) -> struct(i AS pos, x AS w,"
        " get(ws, i + 1) AS next_w)),"
        f" p -> p.next_w IS NOT NULL AND (p.pos + 1) % {_RAG_CHUNK_W} != 0)"
    )
    adj = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # Spread the fan-out off the single input split (r14; see
        # _rag_chunk_words).
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.explode(F.expr(bigram_arr)).alias("p"))
        .select(
            "doc_id",
            (F.col("p.pos") / _RAG_CHUNK_W).cast("long").alias("chunk_idx"),
            F.col("p.w").alias("w"),
            F.col("p.next_w").alias("next_w"),
        )
    )
    qbi_rows = [
        (i, ws[j], ws[j + 1])
        for i, t in _RAG_QUERIES
        for ws in [t.split(" ")]
        for j in range(len(ws) - 1)
    ]
    qbi = spark.createDataFrame(
        qbi_rows, "query_id long, w1 string, w2 string"
    )
    return (
        adj.join(
            F.broadcast(qbi),
            (adj["w"] == qbi["w1"]) & (adj["next_w"] == qbi["w2"]),
        )
        .select("query_id", "doc_id", "chunk_idx")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Retrieval-quality metrics: exact MRR / NDCG@k over the rag top-k
# ---------------------------------------------------------------------------

# Integer-scaled DCG rank weights: W[r] = round(1e6 / log2(r+1)),
# computed ONCE in Python and embedded as literals in BOTH engines —
# the only transcendental (log2) never executes in either engine, so
# every downstream value is exact integer arithmetic, hash-safe with
# no ulp contract needed.  _NDCG_CUM[i] = W[1]+..+W[i] is the ideal
# DCG for i relevant items (binary relevance).
import math as _math

_NDCG_W = tuple(
    round(1_000_000 / _math.log2(r + 1)) for r in range(1, _RAG_TOPK + 1)
)
_NDCG_CUM = tuple(
    sum(_NDCG_W[:i]) for i in range(_RAG_TOPK + 1)
)  # (0, 1000000, 1630930, 2130930, 2561607, 2948460)
_NDCG_W_CASE = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W)
) + " END"
_NDCG_IDCG_CASE = (
    f"CASE LEAST(COALESCE(n_rel_corpus, 0), {_RAG_TOPK}) "
    + " ".join(f"WHEN {i} THEN {c}" for i, c in enumerate(_NDCG_CUM))
    + " END"
)


@register(
    "eval_mrr_ndcg_at_k",
    f"""
    WITH wpos AS (
      SELECT doc_id, (i - 1) // {_RAG_CHUNK_W} AS chunk_idx, i AS pos,
             ws[i] AS w
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents))),
    cfeat AS (
      SELECT doc_id, chunk_idx,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b,
             COUNT(*) AS cnt
      FROM wpos GROUP BY doc_id, chunk_idx, b),
    qwords AS (
      SELECT query_id,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b
      FROM (SELECT query_id, unnest(string_split(qtext, ' ')) AS w
            FROM (VALUES {_RAG_QUERY_VALUES}) AS q(query_id, qtext))),
    qfeat AS (
      SELECT query_id, b, COUNT(*) AS qcnt FROM qwords GROUP BY query_id, b),
    scored AS (
      SELECT q.query_id AS query_id, c.doc_id AS doc_id,
             c.chunk_idx AS chunk_idx,
             CAST(SUM(c.cnt * q.qcnt) AS BIGINT) AS dot
      FROM cfeat c JOIN qfeat q ON c.b = q.b
      GROUP BY q.query_id, c.doc_id, c.chunk_idx),
    topk AS (
      SELECT * FROM (
        SELECT query_id, doc_id, chunk_idx, dot,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, doc_id, chunk_idx) AS rnk
        FROM scored) WHERE rnk <= {_RAG_TOPK}),
    qbi AS (
      SELECT query_id, qs[i] AS w1, qs[i + 1] AS w2
      FROM (SELECT query_id, string_split(qtext, ' ') AS qs,
                   unnest(generate_series(
                     1, len(string_split(qtext, ' ')) - 1)) AS i
            FROM (VALUES {_RAG_QUERY_VALUES}) AS q(query_id, qtext))),
    hits AS (
      SELECT DISTINCT b.query_id AS query_id, a.doc_id AS doc_id,
             a.chunk_idx AS chunk_idx
      FROM wpos a
      JOIN wpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1
                 AND a.chunk_idx = c.chunk_idx
      JOIN qbi b ON a.w = b.w1 AND c.w = b.w2),
    rcorpus AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel_corpus
      FROM hits GROUP BY query_id),
    tk AS (
      SELECT t.query_id AS query_id, t.rnk AS rnk,
             CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM topk t LEFT JOIN hits h USING (query_id, doc_id, chunk_idx)),
    m AS (
      SELECT query_id, CAST(SUM(rel) AS BIGINT) AS n_rel_topk,
             CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rnk END), 0)
                  AS BIGINT) AS first_rel_rank,
             CAST(SUM(rel * ({_NDCG_W_CASE})) AS BIGINT) AS dcg_scaled
      FROM tk GROUP BY query_id)
    SELECT s.query_id AS query_id,
           CAST(COALESCE(r.n_rel_corpus, 0) AS BIGINT) AS n_rel_corpus,
           COALESCE(m.n_rel_topk, 0) AS n_rel_topk,
           COALESCE(m.first_rel_rank, 0) AS first_rel_rank,
           CAST(CASE WHEN COALESCE(m.first_rel_rank, 0) > 0
                     THEN 1000000 // m.first_rel_rank
                     ELSE 0 END AS BIGINT) AS rr_ppm,
           COALESCE(m.dcg_scaled, 0) AS dcg_scaled,
           CAST({_NDCG_IDCG_CASE} AS BIGINT) AS idcg_scaled,
           CAST(CASE WHEN COALESCE(r.n_rel_corpus, 0) > 0
                     THEN (1000000 * COALESCE(m.dcg_scaled, 0))
                          // ({_NDCG_IDCG_CASE})
                     ELSE 0 END AS BIGINT) AS ndcg_ppm
    FROM (VALUES {_RAG_QUERY_VALUES}) AS s(query_id, qtext)
    LEFT JOIN rcorpus r ON s.query_id = r.query_id
    LEFT JOIN m ON s.query_id = m.query_id
    ORDER BY s.query_id
    """,
    "knn",
    "eval",
)
def eval_mrr_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MRR and NDCG@{k} for the rag_chunk_retrieval ranking,
    completing the eval family (AUC, gains) with the RANKING metrics
    an LLM retrieval pipeline reports.  Relevance is judged by a
    criterion the retriever does NOT optimize: a chunk is relevant to
    a query iff it contains an exact adjacent query BIGRAM (same
    chunk, query word order), while retrieval scores order-blind
    hashed bag-of-words dot products — so the metric genuinely
    discriminates (measured sf0.01: MRR 0.25-0.50, NDCG@5 0.15-0.51,
    not saturated; a word-presence label saturated to 1.0 and was
    rejected).

    All arithmetic is exact integers: the only transcendental
    (log2 in the DCG weights) is evaluated ONCE in Python and
    embedded as per-rank literal weights W[r]=round(1e6/log2(r+1)) in
    both engines; rr_ppm = 1000000 DIV first_rel_rank and ndcg_ppm =
    (1000000 * DCG) DIV IDCG use integer floor division — bit-equal
    with no float contract.  IDCG uses min(n_rel_corpus, k) ideal
    items (binary relevance), with n_rel_corpus counted corpus-wide.

    Scale posture: one corpus-grain window (lead over doc word
    positions, partitioned by doc) for bigram adjacency + the tiny
    (9-row) bigram dim broadcast; everything after the chunk-grain
    DISTINCT is query-grain.  The retrieval side reuses _rag_topk
    (broadcast-scored, WindowGroupLimit top-k).
    """
    topk = _rag_topk(spark, sf_dir)
    # Materialize the labeling pass ONCE: the relevance table feeds
    # both the corpus-wide n_rel count and the top-k join below, and
    # Catalyst would plan each branch with its own copy of the full
    # corpus-window labeling subtree.  Chunk-grain and
    # bigram-bounded (chunks containing one of the 9 query bigrams),
    # so the checkpointed block is small; the explicit broadcast on
    # the join below is needed because a checkpointed RDD carries no
    # stats and the planner otherwise falls back to sort-merge (the
    # kcore/dedup_cc precedent).
    hits = _rag_bigram_hits(spark, sf_dir).localCheckpoint(eager=False)
    rcorpus = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel_corpus")
    )
    tk = topk.join(
        F.broadcast(hits.withColumn("rel_hit", F.lit(1))),
        ["query_id", "doc_id", "chunk_idx"],
        "left",
    ).select(
        "query_id", "rnk", F.coalesce("rel_hit", F.lit(0)).alias("rel")
    )
    m = tk.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel_topk"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0)
        )
        .cast("long")
        .alias("first_rel_rank"),
        F.sum(F.expr(f"rel * ({_NDCG_W_CASE})")).cast("long").alias(
            "dcg_scaled"
        ),
    )
    spine = spark.createDataFrame(
        [(i,) for i, _ in _RAG_QUERIES], "query_id long"
    )
    out = (
        spine.join(F.broadcast(m), "query_id", "left")
        .join(F.broadcast(rcorpus), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel_corpus", F.lit(0))
            .cast("long")
            .alias("n_rel_corpus"),
            F.coalesce("n_rel_topk", F.lit(0))
            .cast("long")
            .alias("n_rel_topk"),
            F.coalesce("first_rel_rank", F.lit(0))
            .cast("long")
            .alias("first_rel_rank"),
            F.coalesce("dcg_scaled", F.lit(0)).cast("long").alias(
                "dcg_scaled"
            ),
        )
        .select(
            "query_id",
            "n_rel_corpus",
            "n_rel_topk",
            "first_rel_rank",
            F.expr(
                "CAST(CASE WHEN first_rel_rank > 0 "
                "THEN 1000000 DIV first_rel_rank ELSE 0 END AS BIGINT)"
            ).alias("rr_ppm"),
            "dcg_scaled",
            F.expr(f"CAST({_NDCG_IDCG_CASE} AS BIGINT)").alias(
                "idcg_scaled"
            ),
            F.expr(
                f"CAST(CASE WHEN COALESCE(n_rel_corpus, 0) > 0 "
                f"THEN (1000000 * dcg_scaled) DIV ({_NDCG_IDCG_CASE}) "
                f"ELSE 0 END AS BIGINT)"
            ).alias("ndcg_ppm"),
        )
        .orderBy("query_id")
    )
    return out


eval_mrr_ndcg_at_k.__doc__ = eval_mrr_ndcg_at_k.__doc__.format(k=_RAG_TOPK)


# ---------------------------------------------------------------------------
# Margin-based bitext mining (ratio margin over forward/backward kNN)
# ---------------------------------------------------------------------------

_BM_K = 4
_BM_TOP = 40
_BM_QBLOCK = 64  # source side: even vec_id below this bound (32 queries)


def _bm_cos(a: str, b: str, dot, sqldot=None) -> str:
    """Cosine from the exact fixed-point dots — identical expression
    text in both engines, so every IEEE op (sqrt is correctly rounded)
    lands bit-identically (the knn_bruteforce_cosine precedent)."""
    d = dot
    return (
        f"({d(a, b)}) / (sqrt({d(a, a)}) * sqrt({d(b, b)}))"
    )


def _bm_sum4(prefix: str) -> str:
    # Explicit left-to-right addition of the 4 ranked cosines: a SUM()
    # aggregate over doubles is partial-order-dependent; this is not.
    return f"(({prefix}1 + {prefix}2) + {prefix}3) + {prefix}4"


def _bm_rank_case(i: int) -> str:
    return f"MAX(CASE WHEN rn = {i} THEN cos END) AS c{i}"


def _bm_oracle() -> str:
    cos_fwd = _bm_cos("a.embedding", "b.embedding", _sql_dot)
    ranked = ", ".join(_bm_rank_case(i) for i in range(1, _BM_K + 1))
    return f"""
    WITH src AS (SELECT vec_id AS qid, embedding FROM embeddings
                 WHERE vec_id % 2 = 0 AND vec_id < {_BM_QBLOCK}),
    tgt AS (SELECT vec_id AS tid, embedding FROM embeddings
            WHERE vec_id % 2 = 1),
    fwd AS (
      SELECT a.qid, b.tid, {cos_fwd} AS cos
      FROM src a CROSS JOIN tgt b),
    fr AS (
      SELECT qid, tid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, tid) AS rn
      FROM fwd),
    cand AS (SELECT qid, tid, cos FROM fr WHERE rn <= {_BM_K}),
    fsum AS (
      SELECT qid, {ranked} FROM fr WHERE rn <= {_BM_K} GROUP BY qid),
    bwd AS (
      SELECT f.tid, f.qid, f.cos,
             row_number() OVER (PARTITION BY f.tid
                                ORDER BY f.cos DESC, f.qid) AS rn
      FROM fwd f
      WHERE f.tid IN (SELECT DISTINCT tid FROM cand)),
    bsum AS (
      SELECT tid, {ranked} FROM bwd WHERE rn <= {_BM_K} GROUP BY tid)
    SELECT c.qid, c.tid, c.cos AS cosine,
           c.cos / ((({_bm_sum4("f.c")}) + ({_bm_sum4("b.c")}))
                    / {2.0 * _BM_K}) AS margin
    FROM cand c JOIN fsum f USING (qid) JOIN bsum b USING (tid)
    ORDER BY margin DESC, c.qid, c.tid
    LIMIT {_BM_TOP}
    """


@register("bitext_margin_mining", _bm_oracle(), "knn", "pipeline")
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (the LASER/CCMatrix criterion): a
    candidate pair (x, y) scores cos(x, y) divided by the MEAN of
    x's forward k-NN cosines and y's backward k-NN cosines — raw
    cosine retrieval over-accepts hubs (vectors near everything);
    the ratio margin normalizes each side by its own neighborhood
    density, which is what makes mined parallel corpora usable for
    training.  Sides here are the even (source block, bounded) / odd
    (target, corpus-scale) halves of the embedding table.

    Determinism: cosines come from the exact fixed-point dot
    (`_spark_dot`) through expression text shared with the oracle, so
    every IEEE op including sqrt is bit-identical; the k-neighborhood
    means avoid SUM()-over-doubles partial-order hazards by pivoting
    the ranked cosines into columns and adding them in explicit
    left-to-right text order (`_bm_sum4`).

    Scale posture: the source block is the bounded broadcast query
    set (the knn_batch_topk_join contract); the target side scales
    out under one narrow scan; per-query top-k compiles to
    WindowGroupLimit; the backward pass touches only candidate
    targets (<= |block| * k rows) re-joined against the broadcast
    block.  Production swaps the exact scan for the IVF/LSH index
    (`ann_ivf_kmeans`/`embedding_neardup_lsh`) on BOTH directions.

    Reference has no mining operators (SURVEY §2c extension).
    """
    emb = load(spark, sf_dir, "embeddings")
    src = emb.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < _BM_QBLOCK)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    tgt = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tid"), F.col("embedding").alias("te")
    )
    from pyspark.sql import Window

    cos = F.expr(_bm_cos("qe", "te", _spark_dot))
    # One materialization of the |block| x |targets| cosine table
    # (r14): fwd feeds BOTH the forward ranking and the backward pool,
    # and each consumer re-planned the cross join + fixed-point dots
    # (the expensive interpreted-HOF part) without the checkpoint.
    # The target-grain repartition spreads the dot work off the
    # single-split scan (the embedding_neardup_lsh fan-out rationale).
    fwd = (
        tgt.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(src))
        .select("qid", "tid", cos.alias("cos"))
        .localCheckpoint(eager=False)
    )
    w_f = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "tid")
    fr = fwd.withColumn("rn", F.row_number().over(w_f)).filter(
        F.col("rn") <= _BM_K
    )
    cand = fr.select("qid", "tid", "cos")
    ranked = [
        F.max(F.when(F.col("rn") == i, F.col("cos"))).alias(f"c{i}")
        for i in range(1, _BM_K + 1)
    ]
    fsum = fr.groupBy("qid").agg(*ranked)
    bwd_pool = fwd.join(
        F.broadcast(cand.select("tid").distinct()), "tid"
    )
    w_b = Window.partitionBy("tid").orderBy(F.col("cos").desc(), "qid")
    br = bwd_pool.withColumn("rn", F.row_number().over(w_b)).filter(
        F.col("rn") <= _BM_K
    )
    bsum = br.groupBy("tid").agg(*ranked)
    f_cols = fsum.select(
        "qid", *[F.col(f"c{i}").alias(f"f{i}") for i in range(1, _BM_K + 1)]
    )
    b_cols = bsum.select(
        "tid", *[F.col(f"c{i}").alias(f"b{i}") for i in range(1, _BM_K + 1)]
    )
    margin = F.expr(
        f"cos / ((({_bm_sum4('f')}) + ({_bm_sum4('b')})) / {2.0 * _BM_K})"
    )
    return (
        cand.join(F.broadcast(f_cols), "qid")
        .join(F.broadcast(b_cols), "tid")
        .select("qid", "tid", F.col("cos").alias("cosine"), margin.alias("margin"))
        .orderBy(F.col("margin").desc(), "qid", "tid")
        .limit(_BM_TOP)
    )


# ---------------------------------------------------------------------------
# Grid-bucketed epsilon self-join (2D spatial blocking)

# The spatial counterpart to the LSH/prefix-filter blocking families:
# points bucket into eps-sized grid cells, and a within-distance pair
# can only straddle ADJACENT cells, so the probe side explodes into
# its 3x3 cell neighborhood and the join is a plain equi-join on cell
# id — candidate volume is bounded by local density (9 x occupancy per
# point), never corpus^2.  Every pair is produced exactly once: the
# build row lives in ONE cell, and exactly one of the probe row's 9
# probes hits it (no DISTINCT pass needed).
_EPS = 0.05
# Density calibration point for _eps_for_density: _EPS is sized for
# the sf0.1 fixture's 2,000 points in the fixed ~[-0.4, 0.4]^2 domain.
_EPS_N0 = 2000


def _eps_for_density(n: int, eps0: float = _EPS, n0: int = _EPS_N0) -> float:
    """Density-scaled epsilon: shrink eps as the corpus grows so the
    EXPECTED GRID-CELL OCCUPANCY stays flat — the spatial twin of the
    LSH bpb ladder (which adds band bits as n grows to hold pairs/row
    flat).  In a fixed 2D domain, occupancy per cell ~ n * eps^2, so
    eps(n) = eps0 * sqrt(n0 / n) holds n * eps(n)^2 == n0 * eps0^2
    exactly; candidate volume (9 * n * occupancy) and expected output
    pairs (~ n^2 * eps^2) both become LINEAR in n instead of the
    fixed-eps density^2 blow-up (measured 100.6x pairs for 10x points
    at fixed eps, docs/SCALING_MEASUREMENTS.md).  Deployment knob, not
    part of the registered query: the gate's oracle parity requires
    the fixed _EPS on both sides."""
    import math

    return eps0 * math.sqrt(n0 / max(n, 1))


def _grid_cell(v: str, eps: float = _EPS) -> str:
    """floor(v / eps) — identical IEEE division + floor both engines."""
    return f"CAST(floor({v} / {eps!r}) AS BIGINT)"


@register(
    "spatial_grid_epsilon_join",
    # Independent formulation: the oracle is the DIRECT quadratic
    # self-join — no grid, no _grid_cell, no shared blocking scheme —
    # so a conceptual blocking bug (e.g. dropping boundary-straddling
    # pairs) on the Spark side cannot also hide in the oracle.
    # 500 points at sf0.01 = 125k candidate pairs: trivial for DuckDB.
    f"""
    WITH p AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          < {_EPS} * {_EPS}
    ORDER BY vec_a, vec_b
    """,
    "knn",
    "spatial",
)
def spatial_grid_epsilon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within euclidean distance eps={eps} in the
    embedding's first two dimensions, via grid-cell blocking: bucket
    to eps-sized cells, explode each probe point into its 3x3
    neighborhood, equi-join on cell id, verify exact distance.  The
    oracle is the DIRECT quadratic join (no grid, no shared blocking
    helper), so a blocking bug that drops boundary-straddling pairs
    cannot hide — the blocking and the truth are genuinely independent
    formulations.  (Round 9 shipped a grid-formulated oracle with this
    same claim; round 10 made the claim true by swapping the oracle to
    the quadratic join, plus test_spatial_grid_equals_quadratic pins
    the blocked plan against the quadratic truth in-engine.)

    dist2 is computed from identical IEEE doubles by the identical
    expression on both sides — bit-equal, hash-safe, and the eps^2
    threshold compare is therefore boundary-exact.

    Scale posture: one narrow scan, a bounded 9x fan-out, and one
    equi-join shuffle on cell id; candidate volume is 9 x sum of cell
    occupancy^2 — local-density-bounded, the property that makes
    grid blocking the standard spatial-join plan (and a skewed hot
    cell is an AQE skew-join split, not a plan change).

    Reference has no spatial operators (SURVEY §2c extension).
    """
    return _spatial_pairs(spark, sf_dir, _EPS)


def _spatial_pairs(spark: SparkSession, sf_dir: str, eps: float) -> DataFrame:
    """The grid-blocked eps-join plan at an explicit eps — shared by
    the registered query (fixed _EPS, oracle parity) and the
    density-scaled deployment arm (eps from _eps_for_density, measured
    by tools/probe_spatial_density_eps.py).  Ordered (vec_a, vec_b) —
    readout determinism for the registered query; intermediates that
    only aggregate the pairs use _spatial_pairs_unordered (r14: the
    orderBy survived inside every dbscan union branch as a range
    exchange + global sort per appearance)."""
    return _spatial_pairs_unordered(spark, sf_dir, eps).orderBy(
        "vec_a", "vec_b"
    )


def _spatial_pairs_unordered(
    spark: SparkSession, sf_dir: str, eps: float
) -> DataFrame:
    """Grid-blocked eps-join WITHOUT the readout ordering."""
    emb = load(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id",
        F.expr("CAST(embedding[0] AS DOUBLE)").alias("x"),
        F.expr("CAST(embedding[1] AS DOUBLE)").alias("y"),
    ).select(
        "vec_id",
        "x",
        "y",
        F.expr(_grid_cell("x", eps)).alias("cx"),
        F.expr(_grid_cell("y", eps)).alias("cy"),
    )
    probe = (
        cells.select(
            "vec_id", "x", "y", "cx", "cy",
            F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        )
        .select(
            "vec_id", "x", "y", "cy",
            (F.col("cx") + F.col("dx")).alias("px"),
            F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
        )
        .select(
            "vec_id", "x", "y", "px", (F.col("cy") + F.col("dy")).alias("py")
        )
    )
    a, b = probe.alias("a"), cells.alias("b")
    return (
        a.join(
            b,
            (F.col("a.px") == F.col("b.cx"))
            & (F.col("a.py") == F.col("b.cy"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(
                "(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)"
            ).alias("dist2"),
        )
        .filter(F.col("dist2") < F.lit(eps * eps))
    )


spatial_grid_epsilon_join.__doc__ = spatial_grid_epsilon_join.__doc__.format(
    eps=_EPS
)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval rankers (hybrid search)
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF smoothing constant (Cormack et al.)
_RRF_DEPTH = 20  # per-ranker list depth fed into the fusion
_RRF_TOP = 5  # fused list length


@register(
    "rag_rrf_fusion",
    f"""
    WITH wpos AS (
      SELECT doc_id, (i - 1) // {_RAG_CHUNK_W} AS chunk_idx, ws[i] AS w
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents))),
    cfeat AS (
      SELECT doc_id, chunk_idx,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b,
             COUNT(*) AS cnt
      FROM wpos GROUP BY doc_id, chunk_idx, b),
    qwords AS (
      SELECT query_id,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b
      FROM (SELECT query_id, unnest(string_split(qtext, ' ')) AS w
            FROM (VALUES {_RAG_QUERY_VALUES}) AS q(query_id, qtext))),
    qfeat AS (
      SELECT query_id, b, COUNT(*) AS qcnt FROM qwords GROUP BY query_id, b),
    rank_a AS (
      SELECT query_id, doc_id, chunk_idx,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, doc_id, chunk_idx) AS rnk
      FROM (SELECT q.query_id AS query_id, c.doc_id AS doc_id,
                   c.chunk_idx AS chunk_idx,
                   CAST(SUM(c.cnt * q.qcnt) AS BIGINT) AS dot
            FROM cfeat c JOIN qfeat q ON c.b = q.b
            GROUP BY q.query_id, c.doc_id, c.chunk_idx)
      QUALIFY rnk <= {_RRF_DEPTH}),
    qw AS (
      SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS w
      FROM (VALUES {_RAG_QUERY_VALUES}) AS q(query_id, qtext)),
    rank_b AS (
      SELECT query_id, doc_id, chunk_idx,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY nhit DESC, doc_id, chunk_idx) AS rnk
      FROM (SELECT q.query_id AS query_id, d.doc_id AS doc_id,
                   d.chunk_idx AS chunk_idx, COUNT(DISTINCT d.w) AS nhit
            FROM wpos d JOIN qw q ON d.w = q.w
            GROUP BY q.query_id, d.doc_id, d.chunk_idx)
      QUALIFY rnk <= {_RRF_DEPTH}),
    fused AS (
      SELECT COALESCE(a.query_id, b.query_id) AS query_id,
             COALESCE(a.doc_id, b.doc_id) AS doc_id,
             COALESCE(a.chunk_idx, b.chunk_idx) AS chunk_idx,
             CAST(COALESCE(a.rnk, 0) AS BIGINT) AS rank_dot,
             CAST(COALESCE(b.rnk, 0) AS BIGINT) AS rank_hits,
             CAST(CASE WHEN a.rnk IS NULL THEN 0
                       ELSE 1000000 // ({_RRF_K} + a.rnk) END
                + CASE WHEN b.rnk IS NULL THEN 0
                       ELSE 1000000 // ({_RRF_K} + b.rnk) END
                AS BIGINT) AS rrf_scaled
      FROM rank_a a
      FULL OUTER JOIN rank_b b USING (query_id, doc_id, chunk_idx))
    SELECT query_id, fused_rank, doc_id, chunk_idx,
           rank_dot, rank_hits, rrf_scaled
    FROM (
      SELECT query_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_scaled DESC, doc_id,
                                         chunk_idx) AS fused_rank,
             doc_id, chunk_idx, rank_dot, rank_hits, rrf_scaled
      FROM fused) t
    WHERE fused_rank <= {_RRF_TOP}
    ORDER BY query_id, fused_rank
    """,
    "knn",
    "eval",
)
def rag_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack/Clarke/
    Buettcher 2009) of TWO independent rankers over the rag chunks —
    the hashed bag-of-words dot product (what rag_chunk_retrieval
    serves) and an exact distinct-query-word-hit count — each cut to
    its top-{depth} list, outer-joined on chunk identity, scored
    rrf = sum over rankers of 1e6 DIV ({k} + rank) (absent from a
    list contributes 0 — the standard union-of-lists convention), and
    re-ranked to a fused top-{top}.  This is the hybrid
    dense+sparse-search shape every production RAG stack runs; the
    integer-scaled 1/({k}+r) keeps both engines in exact arithmetic
    (the division loses sub-ppm precision identically on both sides —
    the METRIC is defined as the scaled integer).

    Scale posture: ranker A reuses the broadcast-scored rag pipeline;
    ranker B is one corpus pass against the tiny query-word dim; both
    collapse via WindowGroupLimit to {depth}-row-per-query lists
    BEFORE the fusion join, so the outer join and re-rank run at
    (queries x <=2x{depth}) grain — fusion cost is independent of
    corpus size, the property that makes late fusion the standard
    hybrid plan.

    Reference has no retrieval operators (SURVEY §2c extension;
    completes the retrieval family: rag_chunk_retrieval serves,
    eval_mrr_ndcg_at_k scores, this one fuses).
    """
    from pyspark.sql import Window as W

    rank_a = _rag_topk(spark, sf_dir, _RRF_DEPTH).select(
        "query_id", "doc_id", "chunk_idx", F.col("rnk").alias("rnk_a")
    )
    qw_rows = sorted(
        {(i, w) for i, t in _RAG_QUERIES for w in t.split(" ")}
    )
    qw = spark.createDataFrame(qw_rows, "query_id long, w string")
    wpos = _rag_chunk_words(spark, sf_dir)
    nhit = (
        wpos.join(F.broadcast(qw), "w")
        .groupBy("query_id", "doc_id", "chunk_idx")
        .agg(F.countDistinct("w").alias("nhit"))
    )
    w_b = W.partitionBy("query_id").orderBy(
        F.col("nhit").desc(), "doc_id", "chunk_idx"
    )
    rank_b = (
        nhit.withColumn("rnk_b", F.row_number().over(w_b))
        .filter(F.col("rnk_b") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "chunk_idx", "rnk_b")
    )
    fused = rank_a.join(
        rank_b, ["query_id", "doc_id", "chunk_idx"], "full_outer"
    ).select(
        "query_id",
        "doc_id",
        "chunk_idx",
        F.coalesce("rnk_a", F.lit(0)).cast("long").alias("rank_dot"),
        F.coalesce("rnk_b", F.lit(0)).cast("long").alias("rank_hits"),
        F.expr(
            f"CAST(CASE WHEN rnk_a IS NULL THEN 0"
            f" ELSE 1000000 DIV ({_RRF_K} + rnk_a) END"
            f" + CASE WHEN rnk_b IS NULL THEN 0"
            f" ELSE 1000000 DIV ({_RRF_K} + rnk_b) END AS BIGINT)"
        ).alias("rrf_scaled"),
    )
    w_f = W.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), "doc_id", "chunk_idx"
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= _RRF_TOP)
        .select(
            "query_id",
            F.col("fused_rank").cast("long").alias("fused_rank"),
            "doc_id",
            "chunk_idx",
            "rank_dot",
            "rank_hits",
            "rrf_scaled",
        )
        .orderBy("query_id", "fused_rank")
    )


rag_rrf_fusion.__doc__ = rag_rrf_fusion.__doc__.format(
    depth=_RRF_DEPTH, k=_RRF_K, top=_RRF_TOP
)


# ---------------------------------------------------------------------------
# Matryoshka truncation-quality audit (recall of truncated-dim ANN)
# ---------------------------------------------------------------------------

_TR_DIMS = 16  # truncated prefix dimensionality (of 64)
_TR_K = 10  # list depth
_TR_NQ = 10  # query rows (vec_id < _TR_NQ)


def _tr_cos(e: str, q: str, dot) -> str:
    return (
        f"({dot(e, q)}) / (sqrt({dot(e, e)}) * sqrt({dot(q, q)}))"
    )


@register(
    "embedding_truncation_recall",
    f"""
    WITH e AS (SELECT vec_id, embedding,
                      list_slice(embedding, 1, {_TR_DIMS}) AS emb_t
               FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qe,
                 list_slice(embedding, 1, {_TR_DIMS}) AS qe_t
          FROM e WHERE vec_id < {_TR_NQ}),
    sc AS (
      SELECT q.qid AS qid, e.vec_id AS vec_id,
             {_tr_cos('e.embedding', 'q.qe', _sql_dot)} AS cf,
             {_tr_cos('e.emb_t', 'q.qe_t', _sql_dot)} AS ct
      FROM e JOIN q ON e.vec_id <> q.qid),
    tf AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY cf DESC, vec_id) AS r FROM sc)
           WHERE r <= {_TR_K}),
    tt AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY ct DESC, vec_id) AS r FROM sc)
           WHERE r <= {_TR_K})
    SELECT tf.qid AS qid,
           CAST(COUNT(tt.vec_id) AS BIGINT) AS n_overlap,
           CAST(1000000 * COUNT(tt.vec_id) // {_TR_K} AS BIGINT)
             AS recall_ppm
    FROM tf LEFT JOIN tt ON tf.qid = tt.qid AND tf.vec_id = tt.vec_id
    GROUP BY tf.qid
    ORDER BY qid
    """,
    "knn",
    "eval",
)
def embedding_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-truncation quality audit: exact cosine top-{k}
    lists per query over the FULL {full}-dim embedding vs the
    first-{t}-dims truncation, scored by list overlap (recall@{k}) —
    the measurement behind every "serve the 1/4-size MRL prefix, is
    the recall hit acceptable?" decision.  Both rankings use the
    exact fixed-point dot (bit-identical in both engines, the
    knn_bruteforce_cosine contract), so the audit is hash-exact
    end-to-end.

    Fixture honesty: these synthetic embeddings are RANDOM, so
    quarter-dim prefixes are nearly uncorrelated with the full
    vector and measured recall@{k} is 0-30% — the WORST case.  An
    MRL-trained model front-loads information and scores far higher;
    the operator measures, it does not assume.

    Scale posture: the corpus side scans once against a broadcast
    {nq}-row query block (the knn_batch_topk_join contract); both
    rankings collapse via WindowGroupLimit per query before the
    {k}-row-grain overlap join.

    Reference has no embedding tooling (SURVEY §2c extension).
    """
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.expr(f"slice(embedding, 1, {_TR_DIMS})").alias("emb_t"),
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < _TR_NQ).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("emb_t").alias("qe_t"),
        )
    )
    sc = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(_tr_cos("embedding", "qe", _spark_dot)).alias("cf"),
            F.expr(_tr_cos("emb_t", "qe_t", _spark_dot)).alias("ct"),
        )
    )
    wf = W.partitionBy("qid").orderBy(F.col("cf").desc(), "vec_id")
    wt = W.partitionBy("qid").orderBy(F.col("ct").desc(), "vec_id")
    tf = (
        sc.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= _TR_K)
        .select(F.col("qid").alias("fq"), "vec_id")
    )
    tt = (
        sc.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= _TR_K)
        .select(F.col("qid").alias("tq"), F.col("vec_id").alias("tv"))
    )
    return (
        tf.join(
            tt,
            (F.col("fq") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("fq")
        .agg(F.count("tv").cast("long").alias("n_overlap"))
        .select(
            F.col("fq").alias("qid"),
            "n_overlap",
            F.expr(
                f"CAST(1000000 * n_overlap DIV {_TR_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("qid")
    )


embedding_truncation_recall.__doc__ = embedding_truncation_recall.__doc__.format(
    k=_TR_K, full=64, t=_TR_DIMS, nq=_TR_NQ
)


# ---------------------------------------------------------------------------
# DBSCAN via grid-blocked epsilon neighborhoods + star-contraction CC
# ---------------------------------------------------------------------------

_DB_EPS = 0.02
_DB_MINPTS = 5  # |N_eps(p)| >= minPts, N including p itself


@register(
    "dbscan_grid_clusters",
    # Independent formulation: quadratic neighborhoods + recursive-CTE
    # reachability — no grid, no star contraction, no shared blocking
    # or contraction scheme with the Spark plan.
    f"""
    WITH RECURSIVE p AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    nb AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM p a JOIN p b ON a.vec_id != b.vec_id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            < {_DB_EPS} * {_DB_EPS}),
    deg AS (SELECT u, COUNT(*) AS cnt FROM nb GROUP BY u),
    core AS (
      SELECT vec_id FROM p JOIN deg ON vec_id = u
      WHERE cnt + 1 >= {_DB_MINPTS}),
    ce AS (
      SELECT u, v FROM nb
      WHERE u IN (SELECT vec_id FROM core)
        AND v IN (SELECT vec_id FROM core)),
    reach AS (
      SELECT DISTINCT u AS node, u AS r FROM ce
      UNION
      SELECT e.u AS node, rc.r FROM ce e JOIN reach rc ON rc.node = e.v),
    clab AS (
      SELECT node, MIN(r) AS cid FROM reach GROUP BY node
      UNION ALL
      SELECT vec_id, vec_id FROM core
      WHERE vec_id NOT IN (SELECT node FROM reach)),
    bord AS (
      SELECT nb.u AS pnt, MIN(c.cid) AS cid
      FROM nb JOIN clab c ON nb.v = c.node
      WHERE nb.u NOT IN (SELECT vec_id FROM core)
      GROUP BY nb.u),
    corec AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS c
              FROM clab GROUP BY cid),
    bordc AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS c
              FROM bord GROUP BY cid)
    SELECT CAST(corec.cid AS BIGINT) AS cluster_id, corec.c AS n_core,
           COALESCE(bordc.c, 0) AS n_border, CAST(0 AS BIGINT) AS n_noise
    FROM corec LEFT JOIN bordc ON corec.cid = bordc.cid
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           (SELECT COUNT(*) FROM p) - (SELECT COUNT(*) FROM clab)
           - (SELECT COUNT(*) FROM bord)
    ORDER BY cluster_id
    """,
    "knn",
    "spatial",
    "iterative",
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (eps={eps}, minPts={minpts}) over the embedding's first
    two dimensions, composed from the engine's own scale primitives:
    eps-neighborhoods come from the GRID-BLOCKED join
    (_spatial_pairs — local-density-bounded candidates, no quadratic
    pass), core/border classification is one degree aggregate, and
    cluster formation is star-contraction connected components
    (_cc_star_labels, O(log n) rounds) over CORE-CORE edges only —
    Ester et al. 1996 semantics: a cluster is a CC of core points,
    border points attach to a neighboring core's cluster (tie-broken
    to the MINIMUM cluster id — vanilla DBSCAN leaves this
    assignment order-dependent; pinning min makes the result a
    function of the data), everything else is noise.  Output is
    cluster-grain (cluster_id = min core vec_id, core/border counts)
    plus one cluster_id=-1 noise row.  sf0.01: 17 clusters
    (largest 126 core), 207 core / 92 border / 201 noise.

    The oracle is genuinely independent: quadratic neighbor join +
    recursive-CTE reachability — no grid, no star contraction (the
    spatial_grid_epsilon_join round-10 standard).

    Scale posture: the only corpus-sized passes are the grid join
    (candidates bounded by cell occupancy) and one degree aggregate;
    CC runs on core-core edges (a subset of the eps-join output) in
    O(log n) star rounds; border attach is one broadcast-sized join
    from the non-core side of the SAME neighbor pairs — nothing
    quadratic anywhere.  At 100 TB, eps follows the density ladder
    (_eps_for_density) exactly like the registered eps-join.

    Reference has no clustering operators (SURVEY §2c extension;
    completes the spatial family: eps-join -> streaming match ->
    density clustering).
    """
    from kbrowse_spark.operators.dedup import _cc_star_labels

    emb = load(spark, sf_dir, "embeddings")
    # The grid-join subtree feeds nb (twice, via the union), ce, and
    # bord, and Catalyst would plan every appearance with its own copy
    # of the grid join.  One checkpointed
    # materialization of the unordered candidate pairs (candidate
    # volume is cell-occupancy-bounded, the operator's own scale
    # contract) + checkpoints at the other fan-out nodes (core, clab,
    # bord) collapse the plan to single-digit scans.  Node-grain
    # tables (core, clab) are broadcast at their join sites — the
    # kcore/cc_star posture: checkpointed frames carry no stats, so
    # the planner would otherwise sort-merge every one of these joins.
    pairs = (
        _spatial_pairs_unordered(spark, sf_dir, _DB_EPS)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)
    )
    nb = pairs.unionByName(
        pairs.select(
            F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b")
        )
    )
    deg = nb.groupBy("vec_a").agg(F.count(F.lit(1)).alias("cnt"))
    core = (
        deg.filter(F.col("cnt") + 1 >= _DB_MINPTS)
        .select(F.col("vec_a").alias("vec_id"))
        .localCheckpoint(eager=False)
    )
    ce = (
        pairs.join(
            F.broadcast(core), pairs["vec_a"] == core["vec_id"], "left_semi"
        )
        .join(
            F.broadcast(core), pairs["vec_b"] == core["vec_id"], "left_semi"
        )
        .select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    labels, _ = _cc_star_labels(ce)
    labels = labels.select(
        F.col("doc_id").alias("node"), "cluster_id"
    )
    singles = core.join(
        labels, core["vec_id"] == labels["node"], "left_anti"
    ).select(
        F.col("vec_id").alias("node"), F.col("vec_id").alias("cluster_id")
    )
    clab = labels.unionByName(singles).localCheckpoint(eager=False)
    bord = (
        nb.join(
            F.broadcast(core), nb["vec_a"] == core["vec_id"], "left_anti"
        )
        .join(F.broadcast(clab), nb["vec_b"] == clab["node"])
        .groupBy("vec_a")
        .agg(F.min("cluster_id").alias("cid"))
        .localCheckpoint(eager=False)
    )
    corec = clab.groupBy(F.col("cluster_id").alias("cid")).agg(
        F.count(F.lit(1)).cast("long").alias("n_core")
    )
    bordc = bord.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_border")
    )
    clusters = (
        corec.join(bordc, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cluster_id"),
            "n_core",
            F.coalesce("n_border", F.lit(0)).cast("long").alias("n_border"),
            F.lit(0).cast("long").alias("n_noise"),
        )
    )
    totals = emb.agg(F.count(F.lit(1)).alias("n_pts"))
    n_core_tot = clab.agg(F.count(F.lit(1)).alias("nc"))
    n_bord_tot = bord.agg(F.count(F.lit(1)).alias("nb"))
    noise = (
        totals.crossJoin(F.broadcast(n_core_tot))
        .crossJoin(F.broadcast(n_bord_tot))
        .select(
            F.lit(-1).cast("long").alias("cluster_id"),
            F.lit(0).cast("long").alias("n_core"),
            F.lit(0).cast("long").alias("n_border"),
            (F.col("n_pts") - F.col("nc") - F.col("nb"))
            .cast("long")
            .alias("n_noise"),
        )
    )
    return clusters.unionByName(noise).orderBy("cluster_id")


dbscan_grid_clusters.__doc__ = dbscan_grid_clusters.__doc__.format(
    eps=_DB_EPS, minpts=_DB_MINPTS
)


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive retriever training
# ---------------------------------------------------------------------------

_HN_DEPTH = 20  # retrieval depth the negative pool is mined from
_HN_K = 3  # hard negatives kept per query


@register(
    "rag_hard_negatives",
    f"""
    WITH wpos AS (
      SELECT doc_id, (i - 1) // {_RAG_CHUNK_W} AS chunk_idx, i AS pos,
             ws[i] AS w
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents))),
    cfeat AS (
      SELECT doc_id, chunk_idx,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b,
             COUNT(*) AS cnt
      FROM wpos GROUP BY doc_id, chunk_idx, b),
    qwords AS (
      SELECT query_id,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % {_RAG_BUCKETS} AS b
      FROM (SELECT query_id, unnest(string_split(qtext, ' ')) AS w
            FROM (VALUES {_RAG_QUERY_VALUES}) AS q(query_id, qtext))),
    qfeat AS (
      SELECT query_id, b, COUNT(*) AS qcnt FROM qwords GROUP BY query_id, b),
    scored AS (
      SELECT q.query_id AS query_id, c.doc_id AS doc_id,
             c.chunk_idx AS chunk_idx,
             CAST(SUM(c.cnt * q.qcnt) AS BIGINT) AS dot
      FROM cfeat c JOIN qfeat q ON c.b = q.b
      GROUP BY q.query_id, c.doc_id, c.chunk_idx),
    deep AS (
      SELECT * FROM (
        SELECT query_id, doc_id, chunk_idx, dot,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, doc_id, chunk_idx) AS rnk
        FROM scored) WHERE rnk <= {_HN_DEPTH}),
    qbi AS (
      SELECT query_id, qs[i] AS w1, qs[i + 1] AS w2
      FROM (SELECT query_id, string_split(qtext, ' ') AS qs,
                   unnest(generate_series(
                     1, len(string_split(qtext, ' ')) - 1)) AS i
            FROM (VALUES {_RAG_QUERY_VALUES}) AS q(query_id, qtext))),
    hits AS (
      SELECT DISTINCT b.query_id AS query_id, a.doc_id AS doc_id,
             a.chunk_idx AS chunk_idx
      FROM wpos a
      JOIN wpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1
                 AND a.chunk_idx = c.chunk_idx
      JOIN qbi b ON a.w = b.w1 AND c.w = b.w2),
    negs AS (
      SELECT d.query_id, d.doc_id, d.chunk_idx, d.dot, d.rnk
      FROM deep d
      WHERE NOT EXISTS (
        SELECT 1 FROM hits h
        WHERE h.query_id = d.query_id AND h.doc_id = d.doc_id
          AND h.chunk_idx = d.chunk_idx))
    SELECT query_id, CAST(neg_rank AS INT) AS neg_rank, doc_id,
           chunk_idx, dot, CAST(rnk AS INT) AS retrieval_rank
    FROM (
      SELECT query_id, doc_id, chunk_idx, dot, rnk,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, doc_id, chunk_idx)
               AS neg_rank
      FROM negs)
    WHERE neg_rank <= {_HN_K}
    ORDER BY query_id, neg_rank
    """,
    "knn",
    "pipeline",
)
def rag_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retriever training (DPR /
    ANCE recipe): for each query, the {k} highest-scoring chunks in
    the top-{depth} retrieval pool that are NOT relevant — the
    near-miss passages whose gradients teach a dual encoder the most
    (random negatives are trivially separable; these are not).
    Relevance is the _rag_bigram_hits criterion the retriever does
    not optimize (exact adjacent query bigram in-chunk), so negatives
    are wrong-by-label, not wrong-by-score.  retrieval_rank is kept
    so training can weight by original rank.

    Scale posture: reuses the _rag_topk scoring plan at depth
    {depth} (broadcast-scored, WindowGroupLimit) and the
    _rag_bigram_hits labeling pass (one doc-keyed window + 9-row
    broadcast); the negative filter is a left-anti join at
    (query x depth) grain — everything after the retrieval windows
    is query-grain.

    Reference has no training-data tooling (SURVEY §2c extension;
    completes the retrieval family: retrieve -> fuse -> evaluate ->
    mine negatives).
    """
    from pyspark.sql import Window as W

    deep = _rag_topk(spark, sf_dir, k=_HN_DEPTH)
    hits = _rag_bigram_hits(spark, sf_dir)
    negs = deep.join(
        hits, ["query_id", "doc_id", "chunk_idx"], "left_anti"
    )
    neg_rank = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.col("dot").desc(), "doc_id", "chunk_idx"
        )
    )
    return (
        negs.withColumn("neg_rank", neg_rank)
        .filter(F.col("neg_rank") <= _HN_K)
        .select(
            "query_id",
            F.col("neg_rank").cast("int"),
            "doc_id",
            "chunk_idx",
            "dot",
            F.col("rnk").cast("int").alias("retrieval_rank"),
        )
        .orderBy("query_id", "neg_rank")
    )


rag_hard_negatives.__doc__ = rag_hard_negatives.__doc__.format(
    k=_HN_K, depth=_HN_DEPTH
)


# ---------------------------------------------------------------------------
# int8 quantization-quality audit (recall of 8-bit-grid ANN)
# ---------------------------------------------------------------------------

_QZ_L = 127  # int8 grid: round(x * 127) in [-127, 127] for |x| <= 1
_QZ_K = 10
_QZ_NQ = 10

_QZ_SPARK = (
    f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QZ_L})"
    f" AS DOUBLE) / {_QZ_L})"
)
_QZ_DUCK = (
    f"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
    f" * {_QZ_L}) AS DOUBLE) / {_QZ_L})"
)


@register(
    "embedding_quantization_recall",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_QZ_DUCK} AS emb_q
               FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qe, emb_q AS qe_q
          FROM e WHERE vec_id < {_QZ_NQ}),
    sc AS (
      SELECT q.qid AS qid, e.vec_id AS vec_id,
             {_tr_cos('e.embedding', 'q.qe', _sql_dot)} AS cf,
             {_tr_cos('e.emb_q', 'q.qe_q', _sql_dot)} AS cq
      FROM e JOIN q ON e.vec_id <> q.qid),
    tf AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY cf DESC, vec_id) AS r FROM sc)
           WHERE r <= {_QZ_K}),
    tq AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY cq DESC, vec_id) AS r FROM sc)
           WHERE r <= {_QZ_K})
    SELECT tf.qid AS qid,
           CAST(COUNT(tq.vec_id) AS BIGINT) AS n_overlap,
           CAST(1000000 * COUNT(tq.vec_id) // {_QZ_K} AS BIGINT)
             AS recall_ppm
    FROM tf LEFT JOIN tq ON tf.qid = tq.qid AND tf.vec_id = tq.vec_id
    GROUP BY tf.qid
    ORDER BY qid
    """,
    "knn",
    "eval",
)
def embedding_quantization_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """int8 quantization-quality audit — the PRECISION counterpart of
    embedding_truncation_recall's dimensionality cut: exact cosine
    top-{k} per query over the full-precision embedding vs its
    symmetric 8-bit grid (round(x * {l}) / {l}, valid for the
    unit-bounded fixture values; |grid point| <= {l} pinned in-test),
    scored by list overlap — the measurement behind every "store the
    index int8, is the recall hit acceptable?" decision, which
    precedes the IVF/PQ choice in a serving stack.  Cosine is
    scale-invariant, so scoring the dequantized grid IS scoring the
    int8 codes.

    Unlike the truncation audit (random fixture dims are
    uncorrelated, recall reads 0-30%), 8-bit rounding perturbs each
    coordinate by <= 1/{l} ~ 0.4% of the unit range, so recall here
    reads HIGH — the two audits bracket the cheap-index design space
    from the lossy and near-lossless ends.

    Scale posture: one corpus scan against the broadcast {nq}-row
    query block; both rankings collapse via WindowGroupLimit before
    the k-row-grain overlap join (the embedding_truncation_recall
    plan, unchanged).

    Reference has no embedding tooling (SURVEY §2c extension).
    """
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.expr(_QZ_SPARK).alias("emb_q"),
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < _QZ_NQ).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("emb_q").alias("qe_q"),
        )
    )
    sc = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(_tr_cos("embedding", "qe", _spark_dot)).alias("cf"),
            F.expr(_tr_cos("emb_q", "qe_q", _spark_dot)).alias("cq"),
        )
    )
    wf = W.partitionBy("qid").orderBy(F.col("cf").desc(), "vec_id")
    wq = W.partitionBy("qid").orderBy(F.col("cq").desc(), "vec_id")
    tf = (
        sc.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= _QZ_K)
        .select(F.col("qid").alias("fq"), "vec_id")
    )
    tq = (
        sc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= _QZ_K)
        .select(F.col("qid").alias("tq"), F.col("vec_id").alias("tv"))
    )
    return (
        tf.join(
            tq,
            (F.col("fq") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("fq")
        .agg(F.count("tv").cast("long").alias("n_overlap"))
        .select(
            F.col("fq").alias("qid"),
            "n_overlap",
            F.expr(
                f"CAST(1000000 * n_overlap DIV {_QZ_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("qid")
    )


embedding_quantization_recall.__doc__ = (
    embedding_quantization_recall.__doc__.format(
        k=_QZ_K, l=_QZ_L, nq=_QZ_NQ
    )
)
