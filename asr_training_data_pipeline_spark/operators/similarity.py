"""Similarity search over the embeddings table (north star, SURVEY
§2.12): brute-force cosine top-k as the exact baseline, plus a
random-hyperplane (sign-LSH) bucketed variant as the scale path.

Dot products / norms are computed with ``zip_with`` + a sequential
``aggregate`` fold in double precision — deterministic IEEE order, so
the DuckDB oracle (``list_dot_product`` over ``double[]``) matches to
the last bit; scores are still rounded to 6 dp in the output as a
belt-and-braces measure.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table

_TOPK = 5
_N_QUERIES = 8  # vec_id < 8 are the query vectors
_EMB_DIM = 64  # embeddings.embedding dimensionality (TESTDATA.md)
_MAG_BOUND = 1_000_000.0  # fixed-point micro-quantization domain: |x| ≤ 1e6


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b)))


# The similarity family's input domain = validate_embeddings'
# ``is_valid``: expected dimension count, every element finite and
# inside the fixed-point quantization range (NOT (|x| ≤ 1e6) is TRUE
# for NaN on both engines, so NaN/±Inf rows are excluded), nonzero
# norm. Excluded at the scan because one corrupt row would otherwise
# abort a 100 TB job under ANSI (DIVIDE_BY_ZERO on zero norms,
# CAST_OVERFLOW on NaN/Inf in the fixed-point paths) — and, short of
# an abort, NaN scores would poison every downstream ranking.
# validate_embeddings reports exactly what this filter excludes; every
# oracle applies the same predicate so both engines see identical
# input.
_VALID_WHERE = (
    f"(len(cast(embedding AS double[])) = {_EMB_DIM}"
    " AND len(list_filter(cast(embedding AS double[]),"
    f" x -> NOT (abs(x) <= {_MAG_BOUND}))) = 0"
    " AND list_dot_product(cast(embedding AS double[]),"
    " cast(embedding AS double[])) > 0)"
)


# The quantizable (finite) domain: like _VALID_WHERE but zero-norm
# vectors stay in — used by profile_embeddings, where dead/collapsed
# rows are signal, not corruption.
_FINITE_WHERE = (
    f"(len(cast(embedding AS double[])) = {_EMB_DIM}"
    " AND len(list_filter(cast(embedding AS double[]),"
    f" x -> NOT (abs(x) <= {_MAG_BOUND}))) = 0)"
)


def finite_embedding_pred() -> Column:
    """Spark mirror of ``_FINITE_WHERE`` (scan-side codegen, no UDF)."""
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    n_bad = F.size(F.filter(ed, lambda x: ~(F.abs(x) <= _MAG_BOUND)))
    return (F.size(ed) == _EMB_DIM) & (n_bad == 0)


def valid_embedding_pred() -> Column:
    """Spark mirror of ``_VALID_WHERE`` (scan-side codegen, no UDF)."""
    nonzero = dot_col(F.col("embedding"), F.col("embedding")) > 0
    return finite_embedding_pred() & nonzero


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan restricted to the similarity family's domain
    (valid per ``validate_embeddings``). Scan-side codegen filter —
    no extra pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(valid_embedding_pred())


_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, cast(embedding AS double[]) AS qe
           FROM embeddings WHERE vec_id < {_N_QUERIES} AND {_VALID_WHERE}),
v AS (SELECT vec_id, cast(embedding AS double[]) AS ve FROM embeddings WHERE {_VALID_WHERE}),
s AS (
  SELECT query_id, vec_id AS neighbor_id,
         list_dot_product(qe, ve)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ve, ve))) AS score
  FROM q, v WHERE vec_id <> query_id
), r AS (
  SELECT query_id, neighbor_id, score,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS bigint) AS rank
  FROM s
)
SELECT query_id, neighbor_id, round(score, 6) AS score, rank
FROM r WHERE rank <= {_TOPK}
ORDER BY query_id, rank
"""


@register("ann_cosine_topk", oracle=_TOPK_SQL, bench=True, tags=("similarity",))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against
    every vector, rank per query.

    Scale: the fact side streams once through a broadcast-nested-loop
    with the Q queries — O(n·Q·d) flops, no shuffle of the vectors;
    the only shuffle is the per-query top-k (Q·n rows → window on Q
    partitions). For large Q or recall/latency trade-offs, use
    ann_lsh_buckets.
    """
    emb = load_embeddings(spark, sf_dir)
    # norms precomputed ONCE PER ROW, not per pair: sqrt(dot(x,x)) on
    # the same input bits is the identical double either way, so the
    # score expression — dot(q,v)/(qn·vn) — matches the oracle's
    # per-pair form bit-for-bit while the scan does 1 fold per pair
    # instead of 3.
    norm = F.sqrt(dot_col(F.col("embedding"), F.col("embedding")))
    q = F.broadcast(
        emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm.alias("qn"),
        )
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ve"),
        norm.alias("vn"),
    )
    scored = (
        v.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_col(F.col("qe"), F.col("ve"))
                / (F.col("qn") * F.col("vn"))
            ).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
        .orderBy("query_id", "rank")
    )


_PAIRS_THRESHOLD = 0.4

_PAIRS_SQL = f"""
WITH v AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
          WHERE {_VALID_WHERE})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS score
FROM v a, v b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= {_PAIRS_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register("embedding_cosine_pairs", oracle=_PAIRS_SQL, tags=("similarity", "dedup"))
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine ≥ 0.4 — the embedding-space
    near-duplicate primitive (brute force, exact).

    Scale: O(n²) by construction — correct at calibration scale; the
    production path is ann_lsh_buckets (bucketed candidates) with
    this exact scorer applied inside buckets only.
    """
    emb = load_embeddings(spark, sf_dir)
    norm = F.sqrt(dot_col(F.col("embedding"), F.col("embedding")))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        norm.alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        norm.alias("nb"),
    )
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            # norms hoisted per row (identical doubles to the per-pair
            # sqrt(dot) the oracle writes): 1 fold per pair, not 3
            (
                dot_col(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("raw"),
        )
        .filter(F.col("raw") >= _PAIRS_THRESHOLD)
        .select("vec_a", "vec_b", F.round("raw", 6).alias("score"))
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------
# Sign-LSH bucketed ANN (scale path)
# ---------------------------------------------------------------------

_DIM = 64
_N_PLANES = 12

_rng = random.Random(4099)
_PLANES = [
    [_rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(_N_PLANES)
]



def _plane_sql(plane: list[float]) -> str:
    """DuckDB double[] literal with full-precision (round-trippable)
    float reprs — the oracle evaluates the SAME planes bit-for-bit."""
    return "[" + ", ".join(repr(x) for x in plane) + "]"


_BUCKET_SQL_EXPR = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_plane_sql(p)}) > 0 THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(_PLANES)
)

_LSH_BUCKETS_SQL = f"""
WITH v AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
          WHERE {_VALID_WHERE}),
b AS (SELECT vec_id, cast({_BUCKET_SQL_EXPR} AS bigint) AS bucket FROM v)
SELECT bucket, cast(count(*) AS bigint) AS n_vectors,
       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
FROM b GROUP BY bucket ORDER BY bucket
"""

_LSH_TOPK_SQL = f"""
WITH v AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
          WHERE {_VALID_WHERE}),
b AS (SELECT vec_id, cast({_BUCKET_SQL_EXPR} AS bigint) AS bucket, e FROM v),
q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qbucket
      FROM b WHERE vec_id < {_N_QUERIES}),
probes AS (
  SELECT query_id, qe, p AS bucket
  FROM q, unnest([qbucket, {", ".join(f"xor(qbucket, {1 << i})" for i in range(_N_PLANES))}]) AS u(p)
),
cand AS (
  SELECT query_id, qe, vec_id AS neighbor_id, e AS ve
  FROM probes JOIN b USING (bucket)
  WHERE vec_id <> query_id
),
s AS (SELECT query_id, neighbor_id,
             list_dot_product(qe, ve)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ve, ve))) AS score
      FROM cand),
r AS (SELECT query_id, neighbor_id, score,
             cast(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS bigint) AS rank
      FROM s)
SELECT query_id, neighbor_id, round(score, 6) AS score, rank
FROM r WHERE rank <= {_TOPK}
ORDER BY query_id, rank
"""


@register("ann_lsh_buckets", oracle=_LSH_BUCKETS_SQL, tags=("similarity", "lsh"))
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: each vector's bucket is the
    12-bit sign pattern of projections onto fixed Gaussian planes.
    Emits per-bucket population stats — the index-build stage of a
    bucketed ANN (probe = hash the query, scan its bucket ± probes).

    Scale: one pass, no shuffle except the final per-bucket count;
    bucket keys are ints. Cosine-similar vectors collide with prob
    (1 − θ/π)^12. Exact oracle: the same plane constants are embedded
    in the SQL as full-precision literals; recall additionally pinned
    in tests/test_similarity.py against exact top-k.
    """
    emb = load_embeddings(spark, sf_dir)
    buckets = emb.select("vec_id", lsh_bucket_col(F.col("embedding")).alias("bucket"))
    return (
        buckets.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("bucket")
    )


def lsh_bucket_col(e: Column) -> Column:
    """Bucket id of one embedding column (shared by probe-side code
    and tests)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    e,
                    F.array(*[F.lit(p) for p in plane]),
                    lambda x, w_: x.cast("double") * w_,
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for plane in _PLANES
    ]
    bucket = bits[0]
    for i in range(1, _N_PLANES):
        bucket = bucket + F.shiftleft(bits[i], i)
    return bucket


# ---------------------------------------------------------------------
# Probed ANN variants: LSH-bucket top-k and IVF top-k (scale paths)
# ---------------------------------------------------------------------

@register("ann_lsh_topk", oracle=_LSH_TOPK_SQL, tags=("similarity", "lsh"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-probed approximate top-k: hash both sides to 12-bit sign
    buckets, multi-probe each query's bucket plus all hamming-1
    neighbors, exact-rerank candidates with the cosine scorer.

    Scale: candidate volume is n·(bits+1)/2^bits of the brute-force
    pairs (here 13/4096 ≈ 0.3%); the join key is an int. Recall vs
    the exact top-k is pinned in tests/test_similarity.py; the DuckDB
    oracle replays bucket assignment, multi-probe, and rerank exactly
    (plane constants embedded as full-precision literals).
    """
    emb = load_embeddings(spark, sf_dir)
    norm = F.sqrt(dot_col(F.col("embedding"), F.col("embedding")))
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ve"),
        norm.alias("vn"),
        lsh_bucket_col(F.col("embedding")).alias("bucket"),
    )
    q0 = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm.alias("qn"),
        lsh_bucket_col(F.col("embedding")).alias("qbucket"),
    )
    # multi-probe bucket list: own bucket + flip each bit once
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(_N_PLANES)
        ],
    )
    q = F.broadcast(
        q0.select("query_id", "qe", "qn", F.explode(probes).alias("bucket"))
    )
    cand = v.join(q, "bucket").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot_col(F.col("qe"), F.col("ve")) / (F.col("qn") * F.col("vn"))).alias(
            "score"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
        .orderBy("query_id", "rank")
    )


_N_CENTROIDS = 16
_N_PROBE_CENTROIDS = 4


_IVF_TOPK_SQL = f"""
WITH v0 AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
           WHERE {_VALID_WHERE}),
params AS (SELECT greatest(count(*) // {_N_CENTROIDS}, 1) AS step FROM v0),
c AS (SELECT vec_id // step AS centroid_id, e AS ce
      FROM v0, params
      WHERE vec_id % step = 0 AND vec_id // step < {_N_CENTROIDS}),
scored_c AS (
  SELECT v0.vec_id, v0.e, c.centroid_id,
         list_dot_product(v0.e, c.ce)
           / (sqrt(list_dot_product(v0.e, v0.e)) * sqrt(list_dot_product(c.ce, c.ce))) AS csim
  FROM v0, c
),
ranked AS (
  SELECT vec_id, e, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS crank
  FROM scored_c
),
v AS (SELECT vec_id AS neighbor_id, e AS ve, centroid_id FROM ranked WHERE crank = 1),
q AS (SELECT vec_id AS query_id, e AS qe, centroid_id FROM ranked
      WHERE crank <= {_N_PROBE_CENTROIDS} AND vec_id < {_N_QUERIES}),
s AS (
  SELECT DISTINCT query_id, neighbor_id,
         list_dot_product(qe, ve)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ve, ve))) AS score
  FROM v JOIN q USING (centroid_id)
  WHERE neighbor_id <> query_id
),
r AS (SELECT query_id, neighbor_id, score,
             cast(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS bigint) AS rank
      FROM s)
SELECT query_id, neighbor_id, round(score, 6) AS score, rank
FROM r WHERE rank <= {_TOPK}
ORDER BY query_id, rank
"""


@register("ann_ivf_topk", oracle=_IVF_TOPK_SQL, tags=("similarity",))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k: centroids = a deterministic sample
    of the vectors themselves (vec_id % (n/16) == 0 → 16 seeds);
    every vector is assigned to its nearest centroid (the inverted
    lists); each query probes its 4 nearest centroids and exact-reranks
    only those lists.

    Scale: assignment is one broadcast pass (n·C flops, no shuffle of
    vectors); probe reads ~C_probe/C of the corpus. On a real corpus
    the centroids come from KMeans (MLlib) trained on a sample — the
    probe/assign plan is identical. Exact oracle: DuckDB replays
    seed-sampling, assignment, probe, and rerank; recall additionally
    pinned in tests.
    """
    emb = load_embeddings(spark, sf_dir)
    n = emb.count()
    step = max(1, n // _N_CENTROIDS)
    norm = F.sqrt(dot_col(F.col("embedding"), F.col("embedding")))
    cents = F.broadcast(
        emb.filter(
            (F.col("vec_id") % step == 0)
            & ((F.col("vec_id") / step).cast("long") < _N_CENTROIDS)
        )
        .select(
            (F.col("vec_id") / step).cast("long").alias("centroid_id"),
            F.col("embedding").alias("ce"),
            norm.alias("cn"),
        )
    )

    def nearest(df, vec_col, norm_col, id_col, k):
        # own-vector norm is a column of df (hoisted once per row);
        # centroid norms ride the broadcast — 1 fold per (row,
        # centroid) instead of 3, same doubles as the oracle's
        # per-pair form
        scored = df.crossJoin(cents).select(
            "*",
            (
                dot_col(F.col(vec_col), F.col("ce"))
                / (F.col(norm_col) * F.col("cn"))
            ).alias("csim"),
        )
        w = W.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("centroid_id"))
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= k)
            .drop("ce", "cn", "csim", "crank")
        )

    # CORPUS-side assignment is argmax over the C collected centroid
    # literals, entirely scan-side: the old crossJoin + per-vector
    # window shuffled the whole corpus (vectors included) just to rank
    # C candidates per row. Same (csim desc, centroid_id asc) rule —
    # identical assignment, zero exchanges. The centroid collect is a
    # C-row model fetch, the parameter-server pattern kmeans already
    # uses.
    crows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["ce"]], float(r["cn"]))
        for r in cents.collect()
    )
    if not crows:  # empty table → no centroids → empty result
        return emb.select(
            F.col("vec_id").cast("bigint").alias("query_id"),
            F.col("vec_id").cast("bigint").alias("neighbor_id"),
            F.lit(None).cast("double").alias("score"),
            F.lit(None).cast("bigint").alias("rank"),
        ).limit(0)
    # The division is guarded because Catalyst reorders FILTER
    # predicates freely: the join-key null check derived from this
    # expression was observed pushed BELOW the validity filter, where
    # the zero-norm row's vn·cn = 0 aborts under ANSI. when() makes
    # the expression total; valid rows (vn > 0 by the scan filter) are
    # untouched, so every oracle still matches.
    cand_arr = F.array(
        *[
            F.struct(
                F.when(
                    F.col("vn") > 0,
                    dot_col(F.col("ve"), F.array(*[F.lit(x) for x in ce]))
                    / (F.col("vn") * F.lit(cn)),
                ).alias("csim"),
                F.lit(cid).cast("long").alias("centroid_id"),
            )
            for cid, ce, cn in crows
        ]
    )
    best = F.element_at(
        F.array_sort(
            cand_arr,
            lambda l, r: F.when(l["csim"] > r["csim"], F.lit(-1))
            .when(l["csim"] < r["csim"], F.lit(1))
            .when(l["centroid_id"] < r["centroid_id"], F.lit(-1))
            .otherwise(F.lit(1)),
        ),
        1,
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ve"),
        norm.alias("vn"),
    ).withColumn("centroid_id", best["centroid_id"])
    q = nearest(
        emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm.alias("qn"),
        ),
        "qe", "qn", "query_id", _N_PROBE_CENTROIDS,
    )
    cand = v.join(F.broadcast(q), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot_col(F.col("qe"), F.col("ve")) / (F.col("qn") * F.col("vn"))).alias(
            "score"
        ),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------
# Cluster centroids + prototype distance (SemDeDup / semantic filter
# primitive)
# ---------------------------------------------------------------------

_CENTROID_DIM = _EMB_DIM
_CENTROID_SCALE = 1_000_000  # fixed-point quantum for exact sums
_OUTLIER_COS = -0.05  # below this cosine to own centroid → outlier (~p5 here)

_CENTROID_SQL = f"""
WITH v AS (SELECT vec_id, label, cast(embedding AS double[]) AS e FROM embeddings
          WHERE {_VALID_WHERE}),
q AS (SELECT vec_id, label, e,
             [cast(floor(x * {_CENTROID_SCALE} + 0.5) AS bigint) for x in e] AS qe
      FROM v),
s AS (
  SELECT label, i, sum(qe[i]) AS sq, count(*) AS n
  FROM q, unnest(range(1, {_CENTROID_DIM + 1})) AS u(i)
  GROUP BY label, i
),
c AS (
  SELECT label,
         list(cast(sq AS double) / (n * {_CENTROID_SCALE}.0) ORDER BY i) AS ce
  FROM s GROUP BY label
)
SELECT q.vec_id, q.label,
       round(list_dot_product(q.e, c.ce)
         / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.ce, c.ce))),
         6) AS centroid_cos,
       list_dot_product(q.e, c.ce)
         / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.ce, c.ce)))
         < {_OUTLIER_COS} AS is_outlier
FROM q JOIN c USING (label)
"""


@register("embedding_centroids", oracle=_CENTROID_SQL, tags=("similarity", "quality"))
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid and per-vector prototype distance: the
    SemDeDup/semantic-filtering primitive (keep vectors close to their
    cluster prototype, flag far-from-centroid outliers).

    Exactness under ANY partitioning: element sums are FIXED-POINT
    (floor(x·1e6 + 0.5) as bigint) so the aggregation is integer —
    order-independent, bit-stable across engines and shuffle layouts;
    the single division back to double is deterministic. The per-label
    sums are D scalar aggregates with map-side partial aggregation —
    one exchange of |labels|·D longs, never the vectors; centroids
    broadcast back. The same shape at 100 TB: the wide data streams,
    only fixed-width per-cluster sums move.
    """
    f = centroid_cos_frame(spark, sf_dir)
    return f.select(
        "vec_id",
        "label",
        F.round("centroid_cos_raw", 6).alias("centroid_cos"),
        (F.col("centroid_cos_raw") < _OUTLIER_COS).alias("is_outlier"),
    )


def centroid_cos_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, centroid_cos_raw): every vector's UNROUNDED
    cosine to its label's fixed-point centroid — the reusable core of
    embedding_centroids, also consumed by the multi-signal curation
    composite (operators.curation.corpus_curation_multimodal)."""
    emb = load_embeddings(spark, sf_dir)
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _CENTROID_SCALE + 0.5).cast("long"),
    )
    q = emb.select("vec_id", "label", "embedding", quant.alias("qe"))
    sums = q.groupBy("label").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.get("qe", i)).alias(f"s{i}")
            for i in range(_CENTROID_DIM)
        ],
    )
    centroid = F.array(
        *[
            F.col(f"s{i}").cast("double")
            / (F.col("n") * float(_CENTROID_SCALE))
            for i in range(_CENTROID_DIM)
        ]
    )
    c = sums.select(
        "label",
        centroid.alias("ce"),
        F.sqrt(dot_col(centroid, centroid)).alias("cn"),
    )
    ed = F.col("embedding").cast("array<double>")
    cos = dot_col(ed, F.col("ce")) / (F.sqrt(dot_col(ed, ed)) * F.col("cn"))
    return q.join(F.broadcast(c), "label").select(
        "vec_id", "label", cos.alias("centroid_cos_raw")
    )


# ---------------------------------------------------------------------
# Exact-oracle distributed KMeans (Lloyd's, fixed-point updates)
# ---------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 3


_KM_D2 = (
    "list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c{i}.ce)"
    " + list_dot_product(c{i}.ce, c{i}.ce)"
)


def _km_cte(with_keyword: str = "WITH ") -> str:
    """Shared unrolled-KMeans CTE chain (v, c0, a1..s1..c1, ...,
    c{iters}) — the common prefix of the kmeans oracle and the
    SemDeDup-clustered dedup oracle."""
    k, iters, scale = _KM_K, _KM_ITERS, _CENTROID_SCALE
    d2 = _KM_D2
    parts = [
        f"{with_keyword}v AS (SELECT vec_id, cast(embedding AS double[]) AS e,"
        f" [cast(floor(x * {scale} + 0.5) AS bigint) for x in cast(embedding AS double[])] AS qe"
        f" FROM embeddings WHERE {_VALID_WHERE}),",
        f"c0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {k})",
    ]
    for it in range(1, iters + 1):
        p = it - 1
        parts.append(f""",
a{it} AS (
  SELECT vec_id, e, qe, cid, d2 FROM (
    SELECT v.vec_id, v.e, v.qe, c{p}.cid,
           {d2.format(i=p)} AS d2,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2.format(i=p)}, c{p}.cid) AS rn
    FROM v, c{p}
  ) WHERE rn = 1
),
s{it} AS (
  SELECT cid, list(cast(sq AS double) / (n * {scale}.0) ORDER BY i) AS ce
  FROM (SELECT cid, i, sum(qe[i]) AS sq, count(*) AS n
        FROM a{it}, unnest(range(1, {_CENTROID_DIM + 1})) AS u(i)
        GROUP BY cid, i)
  GROUP BY cid
),
c{it} AS (SELECT c{p}.cid, coalesce(s{it}.ce, c{p}.ce) AS ce
          FROM c{p} LEFT JOIN s{it} USING (cid))""")
    return "".join(parts)


def _km_sql() -> str:
    """DuckDB oracle replaying the SAME deterministic KMeans: seeds =
    vec_id < K, squared-L2 via the three-dot identity (each dot a
    sequential fold — bit-identical to the Spark zip_with fold),
    fixed-point centroid means, ties to the lower centroid id,
    unrolled for the fixed iteration count."""
    iters, d2 = _KM_ITERS, _KM_D2
    return _km_cte() + f"""
SELECT vec_id, cast(cid AS bigint) AS cluster, round(d2, 6) AS dist2
FROM (
  SELECT v.vec_id, c{iters}.cid,
         {d2.format(i=iters)} AS d2,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {d2.format(i=iters)}, c{iters}.cid) AS rn
  FROM v, c{iters}
) WHERE rn = 1
ORDER BY vec_id"""


def _kmeans_final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, qe, cid, d2) after the converged deterministic
    Lloyd iterations — the shared core of ``kmeans_embeddings`` and
    ``kmeans_assignment_frame``."""
    emb = load_embeddings(spark, sf_dir)
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _CENTROID_SCALE + 0.5).cast("long"),
    )
    v = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        quant.alias("qe"),
        # ‖e‖² hoisted once per row: the three-dot identity then costs
        # one fold per (row, centroid) — same doubles, same grouping
        # ((ee − 2·dot) + cc) as the oracle's per-pair form
        dot_col(
            F.col("embedding").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
        ).alias("ee"),
    )
    cents = [
        (int(r.vec_id), list(r.e))
        for r in v.filter(F.col("vec_id") < _KM_K).select("vec_id", "e").collect()
    ]

    def assign(cents_list):
        if not cents_list:  # empty table → no seeds → no assignments
            return v.select(
                "vec_id",
                "e",
                "qe",
                F.lit(None).cast("long").alias("cid"),
                F.lit(None).cast("double").alias("d2"),
            ).limit(0)
        # The K centroids are literals (the driver owns the model), so
        # the argmin runs ENTIRELY scan-side: build the K-element
        # (d2, cid) array per row, sort with the same (d2 asc, cid
        # asc) rule the oracle's window uses, take the head — no
        # crossJoin row blow-up, no vector-carrying exchange. ‖c‖² is
        # folded in Python (same sequential IEEE adds as
        # list_dot_product), ‖e‖² is the hoisted ee column, so d2 is
        # bit-identical to the oracle's per-pair three-dot form.
        def py_dot(xs, ys):
            acc = 0.0
            for x, y in zip(xs, ys):
                acc = acc + x * y
            return acc

        cands = F.array(
            *[
                F.struct(
                    (
                        F.col("ee")
                        - 2
                        * dot_col(
                            F.col("e"),
                            F.array(*[F.lit(float(x)) for x in ce]),
                        )
                        + F.lit(py_dot(ce, ce))
                    ).alias("d2"),
                    F.lit(int(cid)).cast("long").alias("cid"),
                )
                for cid, ce in cents_list
            ]
        )
        best = F.element_at(
            F.array_sort(
                cands,
                lambda l, r: F.when(l["d2"] < r["d2"], F.lit(-1))
                .when(l["d2"] > r["d2"], F.lit(1))
                .when(l["cid"] < r["cid"], F.lit(-1))
                .otherwise(F.lit(1)),
            ),
            1,
        )
        return v.withColumn("best", best).select(
            "vec_id",
            "e",
            "qe",
            F.col("best.cid").alias("cid"),
            F.col("best.d2").alias("d2"),
        )

    for _ in range(_KM_ITERS):
        a = assign(cents)
        sums = a.groupBy("cid").agg(
            F.count("*").alias("n"),
            *[F.sum(F.get("qe", i)).alias(f"s{i}") for i in range(_CENTROID_DIM)],
        )
        new = {
            int(r.cid): [
                r[f"s{i}"] / (r.n * float(_CENTROID_SCALE))
                for i in range(_CENTROID_DIM)
            ]
            for r in sums.collect()
        }
        cents = [(cid, new.get(cid, ce)) for cid, ce in cents]
    return assign(cents)


@register("kmeans_embeddings", oracle=_km_sql(), tags=("similarity", "iterative"))
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's KMeans over the embeddings, EXACTLY
    verifiable: deterministic seeds (vec_id < K), squared-L2 by the
    three-dot identity (sequential folds), and fixed-point (bigint)
    centroid means make every iteration bit-reproducible under any
    partitioning — so the DuckDB oracle replays all {iters} iterations
    and hash-matches. Empty clusters keep their previous centroid.

    Scale: per iteration the vectors stream once against the K
    centroid LITERALS — the argmin is a scan-side sorted candidate
    array, so no window and no vector-carrying exchange (plan-locked)
    — and the update aggregates K·d bigints; the driver holds only
    the K×d centroid model (collected per round, like every
    parameter-server/MLlib iteration). The final assignment is one
    more scan.
    """
    final = _kmeans_final_assignment(spark, sf_dir)
    return final.select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster"),
        F.round("d2", 6).alias("dist2"),
    ).orderBy("vec_id")


def kmeans_assignment_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, cluster) from the SAME converged deterministic
    KMeans as ``kmeans_embeddings`` — the reusable partition for
    within-cluster operators (SemDeDup pair generation in
    operators.dedup.dedup_semantic_clustered). Reuses the final
    assignment frame directly — the old shape re-joined the corpus to
    the labels on vec_id, a corpus-sized shuffle join for columns the
    assignment already carries."""
    final = _kmeans_final_assignment(spark, sf_dir)
    return final.select("vec_id", "e", F.col("cid").alias("cluster"))


# ---------------------------------------------------------------------
# Scalar-quantized (int8) ANN: the memory-compression path
# ---------------------------------------------------------------------

_SQ8_SQL = f"""
WITH v0 AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
           WHERE {_VALID_WHERE}),
q8 AS (
  SELECT vec_id,
         [cast(floor(x * s + 0.5) AS bigint) for x in e] AS qv
  FROM (
    SELECT vec_id, e,
           CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END AS s
    FROM (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) AS mx
          FROM v0)
  )
),
q AS (SELECT vec_id AS query_id, qv AS qq FROM q8 WHERE vec_id < {_N_QUERIES}),
s AS (
  SELECT query_id, vec_id AS neighbor_id,
         list_dot_product(qq, qv)
           / (sqrt(list_dot_product(qq, qq)) * sqrt(list_dot_product(qv, qv)))
           AS score
  FROM q, q8 WHERE vec_id <> query_id
),
r AS (
  SELECT query_id, neighbor_id, score,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS bigint) AS rank
  FROM s
)
SELECT query_id, neighbor_id, round(score, 6) AS score, rank
FROM r WHERE rank <= {_TOPK}
ORDER BY query_id, rank
"""


def sq8_quantize_col(e: Column) -> Column:
    """Per-vector symmetric int8 quantization: scale = 127/max|x|
    (1.0 for the all-zero vector), elements rounded half-up. Returned
    as array<long> — the VALUES are int8-range; cosine needs no
    dequantization because the per-vector scale cancels.

    NOTE: as a single Column the per-row max/scale subexpression sits
    INSIDE the transform lambda, where Spark does no subexpression
    elimination — it re-evaluates per ELEMENT, O(d²) per row. Fine for
    spot checks; the query path uses ``sq8_index_frame``, which stages
    the max into its own projection (measured 23× at 200k vectors)."""
    ed = F.transform(e, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(ed, F.abs))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(1.0))
    return F.transform(ed, lambda x: F.floor(x * scale + 0.5).cast("long"))


def sq8_index_frame(emb: DataFrame) -> DataFrame:
    """(vec_id, qv, qn): the resident int8 index — same arithmetic as
    ``sq8_quantize_col`` but with the per-row max staged into its own
    projection so it computes once per ROW, not once per element. The
    non-deterministic barrier column blocks CollapseProject from
    substituting the max expression back into the transform lambda
    (lambda bodies get no common-subexpression elimination)."""
    ed = F.transform("embedding", lambda x: x.cast("double"))
    s = emb.select("vec_id", ed.alias("ed")).select(
        "vec_id",
        "ed",
        F.array_max(F.transform("ed", F.abs)).alias("mx"),
        F.monotonically_increasing_id().alias("_barrier"),
    )
    scale = F.when(F.col("mx") > 0, F.lit(127.0) / F.col("mx")).otherwise(
        F.lit(1.0)
    )
    qv = F.transform("ed", lambda x: F.floor(x * scale + 0.5).cast("long"))
    return s.select("vec_id", qv.alias("qv")).select(
        "vec_id", "qv", F.sqrt(dot_col(F.col("qv"), F.col("qv"))).alias("qn")
    )


@register("ann_sq8_topk", oracle=_SQ8_SQL, tags=("similarity", "quantization"))
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over SCALAR-QUANTIZED (int8) vectors — the compression
    path of large-scale vector search: per-vector symmetric
    quantization to [-127, 127] cuts the resident index 4× (and the
    scan IO with it), and cosine over the quantized vectors needs no
    dequantization since the per-vector scale cancels in the ratio.
    The plan is ann_cosine_topk's exactly (broadcast query set, no
    vector shuffle); only the element type changes.

    Every product |q_a·q_b| ≤ 127²·d < 2^21 — the integer dot is EXACT
    in double no matter the fold order, so the DuckDB oracle (same
    quantization arithmetic) matches bit-for-bit, not just to rounding.
    Ranking fidelity vs the float top-k is pinned in
    tests/test_similarity.py.
    """
    from ..caching import hold

    emb = load_embeddings(spark, sf_dir)
    # build the quantized index ONCE and keep it resident — this is
    # the 4×-compressed structure production holds in memory; both the
    # query projection and the streamed side read the same
    # materialization. Slot-held: a repeat invocation releases the
    # previous index instead of accreting executor storage.
    q8 = hold("sq8_index", sq8_index_frame(emb))
    q = F.broadcast(
        q8.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("qq"),
            F.col("qn").alias("qqn"),
        )
    )
    v = q8.select(
        F.col("vec_id").alias("neighbor_id"), "qv", F.col("qn").alias("qvn")
    )
    scored = (
        v.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_col(F.col("qq"), F.col("qv"))
                / (F.col("qqn") * F.col("qvn"))
            ).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------
# Embedding-space profiling (feature health / drift report)
# ---------------------------------------------------------------------

_EPROF_SQL = f"""
WITH v AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
           WHERE {_FINITE_WHERE}),
q AS (SELECT vec_id, e,
             [cast(floor(x * {_CENTROID_SCALE} + 0.5) AS bigint) for x in e] AS qe
      FROM v),
s AS (
  SELECT i AS dim, sum(qe[i]) AS sq, count(*) AS n,
         min(e[i]) AS mn, max(e[i]) AS mx,
         sum(CASE WHEN e[i] = 0 THEN 1 ELSE 0 END) AS nz
  FROM q, unnest(range(1, {_CENTROID_DIM + 1})) AS u(i)
  GROUP BY i
)
SELECT cast(dim AS bigint) AS dim,
       round(cast(sq AS double) / (n * {_CENTROID_SCALE}.0), 9) AS mean,
       mn AS min_val, mx AS max_val,
       cast(nz AS bigint) AS n_zero
FROM s
ORDER BY dim
"""


@register("profile_embeddings", oracle=_EPROF_SQL, tags=("similarity", "stats"))
def profile_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: mean (exact fixed-point sum),
    min/max, and dead-zero counts for each of the {dim} dimensions —
    the feature-health report that catches collapsed dimensions,
    saturated ranges, and upstream-encoder drift before they poison
    ANN recall or centroid quality.

    Scale: one pass; per-dimension sums/extrema are map-side-combined
    scalars ({dim}·4 numbers per partition on the wire, never the
    vectors). The mean uses the same integer micro-quantization as
    embedding_centroids, so the aggregation is order-independent and
    the oracle exact.

    Domain: the quantizable subset only — wrong-dimension and
    NaN/Inf/out-of-range rows are excluded scan-side (they would abort
    the fixed-point cast under ANSI); zero-norm vectors stay IN, since
    dead-zero detection is this profile's point. validate_embeddings
    is the report over the raw table."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        finite_embedding_pred()
    )
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _CENTROID_SCALE + 0.5).cast("long"),
    )
    ed = F.transform("embedding", lambda x: x.cast("double"))
    q = emb.select(ed.alias("e"), quant.alias("qe"))
    aggs = []
    for i in range(_CENTROID_DIM):
        aggs += [
            F.sum(F.get("qe", i)).alias(f"sq{i}"),
            F.min(F.get("e", i)).alias(f"mn{i}"),
            F.max(F.get("e", i)).alias(f"mx{i}"),
            F.sum(F.when(F.get("e", i) == 0.0, 1).otherwise(0)).alias(f"nz{i}"),
        ]
    row = q.agg(F.count("*").alias("n"), *aggs)
    dims = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("dim"),
                F.round(
                    F.col(f"sq{i}").cast("double")
                    / (F.col("n") * float(_CENTROID_SCALE)),
                    9,
                ).alias("mean"),
                F.col(f"mn{i}").alias("min_val"),
                F.col(f"mx{i}").alias("max_val"),
                F.col(f"nz{i}").cast("bigint").alias("n_zero"),
            )
            for i in range(_CENTROID_DIM)
        ]
    )
    return (
        row.select(F.explode(dims).alias("d"))
        .select("d.*")
        .orderBy("dim")
    )


# ---------------------------------------------------------------------
# Embedding validation (the ingest gate for the cosine family)
# ---------------------------------------------------------------------

_EXPECT_DIM = _EMB_DIM

_VALIDATE_SQL = f"""
WITH v AS (SELECT vec_id, label, cast(embedding AS double[]) AS e FROM embeddings)
SELECT vec_id, label,
       cast(len(e) AS bigint) AS n_dims,
       cast(len(list_filter(e, x -> NOT (abs(x) <= {_MAG_BOUND}))) AS bigint)
         AS n_out_of_range,
       list_dot_product(e, e) > 0 AS nonzero_norm,
       len(e) = {_EXPECT_DIM}
         AND len(list_filter(e, x -> NOT (abs(x) <= {_MAG_BOUND}))) = 0
         AND list_dot_product(e, e) > 0 AS is_valid
FROM v
ORDER BY vec_id
"""


@register("validate_embeddings", oracle=_VALIDATE_SQL, tags=("similarity", "safety"))
def validate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest validation for the embedding column — the gate that
    keeps one corrupt row from aborting a 100 TB cosine job: dimension
    count, out-of-range/NaN elements (NOT (|x| ≤ bound) is TRUE for
    NaN on both engines — the bound is the fixed-point quantization
    domain, so anything it flags would overflow the exact centroid
    path), and the zero-norm flag the cosine family's scan filter
    excludes. Production runs this at ingest and quarantines
    ``NOT is_valid`` rows; the similarity queries then see a clean
    domain. One pass, pure codegen."""
    emb = load_table(spark, sf_dir, "embeddings")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    n_bad = F.size(F.filter(ed, lambda x: ~(F.abs(x) <= _MAG_BOUND)))
    nonzero = dot_col(F.col("embedding"), F.col("embedding")) > 0
    n_dims = F.size(ed)
    return emb.select(
        "vec_id",
        "label",
        n_dims.cast("bigint").alias("n_dims"),
        n_bad.cast("bigint").alias("n_out_of_range"),
        nonzero.alias("nonzero_norm"),
        ((n_dims == _EXPECT_DIM) & (n_bad == 0) & nonzero).alias("is_valid"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------
# Product-quantized (PQ) ANN: the memory-side scale path
# ---------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_DSUB = _EMB_DIM // _PQ_M  # dims per subspace
_PQ_K = 8  # codes per subspace; codebooks seeded at vec_id < K

# PQ-specific magnitude gate (tighter than _MAG_BOUND): the integer
# exactness of the whole PQ chain rests on every list_dot_product /
# BLAS product staying an exact float64 integer. With |x| ≤ 2 each
# fixed-point element is ≤ 2·scale + ½ ≈ 2²¹, so a d_sub=16 dot is
# < 2^47, the three-dot d2 identity's intermediates are < 2^49, and
# the M-subspace ADC sum is < 2^51 — all comfortably below 2^53, so
# BOTH engines compute bit-identical integers regardless of summation
# order. The general _MAG_BOUND (1e6) admits elements whose dots
# exceed 2^53, where the two engines' different summation orders can
# legitimately disagree — such rows are excluded from the PQ domain
# by BOTH scans (this is the enforced precondition, not an assumed
# one; tests/test_pq.py probes the ±2e6 fixed-point boundary).
_PQ_MAG_BOUND = 2.0

_PQ_VALID_WHERE = (
    f"({_VALID_WHERE}"
    " AND len(list_filter(cast(embedding AS double[]),"
    f" x -> NOT (abs(x) <= {_PQ_MAG_BOUND}))) = 0)"
)


def pq_valid_embedding_pred() -> Column:
    """Spark mirror of ``_PQ_VALID_WHERE``."""
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    n_big = F.size(F.filter(ed, lambda x: ~(F.abs(x) <= _PQ_MAG_BOUND)))
    return valid_embedding_pred() & (n_big == 0)


def _pq_d2_sql(a: str, b: str) -> str:
    """Integer squared-L2 between two fixed-point subvectors via the
    three-dot identity. Every dot ≤ d·(2·scale)² < 2^47, so the
    double-valued ``list_dot_product`` is exact and the bigint cast is
    lossless — the distance is an exact integer on both engines."""
    return (
        f"cast(list_dot_product({a},{a}) - 2*list_dot_product({a},{b})"
        f" + list_dot_product({b},{b}) AS bigint)"
    )


def _pq_cte() -> str:
    """Shared oracle CTE chain replaying the SAME deterministic PQ
    build: slice the fixed-point grid into M subspaces, seed K codes
    from vec_id < K, one Lloyd refinement with grid-rounded means,
    encode by per-subspace argmin (ties to the lower centroid id),
    then ADC — approximate distance = Σ_m lut[m][code_m], an exact
    bigint; ends at ``r`` (the per-query ADC ranking)."""
    m_range = range(_PQ_M)
    parts = [
        f"""WITH v AS (
  SELECT vec_id,
         [cast(floor(x * {_CENTROID_SCALE} + 0.5) AS bigint)
          for x in cast(embedding AS double[])] AS qe
  FROM embeddings WHERE {_PQ_VALID_WHERE}),
sub AS (SELECT vec_id, """
        + ", ".join(
            f"qe[{m * _PQ_DSUB + 1}:{(m + 1) * _PQ_DSUB}] AS s{m}"
            for m in m_range
        )
        + " FROM v)"
    ]
    for m in m_range:
        d2 = _pq_d2_sql(f"sub.s{m}", "c.ce")
        parts.append(f""",
c0_{m} AS (SELECT vec_id AS cid, s{m} AS ce FROM sub WHERE vec_id < {_PQ_K}),
a_{m} AS (
  SELECT vec_id, cid FROM (
    SELECT sub.vec_id, c.cid,
           row_number() OVER (PARTITION BY sub.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM sub, c0_{m} c
  ) WHERE rn = 1
),
s_{m} AS (
  SELECT cid, list(cast(floor(cast(s AS double) / n + 0.5) AS bigint)
                   ORDER BY i) AS ce
  FROM (SELECT a.cid, i, sum(sub.s{m}[i]) AS s, count(*) AS n
        FROM a_{m} a JOIN sub USING (vec_id),
             unnest(range(1, {_PQ_DSUB + 1})) AS u(i)
        GROUP BY a.cid, i)
  GROUP BY cid
),
c1_{m} AS (SELECT c0.cid, coalesce(s.ce, c0.ce) AS ce
           FROM c0_{m} c0 LEFT JOIN s_{m} s USING (cid)),
enc_{m} AS (
  SELECT vec_id, cid AS code FROM (
    SELECT sub.vec_id, c.cid,
           row_number() OVER (PARTITION BY sub.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM sub, c1_{m} c
  ) WHERE rn = 1
),
lut_{m} AS (SELECT q.vec_id AS query_id, c.cid,
                   {_pq_d2_sql(f"q.s{m}", "c.ce")} AS d2
            FROM (SELECT * FROM sub WHERE vec_id < {_N_QUERIES}) q, c1_{m} c)""")
    codes_join = " JOIN ".join(
        ["enc_0"] + [f"enc_{m} USING (vec_id)" for m in m_range if m]
    )
    lut_on = " ".join(
        f"JOIN lut_{m} l{m} ON l{m}.cid = cs.code{m}"
        + ("" if m == 0 else f" AND l{m}.query_id = l0.query_id")
        for m in m_range
    )
    parts.append(f""",
codes AS (SELECT vec_id,
                 {", ".join(f"enc_{m}.code AS code{m}" for m in m_range)}
          FROM {codes_join}),
score AS (
  SELECT l0.query_id, cs.vec_id AS neighbor_id,
         {" + ".join(f"l{m}.d2" for m in m_range)} AS approx_d2
  FROM codes cs
  {lut_on}
  WHERE cs.vec_id <> l0.query_id
),
r AS (
  SELECT query_id, neighbor_id, approx_d2,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_d2, neighbor_id) AS bigint)
           AS rank
  FROM score
)""")
    return "".join(parts)


def _pq_sql() -> str:
    return _pq_cte() + f"""
SELECT query_id, neighbor_id, approx_d2, rank
FROM r WHERE rank <= {_TOPK}
ORDER BY query_id, rank"""


_PQ_RERANK = 25  # ADC shortlist size fed to the exact re-rank


def _pq_rerank_sql() -> str:
    """Two-stage oracle: the shared PQ chain produces the ADC ranking;
    the top-R shortlist joins back to the full fixed-point vectors for
    an exact integer re-rank."""
    return _pq_cte() + f""",
shortlist AS (SELECT query_id, neighbor_id FROM r WHERE rank <= {_PQ_RERANK}),
rr AS (
  SELECT s.query_id, s.neighbor_id, {_pq_d2_sql("nv.qe", "qv.qe")} AS d2
  FROM shortlist s
  JOIN v nv ON nv.vec_id = s.neighbor_id
  JOIN v qv ON qv.vec_id = s.query_id
)
SELECT query_id, neighbor_id, d2, rank FROM (
  SELECT query_id, neighbor_id, d2,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY d2, neighbor_id) AS bigint) AS rank
  FROM rr
) WHERE rank <= {_TOPK}
ORDER BY query_id, rank"""


def _pq_sub_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, s0..s{M-1}): the fixed-point grid sliced into the M
    subspaces — PQ's working representation on both engines. The scan
    enforces the PQ-specific |x| ≤ {_PQ_MAG_BOUND} gate (see
    ``_PQ_VALID_WHERE``) so every downstream dot stays an exact
    float64 integer on both engines."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        pq_valid_embedding_pred()
    )
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _CENTROID_SCALE + 0.5).cast("long"),
    )
    v = emb.select("vec_id", quant.alias("qe"))
    return v.select(
        "vec_id",
        *[
            F.slice("qe", m * _PQ_DSUB + 1, _PQ_DSUB).alias(f"s{m}")
            for m in range(_PQ_M)
        ],
    )


def _pq_books_matrix(books):
    """books → (M, K, D_sub) int64 centroid tensor, book order (=
    ascending cid, the tie-break order)."""
    import numpy as np

    return np.array(
        [[ce for _, ce in books[m]] for m in range(_PQ_M)], dtype=np.int64
    )


def _pq_argmin_np(X, C):
    """Vectorized exact argmin over one subspace: X (n×d_sub) int64,
    C (K×d_sub) int64. Every dot ≤ d_sub·(2·scale)² < 2^48, so the
    float64 BLAS products and their ≤2^49 sums are EXACT integers —
    bit-identical to the oracle's per-pair three-dot form — and
    np.argmin's first-minimum rule IS the (d2 asc, cid asc) tie-break
    because book order is ascending cid."""
    import numpy as np

    Xf = X.astype(np.float64)
    Cf = C.astype(np.float64)
    d2 = (
        (Xf * Xf).sum(axis=1)[:, None]
        - 2.0 * (Xf @ Cf.T)
        + (Cf * Cf).sum(axis=1)[None, :]
    )
    return np.argmin(d2, axis=1)


def _pq_batch_cols(batch):
    """RecordBatch → (vec_id ndarray, [X_m (n×d_sub) int64])."""
    import numpy as np

    names = batch.schema.names
    vid = batch.column(names.index("vec_id")).to_numpy(zero_copy_only=False)
    xs = []
    for m in range(_PQ_M):
        col = batch.column(names.index(f"s{m}"))
        xs.append(
            col.flatten().to_numpy(zero_copy_only=False)
            .astype(np.int64)
            .reshape(-1, _PQ_DSUB)
        )
    return vid, xs


def _pq_scored(spark: SparkSession, sf_dir: str):
    """The trained-and-scored PQ core shared by ann_pq_topk and
    ann_pq_rerank — returns (sub, scored, queries): ``scored`` is the
    full ADC score stream (query_id, neighbor_id, approx_d2),
    ``queries`` the Q-row broadcastable frame carrying each query's
    LUT and full fixed-point vector; (None, None, None) when the valid
    domain has no seeds.

    PRODUCT QUANTIZATION with asymmetric-distance (ADC) lookup
    tables — the memory-side scale path of billion-vector search
    (Jégou, Douze & Schmid, TPAMI 2011): each vector is held as
    M codebook indices (here 4 bytes) instead of d floats (256 bytes),
    and scoring a query is M table lookups per vector instead of d
    multiplies.

    EXACTLY verifiable because everything lives on the fixed-point
    integer grid: subvectors are scale-1e6 bigints, codebook means are
    grid-rounded, and every distance (training argmin, encoding, the
    ADC entries) is an exact INTEGER — no float accumulation anywhere,
    so the oracle's unrolled SQL replay hash-matches under any
    partitioning. Codebooks seed at vec_id < K (the kmeans seeding
    rule) with one Lloyd refinement; ties to the lower centroid id.

    Scale shape: training streams the corpus once through a vectorized
    Arrow kernel (numpy argmin per partition — the minhash-signature
    pattern) that emits only the ≤ M·K per-partition fixed-point sums
    into the exchange; the driver holds the K×M codebook model,
    exactly like kmeans_embeddings. Encoding + ADC scoring is ONE more
    Arrow pass (codes by argmin, adc = Σ_m LUT_m[code_m] by fancy
    indexing, LUTs shipped in the closure — KBs) emitting only the
    (query_id, neighbor_id, approx_d2) scalars, so the post-scan plan
    is just the ranking window — the vectors themselves never shuffle
    (plan-locked, tests/test_plan_shapes.py). Exactness is unchanged:
    every dot ≤ d_sub·(2·scale)² < 2^48, so the float64 BLAS products
    are exact integers and argmin's first-minimum rule IS the oracle's
    (d2 asc, cid asc) tie-break. At 100 TB the resident index is
    codes-only (64× smaller than the raw vectors); re-ranking
    survivors against full vectors composes with ann_cosine_topk on
    the top-k ids."""
    import math

    sub = _pq_sub_frame(spark, sf_dir)
    seeds = sorted(
        sub.filter(F.col("vec_id") < _PQ_K).collect(), key=lambda r: r.vec_id
    )
    if not seeds:  # no valid seeds → no codebook → empty result
        return None, None, None
    books = {
        m: [(int(r.vec_id), list(r[f"s{m}"])) for r in seeds]
        for m in range(_PQ_M)
    }

    # One Lloyd refinement, Arrow-vectorized (the minhash-kernel
    # pattern): each partition streams once through a numpy argmin and
    # emits ONLY its (m, cid) partial sums — ≤ M·K small rows per
    # partition into the exchange, the vectors never leave the scan.
    import numpy as np
    import pyarrow as pa

    C0 = _pq_books_matrix(books)
    cids = np.array([cid for cid, _ in books[0]], dtype=np.int64)
    n_k = len(cids)
    part_schema = "m int, cid bigint, n bigint, " + ", ".join(
        f"t{i} bigint" for i in range(_PQ_DSUB)
    )

    def train_partials(batches):
        tsum = np.zeros((_PQ_M, n_k, _PQ_DSUB), dtype=np.int64)
        tcnt = np.zeros((_PQ_M, n_k), dtype=np.int64)
        seen = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            seen = True
            _vid, xs = _pq_batch_cols(batch)
            for m in range(_PQ_M):
                idx = _pq_argmin_np(xs[m], C0[m])
                np.add.at(tsum[m], idx, xs[m])
                tcnt[m] += np.bincount(idx, minlength=n_k)
        if not seen:
            return
        ms, ks = np.nonzero(tcnt)
        arrays = [
            pa.array(ms.astype("int32")),
            pa.array(cids[ks]),
            pa.array(tcnt[ms, ks]),
        ] + [pa.array(tsum[ms, ks, i]) for i in range(_PQ_DSUB)]
        yield pa.RecordBatch.from_arrays(
            arrays, ["m", "cid", "n"] + [f"t{i}" for i in range(_PQ_DSUB)]
        )

    sums = (
        sub.mapInArrow(train_partials, part_schema)
        .groupBy("m", "cid")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(f"t{i}").alias(f"t{i}") for i in range(_PQ_DSUB)],
        )
        .collect()
    )
    means = {
        (int(r.m), int(r.cid)): [
            int(math.floor(r[f"t{i}"] / r.n + 0.5)) for i in range(_PQ_DSUB)
        ]
        for r in sums
    }
    books = {
        m: [(cid, means.get((m, cid), ce)) for cid, ce in books[m]]
        for m in range(_PQ_M)
    }

    # ADC lookup tables for the Q=K seed queries: exact integer d2
    # between each query subvector and each refined centroid, in book
    # order (the encode struct's idx indexes straight into them).
    def int_d2(a: list[int], b: list[int]) -> int:
        return sum((x - c) * (x - c) for x, c in zip(a, b))

    qrows = [r for r in seeds if r.vec_id < _N_QUERIES]
    qdf = spark.createDataFrame(
        [
            (
                int(r.vec_id),
                [
                    [int_d2(list(r[f"s{m}"]), ce) for _, ce in books[m]]
                    for m in range(_PQ_M)
                ],
                [int(x) for m in range(_PQ_M) for x in r[f"s{m}"]],
            )
            for r in qrows
        ],
        "query_id bigint, lut array<array<bigint>>, qqe array<bigint>",
    )

    # Encode + ADC score in ONE Arrow pass: per batch, numpy argmin
    # gives the M codes, then adc = Σ_m LUT_m[code_m] by fancy
    # indexing — the kernel emits only (query_id, neighbor_id,
    # approx_d2) scalars, so the post-scan plan is just the ranking
    # window. (The codegen fold this replaced evaluated ~1k expression
    # nodes per vector; the vectorized kernel measured 5.5× on the
    # 200k-vector expansion with identical — integer-exact — output.)
    C1 = _pq_books_matrix(books)
    qids = np.array([int(r.vec_id) for r in qrows], dtype=np.int64)
    # Lm[m]: (K × Q) int64 — LUT in book order per subspace
    Lm = np.array(
        [
            [[int_d2(list(r[f"s{m}"]), ce) for r in qrows] for _, ce in books[m]]
            for m in range(_PQ_M)
        ],
        dtype=np.int64,
    )
    n_q = len(qids)

    def adc_score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            vid, xs = _pq_batch_cols(batch)
            n = len(vid)
            adc = np.zeros((n, n_q), dtype=np.int64)
            for m in range(_PQ_M):
                idx = _pq_argmin_np(xs[m], C1[m])
                adc += Lm[m][idx]
            qid = np.broadcast_to(qids, (n, n_q))
            keep = vid[:, None] != qid
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qid[keep]),
                    pa.array(np.repeat(vid.astype(np.int64), n_q)[keep.ravel()]),
                    pa.array(adc[keep]),
                ],
                ["query_id", "neighbor_id", "approx_d2"],
            )

    scored = sub.mapInArrow(
        adc_score, "query_id bigint, neighbor_id bigint, approx_d2 bigint"
    )
    return sub, scored, qdf


@register("ann_pq_topk", oracle=_pq_sql(), tags=("similarity", "quantization"))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by product quantization — see ``_pq_scored`` for the full
    design; this query ranks the ADC scores per query."""
    _sub, scored, _q = _pq_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, approx_d2 bigint, rank bigint"
        )
    w = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .orderBy("query_id", "rank")
    )


@register("ann_pq_rerank", oracle=_pq_rerank_sql(), tags=("similarity", "quantization"))
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the PRODUCTION deployment of PQ: the ADC
    stream shortlists top-R (R = _PQ_RERANK = 25) per query, then ONLY
    those R·Q survivors are re-ranked by exact distance against the
    full fixed-point vectors — the accuracy of exact search at the
    scan cost of the codes-only index.

    Scale shape: stage 1 is ann_pq_topk's single codes scan; the
    shortlist (R·Q id pairs, a few KB) broadcasts BACK to the corpus
    scan, so fetching the survivors' full vectors is a broadcast hash
    semi-probe — the corpus never shuffles, and the exact re-rank
    window sees R·Q rows total. Every distance stays an exact bigint,
    so the two-stage oracle replay hash-matches."""
    sub, scored, qdf = _pq_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, d2 bigint, rank bigint"
        )
    w1 = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    nv = sub.select(
        F.col("vec_id").alias("neighbor_id"),
        F.concat(*[F.col(f"s{m}") for m in range(_PQ_M)]).alias("nqe"),
    )
    d2 = F.aggregate(
        F.zip_with("nqe", "qqe", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    j = (
        nv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qdf.select("query_id", "qqe")), "query_id")
        .select("query_id", "neighbor_id", d2.alias("d2"))
    )
    w2 = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        j.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------
# Embedding drift monitor (encoder-version regression check)
# ---------------------------------------------------------------------

_DRIFT_THRESH = 0.01  # |Δ mean| per dimension flagged as drifted

_DRIFT_SQL = f"""
WITH v AS (SELECT vec_id,
                  [cast(floor(x * {_CENTROID_SCALE} + 0.5) AS bigint)
                   for x in cast(embedding AS double[])] AS qe
           FROM embeddings WHERE {_FINITE_WHERE}),
s AS (
  SELECT i AS dim, vec_id % 2 AS half, sum(qe[i]) AS sq, count(*) AS n
  FROM v, unnest(range(1, {_CENTROID_DIM + 1})) AS u(i)
  GROUP BY 1, 2
),
m AS (
  SELECT dim,
         max(CASE WHEN half = 0 THEN cast(sq AS double)
                                     / (n * {_CENTROID_SCALE}.0) END) AS mean_a,
         max(CASE WHEN half = 1 THEN cast(sq AS double)
                                     / (n * {_CENTROID_SCALE}.0) END) AS mean_b
  FROM s GROUP BY dim
)
SELECT cast(dim AS bigint) AS dim,
       round(mean_a, 9) AS mean_a, round(mean_b, 9) AS mean_b,
       round(mean_b - mean_a, 9) AS shift,
       coalesce(abs(mean_b - mean_a) > {_DRIFT_THRESH}, false) AS is_drifted
FROM m
ORDER BY dim
"""


@register("embedding_drift", oracle=_DRIFT_SQL, tags=("similarity", "audit"))
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension drift between two embedding snapshots — the
    regression check one runs when the upstream encoder changes (a new
    checkpoint quietly shifting dimension means poisons every resident
    ANN index built on the old geometry). Snapshots are simulated from
    the one fixture table (vec_id parity); production passes two real
    snapshot scans through the same plan.

    Exactness: per-(dim, half) sums are FIXED-POINT bigints (order-
    independent under any partitioning), the mean division and shift
    are computed identically on both engines, and the flag compares
    the unrounded shift. Scale: one pass per snapshot, 2·d aggregate
    rows exchanged (map-side combined) — the vectors never shuffle."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        finite_embedding_pred()
    )
    quant = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _CENTROID_SCALE + 0.5).cast("long"),
    )
    q = emb.select((F.col("vec_id") % 2).alias("half"), quant.alias("qe"))
    s = (
        q.select("half", F.posexplode("qe").alias("i0", "x"))
        .groupBy("half", "i0")
        .agg(F.sum("x").alias("sq"), F.count("*").alias("n"))
    )
    mean = F.col("sq").cast("double") / (F.col("n") * float(_CENTROID_SCALE))
    m = (
        s.select((F.col("i0") + 1).cast("bigint").alias("dim"), "half", mean.alias("mean"))
        .groupBy("dim")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("mean"))).alias("mean_a"),
            F.max(F.when(F.col("half") == 1, F.col("mean"))).alias("mean_b"),
        )
    )
    shift = F.col("mean_b") - F.col("mean_a")
    return m.select(
        "dim",
        F.round("mean_a", 9).alias("mean_a"),
        F.round("mean_b", 9).alias("mean_b"),
        F.round(shift, 9).alias("shift"),
        F.coalesce(F.abs(shift) > _DRIFT_THRESH, F.lit(False)).alias(
            "is_drifted"
        ),
    ).orderBy("dim")


# ---------------------------------------------------------------------
# Greedy k-center coreset (Gonzalez farthest-point selection)
# ---------------------------------------------------------------------

_KC_K = 8


def _kc_d2(m: str, c: str) -> str:
    return (
        f"list_dot_product({m}.e, {m}.e) - 2 * list_dot_product({m}.e, {c}.ce)"
        f" + list_dot_product({c}.ce, {c}.ce)"
    )


def _kc_sql() -> str:
    """Unrolled DuckDB replay of the greedy selection: cent0 = min
    vec_id; each round picks the point with the LARGEST running
    min-d2 (strictly > 0, ties to the lower vec_id); the final
    assignment re-ranks every point against the chosen set with the
    same (d2 asc, cid asc) rule as the KMeans oracle."""
    k = _KC_K
    parts = [f"""WITH v AS (SELECT vec_id, cast(embedding AS double[]) AS e
  FROM embeddings WHERE {_VALID_WHERE}),
cent0 AS (SELECT vec_id AS cid, e AS ce FROM v
          WHERE vec_id = (SELECT min(vec_id) FROM v)),
m0 AS (SELECT m.vec_id, m.e, {_kc_d2('m', 'c')} AS md2 FROM v m, cent0 c)"""]
    for i in range(1, k):
        p = i - 1
        d2 = _kc_d2("m", "c")
        parts.append(f""",
n{i} AS (SELECT vec_id FROM m{p} WHERE md2 > 0
         ORDER BY md2 DESC, vec_id LIMIT 1),
cent{i} AS (SELECT v.vec_id AS cid, v.e AS ce FROM v JOIN n{i} USING (vec_id)),
m{i} AS (
  SELECT m.vec_id, m.e,
         CASE WHEN c.cid IS NULL THEN m.md2
              WHEN {d2} < m.md2 THEN {d2}
              ELSE m.md2 END AS md2
  FROM m{p} m LEFT JOIN cent{i} c ON TRUE
)""")
    sel_union = "\n        UNION ALL ".join(
        ["SELECT cid, 0 AS sel_idx FROM cent0"]
        + [f"SELECT cid, {i} AS sel_idx FROM cent{i}" for i in range(1, k)]
    )
    d2a = _kc_d2("m", "c")
    parts.append(f""",
sel AS ({sel_union}),
centv AS (SELECT s.cid, v.e AS ce FROM sel s JOIN v ON v.vec_id = s.cid),
assign AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT m.vec_id, c.cid, {d2a} AS d2,
           row_number() OVER (PARTITION BY m.vec_id
                              ORDER BY {d2a}, c.cid) AS rn
    FROM v m, centv c
  ) WHERE rn = 1
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS center_id, round(a.d2, 6) AS d2,
       CAST(s.sel_idx AS BIGINT) AS sel_idx
FROM assign a LEFT JOIN sel s ON s.cid = a.vec_id
ORDER BY a.vec_id""")
    return "".join(parts)


@register(
    "kcenter_coreset",
    oracle=_kc_sql(),
    tags=("similarity", "sampling", "iterative"),
)
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY K-CENTER coreset (Gonzalez 1985 farthest-point
    traversal): pick the min-vec_id seed, then k−1 times the point
    FARTHEST from the chosen set — the classic 2-approximation to the
    k-center cover, used as a diversity-maximizing coreset selector
    over embeddings (complementing DSIR's distribution-matching
    selection: k-center picks what's DIFFERENT, DSIR picks what's
    target-like). Output: every valid vector with its nearest chosen
    center, the squared distance (the covering radius is the max), and
    the selection index for chosen rows.

    Exactness: squared-L2 by the three-dot identity over sequential
    double folds (the proven KMeans recipe, bit-equal to DuckDB's
    list_dot_product); the running min is a pure LEAST over doubles
    (no tie-dependent state), argmax ties break to the lower vec_id in
    both engines, and a next center is only accepted at md2 > 0 — so
    exact-duplicate points can never produce a duplicate center and
    the unrolled oracle replays the identical trajectory.

    Scale shape: k scans total (selection is inherently sequential in
    k). Each round evaluates d2 against ≤ k center LITERALS scan-side
    (no join, no window) and reduces with a TakeOrdered(1) — the only
    thing ever collected is one (vec_id) row per round plus the k
    center vectors (k·d doubles — the driver owns the model, exactly
    as in KMeans/PQ). The final assignment is the KMeans argmin shape:
    one scan against a sorted candidate-literal array. At 100 TB:
    k·(scan cost); no corpus-keyed exchange at any point.
    """
    from ..caching import hold

    emb = load_embeddings(spark, sf_dir)
    v = hold(
        "kcenter_v",
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
            dot_col(F.col("embedding"), F.col("embedding")).alias("ee"),
        ),
    )

    def py_dot(xs):
        acc = 0.0
        for x in xs:
            acc = acc + x * x
        return acc

    def d2_col(ce):
        return (
            F.col("ee")
            - 2 * dot_col(F.col("e"), F.array(*[F.lit(float(x)) for x in ce]))
            + F.lit(py_dot(ce))
        )

    empty = v.select(
        "vec_id",
        F.lit(None).cast("bigint").alias("center_id"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("bigint").alias("sel_idx"),
    ).limit(0)
    # One scan per round: the selection TakeOrdered(1) carries the
    # center's vector `e` alongside its id, so no second point-lookup
    # scan is needed to fetch the chosen vector (k scans total, not 2k).
    seed_row = v.orderBy("vec_id").select("vec_id", "e").limit(1).collect()
    if not seed_row:
        return empty

    cents = [(int(seed_row[0].vec_id), list(seed_row[0].e))]
    for _ in range(1, _KC_K):
        d2s = [d2_col(ce) for _, ce in cents]
        md2 = d2s[0] if len(d2s) == 1 else F.least(*d2s)
        top = (
            v.select("vec_id", "e", md2.alias("md2"))
            .filter(F.col("md2") > 0)
            .orderBy(F.col("md2").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not top:
            break
        cents.append((int(top[0].vec_id), list(top[0].e)))

    cands = F.array(
        *[
            F.struct(
                d2_col(ce).alias("d2"), F.lit(cid).cast("long").alias("cid")
            )
            for cid, ce in cents
        ]
    )
    best = F.element_at(
        F.array_sort(
            cands,
            lambda l, r: F.when(l["d2"] < r["d2"], F.lit(-1))
            .when(l["d2"] > r["d2"], F.lit(1))
            .when(l["cid"] < r["cid"], F.lit(-1))
            .otherwise(F.lit(1)),
        ),
        1,
    )
    sel = F.lit(None).cast("bigint")
    for idx, (cid, _) in enumerate(cents):
        sel = F.when(F.col("vec_id") == cid, F.lit(idx).cast("bigint")).otherwise(sel)
    out = v.select("vec_id", best.alias("best"), sel.alias("sel_idx"))
    return out.select(
        "vec_id",
        F.col("best.cid").cast("bigint").alias("center_id"),
        F.round("best.d2", 6).alias("d2"),
        "sel_idx",
    ).orderBy("vec_id")
