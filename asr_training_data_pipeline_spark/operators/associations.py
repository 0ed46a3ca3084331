"""Association / blocking / incremental-maintenance operators:
market-basket 2-itemset mining (a-priori), sorted-neighborhood dedup
blocking on a distributed rank, and monoid-merge aggregate refresh.

Why these exist in a 100 TB engine:

* **basket_lift** — co-occurrence mining ("parts ordered together")
  is the relational cousin of PMI collocations (`pmi_collocations`):
  the naive pair self-join is quadratic in basket size and linear in
  baskets, so the scalable shape is the A-PRIORI prune — drop items
  below the pair-support threshold BEFORE generating pairs (lossless
  by support monotonicity: a pair occurring >= s times implies each
  member occurs >= s times). The surviving item-count table is tiny
  and broadcast; the only big shuffle keys on the basket id.
  Reference: Agrawal & Srikant, "Fast Algorithms for Mining
  Association Rules" (VLDB 1994).

* **sorted_neighborhood_pairs** — the third classic dedup-blocking
  family (after LSH banding and inverted-index shingles): sort the
  corpus by a normalized key and compare each record only to its W
  sort-neighbors. The scale problem is the GLOBAL RANK — a
  row_number() over one unpartitioned window serializes the corpus
  through a single task. Here the rank is two-level: a per-bucket
  window (bucket = the sampled-boundary interval of the full
  (key, id) tuple, balanced for ANY key distribution — see
  :func:`distributed_rank`) plus bucket-count offsets from a tiny
  aggregate — the same shape as Spark's own global sort, but with a
  deterministic fixed-seed hash-sample so the rank is a pure
  function of the data, never of partitioning, which is what makes
  the DuckDB replay hash-exact. Reference: Hernández & Stolfo, "The
  merge/purge problem for large databases" (SIGMOD 1995).

* **incremental_agg_refresh** — materialized-aggregate maintenance:
  count/sum per group form a commutative monoid, so a stored
  aggregate is refreshed by aggregating ONLY the change log and
  merging with a full-outer coalesce — the base fact table is never
  rescanned. Negative weights express retractions. At 100 TB this is
  the difference between a refresh proportional to the day's delta
  and one proportional to the corpus.

The arithmetic is exact-integer end to end (ppm / milli units via
bigint floor division; event values in the ms fixed-point convention
of `queries.py`), so every operator here carries an exact DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import itertools

from ..caching import hold
from ..functions.casefold import (
    FOLD_DST as _ASCII_LO,  # legacy names; now the full generated fold
    FOLD_SRC as _ASCII_UP,
    PROJ_DST,
    PROJ_SRC,
    PROJECTED_GATE,
)
from ..registry import register
from ..sources.tables import load_table
from .shingles import shingles_col, shingles_sql, tokens_attr

_RANK_SLOT = itertools.count()  # cycling cache slots for rank inputs

# portable casefold (same rationale as the text_analysis _FOLD_SQL):
# full Unicode lower() is not bit-identical across engines; the
# generated translate table (functions/casefold.py — ASCII +
# Latin/Greek/Cyrillic 1:1 simple case maps) is, by construction.
_FOLD = f"translate(coalesce(text, ''), '{_ASCII_UP}', '{_ASCII_LO}')"
# Edit-distance operators additionally PROJECT the folded key onto
# single ASCII bytes (functions/casefold.py PROJ tables: Latin accents
# → NFD base, TR39 homoglyphs → their Latin double, other
# Greek/Cyrillic letters → distinct collision-free slots) — so DuckDB's
# byte-counting levenshtein and Spark's UTF-16-unit one agree exactly
# (measured divergence without it: 'é'→2 vs 1). Keys whose projection
# still carries multi-byte codepoints (CJK, Arabic, emoji …) are gated
# out — character edit distance is not a meaningful linkage metric
# there anyway; the r7 gate excluded ALL non-ASCII text.
_PROJ = f"translate({_FOLD}, '{PROJ_SRC}', '{PROJ_DST}')"

# ---------------------------------------------------------------------
# Market-basket 2-itemsets (a-priori prune, exact-integer lift)
# ---------------------------------------------------------------------

_MIN_PAIR_SUPPORT = 3  # absolute pair-count threshold
_TOP_PAIRS = 100

_BASKET_SQL = f"""
WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM baskets),
items AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM baskets GROUP BY item),
freq AS (SELECT item, cnt FROM items WHERE cnt >= {_MIN_PAIR_SUPPORT}),
pruned AS (SELECT b.ok, b.item, f.cnt FROM baskets b JOIN freq f ON f.item = b.item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS pair_cnt,
         MAX(a.cnt) AS cnt_a, MAX(b.cnt) AS cnt_b
  FROM pruned a JOIN pruned b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING COUNT(*) >= {_MIN_PAIR_SUPPORT})
SELECT item_a, item_b, pair_cnt, cnt_a, cnt_b,
       CAST(pair_cnt * 1000000 // n.n_baskets AS BIGINT) AS support_ppm,
       CAST(pair_cnt * 1000000 // cnt_a AS BIGINT) AS conf_ab_ppm,
       CAST(pair_cnt * 1000000 // cnt_b AS BIGINT) AS conf_ba_ppm,
       CAST(pair_cnt::HUGEINT * n.n_baskets * 1000
            // (cnt_a::HUGEINT * cnt_b) AS BIGINT) AS lift_milli
FROM pairs, n
ORDER BY lift_milli DESC, item_a, item_b
LIMIT {_TOP_PAIRS}
"""


@register("basket_lift", oracle=_BASKET_SQL, tags=("association", "events"))
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-PRIORI 2-itemset association mining over order baskets: the
    top co-ordered part pairs by lift, with exact-integer
    support/confidence/lift (ppm / milli units, bigint floor
    division — no float ratios, so the oracle compare is hash-exact).

    Scale shape (Agrawal-Srikant a-priori, VLDB 1994): items below
    the pair-support threshold are pruned BEFORE pair generation —
    lossless, because pair support is bounded by member support.
    The pruned item-count frame (<= |parts| rows, far smaller after
    the threshold) is BROADCAST onto the basket scan, so the only
    big shuffles key on the basket id (the pair self-join) and on
    the pair itself (map-side-combined count). Pair-count arithmetic
    stays under 2^53 by construction (pair_cnt <= n_baskets,
    cnt_a*cnt_b <= (rows)^2 at any TPC-H SF this engine targets).

    The final top-100 is a TakeOrdered (per-partition top-k
    + driver merge), never a full sort: ordering by (lift, item_a,
    item_b) is a total order, so the cut is deterministic. The lift
    numerator (pair_cnt · n_baskets · 1000) runs in decimal(38,0)/
    HUGEINT on both engines — it exceeds bigint once pair counts and
    basket counts both reach the 1e6/1e8 range."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    n_baskets = baskets.agg(
        F.countDistinct("ok").cast("bigint").alias("n_baskets")
    )
    items = baskets.groupBy("item").agg(F.count("*").cast("bigint").alias("cnt"))
    freq = items.filter(F.col("cnt") >= _MIN_PAIR_SUPPORT)
    pruned = baskets.join(F.broadcast(freq), "item").select("ok", "item", "cnt")
    a = pruned.select(
        "ok", F.col("item").alias("item_a"), F.col("cnt").alias("ca")
    )
    b = pruned.select(
        "ok", F.col("item").alias("item_b"), F.col("cnt").alias("cb")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.count("*").cast("bigint").alias("pair_cnt"),
            F.max("ca").alias("cnt_a"),
            F.max("cb").alias("cnt_b"),
        )
        .filter(F.col("pair_cnt") >= _MIN_PAIR_SUPPORT)
    )
    return (
        pairs.crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            F.expr("pair_cnt * 1000000 div n_baskets").alias("support_ppm"),
            F.expr("pair_cnt * 1000000 div cnt_a").alias("conf_ab_ppm"),
            F.expr("pair_cnt * 1000000 div cnt_b").alias("conf_ba_ppm"),
            # lift numerator can exceed bigint at large SF (a 1e6-count
            # pair at ~1.5e8 baskets is ~1.5e20); DuckDB would raise on
            # bigint overflow while non-ANSI Spark wraps silently —
            # decimal(38,0)/HUGEINT on both sides keeps the floor
            # division exact (the pmi_collocations pattern).
            F.expr(
                "cast(cast(pair_cnt as decimal(38,0)) * n_baskets * 1000"
                " div (cast(cnt_a as decimal(38,0)) * cnt_b) as bigint)"
            ).alias("lift_milli"),
        )
        .orderBy(F.desc("lift_milli"), "item_a", "item_b")
        .limit(_TOP_PAIRS)
    )


# ---------------------------------------------------------------------
# Sorted-neighborhood blocking on a distributed two-level rank
# ---------------------------------------------------------------------

_SNM_WINDOW = 3  # compare each doc to its next W sort-neighbors
_SNM_KEY_LEN = 24  # normalized sort key: first chars of lower(text)
_SNM_SHINGLE_K = 3
_SNM_MIN_JAC_PPM = 200_000  # report candidates at >= 0.2 exact Jaccard

_SNM_SQL = f"""
WITH keyed AS (
  SELECT doc_id, substr({_FOLD}, 1, {_SNM_KEY_LEN}) AS key FROM documents
),
ranked AS (
  SELECT doc_id, key, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM keyed
),
{shingles_sql(_SNM_SHINGLE_K)},
sn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(a.rnk AS BIGINT) AS rank_a, CAST(b.rnk - a.rnk AS BIGINT) AS gap
  FROM ranked a JOIN ranked b ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW}
),
inter AS (
  SELECT c.doc_a AS da, c.doc_b AS db, CAST(COUNT(*) AS BIGINT) AS i
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b, c.rank_a, c.gap,
       CAST(COALESCE(i.i, 0) * 1000000
            // (na.n + nb.n - COALESCE(i.i, 0)) AS BIGINT) AS jac_ppm
FROM cand c
JOIN sn na ON na.doc_id = c.doc_a
JOIN sn nb ON nb.doc_id = c.doc_b
LEFT JOIN inter i ON i.da = c.doc_a AND i.db = c.doc_b
WHERE COALESCE(i.i, 0) * 1000000
      // (na.n + nb.n - COALESCE(i.i, 0)) >= {_SNM_MIN_JAC_PPM}
ORDER BY c.doc_a, c.doc_b
"""


# sampled-boundary rank: target sample size per requested bucket (the
# same balance knob as Spark's RangePartitioner samplePointsPerPartition
# hint; 64 points per boundary bounds the expected per-bucket skew)
_RANK_SAMPLE_PER_BUCKET = 64
_RANK_SAMPLE_CAP = 100_000  # driver-side collect ceiling (a few MB)


def _rank_boundaries(
    df: DataFrame, key: str, id_col: str, n_buckets: int
) -> list[tuple]:
    """Sorted (key, id) bucket boundaries from a DETERMINISTIC
    hash-sample of the frame — xxhash64 with its fixed seed, so the
    sample (and therefore every boundary) is a pure function of the
    data, not of partitioning, job ids, or retries. Two plan subtrees
    that both embed these boundaries as literals can never disagree,
    which is what makes the two-level rank recompute-safe.

    Cost: one count + one thin-projection sample scan — the same
    extra pass Spark's own RangePartitioner pays, but with its
    nondeterministic per-job sample seed replaced by a data hash."""
    n = df.count()
    target = min(_RANK_SAMPLE_PER_BUCKET * n_buckets, _RANK_SAMPLE_CAP)
    if n == 0:
        return []
    mod = max(1, n // max(target, 1))
    sample = (
        df.select(key, id_col)
        .filter(F.pmod(F.xxhash64(F.col(key), F.col(id_col)), F.lit(mod)) == 0)
        .collect()
    )
    tuples = sorted((r[0], r[1]) for r in sample)
    m = len(tuples)
    if m < 2:
        return []
    bounds = []
    for j in range(1, n_buckets):
        t = tuples[min(m - 1, (j * m) // n_buckets)]
        if not bounds or t != bounds[-1]:
            bounds.append(t)
    return bounds


def distributed_rank(
    df: DataFrame, key: str, id_col: str, num_buckets: int | None = None
) -> DataFrame:
    """Global dense row rank over ``ORDER BY (key, id_col)`` WITHOUT a
    single-partition window: a per-bucket ``row_number`` plus bucket
    offsets from a tiny bucket-count aggregate, where the bucket is
    the index of the (key, id) tuple's sampled-boundary interval.

    Why sampled boundaries, not a key-prefix bucket (the earlier
    shape): a prefix bucket inherits the key DISTRIBUTION — a
    constant-offset numeric rank key put 100% of rows in one bucket
    (every ``2^62 + metric`` key starts "04"), a dense domain like an
    order-frequency metric has fewer distinct prefixes than tasks,
    and Zipf-skewed text prefixes ("th", boilerplate headers)
    concentrate a corpus fraction in one bucket — and no static
    prefix length can fix a distribution it cannot see. Boundaries
    drawn from a hash-sample balance ANY distribution (Spark's own
    global sort partitions the same way), and because they cut on the
    full (key, id) tuple, ties on a hot key value spread across
    buckets by id instead of serializing into one task.

    Determinism: the sample is a fixed-seed hash of the data
    (:func:`_rank_boundaries`), the boundaries are embedded as plan
    LITERALS, and the bucket is therefore a pure function of the row
    — safe under recompute/retry, and the rank value itself never
    depends on where the boundaries fall (offset + local rank is the
    global rank for any order-consistent bucketing), which is what
    lets the DuckDB oracle replay it with a plain ROW_NUMBER.

    The only single-partition window runs over the BUCKET-COUNT frame
    (≤ num_buckets rows, never corpus rows) with an explicit literal
    partition key."""
    n_buckets = num_buckets or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # Four passes read this frame (count, boundary sample, the ranked
    # window, the bucket counts) — hold it so they share one
    # materialization. Slots cycle so concurrent ranks in one plan
    # (rfm's three metrics, multikey's two passes) don't evict each
    # other; eviction is a perf miss only — the deterministic bucket
    # makes recompute safe.
    df = hold(f"distributed_rank:{next(_RANK_SLOT) % 8}", df)
    bounds = _rank_boundaries(df, key, id_col, n_buckets)
    # bucket = #boundaries at or below this (key, id) tuple — a short
    # literal comparison ladder (≤ num_buckets-1 terms), codegen'd
    bkt = F.lit(0)
    for bk, bi in bounds:
        after = (F.col(key) > F.lit(bk)) | (
            (F.col(key) == F.lit(bk)) & (F.col(id_col) >= F.lit(bi))
        )
        bkt = bkt + F.when(after, 1).otherwise(0)
    bucketed = df.withColumn("_bkt", bkt)
    w_local = Window.partitionBy("_bkt").orderBy(key, id_col)
    local = bucketed.withColumn("_lr", F.row_number().over(w_local))
    counts = bucketed.groupBy("_bkt").agg(F.count("*").alias("_bc"))
    # The cumulative sum over the BUCKET-COUNT frame is the one place a
    # single partition is correct by construction (≤ num_buckets
    # rows); the literal partition key states that on the plan instead
    # of tripping WindowExec's no-partition warning.
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_bkt", F.coalesce(F.sum("_bc").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn("rnk", (F.col("_off") + F.col("_lr")).cast("bigint"))
        .drop("_bkt", "_lr", "_off")
    )


@register("sorted_neighborhood_pairs", oracle=_SNM_SQL, tags=("dedup", "text"))
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD dedup blocking (Hernández-Stolfo, SIGMOD
    1995): rank the corpus by a normalized key (the first 24 chars of
    lowercased text), pair each doc with its next W=3 sort-neighbors,
    and verify each candidate with
    the EXACT shingle Jaccard (integer ppm) — reporting pairs at
    >= 0.2. Complements the LSH/inverted-index blockers: O(n·W)
    candidates, no banding false negatives for prefix-similar docs.

    Scale shape: the global rank is the two-level
    :func:`distributed_rank` (per-bucket windows + tiny offset
    frame), NOT an unpartitioned row_number over the corpus; the
    neighbor join is an equi-join on (rank + d) for d in 1..W —
    integer keys only; the verify join ships each candidate doc's
    distinct-shingle array at most W+1 times. Docs shorter than the
    shingle k produce no shingles and (as in the oracle) never
    reach the verify stage."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(
            F.translate(
                F.coalesce(F.col("text"), F.lit("")), _ASCII_UP, _ASCII_LO
            ),
            1,
            _SNM_KEY_LEN,
        ).alias("key"),
    )
    ranked = distributed_rank(keyed, "key", "doc_id")
    lhs = ranked.select(
        F.col("doc_id").alias("doc_a"), F.col("rnk").alias("rank_a")
    ).withColumn(
        "gap", F.explode(F.sequence(F.lit(1), F.lit(_SNM_WINDOW)))
    ).withColumn("gap", F.col("gap").cast("bigint"))
    rhs = ranked.select(
        F.col("doc_id").alias("doc_b"), F.col("rnk").alias("rank_b")
    )
    cand = lhs.join(
        rhs, F.col("rank_b") == F.col("rank_a") + F.col("gap")
    ).select("doc_a", "doc_b", "rank_a", "gap")
    toked, toks = tokens_attr(docs)
    # token-count pre-filter, NOT sh.isNotNull(): a shingle-column
    # filter pushes to the scan with the HOF chain inlined (r11
    # forensics, SCALING.md)
    sh = toked.filter(F.size(toks) >= _SNM_SHINGLE_K).select(
        "doc_id",
        shingles_col(toks, _SNM_SHINGLE_K).alias("sh"),
    )
    verified = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb")),
            "doc_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("sa", "sb")).cast("bigint")
        )
        .withColumn(
            "jac_ppm",
            F.expr(
                "inter * 1000000 div "
                "(cast(size(sa) as bigint) + cast(size(sb) as bigint) - inter)"
            ),
        )
        .filter(F.col("jac_ppm") >= _SNM_MIN_JAC_PPM)
    )
    return verified.select(
        "doc_a", "doc_b", "rank_a", "gap", "jac_ppm"
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------
# Multi-pass sorted neighborhood: prefix + suffix keys
# ---------------------------------------------------------------------

_SNM_MK_SQL = f"""
WITH f AS (SELECT doc_id, {_FOLD} AS fk FROM documents),
k1 AS (SELECT doc_id, substr(fk, 1, {_SNM_KEY_LEN}) AS key FROM f),
k2 AS (SELECT doc_id,
              substr(fk, greatest(length(fk) - {_SNM_KEY_LEN - 1}, 1),
                     {_SNM_KEY_LEN}) AS key
       FROM f),
r1 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM k1),
r2 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM k2),
c1 AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM r1 a JOIN r1 b ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW}
),
c2 AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM r2 a JOIN r2 b ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW}
),
cand AS (
  SELECT doc_a, doc_b, MAX(p1) AS in_prefix_pass, MAX(p2) AS in_suffix_pass
  FROM (SELECT doc_a, doc_b, TRUE AS p1, FALSE AS p2 FROM c1
        UNION ALL
        SELECT doc_a, doc_b, FALSE AS p1, TRUE AS p2 FROM c2)
  GROUP BY doc_a, doc_b
),
{shingles_sql(_SNM_SHINGLE_K)},
sn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a AS da, c.doc_b AS db, CAST(COUNT(*) AS BIGINT) AS i
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b, c.in_prefix_pass, c.in_suffix_pass,
       CAST(COALESCE(i.i, 0) * 1000000
            // (na.n + nb.n - COALESCE(i.i, 0)) AS BIGINT) AS jac_ppm
FROM cand c
JOIN sn na ON na.doc_id = c.doc_a
JOIN sn nb ON nb.doc_id = c.doc_b
LEFT JOIN inter i ON i.da = c.doc_a AND i.db = c.doc_b
WHERE COALESCE(i.i, 0) * 1000000
      // (na.n + nb.n - COALESCE(i.i, 0)) >= {_SNM_MIN_JAC_PPM}
ORDER BY c.doc_a, c.doc_b
"""


def _snm_candidate_pairs(ranked: DataFrame, window: int = _SNM_WINDOW) -> DataFrame:
    """Canonical (min-id, max-id) neighbor pairs from a ranked frame:
    an equi-join on (rank + d) for d in 1..W — integer keys only."""
    lhs = ranked.select(
        F.col("doc_id").alias("id_l"), F.col("rnk").alias("r")
    ).withColumn("gap", F.explode(F.sequence(F.lit(1), F.lit(window))))
    rhs = ranked.select(F.col("doc_id").alias("id_r"), F.col("rnk").alias("r2"))
    return lhs.join(rhs, F.col("r2") == F.col("r") + F.col("gap")).select(
        F.least("id_l", "id_r").alias("doc_a"),
        F.greatest("id_l", "id_r").alias("doc_b"),
    )


@register("sorted_neighborhood_multikey", oracle=_SNM_MK_SQL, tags=("dedup", "text"))
def sorted_neighborhood_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS sorted neighborhood, as published (Hernández-Stolfo
    run the method several times with INDEPENDENT keys and union the
    candidates — single-key SNM misses any near-dup whose divergence
    falls inside the key): pass 1 ranks by the first 24 folded chars,
    pass 2 by the LAST 24 — a prefix-perturbed near-duplicate (a
    version tag, a byline, a BOM) escapes pass 1 but lands adjacent in
    pass 2, and vice versa for trailing perturbations.

    Each pass is the same two-level :func:`distributed_rank` + integer
    neighbor equi-join; pairs canonicalize to (min-id, max-id) and
    DEDUPE BEFORE the shingle verify, so a pair found by both passes
    pays the Jaccard once. Output marks which pass(es) produced each
    surviving pair — the per-pass recall report that tells an operator
    whether a third key would still pay."""
    docs = load_table(spark, sf_dir, "documents")
    folded = docs.select(
        "doc_id",
        F.translate(
            F.coalesce(F.col("text"), F.lit("")), _ASCII_UP, _ASCII_LO
        ).alias("fk"),
    )
    k1 = folded.select(
        "doc_id", F.substring("fk", 1, _SNM_KEY_LEN).alias("key")
    )
    k2 = folded.select(
        "doc_id",
        F.expr(
            f"substring(fk, greatest(length(fk) - {_SNM_KEY_LEN - 1}, 1),"
            f" {_SNM_KEY_LEN})"
        ).alias("key"),
    )
    c1 = _snm_candidate_pairs(distributed_rank(k1, "key", "doc_id")).select(
        "doc_a", "doc_b", F.lit(True).alias("p1"), F.lit(False).alias("p2")
    )
    c2 = _snm_candidate_pairs(distributed_rank(k2, "key", "doc_id")).select(
        "doc_a", "doc_b", F.lit(False).alias("p1"), F.lit(True).alias("p2")
    )
    cand = (
        c1.unionByName(c2)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("p1").alias("in_prefix_pass"),
            F.max("p2").alias("in_suffix_pass"),
        )
    )
    toked, toks = tokens_attr(docs)
    # token-count pre-filter, NOT sh.isNotNull(): a shingle-column
    # filter pushes to the scan with the HOF chain inlined (r11
    # forensics, SCALING.md)
    sh = toked.filter(F.size(toks) >= _SNM_SHINGLE_K).select(
        "doc_id",
        shingles_col(toks, _SNM_SHINGLE_K).alias("sh"),
    )
    verified = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb")),
            "doc_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("sa", "sb")).cast("bigint")
        )
        .withColumn(
            "jac_ppm",
            F.expr(
                "inter * 1000000 div "
                "(cast(size(sa) as bigint) + cast(size(sb) as bigint) - inter)"
            ),
        )
        .filter(F.col("jac_ppm") >= _SNM_MIN_JAC_PPM)
    )
    return verified.select(
        "doc_a", "doc_b", "in_prefix_pass", "in_suffix_pass", "jac_ppm"
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------
# Cross-source fuzzy record linkage (blocked Levenshtein best-match)
# ---------------------------------------------------------------------

_RL_KEY_LEN = 40  # normalized match key: first chars of lower(text)
_RL_BLOCK_LEN = 4  # block = key prefix; candidates pair within a block
_RL_MAX_DIST = 8  # edit-distance acceptance threshold

_LINKAGE_SQL = f"""
WITH d AS (
  SELECT doc_id, source, key, CAST(length(key) AS BIGINT) AS ln
  FROM (SELECT doc_id, source,
               substr({_PROJ}, 1, {_RL_KEY_LEN}) AS key
        FROM documents)
  WHERE regexp_matches(key, '{PROJECTED_GATE}')
),
cand AS (
  SELECT a.doc_id AS doc_id, a.source AS source,
         b.doc_id AS m_doc, b.source AS m_source,
         CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
  FROM d a JOIN d b
    ON substr(a.key, 1, {_RL_BLOCK_LEN}) = substr(b.key, 1, {_RL_BLOCK_LEN})
   AND a.source <> b.source
   AND abs(a.ln - b.ln) <= {_RL_MAX_DIST}
  WHERE levenshtein(a.key, b.key) <= {_RL_MAX_DIST}
),
best AS (SELECT doc_id, MIN(dist) AS dist FROM cand GROUP BY doc_id),
pick AS (
  SELECT c.doc_id, MIN(c.m_doc) AS match_doc, b.dist
  FROM cand c JOIN best b ON b.doc_id = c.doc_id AND b.dist = c.dist
  GROUP BY c.doc_id, b.dist
)
SELECT p.doc_id, d.source, p.match_doc, m.source AS match_source, p.dist
FROM pick p
JOIN d ON d.doc_id = p.doc_id
JOIN d m ON m.doc_id = p.match_doc
ORDER BY p.doc_id
"""


def _linkage_candidates(
    spark: SparkSession,
    sf_dir: str,
    residue: bool = False,
    docs: DataFrame | None = None,
):
    """(accepted candidate pairs, gated key frame) shared by the
    linkage queries. The match key is the FOLDED + ASCII-PROJECTED
    text (module-head _PROJ rationale): the projection makes DuckDB's
    byte-counting levenshtein and Spark's UTF-16-unit one agree
    exactly, so Cyrillic/Greek/accented-Latin records now link
    (r8, VERDICT r7 task 5 — r7 gated ALL non-ASCII out).

    ``residue=False`` (the oracle-exact path) keeps keys whose
    projection is pure single-byte ASCII; ``residue=True`` selects the
    complement — non-empty keys still carrying multi-byte codepoints
    (CJK, Hangul, Arabic, emoji …) — for the codepoint-distance path
    (:func:`linkage_cjk_residue`, VERDICT r8 task 5), where Spark's
    levenshtein is already codepoint-exact (probed: CJK and astral
    substitutions both count 1) but DuckDB's byte count cannot be made
    to agree, so that path carries a Python-reference oracle instead.
    Either way NULL/empty text is excluded; every document lands in
    exactly one of the two paths.

    ``docs`` overrides the corpus scan with an injected ``(doc_id,
    source, text)`` frame (the demo fixture path)."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    proj = F.translate(
        F.translate(
            F.coalesce(F.col("text"), F.lit("")), _ASCII_UP, _ASCII_LO
        ),
        PROJ_SRC,
        PROJ_DST,
    )
    keyed = docs.select(
        "doc_id",
        "source",
        F.substring(proj, 1, _RL_KEY_LEN).alias("key"),
    )
    gate = F.col("key").rlike(PROJECTED_GATE)
    if residue:
        gate = (F.length("key") > 0) & ~gate
    d = (
        keyed.filter(gate)
        .withColumn("ln", F.length("key").cast("bigint"))
        .withColumn("blk", F.substring("key", 1, _RL_BLOCK_LEN))
    )
    a = d.select(
        "blk", "doc_id", "source", F.col("key").alias("ka"), F.col("ln").alias("la")
    )
    b = d.select(
        "blk",
        F.col("doc_id").alias("m_doc"),
        F.col("source").alias("m_source"),
        F.col("key").alias("kb"),
        F.col("ln").alias("lb"),
    )
    # Pre-spread the probe side on (blk, doc_id): when the build side
    # broadcasts (small corpora), the post-join edit-distance work
    # inherits the PROBE side's partitioning — without this, a
    # one-file scan funnels every candidate pair through one task
    # (measured 27 s for 771k pairs on one core at sf0.1). Under a
    # shuffled join at scale the blk hash re-partitions anyway and
    # AQE's skew split handles hot blocks.
    cand = (
        a.repartition("blk", "doc_id").join(b, "blk")
        .filter(
            (F.col("source") != F.col("m_source"))
            & (F.abs(F.col("la") - F.col("lb")) <= _RL_MAX_DIST)
        )
        # 3-arg levenshtein runs the BANDED O(k·d) dp and returns -1
        # past the threshold — the acceptance set and accepted
        # distances are identical to the unbounded form the oracle
        # computes, at a fraction of the per-pair cost
        .withColumn(
            "dist",
            F.expr(f"levenshtein(ka, kb, {_RL_MAX_DIST})").cast("bigint"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _RL_MAX_DIST))
        .select("doc_id", "source", "m_doc", "m_source", "dist")
    )
    return cand, d


@register("record_linkage_fuzzy", oracle=_LINKAGE_SQL, tags=("dedup", "text"))
def record_linkage_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE fuzzy record linkage: for every document, the best
    match in any OTHER source by Levenshtein distance over a
    normalized key (first 40 chars of lowercased text), accepted at
    distance ≤ 8 — the entity-resolution shape that reconciles the
    same record ingested through different feeds (Fellegi & Sunter,
    JASA 1969; the blocked-join framing follows the merge/purge
    literature).

    Scale shape: the quadratic is contained twice BEFORE any edit
    distance runs — candidates must share a 4-char key-prefix BLOCK
    (an equi-join, so the only corpus exchange keys on the block), and
    must pass the |len(a)−len(b)| ≤ d length bound (a free Levenshtein
    lower bound). Only survivors pay the O(k²) distance, JVM-side via
    the codegen `levenshtein`. Best-match selection is two aggregates
    over the (already small) accepted-candidate frame: min distance
    per doc, then min match-id among ties — a pure function of the
    data, no window over the corpus. Block length is the
    selectivity/recall knob: linkable records must agree on the block
    prefix, exactly as in every blocking scheme."""
    cand, d = _linkage_candidates(spark, sf_dir)
    return _best_links(cand, d)


def _best_links(cand: DataFrame, d: DataFrame) -> DataFrame:
    """Best-match selection shared by both linkage paths: min distance
    per doc, then min match-id among ties — two aggregates over the
    (already small) accepted-candidate frame, no window over the
    corpus. ``best`` is one row per MATCHED doc — corpus-proportional
    on a duplicate-heavy corpus, so no broadcast hint: the join keys on
    doc_id and AQE picks broadcast only when the frame is actually
    small."""
    best = cand.groupBy("doc_id").agg(F.min("dist").alias("dist"))
    pick = (
        cand.join(best, ["doc_id", "dist"])
        .groupBy("doc_id", "dist")
        .agg(F.min("m_doc").alias("match_doc"))
    )
    src = d.select("doc_id", "source")
    msrc = d.select(
        F.col("doc_id").alias("match_doc"), F.col("source").alias("match_source")
    )
    return (
        pick.join(src, "doc_id")
        .join(msrc, "match_doc")
        .select("doc_id", "source", "match_doc", "match_source", "dist")
        .orderBy("doc_id")
    )


@register("linkage_cjk_residue", tags=("dedup", "text", "unicode"))
def linkage_cjk_residue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEPOINT-level fuzzy linkage for the documents the oracle-exact
    path must gate out: non-empty keys whose fold+projection still
    carries multi-byte codepoints (CJK, Hangul, Arabic, emoji …).
    Together with :func:`record_linkage_fuzzy` this covers EVERY
    non-empty document — the r7/r8 exclusion set shrinks to nothing
    (VERDICT r8 task 5).

    Same blocking (4-codepoint key prefix), length bound and best-match
    semantics as the main path; the metric is Levenshtein over UNICODE
    CODEPOINTS, which Spark's `levenshtein` computes natively (probed:
    '规律'→'规则' = 1, '😀'→'😁' = 1 — astral pairs count as one
    codepoint, not two UTF-16 units). ZWJ/combining sequences count
    per codepoint — a documented metric choice (codepoints, not
    grapheme clusters).

    No DuckDB oracle BY NATURE: DuckDB's levenshtein counts BYTES
    ('é'→'e' = 2), and no static SQL can re-express codepoint distance
    there — so the driver records a rows-only check and exactness is
    pinned by a pure-Python reference kernel over multilingual fixtures
    (tests/test_unicode_linkage.py: golden distances + full-frame
    parity vs the Python DP). On a pure-ASCII corpus (the generated
    testdata) the residue set — and this result — is empty by
    construction; the oracle-exact path already covers every document
    there.

    Scale shape: identical to record_linkage_fuzzy — block equi-join,
    length lower bound, banded JVM levenshtein, two aggregates; the
    residue is a FILTERED scan of the same corpus, so the two paths
    partition the work rather than duplicating it."""
    cand, d = _linkage_candidates(spark, sf_dir, residue=True)
    return _best_links(cand, d)


# Multilingual demo corpus for the residue path: CJK / Hangul / astral
# near-duplicate pairs across sources, one CJK singleton (no partner →
# no output row) and one pure-ASCII doc (lands in the MAIN path, never
# the residue). Every pair shares its 4-codepoint block prefix; hand-
# verified codepoint distances are re-derived by the Python DP in
# tests/test_unicode_linkage.py so the oracle literals below are
# machine-checked, not trusted.
_CJK_DEMO_ROWS = [
    (1, "src1", "机器学习模型训练需要大量高质量数据集"),
    (2, "src2", "机器学习模型训练需要大量高质量的数据集"),  # 的 insert → 1
    (3, "src1", "深度神经网络的反向传播算法详解"),
    (4, "src2", "深度神经网络的正向传播算法详解"),  # 反→正 → 1
    (5, "src1", "한국어 음성 인식 데이터 구축"),
    (6, "src2", "한국어 음성 인식 데이타 구축"),  # 터→타 → 1
    (7, "src1", "数据清洗流程😀完成确认"),
    (8, "src2", "数据清洗流程😁完成确认"),  # astral swap → 1 codepoint
    (9, "src1", "日本語の音声認識システムの評価"),  # singleton
    (10, "src2", "plain ascii text goes to the main path"),
    (11, "src1", "中文自然语言处理技术综述"),
    (12, "src2", "中文自然语言处理方法概述"),  # 3 substitutions → 3
]

# The driver-facing oracle is the Python-reference DP's output embedded
# as literals (golden pin through the driver's hash compare): DuckDB's
# levenshtein counts BYTES on CJK, so no computed SQL can express the
# codepoint metric there — but over a FIXED inline corpus the expected
# frame is a deterministic constant, which upgrades this path from
# rows-only to exact without pretending DuckDB can do codepoint math.
_CJK_DEMO_SQL = """
SELECT * FROM (VALUES
  (CAST(1  AS BIGINT), 'src1', CAST(2  AS BIGINT), 'src2', CAST(1 AS BIGINT)),
  (CAST(2  AS BIGINT), 'src2', CAST(1  AS BIGINT), 'src1', CAST(1 AS BIGINT)),
  (CAST(3  AS BIGINT), 'src1', CAST(4  AS BIGINT), 'src2', CAST(1 AS BIGINT)),
  (CAST(4  AS BIGINT), 'src2', CAST(3  AS BIGINT), 'src1', CAST(1 AS BIGINT)),
  (CAST(5  AS BIGINT), 'src1', CAST(6  AS BIGINT), 'src2', CAST(1 AS BIGINT)),
  (CAST(6  AS BIGINT), 'src2', CAST(5  AS BIGINT), 'src1', CAST(1 AS BIGINT)),
  (CAST(7  AS BIGINT), 'src1', CAST(8  AS BIGINT), 'src2', CAST(1 AS BIGINT)),
  (CAST(8  AS BIGINT), 'src2', CAST(7  AS BIGINT), 'src1', CAST(1 AS BIGINT)),
  (CAST(11 AS BIGINT), 'src1', CAST(12 AS BIGINT), 'src2', CAST(3 AS BIGINT)),
  (CAST(12 AS BIGINT), 'src2', CAST(11 AS BIGINT), 'src1', CAST(3 AS BIGINT))
) AS t(doc_id, source, match_doc, match_source, dist)
ORDER BY doc_id
"""


@register(
    "linkage_cjk_residue_demo",
    oracle=_CJK_DEMO_SQL,
    tags=("dedup", "text", "unicode"),
)
def linkage_cjk_residue_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`linkage_cjk_residue`'s operator body over an inline
    multilingual fixture — the NON-VACUOUS driver row (VERDICT r10
    task 4: the generated testdata is pure ASCII, so the corpus-scan
    residue query materializes an honest but empty frame at every SF;
    this variant makes the driver exercise real codepoint distances
    every round). Same candidate builder, gate, blocking, length bound
    and best-match selection — only the corpus scan is swapped for
    ``_CJK_DEMO_ROWS``. ``sf_dir`` is ignored by construction."""
    docs = spark.createDataFrame(
        _CJK_DEMO_ROWS, "doc_id long, source string, text string"
    )
    cand, d = _linkage_candidates(spark, sf_dir, residue=True, docs=docs)
    return _best_links(cand, d)


# ---------------------------------------------------------------------
# Entity formation: components over the accepted linkage graph
# ---------------------------------------------------------------------

_ENTITIES_SQL = f"""
WITH RECURSIVE
d AS (
  SELECT doc_id, source, key, CAST(length(key) AS BIGINT) AS ln
  FROM (SELECT doc_id, source,
               substr({_PROJ}, 1, {_RL_KEY_LEN}) AS key
        FROM documents)
  WHERE regexp_matches(key, '{PROJECTED_GATE}')
),
cand AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM d a JOIN d b
    ON substr(a.key, 1, {_RL_BLOCK_LEN}) = substr(b.key, 1, {_RL_BLOCK_LEN})
   AND a.source <> b.source
   AND abs(a.ln - b.ln) <= {_RL_MAX_DIST}
  WHERE levenshtein(a.key, b.key) <= {_RL_MAX_DIST}
),
sym AS (SELECT DISTINCT da AS a, db AS b FROM cand),
nodes AS (SELECT DISTINCT a AS v FROM sym),
reach(x, y) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a
),
comp AS (SELECT x AS doc_id, MIN(y) AS entity FROM reach GROUP BY x),
ent AS (
  SELECT c.entity, CAST(COUNT(*) AS BIGINT) AS entity_size,
         CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources
  FROM comp c JOIN d ON d.doc_id = c.doc_id
  GROUP BY c.entity
)
SELECT c.doc_id, c.entity, e.entity_size, e.n_sources
FROM comp c JOIN ent e ON e.entity = c.entity
ORDER BY c.doc_id
"""


@register(
    "linkage_entities",
    oracle=_ENTITIES_SQL,
    tags=("dedup", "text", "iterative"),
)
def linkage_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY FORMATION over the fuzzy-linkage graph: connected
    components over every accepted cross-source match (not just each
    record's best) assign one entity id per real-world record; the
    report carries entity size and the number of distinct sources the
    entity spans — the multi-feed reconciliation artifact.

    Composition proof, same pattern as dedup_components: the pair
    generation is the blocked-Levenshtein scorer above, the clustering
    is the shared two-regime ``connected_components`` (min-label
    propagation, auto-escalating to large-star/small-star), and the
    DuckDB oracle replays the whole thing with a recursive-CTE closure
    — hash-equality proves the distributed iteration computes the
    exact transitive closure. Entity stats join on the label frame
    (keys only); bodies never move."""
    from .dedup import connected_components

    cand, d = _linkage_candidates(spark, sf_dir)
    pairs = cand.select(
        F.col("doc_id").alias("doc_a"), F.col("m_doc").alias("doc_b")
    ).distinct()
    labels = connected_components(pairs).select(
        F.col("v").alias("doc_id"), F.col("label").alias("entity")
    )
    ent = (
        labels.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("entity")
        .agg(
            F.count("*").cast("bigint").alias("entity_size"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
    )
    return (
        labels.join(ent, "entity")
        .select("doc_id", "entity", "entity_size", "n_sources")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------
# Incremental aggregate maintenance (monoid merge of a change log)
# ---------------------------------------------------------------------

_DELTA_MOD = 10
_DELTA_RESIDUE = 8  # event_id % 10 >= 8 → the "newly arrived" slice

_REFRESH_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type,
         event_id % {_DELTA_MOD} >= {_DELTA_RESIDUE} AS is_delta,
         CAST(round(value * 1000) AS BIGINT) AS value_ms
  FROM events
)
SELECT user_id, event_type,
       CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN is_delta THEN 0 ELSE value_ms END) AS BIGINT) AS sum_base_ms,
       CAST(SUM(CASE WHEN is_delta THEN value_ms ELSE 0 END) AS BIGINT) AS sum_delta_ms,
       CAST(SUM(value_ms) AS BIGINT) AS sum_total_ms
FROM ev
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


def aggregate_events(ev: DataFrame, weight=None) -> DataFrame:
    """(user_id, event_type) → (n, sum_ms) aggregate of an event
    slice. ``weight`` (a Column, +1/-1) expresses retractions: a
    weight of -1 removes the row's contribution when the aggregate is
    merged — the monoid inverse that lets a change log carry deletes."""
    w = F.lit(1).cast("bigint") if weight is None else weight.cast("bigint")
    return (
        ev.select(
            "user_id",
            "event_type",
            w.alias("w"),
            (w * F.round(F.col("value") * 1000).cast("bigint")).alias("v_ms"),
        )
        .groupBy("user_id", "event_type")
        .agg(F.sum("w").alias("n"), F.sum("v_ms").alias("sum_ms"))
    )


def merge_group_aggs(base_agg: DataFrame, delta_agg: DataFrame) -> DataFrame:
    """Monoid merge of two (user_id, event_type, n, sum_ms)
    aggregates: full-outer on the group key, coalesce-add the
    measures. THIS is the refresh operator — its cost is
    O(|base groups| + |delta groups|), independent of base FACT rows;
    in production ``base_agg`` is the stored aggregate table and only
    the delta side touches new data."""
    b = base_agg.select(
        "user_id",
        "event_type",
        F.col("n").alias("n_base"),
        F.col("sum_ms").alias("sum_base_ms"),
    )
    d = delta_agg.select(
        "user_id",
        "event_type",
        F.col("n").alias("n_delta"),
        F.col("sum_ms").alias("sum_delta_ms"),
    )
    z = F.lit(0).cast("bigint")
    return (
        b.join(d, ["user_id", "event_type"], "full_outer")
        .select(
            "user_id",
            "event_type",
            F.coalesce("n_base", z).alias("n_base"),
            F.coalesce("n_delta", z).alias("n_delta"),
            (F.coalesce("n_base", z) + F.coalesce("n_delta", z)).alias("n_total"),
            F.coalesce("sum_base_ms", z).alias("sum_base_ms"),
            F.coalesce("sum_delta_ms", z).alias("sum_delta_ms"),
            (
                F.coalesce("sum_base_ms", z) + F.coalesce("sum_delta_ms", z)
            ).alias("sum_total_ms"),
        )
    )


@register("incremental_agg_refresh", oracle=_REFRESH_SQL, tags=("events", "incremental"))
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED-AGGREGATE REFRESH: per-(user, event_type)
    count/sum maintained by aggregating ONLY the change-log slice
    (here: event_id % 10 >= 8, standing in
    for "arrived since the last refresh") and monoid-merging it with
    the stored base aggregate — the base fact rows are never
    rescanned by the refresh path.

    The oracle recomputes from scratch (the correctness definition of
    incremental view maintenance: refresh(base, delta) ==
    full(base ∪ delta)); the Spark side takes the incremental route,
    so the hash match IS the maintenance-algebra proof. Retractions
    ride the same merge with weight -1 (:func:`aggregate_events`),
    exercised by the unit suite."""
    ev = load_table(spark, sf_dir, "events")
    is_delta = (F.col("event_id") % _DELTA_MOD) >= _DELTA_RESIDUE
    base_agg = aggregate_events(ev.filter(~is_delta))
    delta_agg = aggregate_events(ev.filter(is_delta))
    return merge_group_aggs(base_agg, delta_agg).orderBy(
        "user_id", "event_type"
    )


# ---------------------------------------------------------------------
# PageRank over the part co-order graph (iterative, exact-integer)
# ---------------------------------------------------------------------

_PR_ITERS = 5
_PR_TOP = 50
_PR_MASS = 1_000_000_000_000  # total rank mass, micro-micro units
_PR_TELEPORT = _PR_MASS * 150 // 1000  # 0.15 · mass (exact)


def _pagerank_sql() -> str:
    parts = [f"""WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
),
edges AS (
  SELECT DISTINCT a.item AS s, b.item AS d
  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item <> b.item
),
outd AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY s),
nodes AS (SELECT DISTINCT s AS v FROM edges),
nn AS (SELECT CAST(GREATEST(COUNT(*), 1) AS BIGINT) AS n FROM nodes),
pr0 AS (SELECT v, (SELECT {_PR_MASS} // n FROM nn) AS pr FROM nodes)"""]
    for i in range(_PR_ITERS):
        parts.append(f""",
c{i} AS (
  SELECT e.d AS v, SUM(p.pr // o.od) AS contrib
  FROM edges e JOIN pr{i} p ON p.v = e.s JOIN outd o ON o.s = e.s
  GROUP BY e.d
),
pr{i + 1} AS (
  SELECT n.v,
         (SELECT {_PR_TELEPORT} // nn.n FROM nn)
           + 850 * COALESCE(c.contrib, 0) // 1000 AS pr
  FROM nodes n LEFT JOIN c{i} c ON c.v = n.v
)""")
    parts.append(f"""
SELECT pr.v AS part, CAST(pr.pr AS BIGINT) AS pr_micro, o.od AS out_degree
FROM pr{_PR_ITERS} pr JOIN outd o ON o.s = pr.v
ORDER BY pr.pr DESC, pr.v
LIMIT {_PR_TOP}""")
    return "".join(parts)


@register("pagerank_coorder", oracle=_pagerank_sql(), tags=("graph", "iterative"))
def pagerank_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK over the part co-order graph (edge s→d when two parts
    share a basket; symmetric by construction, so no dangling nodes):
    the top parts by stationary rank after 5 synchronous
    iterations with damping 0.85 — the canonical iterative-graph
    workload (Page-Brin-Motwani-Winograd 1999) expressed as repeated
    join + aggregate, which is exactly how Spark's own
    GraphX/Pregel lowers it.

    Exact-integer fixed point: rank mass is 10^12 micro-units, each
    iteration computes teleport_share + 850·Σ(pr_j div out_j) div 1000
    in bigint floor division — deterministic, so the DuckDB replay
    (the same 5 unrolled CTEs) is hash-exact. Mass leaks a few
    units per division (documented; conservation is not required for
    ranking).

    Scale shape: each iteration is ONE shuffle keyed on the
    destination (map-side-combined sum); the rank frame is
    |nodes| rows — never corpus rows; edges build once from the
    distinct (basket, item) projection and are slot-cached across all
    5 iterations WITH the out-degree riding each edge row (a window
    over the cache's own ``s`` partitioning — no extra exchange, and
    no per-iteration outd groupBy + broadcast rebuild). The final
    top-50 is a TakeOrdered, not a full sort. Teleport is distributed
    via a 1-row broadcast.

    r13 iteration-shape cut (guide §2.4; floors sweep measured this
    query at 11.2 s — the hottest non-bench path in the registry):
    the per-iteration ``nodes LEFT JOIN contrib`` was structurally a
    no-op on THIS graph — co-order edges are symmetric by
    construction ((a,b) and (b,a) both emitted), so every source is
    also a destination and contrib's key set EQUALS nodes: the left
    join matched every row and coalesce(contrib, 0) never fired. The
    oracle keeps the LEFT JOIN spelling; values are identical because
    the joined sets are equal (hash-pinned every run). Dropping it
    removes 5 joins + 5 node-set re-derivations; each iteration is
    now join(cached edges, pr) → groupBy(d) — the textbook shape.
    Measured (OPTIMIZATION_r13.md): interleaved old 9.66 vs new
    7.40 s min at sf0.1; quietest-window new floor 4.99 s against the
    old shape's 11.17 s floors-sweep reading; top-50 rows identical
    and the oracle hash green at both correctness SFs."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    a = baskets.select("ok", F.col("item").alias("s"))
    b = baskets.select("ok", F.col("item").alias("d"))
    # pre-partition the edge frame on the join key ONCE. Honest r13
    # note on what the cache partitioning buys at runtime: AQE plans
    # the action BEFORE the cache materializes, so the cached hash(s)
    # partitioning is unknown to the initial plan and EnsureRequirements
    # still inserts an s-keyed exchange above the cache for the
    # iteration joins (canonically identical across iterations —
    # stage-reuse fodder, and AQE converts the joins to broadcast when
    # the rank frame measures small). The cache's real job is that the
    # basket self-join + dedup + degree window run ONCE; measured
    # whole-query shuffle at sf0.1: old shape 92.1/85.8 MB read/write
    # vs this shape 65.7/59.5 MB (OPTIMIZATION_r13.md §3).
    src = hold(
        "pagerank_edges",
        a.join(b, "ok")
        .filter(F.col("s") != F.col("d"))
        .select("s", "d")
        # ONE edge-frame exchange, not two: hash(s) satisfies the
        # (s, d) clustering requirement (s determines the partition),
        # so the dedup aggregate runs partition-local ABOVE the
        # repartition and the window reuses the same partitioning —
        # the r12 shape paid distinct's own (s, d) exchange and then
        # re-exchanged by s.
        .repartition("s")
        .dropDuplicates(["s", "d"])
        .withColumn(
            "od", F.count("*").over(Window.partitionBy("s")).cast("bigint")
        ),
    )
    nodes = src.select(F.col("s").alias("v")).distinct()
    nn = nodes.agg(
        F.greatest(F.count("*"), F.lit(1)).cast("bigint").alias("n")
    )
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "v", F.expr(f"{_PR_MASS} div n").alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            src.join(pr, src["s"] == pr["v"])
            .select("d", F.expr("pr div od").alias("share"))
            .groupBy("d")
            .agg(F.sum("share").alias("contrib"))
        )
        # no nodes-left-join: contrib's key set == nodes on this
        # symmetric graph (docstring); teleport rides the 1-row nn
        pr = contrib.crossJoin(F.broadcast(nn)).select(
            F.col("d").alias("v"),
            F.expr(
                f"{_PR_TELEPORT} div n + 850 * contrib div 1000"
            ).alias("pr"),
        )
    outd = src.groupBy("s").agg(F.max("od").alias("od"))
    return (
        pr.join(outd, pr["v"] == outd["s"])
        .select(
            F.col("v").alias("part"),
            F.col("pr").cast("bigint").alias("pr_micro"),
            F.col("od").alias("out_degree"),
        )
        .orderBy(F.desc("pr_micro"), "part")
        .limit(_PR_TOP)
    )


# ---------------------------------------------------------------------
# Retraction path of the monoid merge (delete-aware refresh)
# ---------------------------------------------------------------------

_RETRACT_SQL = f"""
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_ms
FROM events
WHERE event_id % {_DELTA_MOD} < {_DELTA_RESIDUE}
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


@register(
    "incremental_agg_retract",
    oracle=_RETRACT_SQL,
    tags=("events", "incremental"),
)
def incremental_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION path of incremental view maintenance: the stored
    aggregate was built over ALL events, then the change log arrives
    carrying DELETES for the event_id % 10 >= 8 slice (weight −1 in
    :func:`aggregate_events`); the refresh is the same monoid merge as
    `incremental_agg_refresh`, and groups whose count reaches zero
    drop out. The oracle recomputes from scratch over the surviving
    slice — hash equality proves the delete algebra (refresh(base,
    −delta) == full(base ∖ delta)), the half of IVM that r7 left
    pytest-only."""
    ev = load_table(spark, sf_dir, "events")
    is_gone = (F.col("event_id") % _DELTA_MOD) >= _DELTA_RESIDUE
    base_agg = aggregate_events(ev)  # the stored, pre-delete aggregate
    retract_agg = aggregate_events(ev.filter(is_gone), weight=F.lit(-1))
    merged = merge_group_aggs(base_agg, retract_agg)
    return (
        merged.filter(F.col("n_total") > 0)
        .select(
            "user_id",
            "event_type",
            F.col("n_total").alias("n_events"),
            F.col("sum_total_ms").alias("sum_ms"),
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------
# Blocking-method evaluation: SNM candidate recall vs exact truth
# ---------------------------------------------------------------------

_SNM_EVAL_SQL = f"""
WITH f AS (SELECT doc_id, {_FOLD} AS fk FROM documents),
k1 AS (SELECT doc_id, substr(fk, 1, {_SNM_KEY_LEN}) AS key FROM f),
k2 AS (SELECT doc_id,
              substr(fk, greatest(length(fk) - {_SNM_KEY_LEN - 1}, 1),
                     {_SNM_KEY_LEN}) AS key
       FROM f),
r1 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM k1),
r2 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rnk FROM k2),
c1 AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                  greatest(a.doc_id, b.doc_id) AS doc_b
  FROM r1 a JOIN r1 b ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW}
),
c2 AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT doc_a, doc_b FROM c1
    UNION ALL
    SELECT least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b
    FROM r2 a JOIN r2 b ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW})
),
{{shingle_cte}},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE cast(inter AS double) / (sa.n + sb.n - inter) >= {{thr}}
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
m AS (
  SELECT 'snm_multikey' AS method,
         CAST((SELECT COUNT(*) FROM c2) AS BIGINT) AS n_candidates,
         CAST((SELECT COUNT(*) FROM c2 JOIN truth t
               ON t.doc_a = c2.doc_a AND t.doc_b = c2.doc_b) AS BIGINT) AS found
  UNION ALL
  SELECT 'snm_prefix',
         CAST((SELECT COUNT(*) FROM c1) AS BIGINT),
         CAST((SELECT COUNT(*) FROM c1 JOIN truth t
               ON t.doc_a = c1.doc_a AND t.doc_b = c1.doc_b) AS BIGINT)
)
SELECT m.method, m.n_candidates, nt.n_truth, m.found,
       CAST(CASE WHEN nt.n_truth = 0 THEN 1000000
                 ELSE m.found * 1000000 // nt.n_truth END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN m.n_candidates = 0 THEN 1000000
                 ELSE m.found * 1000000 // m.n_candidates END AS BIGINT) AS precision_ppm
FROM m, nt
ORDER BY m.method
"""


@register(
    "snm_recall_eval",
    oracle=None,  # set below: needs dedup's shingle CTE + threshold
    tags=("dedup", "calibration"),
)
def snm_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-METHOD calibration for the sorted-neighborhood family
    (dedup_method_eval's framing, applied to the r7 blockers): the
    candidate sets of single-key and multi-pass SNM scored against
    the exact-Jaccard truth (the dedup family's 5-shingle >= 0.8
    pairs) — per-method candidate count, recall and precision in
    exact ppm. This is the report an operator reads before choosing a
    blocker: SNM candidates are O(n·W), so precision is expected to
    be modest and recall is the number that matters; the multikey row
    quantifies what the second sort key buys on THIS corpus.

    Scale: candidate generation is the two-level rank per key; the
    truth side is the quadratic audit (run on a sample at 100 TB,
    exactly as dedup_method_eval's docstring prescribes); all counts
    reduce to 1-row frames before the final assembly."""
    from .dedup import _JACCARD_THRESHOLD, _ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    folded = docs.select(
        "doc_id",
        F.translate(
            F.coalesce(F.col("text"), F.lit("")), _ASCII_UP, _ASCII_LO
        ).alias("fk"),
    )
    k1 = folded.select("doc_id", F.substring("fk", 1, _SNM_KEY_LEN).alias("key"))
    k2 = folded.select(
        "doc_id",
        F.expr(
            f"substring(fk, greatest(length(fk) - {_SNM_KEY_LEN - 1}, 1),"
            f" {_SNM_KEY_LEN})"
        ).alias("key"),
    )
    c1 = _snm_candidate_pairs(distributed_rank(k1, "key", "doc_id")).distinct()
    c2 = c1.unionByName(
        _snm_candidate_pairs(distributed_rank(k2, "key", "doc_id"))
    ).distinct()
    truth = _ngram_jaccard_pairs(docs.select("doc_id", "text")).filter(
        F.col("jaccard") >= _JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    nt = truth.agg(F.count("*").cast("bigint").alias("n_truth"))

    def method_row(cand: DataFrame, name: str) -> DataFrame:
        n_cand = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
        found = cand.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
            F.count("*").cast("bigint").alias("found")
        )
        return (
            n_cand.crossJoin(found)
            .crossJoin(F.broadcast(nt))
            .select(
                F.lit(name).alias("method"),
                "n_candidates",
                "n_truth",
                "found",
                F.expr(
                    "cast(case when n_truth = 0 then 1000000"
                    " else found * 1000000 div n_truth end as bigint)"
                ).alias("recall_ppm"),
                F.expr(
                    "cast(case when n_candidates = 0 then 1000000"
                    " else found * 1000000 div n_candidates end as bigint)"
                ).alias("precision_ppm"),
            )
        )

    return (
        method_row(c2, "snm_multikey")
        .unionByName(method_row(c1, "snm_prefix"))
        .orderBy("method")
    )


def _finalize_snm_eval_oracle() -> None:
    """Bind the eval oracle after dedup's constants are importable
    (avoids a module-import cycle at definition time)."""
    from ..registry import REGISTRY, QueryDef
    from .dedup import _JACCARD_THRESHOLD, _SHINGLE_K

    sql = _SNM_EVAL_SQL.format(
        shingle_cte=shingles_sql(_SHINGLE_K).strip().lstrip(","),
        thr=_JACCARD_THRESHOLD,
    )
    q = REGISTRY["snm_recall_eval"]
    REGISTRY["snm_recall_eval"] = QueryDef(
        fn=q.fn, oracle=sql, bench=q.bench, tags=q.tags
    )


_finalize_snm_eval_oracle()
