"""Deduplication operator family (north-star extension, SURVEY §2.12).

Each member is the right tool at a different scale/fidelity point:

- exact key dedup          — hash-groupBy on a derived key
- exact content-hash dedup — sha256(content) + first-survivor window
- n-gram Jaccard           — shingle inverted-index join (exact
                             similarity, candidate-bounded); plus the
                             stop-shingle df-capped variant for skew
- MinHash + LSH banding    — the 100 TB near-dup path: O(n·bands)
                             shuffle instead of O(n²) pairs
- SimHash                  — 64-bit fingerprints + pigeonhole band
                             join for small hamming radii
- connected components     — pairs → transitive duplicate clusters →
                             survivor (iterative min-label propagation)

(Containment-scored winnowing pairs — partial-overlap dedup — live in
operators.text_analysis next to the winnowing fingerprints.)

Candidate generation, banding, joins, and thresholds are built-in
DataFrame ops (hash functions, array ops, windows) inside whole-stage
codegen. The two per-doc fingerprint kernels (MinHash permutation
min, SimHash sign-sum) are Arrow-batched numpy pandas UDFs fed
pre-hashed integers — see their docstrings for why that beats a pure
SQL fold here.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import whitespace_tokens_col
from ..partitioning import spread_for_kernel
from ..registry import register
from ..sources.tables import load_table
from .shingles import shingles_col, tokens_attr, shingles_sql


def _batch_segments(arrs, chunk_rows: int):
    """Chunk a batch of per-doc hash arrays for batch-level kernels.

    Yields ``(doc_idx, flat, seg_starts)`` triples: ``doc_idx`` — indices
    of the non-empty docs covered by this chunk, ``flat`` — their hashes
    concatenated, ``seg_starts`` — each doc's start offset into ``flat``
    (the ``reduceat`` segment boundaries). Chunking bounds the size of
    the (hashes × 64) intermediate matrix the kernels build, so memory
    stays flat no matter how many rows Arrow packs into one batch.
    Empty docs are skipped (callers pre-fill their identity value).
    """
    import numpy as np

    lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
    nz = np.flatnonzero(lens)
    if not nz.size:
        return
    nz_lens = lens[nz]
    ends = np.cumsum(nz_lens)
    starts = ends - nz_lens
    b = 0
    while b < nz.size:
        # largest e with ends[e-1]-starts[b] <= chunk_rows; ≥1 doc always
        e = max(int(np.searchsorted(ends, starts[b] + chunk_rows, side="right")), b + 1)
        flat = np.concatenate([arrs[i] for i in nz[b:e]])
        yield nz[b:e], flat, starts[b:e] - starts[b]
        b = e

# ---------------------------------------------------------------------
# Exact dedup by derived key
# ---------------------------------------------------------------------

_PREFIX_K = 8

_DEDUP_EXACT_SQL = f"""
SELECT key, cast(count(*) AS bigint) AS n_dups, min(doc_id) AS keep_id
FROM (SELECT doc_id,
             array_to_string((string_split(text, ' '))[1:{_PREFIX_K}], ' ') AS key
      FROM documents
      WHERE text IS NOT NULL AND text <> '')
GROUP BY key
HAVING count(*) > 1
ORDER BY key
"""


@register("dedup_exact", oracle=_DEDUP_EXACT_SQL, tags=("dedup",))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by a derived key (first 8 words): the
    hash-groupBy dedup primitive. Survivor = lowest doc_id.

    NULL/empty documents are excluded on both engines — Spark's
    concat_ws silently maps a NULL token array to '' while SQL keeps
    NULL, so without the filter "no content" docs would collide into
    one phantom duplicate group on one engine only. Content-less docs
    ARE deduplicated by dedup_exact_hash (sha256('') groups them).

    Scale: one shuffle on the (short) key; map-side partial counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, _PREFIX_K))
    return (
        docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(F.col("doc_id"), key.alias("key"))
        .groupBy("key")
        .agg(
            F.count("*").cast("bigint").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
        .orderBy("key")
    )


_DEDUP_HASH_SQL = """
SELECT doc_id, content_hash
FROM (SELECT doc_id, sha256(text) AS content_hash,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn = 1
"""


@register("dedup_exact_hash", oracle=_DEDUP_HASH_SQL, tags=("dedup",))
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: sha256 fingerprint, keep the first doc per
    hash. The production shape for exact dedup at 100 TB — the
    shuffle key is a fixed 32-byte hash, never the document body.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    w = W.partitionBy(h).orderBy("doc_id")
    return (
        docs.select("doc_id", h.alias("content_hash"), F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
    )


# ---------------------------------------------------------------------
# n-gram Jaccard (exact near-dup over a candidate join)
# ---------------------------------------------------------------------

_SHINGLE_K = 5
_JACCARD_THRESHOLD = 0.8


def collapse_exact_text(docs: DataFrame):
    """Exact-duplicate pre-collapse: fold identical-text documents to
    one representative BEFORE any pairwise candidate generation.

    Exact-duplicate cliques contribute nothing to near-dup discovery —
    every member has the same shingle set, signature, and neighbors —
    yet they are exactly what makes candidate-pair sets quadratic (a
    34-copy group is 561 identical comparisons). The r6 sf1 dry run
    measured the chain output-bound on such cliques (27.3 M pairs,
    343 MB band shuffle); collapsing first makes pair generation and
    clustering O(distinct texts) while downstream re-expansion stays
    proportional to the OUTPUT actually requested.

    Returns ``(reps, multi_members)``:

    - ``reps``: one row per distinct text — ``(doc_id, text,
      group_size)`` with ``doc_id`` = the group's smallest id (so any
      min-label over reps equals the min over all members);
    - ``multi_members``: ``(doc_id, rep_id, group_size)`` for every
      doc of every group with ≥2 members — the rep included. A
      singleton group's only member IS its rep, so downstream
      re-expansion is a LEFT join against this frame with
      ``coalesce(member, rep)``: singleton-only pairs (the vast
      majority of any real pair set) pass through with no match, and
      the frame itself is duplicate-count-sized, not corpus-sized —
      small enough that AQE turns the probe into a broadcast.

    Scale: the group key is a constant-width content hash computed
    scan-side, so the groupBy's map-side partial aggregation collapses
    duplicates BEFORE the exchange — each distinct text crosses the
    wire at most once per mapper (strictly cheaper than the 5× text
    amplification of a shingle explode); ``multi_members`` ships ids +
    the 33-byte key only. The shared ``groups`` frame is slot-persisted
    (``caching.hold``) because both outputs derive from it.
    Deliberately NOT the r13 minhash window-over-one-exchange shape:
    here the join-back side is ids+key (cheap) and the groupBy's
    map-side collapse is what keeps TEXT from crossing the wire per
    duplicate — a window would ship every text row uncollapsed through
    the exchange, strictly worse (OPTIMIZATION_r13.md, not-adopted).
    NULL text is its own group (tag byte — a join key must not be
    NULL), matching every consumer's "null ≡ null" behavior.
    """
    from ..caching import hold

    tkey = F.concat(
        F.when(F.col("text").isNull(), F.lit("n")).otherwise(F.lit("t")),
        F.md5(F.coalesce(F.col("text"), F.lit(""))),
    )
    keyed = docs.select("doc_id", "text", tkey.alias("tkey"))
    groups = hold(
        "text_collapse_groups",
        keyed.groupBy("tkey").agg(
            F.min("doc_id").alias("rep_id"),
            F.count("*").cast("bigint").alias("group_size"),
            # identical within the group: min(text) IS the text
            F.min("text").alias("text"),
        ),
    )
    reps = groups.select(
        F.col("rep_id").alias("doc_id"), "text", "group_size"
    )
    multi = groups.filter(F.col("group_size") > 1).select(
        "tkey", "rep_id", "group_size"
    )
    multi_members = keyed.select("doc_id", "tkey").join(multi, "tkey").select(
        "doc_id", "rep_id", "group_size"
    )
    return reps, multi_members


def expand_rep_pairs(
    rep_pairs: DataFrame,
    multi_members: DataFrame,
    value_col: str,
    intra_members: DataFrame,
    intra_value,
) -> DataFrame:
    """Re-expand representative-level pairs to the full doc-id pair
    set, EXACTLY reproducing what the uncollapsed operator emits.

    - cross pairs: each rep pair (A, B, value) becomes every
      (a ∈ A, b ∈ B) with the SAME value — similarity is a function of
      text alone, so member pairs score identically to their reps. A
      singleton group's member is its rep, so both joins are LEFT
      against the (duplicate-count-sized) ``multi_members`` frame with
      ``coalesce``: the dominant singleton–singleton pairs stream
      through unmatched and unexpanded, and the probe side is small
      enough that AQE broadcasts it — the pair stream itself never
      reshuffles for the expansion;
    - intra pairs: all C(k,2) pairs inside each ``intra_members``
      group (the groups the uncollapsed operator self-pairs — e.g.
      only shingle-bearing texts for exact Jaccard) with the exact
      ``intra_value`` an identical-text comparison yields (1.0).

    Output columns: (doc_a, doc_b, ``value_col``) with doc_a < doc_b.
    Each unordered pair appears exactly once: groups partition docs,
    so a pair is either intra to one group or cross to one rep pair.
    The expansion is output-proportional by construction — the
    quadratic blowup happens only where the caller actually asked for
    all pairs.
    """
    ma = multi_members.select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("da")
    )
    mb = multi_members.select(
        F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("db")
    )
    cross = (
        rep_pairs.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            F.coalesce("da", "doc_a").alias("ea"),
            F.coalesce("db", "doc_b").alias("eb"),
            value_col,
        )
        .select(
            F.least("ea", "eb").alias("doc_a"),
            F.greatest("ea", "eb").alias("doc_b"),
            value_col,
        )
    )
    x = intra_members.alias("x")
    y = intra_members.alias("y")
    intra = x.join(
        y,
        (F.col("x.rep_id") == F.col("y.rep_id"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(intra_value).alias(value_col),
    )
    return cross.unionByName(intra)


_JACCARD_SQL = f"""
WITH {shingles_sql(_SHINGLE_K)},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       cast(inter AS double) / (sa.n + sb.n - inter) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE cast(inter AS double) / (sa.n + sb.n - inter) >= {_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def _ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact-Jaccard pair core over any ``(doc_id, text)`` frame:
    explode distinct 5-gram shingles, self-join on shingle to count
    intersections, |A∪B| = |A|+|B|−|A∩B|. Returns
    (doc_a, doc_b, jaccard) thresholded, unordered.

    |set| rides the exploded rows (r12): the shingle array is already
    a projected attribute, so each doc's set size is a field-length
    read — carrying it as 8 bytes per inverted-index row replaces a
    separate sizes aggregation (a third and fourth evaluation of the
    whole tokenize→shingle chain, one per join side) plus TWO joins of
    the pair set back against it. Measured on a 50k-doc near-dup
    fixture (243 840 pairs; SCALING.md "Carried-n Jaccard core at
    50k docs", OPTIMIZATION_r12.md §3): wall
    −26% with the sizes joins broadcast, −20% with broadcasts forced
    off — the win is the two removed chain evaluations + two removed
    join stages. Shuffle BYTES are geometry-dependent: carried-n
    ships Σdf·8·2 extra through the index exchanges, the old form
    re-shuffles the pair set twice (no-broadcast regime) — so bytes
    favor carried-n only when |pairs|·row ≳ Σdf·16 (dup-dense
    corpora, the dedup target); on the 11:1 index:pairs fixture the
    old form shuffled ~10% fewer bytes while losing 20% wall.
    Values are bit-identical: count(*)-per-doc over the exploded
    DISTINCT shingles IS size(array), and the Jaccard arithmetic is
    unchanged (oracle hash-equality of dedup_ngram_jaccard pins it
    every suite run)."""
    toked, toks = tokens_attr(docs)  # attribute contract: shingles.py
    # Short docs yield no shingles (NULL array): drop them on the
    # cheap token count so the array below is non-null by
    # construction and the filter pushes down as size(split(text))>=k
    # (shingles.py contract #2 — never filter on the shingle column).
    arr = toked.filter(F.size(toks) >= _SHINGLE_K).withColumn(
        "_sh_arr", shingles_col(toks, _SHINGLE_K)
    )
    # TWO pushdown traps guard this select (both caught by
    # test_no_hof_chain_in_scan_filters when this briefly used the
    # bare forms — each one resurrects the r10 per-shingle re-split
    # quadratic INSIDE a scan filter):
    # 1. explode of a bare attribute triggers InferFiltersFromGenerate
    #    (isnotnull + size>0 on _sh_arr), and pushdown substitutes the
    #    whole shingle HOF chain into those inferred scan filters. The
    #    no-op coalesce makes the generator input a complex
    #    expression, which the inference rule skips (the _ppjoin_pairs
    #    probe), while _sh_arr stays a once-evaluated attribute read.
    # 2. the downstream jaccard>=t filter implies isnotnull(na/nb) by
    #    constraint inference, which pushes below the aggregate and
    #    substitutes n back to size(<chain>) at the scan. Routing n
    #    through coalesce(·, -1) makes the attribute NON-NULLABLE, so
    #    the inferred isnotnull folds to true and no filter forms —
    #    a no-op on values (the array is non-null post-floor).
    sh = arr.select(
        "doc_id",
        F.coalesce(F.size("_sh_arr"), F.lit(-1)).alias("n"),
        F.explode(F.coalesce(F.col("_sh_arr"), F.array())).alias("shingle"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # na/nb are functionally dependent on doc_a/doc_b: same
        # groups, and partial (map-side) aggregation is preserved.
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return shared.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= _JACCARD_THRESHOLD)


def _ngram_collapsed_state(spark: SparkSession, sf_dir: str):
    """Shared pre-collapsed exact-Jaccard state: ``(rep_pairs,
    members, conn_reps)`` where ``rep_pairs`` are near-dup pairs over
    DISTINCT texts only, and ``conn_reps`` marks the groups whose text
    yields ≥1 shingle (the only groups whose identical copies the
    uncollapsed operator self-pairs — shorter texts never pair)."""
    docs = load_table(spark, sf_dir, "documents")
    # The collapse groupBy's exchange already spreads the (single-split
    # local) scan across all cores, so the shingle explode downstream
    # needs no extra repartition — a real 100 TB scan yields ≫cores
    # splits before the exchange anyway.
    reps, multi_members = collapse_exact_text(docs)
    rep_pairs = _ngram_jaccard_pairs(reps.select("doc_id", "text"))
    conn_reps = reps.filter(
        F.size(F.split(F.col("text"), " ")) >= _SHINGLE_K
    ).select(F.col("doc_id").alias("rep_id"))
    return rep_pairs, multi_members, conn_reps


@register("dedup_ngram_jaccard", oracle=_JACCARD_SQL, bench=True, tags=("dedup",))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs via a shingle inverted index over
    PRE-COLLAPSED distinct texts (see :func:`collapse_exact_text`),
    re-expanded to the identical full pair set afterwards: identical
    texts have identical shingle sets, so member pairs inherit the rep
    pair's jaccard and intra-group pairs are exactly 1.0 (emitted only
    for shingle-bearing texts, like the uncollapsed join). The oracle
    is the UNcollapsed inverted-index SQL — hash-equality of the two
    is the proof the collapse changes nothing.

    Scale: the inverted-index cost is Σ(df²) over shingle frequency
    with df counted on DISTINCT texts — boilerplate duplicated a
    million times contributes df=1, not df=10⁶. When shingles are
    still unselective (hot phrases across distinct docs), that's what
    dedup_minhash_lsh replaces; at 100 TB you'd also drop the
    top-0.1% most frequent shingles (stop-shingles) before the join.
    """
    rep_pairs, multi_members, conn_reps = _ngram_collapsed_state(spark, sf_dir)
    intra = multi_members.join(conn_reps, "rep_id", "left_semi")
    return expand_rep_pairs(
        rep_pairs, multi_members, "jaccard", intra, 1.0
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------
# MinHash + LSH banding (the scale path)
# ---------------------------------------------------------------------


def _band_pairs(
    base: DataFrame, band_structs, payload: str, persist: bool = True
) -> DataFrame:
    """Candidate pairs via self-join on the band bucket key, with the
    COMPACT per-doc fingerprint frame persisted (one row per doc) and
    the band explode derived from the cache on both join sides.

    Without the persist, the self-join references the fingerprint
    subtree twice, so Spark executes the (pandas-UDF) signature
    computation twice. Persisting BEFORE the band explode stores each
    fingerprint once instead of once per band (16× less cached data
    for MinHash); the explode itself is codegen over the cache scan —
    re-running it per side costs nothing compared to re-running the
    kernel or caching the duplication. Settled by the interleaved
    head-to-head (SCALING.md "Round-5 burst forensics", 14 samples
    per shape alternated run-for-run on one session): per-doc persist
    min 3.76 s vs per-band 4.12 s at sf0.1 — ~10% faster, and the
    r4 driver's 8.22 s sample was a host-load burst (identical plans
    sampled 4–137 s in the same harness). The production shape at
    100 TB is the same: signatures are materialized once
    (table/checkpoint), band keys are derived on read. Also measured
    against the single-shuffle shape (groupBy bucket + double-explode
    pair expansion): the hash self-join is ~4× faster.

    ``persist=False`` skips the hold, for a ``base`` that is already
    read through a cache.

    ``band_structs``: array<struct<band_id, band_key>> column derived
    from ``base``'s columns. Returns columns ``x``/``y``: structs of
    (doc_id, <payload>).
    """
    from ..caching import hold

    # EAGER hold: the self-join below references the cached frame
    # from both aliases, and a lazily-populated persist lets the two
    # branch stages race — each side then runs the fingerprint kernel
    # itself (see caching.hold's docstring; observed at the 500k-doc
    # fixture as multiple ArrowEvalPython evaluations in one action).
    if persist:
        base = hold(f"band_pairs:{payload}", base, eager=True)
    bands = base.select(
        "doc_id", payload, F.explode(band_structs).alias("band")
    ).select("doc_id", payload, "band.band_id", "band.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    return a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.struct(F.col("a.doc_id").alias("doc_id"), F.col(f"a.{payload}").alias(payload)).alias("x"),
        F.struct(F.col("b.doc_id").alias("doc_id"), F.col(f"b.{payload}").alias(payload)).alias("y"),
    )

_N_HASHES = 64
_N_BANDS = 16  # 16 bands × 4 rows → catches j≳0.5 with high prob.
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
_MERSENNE = (1 << 31) - 1
_EST_THRESHOLD = 0.5

_rng = random.Random(1217)
_MINHASH_PARAMS = [
    (_rng.randrange(1, _MERSENNE), _rng.randrange(0, _MERSENNE))
    for _ in range(_N_HASHES)
]


def minhash_signature_col(shingles, hash_transform=None):
    """64-slot MinHash signature: sig[k] = min over shingles of
    (aₖ·h(shingle)+bₖ) mod p, p = 2³¹−1. ``hash_transform`` overrides
    the shingle→int hash (default: xxhash64 mod p — fastest; the
    portable variant passes an md5-derived hash both engines share).

    Split across the JVM/Python boundary at the right place: the
    shingle hash h (xxhash64 → pmod) is a Catalyst expression in the
    scan stage (codegen'd, pushdown-friendly), and the 64-permutation
    running min is ONE numpy broadcast ``(h[:,None]·A+B) % p
    → min(axis=0)`` per doc inside an Arrow-batched pandas UDF. Only
    the ~|tokens| shingle hashes cross into Python — never the text.

    Why not a pure-SQL fold: a 64-slot ``aggregate``+``zip_with``
    lambda generates a method too large for the JVM JIT, which
    deoptimizes to interpreted bytecode with 5× run-to-run variance
    (measured 9 s vs 49 s on identical sf0.1 runs). The numpy kernel
    is branch-free, allocation-light, and stable.

    r11 update: that verdict was about the single monolithic fold.
    64 INDEPENDENT ``array_min(transform(...))`` expressions over a
    pre-projected hash-array attribute (:func:`minhash_sig_from_hashes`)
    beat this kernel ~4x warm steady-state — canonical measurement
    (SCALING.md "Round-11: the Python boundary leaves the MinHash hot
    path", 500k docs, same session, identical checksums): 47.6 s
    jvm-hof vs 191.1 s pandas, both warm; cold
    first runs in that session 979.4 s / 525 s (SCALING.md r11
    cold-JIT record). An earlier same-round session read 46.6 vs
    289.7 s — the pandas side there was first-run/burst-hit, so the
    warm pair above is the quotable ratio. The production xxhash64
    path now uses that JVM form; THIS kernel remains only where the
    caller supplies a custom ``hash_transform`` (the portable
    md5 variant, whose cost is the md5, not the permutations) — and
    as the deliberate choice for one-shot cold-JVM jobs or
    churn-heavy executor fleets: it is warm-up-insensitive, while the
    JVM-HOF form pays a 10-20× interpreted cold window until C2
    warms. Measured crossover ≈ 2.1 M docs per executor-JVM lifetime
    (SCALING.md r12: below that, this kernel is net faster).

    The kernel is vectorized across the WHOLE Arrow batch, not per
    doc: all docs' hashes are concatenated, the (hashes × 64)
    permutation matrix is built once per bounded chunk, and
    ``np.minimum.reduceat`` collapses it at the per-doc segment
    boundaries — one numpy dispatch per ~chunk instead of one per doc
    (per-doc dispatch overhead dominated the profile: ~23 s of the
    sf0.1 bench before, severalfold less after).

    Empty shingle arrays yield the init signature [p]*64 (same as the
    fold's identity), matching the SQL-fold semantics.
    """
    import numpy as np

    A = np.array([a for a, _ in _MINHASH_PARAMS], dtype=np.uint64)[None, :]
    B = np.array([b for _, b in _MINHASH_PARAMS], dtype=np.uint64)[None, :]
    # 128k hashes × 64 perms × 8 B ≈ 64 MB intermediate per chunk.
    chunk_rows = 131_072

    @F.pandas_udf("array<long>")
    def perm_min(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for hashes_col in it:
            # None (null array, e.g. a doc below the shingle length
            # floor) folds to the identity signature like the SQL fold
            arrs = [
                np.asarray(() if h is None else h, dtype=np.uint64)
                for h in hashes_col
            ]
            sigs = np.full((len(arrs), _N_HASHES), _MERSENNE, dtype=np.int64)
            for doc_idx, flat, seg_starts in _batch_segments(arrs, chunk_rows):
                # h*a+b < 2^62 + 2^31: no uint64 overflow
                perms = (flat[:, None] * A + B) % _MERSENNE
                sigs[doc_idx] = np.minimum.reduceat(perms, seg_starts, axis=0).astype(
                    np.int64
                )
            yield pd.Series(list(sigs))

    if hash_transform is None:
        hash_transform = lambda s: F.pmod(  # noqa: E731
            F.xxhash64(s), F.lit(_MERSENNE)
        ).cast("long")
    h32 = F.transform(shingles, hash_transform)
    return perm_min(h32)


_MH_HASHES = "__mh_hashes"


def minhash_sig_from_hashes(hashes):
    """JVM-only 64-slot MinHash signature over a PRE-PROJECTED
    ``array<long>`` column of shingle hashes — the production xxhash64
    path (VERDICT r10 task 3: this removes the one Arrow-Python
    roundtrip in the bench hot path, the suite's most stall-sensitive
    stage shape).

    CONTRACT (the r10 HOF lesson, same as shingles_col): ``hashes``
    must be an ATTRIBUTE. Each of the 64 ``transform`` lambdas
    references it; HOFs evaluate on Catalyst's interpreted path with
    no CSE, so a non-attribute subtree (the shingle+hash expression
    inline) would recompute shingling+xxhash64 PER PERMUTATION — 64×
    the scan work. As an attribute it is one row-field read.

    Measured (SCALING.md "Round-11", 500k docs, identical checksums
    across kernels; canonical warm steady-state pair, same session):
    47.6 s vs the numpy pandas-UDF kernel's 191.1 s (~4x), and an
    explode+codegen-agg form's 55.2 s (which also tripled the
    shuffle: 268 vs 83 MB). Cold-JVM first run is 10-20x slower until
    C2 warms (979.4 s same plan/session — see the class docstring and
    SCALING.md r11/r12 for the amortization boundary). No Python
    workers in the plan at all —
    host-load bursts that stretched the Arrow roundtrips (r9/r10
    bench forensics: 4× same-session spread) no longer have a Python
    boundary to land on.

    NULL semantics: a null/empty hash array (doc below the shingle
    floor) yields NULL, so the query-path ``sig.isNotNull()`` filter
    drops short docs — the documented LSH-path intent. (The pandas
    kernel folds those to the identity signature [p]*64 instead,
    which the filter never drops; identity-sig docs would band
    together and emit spurious est=1.0 pairs between docs sharing no
    text. No driver fixture has sub-floor docs, so the pair sets are
    identical there — pinned by the recall/estimate tests.)"""

    def slot(a, b):  # PySpark reads lambda arity: keep the lambda unary
        return F.array_min(
            F.transform(hashes, lambda x: (x * F.lit(a) + F.lit(b)) % _MERSENNE)
        )

    return F.when(
        F.size(hashes) >= 1,
        F.array(*[slot(a, b) for a, b in _MINHASH_PARAMS]),
    )


@register("dedup_minhash_lsh", bench=True, tags=("dedup", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, sorted for presentation — the
    registered report form of :func:`minhash_lsh_pairs` (which
    downstream composers consume UNSORTED: the final orderBy is a
    range exchange of the whole pair set that buys nothing when the
    pairs feed another aggregation, e.g. dedup_rate_by_source_fast)."""
    return minhash_lsh_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — the 100 TB dedup path.

    shingle → 64-slot MinHash signature → 16 banded keys → self-join
    on (band, key) → estimated Jaccard = fraction of equal signature
    slots, thresholded at 0.5.

    Scale: shuffle volume is n·16 band keys (constant per doc) and
    candidate pairs only form inside identical-band buckets —
    O(n·bands + candidates), never O(n²). Signature computation is
    embarrassingly parallel in the scan stage.

    No SQL oracle (hash-function specific); correctness is pinned by
    the recall test against dedup_ngram_jaccard's exact pairs
    (tests/test_dedup.py).

    Exact-dup pre-collapse (r7): banding, the candidate self-join, and
    the pair-dedup exchange all run over DISTINCT signatures only —
    identical texts (and any hash-identical twins) band identically
    and estimate 1.0 against each other, so their C(k,2) comparisons
    are pure waste. Rep pairs are re-expanded through ids-only joins,
    and the emitted pair set is EXACTLY the uncollapsed one (pairs are
    a function of signatures alone) — the equality is pinned by
    tests/test_dedup.py. On the sf1-equivalent dry-run fixture
    (34-copy cliques) this removes the quadratic term from the band
    join and pair-dedup shuffles; only the final output explode stays
    output-proportional, as it must.

    r13 collapse shape (guide §2.4/§5): ONE signature-keyed exchange
    feeds everything. rep_id/group_size are window functions over
    ``skey`` on the exchanged signature frame, so reps AND members are
    filters over the SAME frame — the old form's separate
    groupBy(skey) exchange plus the sigs⋈multi join-back (a second
    full pass of the signature frame through a skey exchange) are
    gone, and with them the EAGER persist barrier and its extra
    count() pass: kernel-once no longer depends on the cache at all,
    because every consumer branch sits above the one exchange and
    AQE's stage cache materializes an identical exchange exactly once
    per action (plan-locked by test_minhash_signature_computed_once).
    The windowed frame keeps a LAZY slot-held persist purely as a
    read amortizer — six consumer branches (band join ×2, expansion
    joins ×4) otherwise each re-read the shuffle and re-run the
    window; a racing branch before the cache fills recomputes a
    window-over-shuffle-read, never the kernel. Three-arm interleaved
    A/B at sf0.1 (OPTIMIZATION_r13.md §1):
    hybrid 1.92/2.1–2.2 s vs old 2.25/2.4–2.5 s vs no-hold
    2.43/2.6–2.8 s; pair sets identical across all arms.
    Tradeoff recorded: the window ships every signature row through
    the skey exchange where the old groupBy collapsed duplicates
    map-side — but the old plan's join-back shipped the full frame
    through the same key anyway (broadcast only when the dup-group
    table was small), so worst-case bytes are unchanged and one full
    exchange plus two passes are saved. A mega-dup group lands in one
    window partition; WindowExec buffers via a spillable array, the
    same graceful-degradation posture as the SMJ sort it replaces.
    """
    from ..caching import hold
    docs = load_table(spark, sf_dir, "documents")
    # Local fixture parquet is a single split; signature computation is
    # the CPU-heavy stage, so spread it across cores — GATED: on a
    # multi-split scan (any real cluster read) spread_for_kernel is a
    # structural no-op, so document bodies never cross the network
    # just to rebalance work (partitioning.py; plan-locked).
    toked, toks = tokens_attr(spread_for_kernel(docs))
    # Two-step attribute discipline (shingles.py / minhash_sig_from_
    # hashes contracts): tokens -> hash ARRAY as a real column, then
    # the 64 permutation mins read that attribute. All JVM — no
    # Python boundary anywhere in this query since r11.
    #
    # Short docs are dropped HERE, on the cheap token count — NEVER
    # via a filter on the sig/hash column: predicate pushdown
    # substitutes attributes back to their defining expressions when
    # pushing a filter through the projections, so `sig IS NOT NULL`
    # lands at the SCAN with the whole shingle+hash chain inlined —
    # including the per-shingle re-split the r10 fix removed —
    # re-evaluated per row (r11 forensics, SCALING.md). The token
    # count pushes down as `size(split(text)) >= k`: row-local, O(n),
    # and prunes short docs before any shingle work.
    hashed = toked.filter(F.size(toks) >= _SHINGLE_K).withColumn(
        _MH_HASHES,
        F.transform(
            shingles_col(toks, _SHINGLE_K),
            lambda sh: F.pmod(F.xxhash64(sh), F.lit(_MERSENNE)).cast("long"),
        ),
    )
    keyed = hashed.select(
        "doc_id",
        minhash_sig_from_hashes(F.col(_MH_HASHES)).alias("sig"),
        # constant-width group key: hashing/sorting a 33-byte string
        # beats element-wise comparisons on the 64-slot array in the
        # exchange (an md5 collision merging two DISTINCT signatures
        # is 2^-128 — same content-addressing bet as dedup_exact_hash)
    ).withColumn("skey", F.md5(F.concat_ws(",", "sig")))
    # ONE skey exchange serves collapse, reps and members (see the
    # docstring): rep_id / group_size ride every signature row as
    # window aggregates, so reps and multi_members are plain filters —
    # no groupBy exchange, no join-back, no persist barrier.
    wg = W.partitionBy("skey")
    sigs_w = hold(
        "minhash_sigs_w",
        keyed.select(
            "doc_id",
            "sig",
            F.min("doc_id").over(wg).alias("rep_id"),
            F.count("*").over(wg).cast("bigint").alias("group_size"),
        ),
        # LAZY on purpose: the kernel-once guarantee is the shared
        # exchange below (stage cache), so the worst a fill race can
        # duplicate is the cheap window-over-shuffle-read, and the
        # eager barrier's extra full pass measurably cost more than
        # it saved (A/B in the docstring).
    )
    reps = sigs_w.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "sig"
    )
    multi_members = sigs_w.filter(F.col("group_size") > 1).select(
        "doc_id", "rep_id", "group_size"
    )

    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(_N_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("sig"), b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("band_key"),
        ),
    )

    # Estimate BEFORE the pair-dedup shuffle: a pair colliding in k
    # bands is emitted k times, and shipping (doc_a, doc_b, est) —
    # 24 bytes — through the dropDuplicates exchange beats shipping
    # two 64-slot signatures (~1 KB) per occurrence. The zip_with
    # recompute per duplicate is map-side codegen, far cheaper than
    # the shuffle bytes it saves at 100 TB candidate volumes.
    est = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("x.sig"), F.col("y.sig"), lambda x, y: x == y
                ),
                lambda eq: eq,
            )
        ).cast("double")
        / _N_HASHES
    )
    rep_pairs = (
        # no hold: reps is read through the lazily held windowed
        # signature frame, so a second cache would buy nothing
        _band_pairs(reps, band_structs, "sig", persist=False)
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= _EST_THRESHOLD)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # identical signatures estimate exactly 64/64 — every multi-member
    # group self-pairs at 1.0, exactly as the uncollapsed join emits
    return expand_rep_pairs(
        rep_pairs, multi_members, "est_jaccard", multi_members, 1.0
    )


# ---------------------------------------------------------------------
# Portable MinHash (engine-shared hash → EXACT oracle for the full
# signature → banding → candidate → estimate pipeline)
# ---------------------------------------------------------------------


def _minhash_portable_sql() -> str:
    """DuckDB replay of the ENTIRE MinHash+LSH pipeline: md5-derived
    shingle hashes (bit-identical in both engines), the same 64
    (a, b) permutation params as literals, 16 banded keys, the
    band-bucket self-join, and the equal-slot Jaccard estimate."""
    k, p = _SHINGLE_K, _MERSENNE
    hash_s = f"('0x' || substr(md5(s), 1, 15))::BIGINT % {p}"
    sig_exprs = ", ".join(
        f"coalesce(list_min([({a} * h + {b}) % {p} for h in hs]), {p})"
        for a, b in _MINHASH_PARAMS
    )
    est = f"len(list_filter(range(1, {_N_HASHES + 1}), i -> x.sig[i] = y.sig[i])) / {_N_HASHES}.0"
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sgl AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {k} THEN
           list_distinct([array_to_string(t[i:i+{k - 1}], ' ')
                          for i in range(1, len(t) - {k - 2})])
         ELSE [] END AS sgl
  FROM toks
),
hs AS (SELECT doc_id, [{hash_s} for s in sgl] AS hs FROM sgl),
sig AS (SELECT doc_id, [{sig_exprs}] AS sig FROM hs),
bands AS (
  SELECT doc_id, sig, bi,
         array_to_string(sig[bi * {_ROWS_PER_BAND} + 1 : (bi + 1) * {_ROWS_PER_BAND}], ',') AS band_key
  FROM sig, unnest(range(0, {_N_BANDS})) AS u(bi)
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         round({est}, 6) AS est_jaccard
  FROM bands x JOIN bands y
    ON x.bi = y.bi AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, est_jaccard
FROM pairs
WHERE est_jaccard >= {_EST_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_minhash_portable",
    oracle=_minhash_portable_sql(),
    tags=("dedup", "lsh"),
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh with an ENGINE-PORTABLE shingle hash
    (md5-derived instead of xxhash64), which makes the whole
    signature → banding → candidate → estimate pipeline exactly
    SQL-replayable: the driver's independent DuckDB oracle verifies
    the MinHash ALGORITHM end-to-end, not just its recall. The fast
    path keeps xxhash64 (non-cryptographic, several× cheaper per
    shingle at 100 TB); this variant shares every other line — the
    Arrow-batched ``reduceat`` signature kernel, the band explode, the
    bucket self-join — so algorithmic regressions in the shared code
    fail BOTH the recall test and this exact oracle.

    Band keys stay raw signature-slot strings here (no xxhash64
    compaction) so bucket equality is engine-identical; the fast path
    hashes them to 8 bytes for shuffle width."""
    docs = load_table(spark, sf_dir, "documents")
    portable_hash = (
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % _MERSENNE
    )
    toked, toks = tokens_attr(spread_for_kernel(docs))
    sigs = toked.select(
        "doc_id",
        minhash_signature_col(
            shingles_col(toks, _SHINGLE_K),
            hash_transform=portable_hash,
        ).alias("sig"),
    )
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(_N_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                    lambda x: x.cast("string"),
                ),
            ).alias("band_key"),
        ),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("x.sig"), F.col("y.sig"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / _N_HASHES
    )
    return (
        _band_pairs(sigs, band_structs, "sig")
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= _EST_THRESHOLD)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------
# Duplication analytics: which SOURCES mirror each other — the
# curation question the pair set exists to answer at 100 TB (drop or
# down-weight whole feeds, not individual docs).
# ---------------------------------------------------------------------


def _rate_by_source_sql() -> str:
    """Oracle: the full portable-MinHash pipeline as a CTE, labelled
    with each side's source and aggregated per normalized source
    pair."""
    from ..functions.exact import davg_sql

    return f"""
WITH mh AS ({_minhash_portable_sql()}),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         m.est_jaccard
  FROM mh m
  JOIN documents da ON m.doc_a = da.doc_id
  JOIN documents db ON m.doc_b = db.doc_id
),
agg AS (
  SELECT source_a, source_b,
         cast(count(*) AS bigint) AS dup_pairs,
         round({davg_sql('est_jaccard')}, 6) AS avg_est
  FROM lab GROUP BY source_a, source_b
),
cnt AS (SELECT source, cast(count(*) AS bigint) AS n_docs
        FROM documents GROUP BY source)
SELECT a.source_a, a.source_b, a.dup_pairs, a.avg_est,
       ca.n_docs AS docs_a, cb.n_docs AS docs_b
FROM agg a
JOIN cnt ca ON a.source_a = ca.source
JOIN cnt cb ON a.source_b = cb.source
ORDER BY dup_pairs DESC, source_a, source_b
"""


def rate_by_source_over(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Cross-source duplication matrix over an arbitrary (doc_a,
    doc_b, est_jaccard) pair set: pairs labelled by each side's
    source, aggregated per normalized (source_a ≤ source_b) pair with
    per-source doc counts — within-source rows (source_a = source_b)
    measure internal redundancy, off-diagonal rows measure feed
    mirroring.

    Scale: the expensive part is the pair set itself (the banded
    MinHash join, measured in SCALING.md); this layer adds two
    doc_id-keyed projections of (doc_id, source) — 16-byte rows — and
    a broadcast of the per-source count table (|sources| rows)."""
    from ..functions.exact import davg

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    labelled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
            ),
            "doc_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "est_jaccard",
        )
    )
    agg = labelled.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("dup_pairs"),
        F.round(davg("est_jaccard"), 6).alias("avg_est"),
    )
    counts = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        agg.join(
            F.broadcast(
                counts.select(
                    F.col("source").alias("source_a"),
                    F.col("n_docs").alias("docs_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                counts.select(
                    F.col("source").alias("source_b"),
                    F.col("n_docs").alias("docs_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a", "source_b", "dup_pairs", "avg_est", "docs_a", "docs_b"
        )
        .orderBy(F.desc("dup_pairs"), "source_a", "source_b")
    )


@register(
    "dedup_rate_by_source",
    oracle=_rate_by_source_sql(),
    tags=("dedup", "lsh", "curation"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked form of the cross-source duplication matrix: the
    PORTABLE (md5-derived) MinHash pair set, so DuckDB replays the
    ENTIRE pipeline including the signatures and the aggregation is
    exact end-to-end. The md5 signature kernel costs ~10× the xxhash64
    one (SCALING.md: 898.5 s vs the minhash pipeline's own cost at
    500k docs) — it buys oracle portability, nothing else, so
    production use at scale should call dedup_rate_by_source_fast."""
    return rate_by_source_over(
        spark, sf_dir, dedup_minhash_portable(spark, sf_dir)
    )


@register(
    "dedup_rate_by_source_fast",
    tags=("dedup", "lsh", "curation"),
)
def dedup_rate_by_source_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION default of the cross-source duplication matrix
    (VERDICT r9 task 4): the same matrix layer composed over the
    UNSORTED xxhash64 MinHash pair set (minhash_lsh_pairs — the
    registered pair query's final orderBy is skipped: a range exchange
    of the whole pair set buys nothing ahead of the aggregation) —
    identical downstream shape, ~10× cheaper signatures, plus the
    exact-dup signature pre-collapse the portable form lacks. The
    per-side source labelling co-shuffles the pair set on doc_id
    twice against the (doc_id, source) projection — at 100 TB neither
    side is broadcastable, so the co-shuffle is the right shape; the
    count table broadcast is |sources|-sized. Rows-only BY NATURE (the
    xxhash64 pair set is hash-function specific); the matrix algebra
    itself is the oracle-green dedup_rate_by_source's, re-pinned
    against an independent pandas recomputation in
    tests/test_dedup.py::test_rate_by_source_fast_matrix_algebra."""
    return rate_by_source_over(
        spark, sf_dir, minhash_lsh_pairs(spark, sf_dir)
    )


# ---------------------------------------------------------------------
# SimHash (frequency-weighted 64-bit fingerprint)
# ---------------------------------------------------------------------

_SIMHASH_BANDS = 4  # 4 × 16 bits; hamming ≤ 3 ⇒ ≥1 band equal
_HAMMING_MAX = 3


# Single-bit masks as literal longs; bit 63 is the sign bit of a
# signed long (-2^63), which bitwiseAND handles exactly.
_BIT_MASKS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def simhash_col(tokens, hash_transform=None):
    """64-bit SimHash of a token array (duplicates = weights).
    ``hash_transform`` overrides the token→int64 hash (default
    xxhash64; the portable variant passes an md5-derived hash).

    bit b of the fingerprint = sign of Σ_tokens (±1 by bit b of
    xxhash64(token)). Same JVM/Python split as
    :func:`minhash_signature_col` (and for the same JIT reason): the
    token hash is a Catalyst expression; the sign-sum is numpy.

    Vectorized across the whole Arrow batch like the MinHash kernel:
    the chunk's (tokens × 64) bit matrix is summed at per-doc
    boundaries by ``np.add.reduceat``; a bit is set iff its one-count
    exceeds half the doc's tokens (±1-sum > 0 ⟺ 2·ones > n).

    Empty token arrays pack to fingerprint 0 (all sums ≤ 0), matching
    the fold identity.
    """
    import numpy as np

    bits = np.arange(64, dtype=np.uint64)[None, :]
    masks = np.uint64(1) << np.arange(64, dtype=np.uint64)
    # Budget the PEAK temporary, not the final matrix: the bit-shift
    # broadcast materializes (tokens × 64) uint64 intermediates, so
    # 128k tokens × 64 × 8 B ≈ 64 MB per chunk.
    chunk_rows = 1 << 17

    @F.pandas_udf("long")
    def sign_pack(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for hashes_col in it:
            # None (null array, e.g. a doc below the shingle length
            # floor) folds to the empty identity like the SQL fold
            arrs = [
                np.asarray(() if h is None else h, dtype=np.int64).view(np.uint64)
                for h in hashes_col
            ]
            out = np.zeros(len(arrs), dtype=np.int64)
            for doc_idx, flat, seg_starts in _batch_segments(arrs, chunk_rows):
                ones = ((flat[:, None] >> bits) & np.uint64(1)).astype(np.uint8)
                counts = np.add.reduceat(ones, seg_starts, axis=0).astype(np.int64)
                seg_lens = np.diff(np.append(seg_starts, flat.shape[0]))
                pos = 2 * counts > seg_lens[:, None]
                # distinct bit masks: sum ≡ bitwise-or, exact in uint64
                out[doc_idx] = (pos * masks).sum(axis=1, dtype=np.uint64).view(np.int64)
            yield pd.Series(out)

    if hash_transform is None:
        hash_transform = lambda t: F.xxhash64(t)  # noqa: E731
    return sign_pack(F.transform(tokens, hash_transform))


@register("dedup_simhash", tags=("dedup", "lsh"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, pigeonhole band
    join (4×16-bit bands — any pair with hamming ≤ 3 must agree on
    ≥1 band), exact hamming filter via bit_count(xor).

    Scale: 4 band keys per doc; candidates only within equal bands.
    Fingerprints are 8 bytes — the pair join ships longs, not text.
    Rows-only check (hash-specific); pinned by tests/test_dedup.py
    (a doc and its near-dup mutation land within the radius).
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = spread_for_kernel(docs).select(
        "doc_id", simhash_col(whitespace_tokens_col("text")).alias("fp")
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("fp"), i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_key"),
            )
            for i in range(_SIMHASH_BANDS)
        ]
    )
    ham = F.bit_count(F.col("x.fp").bitwiseXOR(F.col("y.fp")))
    return (
        _band_pairs(fp, band_structs, "fp")
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------
# Portable SimHash (engine-shared hash → EXACT oracle)
# ---------------------------------------------------------------------


def _simhash_portable_sql() -> str:
    """DuckDB replay of the full SimHash pipeline with the md5-derived
    64-bit token hash: per-bit majority vote over the token list, the
    4×16-bit pigeonhole band join, and the exact hamming filter."""
    bit_exprs = []
    for b in range(64):
        if b < 32:
            test = f"((('0x' || substr(md5(t), 9, 8))::BIGINT >> {b}) & 1) = 1"
        else:
            test = f"((('0x' || substr(md5(t), 1, 8))::BIGINT >> {b - 32}) & 1) = 1"
        mask = _BIT_MASKS[b]
        bit_exprs.append(
            f"CASE WHEN 2 * len(list_filter(lt, t -> {test})) > len(lt)"
            f" THEN CAST({mask} AS BIGINT) ELSE 0 END"
        )
    fp = " + ".join(bit_exprs)
    return f"""
WITH lt AS (SELECT doc_id, string_split(lower(text), ' ') AS lt FROM documents),
fp AS (SELECT doc_id, cast({fp} AS BIGINT) AS fp FROM lt),
bands AS (
  SELECT doc_id, fp, bi, (fp >> (bi * 16)) & 65535 AS band_key
  FROM fp, unnest(range(0, {_SIMHASH_BANDS})) AS u(bi)
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         cast(bit_count(xor(x.fp, y.fp)) AS bigint) AS hamming
  FROM bands x JOIN bands y
    ON x.bi = y.bi AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, hamming
FROM pairs WHERE hamming <= {_HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_simhash_portable", oracle=_simhash_portable_sql(), tags=("dedup", "lsh")
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash with an ENGINE-PORTABLE token hash (two md5-hex
    32-bit halves packed to 64 bits), making the full fingerprint →
    pigeonhole-band → hamming pipeline exactly SQL-replayable — the
    same end-to-end algorithm verification dedup_minhash_portable
    gives MinHash. Shares the Arrow-batched sign-sum kernel and band
    join with the fast path; only the hash column differs (xxhash64
    stays the production hash — one hash call vs md5 + two hex
    parses per token)."""
    docs = load_table(spark, sf_dir, "documents")

    def portable_hash(t):
        hexs = F.md5(t)
        h_hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
        h_lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
        return F.shiftleft(h_hi, 32).bitwiseOR(h_lo)

    fp = spread_for_kernel(docs).select(
        "doc_id",
        simhash_col(
            F.split(F.lower(F.col("text")), " "), hash_transform=portable_hash
        ).alias("fp"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("fp"), i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_key"),
            )
            for i in range(_SIMHASH_BANDS)
        ]
    )
    ham = F.bit_count(F.col("x.fp").bitwiseXOR(F.col("y.fp")))
    return (
        _band_pairs(fp, band_structs, "fp")
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------
# Stop-shingle Jaccard (the hot-shingle mitigation, made concrete)
# ---------------------------------------------------------------------

_STOP_DF = 32  # drop shingles present in more docs than this

_JACCARD_STOP_SQL = f"""
WITH {shingles_sql(_SHINGLE_K)},
dfreq AS (SELECT shingle, count(*) AS dfq FROM sh GROUP BY 1),
kept AS (SELECT sh.doc_id, sh.shingle
         FROM sh JOIN dfreq USING (shingle) WHERE dfq <= {_STOP_DF}),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       cast(inter AS double) / (sa.n + sb.n - inter) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE cast(inter AS double) / (sa.n + sb.n - inter) >= {_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register("dedup_ngram_jaccard_stopshingle", oracle=_JACCARD_STOP_SQL, tags=("dedup", "skew"))
def dedup_ngram_jaccard_stopshingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_ngram_jaccard`` with the documented hot-shingle
    mitigation APPLIED, under an exact oracle: shingles whose document
    frequency exceeds ``_STOP_DF`` are dropped before the inverted-
    index self-join, and Jaccard is computed over the surviving
    shingle sets on both sides of the comparison.

    This is the skew control for the inverted-index path at 100 TB:
    the self-join's cost is Σ(df²) over shingle frequencies, so a
    single boilerplate shingle shared by 10⁶ docs would otherwise
    create one 10¹²-pair bucket. Capping df bounds every bucket at
    _STOP_DF² pairs while barely moving the similarity of true
    near-dups (their overlap is dominated by selective shingles).
    """
    docs = load_table(spark, sf_dir, "documents")
    toked, toks = tokens_attr(spread_for_kernel(docs))
    sh = toked.select(
        "doc_id",
        F.explode(shingles_col(toks, _SHINGLE_K)).alias("shingle"),
    )
    # document frequency per shingle; one hash shuffle on the shingle,
    # reused immediately by the self-join on the same key
    kept = sh.withColumn(
        "dfq", F.count("*").over(W.partitionBy("shingle"))
    ).filter(F.col("dfq") <= _STOP_DF)
    # r13 carried-n, WINDOW form (guide §2.3/§2.4; VERDICT r12 task 2):
    # the per-doc surviving-shingle count is a post-df-cap count, so —
    # unlike the exact-Jaccard core, where |set| is a field-length
    # read — attaching it to the index costs one doc_id-keyed window
    # exchange over the posting frame. That replaces the separate
    # sizes aggregation (which re-walked the posting subtree) and BOTH
    # pair-set join-backs: n rides each posting row as 8 bytes, and
    # na/nb leave the pair aggregation as groupBy keys (functionally
    # dependent on doc_a/doc_b — partial aggregation preserved, values
    # unchanged; the oracle hash pins it). Tradeoff, measured on both
    # corpus shapes (SCALING.md "Window-form carried-n for the
    # df-capped pair cores", OPTIMIZATION_r13.md §2): the window
    # form trades two |pairs|-sized exchanges for one index-sized one,
    # so it wins exactly when pairs dominate the index — the dup-dense
    # regime this operator targets; numbers in OPTIMIZATION_r13.md.
    # n is count(*) over a window: non-nullable, so the downstream
    # jaccard>=t filter's inferred isnotnull folds away (the r12
    # scan-filter trap has no purchase here).
    kept = kept.withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    a = kept.alias("a")
    b = kept.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        shared.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------
# Paragraph-level dedup (CCNet-style: drop repeated paragraphs)
# ---------------------------------------------------------------------

_PARA_DEDUP_SQL = """
WITH paras AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, trim(ls[i]) AS para
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        FROM documents WHERE text IS NOT NULL),
       unnest(range(1, len(ls) + 1)) AS u(i)
  WHERE trim(ls[i]) <> ''
),
marked AS (
  SELECT doc_id, pos, para,
         ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1 AS kept
  FROM paras
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS kept_ppm,
       COALESCE(string_agg(para, chr(10) ORDER BY pos)
                  FILTER (WHERE kept), '') AS cleaned_text
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


@register("dedup_paragraph", oracle=_PARA_DEDUP_SQL, tags=("dedup", "text"))
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level dedup, the CCNet/RefinedWeb line-dedup shape:
    split each document on newlines, keep only the GLOBALLY FIRST
    occurrence of every distinct (trimmed, non-empty) paragraph —
    first = smallest (doc_id, position) — and reassemble each document
    from its surviving paragraphs in order. Boilerplate (headers,
    cookie banners, navigation) repeats across documents at paragraph
    granularity where whole-document dedup sees distinct texts; this
    is the operator that strips it. Reports per-doc paragraph counts,
    survivors, and the kept fraction in exact ppm.

    Scale shape: ownership is ONE groupBy on the paragraph (hash of
    the text is the key at 100 TB — here the string itself keeps the
    oracle exact) emitting a min-(doc_id, pos) struct — a map-side-
    combined aggregate, no window over the corpus; the winners
    broadcast-or-shuffle back by the same key, and reassembly is the
    C13 ordered-concat (collect + array_sort, one doc_id exchange).
    Docs whose every paragraph lost yield cleaned_text = '' (COALESCE
    on both engines: string_agg over zero rows is NULL)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    paras = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "\n")).alias("pos0", "para"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.trim(F.col("para")).alias("para"),
        )
        .filter(F.col("para") != "")
    )
    owner = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "pos")).alias("o")
    )
    marked = paras.join(owner, "para").select(
        "doc_id",
        "pos",
        "para",
        (
            (F.col("doc_id") == F.col("o.doc_id"))
            & (F.col("pos") == F.col("o.pos"))
        ).alias("kept"),
    )
    cleaned = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("kept"), F.struct("pos", "para"))
                )
            ),
            lambda s: s["para"],
        ),
        "\n",
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_paras"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            cleaned.alias("cleaned_text"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_kept",
            F.expr("n_kept * 1000000 div n_paras").alias("kept_ppm"),
            "cleaned_text",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------
# Weighted lexical similarity: tf-vector cosine join (exact integer)
# ---------------------------------------------------------------------

_TFC_K = 3  # shingle width: unigram vectors degenerate on small-vocab
#            corpora (the sf fixture draws from 31 words, so EVERY
#            token is stopword-like and any df cap empties the index);
#            3-gram frequencies are the discriminative unit
_TFC_STOP_DF = 32  # df cap, same skew bound as the stopshingle variant
_TFC_MIN_COS2_PPM = 640_000  # cos >= 0.8  ⇔  cos² >= 0.64

_TF_COSINE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS w
  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= {_TFC_K}
),
tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM grams GROUP BY 1, 2),
dfreq AS (SELECT w, count(*) AS dfq FROM tf GROUP BY w),
kept AS (SELECT tf.doc_id, tf.w, tf.tf FROM tf JOIN dfreq USING (w)
         WHERE dfq <= {_TFC_STOP_DF}),
norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
          FROM kept GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM kept a JOIN kept b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, dot, na.n2 AS norm2_a, nb.n2 AS norm2_b,
       CAST(dot::HUGEINT * dot * 1000000
            // (na.n2::HUGEINT * nb.n2) AS BIGINT) AS cos2_ppm
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE dot::HUGEINT * dot * 1000000
      // (na.n2::HUGEINT * nb.n2) >= {_TFC_MIN_COS2_PPM}
ORDER BY doc_a, doc_b
"""


@register("dedup_tf_cosine", oracle=_TF_COSINE_SQL, tags=("dedup", "text", "skew"))
def dedup_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED lexical near-dup join: cosine over shingle-FREQUENCY
    vectors, the family member between set-Jaccard (PPJoin/shingles —
    ignores repetition) and embedding cosine (needs a model): two
    documents match when their {_TFC_K}-gram count vectors point the
    same way, so REPETITION counts — a spam doc repeating one phrase
    10× no longer merges with its single-copy source (their shingle
    SETS are near-identical, so set-Jaccard calls them duplicates;
    their count vectors point apart — the CCNet-era repetition-spam
    failure mode, pytest-pinned).

    Exact integer end to end: the threshold test is the RATIONAL form
    dot² · 10⁶ ≥ cos²·(‖a‖²·‖b‖²) — no square root, no float — routed
    through HUGEINT/decimal(38,0) (the pmi_collocations pattern), and
    the reported score is cos² in ppm (monotone in cosine), so the
    DuckDB replay is hash-exact.

    Scale shape (the inverted-index thesis, weighted): the only
    corpus-sized exchanges key on the shingle (tf build, posting
    self-join) and the pair (dot aggregation, map-side combined).
    Self-join cost is Σ(df²), so shingles with df > {_TFC_STOP_DF} are
    dropped on BOTH sides first — the stopshingle skew bound: every
    posting bucket caps at df² pairs, and true near-dups keep their
    selective shingles. At 100 TB this is the lexical-cosine variant of
    the same inverted-index family as dedup_ngram_jaccard_stopshingle."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    grams = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", t.alias("t"))
        .filter(F.size("t") >= _TFC_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_TFC_K - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, _TFC_K)),
                )
            ).alias("w"),
        )
    )
    tf = grams.groupBy("doc_id", "w").agg(F.count("*").cast("bigint").alias("tf"))
    # document frequency per token; one hash shuffle on the token,
    # reused immediately by the posting self-join on the same key
    kept = tf.withColumn(
        "dfq", F.count("*").over(W.partitionBy("w"))
    ).filter(F.col("dfq") <= _TFC_STOP_DF)
    # r13 carried-norm, WINDOW form — the same shuffle-shape change as
    # dedup_ngram_jaccard_stopshingle (see the comment there): ‖d‖² is
    # a post-df-cap sum, attached to every posting row by one
    # doc_id-keyed window over the posting frame, which removes the
    # separate norms aggregation and BOTH |pairs|-sized join-backs;
    # norm2_a/norm2_b become pair-groupBy keys (functionally dependent
    # on doc_a/doc_b — partial aggregation preserved, values and the
    # exact-integer threshold arithmetic unchanged; oracle-pinned).
    # Window sums over ≥1 non-null tf² are non-nullable in practice
    # and the cos2 filter tests a derived column, so no isnotnull
    # constraint reaches the scan (r12 trap; plan-audited).
    kept = kept.withColumn(
        "n2",
        F.sum(F.col("tf") * F.col("tf"))
        .over(W.partitionBy("doc_id"))
        .cast("bigint"),
    )
    a = kept.alias("a")
    b = kept.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n2").alias("norm2_a"),
            F.col("b.n2").alias("norm2_b"),
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).cast("bigint").alias("dot"))
    )
    cos2 = F.expr(
        "cast(cast(dot as decimal(38,0)) * dot * 1000000"
        " div (cast(norm2_a as decimal(38,0)) * norm2_b) as bigint)"
    )
    return (
        dots.withColumn("cos2_ppm", cos2)
        .filter(F.col("cos2_ppm") >= _TFC_MIN_COS2_PPM)
        .select("doc_a", "doc_b", "dot", "norm2_a", "norm2_b", "cos2_ppm")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------
# Duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------

_CC_SQL = f"""
WITH RECURSIVE
{shingles_sql(_SHINGLE_K)},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE cast(inter AS double) / (sa.n + sb.n - inter) >= {_JACCARD_THRESHOLD}
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS v FROM sym),
reach(x, y) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a
),
comp AS (SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x)
SELECT doc_id, component,
       cast(count(*) OVER (PARTITION BY component) AS bigint) AS cluster_size
FROM comp
ORDER BY doc_id
"""


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in
    MapReduce and Beyond", 2014): for every node u, connect each
    strictly-larger neighbor v > u to m = min(Γ(u) ∪ {u}). One
    groupBy + one join per step; preserves connectivity, strictly
    reduces large-node degree."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.col("u"), F.min("v")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star step: orient edges high→low; for every node u,
    connect u and all its smaller neighbors to their minimum."""
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    return (
        o.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_contraction_labels(sym: DataFrame, max_rounds: int = 100) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction — the O(log n)-round escalation path for graphs whose
    diameter exceeds the min-label loop's cap (deep duplicate chains).
    Same join+groupBy primitives as the main loop, but each round at
    least halves tree heights instead of shaving one hop.

    Input: symmetric edge list (a, b). Output: (v, label) with label =
    component minimum — identical semantics to min-label propagation.
    Convergence = edge-set fixpoint, detected by (count, hash-sum)
    signature; both steps are deterministic set maps, so an unchanged
    signature at equal count means the same set with overwhelming
    probability (xxhash64 collisions aside, which the paper's exact
    termination proof makes moot in ≤ ~2·log₂(n) rounds).
    """
    # Each round derives the next edge set from the previous one TWICE
    # over (union with swap, join with per-node minima), so carrying
    # lineage would grow the logical plan ~4× per round — eager
    # localCheckpoint truncates it to the materialized blocks (which
    # the ContextCleaner frees once the round's frame is dropped).
    edges = (
        sym.where(F.col("a") > F.col("b"))
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        row = edges.agg(
            F.count("*").alias("n"),
            # decimal sum: long would overflow under ANSI with ~2^63 hashes
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            "star contraction: no fixpoint within "
            f"{max_rounds} rounds (should converge in O(log n))"
        )
    # Fixpoint edge set is a union of stars rooted at component minima:
    # every non-root node carries exactly one (node, root) edge.
    nodes = sym.select(F.col("a").alias("v")).distinct()
    labels = nodes.join(
        edges.select(F.col("u").alias("v"), F.col("v").alias("label")),
        "v",
        "left",
    ).select("v", F.coalesce("label", F.col("v")).alias("label"))
    return labels.localCheckpoint(eager=True)


def connected_components(
    pairs: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Distributed connected components over an undirected pair list.

    Returns (v, label) with label = smallest vertex id in the
    component (the canonical survivor for dedup). Two regimes:

    - Min-label propagation: each round one join+groupBy (label ←
      min(label, neighbor labels)); the loop exits when the label sum
      stops falling (monotone ⇒ fixpoint). Converges in ≤ diameter
      rounds — near-dup graphs are shallow, so this is the common path
      and costs exactly as many shuffles as the graph is deep.
    - Past ``max_rounds`` it AUTO-ESCALATES to large-star/small-star
      contraction (O(log n) rounds) instead of failing: a 100 TB corpus
      with one pathological chain-shaped duplicate cluster must not
      abort the job.

    The returned frame derives from an eager ``localCheckpoint`` —
    nothing stays ``persist``-pinned after this call returns (checkpoint
    blocks are released by the ContextCleaner once the caller drops the
    frame), so repeated registry invocations don't accrete executor
    storage. The driver holds only 1-2 scalars per round either way.
    """
    from pyspark import StorageLevel

    sym = (
        pairs.selectExpr(f"{col_a} AS a", f"{col_b} AS b")
        .union(pairs.selectExpr(f"{col_b} AS a", f"{col_a} AS b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # labels references its own previous round twice (the neighbor join
    # AND the left join), so lineage doubles per round; the eager
    # localCheckpoint both truncates the plan and replaces the
    # persist/unpersist bookkeeping (blocks are ContextCleaner-freed
    # when the previous round's frame is dropped).
    labels = (
        sym.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_rounds):
        nbr = (
            sym.join(
                labels.select(F.col("v").alias("b"), F.col("label").alias("blabel")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("blabel").alias("nmin"))
        )
        labels = (
            labels.join(nbr, labels["v"] == nbr["a"], "left")
            .select(
                labels["v"],
                F.least(
                    labels["label"], F.coalesce(nbr["nmin"], labels["label"])
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:  # min-labels are monotone ⇒ fixpoint
            converged = True
            break
        prev_sum = new_sum
    if converged:
        sym.unpersist()
        return labels
    # Diameter exceeds the propagation cap: escalate to the O(log n)
    # star-contraction variant rather than aborting a long-running job.
    # finally: the edge cache must not stay pinned if escalation itself
    # raises (its own no-fixpoint guard).
    try:
        return _star_contraction_labels(sym)
    finally:
        sym.unpersist()


def cluster_output(labels: DataFrame, id_name: str = "doc_id") -> DataFrame:
    """Shared (id, component, cluster_size) projection over a
    connected-components label frame."""
    w = W.partitionBy("label")
    return labels.select(
        F.col("v").alias(id_name),
        F.col("label").alias("component"),
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
    ).orderBy(id_name)


def _collapsed_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component, cluster_size) over the exact-Jaccard
    duplicate graph, computed on the exact-dup-collapsed graph and
    re-expanded — the output is identical to clustering the full pair
    set, because an exact-duplicate clique is connected through (and
    only through) its representative:

    - the iterative min-label / star-contraction rounds see one NODE
      per distinct text, so a 34-copy boilerplate group costs the loop
      one vertex and zero edges instead of a 561-edge clique;
    - rep label = component-minimum rep = component-minimum doc_id
      (each rep is its group's min) — exactly the uncollapsed label;
    - multi-member shingle-bearing groups whose rep touches no rep
      pair are components of their own (their members pair only with
      each other), re-attached without entering the loop;
    - cluster_size counts MEMBERS via one window over the clustered
      subset only.
    """
    rep_pairs, multi_members, conn_reps = _ngram_collapsed_state(spark, sf_dir)
    labels_rep = connected_components(
        rep_pairs.select("doc_a", "doc_b")
    )  # (v = rep_id, label)
    # multi-member shingle-bearing groups whose rep is NOT in the rep
    # graph are components of their own (members pair only with each
    # other)
    multi_conn = (
        multi_members.select("rep_id")
        .distinct()
        .join(conn_reps, "rep_id", "left_semi")
    )
    extra = multi_conn.join(
        labels_rep.select(F.col("v").alias("rep_id")), "rep_id", "left_anti"
    ).select(F.col("rep_id").alias("v"), F.col("rep_id").alias("label"))
    rep_labels = labels_rep.unionByName(extra)
    # expand rep labels to member docs: a singleton rep IS its only
    # member (left join + coalesce — multi_members is
    # duplicate-count-sized, so the probe broadcasts)
    lab = rep_labels.join(
        multi_members.select(
            F.col("rep_id").alias("v"), F.col("doc_id").alias("member")
        ),
        "v",
        "left",
    ).select(
        F.coalesce("member", "v").alias("doc_id"),
        F.col("label").alias("component"),
    )
    w = W.partitionBy("component")
    return lab.select(
        "doc_id",
        "component",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
    )


@register("dedup_components", oracle=_CC_SQL, tags=("dedup", "iterative"))
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components —
    the capstone of the dedup pipeline (pairs only say "these two
    overlap"; the survivor decision needs the transitive cluster).
    Component id = smallest doc_id in the cluster, which IS the
    canonical survivor. See ``connected_components`` for the two-regime
    iteration (min-label, auto-escalating to large-star/small-star)
    and ``_collapsed_cluster_labels`` for the exact-dup pre-collapse
    that keeps identical-text cliques out of the iterative loop; the
    oracle is DuckDB's recursive-CTE closure over the UNcollapsed pair
    graph — hash-equality proves the collapse changes nothing.
    """
    return _collapsed_cluster_labels(spark, sf_dir).orderBy("doc_id")


# ---------------------------------------------------------------------
# Semantic (embedding-space) dedup: components over cosine pairs
# ---------------------------------------------------------------------

_SEMANTIC_SQL = """
WITH RECURSIVE
v AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
      WHERE {valid}),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM v a, v b
  WHERE a.vec_id < b.vec_id
    AND list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      >= {thr}
),
sym AS (SELECT va AS a, vb AS b FROM pairs
        UNION SELECT vb, va FROM pairs),
nodes AS (SELECT DISTINCT a AS v FROM sym),
reach(x, y) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a
),
comp AS (SELECT x AS vec_id, min(y) AS component FROM reach GROUP BY x)
SELECT vec_id, component,
       cast(count(*) OVER (PARTITION BY component) AS bigint) AS cluster_size
FROM comp
ORDER BY vec_id
"""


from .similarity import _PAIRS_THRESHOLD, _VALID_WHERE  # shared semantic-dup domain


@register(
    "dedup_semantic",
    oracle=_SEMANTIC_SQL.format(thr=_PAIRS_THRESHOLD, valid=_VALID_WHERE),
    tags=("dedup", "similarity", "iterative"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup: duplicate clusters in EMBEDDING
    space — connected components over the cosine-similarity pair graph,
    exactly as ``dedup_components`` clusters the text-shingle Jaccard
    graph. Completes the dedup family's third axis (text-exact,
    text-near, embedding-space): pairs whose wording differs but whose
    embeddings agree (translations, paraphrases, templated rewrites)
    collapse to one canonical survivor = the smallest vec_id.

    Scale: pair generation is the declared-calibration brute-force
    scorer here (exact, oracle-able); the production path feeds the
    SAME component core from ann_lsh_buckets candidates scored inside
    buckets only. Clustering inherits connected_components' two-regime
    iteration (min-label, auto-escalation to large-star/small-star) and
    leaves nothing persist-pinned. North-star extension — no reference
    counterpart; oracle = DuckDB recursive-CTE closure over
    list_dot_product pairs.
    """
    from .similarity import embedding_cosine_pairs

    pairs = embedding_cosine_pairs(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, col_a="vec_a", col_b="vec_b")
    return cluster_output(labels, id_name="vec_id")


# ---------------------------------------------------------------------
# Exact-substring duplication spans (the "dedup training data" shape:
# repeated k-token windows across documents → per-doc covered fraction)
# ---------------------------------------------------------------------

_SUB_K = 5  # window length in tokens

_SUBSTRING_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
w AS (
  SELECT doc_id, i, {" || ' ' || ".join(f"t[i+{j}]" for j in range(_SUB_K))} AS sh
  FROM toks, unnest(range(1, greatest(len(t) - {_SUB_K - 2}, 1))) AS u(i)
  WHERE len(t) >= {_SUB_K}
),
dup AS (SELECT sh FROM w GROUP BY sh HAVING count(DISTINCT doc_id) > 1),
m AS (SELECT doc_id, i FROM w WHERE sh IN (SELECT sh FROM dup)),
runs AS (
  SELECT doc_id, i,
         CASE WHEN i > coalesce(max(i + {_SUB_K}) OVER (
                PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_run
  FROM m
),
g AS (
  SELECT doc_id, i,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM runs
),
cov AS (
  SELECT doc_id, sum(n_in_run) AS n_dup_windows,
         sum(run_len) AS dup_token_count
  FROM (
    SELECT doc_id, run_id, count(*) AS n_in_run,
           max(i + {_SUB_K}) - min(i) AS run_len
    FROM g GROUP BY doc_id, run_id
  ) r
  GROUP BY doc_id
)
SELECT t.doc_id,
       cast(len(t.t) AS bigint) AS n_tokens,
       cast(coalesce(c.n_dup_windows, 0) AS bigint) AS n_dup_windows,
       cast(coalesce(c.dup_token_count, 0) AS bigint) AS dup_token_count,
       cast(coalesce(c.dup_token_count, 0) AS double) / len(t.t) AS dup_frac
FROM toks t LEFT JOIN cov c USING (doc_id)
"""


@register("dedup_substring_spans", oracle=_SUBSTRING_SQL, tags=("dedup", "text"))
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report: every {k}-token window that
    recurs in ≥2 documents marks its token span duplicated; per doc,
    overlapping marked spans union (the sessionization pattern) into
    the duplicated-token count and fraction — the per-document signal
    of corpus-level exact-substring dedup (suffix-array dedup's
    verdict, computed relationally).

    Scale: windows shuffle once keyed by the shingle to find
    cross-document recurrences (a collect_set window — no self-join,
    so the explode subtree runs once), marked spans shuffle once keyed
    by doc_id for the interval union — both standard exchanges;
    nothing is collected, nothing is quadratic. A pathologically hot
    shingle bounds the per-key set at the distinct-doc count; cap with
    a df filter (as dedup_ngram_jaccard_stopshingle does) if a corpus
    has one.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = _SUB_K
    t = F.split(F.col("text"), " ")
    n = F.size(t)
    wins = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.struct(
                i.alias("i"), F.concat_ws(" ", F.slice(t, i, k)).alias("sh")
            ),
        ),
    )
    w = (
        docs.select("doc_id", wins.alias("_w"))
        .filter(F.col("_w").isNotNull())
        .select("doc_id", F.explode("_w").alias("e"))
        .select("doc_id", "e.i", "e.sh")
    )
    # Cross-doc recurrence via a window over the shingle key: ONE pass,
    # one exchange on sh — no self-join, so the explode subtree is not
    # recomputed for a second scan.
    nd = F.size(F.collect_set("doc_id").over(W.partitionBy("sh")))
    m = (
        w.withColumn("nd", nd)
        .filter(F.col("nd") > 1)
        .select("doc_id", "i")
    )
    prev_end = F.max(F.col("i") + k).over(
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = m.withColumn(
        "new_run",
        F.when(F.col("i") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    )
    g = flagged.withColumn(
        "run_id",
        F.sum("new_run").over(
            W.partitionBy("doc_id")
            .orderBy("i")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    cov = (
        g.groupBy("doc_id", "run_id")
        .agg(
            F.count("*").alias("n_in_run"),
            (F.max(F.col("i") + k) - F.min("i")).alias("run_len"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_in_run").cast("bigint").alias("n_dup_windows"),
            F.sum("run_len").cast("bigint").alias("dup_token_count"),
        )
    )
    base = docs.select("doc_id", n.alias("n_tokens"))
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
        F.coalesce("dup_token_count", F.lit(0)).cast("bigint").alias("dup_token_count"),
        (
            F.coalesce("dup_token_count", F.lit(0)).cast("double") / F.col("n_tokens")
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------
# LSH banding calibration report
# ---------------------------------------------------------------------

_CAL_SQL = f"""
SELECT cast(i AS bigint) AS grid_i,
       round(i / 20.0, 9) AS jaccard,
       round(1.0 - pow(1.0 - pow(i / 20.0, {_ROWS_PER_BAND}), {_N_BANDS}), 9)
         AS p_candidate,
       cast({_N_BANDS} AS bigint) AS bands,
       cast({_ROWS_PER_BAND} AS bigint) AS rows_per_band,
       round(pow(1.0 / {_N_BANDS}, 1.0 / {_ROWS_PER_BAND}), 9) AS s_curve_threshold
FROM unnest(range(1, 20)) AS u(i)
ORDER BY grid_i
"""


@register("minhash_calibration", oracle=_CAL_SQL, tags=("dedup", "lsh", "stats"))
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic S-curve for the configured MinHash banding: the
    probability that a pair with true Jaccard j becomes an LSH
    candidate, P = 1 − (1 − j^r)^b, over a j grid, plus the curve's
    threshold (1/b)^(1/r) — the operator report an engineer reads
    before trusting dedup_minhash_lsh's recall at a new corpus.
    Driver-side constant math (19 rows); rounded to 9 dp so the two
    engines' pow() implementations cannot differ in the hash."""
    rows = spark.range(1, 20).select(F.col("id").alias("grid_i"))
    j = F.col("grid_i") / 20.0
    p = 1.0 - F.pow(1.0 - F.pow(j, _ROWS_PER_BAND), _N_BANDS)
    return rows.select(
        "grid_i",
        F.round(j, 9).alias("jaccard"),
        F.round(p, 9).alias("p_candidate"),
        F.lit(_N_BANDS).cast("bigint").alias("bands"),
        F.lit(_ROWS_PER_BAND).cast("bigint").alias("rows_per_band"),
        F.round(
            F.pow(F.lit(1.0 / _N_BANDS), 1.0 / _ROWS_PER_BAND), 9
        ).alias("s_curve_threshold"),
    ).orderBy("grid_i")


# ---------------------------------------------------------------------
# Duplicate-cluster size distribution (dedup impact report)
# ---------------------------------------------------------------------

_CLUSTER_STATS_SQL = f"""
WITH clusters AS ({_CC_SQL.replace("ORDER BY doc_id", "")})
SELECT cast(cluster_size AS bigint) AS cluster_size,
       cast(count(DISTINCT component) AS bigint) AS n_clusters,
       cast(count(*) AS bigint) AS docs_total,
       cast(count(*) - count(DISTINCT component) AS bigint) AS docs_removable
FROM clusters
GROUP BY cluster_size
ORDER BY cluster_size
"""


@register("dedup_cluster_stats", oracle=_CLUSTER_STATS_SQL, tags=("dedup", "stats"))
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: the duplicate-cluster size histogram —
    how many clusters of each size exist, how many documents they
    hold, and how many a keep-one-survivor policy deletes. The number
    an engineer checks before committing a dedup run (a single giant
    cluster usually means a boilerplate shingle, not true dups).

    Scale: one count aggregation over the components labels (already
    |duplicated docs|-sized, tiny relative to the corpus)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = cluster_output(connected_components(pairs))
    return (
        labels.groupBy("cluster_size")
        .agg(
            F.count_distinct("component").cast("bigint").alias("n_clusters"),
            F.count("*").cast("bigint").alias("docs_total"),
            (F.count("*") - F.count_distinct("component"))
            .cast("bigint")
            .alias("docs_removable"),
        )
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "docs_total",
            "docs_removable",
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------
# Canonical-survivor selection (the keep/drop manifest)
# ---------------------------------------------------------------------

_CANON_SQL = f"""
WITH clusters AS ({_CC_SQL.replace("ORDER BY doc_id", "")}),
ranked AS (
  SELECT d.doc_id,
         coalesce(c.component, d.doc_id) AS component,
         coalesce(c.cluster_size, 1) AS cluster_size,
         try_cast(substr(d.source, 4) AS BIGINT) AS src_rank,
         d.n_chars,
         first_value(d.doc_id) OVER (
           PARTITION BY coalesce(c.component, d.doc_id)
           ORDER BY try_cast(substr(d.source, 4) AS BIGINT) ASC NULLS LAST,
                    d.n_chars DESC, d.doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS canonical_doc
  FROM documents d LEFT JOIN clusters c USING (doc_id)
)
SELECT doc_id,
       cast(component AS BIGINT) AS component,
       cast(cluster_size AS BIGINT) AS cluster_size,
       src_rank,
       cast(n_chars AS BIGINT) AS n_chars,
       canonical_doc,
       doc_id = canonical_doc AS is_canonical
FROM ranked
ORDER BY doc_id
"""


@register("dedup_canonical", oracle=_CANON_SQL, tags=("dedup", "pipeline"))
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop manifest: the SURVIVOR decision that turns duplicate
    clusters into an actionable corpus edit. ``dedup_components`` says
    which documents are interchangeable; this picks WHICH one to keep —
    by source trust (the numeric rank in ``source``, lower = more
    trusted), then longer text, then smallest doc_id — the policy a
    production dedup applies so boilerplate from a low-trust mirror
    never displaces the original. Every document gets a row; singletons
    are their own canonical.

    Scale: the survivor window runs ONLY over the clustered subset
    (|duplicated docs|, tiny relative to the corpus — here 47 of 500),
    so the corpus never shuffles by component; the manifest then joins
    back to the full scan keyed by doc_id with NO broadcast hint. The
    manifest is dup-proportional — tiny when dups are rare, but on a
    web-crawl-like corpus with 30-50% of docs in small clusters it is
    O(corpus), and a forced broadcast of that at 100 TB OOMs the
    executors. Unhinted, AQE broadcasts from the manifest's MEASURED
    runtime size when it is actually small and degrades to a shuffled
    join keyed on doc_id otherwise (plan-locked both ways in
    tests/test_plan_shapes.py). Either way the corpus side shuffles at
    most once on its join key — adding the keep decision to 100 TB
    never exchanges the 100 TB twice.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # try_cast, NULLS LAST pinned on both engines: a source value
        # without the numeric suffix ranks least-trusted instead of
        # killing the job (Spark ANSI cast throws; DuckDB cast errors)
        F.expr("try_cast(substring(source, 4) AS BIGINT)").alias("src_rank"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    labels = _collapsed_cluster_labels(spark, sf_dir)
    # Survivor policy evaluated on the SMALL clustered frame only.
    clustered = labels.join(docs, "doc_id")
    w = (
        W.partitionBy("component")
        .orderBy(
            F.col("src_rank").asc_nulls_last(),
            F.col("n_chars").desc(),
            F.col("doc_id").asc()
        )
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    manifest = clustered.select(
        "doc_id",
        "component",
        "cluster_size",
        F.first("doc_id").over(w).alias("canonical_doc"),
    )
    return (
        # No broadcast hint: the manifest is dup-proportional (see
        # docstring) — AQE picks broadcast from measured size.
        docs.join(manifest, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
            F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias("cluster_size"),
            "src_rank",
            "n_chars",
            F.coalesce("canonical_doc", "doc_id").alias("canonical_doc"),
            (
                F.col("doc_id") == F.coalesce("canonical_doc", "doc_id")
            ).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------
# SemDeDup production path: within-KMeans-cluster semantic dedup
# ---------------------------------------------------------------------


def _semantic_clustered_sql() -> str:
    from .similarity import _KM_D2, _KM_ITERS, _km_cte

    d2, iters = _KM_D2, _KM_ITERS
    cos = (
        "list_dot_product(a.e, b.e)"
        " / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
    )
    return _km_cte("WITH RECURSIVE ") + f""",
fa AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c{iters}.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2.format(i=iters)}, c{iters}.cid) AS rn
    FROM v, c{iters}
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM fa a JOIN fa b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.e, a.e) > 0 AND list_dot_product(b.e, b.e) > 0
    AND {cos} >= {_PAIRS_THRESHOLD}
),
sym AS (SELECT va AS a, vb AS b FROM pairs
        UNION SELECT vb, va FROM pairs),
nodes AS (SELECT DISTINCT a AS v2 FROM sym),
reach(x, y) AS (
  SELECT v2, v2 FROM nodes
  UNION
  SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a
),
comp AS (SELECT x AS vec_id, min(y) AS component FROM reach GROUP BY x)
SELECT vec_id, component,
       cast(count(*) OVER (PARTITION BY component) AS bigint) AS cluster_size
FROM comp
ORDER BY vec_id
"""


@register(
    "dedup_semantic_clustered",
    oracle=_semantic_clustered_sql(),
    tags=("dedup", "similarity", "iterative"),
)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup AS PUBLISHED (Abbas et al. 2023): partition the
    embedding space with KMeans FIRST, score pairs only WITHIN each
    cluster, then connected-components — the production path whose
    pair cost is Σ|cluster|² ≈ n²/k instead of ``dedup_semantic``'s
    brute-force n² (and each cluster's pair join is an independent,
    perfectly parallel task).

    Exactly verifiable end-to-end: the deterministic fixed-point
    KMeans (see kmeans_embeddings) means the ORACLE replays clustering,
    within-cluster scoring, and the transitive closure — so even this
    two-stage approximate pipeline hash-matches. Dup pairs straddling
    a cluster boundary are missed by design (the SemDeDup trade-off);
    the overlap with the brute-force pair set is pinned in
    tests/test_dedup.py.
    """
    from .similarity import dot_col, kmeans_assignment_frame

    # clustering runs on the FULL domain (L2 handles zero vectors);
    # the cosine pair scorer excludes zero-norm vectors like the rest
    # of the cosine family (oracle applies the same predicate)
    fa = kmeans_assignment_frame(spark, sf_dir).filter(
        dot_col(F.col("e"), F.col("e")) > 0
    )
    norm = F.sqrt(dot_col(F.col("e"), F.col("e")))
    a = fa.select(
        F.col("cluster").alias("cid"),
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        norm.alias("na"),
    )
    b = fa.select(
        F.col("cluster").alias("cid"),
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        norm.alias("nb"),
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        # norms hoisted per row (identical doubles to the oracle's
        # per-pair sqrt(dot)): 1 fold per within-cluster pair, not 3.
        # The when() guard keeps the division total: filter predicates
        # reorder freely under Catalyst, so without it this predicate
        # could evaluate before the zero-norm prefilter and abort
        # under ANSI. NULL >= threshold is NULL → row dropped, same
        # outcome.
        .filter(
            F.when(
                (F.col("na") > 0) & (F.col("nb") > 0),
                dot_col(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
            )
            >= _PAIRS_THRESHOLD
        )
        .select("vec_a", "vec_b")
    )
    labels = connected_components(pairs, col_a="vec_a", col_b="vec_b")
    return cluster_output(labels, id_name="vec_id")


# ---------------------------------------------------------------------
# Bloom-filter incremental probe (sketch-side dedup, no corpus join)
# ---------------------------------------------------------------------

_BLOOM_BITS = 8192  # m: 256 words x 32 bits
_BLOOM_MOD = 5  # doc_id % MOD == 0 -> the incoming batch (dedup_incremental's split)

# Two independent positions from one md5: hex chars 1-15 and 17-31
# (both 60-bit nonnegative), mod m — the engine-portable hash pair the
# minhash/simhash portable variants use.
_BLOOM_KEY_SQL = (
    "CASE WHEN text IS NOT NULL"
    " THEN array_to_string((string_split(text, ' '))[1:8], ' ') END"
)

_BLOOM_SQL = f"""
WITH k AS (SELECT doc_id, {_BLOOM_KEY_SQL} AS h FROM documents),
hp AS (
  SELECT doc_id, h,
         ('0x' || substr(md5(h), 1, 15))::BIGINT % {_BLOOM_BITS} AS p1,
         ('0x' || substr(md5(h), 17, 15))::BIGINT % {_BLOOM_BITS} AS p2
  FROM k),
bm AS (
  SELECT pos >> 5 AS w, bit_or(1::BIGINT << (pos & 31)) AS bits
  FROM (SELECT p1 AS pos FROM hp WHERE doc_id % {_BLOOM_MOD} <> 0 AND h IS NOT NULL
        UNION ALL
        SELECT p2 FROM hp WHERE doc_id % {_BLOOM_MOD} <> 0 AND h IS NOT NULL)
  GROUP BY 1),
probe AS (SELECT doc_id, p1 >> 5 AS w1, p1 & 31 AS b1,
                 p2 >> 5 AS w2, p2 & 31 AS b2
          FROM hp WHERE doc_id % {_BLOOM_MOD} = 0)
SELECT p.doc_id,
       coalesce(((m1.bits >> p.b1) & 1) = 1, false)
         AND coalesce(((m2.bits >> p.b2) & 1) = 1, false) AS maybe_dup
FROM probe p
LEFT JOIN bm m1 ON m1.w = p.w1
LEFT JOIN bm m2 ON m2.w = p.w2
ORDER BY p.doc_id
"""


def _bloom_frames(spark: SparkSession, sf_dir: str):
    """(bitmap, probe) frames shared by the probe and calibration
    queries: the ≤256-row (word, bits) Bloom sketch of the corpus
    side's dedup keys, and the incoming batch with its two probe
    positions pre-split into (word, bit)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.when(
        F.col("text").isNotNull(),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)),
    )
    hx = F.md5(F.col("h"))
    pos = [
        F.pmod(
            F.conv(F.substring(hx, start, 15), 16, 10).cast("long"),
            F.lit(_BLOOM_BITS),
        )
        for start in (1, 17)
    ]
    hp = docs.select("doc_id", key.alias("h")).select(
        "doc_id", "h", pos[0].alias("p1"), pos[1].alias("p2")
    )
    corpus = hp.filter(
        (F.col("doc_id") % _BLOOM_MOD != 0) & F.col("h").isNotNull()
    )
    stacked = corpus.select(
        F.explode(F.array("p1", "p2")).alias("pos")
    ).select(
        F.shiftright("pos", 5).alias("w"),
        # shift-by-column needs the SQL form (F.shiftleft takes only a
        # literal count)
        F.expr("shiftleft(cast(1 AS bigint), pos & 31)").alias("mask"),
    )
    bitmap = stacked.groupBy("w").agg(F.bit_or("mask").alias("bits"))
    probe = hp.filter(F.col("doc_id") % _BLOOM_MOD == 0).select(
        "doc_id",
        "h",
        F.shiftright("p1", 5).alias("w1"),
        F.col("p1").bitwiseAND(31).alias("b1"),
        F.shiftright("p2", 5).alias("w2"),
        F.col("p2").bitwiseAND(31).alias("b2"),
    )
    return bitmap, probe


def _bloom_verdict_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    bitmap, probe = _bloom_frames(spark, sf_dir)
    m1 = bitmap.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    m2 = bitmap.select(F.col("w").alias("w2"), F.col("bits").alias("bits2"))
    # bit tests: shiftright by a COLUMN needs the SQL form
    t1 = F.expr("coalesce(((bits1 >> b1) & 1) = 1, false)")
    t2 = F.expr("coalesce(((bits2 >> b2) & 1) = 1, false)")
    return (
        probe.join(F.broadcast(m1), "w1", "left")
        .join(F.broadcast(m2), "w2", "left")
        .select("doc_id", "h", (t1 & t2).alias("maybe_dup"))
    )


@register("dedup_bloom_probe", oracle=_BLOOM_SQL, tags=("dedup", "sketch"))
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup by BLOOM SKETCH (Bloom, CACM 1970): the
    corpus side collapses to an m-bit filter (here 8192 bits = 256 bigint words) over the same
    dedup keys dedup_incremental joins on, and the incoming batch
    probes the broadcast sketch — "definitely new" is certain (no
    false negatives), "maybe duplicate" escalates to the exact path.

    This is the shape that beats dedup_incremental at 100 TB ingest:
    the corpus is never re-joined per batch — it streams ONCE into a
    KB-sized bit_or aggregate (map-side combined, ≤256 rows exchanged)
    that persists across batches, and each probe is two broadcast word
    lookups. k=2 engine-portable hash positions per key (two 60-bit
    md5 halves mod m, the minhash/simhash portable hash pair); NULL
    text keys to NULL and probes as definitely-new on both engines.
    The flagged subset (true dups + ~(fill)^k false positives —
    measured by bloom_calibration) then runs exact confirmation at a
    tiny fraction of the batch."""
    return _bloom_verdict_frame(spark, sf_dir).select(
        "doc_id", "maybe_dup"
    ).orderBy("doc_id")


_BLOOM_CAL_SQL = f"""
WITH k AS (SELECT doc_id, {_BLOOM_KEY_SQL} AS h FROM documents),
hp AS (
  SELECT doc_id, h,
         ('0x' || substr(md5(h), 1, 15))::BIGINT % {_BLOOM_BITS} AS p1,
         ('0x' || substr(md5(h), 17, 15))::BIGINT % {_BLOOM_BITS} AS p2
  FROM k),
bm AS (
  SELECT pos >> 5 AS w, bit_or(1::BIGINT << (pos & 31)) AS bits
  FROM (SELECT p1 AS pos FROM hp WHERE doc_id % {_BLOOM_MOD} <> 0 AND h IS NOT NULL
        UNION ALL
        SELECT p2 FROM hp WHERE doc_id % {_BLOOM_MOD} <> 0 AND h IS NOT NULL)
  GROUP BY 1),
verdict AS (
  SELECT p.doc_id, p.h,
         coalesce(((m1.bits >> (p.p1 & 31)) & 1) = 1, false)
           AND coalesce(((m2.bits >> (p.p2 & 31)) & 1) = 1, false) AS maybe_dup
  FROM (SELECT * FROM hp WHERE doc_id % {_BLOOM_MOD} = 0) p
  LEFT JOIN bm m1 ON m1.w = p.p1 >> 5
  LEFT JOIN bm m2 ON m2.w = p.p2 >> 5),
truth AS (SELECT DISTINCT h FROM hp
          WHERE doc_id % {_BLOOM_MOD} <> 0 AND h IS NOT NULL)
SELECT cast(count(*) AS bigint) AS n_probes,
       cast(sum(CASE WHEN v.maybe_dup THEN 1 ELSE 0 END) AS bigint) AS n_flagged,
       cast(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_true_dups,
       cast(sum(CASE WHEN v.maybe_dup AND t.h IS NULL THEN 1 ELSE 0 END) AS bigint)
         AS n_false_positives,
       cast(sum(CASE WHEN NOT v.maybe_dup AND t.h IS NOT NULL THEN 1 ELSE 0 END) AS bigint)
         AS n_false_negatives
FROM verdict v LEFT JOIN truth t USING (h)
"""


@register("bloom_calibration", oracle=_BLOOM_CAL_SQL, tags=("dedup", "sketch", "calibration"))
def bloom_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-probe quality report: flagged vs exact-join ground truth.
    n_false_negatives must be 0 (the Bloom guarantee — asserted by
    tests/test_bloom.py); n_false_positives calibrates the m/k choice
    against the observed fill. The ground-truth join is hash-keyed
    (never bodies) and runs on the BATCH only — this is the audit one
    runs on a sample before trusting the sketch for an ingest cycle,
    not the production path."""
    verdict = _bloom_verdict_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    key = F.when(
        F.col("text").isNotNull(),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)),
    )
    truth = (
        docs.select("doc_id", key.alias("h"))
        .filter((F.col("doc_id") % _BLOOM_MOD != 0) & F.col("h").isNotNull())
        .select("h")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    j = verdict.join(truth, "h", "left")
    actual = F.col("_hit").isNotNull()
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return j.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        one(F.col("maybe_dup")).alias("n_flagged"),
        one(actual).alias("n_true_dups"),
        one(F.col("maybe_dup") & ~actual).alias("n_false_positives"),
        one(~F.col("maybe_dup") & actual).alias("n_false_negatives"),
    )


# ---------------------------------------------------------------------
# Cross-method dedup evaluation (knob calibration report)
# ---------------------------------------------------------------------


def _method_eval_sql() -> str:
    """Composes the EXISTING exact-oracle pipelines as subqueries
    (each keeps its own WITH scope): ground truth = the exact-Jaccard
    pair set, candidates = the portable MinHash and SimHash pipelines
    at their production thresholds."""
    return f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({_JACCARD_SQL})),
m AS (
  SELECT 'minhash' AS method, doc_a, doc_b FROM ({_minhash_portable_sql()})
  UNION ALL
  SELECT 'simhash' AS method, doc_a, doc_b FROM ({_simhash_portable_sql()})
),
per AS (
  SELECT m.method,
         cast(count(*) AS bigint) AS n_pairs,
         cast(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS bigint)
           AS true_positives
  FROM m LEFT JOIN truth t USING (doc_a, doc_b)
  GROUP BY 1
),
tot AS (SELECT cast(count(*) AS bigint) AS n_truth FROM truth)
SELECT method, n_pairs, n_truth, true_positives,
       n_pairs - true_positives AS false_positives,
       n_truth - true_positives AS false_negatives,
       round(cast(true_positives AS double) / n_pairs, 6) AS precision,
       CASE WHEN n_truth > 0
            THEN round(cast(true_positives AS double) / n_truth, 6) END
         AS recall
FROM per, tot
ORDER BY method"""


@register("dedup_method_eval", oracle=_method_eval_sql(), tags=("dedup", "calibration"))
def dedup_method_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side evaluation of the approximate dedup methods
    against the exact-Jaccard ground truth — the report one runs to
    pick bands/thresholds before a 100 TB dedup pass: per method, the
    candidate-pair count, true/false positives against exact J ≥ τ,
    the misses, and precision/recall. (SimHash detects hamming
    proximity of a token-multiset projection — a DIFFERENT notion of
    near-dup than shingle Jaccard — so its agreement here is exactly
    the information this report exists to surface.)

    Composes the oracle-exact operators themselves (no
    re-implementation): truth from dedup_ngram_jaccard, candidates
    from the portable MinHash/SimHash pipelines. Scale: the evaluation
    join is pair-keys only (two ids per row), grouped per method —
    negligible next to the candidate generation it measures, and the
    ground-truth side would run on a SAMPLE at 100 TB (exact Jaccard
    over the full corpus is what the approximate methods avoid)."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    found = None
    for name, fn in (
        ("minhash", dedup_minhash_portable),
        ("simhash", dedup_simhash_portable),
    ):
        f = fn(spark, sf_dir).select(
            F.lit(name).alias("method"), "doc_a", "doc_b"
        )
        found = f if found is None else found.unionAll(f)
    j = found.join(
        truth.withColumn("_t", F.lit(True)), ["doc_a", "doc_b"], "left"
    )
    per = j.groupBy("method").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0))
        .cast("bigint")
        .alias("true_positives"),
    )
    tot = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    out = per.crossJoin(F.broadcast(tot))
    prec = F.round(
        F.col("true_positives").cast("double") / F.col("n_pairs"), 6
    )
    rec = F.when(
        F.col("n_truth") > 0,
        F.round(
            F.col("true_positives").cast("double") / F.col("n_truth"), 6
        ),
    )
    return out.select(
        "method",
        "n_pairs",
        "n_truth",
        "true_positives",
        (F.col("n_pairs") - F.col("true_positives")).alias("false_positives"),
        (F.col("n_truth") - F.col("true_positives")).alias("false_negatives"),
        prec.alias("precision"),
        rec.alias("recall"),
    ).orderBy("method")


# ---------------------------------------------------------------------
# PPJoin-style prefix-filtered EXACT set-similarity self-join
# ---------------------------------------------------------------------


def _ppjoin_pairs(docs: DataFrame) -> DataFrame:
    """Prefix-filtered exact-Jaccard pair core over any ``(doc_id,
    text)`` frame — (doc_a, doc_b, jaccard) thresholded, unordered.
    See :func:`dedup_ppjoin` for the algorithm and citations."""
    toked, toks = tokens_attr(docs)
    # token-count pre-filter, NOT sh.isNotNull(): a filter on the
    # shingle column pushes to the scan with the whole HOF chain
    # inlined (see minhash_lsh_pairs; r11 forensics) — this plan
    # carried SIX such scan-filter copies before the fix
    floored = toked.filter(F.size(toks) >= _SHINGLE_K)
    arr = floored.select(
        "doc_id",
        shingles_col(toks, _SHINGLE_K).alias("sh"),
    )
    # Explode the EXPRESSION, not the projected alias: explode of an
    # attribute triggers InferFiltersFromGenerate (isnotnull + size>0
    # on the attribute), and pushdown then substitutes the whole
    # shingle chain into those inferred scan filters — the same
    # monster the token-count pre-filter exists to avoid. Explode of
    # a complex expression skips the inference (probed; the ngram
    # operator's shape).
    sh = floored.select(
        "doc_id", F.explode(shingles_col(toks, _SHINGLE_K)).alias("shingle")
    )
    df_tbl = sh.groupBy("shingle").agg(F.count("*").cast("bigint").alias("df"))
    # rarest-first order: attach df, rebuild the per-doc list sorted by
    # (df, shingle), slice the prefix  n - ceil(t*n) + 1  (t = 0.8 →
    # ceil(4n/5) = (4n+4) div 5, exact integers)
    prefix = (
        sh.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ordered"),
            F.count("*").cast("bigint").alias("n"),
        )
        .select(
            "doc_id",
            "n",
            F.posexplode(
                F.slice(
                    F.col("ordered"),
                    1,
                    F.expr("cast(n - ((4 * n + 4) div 5) + 1 as int)"),
                )
            ).alias("pos0", "tok"),
        )
        .select(
            "doc_id",
            "n",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.col("tok.shingle").alias("shingle"),
        )
    )
    ia = prefix.select(
        "shingle",
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("pos").alias("pa"),
    )
    ib = prefix.select(
        "shingle",
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("pos").alias("pb"),
    )
    # POSITIONAL filter (the "PP" of PPJoin): a token at 1-based
    # position i of x's global-order list caps the overlap at
    # 1 + min(|x|−i, |y|−j); a qualifying pair needs overlap
    # α = ⌈t/(1+t)·(|x|+|y|)⌉ = (4·(na+nb)+8) div 9 at t = 4/5, and
    # the first SHARED prefix token of any qualifying pair satisfies
    # the bound — so keeping pairs whose best shared-token bound
    # reaches α loses nothing (Xiao et al., WWW 2008, Lemma 1).
    cand = (
        ia.join(ib, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length bound: J ≥ 0.8 needs 5·|smaller| ≥ 4·|larger|
            & (5 * F.least("na", "nb") >= 4 * F.greatest("na", "nb"))
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(
            F.max(
                1 + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            ).alias("ubound")
        )
        .filter(F.col("ubound") >= F.expr("(4 * (na + nb) + 8) div 9"))
        .select("doc_a", "doc_b")
    )
    verified = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sa") + F.size("sb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


@register("dedup_ppjoin", oracle=_JACCARD_SQL, tags=("dedup",))
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED exact Jaccard self-join (the PPJoin family:
    Chaudhuri-Ganti-Kaushik ICDE 2006; Xiao et al. WWW 2008) — the
    third exact set-similarity join in this engine, against the full
    inverted index (dedup_ngram_jaccard, Σdf² candidate cost) and the
    probabilistic LSH banding (dedup_minhash_lsh):

    order every doc's distinct 5-gram shingles RAREST-FIRST (global
    document frequency, shingle as tiebreak) and index only the first
    ``n − ⌈t·n⌉ + 1`` of them. The prefix-filter theorem: two sets
    with Jaccard ≥ t MUST share at least one prefix token under any
    common global order — so candidates sharing an indexed token,
    thinned by the length bound ``t·|larger| ≤ |smaller|``, cover all
    qualifying pairs, and the verify stage computes the exact Jaccard
    on the candidate set only. At t = 0.8 the index holds ~1/5 of the
    token occurrences, and because the RAREST tokens fill prefixes,
    the Σdf² of the indexed sublist collapses — the quadratic hot
    buckets (stop-shingles) are exactly the tokens prefixes exclude.

    The candidate stage also applies PPJoin's POSITIONAL filter
    (overlap upper bound from each shared token's prefix positions —
    see the inline lemma note); it costs nothing (the pair groupBy
    replaces a distinct) and bites on size-skewed pairs that share
    only late-prefix tokens. On this fixture's random-word corpus the
    prefix filter alone is already minimal (every candidate is a true
    pair), so the measured candidate counts are equal — stated here
    so the numbers aren't read as the filter failing.

    Like every pairwise method here, the corpus first PRE-COLLAPSES
    exact duplicates (:func:`collapse_exact_text`) — the core runs
    over distinct texts (df counted on reps is still a valid common
    order for the theorem) and the pair set re-expands afterwards
    (the 500k-doc fixture measured the uncollapsed run output-bound:
    592 s / 618 MB for 26.9M pairs, almost all exact-dup cliques).

    The oracle is dedup_ngram_jaccard's brute-force SQL verbatim:
    hash-equality proves BOTH the filter's completeness and the
    collapse's neutrality. Same output contract
    (doc_a, doc_b, jaccard ≥ 0.8).

    Scale shape: df table is a vocabulary aggregate; the per-doc
    prefix is an array_sort + slice inside codegen; the candidate
    self-join keys on the (thin) indexed shingle; the verify joins
    each candidate doc's shingle array at most (candidates-per-doc)
    times — bodies never shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    reps, multi_members = collapse_exact_text(docs)
    rep_pairs = _ppjoin_pairs(reps.select("doc_id", "text"))
    conn_reps = reps.filter(
        F.size(F.split(F.col("text"), " ")) >= _SHINGLE_K
    ).select(F.col("doc_id").alias("rep_id"))
    intra = multi_members.join(conn_reps, "rep_id", "left_semi")
    return expand_rep_pairs(
        rep_pairs, multi_members, "jaccard", intra, 1.0
    ).orderBy("doc_a", "doc_b")
