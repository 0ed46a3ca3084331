"""Text-analysis operators (north star, SURVEY §2.12): language-ID
heuristic, quality scoring, token counting, document fingerprinting.

All pure column expressions with exact DuckDB oracles — the Spark and
oracle sides compute the same IEEE double expressions in the same
order, so equality is exact.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..caching import hold
from ..functions.casefold import FOLD_DST as _FOLD_DST
from ..functions.casefold import FOLD_SRC as _FOLD_SRC
from ..partitioning import spread_for_kernel
from ..registry import register
from ..sources.tables import load_table
from .shingles import shingles_col, shingles_sql, tokens_attr

# A small English stopword core (public knowledge); enough for a
# ratio-based heuristic on whitespace text.
_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that "
    "with for on as at by from not but"
).split()

_SW_SQL_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

_LANG_ID_SQL = f"""
SELECT doc_id, lang,
       cast(n_stop AS double) / n_tok AS stop_ratio,
       CASE WHEN cast(n_stop AS double) / n_tok >= 0.05 THEN 'en'
            ELSE 'unknown' END AS predicted_lang
FROM (
  SELECT doc_id, lang,
         len(t) AS n_tok,
         len(list_filter(t, x -> x IN ({_SW_SQL_LIST}))) AS n_stop
  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents)
)
WHERE n_tok > 0
"""


@register("lang_id_heuristic", oracle=_LANG_ID_SQL, tags=("text",))
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID: fraction of tokens in an English
    stopword core; ≥5% → 'en'. N-gram-profile language ID follows the
    same shape (token stats → ratio → argmax) at scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    n_tok = F.size(t)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    ratio = n_stop.cast("double") / n_tok
    return (
        docs.select(
            "doc_id",
            "lang",
            ratio.alias("stop_ratio"),
            F.when(ratio >= 0.05, "en").otherwise("unknown").alias("predicted_lang"),
        )
        .filter(n_tok > 0)
    )


_QUALITY_SQL = f"""
SELECT doc_id, n_tokens, uniq_ratio, avg_token_len, stop_ratio,
       0.4 * least(cast(n_tokens AS double) / 100, 1.0)
         + 0.3 * uniq_ratio + 0.3 * stop_ratio AS quality_score
FROM (
  SELECT doc_id,
         cast(len(t) AS bigint) AS n_tokens,
         cast(len(list_distinct(t)) AS double) / len(t) AS uniq_ratio,
         cast(length(array_to_string(t, '')) AS double) / len(t) AS avg_token_len,
         cast(len(list_filter(t, x -> x IN ({_SW_SQL_LIST}))) AS double) / len(t) AS stop_ratio
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
  WHERE len(t) > 0
)
"""


@register("quality_score", oracle=_QUALITY_SQL, tags=("text",))
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, lexical diversity, average
    token length, stopword ratio → weighted score. The filter-gate
    shape used to drop boilerplate/garbage docs from training data.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    n = F.size(t)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    uniq_ratio = F.size(F.array_distinct(t)).cast("double") / n
    avg_len = F.length(F.concat_ws("", t)).cast("double") / n
    stop_ratio = F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast(
        "double"
    ) / n
    score = (
        0.4 * F.least(n.cast("double") / 100, F.lit(1.0))
        + 0.3 * uniq_ratio
        + 0.3 * stop_ratio
    )
    return docs.filter(n > 0).select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        uniq_ratio.alias("uniq_ratio"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality_score"),
    )


# GPT-2-style pre-tokenizer alternation, lookahead-free so Java
# (Spark) and RE2 (DuckDB) agree: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs, residual whitespace.
# Whitespace is an EXPLICIT class, not \s: Java's \s is [ \t\n\x0B\f\r]
# while RE2's is [\t\n\f\r ] — \x0B in a document would make the piece
# count diverge between engines if either pattern used the shorthand.
_BPE_PIECES = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^ \t\n\f\rA-Za-z0-9]+|[ \t\n\f\r]+"
)

_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       cast(len(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS bigint) AS n_ws_tokens,
       cast(len(regexp_extract_all(text, '[A-Za-z0-9''-]+')) AS bigint) AS n_re_tokens,
       cast(length(text) AS bigint) AS n_chars,
       cast(ceil(length(text) / 4.0) AS bigint) AS approx_bpe_tokens,
       cast(len(regexp_extract_all(text,
            '{_BPE_PIECES.replace("'", "''")}')) AS bigint) AS n_bpe_pieces
FROM documents
"""


@register("token_count", oracle=_TOKEN_COUNT_SQL, tags=("text",))
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting four ways: whitespace split, regex word scan
    (the reference's tokenizer, claude_research_optimal.py:31), the
    chars/4 BPE approximation used for LLM budget estimates, and a
    GPT-2-style pre-tokenizer piece count (the \"BPE-ish regex\" —
    an upper bound on real BPE tokens, computed entirely in the scan
    stage with no vocabulary).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), r"[ \t\n\f\r]+")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z0-9'-]+"), 0))
        .cast("bigint")
        .alias("n_re_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("approx_bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PIECES), 0))
        .cast("bigint")
        .alias("n_bpe_pieces"),
    )


_FP_K = 4

_FINGERPRINT_SQL = f"""
WITH {shingles_sql(_FP_K)}
SELECT doc_id,
       min(md5(shingle)) AS fingerprint,
       cast(count(*) AS bigint) AS n_shingles
FROM sh
GROUP BY doc_id
ORDER BY doc_id
"""


@register("doc_fingerprint", oracle=_FINGERPRINT_SQL, tags=("text", "dedup"))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hash document fingerprint: md5 over distinct word 4-grams,
    keep the minimum digest — a 1-slot MinHash (winnowing with a
    single global window). Two near-identical docs collide on it with
    probability ≈ their Jaccard similarity.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked, toks = tokens_attr(docs)
    sh = toked.select(
        "doc_id",
        F.explode(shingles_col(toks, _FP_K)).alias("shingle"),
    )
    return (
        sh.groupBy("doc_id")
        .agg(
            F.min(F.md5(F.col("shingle"))).alias("fingerprint"),
            F.count("*").cast("bigint").alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------
# TF-IDF top terms (SURVEY §2.12: the classic text-weighting operator)
# ---------------------------------------------------------------------

_TFIDF_TOPK = 3

_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln(cast(n.n_docs AS double) / df.df) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, round(tfidf, 6) AS tfidf,
         cast(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS bigint) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= {_TFIDF_TOPK}
ORDER BY doc_id, rank
"""


@register("tfidf_top_terms", oracle=_TFIDF_SQL, tags=("text", "agg"))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: explode → per-(doc,term) TF →
    per-term DF → idf = ln(N/df) → rank per doc.

    Scale: two partial-agg shuffles (doc,term) and (term); the DF table
    is vocabulary-sized and broadcasts back onto the TF table; N is a
    scalar literal. Same shape as MLlib's HashingTF+IDF without the
    hashing collision (exact terms).

    The IEEE expression tf·ln(N/df) is computed identically in both
    engines, so the oracle matches exactly (rounded to 6 dp on both
    sides for belt and braces).
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    n_docs = docs.count()
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TFIDF_TOPK)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rank")
        .orderBy("doc_id", "rank")
    )


_STOPWORD_FILTER_SQL = f"""
SELECT doc_id,
       CASE WHEN len(list_filter(string_split(lower(text), ' '),
                   x -> x <> '' AND x NOT IN ({_SW_SQL_LIST}))) > 0 THEN
         array_to_string(list_filter(string_split(lower(text), ' '),
                   x -> x <> '' AND x NOT IN ({_SW_SQL_LIST})), ' ')
       END AS content_text,
       cast(len(list_filter(string_split(lower(text), ' '),
                   x -> x <> '' AND x NOT IN ({_SW_SQL_LIST}))) AS bigint) AS n_content
FROM documents
ORDER BY doc_id
"""


@register("stopword_filter", oracle=_STOPWORD_FILTER_SQL, tags=("text",))
def stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StopWordsRemover semantics as a pure array expression: drop
    stopwords/empties from the token array, keep original order.
    Documents with NO content tokens (empty / all-stopword / NULL
    text) yield NULL content_text — made explicit on both engines so
    the edge case can't diverge (Spark's array_join and DuckDB's
    array_to_string disagree on the empty list)."""
    docs = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = F.filter(
        F.split(F.lower("text"), " "),
        lambda x: (x != "") & ~F.array_contains(sw, x),
    )
    return docs.select(
        "doc_id",
        F.when(F.size(toks) > 0, F.array_join(toks, " ")).alias("content_text"),
        F.size(toks).cast("bigint").alias("n_content"),
    ).orderBy("doc_id")


_CURATION_SQL = f"""
WITH base AS (
  SELECT doc_id, sha256(text) AS content_hash,
         string_split(lower(text), ' ') AS t
  FROM documents
),
scored AS (
  SELECT doc_id, content_hash,
         cast(len(list_filter(t, x -> x IN ({_SW_SQL_LIST}))) AS double)
           / len(t) AS stop_ratio,
         0.4 * least(cast(len(t) AS double) / 100, 1.0)
           + 0.3 * (cast(len(list_distinct(t)) AS double) / len(t))
           + 0.3 * (cast(len(list_filter(t, x -> x IN ({_SW_SQL_LIST}))) AS double)
                      / len(t)) AS quality_score,
         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
  FROM base
  WHERE len(t) > 0
)
SELECT doc_id, content_hash,
       CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unknown' END AS predicted_lang,
       quality_score,
       rn = 1 AS is_canonical,
       (stop_ratio >= 0.05 AND quality_score >= 0.5 AND rn = 1) AS keep
FROM scored
ORDER BY doc_id
"""


@register("corpus_curation", oracle=_CURATION_SQL, tags=("text", "dedup", "pipeline"))
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus curation gate as ONE pass: language ID, quality
    score, exact-dup survivorship (first doc per content hash), and
    the final keep decision — the composition a training-data
    pipeline applies to every ingested document.

    Scale: one scan + one hash-partitioned window on the 32-byte
    content hash; every scoring component is a codegen'd column
    expression computed before the shuffle, so the exchange carries
    scalars, never token arrays.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    n = F.size(t)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    stop_ratio = F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast(
        "double"
    ) / n
    quality = (
        0.4 * F.least(n.cast("double") / 100, F.lit(1.0))
        + 0.3 * (F.size(F.array_distinct(t)).cast("double") / n)
        + 0.3 * stop_ratio
    )
    h = F.sha2("text", 256)
    scored = docs.filter(n > 0).select(
        "doc_id",
        h.alias("content_hash"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality_score"),
    )
    rn = F.row_number().over(W.partitionBy("content_hash").orderBy("doc_id"))
    lang = F.when(F.col("stop_ratio") >= 0.05, "en").otherwise("unknown")
    return (
        scored.withColumn("rn", rn)
        .select(
            "doc_id",
            "content_hash",
            lang.alias("predicted_lang"),
            "quality_score",
            (F.col("rn") == 1).alias("is_canonical"),
            (
                (F.col("stop_ratio") >= 0.05)
                & (F.col("quality_score") >= 0.5)
                & (F.col("rn") == 1)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------

_WIN_K = 8  # character k-gram length
_WIN_W = 4  # winnowing window (min over w consecutive gram hashes)

def winnow_fps(docs: DataFrame, k: int = _WIN_K, w: int = _WIN_W) -> DataFrame:
    """(doc_id, fps) — the distinct winnowed fingerprint set per doc;
    shared by the registered queries and the guarantee test."""
    return (
        docs.selectExpr("doc_id", "lower(text) AS s")
        .filter(F.length("s") >= k + w - 1)
        .selectExpr(
            "doc_id",
            f"transform(sequence(1, length(s) - {k - 1}),"
            f"          i -> md5(substring(s, i, {k}))) AS grams",
        )
        .selectExpr(
            "doc_id",
            f"array_distinct(transform(sequence(1, size(grams) - {w - 1}),"
            f"               j -> array_min(slice(grams, j, {w})))) AS fps",
        )
    )


_WINNOW_SQL = f"""
WITH s AS (SELECT doc_id, lower(text) AS s FROM documents),
g AS (
  SELECT doc_id,
         [md5(substr(s, i, {_WIN_K})) for i in range(1, length(s) - {_WIN_K - 2})] AS grams
  FROM s WHERE length(s) >= {_WIN_K + _WIN_W - 1}
),
w AS (
  SELECT doc_id,
         list_distinct([list_aggregate(grams[j:j + {_WIN_W - 1}], 'min')
                        for j in range(1, len(grams) - {_WIN_W - 2})]) AS fps
  FROM g
)
SELECT doc_id,
       cast(len(fps) AS bigint) AS n_fp,
       list_aggregate(fps, 'min') AS min_fp,
       list_aggregate(fps, 'max') AS max_fp
FROM w
ORDER BY doc_id
"""


@register("doc_winnowing", oracle=_WINNOW_SQL, tags=("text", "dedup"))
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash scheme): hash every character k-gram (k=8), keep the
    minimum hash of each w-window of consecutive gram hashes,
    de-duplicate. Guarantees any shared substring of length ≥ k+w−1
    yields a shared fingerprint — the local-similarity complement to
    the whole-document shingle fingerprints in ``doc_fingerprint``.

    The rolling-hash recurrence is an implementation trick for
    single-pass CPUs; semantically every gram is hashed independently,
    which is exactly what the codegen'd higher-order functions do here
    (and what keeps the DuckDB oracle bit-identical). Everything runs
    in the scan stage; only (doc_id, count, min, max) leave it.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        winnow_fps(docs)
        .select(
            "doc_id",
            F.size("fps").cast("bigint").alias("n_fp"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


_WPAIR_K = 16  # longer grams than doc_winnowing: selectivity for the index
_WPAIR_W = 4
_WPAIR_DF_CAP = 32  # stop-fingerprint cap (hot boilerplate phrases)
_WIN_SHARE_MIN = 3  # min shared fingerprints to pair

_WINNOW_PAIRS_SQL = f"""
WITH s AS (SELECT doc_id, lower(text) AS s FROM documents),
g AS (
  SELECT doc_id,
         [md5(substr(s, i, {_WPAIR_K})) for i in range(1, length(s) - {_WPAIR_K - 2})] AS grams
  FROM s WHERE length(s) >= {_WPAIR_K + _WPAIR_W - 1}
),
w AS (
  SELECT doc_id,
         list_distinct([list_aggregate(grams[j:j + {_WPAIR_W - 1}], 'min')
                        for j in range(1, len(grams) - {_WPAIR_W - 2})]) AS fps
  FROM g
),
fp AS (SELECT doc_id, unnest(fps) AS fp FROM w),
fpk AS (SELECT doc_id, fp FROM fp WHERE substr(fp, 1, 1) IN ('0','1','2','3')),
dfq AS (SELECT fp, count(*) AS c FROM fpk GROUP BY 1),
kept AS (SELECT fpk.doc_id, fpk.fp FROM fpk JOIN dfq USING (fp)
         WHERE c <= {_WPAIR_DF_CAP}),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_WIN_SHARE_MIN}
)
SELECT doc_a, doc_b, cast(n_shared AS bigint) AS n_shared,
       cast(n_shared AS double) / least(sa.n, sb.n) AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY doc_a, doc_b
"""


@register("dedup_winnow_pairs", oracle=_WINNOW_PAIRS_SQL, tags=("dedup", "text"))
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap candidate pairs via shared winnowing
    fingerprints, scored by CONTAINMENT (shared / smaller fingerprint
    set) rather than global Jaccard — this catches a short document
    embedded verbatim inside a long one, which whole-document MinHash
    similarity dilutes away.

    Scale: same inverted-index shape as the shingle Jaccard join, with
    the three standard density controls composed: winnowing (~1/w of
    raw grams), mod-sampling (keep 1/4 of fingerprints by first hex
    digit), and a stop-fingerprint document-frequency cap (boilerplate
    phrases shared by > cap docs are dropped — the hot-bucket control,
    same as dedup_ngram_jaccard_stopshingle). Counts on both sides of
    the containment ratio use the same filtered stream, so the score
    stays a consistent estimator.
    """
    from pyspark.sql import Window as W

    from ..caching import hold

    docs = load_table(spark, sf_dir, "documents")
    # PERSIST the fingerprint ARRAYS before exploding: Generate
    # re-evaluates an inline generator expression per OUTPUT row, so
    # exploding the raw nested-transform column re-runs the full
    # O(doc_len) gram+winnow chain once per fingerprint — measured
    # 176 s vs 0.3 s at sf0.001 for the explode alone. Persisting the
    # (doc_id, fps) arrays makes the generator a plain column read,
    # and the pin is also what the df-cap/sizes/self-join reuse.
    wf = hold(
        "winnow_fps",
        winnow_fps(
            spread_for_kernel(docs),
            k=_WPAIR_K,
            w=_WPAIR_W,
        ),
    )
    fpk = wf.select("doc_id", F.explode("fps").alias("fp")).filter(
        F.substring("fp", 1, 1).isin("0", "1", "2", "3")
    )
    kept = fpk.withColumn(
        "c", F.count("*").over(W.partitionBy("fp"))
    ).filter(F.col("c") <= _WPAIR_DF_CAP).select("doc_id", "fp")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.alias("a")
    b = kept.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_SHARE_MIN)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("sa.n"), F.col("sb.n"))
            ).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


_PROFILE_SQL = """
SELECT 'text' AS col,
       cast(count(*) AS bigint) AS n_rows,
       cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_null,
       cast(count(DISTINCT text) AS bigint) AS n_distinct,
       cast(min(length(text)) AS bigint) AS min_len,
       cast(max(length(text)) AS bigint) AS max_len,
       round(avg(length(text)), 6) AS avg_len
FROM documents
UNION ALL
SELECT 'lang',
       cast(count(*) AS bigint),
       cast(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS bigint),
       cast(count(DISTINCT lang) AS bigint),
       cast(min(length(lang)) AS bigint),
       cast(max(length(lang)) AS bigint),
       round(avg(length(lang)), 6)
FROM documents
UNION ALL
SELECT 'source',
       cast(count(*) AS bigint),
       cast(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS bigint),
       cast(count(DISTINCT source) AS bigint),
       cast(min(length(source)) AS bigint),
       cast(max(length(source)) AS bigint),
       round(avg(length(source)), 6)
FROM documents
ORDER BY col
"""


@register("profile_documents", oracle=_PROFILE_SQL, tags=("text", "stats"))
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling (the ANALYZE/data-quality report every
    ingest pipeline runs before training): per-column row/null/distinct
    counts and length stats, computed as a single multi-aggregate scan
    per column family and unioned into a tall report.

    Scale: count(DISTINCT) is the only shuffle-bearing term; Spark
    plans one partial-agg pass per distinct column (expand) — at
    100 TB you swap it for approx_count_distinct (see
    approx_stats_orders) and keep everything else identical.
    """
    docs = load_table(spark, sf_dir, "documents")

    def prof(col: str) -> DataFrame:
        c = F.col(col)
        return docs.agg(
            F.lit(col).alias("col"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("bigint").alias("n_null"),
            F.count_distinct(c).cast("bigint").alias("n_distinct"),
            F.min(F.length(c)).cast("bigint").alias("min_len"),
            F.max(F.length(c)).cast("bigint").alias("max_len"),
            F.round(F.avg(F.length(c)), 6).alias("avg_len"),
        )

    return (
        prof("text").union(prof("lang")).union(prof("source")).orderBy("col")
    )


# ---------------------------------------------------------------------
# Vocabulary coverage (tokenizer-prep statistics)
# ---------------------------------------------------------------------

_VOCAB_COVERAGE_TARGET = 0.95

_VOCAB_SQL = f"""
WITH w AS (
  SELECT u.tok AS word, count(*) AS n
  FROM (SELECT string_split(text, ' ') AS t FROM documents), unnest(t) AS u(tok)
  GROUP BY u.tok
),
r AS (
  SELECT word, n,
         cast(row_number() OVER (ORDER BY n DESC, word) AS bigint) AS rank,
         sum(n) OVER (ORDER BY n DESC, word
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(n) OVER () AS total
  FROM w
)
SELECT word, cast(n AS bigint) AS n, rank,
       round(cast(cum AS double) / total, 9) AS cum_coverage,
       cast(cum AS double) / total <= {_VOCAB_COVERAGE_TARGET} OR rank = 1
         AS in_vocab
FROM r
ORDER BY rank
"""


@register("vocab_coverage", oracle=_VOCAB_SQL, tags=("text", "stats"))
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics for tokenizer preparation: word
    frequencies ranked, cumulative token coverage, and the vocabulary
    cut that covers {target} of the token stream (always at least the
    top word). Deterministic total order (count desc, word asc), so
    ranks and the cut are engine-stable; integer counts make the
    cumulative exact.

    Scale: one word-count shuffle with map-side partials; the ranking
    is a single total-order window over |vocab| rows — vocabulary, not
    corpus, sized (a 100 TB crawl has ~10^7 distinct words, trivially
    one partition). Coverage rounded to 9 dp for cross-engine hashing.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    order = W.orderBy(F.desc("n"), F.asc("word"))
    total = W.partitionBy()
    cum = F.sum("n").over(order.rowsBetween(W.unboundedPreceding, W.currentRow))
    ranked = w.select(
        "word",
        "n",
        F.row_number().over(order).cast("bigint").alias("rank"),
        cum.alias("cum"),
        F.sum("n").over(total).alias("total"),
    )
    coverage = F.col("cum").cast("double") / F.col("total")
    return ranked.select(
        "word",
        "n",
        "rank",
        F.round(coverage, 9).alias("cum_coverage"),
        ((coverage <= _VOCAB_COVERAGE_TARGET) | (F.col("rank") == 1)).alias(
            "in_vocab"
        ),
    ).orderBy("rank")


_LANG_CONFUSION_SQL = f"""
WITH p AS (
  SELECT lang,
         CASE WHEN cast(len(list_filter(t, x -> x IN ({_SW_SQL_LIST}))) AS double)
                   / len(t) >= 0.05
              THEN 'en' ELSE 'unknown' END AS predicted_lang
  FROM (SELECT lang, string_split(lower(text), ' ') AS t FROM documents)
  WHERE len(t) > 0
)
SELECT lang, predicted_lang,
       cast(count(*) AS bigint) AS n,
       round(cast(count(*) AS double)
             / sum(count(*)) OVER (PARTITION BY lang), 9) AS frac_of_lang
FROM p
GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
"""


@register("lang_id_confusion", oracle=_LANG_CONFUSION_SQL, tags=("text", "stats"))
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-ratio language ID against the
    corpus' ground-truth labels — the evaluation report that justifies
    (or indicts) a cheap classifier before it gates a corpus. Integer
    counts, one rounded division per cell."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower(F.col("text")), " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    ratio = F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast(
        "double"
    ) / F.size(t)
    p = docs.filter(F.size(t) > 0).select(
        "lang",
        F.when(ratio >= 0.05, "en").otherwise("unknown").alias("predicted_lang"),
    )
    from pyspark.sql import Window as W

    cell = p.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    total = F.sum("n").over(W.partitionBy("lang"))
    return cell.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(F.col("n").cast("double") / total, 9).alias("frac_of_lang"),
    ).orderBy("lang", "predicted_lang")


# ---------------------------------------------------------------------
# Unigram-LM perplexity filter (CCNet-style quality scoring)
# ---------------------------------------------------------------------

_LM_SCALE = 1_000_000       # micro-nat fixed point for -ln p(w)
_LM_THRESH_U = 7_000_000    # flag docs with mean -ln p > 7.0 nats (ppl > ~1097)

_LM_PPL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE len(string_split(text, ' ')) > 0
),
freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
tot AS (SELECT sum(cnt) AS total FROM freq),
lp AS (
  SELECT w,
         cast(floor(-ln(cast(cnt AS double) / total) * {_LM_SCALE} + 0.5)
              AS bigint) AS lp_u
  FROM freq, tot
),
s AS (
  SELECT t.doc_id, count(*) AS n, sum(lp.lp_u) AS sum_u
  FROM toks t JOIN lp USING (w)
  GROUP BY t.doc_id
)
SELECT doc_id,
       cast(n AS bigint) AS n_tokens,
       round(cast(sum_u AS double) / (n * {_LM_SCALE}.0), 6) AS avg_neglogp,
       round(exp(cast(sum_u AS double) / (n * {_LM_SCALE}.0)), 4) AS perplexity,
       sum_u > n * {_LM_THRESH_U} AS is_low_quality
FROM s
ORDER BY doc_id
"""


@register("unigram_perplexity", oracle=_LM_PPL_SQL, tags=("text", "quality"))
def unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filter, CCNet-style: train a unigram LM
    on the corpus itself (word → count/total), score every document by
    its mean negative log-probability, and flag the high-perplexity
    tail — the "does this even look like language from this corpus?"
    gate that catches gibberish, wrong-language spillover, and
    boilerplate that length/ratio rules miss.

    Exactness: per-WORD -ln p is quantized once to integer micro-nats
    (floor(x·1e6 + 0.5)), so the per-document reduction is a bigint
    sum — order-independent under any partitioning — and the keep flag
    compares on the integer scale (sum_u > n·thresh_u), immune to
    float-boundary drift. Only the two display columns divide back to
    double.

    Scale: train = one word-keyed count aggregation (map-side combined)
    + a 1-row total broadcast; score = re-explode and BROADCAST the
    vocabulary-sized frequency table to the token stream (pinned —
    without the hint the score join sort-merge-shuffles one row per
    TOKEN, measured 61 s vs 8 s at 500 k documents; past the broadcast
    budget, bucket-join on the word key), then one doc_id
    aggregation. No data-dependent iteration."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.size(F.split(F.col("text"), " ")) > 0)
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    lp_u = F.floor(
        -F.log(F.col("cnt").cast("double") / F.col("total")) * _LM_SCALE + 0.5
    ).cast("bigint")
    lp = freq.crossJoin(F.broadcast(tot)).select("w", lp_u.alias("lp_u"))
    s = (
        toks.join(F.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("lp_u").alias("sum_u"))
    )
    avg = F.col("sum_u").cast("double") / (F.col("n") * float(_LM_SCALE))
    return s.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.round(avg, 6).alias("avg_neglogp"),
        F.round(F.exp(avg), 4).alias("perplexity"),
        (F.col("sum_u") > F.col("n") * _LM_THRESH_U).alias("is_low_quality"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------
# Exact distributed heavy hitters (Misra-Gries candidates + recount)
# ---------------------------------------------------------------------

_HH_PHI_DEN = 50   # heavy hitter ⟺ cnt · 50 > N  (frequency > 2%)
_HH_CAPACITY = 64  # MG counters per partition; guarantee needs ≥ 49

_HH_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT w,
       cast(count(*) AS bigint) AS cnt,
       cast(count(*) AS double) / n AS share
FROM toks, tot
GROUP BY w, n
HAVING count(*) * {_HH_PHI_DEN} > n
ORDER BY cnt DESC, w
"""


def _mg_ingest(counters: dict, pairs, capacity: int) -> None:
    """Fold (value, count) pairs into a Misra-Gries counter dict,
    in place. Compresses (subtract the (capacity+1)-largest counter,
    drop non-positive) both at the end of every ingest AND whenever
    the dict exceeds 8·capacity mid-stream: the merge rule composes
    (Agarwal et al., PODS'12), and the in-loop trigger bounds peak
    memory to O(capacity) instead of O(distinct values per batch) on
    high-cardinality streams. Each compression removes ≥
    (capacity+1)·cut total mass, so any key loses at most
    n_p/(capacity+1) across ALL compressions — the heavy-hitter
    survival guarantee is unchanged (property-tested directly in
    tests/test_heavy_hitters.py)."""
    soft_cap = 8 * capacity

    def compress():
        cut = sorted(counters.values(), reverse=True)[capacity]
        for k in [k for k, c in counters.items() if c <= cut]:
            del counters[k]
        for k in counters:
            counters[k] -= cut

    for k, c in pairs:
        counters[k] = counters.get(k, 0) + c
        if len(counters) > soft_cap:
            compress()
    if len(counters) > capacity:
        compress()


def misra_gries_candidates(items: DataFrame, col: str, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries summaries of a single string column:
    each partition emits ≤ ``capacity`` candidate values, guaranteed to
    include every value whose partition count exceeds
    n_p/(capacity+1) (Misra & Gries 1982; merge rule per Agarwal et
    al., "Mergeable Summaries", PODS'12: add batch counts, then
    subtract the (capacity+1)-largest counter and drop non-positive).

    Arrow-native (``mapInArrow``): batches stream through a dict of
    counters; only the ≤capacity surviving keys per partition are
    emitted, so the operator's output is O(capacity · partitions)
    regardless of input size or cardinality.
    """
    import pyarrow as pa

    def mg(batches):
        counters: dict = {}
        for batch in batches:
            vc = pa.compute.value_counts(batch.column(0))
            _mg_ingest(
                counters,
                ((kv["values"].as_py(), kv["counts"].as_py()) for kv in vc),
                capacity,
            )
        yield pa.RecordBatch.from_arrays(
            [pa.array(list(counters.keys()), type=pa.string())], [col]
        )

    return items.select(col).mapInArrow(mg, f"{col} string")


@register("heavy_hitter_words", oracle=_HH_SQL, tags=("text", "stats"))
def heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (vocabulary items with frequency
    above 1/50 = 2%) via the two-pass sketch-then-recount pattern:
    pass 1 runs Misra-Gries per partition (≤64 counters each, map-side
    only) and unions the candidates — a guaranteed superset of the
    true heavy hitters, since a word with global count > N/50 must
    exceed n_p/50 ≥ n_p/(64+1) in some partition; pass 2
    broadcast-probes the tokens against the tiny candidate set and
    exactly recounts ONLY those, so the result equals the plain
    groupBy-HAVING oracle under ANY partitioning.

    Scale: the long tail — the overwhelming share of a 100 TB
    vocabulary — never enters an exchange: pass 1 emits
    O(capacity · partitions) rows, pass 2 shuffles only candidate-word
    tokens (map-side combined to ≤ capacity·partitions partial rows).
    A plain groupBy ships one partial row per DISTINCT word per
    partition instead — billions, mostly hapax legomena. The threshold
    compare is integer (cnt·{den} > N): exact on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    cands = misra_gries_candidates(toks, "w", _HH_CAPACITY).distinct()
    total = toks.agg(F.count("*").alias("n"))
    counted = (
        toks.join(F.broadcast(cands), "w")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(total))
    )
    return (
        counted.filter(F.col("cnt") * _HH_PHI_DEN > F.col("n"))
        .select(
            "w",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), "w")
    )


# ---------------------------------------------------------------------
# Bigram-LM perplexity with stupid backoff (train/score split)
# ---------------------------------------------------------------------

_BI_TRAIN_MOD = 5       # doc_id % MOD != 0 → LM training split
_BI_BACKOFF = 0.4       # stupid-backoff factor α (Brants et al. 2007)
_BI_THRESH_U = 7_500_000  # mean -ln p > 7.5 nats → low quality

# Quantized score tables, all integer micro-nats:
#   lq_u(w)   = ⌊-ln(c_u(w)/T)·S + ½⌋         (unigram, train counts)
#   lq_oov    = ⌊ ln(T+1)·S + ½⌋              (unseen unigram: p=1/(T+1))
#   lq_bi(b)  = ⌊-ln(c_bi(b)/c_u(w1))·S + ½⌋  (seen bigram)
#   backoff   = ⌊-ln(α)·S + ½⌋ + (lq_u(w2) or lq_oov)
# Every transcendental is evaluated ONCE per distinct key and floored
# to bigint, so the per-document reduction is an integer sum — exact
# under any partitioning and any join order WITHIN each engine.
# Cross-engine equality additionally relies on the JVM's and DuckDB's
# libm agreeing on ln() at each distinct input: a 1-ulp divergence
# landing exactly on a floor(x·S + ½) boundary would shift that key's
# table entry by one micro-nat. tests/test_libm_boundaries.py audits
# this directly: every distinct quantization input on the driver
# fixtures lands ≥1e-6 grid units from a boundary — ~500× any libm's
# 1-ulp error — so identical flooring is a PROVEN property of these
# fixtures, not an observed one. (On a fixture that fails the audit,
# the guarantee narrows to "exact within each engine"; widen the
# driver-facing sum by ±1 micro-nat/term there.)
_BIGRAM_SQL = f"""
WITH train AS (
  SELECT string_split(lower(text), ' ') AS t FROM documents
  WHERE doc_id % {_BI_TRAIN_MOD} <> 0 AND text IS NOT NULL
),
u AS (
  SELECT w, count(*) AS cu
  FROM (SELECT unnest(t) AS w FROM train) GROUP BY w
),
tot AS (SELECT sum(cu) AS total FROM u),
lu AS (
  SELECT w, cast(floor(-ln(cast(cu AS double) / total) * {_LM_SCALE} + 0.5)
                 AS bigint) AS lq_u
  FROM u, tot
),
consts AS (
  SELECT cast(floor(ln(cast(total + 1 AS double)) * {_LM_SCALE} + 0.5)
              AS bigint) AS lq_oov,
         cast(floor(-ln({_BI_BACKOFF}) * {_LM_SCALE} + 0.5) AS bigint)
           AS lq_alpha
  FROM tot
),
bi AS (
  SELECT w1, w2, count(*) AS cb
  FROM (
    SELECT unnest([struct_pack(w1 := t[i], w2 := t[i + 1])
                   for i in range(1, len(t))], recursive := true)
    FROM train
  ) GROUP BY w1, w2
),
lb AS (
  SELECT bi.w1, bi.w2,
         cast(floor(-ln(cast(cb AS double) / cu) * {_LM_SCALE} + 0.5)
              AS bigint) AS lq_bi
  FROM bi JOIN u ON u.w = bi.w1
),
docs_t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE text IS NOT NULL
),
first_term AS (
  SELECT doc_id, coalesce(lu.lq_u, consts.lq_oov) AS q
  FROM (SELECT doc_id, t[1] AS w FROM docs_t) f
  LEFT JOIN lu ON lu.w = f.w
  CROSS JOIN consts
),
bigrams AS (
  SELECT doc_id, b.w1, b.w2
  FROM (
    SELECT doc_id, unnest([struct_pack(w1 := t[i], w2 := t[i + 1])
                           for i in range(1, len(t))]) AS b
    FROM docs_t
  )
),
bigram_terms AS (
  SELECT doc_id,
         coalesce(lb.lq_bi,
                  consts.lq_alpha + coalesce(lu.lq_u, consts.lq_oov)) AS q
  FROM bigrams
  LEFT JOIN lb ON lb.w1 = bigrams.w1 AND lb.w2 = bigrams.w2
  LEFT JOIN lu ON lu.w = bigrams.w2
  CROSS JOIN consts
),
s AS (
  SELECT doc_id, count(*) AS n, sum(q) AS sum_u
  FROM (SELECT * FROM first_term UNION ALL SELECT * FROM bigram_terms)
  GROUP BY doc_id
)
SELECT doc_id,
       cast(n AS bigint) AS n_terms,
       round(cast(sum_u AS double) / (n * {_LM_SCALE}.0), 6) AS avg_neglogp,
       round(exp(cast(sum_u AS double) / (n * {_LM_SCALE}.0)), 4) AS perplexity,
       sum_u > n * {_BI_THRESH_U} AS is_low_quality
FROM s
ORDER BY doc_id
"""


def _bigram_structs(t):
    """array<struct<w1,w2>> of adjacent token pairs — JVM-side array
    slicing, no explode until the pair rows are actually needed."""
    n = F.size(t)
    return F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


@register("bigram_perplexity", oracle=_BIGRAM_SQL, tags=("text", "quality"))
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality filter with stupid backoff (Brants et al.,
    "Large Language Models in Machine Translation", EMNLP 2007): train
    bigram/unigram tables on a held-out split (doc_id % 5 ≠ 0 stands
    in for the clean reference corpus CCNet trains on), score EVERY
    document by mean negative log-probability — first token by the
    unigram table, each following token by p(w2|w1) when the bigram
    was seen, else α·p_uni(w2) with the unseen-unigram fallback
    1/(T+1) — and flag the high-perplexity tail. Unlike
    unigram_perplexity (trained on itself, so nothing is ever unseen),
    the split makes the backoff path reachable: scored docs can
    contain unseen words and transitions (the uniform driver fixture's
    tiny vocabulary happens to cover every bigram, so the backoff and
    OOV paths are pinned by tests/test_bigram_lm.py's constructed
    corpus and by the adversarial-text fixture's score-only unicode
    docs instead).

    Exactness: integer micro-nat quantization once per distinct
    unigram/bigram/constant (comment above _BIGRAM_SQL), so the
    per-document sum is order-independent bigint arithmetic.

    Scale: the LM tables (lu/lb) are vocabulary-sized — O(distinct
    unigrams/bigrams), orders of magnitude smaller than the token
    stream — so the score-side joins broadcast them (pinned below and
    by tests/test_plan_shapes.py): the per-token rows never shuffle at
    score time; the only score-side exchange is the final doc_id
    aggregation, map-side combined. The broadcast holds while the
    quantized tables fit in the driver/executor broadcast budget
    (~tens of millions of entries at 16 B each; the bench fixture is
    thousands); past that, write the tables once and bucket-join on
    the word key so the token stream still shuffles at most once. The
    bigram pair derivation is JVM array slicing in the scan stage."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = F.split(F.lower(F.col("text")), " ")
    train = docs.filter(F.col("doc_id") % _BI_TRAIN_MOD != 0)

    u = (
        train.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    tot = u.agg(F.sum("cu").alias("total"))
    lu = (
        u.crossJoin(F.broadcast(tot))
        .select(
            "w",
            F.floor(
                -F.log(F.col("cu").cast("double") / F.col("total"))
                * _LM_SCALE
                + 0.5
            )
            .cast("bigint")
            .alias("lq_u"),
        )
    )
    consts = tot.select(
        F.floor(F.log((F.col("total") + 1).cast("double")) * _LM_SCALE + 0.5)
        .cast("bigint")
        .alias("lq_oov"),
        F.floor(-F.log(F.lit(float(_BI_BACKOFF))) * _LM_SCALE + 0.5)
        .cast("bigint")
        .alias("lq_alpha"),
    )
    bi = (
        train.select(F.explode(_bigram_structs(t)).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("cb"))
    )
    lb = bi.join(u, bi.w1 == u.w).select(
        "w1",
        "w2",
        F.floor(
            -F.log(F.col("cb").cast("double") / F.col("cu")) * _LM_SCALE + 0.5
        )
        .cast("bigint")
        .alias("lq_bi"),
    )

    scored = docs.select("doc_id", t.alias("t"))
    first_term = (
        scored.select("doc_id", F.element_at("t", 1).alias("w"))
        .join(F.broadcast(lu), "w", "left")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", F.coalesce("lq_u", "lq_oov").alias("q"))
    )
    bigram_terms = (
        scored.select("doc_id", F.explode(_bigram_structs(F.col("t"))).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .join(F.broadcast(lb), ["w1", "w2"], "left")
        .join(
            F.broadcast(
                lu.withColumnRenamed("w", "w2").withColumnRenamed("lq_u", "lq_u2")
            ),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.coalesce(
                "lq_bi",
                F.col("lq_alpha") + F.coalesce("lq_u2", "lq_oov"),
            ).alias("q"),
        )
    )
    s = (
        first_term.unionByName(bigram_terms)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("q").alias("sum_u"))
    )
    avg = F.col("sum_u").cast("double") / (F.col("n") * float(_LM_SCALE))
    return s.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(avg, 6).alias("avg_neglogp"),
        F.round(F.exp(avg), 4).alias("perplexity"),
        (F.col("sum_u") > F.col("n") * _BI_THRESH_U).alias("is_low_quality"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------
# Count-Min sketch (approximate frequencies, exact integer replay)
# ---------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 16  # cells per row — sized to the fixture's 31-word vocab so
#             collisions (and hence real overestimates) actually occur;
#             production sizes w ≈ ⌈e/ε⌉ for an ε·N error bound
_CMS_MIN = 5  # probe words with exact count ≥ MIN (calibration scope)

# Row-j position: four disjoint 32-bit md5 chunks, mod width — the
# engine-portable hash family (same md5-derivation trick as the
# minhash/simhash/bloom portable paths).
_CMS_OFFSETS = (1, 9, 17, 25)


def _cms_pos_sql(expr: str, j: int) -> str:
    off = _CMS_OFFSETS[j]
    return f"('0x' || substr(md5({expr}), {off}, 8))::BIGINT % {_CMS_W}"


_CMS_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
cells AS (
  SELECT w, j,
         CASE j {" ".join(f"WHEN {j} THEN {_cms_pos_sql('w', j)}" for j in range(_CMS_D - 1))}
                ELSE {_cms_pos_sql('w', _CMS_D - 1)} END AS p
  FROM toks, unnest([{", ".join(str(j) for j in range(_CMS_D))}]) AS u(j)
),
counters AS (SELECT j, p, cast(count(*) AS bigint) AS c FROM cells GROUP BY j, p),
exact AS (SELECT w, cast(count(*) AS bigint) AS exact_cnt FROM toks
          GROUP BY w HAVING count(*) >= {_CMS_MIN}),
probe AS (
  SELECT e.w, e.exact_cnt, j,
         CASE j {" ".join(f"WHEN {j} THEN {_cms_pos_sql('e.w', j)}" for j in range(_CMS_D - 1))}
                ELSE {_cms_pos_sql('e.w', _CMS_D - 1)} END AS p
  FROM exact e, unnest([{", ".join(str(j) for j in range(_CMS_D))}]) AS u(j)
)
SELECT p.w, p.exact_cnt, min(c.c) AS cms_est,
       min(c.c) - p.exact_cnt AS overestimate
FROM probe p JOIN counters c ON c.j = p.j AND c.p = p.p
GROUP BY p.w, p.exact_cnt
ORDER BY p.exact_cnt DESC, p.w
"""


def _cms_pos_col(w, j: int):
    return F.pmod(
        F.conv(F.substring(F.md5(w), _CMS_OFFSETS[j], 8), 16, 10).cast("long"),
        F.lit(_CMS_W),
    )


@register("cms_word_counts", oracle=_CMS_SQL, tags=("text", "sketch", "calibration"))
def cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH over the corpus token stream (Cormode &
    Muthukrishnan, J. Algorithms 2005) with its calibration report:
    estimate = min over d hash rows of the (row, cell) counter; the
    one-sided guarantee (estimate ≥ true count, overshoot ≤ ε·N w.h.p.)
    is asserted row-by-row against the exact counts.

    The sketch completes the repo's streaming-summary trio —
    Misra-Gries answers "which items are heavy" EXACTLY,
    dedup_bloom_probe answers "was this seen" with no false negatives,
    CMS answers "about how often" for EVERY item in O(d·w) integers.
    All-integer arithmetic on an md5-derived position family shared by
    both engines, so the DuckDB replay hash-matches exactly.

    Scale: the build is ONE aggregation whose key domain is the d·w
    counter grid — map-side combine reduces every partition to ≤ d·w
    partial rows, so shuffle volume is FLAT in corpus size (the same
    thesis as heavy_hitter_words, measured in SCALING.md); the counter
    table (≤ 64 rows here; KBs in production) broadcasts to the probe.
    The exact-count side exists to MEASURE the sketch (this is the
    audit one runs on a sample before trusting the estimates); the
    production consumer reads the sketch alone."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    # md5 staged ONCE per token (its own projection — lambda/array
    # bodies get no common-subexpression elimination, and 4× md5 per
    # token measured 3× the whole query's wall at 27 M tokens); the
    # d positions are then cheap substr+conv derivations, posexploded
    # as plain ints with the array index AS the row id j.
    hx = toks.select(F.md5("w").alias("hx"))
    pos_of = lambda off: F.pmod(  # noqa: E731
        F.conv(F.substring(F.col("hx"), off, 8), 16, 10).cast("long"),
        F.lit(_CMS_W),
    )
    cells = hx.select(
        F.posexplode(
            F.array(*[pos_of(off) for off in _CMS_OFFSETS])
        ).alias("j", "p")
    )
    counters = cells.groupBy("j", "p").agg(
        F.count("*").cast("bigint").alias("c")
    )
    exact = (
        toks.groupBy("w")
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
        .filter(F.col("exact_cnt") >= _CMS_MIN)
    )
    probe = exact.select(
        "w",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_pos_col(F.col("w"), j).alias("p"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("x"),
    ).select("w", "exact_cnt", "x.j", "x.p")
    est = (
        probe.join(F.broadcast(counters), ["j", "p"])
        .groupBy("w", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "w",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
    ).orderBy(F.col("exact_cnt").desc(), "w")


# ---------------------------------------------------------------------
# BPE merge training (tokenizer induction over the corpus)
# ---------------------------------------------------------------------

_BPE_N_MERGES = 8

# Generated-table casefold (r8, VERDICT r7 task 4; ASCII-only in r7):
# full Unicode lower() is engine-divergent (Spark maps U+0130 İ ->
# 'i'+combining-dot, DuckDB -> plain 'i'; Spark emits final sigma 'ς'
# where DuckDB keeps 'σ' — both probed on this toolchain), so the fold
# never calls either engine's lower(): it is a translate over a table
# GENERATED at import (functions/casefold.py — ASCII plus the 1:1
# simple case maps of Latin-1/Latin-Ext-A/Greek/Cyrillic, ~200 pairs)
# embedded as the SAME literal in both plans. "Привет" now folds to
# "привет" on both engines; İ (no 1:1 map) folds to itself,
# documented. Every other primitive these operators use —
# substring/length, empty-separator split, binary string ORDER BY —
# is codepoint-exact and engine-identical (probed on CJK, combining
# marks, and supplementary-plane emoji; Spark 4's UTF8String and
# DuckDB both index CODE POINTS, not UTF-16 units).
_ASCII_UP = _FOLD_SRC  # legacy names: the full generated fold tables
_ASCII_LO = _FOLD_DST
_FOLD_SQL = f"translate(text, '{_FOLD_SRC}', '{_FOLD_DST}')"


def _bpe_cte() -> str:
    """Unrolled CTE chain replaying the SAME deterministic BPE
    training: char-spaced word types with counts, then per merge step
    (i) count adjacent symbol pairs weighted by word count, (ii) pick
    the (count desc, pair asc) argmax, (iii) apply it with sentinel-
    delimited ``replace`` — leftmost non-overlapping, continue-after-
    replacement on BOTH engines (probed: ' a a a a ' → ' aa a a ').
    Ends at v{N} (the fully-merged segmentation) and b0..b{N-1}."""
    parts = [f"""WITH w0 AS (
  SELECT w, cast(count(*) AS bigint) AS cnt FROM (
    SELECT unnest(string_split({_FOLD_SQL}, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w
),
v0 AS (SELECT w, cnt,
              ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS sp
       FROM w0)"""]
    for i in range(_BPE_N_MERGES):
        parts.append(f""",
p{i} AS (
  SELECT s[k] || ' ' || s[k+1] AS pair, sum(cnt) AS c
  FROM (SELECT cnt, string_split(trim(sp), ' ') AS s FROM v{i}),
       unnest(range(1, len(s))) AS u(k)
  GROUP BY 1
),
b{i} AS (SELECT pair, c FROM p{i} ORDER BY c DESC, pair LIMIT 1),
v{i + 1} AS (
  SELECT v.w, v.cnt,
         CASE WHEN b.pair IS NULL THEN v.sp
              ELSE replace(v.sp, ' ' || b.pair || ' ',
                           ' ' || replace(b.pair, ' ', '') || ' ') END AS sp
  FROM v{i} v LEFT JOIN b{i} b ON true
)""")
    return "".join(parts)


def _bpe_sql() -> str:
    finals = " UNION ALL ".join(
        f"SELECT {i + 1} AS merge_rank, pair,"
        f" replace(pair, ' ', '') AS merged, c AS pair_count FROM b{i}"
        for i in range(_BPE_N_MERGES)
    )
    return _bpe_cte() + f"""
SELECT cast(merge_rank AS bigint) AS merge_rank, pair, merged,
       cast(pair_count AS bigint) AS pair_count
FROM ({finals}) ORDER BY merge_rank"""


def _bpe_vocab_sql() -> str:
    """The induced subword vocabulary: every symbol of the final
    segmentation with its corpus token count (word count × per-word
    occurrences) and whether it came from a merge."""
    n = _BPE_N_MERGES
    merged_set = " UNION ALL ".join(
        f"SELECT replace(pair, ' ', '') AS m FROM b{i}" for i in range(n)
    )
    return _bpe_cte() + f""",
sym AS (
  SELECT s[k] AS symbol, sum(cnt) AS n_tokens
  FROM (SELECT cnt, string_split(trim(sp), ' ') AS s FROM v{n}),
       unnest(range(1, len(s) + 1)) AS u(k)
  GROUP BY 1
),
mset AS (SELECT DISTINCT m FROM ({merged_set}))
SELECT symbol, cast(n_tokens AS bigint) AS n_tokens,
       (mset.m IS NOT NULL) AS is_merged
FROM sym LEFT JOIN mset ON mset.m = sym.symbol
ORDER BY n_tokens DESC, symbol"""


@register("bpe_merges", oracle=_bpe_sql(), tags=("text", "tokenizer", "iterative"))
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER INDUCTION: learn the corpus's top byte-pair-encoding
    merges (Sennrich, Haddow & Birch, ACL 2016) — the training step of
    every subword tokenizer a training-data pipeline ships with. Each
    round counts adjacent symbol pairs over the word-TYPE table
    (weighted by word frequency), takes the deterministic argmax
    (count desc, pair asc), and applies the merge; the learned merge
    table IS the result, exactly as the centroid model is kmeans'.

    Merge application uses sentinel-delimited ``replace`` — leftmost
    non-overlapping with the scan continuing after each replacement,
    identical on both engines (so a run like 'a a a a' becomes
    'aa a a': greedy-sequential, replayed exactly by the oracle's
    unrolled SQL; classic pairwise BPE would give 'aa aa' — the
    docstring states the semantic so consumers aren't surprised).

    Scale shape: the heavy reduction — corpus tokens → word types —
    happens ONCE (map-side combined); every merge round then runs on
    the VOCABULARY table (MBs at 100 TB corpus scale), exchanging only
    (pair, count) partials, and the driver collects ONE row per round
    (the argmax), holding the merge list as the model. This is how
    production BPE trainers work: stream the corpus once into word
    counts, iterate on the counts.

    Unicode (r7/r8): the word domain is ANY space-delimited token of
    ≥2 code points — CJK, diacritics, combining marks, and emoji all
    train (symbols are code points; split('')/length are
    codepoint-exact and engine-identical, probed). Casefold is the
    generated translate table (see _FOLD_SQL — Latin/Greek/Cyrillic
    1:1 simple case maps, never either engine's divergent lower())."""
    merges, _v = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, pair string, merged string, pair_count bigint",
    ).orderBy("merge_rank")


def _bpe_train(spark: SparkSession, sf_dir: str):
    """(merges, v_final): the shared training loop — v_final is the
    word-type table with the fully-merged spaced segmentation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.translate("text", _ASCII_UP, _ASCII_LO), " ")
        ).alias("w")
    )
    w0 = (
        toks.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # The "corpus reduced ONCE" claim must hold in EXECUTION, not just
    # in the plan: every merge round's argmax collect re-evaluates the
    # current v lineage, and without a persist that re-runs the corpus
    # explode+aggregate per round (measured 401 s for the 9-evaluation
    # fertility query at the 500k-doc fixture vs ~60 s with the
    # word-type table held). Slot-managed so long sessions don't leak.
    w0 = hold("bpe_word_types", w0)
    sp = F.concat(F.lit(" "), F.concat_ws(" ", F.split(F.col("w"), "")), F.lit(" "))
    v = w0.select("w", "cnt", sp.alias("sp"))

    merges: list[tuple[int, str, str, int]] = []
    for i in range(_BPE_N_MERGES):
        s = F.split(F.trim(F.col("sp")), " ")
        pair_arr = F.when(
            F.size(s) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(s) - 1),  # guarded: sequence
                # with start > stop generates DESCENDING in Spark
                lambda k: F.concat(
                    F.element_at(s, k), F.lit(" "), F.element_at(s, k + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        top = (
            v.select("cnt", F.explode(pair_arr).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, c = top[0].pair, int(top[0].c)
        merged = pair.replace(" ", "")
        merges.append((i + 1, pair, merged, c))
        v = v.select(
            "w",
            "cnt",
            F.replace(
                F.col("sp"), F.lit(f" {pair} "), F.lit(f" {merged} ")
            ).alias("sp"),
        )
    return merges, v


@register("bpe_vocab", oracle=_bpe_vocab_sql(), tags=("text", "tokenizer", "iterative"))
def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the induced tokenizer: the subword
    vocabulary after applying all learned merges, with each symbol's
    corpus token count (word frequency × per-word occurrences) and a
    flag for merge-produced symbols. At 100 TB the segmentation pass
    runs on the vocabulary table, never the corpus — the same scale
    shape as bpe_merges."""
    merges, v = _bpe_train(spark, sf_dir)
    s = F.split(F.trim(F.col("sp")), " ")
    sym = (
        v.select("cnt", F.explode(s).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("cnt").cast("bigint").alias("n_tokens"))
    )
    merged_set = {m for _, _, m, _ in merges}
    is_merged = F.col("symbol").isin(list(merged_set)) if merged_set else F.lit(False)
    return sym.select(
        "symbol", "n_tokens", is_merged.alias("is_merged")
    ).orderBy(F.col("n_tokens").desc(), "symbol")


def _fertility_sql() -> str:
    n = _BPE_N_MERGES
    return _bpe_cte() + f""",
toklang AS (
  SELECT lang, w FROM (
    SELECT lang, unnest(string_split({_FOLD_SQL}, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
),
wl AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS n FROM toklang GROUP BY 1, 2),
seg AS (SELECT w, CAST(len(string_split(trim(sp), ' ')) AS BIGINT) AS nsym,
               CAST(length(w) AS BIGINT) AS nchr
        FROM v{n})
SELECT wl.lang,
       CAST(SUM(wl.n) AS BIGINT) AS n_words,
       CAST(SUM(wl.n * seg.nsym) AS BIGINT) AS n_tokens,
       CAST(SUM(wl.n * seg.nchr) AS BIGINT) AS n_chars,
       CAST(SUM(wl.n * seg.nsym) * 1000000 // SUM(wl.n) AS BIGINT)
         AS fertility_ppm,
       CAST(SUM(wl.n * seg.nchr) * 1000000 // SUM(wl.n * seg.nsym) AS BIGINT)
         AS chars_per_token_ppm
FROM wl JOIN seg ON seg.w = wl.w
GROUP BY wl.lang
ORDER BY wl.lang"""


@register(
    "bpe_fertility_by_lang",
    oracle=_fertility_sql(),
    tags=("text", "tokenizer", "iterative"),
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY by language: tokens-per-word (and
    chars-per-token) after applying the corpus-trained BPE merges,
    per lang — the tokenizer-equity metric an LLM-data team reads
    before fixing a vocabulary (a language whose fertility is 2× pays
    2× the context budget per word; see e.g. the multilingual
    tokenizer-parity analyses around SentencePiece/BPE).

    Scale shape (the bpe_merges thesis extended): the segmentation
    NEVER touches the corpus — it lives on the word-TYPE table
    (v_final, MBs at 100 TB), and the per-(lang, word) count table is
    one map-side-combined aggregation of the token stream; the join
    keys on the word type. Exact-integer ppm ratios (bigint floor
    division) make the DuckDB replay hash-exact."""
    _, v = _bpe_train(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.split(F.translate("text", _ASCII_UP, _ASCII_LO), " ")
        ).alias("w"),
    ).filter(F.length("w") >= 2)
    wl = toks.groupBy("lang", "w").agg(F.count("*").cast("bigint").alias("n"))
    seg = v.select(
        "w",
        F.size(F.split(F.trim(F.col("sp")), " ")).cast("bigint").alias("nsym"),
        F.length("w").cast("bigint").alias("nchr"),
    )
    return (
        wl.join(seg, "w")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("nsym")).cast("bigint").alias("n_tokens"),
            F.sum(F.col("n") * F.col("nchr")).cast("bigint").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("n_tokens * 1000000 div n_words").alias("fertility_ppm"),
            F.expr("n_chars * 1000000 div n_tokens").alias("chars_per_token_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------
# BM25 ranked retrieval (Robertson-Spärck Jones / Okapi): the search
# surface a curation team uses to pull targeted slices out of the
# corpus (decontamination probes, topic audits). Per-language queries
# derived deterministically from the corpus itself.
# ---------------------------------------------------------------------

_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_TOPK = 5
_BM25_QTERMS = 2
_BM25_SCALE = 1_000_000

# ONE expression template instantiated in BOTH engines (same literal
# parse tree → same double operand order); ln is the only libm call,
# neutralized by micro-unit quantization (floor(x*1e6 + .5) as bigint,
# boundary distance pinned in tests/test_libm_boundaries.py).
_BM25_CONTRIB = (
    "cast(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    f" * ((tf * ({_BM25_K1} + 1.0))"
    f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"
    f" * {_BM25_SCALE}.0 + 0.5) as bigint)"
)

_BM25_SQL = f"""
WITH toks AS (
  SELECT lang, doc_id, unnest(string_split({_FOLD_SQL}, ' ')) AS w
  FROM documents
),
tf AS (SELECT lang, doc_id, w, cast(count(*) AS bigint) AS tf
       FROM toks GROUP BY lang, doc_id, w),
dl AS (SELECT lang, doc_id, cast(count(*) AS bigint) AS dl
       FROM toks GROUP BY lang, doc_id),
stats AS (SELECT lang, cast(count(*) AS bigint) AS n_docs,
                 cast(sum(dl) AS double) / count(*) AS avgdl
          FROM dl GROUP BY lang),
df AS (SELECT lang, w, cast(count(*) AS bigint) AS df
       FROM tf GROUP BY lang, w),
q AS (
  SELECT lang, w FROM (
    SELECT lang, w,
           row_number() OVER (PARTITION BY lang ORDER BY df DESC, w) AS rn
    FROM df) WHERE rn <= {_BM25_QTERMS}
),
sc AS (
  SELECT t.lang, t.doc_id, sum({_BM25_CONTRIB}) AS score_u
  FROM tf t
  JOIN q ON q.lang = t.lang AND q.w = t.w
  JOIN df ON df.lang = t.lang AND df.w = t.w
  JOIN dl ON dl.lang = t.lang AND dl.doc_id = t.doc_id
  JOIN stats ON stats.lang = t.lang
  GROUP BY t.lang, t.doc_id
)
SELECT lang, doc_id, cast(score_u AS bigint) AS score_u,
       cast(rnk AS int) AS rnk
FROM (SELECT lang, doc_id, score_u,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score_u DESC, doc_id) AS rnk
      FROM sc)
WHERE rnk <= {_BM25_TOPK}
ORDER BY lang, rnk
"""


@register("bm25_topk", oracle=_BM25_SQL, tags=("text", "ranking"))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKED RETRIEVAL: Okapi BM25 top-k per language, with the query
    terms derived deterministically from the corpus (each language's
    top-N terms by document frequency, N = _BM25_QTERMS — the audit
    probe a curation team would start from). Scores are exact bigint
    micro-units (per-(doc, term) contribution quantized at 1e-6), so
    ranking and hashes are engine-exact despite the ln() call.

    Scale: tf/df/dl are three map-side-combined aggregations of the
    token stream; the stats and query-term tables are |langs|-sized
    broadcasts; the score join keys on (lang, w) against the tf table
    — candidate rows are only docs CONTAINING a query term (inverted-
    index semantics, never a corpus × queries product); top-k is a
    per-lang window over scored docs only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        "doc_id",
        F.explode(
            F.split(F.translate("text", _ASCII_UP, _ASCII_LO), " ")
        ).alias("w"),
    )
    toks = hold("bm25_toks", toks)
    # ONE token-stream-sized exchange total (the irreducible
    # inverted-index build): df comes from a count-free DISTINCT, and
    # tf is computed ONLY for the query-term survivors (a broadcast
    # filter on the re-scan) — materializing a global tf table first
    # would pay the token-stream shuffle TWICE (measured 617 s /
    # 516 MB vs ~half that at the 500k-doc fixture, SCALING.md)
    dl = toks.groupBy("lang", "doc_id").agg(
        F.count("*").cast("bigint").alias("dl")
    )  # doc-keyed: map-side combined to |docs| rows
    stats = dl.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    df_t = (
        toks.select("lang", "w", "doc_id")
        .distinct()
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    # df rides the query-term broadcast: joining the FULL df table
    # would shuffle a vocabulary-sized frame against the tiny
    # query-term survivor set — the df values the scorer needs exist
    # only for the ≤ langs·QTERMS selected terms
    qterms = (
        df_t.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.col("df").desc(), "w")
            ),
        )
        .filter(F.col("rn") <= _BM25_QTERMS)
        .select("lang", "w", "df")
    )
    tf = (
        toks.join(F.broadcast(qterms.select("lang", "w")), ["lang", "w"])
        .groupBy("lang", "doc_id", "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )  # only query-term tokens survive the scan: docs × QTERMS rows
    scored = (
        tf.join(F.broadcast(qterms), ["lang", "w"])
        .join(dl, ["lang", "doc_id"])
        .join(F.broadcast(stats), "lang")
        .groupBy("lang", "doc_id")
        .agg(F.sum(F.expr(_BM25_CONTRIB)).alias("score_u"))
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.col("score_u").desc(), "doc_id")
            ),
        )
        .filter(F.col("rnk") <= _BM25_TOPK)
        .select(
            "lang",
            "doc_id",
            F.col("score_u").cast("bigint").alias("score_u"),
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("lang", "rnk")
    )


# ---------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, Kudo 2018) — the second
# tokenizer family: hard-EM over a piece vocabulary with Viterbi
# segmentation, trained end-to-end with an EXACT SQL oracle (the
# Viterbi DP replayed as Bellman-Ford unrolled over word positions,
# with min-(score, path) tie-breaks identical in both engines).
# ---------------------------------------------------------------------

_ULM_ROUNDS = 2  # hard-EM rounds after vocabulary init
_ULM_MAXLEN = 16  # word types longer than this are excluded (doc'd)
_ULM_MAXPIECE = 4  # max piece length considered
_ULM_TOPK = 500  # multi-char seed pieces kept at init
# Path separator: below every printable code point, so comparing the
# JOINED path strings == comparing piece lists element-wise (the radix
# argument) — the tie-break is then ONE string min on both engines.
_ULM_SEP = "\x1f"


def _ulm_viterbi_path(w: str, cost: dict[str, float]) -> str | None:
    """Best segmentation of ``w`` under piece probabilities ``cost``
    as a _ULM_SEP-joined string; None if unreachable.

    State per position: (d, path) with d = -(Π piece probs), the
    product accumulated LEFT-TO-RIGHT (each relaxation multiplies the
    predecessor's d by the edge prob) — the same operand order the SQL
    replay uses, so d is bit-identical per path across engines. Ties
    break on min path string (binary UTF-8 in DuckDB == code-point
    order in Python: UTF-8 preserves code-point order)."""
    best: dict[int, tuple[float, str]] = {0: (-1.0, "")}
    for i in range(1, len(w) + 1):
        cands = []
        for j in range(max(0, i - _ULM_MAXPIECE), i):
            if j not in best:
                continue
            c = cost.get(w[j:i])
            if c is None:
                continue
            d, path = best[j]
            cands.append(
                (d * c, path + _ULM_SEP + w[j:i] if path else w[j:i])
            )
        if cands:
            best[i] = min(cands)
    return best.get(len(w), (None, None))[1]


def _ulm_bf_sql(tag: str, cost_cte: str) -> str:
    """Oracle CTE block: one E-step — Viterbi via Bellman-Ford
    unrolled ``_ULM_MAXLEN`` times over (word, position) states.
    ``AS MATERIALIZED`` is load-bearing: each dp CTE is referenced
    twice, and without it DuckDB's inlining makes the plan size
    exponential in the unroll depth."""
    parts = [f"""
edges_{tag} AS MATERIALIZED (
  SELECT t.w, u.j, u.j + l.l AS i, substr(t.w, u.j + 1, l.l) AS piece, c.c
  FROM types t,
       unnest(range(0, len(t.w))) AS u(j),
       (SELECT unnest(range(1, {_ULM_MAXPIECE + 1})) AS l) l,
       {cost_cte} c
  WHERE u.j + l.l <= len(t.w)
    AND c.piece = substr(t.w, u.j + 1, l.l)
),
dp_{tag}_0 AS MATERIALIZED (
  SELECT w, 0 AS i, -1.0::DOUBLE AS d, '' AS path FROM types)"""]
    for r in range(1, _ULM_MAXLEN + 1):
        parts.append(f""",
cand_{tag}_{r} AS MATERIALIZED (
  SELECT w, i, d, path FROM dp_{tag}_{r - 1}
  UNION ALL
  SELECT e.w, e.i, dp.d * e.c AS d,
         CASE WHEN dp.path = '' THEN e.piece
              ELSE dp.path || chr(31) || e.piece END AS path
  FROM dp_{tag}_{r - 1} dp JOIN edges_{tag} e ON e.w = dp.w AND e.j = dp.i
),
dp_{tag}_{r} AS MATERIALIZED (
  SELECT w, i, d, min(path) AS path FROM (
    SELECT w, i, d, path, min(d) OVER (PARTITION BY w, i) AS dm
    FROM cand_{tag}_{r}) s
  WHERE d = dm GROUP BY w, i, d
)""")
    parts.append(f""",
ecnt_{tag} AS (
  SELECT piece, cast(sum(cnt) AS bigint) AS cnt
  FROM (SELECT t.cnt, unnest(string_split(dp.path, chr(31))) AS piece
        FROM dp_{tag}_{_ULM_MAXLEN} dp JOIN types t ON t.w = dp.w
        WHERE dp.i = len(dp.w))
  GROUP BY piece
)""")
    return "".join(parts)


def _ulm_mstep_sql(v_next: str, ecnt: str) -> str:
    """M-step CTE: multi-char pieces survive on E-count > 0; single
    chars always survive with +1 smoothing (keeps every word
    segmentable next round)."""
    return f"""
{v_next} AS (
  SELECT coalesce(e.piece, ch.piece) AS piece,
         CASE WHEN ch.piece IS NOT NULL THEN coalesce(e.cnt, 0) + 1
              ELSE e.cnt END AS cnt
  FROM {ecnt} e FULL JOIN chars ch ON ch.piece = e.piece
  WHERE ch.piece IS NOT NULL OR e.cnt > 0
)"""


def _ulm_sql() -> str:
    parts = [f"""
WITH types AS MATERIALIZED (
  SELECT w, cast(count(*) AS bigint) AS cnt FROM (
    SELECT unnest(string_split({_FOLD_SQL}, ' ')) AS w FROM documents)
  WHERE len(w) BETWEEN 1 AND {_ULM_MAXLEN}
  GROUP BY w
),
chars AS MATERIALIZED (
  SELECT substr(w, u.k + 1, 1) AS piece, cast(sum(cnt) AS bigint) AS cnt
  FROM types, unnest(range(0, len(w))) AS u(k) GROUP BY 1
),
subs AS (
  SELECT substr(w, u.j + 1, l.l) AS piece, cast(sum(cnt) AS bigint) AS cnt
  FROM types,
       unnest(range(0, len(w))) AS u(j),
       (SELECT unnest(range(2, {_ULM_MAXPIECE + 1})) AS l) l
  WHERE u.j + l.l <= len(w)
  GROUP BY 1
),
top AS (SELECT piece, cnt FROM subs ORDER BY cnt DESC, piece LIMIT {_ULM_TOPK}),
v0 AS (
  SELECT piece, max(cnt) AS cnt FROM (
    SELECT piece, cnt FROM top UNION ALL SELECT piece, cnt FROM chars)
  GROUP BY piece
)"""]
    for r in range(_ULM_ROUNDS):
        parts.append(f""",
cost_{r} AS MATERIALIZED (
  SELECT piece, cnt::DOUBLE / (SELECT sum(cnt) FROM v{r})::DOUBLE AS c
  FROM v{r}
),{_ulm_bf_sql(f'r{r}', f'cost_{r}')},{_ulm_mstep_sql(f'v{r + 1}', f'ecnt_r{r}')}""")
    parts.append(f"""
SELECT v.piece, cast(v.cnt AS bigint) AS token_count,
       (ch.piece IS NOT NULL) AS is_char
FROM v{_ULM_ROUNDS} v LEFT JOIN chars ch ON ch.piece = v.piece
ORDER BY token_count DESC, v.piece""")
    return "".join(parts)


def unigram_lm_train(
    spark: SparkSession,
    docs: DataFrame,
    *,
    rounds: int = _ULM_ROUNDS,
    topk: int = _ULM_TOPK,
) -> DataFrame:
    """Train the unigram-LM piece vocabulary over a documents frame:
    init (all single chars + top-K multi-char substrings by weighted
    frequency), then ``rounds`` of hard EM — E-step: Viterbi-
    segment every word TYPE under current piece probabilities (an
    Arrow-batched UDF over the type table; the corpus is reduced
    ONCE); M-step: piece counts from the segmentations, chars smoothed
    +1, zero-count multis dropped.

    Scale shape (the bpe_merges thesis): every EM round runs on the
    word-TYPE table (MBs at 100 TB corpus); the model — the piece
    table, ≤ topK + |alphabet| rows — is the only driver
    materialization, collected once per round exactly like BPE's
    per-round argmax. The E-step count aggregation exchanges (piece,
    count) partials, map-side combined."""
    toks = docs.select(
        F.explode(
            F.split(F.translate("text", _ASCII_UP, _ASCII_LO), " ")
        ).alias("w")
    )
    types = (
        toks.filter(F.length("w").between(1, _ULM_MAXLEN))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    types = hold("ulm_word_types", types)

    chars = {
        r["piece"]: int(r["cnt"])
        for r in types.select(
            F.explode(F.split("w", "")).alias("piece"), "cnt"
        )
        .filter(F.length("piece") >= 1)  # split('') yields no empties
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    j = F.explode(F.sequence(F.lit(0), F.length("w") - 1)).alias("j")
    l_ = F.explode(
        F.sequence(F.lit(2), F.lit(_ULM_MAXPIECE))
    ).alias("l")
    subs = (
        types.select("w", "cnt", j)
        .select("w", "cnt", "j", l_)
        .filter(F.col("j") + F.col("l") <= F.length("w"))
        .select(F.expr("substring(w, j + 1, l)").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(topk)
        .collect()
    )
    vocab = {r["piece"]: int(r["cnt"]) for r in subs}
    for ch, c in chars.items():
        vocab[ch] = max(vocab.get(ch, 0), c)

    out_schema = "piece string, token_count bigint, is_char boolean"
    for _ in range(rounds):
        if not vocab:
            return spark.createDataFrame([], out_schema)
        total = sum(vocab.values())
        cost = {p: c / total for p, c in vocab.items()}

        @F.pandas_udf("string")
        def seg_path(ws: pd.Series) -> pd.Series:
            return ws.map(lambda w: _ulm_viterbi_path(w, cost))

        ecnt = {
            r["piece"]: int(r["cnt"])
            for r in types.select(
                F.explode(
                    F.split(seg_path(F.col("w")), _ULM_SEP)
                ).alias("piece"),
                "cnt",
            )
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        vocab = {p: c for p, c in ecnt.items() if len(p) >= 2 and c > 0}
        for ch in chars:
            vocab[ch] = ecnt.get(ch, 0) + 1

    rows = sorted(
        ((p, c, p in chars) for p, c in vocab.items()),
        key=lambda t: (-t[1], t[0]),
    )
    return spark.createDataFrame(rows, out_schema)


def _ulm_fertility_sql() -> str:
    """Oracle: the full training chain, then ONE more Viterbi pass
    under the final piece probabilities, joined to the per-(lang,
    word) count table."""
    base = _ulm_sql().rsplit("\nSELECT", 1)[0]  # training CTEs only
    r = _ULM_ROUNDS
    return f"""{base},
cost_{r} AS MATERIALIZED (
  SELECT piece, cnt::DOUBLE / (SELECT sum(cnt) FROM v{r})::DOUBLE AS c
  FROM v{r}
),{_ulm_bf_sql(f'r{r}', f'cost_{r}')},
plen AS (
  SELECT w, cast(len(string_split(path, chr(31))) AS bigint) AS np
  FROM dp_r{r}_{_ULM_MAXLEN} WHERE i = len(w)
),
wl AS (
  SELECT lang, w, cast(count(*) AS bigint) AS n FROM (
    SELECT lang, unnest(string_split({_FOLD_SQL}, ' ')) AS w FROM documents)
  WHERE len(w) BETWEEN 1 AND {_ULM_MAXLEN}
  GROUP BY lang, w
)
SELECT lang,
       cast(sum(n) AS bigint) AS n_words,
       cast(sum(n * np) AS bigint) AS n_tokens,
       cast(sum(n * np) * 1000000 // sum(n) AS bigint) AS fertility_ppm
FROM wl JOIN plen ON plen.w = wl.w
GROUP BY lang
ORDER BY lang"""


@register(
    "unigram_lm_fertility",
    oracle=_ulm_fertility_sql(),
    tags=("text", "tokenizer", "iterative"),
)
def unigram_lm_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language under the UNIGRAM-LM model —
    the bpe_fertility_by_lang twin for the second tokenizer family:
    pieces-per-word per lang after one Viterbi pass under the final
    trained probabilities. A language paying 2× pieces per word pays
    2× context budget; comparing this row set against the BPE one is
    the vocabulary-choice analysis itself.

    Same scale shape as training: the segmentation touches only the
    word-TYPE table; the per-(lang, word) counts are one map-side-
    combined aggregation; ppm ratios are exact bigint floor divisions
    so the replay is hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    vocab_rows = unigram_lm_train(spark, docs).collect()
    vocab = {r["piece"]: int(r["token_count"]) for r in vocab_rows}
    out_schema = (
        "lang string, n_words bigint, n_tokens bigint, fertility_ppm bigint"
    )
    if not vocab:
        return spark.createDataFrame([], out_schema)
    total = sum(vocab.values())
    cost = {p: c / total for p, c in vocab.items()}

    @F.pandas_udf("long")
    def n_pieces(ws: pd.Series) -> pd.Series:
        def np_of(w: str) -> int:
            path = _ulm_viterbi_path(w, cost)
            return path.count(_ULM_SEP) + 1 if path is not None else 0

        return ws.map(np_of)

    toks = docs.select(
        "lang",
        F.explode(
            F.split(F.translate("text", _ASCII_UP, _ASCII_LO), " ")
        ).alias("w"),
    )
    wl = (
        toks.filter(F.length("w").between(1, _ULM_MAXLEN))
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("n"))
        .withColumn("np", n_pieces(F.col("w")))
    )
    return (
        wl.groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("np")).cast("bigint").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 1000000 div n_words").alias("fertility_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "unigram_lm_vocab",
    oracle=_ulm_sql(),
    tags=("text", "tokenizer", "iterative"),
)
def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER INDUCTION, family #2: the SentencePiece unigram
    language model (Kudo, ACL 2018) trained by hard EM — Viterbi
    segmentation of every word type under current piece probabilities,
    piece counts re-estimated from the winning segmentations, chars
    +1-smoothed so every word stays reachable. Complements bpe_merges
    (greedy agglomerative) with the probabilistic top-down family.

    The DuckDB oracle replays the ENTIRE training run exactly: the
    Viterbi DP is Bellman-Ford unrolled over word positions with state
    (d = -(Π probs), path), min-(d, path) per state; the FP products
    accumulate in the same left-to-right operand order in both
    engines, so scores are bit-identical per path and tie-breaks (the
    joined path-string min) agree. Word types above _ULM_MAXLEN code
    points are excluded from training on both sides (documented
    corpus-domain bound; the long tail falls back to char pieces at
    encode time)."""
    return (
        unigram_lm_train(spark, load_table(spark, sf_dir, "documents"))
        .orderBy(F.col("token_count").desc(), "piece")
    )


# ---------------------------------------------------------------------
# Event-stream profiling (time-series ingest report)
# ---------------------------------------------------------------------

_EVPROF_SQL = f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
                  value, props FROM events)
SELECT 'event_id' AS col, cast(count(*) AS bigint) AS n_rows,
       cast(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_null,
       cast(count(DISTINCT event_id) AS bigint) AS n_distinct,
       cast(min(event_id) AS bigint) AS min_val,
       cast(max(event_id) AS bigint) AS max_val
FROM e
UNION ALL
SELECT 'ts_us', count(*),
       cast(sum(CASE WHEN ts_us IS NULL THEN 1 ELSE 0 END) AS bigint),
       cast(count(DISTINCT ts_us) AS bigint),
       cast(min(ts_us) AS bigint), cast(max(ts_us) AS bigint)
FROM e
UNION ALL
SELECT 'user_id', count(*),
       cast(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS bigint),
       cast(count(DISTINCT user_id) AS bigint),
       cast(min(user_id) AS bigint), cast(max(user_id) AS bigint)
FROM e
UNION ALL
SELECT 'event_type', count(*),
       cast(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS bigint),
       cast(count(DISTINCT event_type) AS bigint),
       cast(min(len(event_type)) AS bigint), cast(max(len(event_type)) AS bigint)
FROM e
UNION ALL
SELECT 'props', count(*),
       cast(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS bigint),
       cast(count(DISTINCT props) AS bigint),
       cast(min(len(props)) AS bigint), cast(max(len(props)) AS bigint)
FROM e
ORDER BY col
"""


@register("profile_events", oracle=_EVPROF_SQL, tags=("text", "stats", "audit"))
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_documents' ANALYZE report for the EVENT STREAM — the
    ingest health check for time-series data: per-column null/distinct
    counts, id and timestamp ranges (micros — gap/clock-skew triage),
    and string-length extrema. Numeric columns report value ranges,
    string columns length ranges, in one tall frame.

    Scale: same as profile_documents — count(DISTINCT) carries the
    only shuffle; 100 TB swaps it for approx_count_distinct with the
    rest unchanged."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "props",
    )

    def prof(col: str, measure) -> DataFrame:
        c = F.col(col)
        return ev.agg(
            F.lit(col).alias("col"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.when(c.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
            F.count_distinct(c).cast("bigint").alias("n_distinct"),
            F.min(measure(c)).cast("bigint").alias("min_val"),
            F.max(measure(c)).cast("bigint").alias("max_val"),
        )

    ident = lambda c: c  # noqa: E731
    return (
        prof("event_id", ident)
        .union(prof("ts_us", ident))
        .union(prof("user_id", ident))
        .union(prof("event_type", F.length))
        .union(prof("props", F.length))
        .orderBy("col")
    )


# ---------------------------------------------------------------------
# Trained character-trigram language ID (Cavnar–Trenkle)
# ---------------------------------------------------------------------

_CT_K = 30       # profile size (top-K trigrams)
_CT_TRAIN_MOD = 5  # doc_id % MOD != 0 trains; == 0 scores

_CT_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, {_FOLD_SQL} AS t FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL
),
tg AS (
  SELECT doc_id, lang, substring(t, i, 3) AS g
  FROM d, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
),
prof AS (
  SELECT lang, g, rank FROM (
    SELECT lang, g, row_number() OVER (PARTITION BY lang
             ORDER BY count(*) DESC, g) AS rank
    FROM tg WHERE doc_id % {_CT_TRAIN_MOD} <> 0
    GROUP BY lang, g)
  WHERE rank <= {_CT_K}
),
dprof AS (
  SELECT doc_id, g, rank FROM (
    SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id
             ORDER BY count(*) DESC, g) AS rank
    FROM tg WHERE doc_id % {_CT_TRAIN_MOD} = 0
    GROUP BY doc_id, g)
  WHERE rank <= {_CT_K}
),
langs AS (SELECT DISTINCT lang FROM prof),
dist AS (
  SELECT dp.doc_id, l.lang,
         cast(sum(CASE WHEN p.rank IS NULL THEN {_CT_K}
                  ELSE abs(dp.rank - p.rank) END) AS bigint) AS d
  FROM dprof dp CROSS JOIN langs l
  LEFT JOIN prof p ON p.lang = l.lang AND p.g = dp.g
  GROUP BY 1, 2
),
pred AS (
  SELECT doc_id, lang AS predicted, d AS rank_distance FROM (
    SELECT doc_id, lang, d,
           row_number() OVER (PARTITION BY doc_id ORDER BY d, lang) AS rn
    FROM dist) WHERE rn = 1
)
SELECT p.doc_id, p.predicted, d.lang AS actual, p.rank_distance,
       (p.predicted = d.lang) AS correct
FROM pred p JOIN d ON d.doc_id = p.doc_id
ORDER BY p.doc_id
"""


@register("langid_trained", oracle=_CT_SQL, tags=("text", "langid", "iterative"))
def langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID by character-trigram rank profiles (Cavnar
    & Trenkle, SDAIR 1994) — the classic pre-neural langid: per
    language, the top-K trigrams of the training split ranked by
    frequency; a held-out document is classified to the language
    minimizing the out-of-place rank distance (missing trigram costs
    K). Deterministic ties everywhere ((count desc, trigram asc) for
    ranks, (distance, lang) for the argmin), integer distances → the
    SQL oracle hash-matches exactly.

    The fixture's lang labels are assigned independently of the text
    (every doc is the same English-ish word salad), so CHANCE-level
    accuracy is the expected, honest result here — the machinery, not
    the fixture's score, is what the oracle checks (lang_id_confusion
    documents the same property for the heuristic).

    Scale: training reduces the corpus to L·K profile rows (trigram
    counts map-side combined, one lang-keyed window over vocab-sized
    groups); the driver then holds the L·K model — the
    kmeans-centroid/BPE-argmax precedent — and SCORING is one
    scan-side Arrow kernel per document (trigram counts, top-K rank
    profile, out-of-place distance to each language, argmin), so the
    scored split never enters an exchange at all. The r6 shape built
    per-doc rank profiles with a groupBy+window over the exploded
    trigram stream, which shuffled ~2× the scored text (291 MB at
    500k docs — SCALING.md "Round-7: late-r6 operators at the 500k-doc
    fixture"); the kernel
    emits five scalars per doc and shuffles nothing.

    Unicode: trigrams are CODE POINTS on both engines — and in the
    kernel, where Python strings index code points by definition
    (substring/length probed codepoint-exact on CJK, combining marks,
    emoji; Python string comparison = code-point order = both
    engines' binary string ORDER BY); the casefold is the generated
    translate table (see _FOLD_SQL — 1:1 simple case maps for
    Latin/Greek/Cyrillic, never either engine's lower(), which is
    divergent on İ/ς)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    ).select(
        "doc_id", "lang", F.translate("text", _ASCII_UP, _ASCII_LO).alias("t")
    )
    # substring-by-column needs the SQL form; the length guard matters
    # because Spark's sequence(start, stop) generates DESCENDING when
    # start > stop
    grams = F.when(
        F.length("t") >= 3,
        F.expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"),
    ).otherwise(F.array().cast("array<string>"))

    w_lang = W.partitionBy("lang").orderBy(F.col("cnt").desc(), "g")
    prof = (
        d.filter(F.col("doc_id") % _CT_TRAIN_MOD != 0)
        .select("lang", F.explode(grams).alias("g"))
        .groupBy("lang", "g")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rank", F.row_number().over(w_lang))
        .filter(F.col("rank") <= _CT_K)
        .select("lang", "g", "rank")
    )
    # The model: L·K (lang, trigram, rank) rows on the driver.
    profile: dict[str, dict[str, int]] = {}
    for r in prof.collect():
        profile.setdefault(r.lang, {})[r.g] = r.rank
    langs = sorted(profile)

    out_schema = (
        "doc_id bigint, predicted string, actual string,"
        " rank_distance bigint, correct boolean"
    )
    scored = d.filter(F.col("doc_id") % _CT_TRAIN_MOD == 0)
    if not langs:
        # empty training split → no profiles → no scored rows (the
        # oracle's dist CTE is empty too)
        return scored.select(
            F.col("doc_id"),
            F.lit(None).cast("string").alias("predicted"),
            F.col("lang").alias("actual"),
            F.lit(None).cast("bigint").alias("rank_distance"),
            F.lit(None).cast("boolean").alias("correct"),
        ).filter(F.lit(False))

    def classify(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, actual, t in zip(pdf.doc_id, pdf.lang, pdf.t):
                if len(t) < 3:
                    continue  # no trigrams → absent, like the SQL's tg
                counts = Counter(t[i : i + 3] for i in range(len(t) - 2))
                top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                dprof = [(g, i + 1) for i, (g, _c) in enumerate(top[:_CT_K])]
                best = min(
                    (
                        sum(
                            abs(dr - p[g]) if g in p else _CT_K
                            for g, dr in dprof
                        ),
                        lang,
                    )
                    for lang, p in ((lang, profile[lang]) for lang in langs)
                )
                rows.append(
                    (doc_id, best[1], actual, best[0], best[1] == actual)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "predicted", "actual", "rank_distance", "correct",
                ],
            )

    return scored.mapInPandas(classify, out_schema).orderBy("doc_id")


# ---------------------------------------------------------------------
# PMI collocations (association mining over adjacent token pairs)
# ---------------------------------------------------------------------

_PMI_MIN = 5  # minimum pair count (PMI is noise below small supports)
_PMI_TOPK = 50

_PMI_SQL = f"""
WITH docs_t AS (
  SELECT string_split(lower(text), ' ') AS t FROM documents
  WHERE text IS NOT NULL
),
pairs AS (
  SELECT w1, w2, count(*) AS c
  FROM (
    SELECT unnest([struct_pack(w1 := t[i], w2 := t[i + 1])
                   for i in range(1, len(t))], recursive := true)
    FROM docs_t
  ) GROUP BY w1, w2
),
tot AS (SELECT sum(c)::HUGEINT AS n FROM pairs),
c1 AS (SELECT w1, sum(c) AS c1 FROM pairs GROUP BY w1),
c2 AS (SELECT w2, sum(c) AS c2 FROM pairs GROUP BY w2)
SELECT p.w1, p.w2,
       CAST(p.c AS BIGINT) AS pair_count,
       CAST(c1.c1 AS BIGINT) AS w1_count,
       CAST(c2.c2 AS BIGINT) AS w2_count,
       CAST(1000000::HUGEINT * p.c * tot.n // (c1.c1::HUGEINT * c2.c2)
            AS BIGINT) AS lift_ppm
FROM pairs p
JOIN c1 ON c1.w1 = p.w1
JOIN c2 ON c2.w2 = p.w2
CROSS JOIN tot
WHERE p.c >= {_PMI_MIN}
ORDER BY lift_ppm DESC, p.w1, p.w2
LIMIT {_PMI_TOPK}
"""


@register("pmi_collocations", oracle=_PMI_SQL, tags=("text", "stats"))
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION MINING by pointwise mutual information (Church &
    Hanks, Computational Linguistics 1990) over adjacent token pairs:
    rank pairs by lift = p(xy) / (p1(x)·p2(y)) where p1/p2 are the
    first/second-slot marginals of the bigram table — the association
    score whose log is PMI. The score is emitted as an EXACT integer
    (ppm, hugeint/decimal floor division — no logarithm anywhere), so
    the ranking is the PMI ranking (log is monotone) and the DuckDB
    replay is hash-exact with no libm caveat. The min-support filter
    (c ≥ {_PMI_MIN}) is the standard guard against PMI's low-count
    noise bias.

    Scale: everything flows from ONE pair-count aggregation (map-side
    combined, bigram-vocabulary-sized shuffle — the same exchange the
    BPE trainer and bigram LM already pay); marginals re-aggregate the
    compact pair table, the scalar total broadcasts, and the top-k is
    TakeOrderedAndProject (k rows per partition). The 10^6·c·N product
    runs in decimal(38,0)/HUGEINT so the arithmetic window holds at
    any corpus size, not just the fixtures'."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        F.split(F.lower(F.col("text")), " ").alias("t")
    )
    # the pair-count frame feeds FOUR consumers (total, both
    # marginals, the scored join); without a persist each one re-runs
    # the corpus-wide explode+aggregate — measured 163 s → 17 s at the
    # 500k-doc fixture. The cached frame is bigram-vocabulary-sized
    # (compact), held in the session slot registry like the MinHash
    # signature frame so repeat invocations replace, not accrete.
    from ..caching import hold

    pairs = hold(
        "pmi_pairs",
        toks.select(F.explode(_bigram_structs(F.col("t"))).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c")),
    )
    tot = pairs.agg(F.sum("c").cast("decimal(38,0)").alias("n"))
    c1 = pairs.groupBy("w1").agg(F.sum("c").alias("c1"))
    c2 = pairs.groupBy("w2").agg(F.sum("c").alias("c2"))
    scored = (
        pairs.filter(F.col("c") >= _PMI_MIN)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("pair_count"),
            F.col("c1").cast("bigint").alias("w1_count"),
            F.col("c2").cast("bigint").alias("w2_count"),
            F.expr(
                "cast((cast(1000000 as decimal(38,0)) * c * n)"
                " div (cast(c1 as decimal(38,0)) * c2) as bigint)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), "w1", "w2"
    ).limit(_PMI_TOPK)


# ---------------------------------------------------------------------
# Token-distribution drift: Population Stability Index over hashed
# buckets between two corpus snapshots
# ---------------------------------------------------------------------

_PSI_B = 1024           # hashed token buckets
_PSI_SCALE = 1_000_000  # micro fixed point for the per-bucket PSI term

_PSI_SQL = f"""
WITH d AS (
  SELECT lang, doc_id % 2 = 0 AS in_a,
         unnest(string_split(translate(text, '{_FOLD_SRC}', '{_FOLD_DST}'),
                ' ')) AS w
  FROM documents WHERE text IS NOT NULL
),
cnt AS (
  SELECT lang,
         ('0x' || substr(md5(w), 1, 8))::BIGINT % {_PSI_B} AS b,
         sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS cb
  FROM d GROUP BY lang, b
),
grid AS (
  SELECT l.lang, g.b, COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
  FROM (SELECT DISTINCT lang FROM d) l
  CROSS JOIN (SELECT CAST(range AS BIGINT) AS b FROM range(0, {_PSI_B})) g
  LEFT JOIN cnt c ON c.lang = l.lang AND c.b = g.b
),
tot AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb FROM grid GROUP BY lang),
term AS (
  SELECT g.lang, g.b, t.na, t.nb,
         CAST(floor(
           (CAST(g.ca + 1 AS DOUBLE) / (t.na + {_PSI_B})
            - CAST(g.cb + 1 AS DOUBLE) / (t.nb + {_PSI_B}))
           * ln((CAST(g.ca + 1 AS DOUBLE) / (t.na + {_PSI_B}))
                / (CAST(g.cb + 1 AS DOUBLE) / (t.nb + {_PSI_B})))
           * {_PSI_SCALE} + 0.5) AS BIGINT) AS c_u
  FROM grid g JOIN tot t USING (lang)
)
SELECT lang,
       CAST(any_value(na) AS BIGINT) AS n_tokens_a,
       CAST(any_value(nb) AS BIGINT) AS n_tokens_b,
       CAST(sum(c_u) AS BIGINT) AS psi_micro,
       CAST(arg_min(b, (0 - c_u) * {_PSI_B} + b) AS BIGINT) AS top_bucket,
       CAST(max(c_u) AS BIGINT) AS top_contrib_micro
FROM term
GROUP BY lang
ORDER BY lang
"""


@register("token_psi_drift", oracle=_PSI_SQL, tags=("text", "drift", "quality"))
def token_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-DISTRIBUTION drift between two corpus snapshots by
    Population Stability Index over hashed token buckets — the text
    counterpart of ``embedding_drift``: ingest monitoring that fires
    when a feed's language/token mix shifts (new boilerplate, encoding
    regressions, upstream filter changes) before the shift poisons a
    training mix. Snapshot split here is the deterministic doc_id
    parity stand-in (the bigram-LM precedent); production feeds two
    real snapshot tables.

    PSI = Σ_b (p_A(b) − p_B(b))·ln(p_A(b)/p_B(b)) over B={_PSI_B}
    md5-hashed buckets (the portable-hash family), add-one smoothed so
    every bucket is finite; each bucket's term is non-negative (both
    factors share sign), so psi_micro ≥ top_contrib_micro ≥ 0 —
    pinned in tests. The standard reading: <0.1·1e6 stable,
    >0.25·1e6 shifted.

    Exactness: one libm evaluation per DISTINCT (lang, bucket) row,
    quantized to integer micro units — the per-lang reduction is an
    order-independent bigint sum (the perplexity/DSIR recipe); the
    top-contributor argmax ties to the lower bucket id in both
    engines.

    Scale shape: the only corpus-sized input is the token stream; it
    reduces map-side into a ≤ langs·{_PSI_B}-row count grid (the
    HLL/CMS flat-shuffle thesis — constant width in corpus volume),
    and everything after operates on that grid. At 100 TB the
    exchange is still ≤ langs·1024 rows per partition.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "lang",
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(
            F.split(F.translate(F.col("text"), _FOLD_SRC, _FOLD_DST), " ")
        ).alias("w"),
    )
    cnt = toks.select(
        "lang", psi_bucket_col("w").alias("b"), "in_a"
    ).groupBy("lang", "b").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("cb"),
    )
    return psi_report(cnt, toks.select("lang").distinct())


def psi_bucket_col(w) -> F.Column:
    """md5 portable bucket hash (the CMS/minhash/DSIR family)."""
    return F.pmod(
        F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
        F.lit(_PSI_B),
    )


def psi_report(cnt: DataFrame, langs: DataFrame) -> DataFrame:
    """(lang, b, ca, cb) sparse bucket counts + lang domain → the PSI
    report frame — the shared finalize of :func:`token_psi_drift` and
    the streaming monitor. Operates on the ≤ langs·B-row grid only."""
    grid = (
        langs.select(
            "lang",
            F.explode(F.sequence(F.lit(0), F.lit(_PSI_B - 1))).alias("b"),
        )
        .withColumn("b", F.col("b").cast("long"))
        .join(cnt, ["lang", "b"], "left")
        .fillna({"ca": 0, "cb": 0})
    )
    tot = grid.groupBy("lang").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + _PSI_B)
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + _PSI_B)
    c_u = F.floor((pa - pb) * F.log(pa / pb) * _PSI_SCALE + 0.5).cast("bigint")
    term = grid.join(F.broadcast(tot), "lang").select(
        "lang", "b", "na", "nb", c_u.alias("c_u")
    )
    return (
        term.groupBy("lang")
        .agg(
            F.first("na").cast("bigint").alias("n_tokens_a"),
            F.first("nb").cast("bigint").alias("n_tokens_b"),
            F.sum("c_u").cast("bigint").alias("psi_micro"),
            # composite argmin key (unique: b < B, so max-c_u ties to
            # the lower bucket id deterministically in both engines)
            F.expr(f"min_by(b, (0 - c_u) * {_PSI_B} + b)")
            .cast("bigint")
            .alias("top_bucket"),
            F.max("c_u").cast("bigint").alias("top_contrib_micro"),
        )
        .orderBy("lang")
    )
