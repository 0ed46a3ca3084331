"""Domain-shaped fixture derivations (FIXTURES.md §B).

The reference's data model — ASR word rows with timings/confidence
and a transcript ("book") token sequence — derived deterministically
from the driver's ``documents`` table with pure column expressions
(xxhash64-seeded pseudo-randomness), so alignment/sessionization/
boundary operators are testable with no audio and no GPU.

Shapes mirror SURVEY.md §1.1:
- ``asr_words(pair_id, idx, text, norm, start, end, confidence)``
  ← ASRWord (/root/reference/claude_research_optimal.py:95-102)
- ``book_tokens(pair_id, pos, norm)`` ← the normalized transcript
  (claude_research_optimal.py:434-438), mutated (drops +
  substitutions) so LCS produces nontrivial equal runs.

Derivation strategy: both fixture sides come from the SAME document
row, so :func:`doc_word_arrays` computes everything NARROW — per-row
array expressions (split → transform → filter), no explode, no
window, no groupBy, no join. One repartition of the raw (small)
document rows provides parallelism where a single local parquet file
gives one split; at scale the scan splits themselves do. The word
rows never shuffle: alignment consumes the per-document arrays in
place, and the row forms (``asr_words``/``book_tokens``) are lazy
explodes of the same arrays. Parity between this form and the
explode+window formulation is locked by
``tests/test_pipeline.py::test_fixture_array_parity``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import normalize_word_col
from .tables import load_table


def _norm_of_clean(c: F.Column) -> F.Column:
    """normalize_word_col's TAIL over an already lower+class-stripped
    token (see ``_CLEAN_DOC_RE`` below): drop '/-, empty → NULL."""
    return F.nullif(F.translate(c, "'-", ""), F.lit(""))


# The C1 character-class strip, run ONCE over the WHOLE document with
# the token separator (space) kept in the class, instead of one
# regexp_replace call per token inside the interpreted transform
# lambdas (r12, guide §4.2 "vectorize over the batch" applied to the
# JVM side: one regex pass over N chars beats ~N/5 per-token engine
# invocations — measured 1.13 → 0.66 s on the arrays stage at sf0.1).
# Equivalence is per-character: the class deletion touches single
# codepoints, never spaces (space is IN the class), so
# split-then-strip == strip-then-split position by position, and it
# commutes with reverse() (the book substitution) for the same
# reason. lower() runs on the full text first; Java's only
# context-sensitive lowercase rule (final sigma) never reaches across
# a space, so full-text lower == per-token lower on split(' ')
# tokens. Parity with the per-token form is pinned by
# tests/test_pipeline.py::test_fixture_array_parity (the windowform
# oracle still normalizes per token via functions.text).
_CLEAN_DOC_RE = r"[^a-z0-9'\- ]"


def _word_struct_array() -> F.Column:
    """Per-token ASR facts from ``_toks`` (raw split) + ``_ctoks``
    (lower+stripped split, same positions — see ``_CLEAN_DOC_RE``):
    struct(text, norm, start, end, confidence) for EVERY raw token
    (pre-filter), with start = prefix sum of (dur + gap) over the
    preceding tokens — float addition in the same sequential order as
    the window-form ``sum() over (rows unbounded preceding -1)``, so
    values are bit-identical.

    Durations 0.1–0.499 s, inter-word gaps 0.05 s with an 0.8 s pause
    every ~11th word (so gap-sessionization splits), confidence
    0.4–1.0 (straddles the 0.6/0.75 adaptive-guard thresholds). All
    driven by xxhash64(pair, token, position) — deterministic across
    runs, partitionings, and engines. Position is the RAW token index
    (posexplode parity: IntegerType).
    """

    def h(tok, i):
        return F.xxhash64(F.col("pair_id"), tok, i)

    def dur(tok, i):
        return 0.1 + F.pmod(h(tok, i), F.lit(400)).cast("double") / 1000.0

    def gap(tok, i):
        return F.when(F.pmod(h(tok, i), F.lit(11)) == 0, 0.8).otherwise(0.05)

    steps = F.transform(F.col("_toks"), lambda t, i: dur(t, i) + gap(t, i))
    # Prefix sums with a leading 0: starts_all[i] (0-based) is the
    # start time of token i. O(n²) array copies per row, all JVM-side,
    # n = tokens-per-document (bounded by the document, not the table).
    starts_all = F.aggregate(
        steps,
        F.array(F.lit(0.0)),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) + x)),
    )
    # starts_all must be an attribute, not re-evaluated per element:
    # the caller stages it (see doc_word_arrays) — here we reference
    # the staged column.
    return F.transform(
        F.col("_toks"),
        lambda t, i: F.struct(
            t.alias("text"),
            _norm_of_clean(F.get(F.col("_ctoks"), i)).alias("norm"),
            F.get(F.col("_starts_all"), i).alias("start"),
            (F.get(F.col("_starts_all"), i) + dur(t, i)).alias("end"),
            (0.4 + F.pmod(h(t, i), F.lit(601)).cast("double") / 1000.0).alias(
                "confidence"
            ),
        ),
    ), starts_all


def _book_norm_array() -> F.Column:
    """Per-document book token array from ``_toks``/``_ctoks``: ~1/7
    dropped and ~1/13 substituted (reversed) at the RAW position, then
    normalized and nulls dropped — dense positions fall out of the
    array order. Drop/sub decisions hash the RAW token; the normalized
    output reads the pre-stripped token (reverse commutes with the
    per-char strip — see ``_CLEAN_DOC_RE``)."""

    def hdrop(tok, i):
        return F.xxhash64(F.col("pair_id"), tok, i, F.lit("bookdrop"))

    def hsub(tok, i):
        return F.xxhash64(F.col("pair_id"), tok, i, F.lit("booksub"))

    per_tok = F.transform(
        F.col("_toks"),
        lambda t, i: F.when(
            F.pmod(hdrop(t, i), F.lit(7)) != 0,
            _norm_of_clean(
                F.when(
                    F.pmod(hsub(t, i), F.lit(13)) == 0,
                    F.reverse(F.get(F.col("_ctoks"), i)),
                ).otherwise(F.get(F.col("_ctoks"), i))
            ),
        ),
    )
    return F.filter(per_tok, lambda x: x.isNotNull())


def doc_word_arrays(
    spark: SparkSession, sf_dir: str, parallelism: int | None = None
) -> DataFrame:
    """One row per document with BOTH fixture sides as ordered arrays:

    ``(pair_id, texts, norms, starts, ends, confs, book_norms)``

    ASR arrays are post-empty-norm-filter (the reference drops
    empty-norm words before assigning idx, claude_research_optimal.py
    :255-277), so array position IS the dense idx. The whole
    derivation is narrow — word data never crosses an exchange; the
    only shuffle is a repartition of the raw document rows for local
    parallelism (a single small parquet file is one scan split;
    cluster scans get splits from the files themselves).
    """
    from ..partitioning import spread_for_kernel

    # Same gate as every other payload-carrying kernel input (r12,
    # partitioning.py): round-robin-spread the raw document rows ONLY
    # when the scan arrives under-split (the single-file local
    # fixture); a real multi-split scan passes through untouched, so
    # document text never crosses the network for plumbing. The old
    # unconditional hash-repartition bought nothing downstream — the
    # assemble join broadcasts the (small) group side locally and
    # re-keys on pair_id at scale regardless — so it was exactly the
    # corpus-body exchange the r11 verdict flagged, in fixture form.
    docs = spread_for_kernel(
        load_table(spark, sf_dir, "documents"), parallelism
    )
    base = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.split(F.col("text"), " ").alias("_toks"),
        # one C1 strip pass per DOCUMENT (space kept in the class ⇒
        # positions align with _toks; see _CLEAN_DOC_RE)
        F.split(
            F.regexp_replace(F.lower(F.col("text")), _CLEAN_DOC_RE, ""),
            " ",
            -1,
        ).alias("_ctoks"),
    )
    word_structs, starts_all = _word_struct_array()
    staged = base.select(
        "pair_id", "_toks", "_ctoks", starts_all.alias("_starts_all")
    )
    kept = F.filter(word_structs, lambda w: w["norm"].isNotNull())
    arr = staged.select(
        "pair_id", kept.alias("_w"), _book_norm_array().alias("book_norms")
    )
    return arr.select(
        "pair_id",
        F.transform("_w", lambda w: w["text"]).alias("texts"),
        F.transform("_w", lambda w: w["norm"]).alias("norms"),
        F.transform("_w", lambda w: w["start"]).alias("starts"),
        F.transform("_w", lambda w: w["end"]).alias("ends"),
        F.transform("_w", lambda w: w["confidence"]).alias("confs"),
        "book_norms",
    )


def asr_words_from_arrays(arr: DataFrame) -> DataFrame:
    """Row form of a :func:`doc_word_arrays` frame (lazy explode; idx
    is the array position, i.e. the dense post-filter index)."""
    z = F.arrays_zip(
        F.col("texts").alias("text"),
        F.col("norms").alias("norm"),
        F.col("starts").alias("start"),
        F.col("ends").alias("end"),
        F.col("confs").alias("confidence"),
    )
    return arr.select("pair_id", F.posexplode(z).alias("idx", "w")).select(
        "pair_id",
        F.col("idx").cast("long").alias("idx"),
        "w.text",
        "w.norm",
        "w.start",
        "w.end",
        "w.confidence",
    )


def book_tokens_from_arrays(arr: DataFrame) -> DataFrame:
    """Row form of ``doc_word_arrays.book_norms`` (pos = array
    position, dense by construction)."""
    return arr.select(
        "pair_id", F.posexplode("book_norms").alias("pos", "norm")
    ).select("pair_id", F.col("pos").cast("long").alias("pos"), "norm")


def asr_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per recognized word with synthetic monotone timings
    (see :func:`doc_word_arrays` for the derivation)."""
    return asr_words_from_arrays(doc_word_arrays(spark, sf_dir))


def book_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcript side: dropped/substituted normalized tokens
    (see :func:`doc_word_arrays`)."""
    return book_tokens_from_arrays(doc_word_arrays(spark, sf_dir))


# ---------------------------------------------------------------------
# Reference formulations (explode + window). Retained as the parity
# oracle for the narrow array derivation — the test suite asserts the
# two forms produce identical rows; production paths use the narrow
# form above.
# ---------------------------------------------------------------------


def asr_words_windowform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode+window formulation of :func:`asr_words` (parity oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.posexplode(F.split(F.col("text"), " ")).alias("idx", "text"),
    )
    h = F.xxhash64("pair_id", "text", "idx")
    dur = 0.1 + F.pmod(h, F.lit(400)).cast("double") / 1000.0
    gap = F.when(F.pmod(h, F.lit(11)) == 0, 0.8).otherwise(0.05)
    conf = 0.4 + F.pmod(h, F.lit(601)).cast("double") / 1000.0
    w = W.partitionBy("pair_id").orderBy("idx")
    step = (dur + gap).alias("step")
    out = (
        toks.withColumn("dur", dur)
        .withColumn("step", step)
        .withColumn(
            "start",
            F.coalesce(
                F.sum("step").over(w.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0.0),
            ),
        )
        .withColumn("end", F.col("start") + F.col("dur"))
        .withColumn("confidence", conf)
        .withColumn("norm", normalize_word_col("text"))
        .filter(F.col("norm").isNotNull())
    )
    out = out.withColumn(
        "idx",
        (F.row_number().over(W.partitionBy("pair_id").orderBy("idx")) - 1).cast(
            "long"
        ),
    )
    return out.select("pair_id", "idx", "text", "norm", "start", "end", "confidence")


def book_tokens_windowform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode+window formulation of :func:`book_tokens` (parity oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "text"),
    )
    hdrop = F.xxhash64("pair_id", "text", "pos0", F.lit("bookdrop"))
    hsub = F.xxhash64("pair_id", "text", "pos0", F.lit("booksub"))
    kept = toks.filter(F.pmod(hdrop, F.lit(7)) != 0)
    mutated = kept.withColumn(
        "norm_raw",
        F.when(F.pmod(hsub, F.lit(13)) == 0, F.reverse(F.col("text"))).otherwise(
            F.col("text")
        ),
    ).withColumn("norm", normalize_word_col("norm_raw"))
    w = W.partitionBy("pair_id").orderBy("pos0")
    return (
        mutated.filter(F.col("norm").isNotNull())
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select("pair_id", "pos", "norm")
    )


def audio_refs(spark: SparkSession, sf_dir: str, frame_rate: int = 16000) -> DataFrame:
    """The PCM *reference* of each pair with at least one ASR word:
    ``(pair_id, frame_rate, n_samples, phase)`` — the two integers that
    fully determine :func:`audio_samples`' waveform, so a kernel can
    rebuild any window of it with :func:`pcm_window` instead of
    receiving the samples.

    Narrow over :func:`doc_word_arrays` (the last end is the max of the
    ``ends`` array; no explode, no groupBy), so a caller that pinned
    those arrays (``full_pipeline``'s ``arrays`` slot) reads them from
    the cache. ``n_samples`` covers the pair's last ASR word end time;
    ``phase`` is xxhash64(pair)-seeded."""
    arr = doc_word_arrays(spark, sf_dir).filter(F.size("ends") > 0)
    return arr.select(
        "pair_id",
        F.lit(frame_rate).alias("frame_rate"),
        F.ceil(F.array_max("ends") * frame_rate).cast("long").alias("n_samples"),
        F.pmod(F.xxhash64(F.col("pair_id")), F.lit(997)).alias("phase"),
    )


def pcm_window(n_samples: int, phase: int, lo: int, hi: int) -> np.ndarray:
    """Samples ``[lo, hi)`` of the waveform a reference names, clamped
    to the recording like ``F.slice(samples, lo + 1, hi - lo)`` (empty
    when ``lo`` is past the end). Bit-identical to
    :func:`audio_samples`: sample i is the integer triangle
    ``(i + phase) % 200 - 100`` divided by 100.0, exactly as the JVM
    computes it."""
    i = np.arange(min(lo, n_samples), min(hi, n_samples), dtype=np.int64)
    return ((i + phase) % 200 - 100).astype(np.float64) / 100.0


def audio_samples(spark: SparkSession, sf_dir: str, frame_rate: int = 16000) -> DataFrame:
    """Synthetic PCM per pair as ``array<double>``: the waveform of
    :func:`audio_refs` materialized JVM-side — a triangle wave with a
    pair-seeded phase, amplitude in [-1, 1), whose length matches the
    pair's last ASR word end time. Built lazily as a column expression
    (one sequence + transform), never collected. Operators that need
    only a clip's window read the reference instead."""
    refs = audio_refs(spark, sf_dir, frame_rate)
    samples = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("n_samples") - 1),
        lambda i: (F.pmod(i + F.col("phase"), F.lit(200)) - 100).cast("double")
        / 100.0,
    )
    return refs.select("pair_id", "frame_rate", samples.alias("samples"))
