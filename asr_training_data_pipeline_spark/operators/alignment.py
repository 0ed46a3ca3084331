"""LCS sequence-alignment join (SURVEY §2.4 J1/J2) — the reference's
core operator: an ordered subsequence-alignment "join" between the
transcript word sequence and the ASR word sequence
(/root/reference/claude_research_optimal.py:283-289, 365-371).

No relational operator expresses order-sensitive LCS, so the plan is:
collapse each side to a per-key token array with a JVM-side
``array_sort(collect_list(struct(pos, norm)))`` aggregate, equi-join
the two single-row-per-key tables, then run
``difflib.SequenceMatcher(autojunk=False)`` (the exact algorithm the
reference calls — parity by construction) once per row inside ONE
Arrow-batched pandas UDF that returns the equal runs as a struct of
four index arrays, zipped and exploded back to rows.

This shape beats a cogrouped ``applyInPandas`` by a wide margin at
high group counts: the cogroup pays a pandas-DataFrame construction
per GROUP, while here thousands of pairs ride in one Arrow batch and
Python is entered once per batch. Shuffle count is identical (both
sides hash-partition on the key).

Scale: pairs are independent — alignment parallelizes across keys,
and token payloads are small (norms only). Skew = one enormous
document; the mitigation at 100 TB is chunked alignment (align per
chapter / window), which composes from this same operator over a
finer pair key.
"""

from __future__ import annotations

import difflib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Struct-of-arrays form: one struct of 4 long-arrays per pair. Arrow
# converts flat numeric arrays ~an order of magnitude faster than an
# array-of-structs (which materializes one Python dict per run), and
# the zip back to run rows is a JVM-side arrays_zip+explode.
_RUNS_SOA_TYPE = (
    "struct<bi0:array<long>,bi1:array<long>,ai0:array<long>,ai1:array<long>>"
)


def _sorted_tokens(order_col: str, norm_col: str = "norm") -> Column:
    """Per-key ordered token array, built entirely JVM-side."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(F.col(order_col), F.col(norm_col)))),
        lambda s: s[norm_col],
    )


def _make_align_udf(min_run: int):
    """Pandas UDF: (book tokens, asr tokens) → the get_opcodes()
    'equal' blocks of length ≥ min_run, bit-identical to
    claude_research_optimal.py:283-289. Emits (bi0[], bi1[], ai0[],
    ai1[]) per pair so the Arrow boundary moves flat numeric arrays
    instead of per-run structs."""

    @F.pandas_udf(_RUNS_SOA_TYPE)
    def align(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for a_col, b_col in it:
            out = []
            for a, b in zip(a_col, b_col):
                a = list(a)
                b = list(b)
                bi0: list[int] = []
                bi1: list[int] = []
                ai0: list[int] = []
                ai1: list[int] = []
                if a and b:
                    sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
                    for tag, i1, i2, j1, j2 in sm.get_opcodes():
                        if tag == "equal" and (i2 - i1) >= min_run:
                            bi0.append(i1)
                            bi1.append(i2)
                            ai0.append(j1)
                            ai1.append(j2)
                out.append({"bi0": bi0, "bi1": bi1, "ai0": ai0, "ai1": ai1})
            yield pd.DataFrame(out)

    return align


def _explode_runs(df: DataFrame) -> DataFrame:
    """SoA runs struct → one row per run (shared by both run forms)."""
    zipped = F.arrays_zip(
        F.col("r.bi0").alias("bi0"),
        F.col("r.bi1").alias("bi1"),
        F.col("r.ai0").alias("ai0"),
        F.col("r.ai1").alias("ai1"),
    )
    keep = [c for c in df.columns if c != "r"]
    return df.select(*keep, F.explode(zipped).alias("e"))


def _timed_runs(runs: DataFrame) -> DataFrame:
    """Explode SoA runs carrying (b_starts, b_ends) and resolve each
    run's first-word start / last-word end by position (1-based
    element_at over the ordered arrays) — shared by both timed forms
    so the index arithmetic lives in exactly one place."""
    return _explode_runs(runs).select(
        "pair_id",
        "e.bi0",
        "e.bi1",
        "e.ai0",
        "e.ai1",
        F.element_at("b_starts", F.col("e.ai0").cast("int") + 1).alias("run_start"),
        F.element_at("b_ends", F.col("e.ai1").cast("int")).alias("run_end"),
    )


def lcs_runs_fused(doc_arrays: DataFrame, min_run: int = 4) -> DataFrame:
    """``lcs_equal_runs(with_times=True)`` over a frame that already
    carries BOTH sides as per-key arrays — ``(pair_id, book_norms,
    norms, starts, ends, ...)``, e.g. ``sources.fixtures.
    doc_word_arrays``. No join, no collect: when the two sequences
    share provenance (both derive from the same document row), the
    whole scan → align path is one narrow stage and the word data
    never crosses an exchange."""
    align = _make_align_udf(min_run)
    runs = doc_arrays.select(
        "pair_id",
        F.col("starts").alias("b_starts"),
        F.col("ends").alias("b_ends"),
        align("book_norms", "norms").alias("r"),
    )
    return _timed_runs(runs)


def lcs_equal_runs(
    book: DataFrame,
    asr: DataFrame,
    min_run: int = 4,
    book_order: str = "pos",
    asr_order: str = "idx",
    with_times: bool = False,
) -> DataFrame:
    """J1: equal runs of length ≥ min_run between two keyed token
    sequences. ``book``: (pair_id, pos, norm); ``asr``:
    (pair_id, idx, norm). A key present on only one side yields no
    runs (inner join — same as the cogroup-with-empty-side case).

    ``with_times=True`` additionally emits ``run_start``/``run_end``
    (first matched word's start, last matched word's end) resolved
    INSIDE the same aggregation — the per-key start/end arrays ride
    along with the token array, so downstream sessionization needs no
    join back to the word table (two shuffles saved).

    Index semantics: ai0/ai1 index into the per-key ORDERED token
    sequence, so the timing lookup is position-based and correct even
    if ``asr_order`` values had gaps. (The reference assigns idx after
    its empty-norm filter, so its indexes are dense positions too —
    claude_research_optimal.py:255-277.)
    """
    align = _make_align_udf(min_run)
    book_arr = book.groupBy("pair_id").agg(_sorted_tokens(book_order).alias("a_toks"))
    if not with_times:
        asr_arr = asr.groupBy("pair_id").agg(_sorted_tokens(asr_order).alias("b_toks"))
        joined = book_arr.join(asr_arr, "pair_id").select(
            "pair_id", align("a_toks", "b_toks").alias("r")
        )
        return _explode_runs(joined).select(
            "pair_id", "e.bi0", "e.bi1", "e.ai0", "e.ai1"
        )
    sorted_rows = F.array_sort(
        F.collect_list(F.struct(F.col(asr_order), F.col("norm"), F.col("start"), F.col("end")))
    )
    asr_arr = asr.groupBy("pair_id").agg(
        F.transform(sorted_rows, lambda s: s["norm"]).alias("b_toks"),
        F.transform(sorted_rows, lambda s: s["start"]).alias("b_starts"),
        F.transform(sorted_rows, lambda s: s["end"]).alias("b_ends"),
    )
    runs = book_arr.join(asr_arr, "pair_id").select(
        "pair_id",
        "b_starts",
        "b_ends",
        align("a_toks", "b_toks").alias("r"),
    )
    return _timed_runs(runs)
