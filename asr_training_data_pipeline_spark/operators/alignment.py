"""LCS sequence-alignment join (SURVEY §2.4 J1/J2) — the reference's
core operator: an ordered subsequence-alignment "join" between the
transcript word sequence and the ASR word sequence
(/root/reference/claude_research_optimal.py:283-289, 365-371).

No relational operator expresses order-sensitive LCS, and both
sequences derive from the same document row, so there is nothing to
join: the input already carries each pair's two ordered token arrays
side by side (``sources.fixtures.doc_word_arrays``). ONE Arrow-batched
pandas UDF runs ``difflib.SequenceMatcher(autojunk=False)`` (the exact
algorithm the reference calls — parity by construction) once per row
and returns the equal runs as a struct of four index arrays, zipped and
exploded back to rows JVM-side. The scan → align path is one narrow
stage: word data never crosses an exchange, and thousands of pairs
ride in one Arrow batch, so Python is entered once per batch rather
than once per pair.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Struct-of-arrays form: one struct of 4 long-arrays per pair. Arrow
# converts flat numeric arrays ~an order of magnitude faster than an
# array-of-structs (which materializes one Python dict per run), and
# the zip back to run rows is a JVM-side arrays_zip+explode.
_RUNS_SOA_TYPE = (
    "struct<bi0:array<long>,bi1:array<long>,ai0:array<long>,ai1:array<long>>"
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


def lcs_runs_fused(doc_arrays: DataFrame, min_run: int = 4) -> DataFrame:
    """J1: equal runs of length ≥ min_run between each pair's book and
    ASR token sequences, one row per run:
    ``(pair_id, bi0, bi1, ai0, ai1, run_start, run_end)``.

    ``doc_arrays`` carries BOTH sides as per-key ordered arrays —
    ``(pair_id, book_norms, norms, starts, ends, ...)``, e.g.
    ``sources.fixtures.doc_word_arrays``. A pair with an empty side
    yields no runs.

    Index semantics: bi*/ai* index into the ordered token arrays, and
    ``run_start``/``run_end`` (first matched word's start, last matched
    word's end) are resolved by position (1-based ``element_at``) from
    the ASR side's ``starts``/``ends``, so downstream sessionization
    needs no join back to a word table. (The reference assigns idx
    after its empty-norm filter, so its indexes are dense positions
    too — claude_research_optimal.py:255-277.)
    """
    align = _make_align_udf(min_run)
    runs = doc_arrays.select(
        "pair_id",
        F.col("starts").alias("b_starts"),
        F.col("ends").alias("b_ends"),
        align("book_norms", "norms").alias("r"),
    )
    zipped = F.arrays_zip(
        F.col("r.bi0").alias("bi0"),
        F.col("r.bi1").alias("bi1"),
        F.col("r.ai0").alias("ai0"),
        F.col("r.ai1").alias("ai1"),
    )
    return runs.select(
        "pair_id", "b_starts", "b_ends", F.explode(zipped).alias("e")
    ).select(
        "pair_id",
        "e.bi0",
        "e.bi1",
        "e.ai0",
        "e.ai1",
        F.element_at("b_starts", F.col("e.ai0").cast("int") + 1).alias("run_start"),
        F.element_at("b_ends", F.col("e.ai1").cast("int")).alias("run_end"),
    )
