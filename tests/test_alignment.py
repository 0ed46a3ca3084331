"""LCS alignment golden tests: the operator must reproduce
difflib.SequenceMatcher(autojunk=False) run in plain Python on the
same sequences — parity by construction with the reference
algorithm."""

from __future__ import annotations

import difflib

from asr_training_data_pipeline_spark.api import REGISTRY
from asr_training_data_pipeline_spark.operators.alignment import lcs_runs_fused
from asr_training_data_pipeline_spark.sources import fixtures


def test_lcs_matches_difflib_golden(spark, sf_dir):
    words = fixtures.asr_words(spark, sf_dir)
    book = fixtures.book_tokens(spark, sf_dir)
    got = (
        lcs_runs_fused(fixtures.doc_word_arrays(spark, sf_dir), min_run=4)
        .filter("pair_id < 10")
        .toPandas()
        .sort_values(["pair_id", "ai0"])
        .reset_index(drop=True)
    )
    bp = book.filter("pair_id < 10").toPandas()
    ap = words.filter("pair_id < 10").toPandas()
    expect = []
    for pid in sorted(bp.pair_id.unique()):
        a = bp[bp.pair_id == pid].sort_values("pos")["norm"].tolist()
        b = ap[ap.pair_id == pid].sort_values("idx")["norm"].tolist()
        sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
        for tag, i1, i2, j1, j2 in sm.get_opcodes():
            if tag == "equal" and i2 - i1 >= 4:
                expect.append((pid, i1, i2, j1, j2))
    got_rows = list(map(tuple, got[["pair_id", "bi0", "bi1", "ai0", "ai1"]].values))
    assert got_rows == expect
    assert len(expect) > 0, "fixture must produce equal runs"


def test_lcs_spans_reference_token_equality(spark, sf_dir):
    """Every emitted run must actually be an equal span of tokens."""
    words = fixtures.asr_words(spark, sf_dir).toPandas()
    book = fixtures.book_tokens(spark, sf_dir).toPandas()
    got = REGISTRY["lcs_align_runs"].fn(spark, sf_dir).toPandas()
    wb = {
        pid: g.sort_values("pos")["norm"].tolist()
        for pid, g in book.groupby("pair_id")
    }
    wa = {
        pid: g.sort_values("idx")["norm"].tolist()
        for pid, g in words.groupby("pair_id")
    }
    sample = got.head(200)
    assert len(sample) > 0, "fixture must produce equal runs"
    for _, r in sample.iterrows():
        assert (
            wb[r.pair_id][r.bi0 : r.bi1] == wa[r.pair_id][r.ai0 : r.ai1]
        ), f"run {tuple(r)} is not an equal span"
