"""Composition golden: the full pipeline plan vs an independent
single-threaded implementation of the reference's documented per-group
semantics (/root/reference/claude_research_optimal.py:481-670).

The Spark plan decomposes the flow into a narrow array alignment, window
sessionization, aggregations, and a fused validator kernel; this test
re-derives the expected clips with plain Python/difflib from the same
fixture word streams and checks the composition end-to-end — every
order-sensitive step (LCS tie-breaking, first-on-ties span pick,
first-match confidence, boundary clamp ordering, the post-clamp
phoneme extension, pydub-style slice clamping) has to line up for
these to match.
"""

from __future__ import annotations

import difflib

import pytest

from asr_training_data_pipeline_spark.plans.pipeline import P, full_pipeline
from asr_training_data_pipeline_spark.sources import fixtures
from asr_training_data_pipeline_spark.sources.asr_scan import _stub_model

PAIR_MOD = 37  # ~1/37 of pairs: enough variety, fast to golden


def _phoneme_ext(text: str) -> int:
    # C5 branch order, including the unreachable dge/tch elif
    # (claude_research_optimal.py:560-582)
    t = text.lower()
    if not t or len(t) < 3:
        return 0
    if t[-3:] == "ing":
        return 60
    if t[-1] in "szxfv":
        return 50
    if t[-1] in "tdkpnmg":
        return 40
    if len(t) >= 2 and t[-2:] in ("ce", "se", "ze", "ge", "ch", "sh", "th", "ng"):
        return 50
    return 0


def _adaptive_guard(conf: float, base: int) -> int:
    # C4 (claude_research_optimal.py:374-386)
    if conf > 0.75:
        return int(base * 0.7)
    if conf < 0.6:
        return int(base * 1.3)
    return base


def _equal_runs(a, b, min_run):
    sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
    return [
        (i1, i2, j1, j2)
        for tag, i1, i2, j1, j2 in sm.get_opcodes()
        if tag == "equal" and (i2 - i1) >= min_run
    ]


def _expected_clips(words, book_norms, p=P):
    """The whole per-pair dataflow, reference-order (:434-670)."""
    model = _stub_model()
    asr_norms = [w["norm"] for w in words]
    runs = _equal_runs(book_norms, asr_norms, p.min_run)
    if not runs:
        return []
    runs = sorted(runs, key=lambda r: r[2])
    groups = [[runs[0]]]
    for nxt in runs[1:]:
        prev = groups[-1][-1]
        gap_w = nxt[2] - prev[3]
        gap_t = words[nxt[2]]["start"] - words[prev[3] - 1]["end"]
        if gap_w <= p.max_gap_words and gap_t <= p.max_gap_time:
            groups[-1].append(nxt)
        else:
            groups.append([nxt])

    out = []
    for gid, group in enumerate(groups, start=1):
        used = [w for r in group for w in words[r[2]: r[3]]]
        # assembled base-clip geometry (:308-341)
        spans = []
        for k, r in enumerate(group):
            s = round(words[r[2]]["start"] * 1000)
            e = round(words[r[3] - 1]["end"] * 1000)
            if k == 0 and p.start_pad_ms > 0:
                s = max(0, s - p.start_pad_ms)
            if k == len(group) - 1 and p.end_pad_ms > 0:
                e += p.end_pad_ms
            if e <= s:
                e = s + 1
            spans.append((s, e))
        clip_len = sum(e - s for s, e in spans) + p.seam_silence_ms * (len(group) - 1)

        # validator consensus (:492-510) via the same stub backend
        clip_text = " ".join(w["text"] for w in used)
        vrows = model(int(used[0]["pair_id"]), clip_text)
        vwords = [r for k, r in enumerate(vrows) if k % 11 != 10]
        if not vwords:
            continue
        eq = _equal_runs([w["norm"] for w in used], [w["norm"] for w in vwords], 1)
        best, best_len = None, 0
        for _i1, _i2, j1, j2 in eq:
            if (j2 - j1) > best_len:
                best, best_len = (j1, j2), j2 - j1
        if best is None or best_len < p.min_valid_words:
            continue
        j1, j2 = best
        keep = vwords[j1:j2]

        # J3 first-match confidence (:515-524)
        confs = []
        for kw in keep:
            for uw in used:
                if uw["norm"] == kw["norm"]:
                    confs.append(uw["confidence"])
                    break
        avg_conf = sum(confs) / len(confs) if confs else 1.0

        # boundary math (:525-585)
        s_ms = round(keep[0]["start"] * 1000)
        e_ms = round(keep[-1]["end"] * 1000)
        if p.start_pad_ms > 0:
            s_ms = max(0, s_ms - p.start_pad_ms)
        if j1 > 0:
            s_ms = max(s_ms, round(vwords[j1 - 1]["end"] * 1000) + p.start_guard_ms)
        e_ms += p.end_pad_ms + p.tail_safety_ms
        if j2 < len(vwords):
            guard = _adaptive_guard(keep[-1]["confidence"], p.guard_base_ms)
            safe = round(vwords[j2]["start"] * 1000) - guard
            if e_ms > safe:
                e_ms = safe
        e_ms += _phoneme_ext(keep[-1]["text"])
        if e_ms <= s_ms:
            e_ms = s_ms + 1
        if (e_ms - s_ms) < int(p.min_dur_s * 1000):
            continue
        piece_ms = max(0, min(e_ms, clip_len) - min(s_ms, clip_len))
        out.append(
            dict(
                group_id=gid,
                s_ms=s_ms,
                e_ms=e_ms,
                duration_s=piece_ms / 1000.0,
                n_keep=j2 - j1,
                avg_conf=avg_conf,
                seg_text=" ".join(w["text"] for w in keep),
            )
        )
    return out


@pytest.fixture(scope="module")
def pipeline_golden(spark, sf_dir):
    from pyspark.sql import functions as F

    words = (
        fixtures.asr_words(spark, sf_dir)
        .filter(F.col("pair_id") % PAIR_MOD == 0)
        .orderBy("pair_id", "idx")
        .collect()
    )
    book = (
        fixtures.book_tokens(spark, sf_dir)
        .filter(F.col("pair_id") % PAIR_MOD == 0)
        .orderBy("pair_id", "pos")
        .collect()
    )
    stages = full_pipeline(spark, sf_dir)
    got = (
        stages["exported"]
        .filter(F.col("pair_id") % PAIR_MOD == 0)
        .select(
            "pair_id", "group_id", "s_ms", "e_ms", "duration_s",
            "n_keep", "span_avg_conf", "seg_text",
        )
        .orderBy("pair_id", "group_id")
        .collect()
    )
    return words, book, got


def test_full_pipeline_matches_reference_semantics(pipeline_golden):
    words_rows, book_rows, got = pipeline_golden
    by_pair_words: dict[int, list] = {}
    for r in words_rows:
        by_pair_words.setdefault(r.pair_id, []).append(r.asDict())
    by_pair_book: dict[int, list] = {}
    for r in book_rows:
        by_pair_book.setdefault(r.pair_id, []).append(r.norm)

    expected = []
    for pair_id in sorted(by_pair_words):
        for clip in _expected_clips(
            by_pair_words[pair_id], by_pair_book.get(pair_id, [])
        ):
            expected.append((pair_id, clip))

    assert len(got) == len(expected), (
        f"clip count: spark={len(got)} golden={len(expected)}"
    )
    assert len(got) > 0
    for row, (pair_id, exp) in zip(got, expected):
        where = f"pair {pair_id} group {exp['group_id']}"
        assert row.pair_id == pair_id, where
        assert row.group_id == exp["group_id"], where
        assert row.s_ms == exp["s_ms"], where
        assert row.e_ms == exp["e_ms"], where
        assert row.duration_s == pytest.approx(exp["duration_s"], abs=1e-9), where
        assert row.n_keep == exp["n_keep"], where
        assert row.span_avg_conf == pytest.approx(exp["avg_conf"], abs=1e-9), where
        assert row.seg_text == exp["seg_text"], where


def test_pipeline_plan_shape(spark, sf_dir):
    """Pin the scale-critical physical properties of the exported plan:

    - exactly TWO Python boundaries (align ArrowEvalPython + the fused
      validator MapInPandas) — no accidental extra UDF stages
    - no join AFTER the assembly aggregation: the consensus kernel
      echoes clip facts, so scan→consensus→boundary-filter is narrow
    - the per-group run-geometry side is broadcast against the pair
      word arrays, not shuffled (word data never crosses an exchange)
    - no cartesian/nested-loop joins anywhere
    """
    from pyspark.sql import functions as F  # noqa: F401

    # Drop any cached subtrees from earlier tests: the cache manager
    # substitutes InMemoryTableScan into NEW plans whose fragments
    # match, which would hide the operators this test pins.
    spark.catalog.clearCache()
    stages = full_pipeline(spark, sf_dir, pins=())
    plan = stages["exported"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    # pins=() caches nothing, so the doc-arrays derivation appears once
    # per consumer branch (alignment and the assembly join); only the
    # alignment branch carries the align eval.
    assert plan.count("ArrowEvalPython") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Everything above the MapInPandas kernel must be join-free: the
    # fused kernel output feeds filters/projections only.
    above = plan.split("MapInPandas", 1)[0]
    assert "Join" not in above, f"unexpected join above the kernel:\n{above}"
    assert "BroadcastHashJoin" in plan  # run geometry ⋈ pair word arrays


def test_full_pipeline_pins_hold_and_release(spark, sf_dir):
    """``pins`` decides which reuse points hold a caching slot. A slot
    this invocation does not pin must be RELEASED — unpersisted and
    dropped — so a narrower call after a wider one leaves nothing of
    the earlier invocation in executor storage."""
    from pyspark import StorageLevel

    from asr_training_data_pipeline_spark import caching

    def pipeline_slots():
        return {s for s in caching._SLOTS if s.startswith("pipeline_")}

    full_pipeline(spark, sf_dir)
    assert pipeline_slots() == {
        "pipeline_arrays", "pipeline_runs", "pipeline_validated"
    }
    runs, validated = (
        caching._SLOTS["pipeline_runs"], caching._SLOTS["pipeline_validated"]
    )
    full_pipeline(spark, sf_dir, pins=("arrays",))
    assert pipeline_slots() == {"pipeline_arrays"}
    assert runs.storageLevel == StorageLevel.NONE
    assert validated.storageLevel == StorageLevel.NONE
    arrays = caching._SLOTS["pipeline_arrays"]
    full_pipeline(spark, sf_dir, pins=())
    assert pipeline_slots() == set()
    assert arrays.storageLevel == StorageLevel.NONE


def test_fixture_array_parity(spark, sf_dir):
    """The narrow per-document array derivation must produce rows
    IDENTICAL to the explode+window reference formulation — same
    hashes, same float-summation order, same dense renumbering."""
    import pandas as pd

    for new_fn, old_fn, keys in (
        (fixtures.asr_words, fixtures.asr_words_windowform, ["pair_id", "idx"]),
        (fixtures.book_tokens, fixtures.book_tokens_windowform, ["pair_id", "pos"]),
    ):
        new = new_fn(spark, sf_dir).toPandas().sort_values(keys).reset_index(drop=True)
        old = old_fn(spark, sf_dir).toPandas().sort_values(keys).reset_index(drop=True)
        assert len(new) == len(old) > 0
        pd.testing.assert_frame_equal(new, old[new.columns], check_exact=True)


def test_audio_samples_length_matches_last_word(spark, sf_dir):
    """Every pair with an ASR word gets exactly ceil(last word end ×
    16 kHz) samples, and the frame carries no other columns."""
    from pyspark.sql import functions as F

    audio = fixtures.audio_samples(spark, sf_dir, 16000)
    assert audio.columns == ["pair_id", "frame_rate", "samples"]
    want = fixtures.asr_words(spark, sf_dir).groupBy("pair_id").agg(
        F.ceil(F.max("end") * 16000).cast("long").alias("n")
    )
    got = audio.select("pair_id", F.size("samples").cast("long").alias("n"))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_pcm_window_rebuilds_audio_samples(spark, sf_dir):
    """The export's PCM reference is exact: for every pair,
    ``audio_refs.n_samples`` is the length of ``audio_samples``, and
    ``pcm_window`` equals ``F.slice(samples, lo + 1, hi - lo)``
    bit for bit — an interior window, one clamped at the end of the
    recording, and one starting past the end (empty)."""
    import numpy as np
    from pyspark.sql import functions as F

    refs = fixtures.audio_refs(spark, sf_dir, 16000)
    audio = fixtures.audio_samples(spark, sf_dir, 16000)
    n = F.col("n_samples")
    windows = {
        "interior": (n / 3, n / 3 + 800),
        "end": (n - 100, n + 500),
        "past": (n + 10, n + 100),
    }
    cols = []
    for name, (lo, hi) in windows.items():
        lo, hi = lo.cast("int"), hi.cast("int")
        cols += [
            lo.alias(f"{name}_lo"),
            hi.alias(f"{name}_hi"),
            F.slice("samples", lo + 1, hi - lo).alias(name),
        ]
    rows = (
        refs.join(audio, ["pair_id", "frame_rate"])
        .select("pair_id", "n_samples", "phase", F.size("samples").alias("size"), *cols)
        .collect()
    )
    assert len(rows) == refs.count() == audio.count() > 0
    for r in rows:
        assert r.n_samples == r.size, r.pair_id
        for name in windows:
            got = fixtures.pcm_window(
                r.n_samples, r.phase, r[f"{name}_lo"], r[f"{name}_hi"]
            )
            want = np.asarray(r[name], dtype=np.float64)
            assert got.dtype == want.dtype and got.tobytes() == want.tobytes(), (
                r.pair_id, name,
            )
        assert len(r["end"]) == 100 and len(r["past"]) == 0


def test_fixture_doc_level_strip_parity_unicode(spark, tmp_path):
    """The r12 one-regex-pass-per-document normalization
    (fixtures._CLEAN_DOC_RE) must equal the per-token windowform on
    inputs the ASCII sf fixtures never exercise: final sigma (Java's
    only context-sensitive lowercase rule), Turkish İ (lowercases to
    i + combining dot — length changes), combining accents, tabs/
    newlines inside tokens, doubled spaces (empty tokens), and
    punctuation-only tokens. The strip is per-character and space is
    in its keep-class, so strip∘split == split∘strip and it commutes
    with reverse — this pins that argument against regressions."""
    import duckdb

    rows = [
        (1, "Hello, WORLD! it's a-b c--d 42 x"),
        (2, "ΑΣ ΒΣΓ İstanbul STRASSE straße"),
        (3, "tab\there new\nline  double  space '' -- "),
        (4, "éclair café ' - '- -' o'neil"),
        (5, ""),
        (6, "... !!! ???"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    con.execute(
        "COPY (SELECT doc_id, text, 'en' AS lang, 's' AS source,"
        " length(text) AS n_chars FROM d)"
        f" TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    sfd = str(tmp_path)
    for new_fn, old_fn in (
        (fixtures.asr_words, fixtures.asr_words_windowform),
        (fixtures.book_tokens, fixtures.book_tokens_windowform),
    ):
        new, old = new_fn(spark, sfd), old_fn(spark, sfd)
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0


def test_narrow_fixture_plan_shape(spark, sf_dir):
    """documents → aligned runs must stay NARROW: one exchange (the
    raw-document repartition for local parallelism), no window, no
    aggregate, no join — word data never shuffles."""
    from asr_training_data_pipeline_spark.operators.alignment import lcs_runs_fused

    spark.catalog.clearCache()
    arrays = fixtures.doc_word_arrays(spark, sf_dir)
    plan = (
        lcs_runs_fused(arrays, min_run=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "Join" not in plan
