"""ASR inference scans (SURVEY §2.1 S3/S4) — the Spark shape of the
reference's WhisperX transcribe (/root/reference/
claude_research_optimal.py:235-280) and faster-whisper validator
(claude_research_optimal.py:344-363).

Real models are a pluggable backend: the operator contract is
``mapInPandas`` over document/audio rows with a PER-WORKER model
singleton (loaded once per executor process, NOT once per batch or
per file — strictly better than the reference's per-file subprocess
reload, batch_processor.py:86). The default backend here is a
DETERMINISTIC STUB (no GPU / audio libs in this environment): it
emits word rows derived from the text column with xxhash64-seeded
timings — the same distribution as sources.fixtures.asr_words — so
every downstream operator is testable bit-for-bit.

To plug a real model, register a backend callable with
``set_asr_backend`` whose signature is (texts: pd.Series) ->
iterator of word-row DataFrames; the Spark-side plumbing (schema,
batching, singleton init) is identical.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

ASR_WORDS_SCHEMA = (
    "pair_id long, idx long, text string, norm string, "
    "start double, end double, confidence double"
)

# Module-level singleton slot: initialized once per Python worker
# process (the pandas-UDF analog of "load the model once",
# claude_research_optimal.py:469-471).
_MODEL = None


def _normalize_word(s: str) -> str | None:
    """Python mirror of functions.text.normalize_word_col (C1)."""
    import re

    s = re.sub(r"[^a-z0-9'\-]", "", s.lower()).replace("'", "").replace("-", "")
    return s or None


def _stub_model():
    """The deterministic fake 'model': hash-seeded word timings.

    Mirrors fixtures.asr_words exactly (same xxhash64 inputs) so the
    scan output equals the declarative fixture derivation — the
    correctness pin for the mapInPandas plumbing.
    """

    def xxh(pair_id: int, text: str, idx: int) -> int:
        # xxhash64 parity with Spark is NOT required here: the stub
        # model output is compared against a Spark-side derivation
        # only in tests that run both through Spark. Workers use a
        # simple deterministic hash of the same tuple.
        import hashlib

        raw = f"{pair_id}|{text}|{idx}".encode()
        return int.from_bytes(hashlib.sha1(raw).digest()[:8], "big", signed=False)

    def transcribe(pair_id: int, text: str) -> list[dict]:
        t = 0.0
        rows = []
        for pos, tok in enumerate(text.split(" ")):
            h = xxh(pair_id, tok, pos)
            dur = 0.1 + (h % 400) / 1000.0
            gap = 0.8 if h % 11 == 0 else 0.05
            conf = 0.4 + (h % 601) / 1000.0
            norm = _normalize_word(tok)
            if norm is not None:
                rows.append(
                    dict(
                        pair_id=pair_id,
                        # dense post-filter index, like the reference
                        # (claude_research_optimal.py:255-277)
                        idx=len(rows),
                        text=tok,
                        norm=norm,
                        start=t,
                        end=t + dur,
                        confidence=conf,
                    )
                )
            t += dur + gap
        return rows

    return transcribe


_BACKEND_FACTORY: Callable[[], Callable] = _stub_model


def set_asr_backend(factory: Callable[[], Callable]) -> None:
    """Install a real model factory (called once per worker)."""
    global _BACKEND_FACTORY
    _BACKEND_FACTORY = factory


def asr_scan(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """S3: transcribe-scan over (doc_id, text) rows → word rows.

    Scale: mapInPandas streams Arrow batches through the worker; the
    model singleton amortizes load cost across every batch the worker
    ever sees. Partition count = scan splits; inference is
    embarrassingly parallel. Nothing is collected to the driver.
    """
    factory = _BACKEND_FACTORY

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        global _MODEL
        if _MODEL is None:
            _MODEL = factory()
        for pdf in batches:
            out = []
            for pair_id, text in zip(pdf["doc_id"], pdf["text"]):
                out.extend(_MODEL(int(pair_id), text))
            yield pd.DataFrame(
                out,
                columns=[
                    "pair_id",
                    "idx",
                    "text",
                    "norm",
                    "start",
                    "end",
                    "confidence",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(run, ASR_WORDS_SCHEMA)


CONSENSUS_SCHEMA = (
    "pair_id long, group_id long, best_len long, "
    "s_raw_ms long, e_raw_ms long, prev_end_ms long, next_start_ms long, "
    "last_text string, last_conf double, span_avg_conf double, "
    "seg_text string, n_keep long, "
    # clip facts echoed through so downstream needs NO join back to
    # the clips table (one narrow stage instead of a co-shuffle)
    "n_pieces long, clip_len_ms long, piece_spans array<struct<s:long,e:long>>"
)


def validator_consensus_scan(spark: SparkSession, clips: DataFrame) -> DataFrame:
    """S4 + J2 + W2 + J3 fused: validator re-transcription, consensus
    LCS against the clip's own norms, longest-validator-span pick, and
    the span's boundary/confidence facts — one row per clip, ONE
    Python boundary.

    Mirrors the reference's per-group consensus block
    (claude_research_optimal.py:492-545) exactly:

    - ``lcs_pairs(used_norms, vnorms)`` keeps every equal block (:365-371)
    - longest span maximizes the VALIDATOR-side length ``bi1-bi0``,
      first on ties via strict ``>`` (:504-508)
    - ``keep_words = vwords[bi0:bi1]``; the exported clip's text and
      boundary baselines come from the VALIDATOR words, in
      clip-relative time (:512, :525-527, :658)
    - span confidence: for each kept word, the FIRST used word with an
      equal norm contributes its WhisperX confidence; mean, default
      1.0 on empty (J3, :515-524 — first-match = first-occurrence map)
    - neighbor bounds: ``vwords[bi0-1].end`` / ``vwords[bi1].start``,
      null at the sequence edges (:531-536, :547-551)
    - ms values use Python ``round`` (half-even), like the
      reference's ``int(round(x*1000))`` (:527-528, :533, :548)

    The boundary ARITHMETIC (pads, guards, phoneme CASE, min-dur) is
    NOT in here — it stays in Catalyst column expressions
    (plans.pipeline.validated_clips), where it codegens and where the
    oracle-checked scalar operators (C4-C6) live.

    Why fused: chaining MapInPandas into further Python stages holds
    two workers per task and re-ships the validator rows over Arrow;
    the consensus facts are a fixed-width row per clip, computed where
    the validator output already lives.

    The stub validator drops every 11th word of its re-transcription,
    so the consensus alignment has real gaps to bridge. A real
    faster-whisper backend plugs in through ``set_asr_backend``.
    """
    import difflib

    factory = _BACKEND_FACTORY

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        global _MODEL
        if _MODEL is None:
            _MODEL = factory()
        cols = [
            "pair_id", "group_id", "best_len", "s_raw_ms", "e_raw_ms",
            "prev_end_ms", "next_start_ms", "last_text", "last_conf",
            "span_avg_conf", "seg_text", "n_keep",
            "n_pieces", "clip_len_ms", "piece_spans",
        ]
        for pdf in batches:
            out = []
            for pair_id, group_id, text, norms, confs, n_pieces, clip_len, spans in zip(
                pdf["pair_id"],
                pdf["group_id"],
                pdf["clip_text"],
                pdf["clip_norms"],
                pdf["clip_confs"],
                pdf["n_pieces"],
                pdf["clip_len_ms"],
                pdf["piece_spans"],
            ):
                echo = (int(n_pieces), int(clip_len), list(spans))
                rows = _MODEL(int(pair_id), text)
                vwords = [
                    r for k, r in enumerate(rows) if k % 11 != 10
                ]  # simulated validator miss: every 11th word
                a = list(norms)
                b = [w["norm"] for w in vwords]
                best = None
                best_len = 0
                if a and b:
                    sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
                    for tag, _i1, _i2, j1, j2 in sm.get_opcodes():
                        if tag == "equal" and (j2 - j1) > best_len:
                            best = (j1, j2)
                            best_len = j2 - j1
                if best is None:
                    out.append(
                        (int(pair_id), int(group_id), 0,
                         None, None, None, None, None, None, None, None, 0)
                        + echo
                    )
                    continue
                j1, j2 = best
                keep = vwords[j1:j2]
                first_conf = {}
                for n, c in zip(norms, confs):
                    first_conf.setdefault(n, float(c))
                span_confs = [first_conf[w["norm"]] for w in keep if w["norm"] in first_conf]
                avg_conf = (
                    sum(span_confs) / len(span_confs) if span_confs else 1.0
                )
                out.append(
                    (
                        int(pair_id),
                        int(group_id),
                        best_len,
                        round(keep[0]["start"] * 1000),
                        round(keep[-1]["end"] * 1000),
                        round(vwords[j1 - 1]["end"] * 1000) if j1 > 0 else None,
                        round(vwords[j2]["start"] * 1000) if j2 < len(vwords) else None,
                        keep[-1]["text"],
                        float(keep[-1]["confidence"]),
                        avg_conf,
                        " ".join(w["text"] for w in keep),
                        best_len,
                    )
                    + echo
                )
            yield pd.DataFrame(out, columns=cols)

    return clips.select(
        "pair_id", "group_id", "clip_text", "clip_norms", "clip_confs",
        "n_pieces", "clip_len_ms", "piece_spans",
    ).mapInPandas(run, CONSENSUS_SCHEMA)
