"""Acoustic DSP operators (SURVEY §2.9 C8-C10, §2.3 F7) — real numpy
implementations of the reference's boundary-quality checks:

- C8 ``mfcc_distance``: Euclidean distance between mean 13-coeff MFCC
  vectors of the windows before/after a boundary
  (/root/reference/claude_research_optimal.py:113-157).
- C9 ``spectral_flux``: Σ diff(|STFT|)² / 1e9 around the boundary
  (claude_research_optimal.py:159-187).
- C10 ``boundary_leakage``: 2-of-3 vote over (dBFS above silence
  threshold, MFCC distance > 15, flux > 0.5)
  (claude_research_optimal.py:189-232, thresholds :409-410).
- F7 ``gate_clip``: apply the vote per clip with ONE retry at
  e_ms−30, else reject with reason ``acoustic_leakage_unfixable``
  (claude_research_optimal.py:608-656).

The reference delegates spectral math to librosa; this container has
no librosa, so the kernels here are self-contained numpy (rfft power
spectrum → mel filterbank → log → DCT-II for MFCC; framed rfft
magnitudes for flux) with the same shapes, units, and fallback
behavior (short window → scaled-RMS fallback for C8, 0.0 for C9 —
mirroring the reference's librosa-absent degradation paths at
:143-157, :184-187). Numeric parity with librosa is NOT claimed; the
decision semantics (thresholds, votes, retry) are.

The F7 decision is ONE numpy function, ``gate_clip``, over a clip's
assembled base (``_assemble_base``; the piece rule is
``_exported_piece``). Two Spark shapes call it:

- the export's per-pair kernel (``sinks.exports.export_pair_files``)
  rebuilds only each clip's envelope from the pair's PCM reference
  (``sources.fixtures.pcm_window``), gates it and writes the kept
  piece — no decoded audio crosses the JVM or a shuffle;
- ``acoustic_gate``, the standalone operator: one mapInPandas over
  envelope samples sliced JVM-side
  (``sinks.exports._clips_with_samples``), as the
  ``acoustic_boundary_gate`` query uses it.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register

if TYPE_CHECKING:
    from ..plans.pipeline import PipelineParams

MFCC_THRESHOLD = 15.0
FLUX_THRESHOLD = 0.5
SILENCE_THRESHOLD_DB = -40.0
_N_MELS = 26
_N_MFCC = 13


def _hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f) / 700.0)


def _mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m) / 2595.0) - 1.0)


def _mel_filterbank(n_fft: int, sr: int, n_mels: int = _N_MELS) -> np.ndarray:
    """Triangular mel filterbank over an rfft power spectrum."""
    n_bins = n_fft // 2 + 1
    mel_pts = np.linspace(_hz_to_mel(0.0), _hz_to_mel(sr / 2.0), n_mels + 2)
    hz_pts = _mel_to_hz(mel_pts)
    bins = np.floor((n_fft + 1) * hz_pts / sr).astype(int).clip(0, n_bins - 1)
    fb = np.zeros((n_mels, n_bins))
    for i in range(n_mels):
        lo, mid, hi = bins[i], bins[i + 1], bins[i + 2]
        if mid > lo:
            fb[i, lo:mid] = (np.arange(lo, mid) - lo) / (mid - lo)
        if hi > mid:
            fb[i, mid:hi] = (hi - np.arange(mid, hi)) / (hi - mid)
    return fb


def _dct2(x: np.ndarray, n_out: int) -> np.ndarray:
    """Orthonormal DCT-II of a 1-D vector, first n_out coefficients."""
    n = len(x)
    k = np.arange(n_out)[:, None]
    i = np.arange(n)[None, :]
    basis = np.cos(np.pi * k * (2 * i + 1) / (2 * n))
    out = 2.0 * (basis @ x)
    out[0] *= np.sqrt(1.0 / (4.0 * n))
    out[1:] *= np.sqrt(1.0 / (2.0 * n))
    return out


def _mfcc_mean(seg: np.ndarray, sr: int) -> np.ndarray | None:
    """Mean MFCC vector of a short segment (single analysis frame —
    the 50 ms window IS the frame; librosa would zero-pad to n_fft)."""
    if len(seg) < 32:
        return None
    n_fft = len(seg) & ~1  # even length so rfft bins == n_fft//2 + 1
    win = seg[:n_fft] * np.hanning(n_fft)
    power = np.abs(np.fft.rfft(win)) ** 2
    fb = _mel_filterbank(n_fft, sr)
    mel = fb @ power
    logmel = np.log(mel + 1e-10)
    return _dct2(logmel, _N_MFCC)


def mfcc_distance(pcm: np.ndarray, sr: int, boundary_ms: int, window_ms: int = 50) -> float:
    """C8: Euclidean distance between mean MFCCs of the windows
    before/after ``boundary_ms``; scaled-RMS-difference fallback when
    a window is too short (claude_research_optimal.py:143-157)."""
    b = int(boundary_ms * sr / 1000)
    w = int(window_ms * sr / 1000)
    before, after = pcm[max(0, b - w): b], pcm[b: b + w]
    if len(before) < 32 or len(after) < 32:
        rb = np.sqrt(np.mean(before**2)) if len(before) else 0.0
        ra = np.sqrt(np.mean(after**2)) if len(after) else 0.0
        return float(abs(ra - rb) * 100.0)
    mb, ma = _mfcc_mean(before, sr), _mfcc_mean(after, sr)
    return float(np.linalg.norm(ma - mb))


def spectral_flux(pcm: np.ndarray, sr: int, boundary_ms: int, window_ms: int = 50) -> float:
    """C9: Σ diff(|STFT|)²/1e9 over a window centered at the boundary;
    0.0 when the window is too short (claude_research_optimal.py:184-187)."""
    b = int(boundary_ms * sr / 1000)
    w = int(window_ms * sr / 1000)
    seg = pcm[max(0, b - w): b + w]
    n_fft, hop = 256, 64
    if len(seg) < 2 * n_fft:
        return 0.0
    frames = np.lib.stride_tricks.sliding_window_view(seg, n_fft)[::hop]
    mags = np.abs(np.fft.rfft(frames * np.hanning(n_fft), axis=1))
    if len(mags) < 2:
        return 0.0
    return float(np.sum(np.diff(mags, axis=0) ** 2) / 1e9)


def boundary_leakage(
    pcm: np.ndarray, sr: int, boundary_ms: int,
    silence_threshold_db: float = SILENCE_THRESHOLD_DB,
) -> tuple[bool, dict]:
    """C10: leak iff ≥ 2 of (tail not silent, MFCC dist > 15,
    flux > 0.5) — claude_research_optimal.py:189-232."""
    b = int(boundary_ms * sr / 1000)
    tail = pcm[max(0, b - int(0.05 * sr)): b]
    rms = float(np.sqrt(np.mean(tail**2))) if len(tail) else 0.0
    dbfs = 20.0 * np.log10(rms) if rms > 0 else -120.0
    mdist = mfcc_distance(pcm, sr, boundary_ms)
    flux = spectral_flux(pcm, sr, boundary_ms)
    votes = [dbfs > silence_threshold_db, mdist > MFCC_THRESHOLD, flux > FLUX_THRESHOLD]
    details = dict(dbfs=dbfs, mfcc_dist=mdist, flux=flux, votes=int(sum(votes)))
    return sum(votes) >= 2, details


def _apply_fades(pcm: np.ndarray, frame_rate: int, fade_ms: int = 30) -> np.ndarray:
    """C11 asymmetric fades (claude_research_optimal.py:600-606):
    fade-in = min(max(5, fade_ms//3), len/4) ms, fade-out =
    min(fade_ms, len/4) ms, linear amplitude ramps."""
    n = len(pcm)
    if n == 0:
        return pcm
    len_ms = n * 1000 // frame_rate
    fin_ms = min(max(5, fade_ms // 3), len_ms // 4)
    fout_ms = min(fade_ms, len_ms // 4)
    fin = int(fin_ms * frame_rate / 1000)
    fout = int(fout_ms * frame_rate / 1000)
    out = pcm.copy()
    if fin > 0:
        out[:fin] *= np.linspace(0.0, 1.0, fin, endpoint=False, dtype=np.float32)
    if fout > 0:
        out[-fout:] *= np.linspace(1.0, 0.0, fout, endpoint=False, dtype=np.float32)[::-1]
    return out


def _assemble_base(
    env: np.ndarray, rel_spans, frame_rate: int, fade_ms: int, seam_ms: int
) -> np.ndarray:
    """numpy analog of assemble_runs_to_clip
    (claude_research_optimal.py:308-341): per-piece fades and seam
    silence between pieces over the envelope slice."""
    spms = frame_rate // 1000
    parts: list[np.ndarray] = []
    last = len(rel_spans) - 1
    for i, span in enumerate(rel_spans):
        seg = env[span["s"] * spms : span["e"] * spms]
        parts.append(_apply_fades(np.asarray(seg, dtype=np.float32), frame_rate, fade_ms))
        if i != last and seam_ms > 0:
            parts.append(np.zeros(seam_ms * spms, dtype=np.float32))
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.float32)


def _exported_piece(
    base: np.ndarray,
    s_ms: int,
    e_ms: int,
    frame_rate: int,
    fade_ms: int,
    fixed: bool,
) -> np.ndarray:
    """The exported piece (claude_research_optimal.py:597-606,
    :633-636): the validated [s_ms:e_ms] window of the assembled base
    clip (pydub-style ms slice: clamping, empty on an inverted range),
    with the final asymmetric fades — EXCEPT an acoustically 'fixed'
    clip, whose accepted retry slice is exported unfaded. ``gate_clip``
    judges exactly this piece and the export writes it."""
    spms = frame_rate // 1000
    piece = base[s_ms * spms : max(s_ms, e_ms) * spms]
    return piece if fixed else _apply_fades(piece, frame_rate, fade_ms)


def gate_clip(
    env: np.ndarray,
    rel_spans,
    s_ms: int,
    e_ms: int,
    sr: int,
    p: PipelineParams,
    min_dur_ms: int,
) -> tuple[str, str, str, int, dict, np.ndarray | None]:
    """F7 for one clip — the exact decision flow of
    claude_research_optimal.py:608-656, over the base clip assembled
    from its envelope PCM ``env`` and piece spans ``rel_spans`` (ms,
    relative to the envelope) with ``p``'s fades and seam silence.

    Returns ``(verdict, log_quality, tsv_quality, e_ms_final, details,
    piece)``:

    - check the last-50 ms boundary of the exported piece (the faded
      [s_ms, e_ms] window, :610-613) — the piece a clean clip writes
    - the acoustic LOG records ``leakage``/``clean`` from this first
      check — even when a retry later fixes the clip, the log keeps
      ``leakage`` (the reference appends before retrying, :616-620),
      and ``details`` are always this check's (:639-644)
    - on a leak: retry at e_ms−30 ONLY if that still exceeds
      ``min_dur_ms``; the retry slice is the 'fixed' piece — UNFADED —
      checked at its very end (:630-632, both reference quirks);
      accepted → ``keep`` with the shortened e_ms and tsv quality
      ``fixed`` (:633-636); still leaking → ``acoustic_leakage``
    - retry impossible (min-dur) → ``acoustic_leakage_unfixable``
      (:645-652)

    ``piece`` is the exported piece of a kept clip, None otherwise."""
    base = _assemble_base(env, rel_spans, sr, p.fade_ms, p.seam_silence_ms)
    piece = _exported_piece(base, s_ms, e_ms, sr, p.fade_ms, fixed=False)
    leak, d = boundary_leakage(piece, sr, max(0, len(piece) * 1000 // sr - 50))
    if not leak:
        return "keep", "clean", "clean", e_ms, d, piece
    e_retry = e_ms - 30  # the reference's fixed shift (:630)
    if e_retry <= s_ms + min_dur_ms:
        return "acoustic_leakage_unfixable", "leakage", "clean", e_ms, d, None
    retry = _exported_piece(base, s_ms, e_retry, sr, p.fade_ms, fixed=True)
    leak2, _d2 = boundary_leakage(retry, sr, len(retry) * 1000 // sr)
    if leak2:
        return "acoustic_leakage", "leakage", "clean", e_ms, d, None
    return "keep", "leakage", "fixed", e_retry, d, retry


ACOUSTIC_SCHEMA = (
    "pair_id long, group_id long, e_ms_final long, verdict string, "
    "log_quality string, tsv_quality string, "
    "dbfs double, mfcc_dist double, flux double, votes bigint"
)


def acoustic_gate(
    clips_sliced: DataFrame,
    min_dur_s: float | None = None,
    p: PipelineParams | None = None,
) -> DataFrame:
    """F7 as a standalone operator: ``gate_clip`` per clip over rows of
    the ``sinks.exports._clips_with_samples`` shape — envelope PCM plus
    piece spans and the validated [s_ms, e_ms] window.

    ``p`` None → the module defaults; the retry's minimum
    duration is ``p.min_dur_s`` unless ``min_dur_s`` is given. The
    export runs the same ``gate_clip`` inside its per-pair kernel over
    PCM references (``sinks.exports.export_pair_files``), so the two
    paths return the same verdicts for the same clips."""
    from ..plans.pipeline import P

    p = P if p is None else p
    min_dur_ms = int((p.min_dur_s if min_dur_s is None else min_dur_s) * 1000)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                verdict, log_q, tsv_q, e_final, d, _piece = gate_clip(
                    np.asarray(r.samples, dtype=np.float32), r.rel_spans,
                    int(r.s_ms), int(r.e_ms), int(r.frame_rate), p, min_dur_ms,
                )
                rows.append(
                    (int(r.pair_id), int(r.group_id), int(e_final), verdict,
                     log_q, tsv_q, d["dbfs"], d["mfcc_dist"], d["flux"], d["votes"])
                )
            yield pd.DataFrame(
                rows,
                columns=["pair_id", "group_id", "e_ms_final", "verdict",
                         "log_quality", "tsv_quality",
                         "dbfs", "mfcc_dist", "flux", "votes"],
            )

    return clips_sliced.select(
        "pair_id", "group_id", "frame_rate", "samples", "rel_spans", "s_ms", "e_ms"
    ).mapInPandas(run, ACOUSTIC_SCHEMA)


@register("acoustic_boundary_gate", tags=("dsp", "udf"))
def acoustic_boundary_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8-C10+F7 through the full Spark path on a deterministic pair
    subset: slice clip PCM JVM-side, vote on the end boundary in one
    pandas-UDF pass, retry once. Rows-only check (spectral kernels are
    implementation-specific); decision semantics pinned by
    tests/test_dsp.py on constructed signals."""
    from ..plans.pipeline import full_pipeline
    from ..sinks.exports import _clips_with_samples
    from ..sources import fixtures

    stages = full_pipeline(spark, sf_dir)
    sub = stages["exported"].filter(F.col("pair_id") % 20 == 0)
    audio = fixtures.audio_samples(spark, sf_dir)
    sliced = _clips_with_samples(sub, audio)
    return acoustic_gate(sliced).orderBy("pair_id", "group_id")


# ---------------------------------------------------------------------
# Energy-threshold VAD (voice-activity detection)
# ---------------------------------------------------------------------

_VAD_FRAME_MS = 20
_VAD_DB_BELOW_PEAK = 20.0  # active = frame RMS within 20 dB of peak RMS
_VAD_MAX_GAP_FRAMES = 3  # bridge silences ≤ 60 ms


def vad_segments(pcm: np.ndarray, sr: int) -> list[tuple[int, int]]:
    """Active-speech segments of a mono PCM array as (start_ms,
    end_ms) pairs: frame-level RMS thresholded relative to the clip's
    peak frame, short gaps bridged — the classic energy VAD used to
    trim silence before transcription. Pure numpy, deterministic."""
    frame = max(1, sr * _VAD_FRAME_MS // 1000)
    n = len(pcm) // frame
    if n == 0:
        return []
    x = pcm[: n * frame].astype(np.float64).reshape(n, frame)
    rms = np.sqrt((x * x).mean(axis=1))
    peak = rms.max()
    if peak <= 0:
        return []
    thresh = peak * (10.0 ** (-_VAD_DB_BELOW_PEAK / 20.0))
    active = rms >= thresh
    segs: list[list[int]] = []
    for i, a in enumerate(active):
        if not a:
            continue
        if segs and i - segs[-1][1] <= _VAD_MAX_GAP_FRAMES:
            segs[-1][1] = i
        else:
            segs.append([i, i])
    return [
        (s * _VAD_FRAME_MS, (e + 1) * _VAD_FRAME_MS) for s, e in segs
    ]


@register("vad_speech_segments", tags=("dsp", "udf"))
def vad_speech_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair VAD summary over the synthetic waveforms: number of
    active segments, total speech ms, and speech fraction — the
    silence-trimming stage that bounds ASR compute before
    transcription. One pandas-UDF pass per pair; rows-only (the
    waveform kernel is implementation-specific), decision semantics
    pinned by tests/test_dsp.py on constructed signals."""
    from ..sources import fixtures

    audio = fixtures.audio_samples(spark, sf_dir).filter(
        F.col("pair_id") % 20 == 0
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = []
        for pdf in batches:
            for pair_id, fr, samples in zip(
                pdf["pair_id"], pdf["frame_rate"], pdf["samples"]
            ):
                pcm = np.asarray(samples, dtype=np.float64)
                segs = vad_segments(pcm, int(fr))
                speech_ms = sum(e - s for s, e in segs)
                total_ms = int(len(pcm) * 1000 / int(fr))
                out.append(
                    (
                        int(pair_id),
                        len(segs),
                        speech_ms,
                        total_ms,
                        round(speech_ms / total_ms, 6) if total_ms else 0.0,
                    )
                )
        yield pd.DataFrame(
            out,
            columns=["pair_id", "n_segments", "speech_ms", "total_ms", "speech_frac"],
        )

    return (
        audio.select("pair_id", "frame_rate", "samples")
        .mapInPandas(
            run,
            "pair_id long, n_segments long, speech_ms long, "
            "total_ms long, speech_frac double",
        )
        .orderBy("pair_id")
    )
