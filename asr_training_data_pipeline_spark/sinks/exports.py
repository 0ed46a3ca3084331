"""Sinks (SURVEY §2.2 K1-K8) — the reference's complete output
contract, re-expressed as distributed Spark writers.

Reference layout (/root/reference/claude_research_optimal.py:661-694,
batch_processor.py:100-110):

- per-clip ``clip_*.wav`` + ``clip_*.txt``            (K1/K2, :663-664)
- ``clips.tsv`` 8-column metadata                      (K3, :477,666,673)
- per-recording ``full_{pair}.wav`` / ``full_{pair}.txt``
  with silence seams between clips                     (K4+K8, :668-676
  + the batch wrapper's promote-to-parent rename, batch_processor.py:100-110)
- ``summary.json`` / ``rejections.json``               (K5, :679-694)
- ``word_coverage.csv``                                (K6, batch_processor.py:39-45)
- ``batch_summary.json``                               (K7, batch_processor.py:177-179)

Execution model at scale: every per-row/per-group file export runs ON
THE EXECUTORS (mapInPandas / applyInPandas writing to shared storage)
and returns a manifest DataFrame — the driver never holds file bytes.
Tabular sinks are plain ``df.write`` (distributed part files). The
only driver-side write is ``summary.json`` — a single aggregate row
by construction.

WAV encode is REAL (stdlib ``wave``, 16-bit PCM) — no codec library
needed; fades (C11, claude_research_optimal.py:330-333,600-606) and
silence seams (C12, :337,478,669) are numpy ramps/zeros applied in
the writer, the last point where decoded samples exist.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import P, PipelineParams, full_pipeline
from ..sources import fixtures

MANIFEST_SCHEMA = (
    "pair_id long, group_id long, kind string, n_bytes bigint, n_frames bigint"
)

_FRAME_RATE = 16000
_SAMPLES_PER_MS = _FRAME_RATE // 1000


def _write_wav(path: str, pcm: np.ndarray, frame_rate: int) -> None:
    """16-bit PCM mono WAV via stdlib wave — the engine's analog of
    pydub's ``piece.export(format='wav')`` (K1)."""
    import wave

    i16 = np.clip(pcm * 32767.0, -32768, 32767).astype("<i2")
    with wave.open(path, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(frame_rate)
        w.writeframes(i16.tobytes())


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


def _clips_with_samples(clips: DataFrame, audio: DataFrame) -> DataFrame:
    """Join exported clips to their pair's PCM and slice the clip's
    ENVELOPE (first piece start → last piece end) JVM-side, carrying
    the piece spans rebased to the envelope.

    The exported audio is a window of the ASSEMBLED clip — per-run
    pieces with fades, joined by seam silence
    (claude_research_optimal.py:308-341, :597). Slicing only the
    envelope here keeps the Arrow transfer proportional to the clip,
    not the recording; the per-piece assembly happens in the writer
    kernel (the last point where decoded samples exist)."""
    a = audio.select("pair_id", "frame_rate", "samples")
    env_s = F.col("piece_spans")[0]["s"]
    env_e = F.element_at("piece_spans", -1)["e"]
    start_idx = (env_s * _SAMPLES_PER_MS + 1).cast("int")
    length = ((env_e - env_s) * _SAMPLES_PER_MS).cast("int")
    rel_spans = F.transform(
        "piece_spans",
        lambda x: F.struct(
            (x["s"] - env_s).alias("s"), (x["e"] - env_s).alias("e")
        ),
    )
    extra = ["acoustic_quality"] if "acoustic_quality" in clips.columns else []
    return clips.join(a, "pair_id").select(
        "pair_id",
        "group_id",
        F.col("seg_text").alias("clip_text"),
        "frame_rate",
        F.slice("samples", start_idx, length).alias("samples"),
        rel_spans.alias("rel_spans"),
        "s_ms",
        "e_ms",
        *extra,
    )


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
    clip, whose accepted retry slice is exported unfaded. The acoustic
    gate judges exactly this piece and the writer writes it."""
    spms = frame_rate // 1000
    piece = base[s_ms * spms : max(s_ms, e_ms) * spms]
    return piece if fixed else _apply_fades(piece, frame_rate, fade_ms)


def export_pair_files(
    clips_sliced: DataFrame, out_dir: str, p: PipelineParams = P
) -> DataFrame:
    """K1+K2+K4+K8 in one pass per recording: for each kept clip, in
    group_id order, assemble the exported piece ONCE, write it as
    ``clips/clip_*.wav`` + ``.txt``, and append it plus
    ``p.full_gap_ms`` of silence — INCLUDING after the last piece — to
    the pair's ``full_{pair}.wav`` / ``.txt``
    (claude_research_optimal.py:661-676: ``piece.export`` then
    ``full_audio += piece + silent(full_gap_ms)``), named with the
    batch wrapper's promoted convention (batch_processor.py:100-110).

    One task per pair via applyInPandas: the corpus concatenation
    happens where that pair's clips already live; no global collect.
    (The reference processes one recording per process, so per-pair IS
    its 'full'.) Returns the manifest (pair_id, group_id, kind,
    n_bytes, n_frames); at 100 TB ``out_dir`` is object storage and
    the driver never holds file bytes.
    """

    def write_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pair = int(key[0])
        clip_dir = os.path.join(out_dir, "clips")
        os.makedirs(clip_dir, exist_ok=True)
        pdf = pdf.sort_values("group_id")
        fr = int(pdf["frame_rate"].iloc[0])
        gap = np.zeros(p.full_gap_ms * fr // 1000, dtype=np.float32)
        rows, full = [], []

        def write(stem: str, pcm: np.ndarray, text: str, gid: int, kind: str):
            _write_wav(stem + ".wav", pcm, fr)
            with open(stem + ".txt", "w") as f:
                f.write(text + "\n")
            rows.append((pair, gid, kind + "wav", os.path.getsize(stem + ".wav"), len(pcm)))
            rows.append((pair, gid, kind + "txt", os.path.getsize(stem + ".txt"), 0))

        for r in pdf.itertuples(index=False):
            base = _assemble_base(
                np.asarray(r.samples, dtype=np.float32),
                r.rel_spans, fr, p.fade_ms, p.seam_silence_ms,
            )
            piece = _exported_piece(
                base, int(r.s_ms), int(r.e_ms), fr, p.fade_ms,
                fixed=getattr(r, "acoustic_quality", "clean") == "fixed",
            )
            gid = int(r.group_id)
            write(os.path.join(clip_dir, f"clip_{pair:06d}_{gid:04d}"),
                  piece, r.clip_text, gid, "")
            full += [piece, gap]
        write(os.path.join(out_dir, f"full_{pair:06d}"), np.concatenate(full),
              "\n".join(pdf["clip_text"]), -1, "full_")
        return pd.DataFrame(
            rows, columns=["pair_id", "group_id", "kind", "n_bytes", "n_frames"]
        )

    return clips_sliced.groupBy("pair_id").applyInPandas(write_pair, MANIFEST_SCHEMA)


def write_clips_tsv(clips: DataFrame, out_dir: str) -> None:
    """K3: the 8-column clips.tsv (header claude_research_optimal.py:477,
    row claude_research_optimal.py:666): the exported row is
    (path, 0.000, duration, duration, words, pieces, avg_conf,
    quality) — start is literally 0.000 in the reference (F8)."""
    out = clips.select(
        F.format_string(
            "clips/clip_%06d_%04d.wav", F.col("pair_id"), F.col("group_id")
        ).alias("path"),
        F.lit(0.0).alias("start"),
        F.col("duration_s").alias("end"),
        F.col("duration_s").alias("duration_s2"),
        F.col("n_keep").alias("words"),
        F.col("n_pieces").alias("pieces"),
        F.col("span_avg_conf").alias("avg_conf"),
        # clean / fixed from the acoustic gate (reference default-on,
        # claude_research_optimal.py:411, :614-636); "not_checked"
        # only when the gate was skipped upstream
        (
            F.col("acoustic_quality")
            if "acoustic_quality" in clips.columns
            else F.lit("not_checked")
        ).alias("acoustic_quality"),
    )
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(os.path.join(out_dir, "clips_tsv"))
    )


def write_json_records(df: DataFrame, out_dir: str, name: str) -> None:
    """K5/K7: JSON-lines sink (rejections.json, acoustic logs, batch
    details) — distributed part files, the 100 TB shape of the
    reference's single json.dump (claude_research_optimal.py:679-682)."""
    df.write.mode("overwrite").json(os.path.join(out_dir, name))


def write_summary_json(summary_row: dict, out_dir: str, params: dict | None = None) -> None:
    """K5: summary.json — ONE aggregate object (claude_research_optimal.py:684-694,
    including the embedded params blob, :693). Driver-side by
    construction: it is a single row regardless of input size."""
    payload = dict(summary_row)
    payload["params"] = params or {}
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(payload, f, indent=2)


def write_word_coverage_csv(clips: DataFrame, out_dir: str) -> None:
    """K6: word,count CSV sorted (count asc, word asc) over the
    exported clip texts (batch_processor.py:17-45)."""
    cov = (
        clips.select(F.explode(F.split(F.lower("seg_text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .orderBy("count", "word")
    )
    (
        cov.write.mode("overwrite")
        .option("header", True)
        .csv(os.path.join(out_dir, "word_coverage_csv"))
    )


def export_pipeline_outputs(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    p: PipelineParams = P,
    pair_filter=None,
) -> DataFrame:
    """The complete output contract in one call: run the pipeline and
    materialize every reference sink under ``out_dir``. Returns the
    file manifest (clip + full corpus files).

    ``pair_filter``: optional Column predicate on pair_id to bound the
    exported subset (tests / smoke runs).
    """
    from ..caching import hold
    from ..operators.dsp import acoustic_gate

    stages = full_pipeline(spark, sf_dir, p)
    exported = stages["exported"]
    too_short = stages["rejected"]
    if pair_filter is not None:
        exported = exported.filter(pair_filter)
        too_short = too_short.filter(pair_filter)

    audio = fixtures.audio_samples(spark, sf_dir, _FRAME_RATE)

    # F7 acoustic boundary gate — default-on like the reference
    # (claude_research_optimal.py:411): one DSP pass per clip; verdicts
    # feed the acoustic log, the rejection log, the shortened 'fixed'
    # boundaries, and the keep/reject split consistently.
    verdicts = hold(
        "acoustic_verdicts",
        acoustic_gate(_clips_with_samples(exported, audio), p=p),
    )
    write_json_records(
        verdicts.select(
            "pair_id", "group_id", F.col("log_quality").alias("quality"),
            "dbfs", "mfcc_dist", "flux", "votes",
        ),
        out_dir,
        "acoustic_validation_json",
    )
    keep = verdicts.filter(F.col("verdict") == "keep").select(
        "pair_id", "group_id", "e_ms_final",
        F.col("tsv_quality").alias("acoustic_quality"),
    )
    final = (
        exported.join(keep, ["pair_id", "group_id"])
        .withColumn("e_ms", F.col("e_ms_final"))
        .drop("e_ms_final")
        .withColumn(
            "duration_s",
            F.greatest(
                F.least(F.col("e_ms"), F.col("clip_len_ms"))
                - F.least(F.col("s_ms"), F.col("clip_len_ms")),
                F.lit(0).cast("long"),
            ).cast("double")
            / 1000.0,
        )
    )
    gate_rejects = (
        verdicts.filter(F.col("verdict") != "keep")
        .join(
            exported.select("pair_id", "group_id", "span_avg_conf"),
            ["pair_id", "group_id"],
        )
        .select(
            "pair_id",
            "group_id",
            F.col("verdict").alias("reason"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.col("span_avg_conf").alias("confidence"),
        )
    )
    rejected = too_short.select(
        "pair_id", "group_id", "reason", "duration_ms",
        F.lit(None).cast("double").alias("confidence"),
    ).unionByName(gate_rejects)

    manifest = export_pair_files(_clips_with_samples(final, audio), out_dir, p)

    write_clips_tsv(final, out_dir)
    write_json_records(rejected, out_dir, "rejections_json")
    write_word_coverage_csv(final, out_dir)

    n_exported = final.count()
    n_rejected = rejected.count()
    rate = (
        round(100.0 * n_rejected / (n_exported + n_rejected), 2)
        if (n_exported + n_rejected)
        else 0.0
    )
    write_summary_json(
        {
            "exported": n_exported,
            "rejected": n_rejected,
            "rejection_rate_pct": rate,
        },
        out_dir,
        params={
            "min_run": p.min_run,
            "max_gap_words": p.max_gap_words,
            "max_gap_time": p.max_gap_time,
            "min_dur": p.min_dur_s,
            "full_gap_ms": p.full_gap_ms,
        },
    )
    # K7: the batch wrapper's tally (batch_processor.py:142-179) — one
    # status row per pair, distributed.
    details = final.groupBy("pair_id").agg(
        F.count("*").alias("n_clips")
    ).select(
        "pair_id", F.lit("ok").alias("status"), "n_clips"
    )
    write_json_records(details, out_dir, "batch_summary_json")
    return manifest


# ---------------------------------------------------------------------
# Registered query: the sink layer as a driver-checkable manifest
# ---------------------------------------------------------------------

from ..registry import register  # noqa: E402


@register("sink_export_manifest", tags=("sink", "udf"))
def sink_export_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K8 end-to-end on a deterministic 2% pair subset: exports
    clip WAV/TXT, full corpus, TSV/JSON/CSV sinks to a fixed scratch
    dir (overwritten per run), returns the file manifest. Rows-only
    check — file sizes and frame counts are deterministic functions of
    the synthetic PCM, pinned further by tests/test_sinks.py."""
    import shutil
    import tempfile

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(tempfile.gettempdir(), f"sink_export_{sf_tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    manifest = export_pipeline_outputs(
        spark, sf_dir, out_dir, pair_filter=F.col("pair_id") % 50 == 0
    )
    return manifest.orderBy("pair_id", "group_id", "kind")


def write_training_shards(spark, sf_dir: str, out_dir: str) -> None:
    """Training-shard writer: the pack_sequences manifest joined back
    to the documents, written as parquet PARTITIONED BY (lang, shard) —
    the on-disk layout a tokenize-and-pack trainer consumes shard by
    shard. Partition directories mean a per-(lang, shard) reader scans
    only its own files (partition pruning, no file listing of the
    rest); within a shard, rows are sorted by stream offset so the
    concat order is the file order.

    Scale: the join is co-keyed on doc_id; sortWithinPartitions avoids
    any global sort. Adding shards (curation._PACK_SHARDS) is the
    scale-out knob — 1000 executors want ≥1000 (lang, shard) cells.
    """
    from ..operators.curation import pack_sequences
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    manifest = pack_sequences(spark, sf_dir)
    (
        manifest.join(docs, "doc_id")
        .repartition("lang", "shard")
        .sortWithinPartitions("stream_start")
        .write.mode("overwrite")
        .partitionBy("lang", "shard")
        .parquet(f"{out_dir}/training_shards")
    )


# The shard stats are a pure aggregation of the pack_sequences
# manifest, so the write→read-back round trip gets an EXACT oracle:
# any loss or duplication in the partitioned write would break the
# per-(lang, shard) doc counts / token totals / stream extents.
_SHARDS_SQL = """
WITH pack AS ({pack_sql})
SELECT lang, cast(shard AS bigint) AS shard,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(n_tokens) AS bigint) AS n_tokens,
       cast(max(stream_start + n_tokens) AS bigint) AS stream_end,
       cast(max(last_chunk) AS bigint) AS max_chunk
FROM pack
GROUP BY lang, shard
ORDER BY lang, shard
"""


def _shards_oracle() -> str:
    from ..operators.curation import _PACK_SQL

    return _SHARDS_SQL.format(pack_sql=_PACK_SQL)


@register("sink_training_shards", oracle=_shards_oracle(), tags=("sink",))
def sink_training_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 end-to-end: writes the partitioned training shards to a
    fixed scratch dir (overwritten per run), reads them BACK, and
    returns per-(lang, shard) stats — rows, token totals, stream
    extent — so the check covers the write path, the partition layout,
    and the round-trip. Exact oracle: the stats are a pure aggregation
    of the pack_sequences manifest, so DuckDB replays them from the
    documents table directly — a green row proves the partitioned
    write lost and duplicated nothing. Partition columns come back
    from the directory layout (lang string, shard int), hence the
    explicit bigint casts below."""
    import shutil
    import tempfile

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(tempfile.gettempdir(), f"shards_{sf_tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_training_shards(spark, sf_dir, out_dir)
    back = spark.read.parquet(f"{out_dir}/training_shards")
    return (
        back.groupBy(
            F.col("lang").cast("string").alias("lang"),
            F.col("shard").cast("bigint").alias("shard"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.max(F.col("stream_start") + F.col("n_tokens"))
            .cast("bigint")
            .alias("stream_end"),
            F.max("last_chunk").cast("bigint").alias("max_chunk"),
        )
        .orderBy("lang", "shard")
    )
