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

Execution model at scale: ONE per-pair kernel (``export_pair_files``,
applyInPandas on the executors, writing to shared storage) receives the
pair's clip rows plus a PCM *reference* (``fixtures.audio_refs``), not
its samples. It rebuilds only each clip's envelope, runs the acoustic
gate (``operators.dsp.gate_clip``) and writes the kept clips and the
full corpus, returning the verdict and manifest rows in one schema —
file bytes never leave the executors and no PCM is built or broadcast
JVM-side. That output is held once; every tabular sink is a filter or
projection of it written with plain ``df.write`` (distributed part
files). The only write outside the executors is ``summary.json`` — a
single aggregate row by construction.

WAV encode is REAL (stdlib ``wave``, 16-bit PCM) — no codec library
needed; fades (C11, claude_research_optimal.py:330-333,600-606) and
silence seams (C12, :337,478,669) are numpy ramps/zeros applied in
the kernel, the only place decoded samples exist.
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


def _clips_with_samples(clips: DataFrame, audio: DataFrame) -> DataFrame:
    """Join clips to their pair's PCM (``fixtures.audio_samples``) and
    slice the clip's ENVELOPE (first piece start → last piece end)
    JVM-side, carrying the piece spans rebased to the envelope: the
    input of the standalone ``operators.dsp.acoustic_gate``.

    The export itself does not use this: its kernel rebuilds the same
    envelope from the pair's PCM reference (``fixtures.pcm_window``),
    so the samples are never built or broadcast there."""
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
    return clips.join(a, "pair_id").select(
        "pair_id",
        "group_id",
        "frame_rate",
        F.slice("samples", start_idx, length).alias("samples"),
        rel_spans.alias("rel_spans"),
        "s_ms",
        "e_ms",
    )


EXPORT_SCHEMA = (
    MANIFEST_SCHEMA
    + ", verdict string, log_quality string, tsv_quality string, "
    "dbfs double, mfcc_dist double, flux double, votes bigint, "
    "e_ms_final long, seg_text string, s_ms long, clip_len_ms long, "
    "n_keep long, n_pieces long, span_avg_conf double"
)
_CLIP_FACTS = ["seg_text", "s_ms", "clip_len_ms", "n_keep", "n_pieces", "span_avg_conf"]


def export_pair_files(
    clips: DataFrame, refs: DataFrame, out_dir: str, p: PipelineParams = P
) -> DataFrame:
    """F7 + K1+K2+K4+K8 in ONE kernel per recording, over the pair's
    PCM reference (``fixtures.audio_refs``) instead of its samples. For
    each clip, in group_id order:

    1. rebuild only the clip's envelope (first piece start → last piece
       end) with ``fixtures.pcm_window``;
    2. run the acoustic gate (``operators.dsp.gate_clip``) on the base
       assembled from it with ``p``'s fades and seam silence;
    3. if kept, write the gated piece as ``clips/clip_*.wav`` + ``.txt``
       and append it plus ``p.full_gap_ms`` of silence — INCLUDING
       after the last piece — to the pair's ``full_{pair}.wav`` /
       ``.txt`` (claude_research_optimal.py:661-676: ``piece.export``
       then ``full_audio += piece + silent(full_gap_ms)``), named with
       the batch wrapper's promoted convention
       (batch_processor.py:100-110). A pair with no kept clip writes
       no ``full_*``.

    Returns ``EXPORT_SCHEMA``: one ``kind = 'clip'`` row per clip (the
    verdict, its log/tsv qualities and boundary details, the final
    e_ms, and the clip facts the sinks read) plus the file-manifest
    rows (``kind`` wav/txt/full_wav/full_txt with n_bytes/n_frames),
    each kind leaving the other's columns null. One task per pair via
    applyInPandas: the corpus concatenation happens where that pair's
    clips already live; no global collect, and at 100 TB ``out_dir``
    is object storage, so file bytes never leave the executors."""
    from ..operators.dsp import gate_clip

    min_dur_ms = int(p.min_dur_s * 1000)
    cols = [f.split()[0] for f in EXPORT_SCHEMA.split(", ")]
    clip_cols_null = [None] * (len(cols) - 5)  # a manifest row's clip columns

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pair = int(key[0])
        clip_dir = os.path.join(out_dir, "clips")
        os.makedirs(clip_dir, exist_ok=True)
        pdf = pdf.sort_values("group_id")
        fr, n, phase = (int(pdf[c].iloc[0]) for c in ("frame_rate", "n_samples", "phase"))
        spms = fr // 1000
        gap = np.zeros(p.full_gap_ms * spms, dtype=np.float32)
        rows, full, texts = [], [], []

        def write(stem: str, pcm: np.ndarray, text: str, gid: int, kind: str):
            _write_wav(stem + ".wav", pcm, fr)
            with open(stem + ".txt", "w") as f:
                f.write(text + "\n")
            for ext, n_frames in (("wav", len(pcm)), ("txt", 0)):
                size = os.path.getsize(f"{stem}.{ext}")
                rows.append((pair, gid, kind + ext, size, n_frames, *clip_cols_null))

        for r in pdf.itertuples(index=False):
            env_s = int(r.piece_spans[0]["s"])
            env = fixtures.pcm_window(
                n, phase, env_s * spms, int(r.piece_spans[-1]["e"]) * spms
            ).astype(np.float32)
            rel = [{"s": x["s"] - env_s, "e": x["e"] - env_s} for x in r.piece_spans]
            verdict, log_q, tsv_q, e_final, d, piece = gate_clip(
                env, rel, int(r.s_ms), int(r.e_ms), fr, p, min_dur_ms
            )
            gid = int(r.group_id)
            rows.append(
                (pair, gid, "clip", None, None, verdict, log_q, tsv_q,
                 d["dbfs"], d["mfcc_dist"], d["flux"], d["votes"], int(e_final),
                 *(getattr(r, c) for c in _CLIP_FACTS))
            )
            if piece is not None:
                write(os.path.join(clip_dir, f"clip_{pair:06d}_{gid:04d}"),
                      piece, r.seg_text, gid, "")
                full += [piece, gap]
                texts.append(r.seg_text)
        if full:
            write(os.path.join(out_dir, f"full_{pair:06d}"), np.concatenate(full),
                  "\n".join(texts), -1, "full_")
        return pd.DataFrame(rows, columns=cols, dtype=object)

    return (
        clips.join(refs, "pair_id")
        .select(
            "pair_id", "group_id", "e_ms", "piece_spans", *_CLIP_FACTS,
            "frame_rate", "n_samples", "phase",
        )
        .groupBy("pair_id")
        .applyInPandas(run, EXPORT_SCHEMA)
    )


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
        # claude_research_optimal.py:411, :614-636)
        "acoustic_quality",
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

    The acoustic gate (F7, default-on like the reference,
    claude_research_optimal.py:411) and every file write run in ONE
    per-pair kernel (``export_pair_files``) whose output is held once;
    each other sink — the acoustic log, clips.tsv, word coverage, the
    rejections, the batch summary, the summary counts and the returned
    manifest — is a filter or projection of it, with no join back to
    the clips.

    ``pair_filter``: optional Column predicate on pair_id to bound the
    exported subset (tests / smoke runs).
    """
    from ..caching import hold

    stages = full_pipeline(spark, sf_dir, p)
    exported = stages["exported"]
    too_short = stages["rejected"]
    if pair_filter is not None:
        exported = exported.filter(pair_filter)
        too_short = too_short.filter(pair_filter)

    out = hold(
        "export_pairs",
        export_pair_files(
            exported, fixtures.audio_refs(spark, sf_dir, _FRAME_RATE), out_dir, p
        ),
    )
    clips = out.filter(F.col("kind") == "clip")
    write_json_records(
        clips.select(
            "pair_id", "group_id", F.col("log_quality").alias("quality"),
            "dbfs", "mfcc_dist", "flux", "votes",
        ),
        out_dir,
        "acoustic_validation_json",
    )
    final = clips.filter(F.col("verdict") == "keep").select(
        "pair_id",
        "group_id",
        "seg_text",
        "n_keep",
        "n_pieces",
        "span_avg_conf",
        F.col("tsv_quality").alias("acoustic_quality"),
        # the exported piece is base[s_ms:e_ms_final], clamped (:597)
        (
            F.greatest(
                F.least(F.col("e_ms_final"), F.col("clip_len_ms"))
                - F.least(F.col("s_ms"), F.col("clip_len_ms")),
                F.lit(0).cast("long"),
            ).cast("double")
            / 1000.0
        ).alias("duration_s"),
    )
    rejected = too_short.select(
        "pair_id", "group_id", "reason", "duration_ms",
        F.lit(None).cast("double").alias("confidence"),
    ).unionByName(
        clips.filter(F.col("verdict") != "keep").select(
            "pair_id",
            "group_id",
            F.col("verdict").alias("reason"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.col("span_avg_conf").alias("confidence"),
        )
    )

    write_clips_tsv(final, out_dir)
    write_json_records(rejected, out_dir, "rejections_json")
    write_word_coverage_csv(final, out_dir)

    # one job for both counts: a conditional aggregation over the held
    # clip rows ∪ the too-short rows (as asr_pipeline_summary does)
    split = (
        clips.select((F.col("verdict") == "keep").alias("kept"))
        .unionAll(too_short.select(F.lit(False).alias("kept")))
        .groupBy()
        .agg(
            F.count_if(F.col("kept")).alias("n_exported"),
            F.count_if(~F.col("kept")).alias("n_rejected"),
        )
        .first()
    )
    n_exported, n_rejected = split["n_exported"], split["n_rejected"]
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
    return out.filter(F.col("kind") != "clip").select(
        "pair_id", "group_id", "kind", "n_bytes", "n_frames"
    )


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
