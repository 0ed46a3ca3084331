"""Sink-layer round-trips (SURVEY §2.2 K1-K8): export to a tmp dir,
read every artifact back, check counts/shapes/content against the
pipeline stages that produced them."""

from __future__ import annotations

import json
import os
import wave

import numpy as np
import pytest

from pyspark.sql import functions as F

from asr_training_data_pipeline_spark.operators.dsp import boundary_leakage
from asr_training_data_pipeline_spark.plans.pipeline import (
    PipelineParams,
    full_pipeline,
)
from asr_training_data_pipeline_spark.sinks import export_pipeline_outputs

def _pair_filter():
    return F.col("pair_id") % 10 == 0  # bounded, deterministic subset


@pytest.fixture(scope="module")
def exported_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sink_out"))
    manifest = export_pipeline_outputs(
        spark, sf_dir, out, pair_filter=_pair_filter()
    ).toPandas()
    return out, manifest


def test_manifest_matches_exported_clips(spark, sf_dir, exported_dir):
    out, manifest = exported_dir
    n_validated = (
        full_pipeline(spark, sf_dir)["exported"].filter(_pair_filter()).count()
    )
    n_wav = (manifest["kind"] == "wav").sum()
    # the export path additionally runs the acoustic gate (reference
    # default-on), so written clips ⊆ validated clips
    assert 0 < n_wav <= n_validated
    assert (manifest["kind"] == "txt").sum() == n_wav
    # summary.json's exported count is the post-gate count
    summary = json.load(open(os.path.join(out, "summary.json")))
    assert summary["exported"] == n_wav
    n_pairs = manifest[manifest["kind"] == "wav"]["pair_id"].nunique()
    assert (manifest["kind"] == "full_wav").sum() == n_pairs


def test_wav_is_valid_and_sized(exported_dir):
    out, manifest = exported_dir
    row = manifest[manifest["kind"] == "wav"].iloc[0]
    path = os.path.join(
        out, "clips", f"clip_{int(row.pair_id):06d}_{int(row.group_id):04d}.wav"
    )
    with wave.open(path, "rb") as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == 16000
        assert w.getnframes() == row.n_frames
    # 44-byte RIFF header + 2 bytes/sample
    assert row.n_bytes == 44 + 2 * row.n_frames


def test_txt_matches_seg_text(spark, sf_dir, exported_dir):
    # The exported transcript is the VALIDATED span's text
    # (keep_words), not the whole group's (claude_research_optimal.py
    # :658, :664).
    out, manifest = exported_dir
    texts = {
        (r.pair_id, r.group_id): r.seg_text
        for r in full_pipeline(spark, sf_dir)["exported"]
        .filter(_pair_filter())
        .select("pair_id", "group_id", "seg_text")
        .collect()
    }
    written = manifest[manifest["kind"] == "txt"].head(5)
    assert len(written) > 0
    for r in written.itertuples(index=False):
        path = os.path.join(
            out, "clips", f"clip_{int(r.pair_id):06d}_{int(r.group_id):04d}.txt"
        )
        assert open(path).read().rstrip("\n") == texts[(r.pair_id, r.group_id)]


def test_full_corpus_concatenation(exported_dir):
    out, manifest = exported_dir
    pair = int(manifest[manifest["kind"] == "wav"]["pair_id"].iloc[0])
    clip_frames = manifest[
        (manifest["pair_id"] == pair) & (manifest["kind"] == "wav")
    ]["n_frames"].sum()
    n_clips = (
        (manifest["pair_id"] == pair) & (manifest["kind"] == "wav")
    ).sum()
    full_frames = int(
        manifest[(manifest["pair_id"] == pair) & (manifest["kind"] == "full_wav")][
            "n_frames"
        ].iloc[0]
    )
    # gap follows EVERY piece, including the last
    # (claude_research_optimal.py:668)
    gap_frames = 500 * 16  # 500 ms at 16 kHz
    assert full_frames == clip_frames + gap_frames * n_clips
    with wave.open(os.path.join(out, f"full_{pair:06d}.wav"), "rb") as w:
        assert w.getnframes() == full_frames


def _wav_samples(path: str) -> np.ndarray:
    with wave.open(path, "rb") as w:
        return np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")


def test_full_corpus_content(exported_dir):
    """full_{pair}.wav is the pair's clip WAVs in group_id order, each
    followed by 500 ms of silence (claude_research_optimal.py:668)."""
    out, manifest = exported_dir
    wavs = manifest[manifest["kind"] == "wav"]
    gap = np.zeros(500 * 16, dtype="<i2")
    assert len(wavs) > 0
    for pair, clips in wavs.groupby("pair_id"):
        parts = []
        for gid in sorted(clips["group_id"]):
            parts += [
                _wav_samples(
                    os.path.join(out, "clips", f"clip_{pair:06d}_{gid:04d}.wav")
                ),
                gap,
            ]
        full = _wav_samples(os.path.join(out, f"full_{pair:06d}.wav"))
        np.testing.assert_array_equal(full, np.concatenate(parts))


def test_gate_judges_the_written_piece(spark, sf_dir, tmp_path):
    """The acoustic gate must judge the piece the writer writes under
    the caller's fade and seam settings: for every clean clip, the
    boundary check recomputed on the WAV read back reproduces the
    logged dBFS."""
    out = str(tmp_path)
    p = PipelineParams(fade_ms=60, seam_silence_ms=200)
    export_pipeline_outputs(spark, sf_dir, out, p=p, pair_filter=_pair_filter()).count()
    logged = spark.read.json(os.path.join(out, "acoustic_validation_json"))
    clean = logged.filter(F.col("quality") == "clean").collect()
    assert clean
    for r in clean:
        pcm = _wav_samples(
            os.path.join(out, "clips", f"clip_{r.pair_id:06d}_{r.group_id:04d}.wav")
        ).astype(np.float32) / 32767.0
        _leak, d = boundary_leakage(pcm, 16000, max(0, len(pcm) * 1000 // 16000 - 50))
        assert abs(d["dbfs"] - r.dbfs) <= 0.05, (r.pair_id, r.group_id, d["dbfs"], r.dbfs)


@pytest.mark.parametrize(
    "p",
    [PipelineParams(), PipelineParams(fade_ms=60, seam_silence_ms=200)],
    ids=["default", "fade60_seam200"],
)
def test_export_gate_agrees_with_acoustic_gate(spark, sf_dir, tmp_path, p):
    """The export gates clips inside its per-pair kernel over PCM
    references; the standalone operator gates JVM-sliced samples. For
    the same clips and ``p``, the export's acoustic log must equal
    ``acoustic_gate(_clips_with_samples(exported, audio_samples))``
    row for row, values exact."""
    from asr_training_data_pipeline_spark.operators.dsp import acoustic_gate
    from asr_training_data_pipeline_spark.sinks.exports import _clips_with_samples
    from asr_training_data_pipeline_spark.sources import fixtures

    out = str(tmp_path)
    export_pipeline_outputs(spark, sf_dir, out, p=p, pair_filter=_pair_filter()).count()
    cols = ["pair_id", "group_id", "quality", "dbfs", "mfcc_dist", "flux", "votes"]
    logged = spark.read.json(os.path.join(out, "acoustic_validation_json")).select(*cols)
    exported = full_pipeline(spark, sf_dir, p)["exported"].filter(_pair_filter())
    audio = fixtures.audio_samples(spark, sf_dir, 16000)
    gated = acoustic_gate(_clips_with_samples(exported, audio), p=p).select(
        "pair_id", "group_id", F.col("log_quality").alias("quality"),
        "dbfs", "mfcc_dist", "flux", "votes",
    )
    got = sorted(tuple(r) for r in logged.collect())
    want = sorted(tuple(r) for r in gated.collect())
    assert got and got == want


def test_clips_tsv_roundtrip(spark, sf_dir, exported_dir):
    out, manifest = exported_dir
    tsv = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .csv(os.path.join(out, "clips_tsv"))
    )
    assert tsv.count() == (manifest["kind"] == "wav").sum()
    assert tsv.columns == [
        "path", "start", "end", "duration_s2", "words", "pieces",
        "avg_conf", "acoustic_quality",
    ]


def test_summary_and_coverage(spark, sf_dir, exported_dir):
    out, manifest = exported_dir
    summary = json.load(open(os.path.join(out, "summary.json")))
    assert summary["exported"] == (manifest["kind"] == "wav").sum()
    assert "params" in summary and summary["params"]["min_run"] == 4
    cov = spark.read.option("header", True).csv(
        os.path.join(out, "word_coverage_csv")
    )
    assert cov.columns == ["word", "count"]
    assert cov.count() > 0


def test_training_shards_partitioned_and_pruned(spark, sf_dir, tmp_path):
    """Shards land as lang=/shard= partition dirs; a one-shard read
    prunes to that partition (PartitionFilters in the scan, not a
    post-filter over everything); in-file order is the stream order."""
    import os

    from asr_training_data_pipeline_spark.sinks.exports import (
        write_training_shards,
    )

    out = str(tmp_path)
    write_training_shards(spark, sf_dir, out)
    root = f"{out}/training_shards"
    langs = [d for d in os.listdir(root) if d.startswith("lang=")]
    assert len(langs) >= 2
    assert any(d.startswith("shard=") for d in os.listdir(f"{root}/{langs[0]}"))

    df = spark.read.parquet(root)
    one = df.filter("lang = 'en' and shard = 0")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "lang" in plan.split("PartitionFilters", 1)[1][:200]
    rows = one.orderBy("stream_start").collect()
    assert rows and [r.doc_id for r in rows] == [
        r.doc_id for r in sorted(rows, key=lambda r: r.stream_start)
    ]
    # round trip: every doc of that stratum present exactly once
    from asr_training_data_pipeline_spark.operators.curation import pack_sequences

    expect = {
        r.doc_id
        for r in pack_sequences(spark, sf_dir)
        .filter("lang = 'en' and shard = 0")
        .collect()
    }
    assert {r.doc_id for r in rows} == expect


def test_compact_parquet_small_files(spark, tmp_path):
    """Many tiny appended part-files compact into the expected count;
    values round-trip exactly; the swap leaves no leftover dirs."""
    import os

    from pyspark.sql import functions as F

    from asr_training_data_pipeline_spark.sinks.maintenance import compact_parquet

    path = str(tmp_path / "ds")
    for k in range(10):  # 10 appends × 4 partitions = many small files
        spark.range(k * 100, (k + 1) * 100).select(
            F.col("id"), (F.col("id") * 3).alias("v")
        ).repartition(4).write.mode("append").parquet(path)

    before = spark.read.parquet(path).orderBy("id").collect()
    stats = compact_parquet(spark, path, target_rows=250)
    assert stats["rows"] == 1000
    assert stats["files_before"] >= 40
    assert stats["files_after"] == 4  # ceil(1000 / 250)
    after = spark.read.parquet(path).orderBy("id").collect()
    assert after == before
    assert not [d for d in os.listdir(tmp_path) if "__" in d]  # no leftovers
