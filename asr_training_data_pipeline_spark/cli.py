"""Command-line entry points — the engine's analog of the reference's
two executable surfaces:

- single/batch pipeline run (claude_research_optimal.py:389-424 CLI +
  batch_processor.py:185-211 ``--pairs`` wrapper) → ``run``
- the GUI (gui.py) is a thin front end over the same call and is out
  of engine scope (SURVEY §3.3); ``run`` exposes the equivalent
  ``run_batch(manifest)`` capability.

Differences by design:

- ONE Spark job replaces the per-pair subprocess fan-out
  (batch_processor.py:86,149): pairs are rows, parallelism is the
  cluster, models initialize once per worker instead of once per file.
- Inputs are either a parquet dataset directory (``--data``, the
  driver's documents table) or ``--pairs audio,transcript`` file pairs
  (J5 positional pairing, gui.py:35-38). Transcripts are read with the
  wholetext scan (S1); audio decode is a pluggable backend — the
  default deterministic stub derives word timings from the transcript,
  so the full dataflow runs (and is testable) with no GPU, no ffmpeg.
  A real WhisperX backend installs via sources.asr_scan.set_asr_backend.
- All reference sinks are written under ``--outdir``: per-clip
  WAV/TXT, full_{pair}.wav/.txt, clips.tsv, rejections, word
  coverage, batch summary, summary.json (SURVEY §2.2 K1-K8).

Parameter flags carry the reference's argparse names and defaults
(claude_research_optimal.py:395-420).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="asr_training_data_pipeline_spark",
        description="PySpark ASR training-data pipeline (reference-parity CLI)",
    )
    ap.add_argument("--data", help="dataset dir containing documents.parquet")
    ap.add_argument(
        "--pairs",
        nargs="+",
        help="audio,transcript file pairs (audio optional: 'transcript' alone "
        "works with the stub backend)",
    )
    # required for pipeline runs, not for --query / --list-queries
    # (enforced in main)
    ap.add_argument("--outdir")
    # Matching & bridging (claude_research_optimal.py:395-398)
    ap.add_argument("--min_run", type=int, default=4)
    ap.add_argument("--max_gap_words", type=int, default=2)
    ap.add_argument("--max_gap_time", type=float, default=0.5)
    # Timing polish (:399-407)
    ap.add_argument("--min_dur", type=float, default=1.5)
    ap.add_argument("--fade_ms", type=int, default=20)
    ap.add_argument("--start_pad_ms", type=int, default=150)
    ap.add_argument("--end_pad_ms", type=int, default=140)
    ap.add_argument("--tail_safety_ms", type=int, default=80)
    ap.add_argument("--base_end_guard_ms", type=int, default=35)
    ap.add_argument("--start_guard_ms", type=int, default=30)
    ap.add_argument("--seam_silence_ms", type=int, default=120)
    ap.add_argument("--full_gap_ms", type=int, default=500)
    # Validator (:415-420)
    ap.add_argument("--min_valid_words", type=int, default=2)
    # Engine
    ap.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] threads; also the shuffle-partition and "
        "default-parallelism count",
    )
    ap.add_argument(
        "--limit_pairs", type=int, default=None,
        help="process only the first N pairs (smoke runs)",
    )
    # Registry query runner (the analytics surface beyond the pipeline)
    ap.add_argument(
        "--query", help="run a registry query by name against --data and "
        "print rows as JSON lines (see --list-queries)",
    )
    ap.add_argument(
        "--list-queries", action="store_true",
        help="list every registered query name (with oracle/bench tags) and exit",
    )
    ap.add_argument(
        "--limit_rows", type=int, default=20,
        help="max rows printed by --query (default 20)",
    )
    return ap


def _params(args: argparse.Namespace):
    from .plans.pipeline import PipelineParams

    return PipelineParams(
        min_run=args.min_run,
        max_gap_words=args.max_gap_words,
        max_gap_time=args.max_gap_time,
        start_pad_ms=args.start_pad_ms,
        end_pad_ms=args.end_pad_ms,
        tail_safety_ms=args.tail_safety_ms,
        start_guard_ms=args.start_guard_ms,
        guard_base_ms=args.base_end_guard_ms,
        min_dur_s=args.min_dur,
        min_valid_words=args.min_valid_words,
        fade_ms=args.fade_ms,
        seam_silence_ms=args.seam_silence_ms,
        full_gap_ms=args.full_gap_ms,
    )


def _pairs_to_dataset(spark, pairs: list[str], scratch: str) -> str:
    """J5 positional pairing (gui.py:35-38, batch_processor.py:198-205):
    each ``audio,transcript`` (or bare ``transcript``) becomes one
    documents row; transcripts are read by the wholetext scan (S1) and
    written as a documents.parquet dataset the pipeline consumes."""
    from pyspark.sql import functions as F

    from .sources.tables import read_transcripts

    texts = []
    for i, pair in enumerate(pairs):
        parts = pair.split(",")
        if len(parts) == 1:
            texts.append(parts[0])
        elif len(parts) == 2:
            texts.append(parts[1])
        else:
            raise SystemExit(f"Invalid pair format: {pair}")

    dfs = None
    for i, path in enumerate(texts):
        one = read_transcripts(spark, path).select(
            F.lit(i).cast("long").alias("doc_id"),
            F.regexp_replace(F.col("text"), r"\s+", " ").alias("text"),
        )
        dfs = one if dfs is None else dfs.unionByName(one)
    ds_dir = os.path.join(scratch, "dataset")
    dfs.write.mode("overwrite").parquet(os.path.join(ds_dir, "documents.parquet"))
    return ds_dir


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI body. ``spark=None`` builds (and stops) its own session;
    tests inject a live one."""
    args = _build_parser().parse_args(argv)

    if args.list_queries:
        from .api import REGISTRY

        for name, q in REGISTRY.items():
            kind = "oracle" if q.oracle else "rows-only"
            flags = "+bench" if q.bench else ""
            print(f"{name}\t{kind}{flags}\t{','.join(q.tags)}")
        return 0

    if args.query:
        if not args.data:
            print("error: --query requires --data (an sf dir)", file=sys.stderr)
            return 2
        from .api import REGISTRY
        from .session import get_spark as _gs

        if args.query not in REGISTRY:
            print(f"error: unknown query {args.query!r}", file=sys.stderr)
            return 2
        own = spark is None
        if own:
            spark = _gs(app_name=f"query_{args.query}", cpus=args.cpus)
        try:
            pdf = (
                REGISTRY[args.query]
                .fn(spark, args.data)
                .limit(args.limit_rows)
                .toPandas()
            )
            print(pdf.to_json(orient="records", lines=True))
            return 0
        finally:
            if own:
                spark.stop()

    if not args.data and not args.pairs:
        print("error: provide --data or --pairs", file=sys.stderr)
        return 2
    if not args.outdir:
        print("error: pipeline runs require --outdir", file=sys.stderr)
        return 2

    from .session import get_spark
    from .sinks.exports import export_pipeline_outputs

    own_session = spark is None
    if own_session:
        spark = get_spark(app_name="asr_pipeline_cli", cpus=args.cpus)
    try:
        with tempfile.TemporaryDirectory() as scratch:
            data_dir = (
                args.data
                if args.data
                else _pairs_to_dataset(spark, args.pairs, scratch)
            )
            pair_filter = None
            if args.limit_pairs is not None:
                from pyspark.sql import functions as F

                pair_filter = F.col("pair_id") < args.limit_pairs
            os.makedirs(args.outdir, exist_ok=True)
            manifest = export_pipeline_outputs(
                spark,
                data_dir,
                args.outdir,
                p=_params(args),
                pair_filter=pair_filter,
            )
            n_files = manifest.count()
        with open(os.path.join(args.outdir, "summary.json")) as f:
            summary = json.load(f)
        summary["files_written"] = n_files
        print(json.dumps(summary))
        return 0 if summary.get("exported", 0) > 0 else 1
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
