"""One benchmark process: one Spark session, one workload, one client.

``run.py`` starts this file; it is not meant to be run by hand.

- ``--role probe`` builds the session, runs one trivial action and
  exits: one set-up sample.
- ``--role run`` does the same, then runs the workload as a closed
  loop (each operation starts after the previous one returned): one
  cold pass, then warm passes until ``--seconds`` of passes have been
  measured and at least ``--min-passes`` passes ran. Outputs are checked after each
  operation, outside the timed span.

The report (timings, checks, spans) is written once, at exit, to
``--report``. With ``--trace 1`` every call into the package runs
under a Spark job group named after its span, and the session writes
an event log under ``--work``; ``run.py`` parses it after this
process has exited.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import time
import traceback
from contextlib import contextmanager

import proctree

# (layer, registry name). Every query except dedup_minhash_lsh has a
# DuckDB oracle.
QUERY_MIX = (
    ("queries", "word_coverage"),
    ("queries", "q1_pricing_summary"),
    ("queries", "q18_large_volume"),
    ("queries", "topk_orders_per_cust"),
    ("queries", "sessionize_events"),
    ("operators.similarity", "ann_cosine_topk"),
    ("operators.dedup", "dedup_ngram_jaccard"),
    ("operators.dedup", "dedup_minhash_lsh"),
    ("operators.associations", "record_linkage_fuzzy"),
    ("operators.curation", "curation_signals_fused"),
)


class CheckFailed(Exception):
    pass


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _plain(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in sorted(v.items())}
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def rows_digest(pdf) -> str:
    """Order-insensitive digest of a result frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        json.dumps(_plain(list(r)), default=str)
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def _lines_digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


class Spans:
    """Spans (name, start, end, parent, run id) held in memory. When
    tracing, each span also labels the Spark jobs started inside it."""

    def __init__(self, sc, trace: bool, run_id: str):
        self.sc, self.trace, self.run_id = sc, trace, run_id
        self.records: list[dict] = []
        self._stack: list[str] = []

    def _label(self, name: str | None) -> None:
        if self.trace:
            self.sc.setLocalProperty("spark.jobGroup.id", name)
            self.sc.setLocalProperty("spark.job.description", name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._label(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self._label(parent)
            self.records.append(dict(
                name=name, start=start, end=end, parent=parent, run=self.run_id
            ))


class Loop:
    """The closed loop: a cold pass, then warm passes until ``seconds``
    of passes were measured and at least ``min_passes`` ran."""

    def __init__(self, seconds: float, min_passes: int):
        self.seconds, self.min_passes = seconds, min_passes
        self.passes: list[dict] = []
        self.attempted = 0
        self.failures: list[str] = []

    def names(self):
        while len(self.passes) < self.min_passes or sum(
            p["end"] - p["start"] for p in self.passes
        ) < self.seconds:
            yield "cold" if not self.passes else f"warm{len(self.passes)}"

    @contextmanager
    def timed(self, name: str):
        cpu0, start = proctree.cpu_s(os.getpid()), time.monotonic()
        yield
        end = time.monotonic()
        self.passes.append(dict(
            name=name, start=start, end=end,
            cpu_s=proctree.cpu_s(os.getpid()) - cpu0,
        ))

    def op(self, what: str, fn):
        """Run one operation or check; an exception or a failed check
        counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - recorded and counted
            self.failures.append(f"{what}: {type(e).__name__}: {e}"[:500])
            traceback.print_exc()
            return None


# ---------------------------------------------------------------------
# clip_export: the reference's batch job through the CLI
# ---------------------------------------------------------------------


def _read_part_lines(d: str, header: bool) -> list[str]:
    lines: list[str] = []
    for f in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            body = fh.read().splitlines()
        lines.extend(body[1:] if header and body else body)
    return [x for x in lines if x]


def check_export(out: str, rc: int) -> dict:
    """Invariants that hold for any seed; returns the output digests."""
    _check(rc == 0, f"cli.main returned {rc}")
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    n_exp, n_rej = summary["exported"], summary["rejected"]
    _check(n_exp > 0, "no clip exported")
    clip_dir = os.path.join(out, "clips")
    clips = sorted(os.listdir(clip_dir))
    wav = [c for c in clips if c.endswith(".wav")]
    txt = [c for c in clips if c.endswith(".txt")]
    _check(len(wav) == n_exp, f"{len(wav)} clip WAVs for {n_exp} exported clips")
    _check(len(txt) == n_exp, f"{len(txt)} clip TXTs for {n_exp} exported clips")
    _check(
        {c[:-4] for c in wav} == {c[:-4] for c in txt}, "clip WAV/TXT names differ"
    )
    tsv = _read_part_lines(os.path.join(out, "clips_tsv"), header=True)
    _check(len(tsv) == n_exp, f"clips.tsv has {len(tsv)} rows for {n_exp} clips")
    rej = _read_part_lines(os.path.join(out, "rejections_json"), header=False)
    _check(len(rej) == n_rej, f"{len(rej)} rejection rows for {n_rej} rejected")
    full = sorted(f for f in os.listdir(out) if f.startswith("full_"))
    _check(len(full) > 0 and len(full) % 2 == 0, "full_* WAV/TXT pairs missing")
    manifest = [
        f"{name} {os.path.getsize(os.path.join(d, name))}"
        for d, names in ((clip_dir, clips), (out, full))
        for name in names
    ]
    return {
        "clips_tsv": _lines_digest(tsv),
        "rejections": _lines_digest(rej),
        "summary": hashlib.sha256(
            json.dumps(summary, sort_keys=True).encode()
        ).hexdigest(),
        "manifest": _lines_digest(manifest),
    }


def _tree_size(d: str) -> tuple[int, int]:
    sizes = [os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs]
    return len(sizes), sum(sizes)


def run_clip_export(spark, a, spans: Spans, loop: Loop, expect: dict) -> dict:
    from asr_training_data_pipeline_spark import cli

    info: dict = {}
    for name in loop.names():
        out = os.path.join(a.work, f"export_{name}")
        with loop.timed(name), spans.span(f"{name}:cli"):
            rc = loop.op(
                f"{name} cli.main",
                lambda: cli.main(["--data", a.data, "--outdir", out], spark=spark),
            )
        got = None if rc is None else loop.op(
            f"{name} export checks", lambda: check_export(out, rc)
        )
        if got is not None:
            info.setdefault("digests", got)
            want = expect or info["digests"]
            loop.op(f"{name} digests", lambda: _check(
                got == want, f"export digests {got} differ from {want}"
            ))
        shutil.rmtree(out, ignore_errors=True)
    if a.trace:
        info["layers"] = replay_pipeline(spark, a, spans, loop)
    return info


def replay_pipeline(spark, a, spans: Spans, loop: Loop) -> dict:
    """The export pipeline once more, one public call at a time, each
    materialized with its upstream held, so every layer gets its own
    self time. The final CLI call then finds the upstream layers cached
    (Spark matches cached plans by equality) and does only the DSP gate
    it also finds cached, and the sinks."""
    from pyspark.sql import functions as F

    from asr_training_data_pipeline_spark import cli
    from asr_training_data_pipeline_spark.operators.alignment import lcs_runs_fused
    from asr_training_data_pipeline_spark.operators.dsp import acoustic_gate
    from asr_training_data_pipeline_spark.plans import pipeline as pl
    from asr_training_data_pipeline_spark.sinks import exports
    from asr_training_data_pipeline_spark.sources import fixtures

    p = pl.P
    held = []
    # the CLI calls before this left their pipeline frames cached
    spark.catalog.clearCache()

    def layer(name: str, build):
        with spans.span(f"layers:{name}"):
            df = build().persist()
            held.append(df)
            df.count()
        return df

    arrays = layer("sources.fixtures", lambda: fixtures.doc_word_arrays(spark, a.data))
    runs = layer("operators.alignment", lambda: lcs_runs_fused(arrays, min_run=p.min_run))
    groups = layer("plans.pipeline.bridge", lambda: pl.bridged_groups(runs, p))
    pair_words = arrays.select("pair_id", "norms", "starts", "ends", "texts", "confs")
    clips = layer(
        "plans.pipeline.assemble",
        lambda: pl.assemble_clips_arrays(groups, pair_words, p).filter(
            F.col("clip_len_ms") > 0
        ),
    )
    validated = layer("plans.pipeline.validate", lambda: pl.validated_clips(spark, clips, p))
    kept = validated.filter(F.col("e_ms") - F.col("s_ms") >= int(p.min_dur_s * 1000))
    audio = fixtures.audio_samples(spark, a.data, 16000)
    verdicts = layer(
        "operators.dsp",
        lambda: acoustic_gate(exports._clips_with_samples(kept, audio), min_dur_s=p.min_dur_s),
    )
    out = os.path.join(a.work, "export_layers")
    with spans.span("layers:sinks.exports"):
        rc = loop.op("layers cli.main", lambda: cli.main(["--data", a.data, "--outdir", out], spark=spark))
    counts = dict(
        words_out=arrays.select(F.sum(F.size("norms"))).first()[0],
        runs_out=runs.count(),
        groups_out=groups.select("pair_id", "group_id").distinct().count(),
        assembled=clips.count(),
        clips_out=kept.count(),
        gate_total=verdicts.count(),
        gate_keep=verdicts.filter(F.col("verdict") == "keep").count(),
    )
    loop.op("layers export checks", lambda: check_export(out, rc))
    counts["files"], counts["bytes_written"] = _tree_size(out)
    for df in held:
        df.unpersist()
    shutil.rmtree(out, ignore_errors=True)
    return counts


# ---------------------------------------------------------------------
# query_mix: registry queries over the star schema and the corpus
# ---------------------------------------------------------------------


def run_query_mix(spark, a, spans: Spans, loop: Loop, expect: dict) -> dict:
    from asr_training_data_pipeline_spark.api import REGISTRY
    from asr_training_data_pipeline_spark.testing import compare_frames, run_oracle

    cold: dict = {}
    digests: dict = {}
    for name in loop.names():
        results = {}
        with loop.timed(name):
            for layer, q in QUERY_MIX:
                with spans.span(f"{name}:{layer}.{q}"):
                    results[q] = loop.op(
                        f"{name} {q}", lambda: REGISTRY[q].fn(spark, a.data).toPandas()
                    )
        for q, pdf in results.items():
            if pdf is None:
                continue
            d = rows_digest(pdf)
            if name == "cold":
                cold[q], digests[q] = pdf, d
            else:
                loop.op(f"{name} {q} repeat", lambda: _check(
                    d == digests.get(q), f"{q}: warm result differs from the cold one"
                ))
    for q, pdf in cold.items():
        sql = REGISTRY[q].oracle
        if sql:
            loop.op(f"{q} vs DuckDB", lambda: compare_frames(pdf, run_oracle(sql, a.data), q))
        else:
            loop.op(f"{q} rows", lambda: _check(len(pdf) > 0, f"{q}: no rows"))
        if q in expect:
            loop.op(f"{q} digest", lambda: _check(
                digests[q] == expect[q], f"{q}: digest {digests[q]} != recorded {expect[q]}"
            ))
    return {"digests": {q: d for q, d in digests.items() if not REGISTRY[q].oracle}}


WORKLOADS = {"clip_export": run_clip_export, "query_mix": run_query_mix}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("probe", "run"), required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--data")
    ap.add_argument("--work", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--min-passes", type=int, default=2)
    ap.add_argument("--expect", default="{}", help="recorded digests (JSON)")
    a = ap.parse_args()

    from asr_training_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if a.trace:
        log_dir = os.path.join(a.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.monotonic()
    spark = get_spark(extra_conf=conf)
    t1 = time.monotonic()
    spark.range(1).count()
    ready = time.monotonic()
    report = dict(ready=ready, jvm_start_s=t1 - t0, first_action_s=ready - t1)
    try:
        if a.role == "run":
            spans = Spans(spark.sparkContext, bool(a.trace), f"{a.workload}-{os.getpid()}")
            loop = Loop(a.seconds, a.min_passes)
            report["info"] = WORKLOADS[a.workload](spark, a, spans, loop, json.loads(a.expect))
            report.update(
                passes=loop.passes, attempted=loop.attempted,
                failures=loop.failures, spans=spans.records,
            )
    finally:
        spark.stop()
        with open(a.report, "w") as f:
            json.dump(report, f)


if __name__ == "__main__":
    main()
