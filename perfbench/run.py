#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload clip_export --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run generates its inputs from
the seed (untimed), then starts fresh worker processes one after
another, each with its own Spark session, and waits for each process
tree to exit before starting the next:

- ``--trace 0``: one set-up probe and one workload worker. Prints the
  end-to-end metrics.
- ``--trace 1``: one untraced and one traced workload worker. Prints
  the per-layer metrics, read from the traced worker's spans and its
  Spark event log, and the tracing overhead between the two.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md in
this directory for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import eventlog
import inputs
import proctree
from worker import QUERY_MIX

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "asr_training_data_pipeline_spark"

CORES = 4
# Pinned so every run, and every commit, measures the same engine
# configuration. 8g is the test suite's heap.
ENV = {"SPARK_GRAFT_CPUS": str(CORES), "SPARK_GRAFT_DRIVER_MEM": "8g"}
# Each sample is a fresh process and JVM (5-10 s on a 4-core host); the
# probe and the workload worker give two per run, which keeps a run of
# either workload near a minute.
SETUP_SAMPLES = 2
RUN_LIMIT_S = 170.0
EXIT_WAIT_S = 30.0
BROADCAST_CAP = 8 << 30

WORKLOADS = {
    "clip_export": dict(docs=12, near_dup_share=0.0, sf=None),
    # one in five documents is a light edit of an earlier one, so the
    # dedup and linkage operators find real clusters
    "query_mix": dict(docs=500, near_dup_share=0.2, sf=0.01, embeddings=500),
}


def make_inputs(workload: str, seed: int, out: str) -> None:
    import numpy as np

    spec = WORKLOADS[workload]
    os.makedirs(out)
    rng = np.random.default_rng([seed, list(WORKLOADS).index(workload)])
    if spec["sf"] is not None:
        inputs.write_star_schema(out, rng, spec["sf"], spec["embeddings"])
    inputs.write_documents(out, rng, spec["docs"], spec["near_dup_share"])


class WorkerFailed(RuntimeError):
    pass


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM outlives its Python driver by a
    moment) are re-parented to this process, so it can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_all(limit_s: float) -> None:
    """Wait until every descendant has exited; kill what is left after
    ``limit_s``."""
    deadline = time.monotonic() + limit_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        rest = [p for p in proctree.tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _stop(signum, _frame) -> None:
    """On SIGTERM or SIGINT, take the worker processes down too."""
    for pid in proctree.tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _reap_all(EXIT_WAIT_S)
    sys.exit(128 + signum)


class Runner:
    def __init__(self, workload: str, seconds: int, work: str, data: str,
                 expect: dict, deadline: float):
        self.workload, self.seconds = workload, seconds
        self.work, self.data, self.expect, self.deadline = work, data, expect, deadline
        self.n = 0
        self.env = dict(os.environ, **ENV)
        self.env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        self.env["TMPDIR"] = os.path.join(work, "tmp")
        self.env["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        )
        os.makedirs(self.env["TMPDIR"])

    def spawn(self, role: str, trace: int = 0, sample_mem: bool = False,
              min_passes: int = 2) -> dict:
        self.n += 1
        report = os.path.join(self.work, f"report-{self.n}.json")
        log = os.path.join(self.work, f"worker-{self.n}.log")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--role", role,
               "--work", self.work, "--report", report]
        if role == "run":
            cmd += ["--workload", self.workload, "--data", self.data,
                    "--seconds", str(self.seconds if min_passes > 1 else 0),
                    "--trace", str(trace), "--min-passes", str(min_passes),
                    "--expect", json.dumps(self.expect)]
        mem: list[tuple[float, float]] = []
        with open(log, "w") as lf:
            base_used = proctree.used_mb()
            spawned = time.monotonic()
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=self.work, env=self.env)
            try:
                while proc.poll() is None:
                    if time.monotonic() > self.deadline:
                        proc.kill()
                        proc.wait()
                        raise WorkerFailed(f"worker {self.n} ran past the run's time limit")
                    if sample_mem:
                        mem.append((time.monotonic(), proctree.used_mb() - base_used))
                    time.sleep(0.1)
            finally:
                _reap_all(EXIT_WAIT_S)
        if proc.returncode != 0 or not os.path.exists(report):
            with open(log) as lf:
                tail = lf.read()[-3000:]
            raise WorkerFailed(f"worker {self.n} exited {proc.returncode}:\n{tail}")
        with open(report) as f:
            rep = json.load(f)
        rep["setup_s"] = rep["ready"] - spawned
        rep["mem"] = mem
        return rep


def _wall(p: dict) -> float:
    return p["end"] - p["start"]


def end_to_end(setups: list[float], rep: dict, workload: str, n_pairs: int) -> dict:
    passes = rep["passes"]
    cold, warm = passes[0], passes[1:]
    items = n_pairs if workload == "clip_export" else len(QUERY_MIX)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (_wall(cold), "s"),
        "warm_s": (statistics.median(_wall(p) for p in warm), "s"),
        "items_per_s": (items / _wall(cold), "1/s"),
        "cpu_s": (statistics.fmean(p["cpu_s"] for p in passes), "s"),
    }


PASS_FIELDS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
    "spill_bytes", "gc_s", "python_start_s", "python_run_s", "python_tasks",
)
PIPELINE_LAYERS = (
    "sources.fixtures", "operators.alignment", "plans.pipeline.bridge",
    "plans.pipeline.assemble", "plans.pipeline.validate", "operators.dsp",
    "sinks.exports",
)


def per_layer(rep: dict, ref: dict, log_dir: str, n_pairs: int) -> dict:
    totals = eventlog.label_totals(eventlog.read_events(log_dir))
    spans = {s["name"]: s for s in rep["spans"]}

    def tot(label: str) -> eventlog.Totals:
        return totals.get(label, eventlog.Totals())

    def self_s(label: str) -> float:
        s = spans.get(label)
        return _wall(s) if s else 0.0

    m: dict = {
        "session.jvm_start_s": (rep["jvm_start_s"], "s"),
        "session.first_action_s": (rep["first_action_s"], "s"),
    }
    # whole passes: the cold one, and the mean of the warm ones
    passes = rep["passes"]
    for kind, group in (("cold", passes[:1]), ("warm", passes[1:])):
        acc = {f: 0.0 for f in PASS_FIELDS}
        idle = 0.0
        for p in group:
            t = eventlog.Totals()
            for label, lt in totals.items():
                if label.startswith(p["name"] + ":"):
                    t.add(lt)
            for f in PASS_FIELDS:
                acc[f] += getattr(t, f)
            idle += CORES * _wall(p) - t.executor_run_s
        for f in PASS_FIELDS:
            unit = "s" if f.endswith("_s") else "bytes" if f.endswith("bytes") else "count"
            m[f"pass.{kind}.{f}"] = (acc[f] / len(group), unit)
        m[f"pass.{kind}.idle_core_s"] = (idle / len(group), "s")
        m[f"pass.{kind}.mem_mb"] = (statistics.fmean(
            statistics.median(mb for t, mb in rep["mem"] if p["start"] <= t <= p["end"])
            for p in group
        ), "MB")

    # the export pipeline, layer by layer (clip_export only)
    counts = (rep.get("info") or {}).get("layers") or {}
    bcast = tot("layers:sinks.exports").broadcast_bytes
    # The export joins clips to their pair's PCM with a broadcast whose
    # size grows with the pairs exported. Projected, not attempted: the
    # pairs whose PCM fits Spark's 8 GiB broadcast cap. Attempting an
    # export at that size would fill the 8 GB heap.
    pairs_ceiling = BROADCAST_CAP * n_pairs // bcast if bcast else 0
    layer = {name: f"layers:{name}" for name in PIPELINE_LAYERS}

    def count(key: str) -> float:
        return counts.get(key, 0)

    m.update({
        "sources.fixtures.self_s": (self_s(layer["sources.fixtures"]), "s"),
        "sources.fixtures.words_out": (count("words_out"), "count"),
        "operators.alignment.self_s": (self_s(layer["operators.alignment"]), "s"),
        "operators.alignment.python_run_s": (tot(layer["operators.alignment"]).python_run_s, "s"),
        "operators.alignment.runs_out": (count("runs_out"), "count"),
        "plans.pipeline.bridge.self_s": (self_s(layer["plans.pipeline.bridge"]), "s"),
        "plans.pipeline.bridge.groups_out": (count("groups_out"), "count"),
        "plans.pipeline.assemble.self_s": (self_s(layer["plans.pipeline.assemble"]), "s"),
        "plans.pipeline.validate.self_s": (self_s(layer["plans.pipeline.validate"]), "s"),
        "plans.pipeline.validate.python_run_s": (tot(layer["plans.pipeline.validate"]).python_run_s, "s"),
        "plans.pipeline.validate.task_skew": (tot(layer["plans.pipeline.validate"]).task_skew, "ratio"),
        "plans.pipeline.validate.clips_out": (count("clips_out"), "count"),
        "plans.pipeline.yield": (
            count("clips_out") / count("assembled") if count("assembled") else 0.0, "ratio"),
        "operators.dsp.self_s": (self_s(layer["operators.dsp"]), "s"),
        "operators.dsp.python_run_s": (tot(layer["operators.dsp"]).python_run_s, "s"),
        "operators.dsp.keep_ratio": (
            count("gate_keep") / count("gate_total") if count("gate_total") else 0.0, "ratio"),
        "sinks.exports.self_s": (self_s(layer["sinks.exports"]), "s"),
        "sinks.exports.files": (count("files"), "count"),
        "sinks.exports.bytes_written": (count("bytes_written"), "bytes"),
        "sinks.exports.broadcast_bytes": (tot(layer["sinks.exports"]).broadcast_bytes, "bytes"),
        "sinks.exports.gc_s": (tot(layer["sinks.exports"]).gc_s, "s"),
        "sinks.exports.pairs_ceiling": (pairs_ceiling, "count"),
    })

    # each query of the mix (query_mix only)
    for mod, q in QUERY_MIX:
        cold = f"cold:{mod}.{q}"
        warm = [f"{p['name']}:{mod}.{q}" for p in passes[1:]]
        walls = [self_s(w) for w in warm if w in spans]
        if cold in spans and walls:
            wt = eventlog.Totals()
            for w in warm:
                wt.add(tot(w))
            k = len(warm)
            vals = (self_s(cold), statistics.median(walls), wt.executor_cpu_s / k,
                    wt.shuffle_write_bytes / k,
                    (CORES * sum(walls) - wt.executor_run_s) / k)
        else:
            vals = (0.0,) * 5
        for f, v, unit in zip(
            ("cold_s", "warm_s", "executor_cpu_s", "shuffle_write_bytes", "idle_core_s"),
            vals, ("s", "s", "s", "bytes", "s"),
        ):
            m[f"{mod}.{q}.{f}"] = (v, unit)

    m["trace.overhead_pct"] = (100.0 * (_wall(passes[0]) / _wall(ref["passes"][0]) - 1.0), "%")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    make_inputs(a.workload, a.seed, data)
    with open(os.path.join(HERE, "digests.json")) as f:
        expect = json.load(f).get(a.workload, {}).get(str(a.seed), {})
    _become_subreaper()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    r = Runner(a.workload, a.seconds, work, data, expect, started + RUN_LIMIT_S)
    if a.trace:
        ref = r.spawn("run", min_passes=1)
        rep = r.spawn("run", trace=1, sample_mem=True)
        metrics = per_layer(rep, ref, os.path.join(work, "eventlog"),
                            WORKLOADS[a.workload]["docs"])
        reports = [ref, rep]
    else:
        setups = [r.spawn("probe")["setup_s"] for _ in range(SETUP_SAMPLES - 1)]
        rep = r.spawn("run")
        setups.append(rep["setup_s"])
        metrics = end_to_end(setups, rep, a.workload, WORKLOADS[a.workload]["docs"])
        reports = [rep]

    attempted = sum(x["attempted"] for x in reports)
    failures = [f for x in reports for f in x["failures"]]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"env={json.dumps(ENV)} SPARK_LOCAL_DIRS=<checkout>/.perfbench/.../spark-local "
          f"inputs={json.dumps(WORKLOADS[a.workload])} digests={'recorded' if expect else 'none'}")
    print("loop: closed, 1 client; passes " + ", ".join(
        f"{p['name']}={_wall(p):.3f}s cpu={p['cpu_s']:.2f}s"
        for p in rep["passes"]))
    for name, (value, unit) in metrics.items():
        print(f"  {name:58s} {value:14.4f} {unit}")
    for f in failures:
        print(f"FAILED {f}")
    digests = (rep.get("info") or {}).get("digests")
    if digests:
        print("digests " + json.dumps({a.workload: {str(a.seed): digests}}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
