#!/usr/bin/env python3
"""Record the output digests that ``run.py`` checks rows-only outputs
against, for a range of declared seeds.

    python3 perfbench/record_digests.py --seeds 0-19

Run from the checkout root of a commit whose outputs are known good.
One Spark session (with the benchmark's pinned environment) computes,
per seed, the clip_export digests (clips.tsv, rejections, summary.json,
file manifest) and the query_mix digest of every query without a
DuckDB oracle, and merges them into ``digests.json``. A benchmark run
on a seed not recorded there still runs every other check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run
import worker
from repeat import seeds


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="e.g. 0-19")
    a = ap.parse_args()
    work = os.path.join(run.ROOT, ".perfbench", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(run.ENV, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                      TMPDIR=os.path.join(work, "tmp"))
    sys.path.insert(0, run.ROOT)

    from asr_training_data_pipeline_spark import cli
    from asr_training_data_pipeline_spark.api import REGISTRY
    from asr_training_data_pipeline_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    path = os.path.join(run.HERE, "digests.json")
    with open(path) as f:
        recorded = json.load(f)
    try:
        for seed in seeds(a.seeds):
            data = os.path.join(work, f"clip_export-{seed}")
            run.make_inputs("clip_export", seed, data)
            out = os.path.join(work, "out")
            rc = cli.main(["--data", data, "--outdir", out], spark=spark)
            recorded.setdefault("clip_export", {})[str(seed)] = worker.check_export(out, rc)
            shutil.rmtree(out)

            data = os.path.join(work, f"query_mix-{seed}")
            run.make_inputs("query_mix", seed, data)
            recorded.setdefault("query_mix", {})[str(seed)] = {
                q: worker.rows_digest(REGISTRY[q].fn(spark, data).toPandas())
                for _, q in worker.QUERY_MIX if not REGISTRY[q].oracle
            }
            print(f"seed {seed} recorded", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    for w in recorded:
        recorded[w] = dict(sorted(recorded[w].items(), key=lambda kv: int(kv[0])))
    with open(path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
