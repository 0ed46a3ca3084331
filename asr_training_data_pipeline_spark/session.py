"""SparkSession factory.

Tuned for two environments:

- local test/bench: one JVM, ``local[N]`` threads, N≈cores.
- target: 1000-executor cluster over ~100 TB — every default here is
  chosen so the same code scales by swapping master/memory config:
  AQE on (runtime coalesce + skew-join splitting), shuffle partitions
  and default parallelism equal to the cores locally, with no floor
  (on a cluster this comes from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``),
  Arrow enabled for every pandas-UDF boundary, UTC pinned so
  timestamp semantics are stable across engines and clusters.

One task per core per stage: every pandas-UDF task (LCS alignment,
validator consensus, the acoustic gate, the per-pair writer) pays
~50–60 ms of fixed Arrow/worker setup, and tasks beyond the core
count queue for a second wave. Measured on a 4-core host, a traced
12-pair clip export ran 29 Python tasks per warm pass with 8
partitions and 15 with 4, and its Python run time fell from 3.5 s to
1.8 s.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "asr_training_data_pipeline_spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then to all cores.
    Shuffle partitions and default parallelism equal ``cpus``, one
    task wave per stage (module docstring) — at 100 TB on a real
    cluster the operative knobs become ``initialPartitionNum`` and
    AQE coalescing, which are pre-wired here.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g")

    # Python workers (and the custom daemon module below) import this
    # package by name. The driver may have found it via cwd/sys.path,
    # which workers do NOT inherit — only PYTHONPATH propagates. Export
    # the package root so worker forks resolve it from any driver cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- parallelism / shuffle shape -------------------------------
        # One task per core: each Python task costs ~50–60 ms of fixed
        # setup, and tasks beyond the cores queue for a second wave.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # plan re-optimization from observed stats. At 100 TB this is
        # what keeps a 10k-partition shuffle from emitting 10k tiny
        # files or one 2 TB straggler.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Python-heavy stages (the LCS UDF, inference mapInPandas)
        # are CPU-bound per ROW, not per byte — don't let AQE coalesce
        # their shuffles down to a handful of 1 MB tasks and idle the
        # other cores. The old 64 KB floor failed its own purpose:
        # measured r12, the validator-consensus input (17.9k clip
        # rows, ~450 KB) coalesced to 7 partitions (max 4352 rows) —
        # the inference kernel ran on 7 of 32 cores. 4 KB floors the
        # same stage at 32 even partitions (max 638 rows). With
        # parallelismFirst (default on) the floor only binds when a
        # stage's total shuffle bytes < floor × parallelism, i.e.
        # tiny-data stages where task overhead is milliseconds — at
        # cluster scale bytes/parallelism dominates and the floor is
        # inert, so this is not a local-only tune.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
        # --- memory ----------------------------------------------------
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.maxResultSize", "4g")
        # --- pandas-UDF / Arrow boundary -------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Fork workers from a daemon that has pandas/pyarrow/numpy and
        # the pyspark worker machinery pre-imported (copy-on-write):
        # cold-fork init drops from seconds to ~0 even when several
        # concurrent pandas-UDF stages drain the idle-worker pool.
        .config("spark.python.daemon.module", "asr_training_data_pipeline_spark.daemon")
        # --- semantics -------------------------------------------------
        # UTC so timestamp round-trips match ANSI engines (DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # Scans: 128 MB splits is the right default for wide parquet at
        # scale; local test files are far smaller and unaffected.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Some producers write TIMESTAMP(NANOS) parquet (the events
        # table does); Spark has no nanos timestamp — read as long and
        # convert at the source (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast threshold: dims (region/nation/customer/supplier at
        # any SF worth broadcasting) go broadcast; the 100 TB fact side
        # never does.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
