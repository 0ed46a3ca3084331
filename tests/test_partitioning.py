"""spread_for_kernel probe contracts (r13): the gate decision must not
build a Python-RDD conversion plan per call, and repeated builds of
the same frame must hit the bounded (application, semantic-hash,
split-conf) memo instead of re-planning."""

from __future__ import annotations

import pytest

from asr_training_data_pipeline_spark import partitioning
from asr_training_data_pipeline_spark.partitioning import spread_for_kernel


def test_probe_never_builds_python_rdd(spark, monkeypatch):
    """df.rdd wraps the plan in a DeserializeToObject + Python
    serializer conversion built fresh on every access (guide §1.4's
    rdd-count warning, applied to planning) — the gate must use the
    JVM-internal toRdd instead. Locked by making .rdd explode."""
    from pyspark.sql import DataFrame

    def _boom(self):  # pragma: no cover - only hit on regression
        raise AssertionError("spread_for_kernel touched df.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    narrow = spark.range(0, 100).coalesce(1)
    out = spread_for_kernel(narrow, n_target=4)
    assert out is not narrow  # gate fired, without df.rdd


def test_probe_memoized_per_frame_and_conf(spark):
    narrow = spark.range(0, 100).coalesce(1)
    spread_for_kernel(narrow, n_target=4)
    before = len(partitioning._NPART_CACHE)
    # same frame (same semantic hash), same confs: no new entry
    spread_for_kernel(spark.range(0, 100).coalesce(1), n_target=4)
    assert len(partitioning._NPART_CACHE) == before
    # a split-arithmetic conf change must MISS (the gate's answer for
    # file scans depends on it; test_spread_gate... retunes it live)
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4321")
        spread_for_kernel(spark.range(0, 100).coalesce(1), n_target=4)
        assert len(partitioning._NPART_CACHE) == before + 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)


def test_probe_memo_is_bounded(spark, monkeypatch):
    """The memo evicts its oldest entry at ``_NPART_CACHE_MAX``."""
    monkeypatch.setattr(partitioning, "_NPART_CACHE", {})
    monkeypatch.setattr(partitioning, "_NPART_CACHE_MAX", 2)
    for n in (100, 200, 300):
        spread_for_kernel(spark.range(0, n).coalesce(1), n_target=4)
        assert len(partitioning._NPART_CACHE) <= 2
    assert len(partitioning._NPART_CACHE) == 2


def test_probe_memo_keyed_by_application(spark):
    narrow = spark.range(0, 100).coalesce(1)
    spread_for_kernel(narrow, n_target=4)
    app = spark.sparkContext.applicationId
    assert any(k[0] == app for k in partitioning._NPART_CACHE)


def test_probe_answer_matches_rdd_partitions(spark, sf_dir):
    """The JVM toRdd count must agree with the public .rdd count on a
    real parquet scan (same split arithmetic)."""
    from asr_training_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert (
        partitioning._planned_num_partitions(docs)
        == docs.rdd.getNumPartitions()
    )
