"""Session policy: one task wave per stage, and AQE on.

``get_spark`` is run against a stand-in builder that records what it
is asked to set, so no second JVM starts."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from asr_training_data_pipeline_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.masters: list[str] = []
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.masters.append(m)
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None)
        )


@pytest.mark.parametrize("cpus", [2, 16])
def test_partitions_equal_cores_and_aqe_on(monkeypatch, cpus):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    # get_spark exports the package root on PYTHONPATH; restore it after
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    session.get_spark(cpus=cpus, driver_memory="1g")
    assert builder.masters == [f"local[{cpus}]"]
    assert builder.conf["spark.sql.shuffle.partitions"] == str(cpus)
    assert builder.conf["spark.default.parallelism"] == str(cpus)
    # dedup_minhash_lsh's run-once signature kernel relies on AQE
    assert builder.conf["spark.sql.adaptive.enabled"] == "true"
