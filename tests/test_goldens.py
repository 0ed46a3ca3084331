"""Golden row hashes for rows-only registry queries: each query's rows
at sf0.001 and sf0.01, hashed order-insensitively, must equal the
committed value. A query without a DuckDB oracle is pinned here, so a
rewrite that changes any value, row count or column name fails.

To re-record after an intended output change:

    python -m tests.test_goldens <directory holding sf0.001/ and sf0.01/>

prints the current hashes as a dict to paste into ``GOLDEN``."""

from __future__ import annotations

import hashlib
import os

import pytest

from asr_training_data_pipeline_spark.api import REGISTRY

GOLDEN = {
    "sink_export_manifest": {
        "sf0.001": "18b6b59084f3b4439957b1accc76c45c73dd951cc20d4ff6b3f11017622aff92",
        "sf0.01": "ffb2c01ae2754520eb248fae1a395868da84db7e5cb0b543c9efe2896d8ce343",
    },
    "acoustic_boundary_gate": {
        "sf0.001": "19df5ae627d3032cc718b0ad7a7a9236f47745f37637dc76abb8b88b04f42807",
        "sf0.01": "cc8de56b6ad74fd9f77ac2997ee8021b67e22c7c5de4064b33f0562737abddfb",
    },
    "vad_speech_segments": {
        "sf0.001": "ee679118545ec3d48cc28c1ddbbc94af5432b6bfcfdbbf3e3436c9db6d9c12cd",
        "sf0.01": "0b9987f9c8dcc48986f68aa8dae24d26ad3b6d6572e8b8029e2c873b368438b7",
    },
}

def rows_hash(df) -> str:
    """sha256 over the column names and the SORTED per-row reprs:
    independent of row order and partitioning, sensitive to every value
    (floats by their exact shortest repr) and to row multiplicity."""
    lines = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256(repr(df.columns).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_rows(spark, sf_dir, name, sf):
    # the scale factors sit side by side with the suite's own one
    sf_path = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), sf)
    if not os.path.isdir(sf_path):
        pytest.skip(f"{sf_path} not present")
    got = rows_hash(REGISTRY[name].fn(spark, sf_path))
    spark.catalog.clearCache()
    assert got == GOLDEN[name][sf], (name, sf, got)


if __name__ == "__main__":
    import sys

    from asr_training_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="goldens", cpus=4, driver_memory="8g")
    print({
        name: {
            sf: rows_hash(REGISTRY[name].fn(s, os.path.join(sys.argv[1], sf)))
            for sf in ("sf0.001", "sf0.01")
        }
        for name in sorted(GOLDEN)
    })
