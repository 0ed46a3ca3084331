"""Golden row hashes for rows-only registry queries: each query's rows
at sf0.001 and sf0.01, hashed order-insensitively, must equal the
committed value. A query without a DuckDB oracle is pinned here, so a
rewrite that changes any value, row count or column name fails.

To record after an intended output change, or to pin a new query:

    python -m tests.test_goldens <directory holding sf0.001/ and sf0.01/> [name ...]

prints the current hashes of the named registry queries (default: every
query in ``GOLDEN``) as a dict to paste into ``GOLDEN``."""

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
    "lcs_align_runs": {
        "sf0.001": "147c28b29e8aa230482e97849bf3014475b74a5aabc57c80bcf590d3b2a974f7",
        "sf0.01": "1ae7e4ecc07405d6b5969be14be927c6912d38299cee47591100f33a7767f5b6",
    },
    "bridge_runs_sessions": {
        "sf0.001": "a062b14e8e97285f7d39eeab5365528034f23c03b698173e1e1596abc53113c6",
        "sf0.01": "ffefbd2e21c48dbf0dad970dccf9ec9f264dd8125d0f1a76155b424d2c0a4f1e",
    },
    "asr_pipeline_clips": {
        "sf0.001": "2b9e7434b7f55cc5620866d1abfa3d8473204a28f0abc854997ab2719a2c3d33",
        "sf0.01": "61708aa07ae7c7ead91e3ff9eff7382297e4dabc8508c5c807c2639bc4d685dc",
    },
    "asr_pipeline_summary": {
        "sf0.001": "54682523720a67785e54332e104c325cea3432755f05ac537f75efc046cb63c2",
        "sf0.01": "45fce7c956d55b4d3b0eb3fabb60e9a5d58056b6ffaf22e07bc9f6b8b34684f6",
    },
    "dedup_minhash_lsh": {
        "sf0.001": "ea99ef52e9cacb580e12a5d10ba7c29e3caa086c555dc10a4bb8928cb5815aa0",
        "sf0.01": "73ca582053cb06965dcc578b7e8e45711b63e4d9afb65d6054ab270ae68a1d69",
    },
    "dedup_rate_by_source_fast": {
        "sf0.001": "dacdb492d8d6c6ba1c4bee8aeaad9a0ef12ed7b9afe4d5b555b58a76ce1efea9",
        "sf0.01": "3836bee67c94e6a579dd04323423e82af9310c44c7a5aec56868ebb292012ef7",
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

    root, names = sys.argv[1], sys.argv[2:] or sorted(GOLDEN)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"not registry queries: {unknown}")
    s = get_spark(app_name="goldens", cpus=4, driver_memory="8g")
    print({
        name: {
            sf: rows_hash(REGISTRY[name].fn(s, os.path.join(root, sf)))
            for sf in ("sf0.001", "sf0.01")
        }
        for name in names
    })
