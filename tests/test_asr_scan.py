"""S3 inference-scan plumbing: the deterministic stub backend must
produce the same token structure as the declarative fixture (same
kept words, same dense indexes) with valid monotone timings. Exact
timing parity is NOT claimed — the stub hashes with sha1 in the
worker, the fixture with xxhash64 in the JVM (both deterministic)."""

from __future__ import annotations

from pyspark.sql import functions as F

from asr_training_data_pipeline_spark.sources import fixtures
from asr_training_data_pipeline_spark.sources.asr_scan import asr_scan
from asr_training_data_pipeline_spark.sources.tables import load_table


def test_stub_scan_matches_fixture_structure(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    scan = asr_scan(spark, docs).toPandas()
    fix = (
        fixtures.asr_words(spark, sf_dir)
        .join(docs.select(F.col("doc_id").alias("pair_id")), "pair_id")
        .toPandas()
    )
    import pandas.testing as pdt

    key = ["pair_id", "idx", "text", "norm"]
    s = scan[key].sort_values(["pair_id", "idx"]).reset_index(drop=True)
    f = fix[key].sort_values(["pair_id", "idx"]).reset_index(drop=True)
    pdt.assert_frame_equal(s, f, check_dtype=False)


def test_stub_scan_timings_valid(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    pdf = asr_scan(spark, docs).toPandas().sort_values(["pair_id", "idx"])
    assert (pdf.end > pdf.start).all()
    assert pdf.confidence.between(0.4, 1.001).all()
    for _, g in pdf.groupby("pair_id"):
        assert (g.start.diff().dropna() > 0).all()  # strictly advancing


def test_set_asr_backend_installs_the_model(spark):
    """``set_asr_backend`` is the model plug point: the factory it
    installs is what the scan's workers call, once per worker."""
    from asr_training_data_pipeline_spark.sources import asr_scan as scan_mod

    def fake_factory():
        def transcribe(pair_id: int, text: str) -> list[dict]:
            return [
                dict(pair_id=pair_id, idx=k, text=w.upper(), norm=w,
                     start=float(k), end=k + 0.5, confidence=0.9)
                for k, w in enumerate(["fixed", "words"])
            ]

        return transcribe

    docs = spark.createDataFrame(
        [(1, "first document"), (2, "second document")], "doc_id long, text string"
    )
    scan_mod.set_asr_backend(fake_factory)
    try:
        got = [
            tuple(r)
            for r in asr_scan(spark, docs).orderBy("pair_id", "idx").collect()
        ]
    finally:
        scan_mod.set_asr_backend(scan_mod._stub_model)
    assert got == [
        (pair_id, k, w.upper(), w, float(k), k + 0.5, 0.9)
        for pair_id in (1, 2)
        for k, w in enumerate(["fixed", "words"])
    ]
    assert scan_mod._BACKEND_FACTORY is scan_mod._stub_model
