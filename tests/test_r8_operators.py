"""Capability/property pins for the r8 operator wave (exact oracle
parity is covered automatically by test_oracle_parity's registry
sweep; these tests pin the SEMANTIC claims the oracles can't express):

* pagerank_coorder — rank mass conservation (up to documented floor-
  division leak), teleport floor, hand-checked convergence on a
  known two-component graph via the same integer recurrence, and the
  symmetric-edge precondition that lets it skip the nodes LEFT JOIN;
* incremental_agg_retract — the merge really removes the retracted
  slice (no zero/negative groups survive, totals match a direct
  aggregate of the kept slice);
* sampled_quantiles_orders — the estimate is a real data value inside
  the group's range, sample is a strict subset, quantiles are ordered;
* bpe_fertility_by_lang — fertility ≥ 1 token/word, chars/token ≥ 1,
  spaceless CJK shows strictly higher fertility than spaced Latin on
  the multilingual fixture.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asr_training_data_pipeline_spark import caching
from asr_training_data_pipeline_spark.api import REGISTRY
from asr_training_data_pipeline_spark.operators.associations import (
    _PR_ITERS,
    _PR_MASS,
    _PR_TELEPORT,
)


def test_pagerank_mass_and_order(spark, sf_dir):
    rows = REGISTRY["pagerank_coorder"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    # top-k ordering is (pr desc, part asc) — a total order
    key = [(-r.pr_micro, r.part) for r in rows]
    assert key == sorted(key)
    # every rank at least the teleport floor; none above total mass
    for r in rows:
        assert r.pr_micro >= 0
        assert r.pr_micro < _PR_MASS
        assert r.out_degree >= 1


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_pagerank_edges_symmetric(spark, sf):
    """pagerank_coorder drops the oracle's ``nodes LEFT JOIN contrib``
    because every node is a destination. That holds only if the edge
    set equals its transpose, so the destinations equal the sources
    (the nodes). The edge frame is the one the query itself holds."""
    REGISTRY["pagerank_coorder"].fn(spark, sf)
    e = caching._SLOTS["pagerank_edges"].select("s", "d")
    t = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    assert e.count() > 0
    assert e.exceptAll(t).count() == 0
    assert t.exceptAll(e).count() == 0
    srcs = e.select(F.col("s").alias("v")).distinct()
    dsts = e.select(F.col("d").alias("v")).distinct()
    assert srcs.exceptAll(dsts).count() == 0
    assert dsts.exceptAll(srcs).count() == 0
    caching.release("pagerank_edges")


def test_pagerank_recurrence_on_known_graph(spark):
    """Two orders: basket {1,2,3} and basket {3,4} — a 4-node graph
    where part 3 bridges. Replays the exact integer recurrence in
    Python and requires the distributed result to equal it."""
    li = spark.createDataFrame(
        [(10, p) for p in (1, 2, 3)] + [(20, p) for p in (3, 4)],
        "l_orderkey long, l_partkey long",
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="pr_sf_")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    edges = {(1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 2), (3, 4), (4, 3)}
    out = {s: sum(1 for a, _ in edges if a == s) for s in (1, 2, 3, 4)}
    pr = {v: _PR_MASS // 4 for v in (1, 2, 3, 4)}
    for _ in range(_PR_ITERS):
        contrib = {v: 0 for v in (1, 2, 3, 4)}
        for s, t in edges:
            contrib[t] += pr[s] // out[s]
        pr = {v: _PR_TELEPORT // 4 + 850 * contrib[v] // 1000 for v in pr}
    got = {
        r.part: r.pr_micro
        for r in REGISTRY["pagerank_coorder"].fn(spark, d).collect()
    }
    assert got == pr
    # the bridge node 3 must outrank the others
    assert max(pr, key=pr.get) == 3


def test_retraction_matches_direct_aggregate(spark, sf_dir):
    from asr_training_data_pipeline_spark.sources.tables import load_table

    res = REGISTRY["incremental_agg_retract"].fn(spark, sf_dir)
    assert res.filter(F.col("n_events") <= 0).count() == 0
    direct = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") % 10) < 8)
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("sum_ms"),
        )
    )
    assert res.count() == direct.count()
    assert res.exceptAll(direct).count() == 0


def test_sampled_quantiles_are_data_values(spark, sf_dir):
    rows = REGISTRY["sampled_quantiles_orders"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_sample < r.n_full
        assert r.p25 <= r.p50 <= r.p90
        assert r.p25_est <= r.p50_est <= r.p90_est
        assert r.err_p50_cents >= 0


@pytest.fixture(scope="module")
def multilingual_sf_dir(sf_dir):
    import shutil
    import tempfile

    import duckdb

    d = tempfile.mkdtemp(prefix="fert_sf_")
    duckdb.sql(
        """COPY (SELECT * FROM (VALUES
             (1, '机器学习模型需要大量训练数据', 'zh', 's', 14),
             (2, '训练数据质量决定语言模型效果', 'zh', 's', 14),
             (3, 'the quick brown fox jumps over the lazy dog', 'en', 's', 44),
             (4, 'training data quality drives the model results', 'en', 's', 47)
           ) AS t(doc_id, text, lang, source, n_chars))
           TO '{}/documents.parquet' (FORMAT PARQUET)""".format(d)
    )
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ):
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    return d


def test_tf_cosine_is_repetition_aware(spark, sf_dir):
    """The capability that distinguishes weighted (count-vector)
    similarity from the set family: docs 1 and 2 interleave the SAME
    two phrases with OPPOSITE repetition (P×10+Q vs P+Q×10), so their
    shingle SETS are near-identical — set-Jaccard merges them — while
    their count vectors point apart and cosine correctly refuses (the
    CCNet-era repetition-spam failure mode). Exact duplicates still
    score cos² = 1.0 exactly."""
    import shutil
    import tempfile

    import duckdb

    p = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon")
    q = ("one two three four five six seven eight nine ten "
         "eleven twelve thirteen fourteen fifteen sixteen seventeen "
         "eighteen nineteen twenty")
    a = " ".join([p] * 10 + [q])
    b = " ".join([p] + [q] * 10)
    c = "an exact duplicate body with distinct shingle content inside here"
    d_dir = tempfile.mkdtemp(prefix="tfc_sf_")
    duckdb.sql(
        """COPY (SELECT * FROM (VALUES
             (1, '{a}', 'en', 's', 10),
             (2, '{b}', 'en', 's', 10),
             (3, '{c}', 'en', 's', 10),
             (4, '{c}', 'en', 's', 10)
           ) AS t(doc_id, text, lang, source, n_chars))
           TO '{d}/documents.parquet' (FORMAT PARQUET)""".format(
            a=a, b=b, c=c, d=d_dir
        )
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{d_dir}/{t}.parquet")
    cos_pairs = {
        (r.doc_a, r.doc_b): r.cos2_ppm
        for r in REGISTRY["dedup_tf_cosine"].fn(spark, d_dir).collect()
    }
    assert cos_pairs.get((3, 4)) == 1_000_000  # exact dup: cosine 1
    assert (1, 2) not in cos_pairs  # repetition-skewed pair refused
    jac_pairs = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, d_dir).collect()
    }
    assert (1, 2) in jac_pairs  # …but the SET method merges it


@pytest.fixture(scope="module")
def curation_docs_sf_dir(sf_dir):
    """Multi-paragraph docs with shared boilerplate + Gopher-rule
    violations, for dedup_paragraph and gopher_quality_flags."""
    import shutil
    import tempfile

    import duckdb

    d = tempfile.mkdtemp(prefix="cur8_sf_")
    filler = " ".join(f"w{i} of the and that" for i in range(12))
    duckdb.sql(
        f"""COPY (SELECT * FROM (VALUES
             (1, 'COOKIE BANNER' || chr(10) || 'unique first body {filler}'
                 || chr(10) || 'shared footer text', 'en', 's', 10),
             (2, 'COOKIE BANNER' || chr(10) || 'unique second body {filler}'
                 || chr(10) || 'shared footer text', 'en', 's', 10),
             (3, 'COOKIE BANNER' || chr(10) || '' || chr(10) || 'COOKIE BANNER', 'en', 's', 10),
             (4, 'good document with the usual words of prose and that tone {filler}', 'en', 's', 10),
             (5, '- bullet one' || chr(10) || '- bullet two' || chr(10) || '- bullet three', 'en', 's', 10),
             (6, 'a b c d e f g h', 'en', 's', 10),
             (7, '#### #### #### trailing dots... more... and more... {filler}', 'en', 's', 10)
           ) AS t(doc_id, text, lang, source, n_chars))
           TO '{{}}/documents.parquet' (FORMAT PARQUET)""".format(d)
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    return d


def test_paragraph_dedup_strips_boilerplate(spark, curation_docs_sf_dir):
    from asr_training_data_pipeline_spark.testing import run_oracle
    from asr_training_data_pipeline_spark.api import oracles
    from asr_training_data_pipeline_spark.testing import compare_frames

    spdf = REGISTRY["dedup_paragraph"].fn(spark, curation_docs_sf_dir).toPandas()
    compare_frames(
        spdf, run_oracle(oracles()["dedup_paragraph"], curation_docs_sf_dir),
        "dedup_paragraph",
    )
    rows = {int(r.doc_id): r for _, r in spdf.iterrows()}
    # doc 1 owns the banner + footer; doc 2 keeps only its unique body
    assert rows[1].n_kept == 3 and rows[1].kept_ppm == 1_000_000
    assert rows[2].n_kept == 1 and "unique second body" in rows[2].cleaned_text
    assert "COOKIE BANNER" not in rows[2].cleaned_text
    # doc 3 (banner twice, empty line dropped): everything lost
    assert rows[3].n_kept == 0 and rows[3].cleaned_text == ""
    # reassembly preserves original paragraph order
    assert rows[1].cleaned_text.split("\n")[0] == "COOKIE BANNER"


def test_gopher_flags_fire_per_rule(spark, curation_docs_sf_dir):
    rows = {
        r.doc_id: r
        for r in REGISTRY["gopher_quality_flags"].fn(spark, curation_docs_sf_dir).collect()
    }
    assert rows[4].keep, rows[4]  # prose doc passes every rule
    assert not rows[5].keep and rows[5].bullet_ppm == 1_000_000
    assert not rows[6].keep and rows[6].n_words < 50
    assert not rows[7].keep and rows[7].symbol_ppm > 100_000


def test_fertility_ranks_spaceless_scripts_higher(spark, multilingual_sf_dir):
    rows = {
        r.lang: r
        for r in REGISTRY["bpe_fertility_by_lang"].fn(spark, multilingual_sf_dir).collect()
    }
    for r in rows.values():
        assert r.fertility_ppm >= 1_000_000  # ≥1 token per word
        assert r.chars_per_token_ppm >= 1_000_000  # ≥1 char per token
        assert r.n_tokens >= r.n_words and r.n_chars >= r.n_tokens
    # a spaceless 14-char CJK "word" fragments into many more subword
    # tokens than spaced English words do
    assert rows["zh"].fertility_ppm > rows["en"].fertility_ppm
