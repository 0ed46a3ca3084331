"""Public accessor module: importing it populates the full query
registry (each operator module registers its queries on import)."""

from __future__ import annotations

from . import queries as core_queries  # noqa: F401  (relational/window/scalar core)
from .operators import asof, associations, curation, dedup, dsp, layout, mllib_fe, multimodal, similarity, sketches, text_analysis  # noqa: F401
from .plans import pipeline  # noqa: F401
from .registry import REGISTRY, bench_queries, oracles, queries  # noqa: F401
from .sinks import exports  # noqa: F401
from .streaming import stateful, windows  # noqa: F401

# ---------------------------------------------------------------------
# Registry ordering (driver-visibility contract).
#
# The correctness harness checks a bounded prefix of the registry
# (every round so far: exactly the first 50), so dict order decides
# which queries get a CORRECTNESS row each round. Standing policy:
# the flagship and any driver REDS always stay; queries whose code
# changed since their last green re-enter for re-validation; brand-new
# operators get first-round exposure; remaining slots pay down
# verification debt (members with the fewest cumulative greens first).
# Everything rotated out stays covered by tests/test_oracle_parity.py
# on every suite run.
# ---------------------------------------------------------------------

_PRIORITY = (
    # ------------------------------------------------------------------
    # r13 rotation wave 10 (VERDICT r12 task 1 + the standing queue
    # note below, recomputed from CORRECTNESS_r02-r12 — no member is
    # red or single-green after wave 9, so the changed-code rule and
    # the debt queue fill every slot). Composition of the 50:
    #   * flagship word_coverage;
    #   * changed-code re-validations FIRST (repo policy api.py:16-22):
    #     the five r12 carried-n Jaccard consumers whose plan changed
    #     in 6d3a753 AFTER the wave-9 rotation landed (VERDICT r12
    #     What's-wrong #1: dedup_ngram_jaccard, dedup_components,
    #     dedup_cluster_stats, dedup_canonical, snm_recall_eval), then
    #     every query whose plan the r13 optimization round changed:
    #     dedup_ngram_jaccard_stopshingle + dedup_tf_cosine (window-
    #     form carried-n), pagerank_coorder (iteration join cut),
    #     dedup_minhash_lsh + dedup_rate_by_source_fast (one-exchange
    #     signature collapse; rows-only — pytest-pinned, re-run for
    #     rows evidence);
    #   * the standing rows-only pipeline composites asr_pipeline_clips
    #     + asr_pipeline_summary (eleventh rows each);
    #   * verification debt, oldest last-green twos first (the whole
    #     remaining ledger is at >=2 greens): num_to_words_sizes (r3),
    #     the r5 block (curation_funnel, pii_scrub, profile_documents,
    #     repetition_signals, stratified_sample, unigram_perplexity),
    #     the r6 block (ann_sq8_topk, kmeans_embeddings,
    #     streaming_curation_gate, streaming_interval_join,
    #     zorder_layout_events), the full r7 block (15), and the first
    #     ten r8 twos alphabetically (basket_lift .. sink_training_
    #     shards).
    # Funded by retiring the wave-9 members CORRECTNESS_r12 confirmed
    # green (all 50). Every retiree stays DuckDB-checked on every
    # suite run via tests/test_oracle_parity.py.
    # ------------------------------------------------------------------
    "word_coverage",
    "dedup_ngram_jaccard",
    "dedup_components",
    "dedup_cluster_stats",
    "dedup_canonical",
    "snm_recall_eval",
    "dedup_ngram_jaccard_stopshingle",
    "dedup_tf_cosine",
    "pagerank_coorder",
    "dedup_minhash_lsh",
    "dedup_rate_by_source_fast",
    "asr_pipeline_clips",
    "asr_pipeline_summary",
    "num_to_words_sizes",
    "curation_funnel",
    "pii_scrub",
    "profile_documents",
    "repetition_signals",
    "stratified_sample",
    "unigram_perplexity",
    "ann_sq8_topk",
    "kmeans_embeddings",
    "streaming_curation_gate",
    "streaming_interval_join",
    "zorder_layout_events",
    "ann_ivf_topk",
    "ann_lsh_buckets",
    "ann_pq_rerank",
    "ann_pq_topk",
    "bigram_perplexity",
    "corpus_curation_multimodal",
    "curation_signals_fused",
    "dedup_bloom_probe",
    "embedding_drift",
    "fk_integrity_audit",
    "heavy_hitter_words",
    "linreg_closed_form",
    "logreg_irls_probe",
    "profile_events",
    "snapshot_diff",
    "basket_lift",
    "bpe_vocab",
    "cms_join_size",
    "dedup_incremental",
    "event_rate_anomalies",
    "funnel_stages",
    "pack_sequences",
    "pmi_collocations",
    "rfm_segments",
    "sink_training_shards",
)
# Rotation queue for the NEXT (wave-11) prefix refresh, in order:
# (a) re-greens for anything wave 10 leaves single-green or red;
# (b) queries whose code changes after the wave-10 rotation lands
#     (repo policy above — lead with them);
# (c) the remaining oldest last-green twos by round: the rest of the
#     r8 block (streaming_distinct_hll, train_test_split, ...), the
#     r9/r10/r11 twos, then the oldest 3-green members by last-green
#     round (sessionize_events, ann_lsh_topk, lang_id_heuristic,
#     token_count, corpus_curation, streaming_tumbling_counts, ... —
#     recompute the ledger from CORRECTNESS_r02-r13 as always);
# (d) twelfth rows for the standing pipeline composites.
# Fund slots by retiring whichever members CORRECTNESS_r13 confirms
# at ≥2 cumulative greens.


def _reorder_registry() -> None:
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:  # fail loudly: a rename would silently demote coverage
        raise RuntimeError(f"priority list references unknown queries: {missing}")
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    ordered.update({n: q for n, q in REGISTRY.items() if n not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()

__all__ = ["REGISTRY", "bench_queries", "oracles", "queries"]


def create_views(spark, sf_dir: str) -> None:
    """Register every star-schema table as a temp view (normalized
    timestamps, UTC pin) so users can ``spark.sql`` against the same
    relations the registry queries and the DuckDB oracle see."""
    from .sources.tables import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_sql_functions(spark) -> None:
    """Expose the scalar layer to SQL users: ``normalize_word(x)``,
    ``tokenize_text(x)``, ``ws_tokens(x)`` and ``num_to_words(x)``
    become callable from ``spark.sql`` strings. The Column helpers are
    mirrored as SQL UDFs (CREATE TEMPORARY FUNCTION ... RETURN) over
    the same Catalyst built-ins — full codegen, no Python; equivalence
    with the DataFrame layer is locked by tests/test_functions.py.
    Only ``num_to_words`` is a Python UDF, by the same design as the
    column layer (digits branch, C2)."""
    from .functions.text import num_to_words

    spark.udf.register(
        "num_to_words",
        # isdigit() alone accepts superscript/subscript digits that
        # int() rejects; require ascii so the UDF nulls, never throws
        lambda s: num_to_words(int(s))
        if s is not None and str(s).isascii() and str(s).isdigit()
        else None,
        "string",
    )
    bodies = (
        (
            "normalize_word",
            "STRING",
            "nullif(translate(regexp_replace(lower(x),"
            " '[^a-z0-9\\'\\-]', ''), '\\'-', ''), '')",
        ),
        ("tokenize_text", "ARRAY<STRING>",
         "regexp_extract_all(x, \"[A-Za-z0-9'-]+\", 0)"),
        ("ws_tokens", "ARRAY<STRING>", "split(lower(x), '\\\\s+')"),
    )
    for name, rtype, body in bodies:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(x STRING) "
            f"RETURNS {rtype} RETURN {body}"
        )
