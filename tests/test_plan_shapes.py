"""Plan-shape assertions for the hot queries: the physical plan IS
the 100 TB design, so lock the properties that make it scale —
column-pruned scans, single Python boundaries, exchange counts —
against regressions. (Join-strategy shapes for the relational queries
live in tests/test_relational_extra.py; bucketing in
tests/test_bucketing.py.)"""

from __future__ import annotations

import re

from asr_training_data_pipeline_spark.api import REGISTRY


def _executed_plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_word_coverage_scan_prunes_to_text(spark, sf_dir):
    plan = _executed_plan(spark, sf_dir, "word_coverage")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet scan in plan"
    for s in schemas:
        assert s == "text:string", f"scan reads more than the text column: {s}"


def test_minhash_signature_computed_once(spark, sf_dir):
    """The signature kernel must execute exactly once per action, and
    — since the r11 JVM kernel — the WHOLE plan must be Python-free:
    no ArrowEvalPython/BatchEvalPython anywhere. Since r13 the
    kernel-once property is structural, not a cache: every consumer
    (reps for banding ×2, members for the expansion joins ×4) is a
    filter above ONE signature-keyed exchange — rep_id/group_size are
    window functions over skey, not a groupBy + member join-back — so
    AQE's stage cache materializes that exchange's map stage (the
    kernel) once even before the lazy read-amortizer cache fills.
    Locked here: exactly ONE distinct skey-keyed exchange in the whole
    executed plan (the r12 shape had a second one for the sigs⋈multi
    join-back), NO join keyed on skey, the windowed frame's slot-held
    cache present, and the final Union of the r7 re-expansion
    (rep-pair cross × intra pairs)."""
    name = "dedup_minhash_lsh"
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()  # final adaptive plan carries the evidence
    plan = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    # the read-amortizer cache of the WINDOWED frame (lazy; not a
    # kernel barrier — see dedup.minhash_lsh_pairs)
    assert "InMemoryTableScan" in plan
    # ONE skey exchange: collapse, reps and members share it
    skey_ids = set(re.findall(r"Exchange hashpartitioning\((skey#\d+)", plan))
    assert len(skey_ids) == 1, skey_ids
    # the r12 member join-back (a join keyed on skey) must stay gone
    joins_on_skey = [
        ln for ln in plan.splitlines() if "Join" in ln and "skey" in ln
    ]
    assert not joins_on_skey, joins_on_skey[:2]
    # the re-expansion: cross (rep-pair × members²) ∪ intra pairs
    assert "Union" in plan


def _plan_nodes(plan, stop=()) -> list:
    """Physical operator nodes of a JVM plan tree, descending through
    AQE wrappers, query stages and cached relations (an
    InMemoryTableScan's ``relation().cachedPlan()``), except into the
    relations whose cache builder is in ``stop``."""
    nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        nodes.append(node)
        name = node.nodeName()
        if name == "InMemoryTableScan":
            rel = node.relation()
            if not any(rel.cacheBuilder().equals(b) for b in stop):
                stack.append(rel.cachedPlan())
        elif name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif name == "ReusedExchange":
            stack.append(node.child())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def test_export_is_one_kernel_over_pcm_references(spark, sf_dir):
    """The whole export — the returned manifest's plan and the frame it
    holds, down to the stages ``full_pipeline`` pins (their own plan is
    the pipeline's) — runs ONE Python kernel, the per-pair
    FlatMapGroupsInPandas that gates and writes: no MapInPandas gate
    beside it, no union of manifests, and no PCM samples anywhere (no node outputs
    ``samples``, no ``sequence(`` expression builds them)."""
    from asr_training_data_pipeline_spark import caching

    df = REGISTRY["sink_export_manifest"].fn(spark, sf_dir)
    cache = spark._jsparkSession.sharedState().cacheManager()
    pins = [
        cache.lookupCachedData(held._jdf).get().cachedRepresentation().cacheBuilder()
        for slot, held in caching._SLOTS.items()
        if slot.startswith("pipeline_")
    ]
    assert pins
    nodes = _plan_nodes(df._jdf.queryExecution().sparkPlan(), stop=pins)
    names = [n.nodeName() for n in nodes]
    outputs = {a.name() for n in nodes for a in _seq(n.output())}
    exprs = [e.toString() for n in nodes for e in _seq(n.expressions())]
    spark.catalog.clearCache()
    assert names.count("FlatMapGroupsInPandas") == 1, names
    assert "MapInPandas" not in names, names
    assert "Union" not in names, names
    assert "samples" not in outputs, outputs
    assert not [e for e in exprs if "sequence(" in e]


def test_alignment_queries_never_shuffle_word_rows(spark, sf_dir):
    """The registered J1/W1 queries align each pair's two token arrays
    where the document row carries them: no join of per-side arrays and
    no aggregate rebuilding them from word rows."""
    aggregates = {"HashAggregate", "SortAggregate", "ObjectHashAggregate"}
    for name in ("lcs_align_runs", "bridge_runs_sessions"):
        plan = REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        names = [n.nodeName() for n in _plan_nodes(plan)]
        assert not [n for n in names if "Join" in n], (name, names)
        assert not aggregates & set(names), (name, names)


def test_corpus_curation_single_exchange(spark, sf_dir):
    """Scoring happens before the one content-hash shuffle; the
    exchange must carry scalars only (no token arrays)."""
    plan = _executed_plan(spark, sf_dir, "corpus_curation")
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1, exchanges
    assert "content_hash" in exchanges[0]
    assert "split" not in exchanges[0]  # token arrays stay pre-shuffle


def test_ann_cosine_topk_no_vector_shuffle(spark, sf_dir):
    """The query set broadcasts; embedding vectors must never ride a
    hash exchange (only the scored scalars do)."""
    plan = _executed_plan(spark, sf_dir, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in part and "ve" not in part.split(","), part


def test_sessionize_reuses_one_shuffle(spark, sf_dir):
    """lag → flag → cumulative session id → groupBy: all window and
    aggregate steps run on ONE user_id hash partitioning."""
    plan = _executed_plan(spark, sf_dir, "sessionize_events")
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    keyed = [e for e in exchanges if "user_id" in e]
    assert len(keyed) <= 1, exchanges


def test_scan_only_curation_plans(spark, sf_dir):
    """pii_scrub / repetition_signals / stratified_sample are pure
    scan-side transforms: zero exchanges, pruned ReadSchema."""
    from asr_training_data_pipeline_spark.api import REGISTRY

    spark.catalog.clearCache()
    for name, cols in (
        ("pii_scrub", "doc_id:bigint,text:string"),
        ("repetition_signals", "doc_id:bigint,text:string"),
        ("stratified_sample", "doc_id:bigint,lang:string"),
    ):
        plan = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 0, name
        assert f"struct<{cols}>" in plan, name  # column pruning reached the scan


def test_sq8_topk_no_vector_shuffle(spark, sf_dir):
    """Quantized search keeps ann_cosine_topk's shape: queries
    broadcast, and neither the raw embeddings nor the quantized
    vectors ever ride a hash exchange."""
    plan = _executed_plan(spark, sf_dir, "ann_sq8_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in part and "qv" not in part.split(","), part


def test_canonical_manifest_joins_back_on_doc_id(spark, sf_dir):
    """The survivor manifest (clustered docs only) joins back to the
    corpus scan keyed on doc_id as a left-outer — UNHINTED since r11
    (VERDICT r10 task 2): on a sparse-dup fixture AQE is free to pick
    broadcast from the manifest's measured size, but the hint that
    FORCED it (an OOM on a dup-heavy 100 TB corpus where the manifest
    is O(corpus)) is gone. The degradation direction is locked by
    test_canonical_joinback_broadcast_is_aqe_not_forced below; here we
    lock the join key/type and that the corpus side never exchanges on
    component (a component-keyed exchange is fine BELOW the join:
    that's the survivor window over the tiny clustered frame)."""
    plan = _executed_plan(spark, sf_dir, "dedup_canonical")
    m = re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\n]*", plan)
    assert m, "no join in plan"
    top_join = m.group(0)
    assert "doc_id" in top_join and "LeftOuter" in top_join, top_join


def test_bottomk_prefilter_precedes_window(spark, sf_dir):
    """The margin pre-filter must run scan-side (before the lang
    exchange feeding the window), and the stratum counts must arrive
    by broadcast."""
    plan = _executed_plan(spark, sf_dir, "bottomk_sample_per_lang")
    assert "BroadcastHashJoin" in plan
    # the filter on the hash fraction appears below the window's
    # lang-keyed exchange: no Window node before the first Exchange
    head = plan.split("Exchange hashpartitioning", 1)[0]
    assert "Window" in head  # window is the exchange CONSUMER (printed above it)


def test_contamination_benchmark_broadcasts(spark, sf_dir):
    """The benchmark shingle set must arrive by broadcast: the CORPUS
    (streamed) side never hash-shuffles by shingle — its only exchange
    is the final doc_id aggregation. (A shingle exchange INSIDE the
    broadcast build subtree is fine: that's the tiny benchmark set's
    distinct; the streamed side prints above BroadcastExchange.)"""
    plan = _executed_plan(spark, sf_dir, "contamination_check")
    assert "BroadcastHashJoin" in plan
    corpus_side = plan.split("BroadcastExchange", 1)[0]
    for part in re.findall(
        r"Exchange hashpartitioning\(([^)]*)\)", corpus_side
    ):
        keyed = part.split(",")[0].strip()
        assert not keyed.startswith("shingle"), part


def test_bigram_score_tables_broadcast(spark, sf_dir):
    """The quantized LM tables must arrive at the token stream by
    broadcast: every join in the plan is a BroadcastHashJoin (no
    SortMergeJoin), so the scored per-token rows never hash-shuffle on
    a word key — their only exchange is the final doc_id aggregation.
    (Word-keyed exchanges below the broadcast builds are the
    train-side vocabulary groupBys: vocabulary-sized, not
    token-stream-sized.) Past the broadcast budget the documented
    fallback is a bucket-join on the word key — see
    bigram_perplexity's docstring."""
    plan = _executed_plan(spark, sf_dir, "bigram_perplexity")
    assert plan.count("SortMergeJoin") == 0, "LM table join fell back to SMJ"
    assert plan.count("BroadcastHashJoin") >= 3  # lu (first), lb, lu2
    doc_exchanges = [
        e
        for e in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "doc_id" in e
    ]
    assert len(doc_exchanges) == 1, doc_exchanges


def test_heavy_hitters_candidates_broadcast(spark, sf_dir):
    """Pass 2's exact recount must probe the Misra-Gries candidate set
    by broadcast: the token stream hash-shuffles only AFTER the
    candidate semi-join cuts it to heavy-hitter tokens (map-side
    combined to ≤ capacity·partitions partial rows). No sort-merge
    join anywhere — the full vocabulary never rides an exchange."""
    plan = _executed_plan(spark, sf_dir, "heavy_hitter_words")
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


def test_exact_quantiles_no_value_buffering(spark, sf_dir):
    """The two-pass quantile must never use Spark's percentile buffer
    aggregate (which collects every group value on one reducer) and
    must fetch its chosen bucket keys by broadcast — the scan streams
    twice, values never concentrate."""
    plan = _executed_plan(spark, sf_dir, "exact_quantiles_orders")
    assert "percentile" not in plan.lower()
    assert plan.count("SortMergeJoin") == 0
    assert "BroadcastHashJoin" in plan


def test_kmeans_assignment_no_window_no_vector_shuffle(spark, sf_dir):
    """Centroid assignment is a scan-side argmin over the K literal
    centroids: no Window node anywhere (the old per-vector ranking
    window shuffled the whole corpus, vectors included), and the only
    exchanges are the cid partial-sum aggregation and the final
    scalar orderBy."""
    plan = _executed_plan(spark, sf_dir, "kmeans_embeddings")
    assert "Window" not in plan
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keyed = part.split(",")[0].strip()
        assert keyed.startswith("cid"), part


def test_ivf_corpus_assignment_scan_side(spark, sf_dir):
    """The corpus side assigns by scan-side argmax over collected
    centroid literals — no exchange partitioned on neighbor_id alone
    (the old shape shuffled every vector through a per-vector ranking
    window); the only windows left are the tiny query probe and the
    final per-query rank."""
    plan = _executed_plan(spark, sf_dir, "ann_ivf_topk")
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = [k.strip().split("#")[0] for k in part.split(",")[:-1]]
        assert keys != ["neighbor_id"], part


def test_pq_vectors_never_shuffle(spark, sf_dir):
    """PQ encode+score is one Arrow pass over the scan: the kernel
    emits only (query_id, neighbor_id, approx_d2) scalars, so the only
    hash exchange after the scan carries the ranking rows — never the
    subvector arrays — and no join appears at all (LUTs ship in the
    kernel closure)."""
    plan = _executed_plan(spark, sf_dir, "ann_pq_topk")
    assert "SortMergeJoin" not in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan, plan[:1500]
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "qe" not in part and not re.search(r"\bs[0-3]#", part), part


def test_unigram_score_table_broadcast(spark, sf_dir):
    """Like the bigram lock: the unigram frequency table must reach
    the token stream by broadcast — no sort-merge join (which would
    shuffle one row per token), only the doc_id aggregation exchanges
    the scored stream."""
    plan = _executed_plan(spark, sf_dir, "unigram_perplexity")
    assert plan.count("SortMergeJoin") == 0
    assert "BroadcastHashJoin" in plan


def test_fk_audit_dimensions_broadcast(spark, sf_dir):
    """The four dimension-keyed checks must probe by broadcast; no
    exchange may carry anything but bare keys (the one fact-fact
    check's shuffle)."""
    plan = _executed_plan(spark, sf_dir, "fk_integrity_audit")
    assert "BroadcastHashJoin" in plan
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        cols = [k.strip().split("#")[0] for k in part.split(",")[:-1]]
        assert all(c in ("k",) for c in cols), part


def test_snapshot_diff_shuffles_hashes_only(spark, sf_dir):
    """The full-outer compare exchanges ids and 32-char hashes —
    never the text bodies."""
    plan = _executed_plan(spark, sf_dir, "snapshot_diff")
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in part, part


def test_glm_probes_have_no_shuffle_joins(spark, sf_dir):
    """Both probes reduce to global aggregates plus broadcast 1-row
    model frames: a SortMergeJoin anywhere means the model frame
    stopped broadcasting."""
    for q in ("linreg_closed_form", "logreg_irls_probe"):
        plan = _executed_plan(spark, sf_dir, q)
        assert "SortMergeJoin" not in plan, q


def test_sq8_staged_max_survives_collapse_project(spark, sf_dir):
    """sq8_index_frame stages the per-row |x| max into its OWN Project
    (a monotonically_increasing_id barrier blocks CollapseProject);
    lambda bodies get no common-subexpression elimination, so if a
    Catalyst change ever substitutes the max back into the quantize
    lambda the per-row cost silently becomes O(d²). Pin the staged
    shape: the quantize lambda (FLOOR) must reference the max through
    a plain column, never compute array_max inline."""
    plan = _executed_plan(spark, sf_dir, "ann_sq8_topk")
    lines = plan.split("\n")
    quantize = [l for l in lines if "FLOOR" in l and "127.0" in l]
    assert quantize, "quantize projection not found in plan"
    for l in quantize:
        assert "array_max" not in l, l
    assert any(
        "array_max" in l and re.search(r"\) AS mx#\d+", l) for l in lines
    ), "staged max projection missing"


def test_basket_lift_broadcast_prune_and_topk(spark, sf_dir):
    """The a-priori item-count frame must BROADCAST onto the basket
    scan (never a shuffle join — it is tiny after the support
    threshold), the final top-k must be a TakeOrdered (per-partition
    top-k + driver merge, never a global sort), and the lineitem scan
    must prune to the two key columns."""
    plan = _executed_plan(spark, sf_dir, "basket_lift")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet scan in plan"
    # the basket-count branch prunes all the way to l_orderkey alone
    for s in schemas:
        assert set(s.split(",")) <= {
            "l_orderkey:bigint",
            "l_partkey:bigint",
        }, s


def test_snm_rank_window_is_bucket_partitioned(spark, sf_dir):
    """sorted_neighborhood_pairs' global rank is the two-level
    distributed_rank: the corpus-sized window must partition by the
    key-prefix bucket. No Window node may run unpartitioned over the
    corpus — the only single-partition cumsum (the bucket-offset
    frame) carries an explicit literal partition key, so an empty
    partition spec anywhere is a regression to the serialized rank."""
    plan = _executed_plan(spark, sf_dir, "sorted_neighborhood_pairs")
    wins = re.findall(r"Window \[.*?\], \[([^\]]*)\], \[", plan)
    assert wins, "no window in plan"
    for spec in wins:
        assert spec.strip(), "unpartitioned window over the corpus"
    assert any("_bkt" in w for w in wins), wins


def test_transition_matrix_single_corpus_exchange(spark, sf_dir):
    """The lag window's user_id hash partitioning is the ONLY
    corpus-sized exchange (ONE scan, ONE window — a totals join that
    recomputed the corpus for the build side is the regression this
    pins); per-src totals come from a window over the already-reduced
    |event_types|²-row matrix frame."""
    plan = _executed_plan(spark, sf_dir, "event_transition_matrix")
    user_keyed = [
        e
        for e in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "user_id" in e
    ]
    assert len(user_keyed) == 1, user_keyed
    assert plan.count("FileScan parquet") == 1, "events scanned more than once"
    assert "SortMergeJoin" not in plan


def test_record_linkage_no_cartesian(spark, sf_dir):
    """Candidate generation must stay an equi-join on the block key —
    a nested-loop join anywhere means the blocking stopped containing
    the quadratic."""
    plan = _executed_plan(spark, sf_dir, "record_linkage_fuzzy")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_ranks_are_bucket_partitioned(spark, sf_dir):
    """All three RFM metric ranks use the two-level distributed_rank —
    no Window node may run unpartitioned over the customer population
    (the oracle's three global ROW_NUMBERs are exactly the shape this
    operator exists to avoid)."""
    plan = _executed_plan(spark, sf_dir, "rfm_segments")
    wins = re.findall(r"Window \[.*?\], \[([^\]]*)\], \[", plan)
    assert wins, "no window in plan"
    for spec in wins:
        assert spec.strip(), "unpartitioned window over the customers"
    assert sum("_bkt" in w for w in wins) >= 3, wins


def test_ppjoin_no_cartesian_and_thin_prefix(spark, sf_dir):
    """The PPJoin candidate stage stays an equi-join on the indexed
    shingle (a nested-loop join anywhere means the prefix index
    stopped containing the quadratic), and the prefix slice is in the
    plan (the n - ceil(t*n) + 1 arithmetic), so a refactor can't
    silently index the full token list."""
    plan = _executed_plan(spark, sf_dir, "dedup_ppjoin")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "slice(" in plan, "prefix slice missing from plan"


def test_pagerank_edges_cached_and_iterations_reuse(spark, sf_dir):
    """The edge frame must be persisted and every iteration must read
    the cache — the basket self-join (keyed on the order key) may
    exist ONLY inside the cached relation's fill plan, never re-derived
    by an iteration. r13 rewrote the old partitioning half of this
    lock: it asserted no s-keyed exchange in the text segment before
    the first InMemoryRelation print, which (a) was print-order
    dependent and (b) asserted something the runtime never guaranteed —
    AQE plans the action before the cache materializes, so the initial
    plan legitimately carries ENSURE_REQUIREMENTS s-exchanges above the
    cache for the iteration joins (canonically identical; see the
    operator's comment and the measured whole-query shuffle bytes in
    OPTIMIZATION_r13.md). What IS guaranteed, and locked here: the
    basket join runs once (cache), iterations above the first cache
    reference never touch the basket key, r13's per-iteration node
    left-join stays gone, and the final top-50 is a TakeOrdered."""
    plan = _executed_plan(spark, sf_dir, "pagerank_coorder")
    assert "InMemoryTableScan" in plan, "edges not cached"
    # nothing above the first cache reference re-derives the basket
    # self-join: the order-key attribute must not appear there
    outside = plan.split("InMemoryRelation", 1)[0]
    assert "ok#" not in outside, "basket self-join re-derived above the cache"
    # r13: the per-iteration nodes LEFT JOIN contrib is structurally
    # gone (the symmetric graph makes it a row-identical no-op)
    assert "LeftOuter" not in plan, "iteration node left-join resurrected"
    # the final top-50 is a TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_sampled_quantiles_share_the_histogram_shape(spark, sf_dir):
    """Both the exact and the sampled side must run the bucket-
    histogram + targeted-recount shape — no percentile buffer
    aggregate anywhere, bucket targets arriving by broadcast on both
    paths."""
    plan = _executed_plan(spark, sf_dir, "sampled_quantiles_orders")
    assert "percentile" not in plan.lower()
    assert plan.count("BroadcastHashJoin") >= 2, "bucket targets not broadcast"


def test_dsir_lambda_table_broadcasts(spark, sf_dir):
    """The B=4096 λ table must BROADCAST to the feature stream (it is
    constant-size in corpus volume — the whole point of hashed-ngram
    LMs), and the only hash exchanges may carry the bucket id or the
    doc_id — never token/gram columns."""
    plan = _executed_plan(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    exchange_keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for k in exchange_keys:
        assert k.lstrip().startswith(("b#", "doc_id#")), exchange_keys
    # no sort-merge join anywhere: every join side is broadcast-sized
    assert "SortMergeJoin" not in plan


def test_kcenter_assignment_no_shuffle_no_window(spark, sf_dir):
    """The final assignment is ONE scan against center literals: no
    Window over the corpus, no join, no hash exchange of vectors —
    the only allowed exchanges serve the output orderBy (range
    partitioning) — and the argmin is the scan-side sorted candidate
    array."""
    plan = _executed_plan(spark, sf_dir, "kcenter_coreset")
    spark.catalog.clearCache()
    assert "Window" not in plan
    assert "Join" not in plan  # centers are literals, never a joined frame
    assert "Exchange hashpartitioning" not in plan
    assert "array_sort" in plan


def test_cjk_residue_no_cartesian(spark, sf_dir):
    """The residue path must keep the main path's shape: block
    equi-join (never a cartesian), length bound before the edit
    distance."""
    plan = _executed_plan(spark, sf_dir, "linkage_cjk_residue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_phash_pair_join_is_banded_equi_join(spark, sf_dir):
    """The pHash near-dup join must be a hash equi-join on band keys —
    never a cartesian/Hamming scan — and exactly ONE Python boundary
    (the DCT kernel) may exist in the plan."""
    plan = _executed_plan(spark, sf_dir, "multimodal_phash_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    outside = plan.split("InMemoryRelation", 1)[0]
    assert outside.count("ArrowEvalPython") + outside.count("MapInPandas") <= 2
    assert "bit_count" in plan  # popcount verify is JVM-side codegen


def test_rate_by_source_counts_broadcast(spark, sf_dir):
    """The per-source count table joins as a broadcast (|sources|
    rows); the pair frame must never sort-merge against it."""
    plan = _executed_plan(spark, sf_dir, "dedup_rate_by_source")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_q7_dimensions_broadcast_single_fact_shuffle(spark, sf_dir):
    """Both nation roles and supplier broadcast; the only co-shuffle
    is orders⋈lineitem (plus agg exchanges) — the fact table must not
    re-shuffle for any dimension."""
    plan = _executed_plan(spark, sf_dir, "q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q21_probes_are_semi_and_anti(spark, sf_dir):
    """The Q21 decorrelation: one LeftSemi and one LeftAnti against
    the same fact, no row-duplicating inner join for the EXISTS."""
    plan = _executed_plan(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_threshold_is_broadcast_not_collect(spark, sf_dir):
    """The scalar-average threshold enters the plan as a broadcast of
    a 1-row aggregate (BroadcastNestedLoopJoin over the crossJoin is
    fine at 1 row), never via a driver collect; the orders anti-join
    stays a hash join shipping only o_custkey."""
    plan = _executed_plan(spark, sf_dir, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_q6_filters_reach_the_scan(spark, sf_dir):
    """TPC-H Q6 is the pushdown probe: the shipdate/discount/quantity
    predicates must appear as parquet PushedFilters, the scan must
    read only the four referenced columns, and no join may exist."""
    plan = _executed_plan(spark, sf_dir, "q6_forecast_revenue")
    # toString truncates long filter lists ("...,"), so assert presence
    # rather than parsing to the closing bracket
    pushed = plan.split("PushedFilters: [", 1)
    assert len(pushed) == 2, "no pushed-filter section on the scan"
    assert "IsNotNull" in pushed[1][:200]
    # all three predicate columns reach the scan's DataFilters
    data = plan.split("DataFilters: [", 1)
    assert len(data) == 2
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in data[1][:120] or col in plan.split("Filter ")[1], col
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {
            "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
        }, cols
    assert "Join" not in plan


def test_bm25_vocabulary_never_shuffles_against_survivors(spark, sf_dir):
    """bm25_topk: the query-term table (with its df values riding
    along) must BROADCAST into the tf frame — exactly one exchange
    family below the scorer (the tf/dl aggregations + the final
    window), never a vocabulary-sized sort-merge join."""
    plan = _executed_plan(spark, sf_dir, "bm25_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # qterms+df, stats
    assert "SortMergeJoin" not in plan
    # the scorer's join keys: no exchange keyed on (lang, w) except the
    # df/tf aggregations themselves
    assert "bit_count" not in plan  # sanity: wrong-query guard


def _final_plan(df) -> str:
    """Executed-plan text AFTER materialization: with AQE on, join
    strategies are decided at runtime, so the pre-action string still
    says isFinalPlan=false with the initial strategy."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_canonical_joinback_broadcast_is_aqe_not_forced(spark, sf_dir):
    """VERDICT r10 task 2 lock: the keep/drop manifest — a
    DUP-PROPORTIONAL frame (O(corpus) on a corpus where 30-50% of
    docs sit in small clusters) — must join back to the corpus
    UNHINTED. A forced F.broadcast survives autoBroadcastJoinThreshold
    = -1 and would OOM the executors on a dup-heavy 100 TB corpus;
    an AQE-chosen broadcast does not. So: with both broadcast
    thresholds disabled, the manifest join-back must degrade to a
    non-broadcast join, for BOTH canonical shapes (dedup_canonical's
    doc_id join, canonical_manifest's phash join on an engineered
    MANY-SMALL-CLUSTERS frame — the exact regime where the old hint
    was wrong), and the rows must be identical either way."""
    from asr_training_data_pipeline_spark.operators.multimodal import (
        canonical_manifest,
    )

    # 40% of media in 2-member same-fingerprint clusters: dup_hashes /
    # the manifest are corpus-proportional, not sketch-sized. The
    # fingerprints themselves are seeded random 63-bit values —
    # pairwise Hamming ~32 bits, far above the max_hamming=3 accept —
    # so the ONLY duplication is the engineered exact-hash pairing.
    import random as _random

    rng = _random.Random(11)
    fps = []
    while len(fps) < 800:
        v = rng.getrandbits(63)
        if all(bin(v ^ u).count("1") > 6 for u in fps[-50:]):
            fps.append(v)
    hashes = spark.createDataFrame(
        [(i, fps[i // 2] if i < 400 else fps[200 + i - 400]) for i in range(1000)],
        "media_id long, phash long",
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = _final_plan(
            canonical_manifest(hashes, slot="canonical_hashes:plantest")
        )
        assert "BroadcastHashJoin" not in plan, plan[:3000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        shuffled_rows = canonical_manifest(
            hashes, slot="canonical_hashes:plantest"
        ).collect()

        plan = _final_plan(REGISTRY["dedup_canonical"].fn(spark, sf_dir))
        assert "BroadcastHashJoin" not in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # Defaults restored: AQE free to broadcast from measured size —
    # the OUTPUT must not depend on the join strategy.
    default_rows = canonical_manifest(
        hashes, slot="canonical_hashes:plantest"
    ).collect()
    assert shuffled_rows == default_rows
    kept = [r for r in default_rows if r.keep]
    assert len(kept) == 800  # 200 cluster survivors + 600 singletons
    assert all(
        r.cluster_size == 2 and r.survivor_id == (r.media_id // 2) * 2
        for r in default_rows
        if r.media_id < 400
    )


def test_no_hof_chain_in_scan_filters(spark, sf_dir):
    """shingles_col's second contract (r11 forensics): no executed
    plan may carry a Filter whose predicate inlines the shingle HOF
    chain. Predicate pushdown substitutes attributes back to their
    defining expressions, so a filter on a shingle-derived column
    (sh IS NOT NULL / sig IS NOT NULL / size(shingles) > 0) lands at
    the scan with the per-shingle re-split inlined — the r10
    quadratic resurrected inside the scan filter, evaluated per row
    on top of the real projection. The fixed call sites filter on the
    token count BEFORE shingling instead."""
    for name in (
        "dedup_minhash_lsh",
        "dedup_ppjoin",
        "contamination_check",
        "mllib_minhash_pairs",
        "sorted_neighborhood_pairs",
        "sorted_neighborhood_multikey",
        "dedup_ngram_jaccard",
        "doc_fingerprint",
    ):
        df = REGISTRY[name].fn(spark, sf_dir)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            ln[:200]
            for ln in plan.splitlines()
            if "Filter" in ln and "lambdafunction" in ln and "split(text" in ln
        ]
        assert not bad, f"{name} pushes the HOF chain into a filter: {bad[:2]}"
        spark.catalog.clearCache()


# The 15 spread_for_kernel call sites (r12 gate): every query whose
# kernel input still carries the heavy column (document text / media
# payload) when the CPU-spreading decision is made. asr_pipeline_clips
# locks the 15th site (sources/fixtures.py doc_word_arrays — the raw
# document rows under the whole ASR-pipeline fixture derivation,
# found by this round's audit after the original 14-site sweep).
_SPREAD_GATED = (
    "asr_pipeline_clips",
    "dedup_minhash_lsh",
    "dedup_minhash_portable",
    "dedup_simhash",
    "dedup_simhash_portable",
    "dedup_ngram_jaccard_stopshingle",
    "dedup_winnow_pairs",
    "multimodal_audio_features",
    "multimodal_frame_sample",
    "multimodal_image_resize",
    "multimodal_phash_dedup",
    "multimodal_phash_canonical",
    "multimodal_audio_dedup",
    "multimodal_audio_canonical",
    "asr_scan_stub",
)


def test_spread_gate_is_noop_on_multisplit_scans(spark, sf_dir):
    """r12 lock (VERDICT r11 What's-wrong #2): a bare .repartition(n)
    before a payload-carrying kernel is a user-demanded round-robin
    exchange AQE will NOT elide — on a multi-split production scan it
    would ship every document body / media blob across the network
    once before the 8-byte fingerprint projection (~a full corpus of
    shuffle I/O at 100 TB). spread_for_kernel gates the repartition on
    the frame's actual partition count, so: with the documents scan
    forced multi-split (tiny maxPartitionBytes — the 100 TB read's
    splits>>cores shape in miniature), NO gated query's plan may
    contain a round-robin exchange at all; with the default
    single-split fixture scan, the gate must still fire (the fixture
    workaround the sites existed for)."""
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # 65 KB sf0.001 documents file / 2 KB target -> ~32 splits,
        # >= the 8-core test parallelism on every table in play.
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        for name in _SPREAD_GATED:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "RoundRobinPartitioning" not in plan, (
                f"{name}: payload-carrying round-robin exchange on a "
                f"multi-split scan:\n{plan[:2000]}"
            )
        spark.catalog.clearCache()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)

    # Positive control — the gate still spreads the single-split
    # fixture scan (partitions < cores), so the kernels keep using
    # all cores locally.
    df = REGISTRY["dedup_simhash"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    spark.catalog.clearCache()


def test_spread_for_kernel_identity_on_wide_frames(spark):
    """Unit contract: a frame already at >= target partitions passes
    through UNTOUCHED (same object — the no-op is structural, not an
    elided exchange); a narrow frame gains exactly the round-robin
    spread."""
    from asr_training_data_pipeline_spark.partitioning import (
        spread_for_kernel,
    )

    wide = spark.range(0, 1000).repartition(64, "id")
    assert spread_for_kernel(wide) is wide

    narrow = spark.range(0, 1000).coalesce(1)
    spread = spread_for_kernel(narrow, n_target=8)
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() == 8
