"""The reference's full dataflow as ONE lazy Spark plan
(SURVEY §3.1: transcript ⋈ ASR → runs → sessions → clips → validate
→ boundary math → quality gates → metadata/summary).

The reference executes this as a sequential per-group Python loop
(/root/reference/claude_research_optimal.py:481-670). Here every
stage is a DataFrame transformation, so Catalyst fuses the scalar
math into codegen stages and the only materialization points are the
shuffles (group-by, windows; the alignment is narrow) — the whole thing
parallelizes across pairs/groups on any cluster size.

Parameter defaults mirror the reference CLI argparse exactly
(claude_research_optimal.py:395-420): min_run=4, max_gap_words=2,
max_gap_time=0.5 s, min_dur=1.5 s, fade=20 ms, start_pad=150 ms,
end_pad=140 ms, tail_safety=80 ms, base_end_guard=35 ms,
start_guard=30 ms, seam_silence=120 ms, full_gap=500 ms,
min_valid_words=2.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.alignment import lcs_runs_fused
from ..partitioning import spread_for_kernel
from ..registry import register
from ..sources import fixtures
from ..sources.asr_scan import asr_scan
from ..sources.tables import load_table


@dataclass(frozen=True)
class PipelineParams:
    min_run: int = 4
    max_gap_words: int = 2
    max_gap_time: float = 0.5
    start_pad_ms: int = 150
    end_pad_ms: int = 140
    tail_safety_ms: int = 80
    start_guard_ms: int = 30
    guard_base_ms: int = 35  # --base_end_guard_ms
    min_dur_s: float = 1.5
    min_valid_words: int = 2
    fade_ms: int = 20
    seam_silence_ms: int = 120
    full_gap_ms: int = 500


P = PipelineParams()


def bridged_groups(runs_timed: DataFrame, p: PipelineParams = P) -> DataFrame:
    """W1 gap-bridging over equal runs
    (claude_research_optimal.py:291-305): runs sorted by ai0 merge
    while word-gap ≤ max_gap_words AND time-gap ≤ max_gap_time.

    ``runs_timed`` carries run_start/run_end from the alignment stage
    (``lcs_runs_fused``) — no join back to the word table.
    """
    timed = runs_timed.select(
        "pair_id", "bi0", "bi1", "ai0", "ai1", "run_start", "run_end"
    )
    w = W.partitionBy("pair_id").orderBy("ai0")
    flagged = (
        timed.withColumn("prev_ai1", F.lag("ai1").over(w))
        .withColumn("prev_end", F.lag("run_end").over(w))
        .withColumn(
            "new_group",
            F.when(
                F.col("prev_ai1").isNull()
                | (F.col("ai0") - F.col("prev_ai1") > p.max_gap_words)
                | (F.col("run_start") - F.col("prev_end") > p.max_gap_time),
                1,
            ).otherwise(0),
        )
    )
    return flagged.withColumn(
        "group_id",
        F.sum("new_group").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    ).select("pair_id", "group_id", "bi0", "bi1", "ai0", "ai1", "run_start", "run_end")


def assemble_clips_arrays(
    groups: DataFrame, pair_words: DataFrame, p: PipelineParams = P
) -> DataFrame:
    """Per-group base-clip assembly (claude_research_optimal.py:308-341):
    the group's used words in order (text/norm/confidence arrays) plus
    the geometry of the assembled clip — one (start,end) ms span per
    run piece (start pad on the first, end pad on the last, degenerate
    span repaired to 1 ms, :317-327) and the total assembled length
    including the seam silence between pieces (:335-340).

    ``pair_words`` is one row per pair with the idx-ordered word arrays
    (norms/starts/ends/texts/confs, as in
    sources.fixtures.doc_word_arrays). Each group's words are SLICED
    out of those arrays by its runs' [ai0, ai1) ranges, so the plan is
    one aggregation over runs (~|words|/10 rows) plus a 1:1 join
    against the pair-count-sized array frame: word rows never cross an
    exchange. rint = half-even, matching the reference's
    int(round(x*1000)) (C7).

    Everything is JVM-side column arithmetic. The boundary math that
    uses these facts lives downstream (validated_clips), because in the
    reference it operates on the VALIDATOR's view of this clip, not on
    the raw group span."""
    zero = F.lit(0).cast("long")
    g = groups.groupBy("pair_id", "group_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ai0"),
                    F.col("ai1"),
                    F.rint(F.col("run_start") * 1000).cast("long").alias("s"),
                    F.rint(F.col("run_end") * 1000).cast("long").alias("e"),
                )
            )
        ).alias("_runs"),
        F.count("*").cast("bigint").alias("n_pieces"),
    )
    j = g.join(pair_words, "pair_id")

    def spans_slice(arr):
        return F.flatten(
            F.transform(
                F.col("_runs"),
                lambda r: F.slice(
                    arr, r["ai0"].cast("int") + 1, (r["ai1"] - r["ai0"]).cast("int")
                ),
            )
        )

    n = F.size(F.col("_runs"))
    piece_spans = F.transform(
        F.col("_runs"),
        lambda x, i: F.struct(
            F.when(i == 0, F.greatest(x["s"] - p.start_pad_ms, zero))
            .otherwise(x["s"])
            .alias("s"),
            F.when(i == n - 1, x["e"] + p.end_pad_ms).otherwise(x["e"]).alias("e"),
        ),
    )
    piece_spans = F.transform(
        piece_spans,
        lambda x: F.struct(
            x["s"].alias("s"),
            F.when(x["e"] <= x["s"], x["s"] + 1).otherwise(x["e"]).alias("e"),
        ),
    )
    # Stage 1 materializes the sliced arrays as ATTRIBUTES: lambda-
    # bearing expressions are exempt from common-subexpression
    # elimination (and CollapseProject won't re-inline non-cheap
    # aliases), so computing them once here stops the fold/size/output
    # references below from re-running the slice+flatten per use.
    staged = j.select(
        "pair_id",
        "group_id",
        "n_pieces",
        spans_slice(F.col("starts")).alias("_starts"),
        spans_slice(F.col("ends")).alias("_ends"),
        F.array_join(spans_slice(F.col("texts")), " ").alias("clip_text"),
        spans_slice(F.col("norms")).alias("clip_norms"),
        spans_slice(F.col("confs")).alias("clip_confs"),
        piece_spans.alias("piece_spans"),
    )
    # davg parity incl. nulls: decimal sum over the NON-NULL
    # confidences / their count (sum()+count(col) both skip nulls)
    valid_confs = F.filter("clip_confs", lambda x: x.isNotNull())
    dec_sum = F.aggregate(
        valid_confs,
        F.lit(0).cast("decimal(27,6)"),
        lambda acc, x: (acc + x.cast("decimal(27,6)")).cast("decimal(27,6)"),
    )
    return staged.select(
        "pair_id",
        "group_id",
        # min/max over ALL group-word times, not first/last, so the
        # span holds even if a backend emits non-monotone timestamps
        F.array_min("_starts").alias("t_start"),
        F.array_max("_ends").alias("t_end"),
        F.size("clip_confs").cast("bigint").alias("n_words"),
        (dec_sum.cast("double") / F.size(valid_confs)).alias("avg_conf"),
        "clip_text",
        "clip_norms",
        "clip_confs",
        "n_pieces",
        "piece_spans",
        (
            F.aggregate(
                F.col("piece_spans"), zero, lambda acc, x: acc + (x["e"] - x["s"])
            )
            + F.lit(p.seam_silence_ms).cast("long")
            * (F.size("piece_spans") - 1).cast("long")
        ).alias("clip_len_ms"),
    )


def validated_clips(
    spark: SparkSession, clips: DataFrame, p: PipelineParams = P
) -> DataFrame:
    """Validator consensus + boundary math (S4 → J2 → W2 → J3 →
    C4/C5/C6), claude_research_optimal.py:492-595.

    The FUSED validator scan (validator_consensus_scan) re-transcribes
    each assembled clip, aligns against the clip's own norms, picks the
    longest validator span, and emits its facts (clip-relative span
    times, neighbor validator-word bounds, last word text/confidence,
    first-match span confidence) — zero exchanges, one Python boundary.
    Everything after that is Catalyst column expressions, in the
    reference's exact order:

    1. F4/F5: drop clips with no validator output / no consensus /
       best span < min_valid_words (:493-510)
    2. start: pad, then clamp against the previous validator word's
       end + start_guard (:529-536)
    3. end: + end_pad + tail_safety (:544); adaptive guard clamp
       against the next validator word's start, guard scaled by the
       LAST KEPT WORD's confidence (C4, :546-556); THEN the phoneme
       tail extension is added — after the clamp, deliberately
       (C5, :558-582, including the shadowed dge/tch branch)
    4. degenerate repair e ≤ s → s+1 (:584-585)
    5. duration: the exported piece is base_clip[s_ms:e_ms], so its
       real length clamps to the assembled clip (:597) — pydub slice
       semantics, duration 0 when s is past the end.

    ``min_dur`` is NOT applied here: the kept/rejected split is the
    caller's (full_pipeline), since the reference logs too-short clips
    to the rejection sink (:588-595).
    """
    from ..sources.asr_scan import validator_consensus_scan

    # The kernel echoes the clip facts the export needs (n_pieces,
    # clip_len_ms, piece_spans), so there is no join back to clips —
    # scan → consensus → boundary math is ONE narrow stage.
    v = validator_consensus_scan(spark, clips).filter(
        F.col("best_len") >= p.min_valid_words
    )

    zero = F.lit(0).cast("long")
    s0 = (
        F.greatest(F.col("s_raw_ms") - p.start_pad_ms, zero)
        if p.start_pad_ms > 0
        else F.col("s_raw_ms")
    )
    s_ms = F.when(
        F.col("prev_end_ms").isNotNull(),
        F.greatest(s0, F.col("prev_end_ms") + p.start_guard_ms),
    ).otherwise(s0)

    e0 = F.col("e_raw_ms") + p.end_pad_ms + p.tail_safety_ms
    # C4 adaptive guard — int() truncation == floor for positive bases
    guard = (
        F.when(F.col("last_conf") > 0.75, F.floor(F.lit(p.guard_base_ms) * 0.7))
        .when(F.col("last_conf") < 0.6, F.floor(F.lit(p.guard_base_ms) * 1.3))
        .otherwise(F.lit(p.guard_base_ms))
        .cast("long")
    )
    safe_end = F.col("next_start_ms") - guard
    e1 = F.when(
        F.col("next_start_ms").isNotNull() & (e0 > safe_end), safe_end
    ).otherwise(e0)

    lw = F.lower(F.col("last_text"))
    last1 = F.right(lw, F.lit(1))
    last2 = F.right(lw, F.lit(2))
    phoneme_ext = (
        F.when(F.length(lw) < 3, 0)
        .when(lw.endswith("ing"), 60)
        .when(last1.isin("s", "z", "x", "f", "v"), 50)
        .when(last1.isin("t", "d", "k", "p", "n", "m", "g"), 40)
        .when(last2.isin("ce", "se", "ze", "ge", "ch", "sh", "th", "ng"), 50)
        .otherwise(0)
    ).cast("long")
    e2 = e1 + phoneme_ext
    b = (
        v.withColumn("s_ms", s_ms)
        .withColumn("e_ms", e2)
        .withColumn(
            "e_ms",
            F.when(F.col("e_ms") <= F.col("s_ms"), F.col("s_ms") + 1).otherwise(
                F.col("e_ms")
            ),
        )
    )
    # pydub slice clamp: piece = base_clip[s_ms:e_ms]
    piece_ms = F.greatest(
        F.least(F.col("e_ms"), F.col("clip_len_ms"))
        - F.least(F.col("s_ms"), F.col("clip_len_ms")),
        zero,
    )
    return b.withColumn(
        "duration_s", piece_ms.cast("double") / 1000.0
    )


def full_pipeline(
    spark: SparkSession,
    sf_dir: str,
    p: PipelineParams = P,
    pins: tuple[str, ...] = ("arrays", "runs", "validated"),
) -> dict[str, DataFrame]:
    """The whole dataflow, lazily: returns the bridged ``groups``, the
    ``exported`` clips and the ``rejected`` (too-short) log so callers
    pick what to materialize.

    ``pins`` names the reuse points held at MEMORY_AND_DISK through the
    caching slot registry (guide §5: cache only what the caller's
    action graph actually reuses):

    - ``arrays`` (the doc word arrays) feeds both the fused alignment
      and the array-sliced clip assembly, so every caller reuses it —
      without it Spark re-executes the narrow fixture derivation per
      branch.
    - ``runs`` has one in-plan consumer (the bridging window); it pays
      off only for callers that run several actions over the stages,
      such as the summary (groups + the kept/rejected split).
    - ``validated`` feeds both ``exported`` and ``rejected``; it pays
      off when both are materialized (the summary, the export sinks).

    A caller that materializes only ``exported`` in ONE action
    (asr_pipeline_clips) pins just ``arrays``: the other two are a pure
    cache-write tax there (r12 interleaved A/B, same session, arms
    alternated: arrays-only 3.35 s vs all-three 3.75 s vs none 3.49 s
    quiet mins). ``pins=()`` caches nothing.

    Measured scaling (local[32]): 10× the documents (50k docs,
    ~2.7M words) runs end-to-end in 3.8× the wall of the sf0.1 base —
    sub-linear because the narrow plan's per-job overheads amortize
    while the per-document work parallelizes; no stage grows
    super-linearly.
    """
    from ..caching import hold, release

    def pin(name: str, df: DataFrame) -> DataFrame:
        # slot-managed: re-invoking the pipeline in a long session
        # (registry sweeps, benchmarks) replaces — or, for slots this
        # invocation does not pin, RELEASES — the previous
        # invocation's caches instead of accumulating orphans
        # (ADVICE r12: with narrowed pins, an un-re-held slot kept the
        # prior invocation's frame persisted for nobody to read).
        if name in pins:
            return hold(f"pipeline_{name}", df)
        release(f"pipeline_{name}")
        return df

    # Word ARRAYS are the pinned form, and BOTH fixture sides ride in
    # the same frame (they derive from the same document row), so the
    # whole documents → arrays derivation is narrow — no explode, no
    # window, no groupBy, no join; word data never crosses an exchange
    # (sources.fixtures.doc_word_arrays).
    arrays = pin("arrays", fixtures.doc_word_arrays(spark, sf_dir))
    pair_words = arrays.select("pair_id", "norms", "starts", "ends", "texts", "confs")
    runs = pin("runs", lcs_runs_fused(arrays, min_run=p.min_run))
    groups = bridged_groups(runs, p)
    # clips feeds exactly ONE consumer (the validator kernel), so it is
    # never cached.
    clips = assemble_clips_arrays(groups, pair_words, p)
    # F3 empty-clip guard (:488-489); with the 1 ms degenerate repair a
    # 1-run clip is always >0, so this is a structural no-op kept for
    # parity with the reference's guard.
    base = clips.filter(F.col("clip_len_ms") > 0)
    validated = pin("validated", validated_clips(spark, base, p))
    min_dur_ms = int(p.min_dur_s * 1000)
    dur_ms = F.col("e_ms") - F.col("s_ms")
    # F6 min-duration split on the PRE-SLICE span (:588-595): rejected
    # clips are logged with reason + duration_ms.
    kept = validated.filter(dur_ms >= min_dur_ms)
    rejected = validated.filter(dur_ms < min_dur_ms).select(
        "pair_id",
        "group_id",
        F.lit("too_short").alias("reason"),
        dur_ms.alias("duration_ms"),
    )
    return dict(groups=groups, rejected=rejected, exported=kept)


# ---------------------------------------------------------------------
# Registered queries (rows-only: order-sensitive LCS + pandas UDF
# stages are not SQL-expressible; semantics pinned by golden tests
# against difflib in tests/test_alignment.py / test_pipeline.py and
# by row hashes in tests/test_goldens.py)
# ---------------------------------------------------------------------


@register("lcs_align_runs", tags=("alignment", "udf"))
def lcs_align_runs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equal-run alignment over the derived transcript/ASR fixture."""
    runs = lcs_runs_fused(fixtures.doc_word_arrays(spark, sf_dir), min_run=P.min_run)
    return runs.select("pair_id", "bi0", "bi1", "ai0", "ai1").orderBy(
        "pair_id", "ai0"
    )


@register("bridge_runs_sessions", tags=("alignment", "session"))
def bridge_runs_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 gap-bridging of aligned runs into clip groups."""
    runs = lcs_runs_fused(fixtures.doc_word_arrays(spark, sf_dir), min_run=P.min_run)
    return bridged_groups(runs).orderBy("pair_id", "group_id", "ai0")


@register("asr_pipeline_clips", bench=True, tags=("pipeline", "udf"))
def asr_pipeline_clips_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: fixture → align → bridge → assemble → validator
    consensus → boundary math → quality-gate → clip metadata (the
    clips.tsv analog, SURVEY K3: duration, words=validated span size,
    pieces=runs, span avg confidence).

    ONE action over ``exported`` only, so only the genuinely-shared
    subtree is pinned (``pins=("arrays",)`` — see full_pipeline's
    docstring): runs/validated have a single consumer in this action
    and pinning them measurably slowed the query (r12)."""
    stages = full_pipeline(spark, sf_dir, pins=("arrays",))
    return stages["exported"].select(
        "pair_id",
        "group_id",
        "s_ms",
        "e_ms",
        "duration_s",
        F.col("n_keep").alias("words"),
        F.col("n_pieces").alias("pieces"),
        F.col("span_avg_conf").alias("avg_conf"),
        "seg_text",
    ).orderBy("pair_id", "group_id")


@register("asr_pipeline_summary", tags=("pipeline",))
def asr_pipeline_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 summary aggregates (claude_research_optimal.py:684-694):
    exported/rejected counts, rejection rate, run/group totals."""
    stages = full_pipeline(spark, sf_dir)
    # Three driver-side scalars instead of five: runs+groups fold into
    # one aggregation over the (persisted) runs frame, and the
    # exported/rejected split is one conditional aggregation over the
    # (persisted) validated frame rather than two filtered counts.
    rg = stages["groups"].agg(
        F.count("*").alias("n_runs"),
        F.count_distinct("pair_id", "group_id").alias("n_groups"),
    ).first()
    split = (
        stages["exported"].select(F.lit(True).alias("kept"))
        .unionAll(stages["rejected"].select(F.lit(False).alias("kept")))
        .groupBy()
        .agg(
            F.count_if(F.col("kept")).alias("n_exported"),
            F.count_if(~F.col("kept")).alias("n_rejected"),
        )
        .first()
    )
    n_exported, n_rejected = split["n_exported"], split["n_rejected"]
    rate = (
        round(100.0 * n_rejected / (n_exported + n_rejected), 2)
        if (n_exported + n_rejected)
        else 0.0
    )
    return spark.createDataFrame(
        [(n_exported, n_rejected, rate, rg["n_runs"], rg["n_groups"])],
        "exported long, rejected long, rejection_rate_pct double, "
        "equal_runs long, bridged_groups long",
    )


@register("asr_scan_stub", tags=("source", "udf"))
def asr_scan_stub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 inference-scan plumbing: mapInPandas + per-worker model
    singleton over the documents table (deterministic stub backend)."""
    docs = load_table(spark, sf_dir, "documents")
    return asr_scan(spark, spread_for_kernel(docs)).orderBy("pair_id", "idx")
