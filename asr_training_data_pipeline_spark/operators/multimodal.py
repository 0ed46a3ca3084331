"""Multimodal columns (north star, SURVEY §2.12): media as opaque
``binary`` columns + typed metadata structs, processed by Arrow-
batched pandas UDFs via ``mapInPandas``.

The media codecs (ffmpeg/librosa/PIL) are NOT in this environment,
so the decode step is a clearly-marked deterministic fake behind the
same interface a real decoder would use (see ``_decode_pcm_stub``);
the Spark-side plumbing — schema, partitioning, batch iteration,
feature extraction over decoded arrays — is real and tested.

Layout principle for 100 TB: keep bytes opaque (BinaryType) until
the single UDF stage that needs them decoded; never shuffle decoded
arrays; project metadata columns for all filtering/routing so
partition pruning and pushdown act on the scan, not after decode.
ENCODED payloads never shuffle either: the CPU-spreading repartition
every kernel entry point needs on the single-split local fixture is
gated behind ``spread_for_kernel`` (partitioning.py, r12) — a
structural no-op on any multi-split scan, plan-locked in
tests/test_plan_shapes.py::test_spread_gate_is_noop_on_multisplit_scans.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..partitioning import spread_for_kernel
from ..registry import register
from ..sources.tables import load_table

AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_bytes bigint, n_samples bigint, duration_s double, "
    "rms double, peak double, checksum bigint"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table: one row per document with an opaque
    binary payload (deterministic bytes derived from the text — a
    stand-in for an audio container) + typed metadata."""
    return media_projection(load_table(spark, sf_dir, "documents"))


def media_projection(docs: DataFrame) -> DataFrame:
    """The documents→media projection behind :func:`media_table`,
    usable on any frame with (doc_id, text, lang) — including a
    STREAMING frame (pure stateless select), which is how the
    streaming audio-dedup gate fingerprints arriving clips."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("audio/fake-pcm").alias("mime"),
            F.lit(16000).alias("frame_rate"),
            F.length("text").cast("bigint").alias("content_length"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def _decode_pcm_stub(payload: bytes, frame_rate: int) -> np.ndarray:
    """STUB DECODER — deterministic fake.

    A real implementation would hand ``payload`` to a codec
    (pydub/ffmpeg → PCM float32, as the reference does at
    /root/reference/claude_research_optimal.py:474). The container
    image has no codec libraries, so this maps bytes → a float32
    waveform deterministically (byte values recentred to [-1, 1)),
    preserving every contract a real decoder has: pure function of
    the payload, float32 output, length ∝ content size.
    """
    raw = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    return (raw - 128.0) / 128.0


# Pluggable decode seam: a real codec (sources.backends.soundfile_decoder)
# drops in with the same (payload, frame_rate) -> float32 contract.
_PCM_DECODER = _decode_pcm_stub


def set_pcm_decoder(decoder) -> None:
    """Install a real PCM decoder (e.g. ``backends.soundfile_decoder()``);
    pass ``None`` to restore the deterministic stub."""
    global _PCM_DECODER
    _PCM_DECODER = decoder or _decode_pcm_stub


def audio_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract stage: mapInPandas over binary rows →
    per-clip acoustics (duration, RMS, peak) — the engine shape of
    the reference's DSP helpers (C8-C10). Arrow moves the bytes; the
    decoded array never leaves the worker."""
    # Capture the decoder at plan time: the closure ships to workers
    # via cloudpickle, so an installed real decoder rides along
    # (module globals would re-resolve to the stub on the worker).
    _decode_pcm = _PCM_DECODER

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                fr = int(meta["frame_rate"])
                pcm = _decode_pcm(bytes(payload), fr)
                rows.append(
                    dict(
                        media_id=int(media_id),
                        n_bytes=len(payload),
                        n_samples=len(pcm),
                        duration_s=len(pcm) / fr,
                        rms=float(np.sqrt(np.mean(pcm**2))) if len(pcm) else 0.0,
                        peak=float(np.max(np.abs(pcm))) if len(pcm) else 0.0,
                        checksum=int(np.frombuffer(bytes(payload), dtype=np.uint8).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "n_samples",
                    "duration_s",
                    "rms",
                    "peak",
                    "checksum",
                ],
            )

    return media.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 1000) -> DataFrame:
    """Frame-sampling stage (the video analog): emit every Nth decoded
    sample as its own row — 1 binary row → M frame rows, the UDTF
    shape used for video frame extraction."""
    _decode_pcm = _PCM_DECODER  # plan-time capture, as audio_features

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                pcm = _decode_pcm(bytes(payload), int(meta["frame_rate"]))
                for k, i in enumerate(range(0, len(pcm), every_n)):
                    out.append(
                        dict(
                            media_id=int(media_id),
                            frame_no=k,
                            sample_idx=i,
                            value=float(pcm[i]),
                        )
                    )
            yield pd.DataFrame(
                out, columns=["media_id", "frame_no", "sample_idx", "value"]
            )

    return media.mapInPandas(
        run, "media_id long, frame_no long, sample_idx long, value double"
    )


@register("multimodal_audio_features", tags=("multimodal", "udf"))
def multimodal_audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode + acoustic features through the pandas-UDF
    boundary (rows-only; stub decode is hash-deterministic — pinned
    by tests/test_multimodal.py including an n_bytes cross-check
    against the documents table)."""
    media = spread_for_kernel(media_table(spark, sf_dir))
    return audio_features(media).orderBy("media_id")


@register("multimodal_frame_sample", tags=("multimodal", "udf"))
def multimodal_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→M frame-sampling through mapInPandas (video-frame shape)."""
    media = spread_for_kernel(media_table(spark, sf_dir))
    return frame_sample(media, every_n=100).orderBy("media_id", "frame_no")


# ---------------------------------------------------------------------
# Image path: decode-stub → strided resize → thumbnail features
# ---------------------------------------------------------------------

IMAGE_RESIZE_SCHEMA = (
    "media_id long, src_h bigint, src_w bigint, dst_h bigint, dst_w bigint, "
    "mean_px double, checksum bigint"
)


def _decode_image_stub(payload: bytes, width: int = 64) -> np.ndarray:
    """STUB IMAGE DECODER — deterministic fake (no PIL/ffmpeg in this
    container). Maps bytes → a uint8 H×W single-channel 'image' by
    row-major reshape, padding the tail row with zeros. A real decoder
    (PIL.Image.open → np.asarray) drops in with the same contract:
    pure function of payload, uint8 array out."""
    raw = np.frombuffer(payload, dtype=np.uint8)
    h = (len(raw) + width - 1) // width
    img = np.zeros(h * width, dtype=np.uint8)
    img[: len(raw)] = raw
    return img.reshape(h, width)


def image_resize(media: DataFrame, dst_h: int = 16, dst_w: int = 16) -> DataFrame:
    """Decode + nearest-neighbor resize + thumbnail stats in one
    mapInPandas pass — the image-column analog of the audio feature
    stage. The resize is index-striding (no interpolation), the
    standard cheap thumbnail for dedup/feature pipelines."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _decode_image_stub(bytes(payload))
                sh, sw = img.shape
                ys = (np.arange(dst_h) * sh // dst_h).clip(0, sh - 1)
                xs = (np.arange(dst_w) * sw // dst_w).clip(0, sw - 1)
                thumb = img[np.ix_(ys, xs)]
                rows.append(
                    dict(
                        media_id=int(media_id),
                        src_h=sh,
                        src_w=sw,
                        dst_h=dst_h,
                        dst_w=dst_w,
                        mean_px=float(thumb.mean()),
                        checksum=int(thumb.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "src_h", "src_w", "dst_h", "dst_w",
                         "mean_px", "checksum"],
            )

    return media.select("media_id", "payload").mapInPandas(run, IMAGE_RESIZE_SCHEMA)


@register("multimodal_image_resize", tags=("multimodal", "udf"))
def multimodal_image_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → decode-stub → strided 16×16 thumbnail → stats through
    the pandas-UDF boundary (rows-only; deterministic payloads)."""
    media = spread_for_kernel(media_table(spark, sf_dir))
    return image_resize(media).orderBy("media_id")


# ---------------------------------------------------------------------
# Perceptual-hash (pHash) near-duplicate detection over the image
# column: the LAION-style image dedup pass — DCT fingerprint in ONE
# Arrow stage, Hamming-ball candidate generation via band-equality
# LSH, popcount verification JVM-side.
# ---------------------------------------------------------------------

_PHASH_N = 32  # thumbnail side fed to the 2-D DCT
_PHASH_BLOCK = 8  # low-frequency block kept (64 coeffs, DC dropped)
_PHASH_BANDS = 4  # 4 × 16-bit slices of the 64-bit fingerprint
_PHASH_HAMMING_MAX = 3  # < _PHASH_BANDS ⇒ band LSH is EXACT (pigeonhole)
_PHASH_BITS = _PHASH_BLOCK * _PHASH_BLOCK - 1  # 63: sign bit stays clear


def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (type-II, norm='ortho') — the
    scipy.fft.dct equivalent written out so the container needs no
    scipy: row k is cos(pi*(2i+1)k / 2n) scaled to unit norm."""
    k = np.arange(n, dtype=np.float64)[:, None]
    i = np.arange(n, dtype=np.float64)[None, :]
    m = np.cos(np.pi * (2.0 * i + 1.0) * k / (2.0 * n))
    m[0] *= np.sqrt(1.0 / n)
    m[1:] *= np.sqrt(2.0 / n)
    return m


def image_phash(media: DataFrame) -> DataFrame:
    """(media_id, phash) — 63-bit DCT perceptual hash per image in a
    single mapInPandas stage.

    Kernel (the standard pHash recipe): decode → strided
    ``_PHASH_N``×``_PHASH_N`` grayscale thumbnail → 2-D DCT-II →
    keep the top-left ``_PHASH_BLOCK``² low-frequency coefficients,
    drop DC → bit b = (coeff b > median of kept coeffs). The DCT is
    one batched matmul over the whole Arrow chunk (``D @ T @ D.T``
    broadcast across the (batch, N, N) thumbnail stack), not a
    per-image Python loop; 63 bits keep the packed value strictly
    positive in a signed long, so no sign-bit special case exists
    anywhere downstream.

    Scale: pixels never leave this stage — the frame that shuffles is
    8 bytes per image. At 100 TB of images the candidate join runs on
    (band_no, band_val) keys derived from that long JVM-side."""
    dct = _dct_mat(_PHASH_N)
    shifts = np.arange(_PHASH_BITS - 1, -1, -1, dtype=np.uint64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = np.empty((len(pdf), _PHASH_N, _PHASH_N), dtype=np.float64)
            for row, payload in enumerate(pdf["payload"]):
                img = _decode_image_stub(bytes(payload))
                sh, sw = img.shape
                ys = (np.arange(_PHASH_N) * sh // _PHASH_N).clip(0, sh - 1)
                xs = (np.arange(_PHASH_N) * sw // _PHASH_N).clip(0, sw - 1)
                thumbs[row] = img[np.ix_(ys, xs)]
            coeffs = (dct @ thumbs) @ dct.T  # batched 2-D DCT
            block = coeffs[:, :_PHASH_BLOCK, :_PHASH_BLOCK].reshape(
                len(pdf), -1
            )[:, 1:]  # drop DC
            bits = block > np.median(block, axis=1, keepdims=True)
            packed = (bits.astype(np.uint64) << shifts).sum(axis=1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "phash": packed.view(np.int64),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, phash long"
    )


def phash_band_structs():
    """The 4×16-bit band-key derivation over a ``phash`` column —
    shared by the batch pair join and the streaming ingest gate (one
    derivation, JVM-side, no Python pass)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"),
                F.shiftrightunsigned(F.col("phash"), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
            for b in range(_PHASH_BANDS)
        ]
    )


def phash_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = _PHASH_HAMMING_MAX
) -> DataFrame:
    """Hamming-ball self-join over (media_id, phash): pairs at XOR
    popcount ≤ ``max_hamming``, found via band-equality LSH.

    The 64-bit fingerprint splits into ``_PHASH_BANDS`` 16-bit slices
    (derived JVM-side — shiftrightunsigned + mask, no second Python
    pass); a pair within Hamming distance d < bands differs in at most
    d slices, so at least one slice matches EXACTLY (pigeonhole) —
    band equality is a complete candidate generator, verified by
    ``bit_count(a XOR b)``. 16-bit band values keep bucket selectivity
    at scale (vs 8-bit bands whose 256-value domain would pool
    thousands of images per bucket at 100 TB)."""
    if max_hamming >= _PHASH_BANDS:
        raise ValueError(
            f"band LSH is exact only for hamming < {_PHASH_BANDS}"
        )
    bands = phash_band_structs()
    banded = hashes.select(
        "media_id", "phash", F.explode(bands).alias("bk")
    ).select("media_id", "phash", "bk.band_no", "bk.band_val")
    x, y = banded.alias("x"), banded.alias("y")
    hamming = F.bit_count(
        F.col("x.phash").bitwiseXOR(F.col("y.phash"))
    ).cast("int")
    return (
        x.join(
            y,
            (F.col("x.band_no") == F.col("y.band_no"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        )
        .select(
            F.col("x.media_id").alias("media_id_a"),
            F.col("y.media_id").alias("media_id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["media_id_a", "media_id_b"])
    )


@register("multimodal_phash_dedup", tags=("multimodal", "dedup", "lsh"))
def multimodal_phash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: decode-stub →
    DCT pHash (one Arrow stage, 8 bytes/image out) → 4×16-bit-band
    Hamming LSH → popcount verify. Rows-only BY NATURE (the DCT kernel
    has no SQL form); the LSH pair set is pinned EQUAL to the
    brute-force Hamming join and the kernel to a loop-written
    reference in tests/test_phash.py."""
    media = spread_for_kernel(media_table(spark, sf_dir))
    return phash_near_dup_pairs(image_phash(media)).orderBy(
        "media_id_a", "media_id_b"
    )


def canonical_manifest(
    hashes: DataFrame,
    max_hamming: int = _PHASH_HAMMING_MAX,
    slot: str = "canonical_hashes",
) -> DataFrame:
    """(media_id, phash) fingerprints → keep/drop manifest, shared by
    both media modalities: survivor = the smallest media_id of each
    Hamming cluster (the components' label), singletons keep
    themselves. Output is LINEAR in corpus size by construction.

    Dense-dup safety (the multimodal_audio_dedup hazard, VERDICT r9):
    identical fingerprints collapse to ONE representative (min
    media_id) per distinct hash value BEFORE the banded self-join.
    This is EXACT, not approximate — Hamming distance depends only on
    the hash values, so clips sharing a hash are interchangeable
    vertices and the rep graph has the same connected components as
    the full clip graph; the rep's id being the group min makes the
    component label equal to the full graph's min member id. On the
    degenerate fixture where 500k clips share a few thousand distinct
    fingerprints the pair join runs over thousands of vertices, not
    billions of pairs; on an all-distinct corpus it degrades to
    exactly the old per-clip join.

    Scale: the components' closure runs over ACCEPTED rep pairs only
    (key-only edges); the manifest join probes only the dup-involved
    hash groups back onto the fingerprint frame, with NO broadcast
    hint — `hash_to` is small when dups are rare (few groups) and
    small when dups are dense (few distinct hashes), but in the middle
    regime (fingerprints distinct yet widely near-duplicated) it is
    O(distinct hashes), and forcing a broadcast of that at 100 TB
    blows the driver/broadcast limit. Unhinted, AQE broadcasts from
    measured size or degrades to a shuffled join keyed on phash —
    exactly dedup_canonical's locked shape (tests/test_plan_shapes.py).

    ``slot`` names the cache slot for the fingerprint frame; callers
    running different modalities in one session MUST pass distinct
    slots, or interleaved invocations unpersist each other's frame and
    a still-referenced earlier plan silently re-runs the expensive
    decode/FFT kernel."""
    from ..caching import hold
    from .dedup import connected_components

    # The fingerprint frame is consumed twice (rep groups + the final
    # manifest join); without a reuse point the Arrow decode/FFT
    # kernel — the dominant cost — would run twice. EAGER: a lazy
    # persist still lets the two branches race ahead of cache
    # population (see caching.hold's docstring).
    hashes = hold(slot, hashes, eager=True)
    groups = hashes.groupBy("phash").agg(
        F.min("media_id").alias("media_id"),
        F.count("*").cast("bigint").alias("n_members"),
    )
    pairs = phash_near_dup_pairs(
        groups.select("media_id", "phash"), max_hamming
    )
    comp = connected_components(pairs, "media_id_a", "media_id_b")
    rep_label = groups.join(
        comp.withColumnRenamed("v", "media_id"), "media_id", "left"
    )
    # Hash groups involved in any duplication: cross-hash near-dups
    # (in a component) or same-hash exact dups (n_members > 1).
    # Everything else is a singleton and never joins.
    dup_hashes = rep_label.filter(
        F.col("label").isNotNull() | (F.col("n_members") > 1)
    ).select(
        "phash",
        F.coalesce("label", "media_id").alias("label"),
        "n_members",
    )
    sizes = dup_hashes.groupBy("label").agg(
        F.sum("n_members").cast("bigint").alias("cluster_size")
    )
    hash_to = dup_hashes.join(sizes, "label").select(
        "phash", "label", "cluster_size"
    )
    survivor = F.coalesce(F.col("label"), F.col("media_id"))
    return (
        # No broadcast hint: hash_to is O(distinct hashes) in the
        # middle regime (see docstring) — AQE picks from measured size.
        hashes.join(hash_to, "phash", "left")
        .select(
            "media_id",
            survivor.alias("survivor_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("bigint")
            .alias("cluster_size"),
            (survivor == F.col("media_id")).alias("keep"),
        )
        .orderBy("media_id")
    )


@register(
    "multimodal_phash_canonical", tags=("multimodal", "dedup", "pipeline")
)
def multimodal_phash_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image dedup: pHash fingerprints → rep-collapsed
    pairs → connected components → keep/drop manifest — the full
    decision artifact (LAION-style image dedup), not just the pair
    list. See canonical_manifest for the shared cluster algebra and
    its 100 TB shape. Rows-only BY NATURE (the DCT kernel); the
    cluster algebra is pinned on an engineered fixture in
    tests/test_phash.py."""
    media = spread_for_kernel(media_table(spark, sf_dir))
    return canonical_manifest(
        image_phash(media), slot="canonical_hashes:image"
    )


# ---------------------------------------------------------------------
# Audio fingerprint near-dup: the Haitsma-Kalker idea (sign of
# band-energy structure) reduced to a 63-bit robust hash so the SAME
# band-LSH pair machinery as images applies — one fingerprint
# function per modality, one candidate-join implementation.
# ---------------------------------------------------------------------

_AHASH_TIME_CELLS = 8
_AHASH_BANDS = 8


def audio_ahash(media: DataFrame) -> DataFrame:
    """(media_id, phash) — 63-bit robust audio hash per clip.

    Kernel: decode → split the waveform into ``_AHASH_TIME_CELLS``
    equal segments → per segment, rFFT magnitude energy summed into
    ``_AHASH_BANDS`` log-spaced bins → the 8×8 energy grid thresholds
    against its own median (bit = cell > median), dropping cell (0,0)
    to keep 63 bits (sign bit clear, like the image pHash). Robust to
    small payload perturbations — a few changed bytes barely move the
    band energies — while any clip-level difference flips many cells.

    Scale: identical economics to image_phash — the clip bytes never
    leave this stage; 8 bytes per clip shuffle into the band join."""
    _decode_pcm = _PCM_DECODER  # plan-time capture, as audio_features

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t_cells, n_bands = _AHASH_TIME_CELLS, _AHASH_BANDS
        out_bits = t_cells * n_bands - 1
        shifts = np.arange(out_bits - 1, -1, -1, dtype=np.uint64)
        for pdf in batches:
            ids, hashes = [], []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                pcm = _decode_pcm(bytes(payload), int(meta["frame_rate"]))
                grid = np.zeros((t_cells, n_bands), dtype=np.float64)
                if len(pcm) >= t_cells:
                    seg_len = len(pcm) // t_cells
                    for t in range(t_cells):
                        seg = pcm[t * seg_len : (t + 1) * seg_len]
                        mag = np.abs(np.fft.rfft(seg.astype(np.float64)))
                        # log-spaced band edges over the magnitude bins
                        edges = np.unique(
                            np.geomspace(1, len(mag), n_bands + 1).astype(int)
                        )
                        for b in range(min(n_bands, len(edges) - 1)):
                            grid[t, b] = float(
                                np.sum(mag[edges[b] : edges[b + 1]] ** 2)
                            )
                cells = grid.ravel()[1:]  # drop (0,0): the DC analog
                bits = cells > np.median(cells)
                packed = (bits.astype(np.uint64) << shifts).sum()
                ids.append(int(media_id))
                hashes.append(np.int64(packed))
            yield pd.DataFrame(
                {"media_id": np.array(ids, dtype=np.int64),
                 "phash": np.array(hashes, dtype=np.int64)}
            )

    return media.mapInPandas(run, "media_id long, phash long")


@register("multimodal_audio_dedup", tags=("multimodal", "dedup", "lsh"))
def multimodal_audio_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by spectral fingerprint: decode-stub
    → band-energy sign hash (one Arrow stage) → the SAME 4×16-bit-band
    Hamming LSH + popcount verify as the image path (the candidate
    join is modality-agnostic over (media_id, phash)). Rows-only BY
    NATURE; kernel + recall pinned in tests/test_phash.py."""
    media = spread_for_kernel(media_table(spark, sf_dir))
    return phash_near_dup_pairs(audio_ahash(media)).orderBy(
        "media_id_a", "media_id_b"
    )


@register(
    "multimodal_audio_canonical", tags=("multimodal", "dedup", "pipeline")
)
def multimodal_audio_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio dedup: spectral-fingerprint pairs → connected
    components → keep/drop manifest via the SAME canonical_manifest as
    the image path. This is the bounded decision artifact the raw pair
    query lacks: multimodal_audio_dedup materializes the full pair set,
    which on a dense-dup corpus is quadratic in clique size (projected
    ~1.9 B pairs at the 500k-clip fixture — run killed, SCALING.md);
    the manifest is one row per clip regardless of dup density — and
    canonical_manifest's rep-collapse keeps even the INTERMEDIATE pair
    set bounded by the distinct-fingerprint count — so this form is
    the production default at scale. Rows-only BY NATURE (FFT kernel);
    cluster algebra pinned in tests/test_phash.py."""
    media = spread_for_kernel(media_table(spark, sf_dir))
    return canonical_manifest(
        audio_ahash(media), slot="canonical_hashes:audio"
    )
