"""Multimodal registry queries: synthetic PPM/WAV/PSEQ media, real decode→featurize/frame-sample kernels, perceptual-hash dedup, and the locally-recomputed VALUES oracles that value-check them."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal
from ..functions.scalars import q6
from ._base import _register


# ---------------------------------------------------------------------------
# Multimodal value-checked oracles. The synthetic media generator is a pure
# function of (media_id, seed), so the oracle side REGENERATES every payload
# driver-side with plain numpy (no Spark, no Arrow, no row map) and
# recomputes hashes/features locally, emitting the expected result as a
# VALUES table. The Spark side must then reproduce it through the real
# distributed plumbing — partition-local generation, Arrow batch transfer
# through engine.map_rows, the pigeonhole Hamming join — for the driver's
# value-hash compare to go green. This upgrades the whole family from rows-only.
# ---------------------------------------------------------------------------


def _q(x: float, digits: int) -> float:
    """Floor-based half-up quantization — the same IEEE-754 formula the
    SQL side uses (floor(x*10^d + 0.5)/10^d), cf. similarity._q6."""
    import math

    p = 10.0**digits
    return math.floor(x * p + 0.5) / p


_FEAT_DIGEST_SQL = (
    "floor(aggregate(transform(features, x -> "
    "floor(CAST(x AS DOUBLE) * 10000D + 0.5D) / 10000D), "
    "0D, (a, v) -> a + v) * 1000000D + 0.5D) / 1000000D"
)


def _multimodal_dedup_oracle(n: int = 48, max_hamming: int = 2) -> str:
    from itertools import combinations

    from ..operators.multimodal import local_phash, synthetic_media_item

    by_kind: dict[str, list[tuple[int, int]]] = {}
    for mid in range(n):
        kind, payload, meta = synthetic_media_item(mid)
        ph = local_phash(payload, meta[4])
        if ph is not None:
            by_kind.setdefault(kind, []).append((mid, ph))
            by_kind[kind].append((mid + 10000, ph))
    pairs = []
    for lst in by_kind.values():
        for (a, pa), (b, pb) in combinations(sorted(lst), 2):
            h = bin((pa ^ pb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= max_hamming:
                pairs.append((a, b, h))
    pairs.sort()
    vals = ", ".join(f"({a}, {b}, {h})" for a, b, h in pairs)
    return (
        "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, "
        f"CAST(hamming AS INT) AS hamming FROM (VALUES {vals}) "
        "AS t(id_a, id_b, hamming)"
    )


def _multimodal_features_oracle(n: int = 64) -> str:
    from ..operators.multimodal import feat_digest, local_features, synthetic_media_item

    rows = []
    for mid in range(n):
        kind, payload, meta = synthetic_media_item(mid)
        d = feat_digest(local_features(payload, meta[4]))
        rows.append((mid, kind, len(payload), d))
    vals = ", ".join(
        f"({m}, '{k}', {nb}, {d!r})" for m, k, nb, d in rows
    )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, kind, "
        "CAST(n_bytes AS BIGINT) AS n_bytes, "
        f"CAST(feat_digest AS DOUBLE) AS feat_digest FROM (VALUES {vals}) "
        "AS t(media_id, kind, n_bytes, feat_digest)"
    )


def _multimodal_frames_oracle(
    n: int = 64, every_ms: int = 1000, max_frames: int = 8
) -> str:
    from ..operators.multimodal import feat_digest, plan_frame_samples, synthetic_media_item

    rows = []
    for mid in range(n):
        kind, payload, meta = synthetic_media_item(mid)
        if kind != "video":
            continue
        for i, t_ms, feats in plan_frame_samples(
            payload, meta[3], every_ms, max_frames
        ):
            rows.append((mid, i, t_ms, feat_digest(feats)))
    vals = ", ".join(f"({m}, {i}, {t}, {d!r})" for m, i, t, d in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(frame_ms AS BIGINT) AS frame_ms, "
        f"CAST(feat_digest AS DOUBLE) AS feat_digest FROM (VALUES {vals}) "
        "AS t(media_id, frame_idx, frame_ms, feat_digest)"
    )


@_register("multimodal_image_dedup", _multimodal_dedup_oracle)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual media dedup: dHash for images (videos hash their
    first frame), RMS-envelope hash for audio, near-dup pairs via
    the shared Hamming pigeonhole join grouped by kind (hashes from
    different kinds live in different metric spaces). A copy tier
    (same payloads, offset ids) guarantees every media row pairs with
    its twin at hamming 0. Value-checked: the oracle regenerates all
    payloads + hashes driver-side and enumerates expected pairs."""
    media = multimodal.synthetic_media(spark, n=48)
    copies = media.withColumn("media_id", F.col("media_id") + 10000)
    fps = multimodal.perceptual_hashes(media.unionByName(copies)).filter(
        F.col("phash").isNotNull()
    )
    return dedup.hamming_pairs(
        fps, fp_col="phash", id_col="media_id", max_hamming=2,
        group_cols=("kind",),
    )


@_register("multimodal_features_digest", _multimodal_features_oracle)
def multimodal_features_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked twin of multimodal_features: the full decode→
    featurize path (PPM/WAV/PSEQ, Arrow-batched row map) collapsed
    to one quantized digest per media item; the oracle recomputes every
    payload + feature vector locally with numpy."""
    media = multimodal.synthetic_media(spark, n=64)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.expr(_FEAT_DIGEST_SQL).alias("feat_digest"),
    )


@_register("multimodal_frame_digest", _multimodal_frames_oracle)
def multimodal_frame_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked twin of multimodal_frame_sample: per sampled video
    frame (real PSEQ demux + PPM decode inside the cardinality-increasing
    kernel), the float32 feature vector quantized to one digest; oracle
    recomputed locally frame by frame."""
    media = multimodal.synthetic_media(spark, n=64)
    frames = multimodal.sample_frames(media, every_ms=1000, max_frames=8)
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_ms",
        F.expr(_FEAT_DIGEST_SQL).alias("feat_digest"),
    )


def _multimodal_features_rows_oracle(n: int = 64) -> str:
    """Per-ELEMENT expected values: every (media_id, pos, feature) scalar
    recomputed locally — the raw-query oracle (digest twin collapses the
    vector; this one proves each element and the array order)."""
    from ..operators.multimodal import local_features, synthetic_media_item

    rows = []
    for mid in range(n):
        kind, payload, meta = synthetic_media_item(mid)
        for pos, v in enumerate(local_features(payload, meta[4])):
            rows.append((mid, kind, len(payload), pos, _q(v, 6)))
    vals = ", ".join(
        f"({m}, '{k}', {nb}, {p}, {v!r})" for m, k, nb, p, v in rows
    )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, kind, "
        "CAST(n_bytes AS BIGINT) AS n_bytes, CAST(pos AS INT) AS pos, "
        f"CAST(feat_q AS DOUBLE) AS feat_q FROM (VALUES {vals}) "
        "AS t(media_id, kind, n_bytes, pos, feat_q)"
    )


def _multimodal_frames_rows_oracle(
    n: int = 64, every_ms: int = 1000, max_frames: int = 8
) -> str:
    import numpy as np

    from ..operators.multimodal import plan_frame_samples, synthetic_media_item

    rows = []
    for mid in range(n):
        kind, payload, meta = synthetic_media_item(mid)
        if kind != "video":
            continue
        for i, t_ms, feats in plan_frame_samples(
            payload, meta[3], every_ms, max_frames
        ):
            for pos, v in enumerate(feats):
                rows.append((mid, i, t_ms, pos, _q(float(np.float32(v)), 6)))
    vals = ", ".join(f"({m}, {i}, {t}, {p}, {v!r})" for m, i, t, p, v in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(frame_ms AS BIGINT) AS frame_ms, CAST(pos AS INT) AS pos, "
        f"CAST(feat_q AS DOUBLE) AS feat_q FROM (VALUES {vals}) "
        "AS t(media_id, frame_idx, frame_ms, pos, feat_q)"
    )


@_register("multimodal_features", _multimodal_features_rows_oracle)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode→featurize over Arrow batches: P6 PPM / WAV PCM16 /
    PSEQ payloads parsed with the pure-numpy codecs (operators/codecs.py);
    formats needing PIL/librosa/av raise at the codec boundary. The
    feature vector is posexploded to scalar (pos, value) rows — the
    driver's canonicalizer can't hash array columns, and exploding also
    lets the oracle pin per-element values AND element order, stronger
    than the digest twin."""
    media = multimodal.synthetic_media(spark, n=64)
    feats = multimodal.extract_features(media)
    fv = feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.posexplode("features").alias("pos", "fv"),
    )
    return fv.select(
        "media_id",
        "kind",
        "n_bytes",
        "pos",
        q6(F.col("fv").cast("double")).alias("feat_q"),
    )


@_register("multimodal_frame_sample", _multimodal_frames_rows_oracle)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-increasing row map: one row per sampled video
    frame, real PSEQ demux + PPM decode per emitted frame; frame feature
    vectors posexploded to scalar rows for the per-element value-hash
    (see multimodal_features)."""
    media = multimodal.synthetic_media(spark, n=64)
    frames = multimodal.sample_frames(media, every_ms=1000, max_frames=8)
    fv = frames.select(
        "media_id",
        "frame_idx",
        "frame_ms",
        F.posexplode("features").alias("pos", "fv"),
    )
    return fv.select(
        "media_id",
        "frame_idx",
        "frame_ms",
        "pos",
        q6(F.col("fv").cast("double")).alias("feat_q"),
    )


def _multimodal_resize_oracle(n: int = 64, out_h: int = 12, out_w: int = 16) -> str:
    from ..operators.multimodal import local_resize_digest, synthetic_media_item

    rows = []
    for mid in range(n):
        kind, payload, meta = synthetic_media_item(mid)
        rows.append(
            (
                mid,
                kind,
                kind in ("image", "video"),
                local_resize_digest(payload, meta[4], out_h, out_w),
            )
        )
    vals = ", ".join(
        f"({m}, '{k}', {str(r).lower()}, '{d}')" for m, k, r, d in rows
    )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, kind, "
        "CAST(resized AS BOOLEAN) AS resized, payload_md5 "
        f"FROM (VALUES {vals}) AS t(media_id, kind, resized, payload_md5)"
    )


@_register("multimodal_resize_digest", _multimodal_resize_oracle)
def multimodal_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch visual resize through the real distributed kernel (PPM
    images + every PSEQ video frame to 16x12 nearest-neighbor; audio
    passes through), value-checked by md5 of the re-encoded payloads —
    the oracle regenerates and resizes every item driver-side."""
    media = multimodal.synthetic_media(spark, n=64)
    out = multimodal.resize_images(media, out_h=12, out_w=16)
    return out.select(
        "media_id",
        "kind",
        "resized",
        F.md5("payload").alias("payload_md5"),
    )


def _multimodal_scene_cuts_oracle(n: int = 32, threshold: int = 16) -> str:
    """Driver-side regeneration of the scene-structured videos + the
    per-frame dHash/Hamming/cut rows (multimodal.scene_cut_rows — the
    same pure function the kernel runs), emitted as a VALUES table."""
    from ..operators.multimodal import scene_cut_rows, synthetic_scene_video_item

    rows = []
    for mid in range(n):
        payload = synthetic_scene_video_item(mid)
        for i, d, cut in scene_cut_rows(payload, threshold):
            rows.append((mid, i, "NULL" if d is None else d, str(cut).lower()))
    vals = ", ".join(f"({m}, {i}, {d}, {c})" for m, i, d, c in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(hamming_prev AS INT) AS hamming_prev, "
        f"CAST(is_cut AS BOOLEAN) AS is_cut FROM (VALUES {vals}) "
        "AS t(media_id, frame_idx, hamming_prev, is_cut)"
    )


@_register("multimodal_scene_cuts", _multimodal_scene_cuts_oracle)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection (r8): scene-structured synthetic PSEQ
    videos (repeated base frame + small noise per scene, new base per
    scene) through the real demux → per-frame dHash → consecutive
    Hamming kernel; frames past the 16-bit threshold open a new scene.
    Within-scene transitions must stay BELOW threshold and boundaries
    above it — both branches value-checked, the oracle regenerating
    every payload and hash locally (tests/test_multimodal also asserts
    the semantic split)."""
    media = multimodal.synthetic_scene_videos(spark, n=32)
    return multimodal.scene_cuts(media, threshold=16)


def _multimodal_scene_samples_oracle(
    n: int = 32, threshold: int = 16, per_scene: int = 2
) -> str:
    """Driver-side regeneration of the per-scene sampled frames
    (multimodal.scene_sample_rows — the same pure function the kernel
    runs) as a VALUES table."""
    from ..operators.multimodal import (
        scene_sample_rows,
        synthetic_scene_video_item,
    )

    rows = []
    for mid in range(n):
        payload = synthetic_scene_video_item(mid)
        for s_idx, fi, sl, dig in scene_sample_rows(payload, threshold, per_scene):
            rows.append((mid, s_idx, fi, sl, dig))
    vals = ", ".join(f"({m}, {s}, {f}, {L}, {d!r})" for m, s, f, L, d in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(scene_idx AS INT) AS scene_idx, "
        "CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(scene_len AS INT) AS scene_len, "
        f"CAST(feat_digest AS DOUBLE) AS feat_digest FROM (VALUES {vals}) "
        "AS t(media_id, scene_idx, frame_idx, scene_len, feat_digest)"
    )


@_register("multimodal_scene_samples", _multimodal_scene_samples_oracle)
def multimodal_scene_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-scene frame sampling (r8): shot boundaries from the dHash
    scene detector, then up to 2 evenly-spaced frames per scene
    (exact-integer round-half-up spacing — the mlfeat._spaced
    convention), each decoded and reduced to the quantized feature
    digest. The sampling policy a video-pretraining pipeline uses so a
    1 s cutaway and a 40 s monologue both contribute representative
    frames; every emitted row value-checked against the driver-side
    regeneration."""
    media = multimodal.synthetic_scene_videos(spark, n=32)
    return multimodal.scene_frame_samples(media, threshold=16, per_scene=2)


def _multimodal_audio_segments_oracle(
    n: int = 32, win_ms: int = 20, k_mult: float = 0.5
) -> str:
    """Driver-side regeneration of the VAD segments
    (multimodal.active_segment_rows, all-integer arithmetic) as a
    VALUES table."""
    from ..operators.multimodal import (
        active_segment_rows,
        synthetic_speech_audio_item,
    )

    rows = []
    for mid in range(n):
        payload = synthetic_speech_audio_item(mid)
        for s, a, b, nw in active_segment_rows(payload, win_ms, k_mult):
            rows.append((mid, s, a, b, nw))
    vals = ", ".join(f"({m}, {s}, {a}, {b}, {nw})" for m, s, a, b, nw in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(segment_idx AS INT) AS segment_idx, "
        "CAST(start_ms AS BIGINT) AS start_ms, "
        "CAST(end_ms AS BIGINT) AS end_ms, "
        f"CAST(n_windows AS INT) AS n_windows FROM (VALUES {vals}) "
        "AS t(media_id, segment_idx, start_ms, end_ms, n_windows)"
    )


@_register("multimodal_audio_segments", _multimodal_audio_segments_oracle)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity segmentation (r8): speech-shaped
    synthetic WAV (voiced bursts between near-silence gaps) through
    the real decode → 20 ms windows → integer mean-square threshold →
    run-merge kernel. Exact int arithmetic end to end (the active
    test is cross-multiplied — no division, no floats), so both
    engines segment identically; tests/test_multimodal asserts the
    segments land on the generator's burst layout."""
    media = multimodal.synthetic_speech_audio(spark, n=32)
    return multimodal.active_audio_segments(media, win_ms=20, k_mult=0.5)
