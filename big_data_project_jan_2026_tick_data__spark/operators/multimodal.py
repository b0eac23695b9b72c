"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata struct;
per-item decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas`` (one batch per
partition slice — never row-at-a-time).

Decoding is REAL for the self-describing formats a pure-numpy
environment can parse (see ``codecs.py``): binary P6 PPM images,
RIFF/WAVE PCM16 audio, and PSEQ (length-prefixed PPM frame sequences)
video. Formats that need PIL/librosa/av — absent from this container —
raise at exactly the point the external codec would be invoked, unless
``allow_hash_fallback`` is set, in which case unknown payloads get a
deterministic content-hash feature vector (useful for smoke tests over
arbitrary blobs).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codecs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _hash_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic content-hash feature vector — the fallback for
    payloads in formats this environment cannot decode."""
    import hashlib

    h = hashlib.sha256(payload or b"").digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)]


def _image_features(pixels: np.ndarray) -> list[float]:
    """8-dim pooled image descriptor: per-channel mean and std of the
    8×8 nearest-resized image (normalized), mean luma, aspect ratio —
    the shape a real embed kernel produces, computed from real pixels."""
    h, w = pixels.shape[:2]
    small = codecs.resize_nearest(pixels, 8, 8).astype(np.float64) / 255.0
    means = small.mean(axis=(0, 1))
    stds = small.std(axis=(0, 1))
    luma = float(0.299 * means[0] + 0.587 * means[1] + 0.114 * means[2])
    return [*(float(x) for x in means), *(float(x) for x in stds), luma, w / h]


def _audio_features(samples: np.ndarray, sample_rate: int) -> list[float]:
    """8-dim audio descriptor: mean, std, rms, zero-crossing rate,
    min, max, duration (s, /10), normalized sample rate."""
    if len(samples) == 0:
        samples = np.zeros(1)
    zcr = float(np.mean(np.abs(np.diff(np.signbit(samples).astype(np.int8)))))
    return [
        float(samples.mean()),
        float(samples.std()),
        float(np.sqrt(np.mean(samples**2))),
        zcr,
        float(samples.min()),
        float(samples.max()),
        len(samples) / sample_rate / 10.0,
        sample_rate / 48000.0,
    ]


def _decode_features(payload: bytes, codec: str, allow_hash_fallback: bool) -> list[float]:
    if codec == "ppm":
        return _image_features(codecs.decode_ppm(payload))
    if codec == "pcm16":
        return _audio_features(*codecs.decode_wav(payload))
    if codec == "ppmseq":
        frames = codecs.demux_ppmseq(payload)
        # representative frame = first (thumbnail semantics)
        return _image_features(codecs.decode_ppm(frames[0]))
    if allow_hash_fallback:
        return _hash_features(payload)
    raise NotImplementedError(
        f"codec {codec!r} needs an external decoder (PIL/librosa/av), "
        "none available in this environment; pass allow_hash_fallback=True "
        "to smoke-test with content-hash features"
    )


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    allow_hash_fallback: bool = False,
) -> DataFrame:
    """Decode + featurize media payloads via mapInPandas (Arrow batches).

    Dispatches on ``meta.codec``: ppm / pcm16 / ppmseq decode for REAL
    (pure numpy, ``codecs.py``); anything else raises where an external
    codec would run, or falls back to content-hash features when
    ``allow_hash_fallback`` is set."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, meta in zip(pdf[payload_col], pdf["meta"]):
                codec = (meta or {}).get("codec") or ""
                feats.append(
                    _decode_features(payload or b"", codec, allow_hash_fallback)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf[payload_col].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "features": pd.Series(feats, dtype="object"),
                }
            )

    return df.mapInPandas(kernel, schema=_FEATURES_SCHEMA)


_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ms", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 8,
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling for video payloads: demux the PSEQ container, pick
    the frame nearest each ``every_ms`` tick of the declared duration
    (capped at ``max_frames``), decode it and emit one row per sampled
    frame — a cardinality-*increasing* mapInPandas kernel (n media rows
    → Σ frames rows), the same batch shape an av/ffmpeg sampler
    produces, with a real demux→decode per emitted frame."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ms": [], "features": []}
            vids = pdf[pdf["kind"] == "video"]
            for _, row in vids.iterrows():
                meta = row["meta"] or {}
                dur = int(meta.get("duration_ms") or 0)
                for i, t_ms, feats in plan_frame_samples(
                    row[payload_col], dur, every_ms, max_frames
                ):
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(i)
                    out["frame_ms"].append(t_ms)
                    out["features"].append(feats)
            # explicit dtypes: an empty dict-of-lists defaults every
            # column to float64, which Arrow can't cast to list<float>
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "frame_ms": pd.Series(out["frame_ms"], dtype="int64"),
                    "features": pd.Series(out["features"], dtype="object"),
                }
            )

    return df.mapInPandas(kernel, schema=_FRAMES_SCHEMA)


def plan_frame_samples(
    payload: bytes, duration_ms: int, every_ms: int, max_frames: int
) -> list[tuple[int, int, list[float]]]:
    """(frame_idx, frame_ms, features) for each sampled frame of one PSEQ
    payload — pure function shared by the mapInPandas kernel and the
    driver-side oracle recomputation: pick the frame nearest each
    ``every_ms`` tick of the declared duration, capped at ``max_frames``,
    decode it, featurize."""
    frames = codecs.demux_ppmseq(payload or b"")
    if not frames:
        return []
    out = []
    n_samples = min(max_frames, max(duration_ms // every_ms, 1))
    for i in range(n_samples):
        t_ms = i * every_ms
        # evenly-spaced frames over the duration → nearest
        src = min(len(frames) - 1, t_ms * len(frames) // max(duration_ms, 1))
        out.append((i, t_ms, _image_features(codecs.decode_ppm(frames[src]))))
    return out


def _dhash(pixels: np.ndarray) -> int:
    """64-bit difference hash (dHash): grayscale → nearest-resize to
    8×9 → each bit is left-pixel > right-pixel. Robust to re-encoding,
    mild noise and rescaling — the standard perceptual key for image
    dedup (pHash-family, as used by large image-text corpus cleanups).
    Returns a SIGNED 64-bit int (Spark long)."""
    gray = pixels.astype(np.float64).mean(axis=2) if pixels.ndim == 3 else pixels
    small = codecs.resize_nearest(gray[..., None], 8, 9)[..., 0]
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def _audio_envelope_hash(samples: np.ndarray) -> int:
    """64-bit audio fingerprint: RMS energy over 65 equal windows, each
    bit is next-window > this-window. Invariant to global gain (only
    energy *ordering* matters) and robust to mild noise — the envelope
    analogue of image dHash."""
    n = len(samples)
    if n < 65:
        samples = np.pad(samples.astype(np.float64), (0, 65 - n))
        n = 65
    bounds = (np.arange(66) * n) // 65
    e = np.array(
        [
            np.sqrt(np.mean(np.square(samples[bounds[i]:max(bounds[i + 1], bounds[i] + 1)].astype(np.float64))))
            for i in range(65)
        ]
    )
    bits = e[1:] > e[:-1]
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def perceptual_hashes(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Perceptual fingerprints for media payloads via mapInPandas: ppm
    images dHash their pixels, ppmseq videos dHash their first frame
    (thumbnail semantics), pcm16 audio hashes its RMS-energy envelope;
    unknown codecs yield NULL. Hashes from different kinds live in
    different metric spaces — pair them with ``dedup.hamming_pairs(...,
    group_cols=("kind",))``. At 100 TB only (media_id, kind, phash)
    triples ever shuffle; payload bytes stay where they were decoded."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload, meta in zip(
                pdf["media_id"], pdf["kind"], pdf[payload_col], pdf["meta"]
            ):
                codec = (meta or {}).get("codec") or ""
                if codec == "ppm":
                    ph = _dhash(codecs.decode_ppm(payload))
                elif codec == "ppmseq":
                    ph = _dhash(codecs.decode_ppm(codecs.demux_ppmseq(payload)[0]))
                elif codec == "pcm16":
                    ph = _audio_envelope_hash(codecs.decode_wav(payload)[0])
                else:
                    ph = None
                out.append((int(mid), kind, ph))
            yield pd.DataFrame(out, columns=["media_id", "kind", "phash"])

    return df.mapInPandas(kernel, schema=_PHASH_SCHEMA)


def synthetic_media_item(mid: int, seed: int = 7) -> tuple[str, bytes, tuple]:
    """Pure per-id payload generator: (kind, payload, meta) for media_id
    ``mid``. A pure function of (mid, seed) so executors generate their
    own partitions AND the oracle side can recompute any item locally
    without Spark — the value-check independence hinges on this."""
    kind = ("image", "audio", "video")[mid % 3]
    rng = np.random.default_rng(seed * 1_000_003 + int(mid))
    if kind == "image":
        w, h = 16 + int(mid) % 48, 12 + int(mid) % 36
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = codecs.encode_ppm(px)
        meta = (w, h, None, None, "ppm")
    elif kind == "audio":
        sr = 16000
        dur_ms = 50 + int(mid) % 200
        t = np.arange(int(sr * dur_ms / 1000))
        wave = (
            np.sin(2 * np.pi * (200 + int(mid) % 600) * t / sr) * 12000
            + rng.normal(0, 500, len(t))
        ).astype(np.int16)
        payload = codecs.encode_wav(wave, sr)
        meta = (None, None, sr, dur_ms, "pcm16")
    else:
        n_frames = 2 + int(mid) % 6
        frames = [
            rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
            for _ in range(n_frames)
        ]
        payload = codecs.encode_ppmseq(frames)
        meta = (16, 12, None, int(mid) % 8000 + 1000, "ppmseq")
    return kind, payload, meta


def synthetic_media(spark, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic synthetic media table in the REAL formats the
    decoders parse: P6 PPM images, RIFF/WAVE PCM16 audio, PSEQ frame
    sequences for video. Generated distributively (mapInPandas over a
    range — payload bytes never touch the driver)."""
    base = spark.range(n).select(F.col("id").alias("media_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                kind, payload, meta = synthetic_media_item(int(mid), seed)
                rows.append((int(mid), kind, payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return base.mapInPandas(gen, schema=MEDIA_SCHEMA)


def synthetic_scene_video_item(mid: int, seed: int = 7) -> bytes:
    """Pure per-id SCENE-STRUCTURED video payload: 2-4 scenes, each a
    random base frame repeated with small per-frame pixel noise (±2),
    so consecutive dHashes are near-identical WITHIN a scene and far
    apart ACROSS scene boundaries — the structure a shot-boundary
    detector exists to find (plain ``synthetic_media_item`` videos are
    i.i.d. random frames: every transition looks like a cut). Pure
    function of (mid, seed) — the oracle regenerates it locally."""
    rng = np.random.default_rng(seed * 7_368_787 + int(mid))
    n_scenes = 2 + int(mid) % 3
    frames_per_scene = 2 + int(mid) % 2
    frames = []
    for _ in range(n_scenes):
        base = rng.integers(0, 256, size=(12, 16, 3), dtype=np.int16)
        for _ in range(frames_per_scene):
            noise = rng.integers(-2, 3, size=base.shape, dtype=np.int16)
            frames.append(np.clip(base + noise, 0, 255).astype(np.uint8))
    return codecs.encode_ppmseq(frames)


def synthetic_scene_videos(spark, n: int = 32, seed: int = 7) -> DataFrame:
    """(media_id, payload) table of scene-structured PSEQ videos,
    generated distributively (payload bytes never touch the driver)."""
    base = spark.range(n).select(F.col("id").alias("media_id"))
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(mid), synthetic_scene_video_item(int(mid), seed))
                for mid in pdf["media_id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return base.mapInPandas(gen, schema=out_schema)


def _scene_cuts_from_frames(
    frames: list[bytes], threshold: int
) -> list[tuple[int, int | None, bool]]:
    """Cut detection over an ALREADY-DEMUXED frame list — lets callers
    that also need the frames (per-scene sampling) demux the payload
    exactly once (advisor r8: the sampler was demuxing twice). Each
    frame is decoded once here for its dHash."""
    out: list[tuple[int, int | None, bool]] = []
    prev: int | None = None
    for i, fr in enumerate(frames):
        h = _dhash(codecs.decode_ppm(fr))
        if prev is None:
            out.append((i, None, True))
        else:
            d = bin((h ^ prev) & 0xFFFFFFFFFFFFFFFF).count("1")
            out.append((i, d, d > threshold))
        prev = h
    return out


def scene_cut_rows(
    payload: bytes, threshold: int
) -> list[tuple[int, int | None, bool]]:
    """(frame_idx, hamming-to-previous-frame-dHash, is_cut) per frame of
    one PSEQ payload — pure function shared by the mapInPandas kernel
    and the driver-side oracle recomputation. Frame 0 opens the first
    scene (hamming NULL, cut True); later frames cut when the dHash
    Hamming distance to the previous frame exceeds ``threshold``."""
    return _scene_cuts_from_frames(codecs.demux_ppmseq(payload or b""), threshold)


_SCENE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("hamming_prev", T.IntegerType(), True),
        T.StructField("is_cut", T.BooleanType(), False),
    ]
)


def scene_cuts(
    df: DataFrame, threshold: int = 16, payload_col: str = "payload"
) -> DataFrame:
    """Shot-boundary detection over PSEQ video payloads: demux, dHash
    every frame, flag frames whose perceptual distance to the previous
    frame exceeds ``threshold`` bits — the scene segmentation step a
    video-pretraining pipeline runs before per-scene frame sampling
    (sampling per SCENE beats sampling per fixed tick when shots have
    very different lengths). Cardinality-increasing mapInPandas (one
    row per frame); at 100 TB only (media_id, frame_idx, int, bool)
    rows ever leave the decode site — payload bytes stay put."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                for i, d, cut in scene_cut_rows(payload, threshold):
                    rows.append((int(mid), i, d, cut))
            out = pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "hamming_prev", "is_cut"]
            )
            out["media_id"] = out["media_id"].astype("int64")
            out["frame_idx"] = out["frame_idx"].astype("int32")
            out["hamming_prev"] = out["hamming_prev"].astype("object")
            yield out

    return df.mapInPandas(kernel, schema=_SCENE_SCHEMA)


def scene_sample_rows(
    payload: bytes, threshold: int, per_scene: int
) -> list[tuple[int, int, int, float]]:
    """(scene_idx, frame_idx, scene_len, feat_digest) for up to
    ``per_scene`` evenly-spaced frames of each detected scene — pure
    function shared by the kernel and the oracle. Spacing uses the
    exact-integer round-half-up index formula (the mlfeat._spaced
    convention): pick positions (2·i·(L−1) + (k−1)) // (2·(k−1)) for
    k>1, else position 0. One demux per payload: the frame list feeds
    BOTH the cut pass and the emitted-frame decode (advisor r8)."""
    frames = codecs.demux_ppmseq(payload or b"")
    cuts = _scene_cuts_from_frames(frames, threshold)
    # group frame indices into scenes
    scenes: list[list[int]] = []
    for i, _d, cut in cuts:
        if cut:
            scenes.append([])
        scenes[-1].append(i)
    out = []
    for s_idx, idxs in enumerate(scenes):
        L = len(idxs)
        k = min(per_scene, L)
        if k == 1:
            picks = [0]
        else:
            picks = [(2 * i * (L - 1) + (k - 1)) // (2 * (k - 1)) for i in range(k)]
        seen = set()
        for p in picks:
            if p in seen:  # dedupe collapsed picks on short scenes
                continue
            seen.add(p)
            fi = idxs[p]
            feats = _image_features(codecs.decode_ppm(frames[fi]))
            f32 = [float(np.float32(v)) for v in feats]
            s = 0.0
            for v in f32:
                s += math.floor(v * 1e4 + 0.5) / 1e4
            out.append((s_idx, fi, L, math.floor(s * 1e6 + 0.5) / 1e6))
    return out


_SCENE_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("scene_idx", T.IntegerType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("scene_len", T.IntegerType(), False),
        T.StructField("feat_digest", T.DoubleType(), False),
    ]
)


def scene_frame_samples(
    df: DataFrame,
    threshold: int = 16,
    per_scene: int = 2,
    payload_col: str = "payload",
) -> DataFrame:
    """Per-SCENE frame sampling: segment each video at perceptual shot
    boundaries (:func:`scene_cuts`) and take up to ``per_scene``
    evenly-spaced frames from every scene — the sampling policy that
    beats fixed-tick sampling when shots have very different lengths
    (a 1 s cutaway and a 40 s monologue both contribute representative
    frames instead of the tick grid oversampling the monologue).
    Cardinality-increasing mapInPandas; ONE demux per payload, one
    decode per frame for the dHash pass (cut detection needs every
    frame's pixels by definition), plus one decode per EMITTED frame;
    payload bytes never leave the executor."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                for s_idx, fi, sl, dig in scene_sample_rows(
                    payload, threshold, per_scene
                ):
                    rows.append((int(mid), s_idx, fi, sl, dig))
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "scene_idx", "frame_idx", "scene_len",
                    "feat_digest",
                ],
            )
            out["media_id"] = out["media_id"].astype("int64")
            for c in ("scene_idx", "frame_idx", "scene_len"):
                out[c] = out[c].astype("int32")
            out["feat_digest"] = out["feat_digest"].astype("float64")
            yield out

    return df.mapInPandas(kernel, schema=_SCENE_SAMPLE_SCHEMA)


def synthetic_speech_audio_item(mid: int, seed: int = 7) -> bytes:
    """Pure per-id SPEECH-SHAPED audio payload: alternating voiced
    bursts (loud sine + noise) and near-silence gaps (tiny noise), so
    an energy-based activity detector has real segments to find (the
    plain ``synthetic_media_item`` audio is one continuous tone). Pure
    function of (mid, seed) for oracle-side regeneration."""
    rng = np.random.default_rng(seed * 9_227_465 + int(mid))
    sr = 16000
    n_bursts = 2 + int(mid) % 3
    chunks = []
    for b in range(n_bursts):
        gap_ms = 40 + int((mid + b) % 4) * 20
        talk_ms = 60 + int((mid + 2 * b) % 5) * 30
        gap = rng.normal(0, 40, int(sr * gap_ms / 1000))
        t = np.arange(int(sr * talk_ms / 1000))
        talk = (
            np.sin(2 * np.pi * (150 + 40 * b + int(mid) % 90) * t / sr) * 11000
            + rng.normal(0, 600, len(t))
        )
        chunks.extend([gap, talk])
    chunks.append(rng.normal(0, 40, int(sr * 50 / 1000)))  # trailing gap
    samples = np.clip(np.concatenate(chunks), -32768, 32767).astype(np.int16)
    return codecs.encode_wav(samples, sr)


def synthetic_speech_audio(spark, n: int = 32, seed: int = 7) -> DataFrame:
    """(media_id, payload) table of speech-shaped WAV payloads,
    generated distributively."""
    base = spark.range(n).select(F.col("id").alias("media_id"))
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(mid), synthetic_speech_audio_item(int(mid), seed))
                for mid in pdf["media_id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return base.mapInPandas(gen, schema=out_schema)


def active_segment_rows(
    payload: bytes, win_ms: int, k_mult: float
) -> list[tuple[int, int, int, int]]:
    """(segment_idx, start_ms, end_ms, n_windows) of the voice-active
    segments of one WAV payload — pure function shared by the kernel
    and the oracle. A window is ACTIVE when its integer mean-square
    energy exceeds ``k_mult`` × the payload's global integer
    mean-square (exact int arithmetic end to end: int16 squares summed
    as Python ints, the threshold compare cross-multiplied so no
    division or float ever happens); consecutive active windows merge
    into segments."""
    samples, sr = codecs.decode_wav(payload or b"")
    if len(samples) == 0:
        return []
    # decode_wav hands back int16/32768.0 floats (exact binary
    # fractions) — multiply back to recover the EXACT int16 values so
    # the whole detector stays integer arithmetic
    x = np.round(samples * 32768.0).astype(np.int64)
    sq = x * x
    total_e = int(sq.sum())
    n = len(x)
    win = max(int(sr * win_ms / 1000), 1)
    k_num, k_den = int(round(k_mult * 1000)), 1000
    flags = []
    for w0 in range(0, n, win):
        w = sq[w0 : w0 + win]
        # active iff (sum_w / len_w) > k * (total_e / n)  — compared as
        # sum_w * n * k_den > k_num * total_e * len_w (exact ints)
        flags.append(int(w.sum()) * n * k_den > k_num * total_e * len(w))
    out = []
    seg = None
    for i, a in enumerate(flags):
        if a and seg is None:
            seg = [i, i]
        elif a:
            seg[1] = i
        elif seg is not None:
            out.append(seg)
            seg = None
    if seg is not None:
        out.append(seg)
    rows = []
    for s_idx, (w_start, w_end) in enumerate(out):
        start_ms = w_start * win * 1000 // sr
        end_ms = min((w_end + 1) * win, n) * 1000 // sr
        rows.append((s_idx, start_ms, end_ms, w_end - w_start + 1))
    return rows


_AUDIO_SEG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("segment_idx", T.IntegerType(), False),
        T.StructField("start_ms", T.LongType(), False),
        T.StructField("end_ms", T.LongType(), False),
        T.StructField("n_windows", T.IntegerType(), False),
    ]
)


def active_audio_segments(
    df: DataFrame,
    win_ms: int = 20,
    k_mult: float = 0.5,
    payload_col: str = "payload",
) -> DataFrame:
    """Energy-based voice-activity segmentation (VAD-lite): decode WAV,
    window the int16 stream, flag windows whose mean-square energy
    exceeds ``k_mult`` × the global mean-square, merge runs into
    (start_ms, end_ms) segments — the trim/segment step an audio
    pretraining pipeline runs before transcription or chunking (drop
    silence, bound segment length). All-integer arithmetic (no float
    thresholds), so the segmentation is bit-identical everywhere.
    Cardinality-increasing mapInPandas; only (id, idx, ms, ms, int)
    rows leave the decode site."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                for s, a, b, nw in active_segment_rows(payload, win_ms, k_mult):
                    rows.append((int(mid), s, a, b, nw))
            out = pd.DataFrame(
                rows,
                columns=["media_id", "segment_idx", "start_ms", "end_ms",
                         "n_windows"],
            )
            out["media_id"] = out["media_id"].astype("int64")
            out["segment_idx"] = out["segment_idx"].astype("int32")
            out["start_ms"] = out["start_ms"].astype("int64")
            out["end_ms"] = out["end_ms"].astype("int64")
            out["n_windows"] = out["n_windows"].astype("int32")
            yield out

    return df.mapInPandas(kernel, schema=_AUDIO_SEG_SCHEMA)


def local_phash(payload: bytes, codec: str) -> int | None:
    """Driver-side recomputation of one perceptual hash (no Spark) —
    oracle companion to :func:`perceptual_hashes`."""
    if codec == "ppm":
        return _dhash(codecs.decode_ppm(payload))
    if codec == "ppmseq":
        return _dhash(codecs.decode_ppm(codecs.demux_ppmseq(payload)[0]))
    if codec == "pcm16":
        return _audio_envelope_hash(codecs.decode_wav(payload)[0])
    return None


def local_features(payload: bytes, codec: str) -> list[float]:
    """Driver-side recomputation of one feature vector, quantized through
    float32 exactly as the ArrayType(FloatType) column stores it."""
    return [float(np.float32(v)) for v in _decode_features(payload, codec, False)]


RESIZED_SCHEMA = T.StructType(
    list(MEDIA_SCHEMA.fields) + [T.StructField("resized", T.BooleanType(), False)]
)


def _resize_payload(payload: bytes, codec: str, out_h: int, out_w: int):
    """(new_payload, resized?) for one media item — image PPM resized
    directly, PSEQ video resized frame-by-frame (demux → per-frame
    nearest-neighbor → re-mux), audio passed through. Unknown visual
    codecs raise at the decode boundary (same contract as
    `_decode_features`): silently passing a wrong-sized jpeg through a
    resize stage would poison the fixed-input featurizer downstream."""
    if codec == "ppm":
        px = codecs.resize_nearest(codecs.decode_ppm(payload), out_h, out_w)
        return codecs.encode_ppm(px), True
    if codec == "ppmseq":
        frames = [
            codecs.resize_nearest(codecs.decode_ppm(f), out_h, out_w)
            for f in codecs.demux_ppmseq(payload)
        ]
        return codecs.encode_ppmseq(frames), True
    if codec == "pcm16":
        return payload, False
    if not codec:
        raise ValueError(
            "resize: media row has no codec metadata — cannot tell an "
            "image payload from audio; populate meta.codec upstream"
        )
    raise NotImplementedError(
        f"resize: codec {codec!r} needs an external decoder (this container "
        "ships pure-numpy PPM/PSEQ/WAV only)"
    )


def resize_images(df: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Batch resize of the visual media in a table (the preprocessing
    step before any fixed-input-size vision featurizer): images and
    every frame of PSEQ videos go through the real nearest-neighbor
    kernel (`codecs.resize_nearest`); audio rows pass through untouched
    with ``resized=false``. Arrow-batched ``mapInPandas`` — payload
    bytes move executor-side only, width/height metadata updated in
    place. External-codec formats raise at the decode boundary like
    :func:`extract_features` (reference `Data Preprocessing and
    Cleaning` performs the equivalent per-file resize loop
    single-node)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads, out_meta, flags = [], [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                if meta is None:
                    codec = ""
                elif isinstance(meta, dict):
                    codec = meta.get("codec") or ""
                else:
                    codec = meta[4] or ""
                new_payload, did = _resize_payload(
                    bytes(payload), codec, out_h, out_w
                )
                m = dict(meta) if isinstance(meta, dict) else {
                    "width": meta[0],
                    "height": meta[1],
                    "sample_rate": meta[2],
                    "duration_ms": meta[3],
                    "codec": meta[4],
                }
                if did:
                    m["width"], m["height"] = out_w, out_h
                out_payloads.append(new_payload)
                out_meta.append(m)
                flags.append(did)
            pdf = pdf.copy()
            pdf["payload"] = out_payloads
            pdf["meta"] = out_meta
            pdf["resized"] = flags
            yield pdf

    return df.mapInPandas(kernel, schema=RESIZED_SCHEMA)


def local_resize_digest(payload: bytes, codec: str, out_h: int, out_w: int) -> str:
    """Driver-side md5 of the resized payload — oracle companion to
    :func:`resize_images`."""
    import hashlib

    new_payload, _ = _resize_payload(payload, codec, out_h, out_w)
    return hashlib.md5(new_payload).hexdigest()
