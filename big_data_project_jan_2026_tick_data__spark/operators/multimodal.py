"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata struct;
per-item decode / feature-extract / resize / frame-sample run as pure
per-row Python functions behind ``engine.map_rows``, which hands the
workers Arrow batches (``mapInArrow``) and types the rows they return
with the declared schema. The oracles call the same pure functions
driver-side.

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

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (for meta structs)
from pyspark.sql import types as T

from ..engine import map_rows
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

_ID_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
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
    """Decode + featurize media payloads, one feature row per media row.

    Dispatches on ``meta.codec``: ppm / pcm16 / ppmseq decode for REAL
    (pure numpy, ``codecs.py``); anything else raises where an external
    codec would run, or falls back to content-hash features when
    ``allow_hash_fallback`` is set."""

    def features(mid, kind, payload, meta):
        codec = (meta or {}).get("codec") or ""
        payload = payload or b""
        return [
            (mid, kind, len(payload),
             _decode_features(payload, codec, allow_hash_fallback))
        ]

    return map_rows(
        df, ["media_id", "kind", payload_col, "meta"], features, _FEATURES_SCHEMA
    )


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
    frame — a cardinality-*increasing* row map (n media rows → Σ frames
    rows), the same batch shape an av/ffmpeg sampler produces, with a
    real demux→decode per emitted frame."""

    def frames(mid, kind, payload, meta):
        if kind != "video":
            return []
        dur = int((meta or {}).get("duration_ms") or 0)
        return [
            (mid, *sample)
            for sample in plan_frame_samples(payload, dur, every_ms, max_frames)
        ]

    return map_rows(
        df, ["media_id", "kind", payload_col, "meta"], frames, _FRAMES_SCHEMA
    )


def plan_frame_samples(
    payload: bytes, duration_ms: int, every_ms: int, max_frames: int
) -> list[tuple[int, int, list[float]]]:
    """(frame_idx, frame_ms, features) for each sampled frame of one PSEQ
    payload — pure function shared by :func:`sample_frames` and the
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
    """Perceptual fingerprints for media payloads (:func:`local_phash`
    per row): ppm images dHash their pixels, ppmseq videos dHash their
    first frame (thumbnail semantics), pcm16 audio hashes its RMS-energy
    envelope; unknown codecs yield NULL. Hashes from different kinds live in
    different metric spaces — pair them with ``dedup.hamming_pairs(...,
    group_cols=("kind",))``. At 100 TB only (media_id, kind, phash)
    triples ever shuffle; payload bytes stay where they were decoded."""

    def phash(mid, kind, payload, meta):
        return [(mid, kind, local_phash(payload, (meta or {}).get("codec") or ""))]

    return map_rows(
        df, ["media_id", "kind", payload_col, "meta"], phash, _PHASH_SCHEMA
    )


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
    sequences for video. Generated distributively (a row map over a
    range — payload bytes never touch the driver)."""
    return map_rows(
        spark.range(n), ["id"],
        lambda mid: [(mid, *synthetic_media_item(mid, seed))], MEDIA_SCHEMA,
    )


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
    return map_rows(
        spark.range(n), ["id"],
        lambda mid: [(mid, synthetic_scene_video_item(mid, seed))],
        _ID_PAYLOAD_SCHEMA,
    )


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
    one PSEQ payload — pure function shared by :func:`scene_cuts` and
    the driver-side oracle recomputation. Frame 0 opens the first
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
    very different lengths). Cardinality-increasing row map (one row
    per frame); at 100 TB only (media_id, frame_idx, int, bool) rows
    ever leave the decode site — payload bytes stay put."""
    return map_rows(
        df, ["media_id", payload_col],
        lambda mid, payload: [
            (mid, *r) for r in scene_cut_rows(payload, threshold)
        ],
        _SCENE_SCHEMA,
    )


def scene_sample_rows(
    payload: bytes, threshold: int, per_scene: int
) -> list[tuple[int, int, int, float]]:
    """(scene_idx, frame_idx, scene_len, feat_digest) for up to
    ``per_scene`` evenly-spaced frames of each detected scene — pure
    function shared by :func:`scene_frame_samples` and the oracle.
    Spacing uses the exact-integer round-half-up index formula (the
    mlfeat._spaced convention): pick positions
    (2·i·(L−1) + (k−1)) // (2·(k−1)) for k>1, else position 0. One
    demux per payload: the frame list feeds BOTH the cut pass and the
    emitted-frame decode (advisor r8)."""
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
            out.append((s_idx, fi, L, feat_digest(feats)))
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
    Cardinality-increasing row map; ONE demux per payload, one decode
    per frame for the dHash pass (cut detection needs every frame's
    pixels by definition), plus one decode per EMITTED frame; payload
    bytes never leave the executor."""
    return map_rows(
        df, ["media_id", payload_col],
        lambda mid, payload: [
            (mid, *r) for r in scene_sample_rows(payload, threshold, per_scene)
        ],
        _SCENE_SAMPLE_SCHEMA,
    )


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
    return map_rows(
        spark.range(n), ["id"],
        lambda mid: [(mid, synthetic_speech_audio_item(mid, seed))],
        _ID_PAYLOAD_SCHEMA,
    )


def active_segment_rows(
    payload: bytes, win_ms: int, k_mult: float
) -> list[tuple[int, int, int, int]]:
    """(segment_idx, start_ms, end_ms, n_windows) of the voice-active
    segments of one WAV payload — pure function shared by
    :func:`active_audio_segments` and the oracle. A window is ACTIVE
    when its integer mean-square energy exceeds ``k_mult`` × the
    payload's global integer mean-square (exact int arithmetic end to
    end: int16 squares summed as Python ints, the threshold compare
    cross-multiplied so no division or float ever happens); consecutive
    active windows merge into segments."""
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
    Cardinality-increasing row map; only (id, idx, ms, ms, int) rows
    leave the decode site."""
    return map_rows(
        df, ["media_id", payload_col],
        lambda mid, payload: [
            (mid, *r) for r in active_segment_rows(payload, win_ms, k_mult)
        ],
        _AUDIO_SEG_SCHEMA,
    )


def local_phash(payload: bytes, codec: str) -> int | None:
    """One payload's perceptual hash, or None for a codec without one —
    the per-row function of :func:`perceptual_hashes` and its oracle."""
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


def feat_digest(feats: list[float]) -> float:
    """One feature vector's digest as the SQL side computes it over the
    stored float32 array: each element through float32, half-up to 4 dp,
    summed left to right, the total half-up to 6 dp — identical doubles
    in identical order on both sides."""
    s = 0.0
    for v in feats:
        s += math.floor(float(np.float32(v)) * 1e4 + 0.5) / 1e4
    return math.floor(s * 1e6 + 0.5) / 1e6


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
    with ``resized=false``. A row map — payload bytes move executor-side
    only, width/height metadata updated in place. External-codec
    formats raise at the decode boundary like :func:`extract_features`
    (reference `Data Preprocessing and Cleaning` performs the equivalent
    per-file resize loop single-node)."""

    def resize(mid, kind, payload, meta):
        codec = (meta or {}).get("codec") or ""
        new_payload, did = _resize_payload(payload, codec, out_h, out_w)
        if did:
            meta = {**meta, "width": out_w, "height": out_h}
        return [(mid, kind, new_payload, meta, did)]

    return map_rows(df, MEDIA_SCHEMA.names, resize, RESIZED_SCHEMA)


def local_resize_digest(payload: bytes, codec: str, out_h: int, out_w: int) -> str:
    """Driver-side md5 of the resized payload — oracle companion to
    :func:`resize_images`."""
    import hashlib

    new_payload, _ = _resize_payload(payload, codec, out_h, out_w)
    return hashlib.md5(new_payload).hexdigest()
