"""Multimodal columns: real pure-numpy codecs (P6 PPM / WAV PCM16 /
PSEQ) through per-row kernels on the Arrow row map (``engine.map_rows``)
— decode correctness AND the Spark-side schema/batch/cardinality
contracts."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_project_jan_2026_tick_data__spark.operators import codecs, multimodal


def test_codec_roundtrips():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    assert (codecs.decode_ppm(codecs.encode_ppm(px)) == px).all()
    # header comments are legal PPM — the parser must skip them
    commented = b"P6\n# a comment\n13 9\n255\n" + px.tobytes()
    assert (codecs.decode_ppm(commented) == px).all()

    wave = (np.sin(np.arange(800) / 10) * 20000).astype(np.int16)
    samples, sr = codecs.decode_wav(codecs.encode_wav(wave, 16000))
    assert sr == 16000
    np.testing.assert_allclose(samples, wave / 32768.0)

    frames = [rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8) for _ in range(5)]
    blobs = codecs.demux_ppmseq(codecs.encode_ppmseq(frames))
    assert len(blobs) == 5
    assert all(
        (codecs.decode_ppm(b) == f).all() for b, f in zip(blobs, frames)
    )


def test_extract_features_real_decode(spark):
    media = multimodal.synthetic_media(spark, n=30)
    out = multimodal.extract_features(media)
    assert [f.name for f in out.schema.fields] == [
        "media_id",
        "kind",
        "n_bytes",
        "features",
    ]
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 30
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in rows.values())
    # deterministic: re-running yields identical features
    rows2 = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert all(rows[i].features == rows2[i].features for i in rows)

    # cross-check one image row against a direct numpy decode of the
    # same payload (the features must come from REAL pixels)
    img_row = media.filter("kind = 'image'").limit(1).collect()[0]
    expected = multimodal._image_features(codecs.decode_ppm(bytes(img_row.payload)))
    got = rows[img_row.media_id].features
    np.testing.assert_allclose(got, expected, rtol=1e-6)
    # sanity: channel means of uniform-random pixels sit near 0.5
    assert 0.2 < got[0] < 0.8

    # audio row: rms of a sine at amp ~12000/32768 is ~0.26
    aud_row = media.filter("kind = 'audio'").limit(1).collect()[0]
    rms = rows[aud_row.media_id].features[2]
    assert 0.1 < rms < 0.5


def test_unknown_codec_gate(spark):
    media = multimodal.synthetic_media(spark, n=6).withColumn(
        "meta",
        multimodal.F.struct(
            multimodal.F.lit(None).cast("int").alias("width"),
            multimodal.F.lit(None).cast("int").alias("height"),
            multimodal.F.lit(None).cast("int").alias("sample_rate"),
            multimodal.F.lit(None).cast("long").alias("duration_ms"),
            multimodal.F.lit("h264").alias("codec"),
        ),
    )
    with pytest.raises(Exception, match="NotImplementedError|external decoder|h264"):
        multimodal.extract_features(media).collect()
    # hash fallback keeps the pipeline alive for unknown formats
    out = multimodal.extract_features(media, allow_hash_fallback=True).collect()
    assert len(out) == 6
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in out)


def test_sample_frames_real_demux(spark):
    media = multimodal.synthetic_media(spark, n=30)
    frames = multimodal.sample_frames(media, every_ms=1000, max_frames=8)
    rows = frames.collect()
    vids = {r.media_id: r for r in media.filter("kind = 'video'").collect()}
    assert {r.media_id for r in rows} == set(vids)
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, fr in by_media.items():
        dur = mid % 8000 + 1000  # synthetic_media duration_ms
        expected = min(8, max(dur // 1000, 1))
        assert len(fr) == expected
        assert sorted(f.frame_idx for f in fr) == list(range(expected))
    # per-frame features equal a direct demux+decode of the same payload
    mid, fr = next(iter(by_media.items()))
    blobs = codecs.demux_ppmseq(bytes(vids[mid].payload))
    dur = mid % 8000 + 1000
    for f in sorted(fr, key=lambda r: r.frame_idx):
        src = min(len(blobs) - 1, f.frame_ms * len(blobs) // max(dur, 1))
        expected = multimodal._image_features(codecs.decode_ppm(blobs[src]))
        np.testing.assert_allclose(f.features, expected, rtol=1e-6)


def test_perceptual_hash_near_dup_detection(spark):
    """dHash: a re-encoded copy with mild pixel noise stays within a few
    Hamming bits of the original; an unrelated image does not. The
    hamming_pairs pigeonhole join finds exactly the planted pair."""
    import numpy as np
    import pandas as pd

    from big_data_project_jan_2026_tick_data__spark.operators import codecs, multimodal
    from big_data_project_jan_2026_tick_data__spark.operators.dedup import hamming_pairs

    rng = np.random.default_rng(11)
    # smooth gradient image: dHash is stable under small noise on smooth
    # content (random-noise images flip bits at the slightest touch)
    yy, xx = np.mgrid[0:48, 0:64]
    base = np.stack([(xx * 4) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], -1).astype(
        np.uint8
    )
    noisy = base.astype(np.int16) + rng.integers(-6, 7, base.shape)
    noisy = noisy.clip(0, 255).astype(np.uint8)
    other = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)

    rows = [
        (1, "image", codecs.encode_ppm(base), (64, 48, None, None, "ppm")),
        (2, "image", codecs.encode_ppm(noisy), (64, 48, None, None, "ppm")),
        (3, "image", codecs.encode_ppm(other), (64, 48, None, None, "ppm")),
    ]
    pdf = pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])
    df = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)

    fps = multimodal.perceptual_hashes(df)
    pairs = hamming_pairs(fps, fp_col="phash", id_col="media_id", max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_perceptual_hashes_all_kinds(spark):
    """Every synthetic kind fingerprints: images/videos via dHash, audio
    via the RMS-envelope hash; the kind-grouped pair join never emits
    cross-kind pairs even for identical hash values."""
    from big_data_project_jan_2026_tick_data__spark.operators import multimodal
    from big_data_project_jan_2026_tick_data__spark.operators.dedup import hamming_pairs

    media = multimodal.synthetic_media(spark, n=12)
    fps_df = multimodal.perceptual_hashes(media)
    fps = {r.media_id: r.phash for r in fps_df.collect()}
    assert all(isinstance(v, int) for v in fps.values())

    kinds = {r.media_id: r.kind for r in media.select("media_id", "kind").collect()}
    pairs = hamming_pairs(
        fps_df, fp_col="phash", id_col="media_id", max_hamming=64,
        group_cols=("kind",),
    )
    for p in pairs.collect():
        assert kinds[p.id_a] == kinds[p.id_b]


def test_audio_envelope_hash_gain_invariant():
    """The audio fingerprint ignores global gain but not a reshaped
    envelope."""
    import numpy as np

    from big_data_project_jan_2026_tick_data__spark.operators.multimodal import (
        _audio_envelope_hash,
    )

    rng = np.random.default_rng(5)
    env = np.repeat(rng.uniform(0.2, 1.0, 65), 200)
    wave = (env * rng.normal(0, 4000, len(env))).astype(np.int16)
    h1 = _audio_envelope_hash(wave)
    h2 = _audio_envelope_hash((wave * 0.5).astype(np.int16))
    assert bin(h1 ^ h2).count("1") <= 4  # gain-invariant up to int16 rounding
    h3 = _audio_envelope_hash(wave[::-1].copy())
    assert bin(h1 ^ h3).count("1") > 10  # reversed envelope is far away


def test_resize_images_contract(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import (
        codecs,
        multimodal,
    )

    media = multimodal.synthetic_media(spark, n=12)
    out = {r["media_id"]: r for r in multimodal.resize_images(media, 8, 10).collect()}
    orig = {r["media_id"]: r for r in media.collect()}
    assert len(out) == 12
    for mid, r in out.items():
        if r["kind"] == "image":
            px = codecs.decode_ppm(bytes(r["payload"]))
            assert px.shape[:2] == (8, 10)
            assert r["resized"] and r["meta"]["width"] == 10 and r["meta"]["height"] == 8
        elif r["kind"] == "video":
            frames = codecs.demux_ppmseq(bytes(r["payload"]))
            assert all(
                codecs.decode_ppm(f).shape[:2] == (8, 10) for f in frames
            )
            assert r["resized"]
        else:  # audio passes through byte-identical
            assert not r["resized"]
            assert bytes(r["payload"]) == bytes(orig[mid]["payload"])
    # resizing an already-resized table is a no-op on payload bytes
    once = multimodal.resize_images(media, 8, 10)
    twice = {
        r["media_id"]: bytes(r["payload"])
        for r in multimodal.resize_images(
            once.select("media_id", "kind", "payload", "meta"), 8, 10
        ).collect()
    }
    for mid, r in out.items():
        assert twice[mid] == bytes(r["payload"])


def test_resize_rejects_external_codec(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8jpegdata"),
          {"width": 4, "height": 4, "sample_rate": None,
           "duration_ms": None, "codec": "jpeg"})],
        multimodal.MEDIA_SCHEMA,
    )
    import pytest

    with pytest.raises(Exception) as exc:
        multimodal.resize_images(media, 8, 8).collect()
    assert "external decoder" in str(exc.value)


def test_scene_cuts_detect_boundaries_not_noise(spark):
    """Semantic check the value-hash can't express: in the
    scene-structured corpus, EVERY scene boundary must cut and
    within-scene jitter must not — i.e. both branches of the threshold
    are exercised and land exactly on the generator's scene layout."""
    from big_data_project_jan_2026_tick_data__spark.operators import multimodal

    media = multimodal.synthetic_scene_videos(spark, n=32)
    rows = multimodal.scene_cuts(media, threshold=16).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(by_media) == set(range(32))
    for mid, frs in by_media.items():
        frs.sort(key=lambda r: r.frame_idx)
        n_scenes = 2 + mid % 3
        fps = 2 + mid % 2
        assert len(frs) == n_scenes * fps
        expected_cuts = {s * fps for s in range(n_scenes)}
        got_cuts = {r.frame_idx for r in frs if r.is_cut}
        assert got_cuts == expected_cuts, (mid, got_cuts, expected_cuts)
        # hamming populated for every non-first frame, NULL for frame 0
        assert frs[0].hamming_prev is None
        assert all(r.hamming_prev is not None for r in frs[1:])


def test_audio_segments_match_burst_layout(spark):
    """Semantic check: the VAD segments must land on the generator's
    voiced-burst layout — one segment per burst, ordered, non-
    overlapping, and every segment shorter than the payload."""
    from big_data_project_jan_2026_tick_data__spark.operators import multimodal

    media = multimodal.synthetic_speech_audio(spark, n=32)
    rows = multimodal.active_audio_segments(media, win_ms=20, k_mult=0.5).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(by_media) == set(range(32))
    for mid, segs in by_media.items():
        segs.sort(key=lambda r: r.segment_idx)
        assert len(segs) == 2 + mid % 3, (mid, len(segs))  # one per burst
        for a, b in zip(segs, segs[1:]):
            assert a.end_ms <= b.start_ms  # ordered, non-overlapping
        assert all(s.end_ms > s.start_ms and s.n_windows >= 1 for s in segs)


def test_map_rows_types_every_output_row(spark):
    """``engine.map_rows`` calls the function once per input row, keeps
    zero or more output rows per call, takes structs in as dicts, and
    types the output with the declared schema: NULLs, struct tuples, and
    a batch whose every row yields nothing."""
    from pyspark.sql import types as T

    from big_data_project_jan_2026_tick_data__spark.engine import map_rows

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.IntegerType(), True),
            T.StructField("s", T.StructType([T.StructField("k", T.StringType())])),
        ]
    )
    src = spark.createDataFrame(
        [(0, {"k": "z"}), (1, {"k": "a"}), (2, None)], "id long, m struct<k:string>"
    )

    def fan_out(i, m):
        return [(i, j if j else None, ((m or {}).get("k"),)) for j in range(i)]

    out = map_rows(src, ["id", "m"], fan_out, schema)
    assert out.schema == schema
    assert {tuple(r) for r in out.collect()} == {
        (1, None, ("a",)), (2, None, (None,)), (2, 1, (None,)),
    }
    empty = map_rows(src, ["id"], lambda i: [], schema)
    assert empty.schema == schema and empty.collect() == []


_ID_PAYLOAD = "media_id long, payload binary"


@pytest.mark.parametrize(
    "run, schema",
    [
        (
            lambda spark: multimodal.scene_cuts(
                spark.createDataFrame([(1, codecs.encode_ppmseq([]))], _ID_PAYLOAD)
            ),
            multimodal._SCENE_SCHEMA,
        ),
        (
            lambda spark: multimodal.scene_frame_samples(
                spark.createDataFrame([(1, codecs.encode_ppmseq([]))], _ID_PAYLOAD)
            ),
            multimodal._SCENE_SAMPLE_SCHEMA,
        ),
        (
            lambda spark: multimodal.sample_frames(
                multimodal.synthetic_media(spark, n=12).filter("kind = 'image'")
            ),
            multimodal._FRAMES_SCHEMA,
        ),
        (
            lambda spark: multimodal.active_audio_segments(
                spark.createDataFrame(
                    [(1, codecs.encode_wav(np.zeros(1600, np.int16), 16000))],
                    _ID_PAYLOAD,
                )
            ),
            multimodal._AUDIO_SEG_SCHEMA,
        ),
    ],
    ids=["scene_cuts", "scene_frame_samples", "sample_frames", "audio_segments"],
)
def test_kernels_on_input_that_yields_no_rows(spark, run, schema):
    """A non-empty input whose rows all yield nothing (a PSEQ with no
    frames, image-only media, a silent WAV) returns zero rows with the
    declared schema."""
    out = run(spark)
    assert out.schema == schema
    assert out.collect() == []


def test_map_rows_called_directly_from_any_directory(tmp_path):
    """A row-map kernel called directly, not through the registry, from
    another working directory and with the repo only on the driver's
    ``sys.path``: ``engine.map_rows`` puts the package on the Python
    workers' path itself."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    code = (
        "import sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from big_data_project_jan_2026_tick_data__spark.operators import multimodal\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "print(multimodal.extract_features("
        "multimodal.synthetic_media(spark, 8)).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert int(res.stdout.split()[-1]) == 8
