"""Multimodal plumbing: binary payload column + the real codec-free
WAV and PPM decoders over the shared mapInPandas decode stage."""

from __future__ import annotations

from crawl_streams_spark.operators import multimodal as MM


# ---- REAL codec-free decoders (WAV / PPM) ------------------------------


def _media_df(spark, payloads):
    from crawl_streams_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [(i, p, "audio", "audio/wav") for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_wav_roundtrip_features_known_signal(spark):
    import numpy as np

    amp = 16384  # half scale
    t = np.arange(16000)
    sine = (amp * np.sin(2 * np.pi * 440 * t / 16000)).astype("<i2")
    payload = MM.wav_bytes(sine, sample_rate=16000)
    got = MM.decode_wav(_media_df(spark, [payload])).collect()[0]
    assert got["error"] is None
    assert got["sample_rate"] == 16000 and got["n_channels"] == 1
    assert got["n_samples"] == 16000
    assert abs(got["duration_ms"] - 1000.0) < 1e-3
    # sine RMS = amp/(sqrt(2)*32768) ~ 0.3536
    assert abs(got["rms"] - 0.3536) < 0.01
    assert abs(got["peak"] - amp / 32768.0) < 0.01
    assert got["clip_fraction"] == 0.0


def test_wav_clipping_detected(spark):
    import numpy as np

    x = np.full(1000, 32767, dtype="<i2")
    got = MM.decode_wav(_media_df(spark, [MM.wav_bytes(x)])).collect()[0]
    assert got["clip_fraction"] == 1.0 and abs(got["peak"] - 32767 / 32768) < 1e-4


def test_wav_stereo_sample_count_is_per_channel(spark):
    import numpy as np

    inter = np.zeros(2000, dtype="<i2")  # 1000 frames x 2 channels
    payload = MM.wav_bytes(inter, sample_rate=8000, n_channels=2)
    got = MM.decode_wav(_media_df(spark, [payload])).collect()[0]
    assert got["n_channels"] == 2 and got["n_samples"] == 1000
    assert abs(got["duration_ms"] - 125.0) < 1e-3


def test_wav_malformed_payloads_report_errors_not_failures(spark):
    rows = MM.decode_wav(
        _media_df(spark, [b"not audio", b"RIFF\x00\x00\x00\x00WAVE", None])
    ).collect()
    errs = {r["media_id"]: r["error"] for r in rows}
    assert errs[0] and errs[1] and errs[2] == "null payload"
    assert all(r["rms"] is None for r in rows)


def test_ppm_decode_solid_color_means_exact(spark):
    import numpy as np

    img = np.zeros((10, 20, 3), dtype=np.uint8)
    img[..., 0] = 200  # red plane
    got = MM.decode_ppm(_media_df(spark, [MM.ppm_bytes(img)])).collect()[0]
    assert (got["width"], got["height"]) == (20, 10)
    assert got["mean_r"] == 200.0 and got["mean_g"] == 0.0
    assert abs(got["mean_luma"] - 0.299 * 200) < 1e-3


def test_ppm_resize_matches_numpy_reference(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(64, 48, 3), dtype=np.uint8).astype(np.uint8)
    out = MM.resize_ppm(
        _media_df(spark, [MM.ppm_bytes(img)]), max_side=16
    ).collect()[0]
    assert out["error"] is None
    rw, rh = out["resized_width"], out["resized_height"]
    assert (rw, rh) == (12, 16)  # 48x64 -> fit 16 => scale 0.25
    # reference nearest-neighbor
    yi = (np.arange(rh) * (64 / rh)).astype(int)
    xi = (np.arange(rw) * (48 / rw)).astype(int)
    ref = img[yi][:, xi]
    assert bytes(out["payload"]) == MM.ppm_bytes(ref)


def test_ppm_malformed_reports_error(spark):
    rows = MM.decode_ppm(
        _media_df(spark, [b"P5\n1 1\n255\nx", b"P6\n1000 1000\n255\nxx"])
    ).collect()
    assert all(r["error"] is not None for r in rows)


def test_ppm_empty_or_negative_dimensions_quarantine_per_row(spark):
    """A P6 header with a zero or negative side is malformed: both stages
    report it in ``error``, not as a zero-width row with NULL means
    (decode) or a division by zero that fails the whole stage (resize)."""
    payloads = [b"P6\n0 5\n255\nxx", b"P6\n-1 5\n255\nxxxx", None]
    for stage in (MM.decode_ppm, MM.resize_ppm):
        rows = stage(_media_df(spark, payloads)).collect()
        assert [r["media_id"] for r in rows] == [0, 1, 2]
        assert rows[0]["error"] == "bad dimensions 0x5"
        assert rows[1]["error"] == "bad dimensions -1x5"
        assert rows[2]["error"] == "null payload"
