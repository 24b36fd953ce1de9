"""Multimodal transforms: image resize and features, audio and video decode."""

import numpy as np
import pytest

from karta_spark.sources import images, multimodal


class TestMultimodal:
    def test_resize_roundtrip(self, spark):
        imgs = images.synth_images(spark, 12, partitions=2)
        small = multimodal.resize_images(imgs, 8, 8).collect()
        assert len(small) == 12
        for r in small:
            pix = images.decode_image(bytes(r["bytes"]), r["fmt"])
            assert pix.shape == (8, 8, 3)

    def test_resize_identity(self, spark):
        # resizing to the same shape must be a pixel-exact no-op
        imgs = images.synth_images(spark, 4, partitions=1)
        same = {r["image_id"]: r for r in
                multimodal.resize_images(imgs, 16, 16).collect()}
        for r in imgs.collect():
            orig = images.decode_image(bytes(r["bytes"]), r["fmt"])
            got = images.decode_image(bytes(same[r["image_id"]]["bytes"]), "png")
            assert np.array_equal(orig, got)

    def test_image_features(self, spark):
        imgs = images.synth_images(spark, 10, partitions=2)
        feats = multimodal.image_features(imgs).collect()
        assert len(feats) == 10
        for r in feats:
            assert 0 <= r["mean_r"] <= 255
            assert sum(r["luma_hist"]) == 16 * 16
            assert len(r["embedding"]) == 4 * 4 * 3
            assert all(0.0 <= v <= 1.0 for v in r["embedding"])

    def test_audio_wav_decode(self, spark):
        from karta_spark.sources.av import encode_wav
        t = np.linspace(0, 1, 8000, endpoint=False)
        tone = 0.5 * np.sin(2 * np.pi * 440 * t)             # mono 16-bit
        stereo = np.stack([tone, 0.25 * tone], axis=1)       # stereo f32
        clips = spark.createDataFrame(
            [("mono16", bytearray(encode_wav(tone, 8000, 16))),
             ("st_f32", bytearray(encode_wav(stereo, 8000, "float32"))),
             ("mono8", bytearray(encode_wav(tone, 8000, 8)))],
            "clip_id string, bytes binary")
        got = {r["clip_id"]: r for r in multimodal.decode_audio(clips).collect()}
        assert got["mono16"]["sample_rate"] == 8000
        assert got["mono16"]["n_samples"] == 8000
        # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
        assert abs(got["mono16"]["rms"] - 0.5 / np.sqrt(2)) < 1e-3
        assert abs(got["mono8"]["rms"] - 0.5 / np.sqrt(2)) < 5e-3
        assert got["st_f32"]["n_samples"] == 8000

    def test_video_mjpeg_frame_sampling(self, spark):
        from karta_spark.sources.av import encode_mjpeg_avi
        rng = np.random.default_rng(4)
        frames = [np.full((16, 16, 3), 10 * k, dtype=np.uint8) for k in range(9)]
        avi = encode_mjpeg_avi(frames, fps=3, quality=95)
        vids = spark.createDataFrame([("v0", bytearray(avi))],
                                     "video_id string, bytes binary")
        got = multimodal.sample_video_frames(vids, every_n=4).collect()
        assert sorted(r["frame_idx"] for r in got) == [0, 4, 8]
        for r in got:
            pix = images.decode_image(bytes(r["frame_png"]), "png")
            want = 10 * r["frame_idx"]
            assert abs(float(pix.mean()) - want) <= 2.0  # jpeg-lossy flat frame

    def test_non_wav_raises(self, spark):
        clips = spark.createDataFrame([("c0", bytearray(b"xx"))],
                                      "clip_id string, bytes binary")
        with pytest.raises(Exception, match="RIFF"):
            multimodal.decode_audio(clips).collect()
