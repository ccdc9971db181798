"""MJPEG-AVI video path (sources/_avi.py + the multimodal 'frames'
feature): container round-trip, frame sampling, totality under mutation,
and the end-to-end video feature kind."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from pdf_extraction_tests_spark.sources import _avi as A
from tests.fixtures import build_avi
from tests.test_jpeg import encode_jpeg


def _planes(n=6, w=32, h=24, seed=3):
    rng = np.random.default_rng(seed)
    return [
        np.clip(np.linspace(0, 255, w)[None, :] + i * 20
                + rng.normal(0, 4, (h, w)), 0, 255)
        for i in range(n)
    ]


def _frames(n=6, w=32, h=24, seed=3):
    return [encode_jpeg(p) for p in _planes(n, w, h, seed)]


class TestContainer:
    def test_round_trip(self):
        frames = _frames()
        blob = build_avi(frames, 32, 24, us_per_frame=33_000)
        parsed = A.parse_avi_mjpeg(blob)
        assert parsed["width"] == 32 and parsed["height"] == 24
        assert parsed["us_per_frame"] == 33_000
        assert parsed["frames"] == frames

    def test_frame_sampling_even_and_bounded(self):
        blob = build_avi(_frames(n=6), 32, 24)
        sampled = A.sample_avi_frames_gray(blob, k=3)
        assert len(sampled) == 3
        assert all(fr.shape == (24, 32) for fr in sampled)
        one = A.sample_avi_frames_gray(blob, k=1)
        assert len(one) == 1
        # k > frames clamps, never repeats
        assert len(A.sample_avi_frames_gray(blob, k=99)) == 6

    def test_totality_under_mutation(self):
        base = build_avi(_frames(n=3), 32, 24)
        rng = random.Random(11)
        for _ in range(300):
            b = bytearray(base)
            for _m in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                A.sample_avi_frames_gray(bytes(b), k=2)
            except ValueError:
                pass        # UnsupportedAviError / jpeg ValueError are the contract
            # anything else (IndexError, OverflowError...) fails the test

    def test_non_avi_rejected(self):
        with pytest.raises(A.UnsupportedAviError):
            A.parse_avi_mjpeg(b"RIFFxxxxWAVEdata")
        with pytest.raises(A.UnsupportedAviError):
            A.parse_avi_mjpeg(b"plainbytes")

    def test_frame_ceiling(self):
        # one tiny frame repeated past the cap must raise, not OOM
        f = _frames(n=1)[0]
        blob = build_avi([f] * 64, 32, 24)
        # forge a tighter ceiling for the test
        old = A._MAX_FRAMES
        A._MAX_FRAMES = 10
        try:
            with pytest.raises(A.UnsupportedAviError):
                A.parse_avi_mjpeg(blob)
        finally:
            A._MAX_FRAMES = old


class TestVideoFeature:
    def test_feature_kind_frames(self, spark):
        from pdf_extraction_tests_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_media_features)

        blob = build_avi(_frames(), 32, 24)
        rows = [
            {"media_ref": "vid://real", "media_type": "video",
             "content": bytearray(blob)},
            {"media_ref": "vid://junk", "media_type": "video",
             "content": bytearray(b"notavideo")},
        ]
        pdf = pd.DataFrame(rows)
        for c in ("width", "height", "duration_ms"):
            pdf[c] = pd.Series([None, None], dtype="object")
        media = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
        got = {r.media_ref: r for r in extract_media_features(media).collect()}
        real = got["vid://real"]
        assert real.feature_kind == "frames" and real.decode_ok
        assert abs(sum(real.feature) - 1.0) < 1e-5   # mean of histograms
        assert got["vid://junk"].feature_kind == "stub"
