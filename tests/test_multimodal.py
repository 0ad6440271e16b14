"""Multimodal plumbing tests: schema/batching/NULL-capsule behavior of the
binary-column frame sampler (codec step is a deterministic fake; see
operators/multimodal.py docstring)."""

from __future__ import annotations

import pytest

from docling_api_spark.operators.multimodal import sample_video_frames
from tests.oracles import encode_fake_video


def _bin_df(spark, rows, col):
    return spark.createDataFrame(rows, schema=f"id int, {col} binary")


def test_video_frame_sampling(spark):
    frames = [bytes([i] * 16) for i in range(4)]
    vid = encode_fake_video(16, frames)
    df = _bin_df(spark, [(1, vid), (2, b"FVIDxx")], "video")
    got = {r["id"]: r for r in sample_video_frames(df, every=2).collect()}
    fr = got[1]["frames"]
    assert [f["frame_idx"] for f in fr] == [0, 2]
    assert [f["mean_byte"] for f in fr] == [0.0, 2.0]
    assert all(f["n_bytes"] == 16 for f in fr)
    assert got[2]["frames"] is None  # truncated container -> NULL
    with pytest.raises(ValueError, match="binary column 'clip'"):
        sample_video_frames(df, bin_col="clip")
