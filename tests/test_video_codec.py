"""REAL video codec (round 6): uncompressed-DIB AVI encode/decode.

Mirrors the WAV/BMP codec test pattern: pure-Python round-trips first
(container structure is checked against the public RIFF/AVI layout), then
the Spark mapInPandas operators end-to-end, then the corrupt-payload
degradation contract (NULL rows, never task aborts — docs/SCALE.md).
"""

from __future__ import annotations

import struct

import pytest

from datafusion_ballista_spark.multimodal import (
    VIDEO_FRAME_H,
    VIDEO_FRAME_W,
    attach_avi,
    decode_avi,
    encode_avi_gray,
    video_keyframe_stats,
)

FSZ = VIDEO_FRAME_W * VIDEO_FRAME_H


def _frames(n: int) -> list[bytes]:
    return [bytes((i * 7 + j) % 256 for j in range(FSZ)) for i in range(n)]


def test_avi_roundtrip_exact():
    frames = _frames(9)
    blob = encode_avi_gray(frames)
    w, h, fps, out = decode_avi(blob)
    assert (w, h, fps) == (VIDEO_FRAME_W, VIDEO_FRAME_H, 10)
    assert out == frames  # pixel-exact through bottom-up BGR and back


def test_avi_container_structure():
    """The container is genuine RIFF: magic, declared sizes, hdrl/movi
    lists and a keyframe idx1 — parseable by offset arithmetic alone."""
    blob = encode_avi_gray(_frames(3))
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    (riff_size,) = struct.unpack("<I", blob[4:8])
    assert 8 + riff_size == len(blob)  # declared size covers the file
    assert b"hdrl" in blob and b"movi" in blob and b"idx1" in blob
    assert blob.count(b"00db") == 3 + 3  # one per movi chunk + idx1 entry
    # avih dwTotalFrames and strh dwLength both say 3
    avih_off = blob.index(b"avih") + 8
    assert struct.unpack("<I", blob[avih_off + 16 : avih_off + 20])[0] == 3


def test_avi_zero_frames_and_empty_input():
    w, h, fps, out = decode_avi(encode_avi_gray([]))
    assert (w, h, out) == (VIDEO_FRAME_W, VIDEO_FRAME_H, [])
    for bad in (b"", b"RIFF", b"RIFF\x00\x00\x00\x04WAVE", b"\x00" * 64):
        with pytest.raises(ValueError):
            decode_avi(bad)
    with pytest.raises(ValueError):
        decode_avi(b"RIFF" + struct.pack("<I", 4) + b"AVI ")  # no avih


def test_decode_video_is_real():
    """Video decode is the real AVI parser, not a stub."""
    frames = _frames(2)
    assert decode_avi(encode_avi_gray(frames))[3] == frames


def test_encode_validation():
    with pytest.raises(ValueError):
        encode_avi_gray([b"\x00" * (FSZ - 1)])  # wrong frame length
    with pytest.raises(ValueError):
        encode_avi_gray([], width=10, height=8)  # stride not 4-aligned


def test_spark_video_keyframes_end_to_end(spark):
    """attach_avi -> video_keyframe_stats over a tiny df: every 4th frame
    of the padded byte stream, stats matching plain-Python arithmetic."""
    text = "a" * 200  # 200 bytes -> 4 frames (pad 56 zeros), samples 0
    df = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
    rows = video_keyframe_stats(attach_avi(df)).orderBy("doc_id").collect()
    # doc 2 is empty -> zero-frame AVI -> no rows; doc 1 samples frame 0
    assert [r["doc_id"] for r in rows] == [1]
    r = rows[0]
    assert (r["frame_idx"], r["width"], r["height"]) == (0, 8, 8)
    assert r["fr_px_sum"] == ord("a") * 64
    assert r["fr_mean_lum"] == float(ord("a"))


def test_spark_corrupt_video_degrades_to_null_row(spark):
    """Corrupt/foreign containers yield one NULL-stats row, not a task
    abort (docs/SCALE.md contract)."""
    good = encode_avi_gray(_frames(1))
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not an avi")), (3, None)],
        "doc_id long, avi binary",
    )
    rows = {r["doc_id"]: r for r in video_keyframe_stats(df).collect()}
    assert rows[1]["fr_px_sum"] is not None
    assert rows[2]["frame_idx"] is None and rows[2]["fr_px_sum"] is None
    assert rows[3]["frame_idx"] is None
