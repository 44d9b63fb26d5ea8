"""Frame sampling over video containers: only the sampled frames are
decoded, and the sampled rows are those of a full decode."""

from __future__ import annotations

import pytest

from gbif_filter_python_spark.multimodal import binary_ops
from gbif_filter_python_spark.multimodal.binary_ops import (
    _avi_sampler,
    _fake_pixels,
    _mbmp_sampler,
    _sampled_frames,
    decode_avi_frames,
    decode_mbmp_bytes,
    encode_avi,
    encode_avi_mjpeg,
    encode_bmp,
    encode_mbmp,
)


def _frames(n: int, tag: str = "mjpg") -> list:
    return [_fake_pixels(f"doc#{tag}{i}".encode(), 16) for i in range(n)]


def test_mjpeg_sampling_decodes_only_the_sampled_frames(monkeypatch):
    """The video_mjpeg_frames payload shape (6 MJPEG frames of 16x16,
    3 sampled) runs 3 JPEG decodes, not 6, and emits the frames a full
    decode would."""
    payload = encode_avi_mjpeg(_frames(6), fps=6)
    full = decode_avi_frames(payload)
    decode = binary_ops.decode_jpeg_bytes
    calls = []

    def counting(body):
        calls.append(len(body))
        return decode(body)

    monkeypatch.setattr(binary_ops, "decode_jpeg_bytes", counting)
    got = _sampled_frames(payload, 3, _avi_sampler)
    assert len(calls) == 3
    assert got == [(i, 2 * i, encode_bmp(full[2 * i])) for i in range(3)]


@pytest.mark.parametrize("n_src, n_frames", [(6, 3), (5, 4), (2, 4), (1, 1)])
def test_sampled_rows_match_a_full_decode(n_src, n_frames):
    """Uncompressed AVI and MBMP pick source frame floor(i * n_src /
    take), take = min(n_frames, n_src), with the bytes a full decode
    gives."""
    frames = _frames(n_src, tag="dib")
    take = min(n_frames, n_src)
    picks = [i * n_src // take for i in range(take)]

    avi = encode_avi(frames, fps=5)
    full = decode_avi_frames(avi)
    assert _sampled_frames(avi, n_frames, _avi_sampler) == [
        (i, src, encode_bmp(full[src])) for i, src in enumerate(picks)
    ]
    mbmp = encode_mbmp(frames)
    bmps = decode_mbmp_bytes(mbmp)
    assert _sampled_frames(mbmp, n_frames, _mbmp_sampler) == [
        (i, src, bmps[src]) for i, src in enumerate(picks)
    ]
