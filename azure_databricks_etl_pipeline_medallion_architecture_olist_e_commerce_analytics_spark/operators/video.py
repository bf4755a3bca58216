"""REAL video modality: vendored pure-stdlib Y4M (YUV4MPEG2) codec +
Arrow-batched true frame sampling and scene-cut detection.

Y4M is the codec-free video interchange container (mplayer/ffmpeg
lineage): one ASCII parameter line (``YUV4MPEG2 W<w> H<h> F<num>:<den>
... C420...``) followed by ``FRAME\\n``-delimited raw YUV planes. That
makes video — like WAV for audio — fully parseable with stdlib + numpy,
so the third modality (after BMP/PNG images and WAV audio) is REAL bytes
end-to-end. The codec is one row of the format table in
:mod:`.multimodal`: ``attach_media_payload(df, formats=("video/y4m",))``
writes genuine frames and ``decode_media_meta`` re-derives dimensions,
frame rate, frame count, and exact integer luma statistics, which a
closed-form DuckDB oracle value-pins (header length included — it varies
with the decimal digit counts). Compressed video (H.264/VP9/AV1) has no
vendored codec, like JPEG and MP3.

Scale notes (100 TB): payloads ride in parquet row groups; both kernels
here are ``mapInPandas`` over Arrow batches that read each payload's
header once and walk its frames once (:func:`_y4m_frames`) with
per-frame numpy sums — the fan-out emits O(n_frames) rows per payload and
nothing touches per-pixel Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

Y4M_MAGIC = b"YUV4MPEG2"


def _y4m_params(did: int) -> tuple[int, int, int, int]:
    """Deterministic synthetic video parameters from a (non-negative) doc
    id: (width, height, fps_num, n_frames); fps_den is always 1. Even
    dims (C420 chroma subsampling needs them); sizes kept small so a
    payload is a few KB."""
    return 8 + (did % 5) * 4, 6 + (did % 3) * 4, 24 + did % 6, 3 + did % 4


def _y4m_planes(did: int, f: int, w: int, h: int):
    """Frame ``f``'s (y, u, v) planes: luma index i has value
    ``(did + 13f + 5i) % 256``; chroma u/v use 7i+1 / 11i+2 — id-, frame-
    and position-dependent so a parser that miscounts plane sizes or
    frame offsets changes the sums and fails the oracle."""
    import numpy as np

    yi = np.arange(w * h, dtype=np.int64)
    ci = np.arange((w // 2) * (h // 2), dtype=np.int64)
    y = ((did + 13 * f + 5 * yi) % 256).astype(np.uint8)
    u = ((did + 13 * f + 7 * ci + 1) % 256).astype(np.uint8)
    v = ((did + 13 * f + 11 * ci + 2) % 256).astype(np.uint8)
    return y, u, v


def encode_y4m(did: int) -> bytes:
    """Write a real YUV4MPEG2 stream: parameter line with W/H/F/interlace/
    aspect/colorspace tokens, then ``FRAME\\n`` + raw C420 planes per
    frame. Total length is closed-form: ``len(header) + n_frames * (6 +
    w*h*3/2)`` — the oracle rebuilds the header string to count its
    bytes."""
    w, h, fps, n = _y4m_params(did)
    header = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420jpeg\n".encode()
    parts = [header]
    for f in range(n):
        y, u, v = _y4m_planes(did, f, w, h)
        parts.append(b"FRAME\n" + y.tobytes() + u.tobytes() + v.tobytes())
    return b"".join(parts)


def _y4m_header(buf: bytes) -> tuple | None:
    """The parameter line of a Y4M payload: ``(width, height, fps_num,
    fps_den)``, or None for a malformed line, odd dimensions (420
    subsampling needs even ones) or a non-420 colorspace. Handles any
    token order and the C420 variants (C420, C420jpeg, C420mpeg2,
    C420paldv; absent C defaults to 420 per the spec)."""
    nl = buf.find(b"\n")
    if nl < 0 or not buf.startswith(Y4M_MAGIC + b" "):
        return None
    w = h = None
    num, den = None, None
    cspace = "420"
    try:
        for tok in buf[len(Y4M_MAGIC) + 1 : nl].split(b" "):
            if not tok:
                continue
            key, val = tok[:1], tok[1:]
            if key == b"W":
                w = int(val)
            elif key == b"H":
                h = int(val)
            elif key == b"F":
                a, b = val.split(b":")
                num, den = int(a), int(b)
            elif key == b"C":
                cspace = val.decode("ascii", "replace")
    except ValueError:
        return None
    if not w or not h or w <= 0 or h <= 0 or not num or not den:
        return None
    if not cspace.startswith("420") or w % 2 or h % 2:
        return None
    return w, h, num, den


def _y4m_frames(payload) -> tuple | None:
    """The one Y4M walk: read the header once and walk the ``FRAME``
    records once, returning ``(header, planes)`` with every frame's luma
    plane as a zero-copy uint8 view of ``w*h`` bytes — or None when the
    payload is NULL, the header does not parse, or a record lacks the
    ``FRAME`` marker or is truncated. The walk completes before anything
    is returned, so a payload cut mid-frame yields no frames at all."""
    import numpy as np

    if payload is None:
        return None
    buf = bytes(payload)
    hdr = _y4m_header(buf)
    if hdr is None:
        return None
    w, h = hdr[0], hdr[1]
    frame_bytes = w * h + 2 * ((w // 2) * (h // 2))
    planes = []
    pos = buf.find(b"\n") + 1
    while pos < len(buf):
        fnl = buf.find(b"\n", pos)
        if buf[pos : pos + 5] != b"FRAME" or fnl < 0 or fnl + 1 + frame_bytes > len(buf):
            return None
        planes.append(np.frombuffer(buf, dtype=np.uint8, count=w * h, offset=fnl + 1))
        pos = fnl + 1 + frame_bytes
    return hdr, planes


def parse_y4m(payload) -> tuple:
    """VENDORED pure-stdlib Y4M parser: (width, height, fps_num, fps_den,
    n_frames, luma_sum) — the total Σ of all frames' luma bytes as int64.
    Handles any token order on the parameter line, FRAME lines carrying
    their own parameters (``FRAME<params>\\n`` is legal Y4M), and C420
    colorspace variants (see :func:`_y4m_header`). Odd dimensions under
    420 subsampling, non-420 colorspaces, truncated frames, or a malformed
    header yield all-None — NULL metadata, never a job abort."""
    import numpy as np

    try:
        walked = _y4m_frames(payload)
    except Exception:
        walked = None
    if walked is None or not walked[1]:
        return (None, None, None, None, None, None)
    hdr, planes = walked
    luma = sum(int(y.sum(dtype=np.int64)) for y in planes)
    return (*hdr, len(planes), luma)


def sample_video_frames(
    df: DataFrame, stride: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """TRUE frame sampling — the video curation primitive (keyframe-ish
    subsampling for vision-model training data): extract every
    ``stride``-th frame's exact luma sum + mean from the raw planes. One
    numpy pass per sampled frame inside the Arrow batch; fan-out is
    O(n_frames/stride) rows per payload. Unparseable payloads emit zero
    rows (corrupt blobs drop from feature extraction)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidx, lsum, lmean = [], [], [], []
            for d, p in zip(pdf[id_col], pdf["payload"]):
                walked = _y4m_frames(p)
                if walked is None:
                    continue
                (w, h, _, _), planes = walked
                for f, y in enumerate(planes):
                    if f % stride == 0:
                        s = int(y.sum(dtype=np.int64))
                        ids.append(d)
                        fidx.append(f)
                        lsum.append(s)
                        # truncating mean in integer (matches SQL div)
                        lmean.append(s // (w * h))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="Int64"),
                    "frame_index": pd.array(fidx, dtype="Int32"),
                    "luma_sum": pd.array(lsum, dtype="Int64"),
                    "luma_mean": pd.array(lmean, dtype="Int64"),
                }
            )

    return df.mapInPandas(
        batches,
        schema=(
            f"{id_col} long, frame_index int, luma_sum long, luma_mean long"
        ),
    )


def video_scene_cuts(
    df: DataFrame, threshold_milli: int = 24700, id_col: str = "doc_id"
) -> DataFrame:
    """Scene-cut detection over REAL decoded frames — the shot-boundary
    primitive of video curation (split footage into shots before
    frame-sampling them for vision training): for every consecutive
    frame pair, the exact integer SAD (sum of absolute luma differences,
    the classic shot-boundary metric) and the per-pixel mean absolute
    difference in milli-units, flagged as a cut when MAD ≥ threshold.

    Exact by construction: SAD is an int64 sum of |uint8−uint8|, MAD is
    ``(1000·sad) div (w·h)`` — no floats, so a closed-form oracle can
    replay every value from the synthetic plane formula. One numpy pass
    per frame pair inside the Arrow batch (the previous luma plane is
    kept, never re-read); fan-out is O(n_frames−1) rows per payload;
    unparseable payloads emit zero rows (the sample_video_frames
    contract). Per-pixel work never touches Python scalars."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fa, sads, mads, cuts = [], [], [], [], []
            for d, p in zip(pdf[id_col], pdf["payload"]):
                walked = _y4m_frames(p)
                if walked is None:
                    continue
                (w, h, _, _), planes = walked
                prev = None
                for f, plane in enumerate(planes):
                    y = plane.astype(np.int64)
                    if prev is not None:
                        sad = int(np.abs(y - prev).sum())
                        mad = (1000 * sad) // (w * h)
                        ids.append(d)
                        fa.append(f - 1)
                        sads.append(sad)
                        mads.append(mad)
                        cuts.append(mad >= threshold_milli)
                    prev = y
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="Int64"),
                    "frame_a": pd.array(fa, dtype="Int32"),
                    "sad": pd.array(sads, dtype="Int64"),
                    "mad_milli": pd.array(mads, dtype="Int64"),
                    "is_cut": pd.array(cuts, dtype="boolean"),
                }
            )

    return df.mapInPandas(
        batches,
        schema=(
            f"{id_col} long, frame_a int, sad long, mad_milli long,"
            " is_cut boolean"
        ),
    )
