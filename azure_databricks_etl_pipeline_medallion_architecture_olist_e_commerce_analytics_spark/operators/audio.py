"""REAL audio modality: vendored pure-stdlib WAV/PCM codec + Arrow-batched
windowed feature extraction.

The multimodal contract (reference surface: opaque binary columns + typed
metadata, decode/feature-extract as Pandas-UDF operators) gains a second
REAL modality beyond images: audio as RIFF/WAVE 16-bit PCM. WAV is fully
parseable with ``struct`` + numpy — no torchaudio/soundfile needed — so
both the writer and the parser handle true bytes. The codec is one row of
the format table in :mod:`.multimodal`: ``attach_media_payload(df,
formats=("audio/wav",))`` writes the payloads and ``decode_media_meta``
parses them (sample_rate, channels, n_samples, exact integer energy),
value-oracled against a closed-form DuckDB recipe. Lossy audio
(MP3/AAC/Opus) has no vendored codec, like lossy images.

Scale notes (100 TB): payloads ride in parquet row groups next to their
metadata; :func:`audio_window_energy` is ``mapInPandas`` over Arrow record
batches — per-batch numpy, never per-row Python in a hot loop; its fan-out
emits O(n_samples / window) rows per payload, bounded by the payload
length, and aggregates back JVM-side.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def _wav_params(did: int) -> tuple[int, int, int]:
    """Deterministic synthetic audio parameters from a (non-negative) doc
    id: (sample_rate, channels, n_samples per channel). Kept small enough
    that a payload is ~1–2 KB and the SQL oracle's closed-form energy sum
    stays cheap at sf1."""
    return 8000 * (1 + did % 3), 1 + did % 2, 512 + (did % 7) * 64


def _wav_samples(did: int, total: int):
    """The interleaved int16 sample stream: frame ``i`` has value
    ``((did*31 + i*17) % 65536) - 32768`` — id- and position-dependent so
    a parser that miscounts the data offset, chunk framing, or sample
    width changes the energy and fails the oracle."""
    import numpy as np

    i = np.arange(total, dtype=np.int64)
    return ((did * 31 + i * 17) % 65536 - 32768).astype(np.int16)


def encode_wav(did: int) -> bytes:
    """Write a real canonical-44-byte-header RIFF/WAVE file: PCM (format
    1), 16-bit, little-endian interleaved. Total length is closed-form
    ``44 + n_samples*channels*2`` — the oracle's n_bytes formula."""
    rate, ch, n = _wav_params(did)
    data = _wav_samples(did, n * ch).tobytes()
    byte_rate = rate * ch * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, rate, byte_rate, ch * 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _parse_wav_full(payload) -> tuple:
    """The shared chunk walk: (sample_rate, channels, n_samples, energy,
    data_offset) or all-None. See :func:`parse_wav` for the contract."""
    import numpy as np

    none5 = (None, None, None, None, None)
    try:
        buf = bytes(payload)
        if len(buf) < 44 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
            return none5
        pos = 12
        rate = ch = None
        while pos + 8 <= len(buf):
            tag = buf[pos : pos + 4]
            (length,) = struct.unpack_from("<I", buf, pos + 4)
            body_start = pos + 8
            if body_start + length > len(buf):
                return none5
            if tag == b"fmt ":
                if length < 16:
                    return none5
                fmt, ch, rate, _br, _ba, bits = struct.unpack_from(
                    "<HHIIHH", buf, body_start
                )
                if fmt != 1 or bits != 16 or ch < 1 or rate <= 0:
                    return none5
            elif tag == b"data":
                if rate is None:  # data before fmt: malformed for PCM16
                    return none5
                if length % (ch * 2) != 0:
                    return none5
                samples = np.frombuffer(
                    buf, dtype="<i2", count=length // 2, offset=body_start
                ).astype(np.int64)
                return (
                    int(rate),
                    int(ch),
                    length // (ch * 2),
                    int((samples * samples).sum()),
                    body_start,
                )
            # RIFF chunks are word-aligned: odd lengths carry a pad byte
            pos = body_start + length + (length & 1)
        return none5
    except Exception:
        return none5


def parse_wav(payload) -> tuple:
    """VENDORED pure-stdlib WAV parser: (sample_rate, channels, n_samples,
    energy) from a 16-bit PCM RIFF/WAVE stream — full chunk walk (unknown
    chunks are skipped with RIFF's even-byte padding, so files carrying
    LIST/INFO/cue metadata between fmt and data decode too, not just our
    writer's canonical layout). ``energy`` is the exact Σ sample² as
    int64 over the interleaved stream. Anything unparseable — wrong
    magic, non-PCM format, 8/24/32-bit widths, truncated data, a data
    chunk before fmt — yields all-None: NULL metadata, never a job abort
    (the same corrupt-blob contract as the image parsers)."""
    return _parse_wav_full(payload)[:4]


def audio_window_energy(
    df: DataFrame, window: int = 128, id_col: str = "doc_id"
) -> DataFrame:
    """Windowed audio feature extraction — the audio analogue of image
    frame-sampling: per payload, the exact Σ sample² of each consecutive
    ``window``-frame block of the interleaved int16 stream (the final
    partial window keeps its true count). Fan-out is O(n_samples/window)
    rows per payload, computed per-batch with one numpy reduceat — never
    per-sample Python. Unparseable payloads emit zero rows (corrupt blobs
    silently drop from feature extraction, the curation contract)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, widx, wn, wen = [], [], [], []
            for d, p in zip(pdf[id_col], pdf["payload"]):
                if p is None:
                    continue
                rate, ch, n, _, data_off = _parse_wav_full(p)
                if rate is None or n == 0:
                    continue
                total = n * ch
                samples = np.frombuffer(
                    bytes(p), dtype="<i2", count=total, offset=data_off
                ).astype(np.int64)
                sq = samples * samples
                bounds = np.arange(0, total, window)
                sums = np.add.reduceat(sq, bounds)
                counts = np.minimum(bounds + window, total) - bounds
                k = len(bounds)
                ids.extend([d] * k)
                widx.extend(range(k))
                wn.extend(int(c) for c in counts)
                wen.extend(int(s) for s in sums)
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="Int64"),
                    "window_index": pd.array(widx, dtype="Int32"),
                    "n_in_window": pd.array(wn, dtype="Int32"),
                    "energy": pd.array(wen, dtype="Int64"),
                }
            )

    return df.mapInPandas(
        batches,
        schema=f"{id_col} long, window_index int, n_in_window int, energy long",
    )
