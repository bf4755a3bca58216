"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns. Every real format
goes through ONE codec table (:data:`_CODECS`, bottom of this file): the
vendored pure-numpy BMP and pure-stdlib PNG codecs defined here, the WAV
codec in :mod:`.audio` and the Y4M codec in :mod:`.video`. One attach
kernel (:func:`attach_media_payload`) writes a genuine container per row
and one decode kernel (:func:`decode_media_meta`) routes each payload by
its magic bytes, both ``mapInPandas`` over Arrow batches and value-oracled
(headers, stride, padding, pixel sums, energies, luma sums). Lossy formats
(JPEG, MP3, H.264) have no vendored codec and no closed-form SQL replay,
so they stay out of the catalog; production plugs a codec library into
the same table. The integer stubs (:func:`decode_image_meta`,
:func:`resize_image_meta`, :func:`sample_frames`) are Column expressions.

Scale notes: binary payloads ride in the same parquet row groups as their
metadata; ``maxPartitionBytes`` controls batch size; mapInPandas streams
Arrow record batches so a 100 MB image row never materializes per-row Python
objects outside its batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .audio import encode_wav, parse_wav
from .video import Y4M_MAGIC, encode_y4m, parse_y4m


def attach_binary_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary column + typed metadata struct.

    In production this is the parquet binary column as landed; here the
    payload is synthesized from the text bytes so the plumbing is exercised
    end-to-end on the driver testdata.
    """
    binary = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        binary.alias("payload"),
        F.struct(
            F.length(binary).alias("n_bytes"),
            F.lit("fake/png").alias("format"),
        ).alias("media_meta"),
    )


def decode_image_meta(df: DataFrame) -> DataFrame:
    """Stub image 'decode' of an :func:`attach_binary_payload` frame, as
    Column expressions: with ``n = length(payload)``, ``width = n % 640 +
    16``, ``height = (n div 7) % 480 + 16``, ``channels = 3``. Plausible
    dimensions from the length alone, so the chain stays replayable by a
    SQL oracle; real decoding is :func:`decode_media_meta`. A NULL payload
    gives NULL metadata."""
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        "length(payload) AS n_bytes",
        "media_meta.format AS format",
        "length(payload) % 640 + 16 AS width",
        "CAST((length(payload) div 7) % 480 + 16 AS INT) AS height",
        "IF(payload IS NULL, NULL, 3) AS channels",
    )


def sample_frames(df: DataFrame, frame_stride: int = 1024) -> DataFrame:
    """Frame-sampling plumbing for audio/video payloads, as Column
    expressions: one row per frame offset, ``n_frames = n_bytes div
    stride + 1``, offsets at stride boundaries (STUB: offsets only; the
    real samplers are :func:`~.video.sample_video_frames` and
    :func:`~.audio.audio_window_energy`). A NULL payload has nothing to
    sample and emits no rows."""
    s = int(frame_stride)
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        "length(payload) AS n_bytes",
        f"explode(sequence(0, CAST(length(payload) div {s} AS INT))) AS frame_index",
    ).selectExpr(
        "doc_id",
        "n_bytes",
        f"CAST(n_bytes div {s} AS INT) + 1 AS n_frames",
        "frame_index",
        f"frame_index * {s} AS frame_offset",
    )


FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, byte_histogram array<double>, "
    "byte_hist_counts array<int>"
)


def resize_image_meta(df: DataFrame, target: int = 256) -> DataFrame:
    """Aspect-preserving resize plumbing (STUB: metadata-only scaling) over
    the :func:`decode_image_meta` output, as Column expressions: the
    geometry scales by ``new = dim * target div max(w, h)`` when the long
    side exceeds ``target`` and is kept otherwise; ``resized_bytes = rw *
    rh * channels``. Products run in BIGINT (the session runs ANSI mode)
    and are cast back to INT. A row with any NULL dimension resizes to
    NULL."""
    t = int(target)
    mx = "greatest(width, height)"

    def fit(d: str) -> str:
        return f"IF({mx} > {t}, CAST({d} AS BIGINT) * {t} div {mx}, {d})"

    valid = "width IS NOT NULL AND height IS NOT NULL AND channels IS NOT NULL"
    return df.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        "width",
        "height",
        f"CAST(IF({valid}, {fit('width')}, NULL) AS INT) AS resized_width",
        f"CAST(IF({valid}, {fit('height')}, NULL) AS INT) AS resized_height",
        f"CAST(IF({valid}, {fit('width')} * {fit('height')} * channels, NULL)"
        " AS INT) AS resized_bytes",
    )


def extract_byte_features(df: DataFrame, bins: int = 16) -> DataFrame:
    """REAL feature extraction: normalized byte-value histogram per payload.

    Unlike the decode/resize stubs this computes on the actual bytes —
    a 16-bin histogram of byte values (np.bincount over the buffer, one
    vectorized pass per Arrow batch), L1-normalized. The cheap, universal
    content fingerprint for binary columns: no decode library needed, and
    the same mapInPandas shape a CNN/CLIP embedder would use.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_list, feats, counts = [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    # NULL payload -> NULL features (distinct from an
                    # empty payload's zero histogram)
                    n_list.append(None)
                    feats.append(None)
                    counts.append(None)
                    continue
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_list.append(len(buf))
                if len(buf) == 0:
                    feats.append([0.0] * bins)
                    counts.append([0] * bins)
                    continue
                hist = np.bincount(buf >> (8 - bins.bit_length() + 1), minlength=bins)
                feats.append((hist / len(buf)).round(6).tolist())
                # raw integer counts alongside the normalized view: exact
                # integer math is what a cross-engine oracle can reproduce
                # bit-for-bit (float normalization has rounding knife-edges)
                counts.append(hist.astype(int).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(n_list, dtype="Int32"),
                    "byte_histogram": feats,
                    "byte_hist_counts": counts,
                }
            )

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL image decode without PIL: a vendored pure-numpy 24-bit BMP codec
# (round-7). The writer synthesizes genuine BMP byte streams into the binary
# column (deterministic pixels, so a SQL oracle can recompute the decode
# output in closed form WITHOUT parsing bytes); the parser reads the actual
# BITMAPFILEHEADER/BITMAPINFOHEADER, walks the 4-byte-aligned bottom-up rows,
# and sums real pixel bytes. This kills the "stub decode VALUES" placeholder
# in THIS container: the Spark path round-trips true bytes, the oracle checks
# the invariant formula the pixels were generated from.
# ---------------------------------------------------------------------------

def _bmp_dims(did: int) -> tuple[int, int]:
    """Deterministic synthetic dimensions from a (non-negative) doc id."""
    return did % 31 + 2, (did * 7) % 13 + 2


def encode_bmp(did: int) -> bytes:
    """Write a real 24-bit uncompressed BMP whose pixel (x, y) channel c
    (RGB index) has value ``(did + 3x + 7y + 11c) % 256`` — position- and
    channel-dependent so a parser that miscounts row padding, stride, or
    vertical flip changes the pixel sum and fails the oracle."""
    import struct

    import numpy as np

    w, h = _bmp_dims(did)
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    c = np.arange(3, dtype=np.int64)  # RGB
    # (h, w, 3) in image orientation (row 0 = top), RGB channel order
    px = (did + 3 * x[None, :, None] + 7 * y[:, None, None] + 11 * c[None, None, :]) % 256
    bgr = px[:, :, ::-1].astype(np.uint8)  # BMP stores B,G,R
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    pixel_data = rows[::-1].tobytes()  # bottom-up row order
    file_size = 54 + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    return header + pixel_data


def parse_bmp(payload) -> tuple:
    """VENDORED pure-numpy BMP parser: (width, height, channels, pixel_sum)
    from a 24-bit uncompressed BMP byte stream; anything unparseable yields
    all-None (NULL metadata, never a job abort — at corpus scale some
    fraction of blobs is always corrupt). Handles both bottom-up (positive
    biHeight) and top-down (negative) layouts and excludes the per-row
    alignment padding from the pixel sum."""
    import struct

    import numpy as np

    try:
        buf = bytes(payload)
        if len(buf) < 54 or buf[:2] != b"BM":
            return (None, None, None, None)
        data_offset = struct.unpack_from("<I", buf, 10)[0]
        (
            hdr_size,
            w,
            h_raw,
            _planes,
            bits,
            compression,
        ) = struct.unpack_from("<IiiHHI", buf, 14)
        if hdr_size < 40 or bits != 24 or compression != 0 or w <= 0 or h_raw == 0:
            return (None, None, None, None)
        h = abs(h_raw)
        stride = (w * 3 + 3) & ~3
        end = data_offset + stride * h
        if data_offset < 54 or end > len(buf):
            return (None, None, None, None)
        rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=data_offset)
        rows = rows.reshape(h, stride)[:, : w * 3]  # drop alignment padding
        return (w, h, 3, int(rows.astype(np.int64).sum()))
    except Exception:
        return (None, None, None, None)


# ---------------------------------------------------------------------------
# REAL PNG codec without PIL (round-8): stdlib zlib + critical-chunk parsing.
# The writer emits 8-bit truecolor (color type 2), non-interlaced, filter-0
# rows, STORED deflate blocks (zlib level 0) so the byte length is closed-form
# (68 + h*(3w+1) for one stored block) and a SQL oracle can predict n_bytes
# without compressing anything. The parser handles ANY 8-bit RGB
# non-interlaced PNG — multi-IDAT streams and all five row filters (Sub/Up/
# Average/Paeth unfiltering) — so real-world payloads decode too, not just
# our writer's. Lossy formats (JPEG needs a DCT stack) have no vendored codec.
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(did: int) -> bytes:
    """Write a real PNG (8-bit RGB, non-interlaced, filter-0 rows, stored
    deflate) whose pixel (x, y) channel c has value
    ``(did + 3x + 7y + 11c) % 256`` — the SAME pixel formula as
    :func:`encode_bmp`, so the oracle's closed-form pixel sum is shared and
    only the container length differs. ``zlib.compress(data, 0)`` emits
    stored blocks: total length is ``68 + h*(3w+1)`` while the raw scanline
    stream fits one 65535-byte block (always true at these dims — asserted
    so a dims change can't silently break the oracle's length formula)."""
    import struct
    import zlib

    import numpy as np

    w, h = _bmp_dims(did)  # shared synthetic dims with the BMP writer
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    c = np.arange(3, dtype=np.int64)
    px = (did + 3 * x[None, :, None] + 7 * y[:, None, None] + 11 * c[None, None, :]) % 256
    rgb = px.astype(np.uint8)  # PNG stores RGB directly, top-down
    # one filter-type byte (0 = None) per scanline, then the raw RGB row
    raw = b"".join(b"\x00" + rgb[j].tobytes() for j in range(h))
    if len(raw) > 65535:
        # The multimodal_decode oracle's closed-form 68 + h*(3w+1) length
        # depends on the ONE-stored-deflate-block invariant; an assert here
        # would vanish under `python -O`, so fail loudly instead.
        raise ValueError(
            f"raw scanline stream ({len(raw)} bytes) exceeds one 65535-byte "
            "stored deflate block — the oracle's length formula would break"
        )
    idat = zlib.compress(raw, 0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB, no interlace
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _png_unfilter(raw: bytes, w: int, h: int):
    """Reverse PNG row filtering for an 8-bit RGB scanline stream →
    (h, 3w) uint8 array, or None on a malformed stream. Filters 0/1/2 are
    vectorized (None / channel-lane cumsum / previous-row add); 3/4
    (Average/Paeth) fall back to a per-byte loop — our writer never emits
    them, they exist so arbitrary real PNGs decode correctly."""
    import numpy as np

    bpp, stride = 3, w * 3
    if len(raw) != h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    arr = np.frombuffer(raw, dtype=np.uint8)
    pos = 0
    for yy in range(h):
        ft = int(arr[pos])
        line = arr[pos + 1 : pos + 1 + stride].astype(np.int64)
        pos += 1 + stride
        prev = out[yy - 1].astype(np.int64) if yy else np.zeros(stride, np.int64)
        if ft == 0:
            cur = line
        elif ft == 1:  # Sub: per channel lane, running sum along the row
            cur = line.reshape(w, bpp).cumsum(axis=0).reshape(stride) % 256
        elif ft == 2:  # Up
            cur = (line + prev) % 256
        elif ft in (3, 4):  # Average / Paeth: inherently sequential
            cur = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if ft == 3:
                    pred = (a + b) // 2
                else:
                    cc = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                cur[i] = (int(line[i]) + pred) % 256
        else:
            return None
        out[yy] = cur.astype(np.uint8)
    return out


def parse_png(payload) -> tuple:
    """VENDORED pure-stdlib PNG parser: (width, height, channels, pixel_sum)
    from an 8-bit truecolor non-interlaced PNG — signature check, chunk
    walk (multi-IDAT concatenation), zlib inflate, full unfiltering.
    Anything unparseable (wrong color type/bit depth, interlaced, bad
    lengths, corrupt deflate) yields all-None — NULL metadata, never a job
    abort, the same corrupt-blob contract as :func:`parse_bmp`."""
    import struct
    import zlib

    import numpy as np

    try:
        buf = bytes(payload)
        if len(buf) < 8 + 25 + 12 or buf[:8] != PNG_SIG:
            return (None, None, None, None)
        pos, w = 8, None
        idat = bytearray()
        h = None
        while pos + 8 <= len(buf):
            (length,) = struct.unpack_from(">I", buf, pos)
            tag = buf[pos + 4 : pos + 8]
            body_end = pos + 8 + length
            if body_end + 4 > len(buf):
                return (None, None, None, None)
            body = buf[pos + 8 : body_end]
            if tag == b"IHDR":
                if length != 13:
                    return (None, None, None, None)
                w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", body)
                if depth != 8 or ctype != 2 or comp != 0 or filt != 0 or inter != 0:
                    return (None, None, None, None)
                if w <= 0 or h <= 0:
                    return (None, None, None, None)
            elif tag == b"IDAT":
                idat.extend(body)
            elif tag == b"IEND":
                break
            pos = body_end + 4  # skip CRC (payload integrity, not structure)
        if w is None or not idat:
            return (None, None, None, None)
        # Bounded inflate: a crafted tiny IDAT can expand to gigabytes
        # (decompression bomb) if inflated unboundedly before the length
        # check. Cap the output at the expected scanline-stream size + 1;
        # any overflow byte means the stream is oversized → reject, having
        # allocated at most h*(3w+1)+1 bytes per task.
        expected = h * (w * 3 + 1)
        dobj = zlib.decompressobj()
        raw = dobj.decompress(bytes(idat), expected + 1)
        if len(raw) > expected or dobj.unconsumed_tail:
            return (None, None, None, None)
        rows = _png_unfilter(raw, w, h)
        if rows is None:
            return (None, None, None, None)
        return (w, h, 3, int(rows.astype(np.int64).sum()))
    except Exception:
        return (None, None, None, None)


# ---------------------------------------------------------------------------
# The one codec table. Each row: MIME type -> (magic prefix, writer, parser,
# the decode fields the parser's tuple fills in order). The prefixes are
# disjoint, and each parser re-checks its whole container header. Every
# attach and decode in the catalog goes through it.
# ---------------------------------------------------------------------------

_IMAGE_FIELDS = ("width", "height", "channels", "pixel_sum")
_CODECS = {
    "image/bmp": (b"BM", encode_bmp, parse_bmp, _IMAGE_FIELDS),
    "image/png": (PNG_SIG, encode_png, parse_png, _IMAGE_FIELDS),
    "audio/wav": (
        b"RIFF", encode_wav, parse_wav,
        ("sample_rate", "channels", "n_samples", "energy"),
    ),
    "video/y4m": (
        Y4M_MAGIC, encode_y4m, parse_y4m,
        ("width", "height", "fps_num", "fps_den", "n_frames", "luma_sum"),
    ),
}
MEDIA_FORMATS = tuple(_CODECS)


def attach_media_payload(
    df: DataFrame, formats: tuple[str, ...] = MEDIA_FORMATS, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL payload per row — the testdata stand-in for a
    landed blob column: id ``d`` gets a genuine ``formats[abs(d) %
    len(formats)]`` container from the vendored writer, so the default
    mixes all four modalities by ``id % 4`` and ``("image/bmp",
    "image/png")`` gives BMP to even ids and PNG to odd ones. A NULL id
    yields a NULL payload (the missing-blob case). The id column keeps
    its name; :func:`decode_media_meta` takes the same ``id_col``."""
    unknown = [f for f in formats if f not in _CODECS]
    if not formats or unknown:
        raise ValueError(
            f"formats must be a non-empty tuple of {list(MEDIA_FORMATS)}, got {formats!r}"
        )
    writers = [_CODECS[f][1] for f in formats]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf[id_col]:
                if d is None or pd.isna(d):
                    payloads.append(None)
                else:
                    did = abs(int(d))
                    payloads.append(writers[did % len(writers)](did))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        batches, schema=f"{id_col} long, payload binary"
    )


_MEDIA_FIELDS = (
    "n_bytes int, format string, width int, height int, channels int,"
    " pixel_sum long, sample_rate int, n_samples int, energy long,"
    " fps_num int, fps_den int, n_frames int, luma_sum long"
)
_FIELDS = [tuple(f.split()) for f in _MEDIA_FIELDS.split(", ")]
_SLOT = {name: i for i, (name, _) in enumerate(_FIELDS)}
# Per codec: (format, magic prefix, parser, the output slots it fills).
_ROUTES = tuple(
    (fmt, magic, parse, tuple(_SLOT[f] for f in fields))
    for fmt, (magic, _, parse, fields) in _CODECS.items()
)


def _decode_schema(id_col: str) -> str:
    """The decode output schema with the caller's id column name. A name
    that collides with a fixed field would yield silent duplicate columns,
    so reject it outright."""
    if id_col in _SLOT:
        raise ValueError(
            f"id_col {id_col!r} collides with a decode output field {sorted(_SLOT)}"
        )
    return f"{id_col} long, {_MEDIA_FIELDS}"


def _decode_columns(payloads, n: int) -> list[list]:
    """The decode fields of ``n`` payloads, one list per field in
    ``_MEDIA_FIELDS`` order, under the one corrupt-payload rule:
    ``n_bytes`` is the length of any non-NULL payload; ``format`` and the
    codec's fields are set only when the codec its magic prefix selects
    parses it; a NULL payload sets nothing."""
    cols = [[None] * n for _ in _FIELDS]
    n_bytes, formats = cols[_SLOT["n_bytes"]], cols[_SLOT["format"]]
    for r, payload in enumerate(payloads):
        if payload is None:
            continue
        buf = bytes(payload)
        n_bytes[r] = len(buf)
        for fmt, magic, parse, slots in _ROUTES:
            if buf.startswith(magic):
                values = parse(buf)
                if values[0] is not None:
                    formats[r] = fmt
                    for i, v in zip(slots, values):
                        cols[i][r] = v
                break
    return cols


def _nullable(values: list, typ: str):
    """``values`` as a pandas column of Spark type ``typ``. A field no row
    filled (one of a modality absent from the batch) is built as all-NA
    directly: pandas coerces a list of None element by element, at the
    cost of a full column."""
    import numpy as np

    if typ == "string":
        return values
    np_dtype, pd_dtype = ("int32", "Int32") if typ == "int" else ("int64", "Int64")
    if values.count(None) == len(values):
        return pd.arrays.IntegerArray(
            np.zeros(len(values), np_dtype), np.ones(len(values), bool)
        )
    return pd.array(values, dtype=pd_dtype)


def decode_media_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode of an (id, payload) frame: route each payload by MAGIC
    BYTES through the codec table — 'BM' → BMP, PNG signature → PNG,
    'RIFF' → WAV, 'YUV4MPEG2' → Y4M — into one wide nullable schema
    (image fields NULL on audio rows and vice versa; the curation-layer
    contract for a heterogeneous blob column). Unknown containers and
    corrupt payloads keep ``n_bytes`` and NULL every other field, never a
    job abort; a NULL payload is an all-NULL row. One mapInPandas pass;
    per-payload numpy only. Per-modality callers ``select`` the fields
    their modality fills."""
    schema = _decode_schema(id_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = _decode_columns(pdf["payload"], len(pdf))
            out = {id_col: pdf[id_col]}
            for (name, typ), col in zip(_FIELDS, cols):
                out[name] = _nullable(col, typ)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=schema)
