"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The IMAGE leg has an honest pure-stdlib pixel decoder (``decode_image``:
24-bit BMP + binary P6 PPM, exact channel statistics) and the AUDIO leg an
honest pure-stdlib waveform decoder (``decode_wav``: RIFF/WAVE 16-bit PCM,
exact amplitude statistics), and the VIDEO leg an honest pure-stdlib
container walker (``decode_avi_frames``: RIFF/AVI with uncompressed DIB
frames, exact per-sampled-frame statistics) — all value-checked
end-to-end by the ``multimodal_image_decode`` /
``multimodal_audio_features`` / ``multimodal_video_decode`` queries and
tests/test_multimodal.py. Formats that genuinely need a media library
(JPEG/PNG/WebP, FLAC/Opus/MP3, MJPEG/H.264) remain an explicit boundary;
the md5 stubs (``decode_image_stub`` / ``frame_sample_stub``) stay only
as SQL-expressible plumbing twins for the profile/batch-shape entries;
everything Spark-side is real and tested either way:
schema contracts, binary handling through Arrow batches, partition-parallel
UDF plumbing.

Scale: mapInPandas streams Arrow batches — executor memory is O(batch), not
O(partition); binary payloads never pass through the driver; feature
extraction parallelizes per partition exactly like a GPU preprocessing fleet
would (swap the stub for the real decoder + an inference client).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = ("doc_id long, n_bytes long, format string, "
                     "width int, height int, phash string")


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Build an opaque binary payload column + modality metadata struct from
    a (doc_id, text) corpus (the test stand-in for real image bytes)."""
    return df.select(
        F.col("doc_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.octet_length(F.encode(F.col("text"), "UTF-8"))
            .alias("n_bytes"),
        ).alias("meta"))


def decode_image_stub(payload: bytes) -> dict:
    """Deterministic fake decoder.

    A real deployment replaces this body with e.g. PIL.Image.open; the
    container has no imaging libraries, so we derive stable pseudo-metadata
    from the payload hash — keeping every downstream contract (schema,
    batching, partitioning) real and testable.
    """
    h = hashlib.md5(payload).digest()
    return {
        "format": ["png", "jpeg", "webp"][h[0] % 3],
        "width": 64 + (h[1] % 64) * 16,
        "height": 64 + (h[2] % 64) * 16,
        "phash": h.hex()[:16],
    }


def extract_image_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract the (doc_id, payload) binary payloads via
    mapInPandas (Arrow batches, vectorized transfer; per-row python only
    inside the batch)."""
    from arangodb_java_parquet_spark.shipping import ensure_package_shipped
    ensure_package_shipped(df.sparkSession)

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [decode_image_stub(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                "format": [m["format"] for m in metas],
                "width": [m["width"] for m in metas],
                "height": [m["height"] for m in metas],
                "phash": [m["phash"] for m in metas],
            })

    return df.mapInPandas(decode_batches, schema=IMAGE_META_SCHEMA)


def frame_sample_stub(df: DataFrame, *, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame of
    each (doc_id, payload) row.

    The frame decode is faked (frame index + payload hash); the explode
    pattern, schema, and per-partition batching are the real contract a
    video pipeline needs.
    """
    from arangodb_java_parquet_spark.shipping import ensure_package_shipped
    ensure_package_shipped(df.sparkSession)

    def sample_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, hashes = [], [], []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(p)
                n_frames = max(len(data) // 100, 1)
                for fi in range(0, n_frames, every_n):
                    ids.append(i)
                    idxs.append(fi)
                    hashes.append(hashlib.md5(
                        data[fi * 100:(fi + 1) * 100]).hexdigest()[:12])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs,
                                "frame_hash": hashes})

    return df.mapInPandas(sample_batches,
                          schema="doc_id long, frame_idx int, frame_hash string")


# ---------------------------------------------------------------------------
# honest image leg: pure-stdlib pixel codecs (no imaging libraries needed)
# ---------------------------------------------------------------------------

def encode_bmp(width: int, height: int, rgb_at) -> bytes:
    """Build a real 24-bit uncompressed bottom-up BMP (BITMAPINFOHEADER)
    from a pixel callback ``rgb_at(x, y) -> (r, g, b)``. Fixture
    generator for the decode round-trip tests/queries."""
    import struct as _s
    row_sz = (width * 3 + 3) & ~3
    img_sz = row_sz * height
    off = 14 + 40
    out = bytearray()
    out += b"BM" + _s.pack("<IHHI", off + img_sz, 0, 0, off)
    out += _s.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_sz,
                   2835, 2835, 0, 0)
    for y in range(height - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(width):
            r, g, b = rgb_at(x, y)
            row += bytes((b & 255, g & 255, r & 255))  # BGR on disk
        row += b"\x00" * (row_sz - len(row))
        out += row
    return bytes(out)


def encode_ppm(width: int, height: int, rgb_at) -> bytes:
    """Build a real binary P6 PPM from ``rgb_at(x, y) -> (r, g, b)``."""
    out = bytearray(f"P6\n{width} {height}\n255\n".encode())
    for y in range(height):
        for x in range(width):
            r, g, b = rgb_at(x, y)
            out += bytes((r & 255, g & 255, b & 255))
    return bytes(out)


def decode_image(payload: bytes) -> dict | None:
    """REAL pixel decoder, pure stdlib: 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up or top-down) and binary P6 PPM
    (whitespace/comment-tolerant header). Returns format, dimensions and
    exact integer channel sums / pixel count (mean computation is left
    to the caller so it can pick its determinism discipline); None for
    payloads that are not a supported image — callers decide whether to
    fall back (e.g. to :func:`decode_image_stub` for synthetic corpora).

    This replaces the md5 stub as the honest image leg: given real image
    bytes it reports real pixel statistics. Formats beyond BMP/P6 still
    need an imaging library — that boundary is explicit here rather than
    hidden behind a fake.
    """
    import struct as _s
    if payload[:2] == b"BM" and len(payload) >= 54:
        try:
            off, = _s.unpack_from("<I", payload, 10)
            w, h_raw = _s.unpack_from("<ii", payload, 18)
            _planes, bpp = _s.unpack_from("<HH", payload, 26)
            comp, = _s.unpack_from("<I", payload, 30)
        except _s.error:
            return None
        if bpp != 24 or comp != 0 or w <= 0 or h_raw == 0:
            return None
        h = abs(h_raw)
        row_sz = (w * 3 + 3) & ~3
        if len(payload) < off + row_sz * h:
            return None
        sr = sg = sb = 0
        for yrow in range(h):
            base = off + yrow * row_sz
            row = payload[base:base + w * 3]
            sb += sum(row[0::3])
            sg += sum(row[1::3])
            sr += sum(row[2::3])
        return {"format": "bmp", "width": w, "height": h,
                "sum_r": sr, "sum_g": sg, "sum_b": sb, "n_px": w * h}
    if payload[:2] == b"P6":
        # header: P6 <ws> width <ws> height <ws> maxval <single ws> data
        i, fields = 2, []
        n = len(payload)
        while len(fields) < 3 and i < n:
            while i < n and payload[i:i + 1].isspace():
                i += 1
            if payload[i:i + 1] == b"#":  # comment to end of line
                while i < n and payload[i] not in (10, 13):
                    i += 1
                continue
            j = i
            while j < n and not payload[j:j + 1].isspace():
                j += 1
            if j == i:
                return None
            try:
                fields.append(int(payload[i:j]))
            except ValueError:
                return None
            i = j
        if len(fields) < 3 or i >= n:
            return None
        i += 1  # exactly one whitespace byte after maxval
        w, h, maxval = fields
        if w <= 0 or h <= 0 or maxval != 255:
            return None
        if len(payload) < i + w * h * 3:
            return None
        data = payload[i:i + w * h * 3]
        return {"format": "ppm", "width": w, "height": h,
                "sum_r": sum(data[0::3]), "sum_g": sum(data[1::3]),
                "sum_b": sum(data[2::3]), "n_px": w * h}
    return None


# ---------------------------------------------------------------------------
# honest audio leg: pure-stdlib RIFF/WAVE PCM codec (no audio libs needed)
# ---------------------------------------------------------------------------

def encode_wav(sample_rate: int, samples: list, n_channels: int = 1) -> bytes:
    """Build a real RIFF/WAVE file with 16-bit little-endian PCM samples
    (interleaved when n_channels > 1). Fixture generator for the decode
    round-trip tests/queries — the same role encode_bmp/encode_ppm play
    for the image leg."""
    import struct as _s
    data = b"".join(_s.pack("<h", int(s)) for s in samples)
    block_align = n_channels * 2
    byte_rate = sample_rate * block_align
    fmt = _s.pack("<HHIIHH", 1, n_channels, sample_rate, byte_rate,
                  block_align, 16)
    body = (b"WAVE"
            + b"fmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", len(data)) + data)
    return b"RIFF" + _s.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> dict | None:
    """REAL audio decoder, pure stdlib: RIFF/WAVE container with 16-bit
    PCM (format tag 1). Walks the chunk list (tolerating extra chunks
    like LIST/INFO and the spec's odd-size padding byte), reads ``fmt ``
    then ``data``, and returns exact integer sample statistics —
    sum of absolute amplitudes, peak amplitude, sum of squares, sample
    count — leaving mean/RMS derivation to the caller (same determinism
    split as decode_image). None for payloads that are not 16-bit PCM
    WAV; callers decide what a non-WAV payload means.

    This replaces the md5 stub as the honest audio leg: given real WAV
    bytes it reports real waveform statistics. Compressed codecs
    (FLAC/Opus/MP3) still need an audio library — that boundary is
    explicit here rather than hidden behind a fake.
    """
    import struct as _s
    if len(payload) < 12:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    i, n = 12, len(payload)
    fmt = None
    data = None
    while i + 8 <= n:
        cid = payload[i:i + 4]
        try:
            size, = _s.unpack_from("<I", payload, i + 4)
        except _s.error:
            return None
        chunk = payload[i + 8:i + 8 + size]
        if len(chunk) < size:
            return None
        if cid == b"fmt " and fmt is None:  # first chunk wins on duplicates
            fmt = chunk
        elif cid == b"data" and data is None:
            data = chunk
        if fmt is not None and data is not None:
            break
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format, n_channels, sample_rate, _br, _ba, bits = \
        _s.unpack_from("<HHIIHH", fmt, 0)
    if audio_format != 1 or bits != 16 or n_channels < 1 or sample_rate < 1:
        return None
    n_vals = len(data) // 2
    frames = n_vals // n_channels
    sum_abs = peak = sum_sq = 0
    for (v,) in _s.iter_unpack("<h", data[:n_vals * 2]):
        a = -v if v < 0 else v
        sum_abs += a
        sum_sq += v * v
        if a > peak:
            peak = a
    return {"codec": "pcm_s16le", "sample_rate": sample_rate,
            "n_channels": n_channels, "n_frames": frames,
            "duration_ms": frames * 1000 // sample_rate,
            "sum_abs": sum_abs, "peak": peak, "sum_sq": sum_sq,
            "n_samples": n_vals}


# ---------------------------------------------------------------------------
# honest video leg: pure-stdlib AVI container with uncompressed DIB frames
# ---------------------------------------------------------------------------

def encode_avi(width: int, height: int, frames: list) -> bytes:
    """Build a real RIFF/AVI file with uncompressed bottom-up BGR DIB
    frames ('00db' chunks in the 'movi' list, BI_RGB strf, avih/strh
    headers). ``frames`` is a list of ``rgb_at(x, y) -> (r, g, b)``
    callbacks, one per frame. Fixture generator for the decode
    round-trip — the video sibling of encode_bmp/encode_wav."""
    import struct as _s
    row_sz = (width * 3 + 3) & ~3
    frame_sz = row_sz * height

    def dib(rgb_at):
        out = bytearray()
        for y in range(height - 1, -1, -1):  # bottom-up, BGR — DIB rules
            row = bytearray()
            for x in range(width):
                r, g, b = rgb_at(x, y)
                row += bytes((b & 255, g & 255, r & 255))
            row += b"\x00" * (row_sz - len(row))
            out += row
        return bytes(out)

    avih = _s.pack("<IIIIIIIIIIIIII", 40000, frame_sz * 25, 0, 0,
                   len(frames), 0, 1, frame_sz, width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + _s.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 25,
                                        0, len(frames), frame_sz, 0, 0, 0)
            + _s.pack("<HHHH", 0, 0, width, height))
    strf = _s.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_sz,
                   2835, 2835, 0, 0)

    def chunk(cid, payload):
        pad = b"\x00" if len(payload) & 1 else b""
        return cid + _s.pack("<I", len(payload)) + payload + pad

    def lst(kind, payload):
        return chunk(b"LIST", kind + payload)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + _s.pack("<I", len(body)) + body


def decode_avi_frames(payload: bytes, every_n: int = 1):
    """REAL video decoder, pure stdlib: RIFF/AVI with uncompressed 24-bit
    DIB '00db' frames. Parses avih for (width, height), walks the 'movi'
    list, and yields one dict per SAMPLED frame (every ``every_n``-th):
    frame index plus exact integer channel sums over that frame's
    pixels. Returns None for payloads that are not such an AVI;
    compressed codecs (MJPEG/H.264...) remain an explicit library
    boundary, exactly like JPEG for images and Opus for audio."""
    import struct as _s
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None

    def walk(buf, i, end):
        while i + 8 <= end:
            cid = buf[i:i + 4]
            try:
                size, = _s.unpack_from("<I", buf, i + 4)
            except _s.error:
                return
            body_start = i + 8
            if body_start + size > end:
                return
            yield cid, body_start, size
            i = body_start + size + (size & 1)

    w = h = None
    frames = []
    for cid, start, size in walk(payload, 12, len(payload)) or ():
        if cid != b"LIST" or size < 4:
            continue
        kind = payload[start:start + 4]
        if kind == b"hdrl":
            for c2, s2, z2 in walk(payload, start + 4, start + size) or ():
                if c2 == b"avih" and z2 >= 40:
                    vals = _s.unpack_from("<IIIIIIIIII", payload, s2)
                    w, h = vals[8], vals[9]
        elif kind == b"movi":
            for c2, s2, z2 in walk(payload, start + 4, start + size) or ():
                if c2 in (b"00db", b"00dc"):
                    frames.append((s2, z2))
    if not w or not h or h <= 0 or not frames:
        return None
    row_sz = (w * 3 + 3) & ~3
    out = []
    for idx in range(0, len(frames), every_n):
        s2, z2 = frames[idx]
        if z2 < row_sz * h:
            return None  # truncated/compressed frame: not our format
        sr = sg = sb = 0
        for yrow in range(h):
            row = payload[s2 + yrow * row_sz:s2 + yrow * row_sz + w * 3]
            sb += sum(row[0::3])
            sg += sum(row[1::3])
            sr += sum(row[2::3])
        out.append({"frame_idx": idx, "width": w, "height": h,
                    "sum_r": sr, "sum_g": sg, "sum_b": sb, "n_px": w * h})
    return out
