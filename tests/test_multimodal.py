"""Multimodal plumbing tests: binary payload columns, Arrow-batched decode
stub, frame sampling — schema and determinism contracts."""

from arangodb_java_parquet_spark.operators.multimodal import (
    attach_binary_payload, decode_image_stub, extract_image_features,
    frame_sample_stub)
from arangodb_java_parquet_spark.queries.common import t


def test_attach_binary_payload_schema(spark, sf_dir):
    d = t(spark, sf_dir, "documents").limit(20)
    p = attach_binary_payload(d)
    assert dict(p.dtypes)["payload"] == "binary"
    row = p.first()
    assert row.meta.mime == "image/fake"
    assert row.meta.n_bytes == len(bytes(row.payload))


def test_extract_image_features_deterministic(spark, sf_dir):
    d = t(spark, sf_dir, "documents").limit(50)
    feats = extract_image_features(attach_binary_payload(d))
    rows = {r.doc_id: r for r in feats.collect()}
    assert len(rows) == 50
    # re-run produces identical metadata (deterministic stub)
    rows2 = {r.doc_id: r for r in
             extract_image_features(attach_binary_payload(d)).collect()}
    assert rows == rows2
    r0 = next(iter(rows.values()))
    assert r0.format in ("png", "jpeg", "webp")
    assert r0.width >= 64 and r0.height >= 64 and len(r0.phash) == 16


def test_stub_matches_local_python(spark, sf_dir):
    # the distributed path computes exactly what the stub computes locally
    d = t(spark, sf_dir, "documents").limit(5)
    local = {r.doc_id: decode_image_stub(r.text.encode())
             for r in d.select("doc_id", "text").collect()}
    dist = {r.doc_id: r for r in
            extract_image_features(attach_binary_payload(d)).collect()}
    for k, meta in local.items():
        assert dist[k].phash == meta["phash"]
        assert dist[k].width == meta["width"]


def test_frame_sample_explodes(spark, sf_dir):
    d = t(spark, sf_dir, "documents").limit(10)
    frames = frame_sample_stub(attach_binary_payload(d), every_n=2)
    rows = frames.collect()
    assert len(rows) >= 10  # at least one frame per doc
    assert all(r.frame_idx % 2 == 0 for r in rows)


def test_binary_file_lake_to_features(spark, tmp_path):
    """End-to-end multimodal ingest: a lake of binary files read via the
    binaryFile source, decoded through the Arrow-batched mapInPandas
    feature extractor — the full scan->decode pipeline with real plumbing
    (the decode itself is the documented deterministic stub)."""
    from pyspark.sql import functions as F

    payloads = {1: b"\x89PNGfakedata-one", 2: b"\xff\xd8JPEGfake-two",
                3: b"RIFFwebp-fake-three"}
    for i, b in payloads.items():
        (tmp_path / f"img_{i}.bin").write_bytes(b)

    lake = (spark.read.format("binaryFile")
            .option("pathGlobFilter", "img_*.bin").load(str(tmp_path)))
    with_ids = lake.select(
        F.regexp_extract("path", r"img_(\d+)\.bin", 1).cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"))
    feats = {r.doc_id: r for r in extract_image_features(with_ids).collect()}
    assert set(feats) == {1, 2, 3}
    for i, b in payloads.items():
        expected = decode_image_stub(b)
        assert feats[i].phash == expected["phash"]
        assert feats[i].n_bytes == len(b)
        assert (feats[i].width, feats[i].height) == (
            expected["width"], expected["height"])


def test_decode_image_bmp_ppm_pixel_exact():
    """The pure-stdlib decoder must report exact pixel statistics for
    real BMP (incl. row padding and top-down negative-height variants)
    and P6 PPM (incl. header comments) byte streams, and return None for
    non-image payloads (caller decides any fallback)."""
    import struct

    from arangodb_java_parquet_spark.operators.multimodal import (
        decode_image, encode_bmp, encode_ppm)

    def rgb(x, y):
        return ((x * 11 + y) % 256, (y * 13) % 256, (x + y * 3) % 256)

    for w, h in ((1, 1), (3, 5), (5, 3), (8, 8)):  # odd widths force padding
        exp = [sum(rgb(x, y)[c] for x in range(w) for y in range(h))
               for c in range(3)]
        for enc, fmt in ((encode_bmp, "bmp"), (encode_ppm, "ppm")):
            m = decode_image(enc(w, h, rgb))
            assert (m["format"], m["width"], m["height"]) == (fmt, w, h)
            assert [m["sum_r"], m["sum_g"], m["sum_b"]] == exp

    # top-down BMP: negative height, rows in natural order — same sums
    bmp = bytearray(encode_bmp(3, 2, rgb))
    hpos = 18 + 4
    struct.pack_into("<i", bmp, hpos, -2)
    m = decode_image(bytes(bmp))
    assert m is not None and m["height"] == 2
    assert m["sum_r"] == sum(rgb(x, y)[0] for x in range(3) for y in range(2))

    assert decode_image(b"not an image") is None
    assert decode_image(b"BM but torn off") is None
    assert decode_image(b"P6\n3 2\n65535\n" + b"\x00" * 18) is None  # maxval

    # exact means: channel sum over the pixel count
    m = decode_image(encode_ppm(4, 2, rgb))
    exp_r = sum(rgb(x, y)[0] for x in range(4) for y in range(2)) / 8.0
    assert m["sum_r"] / m["n_px"] == exp_r and m["format"] == "ppm"
    assert decode_image(b"junk") is None


def test_decode_image_never_crashes_on_fuzz():
    """Property: decode_image returns a well-formed dict or None for ANY
    byte string — truncations, corrupt headers, and mutations of valid
    images included — never an exception (an undecodable blob in a 100 TB
    lake must not kill the executor)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from arangodb_java_parquet_spark.operators.multimodal import (
        decode_image, encode_bmp, encode_ppm)

    valid = encode_bmp(4, 3, lambda x, y: (x, y, x + y))
    valid_ppm = encode_ppm(4, 3, lambda x, y: (x, y, x + y))

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(
        st.binary(max_size=200),
        st.binary(max_size=60).map(lambda b: b"BM" + b),
        st.binary(max_size=60).map(lambda b: b"P6" + b),
        st.integers(0, len(valid) - 1).flatmap(
            lambda i: st.integers(0, 255).map(
                lambda v: valid[:i] + bytes([v]) + valid[i + 1:])),
        st.integers(1, len(valid_ppm)).map(lambda n: valid_ppm[:-n]),
    ))
    def check(payload):
        m = decode_image(payload)
        if m is not None:
            assert m["format"] in ("bmp", "ppm")
            assert m["width"] > 0 and m["height"] > 0
            assert m["n_px"] == m["width"] * m["height"]
            for c in ("sum_r", "sum_g", "sum_b"):
                assert 0 <= m[c] <= 255 * m["n_px"]

    check()


def test_decode_wav_sample_exact():
    """The pure-stdlib WAV decoder must report exact sample statistics
    for real RIFF/PCM16 byte streams (incl. stereo interleave, extra
    chunks and odd-size chunk padding) and return None for non-WAV or
    non-PCM16 payloads."""
    import struct

    from arangodb_java_parquet_spark.operators.multimodal import (
        decode_wav, encode_wav)

    samples = [0, 1, -1, 32767, -32768, 100, -250, 7]
    m = decode_wav(encode_wav(16000, samples))
    assert (m["codec"], m["sample_rate"]) == ("pcm_s16le", 16000)
    assert m["n_frames"] == len(samples) == m["n_samples"]
    assert m["sum_abs"] == sum(abs(s) for s in samples)
    assert m["peak"] == 32768
    assert m["sum_sq"] == sum(s * s for s in samples)
    assert m["duration_ms"] == len(samples) * 1000 // 16000

    # stereo: frames = samples // channels, duration follows frames
    st = decode_wav(encode_wav(8000, samples, n_channels=2))
    assert st["n_channels"] == 2 and st["n_frames"] == 4
    assert st["duration_ms"] == 4 * 1000 // 8000
    assert st["sum_abs"] == m["sum_abs"]  # same sample values

    # an extra odd-sized chunk BEFORE fmt/data must be skipped with its
    # word-alignment padding byte
    wav = encode_wav(22050, samples)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    chunked = wav[:12] + extra + wav[12:]
    chunked = chunked[:4] + struct.pack(
        "<I", len(chunked) - 8) + chunked[8:]
    m2 = decode_wav(chunked)
    assert m2 is not None and m2["sum_abs"] == m["sum_abs"]
    assert m2["sample_rate"] == 22050

    assert decode_wav(b"not audio") is None
    assert decode_wav(b"RIFF\x00\x00\x00\x00WAVE") is None  # no chunks
    # 8-bit PCM rejected (explicit library boundary, not a wrong parse)
    bad = bytearray(encode_wav(8000, samples))
    struct.pack_into("<H", bad, 12 + 8 + 14, 8)
    assert decode_wav(bytes(bad)) is None

    # exact mean: absolute-sample sum over the sample count
    assert m["sum_abs"] / m["n_samples"] == \
        sum(abs(s) for s in samples) / len(samples)
    assert decode_wav(b"x") is None


def test_decode_wav_never_crashes_on_fuzz():
    """Property: decode_wav returns a well-formed dict or None for ANY
    byte string — truncations, corrupt headers, and mutations of valid
    WAVs included — never an exception."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from arangodb_java_parquet_spark.operators.multimodal import (
        decode_wav, encode_wav)

    valid = encode_wav(16000, [((i * 37) % 4001) - 2000 for i in range(40)])

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(
        st.binary(max_size=200),
        st.binary(max_size=80).map(lambda b: b"RIFF" + b),
        st.binary(max_size=80).map(lambda b: b"RIFF\xff\xff\xff\xffWAVE" + b),
        st.integers(0, len(valid) - 1).flatmap(
            lambda i: st.integers(0, 255).map(
                lambda v: valid[:i] + bytes([v]) + valid[i + 1:])),
        st.integers(1, len(valid)).map(lambda n: valid[:-n]),
    ))
    def check(payload):
        m = decode_wav(payload)
        if m is not None:
            assert m["n_frames"] >= 0 and m["peak"] >= 0
            assert m["sum_abs"] >= 0 and m["sum_sq"] >= 0

    check()


def test_decode_avi_frame_exact():
    """The pure-stdlib AVI walker must report exact per-frame pixel
    statistics for real RIFF/AVI uncompressed-DIB byte streams (incl.
    frame sampling and odd-width row padding) and return None for
    non-AVI payloads."""
    from arangodb_java_parquet_spark.operators.multimodal import (
        decode_avi_frames, encode_avi)

    def mk(fi):
        return lambda x, y, fi=fi: ((fi * 7 + x * 3 + y) % 256,
                                    (fi + x) % 256, (y * 5 + fi * 2) % 256)

    w, h, nf = 5, 3, 7  # odd width forces DIB row padding
    avi = encode_avi(w, h, [mk(i) for i in range(nf)])
    ms = decode_avi_frames(avi, every_n=2)
    assert [m["frame_idx"] for m in ms] == [0, 2, 4, 6]
    for m in ms:
        fi = m["frame_idx"]
        exp = [sum(mk(fi)(x, y)[c] for x in range(w) for y in range(h))
               for c in range(3)]
        assert [m["sum_r"], m["sum_g"], m["sum_b"]] == exp
        assert (m["width"], m["height"]) == (w, h)

    assert decode_avi_frames(b"not a video") is None
    assert decode_avi_frames(b"RIFF\x08\x00\x00\x00WAVEfmt ") is None
    assert decode_avi_frames(avi[:-20]) is None  # truncated last frame

    # every_n=3 samples frames 0, 3, 6; exact means per sampled frame
    ms3 = decode_avi_frames(avi, every_n=3)
    assert [m["frame_idx"] for m in ms3] == [0, 3, 6]
    assert ms3[0]["sum_r"] / ms3[0]["n_px"] == sum(
        mk(0)(x, y)[0] for x in range(w) for y in range(h)) / (w * h)


def test_decode_avi_never_crashes_on_fuzz():
    """Property: decode_avi_frames returns a list of well-formed dicts or
    None for ANY byte string — never an exception."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from arangodb_java_parquet_spark.operators.multimodal import (
        decode_avi_frames, encode_avi)

    valid = encode_avi(4, 3, [lambda x, y: (x, y, x + y)] * 3)

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(
        st.binary(max_size=200),
        st.binary(max_size=100).map(lambda b: b"RIFF" + b),
        st.binary(max_size=100).map(lambda b: b"RIFF\xff\xff\xff\xffAVI " + b),
        st.integers(0, len(valid) - 1).flatmap(
            lambda i: st.integers(0, 255).map(
                lambda v: valid[:i] + bytes([v]) + valid[i + 1:])),
        st.integers(1, len(valid)).map(lambda n: valid[:-n]),
    ))
    def check(payload):
        ms = decode_avi_frames(payload)
        if ms is not None:
            for m in ms:
                assert m["n_px"] == m["width"] * m["height"] > 0
                assert m["sum_r"] >= 0

    check()


def test_decode_wav_duplicate_chunks_first_wins(spark):
    """A malformed WAV carrying DUPLICATE fmt/data chunks must decode
    the FIRST of each (r6 ADVICE fix: previously last-wins) and stop
    scanning once both are found."""
    import struct

    from arangodb_java_parquet_spark.operators.multimodal import (
        decode_wav, encode_wav)

    good = [5, -5, 10]
    decoy = [30000, 30000]
    wav = encode_wav(44100, good)
    # append a second data chunk (the decoy) and a second fmt claiming a
    # different rate — both must be ignored
    extra_fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    payload = b"".join(struct.pack("<h", s) for s in decoy)
    extra_data = b"data" + struct.pack("<I", len(payload)) + payload
    doubled = wav + extra_fmt + extra_data
    doubled = doubled[:4] + struct.pack(
        "<I", len(doubled) - 8) + doubled[8:]
    m = decode_wav(doubled)
    assert m is not None
    assert m["sample_rate"] == 44100          # first fmt wins
    assert m["sum_abs"] == sum(abs(s) for s in good)  # first data wins
