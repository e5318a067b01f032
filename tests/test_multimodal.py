"""Multimodal codec layer: the stdlib PNG encoder/decoder pair
(real bytes, all five scanline filters, CRC-verified) and the
image_stats Arrow kernel over generated PNG blobs."""

from __future__ import annotations

import numpy as np
import pytest

from graphragdatapipeline_spark.multimodal.blob import (
    decode_media,
    decode_png,
    encode_png,
)


def test_png_roundtrip_all_shapes_and_filters():
    rng = np.random.default_rng(7)
    # ≥5 rows exercises every filter type (encoder cycles y % 5)
    for shape in [(8, 6, 3), (11, 13, 3), (1, 1, 1), (5, 2, 4), (7, 9)]:
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(arr))
        ref = arr if arr.ndim == 3 else arr[:, :, None]
        assert out.shape == ref.shape
        assert (out == ref).all(), shape


def test_png_structure_and_gates():
    arr = np.zeros((6, 4, 3), np.uint8)
    png = encode_png(arr)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    # corrupted CRC must be detected, not silently decoded
    bad = bytearray(png)
    bad[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    # unsupported features are honestly gated
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)  # palette
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    with pytest.raises(NotImplementedError):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_decode_media_dispatches_png():
    arr = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    out = decode_media(encode_png(arr), "image/png")
    assert (out == arr).all()
    assert decode_media(b"hi", "text/plain") == "hi"
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "video/mp4")
    # video/avi dispatches to the real demuxer too
    from graphragdatapipeline_spark.multimodal.blob import encode_avi

    frames = [arr, arr[::-1]]
    fps, got = decode_media(encode_avi(frames, fps=5), "video/avi")
    assert fps == 5 and len(got) == 2
    assert all((a == b).all() for a, b in zip(frames, got))


def test_image_stats_kernel_over_generated_blobs(spark, sf_dir):
    """End-to-end: documents → real PNG blobs → decode → exact stats
    matching the closed-form pixel rule (k + x + 7y + 13c) % 256."""
    from pyspark.sql import functions as F

    from graphragdatapipeline_spark.io import read_table
    from graphragdatapipeline_spark.multimodal.blob import (
        image_stats,
        png_blob_table,
    )

    d = read_table(spark, sf_dir, "documents").limit(40)
    stats = image_stats(png_blob_table(d)).collect()
    assert len(stats) == 40
    for r in stats:
        k = int(r.blob_id.removeprefix("doc-"))
        w, h = 4 + k % 13, 3 + k % 11
        assert (r.width, r.height, r.channels) == (w, h, 3)
        expected = sum(
            (k + x + 7 * y + 13 * c) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        assert r.pixel_sum == expected, r


def test_wav_roundtrip_and_gates():
    import numpy as np
    import pytest

    from graphragdatapipeline_spark.multimodal.blob import (
        decode_media,
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(3)
    samples = rng.integers(-32768, 32768, size=777, dtype=np.int16)
    wav = encode_wav(samples, sample_rate=16000)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    rate, out = decode_wav(wav)
    assert rate == 16000 and (out == samples).all()
    rate2, out2 = decode_media(wav, "audio/wav")[0], decode_media(wav, "audio/wav")[1]
    assert rate2 == 16000 and (out2 == samples).all()
    # stereo gate: honest NotImplementedError, not silent garbage
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00")
    with pytest.raises(NotImplementedError):
        decode_wav(buf.getvalue())


def test_resize_png_half_pixels():
    import numpy as np

    from graphragdatapipeline_spark.multimodal.blob import (
        decode_png,
        encode_png,
        resize_png_half,
    )

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(7, 9, 3), dtype=np.uint8)
    out = decode_png(resize_png_half(encode_png(arr)))
    assert out.shape == (4, 5, 3)  # ceil-halved
    assert (out == arr[::2, ::2, :]).all()


def test_avi_codec_roundtrip_bit_exact():
    """encode_avi → decode_avi recovers every frame bit-for-bit,
    including odd widths (4-byte row stride padding) and 1×1 frames;
    fps survives via strh dwRate/dwScale."""
    import numpy as np

    from graphragdatapipeline_spark.multimodal.blob import decode_avi, encode_avi

    rng = np.random.default_rng(11)
    for shape, n, fps in (((5, 7, 3), 4, 12), ((3, 5, 3), 1, 1), ((1, 1, 3), 2, 30)):
        frames = [rng.integers(0, 256, shape, dtype=np.uint8) for _ in range(n)]
        got_fps, got = decode_avi(encode_avi(frames, fps=fps))
        assert got_fps == fps
        assert len(got) == n
        assert all(np.array_equal(a, b) for a, b in zip(frames, got))


def test_avi_codec_honest_gates():
    """Non-AVI bytes and unsupported pixel formats fail loudly, same
    policy as the PNG/WAV codecs."""
    import struct

    import numpy as np
    import pytest

    from graphragdatapipeline_spark.multimodal.blob import decode_avi, encode_avi

    with pytest.raises(ValueError, match="RIFF/AVI"):
        decode_avi(b"not an avi at all")
    with pytest.raises(ValueError, match="at least one frame"):
        encode_avi([], fps=10)
    # corrupt the strf bit depth to 8bpp → honest NotImplementedError
    payload = bytearray(encode_avi([np.zeros((2, 2, 3), np.uint8)], fps=10))
    i = payload.index(b"strf")
    # biBitCount lives at strf body offset 14
    struct.pack_into("<H", payload, i + 8 + 14, 8)
    with pytest.raises(NotImplementedError, match="24-bit"):
        decode_avi(bytes(payload))


def test_video_frame_stats_matches_closed_form(spark):
    """The distributed kernel (avi_blob_table → video_frame_stats)
    reproduces the closed-form pixel sums for every frame."""
    from graphragdatapipeline_spark.multimodal.blob import (
        avi_blob_table,
        video_frame_stats,
    )

    docs = spark.createDataFrame([(k,) for k in range(12)], "doc_id LONG")
    rows = video_frame_stats(avi_blob_table(docs)).collect()
    by_key = {(r.blob_id, r.frame_idx): r for r in rows}
    for k in range(12):
        nf, w, h = 2 + k % 4, 4 + k % 5, 2 + k % 3
        for f in range(nf):
            expect = sum(
                (11 * k + 17 * f + 7 * y + 3 * x + 5 * c) % 256
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
            r = by_key[(f"doc-{k}", f)]
            assert (r.width, r.height, r.fps, r.pixel_sum) == (w, h, 10, expect)
    assert len(rows) == sum(2 + k % 4 for k in range(12))


def test_resize_media_byte_clip_contract(spark):
    """resize_media (the PIL/ffmpeg plug-point, retired from the query
    registry in round 9 in favor of the composed graphrag_end_to_end
    entry) keeps its byte-clip contract: orig/resized byte counts,
    md5 of the clipped payload, and the payload itself clipped — for
    payloads below, at, and above target_bytes."""
    import hashlib

    from graphragdatapipeline_spark.multimodal.blob import (
        blob_table_from_documents,
        resize_media,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 10), (2, "y" * 256), (3, "z" * 999)],
        "doc_id LONG, text STRING",
    )
    rows = {r.blob_id: r for r in resize_media(
        blob_table_from_documents(docs), target_bytes=256).collect()}
    assert len(rows) == 3
    for doc_id, text in [(1, "x" * 10), (2, "y" * 256), (3, "z" * 999)]:
        r = rows[f"doc-{doc_id}"]
        clipped = text.encode()[:256]
        assert r.orig_bytes == len(text)
        assert r.resized_bytes == len(clipped)
        assert r.resized_hash == hashlib.md5(clipped).hexdigest()
        assert bytes(r.payload) == clipped


def test_blob_features_and_waveform_kernels(spark):
    """Dedicated coverage for the two stub-codec mapInPandas kernels
    whose registry profile (multimodal_features) was retired in r10:
    blob round-trip fidelity (byte count + content hash) and
    waveform stats (payload bytes as 8-bit samples → mean/RMS with
    integer-exact sums), both hand-computed."""
    import hashlib
    import math

    from graphragdatapipeline_spark.multimodal.blob import (
        blob_features,
        blob_table_from_documents,
        waveform_stats,
    )

    # doc 4 is non-ASCII (bytes ≠ characters); doc 5 is an empty payload
    texts = {1: "abc", 2: "Hello, world!", 3: "x", 4: "héllo ✓ 日本", 5: ""}
    docs = spark.createDataFrame(list(texts.items()), "doc_id LONG, text STRING")
    blobs = blob_table_from_documents(docs)

    feats = {r.blob_id: r for r in blob_features(blobs, feature_dim=4).collect()}
    for i, t in texts.items():
        r = feats[f"doc-{i}"]
        assert r.n_bytes == len(t.encode())
        assert r.content_hash == hashlib.md5(t.encode()).hexdigest()
        assert len(r.features) == 4

    wave = {r.blob_id: r for r in waveform_stats(blobs).collect()}
    empty = wave.pop("doc-5")
    # an empty payload has no amplitude: NULL, not NaN
    assert (empty.n_samples, empty.mean_amp, empty.rms_amp) == (0, None, None)
    for i, t in texts.items():
        if not t:
            continue
        bs = t.encode()
        r = wave[f"doc-{i}"]
        assert r.n_samples == len(bs)
        assert abs(r.mean_amp - sum(bs) / len(bs)) < 1e-9
        assert abs(r.rms_amp - math.sqrt(sum(b * b for b in bs) / len(bs))) < 1e-9
