"""Multimodal plumbing tests: schema, determinism, stub boundary, and
feature parity with a pure-Python recompute (FIXTURES.md-independent —
any text source works)."""

from __future__ import annotations

import pytest

from projektdataengineering_spark.catalog import load_table
from projektdataengineering_spark.operators.multimodal import (
    attach_png_payload,
    decode_media,
    extract_features,
)


def _png_fixture_features(text: str, width: int = 32) -> tuple[float, int]:
    """(mean, 16-bin histogram argmax, ties to the smaller bin) of the
    pixels attach_png_payload renders: the text's UTF-8 bytes
    zero-padded to a multiple of ``width``."""
    raw = text.encode("utf-8") or b"\x00"
    n_pix = -(-len(raw) // width) * width
    hist = [0] * 16
    hist[0] = n_pix - len(raw)
    for b in raw:
        hist[b >> 4] += 1
    return sum(raw) / n_pix, max(range(16), key=lambda i: (hist[i], -i))


def test_feature_schema_and_values(spark, sf_dir):
    import hashlib

    docs = load_table(spark, sf_dir, "documents").limit(20)
    src = attach_png_payload(docs)
    out = extract_features(src)
    assert out.columns == [
        "doc_id", "modality", "n_bytes", "checksum", "feat_mean", "feat_argmax",
    ]
    rows = {r["doc_id"]: r for r in out.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in src.collect()}
    assert rows.keys() == texts.keys()
    for doc_id, text in texts.items():
        mean, argmax = _png_fixture_features(text)
        r = rows[doc_id]
        assert r["modality"] == "image/png"
        assert r["n_bytes"] == len(payloads[doc_id])
        assert r["checksum"] == hashlib.sha256(payloads[doc_id]).hexdigest()
        assert r["feat_mean"] == pytest.approx(mean)
        assert r["feat_argmax"] == argmax


def test_rerun_is_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    a = sorted(map(tuple, extract_features(attach_png_payload(docs)).collect()))
    b = sorted(map(tuple, extract_features(attach_png_payload(docs)).collect()))
    assert a == b


def test_compressed_video_is_explicit_stub():
    """PNG/WAV/uncompressed-AVI decode are real; COMPRESSED video
    (no pure-Python codec possible) is the documented
    NotImplementedError boundary."""
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x00\x00\x18ftypmp42", "video/mp4")


def test_avi_codec_roundtrip():
    """Uncompressed-AVI encode→decode is bit-exact for RGB frames, and
    a compressed stream header raises instead of mis-decoding."""
    import struct

    import numpy as np

    from projektdataengineering_spark.operators.codecs import (
        avi_decode,
        avi_encode,
    )

    rng = np.random.default_rng(11)
    for shape in [(3, 8, 8, 3), (2, 5, 7, 3), (1, 1, 1, 3)]:
        frames = rng.integers(0, 256, size=shape, dtype=np.uint8)
        blob = avi_encode(frames, fps=12)
        dec, fps = avi_decode(blob)
        assert np.array_equal(dec, frames), shape
        assert fps == 12
    bad = bytearray(avi_encode(frames, fps=12))
    struct.pack_into("<I", bad, bad.find(b"strf") + 8 + 16, 1)  # biCompression=1
    with pytest.raises(NotImplementedError):
        avi_decode(bytes(bad))


def test_real_video_pipeline_decodes_and_samples(spark, sf_dir):
    """End-to-end real video path: attach_avi_payload packs the text
    into an actual AVI; extract_features must see the text
    bytes as pixel values, and sample_frames must emit
    PNG-decodable frames whose pixels round-trip the AVI frames."""
    import numpy as np

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.codecs import png_decode
    from projektdataengineering_spark.operators.multimodal import (
        attach_avi_payload,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").limit(8)
    src = attach_avi_payload(docs, width=16, n_frames=4)

    feats = extract_features(src)
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in feats.collect():
        raw = texts[r["doc_id"]].encode("utf-8") or b"\x00"
        buf = np.zeros(4 * 16 * 16 * 3, dtype=np.uint8)
        buf[: min(len(raw), buf.size)] = np.frombuffer(raw[: buf.size], np.uint8)
        assert abs(r["feat_mean"] - float(buf.mean())) < 1e-9

    out = sample_frames(src, n_frames=2)
    rows = out.collect()
    assert {r["frame_idx"] for r in rows} == {0, 1}
    one = next(r for r in rows if r["frame_idx"] == 0)
    img = png_decode(bytes(one["payload"]))  # sampled frames are real PNGs
    assert img.shape == (16, 16, 3)
    assert one["modality"] == "image/png"


def test_sample_frames_fused_features_match(spark, sf_dir):
    """The r19 fused frame featurizer (sample_frames features=True)
    must be BIT-identical to the two-pass composition it replaced:
    extract_features re-decoding the emitted frame PNGs.
    Mixed codec so both the lossless DIB path and the lossy MJPG path
    are covered (the fusion must not change either — PNG roundtrip is
    lossless, so featurizing pre-encode pixels equals featurizing the
    decoded PNG)."""
    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.multimodal import (
        attach_avi_payload,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").limit(10)
    src = attach_avi_payload(docs, width=16, n_frames=4, codec="mixed")

    fused = {
        (r["doc_id"], r["frame_idx"]): (r["feat_mean"], r["feat_argmax"])
        for r in sample_frames(src, n_frames=2, features=True)
        .select("doc_id", "frame_idx", "feat_mean", "feat_argmax")
        .collect()
    }
    frames = sample_frames(src, n_frames=2)
    recomposed = {
        (r["doc_id"] // 10, r["doc_id"] % 10): (r["feat_mean"], r["feat_argmax"])
        for r in extract_features(
            frames.selectExpr(
                "doc_id * 10 + frame_idx AS doc_id",
                "modality", "payload", "n_bytes", "checksum",
            ),
        ).collect()
    }
    assert fused == recomposed and len(fused) == 20


def test_png_codec_roundtrip_all_filters():
    """Vendored PNG codec: encode→decode is identity for grey/RGB/RGBA,
    and the decoder reconstructs scanlines under EVERY filter type
    (a hand-built PNG applies filters 0-4 on successive rows)."""
    import struct
    import zlib

    import numpy as np

    from projektdataengineering_spark.operators.codecs import (
        _paeth,
        png_decode,
        png_encode,
    )

    rng = np.random.RandomState(7)
    for shape in [(5, 7), (8, 3, 3), (4, 4, 4)]:
        a = rng.randint(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(png_decode(png_encode(a)), a), shape

    arr = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
    h, w, c = arr.shape
    prior = np.zeros(w * c, np.int32)
    lines = []
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        cur = arr[y].reshape(-1).astype(np.int32)
        a_ = np.concatenate([np.zeros(c, np.int32), cur[:-c]])
        c_ = np.concatenate([np.zeros(c, np.int32), prior[:-c]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = (cur - a_) & 0xFF
        elif ft == 2:
            enc = (cur - prior) & 0xFF
        elif ft == 3:
            enc = (cur - ((a_ + prior) >> 1)) & 0xFF
        else:
            enc = np.array(
                [
                    (cur[x] - _paeth(int(a_[x]), int(prior[x]), int(c_[x]))) & 0xFF
                    for x in range(len(cur))
                ]
            )
        lines.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prior = cur

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(data), arr)


def test_wav_codec_roundtrip():
    import numpy as np

    from projektdataengineering_spark.operators.codecs import wav_decode, wav_encode

    rng = np.random.RandomState(11)
    mono = rng.randint(-32768, 32767, size=100).astype(np.int16)
    dec, rate = wav_decode(wav_encode(mono, 8000))
    assert rate == 8000 and np.array_equal(dec, mono)
    stereo = rng.randint(-1000, 1000, size=(50, 2)).astype(np.int16)
    dec2, _ = wav_decode(wav_encode(stereo))
    assert np.array_equal(dec2, stereo)


def test_real_png_pipeline_decodes_to_text_bytes(spark, sf_dir):
    """End-to-end real path: attach_png_payload renders the text as an
    actual PNG; extract_features decodes it and must see
    EXACTLY the document's UTF-8 bytes (plus zero padding) as pixels —
    proving the feature ran on decoded output, not container bytes."""
    import numpy as np

    from projektdataengineering_spark.operators.codecs import png_decode
    from projektdataengineering_spark.operators.multimodal import (
        _decoded_features,
        attach_png_payload,
        extract_features,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    src = attach_png_payload(docs)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in src.collect():
        img = png_decode(bytes(r["payload"]))
        raw = texts[r["doc_id"]].encode("utf-8") or b"\x00"
        flat = img.reshape(-1)
        assert bytes(flat[: len(raw)]) == raw
        assert not flat[len(raw):].any()  # zero-padded tail

    out = extract_features(src)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows.keys() == texts.keys()
    some = next(iter(rows))
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in src.collect()}
    mean, argmax = _decoded_features(payloads[some], "image/png")
    assert rows[some]["feat_mean"] == pytest.approx(mean)
    assert rows[some]["feat_argmax"] == argmax


def test_binary_dir_ingest_feeds_feature_extraction(spark, tmp_path):
    """read_binary_dir (the REAL binaryFile ingest seam) must produce
    the payload+metadata shape extract_features consumes, with sha256
    checksums and modality mapping matching a pure-Python recompute;
    the featurizer decodes the ingested PNG and WAV, and refuses a
    modality it has no decoder for."""
    import hashlib

    import numpy as np
    from pyspark.sql import functions as F

    from projektdataengineering_spark.operators.codecs import png_encode, wav_encode
    from projektdataengineering_spark.sources import read_binary_dir

    pixels = np.arange(48, dtype=np.uint8).reshape(6, 8) * 5
    samples = np.array([0, 1000, -2000, 32767, -32768, 7], dtype=np.int16)
    blobs = {
        "a.png": png_encode(pixels),
        "b.wav": wav_encode(samples, rate=8000),
        "c.weird": b"unknown extension bytes",
    }
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)

    df = read_binary_dir(spark, str(tmp_path))
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(blobs)
    for name, data in blobs.items():
        r = rows[name]
        assert bytes(r["payload"]) == data
        assert r["n_bytes"] == len(data)
        assert r["checksum"] == hashlib.sha256(data).hexdigest()
    assert rows["a.png"]["modality"] == "image/png"
    assert rows["b.wav"]["modality"] == "audio/wav"
    assert rows["c.weird"]["modality"] == "application/octet-stream"

    # the downstream featurizer runs unchanged on the ingested frame
    # (it keys on doc_id + payload/modality/n_bytes/checksum)
    ingested = df.select(
        F.element_at(F.split("path", "/"), -1).alias("name"),
        F.xxhash64("path").alias("doc_id"),
        "payload",
        "modality",
        "n_bytes",
        "checksum",
    )
    names = {r["doc_id"]: r["name"] for r in ingested.collect()}
    feats = {
        names[r["doc_id"]]: (r["feat_mean"], r["feat_argmax"])
        for r in extract_features(ingested.filter("name != 'c.weird'").drop("name")).collect()
    }
    amp = np.minimum(np.abs(samples.astype(np.int64)), 32767) * 255 // 32767
    assert feats == {
        "a.png": (pytest.approx(float(pixels.mean())), int(np.argmax(np.bincount(pixels.reshape(-1) >> 4)))),
        "b.wav": (pytest.approx(float(amp.mean())), int(np.argmax(np.bincount(amp >> 4)))),
    }
    with pytest.raises(Exception, match="no decoder"):
        extract_features(ingested.filter("name = 'c.weird'").drop("name")).collect()

    # metadata-only projection must NOT read the content column
    meta_plan = (
        read_binary_dir(spark, str(tmp_path))
        .select("path", "n_bytes")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "content" not in meta_plan


def test_sample_frames_expansion(spark, sf_dir):
    """sample_frames: 1→N expansion with per-frame metadata; frame k is
    the source frame at the uniform stride, re-encoded as a PNG."""
    import hashlib

    import numpy as np

    from projektdataengineering_spark.operators.codecs import avi_decode, png_decode
    from projektdataengineering_spark.operators.multimodal import (
        attach_avi_payload,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").limit(10)
    src = attach_avi_payload(docs, width=16, n_frames=4)
    out = sample_frames(src, 3).collect()
    assert len(out) == 30
    originals = {r["doc_id"]: bytes(r["payload"]) for r in src.collect()}
    by_doc: dict = {}
    for r in out:
        fr = bytes(r["payload"])
        assert r["modality"] == "image/png"
        assert r["n_bytes"] == len(fr)
        assert r["checksum"] == hashlib.sha256(fr).hexdigest()
        by_doc.setdefault(r["doc_id"], {})[r["frame_idx"]] = fr
    assert by_doc.keys() == originals.keys()
    for doc_id, frames in by_doc.items():
        assert sorted(frames) == [0, 1, 2]
        source, _ = avi_decode(originals[doc_id])
        for k in range(3):
            assert np.array_equal(png_decode(frames[k]), source[(k * 4) // 3])


def test_audio_features_match_python_recompute(spark, sf_dir):
    """The distributed WAV encode→decode→featurize loop must equal a
    pure-python recompute of the same deterministic waveform."""
    import numpy as np
    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.queries.multimodal import (
        multimodal_audio_features)

    docs = {r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()}
    got = {r["doc_id"]: r for r in multimodal_audio_features(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    for doc_id in list(docs)[:20]:
        raw = docs[doc_id].encode("utf-8") or b"\x00"
        buf = np.zeros(1600, dtype=np.int16)
        take = min(len(raw), 1600)
        buf[:take] = (np.frombuffer(raw[:take], dtype=np.uint8)
                      .astype(np.int16) * 128 - 16384)
        s = buf.astype(np.int64)
        r = got[doc_id]
        assert r["peak"] == int(np.abs(s).max())
        assert r["energy"] == int((s * s).sum())
        assert r["zero_crossings"] == int(np.count_nonzero(np.diff(np.signbit(s))))
        assert r["n_samples"] == 1600 and r["sample_rate"] == 16000


def test_jpeg_codec_roundtrip():
    """Pure-Python baseline JPEG (ITU T.81, operators/jpeg.py):
    encode→decode must reconstruct within quantization error across
    4:4:4/4:2:0, quality levels, non-block-aligned dims and greyscale;
    the bitstream must be deterministic."""
    import numpy as np

    from projektdataengineering_spark.operators.jpeg import jpeg_decode, jpeg_encode

    h, w = 37, 53  # deliberately not multiples of 8/16 (padding paths)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 / w, yy * 255 / h, (xx + yy) * 255 / (h + w)], axis=-1
    ).astype(np.uint8)

    for subsample, q, tol in [
        (False, 95, 4), (False, 85, 6), (True, 95, 12), (True, 60, 24),
    ]:
        enc = jpeg_encode(img, quality=q, subsample=subsample)
        dec = jpeg_decode(enc)
        assert dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int))
        assert err.max() <= tol, (subsample, q, err.max())
    # greyscale single-component path
    g = (xx * 255 / w).astype(np.uint8)
    dec_g = jpeg_decode(jpeg_encode(g, quality=90))
    assert dec_g.shape == g.shape
    assert np.abs(dec_g.astype(int) - g.astype(int)).max() <= 3
    # pure function of (pixels, quality)
    assert jpeg_encode(img, 85) == jpeg_encode(img, 85)


def test_jpeg_fast_entropy_decode_matches_scalar_reference():
    """The 16-bit-peek LUT entropy decoder (default) must be
    bit-identical to the bit-at-a-time T.81 reference path across
    subsampling, quality, greyscale and restart-free streams."""
    import numpy as np

    from projektdataengineering_spark.operators.jpeg import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(11)
    h, w = 41, 59
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([(yy * 5) % 256, (xx * 3) % 256, (xx + yy) % 256], axis=-1)
    img = np.clip(img + rng.integers(-25, 25, img.shape), 0, 255).astype(np.uint8)
    for subsample in (True, False):
        for q in (55, 85, 95):
            enc = jpeg_encode(img, quality=q, subsample=subsample)
            assert np.array_equal(jpeg_decode(enc), jpeg_decode(enc, scalar=True))
    g = img[:, :, 0]
    enc_g = jpeg_encode(g, quality=90)
    assert np.array_equal(jpeg_decode(enc_g), jpeg_decode(enc_g, scalar=True))


def test_jpeg_missing_dht_falls_back_to_k3_tables():
    """OpenDML MJPG convention: frames that omit DHT decode with the
    T.81 Annex K.3 typical tables — a stream entropy-coded with the
    standard tables must decode identically with and without its DHT
    segments, on both entropy paths."""
    import numpy as np

    from projektdataengineering_spark.operators.jpeg import jpeg_decode, jpeg_encode

    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 / w, yy * 255 / h, (xx * yy) % 256], axis=-1
    ).astype(np.uint8)
    full = jpeg_encode(img, quality=80, standard_tables=True)
    nodht = jpeg_encode(img, quality=80, standard_tables=True, emit_dht=False)
    assert b"\xff\xc4" in full and b"\xff\xc4" not in nodht
    ref = jpeg_decode(full)
    assert np.array_equal(ref, jpeg_decode(nodht))
    assert np.array_equal(ref, jpeg_decode(nodht, scalar=True))
    # same coefficients regardless of which valid Huffman tables coded them
    assert np.array_equal(ref, jpeg_decode(jpeg_encode(img, quality=80)))
    # greyscale single-component MJPG framing
    g = img[:, :, 1]
    assert np.array_equal(
        jpeg_decode(jpeg_encode(g, 90, standard_tables=True, emit_dht=False)),
        jpeg_decode(jpeg_encode(g, 90)),
    )
    # a tableless custom-coded stream is undecodable by construction
    import pytest

    with pytest.raises(ValueError, match="standard_tables"):
        jpeg_encode(img, emit_dht=False)


def test_mjpeg_avi_roundtrip():
    """MJPEG-in-AVI: every frame an independently-decodable baseline
    JPEG in a '00dc' chunk with biCompression='MJPG'. Decode must
    recover shape/fps exactly and pixels within JPEG tolerance, for
    both smooth and noisy frames; inter-frame codecs still raise."""
    import struct

    import numpy as np

    from projektdataengineering_spark.operators.codecs import (
        MJPG_FOURCC,
        avi_decode,
        avi_encode,
    )

    rng = np.random.default_rng(23)
    yy, xx = np.mgrid[0:24, 0:32]
    smooth = np.stack(
        [
            np.stack(
                [
                    np.clip(xx * 6 + t * 20, 0, 255),
                    np.clip(yy * 8 + t * 10, 0, 255),
                    np.clip(xx * 3 + yy * 3, 0, 255),
                ],
                axis=-1,
            )
            for t in range(3)
        ]
    ).astype(np.uint8)
    blob = avi_encode(smooth, fps=12, codec="MJPG", quality=92)
    assert struct.pack("<I", MJPG_FOURCC) == b"MJPG"
    dec, fps = avi_decode(blob)
    assert fps == 12 and dec.shape == smooth.shape
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 20

    noisy = rng.integers(0, 256, size=(2, 16, 16, 3), dtype=np.uint8)
    dec2, _ = avi_decode(avi_encode(noisy, fps=10, codec="MJPG", quality=95))
    assert dec2.shape == noisy.shape  # lossy but structurally exact

    # MJPEG is considerably smaller than DIB on smooth frames — the
    # point of the compressed leg
    assert len(blob) < len(avi_encode(smooth, fps=12, codec="DIB"))

    bad = bytearray(avi_encode(noisy, fps=10))
    struct.pack_into("<I", bad, bad.find(b"strf") + 8 + 16, 0x34363248)  # 'H264'
    with pytest.raises(NotImplementedError):
        avi_decode(bytes(bad))


def test_mixed_codec_video_pipeline(spark, sf_dir):
    """The registered video query's fixture shape: attach_avi_payload
    codec='mixed' packs even doc_ids as BI_RGB and odd as MJPG; the
    frame sampler must decode BOTH container flavors in one pass and
    the per-doc output stays 2 frames regardless of codec."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.catalog import load_table
    from projektdataengineering_spark.operators.codecs import avi_decode
    from projektdataengineering_spark.operators.multimodal import (
        attach_avi_payload,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 6)
    clips = attach_avi_payload(docs, width=16, n_frames=4, codec="mixed")
    rows = {r["doc_id"]: r for r in clips.collect()}
    assert set(rows) == set(range(6))
    for doc_id, r in rows.items():
        frames, _ = avi_decode(bytes(r["payload"]))
        assert frames.shape == (4, 16, 16, 3)
        # odd ids carry MJPG ('00dc' chunks), even ids DIB ('00db')
        tag = b"00dc" if doc_id % 2 else b"00db"
        assert tag in bytes(r["payload"]), doc_id

    sampled = sample_frames(clips, n_frames=2).collect()
    per_doc = {}
    for r in sampled:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1] for v in per_doc.values()), per_doc


def test_video_certification_margin(spark, sf_dir):
    """The graduated video query's certification boolean must be a
    THEOREM, not a measurement near its boundary: every row TRUE and
    the DIB legs' exact columns populated (MJPG's NULL by contract).
    The margin itself is enforced at the bound's definition — measured
    max MJPG frame-mean error 2.23 at sf0.1 vs certified bound 16.0,
    ~7× headroom (see _VID_MJPG_MEAN_BOUND's derivation comment)."""
    from projektdataengineering_spark.queries import load_registry

    out = load_registry()["multimodal_video_frames"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows and all(r["mean_err_ok"] for r in rows)
    for r in rows:
        if r["codec"] == "DIB":
            assert r["feat_mean_exact"] is not None
            assert r["feat_argmax_exact"] is not None
        else:
            assert r["codec"] == "MJPG"
            assert r["feat_mean_exact"] is None
            assert r["feat_argmax_exact"] is None


def test_perceptual_hashes_match_pure_python_reference(spark, sf_dir):
    """image_perceptual_hashes (the mapInPandas operator behind
    multimodal_image_phash) must equal an independent pure-Python
    recompute of dHash/aHash from the SOURCE bytes — same raster
    construction as attach_png_payload, no codec involved — proving
    the decode+hash path end-to-end."""
    from projektdataengineering_spark.operators.multimodal import (
        attach_png_payload,
        image_perceptual_hashes,
    )

    docs = load_table(spark, sf_dir, "documents").limit(25)
    rows = {
        r["doc_id"]: r
        for r in image_perceptual_hashes(attach_png_payload(docs)).collect()
    }
    for src in docs.select("doc_id", "text").collect():
        raw = (src["text"] or "").encode("utf-8") or b"\x00"
        h = (len(raw) + 31) // 32
        pix = lambda row, col: (
            raw[row * 32 + col] if row * 32 + col < len(raw) else 0
        )
        dbits = 0
        for r in range(8):
            row = ((2 * r + 1) * h) // 16
            for c in range(8):
                a = pix(row, ((2 * c + 1) * 32) // 18)
                b = pix(row, ((2 * (c + 1) + 1) * 32) // 18)
                if a > b:
                    dbits |= 1 << (63 - (r * 8 + c))
        total = sum(pix(rr, cc) for rr in range(h) for cc in range(32))
        abits = 0
        for r in range(8):
            row = ((2 * r + 1) * h) // 16
            for c in range(8):
                if pix(row, ((2 * c + 1) * 32) // 16) * (h * 32) > total:
                    abits |= 1 << (63 - (r * 8 + c))
        got = rows[src["doc_id"]]
        assert got["n_rows"] == h
        assert got["dhash"] == f"{dbits:016x}"
        assert got["ahash"] == f"{abits:016x}"


def test_phash_identical_docs_collide_different_docs_mostly_dont(spark):
    """Exact-duplicate texts must produce Hamming-0 hashes; unrelated
    texts should not collide at the <=3 near-dup radius (sanity that
    the hash carries signal, not a formal property)."""
    from projektdataengineering_spark.operators.multimodal import (
        attach_png_payload,
        image_perceptual_hashes,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "the quick brown fox jumps over the lazy dog " * 4),
        (3, "entirely different content about spark shuffles " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in image_perceptual_hashes(attach_png_payload(df)).collect()}
    assert out[1]["dhash"] == out[2]["dhash"]
    assert out[1]["ahash"] == out[2]["ahash"]
    ham = sum(
        bin(int(a, 16) ^ int(b, 16)).count("1")
        for a, b in [(out[1]["dhash"], out[3]["dhash"])]
    )
    assert ham > 3
