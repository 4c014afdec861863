"""Multimodal (image/audio/video) column plumbing.

Design: media travel as opaque ``binary`` columns with typed metadata
(modality, byte length, checksum); decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so each Python worker touches one columnar
batch at a time — the only sane pattern for multi-MB blobs (row UDFs
would pickle each blob individually).

The codec step is REAL for all three modalities: ``decode_media``
dispatches to the vendored pure-Python PNG/WAV/uncompressed-AVI codecs
(operators/codecs.py — stdlib zlib/struct/wave, implemented from the
public specs), so ``extract_features`` computes features from
actually-decoded pixels/samples/frames and ``sample_frames`` strides
real decoded video frames. COMPRESSED video (H.26x/VP9) stays a
documented NotImplementedError — those genuinely need native codec
libraries this container lacks (production: pyav keyframe striding
behind the same dispatch). A payload of a modality without a decoder
fails its batch.

Scale notes: blobs dominate partition size — repartition so
``rows_per_partition × avg_blob`` stays ≪ executor memory, and always
project metadata-only when a stage doesn't need bytes (the schema keeps
metadata in separate columns precisely so column pruning drops the blob).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "doc_id long, modality string, n_bytes long, "
    "checksum string, feat_mean double, feat_argmax int"
)


def attach_png_payload(df: DataFrame, text_col: str = "text", width: int = 32) -> DataFrame:
    """Fixture adapter producing REAL PNGs: each document's UTF-8 bytes
    are rendered deterministically as a ``width``-pixel-wide greyscale
    image (rows of bytes, zero-padded tail) and PNG-encoded with the
    vendored codec. Downstream decode therefore exercises the full real
    path — signature check, zlib inflate, filter reconstruction — on
    bytes that exist only as a valid image container.

    Runs inside mapInPandas (one Arrow batch per step), keeping the
    same constant-memory worker profile as the decode direction."""
    import hashlib

    import numpy as np

    from .codecs import png_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8") or b"\x00"
                h = (len(raw) + width - 1) // width
                arr = np.zeros(h * width, dtype=np.uint8)
                arr[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
                payloads.append(png_encode(arr.reshape(h, width)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "modality": "image/png",
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
                }
            )

    schema = "doc_id long, payload binary, modality string, n_bytes long, checksum string"
    return df.select("doc_id", text_col).mapInPandas(run, schema=schema)


def attach_avi_payload(
    df: DataFrame,
    text_col: str = "text",
    width: int = 16,
    n_frames: int = 4,
    codec: str = "DIB",
) -> DataFrame:
    """Fixture adapter producing REAL videos: each document's UTF-8
    bytes are chunked into ``n_frames`` RGB frames (width×width pixels,
    zero-padded) and packed into an AVI with the vendored codec —
    downstream decode exercises the full RIFF walk, header parse and
    frame decode on a valid video container. ``codec="MJPG"`` packs
    each frame as a baseline JPEG (operators/jpeg.py) — the
    compressed-video layout; ``codec="mixed"`` alternates DIB/MJPG by
    doc_id parity so one DataFrame exercises both decode paths."""
    import hashlib

    import numpy as np

    from .codecs import avi_encode

    frame_px = width * width * 3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                raw = (text or "").encode("utf-8") or b"\x00"
                buf = np.zeros(n_frames * frame_px, dtype=np.uint8)
                buf[: min(len(raw), buf.size)] = np.frombuffer(
                    raw[: buf.size], dtype=np.uint8
                )
                c = codec
                if c == "mixed":
                    c = "MJPG" if int(doc_id) % 2 else "DIB"
                payloads.append(
                    avi_encode(buf.reshape(n_frames, width, width, 3), codec=c)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "modality": "video/avi",
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
                }
            )

    schema = "doc_id long, payload binary, modality string, n_bytes long, checksum string"
    return df.select("doc_id", text_col).mapInPandas(run, schema=schema)


def decode_media(payload: bytes, modality: str):
    """Decode a media blob by modality.

    * ``image/png`` → uint8 pixel array (h, w[, channels]) via the
      vendored pure-Python PNG decoder (codecs.png_decode);
    * ``audio/wav`` → int16 sample array via stdlib ``wave``
      (codecs.wav_decode);
    * ``video/avi`` → uint8 frame array (n, h, w, 3) via the vendored
      AVI decoder (codecs.avi_decode) — BI_RGB and Motion-JPEG
      streams both decode (MJPG frames through the pure-Python
      baseline JPEG codec, operators/jpeg.py); inter-frame codecs
      raise NotImplementedError there;
    * any other modality → NotImplementedError: inter-frame video
      (H.26x/VP9) needs native libraries this container lacks.
      Production: pyav keyframe striding behind this same dispatch.
    """
    from .codecs import avi_decode, png_decode, wav_decode

    if modality == "image/png":
        return png_decode(payload)
    if modality == "audio/wav":
        return wav_decode(payload)[0]
    if modality == "video/avi":
        return avi_decode(payload)[0]
    raise NotImplementedError(
        f"no decoder for modality {modality!r} in this container "
        "(PNG, WAV, BI_RGB/MJPG AVI decode are real; inter-frame "
        "video codecs need native libraries)"
    )


def _intensity_features(vals) -> tuple[float, int]:
    """(mean, 16-bin histogram argmax) over an array of 0..255
    intensities — the one featurizer body shared by the decode path
    (_decoded_features) and the fused frame path (sample_frames with
    features=True), so the two can never drift arithmetically."""
    import numpy as np

    if vals.size == 0:
        return 0.0, 0
    vals = vals.reshape(-1).astype(np.int64)
    hist = np.bincount(vals >> 4, minlength=16)[:16]
    # np.argmax breaks ties toward the smaller bin
    argmax = int(np.argmax(hist))
    return float(vals.mean()), argmax


def _decoded_features(payload: bytes, modality: str) -> tuple[float, int]:
    """REAL featurizer: decode the blob, then the same (mean, 16-bin
    histogram argmax) summary computed over DECODED values — pixel
    intensities for images, |sample| amplitudes rescaled to 0..255 for
    audio — so the feature provably depends on a successful decode, not
    on the container bytes."""
    import numpy as np

    decoded = decode_media(payload, modality)
    vals = np.asarray(decoded)
    if vals.size == 0:
        return 0.0, 0
    if modality == "audio/wav":  # int16 amplitude → 0..255 intensity
        vals = np.minimum(np.abs(vals.astype(np.int64)), 32767) * 255 // 32767
    return _intensity_features(vals)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas.

    Arrow streams column batches into Python; each batch yields one
    output frame — constant memory per worker regardless of table size.
    Each payload is decoded by its modality (PNG/WAV/AVI via
    operators/codecs) and the decoded values are featurized.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decoded_features(p, m)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["n_bytes"],
                    "checksum": pdf["checksum"],
                    "feat_mean": [f[0] for f in feats],
                    "feat_argmax": [f[1] for f in feats],
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id long, modality string, frame_idx int, "
    "payload binary, n_bytes long, checksum string"
)


def _sampled_frames(
    payload: bytes, modality: str, n_frames: int
) -> "list[tuple[bytes, object]]":
    """Frame sampler: decode the video, pick n_frames at a uniform
    stride (repeating the last frame when the clip is shorter), and
    re-encode each sampled frame as a standalone PNG — the decoded-video
    → image-corpus expansion, every byte passing through real codecs.
    Returns (png_bytes, decoded_frame_array) per sampled frame so a
    fused consumer can featurize the pixels while they are in memory."""
    from .codecs import png_encode

    frames = decode_media(payload, modality)  # (n, h, w, 3)
    total = len(frames)
    picked = [frames[min((k * total) // n_frames, total - 1)] for k in range(n_frames)]
    return [(png_encode(fr), fr) for fr in picked]


FRAME_FEATURES_SCHEMA = FRAME_SCHEMA + ", feat_mean double, feat_argmax int"


def sample_frames(df: DataFrame, n_frames: int, features: bool = False) -> DataFrame:
    """Video frame sampling via mapInPandas: each input blob expands to
    n_frames rows (doc_id, frame_idx, frame payload) — the 1→N
    expansion that turns a video corpus into an image corpus for
    training: AVI decode + uniform-stride sampling + per-frame PNG
    re-encode (production swaps the decode for pyav keyframe striding
    behind the same decode_media dispatch).

    ``features=True`` additionally emits
    (feat_mean, feat_argmax) computed from the DECODED frame pixels
    while they are in memory — the guide §4.2 fusion (r19): a separate
    extract_features pass would re-decode every frame PNG row-by-row in
    Python just to recompute values this kernel already held. The PNG
    encode→decode roundtrip is lossless and unit-pinned
    (tests/test_multimodal.py), and the featurizer body is the SAME
    _intensity_features the decode path runs, so the fused columns are
    bit-identical to extract_features over the emitted
    payloads — asserted by test_sample_frames_fused_features_match.

    Scale: output rows = input rows × n_frames and output bytes can
    EXCEED input bytes (decoded frames vs compressed video) — the one
    media stage where you must repartition AFTER expansion; metadata
    stays per-frame so column pruning spares the bytes downstream."""
    import hashlib

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "modality": [], "frame_idx": [],
                "payload": [], "n_bytes": [], "checksum": [],
            }
            if features:
                rows["feat_mean"] = []
                rows["feat_argmax"] = []
            for doc_id, modality, payload in zip(
                pdf["doc_id"], pdf["modality"], pdf["payload"]
            ):
                for k, (fr, arr) in enumerate(_sampled_frames(payload, modality, n_frames)):
                    rows["doc_id"].append(doc_id)
                    # sampled frames are re-encoded as PNGs — the output
                    # modality reflects the frame container
                    rows["modality"].append("image/png")
                    rows["frame_idx"].append(k)
                    rows["payload"].append(fr)
                    rows["n_bytes"].append(len(fr))
                    rows["checksum"].append(hashlib.sha256(fr).hexdigest())
                    if features:
                        mean, argmax = _intensity_features(np.asarray(arr))
                        rows["feat_mean"].append(mean)
                        rows["feat_argmax"].append(argmax)
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, schema=FRAME_FEATURES_SCHEMA if features else FRAME_SCHEMA
    )


def attach_wav_payload(
    df: DataFrame, text_col: str = "text", rate: int = 16000, n_samples: int = 1600
) -> DataFrame:
    """Fixture adapter producing REAL audio: each document's UTF-8
    bytes become a deterministic 16-bit PCM waveform (bytes scaled to
    int16 centered on zero, zero-padded/truncated to ``n_samples``)
    and WAV-encoded with the vendored codec — downstream decode
    exercises the full RIFF/fmt/data walk on a valid audio container.
    0.1 s @ 16 kHz per doc keeps the fixture worker-memory-bounded;
    a real corpus would carry multi-MB clips with the same schema."""
    import hashlib

    import numpy as np

    from .codecs import wav_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8") or b"\x00"
                buf = np.zeros(n_samples, dtype=np.int16)
                take = min(len(raw), n_samples)
                # bytes 0..255 → int16 −16384..16256 (×128, −16384)
                buf[:take] = (
                    np.frombuffer(raw[:take], dtype=np.uint8).astype(np.int16)
                    * 128
                    - 16384
                )
                payloads.append(wav_encode(buf, rate=rate))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "modality": "audio/wav",
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
                }
            )

    schema = "doc_id long, payload binary, modality string, n_bytes long, checksum string"
    return df.select("doc_id", text_col).mapInPandas(run, schema=schema)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Arrow-batched audio featurization over DECODED samples: peak
    amplitude, integer sum of squares (energy — exact, no float fold),
    zero-crossing count, duration. The audio analogue of
    extract_features: every value is a deterministic
    integer function of the decoded PCM, so tests can pin them against
    a pure-python recompute of the same waveform."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .codecs import wav_decode

        for pdf in batches:
            peak, energy, zc, n_samp, rate_out = [], [], [], [], []
            for payload in pdf["payload"]:
                samples, rate = wav_decode(bytes(payload))
                s = samples.astype(np.int64).ravel()
                peak.append(int(np.abs(s).max()) if s.size else 0)
                energy.append(int((s * s).sum()))
                zc.append(int(np.count_nonzero(np.diff(np.signbit(s)))))
                n_samp.append(int(s.size))
                rate_out.append(int(rate))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["n_bytes"],
                    "checksum": pdf["checksum"],
                    "peak": peak,
                    "energy": energy,
                    "zero_crossings": zc,
                    "n_samples": n_samp,
                    "sample_rate": rate_out,
                }
            )

    schema = (
        "doc_id long, modality string, n_bytes long, checksum string, "
        "peak long, energy long, zero_crossings long, n_samples long, "
        "sample_rate long"
    )
    return df.mapInPandas(run, schema=schema)


PHASH_SCHEMA = "doc_id long, n_rows long, dhash string, ahash string"


def image_perceptual_hashes(df: DataFrame) -> DataFrame:
    """Perceptual image hashes over REAL PNG decodes (mapInPandas):
    dHash (Krawetz's public difference hash — 8×9 nearest-neighbor
    sample grid, bit = left pixel > right pixel) and aHash (8×8 grid,
    bit = pixel > global raster mean), each packed msb-first into 16
    lowercase hex chars.

    Every step is pure integer arithmetic on decoded pixels —
    nearest-neighbor sampling at ((2r+1)·H)//16 × ((2c+1)·W)//18 (resp.
    //16), strict ``>`` comparisons, and the mean test cross-multiplied
    as pixel·n_pix > total_sum — so the hash is an exact function of
    the decoded raster and a SQL oracle can replay it from the
    encode-side bytes (the decoded-domain certification discipline of
    queries/multimodal.py)."""
    import numpy as np

    def _hashes(payload: bytes, modality: str) -> tuple[int, str, str]:
        arr = np.asarray(decode_media(payload, modality), dtype=np.int64)
        if arr.ndim == 1:  # degenerate single-row raster
            arr = arr.reshape(1, -1)
        h, w = arr.shape[0], arr.shape[1]
        dbits = 0
        for r in range(8):
            row = ((2 * r + 1) * h) // 16
            for c in range(8):
                a = arr[row, ((2 * c + 1) * w) // 18]
                b = arr[row, ((2 * (c + 1) + 1) * w) // 18]
                if a > b:
                    dbits |= 1 << (63 - (r * 8 + c))
        total = int(arr.sum())
        n_pix = h * w
        abits = 0
        for r in range(8):
            row = ((2 * r + 1) * h) // 16
            for c in range(8):
                v = arr[row, ((2 * c + 1) * w) // 16]
                if v * n_pix > total:
                    abits |= 1 << (63 - (r * 8 + c))
        return h, f"{dbits:016x}", f"{abits:016x}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _hashes(p, m)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_rows": [o[0] for o in out],
                    "dhash": [o[1] for o in out],
                    "ahash": [o[2] for o in out],
                }
            )

    return df.mapInPandas(run, schema=PHASH_SCHEMA)
