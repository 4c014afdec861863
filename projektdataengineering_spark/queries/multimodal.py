"""Multimodal pipeline queries — the registry face of
operators/multimodal.py.

Round-8 graduation: the image and audio queries are HASH-CHECKED via
decoded-domain oracles. The fixture adapters build media
deterministically from each document's UTF-8 bytes (PNG pixels = the
bytes zero-padded to a 32-wide raster; WAV samples = byte*128−16384
padded to 1600), and the registered outputs carry only features of the
DECODED values — so DuckDB can replay them from ``encode(text)`` byte
arithmetic (hex-pair extraction) without any codec, and a hash match
PROVES the lossless encode→decode roundtrip end-to-end: a codec that
corrupts one pixel/sample changes feat_mean/energy and fails the hash.
``multimodal_video_frames`` stays rows-only by design: its MJPG leg is
lossy JPEG, so decoded pixels are NOT a SQL-replayable function of the
source bytes — per-frame fidelity is pinned in
tests/test_multimodal.py instead. Container-level metadata
(n_bytes/checksum of the encoded blob) is still available from the raw
operators; it is deliberately absent from the certified outputs
because compressed byte counts are codec-implementation detail, not
content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..catalog import load_table, spread_small_input
from ..operators.multimodal import (
    attach_avi_payload,
    attach_png_payload,
    extract_features,
    sample_frames,
)
from . import query


_HEXPOS = "strpos('0123456789ABCDEF', substr(hx, CAST(2*i+{o} AS INT), 1)) - 1"

_IMAGE_FEATURES_SQL = f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR octet_length(encode(text)) = 0
                  THEN '\\x00'::BLOB ELSE encode(text) END AS b
      FROM documents
    ),
    meta AS (
      SELECT doc_id, hex(b) AS hx, octet_length(b) AS n_raw,
             ((octet_length(b) + 31) // 32) * 32 AS n_pix
      FROM raw
    ),
    bytes AS (
      SELECT doc_id, i,
             ({_HEXPOS.format(o=1)}) * 16 + ({_HEXPOS.format(o=2)}) AS v
      FROM meta, UNNEST(range(0, n_raw)) AS u(i)
    ),
    allvals AS (
      SELECT doc_id, v, 1 AS w FROM bytes
      UNION ALL
      SELECT doc_id, 0 AS v, n_pix - n_raw AS w FROM meta WHERE n_pix > n_raw
    ),
    hist AS (
      SELECT doc_id, v // 16 AS bin, SUM(w) AS c FROM allvals GROUP BY 1, 2
    ),
    amax AS (
      SELECT doc_id, bin FROM (
        SELECT doc_id, bin,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, bin) AS rn
        FROM hist
      ) WHERE rn = 1
    ),
    meanv AS (
      SELECT a.doc_id,
             CAST(SUM(v * w) AS DOUBLE) / CAST(MAX(m.n_pix) AS DOUBLE)
               AS feat_mean
      FROM allvals a JOIN meta m USING (doc_id) GROUP BY a.doc_id
    )
    SELECT m.doc_id, 'image/png' AS modality,
           CAST(m.n_pix AS BIGINT) AS n_pixels,
           mv.feat_mean, CAST(ax.bin AS INT) AS feat_argmax
    FROM meta m JOIN meanv mv ON m.doc_id = mv.doc_id
    JOIN amax ax ON m.doc_id = ax.doc_id
"""


@query("multimodal_features", oracle=_IMAGE_FEATURES_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image pipeline end-to-end: each document rendered as an
    actual PNG (attach_png_payload — signature, zlib, scanlines), then
    Arrow-batched decode + featurization over the DECODED pixels
    (extract_features → operators/codecs.png_decode). Both
    directions of the codec run distributed, deterministically; see
    operators/multimodal.py for the 100-TB partition-sizing notes.

    HASH-CHECKED since round 8 (decoded-domain certification): the
    fixture pixels are the document's UTF-8 bytes zero-padded to a
    32-wide raster, so the oracle replays feat_mean (exact byte sum /
    pixel count — one double division, bit-stable) and feat_argmax
    (16-bin histogram, ties to the smaller bin = the high hex nibble
    of each byte) straight from encode(text) byte arithmetic. A PNG
    encode→decode roundtrip that corrupts ANY pixel shifts the mean
    and fails the hash — the oracle certifies the codec without being
    able to run it. Container metadata (n_bytes/checksum) stays on the
    raw extract_features operator; compressed sizes are
    zlib-implementation detail, not content."""
    # no spread here: the PNG leg's python cost is small enough that
    # the extra exchange costs more than it buys (A/B'd at sf0.1:
    # 0.80 s plain vs 0.94 s spread) — contrast the video leg below
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_png_payload(docs))
    # n_pixels from the raw byte length (integer math mirrored by the
    # oracle); the decode path determines feat_mean/feat_argmax
    meta = docs.select(
        "doc_id",
        F.expr(
            "((greatest(octet_length(encode(coalesce(text, ''), 'UTF-8')),"
            " 1) + 31) div 32) * 32"
        )
        .cast("long")
        .alias("n_pixels"),
    )
    return feats.join(meta, "doc_id").select(
        "doc_id", "modality", "n_pixels", "feat_mean", "feat_argmax"
    )


# --- video certification constants -----------------------------------
_VID_W = 16                     # frame is 16×16×3
_VID_FRAME_PX = _VID_W * _VID_W * 3  # 768 bytes per frame
_VID_N_FRAMES = 4
_VID_SAMPLED = 2                # sample_frames(n_frames=2) → source frames 0, 2
# MJPG frame-mean reconstruction bound (bytes, on a 0..255 scale).
# Derivation (quality=85 tables, 4:2:0): the DCT AC basis functions sum
# to zero, so a plane's MEAN is touched only by DC quantization —
# |Δmean| ≤ q00/16 ≈ 0.32 per plane — and the 2×2 box-mean/repeat
# chroma cycle preserves plane means exactly on even dims; per-stage
# integer rounding adds ≤ 0.5, and the affine YCbCr↔RGB transform
# propagates plane-mean errors with coefficient sum < 2.2 → the
# analytic frame-mean bound is ≈ 2. Pixel clipping after ringing is
# the one term without a tight closed form, so the certified bound is
# widened to 16.0 — still 6% of the byte range, and the fixture's
# actual error measures ≪ 1, so the boolean is a stable theorem, never
# a measurement near its boundary (the agg_hll_merge graduation rule).
_VID_MJPG_MEAN_BOUND = 16.0

_VIDEO_HEXPOS = (
    "strpos('0123456789ABCDEF', substr(hx, CAST(2*(off+i)+{o} AS INT), 1)) - 1"
)

_VIDEO_FRAMES_SQL = f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR octet_length(encode(text)) = 0
                  THEN '\\x00'::BLOB ELSE encode(text) END AS b
      FROM documents
    ),
    meta AS (
      SELECT doc_id, hex(b) AS hx, octet_length(b) AS n_raw FROM raw
    ),
    fr AS (
      SELECT doc_id, hx, n_raw, u.k AS frame_idx,
             u.k * {2 * _VID_FRAME_PX} AS off,
             LEAST(GREATEST(n_raw - u.k * {2 * _VID_FRAME_PX}, 0),
                   {_VID_FRAME_PX}) AS take
      FROM meta, (SELECT unnest([0, 1]) AS k) u
    ),
    allvals AS (
      SELECT doc_id, frame_idx,
             ({_VIDEO_HEXPOS.format(o=1)}) * 16
               + ({_VIDEO_HEXPOS.format(o=2)}) AS v,
             1 AS w
      FROM fr, UNNEST(range(0, take)) AS u(i)
      UNION ALL
      SELECT doc_id, frame_idx, 0 AS v, {_VID_FRAME_PX} - take AS w
      FROM fr WHERE take < {_VID_FRAME_PX}
    ),
    hist AS (
      SELECT doc_id, frame_idx, v // 16 AS bin, SUM(w) AS c
      FROM allvals GROUP BY 1, 2, 3
    ),
    amax AS (
      SELECT doc_id, frame_idx, bin FROM (
        SELECT doc_id, frame_idx, bin,
               ROW_NUMBER() OVER (PARTITION BY doc_id, frame_idx
                                  ORDER BY c DESC, bin) AS rn
        FROM hist
      ) WHERE rn = 1
    ),
    meanv AS (
      SELECT doc_id, frame_idx,
             CAST(SUM(v * w) AS DOUBLE) / {float(_VID_FRAME_PX)} AS src_mean
      FROM allvals GROUP BY 1, 2
    )
    SELECT m.doc_id, CAST(m.frame_idx AS INT) AS frame_idx,
           CASE WHEN m.doc_id % 2 = 1 THEN 'MJPG' ELSE 'DIB' END AS codec,
           CAST({_VID_FRAME_PX} AS BIGINT) AS n_pixels,
           CASE WHEN m.doc_id % 2 = 0 THEN mv.src_mean END AS feat_mean_exact,
           CASE WHEN m.doc_id % 2 = 0 THEN CAST(ax.bin AS INT) END
             AS feat_argmax_exact,
           TRUE AS mean_err_ok
    FROM fr m
    JOIN meanv mv ON m.doc_id = mv.doc_id AND m.frame_idx = mv.frame_idx
    JOIN amax ax ON m.doc_id = ax.doc_id AND m.frame_idx = ax.frame_idx
"""


@query("multimodal_video_frames", oracle=_VIDEO_FRAMES_SQL)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pipeline end-to-end: each document packed into an
    actual AVI — even doc_ids as uncompressed BI_RGB, odd doc_ids as
    Motion-JPEG whose frames are baseline JPEGs from the pure-Python
    T.81 codec (operators/jpeg.py, round 7) — then the 1→N
    video→image expansion a training curriculum runs:
    sample_frames(features=True) decodes the container
    (RIFF walk + DIB un-flip or full JPEG entropy-decode/IDCT per
    frame), strides 2 frames per clip (source frames 0 and 2 of 4),
    re-encodes each as a standalone PNG, and featurizes the DECODED
    pixels of every sampled frame in the same kernel (r19 fusion —
    bit-identical to the extract_features composition it
    replaced; the PNG roundtrip stays unit-pinned in
    tests/test_multimodal.py and the fused-vs-recomposed equality is
    asserted there too).

    HASH-CHECKED since round 9 (the last rows-only query graduated,
    split by codec losslessness):

    * DIB rows (even doc_ids): ``feat_mean_exact``/``feat_argmax_exact``
      are the DECODED frame's mean and 16-bin histogram argmax — the
      oracle replays them from encode(text) byte arithmetic (frame f
      occupies source bytes [768f, 768(f+1)) zero-padded), so a
      BI_RGB/PNG roundtrip that corrupts ANY byte fails the hash.
      Mean and argmax are invariant to the decoder's BGR→RGB reorder
      and vertical un-flip, which is what makes them replayable.
    * MJPG rows (odd doc_ids): lossy — exact columns are NULL by
      contract and the certification is ``mean_err_ok``: the decoded
      frame mean within _VID_MJPG_MEAN_BOUND of the exact source mean
      (see the bound's derivation at its definition). A broken Huffman
      table, IDCT, or upsampler shifts the mean far past the bound and
      flips the boolean → hash fails.

    Per-frame pixel fidelity for both codec paths stays unit-pinned in
    tests/test_multimodal.py; this query makes the driver check it."""
    import numpy as np
    import pandas as pd

    # spread_small_input: the per-blob Python codec cost is the whole
    # query; a single-split local fixture would serialize it on one
    # core (measured 20.8 s vs ~2 s spread at sf0.1 with the MJPG leg).
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    clips = attach_avi_payload(
        docs, width=_VID_W, n_frames=_VID_N_FRAMES, codec="mixed"
    )
    # Fused frame features (r19, guide §4.2): the sampling kernel
    # featurizes each frame's DECODED pixels while they are in memory
    # (sample_frames features=True) instead of a second mapInPandas
    # pass re-decoding every frame PNG row-by-row in Python. The PNG
    # roundtrip is lossless and the featurizer body is shared
    # (_intensity_features), so the columns are bit-identical to the
    # previous extract_features composition — asserted in
    # tests/test_multimodal.py and re-proved by the oracle hash. Plan:
    # one Python stage fewer (BatchEvalPython/MapInPandas 3 → 2 on the
    # feature path); per-frame PNG *decode* work leaves the query.
    feats = sample_frames(
        clips, n_frames=_VID_SAMPLED, features=True
    ).select("doc_id", "frame_idx", "feat_mean", "feat_argmax")

    def src_stats(batches):
        # source-byte twin of the oracle's hex arithmetic: numpy over
        # the raw text bytes, no codec in the path — independent of
        # everything the query certifies
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "src_mean": [], "src_argmax": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8") or b"\x00"
                buf = np.zeros(_VID_N_FRAMES * _VID_FRAME_PX, dtype=np.uint8)
                buf[: min(len(raw), buf.size)] = np.frombuffer(
                    raw[: buf.size], dtype=np.uint8
                )
                for k in range(_VID_SAMPLED):
                    f = (k * _VID_N_FRAMES) // _VID_SAMPLED
                    fb = buf[f * _VID_FRAME_PX : (f + 1) * _VID_FRAME_PX]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["src_mean"].append(float(int(fb.sum()) / _VID_FRAME_PX))
                    out["src_argmax"].append(
                        int(np.argmax(np.bincount(fb >> 4, minlength=16)))
                    )
            yield pd.DataFrame(out)

    src = docs.select("doc_id", "text").mapInPandas(
        src_stats, "doc_id long, frame_idx int, src_mean double, src_argmax int"
    )
    is_dib = F.pmod("doc_id", F.lit(2)) == 0
    return feats.join(src, ["doc_id", "frame_idx"]).select(
        "doc_id",
        "frame_idx",
        F.when(is_dib, F.lit("DIB")).otherwise(F.lit("MJPG")).alias("codec"),
        F.lit(_VID_FRAME_PX).cast("long").alias("n_pixels"),
        F.when(is_dib, F.col("feat_mean")).alias("feat_mean_exact"),
        F.when(is_dib, F.col("feat_argmax")).cast("int").alias("feat_argmax_exact"),
        (F.abs(F.col("feat_mean") - F.col("src_mean")) <= _VID_MJPG_MEAN_BOUND)
        .alias("mean_err_ok"),
    )


_WAV_N = 1600  # attach_wav_payload default: 0.1 s @ 16 kHz

_AUDIO_FEATURES_SQL = f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR octet_length(encode(text)) = 0
                  THEN '\\x00'::BLOB ELSE encode(text) END AS b
      FROM documents
    ),
    meta AS (
      SELECT doc_id, hex(b) AS hx, LEAST(octet_length(b), {_WAV_N}) AS take
      FROM raw
    ),
    samples AS (
      SELECT doc_id, i,
             (({_HEXPOS.format(o=1)}) * 16 + ({_HEXPOS.format(o=2)}))
             * 128 - 16384 AS s
      FROM meta, UNNEST(range(0, take)) AS u(i)
    ),
    feats AS (
      SELECT doc_id,
             MAX(ABS(s)) AS peak,
             SUM(s * s) AS energy,
             COUNT(*) FILTER (WHERE neg <> prev_neg) AS zc_body,
             MAX(CASE WHEN i = t_last
                      THEN CASE WHEN neg THEN 1 ELSE 0 END END) AS last_neg
      FROM (
        SELECT doc_id, i, s, s < 0 AS neg,
               LAG(s < 0) OVER (PARTITION BY doc_id ORDER BY i) AS prev_neg,
               MAX(i) OVER (PARTITION BY doc_id) AS t_last
        FROM samples
      ) GROUP BY doc_id
    )
    SELECT f.doc_id, 'audio/wav' AS modality,
           CAST(f.peak AS BIGINT) AS peak,
           CAST(f.energy AS BIGINT) AS energy,
           CAST(f.zc_body + CASE WHEN m.take < {_WAV_N} THEN f.last_neg
                                 ELSE 0 END AS BIGINT) AS zero_crossings,
           CAST({_WAV_N} AS BIGINT) AS n_samples,
           CAST(16000 AS BIGINT) AS sample_rate
    FROM feats f JOIN meta m USING (doc_id)
"""


@query("multimodal_audio_features", oracle=_AUDIO_FEATURES_SQL)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio pipeline end-to-end, completing the modality
    triangle (image r4, video r5, audio r6): each document rendered as
    an actual 16-bit PCM WAV (attach_wav_payload — RIFF/fmt/data via
    the vendored codec), then Arrow-batched decode + featurization
    over the DECODED samples (extract_audio_features): peak, EXACT
    integer energy, zero crossings. Both directions run distributed
    with constant worker memory — the same mapInPandas profile as the
    image/video legs, which is the property that matters when the
    payload column is 100 TB of real clips.

    HASH-CHECKED since round 8 (decoded-domain certification, the
    image-leg pattern): fixture samples are byte*128−16384 zero-padded
    to {_WAV_N}, every feature is integer math over them, so the
    oracle replays peak/energy/zero-crossings from encode(text) byte
    arithmetic (LAG over the sample sequence for sign changes, plus
    the boundary crossing into the zero padding). A WAV roundtrip
    that corrupts ANY sample changes the exact energy sum and fails
    the hash. Waveform fidelity is additionally pinned against
    pure-python recomputes in tests/test_multimodal.py."""
    from ..operators.multimodal import attach_wav_payload, extract_audio_features

    # no spread: WAV encode/decode is cheap; the exchange would cost
    # more than the python work (A/B'd at sf0.1: 0.77 s vs 1.69 s)
    docs = load_table(spark, sf_dir, "documents")
    return extract_audio_features(attach_wav_payload(docs)).select(
        "doc_id", "modality", "peak", "energy", "zero_crossings",
        "n_samples", "sample_rate",
    )


# ---------------------------------------------------------------------------
# multimodal_image_phash — perceptual hashes + banded near-dup pairs over
# REAL PNG decodes
# ---------------------------------------------------------------------------

_PHASH_MAX_HAM = 3  # pigeonhole: ≤3 differing bits ⇒ one of 4 chunks equal
_NIBVAL = "strpos('0123456789ABCDEF', substr(m.hx, CAST(2*{i}+1 AS INT), 1)) - 1"
_NIBVAL2 = "strpos('0123456789ABCDEF', substr(m.hx, CAST(2*{i}+2 AS INT), 1)) - 1"

_PHASH_SQL = f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR octet_length(encode(text)) = 0
                  THEN '\\x00'::BLOB ELSE encode(text) END AS b
      FROM documents
    ), meta AS (
      SELECT doc_id, hex(b) AS hx, octet_length(b) AS n_raw,
             (octet_length(b) + 31) // 32 AS h
      FROM raw
    ), dgrid AS (
      SELECT m.doc_id, r.r AS r, c.c AS c,
             (((2 * r.r + 1) * m.h) // 16) * 32 + ((2 * c.c + 1) * 32) // 18
               AS idx
      FROM meta m, range(0, 8) r(r), range(0, 9) c(c)
    ), dval AS (
      SELECT g.doc_id, g.r, g.c,
             CASE WHEN g.idx < m.n_raw
                  THEN ({_NIBVAL.format(i="g.idx")}) * 16
                       + ({_NIBVAL2.format(i="g.idx")})
                  ELSE 0 END AS v
      FROM dgrid g JOIN meta m USING (doc_id)
    ), dbits AS (
      SELECT a.doc_id, a.r * 8 + a.c AS k,
             CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
      FROM dval a JOIN dval b
        ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
      WHERE a.c <= 7
    ), tot AS (
      SELECT m.doc_id,
             SUM(CASE WHEN u.i < m.n_raw
                      THEN ({_NIBVAL.format(i="u.i")}) * 16
                           + ({_NIBVAL2.format(i="u.i")})
                      ELSE 0 END) AS total,
             MAX(m.h) * 32 AS n_pix
      FROM meta m, UNNEST(range(0, m.n_raw)) AS u(i)
      GROUP BY m.doc_id
    ), agrid AS (
      SELECT m.doc_id, r.r AS r, c.c AS c,
             (((2 * r.r + 1) * m.h) // 16) * 32 + ((2 * c.c + 1) * 32) // 16
               AS idx
      FROM meta m, range(0, 8) r(r), range(0, 8) c(c)
    ), abits AS (
      SELECT g.doc_id, g.r * 8 + g.c AS k,
             CASE WHEN (CASE WHEN g.idx < m.n_raw
                             THEN ({_NIBVAL.format(i="g.idx")}) * 16
                                  + ({_NIBVAL2.format(i="g.idx")})
                             ELSE 0 END) * t.n_pix > t.total
                  THEN 1 ELSE 0 END AS bit
      FROM agrid g JOIN meta m USING (doc_id) JOIN tot t ON t.doc_id = g.doc_id
    ), dhash AS (
      SELECT doc_id,
             string_agg(substr('0123456789abcdef', CAST(nib + 1 AS INT), 1),
                        '' ORDER BY j) AS dhash
      FROM (SELECT doc_id, k // 4 AS j,
                   SUM(bit * (CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                              WHEN 2 THEN 2 ELSE 1 END)) AS nib
            FROM dbits GROUP BY doc_id, k // 4)
      GROUP BY doc_id
    ), ahash AS (
      SELECT doc_id,
             string_agg(substr('0123456789abcdef', CAST(nib + 1 AS INT), 1),
                        '' ORDER BY j) AS ahash
      FROM (SELECT doc_id, k // 4 AS j,
                   SUM(bit * (CASE k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                              WHEN 2 THEN 2 ELSE 1 END)) AS nib
            FROM abits GROUP BY doc_id, k // 4)
      GROUP BY doc_id
    ), hashes AS (
      SELECT m.doc_id, CAST(m.h AS BIGINT) AS n_rows, d.dhash, a.ahash
      FROM meta m JOIN dhash d USING (doc_id) JOIN ahash a USING (doc_id)
    ), cand AS (
      SELECT DISTINCT h1.doc_id AS lo, h2.doc_id AS hi,
             h1.dhash AS dh1, h2.dhash AS dh2
      FROM hashes h1 JOIN hashes h2
        ON h1.doc_id < h2.doc_id
       AND (substr(h1.dhash, 1, 4) = substr(h2.dhash, 1, 4)
         OR substr(h1.dhash, 5, 4) = substr(h2.dhash, 5, 4)
         OR substr(h1.dhash, 9, 4) = substr(h2.dhash, 9, 4)
         OR substr(h1.dhash, 13, 4) = substr(h2.dhash, 13, 4))
    ), pairs AS (
      SELECT lo, hi, ham FROM (
        SELECT lo, hi,
               (SELECT SUM(bit_count(xor(
                   strpos('0123456789abcdef',
                          substr(dh1, CAST(t.i AS INT), 1)) - 1,
                   strpos('0123456789abcdef',
                          substr(dh2, CAST(t.i AS INT), 1)) - 1)))
                FROM range(1, 17) t(i)) AS ham
        FROM cand)
      WHERE ham <= {_PHASH_MAX_HAM}
    ), sides AS (
      SELECT lo AS doc_id, ham FROM pairs
      UNION ALL
      SELECT hi AS doc_id, ham FROM pairs
    ), nbr AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
             CAST(MIN(ham) AS BIGINT) AS min_ham
      FROM sides GROUP BY doc_id
    )
    SELECT h.doc_id, h.n_rows, h.dhash, h.ahash,
           COALESCE(n.n_neighbors, 0) AS n_neighbors, n.min_ham
    FROM hashes h LEFT JOIN nbr n USING (doc_id)
"""


@query("multimodal_image_phash", oracle=_PHASH_SQL)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level near-duplicate detection via perceptual hashing —
    the multimodal member of the dedup family: every document's REAL
    PNG rendering is decoded (vendored codec: signature, zlib inflate,
    filter reconstruction) and reduced to dHash + aHash (Krawetz's
    public difference/average hashes, integer-exact nearest-neighbor
    sampling — operators/multimodal.image_perceptual_hashes), then
    near-dup pairs are found by 4-chunk banded LSH over the dHash with
    exact Hamming verification ≤ 3 (_PHASH_MAX_HAM).

    The banding is EXACT at this radius by pigeonhole: ≤3 differing
    bits cannot touch all 4 16-bit chunks, so every qualifying pair
    shares a chunk — recall 1.0 is a theorem, not a tuning claim (the
    sim_minhash_lsh guarantee structure, here with zero slack).

    Certification: the oracle replays the hashes from encode-side byte
    arithmetic (pixels = UTF-8 bytes in a 32-wide zero-padded raster),
    so a hash match proves decode fidelity pixel-for-pixel AT THE
    SAMPLED POINTS plus the full banded pair structure; n_rows pins the
    decoded geometry, and the global-mean test (pixel·n_pix >
    total_sum, cross-multiplied) certifies the whole-raster sum too.

    Plan shape: one mapInPandas decode+hash pass (spread across
    partitions), 4 equi self-joins on hash chunks (never all-pairs),
    Hamming on the candidate set only, one aggregate + broadcast-sized
    join back. At 100 TB: candidates ∝ near-dup mass by the banding
    argument; the 64-bit hash table is ~1000× smaller than the images.
    """
    docs = spread_small_input(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    from ..operators.multimodal import image_perceptual_hashes

    # the hash table feeds 9 plan branches (4 chunk joins × 2 sides +
    # the final join-back); a lazy checkpoint runs the encode→decode→
    # hash Python pipeline ONCE and lets every branch read the 64-bit
    # hashes instead — at 100 TB this table is the persisted index (it
    # is ~1000× smaller than the images), so materializing it is the
    # production shape, not a local workaround (7.0 s → 2.3 s at sf0.1)
    hashes = image_perceptual_hashes(attach_png_payload(docs)).localCheckpoint(
        eager=False
    )
    h1 = hashes.select(
        F.col("doc_id").alias("lo"), F.col("dhash").alias("dh1")
    )
    h2 = hashes.select(
        F.col("doc_id").alias("hi"), F.col("dhash").alias("dh2")
    )
    cands = None
    for k in range(4):
        c1 = h1.withColumn("chunk", F.substring("dh1", 4 * k + 1, 4))
        c2 = h2.withColumn("chunk", F.substring("dh2", 4 * k + 1, 4))
        ck = c1.join(c2, "chunk").filter(F.col("lo") < F.col("hi")).select(
            "lo", "hi", "dh1", "dh2"
        )
        cands = ck if cands is None else cands.union(ck)
    cands = cands.distinct()
    ham = F.expr(
        "aggregate(transform(sequence(1, 16), i -> bit_count("
        "(locate(substr(dh1, i, 1), '0123456789abcdef') - 1)"
        " ^ (locate(substr(dh2, i, 1), '0123456789abcdef') - 1))),"
        " 0, (acc, x) -> acc + x)"
    )
    pairs = cands.select(
        "lo", "hi", ham.alias("ham")
    ).filter(F.col("ham") <= _PHASH_MAX_HAM)
    sides = pairs.select(F.col("lo").alias("doc_id"), "ham").union(
        pairs.select(F.col("hi").alias("doc_id"), "ham")
    )
    nbr = sides.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.min("ham").cast("long").alias("min_ham"),
    )
    return hashes.join(nbr, "doc_id", "left").select(
        "doc_id",
        "n_rows",
        "dhash",
        "ahash",
        F.coalesce("n_neighbors", F.lit(0)).cast("long").alias("n_neighbors"),
        "min_ham",
    )
