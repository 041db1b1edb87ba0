"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched pandas
functions via mapInPandas.

The metadata stage parses real byte layouts pure-python (PNG/JPEG/
GIF/BMP dimensions, WAV rate/channels). PIXEL decode is real too for
the formats decodable without external libs — PNG (stdlib zlib +
scanline unfiltering) and uncompressed BMP — feeding `image_phash`,
the classic resize->DCT->median perceptual hash; entropy-coded
formats (JPEG/WebP) dispatch to Pillow when installed (dependency-
gated like the maxminddb GeoIP path; this container has none, so
those tests skip). ffmpeg frame extraction would dispatch from the
same seam with the same batch contract. Unknown formats fall back to
a deterministic length-derived fake so the metadata stage stays
total.

Scale notes: binary payloads dominate partition size — size
spark.sql.files.maxPartitionBytes so one Arrow batch of payloads fits
executor memory; never collect payloads to the driver; push the
metadata-only projections (sha/length/type) down as column expressions
so full binaries are only materialized in the decode stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test-shape helper: treat the utf-8 bytes of a text column as an
    opaque media payload (the container has no real image/audio data).
    Real pipelines read payloads from parquet/sequence files directly.
    """
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_type", F.lit("application/octet-stream")
    )


def binary_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Metadata-only projection over a binary column — stays entirely
    JVM-side (sha2/octet_length are codegen expressions), no decode."""
    return df.select(
        F.col(id_col),
        F.octet_length("payload").alias("byte_len"),
        F.sha2(F.col("payload"), 256).alias("sha256"),
    )


def _png_dims(payload: bytes) -> dict | None:
    # PNG: 8-byte signature, then IHDR chunk; width/height are
    # big-endian u32 at offsets 16 and 20
    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        return {"width": w, "height": h}
    return None


def _jpeg_dims(payload: bytes) -> dict | None:
    # JPEG: walk the marker stream to the first SOFn (C0-CF except
    # C4/C8/CC); height/width are big-endian u16 at +5/+7 into the
    # frame segment
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 9 < len(payload):
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(payload[i + 2:i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(payload[i + 5:i + 7], "big")
            w = int.from_bytes(payload[i + 7:i + 9], "big")
            return {"width": w, "height": h}
        i += 2 + seg_len
    return None


def _gif_dims(payload: bytes) -> dict | None:
    # GIF87a/89a: logical screen width/height are little-endian u16
    # at offsets 6 and 8
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        return {"width": w, "height": h}
    return None


def _bmp_dims(payload: bytes) -> dict | None:
    # BMP: BITMAPINFOHEADER width/height are little-endian i32 at
    # offsets 18 and 22 (height may be negative for top-down rows)
    if len(payload) >= 26 and payload[:2] == b"BM":
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        return {"width": abs(w), "height": abs(h)}
    return None


def _wav_dims(payload: bytes) -> dict | None:
    # WAV: RIFF/WAVE container; report (sample_rate, channels) in the
    # (width, height) slots — the schema's generic numeric dims
    if len(payload) >= 36 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        i = 12
        while i + 8 <= len(payload):
            chunk_id = payload[i:i + 4]
            chunk_len = int.from_bytes(payload[i + 4:i + 8], "little")
            if chunk_id == b"fmt " and i + 16 <= len(payload):
                channels = int.from_bytes(payload[i + 10:i + 12], "little")
                rate = int.from_bytes(payload[i + 12:i + 16], "little")
                return {"width": rate, "height": channels}
            i += 8 + chunk_len + (chunk_len & 1)
    return None


_CODECS = {
    "image/png": _png_dims,
    "image/jpeg": _jpeg_dims,
    "image/gif": _gif_dims,
    "image/bmp": _bmp_dims,
    "audio/wav": _wav_dims,
    "audio/x-wav": _wav_dims,
}


def _decode_payload(payload: bytes, media_type: str) -> dict:
    """Header-level decode, pure python (no image/audio libs in this
    container): PNG/JPEG/GIF/BMP dimensions and WAV sample-rate/
    channels parsed from the real byte layout. Unknown or corrupt
    payloads fall back to a deterministic length-derived fake so the
    mapInPandas stage stays total (no poison-pill rows kill a batch).
    Full pixel/sample decode (resize, frame extraction) would dispatch
    here to PIL/ffmpeg with the same contract."""
    payload = bytes(payload)
    codec = _CODECS.get(media_type)
    if codec is not None:
        dims = codec(payload)
        if dims is not None:
            return dims
    n = len(payload)
    return {"width": int(n % 640), "height": int(n % 480)}


def extract_media_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas media feature extraction: Arrow batches of
    (id, payload, media_type) -> metadata rows. The pattern for any
    decode/resize/frame-sample stage."""
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [
                _decode_payload(p, m)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["payload"].map(len).astype("int64"),
                    "sha256": pdf["payload"].map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                    "width": [d["width"] for d in dims],
                    "height": [d["height"] for d in dims],
                }
            )

    return df.mapInPandas(op, MEDIA_META_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_offset_bytes", T.LongType()),
        T.StructField("frame_sha256", T.StringType()),
    ]
)


def sample_frames(
    df: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame-sampling stage shape for video payloads: one input row ->
    up to max_frames output rows. The decoder is a deterministic fake
    (fixed-stride byte windows hashed as 'frames'); a real deployment
    swaps in ffmpeg keyframe extraction with the same batch contract.
    The row-expansion (flatMap) shape is what matters for partition
    sizing: output rows ≈ input rows × max_frames."""
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_index": [], "frame_offset_bytes": [],
                   "frame_sha256": []}
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                n = min(max_frames, max(len(payload) // every_n_bytes, 1))
                for i in range(n):
                    off = i * every_n_bytes
                    chunk = payload[off:off + every_n_bytes]
                    out["doc_id"].append(int(did))
                    out["frame_index"].append(i)
                    out["frame_offset_bytes"].append(off)
                    out["frame_sha256"].append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame(out)

    return df.mapInPandas(op, FRAME_SCHEMA)


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_offset_bytes", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def audio_frame_energy(
    df: DataFrame, frame_bytes: int = 32, max_frames: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Audio feature-extraction stage shape: windowed energy over a
    PCM-like byte payload — per non-overlapping frame, the sum and
    max of the unsigned byte values (numpy-vectorized inside the
    Arrow batch; a real deployment swaps an actual DSP front-end —
    mel filterbanks, VAD — into the same batch contract). Only FULL
    windows are emitted, so frame math is exact and scale-free.
    Output rows = docs x <= max_frames, like `sample_frames`."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_index": [], "frame_offset_bytes": [],
                   "energy": [], "peak": []}
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = min(max_frames, len(buf) // frame_bytes)
                for i in range(n):
                    frame = buf[i * frame_bytes:(i + 1) * frame_bytes]
                    out["doc_id"].append(int(did))
                    out["frame_index"].append(i)
                    out["frame_offset_bytes"].append(i * frame_bytes)
                    out["energy"].append(int(frame.sum()))
                    out["peak"].append(int(frame.max()))
            yield pd.DataFrame(out)

    return df.mapInPandas(op, AUDIO_FRAME_SCHEMA)


def media_phash(
    df: DataFrame, id_col: str = "doc_id", bits: int = 63
) -> DataFrame:
    """Perceptual-hash stage for binary media near-dup: payload ->
    `bits`-wide fingerprint whose bit b is set iff content bucket b
    carries more than its mean share — the average-hash construction
    over ADJACENT-PAIR buckets (cp[i]*31 + cp[i+1], the structural
    analog of pHash's frequency components: a pure value histogram
    collapses homogeneous corpora into one hot bucket, which both
    kills discrimination AND detonates the downstream pair join —
    measured OOM at sf0.1 with the unigram variant). The default 63
    bits keeps every shifted bit positive in an int64 on any engine.

    The deterministic stand-in works on the payload's decoded
    codepoint stream (no pixel decoders in this container); a real
    image pHash (resize -> DCT -> median threshold) swaps in at this
    same mapInPandas seam with the identical (id, payload) ->
    (id, phash int64) contract. Payloads with fewer than 2 codepoints
    are dropped (no pair structure to hash).

    Downstream: `operators.dedup.hamming_pairs` mines exact
    near-duplicates from the fingerprints with the banded pigeonhole
    join — fingerprinting is map-side, pairing bucket-local, the same
    100 TB shape as SimHash text dedup.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # guide §4 — vectorize inside the worker: codepoints via
        # one utf-32-le reinterpret (identical to ord() per char —
        # python strs carry no surrogates) instead of a per-char
        # python list, and the bit-majority packs as one masked
        # power-of-two sum instead of a 63-iteration python loop.
        # Values bit-identical; max sum = 2^63 - 1 fits int64.
        powers = np.int64(1) << np.arange(bits, dtype=np.int64)
        for pdf in batches:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf["payload"]):
                cps = np.frombuffer(
                    bytes(payload).decode("utf-8").encode("utf-32-le"),
                    dtype=np.uint32,
                ).astype(np.int64)
                if cps.size < 2:
                    continue
                pairs = (cps[:-1] * 31 + cps[1:]) % bits
                hist = np.bincount(pairs, minlength=bits)
                total = int(hist.sum())
                ph = int(powers[hist.astype(np.int64) * bits > total].sum())
                ids.append(i)
                hashes.append(ph)
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "phash": pd.array(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        op, schema=f"{id_col} long, phash long"
    )


def _png_pixels(payload: bytes):
    """Real PNG pixel decode, stdlib-only (zlib + numpy): parses the
    chunk stream, inflates the concatenated IDATs, and undoes the five
    scanline filters (None/Sub/Up/Average/Paeth per the PNG spec
    §9.2). Supports the formats a training corpus actually contains —
    8-bit gray / RGB / RGBA / palette, non-interlaced — and returns an
    (H, W) float64 grayscale array (BT.601 luma), or None if the
    payload is not a decodable PNG. JPEG (entropy-coded) goes through
    the PIL path in `_image_pixels`."""
    import zlib

    import numpy as np

    if len(payload) < 33 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, idat, ihdr, plte = 8, [], None, None
    while pos + 8 <= len(payload):
        clen = int.from_bytes(payload[pos:pos + 4], "big")
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + clen]
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if ihdr is None or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, interlace = ihdr[8], ihdr[9], ihdr[12]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if (
        channels is None or bit_depth != 8 or interlace != 0
        or w <= 0 or h <= 0
    ):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) < h * (stride + 1):
        return None
    bpp = channels  # bytes per pixel at bit depth 8
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=pos + 1
        ).astype(np.int64)
        pos += stride + 1
        up = out[y - 1].astype(np.int64) if y > 0 else np.zeros(
            stride, dtype=np.int64)
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up
            rec = (line + up) & 0xFF
        else:
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = up[x]
                if ftype == 1:  # Sub
                    rec[x] = (line[x] + a) & 0xFF
                elif ftype == 3:  # Average
                    rec[x] = (line[x] + (a + b) // 2) & 0xFF
                elif ftype == 4:  # Paeth
                    c = up[x - bpp] if (x >= bpp and y > 0) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                    rec[x] = (line[x] + pr) & 0xFF
                else:
                    return None
        out[y] = rec.astype(np.uint8)
    px = out.reshape(h, w, channels)
    if color_type == 3:  # palette indices -> RGB
        if plte is None or len(plte) < 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = np.minimum(px[:, :, 0].astype(np.int64), len(pal) - 1)
        px = pal[idx]
        channels = 3
    if channels == 1:
        return px[:, :, 0].astype(np.float64)
    if channels == 2:  # gray + alpha
        return px[:, :, 0].astype(np.float64)
    r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
    return (299.0 * r + 587.0 * g + 114.0 * b) / 1000.0


def _bmp_pixels(payload: bytes):
    """Real BMP pixel decode (numpy): uncompressed 24/32-bit
    BITMAPINFOHEADER, BGR(A) rows padded to 4 bytes, bottom-up unless
    the height is negative. Returns (H, W) float64 grayscale or None."""
    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        return None
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
        return None
    nrows, bottom_up = abs(h), h > 0
    nbytes = bpp // 8
    stride = (w * nbytes + 3) & ~3
    if data_off + stride * nrows > len(payload):
        return None
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * nrows, offset=data_off
    ).reshape(nrows, stride)
    px = rows[:, : w * nbytes].reshape(nrows, w, nbytes)
    if bottom_up:
        px = px[::-1]
    b, g, r = (px[:, :, i].astype(np.float64) for i in range(3))
    return (299.0 * r + 587.0 * g + 114.0 * b) / 1000.0


def _pil_pixels(payload: bytes):
    """PIL-backed decode for entropy-coded formats (JPEG, WebP, ...),
    dependency-gated like the maxminddb GeoIP path: used when Pillow
    is importable, None otherwise (this container has no Pillow —
    tests/test_multimodal.py skip-gates the parity check)."""
    try:
        import io

        from PIL import Image  # noqa: PLC0415
    except ImportError:
        return None
    import numpy as np

    try:
        img = Image.open(io.BytesIO(bytes(payload)))
        return np.asarray(img.convert("L"), dtype=np.float64)
    except Exception:
        return None


def _image_pixels(payload: bytes, media_type: str):
    """Pixel-decode dispatch: pure-numpy PNG/BMP decoders first (no
    external deps), PIL for everything else when present. Returns an
    (H, W) float64 grayscale array or None for undecodable payloads."""
    payload = bytes(payload)
    px = None
    if media_type == "image/png" or payload[:8] == b"\x89PNG\r\n\x1a\n":
        px = _png_pixels(payload)
    elif media_type == "image/bmp" or payload[:2] == b"BM":
        px = _bmp_pixels(payload)
    if px is None:
        px = _pil_pixels(payload)
    return px


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (type-II, norm='ortho'): the matrix
    C with C[k, j] = s_k * cos(pi * (2j + 1) * k / (2n)), so a 2-D DCT
    is C @ img @ C.T — pure numpy, no scipy in this container."""
    import numpy as np

    j = np.arange(n, dtype=np.float64)
    k = j.reshape(-1, 1)
    C = np.cos(np.pi * (2.0 * j + 1.0) * k / (2.0 * n))
    C[0] *= np.sqrt(1.0 / n)
    C[1:] *= np.sqrt(2.0 / n)
    return C


def _resize_area(img, size: int):
    """Deterministic box resize to (size, size): rows/cols are split
    into `size` contiguous blocks (linspace boundaries) and each
    output cell is the mean of its block — the low-pass front of the
    classic pHash pipeline, numpy-only."""
    import numpy as np

    h, w = img.shape
    if h < size or w < size:  # upscale tiny images by repetition
        img = np.repeat(
            np.repeat(img, -(-size // h), axis=0), -(-size // w), axis=1
        )
        h, w = img.shape
    rb = np.linspace(0, h, size + 1).astype(np.int64)
    cb = np.linspace(0, w, size + 1).astype(np.int64)
    out = np.empty((size, size), dtype=np.float64)
    csum = np.cumsum(np.cumsum(img, axis=0), axis=1)
    pad = np.zeros((h + 1, w + 1), dtype=np.float64)
    pad[1:, 1:] = csum
    for i in range(size):
        r0, r1 = rb[i], max(rb[i + 1], rb[i] + 1)
        area_rows = r1 - r0
        blk = (
            pad[r1, cb[1:]] - pad[r0, cb[1:]]
            - pad[r1, cb[:-1]] + pad[r0, cb[:-1]]
        )
        widths = np.maximum(cb[1:] - cb[:-1], 1)
        out[i] = blk / (area_rows * widths)
    return out


def dct_phash_bits(img, hash_size: int = 8, highfreq_factor: int = 4) -> int:
    """The classic pHash: box-resize the grayscale image to
    (hash_size * highfreq_factor)^2, 2-D orthonormal DCT-II, keep the
    top-left hash_size x hash_size low-frequency block, drop the DC
    term, and set bit b iff coefficient b exceeds the MEDIAN of the
    block — 63 bits for the default 8x8, so the hash stays positive
    in an int64 (the `media_phash` convention). numpy float64
    throughout: deterministic on any IEEE platform."""
    import numpy as np

    size = hash_size * highfreq_factor
    small = _resize_area(np.asarray(img, dtype=np.float64), size)
    C = _dct_matrix(size)
    coefs = (C @ small @ C.T)[:hash_size, :hash_size].ravel()[1:]
    med = float(np.median(coefs))
    ph = 0
    for b, c in enumerate(coefs):
        if float(c) > med:
            ph |= 1 << b
    return ph


def image_phash(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """REAL perceptual hash over image payloads at the same
    mapInPandas seam as `media_phash`: pixel decode (pure-numpy
    PNG/BMP; PIL for JPEG when installed) -> 32x32 box resize ->
    2-D DCT-II -> 8x8 low-frequency block -> median threshold ->
    63-bit fingerprint. Undecodable payloads are dropped (a corrupt
    image has no perceptual content to hash; callers left-join to
    find them). Output contract matches `media_phash` exactly —
    (id, phash int64) — so `operators.dedup.hamming_pairs` banding
    and the downstream dedup shape are identical.

    Scale: fingerprinting is embarrassingly map-side (one Arrow batch
    in, one int64 column out; payload bytes never shuffle), pairing
    stays bucket-local in the pigeonhole band join."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, payload, mt in zip(
                pdf[id_col], pdf["payload"], pdf["media_type"]
            ):
                px = _image_pixels(payload, mt)
                if px is None or px.size == 0:
                    continue
                ids.append(i)
                hashes.append(dct_phash_bits(px))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "phash": pd.array(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, "payload", "media_type").mapInPandas(
        op, schema=f"{id_col} long, phash long"
    )


def featurize_media(
    df: DataFrame, id_col: str = "doc_id", dim: int = 64
) -> DataFrame:
    """Feature-extraction stage: opaque payload bytes -> fixed-dim
    embedding, Arrow batch by Arrow batch. The featurizer here is a
    deterministic L2-normalized byte histogram (no vision/audio models
    in this container); a real CLIP/wav2vec encoder swaps in at the
    same `mapInPandas` seam with the identical (id, payload) ->
    (id, array<double>) contract and batch shape.

    This completes the multimodal training-data path: decode ->
    featurize -> ANN/dedup over the embedding column (the downstream
    operators are the similarity family — see
    test_multimodal_to_ann_pipeline).
    """
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for payload in pdf["payload"]:
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                h = np.bincount(b % dim, minlength=dim).astype(np.float64)
                n = np.linalg.norm(h)
                vecs.append((h / n if n else h).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    return df.select(id_col, "payload").mapInPandas(
        op, schema=f"{id_col} long, embedding array<double>"
    )
