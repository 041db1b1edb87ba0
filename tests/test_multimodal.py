"""Multimodal binary-column plumbing: schema, Arrow batching, stubbed
decode dispatch."""

import hashlib

import pytest
from pyspark.sql import Row

from foxsec_pipeline_spark.operators.multimodal import (
    MEDIA_META_SCHEMA,
    _decode_payload,
    attach_binary_payload,
    binary_metadata,
    extract_media_metadata,
)


def test_binary_metadata_jvm_side(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="hello")])
    row = binary_metadata(attach_binary_payload(df)).collect()[0]
    assert row.byte_len == 5
    assert row.sha256 == hashlib.sha256(b"hello").hexdigest()


def test_extract_media_metadata_mapinpandas(spark):
    df = attach_binary_payload(
        spark.createDataFrame([Row(doc_id=1, text="hello"), Row(doc_id=2, text="x" * 700)])
    )
    out = extract_media_metadata(df)
    assert out.schema == MEDIA_META_SCHEMA
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].byte_len == 5
    assert rows[1].sha256 == hashlib.sha256(b"hello").hexdigest()
    # deterministic fake dims from the stub codec
    assert rows[2].width == 700 % 640 and rows[2].height == 700 % 480


def _minimal_png(w: int, h: int) -> bytes:
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x06\x00\x00\x00"
    return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR" + ihdr
            + b"\x00\x00\x00\x00")


def _minimal_jpeg(w: int, h: int) -> bytes:
    # SOI, APP0 (JFIF), SOF0 with one component, EOI
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = (b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01\x01\x11\x00")
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _minimal_wav(rate: int, channels: int) -> bytes:
    fmt = (b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
           + channels.to_bytes(2, "little") + rate.to_bytes(4, "little")
           + b"\x00" * 8)
    body = b"WAVE" + fmt + b"data" + (0).to_bytes(4, "little")
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_decode_real_header_codecs():
    """Header-level byte-layout parsers (no image libs), golden per
    format; corrupt/unknown payloads fall back to the length fake."""
    assert _decode_payload(_minimal_png(640, 480), "image/png") == {
        "width": 640, "height": 480}
    assert _decode_payload(_minimal_jpeg(1920, 1080), "image/jpeg") == {
        "width": 1920, "height": 1080}
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert _decode_payload(gif + b"\x00" * 4, "image/gif") == {
        "width": 320, "height": 200}
    bmp = (b"BM" + b"\x00" * 16
           + (800).to_bytes(4, "little", signed=True)
           + (-600).to_bytes(4, "little", signed=True))  # top-down rows
    assert _decode_payload(bmp, "image/bmp") == {"width": 800, "height": 600}
    assert _decode_payload(_minimal_wav(44100, 2), "audio/wav") == {
        "width": 44100, "height": 2}
    # corrupt image -> deterministic fallback, never an exception
    assert _decode_payload(b"\x89PNG", "image/png") == {"width": 4, "height": 4}


def test_decode_real_codecs_through_mapinpandas(spark):
    """The real codecs must run inside the distributed decode stage,
    not just as local functions."""
    rows = [
        Row(doc_id=1, payload=bytearray(_minimal_png(12, 34)),
            media_type="image/png"),
        Row(doc_id=2, payload=bytearray(_minimal_jpeg(56, 78)),
            media_type="image/jpeg"),
        Row(doc_id=3, payload=bytearray(_minimal_wav(16000, 1)),
            media_type="audio/wav"),
    ]
    out = {r.doc_id: r for r in
           extract_media_metadata(spark.createDataFrame(rows)).collect()}
    assert (out[1].width, out[1].height) == (12, 34)
    assert (out[2].width, out[2].height) == (56, 78)
    assert (out[3].width, out[3].height) == (16000, 1)


def test_sample_frames_flatmap_shape(spark):
    from foxsec_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )
    from foxsec_pipeline_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", "documents")["documents"]
    frames = sample_frames(
        attach_binary_payload(docs.limit(20)), every_n_bytes=64, max_frames=4
    )
    rows = frames.collect()
    assert 20 <= len(rows) <= 80  # 1..4 frames per doc
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did, fr in by_doc.items():
        idx = sorted(f.frame_index for f in fr)
        assert idx == list(range(len(fr)))  # dense frame indices
        assert all(f.frame_sha256 and len(f.frame_sha256) == 64 for f in fr)
    # determinism
    again = sample_frames(
        attach_binary_payload(docs.limit(20)), every_n_bytes=64, max_frames=4
    ).collect()
    assert {(r.doc_id, r.frame_index, r.frame_sha256) for r in rows} == {
        (r.doc_id, r.frame_index, r.frame_sha256) for r in again
    }


def test_multimodal_to_ann_pipeline(spark):
    """The full multimodal training-data path composes end-to-end:
    binary payloads -> Arrow featurize (byte-histogram embedding; a
    real encoder swaps in at the same seam) -> ANN top-k over the
    embedding column. Deterministic across runs. An empty payload
    featurizes to the zero vector, which scores cosine 0.0 against
    everything instead of failing the query."""
    import numpy as np
    from pyspark.sql import functions as F

    from foxsec_pipeline_spark.operators.multimodal import featurize_media
    from foxsec_pipeline_spark.operators.similarity import cosine_topk
    from foxsec_pipeline_spark.session import load_tables

    empty_id = 10**9
    docs = load_tables(spark, "/root/testdata/sf0.001", "documents")["documents"]
    docs = docs.select("doc_id", "text").limit(49).unionByName(
        spark.createDataFrame([(empty_id, "")], "doc_id long, text string")
    )
    emb = featurize_media(attach_binary_payload(docs))
    ep = emb.toPandas().sort_values("doc_id")
    # unit-norm embeddings out of the featurizer, zero for the empty one
    norms = dict(zip(ep["doc_id"], (np.linalg.norm(v) for v in ep["embedding"])))
    assert norms.pop(empty_id) == 0.0
    assert all(abs(n - 1.0) < 1e-9 for n in norms.values())
    qids = [*ep["doc_id"].head(5), empty_id]
    queries = emb.where(F.col("doc_id").isin(qids))
    rows = cosine_topk(queries, emb, id_col="doc_id", k=3).collect()
    assert len(rows) == 18  # 6 queries x k=3
    assert all(1 <= r.rank <= 3 and -1.0 <= r.cosine <= 1.0 for r in rows)
    assert [r.cosine for r in rows if r.query_id == empty_id] == [0.0] * 3
    again = {(r.query_id, r.neighbor_id, r.rank) for r in cosine_topk(
        queries, emb, id_col="doc_id", k=3
    ).collect()}
    assert {(r.query_id, r.neighbor_id, r.rank) for r in rows} == again
    # with every neighbor kept, the zero vector is in each query's list
    everyone = cosine_topk(queries, emb, id_col="doc_id", k=50).collect()
    assert sorted(
        (r.query_id, r.cosine) for r in everyone if r.neighbor_id == empty_id
    ) == [(q, 0.0) for q in qids[:5]]


def test_media_phash_near_dup_properties(spark):
    """media_phash + hamming_pairs: identical payloads collapse to
    hamming 0; a small perturbation stays within the mined radius; an
    unrelated payload pairs with neither; sub-2-codepoint payloads
    are dropped."""
    from pyspark.sql import functions as F

    from foxsec_pipeline_spark.operators.dedup import hamming_pairs
    from foxsec_pipeline_spark.operators.multimodal import media_phash

    base = "the quick brown fox jumps over the lazy dog " * 20
    rows = [
        (1, base), (2, base),                       # exact dup
        (3, base[:-9] + "lazy cat "),               # near dup
        (4, "".join(chr(33 + (i * 7) % 90) for i in range(800))),  # far
        (5, "x"),                                   # too short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
    )
    fp = media_phash(df)
    got = {r["doc_id"]: r["phash"] for r in fp.collect()}
    assert 5 not in got and len(got) == 4
    assert got[1] == got[2]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in hamming_pairs(
            fp, hash_col="phash", bits=63, bands=3, max_hamming=2
        ).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


# ---------- real pixel decode + DCT pHash (round 7) ----------

def _encode_png(px, color_type=0, filters=None):
    """Minimal in-test PNG encoder (stdlib zlib): px is an (H, W)
    uint8 array for gray (color_type 0) or (H, W, 3) for RGB
    (color_type 2). `filters` optionally forces a per-row filter type
    to exercise the decoder's unfiltering paths; encoding applies the
    exact inverse of the spec's reconstruction functions."""
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        h, w = px.shape
        ch = 1
        rows = px.reshape(h, w)
    else:
        h, w, ch = px.shape
        rows = px.reshape(h, w * ch)
    bpp = ch
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        line = rows[y].astype(np.int64)
        ft = filters[y]
        raw.append(ft)
        enc = np.empty_like(line)
        for x in range(len(line)):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                enc[x] = line[x]
            elif ft == 1:
                enc[x] = (line[x] - a) & 0xFF
            elif ft == 2:
                enc[x] = (line[x] - b) & 0xFF
            elif ft == 3:
                enc[x] = (line[x] - (a + b) // 2) & 0xFF
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (line[x] - pr) & 0xFF
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _encode_bmp(gray):
    """Minimal in-test 24-bit BMP encoder: B=G=R=v so the decoder's
    BT.601 luma recovers v exactly ((299+587+114)/1000 == 1)."""
    import numpy as np

    gray = np.asarray(gray, dtype=np.uint8)
    h, w = gray.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            v = int(gray[y, x])
            row += bytes([v, v, v])
        row += b"\x00" * (stride - len(row))
        body += row
    data_off = 14 + 40
    size = data_off + len(body)
    hdr = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return hdr + bytes(body)


def _test_image(h=40, w=48, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    # smooth-ish structured image: gradient + blocky noise (a pure
    # random field has no low-frequency structure for a pHash to key on)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 3 + xx * 2) % 256
    noise = rng.integers(0, 64, size=(h // 8 + 1, w // 8 + 1))
    noise = np.repeat(np.repeat(noise, 8, axis=0), 8, axis=1)[:h, :w]
    return ((base + noise) % 256).astype(np.uint8)


def test_png_decode_all_filters_roundtrip():
    """The pure-numpy PNG decoder recovers exact pixels through every
    scanline filter type (0=None 1=Sub 2=Up 3=Average 4=Paeth), for
    gray and RGB."""
    import numpy as np

    from foxsec_pipeline_spark.operators.multimodal import _png_pixels

    gray = _test_image(10, 12)
    for ft in range(5):
        got = _png_pixels(_encode_png(gray, filters=[ft] * 10))
        assert got is not None
        np.testing.assert_array_equal(got, gray.astype(np.float64))
    # mixed filters + RGB (luma = (299R+587G+114B)/1000)
    rgb = np.stack([gray, gray // 2, gray // 3], axis=-1)
    got = _png_pixels(_encode_png(rgb, color_type=2,
                                  filters=[0, 1, 2, 3, 4] * 2))
    want = (
        299.0 * rgb[:, :, 0] + 587.0 * rgb[:, :, 1] + 114.0 * rgb[:, :, 2]
    ) / 1000.0
    np.testing.assert_allclose(got, want)


def test_bmp_decode_roundtrip():
    import numpy as np

    from foxsec_pipeline_spark.operators.multimodal import _bmp_pixels

    gray = _test_image(9, 11)  # odd width exercises row padding
    got = _bmp_pixels(_encode_bmp(gray))
    np.testing.assert_array_equal(got, gray.astype(np.float64))


def test_dct_phash_properties():
    """Classic pHash invariants: identical pixels hash identically
    across containers (PNG vs BMP of the same image); a small local
    perturbation moves few bits; a structurally different image is
    far in hamming distance."""
    import numpy as np

    from foxsec_pipeline_spark.operators.multimodal import (
        _bmp_pixels,
        _png_pixels,
        dct_phash_bits,
    )

    img = _test_image()
    h_png = dct_phash_bits(_png_pixels(_encode_png(img)))
    h_bmp = dct_phash_bits(_bmp_pixels(_encode_bmp(img)))
    assert h_png == h_bmp
    assert 0 <= h_png < (1 << 63)

    near = img.copy()
    near[:4, :4] = 255  # small local blotch
    h_near = dct_phash_bits(near.astype(np.float64))
    far = _test_image(seed=99).T.copy()  # different noise + transpose
    h_far = dct_phash_bits(np.asarray(far, dtype=np.float64))

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(h_png, h_near) <= 10
    assert ham(h_png, h_far) >= 16
    assert ham(h_png, h_near) < ham(h_png, h_far)


def test_image_phash_spark_pipeline(spark):
    """image_phash through mapInPandas + hamming_pairs: exact dup
    (same pixels, different container) at distance 0, near dup within
    the band budget, undecodable payloads dropped."""
    from foxsec_pipeline_spark.operators.dedup import hamming_pairs
    from foxsec_pipeline_spark.operators.multimodal import image_phash

    img = _test_image()
    near = img.copy()
    near[:2, :2] = 255
    rows = [
        (1, bytearray(_encode_png(img)), "image/png"),
        (2, bytearray(_encode_bmp(img)), "image/bmp"),
        (3, bytearray(_encode_png(near)), "image/png"),
        (4, bytearray(b"not an image at all"), "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string"
    )
    fp = image_phash(df)
    got = {r["doc_id"]: r["phash"] for r in fp.collect()}
    assert 4 not in got and len(got) == 3
    assert got[1] == got[2]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in hamming_pairs(
            fp, hash_col="phash", bits=63, bands=3, max_hamming=2
        ).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_image_phash_pil_parity():
    """When Pillow is installed, the PIL decode path must agree with
    the pure-numpy PNG decoder (skip-gated: this container has no
    Pillow — the maxminddb precedent)."""
    import pytest

    try:
        import PIL  # noqa: F401
    except ImportError:
        pytest.skip("Pillow not installed in this container")
    import numpy as np

    from foxsec_pipeline_spark.operators.multimodal import (
        _pil_pixels,
        _png_pixels,
        dct_phash_bits,
    )

    img = _test_image()
    png = _encode_png(img)
    ours = _png_pixels(png)
    pils = _pil_pixels(png)
    assert pils is not None
    # PIL's L-mode luma rounds; hashes must still agree bit-for-bit
    assert np.abs(ours - pils).max() <= 1.0
    assert dct_phash_bits(ours) == dct_phash_bits(pils)
