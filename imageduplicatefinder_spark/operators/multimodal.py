"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The reference decodes images with ImageIO + EXIF normalization
(ref: src/main/java/core/ImageLoader.java:7-12, core/Exif.java:62-75)
before hashing. ``decode="real"`` is import-guarded on PIL: when
Pillow is installed it decodes, EXIF-transposes, grayscales and
resizes to an 8x8 luminance block (64 floats — exactly the block
``phash64`` consumes, so the black-image -> sketch 0 / constant-image
-> sketch 1 reference goldens hold end-to-end,
ref: src/test/java/hash/PHashDctTest.java:49-99); without PIL it
raises NotImplementedError (this container ships no codecs — the
gate is honest, and the PIL tests skip). ``decode="fake"`` produces a
deterministic feature vector derived from the bytes so the Spark-side
plumbing — schema, partitioning, UDF signature, Arrow batch shape —
is fully real and tested everywhere.

``decode="bmp"`` is a third, ALWAYS-AVAILABLE real decode: a pure
struct+numpy reader for uncompressed BMP (BI_RGB, 8/24/32 bpp,
bottom-up and top-down) — BMP is on the reference's own extension list
(ref: app/Commands.java:74) and needs no codec library, so the
black-image -> sketch 0 / constant-image -> sketch 1 pHash goldens and
a perturbation-family E2E run unconditionally in containers without
Pillow. Luminance is ITU-R BT.601 (the same weights PIL's "L" uses);
the 8x8 resample is half-pixel-center bilinear. Cross-library
bit-exactness is a non-goal (the reference's AWT bilinear has no
portable spec either) — the goldens and family tests pin THIS kernel.
``encode_bmp`` is the matching writer, used by fixtures and the
media-rendering queries.

``decode="png"`` (round 5) extends the always-available tier to a
COMPRESSED codec using only the stdlib: a zlib+struct+numpy reader for
8-bit non-interlaced PNGs (gray/RGB/palette/alpha color types, all
five scanline filters) — png is likewise on the reference's extension
list (ref: app/Commands.java:74). ``decode="jpeg"`` (round 5) covers
the rest of that list with a from-spec baseline-sequential JPEG reader
(operators/jpeg.py: canonical Huffman, dequant, IDCT, restart markers,
generic chroma sampling — luminance-only output). ``decode="auto"``
sniffs magic bytes per row and dispatches BMP/PNG/JPEG, mirroring the
reference's per-extension fan-in to one decode call. ``encode_png`` /
``encode_jpeg`` are the matching writers.

Schema conventions:
    media table:    id:long, kind:string, meta:struct<...>, data:binary
    features out:   id:long, kind:string, width:int, height:int,
                    feature:array<float>  (fixed FEATURE_DIM)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.operators.jpeg import decode_jpeg

FEATURE_DIM = 32

#: real-decode feature length: an 8x8 grayscale block, row-major —
#: the exact input shape of phash64 (no padding/trim on this path)
REAL_FEATURE_DIM = 64

FEATURES_SCHEMA = (
    "id long, kind string, width int, height int, feature array<float>"
)

try:  # optional codec dependency — absent in the test container
    from PIL import Image as _PILImage  # noqa: N813

    HAS_PIL = True
except ImportError:  # pragma: no cover - exercised when PIL installed
    _PILImage = None
    HAS_PIL = False


def _fake_decode(data: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic stand-in for an image decode: derives a pseudo
    (width, height) and a FEATURE_DIM feature vector from the bytes.
    Replaces ``PIL.Image.open`` + resize (ref: core/Resize.java:6-13)."""
    if data is None or len(data) == 0:
        return 0, 0, np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(data, dtype=np.uint8)
    width = int(arr[: 4].sum()) % 1024 + 1
    height = int(arr[4:8].sum()) % 1024 + 1 if len(arr) > 4 else 1
    # bucket-mean "thumbnail": pad to a multiple of FEATURE_DIM, mean pool
    pad = (-len(arr)) % FEATURE_DIM
    padded = np.pad(arr, (0, pad)).astype(np.float32)
    feature = padded.reshape(FEATURE_DIM, -1).mean(axis=1)
    return width, height, feature


def _real_decode(data: bytes) -> tuple[int, int, np.ndarray]:
    """PIL decode (ref: core/ImageLoader.java:7-12): EXIF-orientation
    normalize (ref: core/Exif.java:62-75), luminance convert
    (ref: core/Gray.java:6-10), resize to the 8x8 block phash64 hashes
    (ref: core/Resize.java:6-13). A malformed payload degrades to the
    (0, 0, zeros) degenerate row — the per-file error-skip analog
    (ref: app/Commands.java:76-84) — instead of failing the task."""
    import io

    from PIL import ImageOps

    if data is None or len(data) == 0:
        return 0, 0, np.zeros(REAL_FEATURE_DIM, dtype=np.float32)
    try:
        img = _PILImage.open(io.BytesIO(bytes(data)))
        img = ImageOps.exif_transpose(img)
        width, height = img.size
        block = img.convert("L").resize((8, 8), _PILImage.BILINEAR)
        feature = np.asarray(block, dtype=np.float32).reshape(
            REAL_FEATURE_DIM
        )
        return width, height, feature
    except Exception:  # noqa: BLE001 - decode errors are per-row data errors
        return 0, 0, np.zeros(REAL_FEATURE_DIM, dtype=np.float32)


def _luma_exact(r: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    """BT.601 luminance with EXACT identity on true-gray pixels: where
    r == g == b the luminance of (v, v, v) IS v, but the weighted float
    sum is off by ~1 ulp for some byte values — enough to flip a pHash
    bit on an exact DCT/median tie. Routing equal-channel pixels
    through the identity makes all three codec paths (gray PNG/JPEG,
    RGB BMP/PNG) decode gray content to bit-identical planes (the
    invariant q_media_phash_pairs' mixed-format corpus relies on)."""
    eq = (r == g) & (g == b)
    rf = r.astype(np.float64)
    return np.where(
        eq, rf, 0.299 * rf + 0.587 * g.astype(np.float64)
        + 0.114 * b.astype(np.float64)
    )


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Write an (h, w, 3) uint8 RGB array — or (h, w) grayscale, which
    is replicated across channels — as a 24-bit uncompressed bottom-up
    BMP (BITMAPINFOHEADER). The writer half of the codec-free BMP path;
    round-trip pinned against ``decode_bmp`` in tests."""
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=-1)
    if px.ndim != 3 or px.shape[2] != 3 or px.shape[0] == 0 or px.shape[1] == 0:
        raise ValueError(f"encode_bmp wants (h, w[, 3]) uint8, got {px.shape}")
    h, w, _ = px.shape
    stride = ((24 * w + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[..., ::-1].reshape(h, w * 3)  # RGB -> BGR
    pix = rows[::-1].tobytes()  # bottom-up
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(pix), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return header + dib + pix


def decode_bmp(data: bytes) -> tuple[int, int, np.ndarray]:
    """Pure struct+numpy uncompressed-BMP reader (no codec library):
    BI_RGB only, 8 bpp (palette), 24 bpp (BGR) and 32 bpp (BGRA),
    bottom-up or top-down, any DIB header >= BITMAPINFOHEADER.

    Returns (width, height, gray) where ``gray`` is an (h, w) float64
    BT.601 luminance plane (0.299 R + 0.587 G + 0.114 B). Raises
    ValueError on anything that is not a well-formed uncompressed BMP —
    per-row error ISOLATION is the caller's job (``_bmp_decode``
    degrades to the (0, 0, zeros) row, ref: app/Commands.java:76-84).
    """
    import struct

    if data is None or len(data) < 54 or bytes(data[:2]) != b"BM":
        raise ValueError("not a BMP payload")
    data = bytes(data)
    (off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", data, 18)
    _planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) unsupported")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported bit depth {bpp}")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError(f"bad dimensions {w}x{h_raw}")
    stride = ((bpp * w + 31) // 32) * 4
    if len(data) < off + stride * h or off < 14 + hdr_size:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(data, dtype=np.uint8, count=stride * h,
                        offset=off).reshape(h, stride)
    if not top_down:
        raw = raw[::-1]
    if bpp == 8:
        pal_off = 14 + hdr_size
        n_pal = (off - pal_off) // 4
        if n_pal <= 0:
            raise ValueError("8 bpp BMP without a palette")
        pal = np.frombuffer(
            data, dtype=np.uint8, count=n_pal * 4, offset=pal_off
        ).reshape(n_pal, 4)[:, :3]  # B, G, R (X ignored)
        idx = raw[:, :w]
        if int(idx.max(initial=0)) >= n_pal:
            raise ValueError("palette index out of range")
        bgr = pal[idx]
    else:
        ch = bpp // 8
        bgr = raw[:, : w * ch].reshape(h, w, ch)[:, :, :3]
    return w, h, _luma_exact(bgr[..., 2], bgr[..., 1], bgr[..., 0])


#: PNG file signature (public spec: PNG (Second Edition), ISO/IEC 15948)
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels: np.ndarray) -> bytes:
    """Write an (h, w, 3) uint8 RGB array — or (h, w) grayscale — as an
    8-bit non-interlaced PNG using only stdlib zlib+struct (filter 0 on
    every scanline). The writer half of the codec-free PNG path;
    round-trip pinned against ``decode_png`` in tests."""
    import struct
    import zlib

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        ctype, raw = 0, px[:, :, None]
    elif px.ndim == 3 and px.shape[2] == 3:
        ctype, raw = 2, px
    else:
        raise ValueError(f"encode_png wants (h, w[, 3]) uint8, got {px.shape}")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError(f"encode_png wants non-empty pixels, got {px.shape}")
    body = b"".join(b"\x00" + raw[y].tobytes() for y in range(h))

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, np.ndarray]:
    """Pure stdlib zlib+struct+numpy PNG reader (no codec library):
    8-bit non-interlaced images, color types 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha) and 6 (RGBA); all five scanline filters
    (None/Sub/Up/Average/Paeth). Alpha is ignored (no compositing —
    luminance of the raw channel values, same convention as the BMP
    reader's 32-bpp path).

    Returns (width, height, gray) with ``gray`` an (h, w) float64
    BT.601 luminance plane. Raises ValueError on anything that is not a
    well-formed supported PNG — per-row error isolation is the caller's
    job (``_png_decode`` degrades to the (0, 0, zeros) row,
    ref: app/Commands.java:76-84; png is on the reference's extension
    list, app/Commands.java:74, decoded there via ImageIO,
    core/ImageLoader.java:7-12)."""
    import struct
    import zlib

    if data is None or len(data) < 8 or bytes(data[:8]) != _PNG_SIG:
        raise ValueError("not a PNG payload")
    data = bytes(data)
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        pos += 8
        if pos + ln + 4 > len(data):
            raise ValueError("truncated PNG chunk")
        payload = data[pos : pos + ln]
        pos += ln + 4  # payload + CRC (not verified: data errors surface
        # as zlib/shape failures below, which is the same per-row skip)
        if tag == b"IHDR":
            ihdr = payload
        elif tag == b"PLTE":
            plte = payload
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth}")
    if comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("unsupported compression/filter/interlace method")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"unsupported color type {ctype}")
    if w <= 0 or h <= 0 or w * h * nch > (1 << 28):
        # fingerprint-decode bound: a small header declaring a huge
        # image must fail as ValueError, never as a MemoryError that
        # escapes the per-row isolation (same posture as decode_jpeg)
        raise ValueError(f"bad or oversized dimensions {w}x{h}x{nch}")
    stride = w * nch
    expected = (stride + 1) * h
    # BOUNDED inflate: cap the output at expected+1 bytes so a zlib
    # bomb (tiny IDAT, huge decompressed stream) cannot materialize
    # arbitrary memory before the length check
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG pixel stream: {exc}") from exc
    if len(raw) != expected or d.unconsumed_tail:
        raise ValueError("bad PNG pixel payload length")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = arr[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = int(ftypes[y])
        cur = arr[y, 1:].astype(np.int64)
        if f == 0:
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f == 1:  # Sub: per-channel running sum mod 256, vectorized
            rec = np.cumsum(cur.reshape(-1, nch), axis=0).reshape(-1) & 0xFF
        elif f in (3, 4):  # Average / Paeth: serial left dependency
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                rec[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec
        prev = rec
    px = out.reshape(h, w, nch)
    if ctype == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG without a valid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        rgb = pal[idx]
    elif ctype in (0, 4):
        return w, h, px[:, :, 0].astype(np.float64)
    else:
        rgb = px[:, :, :3]
    return w, h, _luma_exact(rgb[..., 0], rgb[..., 1], rgb[..., 2])


def bilinear_resize(gray: np.ndarray, out_h: int = 8,
                    out_w: int = 8) -> np.ndarray:
    """Half-pixel-center bilinear resample of a 2-D plane (the portable
    analog of the reference's AWT VALUE_INTERPOLATION_BILINEAR,
    ref: core/Resize.java:6-13). Deterministic, vectorized, edge-clamped."""
    h, w = gray.shape
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * w / out_w - 0.5
    y0f, x0f = np.floor(ys), np.floor(xs)
    wy, wx = ys - y0f, xs - x0f
    y0 = np.clip(y0f.astype(np.int64), 0, h - 1)
    y1 = np.clip(y0f.astype(np.int64) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(np.int64), 0, w - 1)
    x1 = np.clip(x0f.astype(np.int64) + 1, 0, w - 1)
    top = gray[y0][:, x0] * (1 - wx)[None, :] + gray[y0][:, x1] * wx[None, :]
    bot = gray[y1][:, x0] * (1 - wx)[None, :] + gray[y1][:, x1] * wx[None, :]
    return top * (1 - wy)[:, None] + bot * wy[:, None]


def _codec_decode(reader, data: bytes) -> tuple[int, int, np.ndarray]:
    """Codec-free real decode kernel over one stdlib reader: read ->
    BT.601 luminance -> 8x8 bilinear block (the exact input phash64
    consumes). Empty and malformed payloads degrade to the
    (0, 0, zeros) row — per-row error isolation
    (ref: app/Commands.java:76-84), same contract as ``_real_decode``."""
    if data is None or len(data) == 0:
        return 0, 0, np.zeros(REAL_FEATURE_DIM, dtype=np.float32)
    try:
        w, h, gray = reader(data)
        block = bilinear_resize(gray, 8, 8)
        return w, h, block.reshape(REAL_FEATURE_DIM).astype(np.float32)
    except ValueError:
        return 0, 0, np.zeros(REAL_FEATURE_DIM, dtype=np.float32)


def _bmp_decode(data: bytes) -> tuple[int, int, np.ndarray]:
    return _codec_decode(decode_bmp, data)


def _png_decode(data: bytes) -> tuple[int, int, np.ndarray]:
    return _codec_decode(decode_png, data)


def _jpeg_decode(data: bytes) -> tuple[int, int, np.ndarray]:
    return _codec_decode(decode_jpeg, data)


def _auto_decode(data: bytes) -> tuple[int, int, np.ndarray]:
    """Magic-byte dispatch over the codec-free readers — the in-engine
    analog of the reference's per-extension decode fan-in
    (extension regex app/Commands.java:74 -> one ImageIO.read,
    core/ImageLoader.java:7-12): 'BM' -> BMP, the PNG signature -> PNG,
    FFD8FF -> JPEG, anything else -> the degenerate (0, 0, zeros)
    row."""
    if data is not None and len(data) >= 8:
        head = bytes(data[:8])
        if head[:2] == b"BM":
            return _bmp_decode(data)
        if head == _PNG_SIG:
            return _png_decode(data)
        if head[:3] == b"\xff\xd8\xff":
            return _jpeg_decode(data)
    return 0, 0, np.zeros(REAL_FEATURE_DIM, dtype=np.float32)


def extract_features(media: DataFrame, decode: str = "fake") -> DataFrame:
    """media(id, kind, data:binary) -> per-item feature rows.

    ``mapInPandas`` so one Arrow batch is one numpy workload;
    ``decode="real"`` (needs Pillow), ``decode="bmp"`` / ``decode="png"``
    / ``decode="jpeg"`` (codec-free stdlib readers — always available),
    ``decode="auto"`` (magic-byte dispatch over the codec-free readers)
    and ``decode="fake"`` share the schema, batching and partitioning —
    only the per-row kernel differs.
    """
    if decode not in ("fake", "real", "bmp", "png", "jpeg", "auto"):
        raise ValueError(f"unknown decode mode {decode!r}")
    if decode == "real" and not HAS_PIL:
        # raise at PLAN time, driver-side: an executor-side surprise
        # after a long upstream job would be strictly worse
        raise NotImplementedError(
            "decode='real' requires Pillow, which is not installed in "
            "this environment; use decode='bmp'/'png'/'jpeg'/'auto' "
            "(codec-free) or decode='fake' for plumbing tests"
        )
    kernel = {"fake": _fake_decode, "real": _real_decode,
              "bmp": _bmp_decode, "png": _png_decode,
              "jpeg": _jpeg_decode, "auto": _auto_decode}[decode]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "kind": [], "width": [], "height": [], "feature": []}
            for _id, kind, data in zip(pdf["id"], pdf["kind"], pdf["data"]):
                w, h, feat = kernel(data)
                out["id"].append(_id)
                out["kind"].append(kind)
                out["width"].append(w)
                out["height"].append(h)
                out["feature"].append(feat)
            yield pd.DataFrame(out)

    return media.select("id", "kind", "data").mapInPandas(run, FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Video-frame-sampling analog over opaque bytes: emits one row per
    sampled "frame" offset (UDTF-like cardinality change via mapInPandas).
    Real frame extraction would replace the offset slicing with a
    demuxer call; the exploded schema and batch shape are the real part."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, offsets, checksums = [], [], []
            for _id, data in zip(pdf["id"], pdf["data"]):
                blob = data or b""
                for off in range(0, max(len(blob), 1), every_n_bytes):
                    chunk = blob[off : off + every_n_bytes]
                    ids.append(_id)
                    offsets.append(off)
                    words = np.frombuffer(
                        np.pad(np.frombuffer(chunk, dtype=np.uint8),
                               (0, (-len(chunk)) % 8)).tobytes(),
                        dtype=np.uint64,
                    )
                    checksums.append(int(words.sum()) & 0x7FFFFFFFFFFFFFFF)
            yield pd.DataFrame({"id": ids, "frame_offset": offsets,
                                "frame_checksum": checksums})

    return media.select("id", "data").mapInPandas(
        run, "id long, frame_offset long, frame_checksum long"
    )


def _dct8_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis C (C @ X @ C.T = 2-D DCT of X) —
    the numpy form of the reference's naive O(N^4) double loop
    (ref: src/main/java/hash/PHashDct.java:59-78)."""
    n = 8
    k = np.arange(n, dtype=np.float64)[:, None]
    i = np.arange(n, dtype=np.float64)[None, :]
    c = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    c[0] *= 1.0 / np.sqrt(2.0)
    return c


def phash64(
    features: DataFrame, id_col: str = "id", vec_col: str = "feature"
) -> DataFrame:
    """64-bit pHash-DCT sketch over decoded feature blocks
    (ref: src/main/java/hash/PHashDct.java:13-57): the feature vector is
    zero-padded/trimmed to an 8x8 block, 2-D DCT-II'd (one einsum per
    Arrow batch), the mean of the AC coefficients is taken skipping the
    DC term and |v| < 1e-9 entries (ref :45-48), and bit i is set iff
    coefficient i (INCLUDING the DC term, exactly as the reference's
    loop from i=0) exceeds that mean by > 1e-9, packed LSB-first
    (``bits |= 1L << i``, ref :51-56). An all-zero block -> sketch 0,
    matching the reference's black-image golden
    (ref: src/test/java/hash/PHashDctTest.java:49-60); a constant
    non-zero block has only DC energy -> sketch 1 (bit 0).

    Output: (id, phash:long). Pairs within a Hamming radius come from
    the generic bit-chunk LSH (operators/hamming_lsh.py) — no new join
    machinery.
    """
    basis = _dct8_basis()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "phash": []})
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if mat.ndim != 2:
                # ragged feature lengths would otherwise collapse to a
                # 1-D object array and silently drop the batch
                raise ValueError(
                    "phash64: feature vectors must all have the same "
                    "length within a batch (got ragged arrays)"
                )
            n, d = mat.shape
            if d < 64:
                mat = np.pad(mat, ((0, 0), (0, 64 - d)))
            else:
                mat = mat[:, :64]
            blocks = mat.reshape(n, 8, 8)
            dct = np.einsum("ij,njk,lk->nil", basis, blocks, basis)
            flat = dct.reshape(n, 64)
            flat[np.abs(flat) < 1e-9] = 0.0  # ref :38-41 noise zeroing
            ac = flat[:, 1:]
            valid = np.abs(ac) >= 1e-9
            cnt = valid.sum(axis=1)
            mean = np.where(
                cnt > 0, (ac * valid).sum(axis=1) / np.maximum(cnt, 1), 0.0
            )
            bits = (flat - mean[:, None] > 1e-9).astype(np.uint64)
            weights = np.left_shift(
                np.uint64(1), np.arange(64, dtype=np.uint64)
            )
            ph = (bits * weights[None, :]).sum(axis=1, dtype=np.uint64) \
                .view(np.int64)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(dtype=np.int64), "phash": ph}
            )

    return features.select(id_col, vec_col).mapInPandas(run, "id long, phash long")


def media_dedup_by_feature(
    features: DataFrame, threshold: float = 0.999, n_blocks: int = 8
) -> DataFrame:
    """Near-dup pairs among media items by feature cosine — routed
    through the embedding similarity machinery
    (``operators.similarity.blocked_cosine_pairs``): exact, no
    cartesian product, no driver collect. Zero-norm features (empty
    payloads) produce NaN cosine and fail the threshold, matching the
    old ``try_divide``-null semantics."""
    from imageduplicatefinder_spark.operators.similarity import blocked_cosine_pairs

    return blocked_cosine_pairs(
        features,
        threshold=threshold,
        id_col="id",
        vec_col="feature",
        n_blocks=n_blocks,
        out_a="id_a",
        out_b="id_b",
    )
