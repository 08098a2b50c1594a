"""Deterministic image codecs + comparison oracles. Pure numpy + stdlib.

The container has no PIL/imagecodecs, so the engine ships its own codecs:

 - ``raw``: uint8 C-order (h, w, bands) — lossless, zero-copy.
 - ``png``: a real PNG encoder/decoder (zlib + CRC32, filter 0 written,
   filters 0-4 decoded) — lossless, byte-deterministic.
 - ``jpg``: a JPEG-class lossy codec — 8×8 blockwise DCT-II, standard
   JPEG luminance quantization table scaled by quality, zlib-packed
   coefficients. The container is NOT JFIF (libjpeg is unavailable here);
   the rate/distortion behaviour is the real thing, so the per-row
   invariant "decoded-pixel allclose, PSNR≥40 dB for lossy" is exercised
   for real. Pinned settings: quality=90, no subsampling.

Comparison oracles mirror the reference's own tolerance comparators
``are_imgs_equal`` / ``are_img_bands_equal``
(``python/rsgislib/imagecalc/__init__.py:1408-1557``).
"""

from __future__ import annotations

import struct
import zlib
from binascii import crc32

import numpy as np

# ----------------------------------------------------------------- raw


def encode_raw(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


def decode_raw(buf: bytes, h: int, w: int, bands: int = 1) -> np.ndarray:
    a = np.frombuffer(buf, dtype=np.uint8, count=h * w * bands)
    return a.reshape((h, w) if bands == 1 else (h, w, bands))


# ----------------------------------------------------------------- png

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, level: int = 1) -> bytes:
    """8-bit grayscale (h,w) or RGB (h,w,3) PNG, filter 0. Deflate level
    defaults to 1 (fastest): the PNG container permits any level, decode
    cost is level-independent, and the encode stage sits inside timed
    windows (the in-plan bytes-table stand-in feeding q91) where level 6
    halves throughput for ~30% smaller payloads nobody stores."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color_type, nch = 0, 1
        h, w = arr.shape
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color_type, nch = 2, 3
        h, w = arr.shape[:2]
    else:
        raise ValueError(f"unsupported array shape {arr.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = arr.reshape(h, w * nch)
    scan = np.empty((h, w * nch + 1), dtype=np.uint8)
    scan[:, 0] = 0  # filter type 0 per scanline
    scan[:, 1:] = raw
    idat = zlib.compress(scan.tobytes(), level)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(buf: bytes) -> np.ndarray:
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a png")
    off = 8
    idat = bytearray()
    w = h = bit_depth = color_type = None
    while off < len(buf):
        (length,) = struct.unpack_from(">I", buf, off)
        tag = buf[off + 4 : off + 8]
        data = buf[off + 8 : off + 8 + length]
        off += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack_from(">IIBB", data, 0)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if bit_depth != 8 or color_type not in (0, 2):
        raise ValueError("only 8-bit gray/rgb supported")
    nch = 1 if color_type == 0 else 3
    stride = w * nch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8).reshape(h, stride + 1)
    ftypes = raw[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    if (ftypes == 0).all():  # fast path (what we write)
        out[:] = raw[:, 1:]
    else:  # full filter reconstruction, scanline at a time
        bpp = nch
        prev = np.zeros(stride, dtype=np.int32)
        for r in range(h):
            f = ftypes[r]
            cur = raw[r, 1:].astype(np.int32)
            if f == 0:
                rec = cur
            elif f == 1:  # Sub
                rec = cur.copy()
                for i in range(bpp, stride):
                    rec[i] = (rec[i] + rec[i - bpp]) & 0xFF
            elif f == 2:  # Up
                rec = (cur + prev) & 0xFF
            elif f == 3:  # Average
                rec = cur.copy()
                for i in range(stride):
                    a = rec[i - bpp] if i >= bpp else 0
                    rec[i] = (rec[i] + ((a + prev[i]) >> 1)) & 0xFF
            elif f == 4:  # Paeth
                rec = cur.copy()
                for i in range(stride):
                    a = rec[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[i] = (rec[i] + pr) & 0xFF
            else:
                raise ValueError(f"bad filter {f}")
            out[r] = rec.astype(np.uint8)
            prev = rec
    return out.reshape((h, w) if nch == 1 else (h, w, nch))


# ------------------------------------------------------------ lossy (DCT)

# Standard JPEG luminance quantization table (Annex K, public).
_JPEG_LUMA_Q = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)

_DCT_MAGIC = b"RSDC1\x00"


def _qtable(quality: int) -> np.ndarray:
    q = max(1, min(100, int(quality)))
    scale = 5000 / q if q < 50 else 200 - 2 * q
    t = np.floor((_JPEG_LUMA_Q * scale + 50) / 100)
    return np.clip(t, 1, 255)


def _dct_mat() -> np.ndarray:
    n = 8
    k = np.arange(n)
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


_DCT_M = _dct_mat()
_DCT_M32 = _dct_mat().astype(np.float32)


def _blockify(img: np.ndarray):
    h, w = img.shape
    H = (h + 7) // 8 * 8
    W = (w + 7) // 8 * 8
    pad = np.pad(img.astype(np.float64), ((0, H - h), (0, W - w)), mode="edge")
    b = pad.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    return b, H, W


def encode_dct(arr: np.ndarray, quality: int = 90) -> bytes:
    """Lossy encode one channel or (h,w,c) uint8 image."""
    arr = np.asarray(arr, dtype=np.uint8)
    chans = [arr] if arr.ndim == 2 else [arr[:, :, i] for i in range(arr.shape[2])]
    h, w = arr.shape[:2]
    nch = len(chans)
    q = _qtable(quality)
    payload = []
    for ch in chans:
        b, H, W = _blockify(ch)
        # M · B · Mᵀ as broadcast matmuls (BLAS-batched — the naive
        # 3-operand einsum contracts without BLAS and was the decode
        # bench's hot spot)
        coeff = _DCT_M @ (b - 128.0) @ _DCT_M.T
        qc = np.round(coeff / q).astype(np.int16)
        payload.append(qc.tobytes())
    body = zlib.compress(b"".join(payload), 6)
    head = _DCT_MAGIC + struct.pack("<HHBB", h, w, nch, quality)
    return head + body


def _idct_blocks_u8(qc_flat: np.ndarray, q32: np.ndarray) -> np.ndarray:
    """Inverse-DCT a flat (n·64,) int16 coefficient run to uint8 blocks
    shaped (n, 8, 8) stored BLOCK-TRANSPOSED (column-major within each
    block) — callers fix orientation in the spatial assembly transpose.

    Two flat (n·8, 8)×(8, 8) GEMMs instead of a stacked (n,8,8) matmul:
    numpy's broadcast matmul dispatches one tiny GEMM per block (~100×
    slower than a single flat GEMM at these shapes — measured in the
    decode bench). float32 throughout: consumers are tolerance-gated
    (PSNR invariants), pixel drift vs the float64 path is ≤1 LSB."""
    X = qc_flat.astype(np.float32).reshape(-1, 8, 8)
    X *= q32
    n = X.shape[0]
    # P = X @ M  (one GEMM over all blocks)
    P = (X.reshape(-1, 8) @ _DCT_M32).reshape(n, 8, 8)
    # Q = Pᵀ @ M per block (= (Mᵀ X M)ᵀ) — one more flat GEMM
    Pt = np.ascontiguousarray(P.transpose(0, 2, 1))
    Q = Pt.reshape(-1, 8) @ _DCT_M32
    Q += 128.0
    np.rint(Q, out=Q)
    np.clip(Q, 0.0, 255.0, out=Q)
    return Q.astype(np.uint8).reshape(n, 8, 8)


def _assemble_dct(u8t: np.ndarray, h: int, w: int, H: int, W: int) -> np.ndarray:
    """Spatial assembly of block-transposed uint8 blocks: dims are
    (by, bx, col, row) → (by, row, bx, col) → (H, W) crop."""
    b4 = u8t.reshape(H // 8, W // 8, 8, 8)
    return b4.transpose(0, 3, 1, 2).reshape(H, W)[:h, :w]


def decode_dct(buf: bytes) -> np.ndarray:
    if buf[:6] != _DCT_MAGIC:
        raise ValueError("not an RSDC lossy payload")
    h, w, nch, quality = struct.unpack_from("<HHBB", buf, 6)
    q32 = _qtable(quality).astype(np.float32)
    H = (h + 7) // 8 * 8
    W = (w + 7) // 8 * 8
    nblocks = (H // 8) * (W // 8)
    raw = zlib.decompress(buf[12:])
    out = []
    for c in range(nch):
        qc = np.frombuffer(raw, dtype=np.int16, count=nblocks * 64, offset=c * nblocks * 128)
        u8t = _idct_blocks_u8(qc, q32)
        out.append(_assemble_dct(u8t, h, w, H, W))
    return out[0] if nch == 1 else np.stack(out, axis=2)


# ----------------------------------------------- pluggable codec backends
#
# The in-house codecs above are the DEFAULT backend: deterministic,
# oracle-gated, always present. Real-world payloads (JFIF JPEG, exotic
# PNG variants) need a real codec library; the registry below probes
# for PIL / imagecodecs at first use and routes per payload — the
# operators are codec-agnostic, so deploying against real imagery is
# one `pip install pillow` away (the reference reaches the same seam
# through GDAL's driver registry: imageutils/__init__.py:609-640
# get_gdal_format_from_ext / gdal format dispatch).

_JFIF_MAGIC = b"\xff\xd8"


class _PILBackend:
    """Pillow-backed decode/encode for real containers (JFIF, any PNG)."""

    name = "pillow"

    def __init__(self):
        from PIL import Image  # noqa: F401 — probe

        self._Image = Image

    def can_decode(self, fmt: str, buf) -> bool:
        head = bytes(buf[:8])
        return (fmt == "jpg" and head[:2] == _JFIF_MAGIC) or (
            fmt == "png" and head == _PNG_SIG
        )

    def decode(self, buf, fmt: str) -> np.ndarray:
        import io

        img = self._Image.open(io.BytesIO(bytes(buf)))
        if img.mode in ("P", "PA"):
            # one index band: the colours live in the palette
            img = img.convert("RGB")
        elif img.mode not in ("L", "RGB"):
            img = img.convert("RGB" if len(img.getbands()) >= 3 else "L")
        return np.asarray(img)

    def can_encode(self, fmt: str) -> bool:
        return fmt in ("jfif", "png")

    def encode(self, arr: np.ndarray, fmt: str) -> bytes:
        import io

        out = io.BytesIO()
        pil_fmt = {"jfif": "JPEG", "png": "PNG"}[fmt]
        self._Image.fromarray(np.asarray(arr, dtype=np.uint8)).save(
            out, format=pil_fmt, quality=90
        )
        return out.getvalue()


class _ImagecodecsBackend:
    """imagecodecs-backed decode/encode (JFIF + PNG, numpy-native)."""

    name = "imagecodecs"

    def __init__(self):
        import imagecodecs

        self._ic = imagecodecs

    def can_decode(self, fmt: str, buf) -> bool:
        head = bytes(buf[:8])
        return (fmt == "jpg" and head[:2] == _JFIF_MAGIC) or (
            fmt == "png" and head == _PNG_SIG
        )

    def decode(self, buf, fmt: str) -> np.ndarray:
        if bytes(buf[:2]) == _JFIF_MAGIC:
            return self._ic.jpeg8_decode(bytes(buf))
        return self._ic.png_decode(bytes(buf))

    def can_encode(self, fmt: str) -> bool:
        return fmt in ("jfif", "png")

    def encode(self, arr: np.ndarray, fmt: str) -> bytes:
        a = np.asarray(arr, dtype=np.uint8)
        if fmt == "jfif":
            return self._ic.jpeg8_encode(a, level=90)
        return self._ic.png_encode(a)


#: Probed external backends, in preference order. ``None`` = not yet
#: probed (lazy: the probe imports third-party modules). Tests may
#: inject a fake backend by assigning a list here.
_EXTERNAL_BACKENDS: list | None = None


def external_backends() -> list:
    """External codec backends available in this environment (probed
    once). Empty in the sandbox (no PIL/imagecodecs); non-empty after
    ``pip install pillow`` or ``pip install imagecodecs`` at deploy."""
    global _EXTERNAL_BACKENDS
    if _EXTERNAL_BACKENDS is None:
        found = []
        for cls in (_PILBackend, _ImagecodecsBackend):
            try:
                found.append(cls())
            except Exception:
                pass
        _EXTERNAL_BACKENDS = found
    return _EXTERNAL_BACKENDS


def codec_capabilities() -> dict:
    """Format-capability probe: fmt → backend that will serve it.

    ``jpg`` decode is per-payload (container sniff): RSDC payloads
    always use the in-house path; JFIF payloads need an external
    backend. ``jfif`` encode exists only with an external backend."""
    ext = external_backends()
    ext_name = ext[0].name if ext else None
    return {
        "raw": "in-house",
        "png": "in-house",
        "jpg(rsdc)": "in-house",
        "jpg(jfif)": ext_name,
        "jfif_encode": ext_name,
    }


# --------------------------------------------------------------- dispatch


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    """Encode dispatch. In-house formats stay in-house (deterministic,
    oracle-gated — external encoders are not byte-reproducible across
    library versions); ``jfif`` requests a real JPEG via an external
    backend and raises when none is installed."""
    if fmt == "raw":
        return encode_raw(arr)
    if fmt == "png":
        return encode_png(arr)
    if fmt == "jpg":
        return encode_dct(arr, quality=90)
    for be in external_backends():
        if be.can_encode(fmt):
            return be.encode(arr, fmt)
    raise ValueError(f"unknown fmt {fmt!r} (no external codec backend for it)")


def decode_image(buf: bytes, fmt: str, h: int, w: int, bands: int = 1) -> np.ndarray:
    """Decode dispatch, per PAYLOAD not just per fmt string: the
    container magic decides the codec, so a table mixing RSDC and JFIF
    payloads under fmt='jpg' (or in-house and exotic PNGs) routes each
    row correctly."""
    if fmt == "raw":
        return decode_raw(buf, h, w, bands)
    if fmt == "png":
        try:
            return decode_png(bytes(buf))
        except (ValueError, zlib.error, struct.error):
            # non-8-bit / palette / interlaced variants, or a stream the
            # in-house inflate/chunk walk cannot read → real backend
            for be in external_backends():
                if be.can_decode(fmt, buf):
                    return be.decode(buf, fmt)
            raise
    if fmt == "jpg":
        if bytes(buf[:6]) == _DCT_MAGIC:
            return decode_dct(bytes(buf))
        for be in external_backends():
            if be.can_decode(fmt, buf):
                return be.decode(buf, fmt)
        raise ValueError(
            "jpg payload is not RSDC and no external codec backend is "
            "installed — `pip install pillow` (or imagecodecs) at deploy"
        )
    raise ValueError(f"unknown fmt {fmt!r}")


# --------------------------------------------------------- arrow helpers


def arrow_binary_views(arr) -> list:
    """Zero-copy memoryview per element of a pyarrow Binary/String array.

    The mapInArrow ingestion path for payload columns: converting a
    binary column to pandas materializes one Python bytes object per row
    (measured 4.4× slower end-to-end on the 50k-image decode bench);
    slicing the Arrow data buffer through the offsets buffer costs
    nothing. All codec decoders accept buffer objects."""
    import pyarrow as pa

    # large_binary/large_string (spark.sql.execution.arrow.useLargeVarTypes)
    # carries int64 offsets; reading them as int32 would interleave
    # low/high words and slice garbage.
    t = arr.type
    wide = pa.types.is_large_binary(t) or pa.types.is_large_string(t)
    off_dt = np.int64 if wide else np.int32
    if arr.null_count:
        # a null payload's offsets are degenerate (empty slice) — the
        # downstream decoder would fail with an opaque buffer-size error
        # (or worse, tolerate the empty buffer and emit garbage). Fail
        # here with the actual cause.
        raise ValueError(
            f"{arr.null_count} null payload row(s) in binary column; "
            "filter or repair null bytes before the decode operator"
        )
    bufs = arr.buffers()  # [validity, offsets, data]
    offs = np.frombuffer(bufs[1], dtype=off_dt)[arr.offset : arr.offset + len(arr) + 1]
    mv = memoryview(bufs[2])
    return [mv[offs[k] : offs[k + 1]] for k in range(len(arr))]


def arrow_batch_cols(b, *names) -> list:
    """Arrow-batch columns by name: binary columns become zero-copy
    views (:func:`arrow_binary_views`), ints and floats numpy, the rest
    python lists."""
    import pyarrow as pa

    byname = {n: b.column(i) for i, n in enumerate(b.schema.names)}
    out = []
    for n in names:
        arr = byname[n]
        t = arr.type
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            out.append(arrow_binary_views(arr))
        elif pa.types.is_integer(t) or pa.types.is_floating(t):
            out.append(arr.to_numpy(zero_copy_only=False))
        else:
            out.append(arr.to_pylist())
    return out


#: Most payload bytes one output RecordBatch of :func:`payload_batches`
#: carries — Arrow ``binary`` offsets are int32, so a batch is cut before
#: its payloads would pass 2³¹ − 1 bytes.
MAX_PAYLOAD_BATCH_BYTES = 2**31 - 1


def payload_batches(schema, cols: dict, sizes, data, limit: int):
    """Output RecordBatches of a 1 → N payload operator (tiles, frames).

    ``schema`` is the pyarrow output schema; ``cols`` holds its non-payload
    columns (arrays, or Arrow arrays such as a ``take`` of an input
    column), ``sizes`` each row's payload bytes and ``data`` all payloads
    as one contiguous uint8 array. The one column missing from ``cols``
    leaves as an Arrow binary array over ``data`` (int32 offsets from the
    cumulative sizes): no per-row Python bytes objects. A batch is cut
    before its payloads pass ``limit`` bytes; one payload larger than
    ``limit`` raises."""
    import pyarrow as pa

    arrs = {
        f.name: cols[f.name].cast(f.type) if isinstance(cols[f.name], pa.Array)
        else pa.array(cols[f.name], f.type)
        for f in schema if f.name in cols
    }
    cum = np.concatenate(([0], np.cumsum(sizes, dtype=np.int64)))
    buf = pa.py_buffer(data)
    s = 0
    while s < len(cum) - 1:
        e = int(np.searchsorted(cum, cum[s] + limit, "right")) - 1
        if e == s:
            raise ValueError(
                f"one {int(cum[s + 1] - cum[s])}-byte payload exceeds the "
                f"{limit}-byte output batch limit"
            )
        payload = pa.BinaryArray.from_buffers(
            pa.binary(), e - s,
            [None, pa.py_buffer((cum[s : e + 1] - cum[s]).astype(np.int32)),
             buf.slice(int(cum[s]), int(cum[e] - cum[s]))],
        )
        yield pa.RecordBatch.from_arrays(
            [arrs[f.name].slice(s, e - s) if f.name in arrs else payload for f in schema],
            schema=schema,
        )
        s = e


# ----------------------------------------------------------------- oracles


def psnr(a: np.ndarray, b: np.ndarray, peak: float = 255.0) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(peak * peak / mse))


def images_equal(a: np.ndarray, b: np.ndarray, flt_dif: float = 0.0001, prop_eql: float = 1.0) -> bool:
    """Reference ``are_imgs_equal`` semantics: proportion of pixels within
    ``flt_dif`` must be >= ``prop_eql`` (imagecalc/__init__.py:1408-1476)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if a.shape != b.shape:
        return False
    prop = float(np.mean(np.abs(a - b) < flt_dif))
    return prop >= prop_eql
