"""Multimodal payload operators: image / audio / video as opaque binary
columns with typed metadata, processed by Arrow-batched kernels.

The image decode path is REAL (kernels.codecs: raw/png/jpeg-class).
Audio/video containers use a deterministic in-house raw layout (audio =
int16 PCM mono; video = concatenated raw frames); true container codecs
(mp3/mp4/...) are unavailable in this environment and raise
NotImplementedError at the clearly-marked stub — the Spark-side plumbing
(schemas, batch shapes, partitioning, 1→N frame explode) is real and
tested either way.

Reference anchors: chip extraction 1→N (zonalstats/__init__.py:1674-1904),
block-batched DL inference iterator (imageutils/stdimgblockiterbatches.py),
image resampling (imageutils/__init__.py:2104-2209).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from rsgislib_spark.kernels import codecs

SUPPORTED_AUDIO = ("pcm16",)
SUPPORTED_VIDEO = ("rawframes",)


# ------------------------------------------------------------------ image

def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbour resize (resample_img_to_match interp=nearest,
    imageutils/__init__.py:2104-2209) — index-map, no interpolation."""
    h, w = arr.shape[:2]
    yi = (np.arange(out_h) * (h / out_h)).astype(np.int64)
    xi = (np.arange(out_w) * (w / out_w)).astype(np.int64)
    return arr[yi][:, xi]


def resize_mean2(arr: np.ndarray) -> np.ndarray:
    """2× block-mean downsample (resample average) — exact integer mean
    over 2×2 blocks (truncated trailing row/col like GDAL average)."""
    h2, w2 = arr.shape[0] // 2, arr.shape[1] // 2
    a = arr[: h2 * 2, : w2 * 2].astype(np.int64)
    return (a.reshape(h2, 2, w2, 2).sum(axis=(1, 3)) // 4).astype(arr.dtype)


def image_features(images: DataFrame) -> DataFrame:
    """Decode + feature-extract per image: pixel mean/std, a 4×4
    mean-pooled thumbnail signature, and the 64-bit phash. Input schema =
    the input_hint table (image_id, bytes, w, h, fmt, ...).

    Every payload decodes on its own through ``codecs.decode_image``, so
    a row's features never depend on which rows share its Arrow batch
    (a batched lossy decode was slower here and bit-exact only with one
    BLAS thread).

    Tuning: this op is JVM→Python transfer-bound on fat binary rows —
    set spark.sql.execution.arrow.maxRecordsPerBatch ≈ 64 for the
    session running it (an 8 MB payload partition is ~330 rows = ONE
    default batch per task, serializing transfer then compute;
    small batches pipeline them — measured ~3×, BENCH/BASELINE.md)."""
    from rsgislib_spark.kernels.phash import phash64

    def _run(it):
        import pyarrow as pa

        for b in it:  # mapInArrow: no pandas bytes-object materialization
            if not b.num_rows:
                continue
            ids, views, ws, hs, fmts = codecs.arrow_batch_cols(
                b, "image_id", "bytes", "w", "h", "fmt"
            )
            means, stds, thumbs, hashes = [], [], [], []
            for k in range(b.num_rows):
                img = codecs.decode_image(views[k], fmts[k], int(hs[k]), int(ws[k]))
                thumb = resize_nearest(img, 4, 4).astype(np.float64)
                # mean/std from integer moment sums (exact in float64 for
                # uint8 rasters) — cross-engine reproducible, one pass
                n = img.size
                s = int(img.sum(dtype=np.int64))
                sq = int((img.astype(np.int64) ** 2).sum())
                m = s / n
                means.append(m)
                stds.append(float(np.sqrt(max(sq / n - m * m, 0.0))))
                thumbs.append(thumb.ravel().tolist())
                hashes.append(int(phash64(img)))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(means, pa.float64()),
                    pa.array(stds, pa.float64()),
                    pa.array(thumbs, pa.list_(pa.float64())),
                    pa.array(hashes, pa.int64()),
                ],
                names=["image_id", "px_mean", "px_std", "thumb16", "phash"],
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInArrow(
        _run,
        schema="image_id string, px_mean double, px_std double, thumb16 array<double>, phash long",
    )


# ------------------------------------------------------------------ audio

_EXTERNAL_AUDIO = None  # None = not yet probed; [] = probed, absent


class _SoundfileBackend:
    """soundfile-backed decode for real containers (WAV/FLAC/OGG) —
    probed once per worker process, the kernels/codecs.py seam pattern."""

    name = "soundfile"

    def __init__(self):
        import soundfile
        self._sf = soundfile

    def decode(self, buf, fmt: str) -> np.ndarray:
        import io

        # external libs need a real buffer; materializing here is the
        # external path only — the in-house pcm16 path stays zero-copy
        data, _sr = self._sf.read(io.BytesIO(bytes(buf)), dtype="int16",
                                  always_2d=True)
        return np.ascontiguousarray(data[:, 0])  # first channel = mono


def external_audio_backend():
    """The external audio backend if installed (probed once), else None.
    Empty in the sandbox; live after `pip install soundfile` at deploy.
    Tests monkeypatch the module global to inject a fake."""
    global _EXTERNAL_AUDIO
    if _EXTERNAL_AUDIO is None:
        try:
            _EXTERNAL_AUDIO = [_SoundfileBackend()]
        except Exception:
            _EXTERNAL_AUDIO = []
    return _EXTERNAL_AUDIO[0] if _EXTERNAL_AUDIO else None


def decode_audio(buf: bytes, fmt: str) -> np.ndarray:
    """int16 mono PCM decode. The raw in-house layout decodes zero-copy;
    real containers route through the probed external backend."""
    if fmt == "pcm16":
        return np.frombuffer(buf, dtype="<i2")
    be = external_audio_backend()
    if be is not None:
        return be.decode(buf, fmt)
    raise NotImplementedError(  # STUB: real audio codecs absent in sandbox
        f"audio container {fmt!r} needs an external codec backend — "
        "`pip install soundfile` at deploy "
        "(operators/multimodal.py external_audio_backend seam)"
    )


def audio_features(audio: DataFrame, frame: int = 1024) -> DataFrame:
    """Windowed RMS energy per clip (frame-level features, batch shape
    (n_frames,)). Input: (clip_id string, bytes binary, fmt string).

    The payload crosses the Python boundary via ``mapInArrow`` +
    ``codecs.arrow_binary_views`` (zero-copy buffer slices) — the same
    Arrow-boundary rule as ``image_features``: ``mapInPandas`` on a
    binary column materializes one Python bytes object per row,
    measured 4.4× slower end-to-end on the decode bench."""

    def _run(it):
        import pyarrow as pa

        for b in it:
            if not b.num_rows:
                continue
            ids, views, fmts = codecs.arrow_batch_cols(b, "clip_id", "bytes", "fmt")
            ns, nf, rmean, rmax = [], [], [], []
            for k in range(b.num_rows):
                pcm = decode_audio(views[k], fmts[k]).astype(np.float64)
                n = len(pcm) // frame
                if n:
                    rms = np.sqrt((pcm[: n * frame] ** 2).reshape(n, frame).mean(axis=1))
                ns.append(len(pcm))
                nf.append(n)
                rmean.append(float(rms.mean()) if n else 0.0)
                rmax.append(float(rms.max()) if n else 0.0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(ns, pa.int64()),
                    pa.array(nf, pa.int64()),
                    pa.array(rmean, pa.float64()),
                    pa.array(rmax, pa.float64()),
                ],
                names=["clip_id", "n_samples", "n_frames", "rms_mean", "rms_max"],
            )

    return audio.select("clip_id", "bytes", "fmt").mapInArrow(
        _run,
        schema="clip_id string, n_samples long, n_frames long, rms_mean double, rms_max double",
    )


# ------------------------------------------------------------------ video

_EXTERNAL_VIDEO = None  # None = not yet probed; [] = probed, absent


class _PyAVBackend:
    """PyAV-backed demux/decode for real containers (MP4/MKV/WebM) —
    probed once per worker process, the kernels/codecs.py seam pattern."""

    name = "av"

    def __init__(self):
        import av
        self._av = av

    def decode_frames(self, buf, fmt: str, h: int, w: int) -> np.ndarray:
        import io

        with self._av.open(io.BytesIO(bytes(buf))) as container:
            frames = [f.to_ndarray(format="gray")
                      for f in container.decode(video=0)]
        if not frames:
            return np.zeros((0, h, w), dtype=np.uint8)
        return np.stack(frames)


def external_video_backend():
    """The external video backend if installed (probed once), else None.
    Empty in the sandbox; live after `pip install av` at deploy. Tests
    monkeypatch the module global to inject a fake."""
    global _EXTERNAL_VIDEO
    if _EXTERNAL_VIDEO is None:
        try:
            _EXTERNAL_VIDEO = [_PyAVBackend()]
        except Exception:
            _EXTERNAL_VIDEO = []
    return _EXTERNAL_VIDEO[0] if _EXTERNAL_VIDEO else None


def decode_video_frames(buf: bytes, fmt: str, h: int, w: int) -> np.ndarray:
    """(n_frames, h, w) uint8 frames. The raw concatenated layout decodes
    zero-copy; real containers route through the probed external
    backend."""
    if fmt == "rawframes":
        fsz = h * w
        n = len(buf) // fsz
        return np.frombuffer(buf[: n * fsz], dtype=np.uint8).reshape(n, h, w)
    be = external_video_backend()
    if be is not None:
        return be.decode_frames(buf, fmt, h, w)
    raise NotImplementedError(  # STUB: real video demux absent in sandbox
        f"video container {fmt!r} needs an external demux backend — "
        "`pip install av` at deploy "
        "(operators/multimodal.py external_video_backend seam)"
    )


#: Most frame bytes one output RecordBatch of :func:`sample_video_frames`
#: carries (see ``codecs.MAX_PAYLOAD_BATCH_BYTES``).
MAX_FRAME_BATCH_BYTES = codecs.MAX_PAYLOAD_BATCH_BYTES


def sample_video_frames(video: DataFrame, every_k: int = 5) -> DataFrame:
    """1→N frame-sampling UDTF: every k-th frame becomes a row with its
    own (re-encoded raw) payload — the video face of the tiler's
    one-row-in, many-rows-out shape.

    ``mapInArrow`` both ways: input payloads arrive as zero-copy buffer
    views (``codecs.arrow_batch_cols``), and the sampled frames leave as
    one contiguous binary array per output batch. An input batch whose
    sampled frames pass ``MAX_FRAME_BATCH_BYTES`` is split over several
    output batches (mid-clip if need be; ``codecs.payload_batches``); one
    frame larger than the limit raises."""
    limit = MAX_FRAME_BATCH_BYTES

    def _run(it):
        import pyarrow as pa

        schema = pa.schema([("clip_id", pa.string()), ("frame_no", pa.int32()),
                            ("h", pa.int32()), ("w", pa.int32()), ("frame", pa.binary())])
        for b in it:
            if not b.num_rows:
                continue
            views, fmts, hs, ws = codecs.arrow_batch_cols(b, "bytes", "fmt", "h", "w")
            sel = [decode_video_frames(views[k], fmts[k], int(hs[k]), int(ws[k]))[::every_k]
                   for k in range(b.num_rows)]
            rows = np.repeat(np.arange(b.num_rows), [len(f) for f in sel])
            yield from codecs.payload_batches(
                schema,
                {"clip_id": b.column("clip_id").take(rows),
                 "frame_no": np.concatenate([np.arange(len(f)) * every_k for f in sel]),
                 "h": hs[rows], "w": ws[rows]},
                hs[rows].astype(np.int64) * ws[rows],
                np.concatenate([f.reshape(-1) for f in sel]),
                limit,
            )

    return video.select("clip_id", "bytes", "fmt", "h", "w").mapInArrow(
        _run,
        schema="clip_id string, frame_no int, h int, w int, frame binary",
    )
