"""Tests: connected-components clumping (tiled + reconcile vs BFS
oracle), multimodal payload operators, and the fused north-star
pipeline stages."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.operators.clump import _UnionFind, clump_images, label_components


def brute_cc(mask, conn=4):
    h, w = mask.shape
    lab = -np.ones((h, w), np.int64)
    dirs = ((0, 1), (0, -1), (1, 0), (-1, 0))
    if conn == 8:
        dirs = dirs + ((1, 1), (1, -1), (-1, 1), (-1, -1))
    for sy in range(h):
        for sx in range(w):
            if mask[sy, sx] and lab[sy, sx] < 0:
                root = sy * w + sx
                stack = [(sy, sx)]
                lab[sy, sx] = root
                while stack:
                    y, x = stack.pop()
                    for dy, dx in dirs:
                        ny, nx = y + dy, x + dx
                        if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and lab[ny, nx] < 0:
                            lab[ny, nx] = root
                            stack.append((ny, nx))
    return lab


@pytest.mark.parametrize("conn", [4, 8])
def test_label_components_vs_bfs(conn):
    rng = np.random.Generator(np.random.Philox(key=[5, 1]))
    for _ in range(10):
        mask = rng.random((31, 44)) < 0.55
        assert np.array_equal(label_components(mask, conn), brute_cc(mask, conn))


def test_label_components_ring_and_empty():
    m = np.zeros((20, 20), bool)
    m[0, :] = m[-1, :] = m[:, 0] = m[:, -1] = True
    lab = label_components(m)
    assert len(np.unique(lab[m])) == 1
    assert (label_components(np.zeros((5, 5), bool)) == -1).all()


def test_union_find():
    uf = _UnionFind()
    uf.union(5, 9)
    uf.union(9, 2)
    assert uf.find(5) == uf.find(2) == 2
    assert uf.find(77) == 77


def test_clump_images_tiled_matches_whole(spark):
    rows = [(401, 100, 64), (802, 200, 137)]
    imgs = spark.createDataFrame(rows, "image_key long, w int, h int")
    got = {
        r["image_key"]: (r["n_components"], r["largest_px"])
        for r in clump_images(imgs, threshold=125, tile=48).collect()
    }
    for k, w, h in rows:
        px = (np.arange(w, dtype=np.int64) * 13)[None, :]
        py = (np.arange(h, dtype=np.int64) * 17)[:, None]
        band = (k * 7 + px + py) % 251
        lab = label_components(band > 125)
        u, c = np.unique(lab[lab >= 0], return_counts=True)
        assert got[k] == (len(u), int(c.max()))


# ----------------------------------------------------------- multimodal


def test_image_features_real_payload(spark):
    from rsgislib_spark import datagen
    from rsgislib_spark.operators.multimodal import image_features

    pdf = datagen.gen_images(20, seed=42)
    sdf = spark.createDataFrame(pdf[["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]])
    out = image_features(sdf).toPandas().set_index("image_id")
    assert len(out) == 20
    # lossless formats round-trip the phash exactly
    lossless = pdf[pdf["fmt"] != "jpg"]
    for rec in lossless.itertuples(index=False):
        assert int(out.loc[rec.image_id, "phash"]) == int(rec.phash)
    assert all(len(t) == 16 for t in out["thumb16"])


def test_image_features_batch_independent(spark):
    """image_features gives the same row whatever rows share its Arrow
    batch (one row per batch vs the default), and that row equals the
    features of its own per-payload codecs.decode_image. The reference
    runs in a Spark task: the lossy IDCT's float32 GEMM can round
    differently under another BLAS thread count, and get_spark gives
    every Python worker one BLAS thread."""
    from rsgislib_spark import datagen
    from rsgislib_spark.operators.multimodal import image_features

    pdf = datagen.gen_images(72, seed=7)
    assert set(pdf["fmt"]) == {"raw", "png", "jpg"}
    sdf = spark.createDataFrame(pdf[["image_id", "bytes", "w", "h", "fmt"]]).coalesce(2)

    def features():
        return {
            r["image_id"]: (r["px_mean"], r["px_std"], list(r["thumb16"]), r["phash"])
            for r in image_features(sdf).collect()
        }

    def reference(rec):
        from rsgislib_spark.kernels import codecs
        from rsgislib_spark.kernels.phash import phash64
        from rsgislib_spark.operators.multimodal import resize_nearest

        image_id, buf, fmt, h, w = rec
        img = codecs.decode_image(buf, fmt, h, w)
        n = img.size
        m = int(img.sum(dtype=np.int64)) / n
        sq = int((img.astype(np.int64) ** 2).sum())
        return image_id, (
            m,
            float(np.sqrt(max(sq / n - m * m, 0.0))),
            resize_nearest(img, 4, 4).astype(np.float64).ravel().tolist(),
            int(phash64(img)),
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batched = features()
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        single = features()
    finally:
        spark.conf.set(key, old)
    recs = [
        (r.image_id, bytes(r.bytes), r.fmt, int(r.h), int(r.w))
        for r in pdf.itertuples(index=False)
    ]
    want = dict(spark.sparkContext.parallelize(recs, 4).map(reference).collect())
    assert len(batched) == 72
    assert single == batched
    assert batched == want


def test_resize_kernels():
    from rsgislib_spark.operators.multimodal import resize_mean2, resize_nearest

    a = np.arange(64, dtype=np.int64).reshape(8, 8)
    n = resize_nearest(a, 4, 4)
    assert n.shape == (4, 4) and n[0, 0] == a[0, 0] and n[1, 1] == a[2, 2]
    m = resize_mean2(a)
    assert m.shape == (4, 4)
    assert m[0, 0] == (a[0, 0] + a[0, 1] + a[1, 0] + a[1, 1]) // 4


def test_audio_features(spark):
    from rsgislib_spark.operators.multimodal import audio_features

    pcm = (np.sin(np.linspace(0, 60, 4096)) * 10000).astype("<i2")
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a"], "bytes": [pcm.tobytes()], "fmt": ["pcm16"]})
    )
    r = audio_features(df, frame=1024).collect()[0]
    assert r["n_samples"] == 4096 and r["n_frames"] == 4
    assert 6000 < r["rms_mean"] < 8000  # sine RMS ≈ amplitude/√2


def test_audio_unknown_codec_raises(spark):
    from rsgislib_spark.operators.multimodal import decode_audio

    with pytest.raises(NotImplementedError):
        decode_audio(b"xx", "mp3")


def test_video_frame_sampling(spark):
    from rsgislib_spark.operators.multimodal import sample_video_frames

    h, w, n = 6, 5, 12
    frames = np.arange(n * h * w, dtype=np.uint8).reshape(n, h, w)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": ["v1"], "bytes": [frames.tobytes()], "fmt": ["rawframes"],
             "h": [h], "w": [w]}
        )
    )
    out = sample_video_frames(df, every_k=5).orderBy("frame_no").collect()
    assert [r["frame_no"] for r in out] == [0, 5, 10]
    got = np.frombuffer(out[1]["frame"], dtype=np.uint8).reshape(h, w)
    assert np.array_equal(got, frames[5])


def test_video_frames_split_across_batches(spark, monkeypatch):
    """An output batch is flushed before its frame bytes would pass
    MAX_FRAME_BATCH_BYTES (Arrow binary offsets are int32): with the
    limit lowered to three frames, clips split mid-way over several
    batches and the rows equal the unsplit output; a frame larger than
    the limit raises."""
    from rsgislib_spark.operators import multimodal as mm

    h, w = 6, 5
    rng = np.random.Generator(np.random.Philox(key=[11, 3]))
    clips = {f"v{i}": rng.integers(0, 256, (n, h, w)).astype(np.uint8)
             for i, n in enumerate((12, 7, 20))}
    df = spark.createDataFrame(
        pd.DataFrame(
            {"clip_id": list(clips), "bytes": [c.tobytes() for c in clips.values()],
             "fmt": ["rawframes"] * 3, "h": [h] * 3, "w": [w] * 3}
        )
    ).coalesce(1)

    def rows():
        return sorted(
            (r["clip_id"], r["frame_no"], r["h"], r["w"], bytes(r["frame"]))
            for r in mm.sample_video_frames(df, every_k=2).collect()
        )

    whole = rows()
    assert whole == sorted(
        (cid, no, h, w, c[no].tobytes())
        for cid, c in clips.items() for no in range(0, len(c), 2)
    )
    monkeypatch.setattr(mm, "MAX_FRAME_BATCH_BYTES", 3 * h * w + 1)
    assert rows() == whole
    monkeypatch.setattr(mm, "MAX_FRAME_BATCH_BYTES", h * w - 1)
    with pytest.raises(Exception, match="output batch limit"):
        rows()


def test_audio_external_backend_seam(monkeypatch):
    from rsgislib_spark.operators import multimodal as mm

    class _Fake:
        name = "fake"

        def decode(self, buf, fmt):
            assert fmt == "wav"
            return np.frombuffer(bytes(buf), dtype="<i2")[::2]

    monkeypatch.setattr(mm, "_EXTERNAL_AUDIO", [_Fake()])
    pcm = np.arange(8, dtype="<i2")
    assert np.array_equal(mm.decode_audio(pcm.tobytes(), "wav"), pcm[::2])
    # pcm16 never routes external
    assert np.array_equal(mm.decode_audio(pcm.tobytes(), "pcm16"), pcm)
    monkeypatch.setattr(mm, "_EXTERNAL_AUDIO", [])  # probed, absent
    with pytest.raises(NotImplementedError, match="pip install soundfile"):
        mm.decode_audio(b"xx", "wav")


def test_video_external_backend_seam(monkeypatch):
    from rsgislib_spark.operators import multimodal as mm

    class _Fake:
        name = "fake"

        def decode_frames(self, buf, fmt, h, w):
            assert fmt == "mp4"
            return np.ones((2, h, w), dtype=np.uint8)

    monkeypatch.setattr(mm, "_EXTERNAL_VIDEO", [_Fake()])
    out = mm.decode_video_frames(b"xx", "mp4", 3, 4)
    assert out.shape == (2, 3, 4) and out.dtype == np.uint8
    monkeypatch.setattr(mm, "_EXTERNAL_VIDEO", [])  # probed, absent
    with pytest.raises(NotImplementedError, match="pip install av"):
        mm.decode_video_frames(b"xx", "mp4", 3, 4)


def test_soundfile_parity_when_installed(spark):
    soundfile = pytest.importorskip("soundfile")  # absent in the sandbox
    import io

    from rsgislib_spark.operators.multimodal import audio_features

    pcm = (np.sin(np.linspace(0, 60, 4096)) * 10000).astype("<i2")
    bio = io.BytesIO()
    soundfile.write(bio, pcm, 16000, format="WAV", subtype="PCM_16")
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["w", "p"],
                      "bytes": [bio.getvalue(), pcm.tobytes()],
                      "fmt": ["wav", "pcm16"]})
    )
    rows = {r["clip_id"]: r for r in audio_features(df, frame=1024).collect()}
    # WAV round-trips the same PCM: features identical to the raw path
    assert rows["w"]["n_samples"] == rows["p"]["n_samples"] == 4096
    assert abs(rows["w"]["rms_mean"] - rows["p"]["rms_mean"]) < 1e-9


# ------------------------------------------------------- fused pipeline


def test_image_stats_match_brute_force():
    """The zonal partial body's per-image stats (sum, min, max, focal
    sum and count of the clipped 3×3 window) equal a zero-padded
    9-shift brute force at every extent down to one pixel, and its tile
    count equals the number of simple tiler windows at TILE."""
    from rsgislib_spark.kernels import geom, pixelmath
    from rsgislib_spark.operators.spatial_join import ZoneIndex
    from rsgislib_spark.pipeline import TILE, _stats_from_grid, _zone_partials

    def brute_focal(a):
        h, w = a.shape
        p = np.pad(a.astype(np.int64), 1)
        return sum(p[dy:dy + h, dx:dx + w] for dy in range(3) for dx in range(3)).sum()

    world = [np.array([[-1.0, -1.0], [1e3, -1.0], [1e3, 1e3], [-1.0, 1e3]])]
    zx = ZoneIndex.from_pandas(pd.DataFrame({"zone_id": [5], "geometry": [geom.polygon_to_wkb(world)]}))
    rng = np.random.default_rng(13)
    for h, w in [(1, 1), (1, 5), (5, 1), (2, 2), (2, 7), (64, 100), (200, 200)]:
        grid = rng.integers(0, 256, (3, h, w), dtype=np.uint8)
        grid[0] = 255
        s, mn, mx, fsum, fcnt = _stats_from_grid(grid)
        for t, g in enumerate(grid):
            assert (s[t], mn[t], mx[t]) == (g.sum(dtype=np.int64), g.min(), g.max()), (h, w)
            assert fsum[t] == brute_focal(g), (h, w)
        assert fcnt == brute_focal(np.ones((h, w), np.uint8)), (h, w)

        n_tiles = len(pixelmath.tile_windows_simple(w, h, TILE, TILE))
        assert -(-w // TILE) * -(-h // TILE) == n_tiles
        ws, hs = np.full(3, w, np.int32), np.full(3, h, np.int32)
        bbox = np.tile([0.0, 0.0, 1.0, 1.0], (3, 1))
        (batch,) = _zone_partials(zx, ws, hs, bbox, np.arange(3), lambda rows, w, h: grid[rows])
        row = batch.to_pylist()[0]
        assert row == {
            "zone_id": 5, "n_images": 3, "n_tiles": 3 * n_tiles, "n_px": 3 * h * w,
            "sum_v": int(s.sum()), "min_v": int(mn.min()), "max_v": 255,
            "focal_sum": int(fsum.sum()), "focal_cnt": 3 * fcnt,
        }, (h, w)


def test_north_star_runs_and_replicates(spark):
    from rsgislib_spark.pipeline import north_star

    r1 = north_star(spark, "/root/testdata/sf0.001")
    tot1 = r1.agg(F.sum("n_images")).collect()[0][0]
    r3 = north_star(spark, "/root/testdata/sf0.001", replicate=3)
    tot3 = r3.agg(F.sum("n_images")).collect()[0][0]
    assert tot3 == 3 * tot1 > 0


def test_north_star_resumable_skips_finished_buckets(spark, tmp_path):
    from rsgislib_spark.operators.manifest import read_manifest, verify_against_manifest
    from rsgislib_spark.pipeline import north_star, north_star_resumable

    out = str(tmp_path / "ns_out")
    r1 = north_star_resumable(spark, "/root/testdata/sf0.001", out, n_buckets=4)
    assert sorted(r1["written"]) == [0, 1, 2, 3] and r1["skipped"] == []
    # restart: all buckets skipped, nothing recomputed
    r2 = north_star_resumable(spark, "/root/testdata/sf0.001", out, n_buckets=4)
    assert r2["written"] == [] and sorted(r2["skipped"]) == [0, 1, 2, 3]
    # lineage rows verify and the written rows equal a direct run
    ok = verify_against_manifest(spark, out, "zone_id").toPandas()
    assert ok["ok"].all()
    import os
    written = spark.read.option("basePath", out).parquet(
        *[f"{out}/{d}" for d in os.listdir(out) if d.startswith("bucket=")]
    ).drop("bucket")
    direct = north_star(spark, "/root/testdata/sf0.001")
    assert sorted(map(tuple, written.collect())) == sorted(map(tuple, direct.collect()))
