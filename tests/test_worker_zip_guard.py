"""The zip re-read guard that importing rsgislib_spark installs on
``zipimport.zipimporter.invalidate_caches``.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task; unguarded, each cached zipimporter then re-reads its whole
archive directory. The guard must skip unchanged archives and still
re-read a zip that changed, so ``addPyFile``/``--py-files`` modules keep
importing."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from rsgislib_spark.session import install_zip_reread_guard


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive_reads(monkeypatch):
    """Archive paths passed to zipimport's directory reader, in order."""
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_guard_is_installed_once_by_the_package_import():
    guard = zipimport.zipimporter.invalidate_caches
    assert getattr(guard, "_stamp_guard", False)
    install_zip_reread_guard()
    assert zipimport.zipimporter.invalidate_caches is guard


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch, archive_reads):
    tag = uuid.uuid4().hex[:8]
    a, b = f"zg_a_{tag}", f"zg_b_{tag}"
    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, {a: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(zp)
    assert importlib.import_module(a).VALUE == 1

    importlib.invalidate_caches()  # first guarded call: this importer reads
    n = archive_reads.count(zp)
    assert n >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive_reads.count(zp) == n  # unchanged: no re-read

    _write_zip(zp, {a: "VALUE = 1\n", b: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert archive_reads.count(zp) == n + 1
    assert importlib.import_module(b).VALUE == 2
    for m in (a, b):
        sys.modules.pop(m, None)


def test_warm_workers_keep_importing_added_py_files(spark, tmp_path, images_nopix_pdf, zones_pdf):
    from rsgislib_spark.operators.spatial_join import spatial_join_broadcast

    images = spark.createDataFrame(
        images_nopix_pdf[["image_id", "minx", "miny", "maxx", "maxy"]]
    ).repartition(8)
    zones = spark.createDataFrame(zones_pdf)
    for _ in range(2):  # warm engine tasks in the reused workers
        assert spatial_join_broadcast(images, zones).count() > 0

    def probe(it):
        import sys as _sys
        import zipimport as _zi

        import pandas as _pd

        for _ in it:
            pass
        guarded = bool(getattr(_zi.zipimporter.invalidate_caches, "_stamp_guard", False))
        yield _pd.DataFrame({"engine": ["rsgislib_spark" in _sys.modules], "guarded": [guarded]})

    seen = spark.range(0, 64, 1, 8).mapInPandas(probe, "engine boolean, guarded boolean").toPandas()
    assert seen["engine"].any()  # some task ran in a worker that ran engine tasks
    assert seen.loc[seen["engine"], "guarded"].all()

    mod = f"zg_pyfile_{uuid.uuid4().hex[:8]}"
    zp = str(tmp_path / f"{mod}.zip")
    _write_zip(zp, {mod: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(zp)

    def use(it):
        import importlib as _il

        import pandas as _pd

        for _ in it:
            pass
        yield _pd.DataFrame({"v": [_il.import_module(mod).VALUE]})

    got = spark.range(0, 64, 1, 8).mapInPandas(use, "v long").toPandas()
    assert (got["v"] == 41).all() and len(got) == 8
