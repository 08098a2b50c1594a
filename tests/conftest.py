import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from rsgislib_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="rsgislib_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def images_pdf():
    from rsgislib_spark import datagen

    return datagen.image_footprints(datagen.gen_images(200, seed=42))


@pytest.fixture(scope="session")
def images_nopix_pdf():
    """Larger footprint-only corpus for join tests (no codec work)."""
    from rsgislib_spark import datagen

    return datagen.image_footprints(datagen.gen_images(1200, seed=42, with_pixels=False))


@pytest.fixture(scope="session")
def zones_pdf():
    from rsgislib_spark import datagen

    return datagen.gen_zones(50, seed=42)


@pytest.fixture(scope="session")
def points_pdf():
    from rsgislib_spark import datagen

    return datagen.gen_points(200, seed=42)


@pytest.fixture(scope="session")
def manifest_files():
    """bucket → the committed file that holds its row under
    ``out_dir/_manifest`` (a resumable write's lineage manifest)."""
    import pyarrow.parquet as pq

    def files(out_dir):
        mdir = os.path.join(out_dir, "_manifest")
        return {
            b: os.path.join(mdir, f)
            for f in sorted(os.listdir(mdir))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
            for b in pq.read_table(os.path.join(mdir, f), columns=["bucket"]).column(0).to_pylist()
        }

    return files
