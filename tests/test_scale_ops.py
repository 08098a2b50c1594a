"""Salting, manifest-resume, lineage verify, incremental streaming."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsgislib_spark.operators import manifest, salting


@pytest.fixture()
def skewed_df(spark):
    # 5000 rows, 80% in one hot cell
    n = 5000
    ids = np.arange(n)
    cells = np.where(ids % 5 != 0, 7777, ids % 50)
    pdf = pd.DataFrame({"row_id": ids, "cell": cells.astype(np.int64), "val": ids * 2})
    return spark.createDataFrame(pdf)


@pytest.fixture()
def small_side(spark):
    pdf = pd.DataFrame({"cell": np.arange(0, 8000, dtype=np.int64), "attr": np.arange(8000) % 9})
    return spark.createDataFrame(pdf)


class TestSalting:
    def test_find_hot_cells(self, spark, skewed_df):
        hot = salting.find_hot_cells(skewed_df, hot_threshold=1000).toPandas()
        assert hot.cell.tolist() == [7777]

    def test_salted_join_equals_plain_join(self, spark, skewed_df, small_side):
        plain = skewed_df.join(small_side, "cell").select("row_id", "attr")
        salted = salting.salted_cell_join(
            skewed_df, small_side, big_id="row_id", n_salts=4, hot_threshold=1000
        ).select("row_id", "attr")
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, salted.collect()))
        assert a == b

    def test_salt_determinism(self, spark, skewed_df):
        hot = salting.find_hot_cells(skewed_df, hot_threshold=1000)
        s1 = salting.with_salt(skewed_df, hot, "row_id", n_salts=4).select("row_id", "salt")
        s2 = salting.with_salt(skewed_df, hot, "row_id", n_salts=4).select("row_id", "salt")
        assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
        # hot rows spread over all salts; cold rows salt 0
        pdf = salting.with_salt(skewed_df, hot, "row_id", n_salts=4).toPandas()
        assert set(pdf[pdf.cell == 7777].salt) == {0, 1, 2, 3}
        assert set(pdf[pdf.cell != 7777].salt) == {0}


class TestManifest:
    def test_resumable_write_and_verify(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "out")
        r1 = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=8)
        assert len(r1["written"]) == 8 and not r1["skipped"]
        # all rows present exactly once
        back = spark.read.option("basePath", out).parquet(
            *[f"{out}/bucket={b}" for b in range(8)]
        )
        assert back.count() == 5000
        assert back.select("row_id").distinct().count() == 5000
        # lineage verifies
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert v.ok.all() and len(v) == 8

    def test_resume_skips_completed(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "out2")
        # simulate partial run: write only buckets 0-2 by truncating loop
        full = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        assert len(full["written"]) == 4
        r2 = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        assert r2["written"] == [] and len(r2["skipped"]) == 4

    def test_tamper_detection(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "out3")
        manifest.resumable_write(skewed_df, out, "row_id", n_buckets=4)
        # tamper: delete one bucket's files
        import shutil

        shutil.rmtree(f"{out}/bucket=2")
        os.makedirs(f"{out}/bucket=2")
        spark.createDataFrame(pd.DataFrame({"row_id": [1], "cell": [0], "val": [0]})).write.mode(
            "overwrite"
        ).parquet(f"{out}/bucket=2")
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert not v[v.bucket == 2].ok.iloc[0]
        assert v[v.bucket != 2].ok.all()


    @staticmethod
    def _assert_complete(spark, out, n_buckets, ids):
        """Every bucket verifies, the rows are ``ids`` exactly once, and
        every parquet file on disk is a committed bucket's or a committed
        manifest row's: no ``_staging``, no stray ``bucket=`` path."""
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert len(v) == n_buckets and v.ok.all()
        assert not os.path.exists(os.path.join(out, manifest.STAGING_SUBDIR))
        full = {f"bucket={b}" for b in v.bucket[v.n_rows > 0]}
        assert {d for d in os.listdir(out) if d.startswith("bucket=")} == full
        for root, _, fs in os.walk(out):
            rel = os.path.relpath(root, out)
            for f in fs:
                if f.endswith(".parquet"):
                    assert rel in full or (rel == "_manifest" and not f.startswith(".")), (rel, f)
        if full:
            back = spark.read.option("basePath", out).parquet(*[f"{out}/{d}" for d in full])
            assert sorted(r.row_id for r in back.select("row_id").collect()) == sorted(ids)

    @pytest.mark.parametrize("torn", ["staging", "uncommitted_bucket", "temp_manifest_row"])
    def test_resume_after_a_torn_write(self, spark, skewed_df, tmp_path, manifest_files, torn):
        """One case per on-disk state a kill can leave: a leftover
        ``_staging`` of junk, a renamed bucket directory whose manifest row
        was never written (here with a stale duplicate file in it), and a
        manifest row still under its dot-prefixed temporary name. The
        resume writes exactly the buckets without a committed row."""
        out = str(tmp_path / "torn")
        manifest.resumable_write(skewed_df, out, "row_id", n_buckets=8)
        rows = manifest_files(out)
        for b in (2, 5):
            mdir, name = os.path.split(rows[b])
            if torn == "temp_manifest_row":
                os.rename(rows[b], os.path.join(mdir, "." + name))
            else:
                os.remove(rows[b])
            bdir = f"{out}/bucket={b}"
            if torn == "uncommitted_bucket":
                part = next(f for f in sorted(os.listdir(bdir)) if f.endswith(".parquet"))
                shutil.copy(f"{bdir}/{part}", f"{bdir}/stale-{part}")
            else:
                shutil.rmtree(bdir)
        if torn == "staging":
            for b in (2, 3):  # 3 is committed: its junk must not land either
                os.makedirs(f"{out}/_staging/bucket={b}")
                with open(f"{out}/_staging/bucket={b}/part-0.parquet", "wb") as fh:
                    fh.write(b"not a parquet file")
        # both readers skip the dot-prefixed temporary row and agree
        committed = {0, 1, 3, 4, 6, 7}
        assert manifest.completed_buckets(out) == committed
        man = manifest.read_manifest(spark, out).toPandas()
        assert list(man.columns) == ["n_rows", "key_hash_sum", "bucket", "stage"]
        assert set(man.bucket) == committed and len(man) == len(committed)
        r = manifest.resumable_write(skewed_df, out, "row_id", n_buckets=8)
        assert r == {"written": [2, 5], "skipped": [0, 1, 3, 4, 6, 7]}
        self._assert_complete(spark, out, 8, range(5000))

    @pytest.mark.parametrize("n", [3, 0], ids=["fewer_ids_than_buckets", "no_rows"])
    def test_empty_buckets_commit_skip_and_verify(self, spark, tmp_path, manifest_files, n):
        """Buckets that get no rows still get a manifest row, are skipped
        on resume and verify; so does an input with no rows at all."""
        df = spark.createDataFrame(
            pd.DataFrame({"row_id": np.arange(n), "cell": np.zeros(n, np.int64), "val": np.arange(n)}),
            schema="row_id long, cell long, val long",
        )
        out = str(tmp_path / "sparse")
        assert manifest.resumable_write(df, out, "row_id", n_buckets=8)["written"] == list(range(8))
        self._assert_complete(spark, out, 8, range(n))
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert v.n_rows.sum() == n and (v.n_rows == 0).any()
        # kill one empty bucket, and one full one when there is one
        killed = sorted({int(v.bucket[v.n_rows == 0].min()), int(v.bucket.iloc[v.n_rows.argmax()])})
        rows = manifest_files(out)
        for b in killed:
            os.remove(rows[b])
            shutil.rmtree(f"{out}/bucket={b}", ignore_errors=True)
        r = manifest.resumable_write(df, out, "row_id", n_buckets=8)
        assert r["written"] == killed
        self._assert_complete(spark, out, 8, range(n))
        assert manifest.resumable_write(df, out, "row_id", n_buckets=8)["written"] == []


class TestTableSinkSeam:
    def test_iceberg_unavailable_in_sandbox(self, spark):
        # no Iceberg jars or catalog conf here — the probe must say so
        assert manifest.iceberg_available(spark) is False

    def test_write_table_falls_back_to_manifest(self, spark, skewed_df, tmp_path):
        out = str(tmp_path / "sink")
        r = manifest.write_table(skewed_df, out, "row_id",
                                 table="cat.db.tiles", n_buckets=4)
        assert r["backend"] == "parquet+manifest"
        assert len(r["written"]) == 4
        v = manifest.verify_against_manifest(spark, out, "row_id").toPandas()
        assert v.ok.all()

    def test_write_table_append_without_iceberg_raises(self, skewed_df, tmp_path):
        """The parquet fallback only replaces or resumes: an append there
        raises and writes nothing instead of quietly replacing."""
        out = tmp_path / "sink"
        for table in ("cat.db.tiles", None):
            with pytest.raises(ValueError, match="append"):
                manifest.write_table(skewed_df, str(out), "row_id", table=table, mode="append")
        assert not out.exists()

    def test_iceberg_probe_reads_runtime_conf(self, spark, monkeypatch):
        """A catalog set at runtime with spark.conf.set counts, not only
        one in the SparkContext conf (the class probe is pointed at a
        class that loads here)."""
        monkeypatch.setattr(manifest, "ICEBERG_CATALOG_CLASS", "java.lang.String")
        assert manifest.iceberg_available(spark) is False  # no catalog configured
        spark.conf.set("spark.sql.catalog.rt_ice", "org.apache.iceberg.spark.SparkCatalog")
        try:
            assert manifest.iceberg_available(spark) is True
        finally:
            spark.conf.unset("spark.sql.catalog.rt_ice")
        assert manifest.iceberg_available(spark) is False

    def test_write_table_routes_iceberg_when_configured(
        self, spark, skewed_df, tmp_path, monkeypatch
    ):
        calls = []
        monkeypatch.setattr(manifest, "iceberg_available", lambda s: True)
        monkeypatch.setattr(
            manifest, "_write_iceberg",
            lambda df, table, mode: calls.append((table, mode)))
        r = manifest.write_table(skewed_df, str(tmp_path / "x"), "row_id",
                                 table="cat.db.tiles", mode="append")
        assert r == {"backend": "iceberg", "table": "cat.db.tiles"}
        assert calls == [("cat.db.tiles", "append")]
        # no parquet fallback artifacts
        assert not (tmp_path / "x").exists()


class TestIncrementalStreaming:
    def test_availablenow_resume(self, spark, tmp_path):
        from rsgislib_spark.streaming.incremental import incremental_event_counts

        src = str(tmp_path / "src")
        out = str(tmp_path / "sink")
        ck = str(tmp_path / "ck")
        ev1 = pd.DataFrame(
            {
                "event_id": np.arange(100, dtype=np.int64),
                "ts": pd.Timestamp("2026-01-01 10:00:00"),
                "user_id": np.arange(100, dtype=np.int64) % 7,
                "event_type": ["click"] * 100,
                "value": np.ones(100),
                "props": ["{}"] * 100,
            }
        )
        spark.createDataFrame(ev1).write.mode("append").parquet(src)
        incremental_event_counts(spark, src, out, ck)
        n1 = spark.read.parquet(out).count()
        assert n1 == 100
        # re-run with no new data: nothing added
        incremental_event_counts(spark, src, out, ck)
        assert spark.read.parquet(out).count() == n1
        # new file lands: only increment processed
        ev2 = ev1.assign(event_id=ev1.event_id + 1000, event_type="view")
        spark.createDataFrame(ev2).write.mode("append").parquet(src)
        incremental_event_counts(spark, src, out, ck)
        out_df = spark.read.parquet(out)
        assert out_df.count() == 200
        assert out_df.filter("event_type = 'view'").count() == 100
