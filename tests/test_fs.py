"""Scheme-aware store probe (fs.store_exists): must agree with the
filesystem the path's scheme names — in particular a ``file://`` URI
that os.path.exists can NEVER see (the silent-wrong-at-scale class
that hit streaming/drift.py in r7 and streaming/dsir.py +
streaming/incremental_dedup.py in r8: every batch scored against an
empty prior, no error). Also the driver-side parquet footer read
(fs.parquet_footer_schema) that spares read_star_table Spark's
schema-inference job."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from afg_data_pipeline_spark import schemas
from afg_data_pipeline_spark.fs import parquet_footer_schema
from afg_data_pipeline_spark.io import ensure_session_confs, read_star_table
from tests.conftest import SF_DIR, builder_jobs


class TestStoreExists:
    def test_plain_local_path(self, spark, tmp_path):
        from afg_data_pipeline_spark.fs import store_exists

        d = tmp_path / "store"
        assert not store_exists(spark, str(d))
        d.mkdir()
        assert store_exists(spark, str(d))

    def test_delete_path_recursive_and_scheme_aware(
        self, spark, tmp_path
    ):
        from afg_data_pipeline_spark.fs import (
            delete_path,
            store_exists,
        )

        d = tmp_path / "store" / "batch_id=3"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
        uri = "file://" + str(d)
        assert delete_path(spark, uri) is True
        assert not d.exists()
        assert not store_exists(spark, uri)
        # deleting a missing path reports False, never raises
        assert delete_path(spark, uri) is False

    def test_file_uri_where_os_path_exists_is_blind(
        self, spark, tmp_path
    ):
        from afg_data_pipeline_spark.fs import store_exists

        d = tmp_path / "store"
        d.mkdir()
        uri = "file://" + str(d)
        # the bug class: the driver-local probe says absent...
        assert not os.path.exists(uri)
        # ...while the scheme-aware probe (and spark.read) see it.
        assert store_exists(spark, uri)
        assert not store_exists(spark, "file://" + str(tmp_path / "no"))


class TestStarTableFooter:
    """read_star_table hands the footer schema, read on the driver
    (fs.parquet_footer_schema), to the reader instead of letting Spark
    infer it: the schema must be exactly the inferred one, and the
    read must launch no job."""

    @pytest.mark.parametrize("name", sorted(schemas.STAR))
    def test_footer_schema_is_the_inferred_schema(self, spark, name):
        path = f"{SF_DIR}/{name}.parquet"
        ensure_session_confs(spark)
        want = spark.read.parquet(path).schema
        assert parquet_footer_schema(spark, path) == want
        assert parquet_footer_schema(spark, "file://" + path) == want

    @pytest.mark.parametrize("name", sorted(schemas.STAR))
    def test_read_launches_no_job(self, spark, name):
        assert builder_jobs(
            spark, lambda: read_star_table(spark, name, SF_DIR)
        ) == 0

    def test_part_file_directory_still_reads(self, spark, tmp_path):
        src = read_star_table(spark, "supplier", SF_DIR)
        src.repartition(2).write.parquet(str(tmp_path / "supplier.parquet"))
        assert parquet_footer_schema(
            spark, str(tmp_path / "supplier.parquet")
        ) is None
        got = read_star_table(spark, "supplier", "file://" + str(tmp_path))
        assert got.schema == src.schema
        assert sorted(got.collect()) == sorted(src.collect())

    def test_missing_table_raises_as_before(self, spark, tmp_path):
        assert parquet_footer_schema(spark, str(tmp_path / "no")) is None
        with pytest.raises(AnalysisException):
            read_star_table(spark, "supplier", str(tmp_path))
