"""Shared pytest fixtures: one session-scoped SparkSession + DuckDB.

SURVEY.md §5 test strategy: the primary gate is the DuckDB-oracle
compare (tests/test_correctness.py runs it at sf0.001 so the suite
stays fast; the driver reruns it at sf0.01), plus characterization
tests of the reference-specific semantics on reference-shaped
fixtures and property tests for the imputation family.
"""

from __future__ import annotations

import datetime as dt
import math
import random

import duckdb
import pytest

from afg_data_pipeline_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def builder_jobs(spark, build):
    """Spark jobs launched by ``build()``, counted through a job group
    (the status tracker sees a job once the listener bus delivers it)."""
    sc = spark.sparkContext
    group = f"builder-{random.getrandbits(32)}"
    sc.setJobGroup(group, "builder jobs")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def kernel_frames(monkeypatch):
    """A list that grows by one per ``_local_frame.make`` call: one per
    frame a driver kernel returns, which the distributed paths never
    build."""
    from afg_data_pipeline_spark.operators import _local_frame

    calls = []
    real = _local_frame.make

    def spy(*args, **kw):
        calls.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(_local_frame, "make", spy)
    return calls


@pytest.fixture(scope="session")
def spark():
    s = get_session("afg-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def norm_cell(v):
    """Canonical string form for exact order-insensitive compare."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize_rows(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        tuple(norm_cell(row[i]) for i in order) for row in rows
    )


def assert_frames_match(spark_df, duck_result):
    """Exact compare: row count, column names, sorted values."""
    duck_cols = [d[0] for d in duck_result.description]
    duck_rows = duck_result.fetchall()
    spark_rows = spark_df.collect()
    assert sorted(spark_df.columns) == sorted(duck_cols), (
        f"columns: spark={sorted(spark_df.columns)} "
        f"duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"rowcount: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = normalize_rows(spark_rows, spark_df.columns)
    d = normalize_rows(duck_rows, duck_cols)
    if s != d:
        first = next((a, b) for a, b in zip(s, d) if a != b)
        raise AssertionError(
            f"values differ; first diff:\nspark={first[0]}\n"
            f"duck ={first[1]}"
        )
