"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``afg_data_pipeline_spark``; this module is
a thin adapter over its declared-query registry
(afg_data_pipeline_spark/plans/registry.py). Oracle-less entries
(pandas-UDF KNN imputation, sketch-based ops) get the driver's
rows-only check by design.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from afg_data_pipeline_spark.plans import REGISTRY
from afg_data_pipeline_spark.plans._fingerprint import (
    fingerprints,
    tree_sources,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's production entry point is the emergency-visit
    loader (atenciones_urgencia.py:7-28): conjunctive filter +
    projection — here over the star-schema lineitem.
    """
    return REGISTRY["flagship_filter_project"].fn(spark, SMOKE_SF_DIR)


def _green(row: dict) -> bool:
    """A driver row that certifies its query: the oracle compare
    matched on rows, schema and hash, or (no oracle) Spark returned
    rows."""
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return row.get("err") is None and all(
        row.get(k) is True
        for k in ("rows_match", "schema_match", "hash_match")
    )


def _coverage_order(names: list[str]) -> list[str]:
    """Order query names least-driver-certified-first.

    The driver's CORRECTNESS run caps at the first 50 entries of
    queries(), so a fixed order starves the tail forever. A row of
    the committed CORRECTNESS_r<N>.json certifies its query only if
    the row is green and the query's fingerprint at round N (the
    generated CERTIFIED.json) equals its fingerprint now
    (plans/_fingerprint.py over the package source; a round missing
    from CERTIFIED.json certifies nothing until it is refreshed).
    Sorting by (certifying rows, rows of any color, last certifying
    round, name) rotates the window: never-checked queries lead,
    then those with no certifying row (code changed since, or only
    red rows), then the least and longest ago certified.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    now = fingerprints(tree_sources())
    try:
        with open(os.path.join(here, "CERTIFIED.json")) as fh:
            certified = json.load(fh)
    except (OSError, ValueError):
        certified = {}

    seen: dict[str, list[int]] = {n: [] for n in names}
    raw: dict[str, int] = {n: 0 for n in names}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = os.path.basename(path)[len("CORRECTNESS_") : -len(".json")]
        try:
            with open(path) as fh:
                data = json.load(fh)
            num = int(rnd[1:])
        except (OSError, ValueError):
            continue
        was = certified.get(rnd, {})
        for n, row in data.items():
            if n not in seen:
                continue
            raw[n] += 1
            if _green(row) and n in now and was.get(n) == now[n]:
                seen[n].append(num)
    return sorted(
        names,
        key=lambda n: (
            len(seen[n]),
            raw[n],
            max(seen[n], default=0),
            n,
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    order = _coverage_order(list(REGISTRY))
    return {name: REGISTRY[name].fn for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {
        name: q.oracle
        for name, q in REGISTRY.items()
        if q.oracle is not None
    }
