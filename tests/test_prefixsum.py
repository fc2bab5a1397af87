"""sharded_cumsum must be bit-identical to the plain window cumsum
it replaces (pack_token_stream's scale path) on every shape: grouped,
ungrouped, skewed keys, single-row groups, negative values."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from afg_data_pipeline_spark.operators import prefixsum
from afg_data_pipeline_spark.operators.prefixsum import sharded_cumsum

_PLAIN_MAX_GROUP_ROWS = prefixsum._PLAIN_MAX_GROUP_ROWS


def _plain_cumsum(df, value_col, order_col, partition_cols):
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    if partition_cols:
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    return df.withColumn("cum", F.sum(value_col).over(w))


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("g", "k", "v", "cum").collect()
    )


@pytest.fixture(scope="module")
def frame(spark):
    # 3 groups with very different sizes (one dominant group — the
    # exact shape that starves a per-group window), ids deliberately
    # non-contiguous, values include negatives.
    rows = []
    for i in range(900):
        rows.append(("big", i * 7 + 3, (i % 13) - 4))
    for i in range(40):
        rows.append(("mid", i * 100, i))
    rows.append(("single", 42, 5))
    return spark.createDataFrame(rows, "g string, k long, v long")


@pytest.fixture(autouse=True)
def _force_sharded(monkeypatch):
    """Every equivalence test here exercises the SHARDED strategy:
    with the adaptive threshold at its 8M default, the tiny test
    groups would all take the plain-window path and the tests
    would compare plain against plain."""
    monkeypatch.setattr(prefixsum, "_PLAIN_MAX_GROUP_ROWS", 0)


class TestShardedCumsum:
    def test_matches_plain_window_grouped(self, frame):
        got = sharded_cumsum(
            frame, "v", "k", ["g"], n_shards=8, out_col="cum"
        )
        want = _plain_cumsum(frame, "v", "k", ["g"])
        assert _rows(got) == _rows(want)

    def test_matches_plain_window_ungrouped(self, frame):
        got = sharded_cumsum(
            frame.drop("g").withColumn("g", F.lit("x")),
            "v",
            "k",
            (),
            n_shards=8,
            out_col="cum",
        )
        want = _plain_cumsum(
            frame.drop("g").withColumn("g", F.lit("x")), "v", "k", ()
        )
        assert _rows(got) == _rows(want)

    def test_one_shard_degenerates_cleanly(self, frame):
        got = sharded_cumsum(
            frame, "v", "k", ["g"], n_shards=1, out_col="cum"
        )
        want = _plain_cumsum(frame, "v", "k", ["g"])
        assert _rows(got) == _rows(want)

    def test_skewed_key_distribution_still_exact(self, spark):
        # All keys clustered at the top of the range: most shards
        # empty — balance degrades, correctness must not.
        rows = [("a", 10**9 + i, i) for i in range(50)] + [("a", 1, 99)]
        df = spark.createDataFrame(rows, "g string, k long, v long")
        got = sharded_cumsum(df, "v", "k", ["g"], n_shards=16)
        want = _plain_cumsum(df, "v", "k", ["g"])
        assert _rows(got) == _rows(want)

    def test_row_window_partitioned_by_shard(self, frame):
        # The scale claim itself: the row-level cumsum window must be
        # keyed by (group, shard), not group alone.
        import re

        got = sharded_cumsum(frame, "v", "k", ["g"], n_shards=8)
        plan = got._jdf.queryExecution().executedPlan().toString()
        row_wins = [
            ln
            for ln in plan.splitlines()
            if re.search(r"\bWindow\b", ln) and re.search(r"sum\(v#", ln)
        ]
        assert row_wins, plan
        for ln in row_wins:
            assert "__shard" in ln, ln

    def test_adaptive_picks_plain_below_threshold(
        self, frame, monkeypatch
    ):
        # Default threshold (8M rows/group): small groups take the
        # one-shuffle plain window — no __shard machinery in the
        # plan — and the values are identical either way.
        monkeypatch.setattr(
            prefixsum, "_PLAIN_MAX_GROUP_ROWS", _PLAIN_MAX_GROUP_ROWS
        )
        got = sharded_cumsum(frame, "v", "k", ["g"], n_shards=8)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "__shard" not in plan, plan
        assert _rows(got) == _rows(
            _plain_cumsum(frame, "v", "k", ["g"])
        )

    def test_adaptive_threshold_boundary(self, frame, monkeypatch):
        # Largest group in the fixture is 900 rows: cap 900 -> plain,
        # cap 899 -> sharded; both bit-identical.
        want = _rows(_plain_cumsum(frame, "v", "k", ["g"]))
        monkeypatch.setattr(prefixsum, "_PLAIN_MAX_GROUP_ROWS", 900)
        plain = sharded_cumsum(frame, "v", "k", ["g"], n_shards=8)
        assert "__shard" not in (
            plain._jdf.queryExecution().executedPlan().toString()
        )
        assert _rows(plain) == want
        monkeypatch.setattr(prefixsum, "_PLAIN_MAX_GROUP_ROWS", 899)
        sharded = sharded_cumsum(frame, "v", "k", ["g"], n_shards=8)
        assert "__shard" in (
            sharded._jdf.queryExecution().executedPlan().toString()
        )
        assert _rows(sharded) == want
