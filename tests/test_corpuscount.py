"""corpus_key_count (the skew gate behind boilerplate_line_dedup /
duplicate_spans / duplicate_span_extract / chunk_dedup_profile) must
be bit-identical across its two physical paths, and the gate must
actually ENGAGE on a planted hot key.

The whole contract: path choice is a physical-plan decision from
measured stats; the counts themselves are the same aggregate either
way, so misclassification can never change a value.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame, Window

from afg_data_pipeline_spark.operators.corpuscount import (
    corpus_key_count,
)


def _lines(d: DataFrame) -> DataFrame:
    """A miniature boilerplate-line stream builder: one row per
    whitespace token (the 'line'), keyed by the token."""
    return d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.col("text")), r"\s+")
        ).alias("pos", "line"),
    )


def _plain(d: DataFrame) -> DataFrame:
    return _lines(d).withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("line"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark):
    # 60 docs; the token "HOT" appears 5x in every doc (300 corpus
    # rows), everything else is unique per doc.
    rows = [
        (i, " ".join(["HOT"] * 5 + [f"u{i}_{j}" for j in range(4)]))
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestCorpusKeyCount:
    def test_cold_path_is_plain_window(self, docs):
        # Default thresholds: nothing is hot -> identical to the
        # plain window, and no union/checkpoint in the plan.
        got = corpus_key_count(docs, _lines, "line", out_col="c")
        assert "Union" not in (
            got._jdf.queryExecution().executedPlan().toString()
        )
        assert _rows(got) == _rows(_plain(docs))

    def test_gate_engages_and_is_bit_identical(self, docs, caplog):
        # hot_rows=100, full probe: "HOT" (300 rows) must be routed
        # off the window; output identical to the plain form.
        got = corpus_key_count(
            docs,
            _lines,
            "line",
            out_col="c",
            hot_rows=100,
            probe_fraction=1.0,
        )
        assert "hot-key gate engaged" in caplog.text
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan
        assert _rows(got) == _rows(_plain(docs))

    def test_sampled_probe_detects_spread_hot_key(self, docs, caplog):
        # The at-scale shape: a 0.3 sample of 60 docs still sees
        # ~90 "HOT" rows, clearing the conservative cut
        # (100 * 0.3 * 0.25 = 7.5 -> 7); uniques never qualify.
        got = corpus_key_count(
            docs,
            _lines,
            "line",
            out_col="c",
            hot_rows=100,
            probe_fraction=0.3,
        )
        assert "hot-key gate engaged" in caplog.text
        assert _rows(got) == _rows(_plain(docs))

    def test_probe_disabled_forces_plain_window(self, docs):
        got = corpus_key_count(
            docs,
            _lines,
            "line",
            out_col="c",
            hot_rows=1,
            probe_fraction=0.0,
        )
        assert "Union" not in (
            got._jdf.queryExecution().executedPlan().toString()
        )
        assert _rows(got) == _rows(_plain(docs))

    def test_bigint_key_column(self, docs):
        # The dedup call sites key on xxhash64 (bigint) — the hot
        # path's createDataFrame must round-trip that type.
        def _hashed(d):
            return _lines(d).select(
                "doc_id", "pos", F.xxhash64("line").alias("line")
            )

        got = corpus_key_count(
            docs,
            _hashed,
            "line",
            out_col="c",
            hot_rows=100,
            probe_fraction=1.0,
        )
        want = _hashed(docs).withColumn(
            "c", F.count(F.lit(1)).over(Window.partitionBy("line"))
        )
        assert _rows(got) == _rows(want)

    def test_count_dtype_matches_window(self, docs):
        gated = corpus_key_count(
            docs,
            _lines,
            "line",
            out_col="c",
            hot_rows=100,
            probe_fraction=1.0,
        )
        assert dict(gated.dtypes)["c"] == dict(_plain(docs).dtypes)["c"]


class TestRegisteredQueriesUnderGate:
    """The four registered consumers, forced through the hot path by
    env, must produce exactly what the default (cold) path produces:
    the planted-hot-line situation on real corpus data."""

    @pytest.mark.parametrize(
        "qname",
        [
            "boilerplate_line_dedup",
            "duplicate_span_detect",
            "duplicate_span_extract",
            "chunk_dedup_profile",
        ],
    )
    def test_hot_path_matches_cold_path(
        self, spark, qname, monkeypatch
    ):
        from tests.conftest import SF_DIR as sf_dir

        from __spark_entry__ import queries

        q = queries()[qname]
        monkeypatch.delenv("AFG_CORPUS_COUNT_HOT_ROWS", raising=False)
        monkeypatch.setenv("AFG_CORPUS_COUNT_PROBE_FRACTION", "0.0")
        cold = _rows(q(spark, sf_dir))
        # Threshold low enough that real dup grams/lines qualify.
        monkeypatch.setenv("AFG_CORPUS_COUNT_HOT_ROWS", "8")
        monkeypatch.setenv("AFG_CORPUS_COUNT_PROBE_FRACTION", "1.0")
        hot = _rows(q(spark, sf_dir))
        assert hot == cold
