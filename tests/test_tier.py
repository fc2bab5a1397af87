"""functions/tier — the budget gate and its announce channel.

Budgets resolve kwarg > ``AFG_<NAME>`` env > default; the stat is a
scalar or a 1-row aggregate; an over-budget decision is announced on
the package logger (stderr), never on stdout, so bench-style stdout
stays pure JSON lines even when a tier trips."""

from __future__ import annotations

import json
import logging

import pytest
from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.tier import budget, gate

LOGGER = "afg_data_pipeline_spark"


@pytest.fixture(autouse=True)
def _no_test_knob(monkeypatch):
    monkeypatch.delenv("AFG_TEST_KNOB", raising=False)


class TestBudget:
    def test_kwarg_then_env_then_default(self, monkeypatch):
        assert budget("TEST_KNOB", 7) == 7
        monkeypatch.setenv("AFG_TEST_KNOB", "11")
        assert budget("TEST_KNOB", 7) == 11
        assert budget("TEST_KNOB", 7, 3) == 3
        assert budget("TEST_KNOB", 7, 0) == 0  # 0 is a value

    def test_env_parses_as_the_default_type(self, monkeypatch):
        monkeypatch.setenv("AFG_TEST_KNOB", "0.5")
        assert budget("TEST_KNOB", 0.02) == 0.5


class TestGate:
    def test_scalar_stat_announces_only_over_budget(self, caplog):
        with caplog.at_level(logging.WARNING, logger=LOGGER):
            at = gate("TEST_KNOB", 5, 5, event="t: over")
            assert not caplog.records
            over = gate("TEST_KNOB", 6, 5, event="t: over")
        assert at == (False, 5, 5) and over == (True, 6, 5)
        [rec] = caplog.records
        assert rec.name == LOGGER
        assert rec.getMessage() == "t: over stat=6 AFG_TEST_KNOB=5"

    def test_aggregate_stat_null_reads_zero(self, spark):
        agg = spark.range(10).agg(F.max("id"))
        assert gate("TEST_KNOB", agg, 8) == (True, 9, 8)
        empty = spark.range(0).agg(F.max("id"))
        assert gate("TEST_KNOB", empty, 0) == (False, 0, 0)


class TestStdoutPurity:
    """Trip two tiers, print bench-style result lines, and check
    that stdout holds only JSON while the announcements reach the
    package logger."""

    def _ngram_docs(self, spark):
        rows = [
            (i, f"shared opening words then filler number {i}", "en")
            for i in range(15)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def _containment_docs(self, spark):
        quote = "the quick brown fox jumps over the lazy dog today"
        boiler = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [(1, quote), (2, f"lead in . {quote} . tail")] + [
            (100 + i, f"{boiler} uniq{i}") for i in range(20)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_tripped_tiers_keep_stdout_json_only(
        self, spark, capsys, caplog
    ):
        from afg_data_pipeline_spark.operators.dedup import (
            containment_pairs,
            ngram_jaccard_pairs,
        )

        with caplog.at_level(logging.WARNING, logger=LOGGER):
            cont = containment_pairs(
                self._containment_docs(spark), max_cand=100
            ).collect()
            print(json.dumps({"q": "containment", "s": 0.0}))
            ngram = ngram_jaccard_pairs(
                self._ngram_docs(spark),
                group_col="lang",
                threshold=0.5,
                max_pairs=10,
            ).collect()
            print(json.dumps({"q": "ngram", "s": 0.0}))
        assert {r.tier for r in cont} == {"rare_gram_subset"}
        assert {r.tier for r in ngram} == {"lsh_subset"}

        out = capsys.readouterr().out
        lines = out.splitlines()
        assert [json.loads(ln)["q"] for ln in lines] == [
            "containment",
            "ngram",
        ]
        events = [
            r.getMessage() for r in caplog.records if r.name == LOGGER
        ]
        assert any(e.startswith("containment_pairs:") for e in events)
        assert any(
            e.startswith("ngram_jaccard_pairs:")
            and "falling back to banded MinHash" in e
            for e in events
        )

    def test_unconfigured_logging_announces_on_stderr(self):
        import os
        import subprocess
        import sys

        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                "from afg_data_pipeline_spark.functions.tier import "
                "announce; announce('op: tier switched', n=3)",
            ],
            cwd=os.path.dirname(os.path.dirname(__file__)),
            capture_output=True,
            text=True,
            check=True,
        )
        assert proc.stdout == ""
        assert "op: tier switched n=3" in proc.stderr
