"""BM25 retrieval (operators/bm25.py)."""

import math

import pytest

from afg_data_pipeline_spark.operators.bm25 import GRID, bm25_topk

DOCS = [
    (1, "apple banana apple"),
    (2, "banana cherry"),
    (3, "apple apple apple apple"),
    (4, "durian cherry banana banana"),
    (5, "unrelated words only here"),
]


def _py_bm25(docs, query_terms, k1=1.2, b=0.75):
    toks = {d: t.strip().split() for d, t in docs}
    n = len(toks)
    avg = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in query_terms:
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, v in toks.items():
            tf = v.count(term)
            if not tf:
                continue
            tfn = (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(v) / avg)
            )
            scores[d] = scores.get(d, 0) + round(
                idf * tfn * GRID
            )
    return {d: s / GRID for d, s in scores.items()}


class TestBM25:
    def test_matches_python_replica(self, spark):
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        out = bm25_topk(
            docs, [("q1", "apple banana")], k=10
        ).collect()
        exp = _py_bm25(DOCS, ["apple", "banana"])
        got = {r.doc_id: r.score for r in out}
        assert got == pytest.approx(exp, abs=0)  # bit-exact
        # ranking follows (score desc, doc_id asc)
        ranked = sorted(out, key=lambda r: r.rank)
        assert [r.doc_id for r in ranked] == sorted(
            exp, key=lambda d: (-exp[d], d)
        )

    def test_k_truncates_and_rank_dense(self, spark):
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        out = bm25_topk(
            docs, [("q1", "banana")], k=2
        ).collect()
        assert len(out) == 2
        assert sorted(r.rank for r in out) == [1, 2]

    def test_duplicate_query_terms_count_once(self, spark):
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        once = bm25_topk(docs, [("q", "apple")], k=10)
        twice = bm25_topk(docs, [("q", "apple apple")], k=10)
        assert sorted(
            (r.doc_id, r.score) for r in once.collect()
        ) == sorted((r.doc_id, r.score) for r in twice.collect())

    def test_unmatched_query_returns_nothing(self, spark):
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        out = bm25_topk(
            docs, [("q", "zzz_not_in_corpus")], k=5
        ).collect()
        assert out == []

    def test_rare_term_outranks_common(self, spark):
        # 'durian' appears in one doc, 'banana' in three: for a
        # two-term query the durian doc must rank first
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        out = bm25_topk(
            docs, [("q", "durian banana")], k=1
        ).collect()
        assert out[0].doc_id == 4


class TestPersistedIndex:
    def test_equals_one_shot_and_prunes(self, spark, tmp_path):
        from afg_data_pipeline_spark.operators.bm25 import (
            build_bm25_index,
            query_bm25_index,
        )

        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        idx = str(tmp_path / "bm25idx")
        build_bm25_index(docs, idx)
        queries = [("q1", "apple banana"), ("q2", "durian")]
        served = query_bm25_index(spark, idx, queries, k=10)
        oneshot = bm25_topk(docs, queries, k=10)
        assert sorted(map(tuple, served.collect())) == sorted(
            map(tuple, oneshot.collect())
        )
        # the postings scan must carry partition filters on the
        # term buckets — serving never reads unrelated buckets
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "tbucket" in plan and "PartitionFilters: [" in plan
        assert "tbucket#" in plan.split("PartitionFilters")[1][:200]

    def test_file_uri_index_round_trip(self, spark, tmp_path):
        """Addressed as a ``file://`` URI, build writes stats.json
        into the index dir (through the Hadoop FileSystem, not a
        driver-local open()) and serving reads it back."""
        from afg_data_pipeline_spark.operators.bm25 import (
            build_bm25_index,
            query_bm25_index,
        )

        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        idx = "file://" + str(tmp_path / "bm25idx")
        build_bm25_index(docs, idx)
        assert (tmp_path / "bm25idx" / "stats.json").is_file()
        queries = [("q1", "apple banana"), ("q2", "durian")]
        served = query_bm25_index(spark, idx, queries, k=10)
        oneshot = bm25_topk(docs, queries, k=10)
        assert sorted(map(tuple, served.collect())) == sorted(
            map(tuple, oneshot.collect())
        )
