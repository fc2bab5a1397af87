"""functions/gate: ``pair_join`` is the exact cross product as a hash
join, and ``filter_once`` is the r11 single-evaluation threshold
gate: row-set equivalence with the naive select+filter form (incl.
NULL and NaN inputs, Spark's NaN-largest comparison semantics), and
the plan property it exists for (the gated expression appears ONCE,
never in a Filter condition or join condition)."""

from __future__ import annotations

from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.gate import filter_once
from afg_data_pipeline_spark.operators import _setsim_local
from afg_data_pipeline_spark.plans import REGISTRY
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _frame(spark):
    # values exercise: pass, fail, exact-threshold, NULL, NaN
    rows = [
        (1, 2.0),
        (2, 0.1),
        (3, 0.5),
        (4, None),
        (5, float("nan")),
    ]
    return spark.createDataFrame(rows, "id long, x double")


class TestFilterOnce:
    def test_rows_match_naive_filter(self, spark):
        df = _frame(spark)
        expr = F.col("x") * 2.0 - 0.5  # derived, nullable
        naive = (
            df.withColumn("y", expr)
            .filter(F.col("y") >= 0.5)
            .select("id", "y")
        )
        gated = filter_once(
            df, expr, lambda y: y >= F.lit(0.5), "y"
        ).select("id", "y")
        a = sorted((r[0], repr(r[1])) for r in naive.collect())
        b = sorted((r[0], repr(r[1])) for r in gated.collect())
        assert a == b
        # NaN passes (Spark orders NaN above every double), NULL
        # drops — in BOTH forms.
        ids = [r[0] for r in b]
        assert 5 in ids and 4 not in ids

    def test_expression_evaluated_once(self, spark):
        df = _frame(spark)
        # a recognizably-named heavy expression
        expr = F.expr(
            "aggregate(array(x, x), cast(0.0 as double),"
            " (acc, v) -> acc + v)"
        )
        naive = (
            df.withColumn("y", expr)
            .filter(F.col("y") >= 0.5)
            .select("id", "y")
        )
        gated = filter_once(
            df, expr, lambda y: y >= F.lit(0.5), "y"
        ).select("id", "y")
        # the naive form duplicates the aggregate into the pushed
        # Filter; the gate keeps exactly one occurrence, inside the
        # Generate
        assert plan_of(naive).count("aggregate(") == 2
        assert plan_of(gated).count("aggregate(") == 1

    def test_null_true_predicate_diverges_from_naive_filter(self, spark):
        # the documented precondition: when pred(NULL) is TRUE the
        # gate drops the NULL row (its IS NOT NULL filter) while the
        # naive filter keeps it
        df = _frame(spark)
        naive = df.withColumn("y", F.col("x")).filter(F.col("y").isNull())
        gated = filter_once(df, F.col("x"), lambda y: y.isNull(), "y")
        assert [r["id"] for r in naive.collect()] == [4]
        assert gated.collect() == []

    def test_quality_score_of_matches_quality_score(self, spark):
        from afg_data_pipeline_spark.operators.text import (
            quality_score,
            quality_score_of,
            tokens,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        a = docs.select(
            "doc_id", quality_score("text").alias("q")
        )
        b = docs.select(
            "doc_id", "text", tokens("text").alias("__toks")
        ).select(
            "doc_id",
            quality_score_of(F.col("__toks"), "text").alias("q"),
        )
        ra = sorted((r["doc_id"], repr(r["q"])) for r in a.collect())
        rb = sorted((r["doc_id"], repr(r["q"])) for r in b.collect())
        assert ra == rb


class TestPairJoin:
    def test_cross_product_including_null_ids(self, spark):
        from afg_data_pipeline_spark.functions.gate import pair_join

        left = spark.createDataFrame(
            [(1,), (2,), (None,)], "id long"
        )
        right = spark.createDataFrame(
            [(10,), (None,)], "rid long"
        )
        joined = pair_join(left, right, spread=2)
        assert joined.columns == ["id", "rid"]
        got = sorted(
            ((r["id"], r["rid"]) for r in joined.collect()),
            key=str,
        )
        want = sorted(
            ((a, b) for a in (1, 2, None) for b in (10, None)),
            key=str,
        )
        assert got == want  # full cross product, nulls included
        assert "BroadcastHashJoin" in plan_of(joined)
        assert "BroadcastNestedLoopJoin" not in plan_of(joined)


class TestGatedRegisteredPlans:
    """The r11-gated queries keep their heavy expression out of
    every Filter/Join condition (single evaluation)."""

    def _cond_lines(self, plan: str) -> str:
        return "\n".join(
            ln
            for ln in plan.splitlines()
            if ln.startswith("Condition")
            or ln.startswith("Join condition")
            or "PushedFilters" in ln
        )

    def test_ngram_jaccard_single_intersect(self, spark, monkeypatch):
        # the distributed path's plan (small corpora take the driver
        # kernel of operators/_setsim_local.py, which has no join)
        monkeypatch.setattr(_setsim_local, "_LOCAL_MAX_CELLS", 0)
        df = REGISTRY["ngram_jaccard_dups"].fn(spark, SF_DIR)
        plan = plan_of(df)
        assert plan.count("array_intersect") == 1
        assert "array_intersect" not in self._cond_lines(plan)
        # ...and the exact size-bound prefilter IS in the join
        # condition (guide §3)
        assert "least(size(t_a" in self._cond_lines(plan)

    def test_lsh_near_dup_single_fold(self, spark):
        df = REGISTRY["embedding_near_dup_lsh"].fn(spark, SF_DIR)
        plan = plan_of(df)
        assert plan.count("aggregate(zip_with") == 1
        assert "aggregate(zip_with" not in self._cond_lines(plan)

    def test_quality_gates_single_eval(self, spark):
        for q in (
            "curate_corpus",
            "prep_training_corpus",
            "readability_scores",
        ):
            plan = plan_of(REGISTRY[q].fn(spark, SF_DIR))
            cond = self._cond_lines(plan)
            assert "regexp_extract_all" not in cond, q
            assert "split(" not in cond, q
        # curate/prep additionally split the text exactly once
        for q in ("curate_corpus", "prep_training_corpus"):
            plan = plan_of(REGISTRY[q].fn(spark, SF_DIR))
            assert plan.count("split(") == 1, q

    def test_brute_pair_stream_is_hash_join(self, spark):
        plan = plan_of(
            REGISTRY["embedding_near_dup"].fn(spark, SF_DIR)
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert "aggregate(zip_with" not in self._cond_lines(plan)
