"""Physical-plan regression tests: the scale properties SURVEY.md
§4 promises must be visible in `.explain`, not just asserted in
docstrings.

These tests parse the formatted plan for the load-bearing shapes:
filters pushed to the parquet scan, projection pruning in
ReadSchema, broadcast joins on dimensions, partition pruning on a
partitioned sink, and absence of the O(n²) unbounded-following
window frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from afg_data_pipeline_spark.io import write_parquet
from afg_data_pipeline_spark.operators import _setsim_local, graph, prefixsum
from afg_data_pipeline_spark.plans import REGISTRY
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def multi_row_bnljs(df) -> list[str]:
    """BroadcastNestedLoopJoins in the executed plan whose broadcast
    side is not provably <= 1 row — the interpreted pair generation
    CLAUDE.md rule 23 forbids. The proof is the ``maxRows`` of the
    first node below the broadcast that links back to a logical
    plan (a keyless aggregate proves 1 row; a pair_join build side
    proves nothing, so a BNLJ there fails)."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()

    def kids(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    bad, todo = [], [root]
    while todo:
        node = todo.pop()
        todo.extend(kids(node))
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        right = node.buildSide().toString() == "BuildRight"
        build = node.right() if right else node.left()
        link = build.logicalLink()
        while not link.isDefined() and len(kids(build)) == 1:
            build = kids(build)[0]
            link = build.logicalLink()
        rows = link.get().maxRows() if link.isDefined() else None
        if rows is None or not rows.isDefined() or rows.get() > 1:
            bad.append(node.toString().splitlines()[0])
    return bad


class TestPushdownAndPruning:
    def test_flagship_pushes_filters_to_scan(self, spark):
        df = REGISTRY["flagship_filter_project"].fn(spark, SF_DIR)
        plan = plan_of(df)
        assert "PushedFilters:" in plan
        # all three predicates reach the scan
        assert "In(l_returnflag" in plan
        assert "GreaterThanOrEqual(l_shipdate" in plan
        assert "EqualTo(l_linestatus,F)" in plan

    def test_flagship_prunes_columns(self, spark):
        df = REGISTRY["flagship_filter_project"].fn(spark, SF_DIR)
        plan = plan_of(df)
        # 8 projected columns only — no l_partkey/l_suppkey/l_tax in
        # the scan schema.
        read = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_partkey" not in read
        assert "l_tax" not in read

    def test_wholestage_codegen_covers_scan_agg(self, spark):
        df = REGISTRY["pricing_summary"].fn(spark, SF_DIR)
        # AQE shows codegen only in the final (executed) plan, and
        # only on the DataFrame's own QueryExecution — collect it.
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        # '*(n)' node prefixes are the WholeStageCodegen markers in
        # the compact executed-plan form.
        assert "isFinalPlan=true" in executed
        assert "*(" in executed


class TestJoinStrategies:
    def test_star_join_broadcasts_dimensions(self, spark):
        df = REGISTRY["star_join_revenue"].fn(spark, SF_DIR)
        plan = plan_of(df)
        assert plan.count("BroadcastHashJoin") >= 2
        assert "CartesianProduct" not in plan

    def test_semi_anti_use_semi_join_operators(self, spark):
        plan = plan_of(REGISTRY["semi_anti_join"].fn(spark, SF_DIR))
        assert "LeftSemi" in plan and "LeftAnti" in plan

    def test_asof_join_has_no_cross_product(self, spark):
        plan = plan_of(
            REGISTRY["asof_join_last_purchase"].fn(spark, SF_DIR)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" in plan

    def test_nn_1d_has_no_cross_product(self, spark):
        plan = plan_of(REGISTRY["nn_assign"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestClassicShapes:
    """The TPC-H classic plans must show the scale shapes their
    docstrings promise."""

    def test_q6_is_pure_scan_aggregate(self, spark):
        plan = plan_of(REGISTRY["q6_revenue_delta"].fn(spark, SF_DIR))
        # zero joins, predicates reach the scan
        assert "Join" not in plan
        assert "PushedFilters:" in plan
        assert "GreaterThanOrEqual(l_shipdate" in plan
        assert "LessThan(l_quantity" in plan

    def test_q3_q10_q18_use_take_ordered(self, spark):
        for name in (
            "q3_shipping_priority",
            "q10_returned_items",
            "q18_large_volume",
        ):
            plan = plan_of(REGISTRY[name].fn(spark, SF_DIR))
            # global top-k never materializes a full sort
            assert "TakeOrderedAndProject" in plan, name

    @pytest.mark.parametrize(
        "name",
        [
            "q7_volume_shipping",
            "q8_market_share",
            "q9_profit_by_nation_year",
            "q19_disjunctive_revenue",
            "q2_min_cost_supplier",
        ],
    )
    def test_classics_broadcast_dimensions(self, spark, name):
        plan = plan_of(REGISTRY[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name

    def test_ngram_jaccard_join_is_shuffle_not_broadcast(
        self, spark, monkeypatch
    ):
        # Round-1 regression: the verifier broadcast the full corpus
        # side, which OOMs past driver broadcast memory at scale.
        # The salted plan must join via shuffle (hash or SMJ), with
        # no broadcast of the replicated build side. Pinned on the
        # distributed path: this small corpus would take the driver
        # kernel of operators/_setsim_local.py.
        monkeypatch.setattr(_setsim_local, "_LOCAL_MAX_CELLS", 0)
        plan = plan_of(REGISTRY["ngram_jaccard_dups"].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan

    def test_embedding_lsh_dedup_is_shuffle_not_broadcast(self, spark):
        # The registered semantic-dedup production path must not
        # inherit the brute-force anchor's broadcast/crossJoin. The
        # pair-generating self-joins must be shuffle joins; the only
        # broadcast allowed is the bounded hot-bucket KEY set used
        # for the hot/cold split (a semi/anti of (t, bucket) keys,
        # never vectors).
        plan = plan_of(
            REGISTRY["embedding_near_dup_lsh"].fn(spark, SF_DIR)
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
        # any broadcast join must be the key-set split (LeftSemi /
        # LeftAnti) — never an Inner pair join. The simple-mode plan
        # prints the join type inline per node.
        simple = (
            REGISTRY["embedding_near_dup_lsh"]
            .fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in simple.splitlines():
            if "BroadcastHashJoin" in line:
                assert "LeftSemi" in line or "LeftAnti" in line, line

    def test_nn_grid2d_resolves_without_crossjoin(self, spark):
        # The 2-D grid NN must resolve every row through the cell
        # equi-join rounds: a CartesianProduct or BNLJ in the final
        # plan would mean the residual fallback fired (or the grid
        # regressed to all-pairs).
        plan = plan_of(REGISTRY["nn_assign_grid2d"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q4_q21_semi_anti_joins(self, spark):
        plan = plan_of(REGISTRY["q4_priority_exists"].fn(spark, SF_DIR))
        assert "LeftSemi" in plan
        plan = plan_of(
            REGISTRY["q21_waiting_supplier"].fn(spark, SF_DIR)
        )
        assert "LeftSemi" in plan and "LeftAnti" in plan

    def test_nn_bucketed_windows_are_partitioned(self, spark):
        """The big-data windows of the bucketed 1-NN carry the
        bucket partition spec — only the n_buckets-row summary may
        sort globally."""
        plan = plan_of(REGISTRY["nn_assign_bucketed"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        # Every window spec ordering on __pos (the full data stream)
        # must lead with the __bucket partition key; the only
        # unpartitioned specs order by __bucket itself (the tiny
        # spine summary).
        specs = plan.split("windowspecdefinition(")[1:]
        assert specs, "expected window nodes in the plan"
        for seg in specs:
            head = seg.split("specifiedwindowframe")[0]
            if "__pos" in head:
                assert head.index("__bucket") < head.index(
                    "__pos"
                ), head


class TestWindowFrames:
    @pytest.mark.parametrize(
        "name", ["interp_linear_series", "nn_assign", "asof_join_last_purchase"]
    )
    def test_no_unbounded_following_frames(self, spark, name):
        """Spark evaluates unbounded-FOLLOWING frames O(n²) per
        partition; the engine's convention is reversed-order
        preceding frames only."""
        plan = plan_of(REGISTRY[name].fn(spark, SF_DIR))
        assert "unboundedfollowing" not in plan.lower()


class TestPartitionedSink:
    def test_partition_pruning_on_year_partitioned_sink(
        self, spark, tmp_path
    ):
        from afg_data_pipeline_spark.io import read_star_table

        path = str(tmp_path / "orders_by_year")
        o = read_star_table(spark, "orders", SF_DIR).withColumn(
            "o_year", F.year("o_orderdate")
        )
        write_parquet(o, path, partition_by=["o_year"])
        back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
        plan = plan_of(back)
        # Partition filter handled by pruning, not a post-scan filter.
        assert "PartitionFilters: [isnotnull(o_year" in plan.replace(
            "#", ""
        ) or "PartitionFilters" in plan
        n_1997 = back.count()
        assert 0 < n_1997 < o.count()
        # pruned scan reads only the matching directory
        files = [
            str(p)
            for p in (tmp_path / "orders_by_year").glob("o_year=*")
        ]
        assert any("o_year=1997" in f for f in files)


class TestNewLlmOpShapes:
    def test_decontamination_is_gram_equi_join(self, spark):
        # Both sides reduce to distinct gram rows; the join must be
        # a shuffle equi-join on the gram, never a cross product or
        # a full-side broadcast (eval sets are unbounded in theory).
        plan = plan_of(REGISTRY["eval_decontamination"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_adjacency_graph_no_cross_join(self, spark, monkeypatch):
        # the grid join's plan: sf0.001 suppliers fit the driver kernel
        monkeypatch.setattr(graph, "_LOCAL_MAX_POINTS", 0)
        plan = plan_of(
            REGISTRY["spatial_adjacency_graph"].fn(spark, SF_DIR)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_pack_token_stream_window_is_sharded(
        self, spark, monkeypatch
    ):
        # Above the adaptive threshold the packing cumsum must be
        # the two-pass sharded scan: the row-level window
        # partitioned by (lang, __shard) — per-lang alone bounds
        # parallelism at language cardinality. The per-shard-offset
        # window (≤ n_shards rows per lang) is the only one allowed
        # to partition by lang alone. Threshold forced to 0 so the
        # tiny test sf exercises the at-scale plan shape.
        import re

        monkeypatch.setattr(prefixsum, "_PLAIN_MAX_GROUP_ROWS", 0)
        df = REGISTRY["pack_token_stream"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        win_lines = [
            ln for ln in plan.splitlines() if re.search(r"\bWindow\b", ln)
        ]
        assert win_lines, plan
        cumsum_lines = [
            ln
            for ln in win_lines
            if re.search(r"sum\(n_tokens#", ln)
        ]
        assert cumsum_lines, win_lines
        for ln in cumsum_lines:
            assert "__shard" in ln and "lang" in ln, ln

    def test_pack_token_stream_small_groups_use_plain_window(
        self, spark
    ):
        # Below the threshold (every group at tiny sf) the adaptive
        # strategy must pick the one-shuffle plain window — the
        # sharded machinery's two extra shuffled aggregates are
        # measured pure overhead there (PERF.md round 4).
        df = REGISTRY["pack_token_stream"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "__shard" not in plan, plan

    def test_unigram_lm_total_is_broadcast_scalar(self, spark):
        # The 1-row corpus total must ride a broadcast, and the
        # token->freq join must not be a cross product.
        plan = plan_of(REGISTRY["unigram_lm_score"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan


class TestRound4PlanShapes:
    def test_contrastive_bucket_reps_broadcast(self, spark, monkeypatch):
        # The negative-sampling join must broadcast the tiny
        # bucket-rep table, never shuffle the anchors against it.
        # Pinned with the positives on the distributed minhash path.
        monkeypatch.setattr(_setsim_local, "_LOCAL_MAX_CELLS", 0)
        plan = plan_of(REGISTRY["contrastive_pairs"].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_adaptive_length_single_scan_no_join(self, spark):
        # Round-5 shape: n_kept comes from the compressed
        # (group, value, count) table via window-band columns — ONE
        # corpus scan, ZERO joins (the round-4 form broadcast the
        # band table back onto a second full scan).
        plan = plan_of(
            REGISTRY["adaptive_length_filter"].fn(spark, SF_DIR)
        )
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        import re

        scan_ids = set(
            re.findall(r"\((\d+)\) Scan parquet", plan)
        )
        assert len(scan_ids) == 1, plan[:500]

    def test_kmeans_data_path_has_no_join(self, spark):
        # Distances are literal folds: the assignment path must not
        # join or explode the data — the only exchange feeds the
        # k-row aggregate / final projection.
        df = REGISTRY["kmeans_cluster_assign"].fn(spark, SF_DIR)
        plan = plan_of(df)
        for op in ("Join", "CartesianProduct", "Generate"):
            assert op not in plan, op

    def test_semantic_dedup_blocks_on_cluster(self, spark):
        # The pair join must be an equi-join (on cluster), never a
        # cartesian expansion.
        plan = plan_of(
            REGISTRY["semantic_dedup_pairs"].fn(spark, SF_DIR)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_incremental_near_dup_no_cartesian(self, spark):
        plan = plan_of(
            REGISTRY["incremental_near_dup"].fn(spark, SF_DIR)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_winnow_window_frames_bounded(self, spark):
        # Rule 2: the sliding min must be a PRECEDING frame — an
        # unbounded-FOLLOWING frame is O(n²) per partition.
        df = REGISTRY["winnow_fingerprints"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "unboundedfollowing" not in plan.lower()


class TestContinuation4Shapes:
    def test_nb_score_joins_are_broadcast(self, spark):
        df = REGISTRY["nb_classify_lang"].fn(spark, SF_DIR)
        plan = plan_of(df)
        # the vocabulary semi-join, class fan-out and term join all
        # broadcast the vocabulary-sized model — the corpus side
        # never shuffles for them; no cartesian anywhere; the class
        # fan-out is a pair_join, so the only BNLJs left broadcast
        # keyless 1-row aggregates
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 2
        assert multi_row_bnljs(df) == []

    def test_pareto_window_runs_on_distinct_prices(self, spark):
        plan = plan_of(
            REGISTRY["pareto_frontier"].fn(spark, SF_DIR)
        )
        # the global window must sit ABOVE the distinct-price
        # aggregate (tree prints parents first: Window textually
        # precedes its HashAggregate child), and the tiny frontier
        # table broadcasts back to the corpus — never the reverse
        tree = plan.split("(1) Scan")[0]
        assert "Window" in tree and "HashAggregate" in tree
        assert tree.index("Window") > tree.index(
            "BroadcastExchange"
        )  # window output is what gets broadcast
        assert tree.index("Window") < tree.index("HashAggregate")
        assert "CartesianProduct" not in plan

    def test_sequence_patterns_no_event_level_pairs(self, spark):
        plan = plan_of(
            REGISTRY["sequence_pattern_counts"].fn(spark, SF_DIR)
        )
        # the self-join is an EQUI-join on user_id over the
        # (user,type) span aggregate (hash/merge keyed — AQE may
        # broadcast the small aggregated side at this sf); the
        # only nested-loop is the 1-row total cross join
        assert "CartesianProduct" not in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        )

    def test_seasonal_anomaly_model_joins_broadcast(self, spark):
        plan = plan_of(
            REGISTRY["seasonal_anomaly_flags"].fn(spark, SF_DIR)
        )
        # the profile and the per-type model join back via
        # broadcast — corpus rows never shuffle for either
        assert plan.count("BroadcastHashJoin") >= 2
        assert "CartesianProduct" not in plan


class TestPairJoinsStayHashJoins:
    """Guard for functions/gate.pair_join: if Spark ever folds the
    derived key ``pmod(xxhash64(c), 1)`` the way it folds ``lit(1)``,
    these pair expansions fall back to multi-row BNLJs."""

    # one registered query behind each pair_join caller
    @pytest.mark.parametrize(
        "name",
        [
            "ann_cosine_topk",  # similarity.brute_force_topk
            "ann_ivf_topk",  # similarity.ivf_assign
            "hamming_topk",  # similarity.binary_hamming_topk
            "ann_sq8_topk",  # sq.sq8_topk
            "gravity_flows",  # gravity.gravity_flows
            "lsh_recall_audit",
            "embedding_near_dup",
            "containment_recall_audit",
            "mi_feature_rank",
            "ks_two_sample_drift",
        ],
    )
    def test_registered_pair_joins(self, spark, name):
        df = REGISTRY[name].fn(spark, SF_DIR)
        assert "BroadcastHashJoin" in plan_of(df)
        assert multi_row_bnljs(df) == []

    def test_unregistered_callers(self, spark):
        # brute_force_topk_streamed's only query (mmr) checkpoints
        # its output; nearest_neighbor_assign has no query
        from afg_data_pipeline_spark.io import read_star_table
        from afg_data_pipeline_spark.operators.similarity import (
            brute_force_topk_streamed,
        )
        from afg_data_pipeline_spark.operators.spatial import (
            nearest_neighbor_assign,
        )

        emb = read_star_table(spark, "embeddings", SF_DIR)
        left = spark.range(5).select(F.col("id").alias("lid"))
        right = spark.range(3).select(F.col("id").alias("rid"))
        for df in (
            brute_force_topk_streamed(
                emb.filter(F.col("vec_id") < 4), emb, k=3
            ),
            nearest_neighbor_assign(
                left, right, "lid", "rid", F.col("lid") - F.col("rid")
            ),
        ):
            assert "BroadcastHashJoin" in plan_of(df)
            assert multi_row_bnljs(df) == []

    def test_helper_flags_multi_row_build_only(self, spark):
        left = spark.range(10)
        many = spark.range(3).select(F.col("id").alias("b"))
        one = spark.range(3).agg(F.count(F.lit(1)).alias("n"))
        flagged = multi_row_bnljs(left.crossJoin(F.broadcast(many)))
        assert len(flagged) == 1
        assert multi_row_bnljs(left.crossJoin(F.broadcast(one))) == []
