"""The benchmark's workloads: which package entry points each one
drives, how many documents its inputs hold, and which DuckDB oracle checks it.

A workload item is one "query execution": a builder returning a
DataFrame, which the runner then executes to completion into the
noop sink (timed) or collects (correctness pass). Registry items
call the registered builder ``q.fn(spark, data_dir)``; write-path
items run a write-then-serve lifecycle against directories inside
the run's work dir and return the serving DataFrame.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

# read through the module so the traced run's read_star_table wrapper
# sees these calls too
from afg_data_pipeline_spark import io as sg_io
from afg_data_pipeline_spark.io import write_bucketed_table
from afg_data_pipeline_spark.operators.bm25 import (
    build_bm25_index,
    query_bm25_index,
)
from afg_data_pipeline_spark.operators.pq import query_ivfpq_index
from afg_data_pipeline_spark.plans import REGISTRY
from afg_data_pipeline_spark.sinks.compaction import compact_parquet
from afg_data_pipeline_spark.streaming.ann_index import (
    append_to_ivfpq_index,
    bootstrap_ivfpq_model,
)


@dataclass
class Ctx:
    """What a workload item may touch during one execution."""

    spark: object
    data_dir: str
    out_dir: str  # scratch for write-path items, inside the checkout
    batch_cuts: list[int]  # seeded append-batch boundaries (vec_id)
    tracer: object


@dataclass(frozen=True)
class Item:
    name: str
    build: Callable[[Ctx], object]
    oracle: str
    out: str = ""  # the out_dir subdir a write-path item writes


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    items: tuple[Item, ...]
    # nominal pass on 4 cores: a run makes round(seconds / pass_s)
    # passes, the same count on every run
    pass_s: float = 5.0
    # leading passes that are run but not counted, where the warm pass
    # still falls steeply after the correctness pass
    warmup_passes: int = 0
    n_docs: int = 500


def _registered(name: str) -> Item:
    q = REGISTRY[name]
    if q.oracle is None:
        raise ValueError(f"{name} has no oracle")
    return Item(name, lambda c, fn=q.fn: fn(c.spark, c.data_dir), q.oracle)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# -- index_write lifecycles ------------------------------------------
# Each reproduces a registered persisted query with its output dirs
# moved into the work dir; the oracle is the one-shot query's.


BM25_QUERIES = [
    ("q_vector", "vector hash join"),
    ("q_quality", "slow scan filter"),
    ("q_dup", "dup merge batch"),
]


def _bm25_lifecycle(c: Ctx):
    d = _fresh(os.path.join(c.out_dir, "bm25"))
    docs = sg_io.read_star_table(c.spark, "documents", c.data_dir)
    with c.tracer.span("sinks.write"):
        build_bm25_index(docs, d)
    with c.tracer.span("sinks.serve"):
        return query_bm25_index(c.spark, d, BM25_QUERIES, k=10)


def _bucketed_lifecycle(c: Ctx):
    base = _fresh(os.path.join(c.out_dir, "bucketed"))
    o = sg_io.read_star_table(c.spark, "orders", c.data_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    li = sg_io.read_star_table(c.spark, "lineitem", c.data_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    with c.tracer.span("sinks.write"):
        write_bucketed_table(
            o, "perfbench_orders_b", f"{base}/orders", "o_orderkey", 8
        )
        write_bucketed_table(
            li, "perfbench_lineitem_b", f"{base}/lineitem", "l_orderkey", 8
        )
    # the serving half of plans.relational.bucketed_join_revenue
    from afg_data_pipeline_spark.functions.numeric import dsum_expr

    with c.tracer.span("sinks.serve"):
        ob = c.spark.table("perfbench_orders_b")
        lb = c.spark.table("perfbench_lineitem_b")
        revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (
            lb.hint("merge")
            .join(ob, lb.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                dsum_expr(revenue, "revenue"),
            )
        )


def _ann_append_lifecycle(c: Ctx):
    d = _fresh(os.path.join(c.out_dir, "ann_stream"))
    emb = sg_io.read_star_table(c.spark, "embeddings", c.data_dir)
    with c.tracer.span("sinks.write"):
        bootstrap_ivfpq_model(emb, d)
    bounds = [None, *c.batch_cuts, None]
    with c.tracer.span("streaming.append"):
        for batch_id, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("vec_id") >= lo)
            if hi is not None:
                cond = cond & (F.col("vec_id") < hi)
            append_to_ivfpq_index(emb.filter(cond), d, batch_id)
    postings = os.path.join(d, "postings")
    with c.tracer.span("sinks.write"):
        compact_parquet(
            c.spark,
            postings,
            postings + "_compacted",
            partition_by=["centroid_id"],
        )
        shutil.rmtree(postings)
        os.replace(postings + "_compacted", postings)
    with c.tracer.span("sinks.serve"):
        return query_ivfpq_index(
            c.spark, d, emb.filter(F.col("vec_id") < 32), k=5, n_probe=4
        )


DRIVER_ITERATIVE = (
    "pagerank_centrality",
    "kcore_vertices",
    "bfs_hop_distances",
)
PAIR_SIMILARITY = (
    "ngram_jaccard_dups",
    "minhash_near_dup",
    "contrastive_pairs",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "driver_iterative",
            "driver-side iteration: per-iteration job chains launched "
            "while the plan is still being built",
            tuple(_registered(n) for n in DRIVER_ITERATIVE),
            pass_s=3.75,
            warmup_passes=3,
        ),
        Workload(
            "pair_similarity",
            "pair joins, shuffles and array kernels where Spark "
            "execution dominates",
            tuple(_registered(n) for n in PAIR_SIMILARITY),
            pass_s=4.3,
            warmup_passes=3,
            n_docs=1000,
        ),
        Workload(
            "index_write",
            "write-then-serve lifecycles: the write path does the work "
            "and serving reads what was just written",
            (
                Item(
                    "bm25_build_serve",
                    _bm25_lifecycle,
                    REGISTRY["bm25_topk"].oracle,
                    "bm25",
                ),
                Item(
                    "bucketed_join_serve",
                    _bucketed_lifecycle,
                    REGISTRY["bucketed_join_revenue"].oracle,
                    "bucketed",
                ),
                Item(
                    "ann_append_compact_serve",
                    _ann_append_lifecycle,
                    REGISTRY["ann_ivfpq_topk"].oracle,
                    "ann_stream",
                ),
            ),
            pass_s=10.0,
        ),
    )
}
