"""SQ8 scalar quantization — the 1-byte-per-dimension ANN tier.

Completes the memory-tier ladder of the similarity family:
full float vectors (brute_force_topk, 256 B/vector at d=64)
→ PQ codes (operators/pq.py, ~4 B) → binary Hamming codes
(binary_hamming_topk, 8 B). SQ8 sits between full vectors and PQ:
each dimension is min-max-quantized to an 8-bit code (64 B/vector
at d=64), distances are EXACT integer arithmetic over the codes,
and recall is far higher than PQ/Hamming because no cross-dimension
structure is discarded — the standard "good default" tier of real
vector stores (faiss ScalarQuantizer SQ8, Lucene int8 HNSW).

Spark-first shape, following the kmeans/pq literal-model rule
(CLAUDE.md rule 14): per-dimension bounds are ONE
map-side-combinable aggregate collected to 2·d driver literals;
encode is then a pure codegen'd projection (d small expressions —
no explode, no join, no HOF); the pair distance is a single
rule-15 HOF fold over zip_with'd code arrays (a small generated
loop, oracle-checked so any HOF misbehavior is a red row, rule
10). Squared code deltas are ≤ d·255² < 2²³ — BIGINT sums are
provable at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from afg_data_pipeline_spark.functions.gate import pair_join

QUANT = 10**6  # the repo-wide 1e-6 component grid
CODE_MAX = 255


def sq8_train_bounds(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, int]]:
    """Per-dimension (min, span) of the 1e-6-grid-quantized
    components — the 2·d-integer model state. One aggregate job
    (d min/max pairs in a single row); a constant dimension gets
    span 1 so its codes collapse to 0 without a divide-by-zero."""
    aggs = []
    for i in range(dim):
        v = F.round(
            F.element_at(F.col(vec_col), i + 1).cast("double")
            * F.lit(float(QUANT)),
            0,
        ).cast("bigint")
        aggs.append(F.min(v).alias(f"mn{i}"))
        aggs.append(F.max(v).alias(f"mx{i}"))
    row = corpus.agg(*aggs).collect()[0]
    return [
        (row[f"mn{i}"], max(row[f"mx{i}"] - row[f"mn{i}"], 1))
        for i in range(dim)
    ]


def sq8_codes(
    df: DataFrame,
    bounds: list[tuple[int, int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "id",
) -> DataFrame:
    """(id, codes) with codes = array<bigint> of 0..255 values.
    Pure projection: d codegen'd quantize expressions against the
    literal bounds; out-of-train-range values clamp to the code
    range (the standard SQ contract for unseen data)."""
    exprs = []
    for i, (mn, span) in enumerate(bounds):
        v = F.round(
            F.element_at(F.col(vec_col), i + 1).cast("double")
            * F.lit(float(QUANT)),
            0,
        ).cast("bigint")
        scaled = (
            (v - F.lit(mn)) * F.lit(CODE_MAX) - (
                (v - F.lit(mn)) * F.lit(CODE_MAX)
            ) % F.lit(span)
        ) / F.lit(span)
        code = F.least(
            F.greatest(scaled.cast("bigint"), F.lit(0)),
            F.lit(CODE_MAX),
        )
        exprs.append(code)
    return df.select(
        F.col(id_col).alias(out_id), F.array(*exprs).alias("codes")
    )


def sq8_topk(
    queries: DataFrame | None,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    query_filter=None,
) -> DataFrame:
    """Top-k corpus neighbors per query by exact integer L2 over
    SQ8 codes: (query_id, neighbor_id, sqdist, rank); ties break
    on neighbor id. ``queries=None`` + ``query_filter`` is the
    self-query mode the ANN family's registered queries use.

    Scale shape: the code table is (id, d bytes) — tiny per row;
    the query side broadcasts; per-pair work is one generated
    zip_with/aggregate loop over d elements. Bounds come from the
    CORPUS only (queries quantize with the corpus model, the
    asymmetric-but-consistent convention of faiss SQ)."""
    bounds = sq8_train_bounds(corpus, vec_col, dim)
    c = sq8_codes(corpus, bounds, id_col, vec_col, "neighbor_id")
    if queries is None:
        if query_filter is None:
            raise ValueError(
                "self-query mode needs query_filter"
            )
        q = c.filter(query_filter).select(
            F.col("neighbor_id").alias("query_id"),
            F.col("codes").alias("qcodes"),
        )
    else:
        q = sq8_codes(
            queries, bounds, id_col, vec_col, "query_id"
        ).withColumnRenamed("codes", "qcodes")
    par = corpus.sparkSession.sparkContext.defaultParallelism
    pairs = (
        pair_join(c, q, spread=par)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(qcodes, codes,"
                " (x, y) -> (x - y) * (x - y)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("sqdist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sqdist").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sqdist", "rank")
    )
