"""Declared queries for the reference's distinctive semantics
(SURVEY.md §2.8, §2.9 — the actual work of Phase 3).

Star-schema instantiations of the operators in operators/: the
events-derived hourly grid plays the per-comuna daily temperature
series, nations play comunas for the gravity model, and
customer→supplier 1-D distance plays the station assignment.
Characterization tests against reference-shaped fixtures live in
tests/test_reference_semantics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.operators.forecast import (
    ols_forecast_per_group,
    ols_forecast_sql,
)
from afg_data_pipeline_spark.operators.gravity import gravity_flows
from afg_data_pipeline_spark.operators.imputation import (
    interpolate_linear,
    knn_impute,
    seasonal_median_impute,
)
from afg_data_pipeline_spark.operators.spatial import (
    nearest_neighbor_1d,
    nearest_neighbor_1d_bucketed,
    nearest_neighbor_grid2d,
    point_in_polygon_join,
)
from afg_data_pipeline_spark.operators.timeseries import (
    GRID_SQL,
    hourly_user_grid,
)
from afg_data_pipeline_spark.plans.registry import register


@register(
    "interp_linear_series",
    oracle=f"""
        WITH {GRID_SQL},
        calc AS (
            SELECT user_id, hidx, avg_value,
                LAST_VALUE(avg_value IGNORE NULLS) OVER wp AS prev_v,
                LAST_VALUE(CASE WHEN avg_value IS NOT NULL
                                THEN hidx END IGNORE NULLS)
                    OVER wp AS prev_h,
                FIRST_VALUE(avg_value IGNORE NULLS) OVER wf AS next_v,
                FIRST_VALUE(CASE WHEN avg_value IS NOT NULL
                                 THEN hidx END IGNORE NULLS)
                    OVER wf AS next_h
            FROM series
            WINDOW wp AS (PARTITION BY user_id ORDER BY hidx
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW),
                   wf AS (PARTITION BY user_id ORDER BY hidx
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, hidx, avg_value,
               COALESCE(
                   avg_value,
                   prev_v + (next_v - prev_v) *
                       (CAST(hidx - prev_h AS DOUBLE)
                        / CAST(next_h - prev_h AS DOUBLE)),
                   prev_v, next_v) AS value_filled
        FROM calc
    """,
    ops=("W1", "W4", "O1"),
)
def interp_linear_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per-user linear interpolation over the hourly grid.

    Reference: temperaturas_rm.py:180-190 (interpolate('linear') +
    ffill + bfill per comuna). Pure window algebra — see
    operators/imputation.py:interpolate_linear.
    """
    grid = hourly_user_grid(spark, sf_dir)
    return interpolate_linear(
        grid, ["user_id"], "hidx", "avg_value", "value_filled"
    )


@register(
    "seasonal_median_series",
    oracle=f"""
        WITH {GRID_SQL}
        SELECT user_id, hidx, avg_value,
               COALESCE(
                   avg_value,
                   quantile_cont(avg_value, 0.5) OVER (
                       PARTITION BY user_id, hidx % 24),
                   quantile_cont(avg_value, 0.5) OVER (
                       PARTITION BY user_id, (hidx % 24) // 6),
                   quantile_cont(avg_value, 0.5) OVER (
                       PARTITION BY user_id)
               ) AS value_filled
        FROM series
    """,
    ops=("W2", "A2", "A3"),
)
def seasonal_median_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: seasonal-median imputation with coarse/global fallbacks.

    Reference: temperaturas_rm.py:192-222 — missing day takes the
    comuna's dia_año median, falls back to month median, then the
    comuna median. Analogue seasons on the hourly grid: hour-of-day,
    then 6-hour block, then the user's overall median.
    """
    grid = hourly_user_grid(spark, sf_dir).withColumns(
        {
            "hod": F.col("hidx") % 24,
            "block": F.expr("(hidx % 24) div 6"),
        }
    )
    out = seasonal_median_impute(
        grid, ["user_id"], "hod", "block", "avg_value", "value_filled"
    )
    return out.select("user_id", "hidx", "avg_value", "value_filled")


@register(
    "knn_impute_series",
    oracle=None,  # pandas-UDF numeric path; driver rows-only check.
    ops=("W3", "M4"),
)
def knn_impute_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: cross-sectional KNN imputation per hour slice.

    Reference: temperaturas_rm.py:224-243 — per date,
    KNNImputer(n_neighbors=3, weights='distance') across comunas.
    Here: per hour, donors are other users with data that hour,
    feature space = (user_id scaled, user's overall mean value) —
    the same fully-observed-features regime as the reference's
    (lat, lon, distance) triple. numpy inside applyInPandas;
    characterization + property tests pin the semantics
    (tests/test_reference_semantics.py).
    """
    grid = hourly_user_grid(spark, sf_dir)
    user_stats = grid.groupBy("user_id").agg(
        F.avg("avg_value").alias("user_mean")
    )
    featured = grid.join(F.broadcast(user_stats), "user_id").select(
        "user_id",
        "hidx",
        "avg_value",
        (F.col("user_id").cast("double") / 10.0).alias("f_user"),
        F.coalesce(F.col("user_mean"), F.lit(0.0)).alias("f_mean"),
    )
    out = knn_impute(
        featured,
        slice_col="hidx",
        feature_cols=["f_user", "f_mean"],
        value_col="avg_value",
        k=3,
        out_col="value_filled",
    )
    return out.select("user_id", "hidx", "avg_value", "value_filled")


_YEARLY_SPEND_SQL = """(
    SELECT o_custkey,
           year(o_orderdate) AS yr,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS spend
    FROM orders
    GROUP BY 1, 2
) t"""


@register(
    "ols_forecast",
    oracle=ols_forecast_sql(
        _YEARLY_SPEND_SQL, ["o_custkey"], "yr", "spend", 2002
    ),
    ops=("M1", "F9"),
)
def ols_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: per-customer OLS trend on yearly spend, forecast 2002.

    Reference: per-comuna LinearRegression(año -> trabajadores)
    predicting the next year, clamped at zero —
    matriz_movilidad.ipynb cell 13 (nb:140-162). Closed-form
    covariance/variance expression in one groupBy — identical math
    to sklearn OLS on one feature (SURVEY.md M1).
    """
    o = read_star_table(spark, "orders", sf_dir)
    yearly = o.groupBy(
        "o_custkey", F.year("o_orderdate").alias("yr")
    ).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
        ).alias("spend")
    )
    return ols_forecast_per_group(
        yearly, ["o_custkey"], "yr", "spend", predict_x=2002
    )


@register(
    "gravity_flows",
    oracle="""
        WITH attrs AS (
            SELECT n.n_nationkey AS key,
                   count(*) AS mass,
                   n.n_nationkey * 1.5 AS lat,
                   n.n_nationkey * 0.75 AS lon
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_nationkey
        )
        SELECT o.key AS origin, d.key AS dest,
               sqrt(pow(o.lat - d.lat, 2) + pow(o.lon - d.lon, 2))
                 AS distance,
               1.0 * CAST(o.mass * d.mass AS DOUBLE)
                 / pow(sqrt(pow(o.lat - d.lat, 2)
                            + pow(o.lon - d.lon, 2)), 2.0) AS flow,
               (1.0 * CAST(o.mass * d.mass AS DOUBLE)
                 / pow(sqrt(pow(o.lat - d.lat, 2)
                            + pow(o.lon - d.lon, 2)), 2.0))
               / CAST(SUM(CAST(
                     1.0 * CAST(o.mass * d.mass AS DOUBLE)
                       / pow(sqrt(pow(o.lat - d.lat, 2)
                                  + pow(o.lon - d.lon, 2)), 2.0)
                     AS DECIMAL(18,6))) OVER (PARTITION BY o.key)
                 AS DOUBLE) AS flow_share
        FROM attrs o CROSS JOIN attrs d
        WHERE o.key <> d.key
    """,
    ops=("M2", "M3", "J4", "J5", "F6", "F7", "F10", "A6"),
)
def gravity_flows_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2+M3: gravity flows between nations + row-share normalize.

    Reference: the comuna×comuna gravity loop (nb:329-353, K=1,
    β=2, diagonal zeroed) and the row-sum normalization that the
    notebook mislabels softmax (nb:369-390; SURVEY.md F7 —
    faithful semantics = flow / origin row sum). Nations play
    comunas; mass = customer count; synthetic centroid coords are a
    deterministic function of the key (the engine consumes
    (key, lat, lon) exactly as it would consume precomputed comuna
    centroids, SURVEY.md M5).
    """
    c = read_star_table(spark, "customer", sf_dir)
    n = read_star_table(spark, "nation", sf_dir)
    attrs = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("mass"))
        .select(
            F.col("n_nationkey").alias("key"),
            "mass",
            F.col("mass").alias("attraction"),
            (F.col("n_nationkey") * 1.5).alias("lat"),
            (F.col("n_nationkey") * 0.75).alias("lon"),
        )
    )
    return gravity_flows(
        attrs,
        key_col="key",
        mass_col="mass",
        attraction_col="attraction",
        lat_col="lat",
        lon_col="lon",
        beta=2.0,
        k=1.0,
    )


@register(
    "nn_assign",
    oracle="""
        SELECT c_custkey,
               s_suppkey AS nearest_s_suppkey,
               dist AS nearest_distance,
               s_name AS nearest_s_name
        FROM (
            SELECT c.c_custkey, s.s_suppkey, s.s_name,
                   abs(c.c_acctbal - s.s_acctbal) AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.c_custkey
                       ORDER BY abs(c.c_acctbal - s.s_acctbal) ASC,
                                s.s_suppkey ASC
                   ) AS rn
            FROM customer c CROSS JOIN supplier s
        ) WHERE rn = 1
    """,
    ops=("J3", "A5", "F10"),
)
def nn_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: 1-NN assignment — each customer's nearest supplier.

    Reference: cdist(comunas, estaciones) -> per-comuna argmin
    (temperaturas_rm.py:121-130). 1-D account-balance distance
    stands in for the euclidean centroid distance; the operator
    (operators/spatial.py) takes any distance Column.
    """
    c = read_star_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_acctbal"
    )
    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    # Scalar distance -> the sort-based O(n log n) formulation; the
    # generic crossJoin+min_by operator (nearest_neighbor_assign)
    # stays the fallback for multi-dimensional metrics.
    return nearest_neighbor_1d(
        c,
        s,
        left_key="c_custkey",
        right_key="s_suppkey",
        left_pos="c_acctbal",
        right_pos="s_acctbal",
        carry=["s_name"],
    )


@register(
    "nn_assign_bucketed",
    oracle="""
        SELECT c_custkey,
               s_suppkey AS nearest_s_suppkey,
               dist AS nearest_distance,
               s_name AS nearest_s_name
        FROM (
            SELECT c.c_custkey, s.s_suppkey, s.s_name,
                   abs(c.c_acctbal - s.s_acctbal) AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.c_custkey
                       ORDER BY abs(c.c_acctbal - s.s_acctbal) ASC,
                                s.s_suppkey ASC
                   ) AS rn
            FROM customer c CROSS JOIN supplier s
        ) WHERE rn = 1
    """,
    ops=("J3", "A5", "F10"),
)
def nn_assign_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 at scale: the same 1-NN assignment as ``nn_assign`` but
    through the range-bucketed operator — no global single-task
    sort; the position stream resolves bucket-parallel with
    boundary-candidate duplication. Identical output (and oracle)
    to the single-sort variant by construction.
    """
    c = read_star_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_acctbal"
    )
    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return nearest_neighbor_1d_bucketed(
        c,
        s,
        left_key="c_custkey",
        right_key="s_suppkey",
        left_pos="c_acctbal",
        right_pos="s_acctbal",
        carry=["s_name"],
        n_buckets=64,
    )


@register(
    "nn_assign_grid2d",
    oracle="""
        SELECT c_custkey,
               s_suppkey AS nearest_s_suppkey,
               dist AS nearest_distance,
               s_name AS nearest_s_name
        FROM (
            SELECT c.c_custkey, s.s_suppkey, s.s_name,
                   sqrt(
                     (CAST(c.c_acctbal AS DOUBLE)
                        - CAST(s.s_acctbal AS DOUBLE))
                     * (CAST(c.c_acctbal AS DOUBLE)
                        - CAST(s.s_acctbal AS DOUBLE))
                     + (CAST(c.c_nationkey * 400 AS DOUBLE)
                        - CAST(s.s_nationkey * 400 AS DOUBLE))
                     * (CAST(c.c_nationkey * 400 AS DOUBLE)
                        - CAST(s.s_nationkey * 400 AS DOUBLE))
                   ) AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.c_custkey
                       ORDER BY sqrt(
                     (CAST(c.c_acctbal AS DOUBLE)
                        - CAST(s.s_acctbal AS DOUBLE))
                     * (CAST(c.c_acctbal AS DOUBLE)
                        - CAST(s.s_acctbal AS DOUBLE))
                     + (CAST(c.c_nationkey * 400 AS DOUBLE)
                        - CAST(s.s_nationkey * 400 AS DOUBLE))
                     * (CAST(c.c_nationkey * 400 AS DOUBLE)
                        - CAST(s.s_nationkey * 400 AS DOUBLE))
                   ) ASC, s.s_suppkey ASC
                   ) AS rn
            FROM customer c CROSS JOIN supplier s
        ) WHERE rn = 1
    """,
    ops=("J3", "A5", "F10"),
)
def nn_assign_grid2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 in its true 2-D form at scale: each customer's nearest
    supplier in a synthetic (acctbal, nationkey*400) plane, through
    the cell-gridded operator — shuffle equi-joins on cell ids, no
    cross join on the bulk, exact euclidean answer verified against
    the all-pairs ROW_NUMBER oracle.

    Reference: temperaturas_rm.py:121-130 is 2-D lat/lon cdist +
    argmin; the 1-D variants (`nn_assign`, `nn_assign_bucketed`)
    cover scalar distance, this covers the planar case the
    reference actually computes.
    """
    c = read_star_table(spark, "customer", sf_dir).select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("cx"),
        (F.col("c_nationkey") * 400).cast("double").alias("cy"),
    )
    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        "s_name",
        F.col("s_acctbal").cast("double").alias("sx"),
        (F.col("s_nationkey") * 400).cast("double").alias("sy"),
    )
    return nearest_neighbor_grid2d(
        c,
        s,
        left_key="c_custkey",
        right_key="s_suppkey",
        left_x="cx",
        left_y="cy",
        right_x="sx",
        right_y="sy",
        carry=["s_name"],
        n_cells=16,
    )


@register(
    "json_extract_props",
    oracle="""
        SELECT event_id, user_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER)
                 AS prop_k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    """,
    ops=("S7",),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 analogue: nested-JSON flattening + null-skipping filter.

    Reference: the API payload flatten at temperaturas_rm.py:71-85
    (datos[mes][dia].media, skipping nulls). The events.props JSON
    string is the star-schema stand-in; extraction stays JVM-side
    (get_json_object), no UDF.
    """
    ev = read_star_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id", "user_id", k.alias("prop_k")
    ).filter(F.col("prop_k") > 50)


_ADJ_DIST_SQL = """sqrt(
    (CAST(a.s_acctbal AS DOUBLE) - CAST(b.s_acctbal AS DOUBLE))
    * (CAST(a.s_acctbal AS DOUBLE) - CAST(b.s_acctbal AS DOUBLE))
    + (CAST(a.s_nationkey * 400 AS DOUBLE)
       - CAST(b.s_nationkey * 400 AS DOUBLE))
    * (CAST(a.s_nationkey * 400 AS DOUBLE)
       - CAST(b.s_nationkey * 400 AS DOUBLE))
)"""


@register(
    "spatial_adjacency_graph",
    oracle=f"""
        SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
               {_ADJ_DIST_SQL} AS dist
        FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        WHERE {_ADJ_DIST_SQL} <= 500.0
    """,
    ops=("M5", "J4"),
)
def spatial_adjacency_graph(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Radius graph over georeferenced units — the inferred
    ``carga_comunas_gnn`` contract (reference ingestion.py:8,63:
    module absent from the snapshot; SURVEY says treat as
    inferred): nodes = units with planar coordinates, edges =
    pairs within a distance threshold.

    Suppliers in the synthetic (acctbal, nationkey*400) plane play
    the comuna centroids (same plane as ``nn_assign_grid2d``).
    Built by the grid-bucketed radius-edge operator
    (operators/graph.py) — shuffle equi-joins on cell ids, no
    all-pairs cross join — and verified bit-exact against the
    all-pairs SQL oracle.
    """
    from afg_data_pipeline_spark.operators.graph import (
        radius_edges_grid2d,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    return radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    )


@register(
    "graph_node_degrees",
    oracle=f"""
        SELECT vertex, count(*) AS degree
        FROM (
            SELECT a.s_suppkey AS vertex
            FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0
            UNION ALL
            SELECT b.s_suppkey AS vertex
            FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0
        ) GROUP BY vertex
    """,
    ops=("M5", "A1"),
)
def graph_node_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-feature side of the GNN graph-table contract: undirected
    degree per vertex of the spatial adjacency graph — one union +
    one count aggregate over the edge list (operators/graph.py)."""
    from afg_data_pipeline_spark.operators.graph import (
        node_degrees,
        radius_edges_grid2d,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    )
    return node_degrees(edges)


def _pagerank_oracle_sql(
    iterations: int = 10, scale: int = 10**12
) -> str:
    """Unrolled-CTE DuckDB replica of operators/graph.pagerank over
    the supplier radius graph: one (dangling, contrib, rank) CTE
    triple per iteration — recursive CTEs can't aggregate in the
    recursive term, but a FIXED iteration count unrolls into plain
    SQL, which is exactly what makes the integer PageRank
    oracle-checkable at all."""
    half = f"""
            SELECT a.s_suppkey AS s, b.s_suppkey AS d
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0"""
    parts = [
        f"""
        WITH edges AS MATERIALIZED ({half}
            UNION ALL
            SELECT d, s FROM ({half})
        ),
        nodes AS MATERIALIZED (SELECT s_suppkey AS id FROM supplier),
        nn AS MATERIALIZED (SELECT count(*) AS n FROM supplier),
        outdeg AS MATERIALIZED (
            SELECT s, count(*) AS od FROM edges GROUP BY s
        ),
        r0 AS MATERIALIZED (
            SELECT id, CAST({scale} // nn.n AS BIGINT) AS rank
            FROM nodes CROSS JOIN nn
        )"""
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        d{i} AS MATERIALIZED (
            SELECT COALESCE(SUM((85 * rank) // 100), 0) AS dm
            FROM {prev} LEFT JOIN outdeg ON {prev}.id = outdeg.s
            WHERE od IS NULL
        ),
        c{i} AS MATERIALIZED (
            SELECT e.d AS id,
                   SUM((85 * r.rank) // (100 * o.od)) AS contrib
            FROM edges e
            JOIN {prev} r ON r.id = e.s
            JOIN outdeg o ON o.s = e.s
            GROUP BY e.d
        ),
        r{i} AS MATERIALIZED (
            SELECT nodes.id,
                   CAST((15 * {scale}) // (100 * nn.n)
                        + (SELECT dm FROM d{i}) // nn.n
                        + COALESCE(c.contrib, 0) AS BIGINT)
                       AS rank
            FROM nodes CROSS JOIN nn
            LEFT JOIN c{i} c ON c.id = nodes.id
        )"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
        SELECT id AS vertex, rank AS rank_scaled,
               CAST(rank AS DOUBLE) / 1e12 AS rank
        FROM {prev}"""
    )
    return "".join(parts)


@register(
    "pagerank_centrality",
    oracle=_pagerank_oracle_sql(iterations=10),
    ops=("M5", "A1"),
)
def pagerank_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Integer-exact PageRank (10 iterations, damping 0.85) over
    the supplier spatial adjacency graph — the node-importance
    feature of the GNN graph-table contract, and the registry's
    iterative-algorithm showcase: ranks live on a 1/1e12 integer
    grid so every contribution sum is associative BIGINT
    arithmetic, bit-identical in the unrolled-CTE DuckDB replica
    (operators/graph.pagerank: small graphs iterate in its int64
    driver kernel after one bounded edge-list collect; larger ones
    run a per-iteration equi-join + partial agg with
    localCheckpoint lineage truncation and a broadcast dangling
    mass — no global sort)."""
    from afg_data_pipeline_spark.operators.graph import (
        pagerank,
        radius_edges_grid2d,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    )
    nodes = s.select(F.col("s_suppkey").alias("id"))
    return pagerank(
        nodes,
        edges,
        id_col="id",
        src="id_a",
        dst="id_b",
        iterations=10,
    )


def _hits_oracle_sql(
    iterations: int = 5, scale: int = 10**12
) -> str:
    """Unrolled-CTE DuckDB replica of operators/graph.hits over the
    DIRECTED (low key -> high key) supplier radius graph: one
    (a_raw, a, h_raw, h) CTE quadruple per iteration, all HUGEINT
    (SUM(BIGINT) promotes, rule 5), floor-divided with ``//`` —
    bit-identical to the Spark DECIMAL(38,0) path."""
    parts = [
        f"""
        WITH edges AS MATERIALIZED (
            SELECT a.s_suppkey AS s, b.s_suppkey AS d
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0
        ),
        nodes AS MATERIALIZED (SELECT s_suppkey AS id FROM supplier),
        nn AS (SELECT count(*) AS n FROM nodes),
        h0 AS MATERIALIZED (
            SELECT id, CAST({scale} // nn.n AS HUGEINT) AS score
            FROM nodes CROSS JOIN nn
        )"""
    ]
    prev = "h0"
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        ar{i} AS MATERIALIZED (
            SELECT e.d AS id, SUM(h.score) AS raw
            FROM edges e JOIN {prev} h ON h.id = e.s
            GROUP BY e.d
        ),
        ta{i} AS (SELECT SUM(raw) AS t FROM ar{i}),
        a{i} AS MATERIALIZED (
            SELECT n.id,
                   COALESCE(({scale} * COALESCE(r.raw, 0))
                            // NULLIF(ta.t, 0), 0) AS score
            FROM nodes n CROSS JOIN ta{i} ta
            LEFT JOIN ar{i} r ON r.id = n.id
        ),
        hr{i} AS MATERIALIZED (
            SELECT e.s AS id, SUM(a.score) AS raw
            FROM edges e JOIN a{i} a ON a.id = e.d
            GROUP BY e.s
        ),
        th{i} AS (SELECT SUM(raw) AS t FROM hr{i}),
        h{i} AS MATERIALIZED (
            SELECT n.id,
                   COALESCE(({scale} * COALESCE(r.raw, 0))
                            // NULLIF(th.t, 0), 0) AS score
            FROM nodes n CROSS JOIN th{i} th
            LEFT JOIN hr{i} r ON r.id = n.id
        )"""
        )
        prev = f"h{i}"
    parts.append(
        f"""
        SELECT n.id AS vertex,
               CAST(a.score AS BIGINT) AS authority_scaled,
               CAST(h.score AS BIGINT) AS hub_scaled,
               CAST(a.score AS DOUBLE) / {float(scale)!r}
                   AS authority,
               CAST(h.score AS DOUBLE) / {float(scale)!r} AS hub
        FROM nodes n
        JOIN a{iterations} a ON a.id = n.id
        JOIN h{iterations} h ON h.id = n.id"""
    )
    return "".join(parts)


@register(
    "hits_hub_authority",
    oracle=_hits_oracle_sql(iterations=5),
    ops=("M5", "A1"),
)
def hits_hub_authority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Integer-exact HITS (5 iterations, L1-normalized to a 1/1e12
    grid) over the DIRECTED supplier radius graph (each undirected
    adjacency pair oriented low key -> high key, so hub and
    authority roles genuinely differ): the link-analysis sibling of
    pagerank_centrality, used to rank crawl sources (hubs) vs
    citation targets (authorities) in corpus curation. Exactness:
    every step is DECIMAL(38,0) multiply / floor-div / sum
    (operators/graph.hits, _dec_floordiv) — associative, shuffle-
    order-free, bit-identical to the unrolled HUGEINT CTE replica.
    Scale: one edge-score equi-join + partial-agg per
    half-iteration; normalizing totals are 1-row broadcasts, never
    collects."""
    from afg_data_pipeline_spark.operators.graph import (
        hits,
        radius_edges_grid2d,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    )
    nodes = s.select(F.col("s_suppkey").alias("id"))
    return hits(
        nodes,
        edges,
        id_col="id",
        src="id_a",
        dst="id_b",
        iterations=5,
    )


@register(
    "triangle_clustering",
    oracle=f"""
        WITH e AS MATERIALIZED (
            SELECT a.s_suppkey AS u, b.s_suppkey AS v
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0
        ),
        deg AS MATERIALIZED (
            SELECT vertex, count(*) AS degree
            FROM (SELECT u AS vertex FROM e
                  UNION ALL SELECT v FROM e)
            GROUP BY vertex
        ),
        tri AS MATERIALIZED (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        pv AS (
            SELECT vertex, count(*) AS triangles
            FROM (SELECT a AS vertex FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
            GROUP BY vertex
        )
        SELECT d.vertex,
               CAST(d.degree AS BIGINT) AS degree,
               CAST(COALESCE(pv.triangles, 0) AS BIGINT)
                   AS triangles,
               CASE WHEN d.degree >= 2 THEN
                   CAST(2 * COALESCE(pv.triangles, 0) AS DOUBLE)
                   / (CAST(d.degree AS DOUBLE) * (d.degree - 1))
               ELSE 0.0 END AS clustering_coeff
        FROM deg d LEFT JOIN pv ON pv.vertex = d.vertex
    """,
    ops=("M5", "A1"),
)
def triangle_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-vertex triangle count + local clustering coefficient of
    the supplier spatial adjacency graph — the third node feature
    of the GNN graph-table contract (degree and PageRank being the
    other two). Spark side is the degree-oriented wedge join
    (operators/graph.py:triangle_counts — O(m^1.5) wedge bound,
    robust to degree skew); the oracle is the textbook a<b<c
    three-way self-join, exact because both count the identical
    triangle set. Coefficient = 2T/(d(d-1)): an integer ratio
    evaluated in IEEE double with the same operand shapes on both
    sides, so bit-identical (CLAUDE.md rule 1c does not apply — no
    transcendental enters)."""
    from afg_data_pipeline_spark.operators.graph import (
        radius_edges_grid2d,
        triangle_counts,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    )
    return triangle_counts(edges)


def _bfs_oracle_sql(iterations: int = 10) -> str:
    """Unrolled-CTE DuckDB replica of operators/graph.
    bfs_hop_distances over the supplier radius graph: one
    min-relaxation CTE per round (the pagerank_centrality unroll
    pattern); identical to the Spark loop because distances are
    integers, min is associative, and early exit happens only at
    the fixpoint."""
    half = f"""
            SELECT a.s_suppkey AS s, b.s_suppkey AS d
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0"""
    parts = [
        f"""
        WITH edges AS MATERIALIZED ({half}
            UNION ALL
            SELECT d, s FROM ({half})
        ),
        d0 AS MATERIALIZED (
            SELECT s_suppkey AS v,
                   CASE WHEN s_suppkey % 50 = 0
                        THEN CAST(0 AS BIGINT) END AS dist
            FROM supplier
        )"""
    ]
    prev = "d0"
    for t in range(1, iterations + 1):
        parts.append(
            f""",
        d{t} AS MATERIALIZED (
            SELECT v, min(dist) AS dist FROM (
                SELECT v, dist FROM {prev}
                UNION ALL
                SELECT e.d AS v, r.dist + 1 AS dist
                FROM edges e JOIN {prev} r
                  ON r.v = e.s AND r.dist IS NOT NULL
            ) GROUP BY v
        )"""
        )
        prev = f"d{t}"
    parts.append(
        f"""
        SELECT v AS vertex,
               COALESCE(dist, CAST(-1 AS BIGINT)) AS hops
        FROM {prev}"""
    )
    return "".join(parts)


@register(
    "bfs_hop_distances",
    oracle=_bfs_oracle_sql(iterations=10),
    ops=("M5", "A1"),
)
def bfs_hop_distances_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-source BFS over the supplier spatial adjacency graph:
    hop distance from every vertex to its nearest seed (every 50th
    supplier — the 'distance to nearest facility' contract), -1
    where unreached in 10 rounds. Completes the graph feature set
    next to degree, PageRank, triangles, and components
    (operators/graph.bfs_hop_distances — per-round equi-join +
    min-aggregate, fixpoint probe rides the checkpoint rounds)."""
    from afg_data_pipeline_spark.operators.graph import (
        bfs_hop_distances,
        radius_edges_grid2d,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    )
    nodes = s.select(F.col("s_suppkey").alias("id"))
    return bfs_hop_distances(
        nodes,
        edges,
        F.col("id") % 50 == 0,
        id_col="id",
        max_iter=10,
    )


def _sssp_oracle_sql(iterations: int = 10) -> str:
    """Unrolled-CTE replica of graph.weighted_shortest_paths over
    the supplier radius graph with integer-quantized sqrt weights
    (round(dist·100) — sqrt is IEEE-correctly-rounded so the
    quantization is engine-portable, rule 1b). Same structure as
    _bfs_oracle_sql with `+ wt` relaxation."""
    half = f"""
            SELECT a.s_suppkey AS s, b.s_suppkey AS d,
                   CAST(round({_ADJ_DIST_SQL} * 100.0) AS BIGINT)
                       AS w
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0"""
    parts = [
        f"""
        WITH edges AS MATERIALIZED ({half}
            UNION ALL
            SELECT d, s, w FROM ({half})
        ),
        d0 AS MATERIALIZED (
            SELECT s_suppkey AS v,
                   CASE WHEN s_suppkey % 50 = 0
                        THEN CAST(0 AS BIGINT) END AS dist
            FROM supplier
        )"""
    ]
    prev = "d0"
    for t in range(1, iterations + 1):
        parts.append(
            f""",
        d{t} AS MATERIALIZED (
            SELECT v, min(dist) AS dist FROM (
                SELECT v, dist FROM {prev}
                UNION ALL
                SELECT e.d AS v, r.dist + e.w AS dist
                FROM edges e JOIN {prev} r
                  ON r.v = e.s AND r.dist IS NOT NULL
            ) GROUP BY v
        )"""
        )
        prev = f"d{t}"
    parts.append(
        f"""
        SELECT v AS vertex,
               COALESCE(dist, CAST(-1 AS BIGINT)) AS dist
        FROM {prev}"""
    )
    return "".join(parts)


@register(
    "weighted_sssp_dist",
    oracle=_sssp_oracle_sql(iterations=10),
    ops=("M5", "A1"),
)
def weighted_sssp_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-source weighted shortest paths (Bellman-Ford rounds)
    over the supplier spatial adjacency graph: minimum total
    travel cost (integer-quantized euclidean edge weights,
    round(dist·100)) from every vertex to its nearest seed (every
    50th supplier), -1 where unreached in 10 rounds — the weighted
    sibling of bfs_hop_distances. Per-round equi-join +
    min-aggregate; decimal fixpoint probe; early exit
    bit-identical to the oracle's full unroll
    (operators/graph.weighted_shortest_paths)."""
    from afg_data_pipeline_spark.operators.graph import (
        radius_edges_grid2d,
        weighted_shortest_paths,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    ).withColumn(
        "wt", F.round(F.col("dist") * 100.0).cast("bigint")
    )
    nodes = s.select(F.col("s_suppkey").alias("id"))
    return weighted_shortest_paths(
        nodes,
        edges,
        F.col("id") % 50 == 0,
        id_col="id",
        max_iter=10,
    )


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """Unrolled replica of graph.label_propagation over the
    supplier radius graph: per round, neighbor-label counts then
    the deterministic argmax via min(ROW(-cnt, label)) — DuckDB
    orders structs lexicographically like Spark."""
    half = f"""
            SELECT a.s_suppkey AS s, b.s_suppkey AS d
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 500.0"""
    parts = [
        f"""
        WITH edges AS MATERIALIZED ({half}
            UNION ALL
            SELECT d, s FROM ({half})
        ),
        l0 AS MATERIALIZED (
            SELECT s_suppkey AS v,
                   CAST(s_suppkey AS BIGINT) AS label
            FROM supplier
        )"""
    ]
    prev = "l0"
    for t in range(1, rounds + 1):
        parts.append(
            f""",
        v{t} AS MATERIALIZED (
            SELECT e.d AS v, r.label,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM edges e JOIN {prev} r ON r.v = e.s
            GROUP BY 1, 2
        ),
        b{t} AS MATERIALIZED (
            SELECT v, min({{'neg': -cnt, 'label': label}}) AS bb
            FROM v{t} GROUP BY v
        ),
        l{t} AS MATERIALIZED (
            SELECT p.v,
                   COALESCE(b.bb.label, p.label) AS label
            FROM {prev} p LEFT JOIN b{t} b ON b.v = p.v
        )"""
        )
        prev = f"l{t}"
    parts.append(
        f"""
        SELECT v AS vertex, label FROM {prev}"""
    )
    return "".join(parts)


@register(
    "lpa_communities",
    oracle=_lpa_oracle_sql(rounds=4),
    ops=("M5", "A1"),
)
def lpa_communities_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label-propagation community detection over the supplier
    spatial adjacency graph (4 synchronous rounds): finds DENSE
    neighborhoods inside connected structure, where components
    answers only reachability. Deterministic: majority label with
    smallest-label tie-break via a min(struct(-cnt, label))
    aggregate — no window, no RNG
    (operators/graph.label_propagation)."""
    from afg_data_pipeline_spark.operators.graph import (
        label_propagation,
        radius_edges_grid2d,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=500.0
    )
    nodes = s.select(F.col("s_suppkey").alias("id"))
    return label_propagation(nodes, edges, id_col="id", rounds=4)


def _kcore_oracle_sql(k: int = 3, rounds: int = 10) -> str:
    """Unrolled replica of graph.kcore_membership: per round a
    degree count + a both-endpoints semi-join. Early exit in the
    Spark loop is bit-identical because peeling is confluent and
    post-fixpoint rounds are no-ops; the final degree filter is a
    no-op at fixpoint on both sides. Radius 800 (not the BFS/LPA
    500): the sf0.01 graph needs the denser neighborhood for a
    non-empty 3-core, so the peel actually peels."""
    half = f"""
            SELECT a.s_suppkey AS s, b.s_suppkey AS d
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE {_ADJ_DIST_SQL} <= 800.0"""
    parts = [
        f"""
        WITH e0 AS MATERIALIZED ({half}
            UNION ALL
            SELECT d, s FROM ({half})
        )"""
    ]
    prev = "e0"
    for t in range(1, rounds + 1):
        parts.append(
            f""",
        k{t} AS MATERIALIZED (
            SELECT s AS v FROM {prev}
            GROUP BY s HAVING count(*) >= {k}
        ),
        e{t} AS MATERIALIZED (
            SELECT e.s, e.d FROM {prev} e
            WHERE e.s IN (SELECT v FROM k{t})
              AND e.d IN (SELECT v FROM k{t})
        )"""
        )
        prev = f"e{t}"
    parts.append(
        f"""
        SELECT s AS vertex, CAST(count(*) AS BIGINT) AS degree
        FROM {prev}
        GROUP BY s HAVING count(*) >= {k}"""
    )
    return "".join(parts)


@register(
    "kcore_vertices",
    oracle=_kcore_oracle_sql(k=3, rounds=10),
    ops=("M5", "A1"),
)
def kcore_vertices_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """3-core of the supplier spatial adjacency graph: the maximal
    subgraph where every member keeps degree >= 3 after peeling
    weaker vertices (Seidman k-core) — the dense-backbone filter
    (robust near-dup clusters, spam rings). Iterative peel: one
    degree aggregate + both-endpoint semi-joins per round, all
    keyed on vertex id; the survivor count is monotone so early
    exit is bit-identical to the oracle's fixed unroll
    (operators/graph.kcore_membership)."""
    from afg_data_pipeline_spark.operators.graph import (
        kcore_membership,
        radius_edges_grid2d,
    )

    s = read_star_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("x"),
        (F.col("s_nationkey") * 400).cast("double").alias("y"),
    )
    edges = radius_edges_grid2d(
        s, id_col="s_suppkey", x_col="x", y_col="y", radius=800.0
    )
    return kcore_membership(edges, k=3, max_iter=10)


# --- point-in-polygon containment (geo completeness beyond J3) --------

# A comunas-like admin layer, synthesized as literals so the
# oracle's edge table is generated from the SAME vertex lists
# (half-integer vertices x integer-valued points: no point ever
# lies exactly on an edge).  west_box carries a hole ring;
# overlap_tri overlaps it, so some points land in two polygons.
_PIP_POLYGONS = [
    (
        "west_box",
        [
            [
                (100.5, 100.5), (450.5, 100.5),
                (450.5, 450.5), (100.5, 450.5),
                (100.5, 100.5),
            ],
            [  # hole
                (200.5, 200.5), (300.5, 200.5),
                (300.5, 300.5), (200.5, 300.5),
                (200.5, 200.5),
            ],
        ],
    ),
    (
        "east_l",
        [
            [
                (500.5, 50.5), (900.5, 50.5),
                (900.5, 350.5), (700.5, 350.5),
                (700.5, 650.5), (500.5, 650.5),
                (500.5, 50.5),
            ],
        ],
    ),
    (
        "overlap_tri",
        [
            [
                (350.5, 300.5), (650.5, 300.5),
                (500.5, 620.5), (350.5, 300.5),
            ],
        ],
    ),
]


def _pip_oracle() -> str:
    """Brute ray-cast oracle: every (point, edge) crossing flag,
    parity per (point, polygon) — same IEEE expressions as the
    operator, no prune (the prune is the Spark side's job; the
    ANSWER must match it exactly)."""
    from afg_data_pipeline_spark.operators.spatial import (
        _ring_edges,
    )

    rows = ", ".join(
        f"('{pid}', {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, rings in _PIP_POLYGONS
        for x1, y1, x2, y2 in _ring_edges(rings)
    )
    return f"""
        WITH pts AS (
            SELECT c_custkey AS point_id,
                   CAST(c_custkey % 997 AS DOUBLE) AS px,
                   CAST((c_custkey * 31) % 991 AS DOUBLE) AS py
            FROM customer
        ),
        edges(poly_id, x1, y1, x2, y2) AS (VALUES {rows}),
        crossed AS (
            SELECT p.point_id, e.poly_id,
                   max(p.px) AS px, max(p.py) AS py,
                   count(*) AS n_cross
            FROM pts p
            JOIN edges e
              ON ((e.y1 > p.py) <> (e.y2 > p.py))
             AND p.px < e.x1 + (p.py - e.y1) * (e.x2 - e.x1)
                                / (e.y2 - e.y1)
            GROUP BY 1, 2
        )
        SELECT point_id, poly_id, px, py
        FROM crossed
        WHERE n_cross % 2 = 1
    """


@register(
    "point_in_polygon",
    oracle=_pip_oracle(),
    ops=("J3", "S5", "M5"),
)
def point_in_polygon(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment join: which admin polygon contains each point —
    the natural next user question over the comunas layer
    (reference context temperaturas_rm.py:106-119 takes only
    centroids; this closes S5/M5 from centroids to geometry).

    Customers play the point feed (integer-valued synthetic
    coordinates); the polygon layer is the dimension-side literal
    above, including a hole ring and an overlap.  The operator
    (operators/spatial.point_in_polygon_join) grid-classifies
    cells driver-side so interior-cell points are accepted with no
    per-edge work and only boundary-cell points pay the exact
    ray-cast — the layer broadcasts, the point side streams, no
    shuffle before the boundary parity aggregate."""
    cust = read_star_table(spark, "customer", sf_dir)
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") % 997).cast("double").alias("px"),
        ((F.col("c_custkey") * 31) % 991)
        .cast("double")
        .alias("py"),
    )
    return point_in_polygon_join(
        pts,
        _PIP_POLYGONS,
        id_col="point_id",
        x_col="px",
        y_col="py",
        poly_id_col="poly_id",
        n_cells=32,
    ).select("point_id", "poly_id", "px", "py")


def _ppp_oracle() -> str:
    """points_per_polygon oracle: the point_in_polygon parity
    relation, rolled up per polygon, with zero-point polygons kept
    through a VALUES left join."""
    from afg_data_pipeline_spark.operators.spatial import (
        _ring_edges,
    )

    rows = ", ".join(
        f"('{pid}', {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, rings in _PIP_POLYGONS
        for x1, y1, x2, y2 in _ring_edges(rings)
    )
    polys = ", ".join(f"('{pid}')" for pid, _ in _PIP_POLYGONS)
    return f"""
        WITH pts AS (
            SELECT c_custkey AS point_id,
                   CAST(c_custkey % 997 AS DOUBLE) AS px,
                   CAST((c_custkey * 31) % 991 AS DOUBLE) AS py
            FROM customer
        ),
        edges(poly_id, x1, y1, x2, y2) AS (VALUES {rows}),
        crossed AS (
            SELECT p.point_id, e.poly_id, count(*) AS n_cross
            FROM pts p
            JOIN edges e
              ON ((e.y1 > p.py) <> (e.y2 > p.py))
             AND p.px < e.x1 + (p.py - e.y1) * (e.x2 - e.x1)
                                / (e.y2 - e.y1)
            GROUP BY 1, 2
        ),
        inside AS (
            SELECT point_id, poly_id FROM crossed
            WHERE n_cross % 2 = 1
        ),
        layer(poly_id) AS (VALUES {polys})
        SELECT l.poly_id,
               CAST(count(i.point_id) AS BIGINT) AS n_points,
               CAST(min(i.point_id) AS BIGINT) AS min_point_id,
               CAST(max(i.point_id) AS BIGINT) AS max_point_id
        FROM layer l LEFT JOIN inside i USING (poly_id)
        GROUP BY 1
    """


@register(
    "points_per_polygon",
    oracle=_ppp_oracle(),
    ops=("J3", "A1"),
)
def points_per_polygon(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment ROLLUP: how many points each admin polygon
    contains — the aggregate every "which comuna" user asks next
    (zero-point polygons kept: a layer report that silently drops
    empty polygons misleads).  Same operator and prune as
    `point_in_polygon`; the rollup adds one map-side-combinable
    aggregate keyed by the handful of polygon ids."""
    cust = read_star_table(spark, "customer", sf_dir)
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") % 997).cast("double").alias("px"),
        ((F.col("c_custkey") * 31) % 991)
        .cast("double")
        .alias("py"),
    )
    hits = point_in_polygon_join(
        pts,
        _PIP_POLYGONS,
        id_col="point_id",
        x_col="px",
        y_col="py",
        poly_id_col="poly_id",
        n_cells=32,
    )
    layer = spark.createDataFrame(
        [(pid,) for pid, _ in _PIP_POLYGONS], "poly_id string"
    )
    counts = hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("point_id").alias("min_point_id"),
        F.max("point_id").alias("max_point_id"),
    )
    return (
        layer.join(counts, "poly_id", "left")
        .select(
            "poly_id",
            F.coalesce(F.col("n_points"), F.lit(0))
            .cast("bigint")
            .alias("n_points"),
            "min_point_id",
            "max_point_id",
        )
    )


def _polygon_edge_rows_scaled():
    """(poly_id, ring_idx, 2*x1, 2*y1, 2*x2, 2*y2) for every edge
    of the literal layer — coordinates doubled so every value is an
    exact integer (vertices sit on the half-integer grid)."""
    rows = []
    for pid, rings in _PIP_POLYGONS:
        for ri, ring in enumerate(rings):
            closed = (
                list(ring) + [ring[0]]
                if ring and ring[0] != ring[-1]
                else list(ring)
            )
            for (x1, y1), (x2, y2) in zip(closed[:-1], closed[1:]):
                rows.append(
                    (
                        pid,
                        ri,
                        int(round(2 * x1)),
                        int(round(2 * y1)),
                        int(round(2 * x2)),
                        int(round(2 * y2)),
                    )
                )
    return rows


def _polygon_geometry_oracle() -> str:
    rows = ", ".join(
        f"('{p}', {r}, {a}, {b}, {c}, {d})"
        for p, r, a, b, c, d in _polygon_edge_rows_scaled()
    )
    return f"""
        WITH e0(poly_id, ring_idx, x1, y1, x2, y2) AS
            (VALUES {rows}),
        e AS (
            SELECT poly_id, ring_idx,
                   CAST(x1 AS BIGINT) AS x1,
                   CAST(y1 AS BIGINT) AS y1,
                   CAST(x2 AS BIGINT) AS x2,
                   CAST(y2 AS BIGINT) AS y2
            FROM e0
        ),
        s AS (
            SELECT poly_id,
                   CAST(count(DISTINCT ring_idx) AS BIGINT)
                       AS n_rings,
                   CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(sum(x1 * y2 - x2 * y1) AS BIGINT) AS a4,
                   CAST(sum((x1 + x2) * (x1 * y2 - x2 * y1))
                        AS BIGINT) AS cx8,
                   CAST(sum((y1 + y2) * (x1 * y2 - x2 * y1))
                        AS BIGINT) AS cy8
            FROM e GROUP BY poly_id
        )
        SELECT poly_id, n_rings, n_edges,
               CAST(abs(a4) AS DOUBLE) / 8.0 AS area,
               CASE WHEN a4 <> 0 THEN
                   CAST(cx8 AS DOUBLE) / CAST(6 * a4 AS DOUBLE)
               END AS centroid_x,
               CASE WHEN a4 <> 0 THEN
                   CAST(cy8 AS DOUBLE) / CAST(6 * a4 AS DOUBLE)
               END AS centroid_y
        FROM s
    """


@register(
    "polygon_geometry_report",
    oracle=_polygon_geometry_oracle(),
    ops=("M5", "A1"),
)
def polygon_geometry_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signed-shoelace AREA + area-weighted CENTROID per polygon —
    the exact-arithmetic twin of sources/shapefile.polygon_centroid
    (reference: temperaturas_rm.py:114-119 takes comuna centroids),
    oracle-checked where the shapefile path can only be test-pinned
    (DuckDB cannot read .shp). Doubling the half-integer vertex
    grid makes every shoelace term an exact BIGINT: area =
    |Σ cross4| / 8 and centroid = Σ(x1+x2)·cross4 / (6·Σ cross4),
    each a single portable IEEE division at the end (rule 1
    discipline; signed semantics identical to polygon_centroid —
    a ring wound like its shell ADDS, pinned by the parity test).
    The layer is dimension-sized; the whole query lives in
    edge-value space."""
    edges = spark.createDataFrame(
        _polygon_edge_rows_scaled(),
        "poly_id string, ring_idx int, x1 long, y1 long, "
        "x2 long, y2 long",
    )
    cross = F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1")
    s = edges.groupBy("poly_id").agg(
        F.countDistinct("ring_idx").cast("bigint").alias("n_rings"),
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(cross).cast("bigint").alias("a4"),
        F.sum((F.col("x1") + F.col("x2")) * cross)
        .cast("bigint")
        .alias("cx8"),
        F.sum((F.col("y1") + F.col("y2")) * cross)
        .cast("bigint")
        .alias("cy8"),
    )
    nz = F.col("a4") != 0
    return s.select(
        "poly_id",
        "n_rings",
        "n_edges",
        (F.abs(F.col("a4")).cast("double") / F.lit(8.0)).alias(
            "area"
        ),
        F.when(
            nz,
            F.col("cx8").cast("double")
            / (F.col("a4") * 6).cast("double"),
        ).alias("centroid_x"),
        F.when(
            nz,
            F.col("cy8").cast("double")
            / (F.col("a4") * 6).cast("double"),
        ).alias("centroid_y"),
    )


def _admin_grid_oracle() -> str:
    """Dense-layer containment oracle: the 15x15 pentagon grid is
    CONSTRUCTED in SQL (generate_series arithmetic on exact binary
    fractions — no 3.4KB VALUES dump), points get the bbox
    prefilter a DuckDB user would write, then the SAME IEEE
    crossing-parity expression as the operator over the polygon's
    5 edges.  bbox-pruning is exact (outside-bbox points have
    parity 0) so the answer is identical to the brute form."""
    return """
        WITH g AS (
            SELECT s1.gx, s2.gy
            FROM generate_series(0, 14) s1(gx),
                 generate_series(0, 14) s2(gy)
        ),
        boxes AS (
            SELECT 'box_' || gx || '_' || gy AS poly_id,
                   gx * 25 + 2.5 AS x0, gy * 25 + 2.5 AS y0,
                   gx * 25 + 22.5 AS x1, gy * 25 + 22.5 AS y1,
                   gx * 25 + 12.5 AS xm, gy * 25 + 26.5 AS yp
            FROM g
        ),
        edges AS (
            SELECT poly_id, x0 AS ex1, y0 AS ey1,
                   x1 AS ex2, y0 AS ey2 FROM boxes
            UNION ALL SELECT poly_id, x1, y0, x1, y1 FROM boxes
            UNION ALL SELECT poly_id, x1, y1, xm, yp FROM boxes
            UNION ALL SELECT poly_id, xm, yp, x0, y1 FROM boxes
            UNION ALL SELECT poly_id, x0, y1, x0, y0 FROM boxes
        ),
        pts AS (
            SELECT c_custkey AS point_id,
                   CAST(c_custkey % 3779 AS DOUBLE) / 10.0 AS px,
                   CAST((c_custkey * 31) % 3739 AS DOUBLE) / 10.0
                       AS py
            FROM customer
        ),
        cand AS (
            SELECT p.point_id, b.poly_id, p.px, p.py
            FROM pts p
            JOIN boxes b
              ON p.px >= b.x0 AND p.px <= b.x1
             AND p.py >= b.y0 AND p.py <= b.yp
        ),
        crossed AS (
            SELECT c.point_id, c.poly_id,
                   sum(CASE WHEN
                       ((e.ey1 > c.py) <> (e.ey2 > c.py))
                       AND c.px < e.ex1 + (c.py - e.ey1)
                           * (e.ex2 - e.ex1) / (e.ey2 - e.ey1)
                       THEN 1 ELSE 0 END) AS n_cross
            FROM cand c JOIN edges e USING (poly_id)
            GROUP BY 1, 2
        ),
        inside AS (
            SELECT point_id, poly_id FROM crossed
            WHERE n_cross % 2 = 1
        )
        SELECT b.poly_id,
               CAST(count(i.point_id) AS BIGINT) AS n_points,
               CAST(min(i.point_id) AS BIGINT) AS min_point_id,
               CAST(max(i.point_id) AS BIGINT) AS max_point_id
        FROM boxes b LEFT JOIN inside i USING (poly_id)
        GROUP BY 1
    """


@register(
    "points_in_admin_grid",
    oracle=_admin_grid_oracle(),
    ops=("J3", "A1", "M5"),
)
def points_in_admin_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment rollup against a DENSE 225-polygon layer (15x15
    pentagon grid, operators/spatial.pentagon_grid) — the layer
    shape a real admin dataset has (thousands of comunas, not 3;
    reference context temperaturas_rm.py:106-119).  Certifies the
    shuffle-free fold path of point_in_polygon_join at realistic
    layer density every round: the grid classifier must prune 225
    polygons' cells correctly, and the broadcast cell map carries
    hundreds of distinct (cell, polygon) rows rather than a
    handful.  Zero-point polygons are kept (sf0.001 has 150
    customers over 225 polygons — most rows ARE the empty ones).
    At 20M points x 900 polygons this exact plan measured 0.74x
    DuckDB's hand-optimized bbox-prefilter replica
    (tools/bench_polygon.py `many`)."""
    from afg_data_pipeline_spark.operators.spatial import (
        pentagon_grid,
        point_in_polygon_join,
    )

    polys = pentagon_grid(15)
    cust = read_star_table(spark, "customer", sf_dir)
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") % 3779).cast("double") / 10.0).alias(
            "px"
        ),
        (
            ((F.col("c_custkey") * 31) % 3739).cast("double")
            / 10.0
        ).alias("py"),
    )
    hits = point_in_polygon_join(
        pts,
        polys,
        id_col="point_id",
        x_col="px",
        y_col="py",
        poly_id_col="poly_id",
        n_cells=128,
    )
    layer = spark.createDataFrame(
        [(pid,) for pid, _ in polys], "poly_id string"
    )
    counts = hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("point_id").alias("min_point_id"),
        F.max("point_id").alias("max_point_id"),
    )
    return layer.join(counts, "poly_id", "left").select(
        "poly_id",
        F.coalesce(F.col("n_points"), F.lit(0))
        .cast("bigint")
        .alias("n_points"),
        "min_point_id",
        "max_point_id",
    )


# --- area-weighted polygon -> polygon reaggregation (r10) -----------------

# Two incompatible rectilinear admin layers over the synthetic point
# space ([0,997) x [0,991)): the SOURCE zoning (2x3) carries the
# quantity, the TARGET zoning (3x3) is the re-basing request. Integer
# cuts make every intersection area an exact BIGINT, so the DuckDB
# oracle computes the weight matrix closed-form while the Spark side
# runs the GENERAL Sutherland-Hodgman clipper — agreement certifies
# the clipping arithmetic itself (intersection vertices land on
# exact integers; see operators/spatial._clip_ring).
_AREAL_SRC_CUTS_X = (0, 100, 600, 1000)
_AREAL_SRC_CUTS_Y = (0, 500, 1000)
_AREAL_DST_CUTS_X = (0, 350, 700, 1000)
_AREAL_DST_CUTS_Y = (0, 330, 660, 1000)


def _rect_layer(prefix, xcuts, ycuts):
    out = []
    for yi in range(len(ycuts) - 1):
        for xi in range(len(xcuts) - 1):
            x1, x2 = xcuts[xi], xcuts[xi + 1]
            y1, y2 = ycuts[yi], ycuts[yi + 1]
            out.append(
                (
                    f"{prefix}{yi}{xi}",
                    [
                        [
                            (float(x1), float(y1)),
                            (float(x2), float(y1)),
                            (float(x2), float(y2)),
                            (float(x1), float(y2)),
                        ]
                    ],
                )
            )
    return out


_AREAL_SRC = _rect_layer(
    "S", _AREAL_SRC_CUTS_X, _AREAL_SRC_CUTS_Y
)
_AREAL_DST = _rect_layer(
    "D", _AREAL_DST_CUTS_X, _AREAL_DST_CUTS_Y
)


def _areal_oracle() -> str:
    from afg_data_pipeline_spark.operators.spatial import (
        _ring_edges,
    )

    sedges = ", ".join(
        f"('{pid}', {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, rings in _AREAL_SRC
        for x1, y1, x2, y2 in _ring_edges(rings)
    )

    def _rects(layer):
        rows = []
        for pid, rings in layer:
            xs = [p[0] for p in rings[0]]
            ys = [p[1] for p in rings[0]]
            rows.append(
                f"('{pid}', {min(xs)!r}, {min(ys)!r}, "
                f"{max(xs)!r}, {max(ys)!r})"
            )
        return ", ".join(rows)

    return f"""
        WITH pts AS (
            SELECT c_custkey AS point_id,
                   CAST(c_custkey % 997 AS DOUBLE) AS px,
                   CAST((c_custkey * 31) % 991 AS DOUBLE) AS py
            FROM customer
        ),
        sedges(src_id, x1, y1, x2, y2) AS (VALUES {sedges}),
        crossed AS (
            SELECT p.point_id, e.src_id, count(*) AS n_cross
            FROM pts p
            JOIN sedges e
              ON ((e.y1 > p.py) <> (e.y2 > p.py))
             AND p.px < e.x1 + (p.py - e.y1) * (e.x2 - e.x1)
                                / (e.y2 - e.y1)
            GROUP BY 1, 2
        ),
        q AS (
            SELECT src_id, CAST(count(*) AS BIGINT) AS q
            FROM crossed WHERE n_cross % 2 = 1
            GROUP BY 1
        ),
        srect(src_id, sx1, sy1, sx2, sy2)
            AS (VALUES {_rects(_AREAL_SRC)}),
        drect(dst_id, dx1, dy1, dx2, dy2)
            AS (VALUES {_rects(_AREAL_DST)}),
        w AS (
            SELECT src_id, dst_id,
                   CAST(GREATEST(0.0,
                            LEAST(sx2, dx2) - GREATEST(sx1, dx1))
                        * GREATEST(0.0,
                            LEAST(sy2, dy2) - GREATEST(sy1, dy1))
                        AS DOUBLE) AS inter_area,
                   CAST((sx2 - sx1) * (sy2 - sy1) AS DOUBLE)
                       AS src_area
            FROM srect CROSS JOIN drect
        ),
        contrib AS (
            SELECT w.dst_id, w.inter_area,
                   CAST(round(CAST(q.q AS DOUBLE) * w.inter_area
                              / w.src_area * 1000000000.0, 0)
                        AS BIGINT) AS cq
            FROM q JOIN w USING (src_id)
            WHERE w.inter_area > 0.0
        )
        SELECT d.dst_id,
               CAST(count(c.cq) AS BIGINT) AS n_src,
               CAST(COALESCE(sum(c.inter_area), 0.0) AS DOUBLE)
                   AS shared_area,
               CAST(COALESCE(sum(c.cq), 0) AS DOUBLE)
                   / 1000000000.0 AS apportioned
        FROM drect d LEFT JOIN contrib c USING (dst_id)
        GROUP BY 1
    """


@register(
    "areal_reaggregation",
    oracle=_areal_oracle(),
    ops=("M5", "J3", "A1"),
)
def areal_reaggregation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AREA-WEIGHTED POLYGON->POLYGON REAGGREGATION (areal
    interpolation): customer counts aggregated on the SOURCE admin
    zoning are re-based onto an incompatible TARGET zoning by
    intersection-area share — value(B) = sum_A q(A) *
    area(A inter B) / area(A). The step after point_in_polygon in
    the reference's demographic domain (the mobility notebook's
    comuna-level population work, nb cells 16-29): "my data is per
    comuna, my model needs it per grid cell".

    Pipeline: point_in_polygon_join (grid-classified containment,
    the certified r9 operator) rolls customers up per source zone;
    operators/spatial.areal_weights runs the GENERAL
    Sutherland-Hodgman clipper driver-side over the two
    dimension-sized layers (concave + holed sources supported,
    convex targets enforced loudly) and the weight matrix
    BROADCASTS; one map-side-combinable aggregate keyed by the
    handful of target ids produces the report — nothing
    corpus-sized shuffles. Contributions quantize once to the 1e9
    integer grid and sum in DECIMAL(38,0) (rules 1b, 11); the
    oracle recomputes the weights closed-form (rect inter rect),
    so a single wrong clip vertex anywhere turns the row red."""
    from afg_data_pipeline_spark.operators.spatial import (
        areal_reaggregate,
    )

    cust = read_star_table(spark, "customer", sf_dir)
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") % 997).cast("double").alias("px"),
        ((F.col("c_custkey") * 31) % 991)
        .cast("double")
        .alias("py"),
    )
    hits = point_in_polygon_join(
        pts,
        _AREAL_SRC,
        id_col="point_id",
        x_col="px",
        y_col="py",
        poly_id_col="src_id",
        n_cells=16,
    )
    q = hits.groupBy("src_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("q")
    )
    return areal_reaggregate(q, _AREAL_SRC, _AREAL_DST)
