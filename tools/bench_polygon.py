"""Binding-scale grade for the point-in-polygon family (VERDICT r9
#1): run the containment operator vs the DuckDB brute ray-cast at
point volumes where DuckDB does >= 1s of real work, and stress the
boundary-cell path with points clustered ON the polygon edges (the
grid classifier's worst case — every point lands in a boundary cell
and pays the exact per-edge crossing test).

The registered `points_per_polygon` reads `customer` (15k points at
sf0.1), so its committed grade is pure scheduling floor. Here the
SAME operator and the SAME rollup run over a materialized N-point
parquet (default 20M — the sf10-equivalent point volume; 17 edges
x 20M points = 340M crossing evaluations for DuckDB's un-pruned
brute join), both engines reading identical doubles from the same
file so the IEEE crossing arithmetic is bit-identical and the
rollup values must match EXACTLY (checked, not just timed).

Scenarios:
  uniform  — the registered query's synthetic map, id%997 x
             (id*31)%991: most points fall in interior/outside
             cells and never touch an edge (the production shape).
  boundary — every point within ~0.3 of a polygon edge (edge lerp
             + a fixed (0.25, 0.125) offset, never ON an edge):
             100% of in-bbox points land in boundary cells, so the
             whole corpus pays the per-edge crossing fold. Worst
             case by construction.
  many     — the LAYER-scale grade (real admin layers have
             thousands of polygons, not 3): a 30x30 grid of 900
             gapped boxes (3,600 edges), points uniform over the
             extent. The brute (point x every-edge) replica is
             72B crossing evals at 20M points — hours — so DuckDB
             gets the FAIR hand-optimized form a user would
             write: bbox range-join prefilter (IEJoin), then edge
             parity only for bbox-hit pairs. Spark runs the same
             unmodified operator (the grid prune IS its index).

Usage: python tools/bench_polygon.py [N] [scenario ...]
Env: AFG_POLY_MANY_K (many-scenario layer size KxK, default 30),
     AFG_POLY_DIR (parquet dir, default /tmp/afg_polygon).
Reps are tools/measure.best_of's.
Prints one JSON row per scenario and appends to
$AFG_POLY_DIR/results.jsonl.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import REPS, best_of, duck, session  # noqa: E402

SCENARIOS = ("uniform", "boundary", "many")

MANY_K = int(os.environ.get("AFG_POLY_MANY_K", "30"))  # KxK boxes
MANY_STEP = 25.0  # box pitch; box spans [k*25+2.5, k*25+22.5]
# point extent moduli track the layer extent (for K=30 these are
# the original 7507/7411); +7/-89 keep them coprime-ish with the
# 0.1 grid so the point cloud doesn't stripe along box edges
MANY_XMOD = 10 * MANY_K * 25 + 7
MANY_YMOD = 10 * MANY_K * 25 - 89


def many_polygons():
    """900 gapped PENTAGONS (peaked roof on each box) — non-
    rectangular on purpose, so DuckDB cannot collapse containment
    to a bbox test and must run the same edge-parity arithmetic
    after its bbox prefilter."""
    polys = []
    for gy in range(MANY_K):
        for gx in range(MANY_K):
            x0 = gx * MANY_STEP + 2.5
            y0 = gy * MANY_STEP + 2.5
            x1, y1 = x0 + 20.0, y0 + 20.0
            xm = x0 + 10.0
            polys.append(
                (
                    f"box_{gx}_{gy}",
                    [[(x0, y0), (x1, y0), (x1, y1), (xm, y1 + 4.0),
                      (x0, y1), (x0, y0)]],
                )
            )
    return polys


def scenario_polygons(scenario: str):
    if scenario == "many":
        return many_polygons()
    from afg_data_pipeline_spark.plans.reference_semantics import (
        _PIP_POLYGONS,
    )

    return _PIP_POLYGONS


def _edges(scenario: str = "uniform"):
    from afg_data_pipeline_spark.operators.spatial import _ring_edges

    return [
        (i, pid, x1, y1, x2, y2)
        for i, (pid, x1, y1, x2, y2) in enumerate(
            (pid, *e)
            for pid, rings in scenario_polygons(scenario)
            for e in _ring_edges(rings)
        )
    ]


def build_points(spark, scenario: str, n: int, path: str) -> None:
    """Materialize the point table once (idempotent); both engines
    then read IDENTICAL doubles, so no cross-engine arithmetic can
    leak into the generation step."""
    import pyspark.sql.functions as F

    if os.path.exists(path):
        return
    base = spark.range(n).select(F.col("id").alias("point_id"))
    if scenario == "uniform":
        pts = base.select(
            "point_id",
            (F.col("point_id") % 997).cast("double").alias("px"),
            ((F.col("point_id") * 31) % 991)
            .cast("double")
            .alias("py"),
        )
    elif scenario == "many":  # uniform over the KxK-box extent
        pts = base.select(
            "point_id",
            ((F.col("point_id") % MANY_XMOD) / 10.0).alias("px"),
            (
                ((F.col("point_id") * 31) % MANY_YMOD) / 10.0
            ).alias("py"),
        )
    else:  # boundary: lerp along edge (id % n_edges), offset off-edge
        edges = _edges()
        edf = spark.createDataFrame(
            [(i, x1, y1, x2, y2) for i, _p, x1, y1, x2, y2 in edges],
            "e int, x1 double, y1 double, x2 double, y2 double",
        )
        pts = (
            base.withColumn(
                "e", (F.col("point_id") % len(edges)).cast("int")
            )
            .withColumn(
                "t",
                (
                    (F.col("point_id") / len(edges)).cast("long")
                    % 1000
                ).cast("double")
                / 1000.0,
            )
            .join(F.broadcast(edf), "e")
            .select(
                "point_id",
                (
                    F.col("x1")
                    + F.col("t") * (F.col("x2") - F.col("x1"))
                    + 0.25
                ).alias("px"),
                (
                    F.col("y1")
                    + F.col("t") * (F.col("y2") - F.col("y1"))
                    + 0.125
                ).alias("py"),
            )
        )
    # 32 files so both engines read in parallel; repartition BEFORE
    # write (range is already parallel, but the broadcast join
    # inherits range's partitioning — fine either way).
    pts.repartition(32).write.mode("overwrite").parquet(path)


def spark_rollup(spark, scenario: str, path: str):
    """The points_per_polygon shape over the big point table."""
    import pyspark.sql.functions as F

    from afg_data_pipeline_spark.operators.spatial import (
        point_in_polygon_join,
    )

    pts = spark.read.parquet(path)
    hits = point_in_polygon_join(
        pts,
        scenario_polygons(scenario),
        id_col="point_id",
        x_col="px",
        y_col="py",
        poly_id_col="poly_id",
        # a fine grid for the dense 900-polygon layer (cells must
        # be small relative to a box for the interior prune to
        # bite); the registered 3-polygon layer keeps its 32
        n_cells=256 if scenario == "many" else 32,
    )
    return (
        hits.groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("point_id").alias("min_point_id"),
            F.max("point_id").alias("max_point_id"),
        )
        # collect-bound: one row per polygon (dimension-sized layer)
        .collect()
    )


def duck_sql(scenario: str, path: str) -> str:
    edge_rows = ", ".join(
        f"('{p}', {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for _i, p, x1, y1, x2, y2 in _edges(scenario)
    )
    if scenario == "many":
        # fair hand-optimized form: bbox IEJoin prefilter, then
        # edge parity only for the bbox-hit (point, polygon) pairs
        # via an EQUI-join on poly_id — the query a DuckDB user
        # with a big layer would actually write.
        boxes = []
        for pid, rings in many_polygons():
            xs = [x for ring in rings for x, _y in ring]
            ys = [y for ring in rings for _x, y in ring]
            boxes.append(
                f"('{pid}', {min(xs)!r}, {min(ys)!r}, "
                f"{max(xs)!r}, {max(ys)!r})"
            )
        box_rows = ", ".join(boxes)
        return f"""
            WITH pts AS (
                SELECT point_id, px, py FROM '{path}/*.parquet'
            ),
            boxes(poly_id, bx0, by0, bx1, by1) AS
                (VALUES {box_rows}),
            edges(poly_id, x1, y1, x2, y2) AS (VALUES {edge_rows}),
            cand AS (
                SELECT p.point_id, b.poly_id, p.px, p.py
                FROM pts p
                JOIN boxes b
                  ON p.px >= b.bx0 AND p.px <= b.bx1
                 AND p.py >= b.by0 AND p.py <= b.by1
            ),
            crossed AS (
                SELECT c.point_id, c.poly_id,
                       sum(CASE WHEN
                           ((e.y1 > c.py) <> (e.y2 > c.py))
                           AND c.px < e.x1 + (c.py - e.y1)
                               * (e.x2 - e.x1) / (e.y2 - e.y1)
                           THEN 1 ELSE 0 END) AS n_cross
                FROM cand c JOIN edges e USING (poly_id)
                GROUP BY 1, 2
            )
            SELECT poly_id,
                   CAST(count(*) AS BIGINT) AS n_points,
                   CAST(min(point_id) AS BIGINT) AS min_point_id,
                   CAST(max(point_id) AS BIGINT) AS max_point_id
            FROM crossed
            WHERE n_cross % 2 = 1
            GROUP BY 1
        """
    return f"""
        WITH pts AS (
            SELECT point_id, px, py FROM '{path}/*.parquet'
        ),
        edges(poly_id, x1, y1, x2, y2) AS (VALUES {edge_rows}),
        crossed AS (
            SELECT p.point_id, e.poly_id, count(*) AS n_cross
            FROM pts p
            JOIN edges e
              ON ((e.y1 > p.py) <> (e.y2 > p.py))
             AND p.px < e.x1 + (p.py - e.y1) * (e.x2 - e.x1)
                                / (e.y2 - e.y1)
            GROUP BY 1, 2
        )
        SELECT poly_id,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(min(point_id) AS BIGINT) AS min_point_id,
               CAST(max(point_id) AS BIGINT) AS max_point_id
        FROM crossed
        WHERE n_cross % 2 = 1
        GROUP BY 1
    """


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    scenarios = sys.argv[2:] or list(SCENARIOS)
    outdir = os.environ.get("AFG_POLY_DIR", "/tmp/afg_polygon")
    os.makedirs(outdir, exist_ok=True)

    spark = session("bench-polygon")
    con = duck(outdir, spill=True)

    out = []
    for scen in scenarios:
        tag = (
            f"{scen}{MANY_K}" if scen == "many" else scen
        )
        path = os.path.join(outdir, f"points_{tag}_{n}.parquet")
        build_points(spark, scen, n, path)

        spark_s, rows = best_of(
            lambda: spark_rollup(spark, scen, path), REPS
        )
        spark_rows = sorted(tuple(r) for r in rows)
        q = duck_sql(scen, path)
        duck_s, rows = best_of(lambda: con.execute(q).fetchall(), 1)
        duck_rows = sorted(tuple(r) for r in rows)

        # the grade is only honest if the values agree exactly
        # (zero-point polygons absent from BOTH reps' maps here —
        # the brute form has no layer left-join; align shapes)
        sp = [r for r in spark_rows if r[1] > 0]
        match = sp == duck_rows
        rec = {
            "scenario": scen,
            "n_polygons": len(scenario_polygons(scen)),
            "n_points": n,
            "spark_s": round(spark_s, 3),
            "duck_s": round(duck_s, 3),
            "ratio": round(spark_s / duck_s, 3),
            "values_match": match,
            "n_polygons_hit": len(spark_rows),
            # full rows only for small layers; a digest otherwise
            "spark_rows": [list(r) for r in spark_rows]
            if len(spark_rows) <= 20
            else None,
            "total_points_in": sum(r[1] for r in spark_rows),
        }
        print(json.dumps(rec), flush=True)
        out.append(rec)
        with open(os.path.join(outdir, "results.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        if not match:
            print(
                json.dumps(
                    {"scenario": scen, "duck_rows": duck_rows},
                    default=str,
                ),
                flush=True,
            )

    sys.exit(0 if all(r["values_match"] for r in out) else 1)


if __name__ == "__main__":
    main()
