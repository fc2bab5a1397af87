"""J3: nearest-neighbor (1-NN) assignment join.

Reference: temperaturas_rm.py:121-130 — cdist(comuna_centroids,
station_coords) then per-comuna argmin/min assigns each comuna its
nearest weather station; lines 135-147 then stamp the station's
rows with the comuna (J2).

Spark-first: crossJoin + min_by aggregate. min_by is a plain
partial-aggregatable aggregate — cheaper than the window row_number
formulation (no per-group sort materialization). The left side
streams; the right (probe) side is broadcast.

Scale note (SURVEY.md §4): crossJoin is O(L×R) — fine while R is
broadcastable (stations/dims). For R beyond broadcast size the
upgrade path is grid bucketing: hash both sides to coarse cells,
equi-join on cell + neighbor cells, then min_by — same output
contract, so callers don't change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.gate import pair_join
from afg_data_pipeline_spark.functions.tier import gate


def nearest_neighbor_assign(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    distance: Column,
    carry: list[str] | None = None,
) -> DataFrame:
    """For each left row, the right key minimizing ``distance``.

    ``distance`` is any deterministic Column over the cross-joined
    row. Ties break on right_key, making the assignment
    deterministic (the reference's argmin inherits numpy's
    first-match order; an explicit tie-break is the correct
    upgrade).

    Guarded: the cross join evaluates |L|×|R| distances, correct
    only while the right side is dimension-sized. Right sides beyond
    ``AFG_NN_BRUTE_MAX_RIGHT_ROWS`` (default 100k — already ~1e10
    pairs against a 100k left) raise instead of melting a cluster;
    the scale paths are ``nearest_neighbor_1d`` /
    ``nearest_neighbor_bucketed`` / ``nearest_neighbor_grid2d``,
    which share this output contract.
    """
    guard = gate("NN_BRUTE_MAX_RIGHT_ROWS", right.count(), 100_000)
    if guard.over:
        raise ValueError(
            f"nearest_neighbor_assign is a broadcast cross join: "
            f"right side has {guard.stat} rows, over the "
            f"AFG_NN_BRUTE_MAX_RIGHT_ROWS guard ({guard.budget}); use "
            "nearest_neighbor_grid2d (2-D), nearest_neighbor_1d / "
            "nearest_neighbor_bucketed (1-D) for right sides at scale"
        )
    # Spread the streaming side before the |R|-fold expansion: a
    # parquet scan often arrives in a handful of partitions, and the
    # cross join multiplies rows without re-splitting them. A cheap
    # round-robin of the *input* rows parallelizes the O(L×R)
    # distance evaluation across all cores/executors.
    par = left.sparkSession.sparkContext.defaultParallelism
    pairs = pair_join(left.repartition(par), right)
    d = distance.alias("__dist")
    ordkey = F.struct(distance.alias("d"), F.col(right_key).alias("k"))
    aggs = [
        F.min_by(F.col(right_key), ordkey).alias(f"nearest_{right_key}"),
        F.min(distance).alias("nearest_distance"),
    ]
    for c in carry or []:
        aggs.append(F.min_by(F.col(c), ordkey).alias(f"nearest_{c}"))
    _ = d
    return pairs.groupBy(left_key).agg(*aggs)


def nearest_neighbor_1d(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_pos: str,
    right_pos: str,
    carry: list[str] | None = None,
) -> DataFrame:
    """1-NN on a 1-dimensional position without a cross join.

    The sort-based formulation of J3 for scalar distance: union both
    sides ordered by position, carry the nearest right-row from each
    direction with last/first(ignorenulls) windows, and pick the
    closer of the two (ties -> smaller right key, matching the
    ROW_NUMBER oracle). O((L+R) log(L+R)) vs the cross join's
    O(L×R) — the difference between 15M and 16k evaluated pairs at
    sf0.1, and between infeasible and trivial at 100 TB.

    The global orderBy window runs un-partitioned (single task) —
    fine up to ~10M rows; beyond that, range-partition on position
    with boundary duplication (each partition also gets its
    neighbors' edge rows). Assumes right positions are distinct
    (duplicate-position ties would need a secondary ordering).
    """
    carry = carry or []
    r = right.select(
        F.col(right_pos).alias("__pos"),
        F.col(right_key).alias("__rkey"),
        *[F.col(c) for c in carry],
        F.lit(1).alias("__is_right"),
        F.lit(None)
        .cast(left.schema[left_key].dataType)
        .alias("__lkey"),
    )
    l_side = left.select(
        F.col(left_pos).alias("__pos"),
        F.lit(None).cast(right.schema[right_key].dataType).alias(
            "__rkey"
        ),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in carry
        ],
        F.lit(0).alias("__is_right"),
        F.col(left_key).alias("__lkey"),
    )
    both = r.unionByName(l_side)
    return _nn_resolve(both, left_key, right_key, carry)


def _nn_resolve(
    both: DataFrame,
    left_key: str,
    right_key: str,
    carry: list[str],
    part_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Resolve the unioned (left + right) position stream into per-
    left-row nearest assignments. ``part_cols`` scopes the windows —
    empty for the global single-sort variant, the bucket column for
    the range-partitioned variant.
    """
    # Right rows sort before left rows at equal position, so an
    # exact-position match lands in the "prev" direction with
    # distance 0.
    # Both directions as last(...) over unbounded-PRECEDING frames —
    # the forward order for "prev", the reversed order for "next" —
    # because Spark evaluates preceding frames incrementally but
    # unbounded-following frames by re-scanning the tail per row
    # (O(n²) per partition).
    wp = Window.partitionBy(*part_cols).orderBy(
        F.col("__pos").asc(), F.col("__is_right").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.partitionBy(*part_cols).orderBy(
        F.col("__pos").desc(), F.col("__is_right").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def _dir(frame, suffix):
        cols = {
            f"__rkey{suffix}": F.last(
                F.when(F.col("__is_right") == 1, F.col("__rkey")),
                ignorenulls=True,
            ).over(frame),
            f"__pos{suffix}": F.last(
                F.when(F.col("__is_right") == 1, F.col("__pos")),
                ignorenulls=True,
            ).over(frame),
        }
        for c in carry:
            cols[f"{c}{suffix}"] = F.last(
                F.when(F.col("__is_right") == 1, F.col(c)),
                ignorenulls=True,
            ).over(frame)
        return cols

    annotated = both.withColumns(
        {**_dir(wp, "_p"), **_dir(wn, "_n")}
    ).filter(F.col("__is_right") == 0)

    d_prev = F.abs(F.col("__pos") - F.col("__pos_p"))
    d_next = F.abs(F.col("__pos_n") - F.col("__pos"))
    # prev wins on strictly smaller distance, or on a tie when its
    # key is smaller; a missing side loses automatically.
    prev_wins = F.when(F.col("__pos_n").isNull(), F.lit(True)).otherwise(
        F.when(F.col("__pos_p").isNull(), F.lit(False)).otherwise(
            (d_prev < d_next)
            | ((d_prev == d_next) & (F.col("__rkey_p") < F.col("__rkey_n")))
        )
    )
    sel = lambda p, n: F.when(prev_wins, p).otherwise(n)  # noqa: E731
    out = [
        F.col("__lkey").alias(left_key),
        sel(F.col("__rkey_p"), F.col("__rkey_n")).alias(
            f"nearest_{right_key}"
        ),
        sel(d_prev, d_next).alias("nearest_distance"),
    ]
    for c in carry:
        out.append(
            sel(F.col(f"{c}_p"), F.col(f"{c}_n")).alias(f"nearest_{c}")
        )
    return annotated.select(*out)


def nearest_neighbor_grid2d(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_x: str,
    left_y: str,
    right_x: str,
    right_y: str,
    carry: list[str] | None = None,
    n_cells: int = 64,
    max_rounds: int = 6,
) -> DataFrame:
    """Exact 2-D euclidean 1-NN join via grid bucketing — the
    multi-dimensional scale path promised by
    ``nearest_neighbor_assign``'s docstring, same output contract,
    no cross join on the bulk.

    The reference's actual J3 is 2-D lat/lon
    (temperaturas_rm.py:121-130: cdist + argmin); this is its
    cluster-scale formulation.

    Algorithm (exact, not approximate): both sides hash to square
    cells of width w; each left row probes its own + 8 neighbor
    cells via a shuffle equi-join on the cell id and keeps the
    (distance, right_key)-minimal candidate. If that candidate's
    distance is <= w it IS the global nearest neighbor — any
    closer right row would lie within w of the left row and hence
    inside the 3x3 neighborhood — so the row resolves. Unresolved
    rows (empty neighborhood, or best > w) retry with w doubled:
    each round is a full shuffle-parallel pass over only the
    still-unresolved lefts, and the candidate volume per row stays
    ~9 cells. Rows the doubling never resolves (max_rounds cap,
    e.g. far outliers) fall back to a broadcast of the *residual*
    lefts against the right side — bounded, because the residual
    shrinks geometrically. Ties break on the smaller right key,
    matching the crossJoin+min_by oracle bit-for-bit.

    Driver-side work per round is one is-empty probe on the
    checkpointed round result (1-row scalar, same budget as
    graph.py's convergence check); localCheckpoint truncates the
    per-round lineage so round k never recomputes rounds < k.
    """
    carry = carry or []
    spark = left.sparkSession
    par = spark.sparkContext.defaultParallelism
    bbox = right.agg(
        F.min(F.col(right_x).cast("double")).alias("xmin"),
        F.max(F.col(right_x).cast("double")).alias("xmax"),
        F.min(F.col(right_y).cast("double")).alias("ymin"),
        F.max(F.col(right_y).cast("double")).alias("ymax"),
    ).collect()[0]
    span = max(
        (bbox.xmax or 0.0) - (bbox.xmin or 0.0),
        (bbox.ymax or 0.0) - (bbox.ymin or 0.0),
    )
    w = span / float(n_cells) if span > 0 else 1.0

    r = right.select(
        F.col(right_x).cast("double").alias("__rx"),
        F.col(right_y).cast("double").alias("__ry"),
        F.col(right_key).alias("__rkey"),
        *[F.col(c) for c in carry],
    )
    pend = left.select(
        F.col(left_key).alias("__lkey"),
        F.col(left_x).cast("double").alias("__lx"),
        F.col(left_y).cast("double").alias("__ly"),
    )
    dist = F.sqrt(
        (F.col("__lx") - F.col("__rx")) * (F.col("__lx") - F.col("__rx"))
        + (F.col("__ly") - F.col("__ry")) * (F.col("__ly") - F.col("__ry"))
    )
    cand_struct = F.struct(
        dist.alias("d"),
        F.col("__rkey").alias("k"),
        *[F.col(c).alias(c) for c in carry],
    )
    out_cols = [
        F.col("__lkey").alias(left_key),
        F.col("__best.k").alias(f"nearest_{right_key}"),
        F.col("__best.d").alias("nearest_distance"),
        *[F.col(f"__best.{c}").alias(f"nearest_{c}") for c in carry],
    ]
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]

    resolved_parts: list[DataFrame] = []
    for _ in range(max_rounds):
        rc = r.withColumns(
            {
                "__cx": F.floor(F.col("__rx") / F.lit(w)),
                "__cy": F.floor(F.col("__ry") / F.lit(w)),
            }
        )
        # Pre-expansion repartition: the 9-way cell explode happens
        # before any shuffle AQE can size, so spread the input rows
        # first (CLAUDE.md rule 3).
        cells = F.array(
            *[
                F.struct(
                    (F.floor(F.col("__lx") / F.lit(w)) + dx).alias("cx"),
                    (F.floor(F.col("__ly") / F.lit(w)) + dy).alias("cy"),
                )
                for dx, dy in offsets
            ]
        )
        lc = (
            pend.repartition(par)
            .select("*", F.explode(cells).alias("__cell"))
            .select(
                "__lkey",
                "__lx",
                "__ly",
                F.col("__cell.cx").alias("__cx"),
                F.col("__cell.cy").alias("__cy"),
            )
        )
        best = (
            lc.join(rc, ["__cx", "__cy"])
            .groupBy("__lkey", "__lx", "__ly")
            .agg(F.min(cand_struct).alias("__best"))
        )
        ann = pend.join(
            best, ["__lkey", "__lx", "__ly"], "left"
        ).localCheckpoint()
        is_exact = F.col("__best").isNotNull() & (
            F.col("__best.d") <= F.lit(w)
        )
        resolved_parts.append(ann.filter(is_exact).select(*out_cols))
        pend = ann.filter(~is_exact).select("__lkey", "__lx", "__ly")
        if pend.isEmpty():
            pend = None
            break
        w *= 2.0
    if pend is not None and not pend.isEmpty():
        # Residual fallback: broadcast only the (tiny) unresolved
        # left rows against the streaming right side — never the
        # reverse, so this stays safe however large `right` is.
        best = (
            r.join(F.broadcast(pend), how="cross")
            .groupBy("__lkey", "__lx", "__ly")
            .agg(F.min(cand_struct).alias("__best"))
        )
        resolved_parts.append(best.select(*out_cols))
    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out


def nearest_neighbor_1d_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_pos: str,
    right_pos: str,
    carry: list[str] | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """1-D 1-NN with range bucketing — the scale path promised by
    ``nearest_neighbor_1d``'s docstring, same output contract.

    Both sides bucket by a fixed-width monotone split of the right
    side's [min, max] position range (one tiny agg, broadcast). A
    left row's nearest right row from below is then either in its
    own bucket or it is the max-position right row of the nearest
    non-empty bucket below — because bucketing is monotone in
    position. So each bucket is augmented with exactly two boundary
    candidates (nearest edge row from below and from above),
    computed on a per-bucket summary of at most n_buckets rows, and
    the union+window resolution runs partitioned by bucket:
    n_buckets-way parallel, no global sort anywhere on the big
    data. The only partitionless windows scan the n_buckets-row
    summary.

    Fixed-width buckets skew under non-uniform positions (a hot
    bucket gets more rows), but correctness never depends on the
    split — any monotone bucketing gives the same answer — so
    n_buckets can simply be raised, or the bucket expression swapped
    for quantile boundaries, without touching the resolution logic.
    Like the base variant, assumes right positions are distinct.
    """
    carry = carry or []
    spark = left.sparkSession
    stats = right.agg(
        F.min(F.col(right_pos).cast("double")).alias("__rmin"),
        F.max(F.col(right_pos).cast("double")).alias("__rmax"),
    )

    def bucket_of(pos) -> Column:
        width = (F.col("__rmax") - F.col("__rmin")) / F.lit(
            float(n_buckets)
        )
        raw = F.when(
            width > 0,
            F.floor((pos.cast("double") - F.col("__rmin")) / width),
        ).otherwise(F.lit(0))
        return (
            F.greatest(F.lit(0), F.least(F.lit(n_buckets - 1), raw))
            .cast("long")
        )

    r = right.crossJoin(F.broadcast(stats)).select(
        bucket_of(F.col(right_pos)).alias("__bucket"),
        F.col(right_pos).alias("__pos"),
        F.col(right_key).alias("__rkey"),
        *[F.col(c) for c in carry],
    )
    row_struct = F.struct(
        F.col("__pos"), F.col("__rkey"), *[F.col(c) for c in carry]
    )
    edges = r.groupBy("__bucket").agg(
        F.max_by(row_struct, F.col("__pos")).alias("__hi"),
        F.min_by(row_struct, F.col("__pos")).alias("__lo"),
    )
    spine = spark.range(n_buckets).select(
        F.col("id").alias("__bucket")
    )
    summary = spine.join(F.broadcast(edges), "__bucket", "left")
    w_below = Window.orderBy(F.col("__bucket").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_above = Window.orderBy(F.col("__bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cands = summary.select(
        "__bucket",
        F.last("__hi", ignorenulls=True).over(w_below).alias("__below"),
        F.last("__lo", ignorenulls=True).over(w_above).alias("__above"),
    )
    extra = (
        cands.select("__bucket", F.col("__below").alias("s"))
        .filter(F.col("s").isNotNull())
        .unionByName(
            cands.select("__bucket", F.col("__above").alias("s"))
            .filter(F.col("s").isNotNull())
        )
        .select(
            "__bucket",
            F.col("s.__pos").alias("__pos"),
            F.col("s.__rkey").alias("__rkey"),
            *[F.col(f"s.{c}").alias(c) for c in carry],
        )
    )
    r_full = r.unionByName(extra).select(
        "__bucket",
        "__pos",
        "__rkey",
        *carry,
        F.lit(1).alias("__is_right"),
        F.lit(None)
        .cast(left.schema[left_key].dataType)
        .alias("__lkey"),
    )
    l_side = left.crossJoin(F.broadcast(stats)).select(
        bucket_of(F.col(left_pos)).alias("__bucket"),
        F.col(left_pos).alias("__pos"),
        F.lit(None).cast(right.schema[right_key].dataType).alias(
            "__rkey"
        ),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in carry
        ],
        F.lit(0).alias("__is_right"),
        F.col(left_key).alias("__lkey"),
    )
    both = r_full.unionByName(l_side)
    return _nn_resolve(
        both, left_key, right_key, carry, part_cols=("__bucket",)
    )


# --- point-in-polygon containment join --------------------------------


def _close_ring(
    ring: list[tuple[float, float]],
) -> list[tuple[float, float]]:
    if ring and ring[0] != ring[-1]:
        return list(ring) + [ring[0]]
    return list(ring)


def _ring_edges(rings):
    """Consecutive-vertex edges over CLOSED rings (ESRI rings repeat
    the first vertex last; unclosed input is closed here)."""
    for ring in rings:
        closed = _close_ring(ring)
        for (x1, y1), (x2, y2) in zip(closed[:-1], closed[1:]):
            yield (
                float(x1), float(y1), float(x2), float(y2),
            )


def _ray_cast(px: float, py: float, edges) -> bool:
    """Even-odd crossing test of the +x ray from (px, py) — the
    EXACT arithmetic the distributed path and the SQL oracle run:
    crossing iff the edge straddles py ((y1 > py) != (y2 > py)) and
    the x-intercept x1 + (py - y1) * (x2 - x1) / (y2 - y1) lies
    strictly right of px.  Hole rings toggle parity twice, so the
    even-odd rule handles multi-ring polygons with no special
    casing (reference context: the comunas layer of
    temperaturas_rm.py:106-119, whose rings sources/shapefile.py
    already parses)."""
    inside = False
    for x1, y1, x2, y2 in edges:
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xint:
                inside = not inside
    return inside


def point_in_polygon_join(
    points: DataFrame,
    polygons: list[tuple],
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    poly_id_col: str = "poly_id",
    n_cells: int = 32,
) -> DataFrame:
    """Containment join: (point row, polygon id) for every polygon
    whose interior contains the point (even-odd rule; a point in k
    overlapping polygons yields k rows; points in none drop out).

    ``polygons`` is a driver-side list of ``(poly_id, rings)`` —
    polygon layers are dimension tables (a country has thousands of
    admin polygons, not billions), so the geometry rides the
    broadcast side while the POINTS side streams at any scale.

    Scale shape (the 100 TB plan):
    - an ``n_cells`` x ``n_cells`` grid over the layer bbox is
      classified per polygon ON THE DRIVER: cells no edge touches
      are uniformly inside or outside (decided by one ray-cast of
      the cell center); cells an edge's bbox touches are boundary.
    - points compute their cell with two fixed-point ``floor``s —
      no shuffle — and broadcast-hash-join the (cell, poly,
      is_interior) table (constant-key-free: many distinct cells,
      rule 13 does not apply).
    - interior-cell hits are accepted with ZERO per-edge work (the
      overwhelming majority under a fine grid);
    - boundary-cell hits fold the exact crossing test over the
      polygon's edge array, shipped INSIDE the broadcast cell row
      — no row fan-out, no parity shuffle; (point, polygon)
      output rows are unique by construction;
    - both resolve in ONE codegen'd pass over the point side —
      the whole operator is shuffle-free.
    The prune is exact: a cell containing both inside and outside
    points is crossed by the boundary, so some edge bbox touches
    it and it is classified boundary — never interior/outside.

    Exactness: the crossing arithmetic is plain IEEE double
    multiply/divide/compare evaluated in one fixed order, so a
    DuckDB oracle running the same expressions is bit-identical
    (the registered query's points are integer-valued and the
    polygon vertices half-integer, so no point ever lies ON an
    edge and the strict comparisons are never knife-edge).
    """
    if not polygons:
        raise ValueError("point_in_polygon_join: no polygons")
    # Each physical point row is evaluated independently (no
    # parity groupBy since the fold rewrite), so duplicate ids no
    # longer merge — but downstream rollups still key on
    # ``id_col``, so the uniqueness contract stays documented.
    # Internal working names must not collide with point columns
    # (ambiguous-reference or wrong join keys otherwise) — fail
    # loudly up front.
    _reserved = {
        "cell", "__pid", "__interior", "__edges", "__n_cross",
    }
    clash = _reserved.intersection(points.columns)
    if clash:
        raise ValueError(
            "point_in_polygon_join: points columns collide with "
            f"internal names: {sorted(clash)}; rename them first"
        )
    spark = points.sparkSession
    # --- driver-side precompute over the dimension-sized layer ---
    poly_edges: dict = {
        pid: list(_ring_edges(rings)) for pid, rings in polygons
    }
    xs = [
        v
        for es in poly_edges.values()
        for x1, _y1, x2, _y2 in es
        for v in (x1, x2)
    ]
    ys = [
        v
        for es in poly_edges.values()
        for _x1, y1, _x2, y2 in es
        for v in (y1, y2)
    ]
    minx, maxx, miny, maxy = min(xs), max(xs), min(ys), max(ys)
    # guard degenerate extents (all vertices on one line)
    wx = (maxx - minx) or 1.0
    wy = (maxy - miny) or 1.0
    cw, ch = wx / n_cells, wy / n_cells

    def cell_of(x: float, y: float) -> int:
        cx = min(n_cells - 1, max(0, int((x - minx) / cw)))
        cy = min(n_cells - 1, max(0, int((y - miny) / ch)))
        return cy * n_cells + cx

    cell_rows = []  # (cell, poly_id, is_interior)
    for pid, edges in poly_edges.items():
        pxs = [v for x1, _a, x2, _b in edges for v in (x1, x2)]
        pys = [v for _a, y1, _b, y2 in edges for v in (y1, y2)]
        cx0 = min(n_cells - 1, max(0, int((min(pxs) - minx) / cw)))
        cx1 = min(n_cells - 1, max(0, int((max(pxs) - minx) / cw)))
        cy0 = min(n_cells - 1, max(0, int((min(pys) - miny) / ch)))
        cy1 = min(n_cells - 1, max(0, int((max(pys) - miny) / ch)))
        # conservative per-edge cell stamp: every cell the edge's
        # bbox touches is boundary (over-marking costs only the
        # exact per-edge test, never correctness)
        boundary: set = set()
        for x1, y1, x2, y2 in edges:
            bx0 = min(n_cells - 1, max(0, int((min(x1, x2) - minx) / cw)))
            bx1 = min(n_cells - 1, max(0, int((max(x1, x2) - minx) / cw)))
            by0 = min(n_cells - 1, max(0, int((min(y1, y2) - miny) / ch)))
            by1 = min(n_cells - 1, max(0, int((max(y1, y2) - miny) / ch)))
            for cy in range(by0, by1 + 1):
                for cx in range(bx0, bx1 + 1):
                    boundary.add(cy * n_cells + cx)
        for cy in range(cy0, cy1 + 1):
            for cx in range(cx0, cx1 + 1):
                cell = cy * n_cells + cx
                if cell in boundary:
                    cell_rows.append((cell, pid, False))
                    continue
                ccx = minx + (cx + 0.5) * cw
                ccy = miny + (cy + 0.5) * ch
                if _ray_cast(ccx, ccy, edges):
                    cell_rows.append((cell, pid, True))
                # uniformly-outside cells are simply absent
    # Boundary cells carry the polygon's FULL edge list as an
    # array column (parity needs every edge — the +x ray crosses
    # edges arbitrarily far from the point's cell); interior cells
    # carry an empty array.  Shipping the edges INSIDE the
    # broadcast row lets the crossing parity run as one
    # F.aggregate fold per candidate — no row fan-out, no parity
    # shuffle, no re-aggregation (measured at 20M points: the
    # former edge-join + groupBy-parity plan was 2.7s/6.3s
    # uniform/boundary; this fold plan is the same arithmetic in
    # one codegen'd scan with the fold as its single interpreted
    # leaf, rule-15/23 shape).  Integer parity addition is
    # commutative, so values are bit-identical to the join form.
    cell_map = spark.createDataFrame(
        [
            (
                cell,
                pid,
                interior,
                [] if interior else poly_edges[pid],
            )
            for cell, pid, interior in cell_rows
        ],
        "cell int, __pid string, __interior boolean, "
        "__edges array<struct<x1:double,y1:double,"
        "x2:double,y2:double>>",
    )

    px = F.col(x_col).cast("double")
    py = F.col(y_col).cast("double")
    in_bbox = (
        (px >= F.lit(minx)) & (px <= F.lit(maxx))
        & (py >= F.lit(miny)) & (py <= F.lit(maxy))
    )
    cx = F.least(
        F.lit(n_cells - 1),
        F.greatest(
            F.lit(0),
            F.floor((px - F.lit(minx)) / F.lit(cw)).cast("int"),
        ),
    )
    cy = F.least(
        F.lit(n_cells - 1),
        F.greatest(
            F.lit(0),
            F.floor((py - F.lit(miny)) / F.lit(ch)).cast("int"),
        ),
    )
    staged = points.filter(in_bbox).withColumn(
        "cell", (cy * F.lit(n_cells) + cx).cast("int")
    )
    cand = staged.join(F.broadcast(cell_map), "cell")
    # ONE pass over the point side, ZERO shuffles: interior
    # candidates are accepted on the broadcast flag alone (empty
    # edge array — the fold never runs); boundary candidates fold
    # the exact crossing test over their polygon's edge array.
    # Each point lands in exactly one cell and the cell map has
    # one row per (cell, polygon), so (point, polygon) output
    # rows are unique BY CONSTRUCTION — no parity groupBy, no
    # F.first carries.  The fold is sanctioned HOF use (rule 10):
    # every consumer is oracle-checked, and the per-element
    # crossing expression is the same IEEE arithmetic as the SQL
    # oracle evaluated per array element in fixed order.
    pt_cols = [F.col(c) for c in points.columns]
    crossing = lambda e: F.when(  # noqa: E731
        ((e["y1"] > py) != (e["y2"] > py))
        & (
            px
            < e["x1"]
            + (py - e["y1"])
            * (e["x2"] - e["x1"])
            / (e["y2"] - e["y1"])
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    n_cross = F.aggregate(
        "__edges", F.lit(0), lambda acc, e: acc + crossing(e)
    )
    out = (
        cand.withColumn("__n_cross", n_cross)
        .filter(
            F.col("__interior") | (F.col("__n_cross") % 2 == 1)
        )
        .select(*pt_cols, "__pid")
    )
    return out.withColumnRenamed("__pid", poly_id_col)


def pentagon_grid(
    k: int, pitch: float = 25.0
) -> list[tuple[str, list]]:
    """k x k gapped PENTAGONS (box with a peaked roof) — the
    synthetic dense admin layer used by the layer-scale containment
    grade (tools/bench_polygon.py) and the registered
    `points_in_admin_grid` query. Non-rectangular on purpose so a
    SQL replica cannot collapse containment to a bbox test; all
    coordinates are exact binary fractions (k*25 + {2.5, 12.5,
    22.5, 26.5}), so the same values are constructible in SQL with
    no representation drift."""
    polys = []
    for gy in range(k):
        for gx in range(k):
            x0 = gx * pitch + 2.5
            y0 = gy * pitch + 2.5
            x1, y1 = x0 + 20.0, y0 + 20.0
            xm = x0 + 10.0
            polys.append(
                (
                    f"box_{gx}_{gy}",
                    [[(x0, y0), (x1, y0), (x1, y1),
                      (xm, y1 + 4.0), (x0, y1), (x0, y0)]],
                )
            )
    return polys


# ---------------------------------------------------------------------------
# Area-weighted polygon -> polygon reaggregation (areal interpolation)
# ---------------------------------------------------------------------------


def _signed_area2(pts) -> float:
    """Twice the signed shoelace area of an OPEN ring."""
    n = len(pts)
    tot = 0.0
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        tot += x1 * y2 - x2 * y1
    return tot


def _convex_ccw(poly) -> list:
    """Normalize a convex ring to OPEN CCW order; raise loudly on
    non-convex input (the Sutherland-Hodgman clip below is only
    correct against a convex clip region)."""
    pts = [
        (float(x), float(y)) for x, y in _close_ring(list(poly))
    ][:-1]
    if len(pts) < 3:
        raise ValueError("areal: clip polygon needs >= 3 vertices")
    if _signed_area2(pts) < 0:
        pts = pts[::-1]
    n = len(pts)
    for i in range(n):
        ax, ay = pts[i]
        bx, by = pts[(i + 1) % n]
        cx, cy = pts[(i + 2) % n]
        if (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) < 0:
            raise ValueError(
                "areal: target zone is not convex; split it "
                "(rectilinear grids and convex zones only)"
            )
    return pts


def _clip_ring(subject, clip_ccw) -> list:
    """Sutherland-Hodgman: SUBJECT ring (any simple winding,
    may be concave) clipped against a CONVEX CCW ring.

    Intersection vertices use the determinant line-line form with
    integer-exact products, so rectilinear integer layers produce
    EXACTLY integer vertices (IEEE division of an integer-valued
    numerator by its integer divisor is exact) — the property the
    SQL oracle's closed-form rectangle intersection relies on.
    A concave subject may emit coincident connector edges; the
    enclosed (shoelace) area is still the exact intersection area.
    """
    out = list(subject)
    n = len(clip_ccw)
    for i in range(n):
        ax, ay = clip_ccw[i]
        bx, by = clip_ccw[(i + 1) % n]
        if not out:
            break
        inp, out = out, []
        ex, ey = bx - ax, by - ay

        def _ins(p, _ex=ex, _ey=ey, _ax=ax, _ay=ay):
            return (
                _ex * (p[1] - _ay) - _ey * (p[0] - _ax) >= 0.0
            )

        def _cross(p, q, _ax=ax, _ay=ay, _bx=bx, _by=by):
            x1, y1 = p
            x2, y2 = q
            d1 = x1 * y2 - y1 * x2
            d2 = _ax * _by - _ay * _bx
            den = (x1 - x2) * (_ay - _by) - (y1 - y2) * (
                _ax - _bx
            )
            return (
                (d1 * (_ax - _bx) - (x1 - x2) * d2) / den,
                (d1 * (_ay - _by) - (y1 - y2) * d2) / den,
            )

        prev = inp[-1]
        prev_in = _ins(prev)
        for cur in inp:
            cur_in = _ins(cur)
            if cur_in:
                if not prev_in:
                    out.append(_cross(prev, cur))
                out.append(cur)
            elif prev_in:
                out.append(_cross(prev, cur))
            prev, prev_in = cur, cur_in
    return out


def _normalized_rings(rings):
    """(open ring, sign) pairs: the largest-|area| ring is the
    shell (+1); any other ring whose first vertex ray-casts inside
    the shell is a hole (-1) REGARDLESS of stored winding (ESRI
    winding conventions are unreliable in the wild); rings outside
    the shell are additional shells (+1). Nested islands inside
    holes are out of scope (raise-free: they'd sign as holes)."""
    opens = [_close_ring(list(r))[:-1] for r in rings]
    if not opens:
        return []
    areas = [abs(_signed_area2(r)) for r in opens]
    shell_i = max(range(len(opens)), key=lambda i: areas[i])
    shell_edges = list(
        _ring_edges([opens[shell_i]])
    )
    out = []
    for i, r in enumerate(opens):
        if i == shell_i:
            out.append((r, 1))
        elif _ray_cast(r[0][0], r[0][1], shell_edges):
            out.append((r, -1))
        else:
            out.append((r, 1))
    return out


def polygon_area(rings) -> float:
    """Even-odd area of a multi-ring polygon under the shell/hole
    normalization above."""
    return sum(
        sign * abs(_signed_area2(r)) / 2.0
        for r, sign in _normalized_rings(rings)
    )


def polygon_intersection_area(rings, clip_poly) -> float:
    """Exact intersection area of a (possibly holed, possibly
    concave) polygon with a CONVEX clip polygon: each ring is
    clipped independently and contributes its |clipped shoelace|
    with the shell/hole sign."""
    clip_ccw = _convex_ccw(clip_poly)
    total = 0.0
    for pts, sign in _normalized_rings(rings):
        clipped = _clip_ring(pts, clip_ccw)
        if len(clipped) >= 3:
            total += sign * abs(_signed_area2(clipped)) / 2.0
    return total


def areal_weights(src_polygons, dst_polygons) -> list:
    """Driver-side reaggregation matrix between two DIMENSION-sized
    admin layers: (src_id, dst_id, inter_area, src_area) for every
    overlapping pair. Source polygons may be concave and holed;
    target zones must be convex (raise otherwise). Both layers are
    polygon catalogs (thousands of rows), so the quadratic pair
    loop and the clipping run on the driver and the matrix
    broadcasts — the FACT-scale data never touches geometry."""
    src_areas = {
        pid: polygon_area(rings) for pid, rings in src_polygons
    }
    rows = []
    for did, dring in dst_polygons:
        clip = (
            dring[0] if isinstance(dring, list) and dring
            and isinstance(dring[0], list) else dring
        )
        for sid, rings in src_polygons:
            inter = polygon_intersection_area(rings, clip)
            if inter > 0.0:
                rows.append(
                    (sid, did, float(inter), float(src_areas[sid]))
                )
    return rows


def areal_reaggregate(
    quantities: DataFrame,
    src_polygons,
    dst_polygons,
    id_col: str = "src_id",
    qty_col: str = "q",
    dst_id_col: str = "dst_id",
) -> DataFrame:
    """AREA-WEIGHTED REAGGREGATION (areal interpolation): apportion
    a per-source-zone quantity onto a different zoning layer by
    intersection-area share — value(B) = sum_A q(A) *
    area(A inter B) / area(A). The standard re-basing step between
    incompatible admin layers (census tract -> grid cell, comuna ->
    service area; the reference's mobility notebook domain).

    Output per target zone: n_src (contributing source zones),
    shared_area (sum of intersection areas with contributing
    sources), apportioned (double). Zones with no contribution
    are KEPT with zeros.

    Exactness: per-row contribution is quantized once to the 1e9
    integer grid (rule 1b — ((q*inter)/src_area)*1e9, identical
    IEEE expression on both engines) and summed in DECIMAL(38,0)
    (ANSI-safe for any corpus); the final division is one portable
    double op. Scale shape: the weight matrix is dimension-sized
    and BROADCASTS; the quantity table (the only fact-scale input)
    takes one broadcast-hash join and one map-side-combinable
    aggregate keyed by the handful of zone ids — no shuffle of
    anything corpus-sized. Per-row q*1e9 must stay under 2^63
    (q < 9.2e9 per zone), which any real per-zone quantity does.
    """
    spark = quantities.sparkSession
    wrows = areal_weights(src_polygons, dst_polygons)
    wdf = spark.createDataFrame(
        wrows,
        f"{id_col} string, {dst_id_col} string, "
        "inter_area double, src_area double",
    )
    contrib_q = F.round(
        F.col(qty_col).cast("double")
        * F.col("inter_area")
        / F.col("src_area")
        * F.lit(1000000000.0),
        0,
    ).cast("bigint")
    agg = (
        quantities.join(F.broadcast(wdf), id_col)
        .groupBy(dst_id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_src"),
            F.sum("inter_area").alias("shared_area"),
            (
                F.sum(contrib_q.cast("decimal(38,0)"))
                .cast("double")
                / F.lit(1000000000.0)
            ).alias("apportioned"),
        )
    )
    layer = spark.createDataFrame(
        [(d,) for d, _ in dst_polygons], f"{dst_id_col} string"
    )
    return layer.join(agg, dst_id_col, "left").select(
        dst_id_col,
        F.coalesce(F.col("n_src"), F.lit(0))
        .cast("bigint")
        .alias("n_src"),
        F.coalesce(F.col("shared_area"), F.lit(0.0)).alias(
            "shared_area"
        ),
        F.coalesce(F.col("apportioned"), F.lit(0.0)).alias(
            "apportioned"
        ),
    )
