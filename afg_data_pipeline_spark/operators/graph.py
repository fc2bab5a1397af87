"""Graph operators over edge lists: connected components (the
cluster-resolution step of near-duplicate detection: pair list ->
duplicate groups -> one canonical doc per group), the node/edge
tables of the GNN graph-table contract (radius edges, degrees,
triangles), and iterative analytics (pagerank, hits, BFS, weighted
shortest paths, label propagation, k-core).

Shared discipline of the iterative operators:
- ``_undirected`` materializes the symmetrized edge list once: it
  feeds every round's join, and without truncation each round would
  re-run the upstream edge pipeline (MinHash candidate generation,
  the grid-bucketed radius join) from scratch.
- ``_iterate`` runs the rounds. It localCheckpoint()s the state on a
  fixed cadence (its docstring has the measured reason) and, for
  fixpoint loops, runs a cheap scalar probe after each checkpoint,
  stopping at the first repeat. Each probe is monotone in the state
  or a checksum of it, so early exit returns what the full unroll
  would (min-label components states its checksum caveat).
- Small graphs run on the driver. The checkpoint job of the edge
  list also counts its rows. When pagerank, bfs / weighted shortest
  paths or k-core see at most ``_LOCAL_MAX_EDGES`` of them, they
  collect the list once through ``_local_columns`` and, given
  non-null integer ids, run every round in exact int64 numpy with the
  same integer formulas; the result comes back through
  ``_local_frame.make``. Larger graphs take the distributed
  ``_iterate`` path without collecting anything, and so do ineligible
  small ones; both paths give the same rows and schema, and the
  kernels derive that schema from the input fields instead of
  analysing a plan.
- Small point sets build their radius graph on the driver, one step
  upstream of those kernels. ``radius_edges_grid2d`` collects up to
  ``_LOCAL_MAX_POINTS`` (id, x, y) rows once and, given unique
  non-null integer ids and finite coordinates, replays its grid join
  in float64 / int64 numpy with bit-identical distances
  (``_radius_edges_local``). That skips building the grid-join plan
  and the shuffle jobs of the checkpoint that consumes it. The
  kernels run in the driver process, never in a UDF.
- The handoff: the radius kernel's edge frame carries its numpy
  columns (``_local_frame``), so pagerank (symmetrized), bfs and
  k-core take them as they are (``_symmetric``): no union,
  checkpoint or edge collect runs between the two kernels.
  ``_undirected`` runs only off the handoff: for an edge list that
  carries nothing, or once a kernel refuses the carried one (its
  rounds then run distributed over a checkpoint, never over a
  re-shipped local relation).

Each round is a handful of equi-joins and aggregates that all
shuffle on vertex id, so AQE reuses the partitioning; nothing sorts
globally.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegralType,
    LongType,
    StructField,
)

from afg_data_pipeline_spark.operators import _local_frame

#: Symmetrized edge rows (two per input edge) up to which pagerank,
#: bfs / weighted sssp and k-core iterate on the driver. A constant,
#: not a budget: one value is in use and both paths return the same
#: rows (tests monkeypatch it). Kernel vs distributed, 10 rounds on
#: random graphs with rows/8 vertices, local[2] on a 4-vCPU host,
#: collect and result frame included (pagerank / bfs / kcore): 2^14
#: rows 0.6 / 0.5 / 0.2 s vs 4.2 / 1.5 / 1.1 s; 2^20 rows 1.9 / 2.5 /
#: 1.7 s vs 15.0 / 10.8 / 6.6 s; 2^22 rows 8.3 / 8.5 / 7.7 s vs 53.7 /
#: 47.7 / 54.2 s. The kernel still wins at the largest size measured,
#: so that size is the bound. Supplier radius graphs, in these rows:
#: sf0.1 (1,000 suppliers) 7,534 at r=500 (pagerank, bfs, sssp) and
#: 14,846 at r=800 (k-core); 10,000 suppliers drawn like TPC-H sf1
#: 769,252 and 1,498,934, so sf1 runs on the driver. Rows grow with
#: the square of the supplier count: sf10 (~75M / ~150M) runs
#: distributed.
_LOCAL_MAX_EDGES = 1 << 22

#: Points up to which radius_edges_grid2d builds the graph on the
#: driver; its candidate rows must also stay within
#: ``_LOCAL_MAX_EDGES``. A constant like the one above (tests
#: monkeypatch it). Kernel vs distributed, plan build plus a noop
#: write, best of 3, wall / engine CPU (driver + JVM) seconds,
#: local[2] on a 4-vCPU host, uniform points read from parquet with
#: ~0.8 neighbours per point: 10 points 0.23 / 0.22 vs 0.84 / 0.86;
#: 2^10 0.17 / 0.16 vs 0.69 / 0.71; 2^14 0.21 / 0.24 vs 0.62 / 0.68;
#: 2^17 0.62 / 0.82 vs 1.14 / 2.15; 2^20 (411k edges) 5.0 / 5.9 vs
#: 17.4 / 32.0. The kernel still wins at the largest size measured,
#: so that size is the bound. An input over the bound, or one the
#: kernel does not take, pays the gate's one collect first: 1.0 /
#: 1.4 s at 2^20 points, 0.07 s at 2^10.
_LOCAL_MAX_POINTS = 1 << 20


def _checkpoint(df):
    """``df`` localCheckpoint()ed, and its row count. The checkpoint
    job observes the count as it writes the blocks, so knowing the
    size costs no job of its own."""
    rows = Observation()
    df = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return df, rows.get["n"]


def _undirected(edges, src, dst, *carry, s="s", d="d"):
    """Both directions of every edge as (``s``, ``d``, *carry),
    localCheckpoint()ed once, and its row count."""
    return _checkpoint(
        edges.select(
            F.col(src).alias(s), F.col(dst).alias(d), *carry
        ).unionByName(
            edges.select(
                F.col(dst).alias(s), F.col(src).alias(d), *carry
            )
        )
    )


def _iterate(state, step, rounds, every=2, probe=None):
    """Run ``state = step(state)`` up to ``rounds`` times; return the
    final state.

    The state is localCheckpoint()ed after every ``every``-th round
    and after the last one. Each checkpoint costs a full job, but
    un-truncated lineage makes re-planning superlinear — measured on
    pagerank at sf0.1 / 10 iterations: every=1 9.0s, every=2 6.2s,
    every=3 7.4s, every=5 14.3s. The output is bit-identical at any
    cadence.

    ``probe(state)`` runs right after each checkpoint, where the
    frame is already materialized and the scalar job is nearly free;
    two equal probes in a row end the loop. Fixpoint loops whose
    round costs ~10x a probe pass ``every=1``: a sparser probe delays
    detection by extra rounds (star components at sf0.1: probing
    every round 5.91s vs every other round 8.52s).
    """
    prev = object()
    for it in range(rounds):
        state = step(state)
        if (it + 1) % every == 0 or it == rounds - 1:
            state = state.localCheckpoint()
            if probe is not None:
                cur = probe(state)
                if cur == prev:
                    break
                prev = cur
    return state


def _local_columns(df, *cols):
    """``cols`` of ``df`` as int64 numpy arrays from one
    ``limit(_LOCAL_MAX_EDGES + 1)`` collect, or None when the frame
    holds more than ``_LOCAL_MAX_EDGES`` rows or a column is not a
    null-free integer (Arrow hands a null-bearing integer column over
    as float64). The kernels call it only after the edge count has
    passed the bound; it bounds their vertex-side collect as well."""
    pdf = df.select(*cols).limit(_LOCAL_MAX_EDGES + 1).toPandas()
    if len(pdf) > _LOCAL_MAX_EDGES or any(
        t.kind != "i" for t in pdf.dtypes
    ):
        return None
    return [
        pdf.iloc[:, i].to_numpy(np.int64) for i in range(len(cols))
    ]


def _symmetric(edges, src, dst, *carry):
    """Both directions of every edge, for a driver kernel and for the
    distributed path should it refuse: ``(rows, columns, sym, end)``.
    ``columns()`` returns the (s, d, *carry) int64 arrays, or None when
    ``_local_columns`` refuses them; ``end`` is the symmetrized id
    field, as Spark's union derives it (the endpoints' type, nullable
    when either is).

    An uncarried edge list goes through ``_undirected``: ``sym`` is
    its checkpointed frame and ``rows`` the count its job observed.
    An edge list that carries integer ``src`` / ``dst`` columns of one
    type (``_local_frame``) hands its arrays over instead: ``rows`` is
    twice its length, ``columns()`` concatenates both directions
    without Spark, and ``sym`` is None, so a kernel that refuses it
    leaves the caller to run ``_undirected``."""
    held = _local_frame.columns(edges)
    if not carry and src in held and dst in held:
        fa, fb = edges.schema[src], edges.schema[dst]
        if isinstance(fa.dataType, IntegralType) and (
            fa.dataType == fb.dataType
        ):
            a, b = held[src], held[dst]
            return (
                2 * len(a),
                lambda: [
                    np.concatenate([a, b]).astype(np.int64, copy=False),
                    np.concatenate([b, a]).astype(np.int64, copy=False),
                ],
                None,
                StructField("s", fa.dataType, fa.nullable or fb.nullable),
            )
    sym, rows = _undirected(edges, src, dst, *carry)
    return (
        rows,
        lambda: _local_columns(sym, *sym.columns),
        sym,
        sym.schema["s"],
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve undirected edges into components.

    Returns (vertex, component) where component is the minimum
    vertex id reachable from ``vertex``. Vertices are whatever ids
    appear in the edge list; isolated vertices (no edges) are the
    caller's concern — they are their own component trivially.

    Iterative min-label propagation: every vertex starts labeled
    with itself; each round, every vertex takes the minimum label in
    its closed neighborhood; fixpoint = components labeled by their
    minimum vertex id. Rounds needed = graph diameter, and near-dup
    graphs are shallow (clusters, not paths), so convergence is fast
    in practice; ``max_iter`` bounds the pathological chain.

    Convergence is detected from a CHECKSUM probe — two
    independently-seeded xxhash64 label sums in one scalar
    aggregate — not an expensive frame-vs-frame anti-join. The probe
    is type-agnostic (numeric AND string vertex ids). It is a
    checksum, not a proof: a cross-round collision (BOTH hash sums
    equal while labels changed, ~2^-128) would terminate a round
    early with unmerged components — negligible but nonzero, stated
    honestly (a count(distinct) alternative was measured to cost an
    extra shuffle per fixpoint round: ~0.9s/query, r7 bench).
    """
    sym, _ = _undirected(edges, src, dst, s="a", d="b")
    labels = (
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint()
    )

    def step(labels):
        msgs = sym.join(
            labels, sym.a == labels.vertex
        ).select(F.col("b").alias("vertex"), "component")
        return (
            labels.unionByName(msgs)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )

    def probe(labels):
        # Type-agnostic: sum of xxhash64(component) works for numeric
        # AND string vertex ids (entity resolution components are
        # canonical NAMES). DECIMAL(38,0) accumulation: xxhash64 is
        # uniform over ±2^63, a BIGINT sum overflows almost surely
        # and the driver's ANSI-on session makes that a hard
        # ARITHMETIC_OVERFLOW (CLAUDE.md rule 11). The second,
        # independently-seeded sum (xxhash64 of (component, 1))
        # rides the same aggregate pass, so a terminating collision
        # must hit both (~2^-128) at no extra shuffle.
        return tuple(
            labels.agg(
                F.sum(
                    F.xxhash64("component").cast("decimal(38,0)")
                ).alias("s"),
                F.sum(
                    F.xxhash64("component", F.lit(1)).cast(
                        "decimal(38,0)"
                    )
                ).alias("s2"),
            ).collect()[0]
        )

    return _iterate(labels, step, max_iter, every=1, probe=probe)


def _edge_checksum(edges: DataFrame) -> tuple:
    """Order-independent fingerprint of an edge set: (count,
    sum(xxhash64(u,v))). One tiny scalar row per round — the same
    cheap-convergence idea as connected_components' sum(label).

    The hash sum accumulates in DECIMAL(38,0): xxhash64 values are
    uniform over ±2^63, so a BIGINT sum overflows almost surely
    beyond a handful of edges — silently wrapping under ANSI-off,
    but a hard ARITHMETIC_OVERFLOW under the driver's default
    ANSI-on session (the round-3 red row; CLAUDE.md rule 11)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64("u", "v").cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — same (vertex, component) contract as
    ``connected_components``, converging in O(log² n) rounds
    instead of O(diameter).

    Min-label propagation is the right default for near-dup graphs
    (tiny diameters) and stays the oracle; this is the escape for
    adversarial diameters (chains, lattices) where O(diameter)
    rounds of joins would dominate.

    Each operation is explode-free and HOF-lambda-free (CLAUDE.md
    rule 10): a symmetrize/orient, a per-vertex min aggregate, and
    an equi-join back — all shuffling on vertex id.

    - large-star: every vertex u links each strictly-larger
      neighbor to m = min(Γ(u) ∪ {u});
    - small-star: orient edges large→small; every vertex u links
      its smaller neighbors and itself to m = min(Γ(u)).

    Both preserve connectivity and strictly shrink the potential
    function; the fixpoint is a star forest rooted at component
    minima. Convergence is detected from an order-independent edge
    checksum (count + sum of xxhash64), matching the scalar-probe
    pattern of the min-label variant.
    """
    # Self-loop-free undirected edge set, canonicalized u < v.
    base = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    all_vertices = (
        base.select(F.col("u").alias("vertex"))
        .unionByName(base.select(F.col("v").alias("vertex")))
        .distinct()
        .localCheckpoint()
    )

    def step(e):
        # --- large-star ---------------------------------------
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("__mv"))
        m = F.least(F.col("u"), F.col("__mv"))
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star ---------------------------------------
        oriented = e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("__m"))
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .unionByName(
                mins.select(
                    F.col("u"), F.col("__m").alias("v")
                )
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    e = _iterate(
        base.localCheckpoint(), step, max_iter, every=1,
        probe=_edge_checksum,
    )
    # Fixpoint edges point every non-root vertex at its component
    # minimum; roots (the minima) carry no outgoing edge.
    pointed = e.select(
        F.col("u").alias("vertex"), F.col("v").alias("component")
    )
    return (
        all_vertices.join(pointed, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", "vertex").alias("component"),
        )
    )


def radius_edges_grid2d(
    nodes: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: float,
) -> DataFrame:
    """Exact radius graph: every undirected edge (id_a < id_b) whose
    euclidean distance is <= ``radius`` — built scale-safely via
    grid bucketing, never an all-pairs cross join.

    This is the graph-construction analogue of the reference's
    ``carga_comunas_gnn`` import (ingestion.py:8,63 — the module is
    absent from the snapshot; SURVEY treats its contract as
    inferred): turn a table of georeferenced units into the
    node/edge tables a GNN consumer loads.

    Algorithm (exact): hash both sides to square cells of width
    ``radius``. Any pair within ``radius`` differs by at most one
    cell per axis, so probing each point's own + 8 neighbor cells
    finds every qualifying pair. Probe side explodes 9x (cell id
    arithmetic only — coordinates ride along, no media/payload
    columns), build side stays in its own cell, and the pair space
    is a shuffle equi-join on cell id. A pair is discovered from
    both endpoints' probes; a per-pair ``min(dist)`` aggregate
    collapses it.

    Duplicate ids: an id held by several rows is one vertex at each of
    its points. A pair (id_a, id_b) is an edge when any two of their
    points lie within ``radius``, and its ``dist`` is the smallest such
    distance, whatever the partitioning (an id never pairs with
    itself).

    Scale notes: the 9x explode is pre-repartitioned (AQE cannot
    see row expansion in input shuffle bytes — CLAUDE.md rule 3);
    per-cell population bounds the join fan-out, so degenerate
    clustering (everything in one cell) degrades toward the dense
    O(n_cell²) that a radius graph genuinely has there. Output
    carries (id_a, id_b, dist) only.

    Small point sets take ``_radius_edges_local`` instead: one
    bounded collect and the same grid join in numpy, without
    building the plan below (module docstring).
    """
    pts = nodes.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    local = _radius_edges_local(pts, radius)
    if local is not None:
        return local
    par = nodes.sparkSession.sparkContext.defaultParallelism
    w = float(radius) if radius > 0 else 1.0
    cell = pts.withColumns(
        {
            "__cx": F.floor(F.col("__x") / F.lit(w)),
            "__cy": F.floor(F.col("__y") / F.lit(w)),
        }
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probe = (
        cell.repartition(par)
        .withColumn(
            "__probe",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("__cx") + F.lit(dx)).alias("cx"),
                            (F.col("__cy") + F.lit(dy)).alias("cy"),
                        )
                        for dx, dy in offsets
                    ]
                )
            ),
        )
        .select(
            F.col("__id").alias("id_a"),
            F.col("__x").alias("xa"),
            F.col("__y").alias("ya"),
            F.col("__probe.cx").alias("__cx"),
            F.col("__probe.cy").alias("__cy"),
        )
    )
    build = cell.select(
        F.col("__id").alias("id_b"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        "__cx",
        "__cy",
    )
    dist = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    )
    return (
        probe.join(build, ["__cx", "__cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(float(radius)))
        .groupBy("id_a", "id_b")
        .agg(F.min("dist").alias("dist"))
    )


def _radius_edges_local(pts, radius):
    """radius_edges_grid2d's grid join in float64 / int64 numpy over
    the (__id, __x, __y) frame ``pts``: the (id_a, id_b, dist) frame,
    or None when ``pts`` holds more than ``_LOCAL_MAX_POINTS`` rows, a
    null, duplicate or non-integral id, a null or non-finite
    coordinate, or a cell index of magnitude >= 2^53, when ``radius``
    is not finite, or when the grid join would generate more than
    ``_LOCAL_MAX_EDGES`` candidate rows. The one collect is
    ``limit``ed, so it is its own size gate.

    The kernel replays the distributed candidate generation: the same
    cells ``floor(x / w)`` (Java and numpy divide and floor doubles
    alike, and under 2^53 the int64 cell is exact), the same 9 probe
    cells, ``id_a < id_b``, and ``dist`` as ``sqrt`` of the same
    products and sum in the same order. Java fuses none of these
    operations and ``np.sqrt`` is correctly rounded, so every ``dist``
    is bit-identical and ``dist <= radius`` keeps the same pairs (the
    weighted-sssp query's ``round(dist * 100)`` weights rely on that).
    With unique ids each pair meets once, so the per-pair ``min`` has
    nothing to fold. The candidate count, Σ over cells of population
    × the population of its 9 probe cells (the join's rows), is known
    before any pair exists, which bounds the kernel's memory.

    The fields come from ``pts``' schema, as the distributed plan
    derives them: the ids keep the input id field, and ``dist`` is
    nullable (Spark's ``sqrt`` always is).
    """
    radius = float(radius)
    fid = pts.schema.fields[0]
    if not np.isfinite(radius) or not isinstance(
        fid.dataType, IntegralType
    ):
        return None
    tbl = pts.limit(_LOCAL_MAX_POINTS + 1).toArrow()
    if tbl.num_rows > _LOCAL_MAX_POINTS or any(
        c.null_count for c in tbl.columns
    ):
        return None
    ids, x, y = (c.to_numpy() for c in tbl.columns)
    w = radius if radius > 0 else 1.0
    cx, cy = np.floor(x / w), np.floor(y / w)
    # false for a NaN or infinite coordinate too
    exact = (np.abs(cx) < 2.0**53) & (np.abs(cy) < 2.0**53)
    if not exact.all() or len(np.unique(ids)) < len(ids):
        return None
    cx, cy = cx.astype(np.int64), cy.astype(np.int64)
    # a dense key per cell: ranks among every probed cell coordinate
    ux = np.unique(np.concatenate([cx - 1, cx, cx + 1]))
    uy = np.unique(np.concatenate([cy - 1, cy, cy + 1]))
    key = np.searchsorted(ux, cx) * len(uy) + np.searchsorted(uy, cy)
    order = np.argsort(key, kind="stable")
    cells, start, pop = np.unique(
        key[order], return_index=True, return_counts=True
    )
    ccx, ccy = cx[order[start]], cy[order[start]]
    a_cell, b_cell = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nk = np.searchsorted(ux, ccx + dx) * len(uy)
            nk += np.searchsorted(uy, ccy + dy)
            j = np.searchsorted(cells, nk).clip(max=len(cells) - 1)
            hit = np.flatnonzero(cells[j] == nk)
            a_cell.append(hit)
            b_cell.append(j[hit])
    a_cell, b_cell = np.concatenate(a_cell), np.concatenate(b_cell)
    tot = pop[a_cell] * pop[b_cell]
    if tot.sum() > _LOCAL_MAX_EDGES:
        return None
    # every (point of a cell, point of a probed cell) pair, cell pair
    # by cell pair
    pair = np.repeat(np.arange(len(tot)), tot)
    k = np.arange(len(pair)) - np.repeat(np.cumsum(tot) - tot, tot)
    nb = pop[b_cell][pair]
    pa = order[start[a_cell][pair] + k // nb]
    pb = order[start[b_cell][pair] + k % nb]
    keep = ids[pa] < ids[pb]
    pa, pb = pa[keep], pb[keep]
    ex, ey = x[pa] - x[pb], y[pa] - y[pb]
    dist = np.sqrt(ex * ex + ey * ey)
    keep = dist <= radius
    pa, pb, dist = pa[keep], pb[keep], dist[keep]
    return _local_frame.make(
        pts.sparkSession,
        [
            StructField("id_a", fid.dataType, fid.nullable),
            StructField("id_b", fid.dataType, fid.nullable),
            StructField("dist", DoubleType()),
        ],
        [ids[pa], ids[pb], dist],
    )


def node_degrees(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Undirected degree per vertex from an (id_a, id_b) edge list —
    the node-feature side of the GNN graph-table contract. One
    union + one count aggregate; shuffles vertex ids only."""
    return (
        edges.select(F.col(src).alias("vertex"))
        .unionByName(edges.select(F.col(dst).alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    scale: int = 10**12,
    symmetrize: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank with damping 0.85, computed in EXACT
    integer arithmetic: (vertex, rank_scaled, rank) where
    rank_scaled is the rank × ``scale`` as BIGINT and rank is the
    derived double.

    Why integers: distributed PageRank sums per-vertex double
    contributions in shuffle order — irreproducible across
    partitionings and engines. Here ranks live on a 1/scale grid:

        contrib(u→v)  = (85 · r_u) div (100 · outdeg_u)
        teleport      = (15 · scale) div (100 · n)
        dangling      = (Σ_dangling (85 · r_u) div 100) div n
        r_v'          = teleport + dangling + Σ contrib(u→v)

    Every operation is BIGINT multiply / floor-divide / sum —
    associative and bit-identical in any engine (Spark ``div`` and
    DuckDB ``//`` agree on non-negatives), so a DuckDB replica with
    the iterations unrolled as chained CTEs matches bit-for-bit.
    With scale = 1e12 and Σr ≈ scale, intermediates stay ≤ ~1e14 —
    orders of magnitude under 2^63 even for extreme hub nodes.

    Scale shape: each iteration is one equi-join of the edge list
    with the rank frame on src (AQE reuses the partitioning — same
    key every round) + one partial-aggregated groupBy(dst); the
    dangling mass is a 1-row broadcast, never a collect. Total work
    O(iterations · |E|) with no global sort anywhere. Small graphs
    take ``_pagerank_local`` instead (module docstring).
    """
    # ``symmetrize`` (default True) treats the edge list as
    # UNDIRECTED — each input edge contributes both directions,
    # matching the radius-graph use case where (id_a, id_b) is a
    # canonicalized undirected pair. Pass False for a genuinely
    # directed graph (src -> dst only). The kernel takes a carried
    # edge list's arrays without Spark (the module docstring's
    # handoff). Otherwise, or once the kernel refuses, the edge list
    # and degree table are materialized ONCE: they feed every
    # iteration.
    if symmetrize:
        rows, columns, dedges, _ = _symmetric(edges, src, dst)
    else:
        dedges, rows = _checkpoint(
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        )
        columns = partial(_local_columns, dedges, "s", "d")
    ranks = _pagerank_local(
        nodes, rows, columns, id_col, iterations, scale
    )
    if ranks is not None:
        return _ranked(ranks, scale)
    if dedges is None:
        dedges, _ = _undirected(edges, src, dst)
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank over an empty node set")
    outdeg = dedges.groupBy("s").agg(
        F.count(F.lit(1)).alias("od")
    ).localCheckpoint()
    teleport = (15 * scale) // (100 * n)
    vertices = nodes.select(
        F.col(id_col).alias("vertex")
    ).localCheckpoint()
    ranks = vertices.withColumn(
        "rank", F.lit(scale // n).cast("bigint")
    ).localCheckpoint()

    def step(ranks):
        with_od = ranks.join(
            outdeg, ranks.vertex == outdeg.s, "left"
        )
        dangling = with_od.filter(F.col("od").isNull()).agg(
            F.coalesce(
                F.sum(F.expr("(85 * rank) div 100")), F.lit(0)
            ).alias("dm")
        )
        contribs = (
            dedges.join(ranks, dedges.s == ranks.vertex)
            .join(outdeg, "s")
            .groupBy("d")
            .agg(
                F.sum(
                    F.expr("(85 * rank) div (100 * od)")
                ).alias("contrib")
            )
        )
        return (
            vertices
            .join(
                contribs,
                F.col("vertex") == F.col("d"),
                "left",
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "vertex",
                (
                    F.lit(teleport)
                    + F.expr("dm div " + str(n))
                    + F.coalesce(F.col("contrib"), F.lit(0))
                )
                .cast("bigint")
                .alias("rank"),
            )
        )

    return _ranked(_iterate(ranks, step, iterations), scale)


def _ranked(ranks, scale):
    """pagerank's output columns from a (vertex, rank) frame."""
    return ranks.select(
        "vertex",
        F.col("rank").alias("rank_scaled"),
        (F.col("rank").cast("double") / F.lit(float(scale))).alias(
            "rank"
        ),
    )


def _pagerank_local(nodes, rows, columns, id_col, iterations, scale):
    """pagerank's rounds in int64 numpy: the (vertex, rank) frame, or
    None when the ``rows`` directed edges are over the bound, the node
    ids are empty, null or duplicated, ``85 · scale`` reaches 2^63, or
    ``columns()`` (the (s, d) arrays) refuses. The node ids are
    collected and checked before the edges, so no fallback pays for
    an edge collect.

    The formulas are the docstring's, term for term; ``//`` on
    non-negative int64 is Spark's ``div``. int64 is exact under the
    scale guard: Σr₀ = n·(scale div n) ≤ scale, and a round keeps
    Σr' ≤ 0.15·scale + 0.85·Σr (teleport ≤ 0.15·scale/n per vertex;
    the dangling share and the contributions pass on at most 0.85 of
    each rank, edges into vertices outside ``nodes`` drop theirs), so
    every rank stays ≤ scale and the largest intermediate, 85·r_u,
    stays < 2^63. Above the guard the distributed path keeps Spark's
    overflow semantics (an error under ANSI).

    As on the distributed path, out-degree counts every edge leaving
    a vertex (also self-loops, duplicates and edges into vertices
    outside ``nodes``), and edges whose source is not a vertex carry
    no rank.
    """
    if 85 * scale >= 1 << 63 or rows > _LOCAL_MAX_EDGES:
        return None
    vertex = nodes.select(F.col(id_col).alias("vertex"))
    vs = _local_columns(vertex, "vertex")
    if vs is None or not len(vs[0]) or len(np.unique(vs[0])) < len(vs[0]):
        return None
    es = columns()
    if es is None:
        return None
    (v,), (s, d) = vs, es
    n = len(v)
    order = np.argsort(v)
    sv = v[order]

    def pos(x):
        # index of each id of ``x`` in ``v``, -1 when absent
        i = order[np.searchsorted(sv, x).clip(max=n - 1)]
        return np.where(v[i] == x, i, -1)

    si, di = pos(s), pos(d)
    od = np.bincount(si[si >= 0], minlength=n)
    live = (si >= 0) & (di >= 0)
    us, ud = si[live], di[live]
    den = 100 * od[us]
    dangling = od == 0
    teleport = (15 * scale) // (100 * n)
    r = np.full(n, scale // n, dtype=np.int64)
    for _ in range(iterations):
        dm = ((85 * r[dangling]) // 100).sum()
        contrib = np.zeros(n, dtype=np.int64)
        np.add.at(contrib, ud, (85 * r[us]) // den)
        r = teleport + dm // n + contrib
    # the distributed rank is its non-null starting literal until a
    # round's ``div`` makes it nullable
    return _local_frame.make(
        nodes.sparkSession,
        [vertex.schema[0], StructField("rank", LongType(), iterations > 0)],
        [v, r],
    )


def _dec_floordiv(num, den):
    """Exact floor division of two non-negative DECIMAL(38,0)
    columns: ``(num - num % den) / den``. The subtraction makes the
    quotient an exact integer, so Spark's HALF_UP rounding of the
    decimal division is a no-op and the result matches DuckDB's
    HUGEINT ``//`` bit-for-bit (characterized over random 24-digit
    numerators in tests/test_graph_hits.py)."""
    return (
        (num - F.pmod(num, den)) / den
    ).cast("decimal(38,0)")


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Kleinberg HITS (hubs & authorities) over a DIRECTED edge
    list, computed in EXACT integer arithmetic on a 1/``scale``
    grid: returns (vertex, authority_scaled, hub_scaled, authority,
    hub).

    Per iteration (L1 normalization — scores sum to ~``scale``,
    floor loss aside, which keeps every intermediate bounded and
    the arithmetic engine-portable):

        a_raw(v) = Σ_{(u,v)∈E} h(u)          -- DECIMAL(38,0) sum
        a(v)     = (scale · a_raw(v)) // Σ a_raw
        h_raw(u) = Σ_{(u,v)∈E} a(v)
        h(u)     = (scale · h_raw(u)) // Σ h_raw

    Why integers: like pagerank above, double contributions sum in
    shuffle order; on the integer grid every step is an associative
    DECIMAL(38,0) multiply/floor-div/sum, bit-identical in the
    unrolled-CTE DuckDB replica (HUGEINT ``//``). Bounds: after
    normalization each score ≤ scale = 1e12, so a_raw ≤ 1e12·outdeg
    and scale·a_raw ≤ ~1e30 « 10^38; BIGINT would overflow at high
    degree, hence DECIMAL accumulation throughout (rule 11).

    Scale shape: each half-iteration is one equi-join of the edge
    list with the score frame + one partial-aggregated groupBy; the
    normalizing total is a 1-row broadcast crossJoin, never a
    collect. O(iterations · |E|), no global sort.

    Empty-graph semantics: a zero (or absent) normalizing total —
    no edges at all, or all remaining mass stranded on sink nodes —
    yields all-zero scores for that side (guarded BEFORE the
    floor-div: ANSI would otherwise raise DIVIDE_BY_ZERO), matching
    the oracle's ``COALESCE(x // NULLIF(t, 0), 0)``. The sf0.001
    supplier radius graph is exactly this case (10 nodes, no pair
    within radius)."""
    dedges = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint()
    n = nodes.count()
    if n == 0:
        raise ValueError("hits over an empty node set")
    vertices = nodes.select(
        F.col(id_col).alias("vertex")
    ).localCheckpoint()
    dec = "decimal(38,0)"
    # Degree tables, once: the normalizing totals below derive from
    # them instead of re-aggregating the edge-score join a second
    # time per half-iteration —
    #   Σ_v a_raw(v) = Σ_{(u,v)∈E} h(u) = Σ_u h(u)·outdeg(u)
    # (and symmetrically for hubs with indeg), an EXACT integer
    # identity, so the DECIMAL(38,0) totals are bit-identical to
    # the oracle's SUM(raw) while the per-iteration plan drops one
    # whole edge-join branch (the old ta/th broadcasts re-evaluated
    # araw/hraw; measured 87 driver jobs -> fewer stages, and at
    # scale it halves the edge passes of each half-iteration).
    # Bound: h(u)·outdeg ≤ 1e12·|E| ≪ 10^38.
    outdeg = dedges.groupBy("s").agg(
        F.count(F.lit(1)).cast(dec).alias("od")
    ).localCheckpoint()
    indeg = dedges.groupBy("d").agg(
        F.count(F.lit(1)).cast(dec).alias("idg")
    ).localCheckpoint()
    hub = vertices.withColumn(
        "score", F.lit(scale // n).cast(dec)
    ).localCheckpoint()
    auth = None
    scale_lit = F.lit(scale).cast(dec)
    for it in range(iterations):
        araw = (
            dedges.join(hub, dedges.s == hub.vertex)
            .groupBy("d")
            .agg(F.sum("score").alias("raw"))
        )
        ta = (
            hub.join(outdeg, hub.vertex == outdeg.s)
            .agg(
                F.sum(
                    (F.col("score") * F.col("od")).cast(dec)
                ).alias("t")
            )
        )
        auth = (
            vertices.join(
                araw, F.col("vertex") == F.col("d"), "left"
            )
            .crossJoin(F.broadcast(ta))
            .select(
                "vertex",
                F.when(
                    F.col("t").isNull() | (F.col("t") == 0),
                    F.lit(0).cast(dec),
                )
                .otherwise(
                    _dec_floordiv(
                        scale_lit
                        * F.coalesce(
                            F.col("raw"), F.lit(0).cast(dec)
                        ),
                        F.col("t"),
                    )
                )
                .alias("score"),
            )
        )
        hraw = (
            dedges.join(auth, dedges.d == auth.vertex)
            .groupBy("s")
            .agg(F.sum("score").alias("raw"))
        )
        th = (
            auth.join(indeg, auth.vertex == indeg.d)
            .agg(
                F.sum(
                    (F.col("score") * F.col("idg")).cast(dec)
                ).alias("t")
            )
        )
        hub = (
            vertices.join(
                hraw, F.col("vertex") == F.col("s"), "left"
            )
            .crossJoin(F.broadcast(th))
            .select(
                "vertex",
                F.when(
                    F.col("t").isNull() | (F.col("t") == 0),
                    F.lit(0).cast(dec),
                )
                .otherwise(
                    _dec_floordiv(
                        scale_lit
                        * F.coalesce(
                            F.col("raw"), F.lit(0).cast(dec)
                        ),
                        F.col("t"),
                    )
                )
                .alias("score"),
            )
        )
        # Not ``_iterate``: the state is two frames. Mid-loop,
        # checkpointing HUB alone (every other round, _iterate's
        # cadence) truncates the whole lineage, since auth feeds hub
        # within the iteration; auth is materialized only at the
        # end, where the final select needs both frames. Each
        # skipped checkpoint is one saved job.
        if it == iterations - 1:
            auth = auth.localCheckpoint()
            hub = hub.localCheckpoint()
        elif (it + 1) % 2 == 0:
            hub = hub.localCheckpoint()
    return (
        auth.select(
            "vertex", F.col("score").alias("a_score")
        )
        .join(
            hub.select(
                "vertex", F.col("score").alias("h_score")
            ),
            "vertex",
        )
        .select(
            "vertex",
            F.col("a_score").cast("bigint").alias(
                "authority_scaled"
            ),
            F.col("h_score").cast("bigint").alias("hub_scaled"),
            (
                F.col("a_score").cast("double")
                / F.lit(float(scale))
            ).alias("authority"),
            (
                F.col("h_score").cast("double")
                / F.lit(float(scale))
            ).alias("hub"),
        )
    )


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient
    over an undirected (src < dst, deduplicated) edge list — the
    neighborhood-density node feature of the GNN graph-table
    contract (reference carga_comunas_gnn, inferred; see
    spatial_adjacency_graph).

    Algorithm (degree-oriented wedge join — the standard
    communication-optimal formulation): orient every undirected
    edge from its lower-(degree, id) endpoint to the higher one.
    Each triangle then has exactly ONE vertex with two outgoing
    oriented edges (its minimum-rank vertex), so enumerating
    wedges at oriented sources and closing them against the
    oriented edge list discovers every triangle exactly once, and
    total wedge work is bounded by O(m^1.5) regardless of degree
    skew — a plain (join on shared neighbor) wedge join is
    O(sum deg^2), which a single celebrity vertex turns quadratic.

    Shuffle shape: degree aggregate, two degree-attach joins, one
    wedge self-join on the oriented source, one closing equi-join
    on the (t1, t2) pair, one per-vertex count — all key-hash
    equi-joins, no cross join, no window. Output: (vertex, degree,
    triangles, clustering_coeff) for every vertex in the edge
    list; coefficient = 2T / (d(d-1)) as an exact integer ratio in
    IEEE double (identical across engines), 0.0 for d < 2.
    """
    # Materialize the edge list and the degree table: ``e`` feeds
    # the degree aggregate plus both degree-attach joins, and the
    # caller's edge pipeline is typically a non-trivial spatial /
    # candidate join (the registered query builds a grid-bucketed
    # radius self-join) — without truncation the FINAL plan embeds
    # that pipeline once per reference (measured at sf0.1: 188
    # parquet-scan leaves, a 1,058-node plan, and ~1.8s of pure
    # driver planning between jobs; rule 12). Both frames are 2-3
    # integer columns per row.
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    deg = node_degrees(e, "u", "v").localCheckpoint(eager=False)
    du = deg.select(
        F.col("vertex").alias("u"), F.col("degree").alias("du")
    )
    dv = deg.select(
        F.col("vertex").alias("v"), F.col("degree").alias("dv")
    )
    ranked = e.join(du, "u").join(dv, "v")
    # rank(x) = (degree, id): a strict total order (ids unique).
    fwd = F.struct(F.col("du"), F.col("u")) < F.struct(
        F.col("dv"), F.col("v")
    )
    # ``oriented`` feeds three branches (both wedge sides + the
    # closing edge list); checkpoint so the two degree-attach joins
    # above run once, not three times (same rule-12 call as ``e``).
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).localCheckpoint(eager=False)
    # Wedges at each oriented source: unordered {t1, t2} pairs,
    # emitted with rank(t1) < rank(t2) so the closing edge (t1 ->
    # t2) is exactly how `oriented` stores it.
    o1 = oriented.select(
        "s", F.col("t").alias("t1"), F.col("dt").alias("dt1")
    )
    o2 = oriented.select(
        "s", F.col("t").alias("t2"), F.col("dt").alias("dt2")
    )
    wedges = o1.join(o2, "s").filter(
        F.struct(F.col("dt1"), F.col("t1"))
        < F.struct(F.col("dt2"), F.col("t2"))
    )
    closing = oriented.select(
        F.col("s").alias("t1"), F.col("t").alias("t2")
    )
    tri = wedges.join(closing, ["t1", "t2"]).select("s", "t1", "t2")
    per_vertex = (
        tri.select(F.col("s").alias("vertex"))
        .unionByName(tri.select(F.col("t1").alias("vertex")))
        .unionByName(tri.select(F.col("t2").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    d = F.col("degree")
    t = F.col("triangles")
    return (
        deg.join(per_vertex, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce(t, F.lit(0)).cast("bigint").alias("triangles"),
        )
        .select(
            "vertex",
            "degree",
            "triangles",
            F.when(
                d >= 2,
                (t * 2).cast("double")
                / (d.cast("double") * (d - F.lit(1))),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def _min_plus(
    nodes, edges, source_cond, id_col, src, dst, max_iter, out, wt=None
):
    """The shared body of bfs_hop_distances and
    weighted_shortest_paths: multi-source min-plus relaxation where
    each edge adds 1, or its BIGINT weight ``wt`` when given,
    returning (vertex, ``out``) with -1 for unreached vertices.

    Each round is one frontier equi-join + one min-aggregate, both
    shuffling on vertex id. Distances only ever decrease, so
    (count(non-null), Σdist) is a fixpoint probe: early exit changes
    nothing vs running all ``max_iter`` rounds, which keeps the
    fixed-unroll DuckDB oracle bit-identical. The probe sum rides
    DECIMAL(38,0): Σ(path weights) has no provable 2^63 bound
    (rule 11). Small graphs take ``_min_plus_local`` instead (module
    docstring).
    """
    carry = [F.col(wt).cast("bigint").alias("w")] if wt else []
    inc = F.col("w") if wt else F.lit(1)
    rows, columns, sym, end = _symmetric(edges, src, dst, *carry)
    dist0 = nodes.select(
        F.col(id_col).alias("vertex"),
        F.when(source_cond, F.lit(0).cast("bigint")).alias("dist"),
    )

    def step(dist):
        msgs = sym.join(
            dist.filter(F.col("dist").isNotNull()),
            sym.s == F.col("vertex"),
        ).select(
            F.col("d").alias("vertex"),
            (F.col("dist") + inc).alias("dist"),
        )
        return (
            dist.unionByName(msgs)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )

    def probe(dist):
        return tuple(
            dist.agg(
                F.count("dist").alias("n"),
                F.sum(
                    F.col("dist").cast("decimal(38,0)")
                ).alias("s"),
            ).collect()[0]
        )

    def result(dist):
        return dist.select(
            "vertex",
            F.coalesce(F.col("dist"), F.lit(-1).cast("bigint")).alias(
                out
            ),
        )

    local = _min_plus_local(dist0, rows, columns, max_iter)
    if local is not None:
        # the distributed output's fields: ``vertex`` is the union of
        # the node and the edge ids (the node ids alone when no round
        # runs), ``out`` the coalesced distance
        ids = [dist0.schema["vertex"], *([end] if max_iter > 0 else [])]
        if all(f.dataType == ids[0].dataType for f in ids):
            fields = [
                StructField(
                    "vertex",
                    ids[0].dataType,
                    any(f.nullable for f in ids),
                ),
                StructField(out, LongType(), False),
            ]
        else:
            # the union widens differing id types: analysed, not run
            if sym is None:
                sym, _ = _undirected(edges, src, dst, *carry)
            fields = result(step(dist0)).schema.fields
        return _local_frame.make(nodes.sparkSession, fields, local)
    if sym is None:
        sym, _ = _undirected(edges, src, dst, *carry)
    return result(
        _iterate(dist0.localCheckpoint(), step, max_iter, probe=probe)
    )


def _min_plus_local(dist0, rows, columns, max_iter):
    """_min_plus's rounds in int64 numpy: (vertex ids, distances with
    -1 for unreached), or None when the ``rows`` edges are over the
    bound, the node ids are null or duplicated, ``columns()`` (the
    (s, d[, w]) arrays; unit weights without w) refuses, or ``max|w| ·
    (max_iter + 1)`` reaches 2^63 (a distance after t rounds is at
    most t·max|w| in magnitude, so under that guard int64 never wraps
    and no distance meets the int64-max "unreached" sentinel; above
    it the distributed path keeps Spark's overflow semantics). The
    weight guard needs the edge collect; every other fallback comes
    before it.

    A round relaxes every edge out of a reached vertex with
    ``np.minimum.at``; it stops early once a round changes nothing,
    which equals the full unroll because distances only fall. As in
    the distributed ``groupBy``, endpoints missing from ``nodes``
    that get reached are part of the output, and duplicate edges and
    self-loops relax like any other edge.
    """
    if rows > _LOCAL_MAX_EDGES:
        return None
    vs = _local_columns(
        dist0, "vertex", F.col("dist").isNotNull().cast("int")
    )
    if vs is None or len(np.unique(vs[0])) < len(vs[0]):
        return None
    v, seed = vs
    es = columns()
    if es is None:
        return None
    s, d = es[:2]
    w = es[2] if len(es) > 2 else np.ones(len(s), dtype=np.int64)
    big = max(int(w.max()), -int(w.min())) if len(w) else 0
    if big * (max_iter + 1) >= 1 << 63:
        return None
    ids = np.unique(np.concatenate([v, s, d]))
    si, di = np.searchsorted(ids, s), np.searchsorted(ids, d)
    unreached = np.iinfo(np.int64).max
    dist = np.full(len(ids), unreached, dtype=np.int64)
    dist[np.searchsorted(ids, v[seed == 1])] = 0
    for _ in range(max_iter):
        act = dist[si] != unreached
        nxt = dist.copy()
        np.minimum.at(nxt, di[act], dist[si[act]] + w[act])
        if np.array_equal(nxt, dist):
            break
        dist = nxt
    keep = dist != unreached
    keep[np.searchsorted(ids, v)] = True
    return ids[keep], np.where(dist == unreached, -1, dist)[keep]


def bfs_hop_distances(
    nodes: DataFrame,
    edges: DataFrame,
    source_cond,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """Multi-source unweighted BFS: (vertex, hops) where hops is
    the hop count to the NEAREST vertex satisfying ``source_cond``
    (a boolean Column over ``nodes``), or -1 if unreached within
    ``max_iter`` rounds — the "distance to nearest facility /
    seed" primitive (hops-from-labeled-seed features, blast-radius
    queries, coverage audits). Integer-exact and engine-replayable
    like pagerank.
    """
    return _min_plus(
        nodes, edges, source_cond, id_col, src, dst, max_iter, "hops"
    )


def weighted_shortest_paths(
    nodes: DataFrame,
    edges: DataFrame,
    source_cond,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    wt: str = "wt",
    max_iter: int = 10,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (distributed
    Bellman-Ford): (vertex, dist) where dist is the minimum total
    integer edge weight to any vertex satisfying ``source_cond``,
    or -1 if unreached within ``max_iter`` relaxation rounds — the
    weighted sibling of bfs_hop_distances (travel-cost-to-nearest-
    facility, weighted blast radius).

    Weights MUST be exact integers (quantize irrational costs once
    per rule 1b — sqrt distances are IEEE-correctly-rounded, so
    round(dist·10^k) is engine-portable).
    """
    return _min_plus(
        nodes, edges, source_cond, id_col, src, dst, max_iter, "dist",
        wt,
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    et al. 2007, deterministic variant): every vertex starts as its
    own label; each round it adopts the most frequent label among
    its neighbors, ties broken by SMALLEST label, keeping its
    current label when isolated. Runs a FIXED number of rounds —
    synchronous LPA can 2-cycle on bipartite structure, so unlike
    components/BFS there is no monotone fixpoint probe; the fixed
    unroll is also what makes the DuckDB oracle bit-identical.

    Finds dense communities inside connected graphs (components
    answers only reachability). Per round: one frontier equi-join +
    one (vertex, label) count + one argmax AGGREGATE —
    min(struct(-cnt, label)) gives the deterministic argmax with no
    window (rule 19: partial aggregation; never min_by, whose
    tie-break is arbitrary). All shuffles key on vertex id, so AQE
    reuses the partitioning.
    """
    sym, _ = _undirected(edges, src, dst)
    labels = nodes.select(
        F.col(id_col).alias("vertex"),
        F.col(id_col).cast("bigint").alias("label"),
    ).localCheckpoint()

    def step(labels):
        votes = (
            sym.join(
                labels, sym.s == F.col("vertex")
            )
            .groupBy(F.col("d").alias("v"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = (
            votes.groupBy("v")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg"),
                        F.col("label").alias("label"),
                    )
                ).alias("b")
            )
            .select("v", F.col("b.label").alias("new_label"))
        )
        return labels.join(
            best, labels.vertex == best.v, "left"
        ).select(
            "vertex",
            F.coalesce(F.col("new_label"), F.col("label")).alias(
                "label"
            ),
        )

    return _iterate(labels, step, rounds)


def kcore_membership(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every
    vertex has degree >= k INSIDE the subgraph (Seidman 1983) —
    the standard "dense backbone" filter (spam-ring cores,
    collaboration cores, robust near-dup clusters that survive
    removing weak members).

    Iterative peeling: drop vertices with current degree < k,
    recompute degrees on the induced subgraph, repeat to fixpoint.
    Each round is one semi-join (edges -> surviving endpoints,
    both sides) + one degree count — all keyed on vertex id. The
    survivor count is MONOTONE DECREASING, so it doubles as the
    fixpoint probe and early exit is bit-identical to a full
    unroll (unlike LPA there is no oscillation: peeling is
    confluent). Returns (vertex, degree) for k-core members with
    their within-core degree.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    rows, columns, sym, end = _symmetric(edges, src, dst)
    local = _kcore_local(rows, columns, k, max_iter)
    if local is not None:
        # the distributed output's fields: the symmetrized id, counted
        fields = [
            StructField("vertex", end.dataType, end.nullable),
            StructField("degree", LongType(), False),
        ]
        return _local_frame.make(edges.sparkSession, fields, local)
    if sym is None:
        sym, _ = _undirected(edges, src, dst)

    def step(live):
        deg = live.groupBy(F.col("s").alias("vertex")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        keep = deg.filter(F.col("degree") >= k).select("vertex")
        return (
            live.join(
                keep.withColumnRenamed("vertex", "s"), "s",
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("vertex", "d"), "d",
                "left_semi",
            )
        )

    live = _iterate(sym, step, max_iter, probe=DataFrame.count)
    return live.groupBy(F.col("s").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    ).filter(F.col("degree") >= k)


def _kcore_local(rows, columns, k, max_iter):
    """kcore_membership's peel in numpy over a live-edge mask: (vertex
    ids, within-core degrees), or None when the ``rows`` edges are over
    the bound or ``columns()`` (the (s, d) arrays) refuses. A round
    keeps the edges whose endpoints both have live degree >= k
    (``bincount`` over the live sources; the edge list is symmetric,
    so that is the degree). It stops early once a round removes
    nothing, which equals the full unroll because peeling only
    removes. Self-loops and duplicate edges count toward the degree as
    in Spark's ``count``."""
    if rows > _LOCAL_MAX_EDGES:
        return None
    es = columns()
    if es is None:
        return None
    ids, si = np.unique(es[0], return_inverse=True)
    di = np.searchsorted(ids, es[1])
    live = np.ones(len(si), dtype=bool)
    for _ in range(max_iter):
        keep = np.bincount(si[live], minlength=len(ids)) >= k
        nxt = live & keep[si] & keep[di]
        if np.array_equal(nxt, live):
            break
        live = nxt
    degree = np.bincount(si[live], minlength=len(ids))
    return ids[degree >= k], degree[degree >= k]
