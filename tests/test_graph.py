"""Connected-components operator tests: known topologies plus a
union-find cross-check on a pseudo-random graph (the operator is
oracle-less — this is its correctness pin)."""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from pyspark.sql import functions as F

from afg_data_pipeline_spark.operators import _local_frame, graph
from afg_data_pipeline_spark.operators.graph import connected_components
from tests.conftest import builder_jobs, kernel_frames


@pytest.fixture
def distributed(monkeypatch):
    """Route the radius graph, pagerank, bfs / weighted sssp and k-core
    through the distributed path: every fixture below holds at least
    one point, edge or node, so bounds of 0 send them all past the
    driver kernels."""
    monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "_LOCAL_MAX_POINTS", 0)


def _components_of(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df)
    return {r["vertex"]: r["component"] for r in out.collect()}


class TestConnectedComponents:
    def test_known_topologies(self, spark):
        # chain 1-2-3-4, triangle 10-11-12, pair 20-21
        edges = [
            (1, 2),
            (2, 3),
            (3, 4),
            (10, 11),
            (11, 12),
            (12, 10),
            (20, 21),
        ]
        got = _components_of(spark, edges)
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20,
        }

    def test_long_chain_converges(self, spark):
        n = 16  # diameter 15 < max_iter
        got = _components_of(spark, [(i, i + 1) for i in range(n)])
        assert set(got.values()) == {0}

    def test_matches_union_find_on_pseudorandom_graph(self, spark):
        # Seeded edge set via md5 — no RNG state, reproducible.
        n, edges = 60, []
        for i in range(120):
            h = hashlib.md5(f"edge|{i}".encode()).digest()
            a = int.from_bytes(h[:4], "big") % n
            b = int.from_bytes(h[4:8], "big") % n
            if a != b:
                edges.append((a, b))

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # Canonicalize union-find roots to min member id.
        members: dict[int, list[int]] = {}
        touched = {v for e in edges for v in e}
        for v in touched:
            members.setdefault(find(v), []).append(v)
        want = {
            v: min(group)
            for group in members.values()
            for v in group
        }
        assert _components_of(spark, edges) == want


class TestStarComponents:
    """Large-star/small-star vs the min-label oracle."""

    def _star(self, spark, edges, max_iter=30):
        from afg_data_pipeline_spark.operators.graph import (
            connected_components_star,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        out = connected_components_star(df, max_iter=max_iter)
        return {r["vertex"]: r["component"] for r in out.collect()}

    def test_agrees_with_min_label_on_pseudorandom_graph(self, spark):
        n, edges = 60, []
        for i in range(120):
            h = hashlib.md5(f"edge|{i}".encode()).digest()
            a = int.from_bytes(h[:4], "big") % n
            b = int.from_bytes(h[4:8], "big") % n
            if a != b:
                edges.append((a, b))
        assert self._star(spark, edges) == _components_of(spark, edges)

    def test_agrees_on_known_topologies(self, spark):
        edges = [
            (1, 2), (2, 3), (3, 4),
            (10, 11), (11, 12), (12, 10),
            (20, 21),
        ]
        assert self._star(spark, edges) == _components_of(spark, edges)

    def test_long_chain_needs_logarithmic_rounds(self, spark):
        # Diameter 255: min-label would need ~255 rounds; the star
        # alternation must resolve it within 10 — the adversarial-
        # diameter case this variant exists for.
        n = 256
        got = self._star(
            spark, [(i, i + 1) for i in range(n - 1)], max_iter=10
        )
        assert set(got.values()) == {0}
        assert len(got) == n


class TestRadiusEdges:
    def _brute(self, pts, radius):
        out = set()
        for i, (ida, xa, ya) in enumerate(pts):
            for idb, xb, yb in pts[i + 1 :]:
                d = ((xa - xb) ** 2 + (ya - yb) ** 2) ** 0.5
                if d <= radius:
                    a, b = sorted((ida, idb))
                    out.add((a, b))
        return out

    def test_matches_bruteforce_pseudorandom(self, spark):
        import hashlib

        pts = []
        for i in range(120):
            h = hashlib.md5(f"pt{i}".encode()).digest()
            pts.append(
                (i, h[0] / 255 * 100.0, h[1] / 255 * 100.0)
            )
        df = spark.createDataFrame(pts, "id long, x double, y double")
        from afg_data_pipeline_spark.operators.graph import (
            node_degrees,
            radius_edges_grid2d,
        )

        for radius in (5.0, 12.5, 40.0):
            got = {
                (r.id_a, r.id_b)
                for r in radius_edges_grid2d(
                    df, "id", "x", "y", radius
                ).collect()
            }
            assert got == self._brute(pts, radius), radius

        # degrees agree with the edge list
        edges = radius_edges_grid2d(df, "id", "x", "y", 12.5)
        deg = {
            r.vertex: r.degree for r in node_degrees(edges).collect()
        }
        brute = self._brute(pts, 12.5)
        from collections import Counter

        expect = Counter()
        for a, b in brute:
            expect[a] += 1
            expect[b] += 1
        assert deg == dict(expect)

    def test_boundary_pairs_cross_cells(self, spark):
        # two points straddling a cell boundary at distance exactly r
        df = spark.createDataFrame(
            [(1, 0.9, 0.0), (2, 1.1, 0.0), (3, 50.0, 50.0)],
            "id long, x double, y double",
        )
        from afg_data_pipeline_spark.operators.graph import (
            radius_edges_grid2d,
        )

        got = radius_edges_grid2d(df, "id", "x", "y", 1.0).collect()
        assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}
        assert abs(got[0].dist - 0.2) < 1e-12

    def test_no_cross_join_in_plan(self, spark):
        df = spark.createDataFrame(
            [(i, float(i), float(i)) for i in range(10)],
            "id long, x double, y double",
        )
        from afg_data_pipeline_spark.operators.graph import (
            radius_edges_grid2d,
        )

        plan = (
            radius_edges_grid2d(df, "id", "x", "y", 2.0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestPagerank:
    def _local_pagerank(self, n_nodes, edges, iters=10, scale=10**12):
        """Pure-python integer replica of operators/graph.pagerank."""
        from collections import defaultdict

        nodes = list(range(1, n_nodes + 1))
        n = len(nodes)
        dedges = edges + [(b, a) for a, b in edges]
        outdeg = defaultdict(int)
        for s, _ in dedges:
            outdeg[s] += 1
        rank = {v: scale // n for v in nodes}
        teleport = (15 * scale) // (100 * n)
        for _ in range(iters):
            dm = sum(
                (85 * rank[v]) // 100
                for v in nodes
                if outdeg[v] == 0
            )
            contrib = defaultdict(int)
            for s, d in dedges:
                contrib[d] += (85 * rank[s]) // (100 * outdeg[s])
            rank = {
                v: teleport + dm // n + contrib[v] for v in nodes
            }
        return rank

    def test_matches_integer_reference(self, spark):
        from afg_data_pipeline_spark.operators.graph import pagerank

        # path 1-2-3, 4 isolated (dangling)
        edges = [(1, 2), (2, 3)]
        nodes_df = spark.createDataFrame(
            [(i,) for i in range(1, 5)], "id long"
        )
        edges_df = spark.createDataFrame(
            edges, "src long, dst long"
        )
        got = {
            r.vertex: r.rank_scaled
            for r in pagerank(
                nodes_df, edges_df, iterations=10
            ).collect()
        }
        want = self._local_pagerank(4, edges)
        assert got == want
        # center of the path outranks the ends; dangling lowest
        assert got[2] > got[1] == got[3] > got[4]

    def test_mass_approximately_conserved(self, spark):
        from afg_data_pipeline_spark.operators.graph import pagerank

        edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
        nodes_df = spark.createDataFrame(
            [(i,) for i in range(1, 5)], "id long"
        )
        edges_df = spark.createDataFrame(
            edges, "src long, dst long"
        )
        out = pagerank(nodes_df, edges_df, iterations=5).collect()
        total = sum(r.rank_scaled for r in out)
        # floor-divisions only ever drop mass; bounded by a few
        # units per node per iteration
        assert 0.999 * 10**12 < total <= 10**12

    def test_empty_nodes_raise(self, spark):
        from afg_data_pipeline_spark.operators.graph import pagerank

        empty = spark.createDataFrame([], "id long")
        edges = spark.createDataFrame([], "src long, dst long")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            pagerank(empty, edges)


class TestAnsiProofConvergenceProbes:
    """Round-3 regression: the driver supplies its own Spark 4
    session where spark.sql.ansi.enabled defaults to TRUE, and a
    bare BIGINT sum of hash-valued/unbounded columns is a hard
    ARITHMETIC_OVERFLOW there (near_dup_components_star was the
    only red row in 129 queries). Both components variants must
    converge under ANSI-on with 64-bit hash-derived vertex ids —
    the exact overflow shape."""

    def _hash_edges(self, n=40):
        import hashlib

        edges = []
        for i in range(n):
            ha = hashlib.md5(f"va{i}".encode()).digest()
            hb = hashlib.md5(f"vb{i}".encode()).digest()
            # signed 64-bit ids spanning the full long range
            a = int.from_bytes(ha[:8], "big", signed=True)
            b = int.from_bytes(hb[:8], "big", signed=True)
            if a != b:
                edges.append((a, b))
        return edges

    def test_both_variants_under_ansi_on(self, spark):
        from afg_data_pipeline_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        edges = self._hash_edges()
        df = spark.createDataFrame(edges, "src long, dst long")
        old = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            a = {
                (r.vertex, r.component)
                for r in connected_components(df).collect()
            }
            b = {
                (r.vertex, r.component)
                for r in connected_components_star(df).collect()
            }
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)
        assert a == b
        assert len(a) == len({v for e in edges for v in e})


class TestPagerankSymmetrize:
    def test_directed_differs_from_undirected(self, spark):
        from afg_data_pipeline_spark.operators.graph import pagerank

        nodes = spark.createDataFrame(
            [(1,), (2,), (3,)], "id long"
        )
        # star INTO node 3: directed ranks concentrate on 3;
        # undirected symmetrization spreads mass back out.
        edges = spark.createDataFrame(
            [(1, 3), (2, 3)], "src long, dst long"
        )
        und = {
            r.vertex: r.rank_scaled
            for r in pagerank(nodes, edges, iterations=5).collect()
        }
        dire = {
            r.vertex: r.rank_scaled
            for r in pagerank(
                nodes, edges, iterations=5, symmetrize=False
            ).collect()
        }
        assert dire[3] > und[3]
        assert dire[1] == dire[2]
        # directed: 1 and 2 only get teleport+dangling mass
        assert dire[3] > dire[1]


class TestTriangleCounts:
    """Degree-oriented wedge-join triangle counting: known
    topologies plus an itertools brute-force cross-check on a
    seeded pseudorandom graph (the registered query additionally
    pins it against the DuckDB three-way-join oracle)."""

    def _run(self, spark, edges):
        from afg_data_pipeline_spark.operators.graph import (
            triangle_counts,
        )

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            r["vertex"]: (
                r["degree"],
                r["triangles"],
                r["clustering_coeff"],
            )
            for r in triangle_counts(df).collect()
        }

    def test_known_topologies(self, spark):
        # triangle 1-2-3, K4 on 10-13, chain 20-21-22 (no tri)
        edges = [
            (1, 2), (2, 3), (1, 3),
            (10, 11), (10, 12), (10, 13),
            (11, 12), (11, 13), (12, 13),
            (20, 21), (21, 22),
        ]
        got = self._run(spark, edges)
        assert got[1] == (2, 1, 1.0)
        assert got[2] == (2, 1, 1.0)
        assert got[3] == (2, 1, 1.0)
        # K4: every vertex has degree 3 and is in C(3,2)=3 tris.
        for v in (10, 11, 12, 13):
            assert got[v] == (3, 3, 1.0)
        assert got[20] == (1, 0, 0.0)
        assert got[21] == (2, 0, 0.0)
        assert got[22] == (1, 0, 0.0)

    def test_matches_bruteforce_pseudorandom(self, spark):
        import itertools

        n, eset = 40, set()
        for i in range(200):
            h = hashlib.md5(f"tri-edge|{i}".encode()).digest()
            a = int.from_bytes(h[:4], "big") % n
            b = int.from_bytes(h[4:8], "big") % n
            if a != b:
                eset.add((min(a, b), max(a, b)))
        edges = sorted(eset)
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want_tri = {v: 0 for v in adj}
        for a, b, c in itertools.combinations(sorted(adj), 3):
            if (
                b in adj[a] and c in adj[a] and c in adj[b]
            ):
                for v in (a, b, c):
                    want_tri[v] += 1
        got = self._run(spark, edges)
        assert set(got) == set(adj)
        for v in adj:
            d = len(adj[v])
            assert got[v][0] == d
            assert got[v][1] == want_tri[v]
            want_c = (
                2.0 * want_tri[v] / (d * (d - 1)) if d >= 2 else 0.0
            )
            assert got[v][2] == want_c

    def test_no_cartesian_in_plan(self, spark):
        from afg_data_pipeline_spark.operators.graph import (
            triangle_counts,
        )

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
        )
        plan = triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestBfsHopDistances:
    """Multi-source BFS: python BFS cross-check on a pseudorandom
    graph, a hand-checkable topology, and the fixpoint-probe
    early-exit identity (early exit must change nothing vs running
    all rounds — that is what keeps the unrolled oracle exact)."""

    def _run(self, spark, n, edges, sources, max_iter=10):
        from pyspark.sql import functions as F

        from afg_data_pipeline_spark.operators.graph import (
            bfs_hop_distances,
        )

        nodes = spark.createDataFrame(
            [(v,) for v in range(n)], "id long"
        )
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            r["vertex"]: r["hops"]
            for r in bfs_hop_distances(
                nodes,
                e,
                F.col("id").isin(list(sources)),
                max_iter=max_iter,
            ).collect()
        }

    def test_chain_and_island(self, spark):
        # chain 0-1-2-3-4 with source 0; island 5-6 unreached
        got = self._run(
            spark, 7, [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)], {0}
        )
        assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: -1, 6: -1}

    def test_matches_python_bfs_multisource(self, spark):
        from collections import deque

        n, eset = 50, set()
        for i in range(140):
            h = hashlib.md5(f"bfs-edge|{i}".encode()).digest()
            a = int.from_bytes(h[:4], "big") % n
            b = int.from_bytes(h[4:8], "big") % n
            if a != b:
                eset.add((min(a, b), max(a, b)))
        edges = sorted(eset)
        sources = {0, 17, 33}
        adj: dict[int, list[int]] = {v: [] for v in range(n)}
        for a, b in edges:
            adj[a].append(b)
            adj[b].append(a)
        want = {v: -1 for v in range(n)}
        dq = deque()
        for s in sources:
            want[s] = 0
            dq.append(s)
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if want[v] == -1:
                    want[v] = want[u] + 1
                    dq.append(v)
        got = self._run(spark, n, edges, sources, max_iter=20)
        assert got == want

    def test_early_exit_equals_full_run(self, spark):
        edges = [(0, 1), (1, 2), (2, 3)]
        a = self._run(spark, 4, edges, {0}, max_iter=3)
        b = self._run(spark, 4, edges, {0}, max_iter=10)
        assert a == b == {0: 0, 1: 1, 2: 2, 3: 3}


class TestWeightedShortestPaths:
    def _run(self, spark, edges, seeds, n, max_iter=10):
        from afg_data_pipeline_spark.operators.graph import (
            weighted_shortest_paths,
        )

        nodes = spark.createDataFrame(
            [(i,) for i in range(n)], ["id"]
        )
        e = spark.createDataFrame(
            edges, ["id_a", "id_b", "wt"]
        )
        out = weighted_shortest_paths(
            nodes,
            e,
            F.col("id").isin(seeds),
            id_col="id",
            max_iter=max_iter,
        )
        return {r.vertex: r.dist for r in out.collect()}

    def test_chain_takes_cheaper_detour(self, spark):
        # 0-1 weight 10; 0-2 weight 1, 2-1 weight 2: dist(1)=3
        got = self._run(
            spark, [(0, 1, 10), (0, 2, 1), (2, 1, 2)], [0], 4
        )
        assert got[0] == 0
        assert got[2] == 1
        assert got[1] == 3
        assert got[3] == -1  # island

    def test_matches_python_dijkstra_multisource(self, spark):
        import heapq
        import random

        rng = random.Random(3)
        n = 40
        edges = []
        seen = set()
        for _ in range(120):
            a, b = rng.randrange(n), rng.randrange(n)
            if a == b or (min(a, b), max(a, b)) in seen:
                continue
            seen.add((min(a, b), max(a, b)))
            edges.append(
                (min(a, b), max(a, b), rng.randrange(1, 20))
            )
        seeds = [0, 7, 13]
        adj = {}
        for a, b, w in edges:
            adj.setdefault(a, []).append((b, w))
            adj.setdefault(b, []).append((a, w))
        dist = {s: 0 for s in seeds}
        pq = [(0, s) for s in seeds]
        heapq.heapify(pq)
        while pq:
            d, v = heapq.heappop(pq)
            if d > dist.get(v, 1 << 60):
                continue
            for u, w in adj.get(v, []):
                if d + w < dist.get(u, 1 << 60):
                    dist[u] = d + w
                    heapq.heappush(pq, (d + w, u))
        got = self._run(spark, edges, seeds, n, max_iter=50)
        exp = {
            v: dist.get(v, -1) for v in range(n)
        }
        assert got == exp

    def test_early_exit_equals_full_unroll(self, spark):
        edges = [(i, i + 1, 5) for i in range(5)]
        a = self._run(spark, edges, [0], 6, max_iter=5)
        b = self._run(spark, edges, [0], 6, max_iter=30)
        assert a == b


class TestLabelPropagation:
    def _run(self, spark, edges, n, rounds=4):
        from afg_data_pipeline_spark.operators.graph import (
            label_propagation,
        )

        nodes = spark.createDataFrame(
            [(i,) for i in range(n)], ["id"]
        )
        e = spark.createDataFrame(edges, ["id_a", "id_b"])
        out = label_propagation(
            nodes, e, id_col="id", rounds=rounds
        )
        return {r.vertex: r.label for r in out.collect()}

    def test_two_disjoint_cliques(self, spark):
        # disjoint 4-cliques: by round 3 each clique is uniformly
        # at its smallest member's label (synchronous LPA with a
        # bridge can 2-cycle, so the structural test stays
        # bridge-free; the replica test covers general graphs)
        clique = lambda vs: [
            (a, b) for a in vs for b in vs if a < b
        ]
        edges = clique([0, 1, 2, 3]) + clique([4, 5, 6, 7])
        got = self._run(spark, edges, 8)
        assert got[0] == got[1] == got[2] == got[3] == 0
        assert got[4] == got[5] == got[6] == got[7] == 4

    def test_isolated_vertex_keeps_own_label(self, spark):
        got = self._run(spark, [(0, 1)], 3)
        assert got[2] == 2

    def test_matches_python_replica(self, spark):
        import random

        rng = random.Random(5)
        n = 30
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n))
                    for _ in range(60)
                )
                if a != b
            }
        )
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        labels = {v: v for v in range(n)}
        for _ in range(4):
            new = {}
            for v in range(n):
                if v not in adj:
                    new[v] = labels[v]
                    continue
                cnt = {}
                for u in adj[v]:
                    cnt[labels[u]] = cnt.get(labels[u], 0) + 1
                new[v] = min(
                    cnt, key=lambda l: (-cnt[l], l)
                )
            labels = new
        got = self._run(spark, edges, n)
        assert got == labels


class TestKCore:
    def _run(self, spark, edges, k, max_iter=20):
        from afg_data_pipeline_spark.operators.graph import (
            kcore_membership,
        )

        e = spark.createDataFrame(edges, ["id_a", "id_b"])
        out = kcore_membership(e, k=k, max_iter=max_iter)
        return {r.vertex: r.degree for r in out.collect()}

    def test_clique_plus_tail_peels_tail(self, spark):
        # 4-clique with a pendant chain: 3-core = the clique only
        clique = [
            (a, b) for a in range(4) for b in range(4) if a < b
        ]
        tail = [(3, 4), (4, 5)]
        got = self._run(spark, clique + tail, 3)
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_cascading_peel(self, spark):
        # chain: every vertex eventually peels at k=2
        chain = [(i, i + 1) for i in range(6)]
        assert self._run(spark, chain, 2) == {}
        # cycle: the whole ring IS the 2-core
        ring = chain + [(6, 0)]
        got = self._run(spark, ring, 2)
        assert got == {i: 2 for i in range(7)}

    def test_matches_python_replica(self, spark):
        import random

        rng = random.Random(9)
        n = 25
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n))
                    for _ in range(70)
                )
                if a != b
            }
        )
        adj = {v: set() for v in range(n)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        k = 3
        changed = True
        while changed:
            changed = False
            for v in list(adj):
                if len(adj[v]) < k:
                    for u in adj[v]:
                        adj[u].discard(v)
                    del adj[v]
                    changed = True
        exp = {v: len(us) for v, us in adj.items()}
        assert self._run(spark, edges, k) == exp

    def test_early_exit_equals_full_run(self, spark):
        # 5-ring with a 4-edge tail at k=2: the tail peels one vertex
        # per round, so the survivor count settles after round 4 and
        # the count probe ends the max_iter=30 run early
        ring = [(i, (i + 1) % 5) for i in range(5)]
        tail = [(4, 5), (5, 6), (6, 7), (7, 8)]
        short = self._run(spark, ring + tail, 2, max_iter=2)
        a = self._run(spark, ring + tail, 2, max_iter=4)
        b = self._run(spark, ring + tail, 2, max_iter=30)
        assert a == b == {i: 2 for i in range(5)}
        assert short != a


class _Frame:
    """Spark-free stand-in for a DataFrame state: ``rnd`` counts the
    steps applied, and localCheckpoint() logs the round it ran at."""

    def __init__(self, rnd, log, checkpointed=False):
        self.rnd, self.log, self.checkpointed = rnd, log, checkpointed

    def localCheckpoint(self):
        self.log.append(("ckpt", self.rnd))
        return _Frame(self.rnd, self.log, checkpointed=True)


class TestIterate:
    """``_iterate``'s cadence and early exit, on a fake frame."""

    def _run(self, rounds, every, script=None):
        from afg_data_pipeline_spark.operators.graph import _iterate

        log = []
        values = iter(script or ())

        def probe(f):
            log.append(("probe", f.rnd))
            return next(values)

        out = _iterate(
            _Frame(0, log),
            lambda f: _Frame(f.rnd + 1, log),
            rounds,
            every=every,
            probe=None if script is None else probe,
        )
        return out, log

    def test_every_two_checkpoints_even_rounds_and_last(self):
        out, log = self._run(5, 2)
        assert log == [("ckpt", 2), ("ckpt", 4), ("ckpt", 5)]
        assert out.rnd == 5 and out.checkpointed

    def test_probe_runs_only_after_a_checkpoint(self):
        _, log = self._run(5, 2, script=[1, 2, 3])
        assert log == [
            ("ckpt", 2), ("probe", 2),
            ("ckpt", 4), ("probe", 4),
            ("ckpt", 5), ("probe", 5),
        ]

    def test_two_equal_probes_stop_on_checkpointed_state(self):
        out, log = self._run(10, 1, script=[3, 2, 2, 9, 9])
        assert log[-1] == ("probe", 3)
        assert out.rnd == 3 and out.checkpointed

    def test_every_one_checkpoints_and_probes_every_round(self):
        _, log = self._run(4, 1, script=[1, 2, 3, 4])
        assert log == [
            (kind, r) for r in range(1, 5) for kind in ("ckpt", "probe")
        ]

    def test_no_probe_never_exits_early(self):
        out, log = self._run(6, 1)
        assert out.rnd == 6
        assert log == [("ckpt", r) for r in range(1, 7)]


# The classes above run the driver kernels (their fixtures are small);
# each subclass reruns every inherited test on the distributed path.


@pytest.mark.usefixtures("distributed")
class TestRadiusEdgesDistributed(TestRadiusEdges):
    pass


@pytest.mark.usefixtures("distributed")
class TestPagerankDistributed(TestPagerank):
    pass


@pytest.mark.usefixtures("distributed")
class TestPagerankSymmetrizeDistributed(TestPagerankSymmetrize):
    pass


@pytest.mark.usefixtures("distributed")
class TestBfsHopDistancesDistributed(TestBfsHopDistances):
    pass


@pytest.mark.usefixtures("distributed")
class TestWeightedShortestPathsDistributed(TestWeightedShortestPaths):
    pass


@pytest.mark.usefixtures("distributed")
class TestKCoreDistributed(TestKCore):
    pass


def _random_graph(seed, n=12, span=15, m=40):
    """Seeded (src, dst, wt) edges over ids 0..span-1 with duplicate
    edges and self-loops; ids n..span-1 are missing from the node set
    of ``TestLocalKernels``."""
    rng = random.Random(seed)
    edges = [
        (rng.randrange(span), rng.randrange(span), rng.randrange(10))
        for _ in range(m)
    ]
    edges += edges[:4] + [(3, 3, 2), (n + 1, n + 1, 1)]
    return edges


_OPS = {
    "pagerank": lambda nodes, edges, it: graph.pagerank(
        nodes, edges, iterations=it
    ),
    "pagerank_directed": lambda nodes, edges, it: graph.pagerank(
        nodes, edges, iterations=it, symmetrize=False
    ),
    "bfs": lambda nodes, edges, it: graph.bfs_hop_distances(
        nodes, edges, F.col("id") % 5 == 0, src="src", dst="dst",
        max_iter=it,
    ),
    "sssp": lambda nodes, edges, it: graph.weighted_shortest_paths(
        nodes, edges, F.col("id").isin(0, 7), src="src", dst="dst",
        max_iter=it,
    ),
    "kcore": lambda nodes, edges, it: graph.kcore_membership(
        edges, k=3, src="src", dst="dst", max_iter=it
    ),
}


def _got(df):
    """Rows and schema (field nullability included) of ``df``."""
    return sorted(df.collect()), df.schema


class TestLocalKernels:
    """The driver kernels against the distributed path: same rows,
    same schema, and each path is the one that really ran (spied on
    ``_local_frame.make``, which only the kernels call). Nodes 20 and
    21 are isolated."""

    def _frames(self, spark, edges, nodes=(*range(12), 20, 21)):
        return (
            spark.createDataFrame([(v,) for v in nodes], "id long"),
            spark.createDataFrame(edges, "src long, dst long, wt long"),
        )

    @pytest.mark.parametrize("op", sorted(_OPS))
    @pytest.mark.parametrize(
        "edges,it",
        [
            (_random_graph(1), 0),
            (_random_graph(2), 2),
            (_random_graph(3), 30),
            ([], 5),
        ],
        ids=["seed1-iter0", "seed2-iter2", "seed3-iter30", "no-edges"],
    )
    def test_kernel_equals_distributed(
        self, spark, monkeypatch, op, edges, it
    ):
        nodes, e = self._frames(spark, edges)
        calls = kernel_frames(monkeypatch)
        kernel = _got(_OPS[op](nodes, e, it))
        assert calls == [1]
        # -1, not 0: an empty edge list must leave the kernel too
        monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", -1)
        dist = _got(_OPS[op](nodes, e, it))
        assert calls == [1]
        assert kernel == dist

    def _takes_distributed(self, monkeypatch, build):
        calls = kernel_frames(monkeypatch)
        rows = build().collect()
        assert calls == []
        return rows

    def test_null_node_id_falls_back(self, spark, monkeypatch):
        nodes, e = self._frames(spark, _random_graph(4), [0, 1, None])
        rows = self._takes_distributed(
            monkeypatch, lambda: _OPS["bfs"](nodes, e, 3)
        )
        assert any(r.vertex is None for r in rows)

    def test_null_edge_endpoint_falls_back(self, spark, monkeypatch):
        nodes, e = self._frames(spark, [(0, 1, 1), (1, None, 1)])
        self._takes_distributed(
            monkeypatch, lambda: _OPS["kcore"](nodes, e, 3)
        )

    def test_duplicate_node_id_falls_back(self, spark, monkeypatch):
        nodes, e = self._frames(spark, _random_graph(5), [0, 1, 1, 2])
        rows = self._takes_distributed(
            monkeypatch, lambda: _OPS["pagerank"](nodes, e, 3)
        )
        assert len(rows) == 4

    def test_scale_past_int64_guard_falls_back(self, spark, monkeypatch):
        # 85 * 2**60 >= 2**63; on a 16-ring every rank stays near
        # 2**60 / 16, so the distributed BIGINT path does not overflow
        scale = 2**60
        ring = [(i, (i + 1) % 16, 1) for i in range(16)]
        nodes, e = self._frames(spark, ring, range(16))
        rows = self._takes_distributed(
            monkeypatch,
            lambda: graph.pagerank(nodes, e, iterations=3, scale=scale),
        )
        r = scale // 16
        for _ in range(3):
            r = (15 * scale) // 1600 + 2 * ((85 * r) // 200)
        assert {row.rank_scaled for row in rows} == {r}

    def test_weight_past_int64_guard_falls_back(self, spark, monkeypatch):
        nodes, e = self._frames(spark, [(0, 1, 2**61), (1, 2, 1)])
        rows = self._takes_distributed(
            monkeypatch, lambda: _OPS["sssp"](nodes, e, 3)
        )
        assert {(r.vertex, r.dist) for r in rows if r.vertex < 3} == {
            (0, 0), (1, 2**61), (2, 2**61 + 1)
        }

    def _spy_collects(self, monkeypatch):
        cols = []
        real = graph._local_columns

        def spy(df, *c):
            cols.append(len(c))
            return real(df, *c)

        monkeypatch.setattr(graph, "_local_columns", spy)
        return cols

    @pytest.mark.parametrize("op", sorted(_OPS))
    def test_over_bound_collects_nothing(
        self, spark, monkeypatch, distributed, op
    ):
        # the checkpoint's row count decides; no edge or vertex collect
        nodes, e = self._frames(spark, _random_graph(7))
        collects = self._spy_collects(monkeypatch)
        self._takes_distributed(
            monkeypatch, lambda: _OPS[op](nodes, e, 3)
        )
        assert collects == []

    def test_bad_node_ids_skip_the_edge_collect(self, spark, monkeypatch):
        nodes, e = self._frames(spark, _random_graph(5), [0, 1, 1, 2])
        collects = self._spy_collects(monkeypatch)
        self._takes_distributed(
            monkeypatch, lambda: _OPS["pagerank"](nodes, e, 3)
        )
        assert collects == [1]

    def test_edge_bound_is_inclusive(self, spark, monkeypatch):
        # kcore's symmetrized list holds 2 rows per input edge
        edges = _random_graph(6)
        nodes, e = self._frames(spark, edges)
        calls = kernel_frames(monkeypatch)
        monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 2 * len(edges))
        kernel = _OPS["kcore"](nodes, e, 10).collect()
        assert calls == [1]
        monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 2 * len(edges) - 1)
        dist = _OPS["kcore"](nodes, e, 10).collect()
        assert calls == [1]
        assert sorted(kernel) == sorted(dist)


def _points(spark, pts, schema="id long, x double, y double"):
    return spark.createDataFrame(pts, schema)


def _pseudorandom_points(seed, n=150, lo=-30.0, hi=30.0):
    rng = random.Random(seed)
    return [(i, rng.uniform(lo, hi), rng.uniform(lo, hi)) for i in range(n)]


# exact cell edges (multiples of the radius, negative ones included),
# pairs at distance exactly r = 1 and 5 (3-4-5), coincident points
_EDGE_POINTS = [
    (1, -2.0, -1.0), (2, -1.0, -1.0), (3, 0.0, 0.0), (4, 1.0, 0.0),
    (5, 0.0, -1.0), (6, -3.0, 4.0), (7, 0.0, 0.0), (8, -0.0, 1.0),
    (9, 3.0, 4.0), (10, -4.0, -3.0), (11, 2.0, 2.0), (12, -7.5, 0.5),
]


class TestLocalRadiusEdges:
    """The radius-graph kernel against the distributed grid join: the
    same rows, bit for bit (``dist`` included), and the same schema;
    inputs the kernel does not take run the distributed path."""

    def _run(self, df, radius):
        out = graph.radius_edges_grid2d(df, "id", "x", "y", radius)
        return sorted(out.collect()), out.schema

    def _distributed(self, monkeypatch, df, radius):
        # -1, not 0: an empty input must leave the kernel too
        monkeypatch.setattr(graph, "_LOCAL_MAX_POINTS", -1)
        return self._run(df, radius)

    @pytest.mark.parametrize(
        "pts,schema,radius",
        [
            (_pseudorandom_points(1), None, 4.0),
            (_pseudorandom_points(2), None, 9.5),
            (_pseudorandom_points(3, lo=-1e6, hi=-9e5), None, 2e4),
            (_EDGE_POINTS, None, 1.0),
            (_EDGE_POINTS, None, 5.0),
            (_EDGE_POINTS, None, 0.0),
            (_EDGE_POINTS, None, -1.0),
            (
                [(i, int(x), int(y)) for i, x, y in _EDGE_POINTS],
                "id int not null, x int not null, y long",
                5,
            ),
            ([], None, 3.0),
        ],
        ids=[
            "random-r4", "random-r9.5", "far-negative", "cell-edges-r1",
            "exact-r5", "r0", "r-negative", "int-not-null", "empty",
        ],
    )
    def test_kernel_equals_distributed(
        self, spark, monkeypatch, pts, schema, radius
    ):
        df = _points(spark, pts, *([schema] if schema else []))
        calls = kernel_frames(monkeypatch)
        kernel = self._run(df, radius)
        assert calls == [1]
        assert kernel == self._distributed(monkeypatch, df, radius)

    @pytest.mark.parametrize(
        "pts,schema,radius",
        [
            # at its twin's place, and at a second point: each pair
            # keeps its smallest dist
            (_EDGE_POINTS + [(3, 0.0, 0.0)], None, 5.0),
            (_EDGE_POINTS + [(3, 0.5, 0.5)], None, 5.0),
            (_EDGE_POINTS + [(None, 0.5, 0.5)], None, 5.0),
            (_EDGE_POINTS + [(20, None, 0.5)], None, 5.0),
            (_EDGE_POINTS + [(20, float("nan"), 0.5)], None, 5.0),
            (_EDGE_POINTS + [(20, 0.5, float("inf"))], None, 5.0),
            (_EDGE_POINTS + [(20, float("-inf"), 0.5)], None, 5.0),
            (_EDGE_POINTS + [(20, 2.0**60, 0.5)], None, 5.0),
            (
                [(str(i), x, y) for i, x, y in _EDGE_POINTS],
                "id string, x double, y double",
                5.0,
            ),
            (_EDGE_POINTS, None, float("inf")),
        ],
        ids=[
            "duplicate-id", "duplicate-id-moved", "null-id", "null-x",
            "nan-x", "inf-y",
            "minus-inf-x", "cell-past-2^53", "string-id", "inf-radius",
        ],
    )
    def test_fallback_runs_distributed(
        self, spark, monkeypatch, pts, schema, radius
    ):
        df = _points(spark, pts, *([schema] if schema else []))
        calls = kernel_frames(monkeypatch)
        got = self._run(df, radius)
        assert calls == []
        assert got == self._distributed(monkeypatch, df, radius)

    def test_candidates_over_the_bound_run_distributed(
        self, spark, monkeypatch
    ):
        # 5 points in one cell, alone in their 9-cell block, and one far
        # away: 5 * 5 + 1 * 1 join rows
        pts = [(i, 0.1 * i, 0.1) for i in range(5)] + [(9, 50.0, 50.0)]
        df = _points(spark, pts)
        calls = kernel_frames(monkeypatch)
        monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 26)
        kernel = self._run(df, 1.0)
        assert calls == [1]
        monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 25)
        assert self._run(df, 1.0) == kernel
        assert calls == [1]

    def test_duplicate_id_ignores_the_partitioning(
        self, spark, monkeypatch
    ):
        # id 3 sits at (0, 0) and at (0.5, 0.5): each of its pairs keeps
        # the smaller of its two distances, whichever shuffle delivers
        pts = _EDGE_POINTS + [(3, 0.5, 0.5)]
        df = _points(spark, pts)
        monkeypatch.setattr(graph, "_LOCAL_MAX_POINTS", -1)
        runs = []
        conf = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(conf)
        for n in (1, 7):
            spark.conf.set(conf, n)
            try:
                runs.append(self._run(df, 5.0))
            finally:
                spark.conf.set(conf, prev)
        assert runs[0] == runs[1]
        best = {}
        for i, (ida, xa, ya) in enumerate(pts):
            for idb, xb, yb in pts[i + 1 :]:
                ex, ey = xa - xb, ya - yb
                d = math.sqrt(ex * ex + ey * ey)
                key = tuple(sorted((ida, idb)))
                if ida != idb and d <= 5.0:
                    best[key] = min(d, best.get(key, d))
        assert [tuple(r) for r in runs[0][0]] == sorted(
            (a, b, d) for (a, b), d in best.items()
        )

    def test_point_bound_is_inclusive(self, spark, monkeypatch):
        df = _points(spark, _EDGE_POINTS)
        calls = kernel_frames(monkeypatch)
        monkeypatch.setattr(graph, "_LOCAL_MAX_POINTS", len(_EDGE_POINTS))
        kernel = self._run(df, 5.0)
        assert calls == [1]
        monkeypatch.setattr(
            graph, "_LOCAL_MAX_POINTS", len(_EDGE_POINTS) - 1
        )
        assert self._run(df, 5.0) == kernel
        assert calls == [1]


class TestRadiusPlanShape:
    """Pins the radius-graph gate. The distributed frame is lazy, so
    its builder launches no more jobs than the kernel's collect; the
    executed plan shows which path ran instead: a local scan on the
    kernel path, the grid join's exchanges without it."""

    def _plan(self, spark):
        df = _points(spark, [(i, float(i), float(i)) for i in range(10)])
        return (
            graph.radius_edges_grid2d(df, "id", "x", "y", 2.0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    def test_kernel_plan_is_a_local_scan(self, spark):
        plan = self._plan(spark)
        assert plan.startswith("LocalTableScan")
        assert "Exchange" not in plan

    def test_distributed_plan_holds_the_grid_join(self, spark, distributed):
        plan = self._plan(spark)
        assert "LocalTableScan" not in plan.splitlines()[0]
        assert "Exchange" in plan


class TestBuilderJobs:
    """Pins the gate: pagerank on a 10-node graph is a few collects on
    the kernel path and a per-round job chain without it, so a gate
    that silently stops firing turns this red."""

    def _build(self, spark):
        nodes = spark.createDataFrame(
            [(i,) for i in range(10)], "id long"
        )
        edges = spark.createDataFrame(
            [(i, (i + 1) % 10) for i in range(10)], "src long, dst long"
        )
        return lambda: graph.pagerank(nodes, edges, iterations=10)

    def test_kernel_launches_at_most_five_jobs(self, spark):
        assert builder_jobs(spark, self._build(spark)) <= 5

    def test_distributed_launches_a_job_chain(self, spark, distributed):
        assert builder_jobs(spark, self._build(spark)) > 20


_HANDOFF_OPS = {
    "pagerank": lambda nodes, edges: graph.pagerank(
        nodes, edges, src="id_a", dst="id_b", iterations=10
    ),
    "bfs": lambda nodes, edges: graph.bfs_hop_distances(
        nodes, edges, F.col("id") % 7 == 0, max_iter=10
    ),
    "kcore": lambda nodes, edges: graph.kcore_membership(
        edges, k=2, max_iter=10
    ),
}


class TestHandoff:
    """The radius kernel's edge frame hands its arrays to pagerank, bfs
    and k-core. Against the same edges behind a ``select("*")``, which
    carries nothing and goes through ``_undirected``, the rows and the
    schema (nullability included) are equal, and the carried frame
    runs ``_undirected`` only once a kernel refuses it."""

    def _undirected_calls(self, monkeypatch):
        calls = []
        real = graph._undirected

        def spy(*args, **kw):
            calls.append(1)
            return real(*args, **kw)

        monkeypatch.setattr(graph, "_undirected", spy)
        return calls

    def _inputs(self, spark, pts, id_type, radius):
        df = _points(spark, pts, f"id {id_type}, x double, y double")
        edges = graph.radius_edges_grid2d(df, "id", "x", "y", radius)
        assert _local_frame.columns(edges)
        return df.select("id"), edges

    def _compare(self, monkeypatch, op, nodes, edges):
        """The carried result and the ``_undirected`` calls it made."""
        calls = self._undirected_calls(monkeypatch)
        carried = _got(_HANDOFF_OPS[op](nodes, edges))
        ran = len(calls)
        plain = _got(_HANDOFF_OPS[op](nodes, edges.select("*")))
        assert len(calls) == ran + 1
        assert carried == plain
        return carried, ran

    @pytest.mark.parametrize("op", sorted(_HANDOFF_OPS))
    @pytest.mark.parametrize("id_type", ["int", "long", "long not null"])
    @pytest.mark.parametrize(
        "pts,radius",
        [
            (_pseudorandom_points(1), 4.0),
            (_pseudorandom_points(2), 9.5),
            (_EDGE_POINTS, 5.0),
            ([(i, 10.0 * i, 0.0) for i in range(6)], 1.0),
        ],
        ids=["random-r4", "random-r9.5", "edge-points-r5", "no-edges"],
    )
    def test_carried_equals_uncarried(
        self, spark, monkeypatch, op, id_type, pts, radius
    ):
        nodes, edges = self._inputs(spark, pts, id_type, radius)
        kernels = kernel_frames(monkeypatch)
        _, ran = self._compare(monkeypatch, op, nodes, edges)
        assert ran == 0
        assert kernels == [1, 1]

    @pytest.mark.parametrize("op", ["bfs", "pagerank"])
    def test_duplicate_node_ids_run_distributed(
        self, spark, monkeypatch, op
    ):
        nodes, edges = self._inputs(
            spark, _pseudorandom_points(1), "long", 4.0
        )
        nodes = nodes.unionByName(nodes.filter(F.col("id") < 3))
        kernels = kernel_frames(monkeypatch)
        # the refused carried edges reach _iterate checkpointed
        _, ran = self._compare(monkeypatch, op, nodes, edges)
        assert ran == 1
        assert kernels == []

    @pytest.mark.parametrize("op", sorted(_HANDOFF_OPS))
    @pytest.mark.parametrize("id_type", ["int", "long not null"])
    def test_edge_bound_one_below_runs_distributed(
        self, spark, monkeypatch, op, id_type
    ):
        nodes, edges = self._inputs(spark, _EDGE_POINTS, id_type, 5.0)
        kernel = _got(_HANDOFF_OPS[op](nodes, edges))
        monkeypatch.setattr(
            graph, "_LOCAL_MAX_EDGES", 2 * edges.count() - 1
        )
        kernels = kernel_frames(monkeypatch)
        dist, ran = self._compare(monkeypatch, op, nodes, edges)
        assert ran == 1
        assert kernels == []
        # the kernels' derived fields are the distributed plan's
        assert dist == kernel


class TestHandoffJobs:
    """Pins the handoff on the registered radius-graph builders: the
    point collect, plus the vertex collect where the operator has a
    node set, and nothing between the two kernels. A transform that
    drops the carried edges adds the checkpoint and the edge collect,
    and turns this red."""

    @pytest.mark.parametrize(
        "name,jobs",
        [
            ("pagerank_centrality", 2),
            ("bfs_hop_distances", 2),
            ("kcore_vertices", 1),
        ],
    )
    def test_builder_jobs(self, spark, name, jobs):
        from afg_data_pipeline_spark.plans import REGISTRY
        from tests.conftest import SF_DIR

        build = REGISTRY[name].fn
        assert builder_jobs(spark, lambda: build(spark, SF_DIR)) == jobs
