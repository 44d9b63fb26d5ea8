"""Connected-components / component-dedup tests (operators/graph.py)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators.graph import (
    connected_components,
    dedup_by_components,
    transitive_closure,
)
from tests.conftest import session_conf


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _comps(df):
    return {r["id"]: r["comp"] for r in df.collect()}


class TestConnectedComponents:
    def test_chain_needs_propagation(self, spark):
        # 1-2-3-4-5 chain: label 1 must travel 4 hops
        got = _comps(connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])))
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}

    def test_disjoint_components(self, spark):
        got = _comps(
            connected_components(
                _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)])
            )
        )
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    def test_edge_direction_irrelevant(self, spark):
        got = _comps(connected_components(_edges(spark, [(5, 3), (3, 9)])))
        assert got == {3: 3, 5: 3, 9: 3}

    def test_non_convergence_raises(self, spark):
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(
                _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]),
                max_iterations=1,
            )


class TestDedupByComponents:
    def test_chain_collapses_to_one_survivor(self, spark):
        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(1, 6)], "doc_id long, text string"
        )
        # a~b, b~c chain: greedy would also drop correctly here, but the
        # component answer is principled — one survivor per component
        pairs = _edges(spark, [(1, 2), (2, 3)])
        kept = sorted(
            r["doc_id"] for r in dedup_by_components(docs, pairs).collect()
        )
        assert kept == [1, 4, 5]

    def test_rows_without_pairs_pass_through(self, spark):
        docs = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, text string"
        )
        empty = spark.createDataFrame([], "id_a long, id_b long")
        # no edges → nothing dropped (empty edge list short-circuits in
        # one converged iteration)
        kept = sorted(
            r["doc_id"] for r in dedup_by_components(docs, empty).collect()
        )
        assert kept == [1, 2]


class TestTransitiveClosure:
    def test_chain_depths(self, spark):
        edges = spark.createDataFrame(
            [(2, 1), (3, 2), (4, 3)], "child long, parent long"
        )
        rows = {
            (r["ancestor"], r["descendant"]): r["depth"]
            for r in transitive_closure(edges).collect()
        }
        assert rows[(1, 2)] == 1 and rows[(2, 3)] == 1 and rows[(3, 4)] == 1
        assert rows[(1, 3)] == 2 and rows[(2, 4)] == 2
        assert rows[(1, 4)] == 3
        assert len(rows) == 6

    def test_forest_and_null_parent(self, spark):
        edges = spark.createDataFrame(
            [(2, 1), (3, None), (5, 4)], "child long, parent long"
        )
        rows = {
            (r["ancestor"], r["descendant"])
            for r in transitive_closure(edges).collect()
        }
        assert rows == {(1, 2), (4, 5)}  # null-parent edge dropped

    def test_cycle_raises(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 1)], "child long, parent long"
        )
        with pytest.raises(RuntimeError, match="cycle"):
            transitive_closure(edges, max_iterations=5)


class TestLeakageSafeSplit:
    def test_dup_components_never_straddle_splits(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            leakage_safe_split,
        )

        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
        )
        # chain 0~1~2 plus pair (10, 11); everything else isolated
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
        )
        out = leakage_safe_split(docs, pairs, test_pct=30, val_pct=30)
        rows = {r["doc_id"]: r["split"] for r in out.collect()}
        assert len(rows) == 200
        assert rows[0] == rows[1] == rows[2]
        assert rows[10] == rows[11]
        assert len(set(rows.values())) == 3  # all three splits used

    def test_matches_plain_split_for_isolated_rows(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            deterministic_split,
        )
        from gbif_filter_python_spark.operators.graph import (
            leakage_safe_split,
        )

        docs = spark.createDataFrame(
            [(i, "t") for i in range(100)], "doc_id long, text string"
        )
        no_pairs = spark.createDataFrame([], "id_a long, id_b long")
        a = {
            r["doc_id"]: r["split"]
            for r in leakage_safe_split(docs, no_pairs).collect()
        }
        b = {
            r["doc_id"]: r["split"]
            for r in deterministic_split(docs, "doc_id").collect()
        }
        assert a == b


def test_recursive_cte_matches_iterative_closure(spark):
    """Differential: Spark 4's native WITH RECURSIVE (UnionLoop) and
    the iterative-join transitive_closure must produce the identical
    closure over the same edge set."""
    import __spark_entry__ as entry_mod

    # sf0.001's supplier table has no keys >= 10 (both sides empty and
    # the check would be vacuous) — use sf0.01, where the closure has
    # 90 rows.
    sf = "/root/testdata/sf0.01"
    a = {
        (r["ancestor"], r["descendant"], r["depth"])
        for r in entry_mod.q_recursive_cte(spark, sf).collect()
    }
    b = {
        (r["ancestor"], r["descendant"], r["depth"])
        for r in entry_mod.q_closure_chain(spark, sf).collect()
    }
    assert a == b and len(a) > 0


class TestPageRank:
    def _pr(self, spark, edges, **kw):
        from gbif_filter_python_spark.operators.graph import pagerank

        df = spark.createDataFrame(edges, "src long, dst long")
        return {r.id: r.rank for r in pagerank(df, **kw).collect()}

    def test_mass_conserved(self, spark):
        # ring + a dangling sink: total rank stays 1 regardless of
        # dangling redistribution
        edges = [(1, 2), (2, 3), (3, 1), (3, 4)]  # 4 is dangling
        ranks = self._pr(spark, edges, n_iter=5)
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-3)

    def test_cycle_is_uniform(self, spark):
        edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
        ranks = self._pr(spark, edges, n_iter=5)
        assert all(r == pytest.approx(0.25, abs=1e-4) for r in ranks.values())

    def test_star_center_dominates(self, spark):
        edges = [(i, 0) for i in range(1, 6)]
        ranks = self._pr(spark, edges, n_iter=3)
        assert ranks[0] == max(ranks.values())
        assert ranks[0] > 3 * min(ranks.values())

    def test_deterministic(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
        assert self._pr(spark, edges) == self._pr(spark, edges)

    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np

        # 5 and 6 are dangling; (2, 3) is doubled and (3, 3) loops:
        # both count in the out-degree and both carry rank
        edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 4),
                 (1, 5), (4, 6), (2, 3), (3, 3)]
        nodes = sorted({u for e in edges for u in e})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        deg = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
        r = np.full(n, 1.0 / n)
        d = 0.85
        for _ in range(3):
            dang = sum(r[idx[v]] for v in nodes if deg.get(v, 0) == 0)
            nr = np.full(n, (1.0 - d) / n) + d * dang / n
            for a, b in edges:
                nr[idx[b]] += d * r[idx[a]] / deg[a]
            r = nr
        got = self._pr(spark, edges, n_iter=3)
        assert set(got) == set(nodes)
        for v in nodes:
            assert got[v] == pytest.approx(r[idx[v]], abs=1e-4)

    def test_empty_edge_list(self, spark):
        from gbif_filter_python_spark.operators.graph import pagerank

        out = pagerank(spark.createDataFrame([], "src long, dst long"))
        assert out.columns == ["id", "rank"]
        assert out.collect() == []


class TestObservedCheckpoint:
    """The observed aggregates equal the separate probes they replace."""

    @staticmethod
    def _probe(df):
        from gbif_filter_python_spark.operators.iterate import (
            observed_checkpoint,
        )

        aggs = (F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
                F.count_if(F.col("x") > 3).alias("big"))
        # the call runs in a thread so a metric that never arrives
        # fails the test instead of hanging the suite
        done = []
        t = threading.Thread(
            target=lambda: done.append(observed_checkpoint(df, *aggs)),
            daemon=True,
        )
        t.start()
        t.join(120)
        assert done, "observed_checkpoint did not return"
        out, got = done[0]
        want = df.agg(*aggs).collect()[0].asDict()
        assert got == want
        assert got["n"] == df.count() == out.count()
        return out, got

    def test_empty_input(self, spark):
        _, got = self._probe(spark.createDataFrame([], "x long"))
        assert got == {"n": 0, "s": None, "big": 0}

    def test_all_rows_filtered_out(self, spark):
        df = spark.range(50).select(F.col("id").alias("x"))
        _, got = self._probe(df.filter(F.col("x") < 0))
        assert got["n"] == 0

    def test_multi_partition_input(self, spark):
        df = spark.range(0, 1000, 1, 7).select(F.col("id").alias("x"))
        out, got = self._probe(df)
        assert got == {"n": 1000, "s": 499500, "big": 996}
        assert out.rdd.getNumPartitions() == 7

    def test_same_frame_twice(self, spark):
        df = spark.range(10).select(F.col("id").alias("x"))
        assert self._probe(df)[1] == self._probe(df)[1]


class TestIterationJobs:
    """Jobs per call, pinned on one 7-edge graph with the engine's
    runtime settings (adaptive execution on)."""

    EDGES = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 4), (5, 6)]

    def test_pagerank_round(self, spark):
        from gbif_filter_python_spark.operators.graph import pagerank
        from gbif_filter_python_spark.plans.inspect import jobs_run

        df = spark.createDataFrame(self.EDGES, "src long, dst long")

        def jobs(n_iter):
            return jobs_run(spark,
                            lambda: pagerank(df, n_iter=n_iter).collect())

        # one round: the edge-rank join's two exchanges, the
        # aggregate's exchange and the checkpoint (12 with a separate
        # dangling-mass probe and a second join against the nodes)
        with session_conf(spark, 4, True):
            assert jobs(4) - jobs(3) <= 5

    @pytest.mark.parametrize("op", ["connected_components", "k_core"])
    def test_probes_ride_the_checkpoints(self, spark, op):
        from gbif_filter_python_spark.operators import graph
        from gbif_filter_python_spark.plans.inspect import jobs_run

        df = _edges(spark, self.EDGES)
        kw = {"k": 2} if op == "k_core" else {}
        # 20 with a count()/isEmpty() job after each round's checkpoint
        with session_conf(spark, 4, True):
            assert jobs_run(
                spark, lambda: getattr(graph, op)(df, **kw).collect()) < 20


class TestTriangleCount:
    def _tc(self, spark, edges):
        from gbif_filter_python_spark.operators.graph import triangle_count

        df = spark.createDataFrame(edges, "src long, dst long")
        return {r.id: r.triangles for r in triangle_count(df).collect()}

    def test_k4_chain_and_star(self, spark):
        # K4: every node sits on C(3,2)=3 triangles.
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        assert self._tc(spark, k4) == {0: 3, 1: 3, 2: 3, 3: 3}
        # Chain has no triangles; every node reported with 0.
        assert self._tc(spark, [(0, 1), (1, 2), (2, 3)]) == {
            0: 0,
            1: 0,
            2: 0,
            3: 0,
        }
        # Star (hub 0): no triangles despite hub degree 5 — and the
        # degree orientation enumerates ZERO wedges at the hub.
        assert self._tc(spark, [(0, i) for i in range(1, 6)]) == {
            i: 0 for i in range(6)
        }

    def test_direction_duplicates_and_self_loops_ignored(self, spark):
        # Triangle given with mixed directions, a duplicate edge and a
        # self loop — still one triangle per node.
        edges = [(0, 1), (1, 0), (2, 1), (0, 2), (2, 2)]
        assert self._tc(spark, edges) == {0: 1, 1: 1, 2: 1}


class TestLabelPropagation:
    def _lp(self, spark, edges, n_iter=4):
        from gbif_filter_python_spark.operators.graph import (
            label_propagation,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r.id: r.label
            for r in label_propagation(df, n_iter=n_iter).collect()
        }

    def test_two_cliques_bridge(self, spark):
        # Two triangles joined by one bridge edge: each triangle
        # converges to its own min label (majority within the clique
        # outvotes the bridge).
        tri_a = [(0, 1), (1, 2), (0, 2)]
        tri_b = [(10, 11), (11, 12), (10, 12)]
        got = self._lp(spark, tri_a + tri_b + [(2, 10)])
        assert got[0] == got[1] == got[2]
        assert got[10] == got[11] == got[12]
        assert got[0] != got[10]

    def test_deterministic_across_runs(self, spark):
        import random

        rng = random.Random(3)
        edges = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(60)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert self._lp(spark, edges) == self._lp(spark, edges)


class TestKCore:
    def test_clique_with_pendant_chain(self, spark):
        from gbif_filter_python_spark.operators.graph import k_core

        # 4-clique {1,2,3,4} + chain 4-5-6 + pendant 7 on the clique
        edges = [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (4, 5), (5, 6), (4, 7),
        ]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        core3 = {
            r["id"]: r["core_degree"]
            for r in k_core(df, k=3).collect()
        }
        assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
        core2 = sorted(r["id"] for r in k_core(df, k=2).collect())
        assert core2 == [1, 2, 3, 4]  # the chain/pendant peel off

    def test_cascading_peel(self, spark):
        from gbif_filter_python_spark.operators.graph import k_core

        # path graph: every 2-core peel cascades from both ends;
        # result is empty (no cycle)
        edges = [(i, i + 1) for i in range(12)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        assert k_core(df, k=2).count() == 0
        # close it into a cycle: the whole ring is the 2-core
        ring = df.unionByName(
            spark.createDataFrame([(12, 0)], "id_a int, id_b int")
        )
        out = k_core(ring, k=2)
        assert out.count() == 13
        assert all(r["core_degree"] == 2 for r in out.collect())

    def test_parallel_edges_and_self_loops_ignored(self, spark):
        from gbif_filter_python_spark.operators.graph import k_core

        edges = [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3), (3, 1)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        # simple-graph view is triangle 1-2-3: all in the 2-core,
        # parallel/self edges add no degree
        out = {r["id"]: r["core_degree"] for r in k_core(df, k=2).collect()}
        assert out == {1: 2, 2: 2, 3: 2}


class TestKTruss:
    def test_clique_survives_bridge_peels(self, spark):
        from gbif_filter_python_spark.operators.graph import k_truss

        # two 4-cliques joined by one bridge edge (4,5): in the
        # 4-truss every clique edge has support 2; the bridge has 0
        c1 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        c2 = [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
        edges = c1 + c2 + [(4, 5)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        out = k_truss(df, k=4)
        got = sorted((r["id_a"], r["id_b"]) for r in out.collect())
        assert got == sorted(c1 + c2)
        assert all(r["support"] == 2 for r in out.collect())
        # 5-truss (support >= 3) kills everything: 4-cliques max out at 2
        assert k_truss(df, k=5).count() == 0

    def test_cascade_via_shared_triangle(self, spark):
        from gbif_filter_python_spark.operators.graph import k_truss

        # triangle 1-2-3 with pendant triangle 3-4-5 sharing node 3:
        # both triangles have per-edge support 1 -> 3-truss keeps both;
        # adding edge (2,4) doesn't create support>=2 edges either
        edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        out = k_truss(df, k=3)
        assert out.count() == 6
        assert all(r["support"] == 1 for r in out.collect())

    def test_canonicalization_and_self_loops(self, spark):
        from gbif_filter_python_spark.operators.graph import k_truss

        edges = [(2, 1), (3, 2), (1, 3), (1, 1), (3, 2)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        got = sorted(tuple(r) for r in k_truss(df, k=3).collect())
        assert got == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]

    def test_k2_keeps_triangle_free_edges_with_zero_support(self, spark):
        """ADVICE r4: with k<=2 (min_sup<=0) triangle-free edges
        survive, and their support must project as 0, never NULL —
        the (id_a, id_b, support) contract says support is a count."""
        from gbif_filter_python_spark.operators.graph import k_truss

        # a path (no triangles) plus one triangle
        edges = [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        got = {(r["id_a"], r["id_b"]): r["support"]
               for r in k_truss(df, k=2).collect()}
        assert got == {(1, 2): 0, (2, 3): 0,
                       (10, 11): 1, (10, 12): 1, (11, 12): 1}
        assert all(v is not None for v in got.values())


class TestConnectedComponentsStar:
    def test_matches_label_propagation_on_random_graphs(self, spark):
        import random

        from gbif_filter_python_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        for seed in (0, 1, 2):
            rng = random.Random(seed)
            edges = [
                (rng.randint(0, 60), rng.randint(0, 60)) for _ in range(40)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            df = spark.createDataFrame(edges, "id_a int, id_b int")
            a = sorted(tuple(r) for r in connected_components(df).collect())
            b = sorted(
                tuple(r) for r in connected_components_star(df).collect()
            )
            assert a == b, seed

    def test_long_chain_converges_in_log_rounds(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            connected_components_star,
        )

        # diameter-200 path: label propagation would need ~200 rounds;
        # star contraction must finish inside 15
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "id_a int, id_b int"
        )
        out = connected_components_star(chain, max_iterations=15).collect()
        assert len(out) == 201
        assert all(r["comp"] == 0 for r in out)

    def test_two_components_and_self_loops(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            connected_components_star,
        )

        edges = [(5, 3), (3, 9), (20, 21), (7, 7)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        got = {r["id"]: r["comp"] for r in
               connected_components_star(df).collect()}
        # Node 7's only edge is a self-loop: it must still be labeled
        # (id, comp=id), matching connected_components (ADVICE r4).
        assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 7: 7}

    def test_self_loop_only_graph(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        df = spark.createDataFrame([(4, 4), (8, 8)], "id_a int, id_b int")
        star = {(r["id"], r["comp"])
                for r in connected_components_star(df).collect()}
        prop = {(r["id"], r["comp"])
                for r in connected_components(df).collect()}
        assert star == {(4, 4), (8, 8)} == prop


class TestAdamicAdar:
    def test_hand_computed_square(self, spark):
        # square 1-2-3-4-1: diagonals (1,3) and (2,4) are the only
        # non-adjacent pairs; each shares two degree-2 neighbors
        # → aa = 2/ln(2).
        from gbif_filter_python_spark.operators.graph import adamic_adar

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
        )
        got = {
            (r["id_a"], r["id_b"]): r for r in adamic_adar(df).collect()
        }
        assert set(got) == {(1, 3), (2, 4)}
        import math

        expected = round(2 / math.log(2), 6)
        for r in got.values():
            assert r["common_neighbors"] == 2
            assert abs(r["aa_score"] - expected) < 1e-9

    def test_existing_edges_excluded_and_hub_weighting(self, spark):
        # star center 0 with leaves 1..4 plus edge (1,2): every leaf
        # pair shares hub 0 (deg 4 → weight 1/ln4); (1,2) is an
        # existing edge so it must NOT be predicted.
        from gbif_filter_python_spark.operators.graph import adamic_adar

        edges = [(0, i) for i in (1, 2, 3, 4)] + [(1, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["id_a"], r["id_b"]): r for r in adamic_adar(df).collect()
        }
        assert (1, 2) not in got
        assert set(got) == {(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
        import math

        w0 = 1 / math.log(4)
        # pairs (3,4),(1,4),(2,4),(1,3)... all share only the hub,
        # except none share more. (3,4) score = w0.
        assert abs(got[(3, 4)]["aa_score"] - round(w0, 6)) < 1e-9

    def test_center_degree_cap_drops_hub_wedges(self, spark):
        from gbif_filter_python_spark.operators.graph import adamic_adar

        edges = [(0, i) for i in (1, 2, 3, 4)] + [(1, 2), (2, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        # cap 3 removes hub 0 (deg 4) as a wedge center; node 2
        # (deg 3: 0,1,3) survives → only (1,3) via center 2.
        got = {
            (r["id_a"], r["id_b"]): r
            for r in adamic_adar(df, max_center_degree=3).collect()
        }
        assert set(got) == {(1, 3)}
        import math

        assert abs(
            got[(1, 3)]["aa_score"] - round(1 / math.log(3), 6)
        ) < 1e-9


class TestHarmonicCentrality:
    def test_path_graph_hand_values(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            harmonic_centrality,
        )

        # path 1-2-3-4: harmonic(1) = 1 + 1/2 + 1/3; harmonic(2) = 1+1+1/2
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long"
        )
        got = {
            r["id"]: r for r in harmonic_centrality(df, max_hops=4).collect()
        }
        assert abs(got[1]["harmonic"] - (1 + 0.5 + 1 / 3)) < 1e-6
        assert abs(got[2]["harmonic"] - 2.5) < 1e-6
        assert got[1]["n_reached"] == 3

    def test_hop_bound_truncates(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            harmonic_centrality,
        )

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long"
        )
        got = {
            r["id"]: r for r in harmonic_centrality(df, max_hops=1).collect()
        }
        # 1 hop: degree only
        assert got[1]["harmonic"] == 1.0 and got[1]["n_reached"] == 1
        assert got[2]["harmonic"] == 2.0

    def test_shortest_distance_wins_on_cycle(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            harmonic_centrality,
        )

        # triangle + pendant: d(4,2)=2 via 1 even though a 3-hop walk
        # exists; every pair counted once at its shortest distance
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (1, 4)], "src long, dst long"
        )
        got = {
            r["id"]: r for r in harmonic_centrality(df, max_hops=4).collect()
        }
        assert abs(got[4]["harmonic"] - (1 + 0.5 + 0.5)) < 1e-6
        assert got[4]["n_reached"] == 3


class TestAssortativity:
    def test_star_is_maximally_disassortative(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            degree_assortativity,
        )

        edges = [(0, i) for i in (1, 2, 3, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        (r,) = degree_assortativity(df).collect()
        assert (r["n_nodes"], r["n_edges"]) == (5, 4)
        assert r["assortativity"] == -1.0

    def test_regular_graph_undefined(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            degree_assortativity,
        )

        # 4-cycle: every degree 2 -> zero variance -> NULL, not 0
        edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        (r,) = degree_assortativity(df).collect()
        assert r["assortativity"] is None

    def test_two_cliques_bridged_positive_tendency(self, spark):
        from gbif_filter_python_spark.operators.graph import (
            degree_assortativity,
        )

        # two triangles joined by one bridge edge: like-degree nodes
        # mostly attach to each other -> r > -1 and computable
        edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        (r,) = degree_assortativity(df).collect()
        assert r["n_edges"] == 7
        assert -1.0 < r["assortativity"] < 1.0
