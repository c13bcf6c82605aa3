"""scc_coloring vs a hand-written iterative Tarjan on random digraphs,
plus structural cases (cycle + tail, two cycles bridged one-way)."""

import numpy as np
from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.graph import scc_coloring


def _tarjan(n_nodes, edges):
    """Iterative Tarjan; returns {node: min-member scc id}."""
    adj = {i: [] for i in range(n_nodes)}
    for u, v in edges:
        if u != v:
            adj[u].append(v)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    result = {}
    counter = [0]
    for root in range(n_nodes):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    result[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return result


def _run(spark, n_nodes, edges, prop_rounds=12, max_outer=None):
    e = spark.createDataFrame(edges or [(0, 0)], "u long, v long")
    nodes = spark.range(n_nodes).select(F.col("id").alias("i"))
    got = scc_coloring(
        e,
        nodes=nodes,
        prop_rounds=prop_rounds,
        max_outer=max_outer or n_nodes,
    ).collect()
    return {r["node"]: r["scc_id"] for r in got}


def test_scc_cycle_with_tail(spark):
    # 0->1->2->0 cycle, 2->3->4 tail: SCCs {0,1,2},{3},{4}
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    got = _run(spark, 5, edges)
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}


def test_scc_two_cycles_one_way_bridge(spark):
    # cycles {0,1} and {2,3}, bridge 1->2 only: stays two SCCs
    edges = [(0, 1), (1, 0), (2, 3), (3, 2), (1, 2)]
    got = _run(spark, 4, edges)
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}

    # add the back bridge 3->0: everything merges
    got2 = _run(spark, 4, edges + [(3, 0)])
    assert got2 == {0: 0, 1: 0, 2: 0, 3: 0}


def test_scc_random_digraphs_match_tarjan(spark):
    for seed in (3, 17, 42):
        rng = np.random.RandomState(seed)
        n = 12
        edges = sorted(
            {
                (int(rng.randint(0, n)), int(rng.randint(0, n)))
                for _ in range(28)
            }
        )
        edges = [(u, v) for u, v in edges if u != v]
        expect = _tarjan(n, edges)
        got = _run(spark, n, edges)
        assert got == expect, f"seed {seed}"


def test_scc_isolated_nodes_are_singletons(spark):
    got = _run(spark, 4, [(0, 1)])
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_scc_keeps_only_its_extracted_pieces(spark, registered_by):
    """Each outer round frees its edge snapshot, colours and reach
    pieces, and the active set it read: what stays is one extracted
    piece per round. The descending chain 2 -> 1 -> 0 takes three
    rounds, one singleton each, and exhausts ``max_outer`` (the parent
    left 26)."""
    e = spark.createDataFrame([(2, 1), (1, 0)], "u long, v long")

    def run():
        return scc_coloring(e, prop_rounds=3, max_outer=3)

    assert registered_by(run) <= 3
    assert {r["node"]: r["scc_id"] for r in run().collect()} == {0: 0, 1: 1, 2: 2}
