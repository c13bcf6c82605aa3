"""pagerank_fixed_point: exact integer semantics, hand-checkable on a
star, and bit-identical under different partitionings (the property the
integer formulation exists to guarantee)."""

import pytest

from gfftoneo4j_spark.operators.graph import pagerank_fixed_point


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_star_graph_exact_values(spark):
    # 5 leaves -> hub. r0 = 1e6 everywhere.
    # r1(hub) = 150000 + 5 * floor(1e6 * 85 / 100)    = 4_400_000
    # r1(leaf) = 150000 (no in-edges)
    # r2(hub) = 150000 + 5 * floor(150000 * 85 / 100) = 787_500
    # r3(hub) = r2(hub) (leaves stay at 150000)
    edges = spark.createDataFrame(
        [(f"leaf{i}", "hub") for i in range(5)], "u string, v string"
    )
    assert _ranks(pagerank_fixed_point(edges, iters=1))["hub"] == 4_400_000
    r3 = _ranks(pagerank_fixed_point(edges, iters=3))
    assert r3["hub"] == 787_500
    assert all(v == 150_000 for k, v in r3.items() if k != "hub")


def test_partition_invariance_bit_exact(spark):
    # the integer fixed-point recurrence must give IDENTICAL ranks no
    # matter how the edges are partitioned — the determinism a float
    # formulation cannot promise
    rows = [(f"n{i}", f"n{(i * 7 + 3) % 50}") for i in range(200)]
    edges = spark.createDataFrame(rows, "u string, v string")
    a = _ranks(pagerank_fixed_point(edges.coalesce(1), iters=3))
    b = _ranks(pagerank_fixed_point(edges.repartition(17, "v"), iters=3))
    assert a == b


def test_triangle_counts_k4_plus_star(spark):
    """K4: every vertex sits in C(3,2)=3 triangles. A star hub of any
    degree sits in none — the degree-orientation keeps its wedge work
    bounded AND its count zero."""
    from gfftoneo4j_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    star = [("hub", f"leaf{i}") for i in range(20)]
    edges = spark.createDataFrame(k4 + star, "u string, v string")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_counts_direction_and_dup_invariant(spark):
    """Reversed / duplicated edges are the same undirected graph."""
    from gfftoneo4j_spark.operators.graph import triangle_counts

    tri = [("x", "y"), ("y", "z"), ("z", "x")]
    messy = tri + [(b, a) for a, b in tri] + tri
    edges = spark.createDataFrame(messy, "u string, v string")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {"x": 1, "y": 1, "z": 1}


def test_pagerank_iteration_is_single_exchange_at_scale(spark):
    """Freeze the loop's plan shape in the regime where ranks can't
    broadcast (the 10^12-node case): with broadcast disabled, one
    iteration's plan must contain exactly ONE hash exchange (the
    contribution groupBy). The edge snapshot is pre-partitioned on the
    join key before its eager checkpoint, so neither join re-shuffles
    it — measured 2 -> 1 exchanges from that one repartition."""
    import re

    from gfftoneo4j_spark.operators.graph import pagerank_fixed_point

    edges = spark.range(0, 2000).selectExpr(
        "cast(id % 499 as string) as u", "cast((id * 7) % 499 as string) as v"
    )
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ranks = pagerank_fixed_point(edges, iters=1)
        plan = ranks._jdf.queryExecution().executedPlan().toString()
        # loop state is columnar cache now: the plan TEXT nests each
        # cached relation's full (never re-executed) lineage under its
        # InMemoryTableScan — prune those subtrees by indentation and
        # count only exchanges that actually run in the round
        live, skip_beyond = [], None

        def _depth(ln):
            return len(ln) - len(ln.lstrip(" :+-*("))

        for ln in plan.splitlines():
            d = _depth(ln)
            if skip_beyond is not None and d > skip_beyond:
                continue
            skip_beyond = None
            if "InMemoryTableScan" in ln:
                skip_beyond = d
                continue
            live.append(ln)
        n_exchanges = len(
            re.findall(r"Exchange hashpartitioning", "\n".join(live))
        )
        assert n_exchanges <= 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_personalized_pagerank_mass_only_from_seeds(spark):
    # star: s -> a, s -> b, plus isolated-from-seed chain x -> y.
    # Seeding {s}: x gets NO teleport and NO inflow -> rank 0; y gets
    # only x's (zero) contribution -> 0; a and b split s's damped mass.
    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("x", "y")], "u string, v string"
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    from gfftoneo4j_spark.operators.graph import pagerank_fixed_point

    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, iters=3, seeds=seeds).collect()
    }
    assert got["x"] == 0 and got["y"] == 0
    assert got["a"] == got["b"] > 0
    assert got["s"] >= 150000  # seed keeps its teleport share

    # seeds=None stays the global variant: everyone holds base mass
    glob = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, iters=3).collect()
    }
    assert min(glob.values()) >= 150000


def _logical_joins(df):
    """Join nodes in the frame's logical plan (shared subtrees counted
    once per reference, as the analyzer sees them)."""
    stack, n = [df._jdf.queryExecution().logical()], 0
    while stack:
        node = stack.pop()
        n += node.nodeName() == "Join"
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def _lineage_graph(spark):
    return spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 30}") for i in range(60)],
        "u string, v string",
    )


@pytest.mark.parametrize(
    "op",
    [
        "pagerank_fixed_point",
        "label_propagation",
        "katz_centrality",
        "hits_fixed_point",
    ],
)
def test_loop_lineage_is_truncated(spark, op):
    """Persisted loop state keeps its lineage, so every rank-style loop
    must truncate it periodically: the returned frame's logical plan
    holds the same number of joins after 7 rounds as after 13, instead
    of growing with each round."""
    from gfftoneo4j_spark.operators import graph

    edges = _lineage_graph(spark)
    fn = getattr(graph, op)
    assert _logical_joins(fn(edges, iters=7)) == _logical_joins(
        fn(edges, iters=13)
    )


@pytest.mark.parametrize("iters", [3, 7])
@pytest.mark.parametrize("op", ["global", "seeds", "weight", "lpa", "katz"])
def test_driver_loops_release_their_caches(spark, op, iters):
    """A fixed-point loop leaves at most one cached frame behind, the one
    its answer reads: superseded rounds and the loop invariants are
    released. "At most" because the ContextCleaner may free unrelated
    blocks while the op runs."""
    from pyspark.sql import functions as F

    from gfftoneo4j_spark.operators import graph

    edges = _lineage_graph(spark)
    seeds = spark.createDataFrame([("n3",), ("n10",)], "seed string")
    fn = {
        "global": lambda: pagerank_fixed_point(edges, iters=iters),
        "seeds": lambda: pagerank_fixed_point(edges, iters=iters, seeds=seeds),
        "weight": lambda: pagerank_fixed_point(
            edges.distinct().withColumn("w", F.length("u")),
            iters=iters,
            weight="w",
        ),
        "lpa": lambda: graph.label_propagation(edges, iters=iters),
        "katz": lambda: graph.katz_centrality(edges, iters=iters),
    }[op]
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    fn().collect()
    assert jsc.getPersistentRDDs().size() - before <= 1
