"""CC operator vs a union-find oracle on seeded random graphs."""

import numpy as np

from gfftoneo4j_spark.operators.connected_components import connected_components
from gfftoneo4j_spark.oracle import canonical_map


def _uf_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {n: find(n) for n in parent}


import pytest


@pytest.mark.parametrize("threshold", [0, 100_000])
def test_cc_simple_chain(spark, threshold):
    edges = [("b", "a"), ("c", "b"), ("e", "d")]
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, local_threshold=threshold).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


@pytest.mark.parametrize("threshold", [0, 100_000])
def test_cc_random_graphs_match_union_find(spark, threshold):
    rng = np.random.default_rng(7)
    for trial in range(2):
        n = 60
        m = int(rng.integers(20, 120))
        edges = [
            (f"n{int(rng.integers(0, n)):03d}", f"n{int(rng.integers(0, n)):03d}")
            for _ in range(m)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            continue
        want = _uf_components(edges)
        df = spark.createDataFrame(edges, ["u", "v"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, local_threshold=threshold).collect()
        }
        assert got == want, f"trial {trial} mismatch"


def test_cc_matches_oracle_canonical_map(spark):
    alias_rows = [
        {"alias": "x", "entity_id": "E3", "entity_type": "t", "parent_id": "E1"},
        {"alias": "y", "entity_id": "E1", "entity_type": "t", "parent_id": "E0"},
        {"alias": "z", "entity_id": "E9", "entity_type": "t", "parent_id": None},
    ]
    canon = canonical_map(alias_rows)
    edges = [
        (r["entity_id"], r["parent_id"]) for r in alias_rows if r["parent_id"]
    ]
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    for node, comp in got.items():
        assert canon[node] == comp


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "u string, v string")
    assert connected_components(df).count() == 0


def test_cc_releases_superseded_round_checkpoints(spark):
    """The distributed loop frees each round's checkpoint once the next
    round's checksum has filled its own. What is left is what the answer
    reads: the initial snapshot (for the node set) and the last round.
    "At most" because the ContextCleaner may free unrelated RDDs while
    the op runs."""
    from pyspark.sql import functions as F

    path = spark.range(2000).select(
        F.format_string("n%04d", "id").alias("u"),
        F.format_string("n%04d", F.col("id") + 1).alias("v"),
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    got = connected_components(path, local_threshold=0).collect()
    assert len(got) == 2001 and {r["component"] for r in got} == {"n0000"}
    assert jsc.getPersistentRDDs().size() - before <= 2


def test_cc_local_path_frees_its_snapshot(spark, registered_by):
    """Under ``local_threshold`` the answer is driver rows, so the edge
    snapshot the size probe read is freed and nothing stays registered."""
    from pyspark.sql import functions as F

    e = spark.range(24).select(
        F.format_string("n%02d", "id").alias("u"),
        F.format_string("n%02d", (F.col("id") + 1) % 24).alias("v"),
    )
    assert registered_by(lambda: connected_components(e)) == 0
