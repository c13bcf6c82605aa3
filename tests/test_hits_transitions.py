"""Structural guarantees for graph_hits / turn_transitions /
delete_propagation beyond the SQL-twin gate: HITS score semantics and
partition invariance (the bit-exactness claim), probability-mass and
conservation invariants."""

import pytest
from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.graph import hits_fixed_point


def test_hits_star_graph_roles(spark):
    # u1,u2,u3 all point at w: w is the pure authority, u* pure hubs
    edges = spark.createDataFrame(
        [("u1", "w"), ("u2", "w"), ("u3", "w")], "u string, v string"
    )
    out = {r["node"]: (r["hub"], r["auth"]) for r in
           hits_fixed_point(edges, iters=2).collect()}
    assert out["w"][1] > 0 and out["w"][0] == 0  # authority, not hub
    hubs = {out[f"u{i}"] for i in (1, 2, 3)}
    assert len(hubs) == 1  # symmetric hubs tie exactly
    hub_score, auth_score = hubs.pop()
    assert hub_score > 0 and auth_score == 0


def test_hits_partition_invariant(spark):
    rows = [(f"n{i}", f"n{(i * 7) % 23}") for i in range(200)]
    edges = spark.createDataFrame(rows, "u string, v string")
    a = sorted(
        tuple(r) for r in hits_fixed_point(edges, iters=2).collect()
    )
    b = sorted(
        tuple(r)
        for r in hits_fixed_point(edges.repartition(13), iters=2).collect()
    )
    assert a == b  # integer fixed-point: bit-exact at any partitioning


@pytest.mark.parametrize("iters", [2, 4])
def test_hits_frees_superseded_checkpoints(spark, registered_by, iters):
    """Each half-round frees the checkpoint it read once its own is
    filled: what stays is what the answer reads, the node set and the
    last a and h (the parent left 5 at iters=2 and 8 at iters=4)."""
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 30}") for i in range(60)],
        "u string, v string",
    )
    assert registered_by(lambda: hits_fixed_point(edges, iters=iters)) <= 3


def test_turn_transitions_probability_mass(spark, sf_dir):
    from gfftoneo4j_spark.queries import QUERIES

    rows = QUERIES["turn_transitions"](spark, sf_dir).collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["prev_role"], []).append(r)
    for src, grp in by_src.items():
        assert abs(sum(g["p"] for g in grp) - 1.0) < 1e-4, src
    assert all(r["avg_latency_sec"] >= 0 for r in rows)
    assert all(r["max_latency_sec"] >= r["avg_latency_sec"] for r in rows)


def test_delete_propagation_conserves_rows(spark, sf_dir):
    from gfftoneo4j_spark.queries import QUERIES
    from gfftoneo4j_spark.sources.transcripts import load_table

    out = {r["tbl"]: (r["purged"], r["kept"]) for r in
           QUERIES["delete_propagation"](spark, sf_dir).collect()}
    for tbl in ("events", "customer", "orders"):
        purged, kept = out[tbl]
        assert purged + kept == load_table(spark, sf_dir, tbl).count()
    assert out["events"][0] > 0  # the tombstone set is non-empty
