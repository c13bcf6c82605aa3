"""Seeded-graph semantics for kcore_peel and link_prediction
(operators/graph.py). The gated queries (graph_kcore, link_prediction)
pin SQL-twin equivalence on the KG; these pin convergence and the
hub-cap/threshold behavior on graphs built to exercise them."""

import pytest

from gfftoneo4j_spark.operators.graph import kcore_peel, link_prediction


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u string, v string")


# 4-clique {a,b,c,d} with a pendant chain d-e-f-g hanging off it
CLIQUE_CHAIN = [
    ("a", "b"), ("a", "c"), ("a", "d"),
    ("b", "c"), ("b", "d"), ("c", "d"),
    ("d", "e"), ("e", "f"), ("f", "g"),
]


def test_kcore_peels_chain_keeps_clique(spark):
    out = {
        r["node"]: r["degree"]
        for r in kcore_peel(_edges(spark, CLIQUE_CHAIN), k=3, rounds=3).collect()
    }
    # k=3: g(deg1) drops round 1, f then e cascade; the clique is the
    # 3-core and every member keeps its in-core degree 3
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_cascade_needs_rounds(spark):
    # after ONE round only g is gone and f has degree 1 — fixed-round
    # semantics are exactly "rounds" synchronous prunes, not a fixpoint
    out = {
        r["node"]: r["degree"]
        for r in kcore_peel(_edges(spark, CLIQUE_CHAIN), k=2, rounds=1).collect()
    }
    assert "g" not in out and out["f"] == 1
    # round 2 prunes f (its degree dropped to 1 AFTER round 1) but must
    # still keep e: e's degree at the START of round 2 is 2 (d and f)
    out2 = {
        r["node"]: r["degree"]
        for r in kcore_peel(_edges(spark, CLIQUE_CHAIN), k=2, rounds=2).collect()
    }
    assert set(out2) == {"a", "b", "c", "d", "e"}
    assert out2["e"] == 1  # residual: only the d-e edge remains
    # the chain's cascade depth is 3 — round 3 reaches the k=2 fixpoint
    out3 = {
        r["node"]: r["degree"]
        for r in kcore_peel(_edges(spark, CLIQUE_CHAIN), k=2, rounds=3).collect()
    }
    assert set(out3) == {"a", "b", "c", "d"}
    assert out3["d"] == 3  # d lost only its pendant edge


def test_kcore_whole_graph_survives_k1(spark):
    out = kcore_peel(_edges(spark, CLIQUE_CHAIN), k=1, rounds=3).collect()
    assert {r["node"] for r in out} == set("abcdefg")


def test_kcore_frees_superseded_checkpoints(spark, registered_by):
    """Each round frees the checkpoint it supersedes; only the last
    round, which the answer reads, stays registered (the parent left 4
    at rounds=3)."""
    assert registered_by(lambda: kcore_peel(_edges(spark, CLIQUE_CHAIN), k=2, rounds=3)) <= 1


def test_link_prediction_scores_and_excludes_existing_edges(spark):
    # x and y share neighbors m1, m2 and are NOT adjacent -> candidate;
    # x and m1 ARE adjacent -> never a candidate whatever they share
    pairs = [
        ("x", "m1"), ("x", "m2"),
        ("y", "m1"), ("y", "m2"),
        ("x", "z"),
    ]
    out = {
        (r["a"], r["b"]): r
        for r in link_prediction(
            _edges(spark, pairs), min_common=2, hub_cap=64
        ).collect()
    }
    # the wedge view is symmetric: m1/m2 share {x, y} exactly as x/y
    # share {m1, m2}; both non-adjacent pairs are candidates
    assert set(out) == {("x", "y"), ("m1", "m2")}
    r = out[("x", "y")]
    # deg(x)=3 {m1,m2,z}, deg(y)=2 {m1,m2}, common=2 -> 2/(3+2-2)
    assert r["common"] == 2
    assert r["jaccard"] == pytest.approx(2 / 3, abs=1e-6)
    # deg(m1)=deg(m2)=2, common=2 -> perfectly interchangeable nodes
    assert out[("m1", "m2")]["jaccard"] == pytest.approx(1.0, abs=1e-6)


def test_link_prediction_hub_cap_drops_hub_evidence(spark):
    # p and q share only the hub h (degree 5 > cap 4): no candidate;
    # raising the cap reinstates it (common=1 via min_common=1)
    pairs = [("p", "h"), ("q", "h"), ("r1", "h"), ("r2", "h"), ("r3", "h")]
    lo = link_prediction(
        _edges(spark, pairs), min_common=1, hub_cap=4
    ).collect()
    assert lo == []
    hi = {
        (r["a"], r["b"]) for r in link_prediction(
            _edges(spark, pairs), min_common=1, hub_cap=64
        ).collect()
    }
    assert ("p", "q") in hi
