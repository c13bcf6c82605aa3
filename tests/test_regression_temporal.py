"""Tests for the in-engine OLS fit (operators/regression.py) and the
time-respecting earliest-arrival operator (operators/graph.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.graph import temporal_earliest_arrival
from gfftoneo4j_spark.operators.regression import ols_fit_normal_eq


def test_ols_matches_numpy_lstsq(spark):
    # y = 3 + 2*x1 - x2 + small integer noise, two groups
    rows = []
    rng = np.random.RandomState(7)
    for g in ("a", "b"):
        off = 0 if g == "a" else 5
        for i in range(40):
            x1 = int(rng.randint(1, 50))
            x2 = int(rng.randint(1, 30))
            y = off + 3 + 2 * x1 - x2 + int(rng.randint(-2, 3))
            rows.append((g, y, x1, x2))
    df = spark.createDataFrame(rows, "g string, y long, x1 long, x2 long")
    got = {
        r["g"]: r
        for r in ols_fit_normal_eq(df, "y", "x1", "x2", "g").collect()
    }
    for g in ("a", "b"):
        sub = [(y, x1, x2) for gg, y, x1, x2 in rows if gg == g]
        A = np.array([[1.0, x1, x2] for _, x1, x2 in sub])
        yv = np.array([float(y) for y, _, _ in sub])
        w, *_ = np.linalg.lstsq(A, yv, rcond=None)
        assert got[g]["n"] == 40
        assert abs(got[g]["w0"] - w[0]) < 1e-4
        assert abs(got[g]["w1"] - w[1]) < 1e-4
        assert abs(got[g]["w2"] - w[2]) < 1e-4
        # near-exact linear relation -> R^2 close to 1
        assert got[g]["r2"] > 0.99


def test_ols_singular_group_dropped(spark):
    # constant x1 makes the normal matrix singular -> group omitted
    rows = [("s", i + 1, 5, 5) for i in range(10)] + [
        ("ok", 2 * i + 1, i, i * i % 7) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, y long, x1 long, x2 long")
    out = ols_fit_normal_eq(df, "y", "x1", "x2", "g").collect()
    assert [r["g"] for r in out] == ["ok"]


def _edges(spark, triples):
    return spark.createDataFrame(triples, "s long, t long, et long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "i long")


def test_temporal_respects_time_ordering(spark):
    # 1 -(t=10)-> 2 -(t=5)-> 3 : 3 NOT reachable (5 < 10)
    #            2 -(t=20)-> 3 : reachable at 20
    e = _edges(spark, [(1, 2, 10), (2, 3, 5), (2, 3, 20)])
    got = {
        (r["seed"], r["node"]): r["arrival"]
        for r in temporal_earliest_arrival(e, _seeds(spark, [1]), 3)
        .where(F.col("arrival") >= 0)
        .collect()
    }
    assert got == {(1, 2): 10, (1, 3): 20}


def test_temporal_earliest_not_fewest_hops(spark):
    # direct edge at t=100; 2-hop journey arrives at t=9 -> min wins
    e = _edges(spark, [(1, 4, 100), (1, 2, 3), (2, 4, 9)])
    got = {
        r["node"]: r["arrival"]
        for r in temporal_earliest_arrival(e, _seeds(spark, [1]), 4)
        .where(F.col("arrival") >= 0)
        .collect()
    }
    assert got[4] == 9


def test_temporal_strictly_increasing_required(spark):
    # equal timestamps do NOT chain (strict >)
    e = _edges(spark, [(1, 2, 7), (2, 3, 7)])
    got = {
        r["node"]
        for r in temporal_earliest_arrival(e, _seeds(spark, [1]), 3)
        .where(F.col("arrival") >= 0)
        .collect()
    }
    assert got == {2}


def test_temporal_matches_bruteforce_enumeration(spark):
    # random small temporal graph vs path enumeration in Python
    rng = np.random.RandomState(11)
    triples = [
        (int(rng.randint(0, 8)), int(rng.randint(0, 8)), int(rng.randint(1, 30)))
        for _ in range(40)
    ]
    triples = [(s, t, et) for s, t, et in triples if s != t]
    rounds = 4
    # TRUE path enumeration (no state collapsing): every time-increasing
    # journey of <= `rounds` hops from node 0, independent of the DP
    # recurrence the operator uses.
    best: dict = {}
    stack = [(0, -1, 0)]
    while stack:
        u, arr, hops = stack.pop()
        if hops == rounds:
            continue
        for s, t, et in triples:
            if s == u and et > arr:
                if et < best.get(t, 1 << 60):
                    best[t] = et
                stack.append((t, et, hops + 1))
    expect = dict(best)
    # the operator's seed-origin row (arrival=-1) absorbs any cyclic
    # re-arrival at the seed via min(), and the >=0 filter drops it —
    # same contract as the gate oracle's HAVING min(at) >= 0.
    expect.pop(0, None)
    got = {
        r["node"]: r["arrival"]
        for r in temporal_earliest_arrival(
            _edges(spark, triples), _seeds(spark, [0]), rounds
        )
        .where(F.col("arrival") >= 0)
        .collect()
    }
    assert got == expect


def test_temporal_frees_superseded_checkpoints(spark, registered_by):
    """Each round frees the state and frontier it supersedes, and the
    edge snapshot and last frontier go at the end: what stays is the
    final state, which the answer reads (the parent left 10 at
    rounds=4: the snapshot, the seed state and two per round)."""
    triples = [(i, (i * 5 + 1) % 12, (i * 7) % 23 + 1) for i in range(12)] + [
        (i, (i + 1) % 12, i + 2) for i in range(12)
    ]
    e, seeds = _edges(spark, triples), _seeds(spark, [0, 6])
    assert registered_by(lambda: temporal_earliest_arrival(e, seeds, rounds=4)) == 1
