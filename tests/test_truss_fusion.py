"""Tests for truss_peel (hand graphs), edit_distance_pairs, rrf_fusion
and l_diversity_audit recomputation."""

from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.graph import four_clique_counts, truss_peel
from gfftoneo4j_spark.queries import QUERIES
from gfftoneo4j_spark.sources.transcripts import load_table


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_truss_k4_keeps_clique_drops_pendant(spark):
    # K4 on {0,1,2,3}: every edge in 2 triangles -> survives k=4.
    # Pendant 3-4: support 0 -> peeled round 1.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = truss_peel(_edges(spark, k4 + [(3, 4)]), k=4, rounds=2).collect()
    kept = {(r["u"], r["v"]): r["support"] for r in got}
    assert set(kept) == set(k4)
    assert all(s == 2 for s in kept.values())


def test_truss_cascade_needs_second_round(spark):
    # triangle {0,1,2} + edge (2,3) in exactly one triangle {1,2,3}
    # with (1,3). k=4: round 1 drops every edge with support < 2 —
    # (0,1),(0,2) have support 1, (1,2) has 2, (1,3),(2,3) have 1.
    # After round 1 only (1,2) remains; round 2 recount gives it
    # support 0 -> dropped. Bounded 2-round peel returns empty.
    e = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    got = truss_peel(_edges(spark, e), k=4, rounds=2).collect()
    assert got == []


def test_truss_k3_is_triangle_closure(spark):
    # k=3 keeps exactly edges in >= 1 triangle
    e = [(0, 1), (0, 2), (1, 2), (2, 3)]
    got = truss_peel(_edges(spark, e), k=3, rounds=2).collect()
    assert {(r["u"], r["v"]) for r in got} == {(0, 1), (0, 2), (1, 2)}


def test_truss_frees_superseded_checkpoints(spark, registered_by):
    """Each round frees the edge set and degree orientation it
    supersedes: the answer reads the last edge set and its orientation
    (the parent left 6-8 at rounds=3)."""
    tri = [(3 * c + i, 3 * c + (i + 1) % 3) for c in range(4) for i in range(3)]
    quad = [(12 + 4 * c + i, 12 + 4 * c + (i + 1) % 4) for c in range(3) for i in range(4)]
    e = _edges(spark, tri + quad)
    assert registered_by(lambda: truss_peel(e, k=3, rounds=3)) <= 2
    got = truss_peel(e, k=3, rounds=3).collect()
    assert sorted((r["u"], r["v"], r["support"]) for r in got) == sorted(
        (min(a, b), max(a, b), 1) for a, b in tri
    )


def test_four_cliques_k5(spark):
    # K5: C(5,4) = 5 distinct 4-cliques; every node sits in
    # C(4,3) = 4 of them.
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    got = four_clique_counts(_edges(spark, k5)).collect()
    assert {r["node"]: r["n_cliques4"] for r in got} == {
        n: 4 for n in range(5)
    }


def test_four_cliques_shared_triangle_and_pendant(spark):
    # Two K4s {0,1,2,3} and {1,2,3,4} glued on triangle {1,2,3}
    # (no 0-4 edge), plus pendant 4-5. Exactly two 4-cliques; the
    # glue nodes are in both, the tips in one, the pendant in none.
    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = sorted(set(k4a + k4b)) + [(4, 5)]
    got = four_clique_counts(_edges(spark, e)).collect()
    assert {r["node"]: r["n_cliques4"] for r in got} == {
        0: 1, 1: 2, 2: 2, 3: 2, 4: 1,
    }


def test_four_cliques_none_in_triangle_only_graph(spark):
    # A triangle plus a chord-free cycle has triangles but no K4.
    e = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 0)]
    assert four_clique_counts(_edges(spark, e)).collect() == []


def test_edit_distance_blocking_and_threshold(spark, sf_dir):
    rows = QUERIES["edit_distance_pairs"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 24).alias("title"),
        F.substring("text", 1, 12).alias("blk"),
    )
    lookup = {r["doc_id"]: (r["title"], r["blk"]) for r in d.collect()}
    assert rows
    for r in rows:
        ta, ba = lookup[r["id_a"]]
        tb, bb = lookup[r["id_b"]]
        assert ba == bb, "pair crosses a block"
        assert r["id_a"] < r["id_b"]
        assert 0 <= r["dist"] <= 6
        # python-side levenshtein recompute
        import numpy as np

        la, lb = len(ta), len(tb)
        dp = np.arange(lb + 1)
        for i in range(1, la + 1):
            prev = dp.copy()
            dp[0] = i
            for j in range(1, lb + 1):
                dp[j] = min(
                    prev[j] + 1,
                    dp[j - 1] + 1,
                    prev[j - 1] + (ta[i - 1] != tb[j - 1]),
                )
        assert r["dist"] == int(dp[lb])


def test_rrf_recompute(spark, sf_dir):
    rows = QUERIES["rrf_fusion"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = 0
        if r["rank_a"] > 0:
            expect += 1000000000 // (60 + r["rank_a"])
        if r["rank_b"] > 0:
            expect += 1000000000 // (60 + r["rank_b"])
        assert r["rrf_fp"] == expect
        assert r["rank_a"] > 0 or r["rank_b"] > 0
    # both lists are capped at 200
    assert max(r["rank_a"] for r in rows) <= 200
    assert max(r["rank_b"] for r in rows) <= 200


def test_l_diversity_flags_match_recount(spark, sf_dir):
    rows = QUERIES["l_diversity_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["violates_l3"] == (1 if r["n_sensitive"] < 3 else 0)
        assert r["group_n"] >= r["n_sensitive"]
