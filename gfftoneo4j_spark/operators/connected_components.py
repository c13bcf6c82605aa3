"""Distributed connected components: alternating large-star / small-star.

The reference resolves entity duplication by a per-record recursive
parent walk (GeneReader.scala:165-175) — unbounded recursion on one
thread. At 10^12-turn scale the same problem is connected components
over the same-as edge set; we use the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond"),
which converges in O(log n) rounds and is expressible purely as
join + min-aggregate — no collect_set of neighbor lists, so a
hot node with 10^8 neighbors never materializes an array (skew safety;
AQE skew-join handles the join side).

Node ids are any orderable type (we use strings); the component id is
the minimum node id in the component, matching oracle.canonical_map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.graph import _drop_checkpoint


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return edges.unionByName(rev)


def _min_neighbor(sym: DataFrame) -> DataFrame:
    """Per node u: m = min(neighbors(u) ∪ {u}). Map-side combinable."""
    return (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly larger neighbor of u to min(Γ⁺(u))."""
    sym = _symmetrize(edges)
    mins = _min_neighbor(sym)
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small, connect u and its smaller neighbors to
    the minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = _min_neighbor(oriented)
    out = oriented.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        out.unionByName(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


MOD = 1_000_000_007


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive edge-set signature, overflow-safe to ~10^15
    edges under ANSI mode: per-hash-bucket partial sums are each
    re-reduced mod M before the final (<=65536-value) sum, so no
    running LongType sum ever exceeds ~(edges/65536) * M.

    Buckets key on the FULL edge hash, not xxhash64(u): hashing only
    the source would land every edge of a high-degree hub in one
    bucket, and that bucket's running sum overflows at ~9.2e9 edges on
    one node — star graphs are exactly the shape large-star/small-star
    produces. The full-edge hash spreads population uniformly
    regardless of degree skew."""
    h = F.pmod(F.xxhash64(F.concat_ws("|", "u", "v")), F.lit(MOD))
    partials = edges.groupBy(
        F.pmod(F.xxhash64(F.concat_ws("|", "u", "v")), F.lit(65536)).alias(
            "bucket"
        )
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.pmod(F.sum(h), F.lit(MOD)).alias("ph"),
    )
    row = partials.select(
        F.coalesce(F.sum("pn"), F.lit(0)).alias("n"),
        F.coalesce(F.pmod(F.sum("ph"), F.lit(MOD)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_union_find(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side union-find for edge sets under the local threshold."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 50,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Return (node string, component string) for every node that appears
    in ``edges``. Component id = min node id in the component.

    Adaptive execution, same spirit as Spark's broadcast-join threshold:
    an edge set under ``local_threshold`` is solved with driver-side
    union-find in one collect (the entity same-as graph is dictionary-
    sized by design), and the edge snapshot is freed once collected;
    anything larger runs the distributed
    large-star/small-star loop. Pass ``local_threshold=0`` to force the
    distributed path. Each distributed round localCheckpoints the
    shrinking edge set: truncates lineage and re-balances partitions.
    Once the next round's checksum has filled its checkpoint, the
    superseded round is freed; the answer reads only the last round and
    the initial snapshot.

    The answer is sorted by ``node`` within each partition, as the
    loop driver's in operators/graph.py are; the distributed path's
    final join reads no cache, so AQE already sizes it to its data.
    """
    cur = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
        # materialize ONCE, before the size probe: the probe and (when
        # taken) the distributed loop's round 0 both read this snapshot
        # instead of recomputing the upstream distinct from scratch
        .localCheckpoint(eager=True)
    )
    if local_threshold > 0:
        head = cur.limit(local_threshold + 1).collect()
        if len(head) <= local_threshold:
            # the answer is driver rows: nothing reads the snapshot again
            _drop_checkpoint(cur)
            spark = edges.sparkSession
            out = sorted(_local_union_find([(r["u"], r["v"]) for r in head]))
            return spark.createDataFrame(out, "node string, component string")

    # reads the checkpointed `cur` twice, once per branch of the union —
    # cheap, and used exactly once at the end, so no checkpoint of its own
    all_nodes = (
        cur.select(F.col("u").alias("node"))
        .unionByName(cur.select(F.col("v").alias("node")))
        .distinct()
    )
    prev_sig = _checksum(cur)
    if prev_sig[0] == 0:
        return all_nodes.select("node", F.col("node").alias("component"))
    converged = False
    snapshot = cur
    for _ in range(max_iter):
        # LAZY checkpoint: the checksum job materializes it as a side
        # effect — ONE Spark job per round instead of two (checkpoint
        # then checksum), halving the loop's fixed cost; lineage is
        # still truncated for the next round's plan
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        sig = _checksum(nxt)
        if cur is not snapshot:  # all_nodes still reads the snapshot
            _drop_checkpoint(cur)
        cur = nxt
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # exiting silently here would hand back WRONG components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds (expected O(log n)); raise "
            "max_iter or inspect the edge set for pathological churn"
        )

    # Final assignment: component(u) = min(neighbors ∪ {u}) on the
    # converged star graph; isolated-by-convergence roots map to self.
    sym = _symmetrize(cur)
    comp = _min_neighbor(sym).select(
        F.col("u").alias("node"), F.col("m").alias("component")
    )
    return (
        all_nodes.join(comp, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
        .sortWithinPartitions("node")
    )
