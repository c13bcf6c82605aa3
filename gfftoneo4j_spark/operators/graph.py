"""Iterative graph analytics over the materialized KG.

The reference's end state is a Neo4j graph whose consumers run
traversals and centrality queries (GenesToNeo4j.scala:9-25 loads it for
exactly that); a replacement engine answers them natively over the
nodes/edges tables. Connected components lives in
operators/connected_components.py; this module holds the rank-style
iterative operators.

PageRank here is computed in INTEGER fixed-point (scale 10^6, damping
85/100 as exact integer multiply-then-floor-divide) rather than
doubles: floating-point summation order differs between engines and
between runs of a distributed sum, and iterating amplifies the
divergence past any rounding grain — integer arithmetic makes every
iteration bit-exact everywhere, so the operator is gateable against an
ANSI-SQL oracle and reproducible run-to-run at any cluster size.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _mat(df: DataFrame) -> DataFrame:
    """Materialize a frame as COLUMNAR cache (persist + count).

    Why not localCheckpoint: checkpoint blocks store deserialized
    row objects, and re-reading them every round is allocation /
    memory-bandwidth bound — the dominant cost of the rank-style
    loops once the joins are hash-based. A/B at 60M edges, 5 rounds:
    the loop body went 147.9s -> 73.0s at 1x8 and 113.8s -> 28.2s at
    4x8 (per-round 23s -> 5.5s) just by switching the loop state and
    invariants to compressed columnar InMemoryRelation, which also
    preserves outputPartitioning for the exchange-free SHJ.
    """
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out


def _drop_checkpoint(*dfs: DataFrame) -> None:
    """Free localCheckpoint frames' blocks now. A checkpoint is
    registered only as a persistent RDD, so ``df.unpersist()`` does
    nothing to it and the ContextCleaner frees it only after a JVM GC."""
    for df in dfs:
        df._jdf.queryExecution().logical().rdd().unpersist(False)


def _fixed_point(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    pinned: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """Run ``state = step(state)`` for ``rounds`` rounds from the lazy
    ``init`` and return the final state: the loop driver of PageRank,
    LPA and Katz, whose rounds read their state once.

    Every round's state is ``_mat``-ed. Deferring all rounds into one
    final mega-DAG made its stages race to materialize the same
    snapshots (A/B: 286s deferred vs 147s per-round at 4x8); every 2nd
    or 3rd round measured inside noise. From round 2 on, the state the
    round supersedes is released. Persist does NOT truncate lineage, so
    every 6th round the fresh cache is copied into a (cache-fed, cheap)
    eager localCheckpoint and released; the next round's cache spills
    to disk rather than dropping, so that round frees the checkpoint's
    blocks as well. After the last round the ``pinned`` invariants
    (2-3x |E| of columnar blocks) are released; the answer lives in
    the final state's cache.

    The rule for every other loop: state that a round reads TWICE (a
    frontier and its anti-join, an active set and its update) is an
    eager localCheckpoint per round, never ``_mat``-ed — a persisted
    frame keeps its lineage, so each round re-reads the earlier ones
    (scc_components went 5.2s -> 90.2s at sf0.01) — and per-round
    output is kept as pieces and unioned once (``_union_all``). So CC,
    k-core, truss, the SCC colour loop, ancestor closure, temporal
    arrival, KMV, wl_refinement and densest_subgraph_peel keep eager
    checkpoints; label_spreading too (through this driver it took 27
    -> 33 jobs at sf0.001 and sf0.01). deterministic_walks stays out,
    as every frontier is also an output piece, and so does HITS: the
    L1 sum it needs anyway materializes each half-round's lazy
    checkpoint in one job (a count-based driver took 39 -> 68 jobs).
    There is no ``until=`` probe or per-round record: no loop needs
    one (CC's checksum loop holds read-twice state).

    Output contract: the answer is sized to its data and sorted by
    ``node`` within each partition. The state keeps the fixed
    ``spark.sql.shuffle.partitions`` count (Spark plans cached frames
    with ``canChangeCachedPlanOutputPartitioning=false``), so a small
    answer would be written as one tiny hash-ordered file per shuffle
    partition. It is coalesced, with no shuffle, to ceil(materialized
    bytes / ``spark.sql.adaptive.advisoryPartitionSizeInBytes``)
    partitions, never to more than it has: a large answer keeps its
    partitioning. The size is the final state's own statistics, which
    after ``_mat`` (and a round-6 checkpoint, which keeps them) are
    the materialized size. Sorted ids share prefixes that v2 pages'
    DELTA_BYTE_ARRAY stores once: ``kg_analytics`` writes 0.10 bytes
    per input byte instead of 0.32; sorting alone gave 0.23, the
    coalesce alone 0.28. A caller that only reads the answer pays
    nothing: ``coalesce`` is narrow (no job), and Catalyst's
    EliminateSorts drops the sort under a join or an order-irrelevant
    aggregate. Rejected: a ``rebalance`` hint (one more |V| exchange
    per answer, which no rule removes under a join), and
    ``canChangeCachedPlanOutputPartitioning=true`` (PageRank 29 -> 35
    jobs, LPA 20 -> 23, same wall, and it breaks the exchange-free
    rounds co-partitioned on hash(u)).
    """
    state = init
    for i in range(1, rounds + 1):
        nxt = _mat(step(state))
        if i % 6 == 1 and i > 1:
            _drop_checkpoint(state)
        elif i > 1:
            state.unpersist(blocking=False)
        state = nxt
        if i % 6 == 0:
            state = nxt.localCheckpoint(eager=True)
            nxt.unpersist(blocking=False)
    for df in pinned:
        df.unpersist(blocking=False)
    spark = state.sparkSession
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    size = state._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    parts = max(1, -(-size // advisory))
    if parts < state.rdd.getNumPartitions():
        state = state.coalesce(parts)
    return state.sortWithinPartitions("node")


def _directed(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Directed edge set (u, v): null endpoints dropped, deduped. Lazy."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrized edge set (s, t): every edge in both directions,
    self-loops dropped, deduped. Lazy — each caller picks its own
    materialization. ``s != t`` is null-intolerant, so it also drops
    null endpoints (the optimizer infers the isNotNull filters)."""
    return (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .unionAll(edges.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        .where(F.col("s") != F.col("t"))
        .distinct()
    )


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set (a, b) with a < b: null endpoints
    and self-loops dropped, deduped. Lazy."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(a.alias("a"), b.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _endpoints(df: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct node set (node) over the two endpoint columns. Lazy."""
    return (
        df.select(F.col(a).alias("node"))
        .unionAll(df.select(F.col(b).alias("node")))
        .distinct()
    )


def _union_all(pieces: list[DataFrame]) -> DataFrame:
    """One lazy union of a loop's per-round pieces. Loops keep each
    round's output as its own piece and union once at the end:
    re-checkpointing a growing union copies every earlier round again
    in each round."""
    return reduce(DataFrame.unionAll, pieces)


def _frontier_reach(
    start: DataFrame, adj: DataFrame, key: list[str], rounds: int
) -> DataFrame:
    """The frontier loop of bfs_distances, multi_source_bfs and
    scc_coloring: ``start`` (*key, node, dist=0) expands over ``adj``
    (s, t) for ``rounds`` hops, each reach scoped by its ``key``
    columns. Each piece is (*key, node, dist), dist = first-discovery
    round.

    Per round the frontier (last round's discoveries) joins ``adj`` by
    column name — a DataFrame-qualified ``adj["t"]`` is an ambiguous
    self-join once frames keep their lineage — and anti-joins the
    pieces found so far. Each piece is an eager localCheckpoint, never
    a persisted (_mat) frame: a persisted frame keeps its lineage, and
    every round's plan reads the earlier rounds twice, through the
    frontier and through the visited pieces. Every round runs: an
    emptiness probe would cost a job in every round, more than the
    empty rounds it could skip. Returns the pieces, which the caller
    unions (``_union_all``) and may free once it has read them."""
    pieces = [start.localCheckpoint(eager=True)]
    step = adj.withColumnRenamed("s", "node")
    for depth in range(1, rounds + 1):
        reached = (
            pieces[-1].join(step, "node")
            .select(*key, F.col("t").alias("node"))
            .distinct()
        )
        pieces.append(
            reached.join(_union_all(pieces), [*key, "node"], "left_anti")
            .withColumn("dist", F.lit(depth))
            .localCheckpoint(eager=True)
        )
    return pieces


def _orient_edges(und: DataFrame) -> DataFrame:
    """Degree-orientation (compact-forward) of a canonical undirected
    edge set (a, b) with a < b, deduped: orient every edge from the
    endpoint with the SMALLER pi = (degree, id) to the larger, so
    out-degree is bounded by ~sqrt(2m) regardless of hub skew.
    Returns (x, y, dy) eagerly checkpointed — multiple consumers read
    it (wedge sides, closing probes, clique extensions); without the
    snapshot each re-derives the dedup + degree joins (plan audit on
    the gated triangle query: 30 exchanges without the snapshot, 3 in
    the post-snapshot plan that actually runs per consumer)."""
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    # pi(n) = (deg, id); orient low -> high so out-degree <= ~sqrt(2m)
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return keyed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("y"),
        F.when(lo_first, F.col("db")).otherwise(F.col("da")).alias("dy"),
    ).localCheckpoint(eager=True)


def _triangles_from_oriented(oriented: DataFrame) -> DataFrame:
    """Oriented triangles (x, y, z) with pi(x) < pi(y) < pi(z) from a
    degree-oriented edge set: wedge self-join at the oriented source
    (bounded by sqrt(2m) out-degree) closed by a probe against the
    oriented edges. Each triangle is produced exactly once."""
    e1 = oriented.select(F.col("x"), F.col("y"), F.col("dy"))
    e2 = oriented.select(
        F.col("x"), F.col("y").alias("z"), F.col("dy").alias("dz")
    )
    wedges = e1.join(e2, "x").where(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closing = oriented.select(
        F.col("x").alias("y"), F.col("y").alias("z")
    )
    return wedges.join(closing, ["y", "z"]).select("x", "y", "z")


def _enumerate_triangles(und: DataFrame) -> DataFrame:
    """Triangle enumeration over a canonical undirected edge set
    (a, b) with a < b, deduped: degree-orientation (compact-forward)
    so wedge fan-out is bounded by ~sqrt(2m) per node regardless of
    hub skew. Each triangle is produced exactly once as (x, y, z)
    with pi(x) < pi(y) < pi(z) under pi = (degree, id). Shared by
    triangle_counts and clustering coefficients; truss_peel keeps the
    orientation to free it."""
    return _triangles_from_oriented(_orient_edges(und))


def four_clique_counts(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Per-node 4-clique participation counts — the compact-forward
    triangle algorithm extended one level (Chiba-Nishizeki k-clique
    listing, relational form): enumerate oriented triangles
    (x, y, z) with pi(x) < pi(y) < pi(z), then extend each by the
    out-neighbors w of x (at most ~sqrt(2m) candidates under the
    orientation) and keep w that y and z also point to. Every
    4-clique {a, b, c, d} with pi(a) < pi(b) < pi(c) < pi(d) is
    produced exactly once — as its bottom triangle (a, b, c)
    extended by its top vertex d (any other triangle of the clique
    would need an edge INTO a lower-pi vertex, absent by
    construction).

    Scale shape: work is |triangles| x sqrt(2m) candidate rows, the
    Chiba-Nishizeki arboricity bound — no d^2 hub blowup; the three
    extension joins are equi-joins on (vertex, w) against the
    checkpointed oriented edge snapshot, and the final per-node count
    is one combinable groupBy.

    Returns (node string, n_cliques4 long), nodes in >= 1 4-clique.
    """
    und = _canonical_undirected(edges, src, dst)
    oriented = _orient_edges(und)
    tris = _triangles_from_oriented(oriented)
    ext_x = oriented.select(F.col("x"), F.col("y").alias("w"))
    ext_y = oriented.select(F.col("x").alias("y"), F.col("y").alias("w"))
    ext_z = oriented.select(F.col("x").alias("z"), F.col("y").alias("w"))
    quads = (
        tris.join(ext_x, "x")
        .join(ext_y, ["y", "w"])
        .join(ext_z, ["z", "w"])
    )
    corners = quads.select(
        F.explode(
            F.array(F.col("x"), F.col("y"), F.col("z"), F.col("w"))
        ).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_cliques4")
    )


def dag_longest_path_levels(
    edges: DataFrame, rounds: int, src: str = "s", dst: str = "t"
) -> DataFrame:
    """Topological levels of a DAG — level(v) = length of the longest
    path from any source (in-degree-0 node) to v, i.e. the earliest
    wave v can run in if every edge is a dependency (critical-path
    scheduling / dependency-stage assignment).

    Frontier relaxation, bounded: round r's frontier is the DISTINCT
    set of nodes reachable from a source in exactly r steps, so each
    round is one equi-join against the checkpointed edge snapshot plus
    a dedup — per-round rows are capped at |V|, never the path count,
    and the final level is one combinable max-aggregation over the
    r tags. `rounds` must be >= the DAG depth (callers that bound
    depth by construction pass that bound); fixed rounds keep the job
    count static, the same discipline as pagerank_fixed_point.

    Raises ValueError instead of returning quietly wrong levels when
    (a) the frontier would still advance after the final round — an
    under-provisioned ``rounds`` bound, or a cycle reachable from a
    source — or (b) some node never entered any frontier (a cycle
    component with no in-degree-0 ancestor; impossible on a true DAG,
    where every node descends from some source). Each check is one
    cheap limit-1 probe against the final checkpointed frontier /
    level set (ADVICE r05)."""
    e = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = _endpoints(e, "s", "t")
    targets = e.select(F.col("t").alias("node")).distinct()
    frontier = nodes.join(targets, "node", "left_anti").select(
        "node", F.lit(0).cast("long").alias("l")
    )
    pieces = [frontier]
    for r in range(1, rounds + 1):
        frontier = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("t").alias("node"), F.lit(r).cast("long").alias("l"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        pieces.append(frontier)
    if frontier.join(e, frontier["node"] == e["s"]).limit(1).count() > 0:
        raise ValueError(
            f"dag_longest_path_levels: frontier still advancing after "
            f"{rounds} rounds — rounds bound below the DAG depth, or a "
            "cycle reachable from a source"
        )
    # probe the RAW level union (checkpointed frontiers), not the
    # aggregated output — the anti-join needs only membership, and
    # probing the groupBy would recompute the whole aggregation for a
    # limit-1 answer
    levels = _union_all(pieces)
    if nodes.join(
        levels.select("node"), "node", "left_anti"
    ).limit(1).count() > 0:
        raise ValueError(
            "dag_longest_path_levels: node(s) unreachable from every "
            "in-degree-0 source — the input contains a cycle component "
            "and is not a DAG"
        )
    return levels.groupBy("node").agg(F.max("l").alias("level"))


def contract_chains(
    edges: DataFrame, src: str = "s", dst: str = "t"
) -> DataFrame:
    """Collapse every maximal chain of pass-through nodes (in-degree
    1 AND out-degree 1) into a single edge (u, v, path_len) — the
    graph-compaction step that turns a provenance/turn-sequence KG
    into its branching skeleton, shrinking storage and walk depth by
    the chain lengths while preserving reachability.

    Relational plan: degree filters mark interior nodes; edges whose
    BOTH endpoints are interior form disjoint simple paths (each
    interior node has unique pred/succ), so one connected-components
    call labels each chain; the unique entry edge (non-interior ->
    head) and exit edge (tail -> non-interior) of each chain meet on
    the component key, carrying path_len = interior_count + 1.
    Interior cycles have no entry/exit and are dropped; edges between
    two non-interior nodes pass through with path_len 1. Everything
    is equi-joins plus combinable degree/size counts; CC itself is
    the adaptive large-star/small-star operator."""
    from gfftoneo4j_spark.operators.connected_components import (
        connected_components,
    )

    e = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outd = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    ind = e.groupBy("t").agg(F.count(F.lit(1)).alias("id_"))
    interior = (
        ind.where(F.col("id_") == 1)
        .select(F.col("t").alias("node"))
        .join(
            outd.where(F.col("od") == 1).select(F.col("s").alias("node")),
            "node",
        )
    )
    s_int = interior.select(F.col("node").alias("s"), F.lit(1).alias("si"))
    t_int = interior.select(F.col("node").alias("t"), F.lit(1).alias("ti"))
    em = (
        e.join(s_int, "s", "left")
        .join(t_int, "t", "left")
        .select(
            "s",
            "t",
            F.coalesce(F.col("si"), F.lit(0)).alias("si"),
            F.coalesce(F.col("ti"), F.lit(0)).alias("ti"),
        )
    )
    mid = em.where((F.col("si") == 1) & (F.col("ti") == 1)).select("s", "t")
    cc = connected_components(mid, "s", "t")
    in_mid = _endpoints(mid, "s", "t")
    singles = interior.join(in_mid, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    comp = cc.union(singles)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_int")
    )
    entry = (
        em.where((F.col("si") == 0) & (F.col("ti") == 1))
        .select(F.col("s").alias("u"), F.col("t").alias("node"))
        .join(comp, "node")
        .select("u", "component")
    )
    exit_ = (
        em.where((F.col("si") == 1) & (F.col("ti") == 0))
        .select(F.col("s").alias("node"), F.col("t").alias("v"))
        .join(comp, "node")
        .select("component", "v")
    )
    contracted = (
        entry.join(exit_, "component")
        .join(sizes, "component")
        .select("u", "v", (F.col("n_int") + 1).alias("path_len"))
    )
    passthrough = em.where((F.col("si") == 0) & (F.col("ti") == 0)).select(
        F.col("s").alias("u"),
        F.col("t").alias("v"),
        F.lit(1).cast("long").alias("path_len"),
    )
    return contracted.union(passthrough)


def triangle_counts(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    the compact-forward / degree-orientation algorithm, relational.

    Naive triangle enumeration joins the edge list with itself on
    shared endpoints: a hub of degree d contributes d^2 wedge rows, so
    one celebrity node in a 10^12-edge graph explodes the join. The
    classic fix (Latapy's compact-forward; also how GraphX counts
    triangles) orients every edge from the endpoint with the SMALLER
    (degree, id) to the larger: out-degree under this orientation is
    bounded by ~sqrt(2m), so wedge generation — the only quadratic
    step — is bounded per node by sqrt(2m)^2 = 2m regardless of hub
    skew.

    Plan: canonicalize+dedup edges (one shuffle), degree aggregation
    (combinable), orient (two broadcast-or-shuffle joins against the
    degree table), wedge self-join on the oriented source, close each
    wedge with a semi-ish join against the oriented edge set, then
    explode each triangle to its 3 corners and count per node
    (combinable). Every triangle (x, y, z) with pi(x) < pi(y) < pi(z)
    is generated exactly once, as the wedge at x closed by y->z.

    Returns (node string, n_triangles long), nodes with >= 1 triangle.
    """
    und = _canonical_undirected(edges, src, dst)
    tris = _enumerate_triangles(und)
    corners = tris.select(
        F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "u",
    dst: str = "v",
    seeds: DataFrame | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Damped PageRank over directed ``edges``, integer fixed-point.

    ``weight`` (optional): name of a positive INTEGER multiplicity
    column on ``edges`` (pre-aggregated one row per (u, v) by the
    caller). The recurrence becomes
    floor(r_k(u) * damping_num * w / (damping_den * wout(u))) with
    wout(u) the node's total out-weight — identical plan shape, one
    extra multiply; with all weights 1 the result is bit-identical to
    the unweighted path (pytest-pinned). Integer weights keep the
    fixed-point exact; headroom: r * damping_num * w must stay under
    2^63 (w <= ~10^4 at scale 10^6 and hub in-rank ~10^12).

    r_0(n) = scale;
    r_{k+1}(n) = (1 - d) * scale + sum over in-edges (u -> n) of
                 floor(r_k(u) * damping_num / (damping_den * outdeg(u)))

    Returns (node string, rank long) after ``iters`` rounds. Dangling
    mass is dropped (not redistributed) — ranks are comparative
    scores, and the simplification keeps the recurrence exactly
    expressible in ANSI SQL for the correctness gate.

    Scale shape per iteration: one exchange-free SHUFFLE_HASH join of
    the pre-keyed edge snapshot against the current rank vector (the
    rank side builds, the edges stream unsorted), one map-side-
    combinable groupBy sum, and a left join back to the node set; the
    per-round columnar materialization (``_fixed_point``) keeps state
    compact and lineage is truncated every 6th round. Total ranks stay
    ~scale * |V|, so BIGINT holds to ~10^12 nodes.

    The loop invariants (deduped edges, node set, out-degrees) are
    materialized ONCE as columnar cache before the loop: computed
    lazily, each of the ``iters`` rounds re-ran the edge distinct and
    the degree aggregation from scratch (round-2 bench: 34.6s at sf0.1
    with the recompute, ~31% of the whole 22-query suite — pure fixed
    cost, not part of the recurrence). See ``_mat`` for the measured
    columnar-vs-checkpoint numbers.
    """
    cols = [F.col(src).alias("u"), F.col(dst).alias("v")]
    if weight is not None:
        cols.append(F.col(weight).cast("long").alias("w"))
    e = edges.select(*cols).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    if weight is None:
        # weighted callers pre-aggregate to one row per (u, v); the
        # unweighted path dedups here as before
        e = e.distinct()
    e = (
        e
        # re-key the snapshot on the per-round join key BEFORE
        # checkpointing: distinct() leaves hash(u, v) partitioning, so
        # every iteration would re-shuffle the edge table — the loop's
        # biggest input — to hash(u) for the rank join. One extra
        # exchange here buys zero edge exchanges per round
        # (localCheckpoint preserves outputPartitioning, and outdeg /
        # ranks arrive hash(u)-compatible from their own shuffles).
        # Verified on the physical plan with broadcast disabled (the
        # 10^12-node regime where ranks can't broadcast): 2 -> 1
        # Exchange per iteration. At gate scale the rank side
        # broadcasts, so this is wall-neutral locally and pays off
        # exactly when the graph is big.
        .repartition("u")
    )
    e = _mat(e)
    nodes = _endpoints(e, "u", "v")
    base = int(scale * (damping_den - damping_num) // damping_den)
    if seeds is not None:
        # Personalized PageRank: all initial mass AND the teleport term
        # go only to the seed set — ranks become proximity-to-seeds.
        # The seed marker rides the (cached) node vector, so the
        # per-iteration plan is IDENTICAL to the global variant: the
        # CASE on the marker replaces the constant, zero extra
        # exchanges. Same integer fixed-point, same unrolled oracle.
        sd = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .withColumn("is_seed", F.lit(True))
        )
        nodes = nodes.join(sd, "node", "left").select(
            "node", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
        )
        base_col = F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0))
        init_col = F.when(F.col("is_seed"), F.lit(scale)).otherwise(F.lit(0))
    else:
        base_col = F.lit(base)
        init_col = F.lit(scale)
    nodes = _mat(nodes)
    degagg = (
        F.sum("w") if weight is not None else F.count(F.lit(1))
    )
    outdeg = _mat(e.groupBy("u").agg(degagg.alias("deg")))

    def step(ranks: DataFrame) -> DataFrame:
        # Per-node quotient BEFORE the edge join (unweighted path): the
        # per-edge contribution (r * num) div (den * deg) depends only
        # on the SOURCE node, so compute it once per node by joining the
        # two hash(u)-co-partitioned |V| vectors (zero exchange) and
        # ship ONE column through the edge probe. This (a) halves the
        # per-edge hash-table passes (one build side instead of
        # rank + degree), (b) moves the 64-bit division off the |E|-row
        # path onto the |V|-row path, and (c) shrinks per-round state
        # bytes through the probe — the DRAM-bandwidth levers the
        # N-vs-4N scaling runs identified. Bit-identical by
        # construction: the same integer expression evaluated per
        # source node instead of per edge. The WEIGHTED path cannot
        # hoist the division (floor((r*num*w)/(den*deg)) != w*floor(..))
        # and keeps the two-build-side probe.
        if weight is None:
            qvec = (
                ranks.withColumnRenamed("node", "u")
                .join(outdeg.hint("shuffle_hash"), "u")
                .select(
                    "u",
                    F.expr(
                        f"(r * {damping_num}) div ({damping_den} * deg)"
                    ).alias("q"),
                )
            )
            contrib = (
                # SHUFFLE_HASH on the quotient side: SortMergeJoin
                # would re-SORT the checkpointed |E|-row snapshot every
                # iteration (measured: ~half of each round's wall at
                # 60M edges, the memory-bandwidth-bound step that
                # wrecked N-vs-4N scaling on one box). A hash join
                # builds each partition's |V|/P quotient map and
                # STREAMS the edges unsorted.
                e.join(qvec.hint("shuffle_hash"), "u").select(
                    F.col("v").alias("node"), F.col("q").alias("c")
                )
            )
        else:
            contrib = (
                e.join(
                    ranks.withColumnRenamed("node", "u").hint(
                        "shuffle_hash"
                    ),
                    "u",
                )
                .join(outdeg.hint("shuffle_hash"), "u")
                .select(
                    F.col("v").alias("node"),
                    F.expr(
                        f"(r * {damping_num} * w)"
                        f" div ({damping_den} * deg)"
                    ).alias("c"),
                )
            )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        return nodes.join(summed, "node", "left").select(
            "node",
            (base_col + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("r"),
        )

    init = nodes.select("node", init_col.cast("long").alias("r"))
    ranks = _fixed_point(init, step, iters, pinned=(e, nodes, outdeg))
    return ranks.select("node", F.col("r").alias("rank"))


def bfs_distances(
    edges: DataFrame,
    source: int,
    max_depth: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Single-source shortest hop distances (unweighted BFS) up to
    ``max_depth``, frontier-based.

    The scale-correct relational BFS expands only the FRONTIER (nodes
    first discovered last round), not the whole visited set: per round
    one equi-join frontier x edges + one anti-join against visited, so
    total work is O(sum of frontier degrees) = O(m) over the whole
    run — a dist-table re-expansion (the naive relational transcription)
    re-joins every settled node every round and goes O(m * depth).
    BFS level = first-discovery round = minimal hop count, so no min()
    re-aggregation is ever needed.

    Iterative-loop discipline (same as pagerank_fixed_point /
    connected_components): the undirected edge snapshot and each new
    frontier are EAGER localCheckpoints — a lazy one re-materializes
    the upstream plan per downstream read, and lineage must truncate
    per round or the plan doubles each iteration.

    Returns (node, dist): every node reachable within max_depth hops,
    including the source at dist 0. Deterministic for any input.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    start = edges.sparkSession.range(1).select(
        F.lit(source).cast("bigint").alias("node"), F.lit(0).alias("dist")
    )
    return _union_all(_frontier_reach(start, und, [], max_depth))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Synchronous label propagation (LPA community detection) over the
    undirected view of ``edges`` — deterministic and therefore
    hash-gateable against an ANSI-SQL oracle.

    Textbook LPA is randomized (random visit order, random tie-break),
    which can never face a correctness gate. This variant removes both
    randomness sources the way pagerank_fixed_point removed float
    nondeterminism: SYNCHRONOUS rounds (every node updates from the
    previous round's labels, so visit order is irrelevant) and a TOTAL
    tie-break order (most neighbor votes first, then lexicographically
    smallest label). Every round is then bit-exact across engines,
    partitionings, and cluster sizes, and the oracle unrolls the rounds
    as CTEs.

    labels_0(n) = n;
    labels_{k+1}(n) = argmax over labels L of
        (count of neighbors of n with labels_k = L),
        ties broken by min L.

    Scale shape per round: one equi-join of the symmetrized edge
    snapshot (pre-partitioned on the join key, same trick as
    pagerank_fixed_point: zero edge exchanges per round) against the
    current label vector, one map-side-combinable (node, label) count,
    and one per-node min(struct(-cnt, label)) — also combinable, so NO
    per-node window anywhere. State is one label per node. Total work
    per round is O(m + |V|), hub skew hits the (node, label) count
    which AQE skew-split handles like any aggregation.

    Returns (node string, community string) — the label each node
    holds after ``iters`` rounds; community ids are node ids, so two
    nodes are in the same community iff their labels are equal.
    """
    und = _mat(_undirected(edges, src, dst).repartition("s"))

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            # SHUFFLE_HASH: same lesson as the PageRank loop — SMJ
            # would re-sort the checkpointed |E|-row snapshot every
            # round; hash-building the |V|-row label side streams the
            # edges unsorted
            und.join(
                labels.withColumnRenamed("node", "s").hint("shuffle_hash"),
                "s",
            )
            .groupBy(F.col("t").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = votes.groupBy("node").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("label").alias("label"),
                )
            ).alias("best")
        )
        return best.select("node", F.col("best.label").alias("label"))

    init = und.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels = _fixed_point(init, step, iters, pinned=(und,))
    return labels.select("node", F.col("label").alias("community"))


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Fixed-round k-core peeling over the undirected view of ``edges``:
    each round drops every node whose current degree is < ``k``
    (together with its edges) and recomputes degrees. ``rounds``
    synchronous rounds make the operator deterministic and its oracle
    expressible as unrolled CTEs — the full k-core is the fixpoint,
    which a caller reaches by raising ``rounds`` (convergence on seeded
    graphs is pytest-verified; chain graphs need diameter rounds,
    real corpora converge in a handful because peeling cascades are
    shallow).

    Scale shape per round: one combinable degree count over the
    current edge set and two semi-joins of the edge set against the
    surviving-node set (shuffle on the node key both ways; the
    survivor set only shrinks, so per-round cost is monotonically
    non-increasing). localCheckpoint truncates lineage so the plan
    stays O(1)-deep across rounds, same discipline as the CC /
    PageRank / LPA loops; each round frees the checkpoint it
    supersedes.

    Returns (node string, degree long) for the nodes still alive after
    ``rounds`` rounds, with their residual degree.
    """
    e = _undirected(edges, src, dst).localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("s")
        nxt = (
            e.join(keep, "s", "semi")
            .join(keep.withColumnRenamed("s", "t"), "t", "semi")
            .select("s", "t")
            .localCheckpoint(eager=True)
        )
        _drop_checkpoint(e)
        e = nxt
    return e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    hub_cap: int = 64,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction: score non-adjacent
    node pairs by how many neighbors they share. The canonical KG
    enrichment query ("entities that co-occur with the same things are
    probably related").

    Scale shape: wedge generation is the quadratic hazard — a middle
    node of degree d emits d^2 candidate pairs, and real graphs have
    power-law hubs. The standard mitigation (the graph analogue of
    dropping stop-words) is encoded here: middles with degree >
    ``hub_cap`` are excluded BEFORE the self-join, bounding wedge
    output at hub_cap * |edges| rows — linear in the graph with a
    tunable constant — at the cost of losing evidence routed through
    hubs (hubs connect everything; their evidence is weak, which is
    why the exclusion is standard). After that: one self-join on the
    middle key, one combinable pair count, one anti-join against the
    edge set (candidates only), and degree lookups via two broadcast-
    range joins on the bounded-degree node set.

    Returns (a, b, common, jaccard) for unordered pairs a < b with
    ``common >= min_common``, jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|
    rounded to 6 places for cross-engine comparison.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    mid_ok = deg.where(F.col("deg") <= hub_cap).select("s")
    thin = und.join(mid_ok, "s", "semi")
    wedges = (
        thin.select(F.col("s").alias("m"), F.col("t").alias("a"))
        .join(
            thin.select(F.col("s").alias("m"), F.col("t").alias("b")), "m"
        )
        .where(F.col("a") < F.col("b"))
    )
    pairs = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    cand = pairs.where(F.col("common") >= min_common).join(
        und.select(F.col("s").alias("a"), F.col("t").alias("b")),
        ["a", "b"],
        "anti",
    )
    da = deg.select(F.col("s").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("s").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def bipartite_project(
    df: DataFrame,
    left: str,
    right: str,
    cap: int = 5,
    min_weight: int = 2,
) -> DataFrame:
    """Project a bipartite relation (left, right) onto the right-side
    vertex set: an edge (r1, r2) with weight = number of left nodes
    containing both, the co-purchase / co-mention / co-access graph KG
    consumers derive constantly (reference has no graph analytics at
    all — this extends GenesToNeo4j.scala:9-92's materialized graph
    the way the rest of the graph family does).

    The scale hazard is quadratic fanout: one hub left-node with 10^5
    members emits 5*10^9 pairs. ``cap`` bounds it — each left node
    contributes only its first ``cap`` right members (deterministic
    rank order by right id), so output <= |left| * C(cap, 2) pairs and
    the self-join is co-partitioned on the left key: ONE shuffle to
    rank (window on left), the join reuses that partitioning, and the
    pair count is a combinable groupBy. The cap is the same honesty as
    near_dup_survivors' pair cap: documented truncation instead of a
    silent 100-TB blowup; raise it and the plan shape is unchanged.
    """
    pairs = (
        df.select(F.col(left).alias("l"), F.col(right).alias("r"))
        .where(F.col("l").isNotNull() & F.col("r").isNotNull())
        .distinct()
    )
    capped = (
        pairs.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("l").orderBy("r")),
        )
        .where(F.col("rn") <= cap)
        .drop("rn")
    )
    co = (
        capped.alias("a")
        .join(capped.alias("b"), "l")
        .where(F.col("a.r") < F.col("b.r"))
        .groupBy(
            F.col("a.r").alias("r1"), F.col("b.r").alias("r2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= min_weight)
    )
    return co


def hits_fixed_point(
    edges: DataFrame,
    iters: int = 2,
    scale: int = 1_000_000,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) in integer
    fixed-point: a_{k}(v) = sum of h_{k-1}(u) over in-edges, then
    L1-normalized to ``sum ~= scale`` by x -> (x * scale) div S with
    S the global sum; h_{k}(u) = sum of a_k(v) over out-edges,
    normalized the same way. L1 (not the textbook L2) keeps every step
    in BIGINT arithmetic — sums, one integer multiply, one integer
    floor-divide — so the iteration is bit-exact across engines,
    partitionings, and cluster sizes, and the oracle unrolls as CTEs
    with scalar-subquery sums exactly like graph_pagerank's rounds.

    Overflow headroom: post-normalization values are <= scale, so a
    raw sum is <= scale * maxdeg and the normalize multiply is
    <= scale^2 * maxdeg / S <= scale * maxdeg per element term
    (the computed product x * scale is <= scale^2 * maxdeg / 1 only
    pre-division: with scale 10^6 the product stays under 10^18 for
    maxdeg up to ~9 * 10^6 — raise scale only with that bound in
    mind; 100-TB hub degrees above that need a two-level normalize).

    Scale shape per half-round: the same single SHUFFLE_HASH join +
    combinable groupBy as PageRank, but HITS joins alternate key sides
    (h joins on u, a joins on v), so the edge snapshot is materialized
    TWICE, pre-keyed per side — one extra |E| of columnar cache buys
    zero edge exchanges in every round. The global sums are one-row
    driver scalars (the CC-checksum discipline) that re-enter the plan
    as literals, keeping the oracle expressible. Each filled half-round
    checkpoint frees the one it read, so a call leaves the node set and
    the last a and h registered.

    The answer is sorted by ``node`` within each partition, like
    ``_fixed_point``'s, but keeps its shuffle-partition count: it joins
    the cached node set, and without CBO a join's size estimate is the
    product of its inputs' sizes, so there is no size to coalesce to.
    """
    # dedup ONCE, then derive the other pre-keyed copy and the node set
    # from the cache, as katz_centrality does
    e_by_u = _mat(_directed(edges, src, dst).repartition("u"))
    e_by_v = _mat(e_by_u.repartition("v"))
    nodes = _mat(_endpoints(e_by_u, "u", "v"))

    def _normalize(raw: DataFrame, col: str) -> tuple[DataFrame, DataFrame]:
        """raw: (node, col) summed scores -> L1-normalized to total
        ~= scale, floor per element. ONE job per half-round: the
        node-joined raw vector is a LAZY localCheckpoint that the
        scalar-sum action itself materializes (CC's checksum loop), so
        every half-round cuts the lineage; a persisted vector kept it,
        and the plans grew until iters=7 ran the driver out of heap.
        Returns the filled checkpoint and the normalized vector, a
        lazy projection over it."""
        full = nodes.join(raw, "node", "left").select(
            "node",
            F.coalesce(F.col(col), F.lit(0)).cast("long").alias(col),
        ).localCheckpoint(eager=False)
        total = full.agg(F.sum(col)).collect()[0][0] or 1
        return full, full.select(
            "node", F.expr(f"({col} * {scale}) div {total}").alias(col)
        )

    h = nodes.select("node", F.lit(scale).cast("long").alias("h"))
    h_ck = a_ck = None
    for i in range(iters):
        a_raw = (
            e_by_u.join(
                h.withColumnRenamed("node", "u").hint("shuffle_hash"), "u"
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        a_ck, a = _normalize(a_raw, "a")
        if h_ck is not None:
            _drop_checkpoint(h_ck)
        h_raw = (
            e_by_v.join(
                a.withColumnRenamed("node", "v").hint("shuffle_hash"), "v"
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("a").alias("h"))
        )
        h_ck, h = _normalize(h_raw, "h")
        if i < iters - 1:
            _drop_checkpoint(a_ck)
    out = nodes.join(h, "node", "left").join(a, "node", "left").select(
        "node",
        F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
        F.coalesce("a", F.lit(0)).cast("long").alias("auth"),
    )
    # the answer is a lazy projection over the final a and h
    # checkpoints and the node set; the edge snapshots are released
    for inv in (e_by_u, e_by_v):
        inv.unpersist(blocking=False)
    return out.sortWithinPartitions("node")


def katz_centrality(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    alpha_num: int = 20,
    alpha_den: int = 100,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Truncated Katz centrality, integer fixed-point: x_0 = scale;
    x_{k+1}(n) = scale + sum over in-edges (u -> n) of
    floor(x_k(u) * alpha_num / alpha_den). With a fixed iteration
    count this is the k-truncated Katz series (paths up to length k,
    attenuated alpha^len) — the centrality that, unlike PageRank, does
    NOT divide by out-degree, so prolific sources pass their full
    influence downstream; the natural "how reachable is this entity
    through short attributed chains" score for a KG.

    Same machinery as pagerank_fixed_point, one join cheaper: the
    attenuation quotient depends only on the source node, so each round
    is (1) a zero-exchange join of the hash(u)-co-partitioned rank
    vector... no degree vector at all, (2) ONE SHUFFLE_HASH probe of
    the pre-keyed edge snapshot, (3) a combinable groupBy-sum + left
    join back to nodes. Integer floors make every engine/partitioning
    bit-identical (unrolled-CTE oracle). Headroom: with alpha < 1 the
    series is bounded by scale * (hub in-degree)^k * alpha^k — at
    alpha=0.2, 10^6 scale and hub degree 10^4, three rounds stay under
    2^62.

    Returns (node, katz long).
    """
    e = _mat(_directed(edges, src, dst).repartition("u"))
    nodes = _mat(_endpoints(e, "u", "v"))

    def step(x: DataFrame) -> DataFrame:
        qvec = x.withColumnRenamed("node", "u").select(
            "u",
            F.expr(f"(x * {alpha_num}) div {alpha_den}").alias("q"),
        )
        summed = (
            e.join(qvec.hint("shuffle_hash"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("q").alias("s"))
        )
        return nodes.join(summed, "node", "left").select(
            "node",
            (F.lit(scale) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("x"),
        )

    init = nodes.select("node", F.lit(scale).cast("long").alias("x"))
    x = _fixed_point(init, step, iters, pinned=(e, nodes))
    return x.select("node", F.col("x").alias("katz"))


def walk_visit_centrality(
    edges: DataFrame,
    steps: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Approximate path centrality (betweenness-style screening) via
    deterministic-walk interior-visit counts: run ``deterministic_walks``
    from every non-sink node, count how often each node is visited at
    an INTERIOR step (1 <= step < steps, excluding visits to the walk's
    own start), normalize by total interior visits.

    This is the walk-sampling betweenness estimator family (sample
    paths, count pass-throughs) with the engine's content-addressed
    derandomization, so a sampling statistic faces the exact-hash gate.
    Honest caveat, stated up front: visit frequency of a random walk
    converges to the stationary distribution, which weights by degree —
    so this SCREENS for high-traffic nodes (bridges on short walks,
    hubs) rather than reproducing Brandes' exact betweenness values;
    the pytest pins that the top node matches exact betweenness on a
    hub-bridge toy graph, and that the statistic is bit-stable. Exact
    Brandes needs all-pairs shortest-path DAGs — quadratic state the
    100 TB path cannot afford; sampled walks are the published
    scale-out compromise (Riondato-Kornaropoulos sampling bounds).

    Shape: the walk table (|starts| * steps rows) + one combinable
    count + one broadcast-scalar normalize — nothing beyond the walk
    generator itself. Returns (node, visits, centrality 6dp).
    """
    w = deterministic_walks(edges, steps, src, dst)
    interior = w.where(
        (F.col("step") >= 1)
        & (F.col("step") <= steps - 1)
        & (F.col("node") != F.col("start"))
    )
    counts = interior.groupBy("node").agg(
        F.count(F.lit(1)).alias("visits")
    )
    tot = counts.agg(F.sum("visits").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "node",
        "visits",
        F.round(F.col("visits") / F.col("t"), 6).alias("centrality"),
    )


def deterministic_walks(
    edges: DataFrame,
    steps: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Content-addressed 'random' walks — the DeepWalk/node2vec corpus
    generator, derandomized: from every start node, at step k the next
    hop is argmin over out-neighbors of md5(start || k || neighbor).
    md5 of (walk, step, candidate) is a fixed uniform draw, so the
    walk distribution matches a uniform random walk for any
    non-adversarial graph (the same content-addressed trick as the
    sketches/ANN planes), while every engine, run, and partitioning
    reproduces the identical walks — which is what makes a SAMPLING
    operator exact-hash gateable, and incidentally what an embedding
    training pipeline wants anyway (resumable, diffable walk corpora).

    Shape per step: one hash join of the frontier against the edge
    snapshot (pre-keyed on u once, columnar) and one min_by groupBy —
    both combinable/streaming, no per-walk sort. Walks ending at a
    sink simply stop (inner join drops them). Returns
    (start, step, node): step 0 is the start itself.
    """
    e = _mat(_directed(edges, src, dst).repartition("u"))
    frontier = e.select(F.col("u").alias("node")).distinct().select(
        F.col("node").alias("start"), F.col("node")
    )
    pieces = [frontier.select("start", F.lit(0).alias("step"), "node")]
    for k in range(1, steps + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .select(
                "start",
                "v",
                F.md5(
                    F.concat_ws(":", "start", F.lit(str(k)), "v")
                ).alias("score"),
            )
            .groupBy("start")
            .agg(F.expr("min_by(v, score)").alias("node"))
        )
        frontier = nxt.localCheckpoint(eager=True)
        pieces.append(
            frontier.select("start", F.lit(k).alias("step"), "node")
        )
    e.unpersist(blocking=False)
    return _union_all(pieces)


def ancestor_closure(
    parents: DataFrame,
    max_depth: int,
    child: str = "c",
    parent: str = "p",
) -> DataFrame:
    """Transitive ancestor closure over a forest/unique-path DAG via
    pointer DOUBLING: O(log2(max_depth)) join rounds instead of the
    naive O(max_depth) chase (the recursive-CTE transcription).

    Round k holds every (child, ancestor, dist) pair with
    dist <= 2^k; the doubling step composes the relation with itself
    (R ∪ R∘R), so a 1000-level hierarchy closes in 10 shuffles — the
    property that makes ontology/category-tree closure viable at
    100 TB, where a per-level loop would run 1000 jobs. On a forest
    every (child, ancestor) pair has a unique path, so the distinct()
    is pure dedup of alternative SPLIT POINTS (3 = 1+2 = 2+1), never a
    min() re-aggregation.

    Iterative-loop discipline as pagerank_fixed_point: each round's
    relation is an eager localCheckpoint so lineage stays flat, and
    the relation it supersedes is freed; the answer reads the last.

    Returns (node, anc, dist) for 1 <= dist <= max_depth.
    KG role: the reference materializes only direct parent edges
    (GeneReader.scala:65-135 two-level fold); closure is what its
    Neo4j consumers compute per-query with variable-length match —
    here it is a first-class batch operator.
    """
    rel = (
        parents.select(
            F.col(child).alias("c"),
            F.col(parent).alias("a"),
            F.lit(1).alias("d"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    reach = 1
    while reach < max_depth:
        hop = (
            rel.alias("l")
            .join(rel.alias("r"), F.col("l.a") == F.col("r.c"))
            .select(
                F.col("l.c").alias("c"),
                F.col("r.a").alias("a"),
                (F.col("l.d") + F.col("r.d")).alias("d"),
            )
            .where(F.col("d") <= max_depth)
        )
        nxt = rel.unionByName(hop).distinct().localCheckpoint(eager=True)
        _drop_checkpoint(rel)
        rel = nxt
        reach *= 2
    return rel.select(
        F.col("c").alias("node"),
        F.col("a").alias("anc"),
        F.col("d").cast("integer").alias("dist"),
    )


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Bounded BFS from MANY sources in one frontier loop: the visited
    and frontier relations are keyed by (seed, node), so s seeds cost
    one shared scan of the edge snapshot per round — not s independent
    BFS runs. This is the landmark/pivot primitive behind approximate
    closeness, eccentricity and distance-sketch operators (Cohen 2014
    all-distances sketches use exactly this loop shape).

    Same frontier discipline as bfs_distances: expand only last
    round's discoveries, anti-join the visited set, eager
    localCheckpoint per round. First discovery level == min hop
    distance, deterministic for any partitioning.

    seeds: a DataFrame with one bigint column naming the seed nodes.
    Returns (seed, node, dist), dist 0..max_depth.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    seed_col = seeds.columns[0]
    start = seeds.select(
        F.col(seed_col).cast("bigint").alias("seed"),
        F.col(seed_col).cast("bigint").alias("node"),
        F.lit(0).alias("dist"),
    ).distinct()
    return _union_all(_frontier_reach(start, und, ["seed"], max_depth))


def temporal_earliest_arrival(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "s",
    dst: str = "t",
    time: str = "et",
) -> DataFrame:
    """Time-respecting earliest-arrival over a temporal edge stream:
    a path is valid only if edge times strictly increase, so plain
    reachability overstates what information/influence can actually
    flow through a KG built from timestamped interactions. Computes
    arr_k(v) = min(arr_{k-1}(v), min{et : (u,v,et), et > arr_{k-1}(u)})
    for k relaxation rounds — exact for <=k-hop journeys because
    earlier arrival never disables an edge (the waiting-allowed
    monotonicity that gives temporal BFS optimal substructure,
    Wu 2014 "Path Problems in Temporal Graphs").

    Loop discipline as multi_source_bfs: per round ONE hash join of
    the improved frontier against the time-keyed edge snapshot plus a
    combinable min — never path enumeration (the oracle's recursive
    CTE enumerates; this relaxes state, which is why it survives
    out-degree^k blowup at 100 TB). min() is order-free, so results
    are bit-exact at any partitioning. Each round frees the state and
    frontier it supersedes, and the edge snapshot and last frontier
    are freed at the end: the answer reads only the final state.

    seeds: one bigint column. Returns (seed, node, arrival) with
    arrival = -1 for the seed origin rows (filter `arrival >= 0`
    for reached-only semantics).
    """
    e = (
        edges.select(
            F.col(src).cast("bigint").alias("es"),
            F.col(dst).cast("bigint").alias("ed"),
            F.col(time).cast("bigint").alias("et"),
        )
        .where(F.col("es") != F.col("ed"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed_col = seeds.columns[0]
    state = (
        seeds.select(
            F.col(seed_col).cast("bigint").alias("seed"),
            F.col(seed_col).cast("bigint").alias("node"),
            F.lit(-1).cast("bigint").alias("arr"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = state
    for _ in range(rounds):
        relaxed = (
            frontier.join(e, frontier["node"] == e["es"])
            .where(F.col("et") > F.col("arr"))
            .groupBy("seed", F.col("ed").alias("node2"))
            .agg(F.min("et").alias("cand"))
            .withColumnRenamed("node2", "node")
        )
        # keep only strict improvements: they are next round's frontier
        improved = (
            relaxed.join(state, ["seed", "node"], "left_outer")
            .where(F.col("arr").isNull() | (F.col("cand") < F.col("arr")))
            .select("seed", "node", F.col("cand").alias("arr"))
            .localCheckpoint(eager=True)
        )
        nxt = (
            state.unionByName(improved)
            .groupBy("seed", "node")
            .agg(F.min("arr").alias("arr"))
            .localCheckpoint(eager=True)
        )
        _drop_checkpoint(state, frontier)
        state, frontier = nxt, improved
    _drop_checkpoint(e)
    if frontier is not state:
        _drop_checkpoint(frontier)
    return state.select("seed", "node", F.col("arr").alias("arrival"))


def scc_coloring(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    prop_rounds: int = 8,
    max_outer: int = 4,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Strongly connected components by forward max-label COLORING
    (Orzan 2004 / the FB-coloring family Slota 2014 benchmarks):
    each outer round (1) propagates the max node id forward to
    fixpoint — color(v) = max{u : u ->* v} — as a pagerank-shaped
    combinable fixed point, (2) takes roots (color(v) == v: no larger
    node reaches v), (3) extracts each root's SCC as the backward
    reach within its own color (multi_source_bfs's frontier loop,
    _frontier_reach), then removes extracted nodes and repeats. Correctness: v
    extracted under root r iff v ->* r and color(v) = r (so r ->* v),
    i.e. exactly SCC(r); within-color restriction is lossless because
    every intermediate node of a v ->* r path is itself in SCC(r).

    prop_rounds must be >= the remaining graph's diameter (one-hop
    max propagation per round); max_outer bounds the outer loop —
    each round extracts at least every current root's SCC, so a long
    singleton chain is the known worst case (production pairs this
    with trimming; the registry's synthetic gate graph completes in
    one round and the random-digraph pytest cross-checks a hand
    Tarjan). Per inner round the heavy op is ONE hash join against
    the active edge snapshot plus a combinable max/min — never
    closure materialization, which is what keeps SCC viable at
    100 TB.

    Returns (node, scc_id) with scc_id = min member id. Nodes left
    active after max_outer rounds are NOT emitted (caller asserts
    completion by row count). Each outer round frees its edge
    snapshot, colours and reach pieces once its SCCs are extracted,
    and the active set it read once the next one is filled: the
    answer reads only the extracted pieces, one per round that found
    any.
    """
    e_all = (
        edges.select(
            F.col(src).cast("bigint").alias("eu"),
            F.col(dst).cast("bigint").alias("ev"),
        )
        .where(F.col("eu") != F.col("ev"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes is None:
        active = _endpoints(e_all, "eu", "ev")
    else:
        ncol = nodes.columns[0]
        active = nodes.select(F.col(ncol).cast("bigint").alias("node"))
    # lazy: the count that opens each outer round materializes it
    active = active.localCheckpoint(eager=False)
    pieces = []
    spent = None  # the active set the current one was computed from
    for _ in range(max_outer):
        n_active = active.count()
        if spent is not None:
            _drop_checkpoint(spent)
            spent = None
        if n_active == 0:
            break
        e_act = (
            e_all.join(active.withColumnRenamed("node", "eu"), "eu")
            .join(active.withColumnRenamed("node", "ev"), "ev")
            .localCheckpoint(eager=True)
        )
        color = active.select("node", F.col("node").alias("c"))
        for r in range(prop_rounds):
            upd = (
                e_act.join(color, e_act["eu"] == color["node"])
                .groupBy(F.col("ev").alias("node2"))
                .agg(F.max("c").alias("uc"))
                .withColumnRenamed("node2", "node")
            )
            nxt = (
                color.join(upd, "node", "left_outer")
                .select(
                    "node",
                    F.greatest(
                        F.col("c"), F.coalesce(F.col("uc"), F.lit(-1))
                    ).alias("c"),
                )
                .localCheckpoint(eager=True)
            )
            if r > 0:
                _drop_checkpoint(color)
            color = nxt
        roots = color.where(F.col("c") == F.col("node"))
        # backward reach from each root over same-color edges (v -> u).
        # The reach needs no color join term: by induction from the
        # roots, every visited (col, node) has color(node) == col.
        adj = (
            e_act.join(
                color.select(
                    F.col("node").alias("eu"), F.col("c").alias("cu")
                ),
                "eu",
            )
            .join(
                color.select(
                    F.col("node").alias("ev"), F.col("c").alias("cv")
                ),
                "ev",
            )
            .where(F.col("cu") == F.col("cv"))
            .select(F.col("ev").alias("s"), F.col("eu").alias("t"))
            .localCheckpoint(eager=True)
        )
        start = roots.select(
            F.col("c").alias("col"), "node", F.lit(0).alias("dist")
        )
        reach = _frontier_reach(start, adj, ["col"], prop_rounds)
        visited = _union_all(reach)
        members = visited.groupBy("col").agg(
            F.min("node").alias("scc_id")
        )
        extracted = (
            visited.join(members, "col")
            .select("node", "scc_id")
            .localCheckpoint(eager=True)
        )
        _drop_checkpoint(e_act, color, adj, *reach)
        pieces.append(extracted)
        spent = active
        active = active.join(
            extracted.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=False)
    if not pieces:
        return active.select(
            "node", F.col("node").alias("scc_id")
        ).where(F.lit(False))
    for df in (e_all, active, spent):
        if df is not None:
            _drop_checkpoint(df)
    return _union_all(pieces)


def _edge_support(oriented: DataFrame) -> DataFrame:
    """Per-edge triangle support over the degree orientation
    (``_orient_edges``) of a canonical undirected edge set (a, b),
    a < b: every enumerated triangle contributes 1 to each of its
    three edges. Combinable count; support 0 edges are absent."""
    tris = _triangles_from_oriented(oriented)
    pair = lambda p, q: F.struct(  # noqa: E731
        F.least(p, q).alias("a"), F.greatest(p, q).alias("b")
    )
    exploded = tris.select(
        F.explode(
            F.array(
                pair(F.col("x"), F.col("y")),
                pair(F.col("x"), F.col("z")),
                pair(F.col("y"), F.col("z")),
            )
        ).alias("e")
    )
    return exploded.select("e.a", "e.b").groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("support")
    )


def truss_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Bounded k-truss peeling (Cohen 2008): each round drops every
    edge whose triangle support is < k-2, then recounts — edge-level
    cohesion strictly stronger than k-core (k-core bounds degree;
    k-truss demands each edge sit in k-2 triangles). `rounds` bounds
    the peel (full truss decomposition iterates to fixpoint; bounded
    rounds keep the gate deterministic and the job count fixed — the
    pagerank discipline). Support counting reuses the degree-oriented
    triangle enumeration, so per round the quadratic wedge step stays
    sqrt(2m)-bounded and the peel itself is a broadcast-or-shuffle
    left join + filter. Each round frees the edge set and orientation
    it supersedes: the answer reads the last two. Returns surviving
    edges with their support RECOUNTED on the surviving subgraph:
    (u, v, support), u < v.
    """
    und = _canonical_undirected(edges, src, dst).localCheckpoint(eager=True)
    oriented = _orient_edges(und)
    thresh = k - 2
    for _ in range(rounds):
        nxt = (
            und.join(_edge_support(oriented), ["a", "b"], "left_outer")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= thresh)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        _drop_checkpoint(und, oriented)
        und = nxt
        oriented = _orient_edges(und)
    final = _edge_support(oriented)
    return (
        und.join(final, ["a", "b"], "left_outer")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.coalesce(F.col("support"), F.lit(0))
            .cast("bigint")
            .alias("support"),
        )
    )


def _priority_rounds(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int,
    src: str,
    dst: str,
    salt: str,
    out_col: str,
    drop_neighbors: bool,
) -> DataFrame:
    """Shared loop of luby_mis and jones_plassmann_coloring: per round
    every active node whose md5(salt || id) priority beats ALL active
    neighbors is selected and tagged with the round index in
    ``out_col``. The selected nodes leave the active set, and with
    ``drop_neighbors`` their neighbors too (the closed neighborhood,
    MIS). Per round: one hash join of the undirected edge snapshot
    against the active set and a combinable min."""
    und = _undirected(
        edges.select(
            F.col(src).cast("bigint").alias("s"),
            F.col(dst).cast("bigint").alias("t"),
        ),
        "s",
        "t",
    ).localCheckpoint(eager=True)
    ncol = nodes.columns[0]
    ids = nodes.select(F.col(ncol).cast("bigint").alias("node"))
    active = (
        ids.distinct()
        .select(
            "node",
            F.md5(F.concat(F.lit(salt), F.col("node").cast("string")))
            .alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    pieces = []
    for r in range(rounds):
        # the count materializes the lazy active checkpoint
        if active.count() == 0:
            break
        # min active-neighbor priority per active node
        nbr = (
            und.join(
                active.select(F.col("node").alias("s"),
                              F.col("p").alias("ps")),
                "s",
            )
            .join(active.select(F.col("node").alias("t")), "t")
            .groupBy("t")
            .agg(F.min("ps").alias("minp"))
            .withColumnRenamed("t", "node")
        )
        sel = (
            active.join(nbr, "node", "left_outer")
            .where(F.col("minp").isNull() | (F.col("p") < F.col("minp")))
            .select("node")
            .localCheckpoint(eager=True)
        )
        pieces.append(
            sel.select("node", F.lit(r).cast("integer").alias(out_col))
        )
        removed = sel
        if drop_neighbors:
            removed = sel.unionAll(
                und.join(sel.withColumnRenamed("node", "s"), "s").select(
                    F.col("t").alias("node")
                )
            ).distinct()
        active = active.join(removed, "node", "left_anti").localCheckpoint(
            eager=False
        )
    if not pieces:
        return ids.select(
            "node", F.lit(0).cast("integer").alias(out_col)
        ).where(F.lit(False))
    return _union_all(pieces)


def luby_mis(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Maximal independent set by Luby's algorithm with
    content-addressed priorities: per round every active node whose
    md5 priority beats ALL active neighbors joins the MIS, then its
    closed neighborhood leaves the active set. md5 gives a
    collision-free deterministic total order, so the classically
    randomized algorithm becomes bit-exact and oracle-gateable —
    the same trick the registry's sampling operators use. Luby 1986
    terminates in O(log n) rounds w.h.p.; `rounds` bounds the loop
    (callers assert exhaustion — the gate graph empties in 6).

    Per round the heavy ops are ONE hash join of the undirected edge
    snapshot against the active set and a combinable min — the BFS
    discipline. MIS is the scheduling primitive for conflict-free
    batching (e.g. committing KG edge mutations that share endpoints
    in independent waves).

    Returns (node, round) for MIS members, round = selection wave.
    """
    return _priority_rounds(
        edges, nodes, rounds, src, dst, "mis:", "round", drop_neighbors=True
    )


def jones_plassmann_coloring(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Greedy distributed graph coloring (Jones-Plassmann 1993) with
    md5 content-addressed priorities: per round, every UNCOLORED node
    whose priority beats all uncolored neighbors takes the current
    round index as its color, and leaves the active set — neighbors
    stay (unlike luby_mis, which removes the closed neighborhood).
    Adjacent nodes can never be selected in the same round (one of
    them sees a smaller neighbor priority), so the result is a proper
    coloring; every color class is an independent set of the residual
    graph. Deterministic priorities make the classically randomized
    algorithm bit-exact and oracle-gateable (unrolled-CTE twin).

    Rounds bound the loop; the per-round heavy ops are one hash join
    against the active set + a combinable min — the luby_mis/BFS
    discipline. Coloring is the conflict-free SCHEDULE: color classes
    are the waves in which mutations touching shared keys can commit
    concurrently.

    Returns (node, color) for nodes colored within `rounds` (callers
    assert exhaustion).
    """
    return _priority_rounds(
        edges, nodes, rounds, src, dst, "jp:", "color", drop_neighbors=False
    )


def boruvka_mst(
    edges: DataFrame,
    phases: int = 10,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
) -> DataFrame:
    """Minimum spanning forest by Boruvka's algorithm — THE
    distributed MST (each phase every component grabs its cheapest
    outgoing edge, components at least halve, so ceil(log2 n) phases
    close any graph; Kruskal/Prim are inherently sequential and never
    distribute). With DISTINCT weights the MSF is unique, so the
    classically order-sensitive choice becomes deterministic: the
    per-component pick is min(struct(w, a, b)) — one combinable
    lexicographic min per phase — and the component merge reuses the
    engine's connected_components on the (comp_a, comp_b) contraction
    graph, which shrinks geometrically (the adaptive local/distributed
    switch inside CC handles both regimes). Cross-component filter +
    two hash joins against the component map per phase; no closure,
    no sort of the full edge list (Kruskal's global sort is exactly
    what this avoids at 100 TB).

    Verification: unique-MSF equality vs a hand Kruskal on random
    graphs (tests/test_mst.py); the gated query is rows-only (MSF is
    not expressible in one ANSI-SQL query — the driver records the
    weaker check, documented).

    Returns MSF edges (a, b, w), a < b.
    """
    from gfftoneo4j_spark.operators.connected_components import (
        connected_components,
    )

    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("bigint").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("bigint").alias("b"),
            F.col(weight).cast("bigint").alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    comp = (
        _endpoints(und, "a", "b")
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    pieces = []
    for _ in range(phases):
        e = (
            und.join(
                comp.select(
                    F.col("node").alias("a"), F.col("comp").alias("ca")
                ),
                "a",
            )
            .join(
                comp.select(
                    F.col("node").alias("b"), F.col("comp").alias("cb")
                ),
                "b",
            )
            .where(F.col("ca") != F.col("cb"))
            .localCheckpoint(eager=False)
        )
        # the count materializes e; an empty phase would still run CC
        if e.count() == 0:
            break
        inc = e.select(
            F.col("ca").alias("c"), F.struct("w", "a", "b").alias("e")
        ).unionAll(
            e.select(
                F.col("cb").alias("c"), F.struct("w", "a", "b").alias("e")
            )
        )
        picks = inc.groupBy("c").agg(F.min("e").alias("e"))
        chosen = picks.select("e.a", "e.b", "e.w").distinct().localCheckpoint(
            eager=True
        )
        pieces.append(chosen)
        # contract: CC over the chosen edges' component graph
        cgraph = (
            chosen.join(
                comp.select(
                    F.col("node").alias("a"), F.col("comp").alias("ca")
                ),
                "a",
            )
            .join(
                comp.select(
                    F.col("node").alias("b"), F.col("comp").alias("cb")
                ),
                "b",
            )
            .select(F.col("ca").alias("u"), F.col("cb").alias("v"))
        )
        mapping = connected_components(cgraph).select(
            F.col("node").alias("comp"), F.col("component").alias("super")
        )
        comp = (
            comp.join(mapping, "comp", "left_outer")
            .select(
                "node",
                F.coalesce(F.col("super"), F.col("comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
    if not pieces:
        return und.where(F.lit(False))
    return _union_all(pieces).groupBy("a", "b").agg(F.min("w").alias("w"))


def kmv_neighborhood_function(
    edges: DataFrame,
    k: int = 8,
    rounds: int = 3,
    src: str = "s",
    dst: str = "t",
    hash_prefix: str = "a:",
) -> DataFrame:
    """Approximate neighborhood function N(h) for h = 1..rounds via
    k-minimum-values sketch propagation — the ANF / HyperANF family
    (Palmer 2002 ANF; Boldi 2011 HyperANF swaps KMV for HLL registers;
    the loop shape is identical). Each node carries the k smallest
    48-bit hashes of the nodes it has reached; one round of
    "my sketch = k-min of (mine union my neighbours')" extends reach
    by one hop, so after h rounds |{v : d(u,v) <= h}| is estimated by
    the KMV rule: exact set size while the sketch is unsaturated
    (n < k), else (k-1)/u_k with u_k the k-th smallest hash as a unit
    draw.

    Scale shape: per-node state is <= k 8-byte hashes, merged by ONE
    edge-keyed equi-join + per-node k-min — the per-node window input
    is bounded by (deg+1)*k rows, never the reachable set itself,
    which is the whole point: exact reachability state is Omega(|V|^2)
    on a dense web graph, the sketch is O(k*|V|) forever. This is THE
    published answer for effective-diameter / reachability profiling
    at web scale. Hashes are content-addressed md5 (deterministic at
    any partitioning => exact-hash gateable); estimates are floored
    into integer milli-units so cross-engine sums stay exact.

    Returns one row per hop: (hop, n_nodes, sum_reach_milli) where
    sum_reach_milli/1000 estimates sum_u |ball(u, hop)|.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    nodes = und.select(F.col("s").alias("node")).distinct()
    state = nodes.select(
        "node",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(hash_prefix), F.col("node").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    ).localCheckpoint(eager=True)
    two48 = float(1 << 48)
    w = Window.partitionBy("node").orderBy("h")
    pieces = []
    for hop in range(1, rounds + 1):
        prop = und.join(
            state.withColumnRenamed("node", "t"), "t"
        ).select(F.col("s").alias("node"), "h")
        state = (
            state.unionAll(prop)
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
            .localCheckpoint(eager=True)
        )
        est = state.groupBy("node").agg(
            F.count("*").alias("n"), F.max("h").alias("mx")
        )
        hop_row = est.select(
            F.lit(hop).cast("integer").alias("hop"),
            F.when(F.col("n") < k, F.col("n") * 1000)
            .otherwise(
                F.floor((k - 1) * 1000.0 * two48 / (F.col("mx") + 1))
            )
            .cast("bigint")
            .alias("est_milli"),
        ).groupBy("hop").agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("est_milli").cast("bigint").alias("sum_reach_milli"),
        )
        pieces.append(hop_row)
    return _union_all(pieces)
