"""Spark job budgets for the graph write and read path, the build's
lineage and metrics writes, and the graph loops.

At test sizes an op's cost is Spark's per-action overhead, not data, so
its job count is a noise-free proxy for that cost. Each count is pinned
exactly: a change that adds a job raises the budget in its own diff and
says why; a change that removes jobs lowers it.
"""

from collections import Counter

from pyspark.sql import functions as F

from gfftoneo4j_spark import oracle
from gfftoneo4j_spark.corpus import CorpusConfig, make_alias_dict, make_transcripts
from gfftoneo4j_spark.operators import graph as G
from gfftoneo4j_spark.operators.connected_components import connected_components
from gfftoneo4j_spark.plans.checkpoint import StageCheckpointer
from gfftoneo4j_spark.plans.graph_sink import (
    read_graph,
    read_graph_snapshot,
    write_graph,
    write_graph_snapshot,
)
from gfftoneo4j_spark.plans.pipeline import build_kg
from gfftoneo4j_spark.sources.transcripts import ALIAS_DICT_SCHEMA, TRANSCRIPT_SCHEMA

# write_graph of a default build; 2 of its jobs sample the range bounds
# that nodes and edges are partitioned on, one per table. 10, not 11:
# the sink is the only node dedup, so the nodes write plans one exchange
# on node_id instead of the build's hash dedup plus the sink's range
WRITE_JOBS = 10
LINEAGE_JOBS = 10  # then its lineage to parquet
METRICS_JOBS = 5  # then its metrics to parquet
# read_graph and read_graph_snapshot: 0, not 2, as the manifest records
# each table's schema and nothing is inferred; a StageCheckpointer reuse
# reads with the schema in its stage manifest, also 0
READ_JOBS = 0
STAGE_REUSE_JOBS = 0
LOOKUP_JOBS = 4  # one hot-entity lookup
# graph loops on _budget_graph, each op run once and collected
LOOP_JOBS = {
    "pagerank": 28,  # pagerank_fixed_point(iters=3)
    "lpa": 20,  # label_propagation(iters=3)
    "cc": 45,  # connected_components(local_threshold=0)
    "multi_bfs": 17,  # multi_source_bfs(max_depth=3), 2 seeds
    "scc": 79,  # scc_coloring(prop_rounds=4, max_outer=2)
    "mis": 27,  # luby_mis(rounds=4)
    "coloring": 35,  # jones_plassmann_coloring(rounds=4)
    "ppr": 30,  # pagerank_fixed_point(iters=3, seeds=), 2 seeds
    "wpr": 27,  # pagerank_fixed_point(iters=3, weight=)
    "katz": 25,  # katz_centrality(iters=3)
    "hits": 37,  # hits_fixed_point(iters=2)
    "walks": 16,  # deterministic_walks(steps=3)
}


def _jobs(spark, group, fn):
    """(result of ``fn()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(f"budget-{group}", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is filled from the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(f"budget-{group}"))


def _budget_build(spark):
    """(turns, alias rows, ``build_kg`` result) of the budget corpus."""
    cfg = CorpusConfig(n_conversations=30, n_entities=15, seed=11)
    turns, dict_rows = make_transcripts(cfg), make_alias_dict(cfg)
    t = spark.createDataFrame(turns, TRANSCRIPT_SCHEMA)
    res = build_kg(spark, t, spark.createDataFrame(dict_rows, ALIAS_DICT_SCHEMA))
    return turns, dict_rows, res


def test_write_read_and_lookup_job_budgets(spark, tmp_path):
    turns, dict_rows, res = _budget_build(spark)
    path = str(tmp_path / "graph")
    _, n_write = _jobs(spark, "write", lambda: write_graph(res.nodes, res.edges, path))
    _, n_lineage = _jobs(
        spark, "lineage", lambda: res.lineage.write.parquet(str(tmp_path / "lineage"))
    )
    _, n_metrics = _jobs(
        spark, "metrics", lambda: res.metrics.write.parquet(str(tmp_path / "metrics"))
    )
    graph, n_read = _jobs(spark, "read", lambda: read_graph(spark, path))

    # the hot-entity lookup a graph consumer runs: turns that mention
    # the most-referenced entity (refers_to joined to has_mention)
    triples = oracle.build_graph(turns, dict_rows)["triples"]
    hot = Counter(o for _, p, o in triples if p == "refers_to").most_common(1)[0][0]
    refs = {s for s, p, o in triples if p == "refers_to" and o == hot}
    want = len({s for s, p, o in triples if p == "has_mention" and o in refs})
    e = graph.edges
    m = e.where((F.col("type") == "refers_to") & (F.col("dst") == hot))
    lookup = (
        e.where(F.col("type") == "has_mention")
        .join(m.select(F.col("src").alias("m")), F.col("dst") == F.col("m"))
        .select("src")
        .distinct()
    )
    got, n_lookup = _jobs(spark, "lookup", lookup.count)

    assert got == want
    assert (n_write, n_lineage, n_metrics) == (WRITE_JOBS, LINEAGE_JOBS, METRICS_JOBS)
    assert (n_read, n_lookup) == (READ_JOBS, LOOKUP_JOBS)


def test_snapshot_read_and_stage_reuse_job_budgets(spark, tmp_path):
    _, _, res = _budget_build(spark)
    snapshots = str(tmp_path / "snapshots")
    write_graph_snapshot(res.nodes, res.edges, snapshots)
    _, n_read = _jobs(spark, "read", lambda: read_graph_snapshot(spark, snapshots))

    stages = str(tmp_path / "stages")
    StageCheckpointer(spark, stages).stage("edges", res.edges, "v1")
    ck = StageCheckpointer(spark, stages)
    _, n_reuse = _jobs(spark, "stage-reuse", lambda: ck.stage("edges", res.edges, "v1"))

    assert ck.reused == ["edges"]
    assert (n_read, n_reuse) == (READ_JOBS, STAGE_REUSE_JOBS)


def test_repeated_build_compiles_no_new_classes(spark, tmp_path):
    """The session's codegen cache holds every class a build and its
    writes generate (~150), and their names carry no AQE stage number,
    so the second run of the same op compiles none. With Spark's
    defaults (100 entries, stage ids in class names) it compiled ~160."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    counts = []
    for run in ("first", "second"):
        c0 = compiles.getCount()
        _, _, res = _budget_build(spark)
        write_graph(res.nodes, res.edges, str(tmp_path / run / "graph"))
        res.lineage.write.parquet(str(tmp_path / run / "lineage"))
        res.metrics.write.parquet(str(tmp_path / run / "metrics"))
        counts.append(compiles.getCount() - c0)
    assert counts[1] == 0, counts


def _budget_graph(spark):
    """24 nodes in six directed 4-cycles (the SCCs), chained block to
    block by one forward edge each. Built from spark.range: counts on a
    createDataFrame graph varied by up to three jobs between runs."""
    n = spark.range(24).select(F.col("id").alias("i"))
    cyc = n.select(
        F.col("i").alias("u"), F.expr("(i DIV 4) * 4 + (i + 1) % 4").alias("v")
    )
    chain = n.where("i % 4 = 0 AND i < 20").select(
        F.col("i").alias("u"), (F.col("i") + 4).alias("v")
    )
    return cyc.unionByName(chain)


def test_graph_loop_job_budgets(spark):
    e = _budget_graph(spark)
    nodes = spark.range(24).select(F.col("id").alias("node"))
    seeds = spark.range(2).select((F.col("id") * 12).alias("seed"))
    ops = {
        "pagerank": lambda: G.pagerank_fixed_point(e, iters=3),
        "lpa": lambda: G.label_propagation(e, iters=3),
        "cc": lambda: connected_components(e, local_threshold=0),
        "multi_bfs": lambda: G.multi_source_bfs(e, seeds, max_depth=3),
        "scc": lambda: G.scc_coloring(e, prop_rounds=4, max_outer=2),
        "mis": lambda: G.luby_mis(e, nodes, rounds=4),
        "coloring": lambda: G.jones_plassmann_coloring(e, nodes, rounds=4),
        "ppr": lambda: G.pagerank_fixed_point(e, iters=3, seeds=seeds),
        "wpr": lambda: G.pagerank_fixed_point(
            e.withColumn("w", F.col("u") % 3 + 1), iters=3, weight="w"
        ),
        "katz": lambda: G.katz_centrality(e, iters=3),
        "hits": lambda: G.hits_fixed_point(e, iters=2),
        "walks": lambda: G.deterministic_walks(e, steps=3),
    }
    jobs, rows = {}, {}
    for name, op in ops.items():
        rows[name], jobs[name] = _jobs(spark, name, lambda: op().collect())

    assert {r["scc_id"] for r in rows["scc"]} == set(range(0, 24, 4))
    assert len(rows["multi_bfs"]) == 31 and len(rows["coloring"]) == 24
    assert jobs == LOOP_JOBS
