"""Spark job budgets for the graph write and read path.

At test sizes an op's cost is Spark's per-action overhead, not data, so
its job count is a noise-free proxy for that cost. Each count is pinned
exactly: a change that adds a job raises the budget in its own diff and
says why; a change that removes jobs lowers it.
"""

from collections import Counter

from pyspark.sql import functions as F

from gfftoneo4j_spark import oracle
from gfftoneo4j_spark.corpus import CorpusConfig, make_alias_dict, make_transcripts
from gfftoneo4j_spark.plans.graph_sink import read_graph, write_graph
from gfftoneo4j_spark.plans.pipeline import build_kg
from gfftoneo4j_spark.sources.transcripts import ALIAS_DICT_SCHEMA, TRANSCRIPT_SCHEMA

WRITE_JOBS = 9  # write_graph of a default build
READ_JOBS = 2  # read_graph: parquet schema inference
LOOKUP_JOBS = 4  # one hot-entity lookup


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


def test_write_read_and_lookup_job_budgets(spark, tmp_path):
    cfg = CorpusConfig(n_conversations=30, n_entities=15, seed=11)
    turns, dict_rows = make_transcripts(cfg), make_alias_dict(cfg)
    t = spark.createDataFrame(turns, TRANSCRIPT_SCHEMA)
    res = build_kg(spark, t, spark.createDataFrame(dict_rows, ALIAS_DICT_SCHEMA))
    path = str(tmp_path / "graph")
    _, n_write = _jobs(spark, "write", lambda: write_graph(res.nodes, res.edges, path))
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
    assert (n_write, n_read, n_lookup) == (WRITE_JOBS, READ_JOBS, LOOKUP_JOBS)
