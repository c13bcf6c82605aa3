"""The layout contract of graph-loop answers: written as they come back,
each data file holds rows sorted by ``node``, and an answer that the
loop driver (``operators/graph._fixed_point``) or connected components'
distributed path sizes to its data is one file. HITS keeps its
shuffle-partition count and CC's local path a local relation split over
the default parallelism, so for those only the order is checked.
Callers that join or aggregate the answer must not pay for the sort.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gfftoneo4j_spark.operators import graph
from gfftoneo4j_spark.operators.connected_components import connected_components


def _edges(spark):
    return spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 30}") for i in range(60)],
        "u string, v string",
    )


def _answer(spark, op):
    edges = _edges(spark)
    seeds = spark.createDataFrame([("n3",), ("n10",)], "seed string")
    weighted = edges.distinct().withColumn("w", F.length("u"))
    return {
        "pagerank3": lambda: graph.pagerank_fixed_point(edges, iters=3),
        "pagerank6": lambda: graph.pagerank_fixed_point(edges, iters=6),
        "seeds3": lambda: graph.pagerank_fixed_point(edges, iters=3, seeds=seeds),
        "seeds6": lambda: graph.pagerank_fixed_point(edges, iters=6, seeds=seeds),
        "weight3": lambda: graph.pagerank_fixed_point(weighted, iters=3, weight="w"),
        "weight6": lambda: graph.pagerank_fixed_point(weighted, iters=6, weight="w"),
        "lpa": lambda: graph.label_propagation(edges, iters=3),
        "katz": lambda: graph.katz_centrality(edges, iters=3),
        "hits": lambda: graph.hits_fixed_point(edges, iters=2),
        "cc_distributed": lambda: connected_components(edges, local_threshold=0),
        "cc_local": lambda: connected_components(edges),
    }[op]()


# answers sized to their data: one file each
SIZED = ["pagerank3", "pagerank6", "seeds3", "seeds6", "weight3", "weight6",
         "lpa", "katz", "cc_distributed"]


@pytest.mark.parametrize("op", SIZED + ["hits", "cc_local"])
def test_answer_files_are_node_sorted(spark, tmp_path, op):
    df = _answer(spark, op)
    out = str(tmp_path / op)
    df.write.parquet(out)
    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert files
    if op in SIZED:
        assert len(files) == 1, files
    written = []
    for path in files:
        table = pq.read_table(path)
        nodes = table.column("node").to_pylist()
        assert nodes == sorted(nodes), path
        written += [tuple(r.values()) for r in table.to_pylist()]
    assert sorted(written) == sorted(tuple(r) for r in df.collect())


def _node_names(plan) -> list[str]:
    """Every operator of a logical plan (a cached relation is a leaf)."""
    kids = plan.children()
    return [plan.nodeName()] + [
        name for i in range(kids.size()) for name in _node_names(kids.apply(i))
    ]


def test_readers_of_an_answer_pay_no_sort(spark):
    """EliminateSorts drops the answer's sort under a join and under an
    order-irrelevant aggregate; it stays at the root of a write."""
    ranks = graph.pagerank_fixed_point(_edges(spark), iters=3)
    other = spark.createDataFrame([(f"n{i}", i) for i in range(30)], "node string, x int")

    def plan(df):
        return _node_names(df._jdf.queryExecution().optimizedPlan())

    assert "Sort" in plan(ranks)
    assert "Sort" not in plan(ranks.join(other, "node"))
    assert "Sort" not in plan(ranks.groupBy(F.length("node")).agg(F.sum("rank")))
