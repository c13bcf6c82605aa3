"""Physical-plan shape regression tests.

The scale story lives in the PLAN, not just the results: these tests
freeze the properties that make the pipeline 100-TB-viable so a future
refactor can't silently reintroduce a third full shuffle, a sort-merge
join of the mention table, a dropped filter pushdown, or a build that
re-runs extraction for every output it writes.
"""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from gfftoneo4j_spark import oracle
from gfftoneo4j_spark.corpus import CorpusConfig, make_alias_dict, make_transcripts
from gfftoneo4j_spark.plans.graph_sink import (
    read_graph,
    write_graph,
    write_graph_snapshot,
)
from gfftoneo4j_spark.plans.pipeline import InSessionStages, build_kg
from gfftoneo4j_spark.queries import QUERIES
from gfftoneo4j_spark.sources.transcripts import (
    ALIAS_DICT_SCHEMA,
    TRANSCRIPT_SCHEMA,
    alias_dict_from_events,
    transcripts_from_events,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class _PlanRecorder(InSessionStages):
    """The default in-session staging, recording the executed plan of
    each stage it materializes. Those plans plus the ``triples`` plan
    are every plan a build runs to produce its triples."""

    def __init__(self):
        self.plans = {}

    def stage(self, name, df, fingerprint):
        if name in self.materialized:
            self.plans[name] = _plan(df)
        return super().stage(name, df, fingerprint)


def _build_plans(spark, sf_dir, extraction) -> dict[str, str]:
    t = transcripts_from_events(spark, sf_dir)
    d = alias_dict_from_events(spark, sf_dir)
    rec = _PlanRecorder()
    res = build_kg(spark, t, d, extraction=extraction, checkpointer=rec)
    assert set(rec.plans) == set(InSessionStages.materialized)
    return {**rec.plans, "triples": _plan(res.triples)}


@pytest.fixture(scope="module")
def build_plans(spark, sf_dir):
    """The ``kg_triples`` query's build (pandas extraction)."""
    return _build_plans(spark, sf_dir, "pandas")


def test_pipeline_has_exactly_two_wide_exchanges(build_plans):
    """The ONLY full-data shuffles are the two per-conversation windows
    (turn pass + mention pass); every edge family rides one of them."""
    n = sum(
        len(re.findall(r"Exchange hashpartitioning\(conv_id", p))
        for p in build_plans.values()
    )
    assert n == 2, f"expected 2 conv_id exchanges, plans have {n}"


def test_pipeline_linking_is_broadcast_not_sortmerge(build_plans):
    """The alias dictionary / canonical map are broadcast: the mention
    table must never shuffle for the join (J1/J2's in-memory index,
    GeneReader.scala:43-56)."""
    assert "BroadcastHashJoin" in build_plans["linked"]
    for plan in build_plans.values():
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan


def test_pipeline_no_global_edge_dedup(build_plans):
    """Edge uniqueness comes from in-window key dedup, not a corpus-wide
    dropDuplicates (measured hottest operator before removal)."""
    # a global dedup would appear as HashAggregate on (src, dst, type)
    for plan in build_plans.values():
        assert not re.search(r"HashAggregate\(keys=\[src[^\]]*dst", plan)


def test_sql_extraction_plan_is_pure_jvm(spark, sf_dir, build_plans):
    plans = _build_plans(spark, sf_dir, "sql")
    # the extraction's explode is among the checked plans
    assert "Generate" in plans["mentions"]
    for plan in plans.values():
        assert "EvalPython" not in plan  # no Python workers anywhere
    # vectorized, not row-at-a-time
    assert "ArrowEvalPython" in build_plans["mentions"]
    for plan in build_plans.values():
        assert "BatchEvalPython" not in plan


def test_default_build_extracts_once(spark, tmp_path):
    """Without a checkpointer, every output reads the materialized
    ``mentions``/``linked`` stages: writing the graph, lineage and
    metrics runs the extraction UDF once, not once per output."""
    cfg = CorpusConfig(n_conversations=30, n_entities=15, seed=11)
    turns, dict_rows = make_transcripts(cfg), make_alias_dict(cfg)
    res = build_kg(
        spark,
        spark.createDataFrame(turns, TRANSCRIPT_SCHEMA),
        spark.createDataFrame(dict_rows, ALIAS_DICT_SCHEMA),
    )
    outputs = [res.nodes, res.edges, res.triples, res.lineage, res.metrics]
    for df in outputs:
        assert "ArrowEvalPython" not in _plan(df)

    graph, lin = str(tmp_path / "graph"), str(tmp_path / "lineage")
    write_graph(res.nodes, res.edges, graph)
    res.lineage.write.parquet(f"{lin}/lineage")
    res.metrics.write.parquet(f"{lin}/metrics")

    want = oracle.build_graph(turns, dict_rows)
    g = read_graph(spark, graph)
    assert {tuple(r) for r in g.triples.collect()} == want["triples"]
    assert {(r["node_id"], r["label"]) for r in g.nodes.collect()} == want["nodes"]
    by_reason = (
        spark.read.parquet(f"{lin}/lineage")
        .groupBy("reason")
        .agg(F.sum("n").alias("n"))
    )
    assert {r["reason"]: r["n"] for r in by_reason.collect()} == want["lineage"]
    metrics = spark.read.parquet(f"{lin}/metrics")
    per_part = metrics.where(F.col("metric") == "triples_per_partition")
    assert per_part.agg(F.sum("value")).first()[0] == len(want["triples"])


def _record_write_plans(monkeypatch) -> dict[str, str]:
    """Record the plan of every ``DataFrameWriter.parquet`` write, keyed
    by the last component of its path (``nodes`` / ``edges`` for the
    graph sink)."""
    plans = {}
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        plans[path.rsplit("/", 1)[-1]] = _plan(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    return plans


@pytest.mark.parametrize("writer", [write_graph, write_graph_snapshot])
def test_sink_edge_dedup_rides_the_write_spread(spark, tmp_path, monkeypatch, writer):
    """Each sink table has exactly one exchange: the range partitioning
    that spreads the write (nodes on node_id, edges on (type, src)).
    The `create unique` dedup rides it; neither table gains a hash
    exchange of its own on (src), (src, dst, type) or (node_id)."""
    plans = _record_write_plans(monkeypatch)
    nodes = spark.createDataFrame(
        [("m", "mention")] * 2, "node_id string, label string"
    )
    edges = spark.createDataFrame(
        [("m", "e", "refers_to")] * 2, "src string, dst string, type string"
    )
    writer(nodes, edges, str(tmp_path / "graph"))
    exchanges = {
        table: re.findall(r"Exchange (.*)", plan)
        for table, plan in plans.items()
    }
    assert len(exchanges["nodes"]) == 1, exchanges
    assert re.match(
        r"rangepartitioning\(node_id#\d+ ASC NULLS FIRST, \d+\)",
        exchanges["nodes"][0],
    )
    assert len(exchanges["edges"]) == 1, exchanges
    assert re.match(
        r"rangepartitioning\(type#\d+ ASC NULLS FIRST, src#\d+ ASC NULLS FIRST, \d+\)",
        exchanges["edges"][0],
    )


def test_build_nodes_are_made_unique_once_at_the_sink(spark, tmp_path, monkeypatch):
    """`create unique` for nodes happens once, in the sink: a default
    build's nodes write holds exactly one exchange keyed on node_id,
    the sink's range partitioning. (When ``build_kg`` also deduped its
    nodes, a hashpartitioning(node_id) and two more sorts came first.)"""
    cfg = CorpusConfig(n_conversations=30, n_entities=15, seed=11)
    res = build_kg(
        spark,
        spark.createDataFrame(make_transcripts(cfg), TRANSCRIPT_SCHEMA),
        spark.createDataFrame(make_alias_dict(cfg), ALIAS_DICT_SCHEMA),
    )
    plans = _record_write_plans(monkeypatch)
    write_graph(res.nodes, res.edges, str(tmp_path / "graph"))
    keyed = re.findall(r"Exchange (\w+partitioning)\(node_id#", plans["nodes"])
    assert keyed == ["rangepartitioning"], keyed


def test_scan_filter_pushdown(spark, sf_dir):
    """Filters must reach the parquet scan (SURVEY §4: predicate
    pushdown is free only if the plan stays declarative)."""
    plan = _plan(QUERIES["scan_project_filter"](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "no filters pushed to the scan"


def test_scan_column_pruning(spark, sf_dir):
    """A projection query must not read unused columns (ReadSchema)."""
    plan = _plan(QUERIES["scan_project_filter"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m is not None
    read_cols = m.group(1)
    # the query touches 4 of lineitem's 11 columns; the rest are pruned
    for unused in ("l_partkey", "l_quantity", "l_shipdate", "l_tax"):
        assert unused not in read_cols


def test_kfold_snake_no_global_user_rank(spark, sf_dir):
    """group_kfold_snake (r06): the per-user activity rank must not be
    a single-partition row_number over ALL users — fold aggregates come
    from the bucket-offset two-phase rank blocks. The only remaining
    windows are the <=32-row bucket-offset window, the bucket-local
    running sum (hash-partitioned by bucket), and the 5-row balance
    report."""
    plan = _plan(QUERIES["group_kfold_snake"](spark, sf_dir))
    assert "row_number" not in plan, "global per-user rank reintroduced"
    assert re.search(r"hashpartitioning\(bucket", plan), (
        "bucket-local running sum window missing"
    )
