"""The two workloads. Each drives the library's public functions the
way a user script would; see README.md for why each exists.

A workload has three phases:

- ``prepare``: generate the seeded inputs and the expected outputs
  (not part of ``setup_s``);
- ``op``: one timed operation: a compute phase that writes its results,
  then hot-entity lookups;
- ``check``: compare the op's outputs, read back with pyarrow, with the
  expected ones.

Both workloads are batch jobs: a run measures one op, the first work of
a fresh process, as a user's job pays it. Their set-up is the session
start alone.

Library functions are looked up through their modules at call time, so
the tracer's wrappers (tracing.py) see every call.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gfftoneo4j_spark.operators.connected_components as cc_mod
import gfftoneo4j_spark.operators.graph as graph_ops
import gfftoneo4j_spark.plans.graph_sink as graph_sink
import gfftoneo4j_spark.plans.pipeline as pipeline
import gfftoneo4j_spark.sources.transcripts as sources
from gfftoneo4j_spark import oracle
from gfftoneo4j_spark.corpus import write_corpus_fast

import expected as ex
from tracing import Tracer, TracingCheckpointer

N_ENTITIES = 200
N_HOT = 3  # lookups per op, one per hot entity


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Hadoop's
    ``.crc`` side files and ``_SUCCESS`` markers are not data."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def lookup_turns(edges, entity: str) -> int:
    """The lookup a graph consumer runs: turns that mention one entity
    (``refers_to`` joined to ``has_mention``)."""
    mentions = edges.where(
        (F.col("type") == "refers_to") & (F.col("dst") == entity)
    ).select(F.col("src").alias("m"))
    return (
        edges.where(F.col("type") == "has_mention")
        .join(mentions, F.col("dst") == F.col("m"))
        .select("src")
        .distinct()
        .count()
    )


@dataclass
class OpResult:
    compute_s: float
    read_s: float
    lookup_s: list[float]
    bytes_written: int
    input_bytes: int
    turns: int
    lookups: dict[str, int] = field(default_factory=dict)
    # per-layer extras of a traced op (tracing.EXTRA_COUNTERS)
    extras: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, work: str, tracer: Tracer):
        self.work = work
        self.tracer = tracer
        self.n_ops = 0
        self.hot: list[str] = []

    def _lookups(self, read_edges) -> tuple[list[float], dict[str, int]]:
        times, counts = [], {}
        for entity in self.hot:
            t0 = time.perf_counter()
            with self.tracer.span("lookup"):
                counts[entity] = lookup_turns(read_edges(), entity)
            times.append(time.perf_counter() - t0)
        return times, counts

    @staticmethod
    def _check_lookups(got: dict[str, int], want: dict[str, int]) -> list[str]:
        return [
            f"lookup {e}: got {got.get(e)} turns, expected {n}"
            for e, n in want.items()
            if got.get(e) != n
        ]

    @staticmethod
    def _check_digests(what: str, got: dict, want: dict) -> list[str]:
        errs = []
        for g in sorted(set(got) | set(want)):
            if got.get(g) != want.get(g):
                errs.append(f"{what} {g}: got {got.get(g)}, expected {want.get(g)}")
        return errs


class KgBuild(Workload):
    """Batch build: read, ``build_kg`` with defaults, ``write_graph``,
    then lineage and metrics to parquet. Like ``tools/run_pipeline.py``
    it runs once in a fresh process, so the op pays the JVM's first-use
    costs (class loading, JIT, generated-code compiles) as a user's
    batch job does."""

    name = "kg_build"
    n_turns = 20_000

    def prepare(self, seed: int) -> None:
        self.t_path, self.d_path = write_corpus_fast(
            os.path.join(self.work, "input"),
            self.n_turns,
            n_entities=N_ENTITIES,
            seed=seed,
            rows_per_file=self.n_turns // 4,
            row_group_size=self.n_turns // 16,
        )
        self.input_bytes = dir_stats(self.t_path)[0] + os.path.getsize(self.d_path)
        g = oracle.build_graph(read_rows(self.t_path), read_rows(self.d_path))
        self.want_nodes, self.want_edges = ex.graph_digest(g)
        self.hot = ex.hot_entities(g["edges"], N_HOT)
        self.want_lookups = ex.lookup_counts(g["edges"], self.hot)
        self.graph_dir = os.path.join(self.work, "graph")
        self.lineage_dir = os.path.join(self.work, "lineage")

    def op(self, spark, traced: bool) -> OpResult:
        self.n_ops += 1
        ck = None
        if traced:
            ck_dir = os.path.join(self.work, "stages", str(self.n_ops))
            ck = TracingCheckpointer(spark, ck_dir, self.tracer)
        t0 = time.perf_counter()
        res = pipeline.build_kg(
            spark,
            sources.read_transcripts(spark, self.t_path),
            sources.read_alias_dict(spark, self.d_path),
            checkpointer=ck,
            fingerprint=f"op{self.n_ops}",
        )
        graph_sink.write_graph(res.nodes, res.edges, self.graph_dir)
        with self.tracer.span("lineage"):
            res.lineage.write.mode("overwrite").parquet(f"{self.lineage_dir}/lineage")
            res.metrics.write.mode("overwrite").parquet(f"{self.lineage_dir}/metrics")
        t1 = time.perf_counter()
        lookup_s, counts = self._lookups(lambda: graph_sink.read_graph(spark, self.graph_dir).edges)
        t2 = time.perf_counter()
        g_bytes, g_files = dir_stats(self.graph_dir)
        out = OpResult(
            compute_s=t1 - t0,
            read_s=t2 - t1,
            lookup_s=lookup_s,
            bytes_written=g_bytes + dir_stats(self.lineage_dir)[0],
            input_bytes=self.input_bytes,
            turns=self.n_turns,
            lookups=counts,
        )
        if ck is not None:
            n_mentions = spark.read.parquet(ck.stage_dir("mentions")).count()
            n_linked = spark.read.parquet(ck.stage_dir("linked")).count()
            out.extras = {
                "extraction.rows_in": self.n_turns,
                "extraction.mentions_out": n_mentions,
                "linking.linked_ratio": n_linked / n_mentions,
                "sink.bytes_written": g_bytes,
                "sink.files_written": g_files,
            }
            shutil.rmtree(ck.base_dir, ignore_errors=True)
        return out

    def check(self, res: OpResult) -> list[str]:
        nodes, edges = ex.written_graph_digest(self.graph_dir)
        return (
            self._check_digests("nodes", nodes, self.want_nodes)
            + self._check_digests("edges", edges, self.want_edges)
            + self._check_lookups(res.lookups, self.want_lookups)
        )


class KgAnalytics(Workload):
    """Graph consumers: PageRank over all edges, then label propagation
    and distributed connected components over the mention-entity
    (``refers_to``) edges, each written to parquet, then hot-entity
    lookups. The edge table is an input, like the transcripts: the
    oracle's graph of a seeded corpus, written by pyarrow, so the run
    pays no pipeline. Like ``kg_build`` it is a batch job, so the op is
    the process's first work."""

    name = "kg_analytics"
    n_turns = 10_000

    def prepare(self, seed: int) -> None:
        t_path, d_path = write_corpus_fast(
            os.path.join(self.work, "corpus"),
            self.n_turns,
            n_entities=N_ENTITIES,
            seed=seed,
            rows_per_file=self.n_turns // 4,
        )
        g = oracle.build_graph(read_rows(t_path), read_rows(d_path))
        rows = sorted(g["edges"])
        self.edges_path = os.path.join(self.work, "input", "edges")
        os.makedirs(self.edges_path)
        for i in range(4):
            part = rows[i::4]
            pq.write_table(
                pa.table({k: [r[j] for r in part] for j, k in enumerate(("src", "dst", "type"))}),
                os.path.join(self.edges_path, f"part-{i}.parquet"),
            )
        self.input_bytes = dir_stats(self.edges_path)[0]
        self.out_dir = os.path.join(self.work, "analytics")
        self.hot = ex.hot_entities(rows, N_HOT)
        self.want_lookups = ex.lookup_counts(rows, self.hot)
        pairs = {(s, d) for s, d, _t in rows}
        refers = {(s, d) for s, d, t in rows if t == "refers_to"}
        self.want = {
            "pagerank": (["node", "rank"], ex.pagerank(pairs)),
            "lpa": (["node", "community"], ex.label_propagation(refers)),
            "cc": (
                ["node", "component"],
                oracle.canonical_map([{"entity_id": u, "parent_id": v} for u, v in refers]),
            ),
        }

    def op(self, spark, traced: bool) -> OpResult:
        self.n_ops += 1
        t0 = time.perf_counter()
        edges = spark.read.parquet(self.edges_path)
        refers = edges.where(F.col("type") == "refers_to")
        with self.tracer.span("pagerank"):
            graph_ops.pagerank_fixed_point(edges, src="src", dst="dst").write.mode(
                "overwrite"
            ).parquet(f"{self.out_dir}/pagerank")
        with self.tracer.span("lpa"):
            graph_ops.label_propagation(refers, src="src", dst="dst").write.mode(
                "overwrite"
            ).parquet(f"{self.out_dir}/lpa")
        with self.tracer.span("cc"):
            cc_mod.connected_components(
                refers,
                src="src",
                dst="dst",
                local_threshold=0,  # the distributed path
            ).write.mode("overwrite").parquet(f"{self.out_dir}/cc")
        t1 = time.perf_counter()
        lookup_s, counts = self._lookups(lambda: spark.read.parquet(self.edges_path))
        t2 = time.perf_counter()
        return OpResult(
            compute_s=t1 - t0,
            read_s=t2 - t1,
            lookup_s=lookup_s,
            bytes_written=dir_stats(self.out_dir)[0],
            input_bytes=self.input_bytes,
            turns=self.n_turns,
            lookups=counts,
        )

    def check(self, res: OpResult) -> list[str]:
        errs = self._check_lookups(res.lookups, self.want_lookups)
        for name, (cols, expect) in self.want.items():
            got = ex.parquet_digest(f"{self.out_dir}/{name}", None, cols)
            errs += self._check_digests(name, got, ex.mapping_digest(expect))
        return errs


WORKLOADS = {w.name: w for w in (KgBuild, KgAnalytics)}
