"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded from outside the library: the tracer replaces the
public functions each layer exposes with wrappers that time the call
and tag every Spark job it starts with the layer's name and the op's
number as the job group (``extraction#2``). Spark's own event log
(uncompressed, parsed here with stdlib ``json``) then attributes stages,
tasks, shuffle bytes, spill, GC and executor CPU to the job groups,
i.e. to the layers of each op.

Laziness matters: most library calls only build a plan, and the work
runs at the next action. ``TracingCheckpointer`` therefore splits
``build_kg`` at its stage boundaries, so extraction, canonicalization,
linking and the edge windows each run inside their own span.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from gfftoneo4j_spark.plans.checkpoint import StageCheckpointer

LAYERS = (
    "session",
    "sources",
    "extraction",
    "linking",
    "canonicalize",
    "edges",
    "lineage",
    "sink",
    "lookup",
    "pagerank",
    "lpa",
    "cc",
)

# counters every layer records; the event-log ones sum the stages of
# the jobs that ran under the layer's job group
COUNTERS = (
    "self_s",
    "jobs",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "executor_cpu_s",
)

# counters only kg_build reaches; kg_analytics reports them as 0
EXTRA_COUNTERS = (
    "extraction.rows_in",
    "extraction.mentions_out",
    "linking.linked_ratio",
    "sink.bytes_written",
    "sink.files_written",
)

# the traced op's lookup latency, and the run's own record of what
# tracing costs
TRACE_COUNTERS = ("lookup.latency_p50_s", "trace.op_wall_s", "trace.overhead_ratio")

PER_LAYER = (
    tuple(f"{layer}.{c}" for layer in LAYERS for c in COUNTERS)
    + EXTRA_COUNTERS
    + TRACE_COUNTERS
)

_UNITS = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "gc_s": "s",
    "executor_cpu_s": "s",
    "rows_in": "count",
    "mentions_out": "count",
    "linked_ratio": "ratio",
    "bytes_written": "B",
    "files_written": "count",
    "latency_p50_s": "s",
    "op_wall_s": "s",
    "overhead_ratio": "ratio",
}


def unit(name: str) -> str:
    return _UNITS[name.split(".", 1)[1]]


# (module, attribute, layer): the public calls that enter each layer.
# A module that imported a function by name holds its own reference,
# so the same function is patched where each caller looks it up.
PATCHES = (
    ("gfftoneo4j_spark.session", "get_spark", "session"),
    ("gfftoneo4j_spark.sources.transcripts", "read_transcripts", "sources"),
    ("gfftoneo4j_spark.sources.transcripts", "read_alias_dict", "sources"),
    ("gfftoneo4j_spark.plans.pipeline", "extract_mentions_udf", "extraction"),
    ("gfftoneo4j_spark.plans.pipeline", "extract_mentions_sql", "extraction"),
    ("gfftoneo4j_spark.plans.pipeline", "link_mentions", "linking"),
    ("gfftoneo4j_spark.plans.pipeline", "connected_components", "canonicalize"),
    ("gfftoneo4j_spark.plans.pipeline", "lineage_for", "lineage"),
    ("gfftoneo4j_spark.plans.pipeline", "per_partition_counts", "lineage"),
    ("gfftoneo4j_spark.plans.pipeline", "score_histogram", "lineage"),
    # the window passes live inside build_kg, so its call is the
    # edges layer; the stages it reaches are split out below
    ("gfftoneo4j_spark.plans.pipeline", "build_kg", "edges"),
    ("gfftoneo4j_spark.plans.graph_sink", "write_graph", "sink"),
    ("gfftoneo4j_spark.plans.graph_sink", "read_graph", "lookup"),
    ("gfftoneo4j_spark.operators.graph", "pagerank_fixed_point", "pagerank"),
    ("gfftoneo4j_spark.operators.graph", "label_propagation", "lpa"),
    ("gfftoneo4j_spark.operators.connected_components", "connected_components", "cc"),
)

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children_s


@dataclass
class Tracer:
    """Records spans in memory. ``enabled`` is off for untraced ops;
    the wrappers then call straight through."""

    enabled: bool = False
    spark: object = None
    op: int | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, time.perf_counter(), parent, self.op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        prev_group = self._set_group(f"{layer}#{self.op}")
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.end - sp.start
            self._set_group(prev_group)

    def _set_group(self, group: str | None) -> str | None:
        """Swap the thread's Spark job group; returns the previous one."""
        if self.spark is None:
            return None
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(JOB_GROUP)
        sc.setLocalProperty(JOB_GROUP, group)
        return prev

    def install(self) -> None:
        for mod_name, attr, layer in PATCHES:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), layer))

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def self_seconds(self, ops: set[int]) -> dict[str, float]:
        """Summed self time per layer over the spans of ``ops``; spans
        outside any op (the session start) count under op ``None``."""
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp.op in ops:
                out[sp.layer] += sp.self_s
        return out


class TracingCheckpointer(StageCheckpointer):
    """Gives each ``build_kg`` stage its own span: the stage write is
    the action that runs the stage's plan."""

    STAGE_LAYERS = {
        "mentions": "extraction",
        "canon": "canonicalize",
        "linked": "linking",
        "edges": "edges",
    }

    def __init__(self, spark, base_dir: str, tracer: Tracer):
        super().__init__(spark, base_dir)
        self.tracer = tracer

    def stage(self, name, df, fingerprint):
        with self.tracer.span(self.STAGE_LAYERS[name]):
            return super().stage(name, df, fingerprint)

    def stage_dir(self, name: str) -> str:
        return self._paths(name)[0]


# event-log accumulables -> (counter, scale to the counter's unit)
_ACCUMULABLES = {
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks and the summed stage accumulables.
    Reads every file under ``log_dir`` (Spark writes a rolling
    ``eventlog_v2_*`` directory); jobs without a group are dropped."""
    jobs: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    stages: dict[tuple[int, int], dict] = {}
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # a torn last line
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(JOB_GROUP)
                        if group is None:
                            continue
                        jobs[group] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = info
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group, n in jobs.items():
        out[group]["jobs"] += n
    for (sid, _attempt), info in stages.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        rec = out[group]
        rec["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            hit = _ACCUMULABLES.get(acc.get("Name"))
            if hit is not None:
                rec[hit[0]] += float(acc.get("Value", 0)) * hit[1]
    return out


def layer_metrics(
    tracer: Tracer, log_dir: str, op: int, extras: dict[str, float]
) -> dict[str, float]:
    """The layer counters of traced op ``op``, plus the session layer,
    which runs once per run, before any op."""
    groups = parse_event_log(log_dir)
    self_s = tracer.self_seconds({op})
    out = {}
    for layer in LAYERS:
        for c in COUNTERS:
            if c == "self_s":
                out[f"{layer}.{c}"] = self_s.get(layer, 0.0)
            else:
                out[f"{layer}.{c}"] = groups.get(f"{layer}#{op}", {}).get(c, 0.0)
    out["session.self_s"] = tracer.self_seconds({None}).get("session", 0.0)
    for c in COUNTERS[1:]:
        out[f"session.{c}"] = groups.get("session#None", {}).get(c, 0.0)
    for name in EXTRA_COUNTERS:
        out[name] = float(extras.get(name, 0.0))
    return out
