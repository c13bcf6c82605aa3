"""End-to-end transcript -> knowledge-graph pipeline.

Spark-native re-expression of the reference's driver flow
(Application.scala:30-40: read -> parse -> group by sequence -> assemble
hierarchy -> write graph), with semantics frozen in
``gfftoneo4j_spark.oracle``:

    transcripts ──quarantine──> turns ──window──> next_turn / in_conv
        └─pandas-UDF extract──> mentions ──broadcast link──> linked
              └─ CC canonicalization (same-as chains) ──> refers_to
    edges = next_turn ∪ in_conv ∪ has_mention ∪ mentions_seq ∪ links
            ∪ refers_to — unique by construction (`create unique`
            analogue): keys are deduped inside the window passes and
            contract violators land in lineage
    triples = (subj, pred, obj) view of edges

Scale notes (100 TB / 10^12 turns):
- The ONLY wide exchanges are the two per-conversation windows (one
  shuffle each on conv_id; every edge family rides one of them —
  key-dedup, lag-mark and lead() share the same exchange). There is NO
  global edge dedup: a dropDuplicates over 10^12 edges would build a
  corpus-sized hash map and a third full shuffle (profiled as the
  hottest operator in the pipeline before removal). Linking is a
  broadcast join (zero shuffle of the mention table); canonicalization
  shuffles only the tiny entity edge set.
- Mega-conversations make conv_id a skewed window key; the window is
  semantically sequential per conversation, so we cap skew damage by
  AQE + `repartition(conv_id)` before the window rather than salting
  (salting would break lead() chains).
- Every output reads `mentions` and `linked`; left lazy, each written
  output re-ran the pandas extraction and the link joins. Without a
  checkpointer both are `localCheckpoint`ed, so they run once per build.
  Those blocks are executor-local: a lost executor fails the job instead
  of recomputing; resumable runs pass a `StageCheckpointer`. `edges`,
  the largest table, stays lazy: storing it bought nothing.
- Nodes take no exchange of their own in the build: the conversation
  and entity nodes are each a ``distinct`` (one exchange on conv_id,
  one on canonical_id), turn and mention nodes are projections, and
  the union is made unique by ``node_id`` on the graph sink's range
  exchange, the only exchange on node_id.
- Node ids are deterministic strings (content-addressed), so re-runs
  and resumed runs produce identical graphs — unlike the reference's
  server-assigned Neo4j ids (Neo4JUtils.scala:38).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gfftoneo4j_spark.functions.extraction import (
    extract_mentions_sql,
    extract_mentions_udf,
)
from gfftoneo4j_spark.operators.connected_components import connected_components
from gfftoneo4j_spark.operators.linking import link_mentions
from gfftoneo4j_spark.operators.windows import segmented_lag, segmented_lead
from gfftoneo4j_spark.plans.checkpoint import StageCheckpointer
from gfftoneo4j_spark.plans.lineage import (
    lineage_for,
    per_partition_counts,
    score_histogram,
    union_lineage,
)


def is_quarantined() -> Column:
    """The parse contract's failure predicate: a transcript row with
    null or empty text or a null turn_idx is quarantined to lineage
    (quirk Q3), never turned into nodes or edges. A function, like the
    id builders below, because building a Column needs an active
    session."""
    return (
        F.col("text").isNull()
        | (F.col("text") == "")
        | F.col("turn_idx").isNull()
    )


# Node-id builders, evaluated POST-shuffle everywhere: exchanges carry
# only (conv_id, turn_idx[, pos]) — at 10^12 rows the "turn:"/"mention:"
# prefixes and stringified ints would roughly double the shuffled bytes
# (and cross executor sockets twice).
def turn_node_id(turn_idx: str = "turn_idx") -> Column:
    return F.concat_ws(":", F.lit("turn"), F.col("conv_id"), F.col(turn_idx))


def mention_node_id(turn_idx: str = "turn_idx", pos: str = "pos") -> Column:
    return F.concat_ws(
        ":", F.lit("mention"), F.col("conv_id"), F.col(turn_idx), F.col(pos)
    )


def conv_node_id() -> Column:
    return F.concat(F.lit("conv:"), F.col("conv_id"))


def entity_node_id(entity_id: str = "canonical_id") -> Column:
    return F.concat(F.lit("ent:"), F.col(entity_id))


def mention_rows(turns: DataFrame, extracted: Column) -> DataFrame:
    """(conv_id, turn_idx, pos, alias): one row per mention that
    ``extracted``, an extraction over ``text``, finds in a turn."""
    exploded = turns.select("conv_id", "turn_idx", F.explode(extracted).alias("m"))
    return exploded.select("conv_id", "turn_idx", "m.pos", "m.alias")


class StrictModeViolation(ValueError):
    """Raised by ``build_kg(..., strict=True)`` when any input row
    would be quarantined — the analogue of the reference's fail-fast
    parse (Application.scala:47 throws IllegalArgumentException on the
    first bad line). Carries the violation count and a bounded sample
    so the error is actionable without collecting the quarantine set."""

    def __init__(self, n_bad: int, sample: list[tuple]):
        self.n_bad = n_bad
        self.sample = sample
        super().__init__(
            f"strict mode: {n_bad} transcript row(s) failed the parse "
            f"contract (null/empty text or null turn_idx); first "
            f"{len(sample)} (conv_id, turn_idx): {sample}. Re-run with "
            f"strict=False to quarantine them to lineage instead."
        )


@dataclass
class KGResult:
    """The build's outputs, all lazy. ``edges`` (and ``triples``) hold
    each edge once: their keys are deduped inside the window passes.
    ``nodes`` holds one row per node occurrence: an id repeats only
    when the input repeats a turn key (a replayed turn and its
    mentions). Every writer of the graph (``graph_sink``'s
    ``write_graph``, ``write_graph_snapshot`` and
    ``write_bucketed_graph``) makes nodes unique by ``node_id`` on its
    own exchange: the sink is where `create unique` happens, as the
    graph store applies it in the reference (Neo4JUtils.scala:42-43)."""

    turns: DataFrame
    nodes: DataFrame
    edges: DataFrame
    triples: DataFrame
    lineage: DataFrame
    metrics: DataFrame


def _canonicalize_entities(alias_dict: DataFrame) -> DataFrame:
    """(entity_id -> canonical id) from parent_id same-as chains via
    distributed CC; entities without chains map to themselves via the
    left join in the caller."""
    parent_edges = (
        alias_dict.where(F.col("parent_id").isNotNull())
        .select(F.col("entity_id").alias("u"), F.col("parent_id").alias("v"))
        .distinct()
    )
    return connected_components(parent_edges)  # (node, component)


class InSessionStages:
    """``build_kg``'s stager without a ``checkpointer``: lazily
    ``localCheckpoint`` the stages every output reads (computed by the
    first job that needs them, read back by the rest); pass the others
    through."""

    materialized = ("mentions", "linked")

    def stage(self, name: str, df: DataFrame, fingerprint: str) -> DataFrame:
        if name in self.materialized:
            return df.localCheckpoint(eager=False)
        return df


def _keyed_chain(df: DataFrame, keys: list[str], segment_rows: int | None):
    """Pair each row with its successor in its conversation, ordered by
    ``keys`` — the reference's sort-then-zip-with-tail
    (Neo4JUtils.scala:45-51). Returns ``(led, dups)``: ``dups`` are the
    rows whose keys repeat the previous row's; ``led`` is every other
    row plus ``next_<key>`` for each key (null on a conversation's last
    row).

    Edge uniqueness (the reference's `create unique`,
    Neo4JUtils.scala:43) is enforced HERE, not by a global
    dropDuplicates: every edge family is unique by construction once
    its keys are unique, so the keys are deduped with a lag() inside
    the window shuffle that already exists (zero extra exchanges) and
    violators go to lineage. A global dropDuplicates on the edge set
    would build a 10^12-entry string-keyed hash map + a full extra
    shuffle — measured as the single hottest operator in the pipeline
    before removal (FastHashMap.findOrInsert + copyMemory dominating
    task CPU).

    Turns order by turn_idx alone: rows tied on (conv_id, turn_idx)
    build the SAME turn_id string, so the survivor of the lag()-dedup
    and every lead() target are invariant to tie order — carrying ts
    as a tie-break would add 8 bytes x 10^12 rows to the pipeline's
    largest exchange for zero semantic effect. The oracle applies the
    same rule: it keeps the first row of each repeated key after its
    (turn_idx, ts) sort and counts the repeats in lineage
    (``duplicate_turn_key``, ``duplicate_mention_key``). Which of two
    repeats with DIFFERENT text survives is left open by both.

    Without ``segment_rows`` the lead() window has the lag() window's
    spec over the same partitioning: Catalyst reuses the exchange and
    the sort order survives the filter, so the pass is one shuffle.

    ``segment_rows``: mega-conversation hardening. A plain window puts
    a whole conversation in ONE task; a 10^10-turn conversation is a
    straggler/OOM. segmented_lead/lag (operators/windows.py)
    range-split each conversation into turn_idx segments and stitch
    boundaries through a tiny per-segment table — identical output
    (pytest-asserted), bounded task size."""
    w = Window.partitionBy("conv_id").orderBy(*keys)

    def shift(rows, window_fn, segmented, prefix):
        if segment_rows:
            return segmented(rows, "conv_id", keys, keys, segment_rows)
        return rows.select(
            "*", *[window_fn(k).over(w).alias(prefix + k) for k in keys]
        )

    marked = shift(df, F.lag, segmented_lag, "prev_")
    repeat = reduce(operator.and_, [F.col(f"prev_{k}") == F.col(k) for k in keys])
    kept = marked.where(F.col(f"prev_{keys[0]}").isNull() | ~repeat).drop(
        *[f"prev_{k}" for k in keys]
    )
    return shift(kept, F.lead, segmented_lead, "next_"), marked.where(repeat)


def _edge_rows(df: DataFrame, ids: dict[str, Column], *edges) -> DataFrame:
    """One ``(src, dst, type)`` row per input row and edge spec, whose
    ``src`` / ``dst`` name node ids in ``ids`` — an explode of structs,
    so the edge families built from one window pass need no union
    branches re-reading it. Each id is built once per row, before the
    explode. Rows whose ``dst`` is null (no successor) are dropped."""
    structs = [
        F.struct(F.col(s).alias("src"), F.col(d).alias("dst"), F.lit(t).alias("type"))
        for s, d, t in edges
    ]
    return (
        df.select(*[c.alias(name) for name, c in ids.items()])
        .select(F.explode(F.array(*structs)).alias("e"))
        .select("e.*")
        .where(F.col("dst").isNotNull())
    )


def build_kg(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    extraction: str = "pandas",
    checkpointer: StageCheckpointer | None = None,
    fingerprint: str = "default",
    segment_rows: int | None = None,
    strict: bool = False,
) -> KGResult:
    """Stages go through ``checkpointer.stage``: a
    :class:`StageCheckpointer` snapshots them to parquet and reuses them
    on resume. Without one, :class:`InSessionStages` materializes
    ``mentions`` and ``linked``, which every output reads, so extraction
    and linking run once per build, not once per written output. Those
    blocks are executor-local: a lost executor fails the job instead of
    recomputing, so runs that need resume or fault tolerance pass a
    checkpointer.

    ``strict=True`` raises :class:`StrictModeViolation` if any row
    fails the parse contract instead of quarantining it — the
    reference's abort-on-bad-line semantics (Application.scala:47) for
    invariant testing and data-quality gates; default ``False`` keeps
    the engine's quarantine-to-lineage behavior (quirk Q3)."""
    bad = is_quarantined()
    quarantined = transcripts.where(bad)
    if strict:
        # Fail-fast data-quality gate (quirk Q3, Application.scala:47;
        # SURVEY §3.3). The limit(6) probe short-circuits: Spark stops
        # scanning once 6 violations surface, so a CLEAN corpus pays
        # one pushed-filter scan and a dirty one aborts early; the full
        # count runs only on the failure path.
        sample = [
            (r["conv_id"], r["turn_idx"])
            for r in quarantined.select("conv_id", "turn_idx").limit(6).collect()
        ]
        if sample:
            raise StrictModeViolation(quarantined.count(), sample[:5])
    # turns fans out into 4 edge/node families. Deliberately NOT
    # persisted: the source is columnar parquet, so each branch re-scans
    # only the columns it needs (pruned, ~free), while caching 10^12
    # text-bearing rows would pay columnar re-compression up front
    # (measured 63s for 4M rows at local[32] — slower than every
    # downstream branch combined) and then read *slower* than parquet.
    turns_raw = transcripts.where(~bad)
    turns = turns_raw.withColumn("turn_id", turn_node_id())

    # --- structural + sequence edges in ONE window pass over turns:
    # lead() gives next_turn, the same row emits in_conv — a 2-struct
    # explode instead of two union branches re-shuffling turns.
    led_turns, dup_turns = _keyed_chain(
        turns_raw.select("conv_id", "turn_idx"), ["turn_idx"], segment_rows
    )
    dup_turns = dup_turns.select(turn_node_id().alias("turn_id"), "conv_id")
    # concat_ws skips nulls, so without the when() a conversation's last
    # row would get the id "turn:<conv_id>" instead of no successor
    next_turn = F.when(
        F.col("next_turn_idx").isNotNull(), turn_node_id("next_turn_idx")
    )
    turn_edges = _edge_rows(
        led_turns,
        {"turn": turn_node_id(), "next": next_turn, "conv": conv_node_id()},
        ("turn", "next", "next_turn"),
        ("turn", "conv", "in_conv"),
    )

    # --- vectorized extraction (P1) ------------------------------------
    stages = checkpointer if checkpointer is not None else InSessionStages()
    if extraction == "pandas":
        ms = extract_mentions_udf(F.col("text"))
    elif extraction == "sql":
        ms = extract_mentions_sql(F.col("text"))
    else:
        raise ValueError(f"unknown extraction mode {extraction!r}")
    mentions = stages.stage(
        "mentions", mention_rows(turns_raw, ms), f"{fingerprint}:extract:{extraction}"
    )

    # --- broadcast entity linking (J1/J2) -------------------------------
    lr = link_mentions(mentions, alias_dict)

    # --- canonicalization (J4 -> CC) ------------------------------------
    canon = _canonicalize_entities(alias_dict)
    canon = stages.stage("canon", canon, f"{fingerprint}:canon")
    linked = (
        lr.linked.join(
            F.broadcast(canon), lr.linked["entity_id"] == canon["node"], "left"
        )
        .withColumn("canonical_id", F.coalesce("component", "entity_id"))
        .drop("node", "component")
    )
    linked = stages.stage("linked", linked, f"{fingerprint}:link:{extraction}")

    # --- mention edge families in ONE window pass over linked ----------
    # The conv-wide lead() ordered by (turn_idx, pos) yields the `links`
    # chain; restricting it to same-turn successors yields the
    # `mentions_seq` chain (consecutive kept mentions within a turn) —
    # no second window shuffle. has_mention / refers_to ride the same
    # row via the 4-struct explode.
    led_mentions, dup_mentions = _keyed_chain(
        linked.select("conv_id", "turn_idx", "pos", "canonical_id"),
        ["turn_idx", "pos"],
        segment_rows,
    )
    dup_mentions = dup_mentions.select(mention_node_id().alias("mention_id"))
    next_mention = F.when(
        F.col("next_turn_idx").isNotNull(),
        mention_node_id("next_turn_idx", "next_pos"),
    )
    same_turn = F.col("next_turn_idx") == F.col("turn_idx")
    mention_edges = _edge_rows(
        led_mentions,
        {
            "turn": turn_node_id(),
            "mention": mention_node_id(),
            "entity": entity_node_id(),
            "next": next_mention,
            "next_in_turn": F.when(same_turn, next_mention),
        },
        ("turn", "mention", "has_mention"),
        ("mention", "entity", "refers_to"),
        ("mention", "next", "links"),
        ("mention", "next_in_turn", "mentions_seq"),
    )

    # No dropDuplicates here: with (conv_id, turn_idx) and mention pos
    # deduped inside the window passes above, every family emits each
    # (src, dst, type) exactly once (next_turn/links: one lead per kept
    # row; in_conv/has_mention/refers_to/mentions_seq: one per kept
    # row). `create unique` write semantics for arbitrary inputs remain
    # available via dropDuplicates at the sink (see queries.dedup_on_write).
    edges = turn_edges.unionByName(mention_edges)
    edges = stages.stage("edges", edges, f"{fingerprint}:edges")

    triples = edges.select(
        F.col("src").alias("subj"), F.col("type").alias("pred"), F.col("dst").alias("obj")
    )

    # --- nodes (properties stringified, quirk Q8) ------------------------
    str_props = F.map_filter(
        F.create_map(
            F.lit("turn_idx"), F.col("turn_idx").cast("string"),
            F.lit("role"), F.col("role"),
            F.lit("tool"), F.col("tool"),
            F.lit("ts"), F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        ),
        lambda _, v: v.isNotNull(),
    )
    conv_nodes = (
        turns.select("conv_id")
        .distinct()
        .select(
            conv_node_id().alias("node_id"),
            F.lit("conversation").alias("label"),
            F.create_map(F.lit("conv_id"), F.col("conv_id")).alias("props"),
        )
    )
    turn_nodes = turns.select(
        F.col("turn_id").alias("node_id"),
        F.lit("turn").alias("label"),
        str_props.alias("props"),
    )
    mention_nodes = linked.select(
        mention_node_id().alias("node_id"),
        F.lit("mention").alias("label"),
        F.create_map(
            F.lit("alias"), F.col("alias"),
            F.lit("pos"), F.col("pos").cast("string"),
        ).alias("props"),
    )
    entity_nodes = (
        linked.select(F.col("canonical_id"))
        .distinct()
        .select(
            entity_node_id().alias("node_id"),
            F.lit("entity").alias("label"),
            F.create_map(F.lit("entity_id"), F.col("canonical_id")).alias("props"),
        )
    )
    nodes = reduce(
        lambda a, b: a.unionByName(b),
        [conv_nodes, turn_nodes, mention_nodes, entity_nodes],
    )

    # --- lineage + metrics (Writer analogue, kept not discarded: Q6) -----
    lineage = union_lineage(
        [
            lineage_for(quarantined, "quarantine", "quarantine_empty_text", "conv_id"),
            lineage_for(lr.unlinked, "linking", "unlinked_alias", "alias"),
            lineage_for(lr.ambiguous, "linking", "ambiguous_alias", "alias"),
            lineage_for(dup_turns, "edges", "duplicate_turn_key", "turn_id"),
            lineage_for(dup_mentions, "edges", "duplicate_mention_key", "mention_id"),
        ]
    )
    metrics = per_partition_counts(triples, "triples_per_partition").select(
        "metric", F.col("partition_id").cast("string").alias("key"), "value"
    ).unionByName(
        score_histogram(linked, "link_score").select(
            F.lit("link_score_hist").alias("metric"),
            F.col("bin_lo").cast("string").alias("key"),
            F.col("n").alias("value"),
        )
    )

    return KGResult(
        turns=turns,
        nodes=nodes,
        edges=edges,
        triples=triples,
        lineage=lineage,
        metrics=metrics,
    )
