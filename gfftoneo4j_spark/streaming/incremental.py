"""Incremental (Structured Streaming) twin of the batch KG pipeline.

The reference has zero streaming surface (SURVEY.md §2.10: a closed
local file, Application.scala:42-43); the north_rule job is batch with
checkpointed resume. This module exists because every stage of the
batch pipeline was deliberately shaped to be incremental-friendly, and
transcript tables in production *arrive* as a stream: new turns append.

What streams and what can't:
- per-turn extraction + entity linking are stateless / stream-static
  (broadcast dict join): fully streamable, exactly the batch code path.
- `next_turn` / `links` lead() chains need the *next* row — a
  non-time-ordered window, unsupported over unbounded streams. Those
  stay in the periodic batch pass (or an applyInPandasWithState
  per-conversation buffer once conversations have a close marker).
- aggregations stream with an event-time watermark (late turns beyond
  the watermark are dropped to the lineage side, mirroring quarantine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfftoneo4j_spark.functions.extraction import extract_mentions_udf
from gfftoneo4j_spark.operators.linking import link_mentions
from gfftoneo4j_spark.plans.pipeline import (
    conv_node_id,
    entity_node_id,
    is_quarantined,
    mention_node_id,
    mention_rows,
    turn_node_id,
)
from gfftoneo4j_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over an append-only transcript directory.
    maxFilesPerTrigger bounds per-microbatch work (backpressure)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def streaming_turn_triples(stream: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Stateless triple families per arriving turn: in_conv,
    has_mention, refers_to. alias_dict is a *static* DataFrame — Spark
    plans a stream-static broadcast join, no state store.

    The batch pipeline's quarantine rule, mention rows and node ids.
    ``refers_to`` targets the dictionary entity id; rewriting to the
    CC-canonical id happens in the periodic batch pass (the canon map
    changes as new same-as chains arrive, so it is not stream-stable)."""
    turns = stream.where(~is_quarantined())
    mentions = mention_rows(turns, extract_mentions_udf(F.col("text")))
    # identical linking semantics to the batch plan (broadcast dict,
    # exactly-one rule): the static side of a stream-static join
    linked = link_mentions(mentions, alias_dict).linked
    in_conv = turns.select(
        turn_node_id().alias("subj"),
        F.lit("in_conv").alias("pred"),
        conv_node_id().alias("obj"),
    )
    has_mention = linked.select(
        turn_node_id().alias("subj"),
        F.lit("has_mention").alias("pred"),
        mention_node_id().alias("obj"),
    )
    refers_to = linked.select(
        mention_node_id().alias("subj"),
        F.lit("refers_to").alias("pred"),
        entity_node_id("entity_id").alias("obj"),
    )
    return in_conv.unionByName(has_mention).unionByName(refers_to)


def streaming_hourly_rollup(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window turn counts per role — the streaming
    twin of the batch hourly_rollup query. State is bounded: windows
    older than the watermark are finalized and evicted."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("win.start").alias("hour"), "role", "n_turns")
    )


def streaming_dedup_turns(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once turn stream from an at-least-once source:
    ``dropDuplicatesWithinWatermark`` on the turn's natural key.

    Kafka-style sources replay records on rebalance/retry, so the
    ingest edge of the KG pipeline needs a dedup stage BEFORE triple
    extraction or every replayed turn re-emits its edges. Keying on
    (conv_id, turn_idx) with a watermark bounds the dedup state: keys
    older than the watermark are evicted, so state is O(keys per
    watermark window), not O(stream history) — the only shape that
    survives an unbounded 10^12-turn stream. (Plain dropDuplicates on
    a stream never evicts and OOMs; the reference has no streaming
    surface at all — its idempotency is Cypher CREATE UNIQUE,
    Neo4JUtils.scala:40-44, which this mirrors at the stream edge.)
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain everything currently available through the streaming plan
    into an in-memory table and return it as a batch DataFrame — the
    test/checkpoint-resume harness (Trigger.AvailableNow semantics).
    Watermarked aggregations drain with output_mode='complete' (append
    would hold back windows the watermark hasn't closed)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)
