"""Structured-Streaming twin of the batch pipeline: the stateless triple
families and the watermarked rollup must produce exactly what the batch
plan produces over the same closed input (stream-batch parity)."""

import os

import pytest
from pyspark.sql import functions as F

from gfftoneo4j_spark.corpus import write_corpus_fast
from gfftoneo4j_spark.plans.pipeline import build_kg
from gfftoneo4j_spark.sources.transcripts import read_alias_dict, read_transcripts
from gfftoneo4j_spark.streaming.incremental import (
    read_transcript_stream,
    run_available_now,
    streaming_hourly_rollup,
    streaming_turn_triples,
)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_corpus"))
    # the streaming file source requires a directory; write_corpus_fast
    # writes transcripts.parquet/ as a multi-file dir (multiple
    # microbatches under maxFilesPerTrigger)
    t_dir, d_path = write_corpus_fast(out, 3000, seed=7, rows_per_file=500)
    return t_dir, d_path


def test_stream_batch_parity_triples(spark, corpus):
    t_path, d_path = corpus
    alias_dict = read_alias_dict(spark, d_path)
    stream = read_transcript_stream(spark, t_path)
    assert stream.isStreaming
    got = run_available_now(
        streaming_turn_triples(stream, alias_dict), "stream_triples"
    )
    batch = streaming_turn_triples(read_transcripts(spark, t_path), alias_dict)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b
    assert {r[1] for r in g} == {"in_conv", "has_mention", "refers_to"}


def test_stream_triples_match_build_kg(spark, corpus):
    """The twin's in_conv and has_mention triples are build_kg's: the
    same quarantine rule and the same node ids. (Its refers_to targets
    dictionary ids, not canonical ones.)"""
    t, d = read_transcripts(spark, corpus[0]), read_alias_dict(spark, corpus[1])
    preds = F.col("pred").isin("in_conv", "has_mention")
    got = {tuple(r) for r in streaming_turn_triples(t, d).where(preds).collect()}
    want = {tuple(r) for r in build_kg(spark, t, d).triples.where(preds).collect()}
    assert got == want
    assert {r[1] for r in got} == {"in_conv", "has_mention"}


def test_stream_hourly_rollup_matches_batch(spark, corpus):
    t_path, _ = corpus
    stream = read_transcript_stream(spark, t_path)
    got = run_available_now(
        streaming_hourly_rollup(stream), "stream_rollup", output_mode="complete"
    )
    batch = (
        read_transcripts(spark, t_path)
        .groupBy(F.window("ts", "1 hour").alias("win"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("win.start").alias("hour"), "role", "n_turns")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in batch.collect()}


def test_stream_dedup_within_watermark(spark, corpus, tmp_path):
    """An at-least-once source (every file delivered twice) must yield
    exactly the unique turn set after streaming_dedup_turns."""
    import shutil

    from gfftoneo4j_spark.streaming.incremental import streaming_dedup_turns

    t_path, _ = corpus
    dup_dir = str(tmp_path / "dup_stream")
    os.makedirs(dup_dir)
    for f in os.listdir(t_path):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(t_path, f), os.path.join(dup_dir, f))
            shutil.copy(
                os.path.join(t_path, f), os.path.join(dup_dir, "replay_" + f)
            )

    stream = read_transcript_stream(spark, dup_dir)
    got = run_available_now(
        streaming_dedup_turns(stream).select("conv_id", "turn_idx", "text"),
        "stream_dedup",
    )
    rows = got.collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicates survived dedup"
    batch = read_transcripts(spark, t_path).select(
        "conv_id", "turn_idx", "text"
    )
    assert {tuple(r) for r in rows} == {tuple(r) for r in batch.collect()}


def test_stream_session_window_matches_batch(spark, corpus):
    """Watermarked session_window aggregation on the stream drains to
    exactly what the same session_window computes in batch over the
    closed input — the streaming twin of operators/windows.sessionize
    (which pins the equivalent assignment logic as plain windows)."""
    t_path, _ = corpus

    def sessions(df):
        return (
            df.groupBy(
                "conv_id", F.session_window("ts", "30 minutes").alias("win")
            )
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(
                "conv_id",
                F.col("win.start").alias("t0"),
                F.col("win.end").alias("t1"),
                "n_turns",
            )
        )

    stream = read_transcript_stream(spark, t_path).withWatermark(
        "ts", "1 hour"
    )
    got = run_available_now(
        sessions(stream), "stream_sessions", output_mode="complete"
    )
    batch = sessions(read_transcripts(spark, t_path))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }
    assert got.count() > 0
