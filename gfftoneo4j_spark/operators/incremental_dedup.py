"""Incremental MinHash+LSH dedup across snapshot boundaries.

The batch dedup family (operators/dedup.py) answers "which pairs in
THIS corpus are near-duplicates"; a production ingestion pipeline asks
a different question every day: "which of the NEW documents duplicate
anything already ingested — without re-shingling the history". This
module persists the LSH band table and the token index as append-only
parquet state, so each new batch:

1. shingles/signs ONLY its own rows (history is never re-read as text),
2. probes its band rows against the stored band index (equi-join on
   (band, band_hash) — the same bucketed-never-all-pairs shape as the
   batch LSH),
3. exact-Jaccard-verifies the candidates against the stored token
   index (``verify_jaccard_candidates``, the batch family's verifier),
   and
4. appends its own band + token rows to the state, then frees its
   staged copies of them.

Signatures (``minhash_signatures``: min of md5('<i>:'+token)), band
rows (``lsh_bands``) and the MinHash configuration (``MINHASH_K``,
``LSH_BANDS``, ``LSH_THRESHOLD``) all come from operators/dedup.py,
the same code and constants the batch LSH runs. Signatures are
content-addressed, so the band rows a document produces are a pure
function of its text: the union of per-batch passes finds EXACTLY the
pair set the full-corpus rebuild finds (pytest-pinned on a two-batch
split, and the gated query's DuckDB oracle IS the full-corpus LSH
SQL — incremental == rebuild is the correctness gate itself).

State is append-only parquet; replayed appends (a crashed batch re-run)
are absorbed by the read-side ``.distinct()`` — band and token rows are
idempotent facts, the same loss-vs-duplication trade as
streaming/sketch_stream.py. At 100 TB the band index is the small
artifact (bands x docs rows of 8-byte-ish hashes); bucket it by
``band_hash`` on write so the probe join co-locates without a shuffle
of history.

Citation: reference has no dedup surface; this extends the engine's
LLM-pipeline addendum (SURVEY.md) — Lee et al. 2021 dedup motivation,
Broder MinHash/LSH from the public formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.dedup import (
    LSH_THRESHOLD,
    SALT,
    lsh_bands,
    minhash_signatures,
    tokens,
    verify_jaccard_candidates,
)
from gfftoneo4j_spark.operators.graph import _drop_checkpoint

_BANDS_SUBDIR = "bands"
_TOKENS_SUBDIR = "tokens"


def _read_state(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """Read an append-only state table with its declared ``schema`` (no
    inference job); absent dir -> empty frame. (Dedup of replayed
    appends happens at the union with the new batch — one distinct
    covers both sources.)"""
    try:
        return spark.read.schema(schema).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema)


def lsh_index_append(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Process ONE new batch against the persisted LSH index: returns
    the verified near-dup pairs involving at least one new document
    (both new-vs-history and new-vs-new), then appends the batch's
    band and token rows to the state.

    The returned frame is materialized (localCheckpoint) BEFORE the
    state append so a caller collecting lazily never observes its own
    batch twice. Pair ids are normalized (id_a < id_b) so the union of
    per-batch results over any batch split equals the full-corpus
    ``minhash_lsh_dedup`` output exactly (content-addressed signatures
    make candidate generation batch-order-independent).
    """
    state_dir = state_dir.rstrip("/")
    bands_dir = f"{state_dir}/{_BANDS_SUBDIR}"
    tokens_dir = f"{state_dir}/{_TOKENS_SUBDIR}"

    sigs = minhash_signatures(batch, id_col, text_col)
    new_bands = (
        lsh_bands(sigs).select("id", "band", "band_hash").localCheckpoint(eager=True)
    )
    new_tokens = tokens(batch, id_col, text_col).localCheckpoint(
        eager=True
    )

    old_bands = _read_state(
        spark, bands_dir, "id long, band int, band_hash string"
    )
    old_tokens = _read_state(spark, tokens_dir, "id long, token string")

    # distinct on the UNION, not just the stored side: a replayed batch
    # (crash re-run) is already IN the state, and duplicated token rows
    # would double sz and quadruple inter (exact dups then hit a 0
    # denominator in the Jaccard — pytest-pinned regression)
    all_bands = old_bands.unionByName(new_bands).distinct()
    # candidates: new rows probe everything (history + this batch);
    # the join key is the band bucket — never a corpus self-join.
    # r06 (guide §2.5): the history side carries a deterministic salt
    # and the (smaller) probing batch replicates ``SALT`` ways, so a
    # hot band bucket's quadratic emission spreads over SALT tasks;
    # join input and pair stream are pinned to core-derived partition
    # counts because AQE sizes partitions from the KB-scale
    # pre-explosion map outputs (measured: the whole probe+verify
    # chain coalesced onto one task at sf0.1).
    n_par = spark.sparkContext.defaultParallelism
    salts = spark.range(SALT).select(
        F.col("id").cast("int").alias("_salt")
    )
    probe = new_bands.crossJoin(salts)
    hist = all_bands.select(
        F.col("id").alias("id_o"),
        "band",
        "band_hash",
        F.pmod(F.xxhash64("id"), F.lit(SALT)).cast("int").alias("_salt"),
    ).repartition(n_par, "band", "band_hash", "_salt")
    cand = (
        # no shuffle_hash hint here, deliberately (contrast with the
        # batch self-join in operators/dedup.py): broadcasting the
        # small probing batch leaves the STREAMING side = the history,
        # whose pinned hash(band, band_hash, _salt) repartition keeps
        # the quadratic emission parallel — forcing SHJ was measured
        # ~25% slower at sf0.1 (extra probe shuffle + per-partition
        # hash build for zero parallelism gain).
        probe.join(hist, ["band", "band_hash", "_salt"])
        .where(F.col("id") != F.col("id_o"))
        .select(
            F.least("id", "id_o").alias("id_a"),
            F.greatest("id", "id_o").alias("id_b"),
        )
        .repartition(n_par * 4, "id_a", "id_b")
        .dropDuplicates()
    )
    # no .distinct() here: the verify's collect_set dedupes token rows
    # itself, so replayed appends still can't inflate sizes (the same
    # guarantee the old union-distinct provided, one shuffle cheaper)
    all_tokens = old_tokens.unionByName(new_tokens)
    out = verify_jaccard_candidates(
        cand, all_tokens, LSH_THRESHOLD
    ).localCheckpoint(eager=True)

    new_bands.write.mode("append").parquet(bands_dir)
    new_tokens.write.mode("append").parquet(tokens_dir)
    # the staged rows are in the state now; ``out`` is its own snapshot
    _drop_checkpoint(new_bands, new_tokens)
    return out
