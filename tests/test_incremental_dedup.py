"""Incremental LSH dedup == full-corpus rebuild on a two-batch split
(operators/incremental_dedup.py), plus state idempotence."""

import pytest

from gfftoneo4j_spark.operators.dedup import minhash_lsh_dedup
from gfftoneo4j_spark.operators.incremental_dedup import lsh_index_append


@pytest.fixture()
def corpus(spark):
    rows = []
    for i in range(40):
        body = " ".join(f"w{(i * 13 + j) % 23}" for j in range(12))
        rows.append((i, body))
        if i % 5 == 0:
            # exact duplicate under an ODD id (i is even here), so the
            # parity split puts original and copy in DIFFERENT batches
            # and the new-vs-history probe path is exercised
            rows.append((1001 + i, body))
        if i % 7 == 0:
            # near duplicate: 12 shared / 14 union tokens = 0.857 >= 0.8
            rows.append((2000 + i, body + " extra0 extra1"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairset(df):
    return {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }


def test_incremental_equals_full_rebuild(spark, corpus, tmp_path):
    full = _pairset(minhash_lsh_dedup(corpus, "doc_id", "text"))
    assert full, "fixture must contain near-dup pairs"
    b1 = corpus.where("doc_id % 2 = 0")
    b2 = corpus.where("doc_id % 2 = 1")
    state = str(tmp_path / "lsh_state")
    p1 = _pairset(lsh_index_append(spark, b1, state))
    p2 = _pairset(lsh_index_append(spark, b2, state))
    # batch-1 pass sees only intra-batch pairs; batch-2 pass finds
    # everything involving batch 2 (new-vs-new AND new-vs-history)
    assert p1 | p2 == full
    assert p1.isdisjoint(p2)


def test_replayed_batch_is_absorbed(spark, corpus, tmp_path):
    # re-appending the same batch (a crashed run re-executed) must not
    # change the verified pair set: state rows are idempotent facts
    # under the read-side distinct
    state = str(tmp_path / "lsh_state2")
    first = _pairset(lsh_index_append(spark, corpus, state))
    replay = _pairset(lsh_index_append(spark, corpus, state))
    assert replay == first  # same probe vs same (deduped) state
    full = _pairset(minhash_lsh_dedup(corpus, "doc_id", "text"))
    assert first == full


def test_append_frees_its_staged_rows(spark, corpus, tmp_path, registered_by):
    # the batch's band and token rows are checkpointed to be written;
    # once appended only the returned pairs' own snapshot stays
    state = str(tmp_path / "lsh_state3")
    assert registered_by(lambda: lsh_index_append(spark, corpus, state)) == 1
