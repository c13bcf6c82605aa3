"""r06b candidate-generation internals: exactly-once pair emission
(minimal-band join filters replacing the raw-emission dedup shuffle)
and exact token interning for the array_intersect verify.

The gate already proves end-to-end output equality vs the DuckDB
oracles; these tests pin the INTERNAL invariants the optimization
relies on, on adversarial inputs the fixture corpus may not cover:
pairs colliding in MANY bands at once, and interning injectivity."""

from pyspark.sql import functions as F

from gfftoneo4j_spark.operators.dedup import (
    bucket_candidate_pairs,
    intern_tokens,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash16,
    simhash_near_dup_pairs,
    ngram_jaccard_pairs_banded,
    verify_jaccard_candidates,
    tokens,
)


def _pair_list(df):
    return [(r["id_a"], r["id_b"]) for r in df.collect()]


def test_lsh_pairs_exactly_once_under_all_band_collisions(spark):
    # 6 identical docs collide in ALL 4 bands; the minimal-band filter
    # must still emit each of the 15 pairs exactly once (the old shape
    # emitted 4x then deduped). Plus one near-dup and one unrelated doc.
    docs = [(i, "alpha beta gamma delta epsilon") for i in range(6)]
    docs.append((6, "alpha beta gamma delta zeta"))  # partial overlap
    docs.append((7, "totally unrelated words only here"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text")
    pairs = _pair_list(lsh_candidate_pairs(sigs))
    assert len(pairs) == len(set(pairs)), "duplicate candidate emission"
    # every identical-doc pair is a candidate (collides in all bands)
    for a in range(6):
        for b in range(a + 1, 6):
            assert (a, b) in pairs
    # doc 7 shares no token, hence no band with the clique
    assert not any(7 in p for p in pairs)


def test_lsh_pair_set_matches_banding_bruteforce(spark):
    # brute-force the banding rule in Python and compare the candidate
    # SET (not just counts) on a mixed corpus
    texts = {
        0: "a b c d e",
        1: "a b c d e",
        2: "a b c d f",
        3: "x y z w v",
        4: "x y z w v",
        5: "p q r s t",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    sigs = minhash_signatures(df, "doc_id", "text")
    rows = {r["id"]: [r[f"sig_{i}"] for i in range(8)] for r in sigs.collect()}
    import hashlib

    def band_hashes(sig):
        return [
            hashlib.md5(f"{sig[2*b]}|{sig[2*b+1]}".encode()).hexdigest()
            for b in range(4)
        ]
    want = set()
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ha, hb = band_hashes(rows[a]), band_hashes(rows[b])
            if any(x == y for x, y in zip(ha, hb)):
                want.add((a, b))
    got = _pair_list(lsh_candidate_pairs(sigs))
    assert len(got) == len(set(got))
    assert set(got) == want


def test_simhash_pairs_exactly_once_and_match_bruteforce(spark):
    # identical texts -> identical signatures -> all 4 nibble bands
    # collide; near-identical -> small hamming; the pair list must be
    # duplicate-free and equal the brute-force banded-hamming rule
    docs = [
        (0, "m n o p q r"),
        (1, "m n o p q r"),
        (2, "m n o p q r"),
        (3, "m n o p q s"),
        (4, "completely different token stream"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = simhash16(df, "doc_id", "text")
    sig_of = {r["id"]: r["simhash"] for r in sigs.collect()}
    got = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(sigs, hamming_max=2).collect()
    ]
    keys = [(a, b) for a, b, _ in got]
    assert len(keys) == len(set(keys)), "duplicate candidate emission"
    want = set()
    ids = sorted(sig_of)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sig_of[a], sig_of[b]
            bands_match = any(
                ((sa >> (4 * j)) & 15) == ((sb >> (4 * j)) & 15)
                for j in range(4)
            )
            if bands_match and bin(sa ^ sb).count("1") <= 2:
                want.add((a, b, bin(sa ^ sb).count("1")))
    assert set(got) == want


def test_banded_blocking_double_bucket_pair_emitted_once(spark):
    # two docs in the SAME base length bucket share BOTH blocks
    # {bkt, bkt+1}; the greatest(bkt_a, bkt_b) rule must emit the pair
    # once, and a cross-bucket near-length pair must still be found
    df = spark.createDataFrame(
        [
            (1, "en", 10, "a b c d e f g h i j"),
            (2, "en", 11, "a b c d e f g h i j"),  # same bucket as 1
            (3, "en", 17, "a b c d e f g h i j"),  # next bucket (w=16)
        ],
        "doc_id long, lang string, n_chars int, text string",
    )
    out = ngram_jaccard_pairs_banded(
        df, "doc_id", "text", "lang", "n_chars", threshold=0.8,
        bucket_width=16,
    )
    got = [(r["id_a"], r["id_b"]) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == {(1, 2), (1, 3), (2, 3)}


def test_single_bucket_unique_skips_nothing(spark):
    # unique=True on a one-bucket-per-id table: same pair set as the
    # deduped default path
    keyed = spark.createDataFrame(
        [(i, i % 2) for i in range(8)], "id long, bucket int"
    )
    dedup = _pair_list(bucket_candidate_pairs(keyed, ["bucket"]))
    uniq = _pair_list(bucket_candidate_pairs(keyed, ["bucket"], unique=True))
    assert len(uniq) == len(set(uniq))
    assert set(uniq) == set(dedup)


def test_intern_tokens_injective_and_deterministic(spark):
    # give every (row, token) a unique row id and recover the
    # token -> tid mapping in Python (no Spark self-join of the frame
    # against its own ancestor)
    words = ["aa", "bb", "cc", "w0", "w1", "w2", "aa", "bb"]
    rows = list(enumerate(words))
    token_of = dict(rows)
    tok = spark.createDataFrame(rows, "id long, token string")
    ids = intern_tokens(tok)
    got = {r["id"]: r["tid"] for r in ids.collect()}
    # cardinality preserved: one tid row per input row
    assert len(got) == len(rows)
    mapping = {}
    for rid, tid in got.items():
        w = token_of[rid]
        # functional: equal tokens always get the same tid
        assert mapping.setdefault(w, tid) == tid
    # injective: distinct tokens get distinct tids
    assert len(set(mapping.values())) == len(mapping)
    # deterministic across evaluations
    again = {r["id"]: r["tid"] for r in ids.collect()}
    assert got == again


def test_verify_length_prefilter_keeps_boundary_pairs(spark):
    # J = 4/5 = 0.8 exactly at the threshold: the size prefilter
    # (t_pre < 0.8) must NOT drop it; a hopeless size-ratio pair must
    # fall out before the intersect and a passing pair must survive
    docs = [
        (1, "a b c d"),          # 4 tokens
        (2, "a b c d e"),        # 5 tokens, inter 4 -> J = 0.8
        (3, "a b"),              # size ratio 2/5 -> hopeless vs 2
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    tok = tokens(df, "doc_id", "text")
    cand = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in verify_jaccard_candidates(cand, tok, 0.8).collect()
    }
    assert got == {(1, 2, 0.8)}


def test_banded_blocking_tolerates_duplicated_doc_rows(spark):
    # an upstream replay duplicates a doc row: the blocks distinct must
    # keep pair emission exactly-once (review finding, r06b)
    rows = [
        (1, "en", 10, "a b c d e f g h i j"),
        (1, "en", 10, "a b c d e f g h i j"),  # replayed copy
        (2, "en", 11, "a b c d e f g h i j"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars int, text string"
    )
    out = ngram_jaccard_pairs_banded(
        df, "doc_id", "text", "lang", "n_chars", threshold=0.8,
        bucket_width=16,
    )
    got = [(r["id_a"], r["id_b"]) for r in out.collect()]
    assert got == [(1, 2)]


def test_carry_output_requires_unique(spark):
    import pytest

    keyed = spark.createDataFrame(
        [(1, 0), (2, 0)], "id long, bucket int"
    )
    with pytest.raises(ValueError, match="unique=True"):
        bucket_candidate_pairs(keyed, ["bucket"], with_keys=True)
    with pytest.raises(ValueError, match="unique=True"):
        bucket_candidate_pairs(keyed, ["bucket"], out_carry=["bucket"])
