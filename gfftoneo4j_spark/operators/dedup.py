"""Deduplication family for large-scale corpus pipelines.

Four strategies, all shuffle-lean and portable (hash primitives are
md5-hex so a SQL oracle can reproduce results bit-for-bit):

- exact:      one hash-groupBy on the key (map-side combinable)
- n-gram Jaccard: token-level set overlap *within blocking buckets* —
  the pair space never goes quadratic in the corpus, only in the bucket
- MinHash+LSH: k independent min-hashes (min of md5(seed:token), the
  lexicographic min of a uniform hash IS a minhash), banded into
  LSH buckets; candidate pairs come from a bucket self-join
- SimHash:    16-bit signature via per-bit majority vote, computed as an
  order-free weighted sum (no collect_list ordering hazards)

At 100 TB the critical properties: tokenization explodes rows but every
groupBy is map-side combinable; self-joins happen only inside
bucket/band groups; no Python in the hot path.

r06 shared machinery: ``bucket_candidate_pairs`` (salted, explicitly
pinned bucket self-join — AQE sizes partitions from pre-explosion
map-output bytes and otherwise serializes the quadratic emission into
one task) and ``token_set_arrays`` + ``verify_jaccard_candidates``
(exact-Jaccard verification via codegen'd ``array_intersect`` over
per-doc token-set arrays instead of exploding |cand| x |doc| token
rows through two shuffles and a groupBy).

r06b refinements: exactly-once candidate emission (minimal-band join
filters + ``unique=True`` replace the raw-emission dropDuplicates
shuffle; a shuffle_hash hint keeps the emission itself on the salted
layout), ``intern_tokens`` (verify compares interned LONG ids, not
strings — the per-pair hashing cost moves to one per-token join), and
a recall-exact length prefilter ahead of the intersect.

Each pair-generation decision is stated once, here: the salted pair
join (``bucket_candidate_pairs``, which the blocked, banded and PPJoin
prefix joins all call), the LSH banding rule (``lsh_bands``, whose rows
incremental LSH persists), the MinHash configuration (``MINHASH_K``,
``LSH_BANDS``, ``LSH_THRESHOLD``) and salt width (``SALT``), and the
exact-Jaccard verifier (``verify_jaccard_candidates``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The MinHash+LSH configuration every caller and the DuckDB twins share:
# MINHASH_K permutations, banded into LSH_BANDS bands of
# MINHASH_K // LSH_BANDS rows, pairs verified at Jaccard >= LSH_THRESHOLD.
# Batch and incremental LSH read the same constants, so incremental ==
# rebuild cannot drift through a configuration mismatch.
MINHASH_K = 8
LSH_BANDS = 4
LSH_THRESHOLD = 0.8
# salt width of every salted pair join (bucket_candidate_pairs and the
# incremental probe): one hot bucket's quadratic emission spreads over
# this many tasks
SALT = 16


def exact_duplicates(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Groups with >1 row per key: (key..., n_dups, keeper_id).
    Keeper = min id (deterministic)."""
    return (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id, token) rows, whitespace tokenization — the single
    tokenizer every Jaccard/MinHash/SimHash entry point shares, so the
    tokenization rule can't drift between them."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 5,
    hash_shingles: bool = True,
    with_pos: bool = False,
) -> DataFrame:
    """``width``-word shingle rows (doc_id[, pos], sk) — the one place
    the tokenize -> shingle -> hash rule lives (duplicate_spans,
    contamination, and any future suffix-style dedup all ride it).

    ``hash_shingles=True`` emits ``sk = xxhash64(shingle)`` so every
    downstream exchange shuffles 8 bytes instead of the width-word
    string (the round-2 duplicate_spans fix, now enforced centrally);
    False emits the exact string for verification runs. ``with_pos``
    adds the 0-based shingle position (posexplode) for span
    reconstruction. Documents shorter than ``width`` words produce no
    rows."""
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    key = (lambda c: F.xxhash64(c)) if hash_shingles else (lambda c: c)
    gen = F.transform(
        F.sequence(F.lit(1), n - width + 1),
        lambda i: F.array_join(F.slice(w, i, width), " "),
    )
    base = df.where(n >= width)
    if with_pos:
        return base.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(gen).alias("pos", "shingle"),
        ).select("doc_id", "pos", key(F.col("shingle")).alias("sk"))
    return base.select(
        F.col(id_col).alias("doc_id"), F.explode(gen).alias("shingle")
    ).select("doc_id", key(F.col("shingle")).alias("sk"))


def bucket_candidate_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    carry: list[str] | None = None,
    pair_filter=None,
    unique: bool = False,
    out_carry: list[str] | None = None,
    with_keys: bool = False,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing a bucket key —
    the candidate-generation core every blocked/banded dedup shares.

    ``keyed`` is (id, *key_cols), one row per (id, bucket) membership.
    Two r06 scale/parallelism fixes over the naive self-join
    (guide §2.5):

    - the left side carries a deterministic salt (pmod(xxhash64(id)))
      and the right side is replicated ``SALT`` ways, so ONE hot
      bucket's quadratic pair emission spreads over ``SALT`` tasks
      instead of serializing in one (AQE skew-join can't see this
      skew: the bucket rows are tiny in bytes, only the join OUTPUT
      explodes);
    - both the join input and the pair stream are repartitioned to an
      explicitly pinned, core-derived partition count. AQE sizes
      post-shuffle partitions from map-output BYTES, and the
      pre-explosion inputs here are kilobytes — measured at sf0.1 it
      coalesced the whole emission + dedup + verify chain onto ONE
      task (22 s single-threaded for 30.6 M emitted pairs). Pinning is
      derived from defaultParallelism (cluster: total executor cores),
      never a hard-coded local constant.

    r06b — eliminating the raw-emission dedup shuffle (guide §2.2,
    "shuffle fewer bytes"): a pair colliding in several buckets is
    emitted once per bucket, so the naive stream needs a
    ``dropDuplicates`` over the RAW emission (measured 30.6 M rows into
    13.8 M at sf0.1 for the 4-band LSH). Callers whose bucket layout
    lets them prove exactly-once emission skip that shuffle entirely:

    - ``carry``: extra ``keyed`` columns shipped through the join —
      visible to ``pair_filter`` as-is (left row) and ``<name>__b``
      (right row);
    - ``pair_filter(a, b)``: extra join predicate built from the two
      accessors (``a("col")`` / ``b("col")``), evaluated INSIDE the
      join before any emission leaves the task — the minimal-bucket
      rule lives here;
    - ``unique=True``: caller asserts each qualifying pair is emitted
      exactly once (single bucket per id, or a minimal-bucket
      ``pair_filter``), so the pinned repartition + dropDuplicates are
      dropped. The downstream exchange then sizes itself from the REAL
      post-explosion pair bytes, so AQE cannot under-partition it the
      way it under-partitioned the kilobyte pre-explosion inputs;
      the join carries a shuffle_hash hint (see below) so the pair
      EMISSION itself runs on the pinned layout — without the
      repartition there is no downstream exchange left to rescue a
      single-task emission;
    - ``out_carry`` / ``with_keys``: carried columns (as ``<c>_a`` /
      ``<c>_b``) resp. the bucket key columns echoed into the output,
      saving the caller a re-attach join against the id table.
    """
    if (out_carry or with_keys) and not unique:
        # the non-unique path dedups over ALL output columns; echoed
        # key/carry columns would make multi-bucket pairs survive as
        # several rows (and a subset-dedup would pick an arbitrary
        # bucket — nondeterministic). Exactly-once callers only.
        raise ValueError(
            "out_carry/with_keys require unique=True (exactly-once "
            "emission); the deduped path cannot carry per-bucket "
            "columns deterministically"
        )
    n_par = keyed.sparkSession.sparkContext.defaultParallelism
    spark = keyed.sparkSession
    carry = carry or []
    left = keyed.withColumn(
        "_salt", F.pmod(F.xxhash64("id"), F.lit(SALT)).cast("int")
    ).repartition(n_par, *key_cols, "_salt")
    salts = spark.range(SALT).select(F.col("id").cast("int").alias("_salt"))
    right = keyed.select(
        F.col("id").alias("id_b"),
        *key_cols,
        *[F.col(c).alias(f"{c}__b") for c in carry],
    ).crossJoin(salts)
    cond = F.col("id") < F.col("id_b")
    if pair_filter is not None:
        cond = cond & pair_filter(
            lambda c: F.col(c), lambda c: F.col(f"{c}__b")
        )
    out_cols = [F.col("id").alias("id_a"), F.col("id_b")]
    if with_keys:
        out_cols += [F.col(k) for k in key_cols]
    for c in out_carry or []:
        out_cols += [
            F.col(c).alias(f"{c}_a"),
            F.col(f"{c}__b").alias(f"{c}_b"),
        ]
    # SHUFFLE_HASH, build = the unreplicated left: Spark otherwise
    # BROADCASTS the kilobyte bucket table and streams the other side
    # in the partitioning AQE coalesced from its tiny pre-explosion map
    # bytes — measured at sf0.1 the whole 30 M-pair emission + verify
    # chain ran in ONE task (153 s). The hint forces both sides onto
    # the pinned hash(key_cols, _salt) layout (left's REPARTITION_BY_NUM
    # is reused, AQE cannot coalesce it), so a hot bucket's quadratic
    # emission genuinely spreads over the ``SALT`` tasks.
    pairs = (
        left.hint("shuffle_hash")
        .join(right, [*key_cols, "_salt"])
        .where(cond)
        .select(*out_cols)
    )
    if unique:
        return pairs
    return pairs.repartition(n_par * 4, "id_a", "id_b").dropDuplicates()


def intern_tokens(tok: DataFrame) -> DataFrame:
    """(id, tid) — tokens replaced by injective LONG ids, exactly and
    deterministically (no hash-collision risk: equal tokens get equal
    tids, distinct tokens distinct tids, by construction).

    Two-phase, no global sort (the dense_ids discipline): bucket the
    distinct vocabulary by pmod(xxhash64(token), 1024), rank within
    each bucket (a per-bucket window over ~|vocab|/1024 rows), and take
    tid = rank * 1024 + bucket — injective across buckets without
    materializing cumulative offsets. One vocab
    distinct + one |tok|-row equi-join on the token; both linear,
    the same shape as the prefix filter's document-frequency join.

    Why: exact-Jaccard verification compares token sets once per
    CANDIDATE PAIR (tens of millions of rows); array_intersect over
    long arrays measured 2.8x faster than over the raw string arrays
    at sf0.1 (4.6 s vs 12.9 s for 13.8 M pairs) — the per-pair string
    hashing moves to a per-TOKEN join done once (guide §2.3: shuffle
    and probe narrower types)."""
    n_buckets = 1024
    vocab = tok.select("token").distinct().withColumn(
        "bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int")
    )
    w = Window.partitionBy("bucket").orderBy("token")
    vmap = vocab.select(
        "token",
        (
            F.row_number().over(w).cast("long") * n_buckets + F.col("bucket")
        ).alias("tid"),
    )
    return tok.join(vmap, "token").select("id", "tid")


def token_set_arrays(tok: DataFrame) -> DataFrame:
    """(id, toks) — each document's distinct tokens folded into ONE
    array row of interned LONG ids (sorted for determinism). The
    verify-side representation every Jaccard family member shares:
    |toks| = the old per-id size count, and
    ``size(array_intersect(toks_a, toks_b))`` = the old token-equi-join
    intersection count (interning is injective, so intersection and
    sizes are preserved exactly), computed in JVM codegen per candidate
    pair instead of by exploding |cand| x |doc| token rows through two
    shuffles and a groupBy (guide §2.3/§2.4 — the r06 fix for the
    LSH-family bench walls). collect_set dedupes, so callers may pass
    non-distinct (id, token) rows; array size is bounded by document
    length, the same bound the exploded form had per group."""
    return intern_tokens(tok).groupBy("id").agg(
        F.sort_array(F.collect_set("tid")).alias("toks")
    )


def verify_jaccard_candidates(
    cand: DataFrame,
    tok: DataFrame,
    threshold: float,
    round_dp: int = 3,
    round_before_filter: bool = True,
    with_inter: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard for candidate (id_a, id_b) pairs.

    Two hash joins of the candidate list against the per-doc token
    arrays (the arrays side is |docs| rows — AQE broadcasts it when it
    fits; at scale it shuffles once, never per pair), then intersection
    and union sizes as codegen'd array expressions. Zero-overlap
    candidates yield jaccard 0 and fall out of the threshold filter,
    exactly as they fell out of the inner intersection join before.

    ``round_before_filter`` mirrors the two historical contracts:
    minhash/banded filter on the ROUNDED jaccard (3 dp), the PPJoin
    path filters raw then rounds to 6 dp. ``with_inter`` adds the
    intersection count column (PPJoin output contract).

    r06b length prefilter (guide §3, "pre-filter when selective"):
    J = i/(|a|+|b|-i) <= min(|a|,|b|)/max(|a|,|b|) always (i <= min,
    union >= max), so any pair that can reach the output satisfies
    min >= t_pre * max with t_pre strictly below the lowest raw
    jaccard the filter accepts (threshold - 10^-dp covers the
    round-half-up boundary; -1e-9 covers float edges). The size test
    is two cached array lengths per pair; the array_intersect hash
    probe — the expensive part — runs only on pairs that survive.
    Recall-exact by the inequality above, so output is unchanged."""
    arrs = token_set_arrays(tok)
    a = arrs.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = arrs.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac_raw = inter / (F.size("toks_a") + F.size("toks_b") - inter)
    t_pre = threshold - (10.0 ** -round_dp if round_before_filter else 0.0) - 1e-9
    len_ok = F.least(F.size("toks_a"), F.size("toks_b")) >= F.lit(t_pre) * F.greatest(
        F.size("toks_a"), F.size("toks_b")
    )
    joined = cand.join(a, "id_a").join(b, "id_b").where(len_ok)
    cols = [F.col("id_a"), F.col("id_b")]
    if with_inter:
        cols.append(inter.cast("long").alias("inter"))
    if round_before_filter:
        cols.append(F.round(jac_raw, round_dp).alias("jaccard"))
        return joined.select(*cols).where(F.col("jaccard") >= threshold)
    cols.append(F.round(jac_raw, round_dp).alias("jaccard"))
    return joined.where(jac_raw >= threshold).select(*cols)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Token-set Jaccard over pairs sharing a blocking key.

    Candidates come from a self-join of the (id, block) table alone —
    the token dimension never multiplies the pair join (r06: the old
    shape joined token rows, shuffling |pair| x |doc| rows) — then
    exact verification via array_intersect on per-doc token-set
    arrays. Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard
    rounded to 3 dp (oracle-portable).

    CONTRACT: ``block_col`` must be single-valued per document (a
    function of the doc row, e.g. lang|n_chars) — exactly-once
    emission relies on it; a multi-valued blocking column would
    duplicate pairs that share several blocks (use
    ngram_jaccard_pairs_banded for the multi-block layout, which
    carries the minimal-shared-block rule)."""
    blocks = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block")
    ).distinct()
    # one block per document (the block is a function of the doc row),
    # so every pair meets in exactly one bucket: unique=True skips the
    # raw-emission dedup shuffle (r06b)
    cand = bucket_candidate_pairs(blocks, ["block"], unique=True)
    tok = tokens(df, id_col, text_col)
    return verify_jaccard_candidates(cand, tok, threshold)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """MINHASH_K-permutation MinHash: sig_i = min over tokens of
    md5('<i>:'+tok). One groupBy with MINHASH_K min-aggregates — a
    single shuffle, map-side combinable, portable to any engine with
    md5."""
    tok = tokens(df, id_col, text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("token")))).alias(f"sig_{i}")
        for i in range(MINHASH_K)
    ]
    return tok.groupBy("id").agg(*aggs)


def _first_band_filter(arr_col: str, n_bands: int):
    """Minimal-band join predicate: keep a candidate only at its FIRST
    colliding band — true iff no band before the joined ``band`` also
    matches. Expanded to scalar ``element_at`` comparisons (the band
    count is a small static constant) instead of slice/zip_with
    higher-order functions: the predicate runs once per RAW bucket
    match (tens of millions of rows), and the scalar form stays in
    whole-stage codegen with zero per-row array allocation."""

    def pred(a, b):
        cond = F.lit(False)
        for bb in range(n_bands):
            earlier_differ = F.lit(True)
            for j in range(bb):
                earlier_differ = earlier_differ & (
                    F.element_at(a(arr_col), j + 1)
                    != F.element_at(b(arr_col), j + 1)
                )
            cond = cond | ((F.col("band") == bb) & earlier_differ)
        return cond

    return pred


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """(id, bhs, band, band_hash): one row per (doc, band), the LSH
    banding rule in one place. Band b's hash is the md5 of its
    MINHASH_K // LSH_BANDS signatures joined by '|'; ``bhs`` carries
    the doc's whole band-hash array (for the minimal-band filter), and
    one posexplode emits the per-band rows. Batch LSH joins on
    (band, band_hash); incremental LSH persists (id, band, band_hash)
    as its index."""
    rows = MINHASH_K // LSH_BANDS
    sig_cols = [f"sig_{i}" for i in range(MINHASH_K)]
    bhs = F.array(
        *[
            F.md5(F.concat_ws("|", *sig_cols[b * rows : (b + 1) * rows]))
            for b in range(LSH_BANDS)
        ]
    )
    return sigs.select("id", bhs.alias("bhs")).select(
        "id", "bhs", F.posexplode("bhs").alias("band", "band_hash")
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """A pair is a candidate iff it collides in >=1 band
    (``lsh_bands``). The self-join is per band-hash bucket, never
    global. CONTRACT: ``sigs`` must carry ONE row per id
    (minhash_signatures' groupBy guarantees it) — exactly-once
    emission relies on it.

    r06b minimal-band emission: a pair colliding in several bands used
    to be emitted once per band and deduped with a 30.6 M-row shuffle
    (sf0.1). Each row now carries the doc's full band-hash array and
    the join keeps a pair only at its FIRST colliding band
    (no earlier band hash matches) — exactly-once by construction,
    identical pair set (>=1 colliding band still means >=1 emission,
    the minimal one), no dedup shuffle."""
    return bucket_candidate_pairs(
        lsh_bands(sigs),
        ["band", "band_hash"],
        carry=["bhs"],
        pair_filter=_first_band_filter("bhs", LSH_BANDS),
        unique=True,
    )


def minhash_lsh_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Full MinHash+LSH dedup: signatures -> banded candidate pairs ->
    exact-Jaccard verification of candidates only. The verify join
    touches candidate pairs, not the corpus-quadratic pair space —
    LSH's whole point. Returns (id_a, id_b, jaccard) with jaccard >=
    LSH_THRESHOLD, rounded 3dp (oracle-portable)."""
    cand = lsh_candidate_pairs(minhash_signatures(df, id_col, text_col))
    tok = tokens(df, id_col, text_col)
    # r06: array_intersect verify — two joins of |cand| small rows
    # against |docs| token-set arrays, instead of exploding
    # |cand| x |doc| token rows through two shuffles and a groupBy
    return verify_jaccard_candidates(cand, tok, LSH_THRESHOLD)


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash as an integer: bit j is the majority vote over
    tokens of bit j of md5(token) (hex digit j+1 >= '8').

    ONE groupBy(id) with 16 conditional ±1 sums over the token rows —
    no (id, j) explode. An earlier draft exploded every token 16x and
    shuffled (id, j) pairs: 16x shuffle amplification for the identical
    result; this shape shuffles each distinct (id, token) row once and
    is map-side combinable."""
    tok = tokens(df, id_col, text_col)
    md5c = F.md5(F.col("token"))
    vote_sums = [
        F.sum(
            F.when(
                F.substring(md5c, j + 1, 1).isin(*list("89abcdef")), F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j in range(16)
    ]
    bits = tok.groupBy("id").agg(*vote_sums)
    sig = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bits.select("id", sig.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "id",
    sig_col: str = "simhash",
    hamming_max: int = 2,
) -> DataFrame:
    """Near-dup pairs from 16-bit SimHash signatures by banded Hamming
    blocking: split each signature into its 4 nibbles (bands); a pair
    is a candidate iff >= 1 band matches exactly; verify with
    bit_count(xor) <= ``hamming_max``.

    Recall is EXACT, by pigeonhole: hamming_max differing bits can
    touch at most hamming_max of the 4 bands, so any pair within the
    threshold has >= 4 - hamming_max untouched bands and is always a
    candidate (requires hamming_max < 4). The self-join is per
    (band, nibble) bucket — 16 * 4 buckets — never corpus-global; the
    verify is a single JVM popcount on the 8-byte signatures, no token
    re-shuffle (contrast with MinHash's exact-Jaccard verify, which
    re-joins tokens). Returns
    (id_a, id_b, hamming int) with id_a < id_b.

    CONTRACT: ``sigs`` must carry ONE row per id (simhash16's groupBy
    guarantees it) — exactly-once emission relies on it; duplicated
    signature rows would duplicate output pairs.
    """
    n_bands = 4  # the 16-bit signature's nibbles
    if hamming_max >= n_bands:
        raise ValueError("pigeonhole recall needs hamming_max < n_bands")
    # r06b: minimal-band emission — each row carries the signature's
    # full nibble array; the join keeps a pair only at its FIRST
    # matching band (no earlier nibble equal), so every candidate is
    # emitted exactly once and the raw-emission dedup shuffle is gone.
    # The 8-byte signatures ride the same rows (out_carry), so the
    # popcount verify needs no re-attach joins against the sigs frame
    # either — the whole operator is one salted self-join.
    nibs = F.array(
        *[
            F.shiftright(F.col(sig_col), 4 * j).bitwiseAND(F.lit(15))
            for j in range(n_bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig"), nibs.alias("nibs")
    ).select("id", "sig", "nibs", F.posexplode("nibs").alias("band", "nib"))
    cand = bucket_candidate_pairs(
        banded,
        ["band", "nib"],
        carry=["nibs", "sig"],
        pair_filter=_first_band_filter("nibs", n_bands),
        unique=True,
        out_carry=["sig"],
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).where(F.col("hamming") <= hamming_max)


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 5,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact-substring duplicate-span detection (the training-data
    dedup of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", re-expressed relationally instead of via
    a suffix array).

    Every ``width``-word shingle of every document is hashed; a shingle
    that occurs in >= 2 distinct documents marks its position as
    duplicated; maximal runs of adjacent duplicated positions merge
    into spans via the classic pos - row_number() gaps-and-islands
    trick (a per-document window over duplicated positions only).

    Returns (doc_id, span_start, span_end, n_shingles) with token
    positions 0-based and span_end inclusive of the last shingle's
    last token.

    Scale shape: one map-side-combinable two-level groupBy on the
    shingle (never corpus-quadratic), one semi-join back on the
    shingle hash, and a window whose partitions are per-document
    duplicated positions (bounded by document length).

    Shuffle bytes: every exchange (the distinct, the count, the
    semi-join) carries ``xxhash64(shingle)`` — 8 bytes — instead of
    the ``width``-word string, cutting shuffled shingle bytes ~width
    x avg-word-length / 8 pre-compression (measured at sf0.1,
    identical 3,596 output rows: 7.39 MB vs 14.48 MB total shuffle
    write — 1.96x post-lz4, because the tiny-vocabulary synthetic
    shingles compress unusually well; real corpora sit nearer the
    raw ratio). A 64-bit
    collision marks a position duplicated that isn't; expected false
    positives stay << 1 until ~2^32 distinct shingles PER COLLIDING
    PAIR meet — negligible for span *marking* (pass
    ``hash_shingles=False`` to shuffle the exact strings when
    verifying). The design is otherwise exact because equal shingles,
    not similar ones, are matched.
    """
    shingled = shingles(
        df, id_col, text_col, width, hash_shingles, with_pos=True
    )
    cross_doc = (
        shingled.select("sk", "doc_id")
        .distinct()
        .groupBy("sk")
        .count()
        .where(F.col("count") >= 2)
        .select("sk")
    )
    dup_pos = shingled.join(cross_doc, "sk", "left_semi").select(
        "doc_id", "pos"
    )
    wg = Window.partitionBy("doc_id").orderBy("pos")
    return (
        dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(wg))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + width - 1).cast("int").alias("span_end"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .drop("grp")
    )


def cross_corpus_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 5,
    hash_shingles: bool = True,
) -> DataFrame:
    """Benchmark-contamination detection — the decontamination step of
    a training-data pipeline (GPT-3 appendix C / The Pile style):
    flag every training document sharing a ``width``-word shingle with
    the held-out evaluation set, with the contaminated fraction so
    callers can threshold (drop doc vs excise span).

    Scale shape: shingle both sides once; the eval side reduces to
    DISTINCT shingle keys (tiny next to the corpus — AQE broadcasts it
    when it fits, else it's a shuffled semi-join keyed on an 8-byte
    hash); one combinable groupBy for totals and one for hits. Nothing
    is corpus-quadratic, and with ``hash_shingles`` every exchange
    carries xxhash64 keys, not strings (same trade as
    duplicate_spans).

    Returns (doc_id, n_shingles, n_contaminated, frac) for corpus
    docs with >= 1 overlapping shingle occurrence (occurrences counted
    with multiplicity).
    """
    corpus_sh = shingles(corpus, id_col, text_col, width, hash_shingles)
    eval_sh = (
        shingles(eval_set, id_col, text_col, width, hash_shingles)
        .select("sk")
        .distinct()
    )
    tot = corpus_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus_sh.join(eval_sh, "sk", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return tot.join(hits, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 3).alias("frac"),
    )


def ngram_jaccard_pairs_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    band_col: str,
    threshold: float = 0.8,
    bucket_width: int = 16,
) -> DataFrame:
    """Token-set Jaccard with length-BANDED blocking.

    Exact-length blocking (ngram_jaccard_pairs over (lang, n_chars))
    misses near-dups of different length — e.g. a doc minus its last
    word. Jaccard >= t bounds the size ratio of the pair, so near-dups
    have near-equal lengths: bucket the numeric ``band_col`` (e.g.
    n_chars) by ``bucket_width`` and emit each doc into its own AND
    the next bucket, so every pair whose lengths differ by <
    bucket_width shares a block. Blocking stays a candidate FILTER —
    exact Jaccard verification decides membership, so widening buckets
    can only add candidates, never wrong pairs.

    Scale shape: the probe doubles token rows (2 blocks/doc, bounded
    2x shuffle amplification); the pair space is per-(lang, bucket),
    never corpus-quadratic ACROSS blocks; the distinct before the
    intersection count collapses pairs meeting in both shared buckets.
    Caveat measured on the synthetic corpus: when the corpus is
    near-dup-DENSE (tiny shared vocabulary, most docs pairwise
    J>=0.8), the true answer itself is ~quadratic in the block
    population and no blocking scheme can make it small — cap
    downstream with a representative-per-cluster reduction (CC over
    the pair graph, operators/connected_components.py) rather than by
    weakening the blocker.
    """
    bucket = F.floor(F.col(band_col) / bucket_width).cast("int")
    # distinct: duplicated doc rows (an upstream replay) must not
    # multiply pair emissions now that the pair-level dedup is gone —
    # one slim |docs| x 2 shuffle restores the old tolerance (r06b
    # review finding)
    blocks = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        bucket.alias("bkt"),
        F.explode(F.array(bucket, bucket + 1)).alias("block"),
    ).distinct()
    # r06: candidates from the (id, lang, block) table ALONE — the old
    # shape multiplied the block self-join by the token dimension.
    # r06b minimal-bucket emission: each doc sits in blocks
    # {bkt, bkt+1}; two docs share greatest(bkt_a, bkt_b) iff they
    # share any block (|bkt_a - bkt_b| <= 1), so emitting only there
    # is exactly-once — no dedup shuffle for pairs meeting in both
    # shared buckets. Verify is the shared array_intersect tail (a
    # pair sharing a bucket but no token verifies at jaccard 0 and
    # falls out, exactly as it produced no intersection row before).
    min_shared = lambda a, b: F.col("block") == F.greatest(  # noqa: E731
        a("bkt"), b("bkt")
    )
    cand = bucket_candidate_pairs(
        blocks,
        ["lang", "block"],
        carry=["bkt"],
        pair_filter=min_shared,
        unique=True,
    )
    tok = tokens(df, id_col, text_col)
    return verify_jaccard_candidates(cand, tok, threshold)


def prefix_filter_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT all-pairs token-set Jaccard >= ``threshold`` via prefix
    filtering (the PPJoin family) — the third blocking strategy next to
    MinHash/SimHash banding (probabilistic recall) and length banding
    (coarse): exact recall at a fraction of the candidate volume.

    The pruning theorem: order every document's distinct tokens by a
    GLOBAL total order (rarest first); if two sets have Jaccard >= t,
    they must share a token within each other's first
    n - ceil(t * n) + 1 tokens. So only those short prefixes join —
    emission is bounded by (1 - t) * |d| + 1 rows per document, and the
    prefix tokens are by construction the RAREST, so bucket sizes are
    the inverse-frequency tail, not the stop-word head (the exact
    opposite skew profile of a naive token join).

    Plan shape: one distinct tokenize; one combinable df count; the
    rank is a PER-DOCUMENT window ordered by (df, token) — group size
    = document length, never a global vocab sort (the activity_gini
    lesson: the total order is the TUPLE, no global dense rank
    needed); prefix self-join on the rare-token key; exact verify =
    one token-keyed intersection count over candidate pairs only.

    Returns (id_a, id_b, inter, jaccard) with id_a < id_b, jaccard
    rounded to 6dp.
    """
    tok = tokens(df, id_col, text_col)
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(dfreq, "token")
        .join(sizes, "id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df", "token")
            ),
        )
    )
    # prefix length: n - ceil(t*n) + 1
    pfx = ranked.where(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("id", "token", "rn", "n")
    # Candidates: the salted, pinned pair join of every blocked dedup
    # (bucket_candidate_pairs — a stop-word-ish prefix token under
    # near-dup-dense skew cannot serialize its quadratic emission into
    # one task; its shuffle_hash hint keeps the 132 M-row raw emission
    # at sf0.1 off the bimodal 5 s / 19 s broadcast plan), with the
    # PPJoin length and positional filters evaluated INSIDE the join,
    # before the dedup shuffle. Both are provably recall-exact (Xiao et
    # al., PPJoin):
    # - length: J >= t forces min(n_a, n_b) >= t * max(n_a, n_b);
    # - positional: common tokens all sit at ranks >= the FIRST shared
    #   token's rank on BOTH sides (one global token order), so
    #   overlap <= 1 + min(n_a - rn_a, n_b - rn_b); a true pair's
    #   first shared emission always satisfies
    #   that bound >= minoverlap = t/(1+t) * (n_a + n_b).
    # The 1e-9 slack only WIDENS candidates at float boundaries —
    # verification stays exact, so the output is unchanged.
    eps = 1e-9

    def ppjoin_ok(a, b):
        na, nb = a("n"), b("n")
        len_ok = F.least(na, nb) + F.lit(eps) >= F.lit(threshold) * F.greatest(na, nb)
        pos_ok = (
            1 + F.least(na - a("rn"), nb - b("rn")) + F.lit(eps)
            >= F.lit(threshold / (1.0 + threshold)) * (na + nb)
        )
        return len_ok & pos_ok

    cand = bucket_candidate_pairs(
        pfx, ["token"], carry=["rn", "n"], pair_filter=ppjoin_ok
    )
    # r06: array_intersect verify (raw-jaccard filter then 6 dp round,
    # the PPJoin output contract) — see verify_jaccard_candidates
    return verify_jaccard_candidates(
        cand,
        tok,
        threshold,
        round_dp=6,
        round_before_filter=False,
        with_inter=True,
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``width``-word
    shingle, slide a ``window``-shingle window, and keep the minimum
    hash of each window (ties to the RIGHTMOST position, the paper's
    rule). Guarantees: any shared run of ``width + window - 1`` words
    between two documents shares at least one fingerprint, and
    fingerprint density is ~2/(window+1) of positions — a
    position-aware sketch exact-substring matching can seed from,
    where MinHash only answers set-level similarity.

    Relational form: the rightmost-min tie rule folds into one BIGINT
    ordering key ``h * 2^20 + (2^20 - 1 - pos)`` (40-bit md5 shingle
    hash, 20-bit position space), so "min hash, rightmost pos" is a
    plain min() over a bounded rows-window — no sequential scan, no
    UDF, and the same expression runs in any ANSI engine. Scale
    shape: shingle explode (row count ~= corpus tokens), one
    partitionBy(doc) rows-window, one distinct on the winner key
    whose cardinality is the fingerprint density bound — all keyed by
    doc, so a 100 TB corpus fans out per-document with no global
    state. Positions beyond 2^20 shingles per doc would collide with
    the hash field; documents that long belong to the chunking
    operator first (cleaning.doc_chunks).

    Returns (doc_id, pos, fp) — fingerprint positions and 40-bit
    hashes, the winnowed sketch of each document.
    """
    pos_space = 1 << 20
    sh = shingles(
        df, id_col, text_col, width=width, hash_shingles=False, with_pos=True
    )
    h40 = F.conv(F.substring(F.md5(F.col("sk")), 1, 10), 16, 10).cast("long")
    keyed = sh.select(
        "doc_id",
        "pos",
        (
            h40 * F.lit(pos_space)
            + (F.lit(pos_space - 1) - F.col("pos"))
        ).alias("okey"),
    )
    n_sh = Window.partitionBy("doc_id")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    # full windows only: the window starting at pos exists iff
    # pos + window <= n_shingles
    winners = (
        keyed.withColumn("n", F.count(F.lit(1)).over(n_sh))
        .withColumn("wkey", F.min("okey").over(w))
        .where(F.col("pos") + window <= F.col("n"))
        .select("doc_id", "wkey")
        .distinct()
    )
    return winners.select(
        "doc_id",
        (F.lit(pos_space - 1) - F.col("wkey") % F.lit(pos_space))
        .cast("int")
        .alias("pos"),
        # integer shift, not `/`: double division would round a 60-bit
        # key at the 53-bit mantissa
        F.shiftright("wkey", 20).alias("fp"),
    )
