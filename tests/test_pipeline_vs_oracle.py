"""End-to-end pipeline P/R vs the frozen Python oracle (SURVEY.md §5).

Fixture A analogue: hand-built 2-conversation corpus incl. orphan +
ambiguous mentions. Fixture C analogue: mention-free corpus -> zero
triples, conversation/turn nodes + full lineage. Random seeded corpus:
P/R must be exactly 1.0.
"""

from datetime import datetime, timedelta

import pytest

from gfftoneo4j_spark import oracle
from gfftoneo4j_spark.corpus import CorpusConfig, make_alias_dict, make_transcripts
from gfftoneo4j_spark.plans.pipeline import build_kg
from gfftoneo4j_spark.sources.transcripts import ALIAS_DICT_SCHEMA, TRANSCRIPT_SCHEMA

T0 = datetime(2024, 1, 1)


def _turn(conv, i, text, role="user", tool=None):
    return {
        "conv_id": conv,
        "turn_idx": i,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": T0 + timedelta(seconds=30 * i),
    }


FIXTURE_A_TURNS = [
    # conversation 1: one mention per turn (FPOA_00001-style: 1 gene, 1 cds)
    _turn("cA", 0, "hello <<m:spark_a0>> world"),
    _turn("cA", 1, "plain turn no mentions", role="assistant"),
    _turn("cA", 2, "tool out <<m:spark_a1>>", role="tool", tool="search"),
    # conversation 2: multi-mention turn (FPOA_00002-style: 3 cds chain),
    # an orphan (FPOA_00003 stop_codon analogue) and an ambiguous alias
    _turn("cB", 0, "<<m:join_b0>> mid <<m:join_b1>> end <<m:join_b0>>"),
    _turn("cB", 1, "orphan here <<m:ghost_404>> and <<m:amb_1>>"),
    _turn("cB", 2, ""),  # quarantine (Q3)
    _turn("cB", 3, "tail <<m:spark_a0>>"),
]

FIXTURE_A_DICT = [
    {"alias": "spark_a0", "entity_id": "E10", "entity_type": "entity", "parent_id": None},
    {"alias": "spark_a1", "entity_id": "E11", "entity_type": "topic", "parent_id": "E10"},
    {"alias": "join_b0", "entity_id": "E20", "entity_type": "entity", "parent_id": None},
    {"alias": "join_b1", "entity_id": "E21", "entity_type": "entity", "parent_id": "E20"},
    # ambiguous alias -> two entities (Q9 analogue)
    {"alias": "amb_1", "entity_id": "E30", "entity_type": "entity", "parent_id": None},
    {"alias": "amb_1", "entity_id": "E31", "entity_type": "entity", "parent_id": None},
]


def _run_both(spark, turns, dict_rows, extraction="pandas"):
    tdf = spark.createDataFrame(turns, TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(dict_rows, ALIAS_DICT_SCHEMA)
    res = build_kg(spark, tdf, ddf, extraction=extraction)
    got_triples = {
        (r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()
    }
    want = oracle.build_graph(turns, dict_rows)
    return res, got_triples, want


def _lineage_counts(res) -> dict:
    by_reason = res.lineage.groupBy("reason").sum("n").collect()
    return {r["reason"]: r["sum(n)"] for r in by_reason}


@pytest.mark.parametrize("extraction", ["pandas", "sql"])
def test_fixture_a_exact(spark, extraction):
    res, got, want = _run_both(spark, FIXTURE_A_TURNS, FIXTURE_A_DICT, extraction)
    assert got == want["triples"]
    got_nodes = {(r["node_id"], r["label"]) for r in res.nodes.collect()}
    assert got_nodes == want["nodes"]
    # lineage: 1 quarantined turn, 1 unlinked, 1 ambiguous
    lin = {
        (r["reason"]): None
        for r in res.lineage.collect()
    }
    assert set(lin) == {"quarantine_empty_text", "unlinked_alias", "ambiguous_alias"}
    assert _lineage_counts(res) == want["lineage"]


def test_replayed_turn_keeps_one_copy_like_the_oracle(spark):
    """A turn delivered twice, identical (a replayed event): the engine
    keeps one copy of the repeated (conv_id, turn_idx) key and records
    the repeat and its two linked mentions in lineage; the oracle
    applies the same rule, so neither emits the self-loop next_turn or
    the backward links edge the repeat would make."""
    turns = [
        _turn("c", 0, "start <<m:spark_a0>>"),
        _turn("c", 1, "<<m:spark_a0>> then <<m:join_b0>> <<m:ghost_404>>"),
        _turn("c", 1, "<<m:spark_a0>> then <<m:join_b0>> <<m:ghost_404>>"),
        _turn("c", 2, "end"),
    ]
    res, got, want = _run_both(spark, turns, FIXTURE_A_DICT)
    assert got == want["triples"]
    assert ("turn:c:1", "next_turn", "turn:c:1") not in got
    assert {(r["node_id"], r["label"]) for r in res.nodes.collect()} == want["nodes"]
    assert _lineage_counts(res) == want["lineage"] == {
        "duplicate_turn_key": 1,
        "duplicate_mention_key": 2,
        "unlinked_alias": 2,
    }


def test_fixture_a_canonicalization(spark):
    """spark_a1's entity E11 chains to E10; join_b1 -> E20."""
    res, got, _ = _run_both(spark, FIXTURE_A_TURNS, FIXTURE_A_DICT)
    objs = {o for (_, p, o) in got if p == "refers_to"}
    assert objs == {"ent:E10", "ent:E20"}


def test_fixture_c_no_mentions(spark):
    turns = [_turn(f"c{i}", j, "no markers here at all") for i in range(4) for j in range(2)]
    res, got, want = _run_both(spark, turns, FIXTURE_A_DICT)
    assert got == want["triples"]
    preds = {p for (_, p, _) in got}
    assert preds == {"next_turn", "in_conv"}
    labels = {lbl for (_, lbl) in want["nodes"]}
    assert labels == {"conversation", "turn"}


@pytest.mark.parametrize("extraction", ["pandas", "sql"])
def test_random_corpus_pr_is_one(spark, extraction):
    cfg = CorpusConfig(n_conversations=40, n_entities=20, seed=123)
    turns = make_transcripts(cfg)
    dict_rows = make_alias_dict(cfg)
    _, got, want = _run_both(spark, turns, dict_rows, extraction)
    p, r = oracle.precision_recall(got, want["triples"])
    assert (p, r) == (1.0, 1.0)


def test_extraction_udf_matches_sql_variant(spark):
    cfg = CorpusConfig(n_conversations=25, seed=99)
    turns = make_transcripts(cfg)
    dict_rows = make_alias_dict(cfg)
    _, got_p, _ = _run_both(spark, turns, dict_rows, "pandas")
    _, got_s, _ = _run_both(spark, turns, dict_rows, "sql")
    assert got_p == got_s


def test_strict_mode_raises_on_bad_row(spark):
    """Q3's other half (Application.scala:47): strict=True aborts on
    the first quarantine-worthy row, with count + bounded sample."""
    from gfftoneo4j_spark.plans.pipeline import StrictModeViolation

    tdf = spark.createDataFrame(FIXTURE_A_TURNS, TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(FIXTURE_A_DICT, ALIAS_DICT_SCHEMA)
    with pytest.raises(StrictModeViolation) as ei:
        build_kg(spark, tdf, ddf, strict=True)
    # FIXTURE_A has exactly one bad row: ("cB", 2, "")
    assert ei.value.n_bad == 1
    assert ei.value.sample == [("cB", 2)]


def test_strict_mode_passes_on_clean_corpus(spark):
    clean = [t for t in FIXTURE_A_TURNS if t["text"]]
    tdf = spark.createDataFrame(clean, TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(FIXTURE_A_DICT, ALIAS_DICT_SCHEMA)
    res = build_kg(spark, tdf, ddf, strict=True)
    assert res.triples.count() > 0
    # strict on a clean corpus behaves exactly like the default path
    got = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    want = oracle.build_graph(clean, FIXTURE_A_DICT)
    assert got == want["triples"]


def test_default_mode_quarantines_not_raises(spark):
    res, _, _ = _run_both(spark, FIXTURE_A_TURNS, FIXTURE_A_DICT)
    q = res.lineage.where("reason = 'quarantine_empty_text'")
    assert q.agg({"n": "sum"}).collect()[0][0] == 1
