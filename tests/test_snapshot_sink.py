"""Snapshot-versioned graph sink: commit isolation, time travel,
rollback, torn-write recovery, GC."""

from __future__ import annotations

import pytest

from gfftoneo4j_spark.plans.graph_sink import (
    expire_graph_snapshots,
    read_graph_snapshot,
    rollback_graph,
    write_graph_snapshot,
)


def _graph(spark, tag):
    nodes = spark.createDataFrame(
        [(f"n{i}", "entity", tag) for i in range(5)],
        "node_id string, label string, props string",
    )
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", "links") for i in range(4)],
        "src string, dst string, type string",
    )
    return nodes, edges


def test_commit_time_travel_rollback(spark, tmp_path):
    out = str(tmp_path / "g")
    m1 = write_graph_snapshot(*_graph(spark, "v1"), out, fingerprint="a")
    m2 = write_graph_snapshot(*_graph(spark, "v2"), out, fingerprint="b")
    assert (m1["version"], m2["version"]) == (1, 2)

    cur = read_graph_snapshot(spark, out)
    assert cur.nodes.first()["props"] == "v2"
    old = read_graph_snapshot(spark, out, version=1)
    assert old.nodes.first()["props"] == "v1"

    rollback_graph(spark, out, 1)
    assert read_graph_snapshot(spark, out).nodes.first()["props"] == "v1"
    with pytest.raises(ValueError):
        rollback_graph(spark, out, 99)


def test_reader_snapshot_survives_new_commit(spark, tmp_path):
    """A reader holding v1 must see identical data after a new commit
    (no overwrite-in-place)."""
    out = str(tmp_path / "g")
    write_graph_snapshot(*_graph(spark, "v1"), out)
    held = read_graph_snapshot(spark, out, version=1)
    before = sorted(map(tuple, held.triples.collect()))
    write_graph_snapshot(*_graph(spark, "v2"), out)
    assert sorted(map(tuple, held.triples.collect())) == before


def test_torn_write_is_invisible_and_skipped(spark, tmp_path):
    """An orphan v<N> dir without a manifest entry: readers ignore it,
    the next commit does not reuse its number."""
    import os

    out = str(tmp_path / "g")
    write_graph_snapshot(*_graph(spark, "v1"), out)
    os.makedirs(out + "/v2/nodes")  # torn write: dir exists, no commit
    assert read_graph_snapshot(spark, out).nodes.first()["props"] == "v1"
    with pytest.raises(FileNotFoundError):
        read_graph_snapshot(spark, out, version=2)
    m = write_graph_snapshot(*_graph(spark, "v3"), out)
    assert m["version"] == 3
    assert read_graph_snapshot(spark, out).nodes.first()["props"] == "v3"


def test_expire_keeps_current_and_newest(spark, tmp_path):
    import os

    out = str(tmp_path / "g")
    for tag in ("a", "b", "c", "d"):
        write_graph_snapshot(*_graph(spark, tag), out)
    deleted = expire_graph_snapshots(spark, out, keep=2)
    assert deleted == [1, 2]
    assert sorted(
        d for d in os.listdir(out) if d.startswith("v") and d[1:].isdigit()
    ) == ["v3", "v4"]
    assert read_graph_snapshot(spark, out).nodes.first()["props"] == "d"
    with pytest.raises(FileNotFoundError):
        read_graph_snapshot(spark, out, version=1)


def test_diff_snapshots_both_directions(spark, tmp_path):
    from gfftoneo4j_spark.plans.graph_sink import diff_snapshots

    out = str(tmp_path / "g")
    n1, e1 = _graph(spark, "v1")  # edges n0->n1..n3->n4
    write_graph_snapshot(n1, e1, out)
    n2 = n1
    e2 = spark.createDataFrame(
        [("n0", "n1", "links"), ("n9", "n0", "links")],  # drops 3, adds 1
        "src string, dst string, type string",
    )
    write_graph_snapshot(n2, e2, out)
    got = {(r["op"], r["src"], r["dst"]) for r in
           diff_snapshots(spark, out, 1, 2).collect()}
    assert got == {
        ("A", "n9", "n0"),
        ("R", "n1", "n2"),
        ("R", "n2", "n3"),
        ("R", "n3", "n4"),
    }
    # reverse direction swaps A and R
    rev = {(r["op"], r["src"], r["dst"]) for r in
           diff_snapshots(spark, out, 2, 1).collect()}
    assert rev == {("R", "n9", "n0"), ("A", "n1", "n2"),
                   ("A", "n2", "n3"), ("A", "n3", "n4")}


def test_export_import_roundtrip_all_formats(spark, tmp_path):
    """A graph the engine writes carries props: map<string,string>;
    CSV has no map type and JSONL no schema, yet both must round-trip."""
    import pytest as _pytest

    from gfftoneo4j_spark.corpus import (
        CorpusConfig,
        make_alias_dict,
        make_transcripts,
    )
    from gfftoneo4j_spark.plans.graph_sink import (
        export_graph,
        import_graph,
        read_graph,
        write_graph,
    )
    from gfftoneo4j_spark.plans.pipeline import build_kg
    from gfftoneo4j_spark.sources.transcripts import (
        ALIAS_DICT_SCHEMA,
        TRANSCRIPT_SCHEMA,
    )

    cfg = CorpusConfig(n_conversations=5, seed=3)
    res = build_kg(
        spark,
        spark.createDataFrame(make_transcripts(cfg), TRANSCRIPT_SCHEMA),
        spark.createDataFrame(make_alias_dict(cfg), ALIAS_DICT_SCHEMA),
    )
    write_graph(res.nodes, res.edges, str(tmp_path / "graph"))
    g = read_graph(spark, str(tmp_path / "graph"))

    def node_rows(df):
        return sorted(
            (r["node_id"], r["label"], tuple(sorted(r["props"].items())))
            for r in df.collect()
        )

    want_n = node_rows(g.nodes)
    want_e = sorted(map(tuple, g.edges.select("src", "dst", "type").collect()))
    assert {label for _, label, _ in want_n} >= {"conversation", "turn"}
    for fmt in ("jsonl", "csv", "parquet"):
        out = str(tmp_path / fmt)
        export_graph(g, out, fmt)
        back = import_graph(spark, out, fmt)
        assert dict(back.nodes.dtypes)["props"] == "map<string,string>", fmt
        assert node_rows(back.nodes) == want_n, fmt
        got_e = back.edges.select("src", "dst", "type").collect()
        assert sorted(map(tuple, got_e)) == want_e, fmt
        assert sorted(map(tuple, back.triples.collect())) == sorted(
            (s, t, d) for s, d, t in want_e
        ), fmt
    with _pytest.raises(ValueError):
        export_graph(g, str(tmp_path / "bad"), "xml")


def test_expire_keep_zero_keeps_only_current(spark, tmp_path):
    # keep=0 must mean "nothing but current" — committed[-0:] slices
    # the whole list, which used to keep everything (ADVICE r3)
    import os

    out = str(tmp_path / "g")
    for tag in ("a", "b", "c"):
        write_graph_snapshot(*_graph(spark, tag), out)
    deleted = expire_graph_snapshots(spark, out, keep=0)
    assert deleted == [1, 2]
    assert sorted(
        d for d in os.listdir(out) if d.startswith("v") and d[1:].isdigit()
    ) == ["v3"]
    assert read_graph_snapshot(spark, out).nodes.first()["props"] == "c"


def test_expire_prunes_dangling_manifest_entries(spark, tmp_path):
    # a v-dir removed out-of-band leaves a manifest entry that can only
    # raise on read; expire must drop it (but never current)
    import shutil

    out = str(tmp_path / "g")
    for tag in ("a", "b", "c"):
        write_graph_snapshot(*_graph(spark, tag), out)
    shutil.rmtree(f"{out}/v1")
    expire_graph_snapshots(spark, out, keep=10)  # nothing age-expired
    from gfftoneo4j_spark.plans.graph_sink import _snapshots

    man = _snapshots(spark, out)
    assert sorted(man["versions"]) == ["2", "3"]
    assert man["current"] == 3
