"""K3 checkpoint/resume + K1/K2 persisted graph sink.

Reference semantics: Neo4JUtils.scala:22-28 brackets writes in a
transaction (the only atomicity/restart story); GenesToNeo4j.scala:9-25
materializes the node/edge sets. Here: a resumed run must reuse every
stage snapshot whose fingerprint matches, a fingerprint change must
invalidate, and the written graph must round-trip losslessly with
dedup-on-write and manifest-last atomicity.
"""

from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest

from gfftoneo4j_spark.corpus import CorpusConfig, make_alias_dict, make_transcripts
from gfftoneo4j_spark.plans.checkpoint import (
    MANIFEST,
    StageCheckpointer,
    fs_read_json,
    fs_write_json,
)
from gfftoneo4j_spark.plans.graph_sink import (
    GRAPH_MANIFEST,
    read_graph,
    read_graph_snapshot,
    write_graph,
    write_graph_snapshot,
)
from gfftoneo4j_spark.plans.pipeline import build_kg
from gfftoneo4j_spark.sources.transcripts import ALIAS_DICT_SCHEMA, TRANSCRIPT_SCHEMA

T0 = datetime(2024, 1, 1)

TURNS = [
    {
        "conv_id": c,
        "turn_idx": i,
        "role": "user" if i % 2 == 0 else "assistant",
        "text": t,
        "tool": None,
        "ts": T0 + timedelta(seconds=30 * i),
    }
    for c, i, t in [
        ("cA", 0, "hello <<m:spark_a0>> intro"),
        ("cA", 1, "more on <<m:spark_a1>> and <<m:join_b0>>"),
        ("cA", 2, "wrap up <<m:spark_a0>>"),
        ("cB", 0, "other thread <<m:join_b1>>"),
        ("cB", 1, "unlinked <<m:ghost_404>>"),
    ]
]

ALIASES = [
    {"alias": "spark_a0", "entity_id": "E10", "entity_type": "entity", "parent_id": None},
    {"alias": "spark_a1", "entity_id": "E11", "entity_type": "topic", "parent_id": "E10"},
    {"alias": "join_b0", "entity_id": "E20", "entity_type": "entity", "parent_id": None},
    {"alias": "join_b1", "entity_id": "E21", "entity_type": "entity", "parent_id": "E20"},
]

ALL_STAGES = ["mentions", "canon", "linked", "edges"]


@pytest.fixture()
def dfs(spark):
    return (
        spark.createDataFrame(TURNS, TRANSCRIPT_SCHEMA),
        spark.createDataFrame(ALIASES, ALIAS_DICT_SCHEMA),
    )


def _triples(res):
    return {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}


def test_resume_reuses_all_stages(spark, dfs, tmp_path):
    tdf, ddf = dfs
    ck1 = StageCheckpointer(spark, str(tmp_path / "ck"))
    res1 = build_kg(spark, tdf, ddf, checkpointer=ck1, fingerprint="v1")
    got1 = _triples(res1)
    assert ck1.computed == ALL_STAGES and ck1.reused == []

    ck2 = StageCheckpointer(spark, str(tmp_path / "ck"))
    res2 = build_kg(spark, tdf, ddf, checkpointer=ck2, fingerprint="v1")
    assert ck2.reused == ALL_STAGES and ck2.computed == []
    assert _triples(res2) == got1


def test_partial_run_resumes_from_surviving_stage(spark, dfs, tmp_path):
    """'Killed after mentions': only the mentions snapshot exists; the
    restarted run must reuse it and compute the rest."""
    tdf, ddf = dfs
    base = str(tmp_path / "ck")
    ck_partial = StageCheckpointer(spark, base)
    # drive build_kg but stop consuming after the mentions stage was
    # materialized: stage() writes eagerly, so constructing the plan is
    # enough, and we then delete every later snapshot to simulate a kill
    build_kg(spark, tdf, ddf, checkpointer=ck_partial, fingerprint="v1")
    import shutil

    for late in ALL_STAGES[1:]:
        shutil.rmtree(tmp_path / "ck" / late)

    ck = StageCheckpointer(spark, base)
    res = build_kg(spark, tdf, ddf, checkpointer=ck, fingerprint="v1")
    assert ck.reused == ["mentions"]
    assert ck.computed == ALL_STAGES[1:]
    assert len(_triples(res)) > 0


def test_fingerprint_change_invalidates(spark, dfs, tmp_path):
    tdf, ddf = dfs
    base = str(tmp_path / "ck")
    build_kg(
        spark, tdf, ddf, checkpointer=StageCheckpointer(spark, base), fingerprint="v1"
    )
    ck = StageCheckpointer(spark, base)
    build_kg(spark, tdf, ddf, checkpointer=ck, fingerprint="v2")
    assert ck.reused == [] and ck.computed == ALL_STAGES


def test_stage_manifest_without_schema_is_recomputed(spark, dfs, tmp_path):
    """A stage manifest records the stage's schema, which the reuse
    reads with; one without it (written before schemas were recorded)
    counts as missing, and the stage is computed again."""
    tdf, ddf = dfs
    base = str(tmp_path / "ck")
    ck = StageCheckpointer(spark, base)
    build_kg(spark, tdf, ddf, checkpointer=ck, fingerprint="v1")
    manifest = f"{base}/edges/{MANIFEST}"
    m = fs_read_json(spark, manifest)
    del m["schema"]
    fs_write_json(spark, manifest, m)

    ck = StageCheckpointer(spark, base)
    res = build_kg(spark, tdf, ddf, checkpointer=ck, fingerprint="v1")
    assert ck.computed == ["edges"] and ck.reused == ALL_STAGES[:-1]
    assert "schema" in fs_read_json(spark, manifest)
    assert len(_triples(res)) > 0


def test_graph_sink_roundtrip(spark, dfs, tmp_path):
    tdf, ddf = dfs
    res = build_kg(spark, tdf, ddf)
    path = str(tmp_path / "graph")
    write_graph(res.nodes, res.edges, path, fingerprint="t1")

    g = read_graph(spark, path)
    want_nodes = {(r["node_id"], r["label"]) for r in res.nodes.collect()}
    got_nodes = {(r["node_id"], r["label"]) for r in g.nodes.collect()}
    assert got_nodes == want_nodes

    want_edges = {(r["src"], r["dst"], r["type"]) for r in res.edges.collect()}
    got_edges = {(r["src"], r["dst"], r["type"]) for r in g.edges.collect()}
    assert got_edges == want_edges

    # triples view is a pure rename of edges
    assert _triples(res) == {
        (r["subj"], r["pred"], r["obj"]) for r in g.triples.collect()
    }

    # partition pruning surface: per-type subdirectories exist
    assert (tmp_path / "graph" / "edges" / "type=next_turn").exists()


def test_graph_sink_files_are_zstd_and_read_alike(spark, dfs, tmp_path):
    """The session's Parquet encoding (zstd, v2 data pages) reaches every
    column chunk the sink writes, and Spark, pyarrow and DuckDB read the
    same node rows (string ids, ``props`` maps built from turns whose
    ``tool`` is null) and edge rows back."""
    import duckdb
    import pyarrow.parquet as pq

    tdf, ddf = dfs
    res = build_kg(spark, tdf, ddf)
    path = tmp_path / "graph"
    write_graph(res.nodes, res.edges, str(path))

    files = sorted(path.glob("*/*/*.parquet"))
    assert {f.parent.parent.name for f in files} == {"nodes", "edges"}
    codecs = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            codecs |= {rg.column(c).compression for c in range(rg.num_columns)}
    assert codecs == {"ZSTD"}

    def node(node_id, label, props):
        items = props.items() if isinstance(props, dict) else props
        return node_id, label, tuple(sorted(items))

    cols = ("node_id", "label", "props")
    g = read_graph(spark, str(path))
    by_spark = {
        "nodes": {node(*r) for r in g.nodes.select(*cols).collect()},
        "edges": {tuple(r) for r in g.edges.select("src", "dst", "type").collect()},
    }
    arrow = {t: pq.read_table(path / t).to_pylist() for t in ("nodes", "edges")}
    by_arrow = {
        "nodes": {node(r["node_id"], r["label"], r["props"]) for r in arrow["nodes"]},
        "edges": {(r["src"], r["dst"], r["type"]) for r in arrow["edges"]},
    }
    con = duckdb.connect()
    scan = "read_parquet('{}/*/*.parquet', hive_partitioning = true)"
    by_duckdb = {
        "nodes": {
            node(i, lab, [(e["key"], e["value"]) for e in entries])
            for i, lab, entries in con.execute(
                "SELECT node_id, label, map_entries(props) FROM "
                + scan.format(path / "nodes")
            ).fetchall()
        },
        "edges": set(
            con.execute("SELECT src, dst, type FROM " + scan.format(path / "edges")).fetchall()
        ),
    }
    assert by_spark["nodes"] == {node(*r) for r in res.nodes.select(*cols).collect()}
    assert by_spark["edges"] == {tuple(r) for r in res.edges.select("src", "dst", "type").collect()}
    assert by_arrow == by_spark and by_duckdb == by_spark
    turns = [n for n in by_spark["nodes"] if n[1] == "turn"]
    assert turns and all("tool" not in dict(n[2]) for n in turns)


def test_graph_sink_dedup_on_write(spark, dfs, tmp_path):
    """`create unique` (Neo4JUtils.scala:43): duplicate inserts collapse."""
    tdf, ddf = dfs
    res = build_kg(spark, tdf, ddf)
    path = str(tmp_path / "graph")
    write_graph(
        res.nodes.unionByName(res.nodes),
        res.edges.unionByName(res.edges),
        path,
    )
    g = read_graph(spark, path)
    assert g.edges.count() == res.edges.count()
    assert g.nodes.count() == res.nodes.count()


def test_graph_sink_torn_write_detected(spark, dfs, tmp_path):
    tdf, ddf = dfs
    res = build_kg(spark, tdf, ddf)
    path = str(tmp_path / "graph")
    write_graph(res.nodes, res.edges, path)
    (tmp_path / "graph" / GRAPH_MANIFEST).unlink()  # simulate torn run
    with pytest.raises(FileNotFoundError):
        read_graph(spark, path)


def _write_and_read(writer, nodes, edges, path):
    """Write with ``writer`` and read back; returns the directory that
    holds ``nodes/`` and ``edges/`` and the tables read."""
    writer(nodes, edges, str(path))
    if writer is write_graph:
        return path, read_graph(nodes.sparkSession, str(path))
    return path / "v1", read_graph_snapshot(nodes.sparkSession, str(path))


def _file_keys(table_dir, cols):
    """Per partition directory, the key tuples of each data file in it."""
    by_dir = {}
    for f in sorted(table_dir.glob("*/*.parquet")):
        t = pq.read_table(f, columns=cols)
        keys = list(zip(*(t.column(c).to_pylist() for c in cols)))
        by_dir.setdefault(f.parent.name, []).append(keys)
    return by_dir


@pytest.mark.parametrize("writer", [write_graph, write_graph_snapshot])
def test_graph_sink_files_are_key_sorted_ranges(spark, tmp_path, writer):
    """Every file the sink writes holds a contiguous, sorted key range:
    node files are sorted by node_id, edge files by (src, dst), and with
    AQE's coalescing off (so each directory holds several files) the
    [min, max] key ranges of the files in one label or type directory
    never overlap, which hash-spread files, each holding every n-th id,
    do. The rows are the built graph's."""
    cfg = CorpusConfig(n_conversations=30, n_entities=15, seed=11)
    res = build_kg(
        spark,
        spark.createDataFrame(make_transcripts(cfg), TRANSCRIPT_SCHEMA),
        spark.createDataFrame(make_alias_dict(cfg), ALIAS_DICT_SCHEMA),
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        root, g = _write_and_read(writer, res.nodes, res.edges, tmp_path / "g")
    finally:
        spark.conf.set(key, coalesce)

    layouts = {
        "nodes": _file_keys(root / "nodes", ["node_id"]),
        "edges": _file_keys(root / "edges", ["src", "dst"]),
    }
    for table, by_dir in layouts.items():
        assert max(len(files) for files in by_dir.values()) > 1, table
        for part, files in by_dir.items():
            for keys in files:
                assert keys == sorted(keys), (table, part)
            spans = sorted((keys[0][0], keys[-1][0]) for keys in files if keys)
            for (_, hi), (lo, _) in zip(spans, spans[1:]):
                assert hi < lo, (table, part, spans)

    cols = ("node_id", "label")
    assert sorted(g.nodes.select(*cols).collect()) == sorted(
        res.nodes.select(*cols).collect()
    )
    edge_cols = ("src", "dst", "type")
    assert sorted(g.edges.select(*edge_cols).collect()) == sorted(
        res.edges.select(*edge_cols).distinct().collect()
    )


@pytest.mark.parametrize("writer", [write_graph, write_graph_snapshot])
def test_graph_sink_writes_an_empty_graph(spark, dfs, tmp_path, writer):
    tdf, ddf = dfs
    res = build_kg(spark, tdf, ddf)
    root, g = _write_and_read(
        writer,
        res.nodes.where("false"),
        res.edges.where("false"),
        tmp_path / "g",
    )
    assert g.nodes.count() == 0 and g.edges.count() == 0
    # the schemas live in the manifest: no placeholder data file
    data_files = [
        f
        for table in ("nodes", "edges")
        for f in (root / table).rglob("*")
        if f.is_file() and not f.name.startswith(("_", "."))
    ]
    assert data_files == []


def _without_schemas(obj):
    """A manifest as committed before schemas were recorded."""
    if isinstance(obj, dict):
        return {k: _without_schemas(v) for k, v in obj.items() if k != "schemas"}
    return obj


@pytest.mark.parametrize("writer", [write_graph, write_graph_snapshot])
def test_manifest_without_schemas_reads_by_inference(spark, dfs, tmp_path, writer):
    """A graph whose manifest records no schemas (committed before they
    were) still reads back, by inference, the same columns and rows."""
    tdf, ddf = dfs
    res = build_kg(spark, tdf, ddf)
    path = tmp_path / "g"
    _, declared = _write_and_read(writer, res.nodes, res.edges, path)
    (manifest,) = path.glob("_*.json")
    m = fs_read_json(spark, str(manifest))
    assert _without_schemas(m) != m
    fs_write_json(spark, str(manifest), _without_schemas(m))

    read = read_graph if writer is write_graph else read_graph_snapshot
    inferred = read(spark, str(path))
    for table in ("nodes", "edges"):
        want, got = getattr(declared, table), getattr(inferred, table)
        assert got.columns == want.columns, table
        assert sorted(got.collect()) == sorted(want.collect()), table
