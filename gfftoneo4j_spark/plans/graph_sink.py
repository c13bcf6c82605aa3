"""Persisted graph sink: durable, partitioned ``nodes`` / ``edges``
tables with dedup-on-write.

This is the reference's entire point — materializing the graph
(GenesToNeo4j.scala:9-25 walks sequences/genes and CREATEs nodes and
edges; Neo4JUtils.scala:30-48 stringifies properties and enforces
`create unique` per edge). Spark-first re-expression:

- nodes/ parquet partitioned by ``label`` (4 labels), edges/ parquet
  partitioned by ``type`` (6 predicates) — per-label / per-predicate
  reads prune to one partition directory at any scale.
- `create unique` (K2) = ``dropDuplicates`` on the natural key at
  the write, not a server-side constraint. As in the reference, where
  the store applies it at write time, the sink is the one place nodes
  are made unique: ``build_kg`` hands over one node row per
  occurrence. Each dedup runs on the write's own exchange, so it adds
  no shuffle.
- Each table is range-partitioned on its key (nodes on ``node_id``,
  edges on (type, src)) and sorted within each file, so every file
  holds a contiguous sorted key range and files in one directory never
  overlap. Sorted neighbours compress: ``kg_build`` writes 0.31 bytes
  per input byte instead of 0.89 with hash-spread files
  (``_write_tables`` has the numbers and the rejected variant).
- Atomicity (K3, Neo4JUtils.scala:22-28's transaction bracket) =
  parquet overwrite + a ``_GRAPH_MANIFEST.json`` written only AFTER
  both tables commit, via the Hadoop FileSystem API (works for
  hdfs:// and s3a:// paths, not only driver-local ones). A torn run
  never looks complete; Iceberg's ``writeTo(...).append()`` is the
  drop-in upgrade when that runtime is on the cluster.
- As in Iceberg's commit metadata, each commit's manifest records its
  tables' schemas, and every reader reads with them: no schema
  inference job per table, and an empty graph (directories holding
  only ``_SUCCESS``) reads back with its columns.
- ``triples`` is a pure column-rename of ``edges`` — at 10^12 edges
  materializing it twice would double the largest table for zero new
  information, so readers get it as a projection (``read_graph``).
- The Parquet encoding (zstd, v2 data pages) comes from the session
  (``session.get_spark``); no writer here names a codec.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gfftoneo4j_spark.plans.checkpoint import _fs, fs_read_json, fs_write_json

GRAPH_MANIFEST = "_GRAPH_MANIFEST.json"


def _write_tables(nodes: DataFrame, edges: DataFrame, path: str, mode: str) -> dict:
    """K2 `create unique`: each table unique by natural key at the sink
    boundary, written range-partitioned and key-sorted. This is the
    graph's only node dedup. Returns each table's ``StructType.json()``
    for the commit's manifest, columns in the order a partitioned read
    gives them: data columns, then ``label`` or ``type``. A table with
    no rows leaves only ``_SUCCESS``, and its recorded schema is what
    reads it back.

    Nodes are range-partitioned on ``node_id`` and edges on (type, src),
    and each task sorts its rows by (label, node_id) or (type, src,
    dst). A range partitioning on a subset of the dedup key satisfies
    the dedup's clustering, so the dedup rides the write's one exchange
    per table; the leading partition column of the sort also satisfies
    the ordering a ``partitionBy`` write asks for, so no sort is added.
    AQE coalesces adjacent ranges to the advisory partition size: a
    small graph is one file per label or type, a large one many files,
    each a contiguous sorted key range, none overlapping another in its
    directory. Neighbouring ids then share the prefixes that v2 pages'
    DELTA_BYTE_ARRAY stores once and the runs zstd compresses.
    ``kg_build`` writes 0.31 bytes per input byte instead of 0.89
    (seed 1: nodes 258,921 B in 16 files -> 108,399 B in 4, edges
    287,410 B in 20 -> 81,168 B in 5). Neither half does it alone: a
    sort within the old core-count hash slices, each holding every
    n-th id, saved 1.4%; AQE-coalesced hash slices without a sort left
    edges at 307,069 B (nodes fell to 108,399 B only because their
    dedup is a sort-based aggregate).

    Rejected: hash partitioning on the dedup's own exchange plus the
    sort. It matched at 20k turns, but at 400k turns AQE kept 7 hash
    slices per label and the ratio only went 1.34 -> 1.22; the range
    layout went 1.34 -> 0.41 (9 node and 9 edge files, up to 5 per
    directory). Cost: the range bounds are sampled by one job per
    table (at scale the edges sample re-reads the window passes'
    shuffle output), the price Spark's global sort and Iceberg's
    ``write.distribution-mode=range`` pay too."""
    nodes = (
        nodes.repartitionByRange("node_id")
        .dropDuplicates(["node_id"])
        .sortWithinPartitions("label", "node_id")
    )
    edges = (
        edges.repartitionByRange("type", "src")
        .dropDuplicates(["src", "dst", "type"])
        .sortWithinPartitions("type", "src", "dst")
    )
    schemas = {}
    for name, df, part in (("nodes", nodes, "label"), ("edges", edges, "type")):
        df.write.mode(mode).partitionBy(part).parquet(f"{path}/{name}")
        cols = [c for c in df.columns if c != part] + [part]
        schemas[name] = df.select(*cols).schema.json()
    return schemas


def _read_tables(spark: SparkSession, path: str, schemas: dict | None) -> GraphTables:
    """Read a committed graph's tables with the schemas its manifest
    records: no inference job, and a table with no rows (a directory
    holding only ``_SUCCESS``) reads back empty with its columns. A
    manifest committed before schemas were recorded has none; only
    those graphs are read by inference."""

    def read(name: str) -> DataFrame:
        reader = spark.read
        if schemas is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schemas[name])))
        return reader.parquet(f"{path}/{name}")

    return GraphTables(nodes=read("nodes"), edges=read("edges"))


def write_graph(
    nodes: DataFrame,
    edges: DataFrame,
    path: str,
    fingerprint: str = "default",
) -> dict:
    """Write ``{path}/nodes`` (partitioned by label) and ``{path}/edges``
    (partitioned by type), dedup-on-write, manifest-last. Returns the
    manifest dict: the fingerprint and each table's schema."""
    path = path.rstrip("/")
    spark = nodes.sparkSession
    # Rewrite atomicity: the manifest lives OUTSIDE the table dirs, so
    # on a REwrite the old manifest would survive while nodes/ is
    # overwritten first and edges/ second — a crash between the two
    # overwrites would leave a valid-looking manifest over a
    # mixed-version graph (new nodes, old edges). Invalidate it FIRST:
    # a torn rewrite is then detectable exactly like a torn first write.
    fs, mpath = _fs(spark, f"{path}/{GRAPH_MANIFEST}")
    if fs.exists(mpath):
        fs.delete(mpath, False)
    schemas = _write_tables(nodes, edges, path, "overwrite")
    manifest = {"fingerprint": fingerprint, "schemas": schemas}
    fs_write_json(spark, f"{path}/{GRAPH_MANIFEST}", manifest)
    return manifest


class GraphTables:
    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes
        self.edges = edges

    @property
    def triples(self) -> DataFrame:
        return self.edges.select(
            F.col("src").alias("subj"),
            F.col("type").alias("pred"),
            F.col("dst").alias("obj"),
        )


def write_bucketed_graph(
    nodes: DataFrame,
    edges: DataFrame,
    table_prefix: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Bucketed variant of the sink for JOIN-heavy consumers.

    The partitioned layout (write_graph) prunes per-label/per-type
    scans, but every graph JOIN — edges x nodes attribute lookup,
    edges x edges multi-hop — still re-shuffles the edge table, and at
    10^12 edges that shuffle dominates every downstream query.
    ``bucketBy`` pre-pays it ONCE at write: ``<prefix>_nodes`` buckets
    + sorts on node_id, ``<prefix>_edges`` on src, with the same
    bucket count, so Catalyst plans bucket-local SortMergeJoins with
    ZERO Exchange on either side (asserted by
    tests/test_bucketed_sink.py). Dedup-on-write (K2) rides the
    bucketing shuffle itself.

    Requires saveAsTable (bucket metadata lives in the catalog — the
    in-memory catalog locally, a metastore on a cluster); ``path``
    makes the tables external. Pick ``n_buckets`` so one bucket is
    100-500 MB at the target scale: ~4096 for a 10^12-edge graph.
    """
    spark = nodes.sparkSession
    for name, df, key in (
        ("nodes", nodes.dropDuplicates(["node_id"]), "node_id"),
        ("edges", edges.dropDuplicates(["src", "dst", "type"]), "src"),
    ):
        table = f"{table_prefix}_{name}"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        w = df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
        if path:
            w = w.option("path", f"{path.rstrip('/')}/{name}")
        w.saveAsTable(table)


def read_graph(spark: SparkSession, path: str) -> GraphTables:
    """Read a written graph back; raises if the manifest is absent
    (i.e. the writing run tore before committing both tables)."""
    path = path.rstrip("/")
    m = fs_read_json(spark, f"{path}/{GRAPH_MANIFEST}")
    if m is None:
        raise FileNotFoundError(
            f"{path} has no {GRAPH_MANIFEST}: graph write never completed"
        )
    return _read_tables(spark, path, m.get("schemas"))


# ---------------------------------------------------------------------------
# Snapshot-versioned sink (Iceberg-style pointer-swap commits)
# ---------------------------------------------------------------------------

SNAPSHOT_MANIFEST = "_SNAPSHOTS.json"


def _write_manifest_atomic(spark: SparkSession, path: str, obj: dict) -> None:
    """Create-temp-then-rename-over: FileContext.rename with
    Options.Rename.OVERWRITE replaces the live manifest in one
    operation on HDFS/local, so a concurrent reader always sees either
    the old or the new manifest — never the missing-manifest window a
    delete-then-rename opens. On S3A, rename is client-side copy+delete
    (no server-side atomic rename), so the guarantee weakens to
    "readers may briefly see the old manifest during the copy" — still
    never a missing or half-written one, since the copy itself is a
    single-object PUT. FileSystem delete+rename remains as the fallback
    for filesystems without a FileContext implementation."""
    fs, final = _fs(spark, path)
    tmp = f"{path}.tmp"
    fs_write_json(spark, tmp, obj)
    fs2, tpath = _fs(spark, tmp)
    try:
        jvm = spark._jvm
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            final.toUri(), spark._jsc.hadoopConfiguration()
        )
        rename_cls = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
        opts = spark.sparkContext._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        fc.rename(tpath, final, opts)
    except Exception:
        # e.g. an FS scheme with no AbstractFileSystem binding: fall
        # back to the non-atomic window rather than failing the commit
        if fs.exists(final):
            fs.delete(final, False)
        fs2.rename(tpath, final)


def _version_dirs(spark: SparkSession, path: str) -> dict:
    """{N: Hadoop Path} of every ``v<N>`` directory under ``path``: the
    committed snapshots and any a torn write left behind."""
    fs, root = _fs(spark, path)
    found = {}
    for st in fs.listStatus(root) if fs.exists(root) else []:
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            found[int(name[1:])] = st.getPath()
    return found


def _snapshots(spark: SparkSession, path: str) -> dict:
    m = fs_read_json(spark, f"{path.rstrip('/')}/{SNAPSHOT_MANIFEST}")
    return m or {"current": None, "versions": {}}


def write_graph_snapshot(
    nodes: DataFrame,
    edges: DataFrame,
    path: str,
    fingerprint: str = "default",
) -> dict:
    """Commit a NEW immutable snapshot and atomically swap the current
    pointer to it — the Iceberg commit model over plain parquet.

    Unlike :func:`write_graph` (overwrite-in-place), concurrent readers
    of any existing snapshot are never disturbed: data lands in a fresh
    ``v<N>/`` directory first, and the ONLY mutation visible to readers
    is the single atomic manifest rename at the end. A crash mid-write
    leaves an orphan v<N> directory the next commit skips past (version
    numbers are taken from max(manifest, existing dirs) + 1), never a
    readable-but-torn graph. Old snapshots remain time-travel readable
    until expire_graph_snapshots.
    """
    path = path.rstrip("/")
    spark = nodes.sparkSession
    man = _snapshots(spark, path)
    used = {int(v) for v in man["versions"]} | set(_version_dirs(spark, path))
    version = (max(used) + 1) if used else 1
    schemas = _write_tables(nodes, edges, f"{path}/v{version}", "errorifexists")
    man["versions"][str(version)] = {"fingerprint": fingerprint, "schemas": schemas}
    man["current"] = version
    _write_manifest_atomic(spark, f"{path}/{SNAPSHOT_MANIFEST}", man)
    return {"version": version, "fingerprint": fingerprint}


def read_graph_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> GraphTables:
    """Read the current snapshot, or time-travel to ``version``."""
    path = path.rstrip("/")
    man = _snapshots(spark, path)
    v = version if version is not None else man["current"]
    if v is None or str(v) not in man["versions"]:
        raise FileNotFoundError(
            f"{path}: no committed snapshot v{v} (committed: "
            f"{sorted(man['versions'])})"
        )
    return _read_tables(spark, f"{path}/v{v}", man["versions"][str(v)].get("schemas"))


def rollback_graph(spark: SparkSession, path: str, version: int) -> dict:
    """Point current back at an older committed snapshot — one atomic
    manifest swap, no data movement."""
    path = path.rstrip("/")
    man = _snapshots(spark, path)
    if str(version) not in man["versions"]:
        raise ValueError(f"cannot roll back to uncommitted v{version}")
    man["current"] = version
    _write_manifest_atomic(spark, f"{path}/{SNAPSHOT_MANIFEST}", man)
    return man


def expire_graph_snapshots(
    spark: SparkSession, path: str, keep: int = 2
) -> list[int]:
    """GC: drop all but the newest ``keep`` committed snapshots (the
    current one is always kept). Orphan dirs from torn writes (present
    on disk, absent from the manifest) are removed too. Returns the
    deleted version numbers."""
    path = path.rstrip("/")
    man = _snapshots(spark, path)
    committed = sorted(int(v) for v in man["versions"])
    # keep<=0 must mean "keep nothing but current": committed[-0:] is
    # the WHOLE list, the exact opposite of the request
    newest = set(committed[-keep:]) if keep > 0 else set()
    keep_set = newest | ({man["current"]} - {None})
    fs, _ = _fs(spark, path)
    dirs = _version_dirs(spark, path)
    deleted = sorted(set(dirs) - keep_set)
    for v in deleted:
        fs.delete(dirs[v], True)
        man["versions"].pop(str(v), None)
    # prune manifest entries whose v-dirs are already gone from disk
    # (e.g. removed out-of-band): a dangling entry would advertise a
    # time-travel target that can only raise on read. Never prune
    # current — a missing current dir is corruption worth surfacing.
    for v in committed:
        if v not in dirs and v != man["current"]:
            man["versions"].pop(str(v), None)
    _write_manifest_atomic(spark, f"{path}/{SNAPSHOT_MANIFEST}", man)
    return deleted


def diff_snapshots(
    spark: SparkSession, path: str, v_old: int, v_new: int
) -> DataFrame:
    """Edge-level diff between two committed snapshots: one row per
    added ('A') or removed ('R') edge. Two anti-joins on the natural
    edge key — each a single shuffle, no full sort, no collect; at
    10^12 edges this is the audit/debug primitive that answers "what
    did last night's ingest change" without replaying the ingest."""
    old = read_graph_snapshot(spark, path, v_old).edges.select(
        "src", "dst", "type"
    )
    new = read_graph_snapshot(spark, path, v_new).edges.select(
        "src", "dst", "type"
    )
    key = ["src", "dst", "type"]
    added = new.join(old, key, "left_anti").select(
        F.lit("A").alias("op"), *key
    )
    removed = old.join(new, key, "left_anti").select(
        F.lit("R").alias("op"), *key
    )
    return added.unionByName(removed)


EXPORT_FORMATS = ("jsonl", "csv", "parquet")


def export_graph(
    tables: GraphTables, path: str, fmt: str = "jsonl"
) -> None:
    """Interchange export of a graph: ``{path}/nodes`` + ``{path}/edges``
    as JSONL, CSV (with header), or parquet — the hand-off surface to
    consumers that are not Spark (a Neo4j bulk importer, a viz tool, a
    pandas notebook). Distributed writers, one file per task. Columns
    go out in schema order, because a CSV reader matches them by
    position; CSV has no map type, so it carries ``props`` as JSON
    text. Every format round-trips losslessly through import_graph."""
    if fmt not in EXPORT_FORMATS:
        raise ValueError(f"fmt must be one of {EXPORT_FORMATS}, got {fmt!r}")
    props = F.to_json("props") if fmt == "csv" else F.col("props")
    nodes = tables.nodes.select("node_id", "label", props.alias("props"))
    edges = tables.edges.select("src", "dst", "type")
    for name, df in (("nodes", nodes), ("edges", edges)):
        w = df.write.mode("overwrite")
        target = f"{path.rstrip('/')}/{name}"
        if fmt == "jsonl":
            w.json(target)
        elif fmt == "csv":
            w.option("header", True).csv(target)
        else:
            w.parquet(target)


def import_graph(
    spark: SparkSession, path: str, fmt: str = "jsonl"
) -> GraphTables:
    """Read an exported graph back. CSV/JSONL carry no types, so the
    reader re-applies the graph schema explicitly (inferSchema on
    100 TB means a full extra pass — never rely on it). Both read
    ``props`` as JSON text and parse it back into the map."""
    if fmt not in EXPORT_FORMATS:
        raise ValueError(f"fmt must be one of {EXPORT_FORMATS}, got {fmt!r}")

    def _read(name: str, schema: str) -> DataFrame:
        target = f"{path.rstrip('/')}/{name}"
        if fmt == "jsonl":
            return spark.read.schema(schema).json(target)
        if fmt == "csv":
            return spark.read.option("header", True).schema(schema).csv(target)
        return spark.read.parquet(target)

    nodes = _read("nodes", "node_id string, label string, props string")
    if fmt != "parquet":
        nodes = nodes.withColumn("props", F.from_json("props", "map<string,string>"))
    edges = _read("edges", "src string, dst string, type string")
    return GraphTables(nodes=nodes, edges=edges)
