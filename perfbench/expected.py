"""Expected outputs, computed in plain Python from the generated inputs.

The knowledge graph comes from ``gfftoneo4j_spark.oracle.build_graph``
and connected components from ``oracle.canonical_map``; PageRank and
label propagation are re-derived here from their documented integer
recurrences, so every op's output is checked bit for bit.

Outputs are compared through order-insensitive digests: per group, a
row count and the sum of the first 32 bits of each row's MD5. The
written outputs are read back with pyarrow (see ``parquet_digest``),
so checking an op starts no Spark job.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pyarrow.parquet as pq


def row_hash(text: str) -> int:
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)


def digest(groups: dict[str, list[str]]) -> dict[str, tuple[int, int]]:
    return {
        g: (len(rows), sum(row_hash(r) for r in rows)) for g, rows in groups.items()
    }


def add_digests(a: dict, b: dict) -> dict:
    """Digest of a disjoint union."""
    out = dict(a)
    for g, (n, h) in b.items():
        n0, h0 = out.get(g, (0, 0))
        out[g] = (n0 + n, h0 + h)
    return out


def parquet_digest(path: str, group: str | None, cols: list[str]) -> dict[str, tuple[int, int]]:
    """Digest of the parquet dataset at ``path`` (Hive partition
    columns included), grouped by column ``group``, or all in one group
    ``"all"`` when ``group`` is None; rows are ``cols`` joined by ``|``."""
    table = pq.read_table(path, columns=list(dict.fromkeys(cols + ([group] if group else []))))
    keys = table.column(group).to_pylist() if group else ["all"] * table.num_rows
    values = zip(*(table.column(c).to_pylist() for c in cols))
    groups: dict[str, list[str]] = defaultdict(list)
    for g, row in zip(keys, values):
        groups[g].append("|".join(str(v) for v in row))
    return digest(groups)


def graph_digest(graph: dict) -> tuple[dict, dict]:
    """(node digest per label, triple digest per predicate) of an
    oracle graph; rows are ``node_id`` and ``src|type|dst``."""
    nodes: dict[str, list[str]] = defaultdict(list)
    for node_id, label in graph["nodes"]:
        nodes[label].append(node_id)
    edges: dict[str, list[str]] = defaultdict(list)
    for src, dst, typ in graph["edges"]:
        edges[typ].append(f"{src}|{typ}|{dst}")
    return digest(nodes), digest(edges)


def written_graph_digest(path: str) -> tuple[dict, dict]:
    """``graph_digest`` of a graph written under ``path`` (``nodes/``
    partitioned by label, ``edges/`` by type)."""
    return (
        parquet_digest(f"{path}/nodes", "label", ["node_id"]),
        parquet_digest(f"{path}/edges", "type", ["src", "type", "dst"]),
    )


def hot_entities(edges, k: int) -> list[str]:
    """The ``k`` entity nodes with the most mentions."""
    refs = Counter(dst for _src, dst, typ in edges if typ == "refers_to")
    return [e for e, _n in sorted(refs.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def lookup_counts(edges, entities: list[str]) -> dict[str, int]:
    """Per entity: distinct turns with a mention that refers to it."""
    mention_of: dict[str, str] = {}
    for src, dst, typ in edges:
        if typ == "refers_to":
            mention_of[src] = dst
    turns: dict[str, set] = defaultdict(set)
    for src, dst, typ in edges:
        if typ == "has_mention" and dst in mention_of:
            turns[mention_of[dst]].add(src)
    return {e: len(turns[e]) for e in entities}


def pagerank(
    edges: set[tuple[str, str]],
    iters: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> dict[str, int]:
    """``operators.graph.pagerank_fixed_point`` with its defaults."""
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    outdeg = Counter(u for u, _ in edges)
    base = scale * (damping_den - damping_num) // damping_den
    ranks = dict.fromkeys(nodes, scale)
    for _ in range(iters):
        q = {u: (ranks[u] * damping_num) // (damping_den * d) for u, d in outdeg.items()}
        summed: Counter = Counter()
        for u, v in edges:
            summed[v] += q[u]
        ranks = {n: base + summed[n] for n in nodes}
    return ranks


def label_propagation(edges: set[tuple[str, str]], iters: int = 3) -> dict[str, str]:
    """``operators.graph.label_propagation``: synchronous rounds, most
    votes wins, ties to the smallest label."""
    voters: dict[str, set] = defaultdict(set)
    for s, t in edges:
        if s != t:
            voters[t].add(s)
            voters[s].add(t)
    labels = {n: n for n in voters}
    for _ in range(iters):
        new = {}
        for node, nbrs in voters.items():
            votes = Counter(labels[s] for s in nbrs)
            new[node] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


def mapping_digest(mapping: dict[str, object]) -> dict[str, tuple[int, int]]:
    return digest({"all": [f"{k}|{v}" for k, v in mapping.items()]})
