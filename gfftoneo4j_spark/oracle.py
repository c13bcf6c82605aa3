"""Single-process reference oracle for the transcript->KG pipeline.

This module IS the frozen semantics spec (SURVEY.md §7 step 2): a plain
Python implementation of the reference's hierarchy-assembly behavior
(GeneReader.scala:118-135 via groupByParents :75-104) re-expressed for
transcripts. The Spark pipeline (plans/pipeline.py) must reproduce these
triples exactly at P/R == 1.0 on seeded corpora.

Frozen decisions (mirroring SURVEY.md quirks):
- Q3: malformed/empty turns are QUARANTINED to lineage, never abort.
- Q4: mention chains follow text encounter order (not alphabetical),
  exactly like exon `order`/`links`/`mRNA` edges follow file encounter
  order (GenesToNeo4j.scala:53,70).
- Q9: an alias that resolves to !=1 entity drops the mention with
  lineage reason `ambiguous_alias` — the exactly-one-distinct-gene rule
  (GeneReader.scala:210-218).
- misses (alias not in dictionary) are dropped + logged, the
  ParentInfoNotFound path (GeneReader.scala:85-90).
- `create unique` edge semantics (Neo4JUtils.scala:43) -> set dedup.
- a repeated (conv_id, turn_idx) key keeps the first row after the
  (turn_idx, ts) sort; the repeat counts as lineage
  `duplicate_turn_key` and each of its linked mentions as
  `duplicate_mention_key` (the engine's key dedup, pipeline._keyed_chain).
  Repeats with different text are not specified.
- Q8: all node properties stringified.

Vocabulary (SURVEY.md §1.3): the reference's six relationship types
order/transcribes/links/mRNA/codes/in map to
next_turn/has_mention/links/mentions_seq/refers_to/in_conv.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

MENTION_RE = re.compile(r"<<m:([A-Za-z0-9_.\-]+)>>")

PREDICATES = ("next_turn", "has_mention", "links", "mentions_seq", "refers_to", "in_conv")


def conv_node(conv_id: str) -> str:
    return f"conv:{conv_id}"


def turn_node(conv_id: str, turn_idx: int) -> str:
    return f"turn:{conv_id}:{turn_idx}"


def mention_node(conv_id: str, turn_idx: int, pos: int) -> str:
    return f"mention:{conv_id}:{turn_idx}:{pos}"


def entity_node(entity_id: str) -> str:
    return f"ent:{entity_id}"


def canonical_map(alias_rows: list[dict]) -> dict[str, str]:
    """Union-find over (entity_id, parent_id) same-as chains; canonical id
    is the lexicographic min of the connected component (the oracle for
    the large-star/small-star CC stage)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller id as root -> deterministic canonical member
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    nodes = set()
    for r in alias_rows:
        nodes.add(r["entity_id"])
        if r.get("parent_id"):
            nodes.add(r["parent_id"])
            union(r["entity_id"], r["parent_id"])
    out = {}
    for n in nodes:
        root = find(n)
        out[n] = root
    # root is already the component min because union keeps the min as root
    return out


def build_graph(transcript_rows: list[dict], alias_rows: list[dict]) -> dict:
    """Run the full frozen pipeline; returns nodes/edges/triples/lineage."""
    lineage: Counter = Counter()

    alias_to_ents: dict[str, set] = defaultdict(set)
    for r in alias_rows:
        alias_to_ents[r["alias"].lower()].add(r["entity_id"])
    canon = canonical_map(alias_rows)

    # -- quarantine + stable ordering (W1) -------------------------------
    by_conv: dict[str, list[dict]] = defaultdict(list)
    for row in transcript_rows:
        if row.get("text") is None or row["text"] == "" or row.get("turn_idx") is None:
            lineage["quarantine_empty_text"] += 1
            continue
        by_conv[row["conv_id"]].append(row)
    for conv in by_conv.values():
        conv.sort(key=lambda r: (r["turn_idx"], r["ts"]))

    def link(text: str) -> list[tuple[int, str]]:
        """(pos, entity) of each mention in ``text`` that links to exactly
        one entity: extraction (P1) + linking (J2) + Q9."""
        linked = []
        for pos, m in enumerate(MENTION_RE.finditer(text)):
            ents = alias_to_ents.get(m.group(1).lower(), set())
            if len(ents) == 1:
                linked.append((pos, *ents))
            else:
                lineage["ambiguous_alias" if ents else "unlinked_alias"] += 1
        return linked

    nodes: set = set()
    edges: set = set()

    for conv_id, turns in by_conv.items():
        cnode = conv_node(conv_id)
        nodes.add((cnode, "conversation"))
        conv_mentions: list[str] = []  # encounter order across the conversation
        prev_turn = None
        for row in turns:
            tnode = turn_node(conv_id, row["turn_idx"])
            linked = link(row["text"])
            if tnode == prev_turn:  # a repeated turn key: the first row is kept
                lineage["duplicate_turn_key"] += 1
                if linked:
                    lineage["duplicate_mention_key"] += len(linked)
                continue
            nodes.add((tnode, "turn"))
            edges.add((tnode, cnode, "in_conv"))
            if prev_turn is not None:
                edges.add((prev_turn, tnode, "next_turn"))
            prev_turn = tnode

            turn_mentions: list[str] = []
            for pos, ent in linked:
                mnode = mention_node(conv_id, row["turn_idx"], pos)
                nodes.add((mnode, "mention"))
                can = canon.get(ent, ent)
                enode = entity_node(can)
                nodes.add((enode, "entity"))
                edges.add((tnode, mnode, "has_mention"))
                edges.add((mnode, enode, "refers_to"))
                turn_mentions.append(mnode)
            # mRNA-style chain within the turn (encounter order, Q4)
            for a, b in zip(turn_mentions, turn_mentions[1:]):
                edges.add((a, b, "mentions_seq"))
            conv_mentions.extend(turn_mentions)
        # links chain across the conversation (encounter order, Q4)
        for a, b in zip(conv_mentions, conv_mentions[1:]):
            edges.add((a, b, "links"))

    triples = {(s, t, d) for (s, d, t) in edges}
    return {
        "nodes": nodes,
        "edges": edges,
        "triples": triples,
        "lineage": dict(lineage),
    }


def precision_recall(got: set, want: set) -> tuple[float, float]:
    if not got and not want:
        return 1.0, 1.0
    tp = len(got & want)
    p = tp / len(got) if got else 0.0
    r = tp / len(want) if want else 0.0
    return p, r
