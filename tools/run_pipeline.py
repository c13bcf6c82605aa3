"""CLI entry point (S3): the spark-submit surface of the pipeline.

Reference: CommandLineParser.scala:8-27 parses `-f file -t type -u url`
with scopt; here argparse configures source/sink/checkpoint/extraction
and the driver flow mirrors Application.scala:30-40
(read -> assemble -> materialize), Spark-first.

    spark-submit --py-files gfftoneo4j_spark.zip tools/run_pipeline.py \
        --transcripts s3a://bucket/transcripts \
        --alias-dict  s3a://bucket/alias_dict \
        --out         s3a://bucket/graph \
        --checkpoint-dir s3a://bucket/ck --fingerprint run42

Also runs directly (python tools/run_pipeline.py ...) for local use;
prints one JSON summary line on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="transcripts -> knowledge graph")
    p.add_argument("--transcripts", required=True, help="input table path (parquet)")
    p.add_argument("--alias-dict", required=True, help="alias dictionary path")
    p.add_argument("--out", required=True, help="graph output dir (nodes/, edges/)")
    p.add_argument("--checkpoint-dir", default=None, help="stage-snapshot dir (resume)")
    p.add_argument("--fingerprint", default="default", help="input identity for resume")
    p.add_argument(
        "--extraction",
        choices=["sql", "pandas"],
        default="sql",
        help="mention extraction: pure-JVM regexp (default) or Arrow pandas UDF",
    )
    p.add_argument(
        "--mode",
        choices=["overwrite", "snapshot", "incremental"],
        default="overwrite",
        help="sink mode: overwrite-in-place (default), commit a new "
        "immutable snapshot, or merge this batch into the current "
        "snapshot (incremental ingest)",
    )
    p.add_argument(
        "--strict",
        action="store_true",
        help="abort on any unparseable row (the reference's fail-fast) "
        "instead of quarantining to lineage",
    )
    p.add_argument("--master", default=None, help="override spark master")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument(
        "--lineage-out", default=None, help="optional lineage/metrics parquet dir"
    )
    args = p.parse_args(argv)

    from gfftoneo4j_spark.plans.checkpoint import StageCheckpointer
    from gfftoneo4j_spark.plans.graph_sink import (
        read_graph,
        read_graph_snapshot,
        write_graph,
        write_graph_snapshot,
    )
    from gfftoneo4j_spark.plans.incremental_build import build_kg_incremental
    from gfftoneo4j_spark.plans.pipeline import build_kg
    from gfftoneo4j_spark.session import get_spark
    from gfftoneo4j_spark.sources.transcripts import read_alias_dict, read_transcripts

    t0 = time.time()
    spark = get_spark(app="kg-pipeline", master=args.master, cpus=args.cpus)
    ck = (
        StageCheckpointer(spark, args.checkpoint_dir)
        if args.checkpoint_dir
        else None
    )
    transcripts = read_transcripts(spark, args.transcripts)
    alias_dict = read_alias_dict(spark, args.alias_dict)
    version = None
    if args.mode == "incremental":
        # strict and lineage forward into the per-batch build;
        # --checkpoint-dir is the one flag this path cannot honor
        # (stage snapshots assume a single fingerprinted input, not a
        # rolling batch sequence) — warn instead of silently dropping
        if args.checkpoint_dir:
            print(
                "warning: --checkpoint-dir is ignored with --mode "
                "incremental (snapshot commits are the resume "
                "mechanism for rolling batches)",
                file=sys.stderr,
            )
        m = build_kg_incremental(
            spark, transcripts, alias_dict, args.out,
            fingerprint=args.fingerprint, extraction=args.extraction,
            strict=args.strict, lineage_out=args.lineage_out,
        )
        version = m["version"]
        res = None
    else:
        res = build_kg(
            spark,
            transcripts,
            alias_dict,
            extraction=args.extraction,
            checkpointer=ck,
            fingerprint=args.fingerprint,
            strict=args.strict,
        )
        if args.mode == "snapshot":
            m = write_graph_snapshot(
                res.nodes, res.edges, args.out, fingerprint=args.fingerprint
            )
            version = m["version"]
        else:
            write_graph(res.nodes, res.edges, args.out, fingerprint=args.fingerprint)
    if args.lineage_out and res is not None:
        res.lineage.write.mode("overwrite").parquet(f"{args.lineage_out}/lineage")
        res.metrics.write.mode("overwrite").parquet(f"{args.lineage_out}/metrics")
    if version is None:
        graph = read_graph(spark, args.out)
    else:
        graph = read_graph_snapshot(spark, args.out, version)
    summary = {
        "out": args.out,
        "mode": args.mode,
        "version": version,
        "n_nodes": graph.nodes.count(),
        "n_edges": graph.edges.count(),
        "stages_reused": ck.reused if ck else [],
        "stages_computed": ck.computed if ck else [],
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
