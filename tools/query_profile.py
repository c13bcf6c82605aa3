"""Profile registered queries: per repetition, the wall time and the jobs,
tasks, shuffle, spill, GC and executor CPU read from Spark's event log.

Usage:
  python tools/query_profile.py [--reps N] [--base SHA] SF_DIR QUERY [QUERY ...]

Each repetition runs under the job group ``<query>#<rep>`` and writes to
the noop sink, so the computation is timed, not a collect; cached and
persisted data is then released. ``codegen_compiles`` is the number of
generated classes the driver JVM compiled during the repetition: the
exact count of Spark's ``CodegenMetrics`` compilation histogram, whose
timings are a sampled reservoir and are not summed. After the last
query the session stops, which flushes the uncompressed event log, and
perfbench's ``parse_event_log`` sums each group's jobs and stages. A
query that raises gets the error in its record and the run goes on. The
session comes from ``get_spark``: ``$SPARK_GRAFT_CPUS`` and ``$SPARK_GRAFT_MASTER``
(``local-cluster[W,C,M]`` for executor JVMs) apply.

``--base SHA`` runs the queries from a ``git archive`` of SHA and from
this checkout: one ``--reps 1`` child per side and repetition, the base
first in even repetitions and the checkout first in odd ones.

Prints one JSON line ``{"sf_dir", "reps", "queries": {name: record}}``;
a record is ``{"package", "runs": [...], "error"?}``, where ``package``
is the ``gfftoneo4j_spark`` that ran. With ``--base`` each query maps to
``{"base": record, "head": record}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

SCRIPT = os.path.abspath(__file__)
REPO = os.path.dirname(os.path.dirname(SCRIPT))
# appended, not prepended: a child's $PYTHONPATH tree must win
sys.path += [REPO, os.path.join(REPO, "perfbench")]


def profile(sf_dir: str, names: list[str], reps: int) -> dict:
    import gfftoneo4j_spark
    from gfftoneo4j_spark.queries import QUERIES
    from gfftoneo4j_spark.session import get_spark
    from tracing import COUNTERS, JOB_GROUP, parse_event_log

    package = gfftoneo4j_spark.__file__
    log_dir = tempfile.mkdtemp(prefix="query-profile-")
    try:
        spark = get_spark(
            app="query-profile",
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            },
        )
        sc = spark.sparkContext
        codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        compiles = codegen.METRIC_COMPILATION_TIME()
        out = {}
        for name in names:
            rec = out[name] = {"package": package, "runs": []}
            try:
                for rep in range(reps):
                    sc.setLocalProperty(JOB_GROUP, f"{name}#{rep}")
                    c0, t0 = compiles.getCount(), time.perf_counter()
                    df = QUERIES[name](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    rec["runs"].append(
                        {
                            "wall_s": round(time.perf_counter() - t0, 3),
                            "codegen_compiles": compiles.getCount() - c0,
                        }
                    )
                    spark.catalog.clearCache()
                    for jrdd in sc._jsc.getPersistentRDDs().values():
                        jrdd.unpersist()
            except Exception as exc:  # recorded; the run goes on
                traceback.print_exc()
                rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            print(name, [r["wall_s"] for r in rec["runs"]], file=sys.stderr, flush=True)
        spark.stop()  # flushes the event log
        groups = parse_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for name, rec in out.items():
        for rep, run in enumerate(rec["runs"]):
            g = groups.get(f"{name}#{rep}", {})
            run.update({c: round(g.get(c, 0.0), 3) for c in COUNTERS[1:]})
    return out


def ab(sha: str, sf_dir: str, names: list[str], reps: int) -> dict:
    base = tempfile.mkdtemp(prefix="query-profile-base-")
    try:
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", sha], stdout=subprocess.PIPE, check=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", base], input=archive, check=True)
        trees = {"base": base, "head": REPO}
        out = {n: {side: {"runs": []} for side in trees} for n in names}
        for rep in range(reps):
            for side in ("base", "head") if rep % 2 == 0 else ("head", "base"):
                res = subprocess.run(
                    [sys.executable, SCRIPT, "--reps", "1", sf_dir, *names],
                    # Python workers put their cwd ahead of $PYTHONPATH
                    cwd=trees[side],
                    env={**os.environ, "PYTHONPATH": trees[side]},
                    stdout=subprocess.PIPE,
                    text=True,
                    check=True,
                )
                queries = json.loads(res.stdout.splitlines()[-1])["queries"]
                for name, rec in queries.items():
                    runs = out[name][side]["runs"] + rec.pop("runs")
                    out[name][side].update(rec, runs=runs)
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--base", help="commit to run interleaved with the checkout")
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="+")
    args = p.parse_args()
    sf_dir = os.path.abspath(args.sf_dir)
    if args.base:
        out = ab(args.base, sf_dir, args.queries, args.reps)
    else:
        out = profile(sf_dir, args.queries, args.reps)
    print(json.dumps({"sf_dir": sf_dir, "reps": args.reps, "queries": out}))


if __name__ == "__main__":
    main()
