"""N-vs-4N scaling protocol, shaped by the host it runs on.

N is ``local-cluster[1,C,M]`` and 4N is ``local-cluster[4,C,M]``: W
separate executor JVMs with C cores each, the local stand-in for a
cluster. C = max(1, cores // 4), with the cores read from
``os.sched_getaffinity``, so 4N fits the host. M, the heap of each
executor and of each driver, comes from ``MemAvailable``: the envelope
runs 4 apps of one driver and one executor each, and those 8 heaps get
half of the free memory.

Two jobs, each with one work-per-core constant (``PER_CORE``):

- pipeline: ``build_kg`` with ``extraction="sql"`` (the headline path)
  over a ``write_corpus_fast`` corpus, timed together with its triple
  count; the check is ``n_triples``;
- pagerank: 5 rounds of ``pagerank_fixed_point`` over an in-engine
  graph with hub-skewed sources (the cube of a uniform hash, so the top
  1% of nodes hold ~27% of out-edges) and nodes = edges / 10; the
  catalog cache is cleared before each run, because the loop state is
  cached and an equal plan would otherwise be served from the last
  run's cache; the check is the node count and the rank mass (integer
  fixed-point, so it is exact).

Per job, three steps:

1. strong: ``PAIRS`` interleaved N/4N pairs over the 4C-sized input,
   N first in even pairs and 4N first in odd ones;
2. weak: after each strong pair, one N child over the C-sized input,
   so the ``PAIRS`` weak children see the host as the strong pairs do;
   the median of their measured walls is set against the strong 4N
   median (one weak child against the 4N median of 6 read 0.549 and
   0.684 on two runs of the same code);
3. envelope: 4 independent N apps run the same input concurrently,
   behind a barrier after their cold runs. They share nothing but the
   host, so solo N wall / concurrent wall bounds what any 4-way job can
   reach here.

Each child is one app: it waits until all W executors have registered,
then makes 1 cold run (recorded, kept out of the medians) and
``MEASURED`` measured runs, each under its own job group. Its
uncompressed event log is read after ``spark.stop()`` with
perfbench's ``parse_event_log``, which gives each run's executor CPU,
tasks and shuffle bytes. Input and shuffle partitions are fixed at 8
per 4N core, at both sizes. A failed child stops the suite with its
stderr, and a check that differs between runs stops it too.

Efficiencies are throughput ratios: strong = N wall / (4 x 4N wall),
envelope = solo N wall / concurrent N wall, weak = weak N wall / strong
4N wall, each from medians; strong / envelope is not clamped.

Usage:
  python tools/scaling_bench.py

The record goes to ``BENCH/scaling.json`` under the host label
(``4c-15g``), and ``BENCH/BASELINE.md`` is re-rendered from that file.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

SCRIPT = os.path.abspath(__file__)
REPO = os.path.dirname(os.path.dirname(SCRIPT))
sys.path += [REPO, os.path.join(REPO, "perfbench")]
RESULTS = os.path.join(REPO, "BENCH", "scaling.json")
BASELINE = os.path.join(REPO, "BENCH", "BASELINE.md")

JOBS = ("pipeline", "pagerank")
# work per core, chosen on a 4-core host so that a warm strong N run
# (the 4C-sized input on C cores) takes about 40-60 s
PER_CORE = {"pipeline": 1_200_000, "pagerank": 1_000_000}
PAIRS = 3
MEASURED = 2
ENVELOPE = 4
PARTITIONS_PER_CORE = 8
LAYER = ("executor_cpu_s", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def shape(cores: int, mem_available_mb: int) -> dict:
    """Cores per executor and the heap of every JVM: 4 executors of C
    cores fit the host, and the envelope's 2 x 4 heaps take half of the
    free memory (whole 128 MB steps)."""
    heap = max(512, mem_available_mb // 2 // (2 * ENVELOPE) // 128 * 128)
    return {"cores": cores, "C": max(1, cores // 4), "heap_mb": heap}


def host() -> tuple[str, dict]:
    with open("/proc/meminfo") as f:
        mem = {k: int(v.split()[0]) for k, v in (l.split(":", 1) for l in f)}
    cores = len(os.sched_getaffinity(0))
    label = f"{cores}c-{mem['MemTotal'] // 2**20}g"
    return label, shape(cores, mem["MemAvailable"] // 1024)


# ---------------------------------------------------------------- child


def child(spec: dict) -> list[dict]:
    """One app of ``spec["executors"]`` executors: 1 cold run, then
    MEASURED runs; per run the wall, the check and the LAYER counters."""
    from pyspark.sql import functions as F
    from tracing import JOB_GROUP, parse_event_log

    from gfftoneo4j_spark.session import get_spark

    w, c, heap = spec["executors"], spec["C"], spec["heap_mb"]
    parts = PARTITIONS_PER_CORE * 4 * c
    log_dir = tempfile.mkdtemp(prefix="scaling-eventlog-")
    try:
        spark = get_spark(
            app=f"scaling-{spec['job']}-{w}x{c}",
            master=f"local-cluster[{w},{c},{heap}]",
            shuffle_partitions=parts,
            extra={
                "spark.driver.memory": f"{heap}m",
                "spark.executor.memory": f"{heap}m",
                "spark.executorEnv.PYTHONPATH": REPO,
                # the scan splits into many tasks at both sizes
                "spark.sql.files.maxPartitionBytes": "4m",
                "spark.sql.files.openCostInBytes": "512k",
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            },
        )
        sc = spark.sparkContext
        # executors register after the session starts; a job planned
        # before then sees a smaller defaultParallelism
        deadline = time.time() + 180
        while sc._jsc.sc().getExecutorMemoryStatus().size() < w + 1:
            if time.time() > deadline:
                raise RuntimeError(f"{w} executors did not register")
            time.sleep(0.2)

        if spec["job"] == "pipeline":
            from gfftoneo4j_spark.plans.pipeline import build_kg
            from gfftoneo4j_spark.sources.transcripts import (
                read_alias_dict,
                read_transcripts,
            )

            t = read_transcripts(spark, os.path.join(spec["corpus"], "transcripts.parquet"))
            d = read_alias_dict(spark, os.path.join(spec["corpus"], "alias_dict.parquet"))

            def one_run():
                res = build_kg(spark, t, d, extraction="sql")
                return res.triples.select(F.count(F.lit(1))).collect()[0][0]

        else:
            from gfftoneo4j_spark.operators.graph import pagerank_fixed_point

            n_nodes = max(1, spec["units"] // 10)
            u_hash = F.pmod(F.xxhash64(F.lit("u"), F.col("id")), F.lit(1_000_003))
            edges = spark.range(0, spec["units"], 1, parts).select(
                F.floor(F.lit(n_nodes) * F.pow(u_hash / F.lit(1_000_003.0), F.lit(3.0)))
                .cast("int")
                .alias("u"),
                F.pmod(F.xxhash64(F.lit("v"), F.col("id")), F.lit(n_nodes))
                .cast("int")
                .alias("v"),
            )

            def one_run():
                ranks = pagerank_fixed_point(edges, iters=5)
                row = ranks.agg(F.count(F.lit(1)), F.sum("rank")).collect()[0]
                return [row[0], row[1]]

        runs = []
        for i in range(1 + MEASURED):
            if i == 1 and spec.get("barrier"):
                open(os.path.join(spec["barrier"], f"ready.{os.getpid()}"), "w").close()
                while not os.path.exists(os.path.join(spec["barrier"], "go")):
                    time.sleep(0.2)
            spark.catalog.clearCache()
            sc.setLocalProperty(JOB_GROUP, f"run#{i}")
            t0 = time.perf_counter()
            check = one_run()
            runs.append({"wall_s": round(time.perf_counter() - t0, 2), "check": check})
            for jrdd in sc._jsc.getPersistentRDDs().values():
                jrdd.unpersist()
        spark.stop()  # flushes the event log
        groups = parse_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for i, run in enumerate(runs):
        run.update({k: round(groups[f"run#{i}"][k], 3) for k in LAYER})
    return runs


# ---------------------------------------------------------- orchestrator


def _argv(spec: dict) -> list[str]:
    return [sys.executable, SCRIPT, "--child", json.dumps(spec)]


def _result(spec: dict, code: int, out: str, err: str) -> list[dict]:
    if code != 0:
        sys.stderr.write(err)
        raise SystemExit(f"child {spec} failed with exit code {code}")
    runs = json.loads(out.splitlines()[-1])
    print(f"  {spec['job']} {spec['executors']}x{spec['C']} {spec['units']:,}:",
          [r["wall_s"] for r in runs], file=sys.stderr, flush=True)
    return runs


def run_child(spec: dict) -> list[dict]:
    p = subprocess.run(_argv(spec), capture_output=True, text=True, check=False)
    return _result(spec, p.returncode, p.stdout, p.stderr)


def run_envelope(spec: dict) -> list[list[dict]]:
    """ENVELOPE concurrent N children; their measured runs start
    together once every child has finished its cold run."""
    barrier = tempfile.mkdtemp(prefix="scaling-barrier-")
    logs = [tempfile.TemporaryFile("w+") for _ in range(ENVELOPE)]
    spec = {**spec, "barrier": barrier}
    procs = [
        subprocess.Popen(_argv(spec), stdout=subprocess.PIPE, stderr=log, text=True)
        for log in logs
    ]
    try:
        while len([f for f in os.listdir(barrier) if f.startswith("ready.")]) < ENVELOPE:
            for p, log in zip(procs, logs):
                if p.poll() is not None:
                    log.seek(0)
                    _result(spec, p.returncode or 1, "", log.read())
            time.sleep(0.5)
        open(os.path.join(barrier, "go"), "w").close()
        out = []
        for p, log in zip(procs, logs):
            stdout, _ = p.communicate()
            log.seek(0)
            out.append(_result(spec, p.returncode, stdout, log.read()))
        return out
    finally:
        for p, log in zip(procs, logs):
            p.kill()
            log.close()
        shutil.rmtree(barrier, ignore_errors=True)


def _side(children: list[list[dict]]) -> dict:
    measured = [r for runs in children for r in runs[1:]]
    walls = [r["wall_s"] for r in measured]
    return {
        "cold_s": [runs[0]["wall_s"] for runs in children],
        "walls": walls,
        "wall_median": round(statistics.median(walls), 2),
        **{k: [r[k] for r in measured] for k in LAYER},
    }


def _same_check(job: str, children: list[list[dict]]):
    checks = {json.dumps(r["check"]) for runs in children for r in runs}
    if len(checks) != 1:
        raise SystemExit(f"{job}: runs over one input disagree: {sorted(checks)}")
    return json.loads(checks.pop())


def efficiencies(job: dict) -> dict:
    n, n4 = job["strong"]["n"], job["strong"]["4n"]
    strong = n["wall_median"] / (4 * n4["wall_median"])
    envelope = n["wall_median"] / job["envelope"]["wall_median"]
    cpu = statistics.median(n4["executor_cpu_s"]) / statistics.median(n["executor_cpu_s"])
    return {
        "strong": round(strong, 3),
        "envelope": round(envelope, 3),
        "vs_envelope": round(strong / envelope, 3),
        "weak": round(job["weak"]["wall_median"] / n4["wall_median"], 3),
        "executor_cpu_4n_over_n": round(cpu, 3),
    }


def protocol(job: str, shp: dict, corpora: dict) -> dict:
    c = shp["C"]
    big = {"job": job, "C": c, "heap_mb": shp["heap_mb"],
           "units": 4 * c * PER_CORE[job], "corpus": corpora[4 * c]}
    small = {**big, "executors": 1, "units": c * PER_CORE[job], "corpus": corpora[c]}
    strong = {"n": [], "4n": []}
    weak = []
    for pair in range(PAIRS):
        for side in ("n", "4n") if pair % 2 == 0 else ("4n", "n"):
            spec = {**big, "executors": 1 if side == "n" else 4}
            strong[side].append(run_child(spec))
        weak.append(run_child(small))
    envelope = run_envelope({**big, "executors": 1})
    rec = {
        "per_core": PER_CORE[job],
        "check": _same_check(job, strong["n"] + strong["4n"] + envelope),
        "strong": {side: {"units": big["units"], **_side(ch)} for side, ch in strong.items()},
        "envelope": _side(envelope),
        "weak": {"units": small["units"], "check": _same_check(job, weak), **_side(weak)},
    }
    rec["efficiency"] = efficiencies(rec)
    return rec


def render(results: dict) -> str:
    """BENCH/BASELINE.md: one row per host and job."""
    def cell(v):
        return "–" if v is None else f"{v:,}" if isinstance(v, int) else str(v)

    lines = [
        "# N-vs-4N scaling",
        "",
        "Rendered by `tools/scaling_bench.py` from `BENCH/scaling.json`; the",
        "protocol is in the tool's docstring. N is `local-cluster[1,C,M]` and 4N",
        "`local-cluster[4,C,M]`; walls are medians in seconds over the 4C-sized",
        "input. Efficiencies are throughput 4N / (4 x throughput N); envelope is",
        "solo N / 4 concurrent N. The 32-core record's narrative is",
        "`BENCH/BASELINE_r02_32core.md`.",
        "",
        "| host | job | C | turns or edges | N wall | 4N wall | strong | envelope "
        "| strong / envelope | weak | executor CPU 4N/N |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for label, rec in results.items():
        for job in JOBS:
            r, e = rec[job], rec[job]["efficiency"]
            lines.append("| " + " | ".join(cell(v) for v in (
                label, job, rec["shape"]["C"], r["strong"]["n"]["units"],
                r["strong"]["n"]["wall_median"], r["strong"]["4n"]["wall_median"],
                e["strong"], e["envelope"], e["vs_envelope"], e["weak"],
                e["executor_cpu_4n_over_n"],
            )) + " |")
    return "\n".join(lines) + "\n"


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        print(json.dumps(child(json.loads(sys.argv[2]))))
        return
    from gfftoneo4j_spark.corpus import write_corpus_fast

    label, shp = host()
    print(f"{label}: {shp}", file=sys.stderr, flush=True)
    corpus_root = tempfile.mkdtemp(prefix="scaling-corpus-")
    try:
        corpora = {}
        for cores in (shp["C"], 4 * shp["C"]):
            corpora[cores] = os.path.join(corpus_root, str(cores))
            write_corpus_fast(corpora[cores], cores * PER_CORE["pipeline"])
        rec = {"shape": shp, **{job: protocol(job, shp, corpora) for job in JOBS}}
    finally:
        shutil.rmtree(corpus_root, ignore_errors=True)
    with open(RESULTS) as f:
        results = json.load(f)
    results[label] = rec
    with open(RESULTS, "w") as f:
        json.dump(results, f, indent=1)
        f.write("\n")
    with open(BASELINE, "w") as f:
        f.write(render(results))
    print(json.dumps({label: {job: rec[job]["efficiency"] for job in JOBS}}))


if __name__ == "__main__":
    main()
