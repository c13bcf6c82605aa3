"""KG-construction benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` with ``gfftoneo4j_spark.corpus``, starts one SparkSession at
``local[<nproc>]`` and runs one op, the workload's batch job, as the
process's first work, then checks its output. The op takes longer than
``--seconds`` on 4 cores, so the flag sets no loop; it is accepted for
the benchmark contract. Each op, its check and every metric are printed
by name; the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). Everything the run writes lives under
``.perfbench-work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "compute_wall_s": "s",
    "turns_per_s": "1/s",
    "bytes_written_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def jvm_peak_rss_mb() -> float:
    """The Spark JVM's peak RSS (the kernel's high-water mark). The JVM
    runs the driver and, in local mode, every executor thread. Python
    workers are left out: how many are alive at once depends on task
    timing, which moved the summed peak by 40% between runs."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in the JVM's /proc status")


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # the default zstd codec needs a module the standard
                # library lacks to read back
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{work}/eventlog",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session (which stops its Python workers), then wait for
    the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """One benchmark run: set-up, the measured op, the report."""

    def __init__(self, args, work: str):
        from tracing import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.tracer = Tracer()
        if args.trace:
            self.tracer.install()
        self.wl = WORKLOADS[args.workload](work, self.tracer)
        self.env: dict[str, object] = {}
        self.ops: list[tuple[bool, object]] = []  # (traced, OpResult)
        self.failed = 0

    def one_op(self, traced: bool) -> None:
        """Run, check and record one op. An op that raises ends the run."""
        wl, spark, tracer = self.wl, self.spark, self.tracer
        tracer.enabled = traced
        tracer.op = wl.n_ops + 1 if traced else None
        try:
            res = wl.op(spark, traced)
        finally:
            tracer.enabled = False
        t_check = time.perf_counter()
        errs = wl.check(res)
        t_check = time.perf_counter() - t_check
        # the CacheManager matches equal plans across ops; start clean
        spark.catalog.clearCache()
        self.failed += bool(errs)
        self.ops.append((traced, res))
        status = "ok" if not errs else "FAIL " + "; ".join(errs)
        print(
            f"op {wl.n_ops} traced={int(traced)} compute_s={res.compute_s:.4f} "
            f"read_s={res.read_s:.4f} "
            f"lookup_s={','.join(f'{x:.4f}' for x in res.lookup_s)} "
            f"check_s={t_check:.2f} check={status}",
            flush=True,
        )

    def measure(self) -> None:
        """The untraced run measures one op, the process's first. The
        traced run traces that op for the per-layer figures, then prices
        tracing on a warm untraced/traced pair."""
        for traced in (True, False, True) if self.args.trace else (False,):
            self.one_op(traced)

    def execute(self) -> dict:
        import gfftoneo4j_spark.session as session

        args, wl = self.args, self.wl
        nproc = len(os.sched_getaffinity(0))
        t_prep = time.perf_counter()
        wl.prepare(args.seed)
        print(f"prepare {time.perf_counter() - t_prep:.3f}s (inputs + expected outputs)", flush=True)

        t0 = time.perf_counter()
        self.tracer.enabled = bool(args.trace)
        self.spark = session.get_spark(
            app=f"perfbench-{args.workload}",
            cpus=nproc,
            extra=session_conf(self.work, bool(args.trace)),
        )
        self.tracer.enabled = False
        setup_s = time.perf_counter() - t0
        self.tracer.spark = self.spark
        try:
            jvm = self.spark._jvm.java.lang.System
            self.env = {
                "nproc": nproc,
                "spark": self.spark.version,
                "java": jvm.getProperty("java.version"),
                "python": platform.python_version(),
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
            }
            print(f"setup {setup_s:.3f}s", flush=True)
            print("env " + " ".join(f"{k}={v}" for k, v in self.env.items()), flush=True)
            self.measure()
            peak_rss_mb = jvm_peak_rss_mb()
        finally:
            stop_spark(self.spark)
        attempted = len(self.ops)
        print(
            f"ops attempted={attempted} failed={self.failed} "
            f"failed_op_ratio={self.failed / attempted:.4f}",
            flush=True,
        )
        if args.trace:
            metrics, units = self.layer_report()
        else:
            metrics, units = self.end_to_end_report(setup_s, peak_rss_mb)
        for name, value in metrics.items():
            print(f"metric {name} {value!r} {units[name]}")
        return {
            "correct": self.failed == 0,
            "attempted": attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def end_to_end_report(self, setup_s: float, peak_rss_mb: float):
        (_traced, res), = self.ops
        metrics = {
            "setup_s": setup_s,
            "compute_wall_s": res.compute_s,
            "turns_per_s": res.turns / res.compute_s,
            "bytes_written_per_input_byte": res.bytes_written / res.input_bytes,
            "peak_rss_mb": peak_rss_mb,
        }
        return metrics, END_TO_END_UNITS

    def layer_report(self):
        from tracing import PER_LAYER, layer_metrics, unit

        (_, first), (_, untraced), (_, traced) = self.ops
        metrics = layer_metrics(self.tracer, f"{self.work}/eventlog", 1, first.extras)
        metrics["lookup.latency_p50_s"] = statistics.median(first.lookup_s)
        metrics["trace.op_wall_s"] = first.compute_s + first.read_s
        metrics["trace.overhead_ratio"] = (traced.compute_s + traced.read_s) / (
            untraced.compute_s + untraced.read_s
        )
        return {k: metrics[k] for k in PER_LAYER}, {k: unit(k) for k in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["kg_build", "kg_analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record", help="also write the result and the run's environment to this JSON file")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gfftoneo4j_spark")):
        print(f"no gfftoneo4j_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(os.getcwd(), ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # keep every file Spark, the JVM and Python create inside the work dir;
    # SPARK_LOCAL_DIRS, when set, would override spark.local.dir
    os.environ.update(
        {
            "TMPDIR": f"{work}/tmp",
            "SPARK_GRAFT_LOCAL_DIR": f"{work}/spark-local",
            "SPARK_LOCAL_DIRS": f"{work}/spark-local",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    try:
        run = Run(args, work)
        result = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)
    if args.record:
        with open(args.record, "w", encoding="utf-8") as fh:
            json.dump({"env": run.env, **result}, fh, indent=1)
            fh.write("\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
