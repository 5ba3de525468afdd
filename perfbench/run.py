"""sparkts benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload crawl_rollup --seed 1 --seconds 5 --trace 0

Run from the repository root. The launcher part of this file fixes the
environment before Spark starts (driver heap, worker PYTHONPATH, scratch
directories inside the checkout), times one set-up (JVM launch and
session start, worker prewarm, loading the inputs it staged from the
seed), repeats the workload's timed iteration for ``--seconds`` and at
least the workload's ``ITERATIONS`` times, and prints the number of
samples behind each metric, then one JSON object as the last line of
standard output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
around every call into a sparkts module, writes them to
``.bench_work/traces`` and reports the per-layer metrics instead.
``--size toy`` shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

#: local[CORES]; also the core count behind engine.kernel_share
CORES = 4
DRIVER_MEM = "2g"

def configure_env() -> None:
    """Environment that must be in place before the JVM starts."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARKTS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    sys.path[:0] = [ROOT]


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_gb": round(mem_kb / 2**20, 1),
            "SPARKTS_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": "<checkout>:<checkout>/perfbench"}


def start_session(name: str):
    from sparkts.session import get_spark

    return get_spark(f"perfbench-{name}", master=f"local[{CORES}]")


def prewarm(spark) -> None:
    """Start the Python workers at the kernel-partitioning width."""
    n = CORES * 4
    spark.range(n, numPartitions=n).groupBy("id").applyInPandas(
        lambda pdf: pdf, "id long").count()


class Context:
    """What a workload iteration sees: the session, its loaded inputs,
    the tracer, the check counter and a private scratch directory."""

    def __init__(self, spark, tracer, checks, inputs, sz, scratch):
        self.spark = spark
        self.tracer = tracer
        self.checks = checks
        self.inputs = inputs
        self.sz = sz
        self.scratch = scratch
        self.cores = CORES


WORKLOADS = ("crawl_rollup", "forecast_panel")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sparkts")):
        print("perfbench: no sparkts package next to perfbench/; run from a "
              "repository checkout", file=sys.stderr)
        return 2
    configure_env()

    import workloads
    from harness import Checks, PeakRss, Tracer, median, now, stop_spark

    wl = workloads.ALL[args.workload]
    sz = wl.SIZES[args.size]
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    checks = Checks()
    rss = PeakRss()
    scratch = os.path.join(WORK, "run", run_id)
    os.makedirs(scratch, exist_ok=True)
    print(f"# host {json.dumps(host_info())}", file=sys.stderr, flush=True)

    spark = None
    try:
        # set-up: JVM launch and session start, worker prewarm, loading the
        # staged inputs. Staging runs on every run, between prewarm and load
        # and outside the clock, so every run times the same steps.
        t0 = now()
        with tracer.span("session.start"):
            spark = start_session(args.workload)
        tracer.bind(spark.sparkContext)
        t1 = now()
        with tracer.span("session.prewarm"):
            prewarm(spark)
        t2 = now()
        path = os.path.join(scratch, "inputs")
        with tracer.span("datagen.stage"):
            wl.stage(spark, path, args.seed, sz)
        t3 = now()
        inputs = wl.load(spark, path, sz)
        t4 = now()
        setup_s = (t1 - t0) + (t2 - t1) + (t4 - t3)

        ctx = Context(spark, tracer, checks, inputs, sz, scratch)
        iters = []
        overhead0 = tracer.overhead_s
        t_run = now()
        k = 0
        while k < wl.ITERATIONS or now() - t_run < args.seconds:
            try:
                iters.append(wl.iteration(ctx, k))
            except Exception:  # one failed iteration must not hide the rest
                traceback.print_exc()
                checks.check(f"iteration {k} raised", False)
            rss.sample()
            k += 1
        print(f"# iterations {[round(i['wall_s'], 3) for i in iters]}",
              file=sys.stderr, flush=True)
        if not iters:
            return 1

        if args.trace:
            metrics = wl.layer_metrics(ctx, iters)
            metrics.update({
                "session.start_s": (t1 - t0, "s"),
                "session.prewarm_s": (t2 - t1, "s"),
                "datagen.stage_s": (t3 - t2, "s"),
                "trace.wall_s": (median(i["wall_s"] for i in iters), "s"),
                "trace.overhead_s": (
                    (tracer.overhead_s - overhead0) / len(iters), "s"),
                "run.iterations": (len(iters), "count"),
                "failed_ops_share": (checks.failed / max(checks.attempted, 1),
                                     "ratio"),
            })
            for layer in workloads.LAYERS:
                for key, v in tracer.layer_counts(layer).items():
                    metrics[f"{layer}.{key}"] = (v, "count")
            span_file = os.path.join(WORK, "traces", f"{run_id}.json")
            tracer.write(span_file)
            print(f"# spans written to {span_file}", file=sys.stderr)
        else:
            # (value, unit, number of samples behind the value)
            e2e = {
                "setup_s": (setup_s, "s", 1),
                "peak_rss_mb": (rss.value, "MB", rss.samples),
                **wl.end_to_end(ctx, iters),
            }
            for name, (v, unit, n) in wl.named_metrics(ctx, iters).items():
                print(f"# {args.workload} {name} = {v:.6g} {unit} (n={n})",
                      file=sys.stderr)
            print("# samples " + json.dumps(
                {k: n for k, (_, _, n) in sorted(e2e.items())}), flush=True)
            metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
        result = {
            "correct": checks.failed == 0,
            "attempted": checks.attempted,
            "failed": checks.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in sorted(metrics.items())},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
