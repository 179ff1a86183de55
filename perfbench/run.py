"""Seeded benchmark for docs-indexer-spark.

    python3 perfbench/run.py --workload serve|dedup --seed N \
        --seconds S --trace 0|1

Run from the repository root.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones (every workload reports
each of them); with ``--trace 1`` they are the per-layer ones, taken from a
run that opens a span around every layer call, and the spans with their
self times go to ``.perfbench_work/traces/``.  Every answer is checked
against an oracle; a wrong answer counts as a failed operation.

See perfbench/README.md for the workloads, the metrics and which layer
metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "docs_indexer_spark"
SHUFFLE_PARTITIONS_PER_CORE = 2  # session.py: "a real cluster: ~2-3x cores"
DRIVER_MEMORY = "2g"  # the corpora are small; keeps the shared host safe


def _jvm_peak_rss_mib(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _start_session(work: str, nproc: int):
    """The package's own ``get_spark`` at local[nproc].  The package
    reaches the Python workers through executor PYTHONPATH, so pandas-UDF
    tasks import it whatever the working directory is."""
    from docs_indexer_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=SHUFFLE_PARTITIONS_PER_CORE * nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the gateway launcher and the Python workers make temp files; every
    # JVM would also write /tmp/hsperfdata_<user>, so perf data is off
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    import importlib

    from harness import Ctx

    workload = importlib.import_module(f"wl_{args.workload}")
    spark = None
    try:
        # input generation and oracle work stay outside every timed interval
        inputs = workload.prepare_inputs(args.seed, work)
        t0 = time.perf_counter()
        spark = _start_session(work, nproc)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from sparkstats import Tracer

            tracer = Tracer(spark.sparkContext)
        ctx = Ctx(spark, work, args.seed, args.seconds, session_s, tracer)
        out = workload.run(ctx, inputs)
        out.metrics["jvm_peak_rss_mib"] = _jvm_peak_rss_mib(spark)
        if tracer is not None:
            from sparkstats import check_attribution

            check_attribution(spark, [sp.group for sp in tracer.spans])
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            tracer.dump(path)
            for name, row in sorted(tracer.summary().items()):
                print(
                    f"span {name:28s} n={row['count']:4d} "
                    f"total={row['total_s']:9.3f}s self={row['self_s']:9.3f}s",
                    file=sys.stderr,
                )
            print(f"perfbench: spans written to {path}", file=sys.stderr)
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    out.metrics["failed_frac"] = out.failed / max(1, out.attempted)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in out.metrics]
    if missing:
        raise RuntimeError(f"workload did not report {missing}")
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        # a layer the workload does not exercise reads 0
        "metrics": {
            m["name"]: {"value": float(out.metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
