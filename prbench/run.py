#!/usr/bin/env python3
"""Per-PR benchmark of interpro7-dw-spark (see README.md beside this file).

    python3 prbench/run.py --workload warehouse_build --seed 1 --seconds 10 --trace 0

Run from the repository root. One process runs one workload on
``local[<nproc>]``: it starts a session, writes the seeded inputs (three
times; ``setup_s`` takes the median), then repeats the workload's
operation, one at a time, until ``--seconds`` have been measured, and
checks every output. The last line of standard output is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from probes import Tracer
from workloads import MB, PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".prbench")
INPUT_REPEATS = 3

END_TO_END = {"run_s": "s", "cpu_s": "s", "setup_s": "s", "output_mb": "MB"}


def launcher() -> dict:
    """Size the Spark session to the machine it runs on: every CPU the
    process may use, a heap of at most a third of physical memory (4 GiB
    cap), and Spark's scratch space inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {"master": f"local[{cpus}]", "parallelism": cpus,
            "heap": f"{max(1, min(4, int(phys_gib / 3)))}g",
            "local_dir": os.path.join(STATE, "local")}


def process_cpu_s(pid: int) -> float:
    """User plus system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def warm_up(spark, path: str, slots: int) -> None:
    """First parquet write and read of the session, through an Arrow UDF
    on every task slot, so the measured operation pays neither for
    loading the engine's I/O classes nor for starting the Python workers
    (the warehouse's merge step runs a pandas UDF). Uses no code of the
    program."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(v):
        return v + 1

    spark.range(0, 1000, 1, slots).select(plus_one("id").alias("id")) \
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()


def measure(args, spark, conf: dict, start_s: float, jvm_pid: int) -> tuple[dict, list]:
    tracer = Tracer(bool(args.trace))
    t = time.time()
    warm_up(spark, os.path.join(conf["local_dir"], "warmup"), conf["parallelism"])
    warmup_s = time.time() - t

    t = time.time()
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer,
                                  lambda: process_cpu_s(jvm_pid))
    init_s = time.time() - t
    times = []
    for _ in range(INPUT_REPEATS):
        t = time.time()
        wl.prepare()
        times.append(time.time() - t)
    inputs_s = init_s + statistics.median(times)

    outcomes = []
    t_measure = time.time()
    while not outcomes or time.time() - t_measure < args.seconds:
        tracer.run = len(outcomes)
        outcomes.append(wl.run_once())
    run_s = statistics.median(o.seconds for o in outcomes)
    metrics = {
        "run_s": run_s,
        "cpu_s": statistics.median(o.cpu_s for o in outcomes),
        "setup_s": start_s + warmup_s + inputs_s,
        "output_mb": statistics.median(o.output_bytes for o in outcomes) / MB,
    }
    if args.trace:
        layer = {name: 0.0 for name in PER_LAYER}
        for name in {k for o in outcomes for k in o.layer}:
            layer[name] = statistics.median(o.layer.get(name, 0.0) for o in outcomes)
        layer.update({"session.start_s": start_s, "session.warmup_s": warmup_s,
                      "session.inputs_s": inputs_s, "trace.run_s": run_s,
                      "trace.cpu_s": metrics["cpu_s"]})
        metrics = layer
        tracer.dump(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    return metrics, outcomes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "interpro7_dw_spark", "__init__.py")):
        print(f"prbench: no interpro7_dw_spark package under {ROOT}", file=sys.stderr)
        return 2

    conf = launcher()
    shutil.rmtree(conf["local_dir"], ignore_errors=True)
    os.makedirs(conf["local_dir"])
    os.environ["SPARK_GRAFT_CPUS"] = str(conf["parallelism"])
    os.environ["SPARK_LOCAL_DIRS"] = conf["local_dir"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    t = time.time()
    from pyspark import SparkContext

    from interpro7_dw_spark.session import get_spark

    spark = get_spark(f"prbench-{args.workload}", master=conf["master"],
                      driver_memory=conf["heap"],
                      extra_conf={"spark.local.dir": conf["local_dir"],
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - t
    jvm = SparkContext._gateway.proc
    try:
        metrics, outcomes = measure(args, spark, conf, start_s, jvm.pid)
        if args.trace:
            metrics["jvm.peak_rss_mb"] = peak_rss_mb(jvm.pid)
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    for o in outcomes:
        for problem in o.problems:
            print(f"prbench: FAILED {problem}", file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    print(f"workload={args.workload} seed={args.seed} master={conf['master']} "
          f"parallelism={conf['parallelism']} heap={conf['heap']} "
          f"op_s={[round(o.seconds, 2) for o in outcomes]} "
          f"error_rate={failed / max(attempted, 1):.4f} ({failed}/{attempted}) "
          + " ".join(f"{k}={v:.4g}{units[k]}" for k, v in metrics.items()))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
