"""SparkSession factory.

Local-mode defaults match the test harness (single JVM, ``local[N]``);
the same builder is safe on a real cluster — every local-only knob is
gated so a cluster submit can override via ``--conf``.

Scale notes (100 TB / 1000 executors):
- ``spark.sql.shuffle.partitions`` here is sized for local cores; on a
  cluster leave AQE coalescing on and start from ~2-3x total cores.
- AQE (adaptive) is always on: runtime join-strategy switching,
  partition coalescing and skew-join splitting are the main levers
  that keep the plans in this repo stable at 1000x the data.
- Arrow is always on: every Pandas-UDF operator in ``operators/``
  depends on Arrow batching for its throughput.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Half the machine's physical memory, at most 64 GiB. Local mode is
    one JVM; with a heap ceiling above physical memory the heap grows
    until the kernel kills the process instead of collecting."""
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{min(64, max(1, phys_gib // 2))}g"


def get_spark(
    app_name: str = "interpro7-dw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = builder.master(master or f"local[{cpus}]")
    # local mode = single JVM: driver memory is the only heap knob and
    # must be set before launch (static conf).
    builder = builder.config(
        "spark.driver.memory",
        driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_bounded_window_warning(spark)
    return spark


def _quiet_bounded_window_warning(spark: SparkSession) -> None:
    """Lower WindowExec's logger to ERROR: its 'No Partition Defined'
    warning fires for EVERY global window, including the deliberately
    global ones in operators/sampling.py that run over tables bounded
    by construction (#buckets x #strata <= 65536 rows — see the
    comments there), flooding bench logs with a non-issue. A lit(0)
    partition key cannot silence it (Catalyst folds literal partition
    specs away), so target the logger itself; genuinely unbounded
    global windows are guarded by the plan tests instead
    (tests/test_plans.py)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments: the warning is cosmetic
