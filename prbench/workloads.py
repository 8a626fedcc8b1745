"""The benchmark's two workloads.

Each workload object has ``prepare()``, which writes the seeded inputs
and is cheap enough to repeat (``setup_s`` takes the median of several),
and ``run_once()``, one measured operation followed by its output
checks. Counters are read after the timer has stopped; with tracing on,
the operation also records spans and per-layer metrics.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import sys
import time

from digest import output_digest
from inputs import protein_permutation, relabel_proteins, write_driver_tables
from probes import (
    EpochListener,
    cached_entries,
    jobs_between,
    max_job_id,
    stage_totals,
    tree_size,
)

MB = 1e6


class Outcome:
    """What one operation did: its wall time, the driver JVM's CPU time,
    the operations it attempted and failed (steps, epochs, queries, output checks), the
    bytes it left on disk, and per-layer metrics when traced."""

    def __init__(self, seconds: float, cpu_s: float, output_bytes: int) -> None:
        self.seconds = seconds
        self.cpu_s = cpu_s
        self.output_bytes = output_bytes
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}

    def check(self, ok: bool, problem: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)


def _engine_layer(spark, j0: int, j1: int) -> dict[str, float]:
    jobs = jobs_between(spark, j0, j1)
    totals = stage_totals(spark, {s for _j, _t, stages in jobs for s in stages})
    return {"spark.jobs": len(jobs), **{f"spark.{k}": v for k, v in totals.items()}}


class WarehouseBuild:
    """Three of the fifteen ``build_warehouse`` steps over relabeled
    ``write_warehouse_fixtures`` inputs: the merged match mart every
    other step reads, the entry2xrefs rollup (the reference's most
    expensive task) and the gzip match_complete XML export."""

    name = "warehouse_build"
    N_PROTEINS = 3000
    STEPS = ["merged_matches", "mart_entry_xrefs", "match_complete_xml"]
    # output_digest of the three steps at N_PROTEINS: the same for every seed
    EXPECTED = ("7bfed2978f5d4e09102e585ee330721c78be8ad32575e3d2f62e699001667c5f", 42805)
    SINKS = ["write_mart", "write_lookup_mart", "write_tsv", "write_tsv_ranged",
             "write_json_batches", "write_xml", "write_xml_ranged"]

    def __init__(self, spark, work: str, seed: int, tracer, cpu) -> None:
        self.spark, self.seed, self.tracer, self.cpu = spark, seed, tracer, cpu
        self.fixtures = os.path.join(work, "fixtures")
        self.out = os.path.join(work, "warehouse")
        self.mapping = protein_permutation(seed, self.N_PROTEINS)
        self.base = self._base_fixtures(os.path.join(os.path.dirname(work), "cache"))

    def _base_fixtures(self, cache: str) -> str:
        """The unpermuted fixtures, written once per checkout (and again
        whenever the fixture module changes)."""
        from interpro7_dw_spark import fixtures

        with open(fixtures.__file__, "rb") as fh:
            key = hashlib.sha1(fh.read()).hexdigest()[:12]
        path = os.path.join(cache, f"fixtures-n{self.N_PROTEINS}-{key}")
        if not os.path.isdir(path):
            tmp = f"{path}.tmp{os.getpid()}"
            fixtures.write_warehouse_fixtures(self.spark, tmp, self.N_PROTEINS)
            os.replace(tmp, path)
        return path

    def prepare(self) -> None:
        shutil.rmtree(self.fixtures, ignore_errors=True)
        shutil.copytree(self.base, self.fixtures)
        relabel_proteins(self.fixtures, self.mapping)

    def run_once(self) -> Outcome:
        from interpro7_dw_spark import warehouse
        from interpro7_dw_spark.caching import engine_cache_scope

        spark, tracer = self.spark, self.tracer
        shutil.rmtree(self.out, ignore_errors=True)
        cached0 = cached_entries(spark)
        j0 = max_job_id(spark) if tracer.enabled else 0
        originals = self._wrap_sinks() if tracer.enabled else {}
        status: dict[str, str] = {}
        error = ""
        t0, c0 = time.time(), self.cpu()
        try:
            with engine_cache_scope():
                status = warehouse.build_warehouse(
                    spark, self.fixtures, self.out, steps=self.STEPS, overwrite=True)
        except Exception as exc:  # noqa: BLE001 - a failed build is a measured outcome
            error = f"{type(exc).__name__}: {exc}"
        t1, c1 = time.time(), self.cpu()
        for (module, name), fn in originals.items():
            setattr(module, name, fn)

        size, _files = tree_size(self.out)
        res = Outcome(t1 - t0, c1 - c0, size)
        for step in self.STEPS:
            res.check(status.get(step) == "built", f"step {step}: {error or 'not built'}")
        if not error:
            got = output_digest(self.out, {v: k for k, v in self.mapping.items()})
            res.check(got == self.EXPECTED, f"output digest {got} != {self.EXPECTED}")
        leaked = cached_entries(spark) - cached0
        res.check(leaked == 0, f"{leaked} persists left after engine_cache_scope")
        if tracer.enabled:
            res.layer = self._layers(t0, t1, j0, leaked)
        return res

    def _wrap_sinks(self) -> dict:
        """Replace the ``sources/sinks.py`` functions, in that module and in
        every package module that imported them by name, with wrappers
        that record a span and the bytes and files the sink left behind.
        Returns {(module, name): original} for the restore."""
        from interpro7_dw_spark.sources import sinks

        tracer, originals = self.tracer, {}
        self.sink_writes: list[tuple[int, int, int]] = []
        modules = [m for n, m in list(sys.modules.items())
                   if n.startswith("interpro7_dw_spark") and m is not None]

        def wrap(name, fn):
            def sink(*args, **kwargs):
                with tracer.span(f"sinks.{name}") as sid:
                    result = fn(*args, **kwargs)
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                self.sink_writes.append((sid, *tree_size(path)))
                return result
            return sink

        for name in self.SINKS:
            fn = getattr(sinks, name, None)
            if fn is None:
                continue
            wrapped = wrap(name, fn)
            for module in modules:
                if getattr(module, name, None) is fn:
                    originals[(module, name)] = fn
                    setattr(module, name, wrapped)
        return originals

    def _layers(self, t0: float, t1: float, j0: int, leaked: int) -> dict[str, float]:
        spark, tracer = self.spark, self.tracer
        layer = {"caching.leaked_persists": leaked}
        build = tracer.add("warehouse.build_warehouse", t0, t1)
        j1 = max_job_id(spark)
        jobs = jobs_between(spark, j0, j1)
        layer.update(_engine_layer(spark, j0, j1))
        start = t0
        steps = []
        for step in self.STEPS:
            marker = os.path.join(self.out, "_done", step)
            if not os.path.exists(marker):  # the build failed at this step
                break
            end = os.stat(marker).st_mtime_ns / 1e9
            steps.append(tracer.add(f"warehouse.{step}", start, end, build))
            layer[f"warehouse.{step}.s"] = end - start
            layer[f"warehouse.{step}.jobs"] = sum(start <= t < end for _j, t, _s in jobs)
            start = end
        for sid, _b, _f in self.sink_writes:
            s = tracer.spans[sid]
            s["parent"] = next((p for p in steps if tracer.spans[p]["start"] <= s["start"]
                                < tracer.spans[p]["end"]), build)
        layer["warehouse.gap_s"] = tracer.self_time(build)
        layer["sinks.calls"] = len(self.sink_writes)
        layer["sinks.s"] = sum(tracer.spans[sid]["end"] - tracer.spans[sid]["start"]
                               for sid, _b, _f in self.sink_writes)
        layer["sinks.mb_written"] = sum(b for _s, b, _f in self.sink_writes) / MB
        layer["sinks.files_written"] = sum(f for _s, _b, f in self.sink_writes)
        return layer


class MartStream:
    """The entry2xrefs mart as a standing query, driven through the
    public functions the ``stream_ivm_mart_entry`` spec composes: the
    release changelog (``operators/cdc.py``) is split into ``EPOCHS``
    micro-batch files by a seeded hash, the copy-on-write entry habitat
    is seeded from the old release, and ``streaming/mart_habitat.py``
    drains the files one epoch each. The rendered mart goes to a noop
    sink and is checked against the spec's DuckDB oracle (the full
    rebuild of the new release), which holds for any split of the
    changelog. One epoch keeps a run inside the benchmark's time budget;
    each further epoch costs about 80 Spark jobs."""

    name = "mart_stream"
    N_CUSTOMERS = 1500
    N_ORDERS = 15000
    EPOCHS = 1
    BUCKETS = 16

    def __init__(self, spark, work: str, seed: int, tracer, cpu) -> None:
        from interpro7_dw_spark.plans.spec import all_specs

        self.spark, self.seed, self.tracer, self.cpu = spark, seed, tracer, cpu
        self.sf = os.path.join(work, "tables")
        self.changes = os.path.join(work, "changes")
        self.state = os.path.join(work, "state")
        self.oracle_sql = all_specs()["stream_ivm_mart_entry"].oracle
        self.listener = None
        if tracer.enabled:
            self.listener = EpochListener()
            spark.streams.addListener(self.listener)

    def prepare(self) -> None:
        import duckdb

        write_driver_tables(self.sf, self.seed, self.N_CUSTOMERS, self.N_ORDERS)
        con = duckdb.connect()
        try:
            for name in ("nation", "customer", "orders"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"'{self.sf}/{name}.parquet'")
            cur = con.execute(self.oracle_sql)
            self.oracle_cols = [d[0] for d in cur.description]
            self.oracle_rows = cur.fetchall()
        finally:
            con.close()

    def _drain(self) -> tuple[object, float, float]:
        """Changelog, seed, drain; returns (rendered mart, seed end, drain end)."""
        from pyspark.sql import functions as F

        from interpro7_dw_spark.operators.cdc import snapshot_delta_images
        from interpro7_dw_spark.plans.marts import _entry_release_tables
        from interpro7_dw_spark.plans.spec import write_split_fixture
        from interpro7_dw_spark.streaming.mart_stream import (
            maintain_entry_mart_stream,
            seed_entry_mart_state,
            unify_entry_changelogs,
        )

        spark = self.spark
        r = _entry_release_tables(spark, self.sf)
        unified = unify_entry_changelogs(
            snapshot_delta_images(r["pe_old"], r["pe_new"], ["pe_id"],
                                  ["protein_acc", "entry_acc"]),
            snapshot_delta_images(r["p_old"], r["p_new"], ["protein_acc"], ["tax_id"]),
        )
        split = F.abs(F.xxhash64(F.lit(self.seed), "pe_id", "protein_acc")) % self.EPOCHS
        write_split_fixture(unified, split, self.EPOCHS, self.changes)
        seed_entry_mart_state(spark, r["p_old"], r["pe_old"], r["pp"], r["ps"], r["pec"],
                              self.state, n_buckets=self.BUCKETS)
        t_seed = time.time()
        stream = (spark.readStream.schema(unified.schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.changes))
        out = maintain_entry_mart_stream(spark, stream, self.state, r["pp"], r["ps"],
                                         r["pec"], entry_go=r["ego"],
                                         n_buckets=self.BUCKETS)
        return out, t_seed, time.time()

    def run_once(self) -> Outcome:
        from interpro7_dw_spark.caching import engine_cache_scope
        from interpro7_dw_spark.testing import rows_key

        spark, tracer = self.spark, self.tracer
        for path in (self.changes, self.state, self.state + "_chk"):
            shutil.rmtree(path, ignore_errors=True)
        cached0 = cached_entries(spark)
        j0 = max_job_id(spark) if tracer.enabled else 0
        if self.listener is not None:
            self.listener.epochs.clear()
        rows, cols, error = None, [], ""
        t0, c0 = time.time(), self.cpu()
        t_seed = t_drain = t0
        t1 = c1 = None
        try:
            with engine_cache_scope():
                df, t_seed, t_drain = self._drain()
                df.write.format("noop").mode("overwrite").save()
                t1, c1 = time.time(), self.cpu()
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001 - a failed query is a measured outcome
            if t1 is None:  # failed before the mart was written
                t1, c1 = time.time(), self.cpu()
            error = f"{type(exc).__name__}: {exc}"

        size, files = tree_size(self.state)
        res = Outcome(t1 - t0, c1 - c0, size)
        res.check(not error, f"entry mart stream: {error}")
        commits = glob.glob(self.state + "_chk/commits/[0-9]*")
        for epoch in range(self.EPOCHS):
            res.check(epoch < len(commits), f"epoch {epoch} not committed")
        if rows is not None:
            ok = (sorted(cols) == sorted(self.oracle_cols)
                  and rows_key(cols, rows) == rows_key(self.oracle_cols, self.oracle_rows))
            res.check(ok, f"entry mart: {len(rows)} rows differ from the "
                          f"{len(self.oracle_rows)}-row oracle")
        leaked = cached_entries(spark) - cached0
        res.check(leaked == 0, f"{leaked} persists left after engine_cache_scope")
        if tracer.enabled:
            res.layer = self._layers(t0, t_seed, t_drain, t1, j0, leaked, files)
        return res

    def _layers(self, t0, t_seed, t_drain, t1, j0, leaked, state_files) -> dict[str, float]:
        spark, tracer, lst = self.spark, self.tracer, self.listener
        lst.terminated.wait(10)
        j1 = max_job_id(spark)
        jobs = jobs_between(spark, j0, j1)
        op = tracer.add("streaming.entry_mart", t0, t1)
        tracer.add("streaming.changelog_and_seed", t0, t_seed, op)
        drain = tracer.add("streaming.drain", t_seed, t_drain, op)
        tracer.add("streaming.render", t_drain, t1, op)
        epochs = sorted(e for e in lst.epochs if t0 <= e[0] <= t1)
        per_epoch = []
        for start, trig, add, nrows in epochs:
            tracer.add("streaming.epoch", start, start + trig, drain)
            ejobs = [j for j in jobs if start <= j[1] <= start + trig]
            io = stage_totals(spark, {s for _j, _t, st in ejobs for s in st})
            per_epoch.append((trig, add, trig - add, nrows, len(ejobs), io["input_records"]))
        med = (lambda i: statistics.median(e[i] for e in per_epoch)) if per_epoch \
            else (lambda i: 0.0)
        return {
            "caching.leaked_persists": leaked,
            **_engine_layer(spark, j0, j1),
            "streaming.seed_s": t_seed - t0,
            "streaming.seed_jobs": sum(t0 <= t < t_seed for _j, t, _s in jobs),
            "streaming.drain_s": t_drain - t_seed,
            "streaming.epochs": len(epochs),
            "streaming.epoch_s": med(0),
            "streaming.add_batch_s": med(1),
            "streaming.overhead_s": med(2),
            "streaming.epoch_rows": med(3),
            "streaming.epoch_jobs": med(4),
            "streaming.epoch_input_records": med(5),
            "streaming.render_s": t1 - t_drain,
            "streaming.state_files": state_files,
        }


WORKLOADS = {w.name: w for w in (WarehouseBuild, MartStream)}

# every per-layer metric with its unit; a workload reports 0 for the
# layers it does not exercise
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "session.inputs_s": "s",
    "jvm.peak_rss_mb": "MB", "trace.run_s": "s", "trace.cpu_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.input_records": "count", "spark.shuffle_write_records": "count",
    "caching.leaked_persists": "count",
    **{f"warehouse.{step}.{m}": unit for step in WarehouseBuild.STEPS
       for m, unit in (("s", "s"), ("jobs", "count"))},
    "warehouse.gap_s": "s",
    "sinks.calls": "count", "sinks.s": "s", "sinks.mb_written": "MB",
    "sinks.files_written": "count",
    "streaming.seed_s": "s", "streaming.seed_jobs": "count", "streaming.drain_s": "s",
    "streaming.epochs": "count", "streaming.epoch_s": "s", "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s", "streaming.epoch_rows": "count",
    "streaming.epoch_jobs": "count", "streaming.epoch_input_records": "count",
    "streaming.render_s": "s", "streaming.state_files": "count",
}
