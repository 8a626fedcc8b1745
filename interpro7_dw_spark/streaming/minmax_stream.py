"""Continuous MIN/MAX view maintenance — the streaming habitat of
``operators/cdc.py::ivm_apply_group_minmax``.

MIN/MAX are the retract-HARD aggregates: a deleted extremum forces a
re-aggregation of the touched group from the FACTS, so a changelog
stream alone is not enough state — the maintainer must keep the fact
table too. Rewriting |facts| per epoch would break the IVM cost
contract, so the facts live in a miniature COPY-ON-WRITE bucket store
(the Delta/Iceberg idea in one directory tree):

    state_dir/facts/v<n>_e<epoch>/__b=<i>/  — bucket i's rows, written
                                              at mart version n

Each epoch writes ONLY the buckets holding changed groups (bucket =
hash(group) % n_buckets, so a group's rows colocate and the rescan
reads just-touched buckets) — and writes them all in ONE Spark action
(``partitionBy("__b")`` under a single version directory), so the
per-epoch job count is CONSTANT, not linear in touched buckets, and
the version's ``_SUCCESS`` commits every touched bucket atomically.
Per-epoch cost: |micro-batch delta| + the touched buckets' data +
touched groups, never |facts|. The store's resolution and
partition-granular vacuum, like the mart's versions and epoch replay
skip, are the shared protocol of :mod:`.versions`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from ..operators.cdc import ivm_apply_group_minmax
from .versions import (
    SEED,
    Version,
    cow_apply_images,
    drain,
    read_schema,
    seed_buckets,
    write_state,
)


def seed_minmax_state(
    spark: SparkSession,
    facts: DataFrame,
    state_dir: str,
    group_col: str,
    value_col: str,
    n_buckets: int = 16,
) -> None:
    """Materialize version 0: the bucketed facts (one partitioned
    write — every bucket with rows gets a ``__b=i`` partition — and
    the store's ``_schema.json``) plus the mart."""
    seed_buckets(f"{state_dir}/facts", facts, group_col, n_buckets)
    write_state(
        facts.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        ),
        f"{state_dir}/mart/{SEED}",
    )


def maintain_group_minmax_stream(
    spark: SparkSession,
    changes: DataFrame,
    state_dir: str,
    group_col: str,
    value_col: str,
    key_cols: list[str],
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    """Fold a STREAM of both-images change rows
    (``snapshot_delta_images`` shape) into a continuously-maintained
    ``(group, n_rows, min_v, max_v)`` mart, keeping the fact table
    current in the copy-on-write bucket store. Requires a seeded v0
    (:func:`seed_minmax_state`). Runs with ``trigger(availableNow)``;
    returns the latest committed mart version.

    Per-epoch Spark actions are CONSTANT (one touched-bucket collect,
    one partitioned facts write, one mart write) regardless of how
    many buckets the micro-batch touches."""
    mart_dir = state_dir + "/mart"
    facts_dir = state_dir + "/facts"

    def step(batch: DataFrame, prev: Version | None, target: Version) -> None:
        if prev is None:
            raise RuntimeError(
                "minmax maintenance requires a seeded v0 "
                "(seed_minmax_state) — the rescan path reads facts"
            )
        batch = batch.persist()
        try:
            # ONE action writes every touched bucket (shared COW
            # primitive; a NULL group value is a legal group and
            # buckets deterministically on both sides)
            facts_ver = cow_apply_images(
                spark, facts_dir, batch, group_col, key_cols,
                n_buckets, prev.ver, target.ver, target.epoch,
            )
            # every extremum-retracted group changed in this batch, so
            # its bucket was just written — the rescan facts are
            # exactly the new version's partitions, read with the
            # store's recorded schema (a fully-emptied version has no
            # files to infer from)
            rescan_facts = (
                spark.read.schema(
                    StructType.fromJson(read_schema(spark, facts_dir)).add(
                        "__b", IntegerType()
                    )
                )
                .parquet(facts_ver)
                .drop("__b")
            )
            mart = spark.read.parquet(prev.path(mart_dir))
            out = ivm_apply_group_minmax(
                mart, batch, rescan_facts, group_col, value_col
            )
            write_state(out, target.path(mart_dir))
        finally:
            batch.unpersist()

    latest = drain(
        spark, changes, mart_dir, state_dir + "_chk", step, keep_last,
        bucket_stores=(facts_dir,),
    )
    return spark.read.parquet(latest.path(mart_dir))
