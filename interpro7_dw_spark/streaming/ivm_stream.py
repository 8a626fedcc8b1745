"""Continuous incremental view maintenance — the streaming habitat of
``operators/cdc.py::ivm_apply_group_agg``.

A production mart is not rebuilt nightly; it is FOLDED FORWARD as the
changelog arrives. A Structured Streaming micro-batch sink is the
idiomatic home for that: each micro-batch of both-images change rows
(the :func:`..operators.cdc.snapshot_delta_images` shape) is merged
into the current materialized aggregate with the retract/add rule and
written as a NEW VERSION directory — the reader always sees a
complete, consistent snapshot (version directories are atomic at the
``_SUCCESS`` marker; no reader ever observes a half-merged mart).

The version directories, their ``_SUCCESS`` commit, the epoch replay
skip and ``keep_last`` vacuum are the shared protocol of
:mod:`.versions`; each maintainer here supplies only its merge step.

IVM contributions are additive, so ANY partitioning of the changelog
into micro-batches converges to the same mart — the streamed result
equals the batch re-aggregation of the final snapshot
(tests/test_streaming.py pins it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import ivm_apply_group_agg
from .versions import SEED, Version, drain, latest_committed, write_state


def _empty_mart(
    batch: DataFrame, group_col: str, n_col: str, total_col: str
) -> DataFrame:
    return (
        batch.select(F.col(f"new_{group_col}").alias(group_col))
        .limit(0)
        .withColumn(n_col, F.lit(0).cast("long"))
        .withColumn(total_col, F.lit(0).cast("decimal(18,4)"))
    )


def maintain_group_agg_stream(
    spark: SparkSession,
    changes: DataFrame,
    state_dir: str,
    group_col: str,
    value_col: str,
    n_col: str = "n_rows",
    total_col: str = "total",
    keep_last: int | None = None,
) -> DataFrame:
    """Run a STREAM of both-images change rows through per-micro-batch
    IVM merges, materializing each epoch as
    ``state_dir/v<n>_e<epoch>``. ``changes`` is a streaming DataFrame
    in the ``snapshot_delta_images`` shape. Drains the available
    changelog through :func:`.versions.drain` (replayed epochs skip;
    ``keep_last=N`` retains the newest N committed versions, None all),
    then returns the latest committed mart version as a DataFrame.

    Scale: each epoch costs |micro-batch delta| + touched groups (the
    IVM contract) plus a mart rewrite; at 100 TB the mart is group-
    cardinality-sized (orders of magnitude below the facts).
    """

    def step(batch: DataFrame, prev: Version | None, target: Version) -> None:
        if prev is None:
            mart = _empty_mart(batch, group_col, n_col, total_col)
        else:
            mart = spark.read.parquet(prev.path(state_dir))
        out = ivm_apply_group_agg(
            mart, batch, group_col, value_col, n_col=n_col, total_col=total_col
        )
        write_state(out, target.path(state_dir))

    latest = drain(spark, changes, state_dir, state_dir + "_chk", step, keep_last)
    return spark.read.parquet(latest.path(state_dir))


def maintain_group_topk_stream(
    spark: SparkSession,
    rows: DataFrame,
    state_dir: str,
    key_col: str,
    value_col: str,
    id_col: str,
    k: int = 3,
    keep_last: int | None = None,
) -> DataFrame:
    """Continuous TOP-K view maintenance over an INSERT-ONLY feed:
    each micro-batch's rows are reduced to per-key local top-k, merged
    with the current mart (itself at most k rows per key), and
    re-truncated — insert-only top-k is a bounded idempotent monoid,
    so any micro-batch partitioning converges to the batch top-k (the
    oracle). Per-epoch cost: |micro-batch| + k x touched keys; the
    mart is k x key-cardinality-sized forever.

    A hot key inside one micro-batch never pins a batch-sized window
    group: local selection runs per (key, 64-way id-hash bucket)
    first, then per key over the <= 64k survivors — top-k of bucket
    top-ks is exactly the global top-k (the pq_topk selection shape).

    Returns the latest committed mart (key, rank, id, value).
    """
    from pyspark.sql import Window

    def topk(df: DataFrame) -> DataFrame:
        bucketed = df.withColumn(
            "__b", F.pmod(F.abs(F.hash(id_col)), F.lit(64))
        )
        w_local = Window.partitionBy(key_col, "__b").orderBy(
            F.desc(value_col), F.asc(id_col)
        )
        pruned = (
            bucketed.withColumn("__lr", F.row_number().over(w_local))
            .filter(F.col("__lr") <= k)
        )
        w = Window.partitionBy(key_col).orderBy(F.desc(value_col), F.asc(id_col))
        return (
            pruned.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(key_col, "rank", id_col, value_col)
        )

    def step(batch: DataFrame, prev: Version | None, target: Version) -> None:
        local = topk(batch.select(key_col, id_col, value_col))
        if prev is None:
            merged = local
        else:
            mart = spark.read.parquet(prev.path(state_dir))
            merged = topk(
                mart.select(key_col, id_col, value_col).unionByName(
                    local.select(key_col, id_col, value_col)
                )
            )
        write_state(merged, target.path(state_dir))

    latest = drain(spark, rows, state_dir, state_dir + "_chk", step, keep_last)
    return spark.read.parquet(latest.path(state_dir))


def maintain_join_agg_stream(
    spark: SparkSession,
    fact_changes: DataFrame,
    dim: DataFrame,
    state_dir: str,
    fact_old_path: str,
    join_key: str,
    group_col: str,
    value_col: str,
    n_col: str = "n_rows",
    total_col: str = "total",
    keep_last: int | None = None,
) -> DataFrame:
    """Continuous MULTI-TABLE view maintenance: a STREAM of
    both-images fact change rows folded into a materialized
    ``fact |><| dim`` aggregate via
    :func:`..operators.cdc.ivm_apply_join_agg` — the production shape
    where facts arrive as a changelog and the dimension moves slowly
    (held static across this run; a dim change is a batch
    ``ivm_apply_join_agg`` call with the dim delta between runs).
    Each epoch maps the micro-batch's fact images through the
    broadcast dim and merges retract/add contributions into a new
    version. ``fact_old_path`` seeds the empty-mart case only (with
    nothing committed, the seed ``v0`` is built from it before the
    drain); after that the cost per epoch is |micro-batch| + touched
    groups.

    Returns the latest committed mart (group, n_rows, total).
    """
    from ..operators.cdc import ivm_apply_join_agg

    if latest_committed(spark, state_dir) is None:
        # materialize the seed aggregate as v0, read back by the first
        # step: the merge joins the mart against the SAME dim it was
        # derived from, and a shared lineage would trip Spark's
        # ambiguous-self-join analysis
        fact_old = spark.read.parquet(fact_old_path)
        write_state(
            fact_old.join(dim, join_key, "inner")
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias(n_col),
                F.sum(
                    F.coalesce(F.col(value_col), F.lit(0)).cast("decimal(18,4)")
                ).cast("decimal(18,4)").alias(total_col),
            ),
            f"{state_dir}/{SEED}",
        )

    def step(batch: DataFrame, prev: Version | None, target: Version) -> None:
        mart = spark.read.parquet(prev.path(state_dir))
        # dim is static for the run: the dim-delta term is empty, so
        # only term 1 (fact images through the dim) contributes
        empty_dim_delta = (
            dim.select(
                join_key,
                F.lit("update").alias("change_type"),
                F.col(group_col).alias(f"old_{group_col}"),
                F.col(group_col).alias(f"new_{group_col}"),
            ).limit(0)
        )
        empty_fact_old = spark.read.parquet(fact_old_path).limit(0)
        out = ivm_apply_join_agg(
            mart, empty_fact_old, batch, dim, empty_dim_delta,
            join_key, group_col, value_col, n_col=n_col, total_col=total_col,
        )
        write_state(out, target.path(state_dir))

    latest = drain(
        spark, fact_changes, state_dir, state_dir + "_chk", step, keep_last
    )
    return spark.read.parquet(latest.path(state_dir))
