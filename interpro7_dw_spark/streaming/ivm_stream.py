"""Continuous incremental view maintenance — the streaming habitat of
``operators/cdc.py::ivm_apply_group_agg``.

A production mart is not rebuilt nightly; it is FOLDED FORWARD as the
changelog arrives. Structured Streaming's ``foreachBatch`` is the
idiomatic home for that: each micro-batch of both-images change rows
(the :func:`..operators.cdc.snapshot_delta_images` shape) is merged
into the current materialized aggregate with the retract/add rule and
written as a NEW VERSION directory — the reader always sees a
complete, consistent snapshot (version directories are atomic at the
``_SUCCESS`` marker; no reader ever observes a half-merged mart).

Exactly-once application per epoch is earned, not assumed:
``foreachBatch`` is at-least-once, so a micro-batch whose merge
COMMITTED (``_SUCCESS`` written) but whose streaming checkpoint did
not can be REPLAYED on restart. Each version directory therefore
records the epoch it applied in its name (``v<n>_e<epoch>``), and the
merge step skips any batch whose epoch is <= the last applied epoch —
the replayed batch becomes a no-op instead of a double-application.
(Epoch ids are monotonic within a checkpoint, which is the only
replay source; ``tests/test_streaming.py`` pins the replay no-op.)

Version housekeeping is object-store honest: discovery and vacuum go
through the Hadoop FileSystem API (no ``os.listdir`` local-FS
assumption), ``keep_last`` bounds the retained history (older
committed versions are swept after each successful epoch, as are
crashed half-writes below the new version), and a pre-seeded ``v0``
(an existing batch-built mart, no epoch suffix) chains in unchanged.

IVM contributions are additive, so ANY partitioning of the changelog
into micro-batches converges to the same mart — the streamed result
equals the batch re-aggregation of the final snapshot
(tests/test_streaming.py pins it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import ivm_apply_group_agg


def _fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, Path-class) for ``path_str`` via the Hadoop
    FS API — works on local FS and object stores alike."""
    jpath_cls = spark._jvm.org.apache.hadoop.fs.Path
    path = jpath_cls(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path, jpath_cls


def _list_versions(
    spark: SparkSession, state_dir: str
) -> list[tuple[int, int | None, bool, str]]:
    """Sorted ``(version, applied_epoch, committed, dir_name)`` for
    every ``v<n>`` / ``v<n>_e<epoch>`` child of ``state_dir``.
    ``applied_epoch`` is None for a pre-seeded version; ``committed``
    is the ``_SUCCESS`` gate."""
    fs, root, jpath_cls = _fs(spark, state_dir)
    if not fs.exists(root):
        return []
    out: list[tuple[int, int | None, bool, str]] = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not name.startswith("v"):
            continue
        body = name[1:]
        v_s, _, e_s = body.partition("_e")
        try:
            ver = int(v_s)
            epoch = int(e_s) if e_s else None
        except ValueError:
            continue
        committed = fs.exists(jpath_cls(st.getPath(), "_SUCCESS"))
        out.append((ver, epoch, committed, name))
    # epoch can be None (pre-seeded v0) next to an int (e.g. a crashed
    # v0_e<k> half-write beside it): bare sorted() would TypeError on
    # None<int — order seedless versions first explicitly
    return sorted(out, key=lambda t: (t[0], -1 if t[1] is None else t[1], t[3]))


def _latest_committed(
    spark: SparkSession, state_dir: str
) -> tuple[int, int | None, bool, str] | None:
    committed = [t for t in _list_versions(spark, state_dir) if t[2]]
    return committed[-1] if committed else None


def _vacuum(
    spark: SparkSession, state_dir: str, current_ver: int, keep_last: int | None
) -> None:
    """After a successful epoch: sweep crashed half-writes (no
    ``_SUCCESS``) below the just-committed version, and — when
    ``keep_last`` is set — committed versions older than the newest
    ``keep_last``."""
    fs, _root, jpath_cls = _fs(spark, state_dir)
    versions = _list_versions(spark, state_dir)
    committed = [t for t in versions if t[2]]
    keep_floor = (
        committed[-keep_last][0]
        if keep_last is not None and len(committed) > keep_last
        else None
    )
    for ver, _epoch, is_committed, name in versions:
        stale_half_write = not is_committed and ver < current_ver
        expired = keep_floor is not None and is_committed and ver < keep_floor
        if stale_half_write or expired:
            fs.delete(jpath_cls(f"{state_dir}/{name}"), True)


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
    in the ``snapshot_delta_images`` shape. Runs with
    ``trigger(availableNow)`` to drain the available changelog, then
    returns the latest committed mart version as a DataFrame.

    A replayed micro-batch (at-least-once ``foreachBatch``: driver
    died after the version's ``_SUCCESS`` but before the checkpoint
    commit) is detected by ``epoch <= last applied epoch`` and
    skipped — the merge is idempotent per epoch. ``keep_last=N``
    retains only the newest N committed versions (None keeps all;
    versioned history doubles as time travel / reader isolation);
    crashed half-writes are vacuumed either way.

    Scale: each epoch costs |micro-batch delta| + touched groups (the
    IVM contract) plus a mart rewrite; at 100 TB the mart is group-
    cardinality-sized (orders of magnitude below the facts).
    """

    def step(batch: DataFrame, epoch: int) -> None:
        prev = _latest_committed(spark, state_dir)
        if prev is not None and prev[1] is not None and epoch <= prev[1]:
            # replayed epoch whose merge already committed — no-op
            return
        if prev is None:
            mart = _empty_mart(batch, group_col, n_col, total_col)
        else:
            mart = spark.read.parquet(f"{state_dir}/{prev[3]}")
        out = ivm_apply_group_agg(
            mart, batch, group_col, value_col, n_col=n_col, total_col=total_col
        )
        nxt = (prev[0] if prev is not None else -1) + 1
        out.write.mode("overwrite").parquet(f"{state_dir}/v{nxt}_e{epoch}")
        _vacuum(spark, state_dir, nxt, keep_last)

    q = (
        changes.writeStream.foreachBatch(step)
        .option("checkpointLocation", state_dir + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = _latest_committed(spark, state_dir)
    if latest is None:
        raise RuntimeError("no change batches arrived; mart never materialized")
    return spark.read.parquet(f"{state_dir}/{latest[3]}")


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
    mart is k x key-cardinality-sized forever. Same versioned
    ``v<n>_e<epoch>`` commit protocol as
    :func:`maintain_group_agg_stream` (epoch-idempotent replays,
    ``_SUCCESS``-gated readers, ``keep_last`` vacuum).

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

    def step(batch: DataFrame, epoch: int) -> None:
        prev = _latest_committed(spark, state_dir)
        if prev is not None and prev[1] is not None and epoch <= prev[1]:
            return
        local = topk(batch.select(key_col, id_col, value_col))
        if prev is None:
            merged = local
        else:
            mart = spark.read.parquet(f"{state_dir}/{prev[3]}")
            merged = topk(
                mart.select(key_col, id_col, value_col).unionByName(
                    local.select(key_col, id_col, value_col)
                )
            )
        nxt = (prev[0] if prev is not None else -1) + 1
        merged.write.mode("overwrite").parquet(f"{state_dir}/v{nxt}_e{epoch}")
        _vacuum(spark, state_dir, nxt, keep_last)

    q = (
        rows.writeStream.foreachBatch(step)
        .option("checkpointLocation", state_dir + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = _latest_committed(spark, state_dir)
    if latest is None:
        raise RuntimeError("no batches arrived; top-k mart never materialized")
    return spark.read.parquet(f"{state_dir}/{latest[3]}")


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
    ``v<n>_e<epoch>`` version — same epoch-idempotent, _SUCCESS-gated,
    ``keep_last``-vacuumed commit protocol as
    :func:`maintain_group_agg_stream`. ``fact_old_path`` seeds the
    empty-mart case only (the first epoch's mart is built from it);
    after that the cost per epoch is |micro-batch| + touched groups.

    Returns the latest committed mart (group, n_rows, total).
    """
    from ..operators.cdc import ivm_apply_join_agg

    def step(batch: DataFrame, epoch: int) -> None:
        prev = _latest_committed(spark, state_dir)
        if prev is not None and prev[1] is not None and epoch <= prev[1]:
            return
        if prev is None:
            # materialize the seed aggregate as v0 and read it back:
            # the merge below joins the mart against the SAME dim it
            # was derived from, and a shared lineage would trip
            # Spark's ambiguous-self-join analysis
            fact_old = spark.read.parquet(fact_old_path)
            (
                fact_old.join(dim, join_key, "inner")
                .groupBy(group_col)
                .agg(
                    F.count(F.lit(1)).cast("long").alias(n_col),
                    F.sum(
                        F.coalesce(F.col(value_col), F.lit(0)).cast(
                            "decimal(18,4)"
                        )
                    ).cast("decimal(18,4)").alias(total_col),
                )
                .write.mode("overwrite")
                .parquet(f"{state_dir}/v0")
            )
            mart = spark.read.parquet(f"{state_dir}/v0")
            nxt = 1
        else:
            mart = spark.read.parquet(f"{state_dir}/{prev[3]}")
            nxt = prev[0] + 1
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
        out.write.mode("overwrite").parquet(f"{state_dir}/v{nxt}_e{epoch}")
        _vacuum(spark, state_dir, nxt, keep_last)

    q = (
        fact_changes.writeStream.foreachBatch(step)
        .option("checkpointLocation", state_dir + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = _latest_committed(spark, state_dir)
    if latest is None:
        raise RuntimeError("no change batches arrived; mart never materialized")
    return spark.read.parquet(f"{state_dir}/{latest[3]}")


def read_mart_version(
    spark: SparkSession,
    state_dir: str,
    version: int | None = None,
    epoch: int | None = None,
) -> DataFrame:
    """Time travel over a versioned IVM mart: read a specific
    ``v<n>`` / ``v<n>_e<epoch>`` snapshot, or the latest committed one
    (both None). Only ``_SUCCESS``-gated versions are served — a
    crashed half-write can never be read, the same isolation the
    maintainers guarantee their own parents. ``epoch`` selects the
    newest committed version whose applied epoch is <= the asked one
    (the as-of read against the changelog clock). Raises KeyError if
    nothing committed matches — distinguishable from an empty mart.
    """
    versions = [t for t in _list_versions(spark, state_dir) if t[2]]
    pick = _pick_version(versions, state_dir, version, epoch)
    return spark.read.parquet(f"{state_dir}/{pick[3]}")


def _pick_version(
    versions: list[tuple[int, int | None, bool, str]],
    state_dir: str,
    version: int | None,
    epoch: int | None,
) -> tuple[int, int | None, bool, str]:
    """Shared time-travel resolution over committed ``(version,
    applied_epoch, committed, name)`` tuples (this module and
    ``mart_habitat.read_version``). An as-of-``epoch`` read
    with no qualifying epoch-stamped version falls back to the newest
    SEED version (epoch None — batch-built, pre-changelog by
    construction): the seed release is a valid as-of answer for any
    epoch before the first applied batch, not an error."""
    if not versions:
        raise KeyError(f"no committed versions under {state_dir!r}")
    if version is not None:
        match = [t for t in versions if t[0] == version]
        if not match:
            raise KeyError(f"version {version} not committed under {state_dir!r}")
        return match[0]
    if epoch is not None:
        match = [t for t in versions if t[1] is not None and t[1] <= epoch]
        if match:
            return match[-1]
        seeds = [t for t in versions if t[1] is None]
        if seeds:
            return seeds[-1]
        raise KeyError(f"no committed version at or before epoch {epoch}")
    return versions[-1]
