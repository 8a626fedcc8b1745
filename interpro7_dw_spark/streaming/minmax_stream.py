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
A reader resolves each bucket's newest committed version <= the mart
version it wants — the directory tree IS the manifest (a bucket not
re-written at v_n is served by the newest older version that has its
``__b=i`` partition). Per-epoch cost: |micro-batch delta| + the
touched buckets' data + touched groups, never |facts|.

Mart versions, epoch idempotence (``v<n>_e<epoch>`` + skip on replay)
and retention reuse the machinery of :mod:`.ivm_stream`. Facts
retention is reference-counted at PARTITION granularity, like an
object-store table format's vacuum: a bucket partition ``__b=i`` of
facts version v is deleted once a newer committed version <= the keep
floor also carries bucket i (v can no longer be the bucket's resolved
source for any retained mart version); a facts version directory is
deleted when its last bucket partition goes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import ivm_apply_group_minmax
from .ivm_stream import _fs, _latest_committed, _list_versions


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


# When True, cow_apply_images cross-checks a caller-supplied
# ``touched`` list against its own change-type-filtered discovery and
# raises on any mismatch — a caller passing a subset would silently
# serve stale rows for the missing buckets (their changelog rows merge
# into a version whose bucket partitions resolution never reads for
# them), a superset would pin untouched buckets to the new version.
# Off by default (the check costs one extra job per epoch); tests and
# debugging sessions flip it on.
VALIDATE_TOUCHED = False


def _version_buckets(spark, facts_dir: str, name: str) -> set[int]:
    """Bucket ids present as ``__b=<i>`` partitions of one committed
    facts version directory (filesystem metadata only)."""
    fs, _root, jpath_cls = _fs(spark, facts_dir)
    out: set[int] = set()
    for st in fs.listStatus(jpath_cls(f"{facts_dir}/{name}")):
        if not st.isDirectory():
            continue
        part = st.getPath().getName()
        if part.startswith("__b="):
            out.add(int(part[4:]))
    return out


def _bucket_sources(
    spark, facts_dir: str, at_version: int, buckets: list[int] | None = None
) -> dict[str, set[int]]:
    """The manifest resolution: for each bucket (``buckets`` or every
    bucket seen), the newest committed facts version <= ``at_version``
    carrying it — returned grouped as {version_dir_name: buckets it
    serves}. Pure directory listing; no data read. A store with no
    committed version <= ``at_version`` raises: it is missing, not
    empty."""
    versions = [
        t for t in _list_versions(spark, facts_dir) if t[2] and t[0] <= at_version
    ]
    if not versions:
        raise FileNotFoundError(
            f"no committed version at or below v{at_version} under {facts_dir!r}"
        )
    want = set(buckets) if buckets is not None else None
    served: dict[str, set[int]] = {}
    seen: set[int] = set()
    for _ver, _epoch, _c, name in reversed(versions):  # newest first
        here = _version_buckets(spark, facts_dir, name)
        take = (here - seen) if want is None else (here & want) - seen
        if take:
            served[name] = take
            seen |= take
        if want is not None and seen >= want:
            break
    return served


def _read_sources(
    spark, facts_dir: str, served: dict[str, set[int]]
) -> DataFrame | None:
    """Union of the resolved bucket partitions, one partition-pruned
    read per contributing version directory; ``__b`` dropped. A
    version directory holding only EMPTY bucket partitions (every row
    of its touched buckets was deleted) has no files to infer a schema
    from — it serves zero rows by construction, so it is skipped."""
    from pyspark.errors import AnalysisException

    parts: list[DataFrame] = []
    for name, bs in served.items():
        try:
            df = spark.read.parquet(f"{facts_dir}/{name}")
        except AnalysisException:
            continue
        parts.append(
            df.filter(F.col("__b").isin([int(b) for b in bs])).drop("__b")
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def resolve_facts(
    spark: SparkSession, state_dir: str, at_version: int, n_buckets: int = 16
) -> DataFrame:
    """Reader view of the copy-on-write fact store as of a mart
    version: per bucket, the newest committed version <= it.
    ``n_buckets`` is accepted for API symmetry; buckets are discovered
    from the directory tree."""
    served = _bucket_sources(spark, f"{state_dir}/facts", at_version)
    out = _read_sources(spark, f"{state_dir}/facts", served)
    if out is None:
        raise RuntimeError(f"no facts buckets at or below v{at_version}")
    return out


def seed_minmax_state(
    spark: SparkSession,
    facts: DataFrame,
    state_dir: str,
    group_col: str,
    value_col: str,
    n_buckets: int = 16,
) -> None:
    """Materialize version 0: the bucketed facts (one partitioned
    write — every bucket with rows gets a ``__b=i`` partition) plus
    the mart."""
    facts.withColumn("__b", _bucket(F.col(group_col), n_buckets)).write.partitionBy(
        "__b"
    ).parquet(f"{state_dir}/facts/v0")
    facts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    ).write.parquet(f"{state_dir}/mart/v0")


def _vacuum_facts(spark, facts_dir: str, keep_floor: int | None, current_ver: int) -> None:
    """Partition-granular reference-count vacuum (see module doc):
    sweep crashed half-writes below the current version, then delete
    any bucket partition superseded by a newer committed version at or
    below the keep floor, and any version directory left empty."""
    fs, _root, jpath_cls = _fs(spark, facts_dir)
    versions = _list_versions(spark, facts_dir)
    for ver, _e, committed, name in versions:
        if not committed and ver < current_ver:
            fs.delete(jpath_cls(f"{facts_dir}/{name}"), True)
    if keep_floor is None:
        return
    committed = [t for t in versions if t[2]]
    # newest version <= keep_floor carrying each bucket = its anchor
    anchor: dict[int, int] = {}
    for ver, _e, _c, name in committed:
        if ver > keep_floor:
            continue
        for b in _version_buckets(spark, facts_dir, name):
            anchor[b] = max(anchor.get(b, ver), ver)
    for ver, _e, _c, name in committed:
        if ver >= keep_floor:
            continue
        remaining = _version_buckets(spark, facts_dir, name)
        for b in list(remaining):
            if anchor.get(b, ver) > ver:
                fs.delete(jpath_cls(f"{facts_dir}/{name}/__b={b}"), True)
                remaining.discard(b)
        if not remaining:
            fs.delete(jpath_cls(f"{facts_dir}/{name}"), True)


def cow_apply_images(
    spark: SparkSession,
    facts_dir: str,
    batch: DataFrame,
    bucket_col: str,
    key_cols: list[str],
    n_buckets: int,
    prev_version: int,
    next_version: int,
    epoch: int,
    touched: list[int] | None = None,
) -> str:
    """Merge ONE both-images changelog micro-batch into a COW bucket
    store (bucket = hash(``bucket_col``) % n_buckets; rows identified
    by ``key_cols``): resolve the touched buckets' current rows,
    anti-join the changed keys out, union the incoming new images,
    write every touched bucket in ONE ``partitionBy`` action as
    ``facts_dir/v<next_version>_e<epoch>`` (_SUCCESS commits them
    atomically; a fully-emptied touched bucket gets an explicit empty
    partition dir so resolution never resurrects older rows). Returns
    the written version directory. The caller owns the replay guard
    and vacuum — this is the shared facts-maintenance primitive of
    the MIN/MAX maintainer and the warehouse-mart maintainer
    (streaming/mart_stream.py). When ``bucket_col`` is itself a key
    column (a dimension store keyed and bucketed by the same id), the
    changelog carries it unprefixed and both images bucket on it
    directly. ``touched`` lets a caller that already discovered the
    EXACT touched-bucket set (e.g. the mart maintainers' one-job
    combined discovery over the unified changelog) skip the discovery
    job; it must equal what the discovery would compute — a superset
    would rewrite (and pin to this version) buckets the epoch never
    changed."""
    if f"old_{bucket_col}" in batch.columns:
        old_b = _bucket(F.col(f"old_{bucket_col}"), n_buckets)
        new_b = _bucket(F.col(f"new_{bucket_col}"), n_buckets)
    else:
        old_b = new_b = _bucket(F.col(bucket_col), n_buckets)
    def _discover() -> list[int]:
        return sorted(
            r[0]
            for r in batch.filter(
                F.col("change_type").isin("delete", "update")
            )
            .select(old_b.alias("b"))
            .unionByName(
                batch.filter(
                    F.col("change_type").isin("insert", "update")
                ).select(new_b.alias("b"))
            )
            .distinct()
            .collect()
        )

    if touched is None:
        touched = _discover()
    else:
        touched = sorted(touched)
        if VALIDATE_TOUCHED:
            expect = _discover()
            if touched != expect:
                raise ValueError(
                    f"cow_apply_images: caller-supplied touched buckets "
                    f"{touched} != discovered {expect} for {facts_dir}"
                )
    data_cols = [c[4:] for c in batch.columns if c.startswith("new_")]
    fact_cols = key_cols + [c for c in data_cols if c not in key_cols]
    served = _bucket_sources(spark, facts_dir, prev_version, touched)
    cur = _read_sources(spark, facts_dir, served)
    incoming = batch.filter(
        F.col("change_type").isin("insert", "update")
    ).select(
        *key_cols,
        *[F.col(f"new_{c}").alias(c) for c in fact_cols if c not in key_cols],
    )
    if cur is None:
        merged = incoming
    else:
        # (r15 measured: an F.broadcast hint here is NEGATIVE — the
        # per-epoch broadcast build + driver roundtrip costs more than
        # the tiny co-keyed shuffle it removes; AQE already converts
        # when profitable. See OPTIMIZATION_r15.)
        changed_keys = batch.select(
            *[F.col(k).alias(k) for k in key_cols]
        ).distinct()
        on = cur[key_cols[0]].eqNullSafe(changed_keys[key_cols[0]])
        for k in key_cols[1:]:
            on = on & cur[k].eqNullSafe(changed_keys[k])
        survivors = cur.join(changed_keys, on, "left_anti")
        merged = survivors.select(*fact_cols).unionByName(incoming)
    facts_ver = f"{facts_dir}/v{next_version}_e{epoch}"
    # repartition by bucket before the partitioned write: without it
    # every map task of the merge writes its own file into every
    # bucket dir it holds rows for — measured 512-947 files per
    # version dir vs 16 at seed (guide §6 small files; each later
    # epoch then lists/opens them all). One deterministic shuffle of
    # delta-bounded rows buys exactly one file per non-empty bucket —
    # the layout every pruned read wants. n_buckets is the scale knob:
    # the shuffle moves only touched-bucket rows, never |facts|.
    merged.withColumn(
        "__b", _bucket(F.col(bucket_col), n_buckets)
    ).repartition(n_buckets, F.col("__b")).write.partitionBy("__b").mode(
        "overwrite"
    ).parquet(facts_ver)
    fs, _r, jp = _fs(spark, facts_dir)
    for b in touched:
        fs.mkdirs(jp(f"{facts_ver}/__b={b}"))
    return facts_ver


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

    def step(batch: DataFrame, epoch: int) -> None:
        prev = _latest_committed(spark, mart_dir)
        if prev is None:
            raise RuntimeError(
                "minmax maintenance requires a seeded v0 "
                "(seed_minmax_state) — the rescan path reads facts"
            )
        if prev[1] is not None and epoch <= prev[1]:
            return  # replayed epoch already committed — no-op
        nxt = prev[0] + 1
        batch = batch.persist()
        try:
            # ONE action writes every touched bucket (shared COW
            # primitive; a NULL group value is a legal group and
            # buckets deterministically on both sides)
            facts_ver = cow_apply_images(
                spark, facts_dir, batch, group_col, key_cols,
                n_buckets, prev[0], nxt, epoch,
            )
            # every extremum-retracted group changed in this batch, so
            # its bucket was just written — the rescan facts are
            # exactly the new version's partitions (explicit schema:
            # a fully-emptied version has no files to infer from)
            from pyspark.sql.types import IntegerType, StructField, StructType

            data_cols = [c[4:] for c in batch.columns if c.startswith("new_")]
            fact_cols = key_cols + [c for c in data_cols if c not in key_cols]
            bfields = {f.name: f for f in batch.schema.fields}
            read_schema = StructType(
                [
                    StructField(
                        c,
                        bfields[c].dataType
                        if c in bfields
                        else bfields[f"new_{c}"].dataType,
                    )
                    for c in fact_cols
                ]
                + [StructField("__b", IntegerType())]
            )
            rescan_facts = (
                spark.read.schema(read_schema).parquet(facts_ver).drop("__b")
            )
            mart = spark.read.parquet(f"{mart_dir}/{prev[3]}")
            out = ivm_apply_group_minmax(
                mart, batch, rescan_facts, group_col, value_col
            )
            out.write.mode("overwrite").parquet(f"{mart_dir}/v{nxt}_e{epoch}")
        finally:
            batch.unpersist()
        keep_floor = None
        if keep_last is not None:
            committed = [t for t in _list_versions(spark, mart_dir) if t[2]]
            if len(committed) > keep_last:
                keep_floor = committed[-keep_last][0]
                fs, _r, jp = _fs(spark, mart_dir)
                for v, _e, is_c, name in _list_versions(spark, mart_dir):
                    if (is_c and v < keep_floor) or (not is_c and v < nxt):
                        fs.delete(jp(f"{mart_dir}/{name}"), True)
        _vacuum_facts(spark, facts_dir, keep_floor, nxt)

    q = (
        changes.writeStream.foreachBatch(step)
        .option("checkpointLocation", state_dir + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = _latest_committed(spark, mart_dir)
    if latest is None:
        raise RuntimeError("mart never materialized")
    return spark.read.parquet(f"{mart_dir}/{latest[3]}")
