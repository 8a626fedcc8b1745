"""The versioned-state protocol every maintained view shares: version
directories, their commit marker, replay-safe epoch advance, vacuum,
and the copy-on-write bucket store. The maintainers
(:mod:`.ivm_stream`, :mod:`.minmax_stream`, :mod:`.mart_habitat`)
supply only their merge body, as the ``step`` of :func:`advance` /
:func:`drain`.

Versions. A maintained view lives under one ``versions_dir`` as

    versions_dir/v<n>/             a pre-seeded version (a batch-built
                                   release; no epoch)
    versions_dir/v<n>_e<epoch>/    the version that applied changelog
                                   micro-batch ``epoch``

A version is COMMITTED once its root ``_SUCCESS`` exists, and readers
(:func:`list_versions`, so every parent lookup and time-travel read)
see committed versions only: a crashed half-write is never served.
:func:`advance` writes the marker LAST, after the step's every write
returned, so a version spanning several writes (a mart's supports and
its union store) commits atomically: a write into the version root
itself leaves no ``_SUCCESS`` of its own (:func:`write_state` with
``commit=False``). A version that is ONE parquet write already carries
Spark's own ``_SUCCESS``, and re-creating it is a no-op.

Exactly-once per epoch is earned, not assumed: ``foreachBatch`` is
at-least-once, so a micro-batch whose merge committed but whose
streaming checkpoint did not is REPLAYED on restart. Each version
records the epoch it applied in its name, and :func:`advance` skips
any epoch ``<=`` the last applied one, so the replay is a no-op
instead of a double application. (Epoch ids are monotonic within a
checkpoint, which is the only replay source.)

Housekeeping is object-store honest: discovery, commit and vacuum go
through the Hadoop FileSystem API (no local-FS assumption). After each
committed epoch :func:`vacuum` sweeps crashed half-writes below the new
version and, with ``keep_last=N``, committed versions older than the
newest N (None keeps all: history doubles as time travel and reader
isolation).

Bucket stores. A copy-on-write store keeps a relation bucketed by
``hash(bucket_col) % n_buckets`` (:func:`bucket`) in the same version
naming (the Delta/Iceberg idea in one directory tree):

    store_dir/_schema.json             the store's logical schema
    store_dir/v<n>_e<epoch>/__b=<i>/   bucket i's rows, written at
                                       version n

Every write (the seed's and each epoch's) shuffles its rows by bucket
first, so a version carries ONE file per non-empty bucket, in ONE
``partitionBy("__b")`` action (:func:`write_buckets`): the job count is
constant in the number of touched buckets and the version's
``_SUCCESS``, written after its last bucket directory, commits every
touched bucket at once. Each file is zstd
parquet with its rows sorted by its columns in schema order
(:func:`write_state`, the writer of every versioned-state file, mart
versions included), the shape of the reference's sorted, compressed
key-value bucket files; a touched bucket
whose rows were all deleted gets an explicit empty partition directory,
so resolution never resurrects older rows. A reader resolves each
bucket's newest committed version ``<=`` the one it wants (the
directory tree IS the manifest) and reads the resolved bucket
directories as ONE relation (:func:`read_buckets`). Per-epoch cost is
|delta| + the touched buckets' data, never |store|. Retention is
reference-counted at PARTITION granularity (:func:`vacuum_buckets`),
like an object-store table format's vacuum: bucket ``i`` of version v
is deleted once a newer committed version at or below the keep floor
also carries it (v can no longer resolve bucket i for any retained
version), and a version directory goes with its last partition.

``_schema.json`` beside every bucket store (:func:`write_schema`,
written by :func:`seed_buckets`) is passed to every read: no read
infers a schema (which costs a Spark job per read), an emptied bucket
reads as typed-empty, and a missing store, artifact or resolved
directory raises instead of reading as empty.

Union stores. Relations that share a bucket column and an access
pattern live in ONE store, so their per-file metadata is paid once per
bucket instead of once per relation and bucket: the rows of each
member are tagged by a string column (:func:`tagged_union` pads every
member to the superset schema with typed NULLs), and the store's
artifact lists each member with its own columns. The tag column leads
the schema, so each member's rows are contiguous in every file. A
maintainer reads the touched buckets ONCE for every member and splits
the read by tag (:func:`split_members`; :func:`read_members` does both
for a reader); a count member merges keyed by the tag plus every
count member's key columns (the NULL padding matches null-safely), a
fact member by :func:`apply_images`, and every member's merged rows go
back in ONE :func:`write_buckets`. A maintainer names exactly the
listed members (:func:`require_members`), so a rewrite of a bucket
carries every member's rows; a reader asking for a name outside the
list gets a KeyError instead of an empty relation.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Mapping, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

class Version(NamedTuple):
    """One ``v<n>[_e<epoch>]`` directory: ``epoch`` is None for a
    pre-seeded version; ``committed`` is the ``_SUCCESS`` gate."""

    ver: int
    epoch: int | None
    committed: bool
    name: str

    def path(self, versions_dir: str) -> str:
        return f"{versions_dir}/{self.name}"


def version_name(ver: int, epoch: int | None = None) -> str:
    return f"v{ver}" if epoch is None else f"v{ver}_e{epoch}"


# the pre-seeded version every store and mart starts from
SEED = version_name(0)


def parse_name(name: str) -> tuple[int, int | None]:
    """``(ver, epoch)`` of a version directory name; ValueError if it
    is not one."""
    if not name.startswith("v"):
        raise ValueError(f"not a version directory: {name!r}")
    v_s, _, e_s = name[1:].partition("_e")
    return int(v_s), (int(e_s) if e_s else None)


def _fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, Path-class) for ``path_str`` via the Hadoop
    FS API — works on local FS and object stores alike."""
    jpath_cls = spark._jvm.org.apache.hadoop.fs.Path
    path = jpath_cls(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path, jpath_cls


def list_versions(spark: SparkSession, versions_dir: str) -> list[Version]:
    """Every version directory under ``versions_dir``, oldest first."""
    fs, root, jpath_cls = _fs(spark, versions_dir)
    if not fs.exists(root):
        return []
    out: list[Version] = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        try:
            ver, epoch = parse_name(name)
        except ValueError:
            continue
        committed = fs.exists(jpath_cls(st.getPath(), "_SUCCESS"))
        out.append(Version(ver, epoch, committed, name))
    # epoch can be None (pre-seeded v0) next to an int (e.g. a crashed
    # v0_e<k> half-write beside it): bare sorted() would TypeError on
    # None<int — order seedless versions first explicitly
    return sorted(
        out, key=lambda v: (v.ver, -1 if v.epoch is None else v.epoch, v.name)
    )


def latest_committed(spark: SparkSession, versions_dir: str) -> Version | None:
    committed = [v for v in list_versions(spark, versions_dir) if v.committed]
    return committed[-1] if committed else None


def pick(
    spark: SparkSession,
    versions_dir: str,
    version: int | None = None,
    epoch: int | None = None,
) -> Version:
    """Time travel: the committed version numbered ``version``, or the
    newest committed one whose applied epoch is <= ``epoch`` (the as-of
    read against the changelog clock), or the latest (both None).
    Raises KeyError if nothing committed matches, which is
    distinguishable from an empty view. An as-of-``epoch`` read with no
    qualifying epoch-stamped version falls back to the newest SEED
    version (batch-built, pre-changelog by construction): the seed
    release is a valid as-of answer for any epoch before the first
    applied batch, not an error."""
    versions = [v for v in list_versions(spark, versions_dir) if v.committed]
    if not versions:
        raise KeyError(f"no committed versions under {versions_dir!r}")
    if version is not None:
        match = [v for v in versions if v.ver == version]
        if not match:
            raise KeyError(f"version {version} not committed under {versions_dir!r}")
        return match[0]
    if epoch is not None:
        match = [v for v in versions if v.epoch is not None and v.epoch <= epoch]
        if match:
            return match[-1]
        seeds = [v for v in versions if v.epoch is None]
        if seeds:
            return seeds[-1]
        raise KeyError(f"no committed version at or before epoch {epoch}")
    return versions[-1]


def commit(spark: SparkSession, version_dir: str) -> None:
    """Create the version's root ``_SUCCESS``, the marker readers gate
    on."""
    fs, _root, jpath_cls = _fs(spark, version_dir)
    fs.create(jpath_cls(f"{version_dir}/_SUCCESS"), True).close()


def vacuum(
    spark: SparkSession, versions_dir: str, current: int, keep_last: int | None
) -> int | None:
    """Sweep crashed half-writes below version ``current`` and, with
    ``keep_last`` set, committed versions older than the newest
    ``keep_last``. Returns the keep floor (the oldest retained
    committed version number; None when ``keep_last`` is None), at
    which the view's bucket stores are vacuumed."""
    fs, _root, jpath_cls = _fs(spark, versions_dir)
    versions = list_versions(spark, versions_dir)
    committed = [v for v in versions if v.committed]
    if keep_last is None or not committed:
        floor = None
    else:
        floor = committed[-keep_last if len(committed) > keep_last else 0].ver
    for v in versions:
        stale_half_write = not v.committed and v.ver < current
        expired = floor is not None and v.committed and v.ver < floor
        if stale_half_write or expired:
            fs.delete(jpath_cls(v.path(versions_dir)), True)
    return floor


def _check_keep_last(keep_last: int | None) -> None:
    """``keep_last`` counts retained committed versions: None (all) or
    at least 1 (the version just committed)."""
    if keep_last is not None and keep_last < 1:
        raise ValueError(f"keep_last must be None or >= 1, got {keep_last}")


def advance(
    spark: SparkSession,
    versions_dir: str,
    epoch: int,
    step: Callable[[Version | None, Version], None],
    keep_last: int | None,
    bucket_stores: Sequence[str] = (),
) -> Version:
    """Apply changelog ``epoch`` as the next version of
    ``versions_dir``: skip it if a committed version already applied
    it (a replay), else call ``step(prev, target)`` — ``prev`` the
    latest committed version (None if there is none), ``target`` the
    version to write, at ``target.path(versions_dir)``, and every
    bucket store's version of the same name — then commit ``target``,
    vacuum ``versions_dir`` and each of ``bucket_stores`` at the keep
    floor. Returns the latest committed version afterwards. Raises
    ValueError, before any write, for ``keep_last < 1``."""
    _check_keep_last(keep_last)
    prev = latest_committed(spark, versions_dir)
    if prev is not None and prev.epoch is not None and epoch <= prev.epoch:
        return prev  # replayed epoch whose merge already committed
    nxt = (prev.ver if prev is not None else -1) + 1
    target = Version(nxt, epoch, False, version_name(nxt, epoch))
    step(prev, target)
    commit(spark, target.path(versions_dir))
    floor = vacuum(spark, versions_dir, nxt, keep_last)
    for store_dir in bucket_stores:
        vacuum_buckets(spark, store_dir, floor, nxt)
    return target._replace(committed=True)


def drain(
    spark: SparkSession,
    changes: DataFrame,
    versions_dir: str,
    checkpoint: str,
    step: Callable[[DataFrame, Version | None, Version], None],
    keep_last: int | None,
    bucket_stores: Sequence[str] = (),
) -> Version:
    """Drain the streaming DataFrame ``changes`` with
    ``trigger(availableNow)``, folding each micro-batch through
    :func:`advance` as ``step(batch, prev, target)``. Returns the
    latest committed version; raises if there is none, and ValueError,
    before the stream starts, for ``keep_last < 1``."""
    _check_keep_last(keep_last)

    def batch_step(batch: DataFrame, epoch: int) -> None:
        advance(
            spark, versions_dir, epoch,
            lambda prev, target: step(batch, prev, target),
            keep_last, bucket_stores,
        )

    q = (
        changes.writeStream.foreachBatch(batch_step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = latest_committed(spark, versions_dir)
    if latest is None:
        raise RuntimeError(
            f"no committed version under {versions_dir!r}: no change "
            "batch arrived and nothing was seeded"
        )
    return latest


# ------------------------------------------------------ bucket stores


def bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def seed_buckets(
    store_dir: str,
    df: DataFrame,
    bucket_col: str,
    n_buckets: int,
    members: Mapping[str, Sequence[str]] | None = None,
) -> None:
    """Write ``df`` as the store's seed version (:func:`write_buckets`:
    one file per non-empty bucket) and its ``_schema.json``, listing
    ``members`` (each with its own columns) for a union store."""
    write_buckets(df.sparkSession, store_dir, SEED, df, bucket_col, n_buckets, [])
    write_schema(df.sparkSession, store_dir, df.schema, members)


def _version_buckets(spark: SparkSession, store_dir: str, name: str) -> set[int]:
    """Bucket ids present as ``__b=<i>`` partitions of one store
    version directory (filesystem metadata only)."""
    fs, _root, jpath_cls = _fs(spark, store_dir)
    out: set[int] = set()
    for st in fs.listStatus(jpath_cls(f"{store_dir}/{name}")):
        if not st.isDirectory():
            continue
        part = st.getPath().getName()
        if part.startswith("__b="):
            out.add(int(part[4:]))
    return out


def _bucket_sources(
    spark: SparkSession,
    store_dir: str,
    at_version: int,
    buckets: list[int] | None = None,
) -> dict[str, set[int]]:
    """The manifest resolution: for each bucket (``buckets`` or every
    bucket seen), the newest committed version <= ``at_version``
    carrying it — returned grouped as {version_dir_name: buckets it
    serves}. Pure directory listing; no data read. A store with no
    committed version <= ``at_version`` raises: it is missing, not
    empty."""
    versions = [
        v
        for v in list_versions(spark, store_dir)
        if v.committed and v.ver <= at_version
    ]
    if not versions:
        raise FileNotFoundError(
            f"no committed version at or below v{at_version} under {store_dir!r}"
        )
    want = set(buckets) if buckets is not None else None
    served: dict[str, set[int]] = {}
    seen: set[int] = set()
    for v in reversed(versions):  # newest first
        here = _version_buckets(spark, store_dir, v.name)
        take = (here - seen) if want is None else (here & want) - seen
        if take:
            served[v.name] = take
            seen |= take
        if want is not None and seen >= want:
            break
    return served


def read_buckets(
    spark: SparkSession,
    store_dir: str,
    at_version: int,
    buckets: list[int] | None = None,
    members: Iterable[str] | None = None,
) -> DataFrame:
    """The store as of ``at_version`` (restricted to ``buckets`` when
    given), with the schema its ``_schema.json`` records: ONE read of
    the resolved bucket directories, whichever versions serve them,
    running no Spark job. Resolved buckets that hold no rows read as
    typed-empty; a missing store, schema artifact or resolved bucket
    directory raises. A union store's reader passes ``members``, which
    must be exactly the members its artifact lists."""
    art = read_schema(spark, store_dir)
    if members is not None:
        require_members(art, members, store_dir)
    schema = StructType.fromJson(art)
    paths = [
        f"{store_dir}/{name}/__b={b}"
        for name, bs in _bucket_sources(spark, store_dir, at_version, buckets).items()
        for b in sorted(bs)
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def split_members(
    df: DataFrame, tag: str, members: Mapping[str, Sequence[str]]
) -> dict[str, DataFrame]:
    """Each member of the union relation ``df`` (rows tagged by
    ``tag``) projected to its own columns, as an artifact's
    ``members`` records them: lazy filters on the tag, no Spark job."""
    return {
        name: df.filter(F.col(tag) == name).select(*cols)
        for name, cols in members.items()
    }


def read_members(
    spark: SparkSession,
    store_dir: str,
    tag: str,
    at_version: int,
    buckets: list[int] | None = None,
) -> dict[str, DataFrame]:
    """Every member the union store ``store_dir`` lists (rows tagged by
    ``tag``), projected to its recorded columns: ONE
    :func:`read_buckets`, split by :func:`split_members`."""
    df = read_buckets(spark, store_dir, at_version, buckets)
    return split_members(df, tag, read_schema(spark, store_dir)["members"])


def write_buckets(
    spark: SparkSession,
    store_dir: str,
    name: str,
    rows: DataFrame,
    bucket_col: str,
    n_buckets: int,
    touched: list[int],
) -> str:
    """Write the merged rows of the ``touched`` buckets as store
    version ``name`` in ONE ``partitionBy`` action
    (:func:`write_state`), plus an explicit empty partition directory
    for each touched bucket left without rows, then commit it. Returns
    the version directory."""
    ver_dir = f"{store_dir}/{name}"
    # repartition by bucket before the partitioned write: without it
    # every map task writes its own file into every bucket dir it
    # holds rows for — measured 512-947 files per epoch version dir
    # (guide §6 small files; each later epoch then lists/opens them
    # all), and a seeded union store gets one file per member plan
    # and bucket. One deterministic shuffle buys exactly one file per
    # non-empty bucket — the layout every pruned read wants. An
    # epoch's shuffle moves only touched-bucket rows, never |store|.
    rows = rows.withColumn("__b", bucket(F.col(bucket_col), n_buckets))
    write_state(
        rows.repartition(n_buckets, F.col("__b")), ver_dir, "__b", commit=False
    )
    fs, _root, jpath_cls = _fs(spark, store_dir)
    for b in touched:
        fs.mkdirs(jpath_cls(f"{ver_dir}/__b={b}"))
    commit(spark, ver_dir)
    return ver_dir


STATE_CODEC = "zstd"  # of every versioned-state file


def write_state(
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
    commit: bool = True,
) -> None:
    """Overwrite ``path`` with ``df`` as :data:`STATE_CODEC` parquet,
    each task's rows sorted by ``partition_col`` (the ``partitionBy``
    column, if any), then by every other column in schema order. A
    partitioned write sorts by its partition column anyway; a sort led
    by it extends that sort instead of being replaced by it, so the
    ordering costs no extra shuffle or job. With ``commit=False`` the
    write leaves no ``_SUCCESS`` in ``path``: it is one piece of a
    version its caller commits (:func:`commit`) after the last one."""
    lead = [partition_col] if partition_col else []
    rest = [c for c in df.columns if c != partition_col]
    w = df.sortWithinPartitions(*lead, *rest).write.mode("overwrite")
    if partition_col:
        w = w.partitionBy(partition_col)
    if not commit:
        w = w.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    w.option("compression", STATE_CODEC).parquet(path)


def data_files(spark: SparkSession, path: str) -> list[str]:
    """Names of the data files directly under ``path`` (filesystem
    metadata only): everything but the ``_``- and ``.``-prefixed
    markers and checksums, which Spark's readers skip too."""
    fs, _root, jpath_cls = _fs(spark, path)
    names = [st.getPath().getName() for st in fs.listStatus(jpath_cls(path))]
    return sorted(n for n in names if not n.startswith(("_", ".")))


def vacuum_buckets(
    spark: SparkSession, store_dir: str, keep_floor: int | None, current: int
) -> None:
    """Partition-granular reference-count vacuum (see module doc):
    sweep crashed half-writes below version ``current``, then delete
    any bucket partition superseded by a newer committed version at or
    below ``keep_floor``, and any version directory left empty."""
    fs, _root, jpath_cls = _fs(spark, store_dir)
    versions = list_versions(spark, store_dir)
    for v in versions:
        if not v.committed and v.ver < current:
            fs.delete(jpath_cls(v.path(store_dir)), True)
    if keep_floor is None:
        return
    committed = [v for v in versions if v.committed]
    # newest version <= keep_floor carrying each bucket = its anchor
    anchor: dict[int, int] = {}
    for v in committed:
        if v.ver > keep_floor:
            continue
        for b in _version_buckets(spark, store_dir, v.name):
            anchor[b] = max(anchor.get(b, v.ver), v.ver)
    for v in committed:
        if v.ver >= keep_floor:
            continue
        remaining = _version_buckets(spark, store_dir, v.name)
        for b in list(remaining):
            if anchor.get(b, v.ver) > v.ver:
                fs.delete(jpath_cls(f"{v.path(store_dir)}/__b={b}"), True)
                remaining.discard(b)
        if not remaining:
            fs.delete(jpath_cls(v.path(store_dir)), True)


# When True, cow_apply_images cross-checks a caller-supplied
# ``touched`` list against its own change-type-filtered discovery and
# raises on any mismatch — a caller passing a subset would silently
# serve stale rows for the missing buckets (their changelog rows merge
# into a version whose bucket partitions resolution never reads for
# them), a superset would pin untouched buckets to the new version.
# The mart habitat's union-store epoch checks that the buckets it
# rewrites are a superset of every member's own (a superset is
# value-identical there: every member's rows are rewritten anyway).
# Off by default (the check costs extra jobs per epoch); tests and
# debugging sessions flip it on.
VALIDATE_TOUCHED = False


def image_buckets(batch: DataFrame, bucket_col: str, n_buckets: int) -> list[int]:
    """The buckets a both-images changelog touches (one collect): the
    old images' of deletes and updates, the new images' of inserts and
    updates. When ``bucket_col`` is itself a key column (a dimension
    store keyed and bucketed by the same id), the changelog carries it
    unprefixed and both images bucket on it directly."""
    if f"old_{bucket_col}" in batch.columns:
        old_b = bucket(F.col(f"old_{bucket_col}"), n_buckets)
        new_b = bucket(F.col(f"new_{bucket_col}"), n_buckets)
    else:
        old_b = new_b = bucket(F.col(bucket_col), n_buckets)
    ct = F.col("change_type")
    return sorted(
        r[0]
        for r in batch.filter(ct.isin("delete", "update"))
        .select(old_b.alias("b"))
        .unionByName(batch.filter(ct.isin("insert", "update")).select(new_b.alias("b")))
        .distinct()
        .collect()
    )


def apply_images(cur: DataFrame, batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """Plan the merge of ONE both-images changelog micro-batch into the
    current rows ``cur`` of a fact relation (rows identified by
    ``key_cols``): anti-join the changed keys out and union the
    incoming new images, in the columns ``key_cols`` + the changelog's
    ``new_`` columns. Rows under keys the batch never changed pass
    through, so ``cur`` may hold more buckets than the batch touched."""
    data_cols = [c[4:] for c in batch.columns if c.startswith("new_")]
    fact_cols = key_cols + [c for c in data_cols if c not in key_cols]
    incoming = batch.filter(
        F.col("change_type").isin("insert", "update")
    ).select(
        *key_cols,
        *[F.col(f"new_{c}").alias(c) for c in fact_cols if c not in key_cols],
    )
    # (r15 measured: an F.broadcast hint here is NEGATIVE — the
    # per-epoch broadcast build + driver roundtrip costs more than the
    # tiny co-keyed shuffle it removes; AQE already converts when
    # profitable. See OPTIMIZATION_r15.)
    changed_keys = batch.select(*[F.col(k).alias(k) for k in key_cols]).distinct()
    on = cur[key_cols[0]].eqNullSafe(changed_keys[key_cols[0]])
    for k in key_cols[1:]:
        on = on & cur[k].eqNullSafe(changed_keys[k])
    survivors = cur.join(changed_keys, on, "left_anti")
    return survivors.select(*fact_cols).unionByName(incoming)


def cow_apply_images(
    spark: SparkSession,
    store_dir: str,
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
    by ``key_cols``): resolve the touched buckets' current rows at
    ``prev_version``, merge them by :func:`apply_images`, and write
    every touched bucket as version ``v<next_version>_e<epoch>``
    (:func:`write_buckets`). Returns the written version directory.
    The caller's :func:`advance` owns the replay guard, commit and
    vacuum. ``touched`` lets a caller that already discovered the
    EXACT touched-bucket set skip the discovery job
    (:func:`image_buckets`); it must equal what the discovery would
    compute — a superset would rewrite (and pin to this version)
    buckets the epoch never changed."""
    if touched is None:
        touched = image_buckets(batch, bucket_col, n_buckets)
    else:
        touched = sorted(touched)
        if VALIDATE_TOUCHED:
            expect = image_buckets(batch, bucket_col, n_buckets)
            if touched != expect:
                raise ValueError(
                    f"cow_apply_images: caller-supplied touched buckets "
                    f"{touched} != discovered {expect} for {store_dir}"
                )
    cur = read_buckets(spark, store_dir, prev_version, touched)
    return write_buckets(
        spark, store_dir, version_name(next_version, epoch),
        apply_images(cur, batch, key_cols), bucket_col, n_buckets, touched,
    )


# ------------------------------------------------------ schema artifact


def write_schema(
    spark: SparkSession,
    store_dir: str,
    schema: StructType,
    members: Mapping[str, Sequence[str]] | None = None,
    file: str | None = None,
) -> None:
    """Persist a store's logical schema (WITHOUT its partition column)
    beside its data as ``_schema.json``, plus the ``members`` of a
    union store, each with its own columns, and the name of the one
    data ``file`` a single-file version holds."""
    art = schema.jsonValue()
    if members is not None:
        art["members"] = {n: list(cols) for n, cols in sorted(members.items())}
    if file is not None:
        art["file"] = file
    fs, _root, jpath_cls = _fs(spark, store_dir)
    out = fs.create(jpath_cls(f"{store_dir}/_schema.json"), True)
    out.write(bytearray(json.dumps(art).encode("utf-8")))
    out.close()


def read_schema(spark: SparkSession, store_dir: str) -> dict:
    """The JSON written by :func:`write_schema` (a ``StructType`` JSON,
    plus ``members`` for a union store and ``file`` for a single-file
    version); raises when the store has none."""
    fs, _root, jpath_cls = _fs(spark, store_dir)
    p = jpath_cls(f"{store_dir}/_schema.json")
    if not fs.exists(p):
        raise FileNotFoundError(f"missing schema artifact {store_dir}/_schema.json")
    stream = fs.open(p)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def require_members(art: dict, names: Iterable[str], store_dir: str) -> None:
    """Raise KeyError unless ``names`` are exactly the members the union
    store's artifact lists: a name outside the list is missing, not
    empty, and a reader that left a member out would drop its rows
    from any rewrite of the buckets it read."""
    want, have = set(names), set(art.get("members", ()))
    if want != have:
        raise KeyError(
            f"{store_dir} holds members {sorted(have)}, not {sorted(want)}"
        )


def tagged_union(tag: str, dfs: Mapping[str, DataFrame]) -> DataFrame:
    """The discriminated union of ``dfs``: every member padded to the
    superset column set with typed NULLs and tagged by its name in
    column ``tag``."""
    cols: list[tuple[str, object]] = []
    seen: set[str] = set()
    for df in dfs.values():
        for f in df.schema.fields:
            if f.name not in seen:
                seen.add(f.name)
                cols.append((f.name, f.dataType))
    parts = []
    for name, df in dfs.items():
        own = set(df.columns)
        parts.append(
            df.select(
                F.lit(name).alias(tag),
                *[
                    (F.col(c) if c in own else F.lit(None).cast(t)).alias(c)
                    for c, t in cols
                ],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
