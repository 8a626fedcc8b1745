"""Snapshot differencing and history building — change-data
primitives over keyed table versions.

The reference rebuilds its warehouse per release and reports
what changed in the release notes (interpro7dw/interpro/ftp/relnotes
compares entry/protein counts across releases at the aggregate
level). These operators are the row-level primitives under that idea —
and under every incremental pipeline: :func:`snapshot_diff` classifies
each key as insert / delete / update between an old and a new
snapshot; :func:`scd2_history` turns an append-only changelog into a
slowly-changing-dimension type-2 validity-interval table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# field separator + null sentinel for the row fingerprint; both chosen
# outside the data alphabet of the fixture tables (control bytes)
_SEP = "\x1f"
_NULL = "\x00"


def _row_hash(cols: list[str], prefix: str) -> F.Column:
    return F.md5(
        F.concat_ws(
            _SEP, *[F.coalesce(F.col(f"{prefix}{c}").cast("string"), F.lit(_NULL)) for c in cols]
        ).cast("binary")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Classify every key across two snapshots: ``insert`` (new only),
    ``delete`` (old only), ``update`` (both sides present, any
    ``compare_cols`` value differs — null-aware). Unchanged rows are
    dropped (the point of a delta). ``compare_cols`` defaults to every
    non-key column the snapshots share; column order follows the OLD
    snapshot's schema so the fingerprint is stable across callers.

    Returns (*keys, change_type, changed_cols) where ``changed_cols``
    is the comma-joined sorted list of differing columns (empty for
    insert/delete).

    Scale: ONE full-outer shuffle join on the snapshot key (AQE
    skew-splits hot keys); change detection compares md5 row
    fingerprints computed map-side, so the join carries two hash
    columns instead of full width twice — at 100 TB the shuffle is
    keys + 32 bytes a side, and the changed-column set is computed
    only for rows whose fingerprints already differ.
    """
    if compare_cols is None:
        newcols = set(new.columns)
        compare_cols = [c for c in old.columns if c not in keys and c in newcols]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    ).withColumn("__oh", _row_hash(compare_cols, "__o_")).withColumn(
        "__op", F.lit(True)
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    ).withColumn("__nh", _row_hash(compare_cols, "__n_")).withColumn(
        "__np", F.lit(True)
    )
    # null-safe key equality: a row whose key contains a NULL must
    # still match itself across snapshots (plain = would misclassify
    # it as a delete+insert pair); presence is tested via the __op/__np
    # literal markers, not key nullness, for the same reason
    cond = [F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}")) for k in keys]
    on = cond[0]
    for c in cond[1:]:
        on = on & c
    joined = o.join(n, on=on, how="full_outer")
    in_old = F.col("__op").isNotNull()
    in_new = F.col("__np").isNotNull()
    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(F.col("__oh") != F.col("__nh"), F.lit("update"))
    )
    diffs = F.array_sort(
        F.filter(
            F.array(*[
                F.when(
                    ~(
                        F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
                    ),
                    F.lit(c),
                )
                for c in compare_cols
            ]),
            lambda x: x.isNotNull(),
        )
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
            F.when(
                F.col("change_type") == "update", F.array_join(diffs, ",")
            ).otherwise(F.lit("")).alias("changed_cols"),
        )
    )

def scd2_history(
    changelog: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_col: str,
    tracked: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse an append-only
    changelog into one row per *version* of each key, with validity
    intervals. Consecutive changelog rows whose ``tracked`` values are
    unchanged belong to the same version; a version's ``valid_from``
    is its first row's ``order_col``, its ``valid_to`` is the next
    version's ``valid_from`` (``-1`` sentinel + ``is_current=true``
    for the open-ended latest version). The classic warehouse shape
    behind "what did this dimension row look like on date X" — the
    row-level dual of :func:`snapshot_diff` (which compares two
    snapshots; this replays the full history).

    Ordering within a key is (``order_col``, ``tiebreak_col``) — the
    tiebreak must be unique per key (an event id) so version
    boundaries are engine-agnostic. ``order_col`` must be an
    epoch-NANOS LONG column (the catalog normalizes event timestamps
    to that, see sources/catalog.py::normalize_event_ts); validity
    bounds are reported in milliseconds via exact integer division
    (``DIV 1e6`` — float division of an ~1.7e18 nanos value would
    lose precision past 2^53).

    Scale: both windows partition by the natural key — a window group
    is one key's history (bounded by that key's change count, never by
    table size), and the two windows plus the change filter share one
    hash partitioning, so the plan carries a SINGLE full shuffle; the
    change test compares map-side md5 fingerprints of the tracked
    columns (null-aware, same ``\\x1f``/``\\x00`` framing as
    :func:`snapshot_diff`).

    Returns (*keys, version, *tracked, valid_from_ms, valid_to_ms,
    is_current).
    """
    fp = _row_hash(tracked, "")
    w = Window.partitionBy(*keys).orderBy(order_col, tiebreak_col)
    marked = changelog.withColumn("__fp", fp).withColumn(
        "__prev_fp", F.lag("__fp").over(w)
    )
    changes = marked.filter(
        F.col("__prev_fp").isNull() | (F.col("__prev_fp") != F.col("__fp"))
    ).withColumn("__from_ms", F.expr(f"`{order_col}` DIV 1000000"))
    wc = Window.partitionBy(*keys).orderBy(order_col, tiebreak_col)
    nxt = F.lead("__from_ms").over(wc)
    return changes.select(
        *keys,
        F.row_number().over(wc).cast("long").alias("version"),
        *tracked,
        F.col("__from_ms").alias("valid_from_ms"),
        F.coalesce(nxt, F.lit(-1)).cast("long").alias("valid_to_ms"),
        nxt.isNull().alias("is_current"),
    )


def snapshot_delta_rows(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """:func:`snapshot_diff` carrying the NEW row image — the
    APPLYABLE changelog (what a CDC feed actually ships): insert and
    update rows hold the new snapshot's values, delete rows hold
    nulls. Same null-safe key semantics as snapshot_diff.

    Returns (*keys, change_type, changed_cols, *compare_cols).
    """
    if compare_cols is None:
        newcols = set(new.columns)
        compare_cols = [c for c in old.columns if c not in keys and c in newcols]
    diff = snapshot_diff(old, new, keys, compare_cols)
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c) for c in compare_cols],
    )
    on = diff[keys[0]].eqNullSafe(n[f"__nk_{keys[0]}"])
    for k in keys[1:]:
        on = on & diff[k].eqNullSafe(n[f"__nk_{k}"])
    return diff.join(n, on, "left").select(
        *[diff[k] for k in keys], "change_type", "changed_cols", *compare_cols
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Merge an applyable changelog (:func:`snapshot_delta_rows`
    shape) into a base snapshot — the MERGE INTO of the incremental
    pipeline: touched keys leave the base (one null-safe anti join),
    insert/update images come from the changelog (one union). The
    roundtrip contract ``cdc_apply(old, snapshot_delta_rows(old, new,
    keys)) == new`` is the machine-checked definition of done.

    Scale: the anti join shuffles on the snapshot key (AQE
    skew-splits); the union is free. Nothing rewrites untouched rows'
    values — at 100 TB the cost is driven by |changes|, not |base|,
    which is the point of shipping deltas.
    """
    value_cols = [
        c for c in base.columns if c not in keys
    ]
    touched = changes.select(*[F.col(k).alias(f"__ck_{k}") for k in keys])
    on = base[keys[0]].eqNullSafe(touched[f"__ck_{keys[0]}"])
    for k in keys[1:]:
        on = on & base[k].eqNullSafe(touched[f"__ck_{k}"])
    survivors = base.join(touched, on, "left_anti")
    upserts = changes.filter(
        F.col("change_type").isin("insert", "update")
    ).select(*keys, *value_cols)
    return survivors.unionByName(upserts)


def snapshot_delta_images(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """:func:`snapshot_diff` carrying BOTH row images — the changelog
    shape incremental view maintenance needs (retract the old
    contribution, add the new one): insert rows hold nulls on the old
    side, delete rows on the new side, updates hold both. Same
    null-safe key semantics and map-side fingerprint comparison as
    snapshot_diff.

    Returns (*keys, change_type, old_<c>..., new_<c>...).
    """
    if compare_cols is None:
        newcols = set(new.columns)
        compare_cols = [c for c in old.columns if c not in keys and c in newcols]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    ).withColumn("__oh", _row_hash(compare_cols, "old_")).withColumn(
        "__op", F.lit(True)
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    ).withColumn("__nh", _row_hash(compare_cols, "new_")).withColumn(
        "__np", F.lit(True)
    )
    on = o[f"__ok_{keys[0]}"].eqNullSafe(n[f"__nk_{keys[0]}"])
    for k in keys[1:]:
        on = on & o[f"__ok_{k}"].eqNullSafe(n[f"__nk_{k}"])
    joined = o.join(n, on, "full_outer")
    in_old = F.col("__op").isNotNull()
    in_new = F.col("__np").isNotNull()
    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(F.col("__oh") != F.col("__nh"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
            *[F.col(f"old_{c}") for c in compare_cols],
            *[F.col(f"new_{c}") for c in compare_cols],
        )
    )


def _checked_count(n, group, who: str):
    """The merged count ``n`` of ``group``, raising at execution time
    when it goes negative: ``n == 0`` is the legitimate exit of a group,
    ``n < 0`` only a double-applied or inconsistent changelog — the
    same loud failure as ``domain/mart_ivm.py::apply_count_delta``."""
    return F.when(
        n < 0,
        F.raise_error(
            F.concat_ws(
                " ",
                F.lit(
                    f"{who}: negative maintained count (double-applied or"
                    " inconsistent changelog) for group"
                ),
                F.coalesce(group.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(n)


def ivm_apply_group_agg(
    base_agg: DataFrame,
    delta: DataFrame,
    group_col: str,
    value_col: str,
    n_col: str = "n_rows",
    total_col: str = "total",
) -> DataFrame:
    """Incremental view maintenance for a materialized
    ``(group, n_rows, total)`` aggregate: fold a both-images changelog
    (:func:`snapshot_delta_images` over the fact table) into the mart
    WITHOUT re-aggregating the facts — the classic count/sum IVM rule
    (deletes and update-old images RETRACT ``(-1, -value)``, inserts
    and update-new images ADD ``(+1, +value)``; an update that moves a
    row between groups retracts from the old group and adds to the
    new one, netting to zero where the group is unchanged). ``total``
    is maintained in DECIMAL(18,4) — exact, order-independent — and
    null fact values contribute 0 (the mart's total is defined as
    ``sum(coalesce(value, 0))``; counts count rows). Groups whose
    maintained count reaches zero leave the mart, so the result equals
    a full re-aggregation of the new snapshot — the machine-checked
    contract; a count going negative raises.

    Scale: one |delta|-sized map-side contribution explode, one
    group-keyed partial aggregate over the delta, one null-safe outer
    join against the mart hashed on the SAME group key — cost driven
    by |delta| + |touched groups|, never |facts| or |mart| rewrites.
    At 100 TB this is the difference between a nightly full rebuild
    and a minutes-long merge.
    """
    dec = lambda c: F.coalesce(F.col(c).cast("decimal(18,4)"), F.lit(0).cast("decimal(18,4)"))
    retract = delta.filter(
        F.col("change_type").isin("delete", "update")
    ).select(
        F.col(f"old_{group_col}").alias(group_col),
        F.lit(-1).cast("long").alias("__dn"),
        (-dec(f"old_{value_col}")).alias("__dv"),
    )
    add = delta.filter(
        F.col("change_type").isin("insert", "update")
    ).select(
        F.col(f"new_{group_col}").alias(group_col),
        F.lit(1).cast("long").alias("__dn"),
        dec(f"new_{value_col}").alias("__dv"),
    )
    d = (
        retract.unionByName(add)
        .groupBy(group_col)
        .agg(F.sum("__dn").alias("__dn"), F.sum("__dv").alias("__dv"))
    )
    on = base_agg[group_col].eqNullSafe(d[group_col])
    zero = F.lit(0).cast("decimal(18,4)")
    group = F.coalesce(base_agg[group_col], d[group_col])
    n = (
        F.coalesce(base_agg[n_col], F.lit(0)) + F.coalesce(d["__dn"], F.lit(0))
    ).cast("long")
    merged = base_agg.join(d, on, "full_outer").select(
        group.alias(group_col),
        _checked_count(n, group, "ivm_apply_group_agg").alias(n_col),
        (
            F.coalesce(base_agg[total_col].cast("decimal(18,4)"), zero)
            + F.coalesce(d["__dv"], zero)
        ).cast("decimal(18,4)").alias(total_col),
    )
    return merged.filter(F.col(n_col) > 0)


def ivm_minmax_rescan_groups(
    base_agg: DataFrame,
    delta: DataFrame,
    group_col: str,
    value_col: str,
    min_col: str = "min_v",
    max_col: str = "max_v",
) -> DataFrame:
    """The groups whose maintained MIN/MAX cannot be derived from the
    mart + delta alone: a retraction that ties or beats the group's
    current extremum may have removed its last supporter — the mart
    carries no multiplicity, so those groups (and ONLY those) must be
    re-aggregated from the facts. Exposed separately so tests can pin
    the rescan set exactly."""
    ret = delta.filter(
        F.col("change_type").isin("delete", "update")
    ).groupBy(F.col(f"old_{group_col}").alias(group_col)).agg(
        F.min(f"old_{value_col}").alias("__ret_min"),
        F.max(f"old_{value_col}").alias("__ret_max"),
    )
    on = base_agg[group_col].eqNullSafe(ret[group_col])
    return (
        base_agg.join(ret, on, "inner")
        .filter(
            F.coalesce(F.col("__ret_min") <= F.col(min_col), F.lit(False))
            | F.coalesce(F.col("__ret_max") >= F.col(max_col), F.lit(False))
        )
        .select(base_agg[group_col])
    )


def ivm_apply_group_minmax(
    base_agg: DataFrame,
    delta: DataFrame,
    new_facts: DataFrame,
    group_col: str,
    value_col: str,
    n_col: str = "n_rows",
    min_col: str = "min_v",
    max_col: str = "max_v",
) -> DataFrame:
    """Incremental view maintenance for a ``(group, n_rows, min, max)``
    mart — the RETRACT-HARD aggregates: SUM/COUNT fold deltas
    algebraically (:func:`ivm_apply_group_agg`), but MIN/MAX are not
    invertible, so a deletion of the current extremum cannot be
    repaired from the mart alone (the mart does not know whether
    another row ties it). The standard production compromise, made
    explicit here:

    - inserts merge cheaply (``least``/``greatest`` against the mart),
    - retractions strictly INSIDE the current (min, max) envelope
      merge cheaply too (they cannot have been the extremum),
    - only groups where a retracted value TIES OR BEATS the current
      extremum are re-aggregated from ``new_facts``, reached through a
      semi-join on the rescan set — with facts partitioned/clustered
      by group, partition pruning bounds the rescan to those groups'
      data, never |facts|.

    ``n_rows`` counts all rows; min/max ignore nulls (SQL semantics).
    Groups whose maintained count reaches zero leave the mart; a count
    going negative raises. The result equals a full re-aggregation of the new snapshot — the
    machine-checked contract (tests + the z_ivm_minmax oracle).
    """
    ret = delta.filter(F.col("change_type").isin("delete", "update")).select(
        F.col(f"old_{group_col}").alias(group_col),
        F.lit(-1).cast("long").alias("__dn"),
        F.col(f"old_{value_col}").alias("__rv"),
        F.lit(None).cast(dict(delta.dtypes)[f"new_{value_col}"]).alias("__av"),
    )
    add = delta.filter(F.col("change_type").isin("insert", "update")).select(
        F.col(f"new_{group_col}").alias(group_col),
        F.lit(1).cast("long").alias("__dn"),
        F.lit(None).cast(dict(delta.dtypes)[f"old_{value_col}"]).alias("__rv"),
        F.col(f"new_{value_col}").alias("__av"),
    )
    d = ret.unionByName(add).groupBy(group_col).agg(
        F.sum("__dn").alias("__dn"),
        F.min("__rv").alias("__ret_min"),
        F.max("__rv").alias("__ret_max"),
        F.min("__av").alias("__add_min"),
        F.max("__av").alias("__add_max"),
    )
    on = base_agg[group_col].eqNullSafe(d[group_col])
    group = F.coalesce(base_agg[group_col], d[group_col])
    n = (
        F.coalesce(base_agg[n_col], F.lit(0)) + F.coalesce(d["__dn"], F.lit(0))
    ).cast("long")
    merged = base_agg.join(d, on, "full_outer").select(
        group.alias(group_col),
        _checked_count(n, group, "ivm_apply_group_minmax").alias(n_col),
        base_agg[min_col].alias("__base_min"),
        base_agg[max_col].alias("__base_max"),
        "__ret_min",
        "__ret_max",
        "__add_min",
        "__add_max",
    )
    needs_rescan = F.coalesce(
        F.col("__ret_min") <= F.col("__base_min"), F.lit(False)
    ) | F.coalesce(F.col("__ret_max") >= F.col("__base_max"), F.lit(False))
    live = merged.filter(F.col(n_col) > 0)
    cheap = live.filter(~needs_rescan).select(
        group_col,
        n_col,
        F.least("__base_min", "__add_min").alias(min_col),
        F.greatest("__base_max", "__add_max").alias(max_col),
    )
    rescan_keys = live.filter(needs_rescan).select(group_col)
    fk = new_facts[group_col].eqNullSafe(rescan_keys[group_col])
    rescanned = (
        new_facts.join(rescan_keys, fk, "left_semi")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias(n_col),
            F.min(value_col).alias(min_col),
            F.max(value_col).alias(max_col),
        )
    )
    return cheap.unionByName(rescanned)


def ivm_apply_join_agg(
    base_agg: DataFrame,
    fact_old: DataFrame,
    fact_delta: DataFrame,
    dim_new: DataFrame,
    dim_delta: DataFrame,
    join_key: str,
    group_col: str,
    value_col: str,
    n_col: str = "n_rows",
    total_col: str = "total",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Incremental view maintenance for a materialized aggregate over
    a two-table INNER JOIN — ``SELECT dim.group, count(*),
    sum(fact.value) FROM fact JOIN dim USING (join_key) GROUP BY 1``
    — under both-images changelogs on BOTH inputs (the multi-table
    case the reference rebuilds from scratch every release; its xref
    marts re-join every protein to every entry nightly,
    `interpro7dw/mysql/entries.py` has no incremental path).

    ``broadcast_dim`` hints the (join_key, group) projection of the
    NEW dim as a broadcast for term 1 — right for dimension tables.
    Pass False for a dim too large to broadcast: term 1 degrades to a
    shuffle hash join whose stream side is only |dF|, still never
    |facts|. The dim-DELTA broadcast in term 2 stays either way (a
    delta is small by definition).

    The classic bilinear delta rule: with signed multisets
    ``dF = F_new - F_old`` and ``dD = D_new - D_old``,

        dV  =  dF |><| D_new   +   F_old |><| dD

    (expand: ``F_new|><|D_new - F_old|><|D_old`` exactly — the
    cross-term ``dF|><|dD`` is inside the first summand because it
    joins the NEW dim). Term 1 maps each fact image (retract old /
    add new) through the new dim to find its group. Term 2 never
    rescans the whole fact table: the old facts are SEMI-JOIN PRUNED
    to the join keys present in the dim delta (broadcast — a dim
    delta is small by definition), pre-aggregated per key, then each
    signed dim image contributes +-(per-key count, per-key total) to
    its old/new group. Cost: |dF| + |dD| + (old facts under touched
    dim keys) + touched groups — never |facts| x |dim|.

    ``total`` is maintained in DECIMAL(18,4) (exact,
    order-independent; null fact values contribute 0); groups whose
    maintained count reaches zero leave the mart, and a count going
    negative raises. Maintained ==
    full re-aggregation of the new snapshots, the machine-checked
    contract. Inner-join semantics throughout: a fact whose new join
    key has no dim row simply stops contributing, and SQL-standard
    null join keys never match.
    """
    ct = F.col("change_type")
    dec = lambda c: F.coalesce(  # noqa: E731
        F.col(c).cast("decimal(18,4)"), F.lit(0).cast("decimal(18,4)")
    )

    # --- term 1: signed fact images through the NEW dim ------------
    f_retract = fact_delta.filter(ct.isin("delete", "update")).select(
        F.col(f"old_{join_key}").alias(join_key),
        F.lit(-1).cast("long").alias("__dn"),
        (-dec(f"old_{value_col}")).alias("__dv"),
    )
    f_add = fact_delta.filter(ct.isin("insert", "update")).select(
        F.col(f"new_{join_key}").alias(join_key),
        F.lit(1).cast("long").alias("__dn"),
        dec(f"new_{value_col}").alias("__dv"),
    )
    dim_groups = dim_new.select(join_key, group_col)
    if broadcast_dim:
        dim_groups = F.broadcast(dim_groups)
    term1 = (
        f_retract.unionByName(f_add)
        .join(dim_groups, join_key, "inner")
        .select(group_col, "__dn", "__dv")
    )

    # --- term 2: signed dim images carrying the OLD facts ----------
    touched = dim_delta.select(join_key).distinct()
    per_key = (
        fact_old.join(F.broadcast(touched), join_key, "left_semi")
        .groupBy(join_key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("__fn"),
            F.sum(dec(value_col)).cast("decimal(18,4)").alias("__fv"),
        )
    )
    # union the SIGNED dim images first so per_key (and under it the
    # pruned fact scan) appears exactly ONCE in the plan
    signed_dim = dim_delta.filter(ct.isin("delete", "update")).select(
        join_key,
        F.col(f"old_{group_col}").alias(group_col),
        F.lit(-1).cast("long").alias("__sgn"),
    ).unionByName(
        dim_delta.filter(ct.isin("insert", "update")).select(
            join_key,
            F.col(f"new_{group_col}").alias(group_col),
            F.lit(1).cast("long").alias("__sgn"),
        )
    )
    term2 = signed_dim.join(per_key, join_key, "inner").select(
        group_col,
        (F.col("__fn") * F.col("__sgn")).cast("long").alias("__dn"),
        (F.col("__fv") * F.col("__sgn")).cast("decimal(18,4)").alias("__dv"),
    )

    d = (
        term1.unionByName(term2)
        .groupBy(group_col)
        .agg(
            F.sum("__dn").cast("long").alias("__dn"),
            F.sum("__dv").cast("decimal(18,4)").alias("__dv"),
        )
    )
    on = base_agg[group_col].eqNullSafe(d[group_col])
    zero = F.lit(0).cast("decimal(18,4)")
    group = F.coalesce(base_agg[group_col], d[group_col])
    n = (
        F.coalesce(base_agg[n_col], F.lit(0)) + F.coalesce(d["__dn"], F.lit(0))
    ).cast("long")
    merged = base_agg.join(d, on, "full_outer").select(
        group.alias(group_col),
        _checked_count(n, group, "ivm_apply_join_agg").alias(n_col),
        (
            F.coalesce(base_agg[total_col].cast("decimal(18,4)"), zero)
            + F.coalesce(d["__dv"], zero)
        ).cast("decimal(18,4)").alias(total_col),
    )
    return merged.filter(F.col(n_col) > 0)
