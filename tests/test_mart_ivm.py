"""domain/mart_ivm.py — incremental maintenance of the real
taxon-xrefs mart: maintained supports == full rebuild, at every
checkpoint of a long changelog, with flat per-epoch cost."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from interpro7_dw_spark.domain.mart_ivm import (
    SUPPORT_KEYS,
    apply_count_delta,
    maintain_taxon_supports,
    seed_taxon_supports,
    taxon_mart_from_supports,
)
from interpro7_dw_spark.domain.marts import taxon_xrefs_mart
from interpro7_dw_spark.operators.cdc import snapshot_delta_images
from interpro7_dw_spark.streaming.mart_habitat import (
    maintain_batch,
    maintain_stream,
    read_supports,
    read_version,
    seed_state,
    unify,
)
from interpro7_dw_spark.streaming.mart_stream import (
    CLAN_HABITAT,
    ENTRY_HABITAT,
    PROTEOME_HABITAT,
    STRUCT_HABITAT,
    TAXON_HABITAT,
)


def _anc(spark):
    # 3-level taxonomy: leaves N0..N5 -> regions R0..R2 -> ROOT
    rows = []
    for n in range(6):
        rows += [(f"N{n}", f"N{n}"), (f"N{n}", f"R{n % 3}"), (f"N{n}", "ROOT")]
    return spark.createDataFrame(rows, "tax_id string, ancestor string")


def _pp(spark):
    return spark.createDataFrame(
        [(f"P{i}", f"UP{i % 4}") for i in range(0, 60, 2)],
        "protein_acc string, proteome_id string",
    )


def _ps(spark):
    return spark.createDataFrame(
        [(f"P{i}", f"PDB{i % 5}") for i in range(0, 60, 3)],
        "protein_acc string, pdb_id string",
    )


def _p_df(spark, d):
    return spark.createDataFrame(
        sorted((k, v) for k, v in d.items()),
        "protein_acc string, tax_id string",
    )


def _m_df(spark, d, with_id=True):
    rows = sorted((k, *v) for k, v in d.items())
    df = spark.createDataFrame(
        rows, "match_id long, protein_acc string, signature_acc string, database string"
    )
    return df if with_id else df.drop("match_id")


def _taxon_dims(spark):
    return {"pp": _pp(spark), "ps": _ps(spark), "anc": _anc(spark)}


def _taxon_old(spark, p_d, m_d):
    """The taxon habitat's seed snapshots, keyed by changelog arm."""
    return {"protein": _p_df(spark, p_d), "match": _m_df(spark, m_d)}


def _taxon_deltas(spark, p_old, p_new, m_old, m_new):
    """The taxon habitat's release changelogs, keyed by changelog arm."""
    return {
        "protein": snapshot_delta_images(
            _p_df(spark, p_old), _p_df(spark, p_new), ["protein_acc"], ["tax_id"]
        ),
        "match": snapshot_delta_images(
            _m_df(spark, m_old), _m_df(spark, m_new), ["match_id"],
            ["protein_acc", "signature_acc", "database"],
        ),
    }


def _mart_rows(df):
    return {
        r.tax_id: (r.n_proteins, r.n_proteomes, r.n_structures, r.db_json)
        for r in df.collect()
    }


def _rebuild(spark, p_d, m_d):
    return taxon_xrefs_mart(
        _p_df(spark, p_d),
        _m_df(spark, m_d, with_id=False),
        _pp(spark),
        _ps(spark),
        _anc(spark),
    )


def test_mart_ivm_single_epoch_equals_full_rebuild(spark):
    """One changelog epoch covering every change species — protein
    insert/delete/taxon move, match insert/delete/signature change,
    and their interactions (a moved protein whose match also changed;
    a deleted protein with live matches) — maintained render equals
    the full taxon_xrefs_mart rebuild of the new snapshot."""
    p_old = {f"P{i}": f"N{i % 6}" for i in range(24)}
    m_old = {
        j: (f"P{j % 24}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(70)
    }
    p_new = dict(p_old)
    p_new.pop("P3")                      # delete (its matches must retract)
    p_new["P4"] = "N1"                   # taxon move (from N4)
    p_new["P5"] = "N2"                   # taxon move + its match changes below
    p_new["P24"] = "N0"                  # insert
    p_new["P25"] = "N5"                  # insert (gets a new match below)
    m_new = dict(m_old)
    m_new.pop(10)                        # delete a match
    m_new[11] = ("P11", "SIG0", "DB0")   # signature change
    m_new[29] = ("P5", "SIG8", "DB2")    # change a MOVED protein's match
    m_new[100] = ("P25", "SIG1", "DB1")  # insert for an inserted protein
    m_new[101] = ("P3", "SIG2", "DB2")   # insert for a DELETED protein (must not count)

    sup0 = seed_taxon_supports(
        _p_df(spark, p_old), _m_df(spark, m_old, with_id=False),
        _pp(spark), _ps(spark), _anc(spark),
    )
    dp = snapshot_delta_images(
        _p_df(spark, p_old), _p_df(spark, p_new), ["protein_acc"], ["tax_id"]
    )
    dm = snapshot_delta_images(
        _m_df(spark, m_old), _m_df(spark, m_new), ["match_id"],
        ["protein_acc", "signature_acc", "database"],
    )
    sup1 = maintain_taxon_supports(
        sup0, dp, dm, _p_df(spark, p_new), _m_df(spark, m_old, with_id=False),
        _pp(spark), _ps(spark), _anc(spark),
    )
    got = _mart_rows(taxon_mart_from_supports(sup1))
    want = _mart_rows(_rebuild(spark, p_new, m_new))
    assert got == want
    # and the maintained supports never hold zero/negative counts
    for name in SUPPORT_KEYS:
        assert sup1[name].filter(F.col("n") <= 0).count() == 0, name


def test_apply_count_delta_exit_at_zero_and_null_keys(spark):
    """The count merge drops rows reaching zero (that exit IS the
    distinct-count maintenance) and treats NULL group values as a
    legal key on both sides."""
    sup = spark.createDataFrame(
        [("a", 2), (None, 1)], "k string, n long"
    )
    d = spark.createDataFrame(
        [("a", -2), (None, 1), ("b", 3)], "k string, s long"
    )
    got = {r.k: r.n for r in apply_count_delta(sup, d, ["k"]).collect()}
    assert got == {None: 2, "b": 3}


def test_apply_count_delta_negative_count_raises(spark):
    """A merged count going NEGATIVE means a corrupted changelog
    (double-applied or inconsistent) — loudly raised at execution,
    never silently dropped like the legitimate exit-at-zero."""
    import pytest as _pytest

    sup = spark.createDataFrame([("a", 2)], "k string, n long")
    d = spark.createDataFrame([("a", -3)], "k string, s long")
    with _pytest.raises(Exception, match="negative maintained count"):
        apply_count_delta(sup, d, ["k"]).collect()


def test_mart_ivm_many_epochs_cost_tracks_delta(spark, tmp_path):
    """Multi-epoch mart stressor (the tests/test_streaming.py:509
    pattern, on the REAL warehouse mart): each epoch mutates both the
    protein dimension (insert/move/delete) and the match facts
    (insert/signature-change/delete), supports persist to parquet
    between epochs (the production shape), maintained == full rebuild
    at three checkpoints, and the per-epoch SPARK JOB COUNT stays
    constant — the deterministic resource invariant for "cost follows
    |delta| + supports, not release age" (wall-clock medians flake on
    loaded machines; job counts don't). 15 epochs, not 40: one mart
    epoch is five support merges + five parquet round-trips (vs the
    single-mart streaming stressor), and O(age) growth — the thing
    the flatness bound guards — would already be visible across 15."""
    import statistics

    from interpro7_dw_spark.testing import max_job_id

    n_epochs = 15
    p_cur = {f"P{i}": f"N{i % 6}" for i in range(24)}
    m_cur = {j: (f"P{j % 24}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(70)}

    state = str(tmp_path / "sup")

    def write(sup, e):
        for name, df in sup.items():
            df.write.mode("overwrite").parquet(f"{state}/{name}/v{e}")

    def read(e):
        return {
            name: spark.read.parquet(f"{state}/{name}/v{e}")
            for name in SUPPORT_KEYS
        }

    sup = seed_taxon_supports(
        _p_df(spark, p_cur), _m_df(spark, m_cur, with_id=False),
        _pp(spark), _ps(spark), _anc(spark),
    )
    write(sup, 0)

    jobs_per_epoch: list[int] = []
    checkpoints = (4, 9, n_epochs - 1)
    for e in range(n_epochs):
        p_nxt = dict(p_cur)
        m_nxt = dict(m_cur)
        p_nxt[f"P{100 + e}"] = f"N{e % 6}"                    # protein insert
        mover = f"P{(e * 5) % 24}"
        if mover in p_nxt:                                     # taxon move
            p_nxt[mover] = f"N{(int(p_nxt[mover][1:]) + 1) % 6}"
        victim = f"P{(e * 7) % 24}"
        p_nxt.pop(victim, None)                                # protein delete
        m_nxt[1000 + e] = (f"P{100 + e}", f"SIG{e % 9}", f"DB{(e % 9) % 3}")
        if (e * 3) % 70 in m_nxt:                              # signature change
            p_of = m_nxt[(e * 3) % 70][0]
            m_nxt[(e * 3) % 70] = (p_of, f"SIG{(e + 4) % 9}", f"DB{((e + 4) % 9) % 3}")
        m_nxt.pop((e * 11) % 70, None)                         # match delete

        dp = snapshot_delta_images(
            _p_df(spark, p_cur), _p_df(spark, p_nxt), ["protein_acc"], ["tax_id"]
        )
        dm = snapshot_delta_images(
            _m_df(spark, m_cur), _m_df(spark, m_nxt), ["match_id"],
            ["protein_acc", "signature_acc", "database"],
        )
        j0 = max_job_id(spark)
        sup = maintain_taxon_supports(
            read(e), dp, dm, _p_df(spark, p_nxt),
            _m_df(spark, m_cur, with_id=False),
            _pp(spark), _ps(spark), _anc(spark),
        )
        write(sup, e + 1)
        jobs_per_epoch.append(max_job_id(spark) - j0)
        spark.catalog.clearCache()  # drop the epoch's persisted deltas
        p_cur, m_cur = p_nxt, m_nxt
        if e in checkpoints:
            got = _mart_rows(taxon_mart_from_supports(read(e + 1)))
            want = _mart_rows(_rebuild(spark, p_cur, m_cur))
            assert got == want, e

    # O(age) growth would add jobs (or data per job — but the fixture
    # data is flat, so jobs ARE the cost) every epoch; constant per-
    # epoch job count == cost tracks the delta. +2 slack: AQE may
    # re-plan a stage boundary when a delta happens to skew.
    third = len(jobs_per_epoch) // 3
    early = statistics.median(jobs_per_epoch[:third])
    late = statistics.median(jobs_per_epoch[-third:])
    assert late <= early + 2, (early, late, jobs_per_epoch)


def test_mart_stream_equals_batch_rebuild(spark, tmp_path):
    """streaming/mart_stream.py — the warehouse mart maintained as a
    standing query: protein + match changelogs interleaved in one
    discriminated stream, drained over three micro-batches against
    COW-stored protein/match state; the rendered mart equals the full
    taxon_xrefs_mart rebuild of the final snapshot, and both fact
    members of the union store resolve to the final snapshots."""
    from interpro7_dw_spark.streaming.versions import read_members

    p_old = {f"P{i}": f"N{i % 6}" for i in range(24)}
    m_old = {j: (f"P{j % 24}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(70)}
    p_new = dict(p_old)
    p_new.pop("P3")
    p_new["P4"] = "N1"
    p_new["P5"] = "N2"
    p_new["P24"] = "N0"
    p_new["P25"] = "N5"
    m_new = dict(m_old)
    m_new.pop(10)
    m_new[11] = ("P11", "SIG0", "DB0")
    m_new[29] = ("P5", "SIG8", "DB2")
    m_new[100] = ("P25", "SIG1", "DB1")
    m_new[101] = ("P3", "SIG2", "DB2")

    unified = unify(
        TAXON_HABITAT, _taxon_deltas(spark, p_old, p_new, m_old, m_new)
    )
    src = str(tmp_path / "changes")
    # three micro-batch files; rows of BOTH tables interleave in each
    split = F.coalesce(F.col("match_id") % 3, F.ascii(F.col("protein_acc")) % 3)
    for part in range(3):
        unified.filter(split == part).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "mart_state")
    n_buckets = 8
    seed_state(
        spark, TAXON_HABITAT, state, _taxon_old(spark, p_old, m_old),
        _taxon_dims(spark), n_buckets=n_buckets,
    )
    stream = (
        spark.readStream.schema(unified.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = maintain_stream(
        spark, TAXON_HABITAT, stream, state, _taxon_dims(spark),
        n_buckets=n_buckets, keep_last=2,
    )
    assert _mart_rows(out) == _mart_rows(_rebuild(spark, p_new, m_new))

    # the fact members resolve to the final snapshots
    import os

    latest = max(
        int(p[1:].split("_e")[0])
        for p in os.listdir(state + "/mart")
        if p.startswith("v")
    )
    facts = read_members(spark, state + "/cow", "__m", latest)
    got_p = sorted(map(tuple, facts["proteins"].collect()))
    assert got_p == sorted((k, v) for k, v in p_new.items())
    got_m = sorted(
        map(
            tuple,
            facts["matches"]
            .select("match_id", "protein_acc", "signature_acc", "database")
            .collect(),
        )
    )
    assert got_m == sorted((k, *v) for k, v in m_new.items())


def test_mart_stream_time_travel_renders_old_release(spark, tmp_path):
    """read_version: the maintained warehouse mart is
    readable AS OF any committed version — the seed version renders
    the OLD release's mart exactly (== full rebuild of the old
    snapshot), the latest renders the new one, an as-of-epoch read
    resolves to the newest version applied at or before that epoch,
    and an uncommitted version raises."""
    import pytest as _pytest

    p_old = {f"P{i}": f"N{i % 6}" for i in range(18)}
    m_old = {j: (f"P{j % 18}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(40)}
    p_new = dict(p_old)
    p_new.pop("P2")
    p_new["P30"] = "N4"
    m_new = dict(m_old)
    m_new[100] = ("P30", "SIG3", "DB0")
    m_new.pop(7)

    unified = unify(
        TAXON_HABITAT, _taxon_deltas(spark, p_old, p_new, m_old, m_new)
    )
    src = str(tmp_path / "chg")
    unified.coalesce(1).write.parquet(src)
    state = str(tmp_path / "tt_state")
    seed_state(
        spark, TAXON_HABITAT, state, _taxon_old(spark, p_old, m_old),
        _taxon_dims(spark), n_buckets=4,
    )
    stream = spark.readStream.schema(unified.schema).parquet(src)
    maintain_stream(
        spark, TAXON_HABITAT, stream, state, _taxon_dims(spark), n_buckets=4
    )

    def at(**pick):
        return _mart_rows(read_version(spark, TAXON_HABITAT, state, **pick))

    old_render = at(version=0)
    assert old_render == _mart_rows(_rebuild(spark, p_old, m_old))
    new_render = at()
    assert new_render == _mart_rows(_rebuild(spark, p_new, m_new))
    as_of = at(epoch=0)
    assert as_of == new_render  # epoch 0 applied the whole single batch
    # an epoch BEFORE the first applied batch resolves to the seed v0
    # (epoch None) — the seed release is a valid as-of answer
    pre = at(epoch=-1)
    assert pre == old_render
    with _pytest.raises(KeyError):
        read_version(spark, TAXON_HABITAT, state, version=99)


def test_entry_mart_ivm_single_epoch_equals_full_rebuild(spark):
    """Entry-pyramid maintenance (the reference's worst release cost):
    assignment changelog (integration moves protein between entries,
    inserts, deletes) + protein-dim changelog (taxon moves, protein
    delete) folded into the five entry supports; the render — with
    the EC coverage filter + stem fallback and GO lists applied to
    MAINTAINED counts — equals entry_xrefs_mart's full rebuild of the
    new snapshot."""
    from interpro7_dw_spark.domain.mart_ivm import (
        ENTRY_SUPPORT_KEYS,
        entry_mart_from_supports,
        maintain_entry_supports,
        seed_entry_supports,
    )
    from interpro7_dw_spark.domain.marts import entry_xrefs_mart

    def pe_df(d, with_id=True):
        rows = sorted((k, *v) for k, v in d.items())
        df = spark.createDataFrame(
            rows, "pe_id long, protein_acc string, entry_acc string"
        )
        return df if with_id else df.drop("pe_id")

    def pec(s):
        return s.createDataFrame(
            [
                (f"P{i}", "1.2.3.4" if i % 3 == 0 else ("1.2.3.9" if i % 3 == 1 else "5.5.5.5"))
                for i in range(40)
            ],
            "protein_acc string, ec string",
        )

    def ego(s):
        return s.createDataFrame(
            [(f"IPR{e}", f"GO:00{e}") for e in range(4)]
            + [(f"IPR{e}", f"GO:01{(e + 1) % 4}") for e in range(4)],
            "entry_acc string, go_id string",
        )

    p_old = {f"P{i}": f"N{i % 6}" for i in range(24)}
    pe_old = {j: (f"P{j % 24}", f"IPR{j % 4}") for j in range(60)}
    p_new = dict(p_old)
    p_new.pop("P3")                      # protein deleted (taxa retract only)
    p_new["P4"] = "N1"                   # taxon move
    p_new["P25"] = "N5"                  # protein insert
    pe_new = dict(pe_old)
    pe_new.pop(10)                       # assignment delete
    pe_new[11] = ("P11", "IPR0")         # entry move (integration change)
    pe_new[100] = ("P25", "IPR2")        # new protein's assignment
    pe_new[101] = ("P3", "IPR1")         # assignment to a DELETED protein
                                         # (still counts: n_proteins ignores taxa)

    sup0 = seed_entry_supports(
        pe_df(pe_old, with_id=False), _p_df(spark, p_old),
        _pp(spark), _ps(spark), pec(spark),
    )
    dpe = snapshot_delta_images(
        pe_df(pe_old), pe_df(pe_new), ["pe_id"], ["protein_acc", "entry_acc"]
    )
    dp = snapshot_delta_images(
        _p_df(spark, p_old), _p_df(spark, p_new), ["protein_acc"], ["tax_id"]
    )
    sup1 = maintain_entry_supports(
        sup0, dpe, dp, _p_df(spark, p_new), pe_df(pe_old, with_id=False),
        _pp(spark), _ps(spark), pec(spark),
    )
    got = {
        r.entry_acc: tuple(r)[1:]
        for r in entry_mart_from_supports(sup1, entry_go=ego(spark)).collect()
    }
    want = {
        r.entry_acc: tuple(r)[1:]
        for r in entry_xrefs_mart(
            pe_df(pe_new, with_id=False), _p_df(spark, p_new),
            _pp(spark), _ps(spark),
            protein_ecs=pec(spark), entry_go=ego(spark),
        ).collect()
    }
    assert got == want
    for name in ENTRY_SUPPORT_KEYS:
        assert sup1[name].filter(F.col("n") <= 0).count() == 0, name


def test_cow_support_io_tracks_touched_buckets(spark, tmp_path):
    """The r12 verdict's one scale finding, MEASURED: a facts-scale
    support in the COW bucket store must do per-epoch IO proportional
    to the delta's TOUCHED BUCKETS, never the support. Support 8000x
    the delta (64k rows over 64 buckets; an 8-protein delta touching
    <= 8 buckets): the epoch's total stage INPUT RECORDS must be a
    small fraction of |support|, the written version must carry only
    touched bucket partitions, and the resolved store must equal the
    unpruned full merge."""
    import os

    from interpro7_dw_spark.streaming.mart_habitat import count_merge_plan
    from interpro7_dw_spark.streaming.versions import (
        bucket,
        read_buckets,
        read_members,
        seed_buckets,
        tagged_union,
        version_name,
        write_buckets,
    )
    from interpro7_dw_spark.testing import max_job_id, stage_input_records_between

    n_buckets, n_support, n_delta = 64, 64_000, 8
    keys = ["tax_id", "database", "protein_acc"]
    sup_dir = str(tmp_path / "sup_cow_prot_db")
    support = spark.range(n_support).select(
        F.concat_ws("", F.lit("N"), F.col("id") % 50).alias("tax_id"),
        F.concat_ws("", F.lit("DB"), F.col("id") % 4).alias("database"),
        F.col("id").cast("string").alias("protein_acc"),
        F.lit(1).cast("long").alias("n"),
    )
    seed_buckets(
        sup_dir, tagged_union("__sup", {"sup": support}), "protein_acc",
        n_buckets, members={"sup": support.columns},
    )

    # 8 proteins: 7 increments + 1 exit-at-zero retraction
    delta = spark.createDataFrame(
        [(f"N{i % 50}", f"DB{i % 4}", str(i), 1 if i else -1) for i in range(n_delta)],
        "tax_id string, database string, protein_acc string, s long",
    )
    touched = {
        r[0]
        for r in delta.select(
            bucket(F.col("protein_acc"), n_buckets).alias("b")
        ).distinct().collect()
    }
    assert len(touched) <= n_delta

    j0 = max_job_id(spark)
    merged, _ = count_merge_plan(
        read_buckets(spark, sup_dir, 0, sorted(touched)), {"sup": delta},
        {"sup": keys}, "__sup",
    )
    write_buckets(
        spark, sup_dir, version_name(1, 0), merged, "protein_acc", n_buckets,
        sorted(touched),
    )
    j1 = max_job_id(spark)
    rec = stage_input_records_between(spark, j0, j1)
    # the full support is 64k records; the touched slice is ~1k per
    # bucket. Non-trivial (metrics actually reporting) AND far below
    # a full-support merge:
    assert rec > 0, "input metrics not reporting"
    assert rec < n_support // 4, (rec, sorted(touched))

    # the new version carries ONLY touched bucket partitions
    written = {
        int(p[4:])
        for p in os.listdir(f"{sup_dir}/v1_e0")
        if p.startswith("__b=")
    }
    assert written == touched, (written, touched)

    # correctness: resolved COW store == unpruned full merge
    resolved = read_members(spark, sup_dir, "__sup", 1)
    got = sorted(map(tuple, resolved["sup"].collect()))
    want = sorted(map(tuple, apply_count_delta(support, delta, keys).collect()))
    assert got == want


def test_entry_mart_stream_equals_batch_rebuild_and_replay(spark, tmp_path):
    """streaming/mart_stream.py entry habitat: assignment + protein
    changelogs drained over three micro-batches against COW-stored
    assignment/protein state; the rendered mart equals the full
    entry_xrefs_mart rebuild of the final snapshot, the COW support
    stores advance by touched buckets only, and a FULL REPLAY of the
    changelog (checkpoint loss — at-least-once redelivery of every
    epoch) is a no-op."""
    import os
    import shutil

    from interpro7_dw_spark.domain.marts import entry_xrefs_mart
    from interpro7_dw_spark.streaming.mart_stream import (
        maintain_entry_mart_stream,
        seed_entry_mart_state,
        unify_entry_changelogs,
    )

    def pe_df(d, with_id=True):
        rows = sorted((k, *v) for k, v in d.items())
        df = spark.createDataFrame(
            rows, "pe_id long, protein_acc string, entry_acc string"
        )
        return df if with_id else df.drop("pe_id")

    def pec(s):
        return s.createDataFrame(
            [
                (f"P{i}", "1.2.3.4" if i % 3 == 0 else ("1.2.3.9" if i % 3 == 1 else "5.5.5.5"))
                for i in range(40)
            ],
            "protein_acc string, ec string",
        )

    def ego(s):
        return s.createDataFrame(
            [(f"IPR{e}", f"GO:00{e}") for e in range(4)]
            + [(f"IPR{e}", f"GO:01{(e + 1) % 4}") for e in range(4)],
            "entry_acc string, go_id string",
        )

    p_old = {f"P{i}": f"N{i % 6}" for i in range(24)}
    pe_old = {j: (f"P{j % 24}", f"IPR{j % 4}") for j in range(60)}
    p_new = dict(p_old)
    p_new.pop("P3")
    p_new["P4"] = "N1"
    p_new["P25"] = "N5"
    pe_new = dict(pe_old)
    pe_new.pop(10)
    pe_new[11] = ("P11", "IPR0")
    pe_new[100] = ("P25", "IPR2")
    pe_new[101] = ("P3", "IPR1")

    dpe = snapshot_delta_images(
        pe_df(pe_old), pe_df(pe_new), ["pe_id"], ["protein_acc", "entry_acc"]
    )
    dp = snapshot_delta_images(
        _p_df(spark, p_old), _p_df(spark, p_new), ["protein_acc"], ["tax_id"]
    )
    unified = unify_entry_changelogs(dpe, dp)
    src = str(tmp_path / "changes")
    split = F.coalesce(F.col("pe_id") % 3, F.ascii(F.col("protein_acc")) % 3)
    for part in range(3):
        unified.filter(split == part).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "entry_state")
    seed_entry_mart_state(
        spark, _p_df(spark, p_old), pe_df(pe_old),
        _pp(spark), _ps(spark), pec(spark), state, n_buckets=8,
    )

    def drain():
        stream = (
            spark.readStream.schema(unified.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return maintain_entry_mart_stream(
            spark, stream, state, _pp(spark), _ps(spark), pec(spark),
            entry_go=ego(spark), n_buckets=8,
        )

    def rows(df):
        return {r.entry_acc: tuple(r)[1:] for r in df.collect()}

    got = rows(drain())
    want = rows(
        entry_xrefs_mart(
            pe_df(pe_new, with_id=False), _p_df(spark, p_new),
            _pp(spark), _ps(spark),
            protein_ecs=pec(spark), entry_go=ego(spark),
        )
    )
    assert got == want

    versions_before = sorted(os.listdir(state + "/mart"))
    # the store dir also carries the _schema.json artifact (+ local-FS
    # .crc sibling) beside the version directories
    cow_versions_before = sorted(
        v for v in os.listdir(state + "/cow")
        if v.startswith("v")
    )
    # checkpoint loss: every epoch is REDELIVERED — the epoch guard
    # must no-op each one (same version set, same rendered mart)
    shutil.rmtree(state + "_chk")
    got_replay = rows(drain())
    assert got_replay == got
    assert sorted(os.listdir(state + "/mart")) == versions_before
    assert sorted(
        v for v in os.listdir(state + "/cow")
        if v.startswith("v")
    ) == cow_versions_before

    # the union store advanced by TOUCHED buckets only: every post-seed
    # version carries fewer partitions than the bucket count (an epoch
    # whose micro-batch touched nothing legally writes ZERO
    # partitions), and at least one epoch actually advanced buckets
    post_seed_parts = []
    for v in cow_versions_before:
        if v == "v0":
            continue
        parts = [p for p in os.listdir(f"{state}/cow/{v}") if p.startswith("__b=")]
        assert len(parts) < 8, (v, parts)
        post_seed_parts += parts
    assert post_seed_parts


def test_apply_count_delta_with_transitions_maintains_next_level(spark):
    """The pyramid-completing primitive: one count merge emits the
    NEXT level's signed delta (enter=+1 / exit=-1 per member row), so
    a distinct count one level up maintains WITHOUT re-aggregating
    level 1. Enter, exit, and a no-transition count change in one
    epoch; maintained level 2 == recompute from the merged level 1."""
    from interpro7_dw_spark.domain.mart_ivm import (
        apply_count_delta_with_transitions,
    )

    l1 = spark.createDataFrame(
        [("a", "p1", 2), ("a", "p2", 1), ("b", "p3", 1)],
        "g string, member string, n long",
    )
    l2 = spark.createDataFrame([("a", 2), ("b", 1)], "g string, n long")
    delta = spark.createDataFrame(
        # p2 exits (1-1=0), p4 enters group a, p3 changes count (1->2,
        # no transition), p1 drops 2->1 (no transition)
        [("a", "p2", -1), ("a", "p4", 2), ("b", "p3", 1), ("a", "p1", -1)],
        "g string, member string, s long",
    )
    new_l1, trans = apply_count_delta_with_transitions(
        l1, delta, ["g", "member"], ["g"]
    )
    got_l1 = {(r.g, r.member): r.n for r in new_l1.collect()}
    assert got_l1 == {("a", "p1"): 1, ("a", "p4"): 2, ("b", "p3"): 2}
    got_t = sorted((r.g, r.s) for r in trans.collect())
    assert got_t == [("a", -1), ("a", 1)]
    new_l2 = {r.g: r.n for r in apply_count_delta(l2, trans, ["g"]).collect()}
    # == recompute: distinct members per group of the merged level 1
    want_l2 = {
        r.g: r.n
        for r in new_l1.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert new_l2 == want_l2 == {"a": 2, "b": 1}
    spark.catalog.clearCache()  # release the merge's owned persist


def test_mart_stream_empty_facts_scale_support(spark, tmp_path):
    """A release with ZERO matches seeds an EMPTY sup_prot_db — the
    COW store's partitioned write produces no data files, so the
    reader must serve the support's schema explicitly instead of
    failing. Seed renders, one protein-only micro-batch folds in, and
    both renders equal the full rebuild (empty db_json everywhere)."""
    p_old = {f"P{i}": f"N{i % 6}" for i in range(10)}
    m_empty: dict = {}
    p_new = dict(p_old)
    p_new["P11"] = "N2"
    p_new.pop("P3")

    state = str(tmp_path / "nofacts")
    seed_state(
        spark, TAXON_HABITAT, state, _taxon_old(spark, p_old, m_empty),
        _taxon_dims(spark), n_buckets=4,
    )
    seed_render = _mart_rows(
        read_version(spark, TAXON_HABITAT, state, version=0)
    )
    assert seed_render == _mart_rows(_rebuild(spark, p_old, m_empty))

    unified = unify(
        TAXON_HABITAT, _taxon_deltas(spark, p_old, p_new, m_empty, m_empty)
    )
    src = str(tmp_path / "chg")
    unified.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(unified.schema).parquet(src)
    out = maintain_stream(
        spark, TAXON_HABITAT, stream, state, _taxon_dims(spark), n_buckets=4
    )
    assert _mart_rows(out) == _mart_rows(_rebuild(spark, p_new, m_empty))


def test_apply_count_delta_pruned_with_transitions_equals_unpruned(spark):
    """The facts-scale merge discipline WITH the pyramid hook: the
    pruned transitions-emitting merge must produce (a) the same new
    support as the unpruned merge and (b) transitions that exactly
    maintain the level-2 distinct count — with the untouched slice
    passing through the anti-join branch, never the full-outer."""
    from interpro7_dw_spark.domain.mart_ivm import (
        apply_count_delta_pruned_with_transitions,
        apply_count_delta_with_transitions,
    )

    keys = ["g", "member"]
    l1 = spark.createDataFrame(
        [("a", "p1", 2), ("a", "p2", 1), ("b", "p3", 1), ("b", "p4", 5)],
        "g string, member string, n long",
    )
    # p2 exits (1-1=0), p9 enters, p1 changes count (no transition);
    # p3/p4 untouched (must pass through AND not transition)
    delta = spark.createDataFrame(
        [("a", "p2", -1), ("a", "p9", 1), ("a", "p1", 3)],
        "g string, member string, s long",
    )
    got_sup, got_tr = apply_count_delta_pruned_with_transitions(
        l1, delta, keys, "member", ["g"]
    )
    want_sup, want_tr = apply_count_delta_with_transitions(
        l1, delta, keys, ["g"]
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(got_sup) == key(want_sup)
    assert key(got_tr) == key(want_tr) == [("a", -1), ("a", 1)]


def test_taxon_mart_batch_epoch_on_cow_store(spark, tmp_path):
    """The one-shot BATCH maintainer pointed at the COW store (r13
    verdict item 3): maintain_batch folds a release changelog
    against seed_state's layout, renders equal to the
    full rebuild, and the facts-scale support's new version carries
    ONLY touched bucket partitions (the batch epoch read touched
    buckets once — no second full-support scan branch exists in a
    store-backed merge)."""
    import os

    p_old = {f"P{i}": f"N{i % 6}" for i in range(24)}
    m_old = {
        j: (f"P{j % 24}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(70)
    }
    p_new = dict(p_old)
    p_new.pop("P3")
    p_new["P4"] = "N1"
    p_new["P24"] = "N0"
    m_new = dict(m_old)
    m_new.pop(10)
    m_new[11] = ("P11", "SIG0", "DB0")
    m_new[100] = ("P24", "SIG1", "DB1")

    state = str(tmp_path / "batch_cow")
    n_buckets = 16
    seed_state(
        spark, TAXON_HABITAT, state, _taxon_old(spark, p_old, m_old),
        _taxon_dims(spark), n_buckets=n_buckets,
    )
    out = maintain_batch(
        spark, TAXON_HABITAT, state,
        _taxon_deltas(spark, p_old, p_new, m_old, m_new),
        _taxon_dims(spark), n_buckets=n_buckets,
    )
    assert _mart_rows(out) == _mart_rows(_rebuild(spark, p_new, m_new))

    # the union store advanced by touched buckets only
    v1 = [
        d for d in os.listdir(f"{state}/cow")
        if d.startswith("v1")
    ]
    assert len(v1) == 1
    parts = [
        p
        for p in os.listdir(f"{state}/cow/{v1[0]}")
        if p.startswith("__b=")
    ]
    assert 0 < len(parts) < n_buckets, parts

    # a second batch epoch composes (epoch counter advances past the
    # replay guard)
    out2 = maintain_batch(
        spark, TAXON_HABITAT, state,
        _taxon_deltas(spark, p_new, p_new, m_new, m_new),
        _taxon_dims(spark), n_buckets=n_buckets,
    )
    assert _mart_rows(out2) == _mart_rows(_rebuild(spark, p_new, m_new))


def test_mart_render_reads_only_aggregate_sized_supports(spark, tmp_path):
    """The r13 verdict's perf finding, closed and MEASURED at test
    scale: rendering the maintained taxon mart must NOT scan the
    facts-scale sup_prot_db — its per-(tax, db) distinct count comes
    from the maintained level-2 sup_db. With a support 100x the
    aggregate sizes, the render's total stage input records must stay
    far below |sup_prot_db|."""
    from interpro7_dw_spark.testing import max_job_id, stage_input_records_between

    # 4000 proteins x 1 match, 3-level lineage -> sup_prot_db ~= 12k
    # rows; sup_sig ~= |taxa x db x sig| and sup_db ~= |taxa x db|
    p = spark.range(4000).select(
        F.concat_ws("", F.lit("P"), F.col("id")).alias("protein_acc"),
        F.concat_ws("", F.lit("N"), F.col("id") % 6).alias("tax_id"),
    )
    m = spark.range(4000).select(
        F.col("id").alias("match_id"),
        F.concat_ws("", F.lit("P"), F.col("id")).alias("protein_acc"),
        F.concat_ws("", F.lit("SIG"), F.col("id") % 9).alias("signature_acc"),
        F.concat_ws("", F.lit("DB"), (F.col("id") % 9) % 3).alias("database"),
    )
    state = str(tmp_path / "render_io")
    seed_state(
        spark, TAXON_HABITAT, state, {"protein": p, "match": m},
        _taxon_dims(spark), n_buckets=8,
    )
    sup = read_supports(spark, TAXON_HABITAT.pyramid, state, "v0")
    n_facts = sup["sup_prot_db"].count()
    assert n_facts > 10_000  # the facts-scale support really is big

    j0 = max_job_id(spark)
    taxon_mart_from_supports(sup).collect()
    rec = stage_input_records_between(spark, j0, max_job_id(spark))
    assert rec > 0, "input metrics not reporting"
    assert rec < n_facts // 4, (rec, n_facts)


def test_clan_mart_ivm_multi_epoch_equals_full_rebuild(spark):
    """domain/mart_ivm2.py clan pyramid: three successive match
    changelogs (inserts, deletes, signature changes — including a
    signature LEAVING the matched set, which must retract its
    structures through the transition-driven join delta) fold
    forward; every epoch's render equals the full clan_xrefs_mart
    rebuild of that snapshot."""
    from interpro7_dw_spark.domain.mart_ivm2 import (
        clan_mart_from_supports,
        maintain_clan_supports,
        seed_clan_supports,
    )
    from interpro7_dw_spark.domain.marts import clan_xrefs_mart

    sc = spark.createDataFrame(
        [(f"SIG{i}", f"CL{i % 3}") for i in range(0, 9, 2)],
        "signature_acc string, clan_acc string",
    )
    prot = _p_df(spark, {f"P{i}": f"N{i % 6}" for i in range(30)})
    pp = _pp(spark)
    dom = spark.createDataFrame(
        [(f"P{i}", f"SIG{i % 9}", f"DOM{i % 4}") for i in range(0, 30, 2)],
        "protein_acc string, signature_acc string, dom_id string",
    )
    es = spark.createDataFrame(
        [(f"SIG{i}", f"PDB{(i * 7) % 5}") for i in range(9)]
        + [(f"SIG{i}", f"PDB{(i * 7 + 1) % 5}") for i in range(0, 9, 3)],
        "signature_acc string, pdb_id string",
    )

    def mart(m_d):
        return {
            r.clan_acc: tuple(r)[1:]
            for r in clan_xrefs_mart(
                _m_df(spark, m_d, with_id=False), sc, prot, pp, dom, es
            ).collect()
        }

    m_cur = {j: (f"P{j % 30}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(60)}
    sup = seed_clan_supports(
        _m_df(spark, m_cur, with_id=False), sc, prot, pp, dom, es
    )
    for e in range(3):
        m_nxt = dict(m_cur)
        m_nxt[200 + e] = (f"P{(e * 3) % 30}", f"SIG{(e * 2) % 9}", f"DB{((e * 2) % 9) % 3}")
        m_nxt.pop((e * 11) % 60, None)
        # retire EVERY match of one signature so it exits the clan's
        # matched set (structures must retract)
        gone_sig = f"SIG{e * 2 % 9}"
        for k in [k for k, v in m_nxt.items() if v[1] == gone_sig and k % 2 == 0]:
            m_nxt.pop(k)
        if (e * 7) % 60 in m_nxt:
            p_of = m_nxt[(e * 7) % 60][0]
            m_nxt[(e * 7) % 60] = (p_of, f"SIG{(e + 5) % 9}", f"DB{((e + 5) % 9) % 3}")
        dm = snapshot_delta_images(
            _m_df(spark, m_cur), _m_df(spark, m_nxt), ["match_id"],
            ["protein_acc", "signature_acc", "database"],
        )
        sup = maintain_clan_supports(sup, dm, sc, prot, pp, dom, es)
        got = {
            r.clan_acc: tuple(r)[1:]
            for r in clan_mart_from_supports(sup).collect()
        }
        assert got == mart(m_nxt), e
        m_cur = m_nxt


def test_proteome_mart_ivm_equals_full_rebuild(spark):
    """domain/mart_ivm2.py proteome pyramid: one epoch changing BOTH
    the protein->proteome assignment (insert/move/delete) and the
    matches (bilinear rule) renders equal to the full
    proteome_xrefs_mart rebuild of the new snapshot."""
    from interpro7_dw_spark.domain.mart_ivm2 import (
        maintain_proteome_supports,
        proteome_mart_from_supports,
        seed_proteome_supports,
    )
    from interpro7_dw_spark.domain.marts import proteome_xrefs_mart

    def pp_df(d):
        return spark.createDataFrame(
            sorted(d.items()), "protein_acc string, proteome_id string"
        )

    pp_old = {f"P{i}": f"UP{i % 4}" for i in range(0, 26, 2)}
    pp_new = dict(pp_old)
    pp_new["P1"] = "UP3"        # insert
    pp_new["P2"] = "UP1"        # move (from UP2)
    pp_new.pop("P4")            # delete
    m_old = {j: (f"P{j % 28}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(70)}
    m_new = dict(m_old)
    m_new.pop(7)
    m_new[100] = ("P2", "SIG8", "DB2")
    m_new[11] = ("P11", "SIG0", "DB0")

    sup = seed_proteome_supports(
        pp_df(pp_old), _m_df(spark, m_old, with_id=False), _ps(spark)
    )
    dpp = snapshot_delta_images(
        pp_df(pp_old), pp_df(pp_new), ["protein_acc"], ["proteome_id"]
    )
    dm = snapshot_delta_images(
        _m_df(spark, m_old), _m_df(spark, m_new), ["match_id"],
        ["protein_acc", "signature_acc", "database"],
    )
    sup = maintain_proteome_supports(
        sup, dpp, dm, pp_df(pp_new), _m_df(spark, m_old, with_id=False),
        _ps(spark),
    )
    got = {
        r.proteome_id: tuple(r)[1:]
        for r in proteome_mart_from_supports(sup).collect()
    }
    want = {
        r.proteome_id: tuple(r)[1:]
        for r in proteome_xrefs_mart(
            pp_df(pp_new), _m_df(spark, m_new, with_id=False), _ps(spark)
        ).collect()
    }
    assert got == want


_P_OLD = {f"P{i}": f"N{i % 6}" for i in range(20)}
_M_OLD = {
    j: (f"P{j % 20}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(50)
}


@pytest.fixture(scope="module")
def taxon_v0(spark, tmp_path_factory):
    """One seeded tiny taxon-mart state; tests copy it before changing
    it."""
    state = str(tmp_path_factory.mktemp("taxon_v0") / "state")
    seed_state(
        spark, TAXON_HABITAT, state, _taxon_old(spark, _P_OLD, _M_OLD),
        _taxon_dims(spark), n_buckets=8,
    )
    return state


def _taxon_epoch(spark, state):
    """One batch epoch against a state seeded like ``taxon_v0``: a
    protein insert and delete plus a match insert."""
    p_new = dict(_P_OLD)
    p_new["P21"] = "N3"
    p_new.pop("P2")
    m_new = dict(_M_OLD)
    m_new[90] = ("P21", "SIG4", "DB1")
    return maintain_batch(
        spark, TAXON_HABITAT, state,
        _taxon_deltas(spark, _P_OLD, p_new, _M_OLD, m_new),
        _taxon_dims(spark), n_buckets=8,
    )


def _committed(state):
    mart = os.path.join(state, "mart")
    return sorted(
        d for d in os.listdir(mart)
        if os.path.exists(os.path.join(mart, d, "_SUCCESS"))
    )


def _mart_artifact(state):
    with open(f"{state}/mart/v0/_schema.json") as f:
        return json.load(f)


def _drop_agg_name(state):
    doc = _mart_artifact(state)
    del doc["members"]["sup_sig"]
    with open(f"{state}/mart/v0/_schema.json", "w") as f:
        json.dump(doc, f)
    # the local Hadoop filesystem would reject the edit by checksum
    os.remove(f"{state}/mart/v0/._schema.json.crc")


def _remove_mart_file(state):
    os.remove(f"{state}/mart/v0/{_mart_artifact(state)['file']}")


def _empty_cow_store(state):
    cow_dir = f"{state}/cow"
    for part in os.listdir(f"{cow_dir}/v0"):
        if part.startswith("__b="):
            shutil.rmtree(f"{cow_dir}/v0/{part}")
    os.remove(f"{cow_dir}/_schema.json")


@pytest.mark.parametrize(
    "remove, read, error",
    [
        pytest.param(lambda s: shutil.rmtree(f"{s}/dims"), "epoch",
                     FileNotFoundError, id="dims"),
        pytest.param(_remove_mart_file, "supports", AnalysisException,
                     id="mart_file"),
        pytest.param(lambda s: os.remove(f"{s}/mart/v0/_schema.json"),
                     "supports", FileNotFoundError, id="agg"),
        pytest.param(_drop_agg_name, "supports", KeyError, id="agg_name"),
        pytest.param(_empty_cow_store, "supports", FileNotFoundError,
                     id="cow_schema"),
    ],
)
def test_missing_state_piece_raises(
    spark, taxon_v0, tmp_path, remove, read, error
):
    """The habitat reads one on-disk layout: a state missing any piece
    of it raises instead of serving that piece as empty (or
    re-deriving it), and an epoch that hits the gap commits no new
    version."""
    state = str(tmp_path / "state")
    shutil.copytree(taxon_v0, state)
    remove(state)
    with pytest.raises(error):
        if read == "epoch":
            _taxon_epoch(spark, state)
        else:
            read_supports(spark, TAXON_HABITAT.pyramid, state, "v0")
    assert _committed(state) == ["v0"]


def test_epoch_releases_merge_persists_when_planning_fails(
    spark, taxon_v0, tmp_path, monkeypatch
):
    """A failure while the epoch still builds its support plans, after
    the union-store read and a merge plan have persisted, fails the
    epoch without a commit and releases every cached plan it took."""
    from interpro7_dw_spark.streaming import mart_habitat

    state = str(tmp_path / "state")
    shutil.copytree(taxon_v0, state)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    persisted = []
    plan = mart_habitat.count_merge_plan

    def failing_plan(*args, **kwargs):
        plan(*args, **kwargs)
        persisted.append(cache.numCachedEntries() - before)
        raise RuntimeError("planning failed")

    monkeypatch.setattr(mart_habitat, "count_merge_plan", failing_plan)
    with pytest.raises(RuntimeError, match="planning failed"):
        _taxon_epoch(spark, state)
    # the store read and the transitions-emitting merge
    assert persisted and persisted[0] >= 2
    assert _committed(state) == ["v0"]
    assert cache.numCachedEntries() == before


def test_cow_apply_images_touched_validation(spark, tmp_path):
    """versions.VALIDATE_TOUCHED (r14 ADVICE): a caller-supplied
    touched list that is NOT exactly the change-type-filtered
    discovery raises instead of silently serving stale buckets."""
    import pytest as _pytest

    from interpro7_dw_spark.streaming import versions

    facts_dir = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(i, str(i), i * 10) for i in range(32)],
        "k long, g string, v long",
    )
    versions.seed_buckets(facts_dir, base, "g", 8)
    batch = spark.createDataFrame(
        [(1, "update", "1", 10, "1", 99), (2, "delete", "2", 20, None, None)],
        "k long, change_type string, old_g string, old_v long,"
        " new_g string, new_v long",
    )
    right = sorted(
        r[0]
        for r in batch.select(versions.bucket(F.col("old_g"), 8).alias("b"))
        .distinct()
        .collect()
    )
    versions.VALIDATE_TOUCHED = True
    try:
        # exact set passes
        versions.cow_apply_images(
            spark, facts_dir, batch, "g", ["k"], 8, 0, 1, 0, touched=right
        )
        # a subset (stale-serving hazard) raises loudly
        with _pytest.raises(ValueError, match="touched buckets"):
            versions.cow_apply_images(
                spark, facts_dir, batch, "g", ["k"], 8, 1, 2, 1,
                touched=right[:1] if len(right) > 1 else [],
            )
    finally:
        versions.VALIDATE_TOUCHED = False


def _clan_fixtures(spark):
    sc = spark.createDataFrame(
        [(f"SIG{i}", f"CL{i % 3}") for i in range(0, 9, 2)],
        "signature_acc string, clan_acc string",
    )
    prot = _p_df(spark, {f"P{i}": f"N{i % 6}" for i in range(30)})
    dom = spark.createDataFrame(
        [(f"P{i}", f"SIG{i % 9}", f"DOM{i % 4}") for i in range(0, 30, 2)],
        "protein_acc string, signature_acc string, dom_id string",
    )
    es = spark.createDataFrame(
        [(f"SIG{i}", f"PDB{(i * 7) % 5}") for i in range(9)]
        + [(f"SIG{i}", f"PDB{(i * 7 + 1) % 5}") for i in range(0, 9, 3)],
        "signature_acc string, pdb_id string",
    )
    return sc, prot, _pp(spark), dom, es


def _entry_seed_inputs(spark):
    pe = spark.createDataFrame(
        [(j, f"P{j % 20}", f"IPR{j % 4}") for j in range(30)],
        "pe_id long, protein_acc string, entry_acc string",
    )
    pec = spark.createDataFrame(
        [(f"P{i}", "1.2.3.4") for i in range(0, 20, 2)],
        "protein_acc string, ec string",
    )
    return (
        {"assign": pe, "protein": _p_df(spark, _P_OLD)},
        {"pp": _pp(spark), "ps": _ps(spark), "pec": pec},
    )


def _clan_seed_inputs(spark):
    sc, prot, pp, dom, es = _clan_fixtures(spark)
    return (
        {"match": _m_df(spark, _M_OLD)},
        {"sc": sc, "prot": prot, "pp": pp, "dom": dom, "entry_structures": es},
    )


def _structure_seed_inputs(spark):
    sc, prot, pp, dom, _es = _clan_fixtures(spark)
    pm = spark.createDataFrame(
        [(j, f"PDB{j % 5}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(40)],
        "pm_id long, pdb_id string, signature_acc string, database string",
    )
    return (
        {"pmatch": pm, "plink": _ps(spark)},
        {
            "sc": sc, "prot": prot, "pp": pp,
            "pdm": dom.select("protein_acc", "dom_id").distinct(),
        },
    )


@pytest.mark.parametrize(
    "habitat, seed_inputs",
    [
        pytest.param(
            TAXON_HABITAT,
            lambda s: (_taxon_old(s, _P_OLD, _M_OLD), _taxon_dims(s)),
            id="taxon",
        ),
        pytest.param(ENTRY_HABITAT, _entry_seed_inputs, id="entry"),
        pytest.param(CLAN_HABITAT, _clan_seed_inputs, id="clan"),
        pytest.param(
            PROTEOME_HABITAT,
            lambda s: (
                {"assign": _pp(s), "match": _m_df(s, _M_OLD)}, {"ps": _ps(s)}
            ),
            id="proteome",
        ),
        pytest.param(STRUCT_HABITAT, _structure_seed_inputs, id="structure"),
    ],
)
def test_habitat_definition_is_consistent(spark, habitat, seed_inputs):
    """Each maintained mart's MartHabitat is its one definition, so
    every name it cross-references must resolve: sup_touch names
    bucketed supports and declared arms, fact stores and rescans
    name declared arms and stores, pruned dims name declared arms.
    Its ``seed`` callable, reading only the declared arms and dims,
    plans exactly the pyramid's supports with their declared key
    columns (plan only — no Spark action)."""
    from interpro7_dw_spark.caching import engine_cache_scope

    pyramid = habitat.pyramid
    tags = {src.tag for src in habitat.sources}
    stores = {st.name for st in habitat.stores}
    # the union support store is rewritten in one write over every
    # member's touched set, bucketed by one column
    assert set(habitat.sup_touch) == set(pyramid.bucketed)
    assert len(set(pyramid.bucketed.values())) == 1
    for sup, arms in habitat.sup_touch.items():
        assert sup in pyramid.bucketed, sup
        assert set(arms) <= tags, (sup, arms)
    assert {st.src for st in habitat.stores} <= tags
    for r in habitat.rescans:
        assert r.store in stores and r.prune_src in tags, r
    assert {d.prune_src for d in habitat.dims} - {None} <= tags

    old, dims = seed_inputs(spark)
    assert set(old) == tags
    # the fact members share the union store, so they bucket by its column
    for st in habitat.stores:
        assert next(iter(pyramid.bucketed.values())) in old[st.src].columns, st
    assert set(dims) == {d.name for d in habitat.dims}
    with engine_cache_scope():
        sup = habitat.seed(old, dims)
        assert sorted(sup) == sorted(pyramid.support_names)
        for name, df in sup.items():
            assert set(df.columns) == {*pyramid.support_keys[name], "n"}, name


def test_entry_union_support_store_superset_rewrite(spark, tmp_path):
    """The entry mart's fact relations and facts-scale supports share
    ONE union store, rewritten in ONE write over the union of every
    arm's touched set. A protein-arm change (a taxon move) touches a
    bucket no assignment change touches: sup_etp's delta and the
    proteins member need that bucket, sup_ep and the assignments member
    do not, so their rows there are rewritten unchanged (identical at
    v0 and v1) and the rendered mart equals the full rebuild."""
    from interpro7_dw_spark.domain.marts import entry_xrefs_mart
    from interpro7_dw_spark.streaming.versions import bucket, read_members

    n_buckets = 8
    accs = [f"P{i}" for i in range(24)]
    b_of = {
        r.p: r.b
        for r in spark.createDataFrame([(a,) for a in accs], "p string")
        .select("p", bucket(F.col("p"), n_buckets).alias("b"))
        .collect()
    }
    moved = "P1"
    p_old = {a: f"N{i % 6}" for i, a in enumerate(accs)}
    p_new = dict(p_old)
    p_new[moved] = "N5"
    pe_old = {j: (accs[j % 24], f"IPR{j % 4}") for j in range(48)}
    pe_new = dict(pe_old)
    outside = [a for a in accs if b_of[a] != b_of[moved]]
    pe_new[100] = (outside[0], "IPR2")
    pe_new.pop(next(j for j, (p, _e) in pe_old.items() if p in outside))

    def pe_df(d, with_id=True):
        df = spark.createDataFrame(
            sorted((k, *v) for k, v in d.items()),
            "pe_id long, protein_acc string, entry_acc string",
        )
        return df if with_id else df.drop("pe_id")

    pec = spark.createDataFrame(
        [(a, "1.2.3.4") for a in accs[::2]], "protein_acc string, ec string"
    )
    dims = {"pp": _pp(spark), "ps": _ps(spark), "pec": pec}
    state = str(tmp_path / "entry_union")
    seed_state(
        spark, ENTRY_HABITAT, state,
        {"assign": pe_df(pe_old), "protein": _p_df(spark, p_old)}, dims,
        n_buckets=n_buckets,
    )
    out = maintain_batch(
        spark, ENTRY_HABITAT, state,
        {
            "assign": snapshot_delta_images(
                pe_df(pe_old), pe_df(pe_new), ["pe_id"],
                ["protein_acc", "entry_acc"],
            ),
            "protein": snapshot_delta_images(
                _p_df(spark, p_old), _p_df(spark, p_new), ["protein_acc"],
                ["tax_id"],
            ),
        },
        dims, n_buckets=n_buckets,
    )

    def rows(df):
        return {r.entry_acc: tuple(r)[1:] for r in df.collect()}

    assert rows(out) == rows(
        entry_xrefs_mart(
            pe_df(pe_new, with_id=False), _p_df(spark, p_new),
            _pp(spark), _ps(spark), protein_ecs=pec,
        )
    )
    assert os.path.isdir(f"{state}/cow/v1_e0/__b={b_of[moved]}")

    def in_bucket(member, ver):
        df = read_members(spark, f"{state}/cow", "__m", ver, [b_of[moved]])
        return sorted(map(tuple, df[member].collect()))

    for member in ("sup_ep", "assignments"):
        assert in_bucket(member, 0), member
        assert in_bucket(member, 1) == in_bucket(member, 0), member
    assert in_bucket("proteins", 1) != in_bucket("proteins", 0)


def test_clan_mart_habitat_stream_equals_batch_equals_rebuild(spark, tmp_path):
    """The clan mart's COW habitat (r14 verdict item 1): the SAME
    match changelog folded (a) storeless, (b) as one batch-on-COW
    epoch, and (c) as a 3-micro-batch stream all render equal to the
    full clan_xrefs_mart rebuild; the facts-scale sup_c_prot store
    advances by touched buckets only; a full replay no-ops."""
    import os
    import shutil as _sh

    from interpro7_dw_spark.domain.marts import clan_xrefs_mart

    sc, prot, pp, dom, es = _clan_fixtures(spark)
    dims = {"sc": sc, "prot": prot, "pp": pp, "dom": dom, "entry_structures": es}
    m_old = {j: (f"P{j % 30}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(60)}
    m_new = dict(m_old)
    m_new[200] = ("P3", "SIG2", "DB2")      # insert
    m_new.pop(11, None)                      # delete
    # retire every even match of SIG4 (structure retraction path)
    for k in [k for k, v in m_new.items() if v[1] == "SIG4" and k % 2 == 0]:
        m_new.pop(k)
    m_new[14] = (m_new[14][0], "SIG7", "DB1")  # signature change

    def rebuild(m_d):
        return {
            r.clan_acc: tuple(r)[1:]
            for r in clan_xrefs_mart(
                _m_df(spark, m_d, with_id=False), sc, prot, pp, dom, es
            ).collect()
        }

    dm = snapshot_delta_images(
        _m_df(spark, m_old), _m_df(spark, m_new), ["match_id"],
        ["protein_acc", "signature_acc", "database"],
    )
    n_buckets = 8

    # (b) batch-on-COW
    state_b = str(tmp_path / "clan_batch")
    seed_state(
        spark, CLAN_HABITAT, state_b, {"match": _m_df(spark, m_old)}, dims,
        n_buckets=n_buckets,
    )
    out_b = maintain_batch(
        spark, CLAN_HABITAT, state_b, {"match": dm}, dims, n_buckets=n_buckets
    )
    got_b = {r.clan_acc: tuple(r)[1:] for r in out_b.collect()}
    assert got_b == rebuild(m_new)
    # the union store advanced by touched buckets only
    v1 = [d for d in os.listdir(f"{state_b}/cow") if d.startswith("v1")]
    assert len(v1) == 1
    parts = [
        p for p in os.listdir(f"{state_b}/cow/{v1[0]}")
        if p.startswith("__b=")
    ]
    assert 0 < len(parts) < n_buckets, parts
    # no fact member exists (the clan mart is linear — nothing rescans)
    with open(f"{state_b}/cow/_schema.json") as f:
        assert list(json.load(f)["members"]) == ["sup_c_prot"]

    # (c) stream over 3 micro-batches + full replay
    state_s = str(tmp_path / "clan_stream")
    root = str(tmp_path / "clan_changes")
    unified = unify(CLAN_HABITAT, {"match": dm})
    for part in range(3):
        unified.filter(F.col("match_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(root)
    seed_state(
        spark, CLAN_HABITAT, state_s, {"match": _m_df(spark, m_old)}, dims,
        n_buckets=n_buckets,
    )

    def drain():
        stream = (
            spark.readStream.schema(unified.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )
        return maintain_stream(
            spark, CLAN_HABITAT, stream, state_s, dims, n_buckets=n_buckets
        )

    out_s = drain()
    got_s = {r.clan_acc: tuple(r)[1:] for r in out_s.collect()}
    assert got_s == rebuild(m_new)

    # checkpoint loss -> full redelivery of every epoch is a no-op
    versions_before = sorted(os.listdir(f"{state_s}/mart"))
    _sh.rmtree(state_s + "_chk")
    out_r = drain()
    got_r = {r.clan_acc: tuple(r)[1:] for r in out_r.collect()}
    assert got_r == rebuild(m_new)
    assert sorted(os.listdir(f"{state_s}/mart")) == versions_before


def test_proteome_mart_habitat_stream_and_batch(spark, tmp_path):
    """The proteome mart's COW habitat: BOTH changelogs (assignment +
    matches, the bilinear pair) interleaved in one discriminated
    stream over 3 micro-batches == one batch-on-COW epoch == the full
    proteome_xrefs_mart rebuild; the union store of both fact members
    and the facts-scale sup_p_prot_db advances by touched buckets
    only."""
    import os

    from interpro7_dw_spark.domain.marts import proteome_xrefs_mart

    def pp_df(d):
        return spark.createDataFrame(
            sorted(d.items()), "protein_acc string, proteome_id string"
        )

    pp_old = {f"P{i}": f"UP{i % 4}" for i in range(0, 26, 2)}
    pp_new = dict(pp_old)
    pp_new["P1"] = "UP3"
    pp_new["P2"] = "UP1"
    pp_new.pop("P4")
    m_old = {j: (f"P{j % 28}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(70)}
    m_new = dict(m_old)
    m_new.pop(7)
    m_new[100] = ("P2", "SIG8", "DB2")
    m_new[11] = ("P11", "SIG0", "DB0")

    def rebuild():
        return {
            r.proteome_id: tuple(r)[1:]
            for r in proteome_xrefs_mart(
                pp_df(pp_new), _m_df(spark, m_new, with_id=False), _ps(spark)
            ).collect()
        }

    dpp = snapshot_delta_images(
        pp_df(pp_old), pp_df(pp_new), ["protein_acc"], ["proteome_id"]
    )
    dm = snapshot_delta_images(
        _m_df(spark, m_old), _m_df(spark, m_new), ["match_id"],
        ["protein_acc", "signature_acc", "database"],
    )
    n_buckets = 8
    old = {"assign": pp_df(pp_old), "match": _m_df(spark, m_old)}
    dims = {"ps": _ps(spark)}

    state_b = str(tmp_path / "prtm_batch")
    seed_state(spark, PROTEOME_HABITAT, state_b, old, dims, n_buckets=n_buckets)
    out_b = maintain_batch(
        spark, PROTEOME_HABITAT, state_b, {"assign": dpp, "match": dm}, dims,
        n_buckets=n_buckets,
    )
    got_b = {r.proteome_id: tuple(r)[1:] for r in out_b.collect()}
    assert got_b == rebuild()
    v1 = [d for d in os.listdir(f"{state_b}/cow") if d.startswith("v1")]
    assert len(v1) == 1
    parts = [
        p for p in os.listdir(f"{state_b}/cow/{v1[0]}")
        if p.startswith("__b=")
    ]
    assert 0 < len(parts) < n_buckets, parts

    state_s = str(tmp_path / "prtm_stream")
    root = str(tmp_path / "prtm_changes")
    unified = unify(PROTEOME_HABITAT, {"assign": dpp, "match": dm})
    split = F.coalesce(F.col("match_id") % 3, F.ascii(F.col("protein_acc")) % 3)
    for part in range(3):
        unified.filter(split == part).coalesce(1).write.mode("append").parquet(root)
    seed_state(spark, PROTEOME_HABITAT, state_s, old, dims, n_buckets=n_buckets)
    stream = (
        spark.readStream.schema(unified.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    out_s = maintain_stream(
        spark, PROTEOME_HABITAT, stream, state_s, dims, n_buckets=n_buckets
    )
    got_s = {r.proteome_id: tuple(r)[1:] for r in out_s.collect()}
    assert got_s == rebuild()


def test_structure_mart_habitat_stream_and_batch(spark, tmp_path):
    """The structure mart's COW habitat: the two INDEPENDENT
    changelog arms (pdb-match rows, not protein-keyed; composite-pair
    protein links) interleave in one stream == one batch-on-COW epoch
    == the full structure_xrefs_mart rebuild; the facts-scale
    sup_s_prot store advances by the LINK arm's touched buckets."""
    import os

    from interpro7_dw_spark.domain.marts import structure_xrefs_mart

    sc, prot, pp, dom, _es = _clan_fixtures(spark)
    pdm = dom.select("protein_acc", "dom_id").distinct()
    dims = {"sc": sc, "prot": prot, "pp": pp, "pdm": pdm}

    def pm_df(d, with_id=True):
        rows = sorted((k, *v) for k, v in d.items())
        df = spark.createDataFrame(
            rows, "pm_id long, pdb_id string, signature_acc string, database string"
        )
        return df if with_id else df.drop("pm_id")

    def ps_df(pairs):
        return spark.createDataFrame(
            sorted(pairs), "protein_acc string, pdb_id string"
        )

    pm_old = {j: (f"PDB{j % 5}", f"SIG{j % 9}", f"DB{(j % 9) % 3}") for j in range(40)}
    pm_new = dict(pm_old)
    pm_new[100] = ("PDB1", "SIG8", "DB2")
    pm_new.pop(3)
    pm_new[5] = ("PDB0", "SIG6", "DB0")
    ps_old = {(f"P{i}", f"PDB{i % 5}") for i in range(0, 30, 3)}
    ps_new = set(ps_old)
    ps_new.add(("P4", "PDB2"))
    ps_new.discard(("P9", "PDB4"))

    def rebuild():
        return {
            r.pdb_id: tuple(r)[1:]
            for r in structure_xrefs_mart(
                pm_df(pm_new, with_id=False), sc, ps_df(ps_new), prot, pp, pdm
            ).collect()
        }

    dpm = snapshot_delta_images(
        pm_df(pm_old), pm_df(pm_new), ["pm_id"],
        ["pdb_id", "signature_acc", "database"],
    )
    dps = snapshot_delta_images(
        ps_df(ps_old), ps_df(ps_new), ["protein_acc", "pdb_id"], ["pdb_id"]
    )
    n_buckets = 8
    old = {"pmatch": pm_df(pm_old), "plink": ps_df(ps_old)}

    state_b = str(tmp_path / "str_batch")
    seed_state(spark, STRUCT_HABITAT, state_b, old, dims, n_buckets=n_buckets)
    out_b = maintain_batch(
        spark, STRUCT_HABITAT, state_b, {"pmatch": dpm, "plink": dps}, dims,
        n_buckets=n_buckets,
    )
    got_b = {r.pdb_id: tuple(r)[1:] for r in out_b.collect()}
    assert got_b == rebuild()
    v1 = [d for d in os.listdir(f"{state_b}/cow") if d.startswith("v1")]
    assert len(v1) == 1
    parts = [
        p for p in os.listdir(f"{state_b}/cow/{v1[0]}")
        if p.startswith("__b=")
    ]
    assert 0 < len(parts) < n_buckets, parts

    state_s = str(tmp_path / "str_stream")
    root = str(tmp_path / "str_changes")
    unified = unify(STRUCT_HABITAT, {"pmatch": dpm, "plink": dps})
    split = F.coalesce(F.col("pm_id") % 3, F.ascii(F.col("protein_acc")) % 3)
    for part in range(3):
        unified.filter(split == part).coalesce(1).write.mode("append").parquet(root)
    seed_state(spark, STRUCT_HABITAT, state_s, old, dims, n_buckets=n_buckets)
    stream = (
        spark.readStream.schema(unified.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    out_s = maintain_stream(
        spark, STRUCT_HABITAT, stream, state_s, dims, n_buckets=n_buckets
    )
    got_s = {r.pdb_id: tuple(r)[1:] for r in out_s.collect()}
    assert got_s == rebuild()


def test_cow_apply_count_delta_superset_touched_equals_discovered(
    spark, tmp_path
):
    """r15 optimization: the habitat derives the union store's
    touched-bucket list from the one-job changelog discovery instead of
    collecting it from the (expensive) support-delta plan. The derived
    list is a SUPERSET of the delta's actual buckets — this pins the
    extra buckets' identical rows to the new version, which must be
    value-identical to the merge over the delta's exact buckets,
    including the extra buckets' pass-through rows and an extra bucket
    with no support rows at all."""
    import os

    from interpro7_dw_spark.streaming.mart_habitat import count_merge_plan
    from interpro7_dw_spark.streaming.versions import (
        bucket,
        read_buckets,
        seed_buckets,
        tagged_union,
        version_name,
        write_buckets,
    )

    n_buckets = 8
    keys = ["tax_id", "protein_acc"]
    support = spark.createDataFrame(
        [(f"N{i % 3}", f"P{i}", 1) for i in range(40)],
        "tax_id string, protein_acc string, n long",
    )
    delta = spark.createDataFrame(
        [("N0", "P0", 1), ("N1", "P1", -1)],
        "tax_id string, protein_acc string, s long",
    )
    exact = sorted(
        r[0]
        for r in delta.select(
            bucket(F.col("protein_acc"), n_buckets).alias("b")
        ).distinct().collect()
    )
    superset = sorted(set(exact) | {b for b in range(n_buckets)})
    assert set(superset) > set(exact)

    want_dir = str(tmp_path / "sup_discovered")
    got_dir = str(tmp_path / "sup_superset")
    for d in (want_dir, got_dir):
        seed_buckets(
            d, tagged_union("__sup", {"sup": support}), "protein_acc",
            n_buckets, members={"sup": support.columns},
        )

    # the delta's exact buckets vs a caller-derived superset
    for d, touched in ((want_dir, exact), (got_dir, superset)):
        merged, _ = count_merge_plan(
            read_buckets(spark, d, 0, touched), {"sup": delta}, {"sup": keys},
            "__sup",
        )
        write_buckets(
            spark, d, version_name(1, 0), merged, "protein_acc", n_buckets,
            touched,
        )

    def resolved(d):
        df = read_buckets(spark, d, 1)
        return sorted(map(tuple, df.collect()))

    assert resolved(got_dir) == resolved(want_dir)
    # the superset version carries exactly the superset's partitions
    # (extra buckets rewritten with identical rows / explicit-empty)
    written = {
        int(p[4:])
        for p in os.listdir(f"{got_dir}/v1_e0")
        if p.startswith("__b=")
    }
    assert written == set(superset), (written, superset)


def _nulls_first(row):
    return tuple((v is not None, v) for v in row)


def test_union_count_merge_scans_store_once(spark, tmp_path):
    """A union count store merges as ONE relation: the executed plan of
    the merged rows holds exactly one file scan of the store, however
    many members it has. Rows and transitions equal a per-member merge
    of the same touched buckets, including a member whose key column
    holds NULLs and a member whose touched rows all exit."""
    from interpro7_dw_spark.caching import engine_cache_scope
    from interpro7_dw_spark.domain.mart_ivm import (
        apply_count_delta_with_transitions,
    )
    from interpro7_dw_spark.streaming.mart_habitat import count_merge_plan
    from interpro7_dw_spark.streaming.versions import (
        bucket,
        read_buckets,
        read_members,
        seed_buckets,
        tagged_union,
    )

    n_buckets = 8
    keys = {
        "sup_t": ["tax_id", "protein_acc"],
        "sup_e": ["entry_acc", "protein_acc"],
        "sup_c": ["ec", "protein_acc"],
    }
    roll_keys = {"sup_t": ["tax_id"], "sup_c": ["ec"]}
    sup = {
        # every third protein has no taxon: a NULL in a member key
        "sup_t": spark.createDataFrame(
            [(None if i % 3 == 0 else f"N{i % 4}", f"P{i}", 1 + i % 2)
             for i in range(24)],
            "tax_id string, protein_acc string, n long",
        ),
        "sup_e": spark.createDataFrame(
            [(f"IPR{i % 5}", f"P{i}", 1) for i in range(24)],
            "entry_acc string, protein_acc string, n long",
        ),
        "sup_c": spark.createDataFrame(
            [("1.1.1.1", f"P{i}", 2) for i in range(0, 24, 6)],
            "ec string, protein_acc string, n long",
        ),
    }
    deltas = {
        "sup_t": spark.createDataFrame(
            [(None, "P0", -1), (None, "P3", 1), ("N1", "P1", -2),
             ("N2", "P30", 1)],
            "tax_id string, protein_acc string, s long",
        ),
        "sup_e": spark.createDataFrame(
            [("IPR1", "P1", 1), ("IPR9", "P7", 1)],
            "entry_acc string, protein_acc string, s long",
        ),
        # every sup_c row leaves
        "sup_c": spark.createDataFrame(
            [("1.1.1.1", f"P{i}", -2) for i in range(0, 24, 6)],
            "ec string, protein_acc string, s long",
        ),
    }
    sup_dir = str(tmp_path / "sup_cow")
    seed_buckets(
        sup_dir, tagged_union("__sup", sup), "protein_acc", n_buckets,
        members={n: df.columns for n, df in sup.items()},
    )
    touched = sorted(
        {
            r[0]
            for d in deltas.values()
            for r in d.select(bucket(F.col("protein_acc"), n_buckets)).collect()
        }
    )

    with engine_cache_scope():
        rows, trans = count_merge_plan(
            read_buckets(spark, sup_dir, 0, touched), deltas, keys, "__sup",
            roll_keys=roll_keys,
        )
        # the physical plan before execution: once run, AQE prints both
        # its final and its initial plan, each scan twice
        plan = rows._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        got_rows = rows.collect()
        got_trans = {n: t.collect() for n, t in trans.items()}
    assert sorted(trans) == sorted(roll_keys)

    cur = read_members(spark, sup_dir, "__sup", 0, touched)
    for name, k in keys.items():
        with engine_cache_scope():
            want_rows, want_trans = apply_count_delta_with_transitions(
                cur[name], deltas[name], k, roll_keys.get(name, k)
            )
            mine = [
                tuple(r[c] for c in [*k, "n"])
                for r in got_rows if r["__sup"] == name
            ]
            assert sorted(mine, key=_nulls_first) == sorted(
                map(tuple, want_rows.collect()), key=_nulls_first
            ), name
            if name in roll_keys:
                assert sorted(map(tuple, got_trans[name]), key=_nulls_first) == (
                    sorted(map(tuple, want_trans.collect()), key=_nulls_first)
                ), name
    # the all-exit member leaves no rows and one exit per touched row
    assert not [r for r in got_rows if r["__sup"] == "sup_c"]
    assert sorted(tuple(r) for r in got_trans["sup_c"]) == [("1.1.1.1", -1)] * 4
    # a NULL-keyed row merged null-safely: P0's entry left, P3's count grew
    t_rows = {(r["tax_id"], r["protein_acc"]): r["n"]
              for r in got_rows if r["__sup"] == "sup_t"}
    assert (None, "P0") not in t_rows and t_rows[(None, "P3")] == 3


def test_state_files_are_sorted_zstd(spark, tmp_path):
    """Every file of a seeded habitat state advanced by one epoch is
    zstd parquet whose rows are sorted by its columns in schema order,
    and the committed version's supports read back with their recorded
    schemas without running a Spark job."""
    import glob

    import pyarrow.parquet as pq

    from interpro7_dw_spark.testing import max_job_id

    sc, prot, pp, dom, es = _clan_fixtures(spark)
    dims = {"sc": sc, "prot": prot, "pp": pp, "dom": dom, "entry_structures": es}
    m_new = dict(_M_OLD)
    m_new[200] = ("P3", "SIG2", "DB2")
    m_new.pop(11)
    m_new[14] = (m_new[14][0], "SIG7", "DB1")
    state = str(tmp_path / "state")
    seed_state(
        spark, CLAN_HABITAT, state, {"match": _m_df(spark, _M_OLD)}, dims,
        n_buckets=8,
    )
    maintain_batch(
        spark, CLAN_HABITAT, state,
        {
            "match": snapshot_delta_images(
                _m_df(spark, _M_OLD), _m_df(spark, m_new), ["match_id"],
                ["protein_acc", "signature_acc", "database"],
            )
        },
        dims, n_buckets=8,
    )

    files = glob.glob(f"{state}/**/*.parquet", recursive=True)
    assert any("/cow/v1_e0/__b=" in f for f in files)
    assert any("/mart/v1_e0/part-" in f for f in files)
    written = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            for c in range(group.num_columns):
                assert group.column(c).compression == "ZSTD", f
        rows = list(zip(*pq.read_table(f).to_pydict().values()))
        assert rows == sorted(rows, key=_nulls_first), f
        written += len(rows)
    assert written

    j0 = max_job_id(spark)
    sup = read_supports(spark, CLAN_HABITAT.pyramid, state, "v1_e0")
    assert max_job_id(spark) == j0
    assert sorted(sup) == sorted(CLAN_HABITAT.pyramid.support_names)


def _entry_release(spark):
    """A small entry-mart release in which every protein has a taxon,
    assignments and an EC, so every bucket holds every member of the
    union store, and the changelog between it and the next release (a
    taxon move, a protein delete, an assignment insert and delete).
    Returns ``(old, dims, deltas, rebuild)``: the seed snapshots, the
    dims, the changelogs keyed by arm, and the full rebuild of the
    new release (``old=True``: of the old one)."""
    from interpro7_dw_spark.domain.marts import entry_xrefs_mart

    accs = [f"P{i}" for i in range(24)]

    def pe_df(d, with_id=True):
        df = spark.createDataFrame(
            sorted((k, *v) for k, v in d.items()),
            "pe_id long, protein_acc string, entry_acc string",
        )
        return df if with_id else df.drop("pe_id")

    p_old = {a: f"N{i % 6}" for i, a in enumerate(accs)}
    p_new = dict(p_old)
    p_new["P1"] = "N5"
    p_new.pop("P2")
    pe_old = {j: (accs[j % 24], f"IPR{j % 4}") for j in range(48)}
    pe_new = dict(pe_old)
    pe_new[100] = ("P7", "IPR2")
    pe_new.pop(5)
    dims = {
        "pp": _pp(spark),
        "ps": _ps(spark),
        "pec": spark.createDataFrame(
            [(a, f"1.2.3.{i % 2}") for i, a in enumerate(accs)],
            "protein_acc string, ec string",
        ),
    }
    deltas = {
        "assign": snapshot_delta_images(
            pe_df(pe_old), pe_df(pe_new), ["pe_id"], ["protein_acc", "entry_acc"]
        ),
        "protein": snapshot_delta_images(
            _p_df(spark, p_old), _p_df(spark, p_new), ["protein_acc"], ["tax_id"]
        ),
    }

    def rebuild(old=False):
        pe, p = (pe_old, p_old) if old else (pe_new, p_new)
        return {
            r.entry_acc: tuple(r)[1:]
            for r in entry_xrefs_mart(
                pe_df(pe, with_id=False), _p_df(spark, p), dims["pp"],
                dims["ps"], protein_ecs=dims["pec"],
            ).collect()
        }

    old = {"assign": pe_df(pe_old), "protein": _p_df(spark, p_old)}
    return old, dims, deltas, rebuild


def _entry_rows(df):
    return {r.entry_acc: tuple(r)[1:] for r in df.collect()}


def _executed_file_scans(spark, first_execution, path):
    """The file scans of ``path`` that ran in the SQL executions after
    ``first_execution``: one id per scan node that read files, however
    many plans share it through a cache."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    scans = set()
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= first_execution:
            continue
        values = {}
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = str(kv._2())
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().startswith("Scan parquet") or path not in node.desc():
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                acc = int(metrics.apply(m).accumulatorId())
                if metrics.apply(m).name() == "number of files read" and (
                    int(values.get(acc, "0") or 0) > 0
                ):
                    scans.add(acc)
    return scans


def _last_execution(spark):
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max(
        [int(execs.apply(i).executionId()) for i in range(execs.size())],
        default=-1,
    )


def test_entry_epoch_writes_one_store_and_one_mart_file(spark, tmp_path, monkeypatch):
    """The entry habitat (fact members, dims and rollups), seed plus one
    batch epoch: the epoch writes exactly one union-store version and
    one mart file, every rewritten bucket file carries every member's
    rows, the executed epoch plans scan the store's previous version
    once, and the render equals the full rebuild. With
    VALIDATE_TOUCHED on, the union store's rewritten buckets — a
    superset of each fact member's own — pass."""
    import glob

    import pyarrow.parquet as pq

    from interpro7_dw_spark.streaming import versions

    monkeypatch.setattr(versions, "VALIDATE_TOUCHED", True)
    old, dims, deltas, rebuild = _entry_release(spark)
    state = str(tmp_path / "state")
    seed_state(spark, ENTRY_HABITAT, state, old, dims, n_buckets=8)
    seeded = set(glob.glob(f"{state}/**", recursive=True))
    # scan nodes name every path they read (the default cuts it at 100)
    length = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        e0 = _last_execution(spark)
        out = maintain_batch(spark, ENTRY_HABITAT, state, deltas, dims, n_buckets=8)
        scans = _executed_file_scans(spark, e0, f"{state}/cow/v0/")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", length)
    assert len(scans) == 1, scans
    assert _entry_rows(out) == rebuild()

    written = set(glob.glob(f"{state}/**", recursive=True)) - seeded
    assert written
    assert all(
        p.startswith((f"{state}/cow/v1_e0", f"{state}/mart/v1_e0")) for p in written
    ), sorted(written)
    assert versions.data_files(spark, f"{state}/mart/v1_e0") == [
        versions.read_schema(spark, f"{state}/mart/v1_e0")["file"]
    ]
    members = set(versions.read_schema(spark, f"{state}/cow")["members"])
    assert members == {"proteins", "assignments", "sup_ep", "sup_etp", "sup_eep"}
    bucket_files = glob.glob(f"{state}/cow/v1_e0/__b=*/*.parquet")
    assert 0 < len(bucket_files) < 8
    for f in bucket_files:
        assert set(pq.read_table(f, columns=["__m"])["__m"].to_pylist()) == members, f


def test_union_store_rejects_a_subset_of_touched_buckets(
    spark, taxon_v0, tmp_path, monkeypatch
):
    """With VALIDATE_TOUCHED on, an epoch whose rewritten buckets miss
    one a member's changelog images or support delta touch raises
    before any write and commits nothing; the true discovered sets
    then pass."""
    from interpro7_dw_spark.streaming import mart_habitat, versions

    state = str(tmp_path / "state")
    shutil.copytree(taxon_v0, state)
    monkeypatch.setattr(versions, "VALIDATE_TOUCHED", True)
    discover = mart_habitat.discover_touched

    def missing_one(batch, habitat, n_buckets):
        found = discover(batch, habitat, n_buckets)
        gone = max(b for bs in found.values() for b in bs)
        return {t: [b for b in bs if b != gone] for t, bs in found.items()}

    monkeypatch.setattr(mart_habitat, "discover_touched", missing_one)
    with pytest.raises(ValueError, match="not a superset"):
        _taxon_epoch(spark, state)
    assert _committed(state) == ["v0"]
    assert sorted(os.listdir(f"{state}/cow")) == ["._schema.json.crc", "_schema.json", "v0"]

    monkeypatch.setattr(mart_habitat, "discover_touched", discover)
    p_new = dict(_P_OLD)
    p_new["P21"] = "N3"
    p_new.pop("P2")
    m_new = dict(_M_OLD)
    m_new[90] = ("P21", "SIG4", "DB1")
    assert _mart_rows(_taxon_epoch(spark, state)) == _mart_rows(
        _rebuild(spark, p_new, m_new)
    )


def test_entry_stream_crash_between_the_two_writes(spark, tmp_path, monkeypatch):
    """A crash inside the mart-file write, after the epoch's union-store
    version is written, leaves a version no reader resolves; restarting
    the drain on the same state and checkpoint replaces the half-written
    version, commits every epoch and ends equal to the full rebuild."""
    from interpro7_dw_spark.streaming import mart_habitat, versions

    old, dims, deltas, rebuild = _entry_release(spark)
    unified = unify(ENTRY_HABITAT, deltas)
    src = str(tmp_path / "changes")
    split = F.coalesce(F.col("pe_id") % 2, F.ascii(F.col("protein_acc")) % 2)
    for part in range(2):
        unified.filter(split == part).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    seed_state(spark, ENTRY_HABITAT, state, old, dims, n_buckets=8)

    def drain():
        stream = (
            spark.readStream.schema(unified.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return maintain_stream(spark, ENTRY_HABITAT, stream, state, dims, n_buckets=8)

    def crash(*_args, **_kwargs):
        raise RuntimeError("crashed before the mart artifact")

    monkeypatch.setattr(mart_habitat, "write_schema", crash)
    with pytest.raises(Exception, match="crashed before the mart artifact"):
        drain()
    half = f"{state}/mart/v1_e0"
    assert versions.data_files(spark, half)
    assert not os.path.exists(f"{half}/_SUCCESS")
    assert os.path.exists(f"{state}/cow/v1_e0/_SUCCESS")
    assert versions.latest_committed(spark, f"{state}/mart").name == "v0"
    assert _entry_rows(read_version(spark, ENTRY_HABITAT, state)) == rebuild(old=True)
    with pytest.raises(KeyError):
        read_version(spark, ENTRY_HABITAT, state, version=1)

    monkeypatch.setattr(mart_habitat, "write_schema", versions.write_schema)
    assert _entry_rows(drain()) == rebuild()
    mart_versions = versions.list_versions(spark, f"{state}/mart")
    assert [v.name for v in mart_versions] == ["v0", "v1_e0", "v2_e1"]
    assert all(v.committed for v in mart_versions)
    assert [v.name for v in versions.list_versions(spark, f"{state}/cow")] == [
        "v0", "v1_e0", "v2_e1"
    ]
    # the replayed epoch replaced the half-written file, not added to it
    assert versions.data_files(spark, half) == [
        versions.read_schema(spark, half)["file"]
    ]
