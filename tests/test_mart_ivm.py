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
    taxon_xrefs_mart rebuild of the final snapshot, and both COW
    stores resolve to the final snapshots."""
    from interpro7_dw_spark.streaming.minmax_stream import (
        _bucket_sources,
        _read_sources,
    )

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

    # the COW stores resolve to the final snapshots
    import os

    latest = max(
        int(p[1:].split("_e")[0])
        for p in os.listdir(state + "/mart")
        if p.startswith("v")
    )
    got_p = sorted(
        map(
            tuple,
            _read_sources(
                spark, state + "/proteins",
                _bucket_sources(spark, state + "/proteins", latest),
            ).collect(),
        )
    )
    assert got_p == sorted((k, v) for k, v in p_new.items())
    got_m = sorted(
        map(
            tuple,
            _read_sources(
                spark, state + "/matches",
                _bucket_sources(spark, state + "/matches", latest),
            )
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

    from interpro7_dw_spark.streaming.mart_habitat import cow_apply_count_delta
    from interpro7_dw_spark.streaming.minmax_stream import (
        _bucket,
        _bucket_sources,
        _read_sources,
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
    support.withColumn(
        "__b", _bucket(F.col("protein_acc"), n_buckets)
    ).write.partitionBy("__b").parquet(f"{sup_dir}/v0")

    # 8 proteins: 7 increments + 1 exit-at-zero retraction
    delta = spark.createDataFrame(
        [(f"N{i % 50}", f"DB{i % 4}", str(i), 1 if i else -1) for i in range(n_delta)],
        "tax_id string, database string, protein_acc string, s long",
    )
    touched = {
        r[0]
        for r in delta.select(
            _bucket(F.col("protein_acc"), n_buckets).alias("b")
        ).distinct().collect()
    }
    assert len(touched) <= n_delta

    j0 = max_job_id(spark)
    cow_apply_count_delta(
        spark, sup_dir, delta, keys, "protein_acc", n_buckets, 0, 1, 0
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
    resolved = _read_sources(
        spark, sup_dir, _bucket_sources(spark, sup_dir, 1)
    )
    got = sorted(map(tuple, resolved.collect()))
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
    sup_versions_before = sorted(
        v for v in os.listdir(state + "/sup_cow/sup_etp")
        if v.startswith("v")
    )
    # checkpoint loss: every epoch is REDELIVERED — the epoch guard
    # must no-op each one (same version set, same rendered mart)
    shutil.rmtree(state + "_chk")
    got_replay = rows(drain())
    assert got_replay == got
    assert sorted(os.listdir(state + "/mart")) == versions_before
    assert sorted(
        v for v in os.listdir(state + "/sup_cow/sup_etp")
        if v.startswith("v")
    ) == sup_versions_before

    # the COW support stores advanced by TOUCHED buckets only: every
    # post-seed version of sup_etp carries fewer partitions than the
    # bucket count (an epoch whose micro-batch produced no sup_etp
    # delta legally writes ZERO partitions), and at least one epoch
    # actually advanced buckets
    post_seed_parts = []
    for v in sup_versions_before:
        if v == "v0":
            continue
        parts = [p for p in os.listdir(f"{state}/sup_cow/sup_etp/{v}") if p.startswith("__b=")]
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

    # the COW support advanced by touched buckets only
    v1 = [
        d for d in os.listdir(f"{state}/sup_cow/sup_prot_db")
        if d.startswith("v1")
    ]
    assert len(v1) == 1
    parts = [
        p
        for p in os.listdir(f"{state}/sup_cow/sup_prot_db/{v1[0]}")
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


def _drop_agg_name(state):
    art = f"{state}/mart/v0/agg/_schema.json"
    with open(art) as f:
        doc = json.load(f)
    doc["supports"].remove("sup_sig")
    with open(art, "w") as f:
        json.dump(doc, f)
    # the local Hadoop filesystem would reject the edit by checksum
    os.remove(f"{state}/mart/v0/agg/._schema.json.crc")


def _empty_cow_store(state):
    sup_dir = f"{state}/sup_cow/sup_prot_db"
    for part in os.listdir(f"{sup_dir}/v0"):
        if part.startswith("__b="):
            shutil.rmtree(f"{sup_dir}/v0/{part}")
    os.remove(f"{sup_dir}/_schema.json")


@pytest.mark.parametrize(
    "remove, read, error",
    [
        pytest.param(lambda s: shutil.rmtree(f"{s}/dims"), "epoch",
                     FileNotFoundError, id="dims"),
        pytest.param(lambda s: shutil.rmtree(f"{s}/mart/v0/sup_db"),
                     "supports", AnalysisException, id="sup_db"),
        pytest.param(lambda s: shutil.rmtree(f"{s}/mart/v0/agg"),
                     "supports", FileNotFoundError, id="agg"),
        pytest.param(_drop_agg_name, "supports", KeyError, id="agg_name"),
        pytest.param(_empty_cow_store, "supports", FileNotFoundError,
                     id="sup_cow_schema"),
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
    a COW merge plan has persisted, fails the epoch without a commit
    and releases every cached plan it took."""
    from interpro7_dw_spark.streaming import mart_habitat

    state = str(tmp_path / "state")
    shutil.copytree(taxon_v0, state)
    persisted = []
    plan = mart_habitat.cow_count_merge_plan

    def failing_plan(*args, **kwargs):
        plan(*args, **kwargs)
        persisted.extend(kwargs["persist_into"])
        raise RuntimeError("planning failed")

    monkeypatch.setattr(mart_habitat, "cow_count_merge_plan", failing_plan)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with pytest.raises(RuntimeError, match="planning failed"):
        _taxon_epoch(spark, state)
    assert persisted
    assert _committed(state) == ["v0"]
    assert cache.numCachedEntries() == before


def test_cow_apply_images_touched_validation(spark, tmp_path):
    """minmax_stream.VALIDATE_TOUCHED (r14 ADVICE): a caller-supplied
    touched list that is NOT exactly the change-type-filtered
    discovery raises instead of silently serving stale buckets."""
    import pytest as _pytest

    from interpro7_dw_spark.streaming import minmax_stream as mm

    facts_dir = str(tmp_path / "facts")
    base = spark.createDataFrame(
        [(i, str(i), i * 10) for i in range(32)],
        "k long, g string, v long",
    )
    base.withColumn(
        "__b", mm._bucket(F.col("g"), 8)
    ).write.partitionBy("__b").parquet(f"{facts_dir}/v0")
    batch = spark.createDataFrame(
        [(1, "update", "1", 10, "1", 99), (2, "delete", "2", 20, None, None)],
        "k long, change_type string, old_g string, old_v long,"
        " new_g string, new_v long",
    )
    right = sorted(
        r[0]
        for r in batch.select(mm._bucket(F.col("old_g"), 8).alias("b"))
        .distinct()
        .collect()
    )
    mm.VALIDATE_TOUCHED = True
    try:
        # exact set passes
        mm.cow_apply_images(
            spark, facts_dir, batch, "g", ["k"], 8, 0, 1, 0, touched=right
        )
        # a subset (stale-serving hazard) raises loudly
        with _pytest.raises(ValueError, match="touched buckets"):
            mm.cow_apply_images(
                spark, facts_dir, batch, "g", ["k"], 8, 1, 2, 1,
                touched=right[:1] if len(right) > 1 else [],
            )
    finally:
        mm.VALIDATE_TOUCHED = False


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
    for sup, arms in habitat.sup_touch.items():
        assert sup in pyramid.bucketed, sup
        assert set(arms) <= tags, (sup, arms)
    assert {st.src for st in habitat.stores} <= tags
    for r in habitat.rescans:
        assert r.store in stores and r.prune_src in tags, r
    assert {d.prune_src for d in habitat.dims} - {None} <= tags

    old, dims = seed_inputs(spark)
    assert set(old) == tags
    assert set(dims) == {d.name for d in habitat.dims}
    with engine_cache_scope():
        sup = habitat.seed(old, dims)
        assert sorted(sup) == sorted(pyramid.support_names)
        for name, df in sup.items():
            assert set(df.columns) == {*pyramid.support_keys[name], "n"}, name


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
    # COW support advanced by touched buckets only
    v1 = [d for d in os.listdir(f"{state_b}/sup_cow/sup_c_prot") if d.startswith("v1")]
    assert len(v1) == 1
    parts = [
        p for p in os.listdir(f"{state_b}/sup_cow/sup_c_prot/{v1[0]}")
        if p.startswith("__b=")
    ]
    assert 0 < len(parts) < n_buckets, parts
    # no fact store exists (the clan mart is linear — nothing rescans)
    assert not os.path.exists(f"{state_b}/matches")

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
    proteome_xrefs_mart rebuild; both fact stores and the facts-scale
    sup_p_prot_db store advance by touched buckets only."""
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
    for store in ("assignments", "matches", "sup_cow/sup_p_prot_db"):
        v1 = [d for d in os.listdir(f"{state_b}/{store}") if d.startswith("v1")]
        assert len(v1) == 1, store
        parts = [
            p for p in os.listdir(f"{state_b}/{store}/{v1[0]}")
            if p.startswith("__b=")
        ]
        assert 0 < len(parts) < n_buckets, (store, parts)

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
    v1 = [d for d in os.listdir(f"{state_b}/sup_cow/sup_s_prot") if d.startswith("v1")]
    assert len(v1) == 1
    parts = [
        p for p in os.listdir(f"{state_b}/sup_cow/sup_s_prot/{v1[0]}")
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
    """r15 optimization: the habitat derives each bucketed support's
    touched-bucket list from the one-job changelog discovery instead of
    collecting it from the (expensive) support-delta plan. The derived
    list is a SUPERSET of the delta's actual buckets — this pins the
    extra buckets' identical rows to the new version, which must be
    value-identical to the collect-discovered merge, including the
    extra buckets' pass-through rows and an extra bucket with no
    support rows at all."""
    import os

    from interpro7_dw_spark.streaming.mart_habitat import (
        cow_apply_count_delta,
    )
    from interpro7_dw_spark.streaming.minmax_stream import (
        _bucket,
        _bucket_sources,
        _read_sources,
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
            _bucket(F.col("protein_acc"), n_buckets).alias("b")
        ).distinct().collect()
    )
    superset = sorted(set(exact) | {b for b in range(n_buckets)})
    assert set(superset) > set(exact)

    want_dir = str(tmp_path / "sup_discovered")
    got_dir = str(tmp_path / "sup_superset")
    for d in (want_dir, got_dir):
        support.withColumn(
            "__b", _bucket(F.col("protein_acc"), n_buckets)
        ).write.partitionBy("__b").parquet(f"{d}/v0")

    # collect-discovery path (touched=None) vs caller-derived superset
    cow_apply_count_delta(
        spark, want_dir, delta, keys, "protein_acc", n_buckets, 0, 1, 0
    )
    cow_apply_count_delta(
        spark, got_dir, delta, keys, "protein_acc", n_buckets, 0, 1, 0,
        touched=superset,
    )

    def resolved(d):
        df = _read_sources(spark, d, _bucket_sources(spark, d, 1))
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
