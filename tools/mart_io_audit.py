"""Measured per-epoch IO of the facts-scale mart-IVM supports — the
r12 verdict's one scale finding, answered with numbers.

A facts-scale count support (``sup_prot_db`` ≈ proteins × lineage ×
dbs; the entry pyramid's ``sup_ep``/``sup_etp``/``sup_eep`` ≈ the
assignment table) must not be reshuffled or rewritten whole per
epoch. Two mechanisms fix it and this audit measures both:

1. **COW bucket store** (``streaming/mart_habitat.py::
   cow_apply_count_delta``): the support lives bucketed by protein;
   one epoch reads + rewrites only the delta-touched buckets. The
   measured per-epoch ``input_records`` must track
   |touched buckets| × rows-per-bucket, not |support|.
2. **Pruned plan-level merge** (``domain/mart_ivm.py::
   apply_count_delta_pruned``, the one-shot batch maintainer's half):
   the scan is still |support| (no store to prune), but the untouched
   rows pass through behind a broadcast anti-join — the measured
   ``shuffle_write_records`` must be delta-sized, vs |support| for
   the r12 unpruned full-outer merge.

Prints one JSON line per scenario; paste the table into PERF.md.

Usage:
    python tools/mart_io_audit.py [n_support] [n_buckets]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    from pyspark.sql import functions as F

    from interpro7_dw_spark.domain.mart_ivm import (
        apply_count_delta,
        apply_count_delta_pruned,
    )
    from interpro7_dw_spark.session import get_spark
    from interpro7_dw_spark.streaming.mart_habitat import cow_apply_count_delta
    from interpro7_dw_spark.streaming.minmax_stream import _bucket
    from interpro7_dw_spark.testing import max_job_id, stage_metrics_between

    n_support = int(sys.argv[1]) if len(sys.argv) > 1 else 256_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = get_spark("mart_io_audit")
    keys = ["tax_id", "database", "protein_acc"]

    def support_df():
        return spark.range(n_support).select(
            F.concat_ws("", F.lit("N"), F.col("id") % 50).alias("tax_id"),
            F.concat_ws("", F.lit("DB"), F.col("id") % 4).alias("database"),
            F.col("id").cast("string").alias("protein_acc"),
            F.lit(1).cast("long").alias("n"),
        )

    def delta_for(n_rows: int):
        return spark.createDataFrame(
            [(f"N{i % 50}", f"DB{i % 4}", str(i), 1) for i in range(n_rows)],
            "tax_id string, database string, protein_acc string, s long",
        )

    tmp = tempfile.mkdtemp(prefix="mart_io_audit_")
    sup_dir = f"{tmp}/sup"
    support_df().withColumn(
        "__b", _bucket(F.col("protein_acc"), n_buckets)
    ).write.partitionBy("__b").parquet(f"{sup_dir}/v0")

    def emit(path: str, n_rows: int, touched, j0: int, t0: float, note: str = ""):
        m = stage_metrics_between(spark, j0, max_job_id(spark))
        print(json.dumps({
            "path": path,
            "support_rows": n_support,
            "delta_rows": n_rows,
            "touched_buckets": touched,
            "n_buckets": n_buckets,
            "input_records": m["input_records"],
            "shuffle_write_records": m["shuffle_write_records"],
            "wall_s": round(time.time() - t0, 2),
            **({"note": note} if note else {}),
        }))

    # COW store: per-epoch IO must track touched buckets
    ver = 0
    for n_rows in (1, 64, 1024):
        d = delta_for(n_rows)
        touched = (
            d.select(_bucket(F.col("protein_acc"), n_buckets).alias("b"))
            .distinct()
            .count()
        )
        j0, t0 = max_job_id(spark), time.time()
        cow_apply_count_delta(
            spark, sup_dir, d, keys, "protein_acc", n_buckets,
            ver, ver + 1, ver + 1,
        )
        ver += 1
        emit("cow_touched_buckets", n_rows, touched, j0, t0)
        spark.catalog.clearCache()

    # plan-level baselines on the UNSTORED support (one-shot batch
    # maintainer shape): r12's unpruned full-outer merge vs the r13
    # pruned merge — same scan, delta-sized vs support-sized shuffle
    base = spark.read.parquet(f"{sup_dir}/v0").drop("__b")
    d = delta_for(64)
    j0, t0 = max_job_id(spark), time.time()
    apply_count_delta(base, d, keys).write.mode("overwrite").parquet(
        f"{tmp}/full_merge"
    )
    emit("unpruned_merge_r12", 64, None, j0, t0,
         note="full-outer merge shuffles the whole support")
    j0, t0 = max_job_id(spark), time.time()
    apply_count_delta_pruned(base, d, keys, "protein_acc").write.mode(
        "overwrite"
    ).parquet(f"{tmp}/pruned_merge")
    emit("pruned_merge_r13", 64, None, j0, t0,
         note="scan is |support| (no store), shuffle is delta-sized")

    # r14: the WHOLE maintained-mart story measured end to end on the
    # real habitat — seed a full taxon-mart COW state whose
    # sup_prot_db is facts-scale, then (a) one BATCH epoch against
    # the COW store (verdict item 3: touched buckets read ONCE, no
    # 2x|support| scan), and (b) the RENDER (verdict item 1: input
    # records track the aggregate-sized + level-2 supports, never
    # sup_prot_db)
    from interpro7_dw_spark.streaming.mart_habitat import (
        maintain_batch,
        seed_state,
    )
    from interpro7_dw_spark.streaming.mart_stream import TAXON_HABITAT

    n_prot = max(n_support // 3, 3_000)  # ~3 ancestors per protein
    proteins = spark.range(n_prot).select(
        F.col("id").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("N"), F.col("id") % 50).alias("tax_id"),
    )
    matches = spark.range(n_prot).select(
        F.col("id").alias("match_id"),
        F.col("id").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("SIG"), F.col("id") % 40).alias("signature_acc"),
        F.concat_ws("", F.lit("DB"), F.col("id") % 4).alias("database"),
    )
    pp = spark.range(n_prot // 2).select(
        (F.col("id") * 2).cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("UP"), F.col("id") % 30).alias("proteome_id"),
    )
    ps = spark.range(n_prot // 3).select(
        (F.col("id") * 3).cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("PDB"), F.col("id") % 25).alias("pdb_id"),
    )
    anc = spark.range(50).select(
        F.concat_ws("", F.lit("N"), F.col("id")).alias("tax_id"),
        F.explode(
            F.array(
                F.concat_ws("", F.lit("N"), F.col("id")),
                F.concat_ws("", F.lit("R"), F.col("id") % 5),
                F.lit("ROOT"),
            )
        ).alias("ancestor"),
    )
    state = f"{tmp}/mart_state"
    dims = {"pp": pp, "ps": ps, "anc": anc}
    seed_state(
        spark, TAXON_HABITAT, state, {"protein": proteins, "match": matches},
        dims, n_buckets=n_buckets,
    )
    facts_rows = spark.read.parquet(f"{state}/sup_cow/sup_prot_db/v0").count()
    spark.catalog.clearCache()

    # (a) one batch epoch: an 8-protein changelog (taxon moves + one
    # match signature change)
    dp = spark.createDataFrame(
        [(str(i), "update", f"N{i % 50}", f"N{(i + 1) % 50}") for i in range(8)],
        "protein_acc string, change_type string, old_tax_id string, new_tax_id string",
    )
    dm = spark.createDataFrame(
        [(3, "update", "3", "SIG3", "DB3", "3", "SIG7", "DB3")],
        "match_id long, change_type string, old_protein_acc string,"
        " old_signature_acc string, old_database string,"
        " new_protein_acc string, new_signature_acc string,"
        " new_database string",
    )
    j0, t0 = max_job_id(spark), time.time()
    rendered = maintain_batch(
        spark, TAXON_HABITAT, state, {"protein": dp, "match": dm}, dims,
        n_buckets=n_buckets,
    )
    emit("batch_epoch_on_cow_r14", 9, None, j0, t0,
         note=f"whole epoch incl. dims; sup_prot_db store rows={facts_rows}")

    # (b) the render alone, from the committed state
    spark.catalog.clearCache()
    j0, t0 = max_job_id(spark), time.time()
    rendered.collect()
    emit("mart_render_r14", 0, None, j0, t0,
         note=f"render input must track level-2, not sup_prot_db={facts_rows}")

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
