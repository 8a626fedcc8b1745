"""Seeded workload inputs.

Both generators are pure functions of their arguments: the same seed
writes the same bytes, so two runs of one seed read identical inputs.

- ``write_driver_tables``: the star-schema tables the catalog specs read
  (``customer``, ``orders``, ``nation``), with the column names, types
  and value ranges of the driver's synthetic tables. The seed draws every
  non-key column, so each seed is a different release changelog of the
  same size.
- ``relabel_proteins``: rewrites the warehouse fixtures written by
  ``interpro7_dw_spark.fixtures.write_warehouse_fixtures`` so that a
  seeded permutation decides which protein accession carries which
  match/structure/proteome pattern.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25


def write_driver_tables(out_dir: str, seed: int, n_customers: int, n_orders: int) -> None:
    """Write ``<out_dir>/{nation,customer,orders}.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    nk = np.arange(N_NATIONS, dtype=np.int32)
    nation = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": nk % 5,
    })
    ck = np.arange(n_customers, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, N_NATIONS, n_customers, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_customers)],
    })
    days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, len(STATUSES), n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(
            np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_orders)],
    })
    for name, table in (("nation", nation), ("customer", customer), ("orders", orders)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def protein_permutation(seed: int, n_proteins: int) -> dict[str, str]:
    """Fixture accession -> accession that carries its pattern under ``seed``."""
    perm = np.random.default_rng(seed).permutation(n_proteins) + 1
    return {f"P{i:05d}": f"P{int(p):05d}" for i, p in enumerate(perm, start=1)}


def relabel_proteins(fixtures_dir: str, mapping: dict[str, str]) -> None:
    """Apply ``mapping`` to the ``protein_acc`` column of every fixture
    table, in place. Spark's checksum side files are removed with the
    file they describe, so Spark reads the rewritten bytes unverified."""
    for table in sorted(os.listdir(fixtures_dir)):
        tdir = os.path.join(fixtures_dir, table)
        for name in sorted(os.listdir(tdir)):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(tdir, name)
            data = pq.read_table(path)
            if "protein_acc" not in data.column_names:
                continue
            accs = pa.array(
                [mapping.get(v, v) for v in data.column("protein_acc").to_pylist()],
                pa.string(),
            )
            idx = data.column_names.index("protein_acc")
            pq.write_table(data.set_column(idx, data.schema.field(idx), accs), path)
            crc = os.path.join(tdir, f".{name}.crc")
            if os.path.exists(crc):
                os.remove(crc)
