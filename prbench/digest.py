"""Label-invariant digest of a warehouse output tree.

The build workload feeds ``build_warehouse`` fixtures whose protein
accessions are permuted by the seed, so the raw output bytes differ from
seed to seed. This digest undoes the permutation and forgets every order
the accession labels decide, which makes it a constant of the fixture
size: every seed must reproduce the digest recorded in ``run.py``.

Per output directory (hive ``key=value`` partition levels folded away,
since hash partitions follow the labels) the digest is the sorted
multiset of its records: parquet rows, and the lines of text, JSON and
gzip files. In each record every protein accession is mapped back to
its fixture label, replaced by a placeholder, and the sorted list of
mapped accessions is appended; floats are rounded to 9 digits, because
summation order follows partitioning.

Outputs of the other warehouse steps are not label-invariant this way:
``ida_documents`` picks the representative protein by accession order,
``mart_structure`` and ``ebisearch`` list proteins in accession order,
and ``lookup_matches`` stores an accession hash ``__h``.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re

import pyarrow.parquet as pq

ACC = re.compile(r"(?<![A-Za-z0-9])P\d{5}(?![0-9])")


def _plain(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def _canonical(record: str, inverse: dict[str, str]) -> str:
    accs = sorted(inverse.get(a, a) for a in ACC.findall(record))
    return ACC.sub("P#", record) + "|" + ",".join(accs)


def _records(path: str):
    if path.endswith(".parquet"):
        for row in pq.read_table(path).to_pylist():
            yield json.dumps(_plain(row), sort_keys=True, default=str)
        return
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as fh:
        yield from fh.read().splitlines()


def _group(rel_dir: str) -> str:
    return "/".join(p for p in rel_dir.split(os.sep) if "=" not in p)


def output_digest(out_dir: str, inverse: dict[str, str]) -> tuple[str, int]:
    """(hex digest, record count) of the data files under ``out_dir``;
    resume markers, checksum and ``_SUCCESS`` files are skipped."""
    groups: dict[str, list[str]] = {}
    for dirpath, dirnames, filenames in os.walk(out_dir):
        dirnames.sort()
        rel = os.path.relpath(dirpath, out_dir)
        if rel.split(os.sep)[0] == "_done":
            continue
        for name in sorted(filenames):
            if name.startswith((".", "_")):
                continue
            lines = groups.setdefault(_group(rel), [])
            lines.extend(
                _canonical(r, inverse) for r in _records(os.path.join(dirpath, name))
            )
    h = hashlib.sha256()
    total = 0
    for key in sorted(groups):
        lines = sorted(groups[key])
        total += len(lines)
        h.update(f"{key}\t{len(lines)}\n".encode())
        for line in lines:
            h.update(line.encode())
            h.update(b"\n")
    return h.hexdigest(), total
