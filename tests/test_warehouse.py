"""End-to-end warehouse build over the InterPro-shaped fixtures
(interpro7_dw_spark/warehouse.py — the Spark analogue of the
reference's mundone task DAG, cli.py:101-986): every mart family plus
flat/XML/JSON sinks in one run whose independent steps execute
concurrently, with skip-if-exists resume (per-step markers, a failed
step left unmarked) and no cached plan outliving the build,
snapshot-compared as a directory tree."""

from __future__ import annotations

import glob
import gzip
import json
import os
import re
import sys
import threading
import time

import pytest

from interpro7_dw_spark import warehouse as wh
from interpro7_dw_spark.caching import engine_cache_scope
from interpro7_dw_spark.fixtures import write_warehouse_fixtures
from interpro7_dw_spark.warehouse import build_warehouse

ALL_STEPS = [
    "merged_matches", "lookup_matches", "mart_entry", "mart_taxonomy",
    "mart_proteome", "mart_set", "mart_structure", "mart_entry_xrefs",
    "search_documents", "ida_documents", "ebisearch", "flat_files",
    "match_complete_xml", "interpro_xml", "release_notes",
]

# the snapshot: every output directory the build must produce
EXPECTED_TREE = sorted([
    "merged_matches",
    "lookup_matches",            # + __hp=xx partition dirs below
    "mart_entry",
    "mart_taxonomy/per_taxon",
    "mart_taxonomy/per_entry",
    "mart_taxonomy/per_db",
    "mart_proteome/per_proteome",
    "mart_proteome/per_entry",
    "mart_proteome/per_db",
    "mart_set",
    "mart_structure",
    "mart_entry_xrefs",
    "search_documents",
    "ida_documents",
    "ebisearch",
    "flat/entry.list",
    "flat/names.dat",
    "flat/short_names.dat",
    "flat/interpro2go",
    "flat/ParentChildTreeFile.txt",
    "flat/protein2ipr.dat",
    "xml/match_complete.xml.gz",
    "xml/interpro.xml.gz",
    "notes",
])


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("wh")
    fx, out = str(root / "fixtures"), str(root / "warehouse")
    write_warehouse_fixtures(spark, fx)
    status = build_warehouse(spark, fx, out)
    return spark, fx, out, status


def _leaf_dirs(out: str) -> list[str]:
    """Output directories that directly hold data files, relative to
    the warehouse root; hive-style partition subdirs (__hp=..,
    entry_type=../chunk=..) and the resume markers are folded away."""
    leaves = set()
    for dirpath, _dirnames, filenames in os.walk(out):
        if not any(not f.startswith(".") for f in filenames):
            continue
        rel = os.path.relpath(dirpath, out)
        if rel == "_done":
            continue
        while re.search(r"/[^/=]+=[^/]+$", rel):
            rel = re.sub(r"/[^/=]+=[^/]+$", "", rel)
        leaves.add(rel)
    return sorted(leaves)


def test_all_steps_built_and_tree_snapshot(warehouse):
    _, _, out, status = warehouse
    assert status == {s: "built" for s in ALL_STEPS}
    assert _leaf_dirs(out) == EXPECTED_TREE
    # resume markers, one per step
    assert sorted(os.listdir(os.path.join(out, "_done"))) == sorted(ALL_STEPS)


def test_resume_skips_everything(warehouse):
    spark, fx, out, _ = warehouse
    again = build_warehouse(spark, fx, out)
    assert again == {s: "skipped" for s in ALL_STEPS}
    # and a targeted overwrite rebuilds just that step
    third = build_warehouse(spark, fx, out, steps=["release_notes"],
                            overwrite=True)
    assert third == {"release_notes": "built"}


def test_failed_step_gets_no_marker_and_resume_builds_it(
    warehouse, tmp_path, monkeypatch
):
    """The first step raises during an overwrite rebuild; the build
    re-raises only after the other steps have finished, they keep
    their markers, the failed step loses the one an earlier run left,
    and a resume run builds just that step."""
    spark, fx, _, _ = warehouse
    out = str(tmp_path / "wh")
    steps = ["lookup_matches", "ida_documents", "release_notes"]
    os.makedirs(os.path.join(out, "_done"))
    open(os.path.join(out, "_done", "lookup_matches"), "w").close()

    def boom(*_args, **_kwargs):
        raise RuntimeError("lookup sink down")

    monkeypatch.setattr(wh, "write_lookup_mart", boom)
    with pytest.raises(RuntimeError, match="lookup sink down"):
        build_warehouse(spark, fx, out, steps=steps, overwrite=True)
    assert sorted(os.listdir(os.path.join(out, "_done"))) == [
        "ida_documents", "release_notes"]
    monkeypatch.undo()
    assert build_warehouse(spark, fx, out, steps=steps) == {
        "lookup_matches": "built", "ida_documents": "skipped",
        "release_notes": "skipped",
    }


def test_build_releases_its_cached_plans(warehouse, tmp_path, monkeypatch):
    """The merge mart is persisted while its readers run and released
    by the build itself: the CacheManager holds as many plans after
    the build as before, already inside the caller's scope."""
    spark, fx, _, _ = warehouse
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    during = []
    write_lookup_mart = wh.write_lookup_mart

    def counting(*args, **kwargs):
        during.append(cache.numCachedEntries())
        write_lookup_mart(*args, **kwargs)

    monkeypatch.setattr(wh, "write_lookup_mart", counting)
    with engine_cache_scope():
        build_warehouse(spark, fx, str(tmp_path / "wh"),
                        steps=["merged_matches", "lookup_matches"])
        assert during and during[0] > before
        assert cache.numCachedEntries() == before
    assert cache.numCachedEntries() == before


def test_inputs_memo_builds_each_intermediate_once():
    """Threads racing on nested memos (as ``merged`` builds
    ``ipr_entries``) all get the one object built per key: a lost
    check-then-act would build a key twice, a non-reentrant lock would
    deadlock the nested lookup."""
    inp = wh._Inputs(None, "unused")
    built, got = [], []

    def make(key):
        built.append(key)
        time.sleep(0.001)
        return object()

    def outer():
        inp._memo("inner", lambda: make("inner"))
        return make("outer")

    def worker():
        for _ in range(20):
            got.append(inp._memo("outer", outer))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, daemon=True)
                   for _ in range(16)]
        for t in threads:
            t.start()
        deadline = time.monotonic() + 30
        for t in threads:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(built) == ["inner", "outer"]
    assert len(got) == 16 * 20 and all(g is got[0] for g in got)


def test_mart_contents(warehouse):
    spark, _, out, _ = warehouse
    merged = spark.read.parquet(os.path.join(out, "merged_matches"))
    assert merged.columns == [
        "protein_acc", "accession", "source_database", "type",
        "entry_acc", "locations",
    ]
    assert merged.count() > 100
    entry = spark.read.parquet(os.path.join(out, "mart_entry"))
    assert entry.count() > 0
    tax = spark.read.parquet(os.path.join(out, "mart_taxonomy", "per_taxon"))
    counts = {r.tax_id: json.loads(r.counts) for r in tax.collect()}
    # the root aggregates every protein-bearing subtree
    assert counts["1"]["proteins"] == max(c["proteins"] for c in counts.values())


def test_flat_and_xml_sinks(warehouse):
    _, _, out, _ = warehouse
    [p2i] = glob.glob(os.path.join(out, "flat", "protein2ipr.dat", "part-*.txt.gz"))
    lines = gzip.open(p2i, "rt", encoding="utf-8").read().splitlines()
    assert len(lines) > 50
    assert all(len(line.split("\t")) == 6 for line in lines)
    # globally sorted by the full tuple
    assert lines == sorted(lines)

    [mc] = glob.glob(os.path.join(out, "xml", "match_complete.xml.gz", "part-*.txt.gz"))
    text = gzip.open(mc, "rt", encoding="utf-8").read()
    assert text.startswith('<?xml version="1.0" encoding="UTF-8"?>')
    assert "<release>" in text and "<dbinfo" in text
    assert text.rstrip("\n").endswith("</interpromatch>")

    [ix] = glob.glob(os.path.join(out, "xml", "interpro.xml.gz", "part-*.txt.gz"))
    itext = gzip.open(ix, "rt", encoding="utf-8").read()
    assert "<interprodb>" in itext and itext.rstrip("\n").endswith("</interprodb>")

    notes = open(os.path.join(out, "notes", "release_notes.txt")).read()
    assert "105.0" in notes and "UniProtKB" in notes


def test_search_and_ebisearch_documents(warehouse):
    _, _, out, _ = warehouse
    docs = []
    for f in glob.glob(os.path.join(out, "search_documents", "part-*.json")):
        with open(f, encoding="utf-8") as fh:
            docs += [json.loads(line) for line in fh if line.strip()]
    types = {d["doc_type"] for d in docs}
    assert {"relationship", "taxon"} <= types
    eb_files = sorted(glob.glob(
        os.path.join(out, "ebisearch", "entry_type=*", "chunk=*", "part-*.txt")
    ))
    assert eb_files
    payload = json.loads(open(eb_files[0], encoding="utf-8").read())
    assert payload["name"] == "InterPro"
    assert payload["release"] == "105.0"
    assert payload["entry_count"] == len(payload["entries"])


def test_ranged_build_matches_single_stream(warehouse):
    """ranged_files=3: every flat/XML export is split into
    range-ordered part files whose name-order concatenation is
    byte-identical to the single-file build — the no-single-task
    cluster shape, end-to-end through build_warehouse."""
    spark, fx, out, _ = warehouse
    out_r = out + "_ranged"
    status = build_warehouse(
        spark, fx, out_r, steps=["flat_files", "match_complete_xml",
                                 "interpro_xml"],
        ranged_files=3,
    )
    assert status == {s: "built" for s in
                      ["flat_files", "match_complete_xml", "interpro_xml"]}

    def cat(path, gz):
        parts = sorted(glob.glob(os.path.join(path, "part-*")))
        opener = (lambda f: gzip.open(f, "rt", encoding="utf-8")) if gz \
            else (lambda f: open(f, encoding="utf-8"))
        return parts, "".join(opener(f).read() for f in parts)

    for rel, gz in [
        (os.path.join("flat", "entry.list"), False),
        (os.path.join("flat", "names.dat"), False),
        (os.path.join("flat", "short_names.dat"), False),
        (os.path.join("flat", "interpro2go"), False),
        (os.path.join("flat", "ParentChildTreeFile.txt"), False),
        (os.path.join("flat", "protein2ipr.dat"), True),
        (os.path.join("xml", "match_complete.xml.gz"), True),
        (os.path.join("xml", "interpro.xml.gz"), True),
    ]:
        parts, ranged_text = cat(os.path.join(out_r, rel), gz)
        assert len(parts) == 3, rel  # genuinely range-split
        _, single_text = cat(os.path.join(out, rel), gz)
        assert ranged_text == single_text, rel


def test_interpro2go_header_and_parent_child_tree(warehouse):
    """Byte-fidelity of the two reference quirks: the interpro2go `!`
    block ends with the glued `!contact:...!` line (reference writes
    the contact line without a newline), and ParentChildTreeFile
    starts a block at EVERY entry with children — the mid-level
    IPR000002 appears both nested under IPR000001 and as its own
    block head — with trailing `::` labels."""
    _, _, out, _ = warehouse
    [go] = glob.glob(os.path.join(out, "flat", "interpro2go", "part-*"))
    lines = open(go, encoding="utf-8").read().splitlines()
    assert lines[0] == "!date: 2026/01/15 00:00:00"
    assert lines[4] == "!contact:interhelp@ebi.ac.uk!"
    assert lines[5].startswith("InterPro:IPR")

    [pct] = glob.glob(os.path.join(out, "flat", "ParentChildTreeFile.txt",
                                   "part-*"))
    tree = open(pct, encoding="utf-8").read().splitlines()
    assert tree == [
        "IPR000001::Kinase::",
        "--IPR000002::Helicase::",
        "----IPR000003::Kinase site::",
        "IPR000002::Helicase::",
        "--IPR000003::Kinase site::",
    ]


def test_ranged_build_matches_single_stream_scaled(spark, tmp_path_factory):
    """The ranged/single equivalence at ~300x the fixture scale
    (n_proteins=15000, ~50k match rows — raised from 3000 in r10;
    30000 measured 3.5 min solo, over the suite budget):
    ranged_files=4 on the heaviest flat sink (protein2ipr) and the
    heaviest XML sink (match_complete) must still concatenate
    byte-identically to the single-file build — range boundaries now
    fall mid-protein-run, exercising real splits rather than the
    48-protein toy."""
    root = tmp_path_factory.mktemp("whs")
    fx = str(root / "fixtures")
    write_warehouse_fixtures(spark, fx, n_proteins=15000)
    steps = ["flat_files", "match_complete_xml"]

    out_s = str(root / "single")
    out_r = str(root / "ranged")
    assert build_warehouse(spark, fx, out_s, steps=steps) == {
        s: "built" for s in steps
    }
    assert build_warehouse(spark, fx, out_r, steps=steps, ranged_files=4) == {
        s: "built" for s in steps
    }

    def cat(path, gz):
        parts = sorted(glob.glob(os.path.join(path, "part-*")))
        opener = (lambda f: gzip.open(f, "rt", encoding="utf-8")) if gz \
            else (lambda f: open(f, encoding="utf-8"))
        return parts, "".join(opener(f).read() for f in parts)

    for rel, gz in [
        (os.path.join("flat", "protein2ipr.dat"), True),
        (os.path.join("xml", "match_complete.xml.gz"), True),
    ]:
        parts, ranged_text = cat(os.path.join(out_r, rel), gz)
        assert len(parts) == 4, rel
        _, single_text = cat(os.path.join(out_s, rel), gz)
        assert ranged_text == single_text, rel
        assert len(single_text) > 1_000_000, rel  # genuinely scaled


def test_curate_corpus_dag_and_resume(spark, tmp_path):
    """The curation CLI composes the oracle-checked LLM operators into
    a resumable DAG (same marker contract as the warehouse build):
    every stage lands as parquet, survivors exclude eval/contaminated/
    duplicate rows, and a rerun skips everything."""
    from interpro7_dw_spark.curate import curate_corpus

    out = str(tmp_path / "curated")
    status = curate_corpus(spark, "/root/testdata/sf0.001", out)
    assert set(status.values()) == {"built"}
    stats = spark.read.parquet(out + "/stats.parquet").first()
    n_in, n_out = stats.n_input, stats.n_survivors
    assert 0 < n_out < n_in
    corpus = spark.read.parquet(out + "/corpus.parquet")
    # eval split rows (doc_id % 97 == 0) never survive
    assert corpus.filter("doc_id % 97 = 0").count() == 0
    # survivors carry the span-cleaned text and shard assignments
    assert {"text", "shard_id", "shard_pos"} <= set(corpus.columns)
    # resume: nothing rebuilds
    again = curate_corpus(spark, "/root/testdata/sf0.001", out)
    assert set(again.values()) == {"skipped"}
    # step subset still honors DAG naming
    sub = curate_corpus(spark, "/root/testdata/sf0.001", out,
                        steps=["stats"], overwrite=True)
    assert sub == {"stats": "built"}
