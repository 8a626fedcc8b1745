"""End-to-end warehouse build over the InterPro-shaped fixtures.

``build_warehouse(spark, fixtures_dir, out_dir)`` composes the
``domain/`` transforms into one run producing every mart family and
flat/XML/JSON sink — the Spark analogue of the reference's task DAG
(reference interpro7dw/cli.py:101-986, where mundone wires
export->xrefs->mysql/elastic/ftp tasks and the scheduler runs the
independent ones side by side). No step reads another step's output,
so the selected steps are submitted together from a driver thread
pool (``parallel.run_parallel``) and Spark interleaves their
jobs. Orchestration state is deliberately minimal: each step writes
one output directory and, as soon as it succeeds, a ``_done/<step>``
marker; a rerun skips completed steps (skip-if-exists resume, like the
reference's ``--resume``), so a failed run continues where it stopped.

Scale notes: the composition adds nothing beyond the transforms it
calls — every step is the already-audited plan (broadcast dims, one
shuffle per grain, no driver loops over fact rows). Shared
intermediates (classified matches, the merge mart, the domain
organisations) are built once per run and reused by reference: each
step declares the ones it reads, and the build resolves them on the
calling thread before dispatch, so the merge mart's persist belongs to
the build's own cache scope and outlives every step that reads it.
"""

from __future__ import annotations

import datetime
import os
import threading
from contextlib import suppress
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import engine_cache_scope
from .domain import flatfiles
from .domain.documents import ida_documents, relationship_documents
from .domain.ebisearch import entry_documents, export_ebisearch
from .domain.entry_mart import webfront_entry_mart
from .domain.marts import entry_xrefs_mart
from .domain.pipeline import classify_matches, merge_protein_matches
from .domain.proteome_mart import proteome_marts
from .domain.relnotes_doc import compose_release_notes, export_release_notes
from .domain.set_structure_mart import set_mart, structure_mart
from .domain.stats import (
    entry_type_counts,
    interpro_release_stats,
    member_database_stats,
    sequence_database_stats,
)
from .domain.taxonomy_mart import taxonomy_marts
from .domain.xmldocs import (
    export_match_complete,
    interpro_entries_xml,
    release_dbinfo_xml,
)
from .sources.sinks import (
    write_json_batches,
    write_lookup_mart,
    write_mart,
    write_tsv,
    write_tsv_ranged,
    write_xml,
    write_xml_ranged,
)
from .parallel import run_parallel

RELEASE_VERSION = "105.0"
RELEASE_DATE = datetime.date(2026, 1, 15)


class _Inputs:
    """Fixture tables + shared derived intermediates, computed once
    per run and memoized (several marts consume the same spine).
    Steps read them from pool threads, so lookups take a re-entrant
    lock (memos nest: ``merged`` builds ``ipr_entries``)."""

    def __init__(self, spark: SparkSession, fixtures_dir: str) -> None:
        self.spark = spark
        self.dir = fixtures_dir
        self._cache: dict[str, DataFrame] = {}
        self._lock = threading.RLock()

    def table(self, name: str) -> DataFrame:
        return self._memo(name, lambda: self.spark.read.parquet(
            os.path.join(self.dir, name)
        ))

    def _memo(self, key: str, make) -> DataFrame:
        with self._lock:
            if key not in self._cache:
                self._cache[key] = make()
            return self._cache[key]

    # --- derived intermediates -------------------------------------
    def ipr_entries(self) -> DataFrame:
        """InterPro entry dim in the pipeline shape."""
        return self._memo("ipr_entries", lambda: (
            self.table("entry_dim")
            .filter(
                (F.col("database") == "InterPro")
                & F.col("public")
                & F.col("deletion_date").isNull()
            )
            .select("entry_acc", "name", "short_name", "type", "parent_acc")
        ))

    def classified(self) -> DataFrame:
        return self._memo("classified", lambda: classify_matches(
            self.table("match"), self.table("signature")
        ))

    def merged(self) -> DataFrame:
        return self._memo("merged", lambda: merge_protein_matches(
            self.table("match"), self.table("signature"), self.ipr_entries()
        ))

    def protein_entries(self) -> DataFrame:
        """(protein_acc, entry_acc) over integrated matches."""
        return self._memo("protein_entries", lambda: (
            self.classified()
            .filter(F.col("entry_acc").isNotNull())
            .select("protein_acc", "entry_acc")
            .distinct()
        ))

    def protein_db_matches(self) -> DataFrame:
        """(protein_acc, db, entry_acc) per-database rows: member
        signatures under their own db plus the integrated InterPro
        rows — the shape the taxonomy/proteome rollups key on."""
        return self._memo("protein_db_matches", lambda: (
            self.classified()
            .select(
                "protein_acc",
                F.col("db_lc").alias("db"),
                F.col("signature_acc").alias("entry_acc"),
            )
            .unionByName(
                self.classified()
                .filter(F.col("entry_acc").isNotNull())
                .select(
                    "protein_acc",
                    F.lit("interpro").alias("db"),
                    "entry_acc",
                )
            )
            .distinct()
        ))

    def sig_matches(self) -> DataFrame:
        """(protein_acc, signature_acc, database) match rows."""
        return self._memo("sig_matches", lambda: self.classified().select(
            "protein_acc", "signature_acc", F.col("db_lc").alias("database")
        ))

    def protein_structures(self) -> DataFrame:
        return self._memo("protein_structures", lambda: (
            self.table("protein_segments")
            .select("protein_acc", "pdb_id")
            .distinct()
        ))

    def domorgs(self) -> DataFrame:
        """Per-protein domain organisation from the Pfam matches
        (reference interpro/xrefs/domorgs.py: elements are the Pfam
        accession plus its integrated entry, in (start, end) order;
        dom_id is the hash of the rendered key)."""
        def make() -> DataFrame:
            pf = (
                self.classified()
                .filter(F.col("db_lc") == "pfam")
                .select(
                    "protein_acc",
                    F.struct(
                        F.col("pos_from").alias("start"),
                        F.col("pos_to").alias("end"),
                        F.col("signature_acc").alias("pfam"),
                        F.col("entry_acc").alias("interpro"),
                    ).alias("el"),
                )
                .groupBy("protein_acc")
                .agg(F.array_sort(F.collect_list("el")).alias("els"))
                .select(
                    "protein_acc",
                    F.expr(
                        "transform(els, e -> struct("
                        "e.pfam as pfam, e.interpro as interpro,"
                        " cast(e.start as long) as start,"
                        " cast(e.end as long) as end))"
                    ).alias("locations"),
                    F.expr(
                        "array_join(transform(els, e ->"
                        " if(e.interpro is null, e.pfam,"
                        " concat(e.pfam, ':', e.interpro))), '-')"
                    ).alias("dom_key"),
                )
                .withColumn("dom_id", F.md5("dom_key"))
            )
            prot = self.table("protein").select("protein_acc", "date", "length")
            return pf.join(prot, "protein_acc")
        return self._memo("domorgs", make)

    def entry_structures(self) -> DataFrame:
        """(entry_acc, pdb_id, coverage): integrated entries attached
        to structures through their proteins; coverage = best
        segment-span fraction of the protein length."""
        def make() -> DataFrame:
            seg = self.table("protein_segments").join(
                self.table("protein").select("protein_acc", "length"),
                "protein_acc",
            )
            cov = seg.select(
                "protein_acc",
                "pdb_id",
                (
                    (F.col("protein_end") - F.col("protein_start") + 1)
                    / F.col("length")
                ).alias("coverage"),
            )
            return (
                self.protein_entries()
                .join(cov, "protein_acc")
                .groupBy("entry_acc", "pdb_id")
                .agg(F.round(F.max("coverage"), 4).alias("coverage"))
            )
        return self._memo("entry_structures", make)


def _steps(inp: _Inputs, out_dir: str, ranged_files: int | None = None):
    """(name, reads, runner) triples in DAG order; ``reads`` names the
    shared :class:`_Inputs` intermediates the runner consumes, which
    :func:`build_warehouse` resolves before dispatching the runners.

    ``ranged_files`` switches the flat/XML single-stream sinks to
    their range-split variants (that many part files per export whose
    name-order concatenation is the identical byte stream) — the
    cluster-scale shape with no single-task write stage."""
    p = lambda *parts: os.path.join(out_dir, *parts)  # noqa: E731
    steps = []

    def step(name: str, *reads: str):
        def register(run):
            steps.append((name, reads, run))
            return run
        return register

    def tsv(rows, path, sort_cols, out_cols=None, **kw):
        if ranged_files is None:
            write_tsv(rows.select(*out_cols) if out_cols else rows, path, **kw)
        else:
            write_tsv_ranged(rows, path, sort_cols=sort_cols,
                             num_files=ranged_files, out_cols=out_cols, **kw)

    @step("merged_matches", "merged")
    def merged_matches() -> None:
        write_mart(inp.merged(), p("merged_matches"),
                   sort_cols=["protein_acc", "accession"])

    @step("lookup_matches", "merged")
    def lookup_matches() -> None:
        write_lookup_mart(inp.merged(), p("lookup_matches"), "protein_acc")

    @step("mart_entry", "protein_entries", "domorgs", "entry_structures")
    def mart_entry() -> None:
        prot = inp.table("protein")
        af = inp.table("alphafold").withColumn("in_af", F.lit(True))
        pp = inp.table("protein_proteome")
        em_matches = (
            inp.protein_entries()
            .join(prot.select("protein_acc", "tax_id"), "protein_acc")
            .join(pp, "protein_acc", "left")
            .join(inp.domorgs().select("protein_acc", "dom_id"),
                  "protein_acc", "left")
            .join(F.broadcast(af), "protein_acc", "left")
            .select(
                "entry_acc", "protein_acc", "tax_id", "proteome_id",
                "dom_id", F.coalesce("in_af", F.lit(False)).alias("in_alphafold"),
            )
        )
        dim = inp.table("structure").select(
            "pdb_id", F.col("name").alias("s_name"), "resolution"
        )
        df = webfront_entry_mart(
            inp.table("entry_dim"), em_matches, inp.entry_structures(), dim
        )
        write_mart(df, p("mart_entry"), sort_cols=[df.columns[0]])

    @step("mart_taxonomy", "protein_structures", "protein_db_matches")
    def mart_taxonomy() -> None:
        prot = inp.table("protein")
        base = prot.join(inp.table("protein_proteome"), "protein_acc", "left") \
                   .select("protein_acc", "tax_id", "proteome_id")
        entry_pdb = (
            inp.protein_structures()
            .join(prot.select("protein_acc", "tax_id"), "protein_acc")
            .join(inp.protein_db_matches(), "protein_acc")
            .select("tax_id", "db", "entry_acc", "pdb_id")
            .distinct()
        )
        per_taxon, per_entry, per_db = taxonomy_marts(
            inp.table("taxonomy"), base, inp.protein_db_matches(),
            inp.protein_structures(), entry_pdb,
        )
        write_mart(per_taxon, p("mart_taxonomy", "per_taxon"), ["tax_id"])
        write_mart(per_entry, p("mart_taxonomy", "per_entry"),
                   ["tax_id", "entry_acc"])
        write_mart(per_db, p("mart_taxonomy", "per_db"),
                   ["tax_id", "source_database"])

    @step("mart_proteome", "protein_structures", "protein_db_matches")
    def mart_proteome() -> None:
        base = inp.table("protein").join(
            inp.table("protein_proteome"), "protein_acc", "left"
        ).select("protein_acc", "proteome_id")
        entry_pdb = (
            inp.protein_structures()
            .join(inp.table("protein").select("protein_acc", "tax_id"),
                  "protein_acc")
            .join(inp.protein_db_matches(), "protein_acc")
            .select(F.col("tax_id").alias("taxon_id"), "db", "entry_acc",
                    "pdb_id")
            .distinct()
        )
        per_p, per_e, per_db = proteome_marts(
            inp.table("proteome"), base, inp.protein_db_matches(),
            inp.protein_structures(), entry_pdb,
        )
        write_mart(per_p, p("mart_proteome", "per_proteome"), ["proteome_id"])
        write_mart(per_e, p("mart_proteome", "per_entry"))
        write_mart(per_db, p("mart_proteome", "per_db"))

    @step("mart_set", "domorgs", "sig_matches", "protein_structures")
    def mart_set() -> None:
        domorg_members = (
            inp.domorgs()
            .select("protein_acc", "dom_id", F.explode("locations").alias("l"))
            .select("protein_acc", F.col("l.pfam").alias("signature_acc"),
                    "dom_id")
            .distinct()
        )
        sig_pdb = (
            inp.sig_matches()
            .join(inp.protein_structures(), "protein_acc")
            .select("signature_acc", "pdb_id")
            .distinct()
        )
        df = set_mart(
            inp.table("clan"), inp.table("clan_member"),
            inp.table("clan_alignment"), inp.sig_matches(),
            inp.table("protein").select("protein_acc", "tax_id"),
            inp.table("protein_proteome"), domorg_members, sig_pdb,
        )
        write_mart(df, p("mart_set"), [df.columns[0]])

    @step("mart_structure", "sig_matches", "protein_structures", "domorgs")
    def mart_structure() -> None:
        segs = inp.table("protein_segments")
        pdb_matches = (
            inp.sig_matches()
            .join(segs.select("protein_acc", "pdb_id").distinct(),
                  "protein_acc")
            .select("pdb_id", "signature_acc", "database")
            .distinct()
        )
        sig_clans = inp.table("clan_member").select(
            F.col("member_acc").alias("signature_acc"), "clan_acc"
        )
        df = structure_mart(
            inp.table("structure"),
            segs.select("pdb_id", "chain").distinct(),
            segs,
            pdb_matches,
            sig_clans,
            inp.protein_structures(),
            inp.table("protein").select("protein_acc", "tax_id"),
            inp.table("protein_proteome"),
            inp.domorgs().select("protein_acc", "dom_id"),
        )
        write_mart(df, p("mart_structure"), [df.columns[0]])

    @step("mart_entry_xrefs", "protein_entries", "protein_structures")
    def mart_entry_xrefs() -> None:
        df = entry_xrefs_mart(
            inp.protein_entries(),
            inp.table("protein").select("protein_acc", "tax_id"),
            inp.table("protein_proteome"),
            inp.protein_structures(),
            entry_go=inp.table("entry_go").select("entry_acc", "go_id"),
        )
        write_mart(df, p("mart_entry_xrefs"), ["entry_acc"])

    @step("search_documents", "protein_entries", "ipr_entries")
    def search_documents() -> None:
        segs = inp.table("protein_segments")
        chains = segs.select(
            "protein_acc",
            F.concat_ws("_", "pdb_id", "chain").alias("pdb_chain"),
        ).distinct()
        docs = relationship_documents(
            inp.table("protein").select("protein_acc", "tax_id"),
            inp.protein_entries(),
            chains,
            inp.ipr_entries().select("entry_acc"),
            chains.select("pdb_chain").distinct(),
            inp.table("taxonomy").select("tax_id"),
        )
        write_json_batches(docs, p("search_documents"), 500)

    @step("ida_documents", "domorgs")
    def ida_docs() -> None:
        names = inp.table("entry_dim").select("entry_acc", "short_name")
        df = ida_documents(inp.domorgs(), names)
        write_mart(df, p("ida_documents"), ["ida_id"])

    @step("ebisearch", "protein_entries", "entry_structures")
    def ebisearch() -> None:
        e = inp.table("entry_dim").filter(
            F.col("public") & F.col("deletion_date").isNull()
        ).select(
            "entry_acc", "name", "short_name", "type", "database",
            "integrated_in", "parent_acc",
            F.concat(F.lit("Description of "), F.col("name")).alias("description"),
            "creation_date", "old_short_names",
        )
        ep = (
            inp.protein_entries()
            .join(inp.table("protein"), "protein_acc")
            .join(inp.table("alphafold").withColumn("in_af", F.lit(True)),
                  "protein_acc", "left")
            .select(
                "entry_acc",
                F.col("protein_acc").alias("uniprot_acc"),
                F.col("identifier").alias("uniprot_id"),
                F.coalesce("in_af", F.lit(False)).alias("in_alphafold"),
            )
        )
        taxa = (
            inp.protein_entries()
            .join(inp.table("protein").select("protein_acc", "tax_id"),
                  "protein_acc")
            .join(inp.table("taxonomy").select("tax_id", "sci_name"), "tax_id")
            .select("entry_acc", "tax_id", F.col("sci_name").alias("taxon_name"))
            .distinct()
        )
        docs = entry_documents(
            e, entry_proteins=ep, entry_taxa=taxa,
            entry_structures=inp.entry_structures().select("entry_acc", "pdb_id"),
            entry_pubmed=inp.table("entry_pubmed"),
            entry_go=inp.table("entry_go").select("entry_acc", "go_id"),
        )
        export_ebisearch(docs, p("ebisearch"), RELEASE_VERSION,
                         RELEASE_DATE.isoformat(), fields_per_file=200)

    @step("flat_files", "ipr_entries", "classified")
    def flat_files() -> None:
        e = inp.ipr_entries()
        tsv(flatfiles.entry_list_rows(e), p("flat", "entry.list"),
            sort_cols=["ENTRY_TYPE", "ENTRY_AC"])
        tsv(flatfiles.names_rows(e), p("flat", "names.dat"),
            sort_cols=["entry_acc"], include_header=False)
        tsv(flatfiles.names_rows(e, short=True),
            p("flat", "short_names.dat"), sort_cols=["entry_acc"],
            include_header=False)
        go = inp.table("entry_go").join(
            e.select("entry_acc", "name"), "entry_acc"
        ).select("entry_acc", "name", "go_name", "go_id")
        tsv(flatfiles.interpro2go_rows(go, with_keys=ranged_files is not None),
            p("flat", "interpro2go"), sort_cols=["entry_acc", "go_id"],
            out_cols=["line"], include_header=False,
            header_lines=flatfiles.interpro2go_header(
                RELEASE_DATE.strftime("%Y/%m/%d %H:%M:%S")))
        pct = flatfiles.parent_child_tree_lines(e)
        pct_df = inp.spark.createDataFrame(
            list(enumerate(pct)), "pos long, line string"
        ).orderBy("pos")
        tsv(pct_df, p("flat", "ParentChildTreeFile.txt"),
            sort_cols=["pos"], out_cols=["line"], include_header=False)
        tsv(
            flatfiles.protein2ipr_rows(inp.classified(), e),
            p("flat", "protein2ipr.dat"),
            sort_cols=["protein_acc", "entry_acc", "entry_name",
                       "signature_acc", "pos_start", "pos_end"],
            include_header=False, compression="gzip",
        )

    @step("match_complete_xml", "classified", "merged", "ipr_entries")
    def match_complete() -> None:
        prot = inp.table("protein").select(
            "protein_acc",
            F.col("identifier").alias("name"),
            "length", "crc64",
            F.col("tax_id").alias("taxid"),
            "reviewed",
        )
        counts = (
            inp.classified().groupBy("db_lc")
            .agg(F.countDistinct("signature_acc").alias("n"))
            .collect()
        )
        dbs = [
            {"dbname": r["db_lc"].upper(), "version": "1.0",
             "entry_count": r["n"], "file_date": RELEASE_DATE.isoformat()}
            for r in sorted(counts, key=lambda r: r["db_lc"])
        ]
        export_match_complete(
            inp.merged(), inp.table("signature"), inp.ipr_entries(), prot,
            p("xml", "match_complete.xml.gz"),
            databases=dbs, features=inp.table("features"),
            num_files=ranged_files,
        )

    @step("interpro_xml", "ipr_entries", "protein_entries", "classified")
    def interpro_xml() -> None:
        e = inp.ipr_entries().withColumn(
            "abstract", F.concat(F.lit("Abstract for "), F.col("name"))
        )
        e2p = inp.protein_entries().groupBy("entry_acc").agg(
            F.countDistinct("protein_acc").alias("n_proteins")
        )
        sig_np = inp.classified().groupBy("signature_acc").agg(
            F.countDistinct("protein_acc").alias("n_proteins")
        )
        sigs = inp.table("signature").join(sig_np, "signature_acc", "left") \
                  .withColumn("n_proteins", F.coalesce("n_proteins", F.lit(0)))
        df = interpro_entries_xml(e, sigs, e2p, go_terms=inp.table("entry_go"))
        prolog = release_dbinfo_xml(
            [{"version": RELEASE_VERSION, "dbname": "INTERPRO",
              "entry_count": e.count(),
              "file_date": RELEASE_DATE.isoformat()}],
            ("version", "dbname", "entry_count", "file_date"),
        )
        hdr = ('<?xml version="1.0" encoding="UTF-8"?>\n'
               '<!DOCTYPE interprodb SYSTEM "interpro.dtd">')
        if ranged_files is not None:
            write_xml_ranged(df.select("entry_acc", "xml"),
                             p("xml", "interpro.xml.gz"),
                             lambda r: r.xml, "interprodb",
                             sort_cols=["entry_acc"],
                             num_files=ranged_files,
                             header=hdr, prolog=prolog, compression="gzip")
        else:
            write_xml(df.select("xml"), p("xml", "interpro.xml.gz"),
                      lambda r: r.xml, "interprodb",
                      header=hdr, prolog=prolog, compression="gzip")

    @step("release_notes", "protein_db_matches")
    def release_notes() -> None:
        dim = inp.table("entry_dim").withColumn(
            "deleted", F.col("deletion_date").isNotNull()
        ).withColumn("creation_ord", F.col("creation_date"))
        rel = interpro_release_stats(
            dim, inp.table("previous_public_entries"),
            entry_pubmed=inp.table("entry_pubmed"),
            entry_go_counts=inp.table("entry_go")
            .groupBy("entry_acc").agg(F.count("*").alias("n_go")),
        )
        types = entry_type_counts(dim)
        members = member_database_stats(
            dim,
            inp.table("clan_member").select(
                F.col("member_acc").alias("signature_acc"), "clan_acc"
            ),
            inp.table("databases_staging"),
            inp.table("databases_public"),
            inp.table("previous_integrated"),
        )
        seq = sequence_database_stats(
            inp.table("protein").select("protein_acc", "reviewed"),
            inp.protein_db_matches().select(
                "protein_acc", F.col("db").alias("match_db"), "entry_acc"
            ),
        )
        citations = inp.table("entry_pubmed").select("pmid").distinct().count()
        text = compose_release_notes(
            RELEASE_VERSION, RELEASE_DATE, rel, types, members, seq,
            seq_versions={"UniProtKB": "2026_01",
                          "UniProtKB/Swiss-Prot": "2026_01",
                          "UniProtKB/TrEMBL": "2026_01"},
            citations=citations, num_variants=0,
            copyright_year=RELEASE_DATE.year,
        )
        export_release_notes(text, p("notes"))

    return steps


def _run_step(run, marker: str) -> None:
    """One step on a pool thread: the persists it takes are released
    when it returns, and its resume marker lands only once it has
    succeeded (a stale marker from an earlier run is dropped first)."""
    with suppress(FileNotFoundError):
        os.remove(marker)
    with engine_cache_scope():
        run()
    with open(marker, "w") as fh:
        fh.write("done\n")


def build_warehouse(
    spark: SparkSession,
    fixtures_dir: str,
    out_dir: str,
    steps: list[str] | None = None,
    overwrite: bool = False,
    ranged_files: int | None = None,
) -> dict[str, str]:
    """Run the warehouse build; returns {step: 'built'|'skipped'} in
    DAG order.

    The selected steps that are not done yet run concurrently (they
    read only the fixtures and the shared intermediates, never each
    other's output); each one's ``_done/<step>`` marker is written as
    soon as it succeeds. If a step raises, the first exception (in DAG
    order) is re-raised once every running step has finished, and a
    rerun builds just the steps without a marker.

    ``steps`` restricts the run to a subset; ``overwrite`` ignores the
    resume markers and rebuilds; ``ranged_files`` switches flat/XML
    exports to the range-split multi-file sinks (cluster scale — no
    single-task write stage).
    """
    inp = _Inputs(spark, fixtures_dir)
    marker_dir = os.path.join(out_dir, "_done")
    os.makedirs(marker_dir, exist_ok=True)
    status: dict[str, str] = {}
    todo = []
    for name, reads, run in _steps(inp, out_dir, ranged_files=ranged_files):
        if steps is not None and name not in steps:
            continue
        marker = os.path.join(marker_dir, name)
        if os.path.exists(marker) and not overwrite:
            status[name] = "skipped"
            continue
        status[name] = "built"
        todo.append((reads, run, marker))
    # shared intermediates are resolved here, on the calling thread, so
    # their persists belong to this scope and outlive every step
    with engine_cache_scope():
        for key in dict.fromkeys(r for reads, _, _ in todo for r in reads):
            getattr(inp, key)()
        run_parallel([partial(_run_step, run, marker) for _, run, marker in todo])
    return status


def _main() -> None:
    """CLI: ``python -m interpro7_dw_spark.warehouse FIXTURES OUT
    [--steps a,b,...] [--overwrite] [--ranged N]`` — run the full
    warehouse build (skip-if-exists resume by default), the Spark
    analogue of the reference's ``interpro7dw`` entry point
    (cli.py:101-986)."""
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description=_main.__doc__)
    ap.add_argument("fixtures_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--steps", default=None,
                    help="comma-separated subset of the steps")
    ap.add_argument("--overwrite", action="store_true",
                    help="ignore resume markers and rebuild")
    ap.add_argument("--ranged", type=int, default=None, metavar="N",
                    help="range-split flat/XML exports into N part files")
    args = ap.parse_args()
    status = build_warehouse(
        get_spark("warehouse-build"),
        args.fixtures_dir,
        args.out_dir,
        steps=args.steps.split(",") if args.steps else None,
        overwrite=args.overwrite,
        ranged_files=args.ranged,
    )
    for name, state in status.items():
        print(f"{state:8s} {name}")


if __name__ == "__main__":
    _main()
