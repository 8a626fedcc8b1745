"""Xrefs-mart catalog entries: the four per-entity cross-reference
marts (reference interpro/xrefs/{taxa,proteomes,structures,clans}.py)
plus the entry mart, run over bio-shaped relations synthesized
deterministically from the star schema — same pattern as domainq.py —
so the REAL mart compositions in domain/marts.py are exercised under
the hard differential gate.

Shared synthesis (modular arithmetic on keys, identical in the DuckDB
CTEs):
  protein  = customer   (protein_acc = c_custkey, taxon N<c_nationkey>)
  taxonomy = nation     (lineage: N<key> -> R<regionkey> -> ROOT)
  match    = orders     (signature SIG<o_orderkey%50>, its database
                         DB<sig%4> — a signature belongs to one db)
  proteome = c_mktsegment for customers with non-negative balance
  structure= PDB<o_orderkey%30> chains reached through orders
  clans    = every third signature -> CL<sig%5>
  domorgs  = DOM<o_custkey%20> with even signatures as members
"""

from __future__ import annotations

import shutil
import time
from typing import NamedTuple

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..domain.marts import (
    clan_xrefs_mart,
    entry_xrefs_mart,
    proteome_xrefs_mart,
    structure_xrefs_mart,
    taxon_xrefs_mart,
)
from ..domain.mart_ivm import maintain_entry_supports, maintain_taxon_supports
from ..domain.mart_ivm2 import (
    maintain_clan_supports,
    maintain_proteome_supports,
    maintain_structure_supports,
)
from ..operators.cdc import snapshot_delta_images
from ..streaming.mart_habitat import MartHabitat, maintain_stream, seed_state, unify
from ..streaming.mart_stream import (
    CLAN_HABITAT,
    ENTRY_HABITAT,
    PROTEOME_HABITAT,
    STRUCT_HABITAT,
    TAXON_HABITAT,
)
from .spec import (
    REGISTRY,
    QuerySpec,
    fixture_dir,
    register,
    t,
    write_split_fixture,
)


def _proteins(spark, sf):
    return t(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("N"), F.col("c_nationkey")).alias("tax_id"),
    )


def _taxon_ancestors(spark, sf):
    n = t(spark, sf, "nation").select(
        F.concat_ws("", F.lit("N"), F.col("n_nationkey")).alias("tax_id"),
        F.concat_ws("", F.lit("R"), F.col("n_regionkey")).alias("region_node"),
    )
    return n.select(
        "tax_id",
        F.explode(F.array(F.col("tax_id"), F.col("region_node"), F.lit("ROOT"))).alias(
            "ancestor"
        ),
    )


def _matches(spark, sf):
    sig_id = F.col("o_orderkey") % 50
    return t(spark, sf, "orders").select(
        F.col("o_custkey").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("SIG"), sig_id).alias("signature_acc"),
        F.concat_ws("", F.lit("DB"), sig_id % 4).alias("database"),
    )


def _protein_proteomes(spark, sf):
    return (
        t(spark, sf, "customer")
        .filter(F.col("c_acctbal") >= 0)
        .select(
            F.col("c_custkey").cast("string").alias("protein_acc"),
            F.col("c_mktsegment").alias("proteome_id"),
        )
    )


def _protein_structures(spark, sf):
    return (
        t(spark, sf, "orders")
        .select(
            F.col("o_custkey").cast("string").alias("protein_acc"),
            F.concat_ws("", F.lit("PDB"), F.col("o_orderkey") % 30).alias("pdb_id"),
        )
        .distinct()
    )


def _pdb_matches(spark, sf):
    sig_id = F.col("o_orderkey") % 50
    return (
        t(spark, sf, "orders")
        .select(
            F.concat_ws("", F.lit("PDB"), F.col("o_orderkey") % 30).alias("pdb_id"),
            F.concat_ws("", F.lit("SIG"), sig_id).alias("signature_acc"),
            F.concat_ws("", F.lit("DB"), sig_id % 4).alias("database"),
        )
        .distinct()
    )


def _signature_clans(spark, sf):
    return (
        spark.range(50)
        .filter(F.col("id") % 3 == 0)
        .select(
            F.concat_ws("", F.lit("SIG"), F.col("id")).alias("signature_acc"),
            F.concat_ws("", F.lit("CL"), F.col("id") % 5).alias("clan_acc"),
        )
    )


def _domorg_members(spark, sf):
    sig_id = F.col("o_orderkey") % 50
    return (
        t(spark, sf, "orders")
        .filter(sig_id % 2 == 0)
        .select(
            F.col("o_custkey").cast("string").alias("protein_acc"),
            F.concat_ws("", F.lit("SIG"), sig_id).alias("signature_acc"),
            F.concat_ws("", F.lit("DOM"), F.col("o_custkey") % 20).alias("dom_id"),
        )
        .distinct()
    )


# DuckDB-side synthesis CTEs shared by every mart oracle.
_SYN_CTE = """
  proteins AS (
    SELECT CAST(c_custkey AS VARCHAR) AS protein_acc,
           'N' || c_nationkey AS tax_id
    FROM customer
  ),
  taxon_ancestors AS (
    SELECT 'N' || n_nationkey AS tax_id, anc.ancestor
    FROM nation, LATERAL unnest([
      'N' || n_nationkey, 'R' || n_regionkey, 'ROOT']) AS anc(ancestor)
  ),
  matches AS (
    SELECT CAST(o_custkey AS VARCHAR) AS protein_acc,
           'SIG' || (o_orderkey % 50) AS signature_acc,
           'DB' || ((o_orderkey % 50) % 4) AS db
    FROM orders
  ),
  protein_proteomes AS (
    SELECT CAST(c_custkey AS VARCHAR) AS protein_acc,
           c_mktsegment AS proteome_id
    FROM customer WHERE c_acctbal >= 0
  ),
  protein_structures AS (
    SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS protein_acc,
           'PDB' || (o_orderkey % 30) AS pdb_id
    FROM orders
  ),
  pdb_matches AS (
    SELECT DISTINCT 'PDB' || (o_orderkey % 30) AS pdb_id,
           'SIG' || (o_orderkey % 50) AS signature_acc,
           'DB' || ((o_orderkey % 50) % 4) AS db
    FROM orders
  ),
  signature_clans AS (
    SELECT 'SIG' || i AS signature_acc, 'CL' || (i % 5) AS clan_acc
    FROM unnest(generate_series(0, 49)) AS s(i) WHERE i % 3 = 0
  ),
  domorg_members AS (
    SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS protein_acc,
           'SIG' || (o_orderkey % 50) AS signature_acc,
           'DOM' || (o_custkey % 20) AS dom_id
    FROM orders WHERE (o_orderkey % 50) % 2 = 0
  )
"""

# {db: {count, entries:{acc: n}}} accumulator rendered canonically,
# parameterized by the spine relation/key (see _db_nested_counts).
_DB_JSON_CTE = """
  acc_counts AS (
    SELECT {key}, db, signature_acc, count(*) AS n_matches
    FROM matched GROUP BY 1, 2, 3
  ),
  acc_lists AS (
    SELECT {key}, db,
           string_agg(signature_acc || '=' || n_matches, ',' ORDER BY signature_acc) AS accs
    FROM acc_counts GROUP BY 1, 2
  ),
  db_protein_counts AS (
    SELECT {key}, db, count(DISTINCT protein_acc) AS n_prot_db
    FROM matched GROUP BY 1, 2
  ),
  db_json AS (
    SELECT a.{key},
           string_agg(a.db || ':' || d.n_prot_db || '[' || a.accs || ']',
                      ';' ORDER BY a.db) AS db_json
    FROM acc_lists a
    JOIN db_protein_counts d ON a.{key} = d.{key} AND a.db = d.db
    GROUP BY 1
  )
"""


register(QuerySpec(
    name="mart_taxon2xrefs",
    tags=("X5", "A8", "A9", "A13", "G1"),
    description="taxon2xrefs mart with lineage propagation (reference "
    "interpro/xrefs/taxa.py:40-229): ancestor-exploded rollup of protein/"
    "proteome/structure counts plus the per-database nested entry-count map "
    "rendered canonically.",
    build=lambda spark, sf: taxon_xrefs_mart(
        _proteins(spark, sf),
        _matches(spark, sf),
        _protein_proteomes(spark, sf),
        _protein_structures(spark, sf),
        _taxon_ancestors(spark, sf),
    ),
    oracle=f"""
        WITH {_SYN_CTE},
        spine AS (
          SELECT ta.ancestor AS tax_id, p.protein_acc
          FROM proteins p JOIN taxon_ancestors ta ON p.tax_id = ta.tax_id
        ),
        matched AS (
          SELECT s.tax_id, s.protein_acc, m.signature_acc, m.db
          FROM spine s JOIN matches m ON s.protein_acc = m.protein_acc
        ),
        {_DB_JSON_CTE.format(key="tax_id")},
        prot AS (SELECT tax_id, count(*) AS n_proteins FROM spine GROUP BY 1),
        prots_prot AS (
          SELECT s.tax_id, count(DISTINCT pp.proteome_id) AS n_proteomes
          FROM spine s JOIN protein_proteomes pp ON s.protein_acc = pp.protein_acc
          GROUP BY 1
        ),
        structs AS (
          SELECT s.tax_id, count(DISTINCT ps.pdb_id) AS n_structures
          FROM spine s JOIN protein_structures ps ON s.protein_acc = ps.protein_acc
          GROUP BY 1
        )
        SELECT p.tax_id, p.n_proteins,
               coalesce(pp.n_proteomes, 0) AS n_proteomes,
               coalesce(st.n_structures, 0) AS n_structures,
               coalesce(dj.db_json, '') AS db_json
        FROM prot p
        LEFT JOIN prots_prot pp ON p.tax_id = pp.tax_id
        LEFT JOIN structs st ON p.tax_id = st.tax_id
        LEFT JOIN db_json dj ON p.tax_id = dj.tax_id
    """,
))


register(QuerySpec(
    name="z_mart_proteome2xrefs",
    tags=("X5", "A8", "A13"),
    description="proteome2xrefs mart (reference interpro/xrefs/"
    "proteomes.py:39-90): per-proteome protein/structure counts and the "
    "per-database nested entry-count map.",
    build=lambda spark, sf: proteome_xrefs_mart(
        _protein_proteomes(spark, sf),
        _matches(spark, sf),
        _protein_structures(spark, sf),
    ),
    oracle=f"""
        WITH {_SYN_CTE},
        spine AS (SELECT proteome_id, protein_acc FROM protein_proteomes),
        matched AS (
          SELECT s.proteome_id, s.protein_acc, m.signature_acc, m.db
          FROM spine s JOIN matches m ON s.protein_acc = m.protein_acc
        ),
        {_DB_JSON_CTE.format(key="proteome_id")},
        prot AS (SELECT proteome_id, count(*) AS n_proteins FROM spine GROUP BY 1),
        structs AS (
          SELECT s.proteome_id, count(DISTINCT ps.pdb_id) AS n_structures
          FROM spine s JOIN protein_structures ps ON s.protein_acc = ps.protein_acc
          GROUP BY 1
        )
        SELECT p.proteome_id, p.n_proteins,
               coalesce(st.n_structures, 0) AS n_structures,
               coalesce(dj.db_json, '') AS db_json
        FROM prot p
        LEFT JOIN structs st ON p.proteome_id = st.proteome_id
        LEFT JOIN db_json dj ON p.proteome_id = dj.proteome_id
    """,
))


register(QuerySpec(
    # z_-parked in the r11 second-half rotation that promoted
    # stream_join: the nested-xref mart family keeps three in-window
    # members (mart_entry2xrefs, mart_taxon2xrefs, mart_clan2xrefs)
    name="z_mart_structure2xrefs",
    tags=("X5", "A8", "A13", "J2"),
    description="structure2xrefs mart (reference interpro/xrefs/"
    "structures.py:40-122): per-PDB entry sets per database, clan ('sets') "
    "counts through the broadcast member->clan dim, and protein-side "
    "taxa/proteome/domain-organisation rollups.",
    build=lambda spark, sf: structure_xrefs_mart(
        _pdb_matches(spark, sf),
        _signature_clans(spark, sf),
        _protein_structures(spark, sf),
        _proteins(spark, sf),
        _protein_proteomes(spark, sf),
        _domorg_members(spark, sf).select("protein_acc", "dom_id").distinct(),
    ),
    oracle=f"""
        WITH {_SYN_CTE},
        entries AS (
          SELECT pdb_id, db, count(DISTINCT signature_acc) AS n_accs
          FROM pdb_matches GROUP BY 1, 2
        ),
        entries_j AS (
          SELECT pdb_id, CAST(sum(n_accs) AS BIGINT) AS n_entries,
                 string_agg(db || ':' || n_accs, ';' ORDER BY db) AS entries_json
          FROM entries GROUP BY 1
        ),
        clans AS (
          SELECT pm.pdb_id, count(DISTINCT sc.clan_acc) AS n_sets
          FROM pdb_matches pm JOIN signature_clans sc USING (signature_acc)
          GROUP BY 1
        ),
        pdm AS (
          SELECT DISTINCT protein_acc, dom_id FROM domorg_members
        ),
        prot_side AS (
          SELECT ps.pdb_id,
                 count(DISTINCT ps.protein_acc) AS n_proteins,
                 count(DISTINCT p.tax_id) AS n_taxa,
                 count(DISTINCT pp.proteome_id) AS n_proteomes,
                 count(DISTINCT d.dom_id) AS n_dom_orgs
          FROM protein_structures ps
          JOIN proteins p ON ps.protein_acc = p.protein_acc
          LEFT JOIN protein_proteomes pp ON ps.protein_acc = pp.protein_acc
          LEFT JOIN pdm d ON ps.protein_acc = d.protein_acc
          GROUP BY 1
        )
        SELECT e.pdb_id, e.n_entries, e.entries_json,
               coalesce(c.n_sets, 0) AS n_sets,
               coalesce(s.n_proteins, 0) AS n_proteins,
               coalesce(s.n_taxa, 0) AS n_taxa,
               coalesce(s.n_proteomes, 0) AS n_proteomes,
               coalesce(s.n_dom_orgs, 0) AS n_dom_orgs
        FROM entries_j e
        LEFT JOIN clans c ON e.pdb_id = c.pdb_id
        LEFT JOIN prot_side s ON e.pdb_id = s.pdb_id
    """,
))


register(QuerySpec(
    name="mart_clan2xrefs",
    tags=("X5", "A8", "A13", "J2", "J10"),
    description="clan2xrefs mart (reference interpro/xrefs/clans.py:41-137): "
    "matches routed through the broadcast member->clan dim roll up to "
    "distinct entries/proteins/proteomes/taxa, match-row protein lists, "
    "composite-key domain-organisation membership, and the pop-once "
    "(set-union) structure counts.",
    build=lambda spark, sf: clan_xrefs_mart(
        _matches(spark, sf),
        _signature_clans(spark, sf),
        _proteins(spark, sf),
        _protein_proteomes(spark, sf),
        _domorg_members(spark, sf),
        _pdb_matches(spark, sf).select("signature_acc", "pdb_id").distinct(),
    ),
    oracle=f"""
        WITH {_SYN_CTE},
        cm AS (
          SELECT m.protein_acc, m.signature_acc, sc.clan_acc
          FROM matches m JOIN signature_clans sc USING (signature_acc)
        ),
        base AS (
          SELECT cm.clan_acc,
                 count(DISTINCT cm.signature_acc) AS n_entries,
                 count(*) AS n_protein_matches,
                 count(DISTINCT cm.protein_acc) AS n_proteins,
                 count(DISTINCT pp.proteome_id) AS n_proteomes,
                 count(DISTINCT p.tax_id) AS n_taxa
          FROM cm
          JOIN proteins p ON cm.protein_acc = p.protein_acc
          LEFT JOIN protein_proteomes pp ON cm.protein_acc = pp.protein_acc
          GROUP BY 1
        ),
        doms AS (
          SELECT cm.clan_acc, count(DISTINCT dm.dom_id) AS n_dom_orgs
          FROM cm JOIN domorg_members dm
            ON cm.protein_acc = dm.protein_acc
           AND cm.signature_acc = dm.signature_acc
          GROUP BY 1
        ),
        structs AS (
          SELECT cs.clan_acc, count(DISTINCT es.pdb_id) AS n_structures
          FROM (SELECT DISTINCT clan_acc, signature_acc FROM cm) cs
          JOIN (SELECT DISTINCT signature_acc, pdb_id FROM pdb_matches) es
            USING (signature_acc)
          GROUP BY 1
        )
        SELECT b.clan_acc, b.n_entries, b.n_protein_matches, b.n_proteins,
               b.n_proteomes, b.n_taxa,
               coalesce(d.n_dom_orgs, 0) AS n_dom_orgs,
               coalesce(s.n_structures, 0) AS n_structures
        FROM base b
        LEFT JOIN doms d ON b.clan_acc = d.clan_acc
        LEFT JOIN structs s ON b.clan_acc = s.clan_acc
    """,
))


def _entry_mart(spark, sf):
    sig_id = F.col("o_orderkey") % 50
    protein_entries = (
        t(spark, sf, "orders")
        .filter(sig_id % 3 == 0)
        .select(
            F.col("o_custkey").cast("string").alias("protein_acc"),
            F.concat_ws("", F.lit("IPR"), sig_id % 10).alias("entry_acc"),
        )
    )
    protein_taxa = _proteins(spark, sf).select(
        "protein_acc", F.col("tax_id")
    )
    # protein-level EC assignment with a 40/40/20 split: two ECs share
    # the 1.2.3 stem (each fails the 60% coverage bar alone, together
    # the stem passes — exercising the fallback), the third always fails
    c10 = F.col("c_custkey") % 10
    protein_ecs = t(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("protein_acc"),
        F.when(c10 < 4, "1.2.3.4").when(c10 < 8, "1.2.3.9").otherwise("5.5.5.5").alias("ec"),
    )
    entry_go = spark.range(10).select(
        F.concat_ws("", F.lit("IPR"), F.col("id")).alias("entry_acc"),
        F.explode(
            F.array(
                F.concat_ws("", F.lit("GO:00"), F.col("id")),
                F.concat_ws("", F.lit("GO:01"), (F.col("id") + 1) % 10),
            )
        ).alias("go_id"),
    )
    return entry_xrefs_mart(
        protein_entries,
        protein_taxa,
        _protein_proteomes(spark, sf),
        _protein_structures(spark, sf),
        protein_ecs=protein_ecs,
        entry_go=entry_go,
    )


register(QuerySpec(
    name="mart_entry2xrefs",
    tags=("X5", "A3", "A8", "A13", "F8"),
    description="entry2xrefs mart (reference interpro/xrefs/entries.py:"
    "258-505): per-entry distinct protein/taxon/proteome/structure counts, "
    "the canonical per-taxon protein-count JSON map with the jsonify "
    "empty->NULL rule, EC numbers through the coverage filter + stem "
    "fallback (reference uniprot/proteins.py enzyme rules), and sorted GO "
    "term lists.",
    build=_entry_mart,
    oracle=f"""
        WITH {_SYN_CTE},
        pe AS (
          SELECT CAST(o_custkey AS VARCHAR) AS protein_acc,
                 'IPR' || ((o_orderkey % 50) % 10) AS entry_acc
          FROM orders WHERE (o_orderkey % 50) % 3 = 0
        ),
        prot AS (
          SELECT entry_acc, count(DISTINCT protein_acc) AS n_proteins
          FROM pe GROUP BY 1
        ),
        taxa_counts AS (
          SELECT pe.entry_acc, p.tax_id, count(DISTINCT pe.protein_acc) AS n
          FROM pe JOIN proteins p USING (protein_acc)
          GROUP BY 1, 2
        ),
        taxa_nested AS (
          SELECT entry_acc, count(DISTINCT tax_id) AS n_taxa,
                 '{{' || string_agg('"' || tax_id || '":' || n, ',' ORDER BY tax_id) || '}}'
                   AS taxa_json
          FROM taxa_counts GROUP BY 1
        ),
        proteomes AS (
          SELECT pe.entry_acc, count(DISTINCT pp.proteome_id) AS n_proteomes
          FROM pe JOIN protein_proteomes pp USING (protein_acc)
          GROUP BY 1
        ),
        structs AS (
          SELECT pe.entry_acc, count(DISTINCT ps.pdb_id) AS n_structures
          FROM pe JOIN protein_structures ps USING (protein_acc)
          GROUP BY 1
        ),
        protein_ecs AS (
          SELECT CAST(c_custkey AS VARCHAR) AS protein_acc,
                 CASE WHEN c_custkey % 10 < 4 THEN '1.2.3.4'
                      WHEN c_custkey % 10 < 8 THEN '1.2.3.9'
                      ELSE '5.5.5.5' END AS ec
          FROM customer
        ),
        eep AS (
          SELECT DISTINCT pe.entry_acc, pec.ec, pe.protein_acc
          FROM pe JOIN protein_ecs pec USING (protein_acc)
        ),
        ec_counts AS (
          SELECT e.entry_acc, e.ec, count(DISTINCT e.protein_acc) AS cnt,
                 p.n_proteins
          FROM eep e JOIN prot p USING (entry_acc)
          GROUP BY 1, 2, p.n_proteins
        ),
        passing AS (
          SELECT entry_acc, ec AS term FROM ec_counts
          WHERE cnt >= 3 AND cnt / n_proteins >= 0.6
        ),
        failing_stems AS (
          SELECT entry_acc,
                 array_to_string((string_split(ec, '.'))[1:3], '.') AS stem
          FROM ec_counts
          WHERE cnt >= 3 AND cnt / n_proteins < 0.6
          GROUP BY 1, 2 HAVING count(*) > 1
        ),
        stem_members AS (
          SELECT s.entry_acc, s.stem AS term
          FROM (
            SELECT e.entry_acc, fs.stem, count(DISTINCT e.protein_acc) AS cnt
            FROM eep e JOIN failing_stems fs USING (entry_acc)
            WHERE e.ec LIKE fs.stem || '%'
            GROUP BY 1, 2
          ) s JOIN prot p USING (entry_acc)
          WHERE s.cnt >= 3 AND s.cnt / p.n_proteins >= 0.6
        ),
        ec_json AS (
          SELECT entry_acc, string_agg(DISTINCT term, ',' ORDER BY term) AS ec_json
          FROM (SELECT * FROM passing UNION ALL SELECT * FROM stem_members)
          GROUP BY 1
        ),
        entry_go AS (
          SELECT 'IPR' || i AS entry_acc, go_id
          FROM unnest(generate_series(0, 9)) AS g(i),
               LATERAL unnest(['GO:00' || i, 'GO:01' || ((i + 1) % 10)]) AS t(go_id)
        ),
        go_json AS (
          SELECT entry_acc, string_agg(DISTINCT go_id, ',' ORDER BY go_id) AS go_json
          FROM entry_go GROUP BY 1
        )
        SELECT p.entry_acc, p.n_proteins,
               coalesce(tn.n_taxa, 0) AS n_taxa,
               coalesce(pr.n_proteomes, 0) AS n_proteomes,
               coalesce(st.n_structures, 0) AS n_structures,
               tn.taxa_json,
               coalesce(ej.ec_json, '') AS ec_json,
               coalesce(gj.go_json, '') AS go_json
        FROM prot p
        LEFT JOIN taxa_nested tn ON p.entry_acc = tn.entry_acc
        LEFT JOIN proteomes pr ON p.entry_acc = pr.entry_acc
        LEFT JOIN structs st ON p.entry_acc = st.entry_acc
        LEFT JOIN ec_json ej ON p.entry_acc = ej.entry_acc
        LEFT JOIN go_json gj ON p.entry_acc = gj.entry_acc
    """,
))


# --- isoforms (reference interpro/oracle/matches.py:585-640) ---------

def _variants(spark, sf):
    return t(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("protein_acc"),
        (F.lit(1) + F.col("c_custkey") % 3).alias("variant"),
        (F.lit(100) + F.col("c_custkey") % 50).alias("length"),
        # %120 vs an 80-row uniparc dim: a third of the checksums have
        # no sequence row, exercising the INNER JOIN drop
        F.concat_ws("", F.lit("CRC"), F.col("c_custkey") % 120).alias("crc64"),
    )


def _uniparc_seqs(spark, sf):
    return spark.range(80).select(
        F.concat_ws("", F.lit("CRC"), F.col("id")).alias("crc64"),
        # seq_short only on even ids, exercising the coalesce fallback
        F.when(
            F.col("id") % 2 == 0, F.concat_ws("", F.lit("S"), F.col("id"))
        ).alias("seq_short"),
        F.concat_ws("", F.lit("L"), F.col("id")).alias("seq_long"),
    )


def _variant_matches(spark, sf):
    # variant component ranges 1-4 while masters only carry 1-3 (and a
    # third of masters dropped by crc64) -> plenty of orphan matches
    # for the KeyError-continue semantics
    return t(spark, sf, "orders").select(
        F.concat_ws(
            "-",
            F.col("o_custkey").cast("string"),
            (F.lit(1) + F.col("o_orderkey") % 4).cast("string"),
        ).alias("accession"),
        F.concat_ws("", F.lit("SIG"), F.col("o_orderkey") % 50).alias(
            "signature_acc"
        ),
    )


def _isoforms_mart(spark, sf):
    from ..domain.isoforms import attach_isoform_matches, isoform_master

    master = isoform_master(_variants(spark, sf), _uniparc_seqs(spark, sf))
    kept = attach_isoform_matches(master, _variant_matches(spark, sf))
    counts = kept.groupBy("accession").agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("signature_acc").alias("n_signatures"),
    )
    return (
        master.join(counts, "accession", "left")
        .withColumn("n_matches", F.coalesce("n_matches", F.lit(0)))
        .withColumn("n_signatures", F.coalesce("n_signatures", F.lit(0)))
    )


register(QuerySpec(
    name="z_mart_isoforms",
    # z_-parked in the r10 rotation that promoted bpe_tokenize: X1 stays
    # covered by domain_match_summary + the golden-tested merge pipeline
    tags=("X1", "J1", "P4", "A5"),
    description="Isoform master + match attach (reference export_isoforms, "
    "interpro/oracle/matches.py:585-640): VARSPLIC master INNER JOIN uniparc "
    "on crc64, coalesce(seq_short, seq_long), variant-accession key build, "
    "and the KeyError-continue orphan-match drop as a left-semi join. The "
    "downstream merge composition (merge_isoform_matches) reuses the X1 "
    "pipeline and is golden-tested in tests/test_pfam_isoforms.py.",
    build=_isoforms_mart,
    oracle="""
        WITH variants AS (
          SELECT CAST(c_custkey AS VARCHAR) AS protein_acc,
                 1 + c_custkey % 3 AS variant,
                 100 + c_custkey % 50 AS length,
                 'CRC' || (c_custkey % 120) AS crc64
          FROM customer
        ),
        uniparc AS (
          SELECT 'CRC' || i AS crc64,
                 CASE WHEN i % 2 = 0 THEN 'S' || i END AS seq_short,
                 'L' || i AS seq_long
          FROM unnest(generate_series(0, 79)) AS s(i)
        ),
        master AS (
          SELECT v.protein_acc || '-' || v.variant AS accession,
                 v.protein_acc AS protein, v.length, v.crc64,
                 coalesce(u.seq_short, u.seq_long) AS sequence
          FROM variants v JOIN uniparc u USING (crc64)
        ),
        vmatches AS (
          SELECT CAST(o_custkey AS VARCHAR) || '-' || (1 + o_orderkey % 4)
                   AS accession,
                 'SIG' || (o_orderkey % 50) AS signature_acc
          FROM orders
        ),
        counts AS (
          SELECT accession, count(*) AS n_matches,
                 count(DISTINCT signature_acc) AS n_signatures
          FROM vmatches
          WHERE accession IN (SELECT accession FROM master)
          GROUP BY 1
        )
        SELECT m.accession, m.protein, m.length, m.crc64, m.sequence,
               coalesce(c.n_matches, 0) AS n_matches,
               coalesce(c.n_signatures, 0) AS n_signatures
        FROM master m LEFT JOIN counts c USING (accession)
    """,
))


# --- Pfam alignments (reference interpro/oracle/pfam.py:140-166) -----

def _pfam_a(spark, sf):
    return t(spark, sf, "part").select(
        F.concat_ws("", F.lit("PF"), F.col("p_partkey")).alias("accession"),
        F.encode(F.col("p_name"), "utf-8").alias("seed_aln"),
        F.col("p_size").alias("seed_num"),
        F.encode(
            F.concat_ws("|", F.col("p_name"), F.col("p_brand")), "utf-8"
        ).alias("full_aln"),
        (F.col("p_size") * 3).alias("full_num"),
    )


def _pfam_alignments_mart(spark, sf):
    from ..domain.pfam import pfam_alignments

    return pfam_alignments(_pfam_a(spark, sf)).select(
        "accession",
        "aln_type",
        # the binary payload itself is checked by content hash + size
        # (raw bytes don't survive the driver's pandas stringify)
        F.md5("alignment").alias("aln_md5"),
        F.length("alignment").alias("n_bytes"),
        "n_sequences",
    )


register(QuerySpec(
    name="z_mart_pfam_alignments",
    # z_-parked in the r10 rotation that promoted kcore: X5/F4 stay
    # covered by mart_structure2xrefs + z_binary_payload_meta goldens
    tags=("X5", "U1", "F3", "F4"),
    description="Pfam seed/full alignment fan-out (reference "
    "export_alignments, interpro/oracle/pfam.py:140-166): 2-way stack "
    "unpivot over opaque binary alignment payloads, verified by md5 + "
    "octet length. Family details JSON (pfam.py:13-67) golden-tested in "
    "tests/test_pfam_isoforms.py.",
    build=_pfam_alignments_mart,
    oracle="""
        WITH pfam_a AS (
          SELECT 'PF' || p_partkey AS accession,
                 p_name AS seed_aln, p_size AS seed_num,
                 p_name || '|' || p_brand AS full_aln, p_size * 3 AS full_num
          FROM part
        ),
        un AS (
          SELECT accession, 'alignment:seed' AS aln_type,
                 seed_aln AS alignment, seed_num AS n_sequences
          FROM pfam_a
          UNION ALL
          SELECT accession, 'alignment:full', full_aln, full_num
          FROM pfam_a
        )
        SELECT accession, aln_type, md5(alignment) AS aln_md5,
               octet_length(CAST(alignment AS BLOB)) AS n_bytes, n_sequences
        FROM un
    """,
))


class _Release(NamedTuple):
    """One release step of a maintained mart, keyed like its habitat:
    the OLD and NEW snapshots and the changelog between them per
    changelog arm tag, plus the static dims by ``DimUse`` name (and
    any render-only relation). A mart's batch IVM spec and its stream
    spec fold the same one."""

    old: dict
    new: dict
    deltas: dict
    dims: dict


def _release(old: dict, new: dict, images: dict, dims: dict) -> _Release:
    """``images`` gives, per arm tag, the (key columns, image columns)
    of that arm's ``snapshot_delta_images`` changelog."""
    return _Release(
        old,
        new,
        {
            tag: snapshot_delta_images(old[tag], new[tag], keys, cols)
            for tag, (keys, cols) in images.items()
        },
        dims,
    )


_PROTEIN_IMAGES = (["protein_acc"], ["tax_id"])
_MATCH_IMAGES = (["match_id"], ["protein_acc", "signature_acc", "database"])


def _protein_releases(cust):
    """The OLD/NEW protein-dim snapshots of the mart IVM specs, from
    the customer table: the new release filters %19 keys out; the old
    one lacks %17 keys (inserted since), still has the %19 ones
    (deleted since) and puts %13 keys on a different taxon (moved)."""
    ck = F.col("c_custkey")
    p_new = cust.filter(ck % 19 != 0).select(
        ck.cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("N"), F.col("c_nationkey")).alias("tax_id"),
    )
    p_old = cust.filter(ck % 17 != 0).select(
        ck.cast("string").alias("protein_acc"),
        F.concat_ws(
            "",
            F.lit("N"),
            (
                F.col("c_nationkey")
                + F.when(ck % 13 == 0, F.lit(1)).otherwise(F.lit(0))
            )
            % 25,
        ).alias("tax_id"),
    )
    return p_old, p_new


def _match_releases(spark, sf):
    """The shared OLD/NEW match snapshots of every xrefs-mart IVM spec:
    the old release filters %7 keys out and shifts %13 signatures; the
    new filters %11 — so one release delta carries inserts, deletes
    AND signature changes."""
    orders = t(spark, sf, "orders")
    ok = F.col("o_orderkey")
    sig_new = ok % 50
    m_new = orders.filter(ok % 11 != 0).select(
        ok.alias("match_id"),
        F.col("o_custkey").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("SIG"), sig_new).alias("signature_acc"),
        F.concat_ws("", F.lit("DB"), sig_new % 4).alias("database"),
    )
    sig_old = (ok + F.when(ok % 13 == 0, F.lit(3)).otherwise(F.lit(0))) % 50
    m_old = orders.filter(ok % 7 != 0).select(
        ok.alias("match_id"),
        F.col("o_custkey").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("SIG"), sig_old).alias("signature_acc"),
        F.concat_ws("", F.lit("DB"), sig_old % 4).alias("database"),
    )
    return m_old, m_new


def _taxon_release(spark, sf) -> _Release:
    """The taxon mart's release: protein and match snapshots (the
    bilinear pair) over the shared pp/ps dims and the taxonomy
    ancestor closure."""
    p_old, p_new = _protein_releases(t(spark, sf, "customer"))
    m_old, m_new = _match_releases(spark, sf)
    return _release(
        {"protein": p_old, "match": m_old},
        {"protein": p_new, "match": m_new},
        {"protein": _PROTEIN_IMAGES, "match": _MATCH_IMAGES},
        {
            "pp": _protein_proteomes(spark, sf),
            "ps": _protein_structures(spark, sf),
            "anc": _taxon_ancestors(spark, sf),
        },
    )


# Phase wall-times of the LAST _stream_mart_spec build — bench.py
# reports stream_ivm_mart_entry's as its entry_phases field, the
# r15-verdict-requested seed_s/steady_s split (fixture build vs
# one-time state seed vs the 3-epoch stream drain). Measurement hook
# only: timers around existing calls, no behavior change.
STREAM_PHASES: dict[str, float] = {}


def _stream_mart_spec(
    spark: SparkSession,
    sf: str,
    habitat: MartHabitat,
    fixture_name: str,
    release,
    split,
    render_extra: tuple[str, ...] = (),
):
    """The one body of every maintained-mart stream spec: the release
    changelog of ``release(spark, sf)`` (the fixture the mart's batch
    IVM spec folds) unified into the habitat's discriminated stream,
    written as 3 micro-batch files by ``split`` under a fresh
    ``fixture_dir(fixture_name)``, the COW state seeded from the old
    release, and the files drained one epoch each. ``render_extra``
    names release dims the render takes as keyword arguments. Returns
    the rendered mart at the last committed version — equal to the
    full rebuild of the new release, because any micro-batch
    partitioning of the changelog converges to the same supports."""
    t0 = time.time()
    rel = release(spark, sf)
    unified = unify(habitat, rel.deltas)
    root = fixture_dir(fixture_name, sf)
    state = root + "_state"
    for path in (root, state, state + "_chk"):
        shutil.rmtree(path, ignore_errors=True)
    # ONE partitionBy write builds all three micro-batch files (r16,
    # guide §2.4): the full-outer snapshot_delta_images joins run once
    # with no persist, where the r15 shape ran them once into a cache
    # plus three filtered single-task write jobs.
    write_split_fixture(unified, split, 3, f"{root}/changes")
    t1 = time.time()
    seed_state(spark, habitat, state, rel.old, rel.dims, n_buckets=16)
    t2 = time.time()
    stream = (
        spark.readStream.schema(unified.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/changes")
    )
    out = maintain_stream(
        spark, habitat, stream, state, rel.dims, n_buckets=16,
        render_extra={k: rel.dims[k] for k in render_extra},
    )
    STREAM_PHASES.clear()
    STREAM_PHASES.update({
        "fixtures_s": t1 - t0,
        "seed_s": t2 - t1,
        "steady_s": time.time() - t2,
    })
    return out


def _ivm_mart_taxonomy(spark, sf):
    """Release-over-release INCREMENTAL rebuild of the taxon-xrefs
    mart (domain/mart_ivm.py): seed the count-pyramid supports from
    the OLD release's protein/match snapshots, fold the protein AND
    match changelogs (snapshot_delta_images) through the bilinear
    delta rule, render — and the result must equal the full rebuild
    of the NEW release (the oracle recomputes it in DuckDB). This is
    the reference's per-release full-DAG pain
    (reference interpro7dw/cli.py:101-986, export-entry2xrefs
    budgeted <=24h/100GB at cli.py:355) replaced by a |delta|-cost
    merge."""
    r = _taxon_release(spark, sf)
    d = r.dims
    sup1 = maintain_taxon_supports(
        TAXON_HABITAT.seed(r.old, d), r.deltas["protein"], r.deltas["match"],
        r.new["protein"], r.old["match"].drop("match_id"),
        d["pp"], d["ps"], d["anc"],
    )
    return TAXON_HABITAT.render(sup1)


register(QuerySpec(
    # promoted into the driver window in the r13 rotation (was
    # z_ivm_mart_taxonomy) — the r12 headline capability
    name="ivm_mart_taxonomy",
    tags=("X5", "A8", "A9", "CD3", "A13"),
    description="INCREMENTALLY MAINTAINED taxon2xrefs mart (domain/"
    "mart_ivm.py): the real warehouse mart's count pyramid — protein "
    "counts, distinct proteome/structure counts, the per-database "
    "nested entry map — kept as a count-IVM support PYRAMID (five "
    "level-1 supports plus the level-2 sup_db maintained from the "
    "facts-scale sup_prot_db's enter/exit transitions, so the render "
    "reads only aggregate-sized supports); a protein "
    "changelog (inserts/deletes/taxon moves) and a match changelog "
    "(inserts/deletes/signature changes) fold in via the bilinear "
    "delta rule (dM JOIN P_new + M_old JOIN dP, both |delta|-pruned), "
    "lifted through the taxonomy ancestor closure. Oracle: the FULL "
    "rebuild of the new release in DuckDB — maintained == recomputed, "
    "value-hashed.",
    build=_ivm_mart_taxonomy,
    oracle=f"""
        WITH proteins AS (
          SELECT CAST(c_custkey AS VARCHAR) AS protein_acc,
                 'N' || c_nationkey AS tax_id
          FROM customer WHERE c_custkey % 19 <> 0
        ),
        taxon_ancestors AS (
          SELECT 'N' || n_nationkey AS tax_id, anc.ancestor
          FROM nation, LATERAL unnest([
            'N' || n_nationkey, 'R' || n_regionkey, 'ROOT']) AS anc(ancestor)
        ),
        matches AS (
          SELECT CAST(o_custkey AS VARCHAR) AS protein_acc,
                 'SIG' || (o_orderkey % 50) AS signature_acc,
                 'DB' || ((o_orderkey % 50) % 4) AS db
          FROM orders WHERE o_orderkey % 11 <> 0
        ),
        protein_proteomes AS (
          SELECT CAST(c_custkey AS VARCHAR) AS protein_acc,
                 c_mktsegment AS proteome_id
          FROM customer WHERE c_acctbal >= 0
        ),
        protein_structures AS (
          SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS protein_acc,
                 'PDB' || (o_orderkey % 30) AS pdb_id
          FROM orders
        ),
        spine AS (
          SELECT ta.ancestor AS tax_id, p.protein_acc
          FROM proteins p JOIN taxon_ancestors ta ON p.tax_id = ta.tax_id
        ),
        matched AS (
          SELECT s.tax_id, s.protein_acc, m.signature_acc, m.db
          FROM spine s JOIN matches m ON s.protein_acc = m.protein_acc
        ),
        {_DB_JSON_CTE.format(key="tax_id")},
        prot AS (SELECT tax_id, count(*) AS n_proteins FROM spine GROUP BY 1),
        prots_prot AS (
          SELECT s.tax_id, count(DISTINCT pp.proteome_id) AS n_proteomes
          FROM spine s JOIN protein_proteomes pp ON s.protein_acc = pp.protein_acc
          GROUP BY 1
        ),
        structs AS (
          SELECT s.tax_id, count(DISTINCT ps.pdb_id) AS n_structures
          FROM spine s JOIN protein_structures ps ON s.protein_acc = ps.protein_acc
          GROUP BY 1
        )
        SELECT p.tax_id, p.n_proteins,
               coalesce(pp.n_proteomes, 0) AS n_proteomes,
               coalesce(st.n_structures, 0) AS n_structures,
               coalesce(dj.db_json, '') AS db_json
        FROM prot p
        LEFT JOIN prots_prot pp ON p.tax_id = pp.tax_id
        LEFT JOIN structs st ON p.tax_id = st.tax_id
        LEFT JOIN db_json dj ON p.tax_id = dj.tax_id
    """,
))


def _stream_ivm_mart(spark, sf):
    """The SAME release changelog as ivm_mart_taxonomy, drained as a
    STREAM (the taxon habitat, streaming/mart_stream.py): protein+match
    changes interleaved in one discriminated stream over 3 micro-batch
    files, folded per epoch against COW-stored protein/match state,
    supports committed as atomic version directories. Final rendered
    mart must equal the full rebuild of the new release — same oracle
    as the batch maintainer, because any micro-batch partitioning of
    the changelog converges to the same supports."""
    return _stream_mart_spec(
        spark, sf, TAXON_HABITAT, "ivm_mart_stream", _taxon_release,
        F.coalesce(F.col("match_id") % 3, F.ascii(F.col("protein_acc")) % 3),
    )


register(QuerySpec(
    name="z_stream_ivm_mart",
    tags=("X5", "A8", "A9", "CD3", "ST4"),
    description="The REAL taxon2xrefs warehouse mart maintained as a "
    "STANDING QUERY (streaming/mart_stream.py): protein and match "
    "changelogs interleave in one discriminated stream; each "
    "micro-batch advances the protein-dim COW store, the "
    "protein-bucketed match COW store (so the bilinear rescan is a "
    "partition-pruned bucket read), and the count-pyramid supports "
    "(the facts-scale sup_prot_db as a COW touched-bucket merge whose "
    "transitions maintain the level-2 sup_db the render reads), "
    "committed atomically per version. Same epoch-"
    "idempotent replay guard as the sum/count IVM streams. Oracle: "
    "the full DuckDB rebuild of the new release — identical to "
    "ivm_mart_taxonomy, because any micro-batch partitioning of "
    "the changelog converges to the same supports.",
    build=_stream_ivm_mart,
    oracle=REGISTRY["ivm_mart_taxonomy"].oracle,
))


def _entry_release_tables(spark, sf) -> dict:
    """The OLD/NEW release snapshots the entry-mart IVM specs share:
    protein dim (taxon moves, inserts, deletes), protein->entry
    assignment (integration moves, match arrivals/removals), EC and
    GO dims — all deterministic derivations of the driver tables,
    matching the full-rebuild oracle's CTEs."""
    cust = t(spark, sf, "customer")
    ck = F.col("c_custkey")
    p_old, p_new = _protein_releases(cust)
    orders = t(spark, sf, "orders")
    ok = F.col("o_orderkey")
    sig_new = ok % 50
    pe_new = orders.filter((sig_new % 3 == 0) & (ok % 11 != 0)).select(
        ok.alias("pe_id"),
        F.col("o_custkey").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("IPR"), sig_new % 10).alias("entry_acc"),
    )
    sig_old = (ok + F.when(ok % 13 == 0, F.lit(3)).otherwise(F.lit(0))) % 50
    pe_old = orders.filter((sig_old % 3 == 0) & (ok % 7 != 0)).select(
        ok.alias("pe_id"),
        F.col("o_custkey").cast("string").alias("protein_acc"),
        F.concat_ws("", F.lit("IPR"), sig_old % 10).alias("entry_acc"),
    )
    pp = _protein_proteomes(spark, sf)
    ps = _protein_structures(spark, sf)
    c10 = F.col("c_custkey") % 10
    pec = cust.select(
        ck.cast("string").alias("protein_acc"),
        F.when(c10 < 4, "1.2.3.4").when(c10 < 8, "1.2.3.9").otherwise("5.5.5.5").alias("ec"),
    )
    ego = spark.range(10).select(
        F.concat_ws("", F.lit("IPR"), F.col("id")).alias("entry_acc"),
        F.explode(
            F.array(
                F.concat_ws("", F.lit("GO:00"), F.col("id")),
                F.concat_ws("", F.lit("GO:01"), (F.col("id") + 1) % 10),
            )
        ).alias("go_id"),
    )
    return {
        "p_old": p_old, "p_new": p_new,
        "pe_old": pe_old, "pe_new": pe_new,
        "pp": pp, "ps": ps, "pec": pec, "ego": ego,
    }


def _entry_release(spark, sf) -> _Release:
    """The entry mart's release (:func:`_entry_release_tables`) keyed
    like its habitat; the GO dim rides along for the render."""
    r = _entry_release_tables(spark, sf)
    return _release(
        {"assign": r["pe_old"], "protein": r["p_old"]},
        {"assign": r["pe_new"], "protein": r["p_new"]},
        {
            "assign": (["pe_id"], ["protein_acc", "entry_acc"]),
            "protein": _PROTEIN_IMAGES,
        },
        {"pp": r["pp"], "ps": r["ps"], "pec": r["pec"], "entry_go": r["ego"]},
    )


def _ivm_mart_entry(spark, sf):
    """Release-over-release INCREMENTAL rebuild of the entry-xrefs
    mart — the reference's single worst release cost
    (export-entry2xrefs budgeted <=24h/100GB,
    /root/reference/interpro7dw/cli.py:355) — via the entry count
    pyramid of domain/mart_ivm.py: seed the entry support pyramid from
    the OLD release, fold the protein->entry assignment changelog AND
    the protein-dim changelog (bilinear rule), render with the exact
    entry_xrefs_mart semantics INCLUDING the EC coverage filter +
    stem fallback (a pure threshold function of maintained counts)
    and GO lists. Oracle: the full rebuild of the NEW release."""
    r = _entry_release(spark, sf)
    d = r.dims
    sup1 = maintain_entry_supports(
        ENTRY_HABITAT.seed(r.old, d), r.deltas["assign"], r.deltas["protein"],
        r.new["protein"], r.old["assign"].drop("pe_id"),
        d["pp"], d["ps"], d["pec"],
    )
    return ENTRY_HABITAT.render(sup1, entry_go=d["entry_go"])


def _must_replace(s: str, old: str, new: str) -> str:
    assert s.count(old) == 1, f"oracle template drifted: {old!r}"
    return s.replace(old, new)


def _ivm_entry_oracle() -> str:
    """The full-rebuild oracle of mart_entry2xrefs with the NEW
    release's generations swapped in (pe filtered to surviving
    assignment rows; proteins to the new snapshot) — maintained ==
    recomputed, column for column including ec_json/go_json."""
    o = REGISTRY["mart_entry2xrefs"].oracle
    o = _must_replace(
        o,
        "FROM orders WHERE (o_orderkey % 50) % 3 = 0",
        "FROM orders WHERE (o_orderkey % 50) % 3 = 0 AND o_orderkey % 11 <> 0",
    )
    o = _must_replace(
        o,
        "'N' || c_nationkey AS tax_id\n    FROM customer\n  ),",
        "'N' || c_nationkey AS tax_id\n    FROM customer WHERE c_custkey % 19 <> 0\n  ),",
    )
    return o


register(QuerySpec(
    name="z_ivm_mart_entry2xrefs",
    tags=("X5", "A3", "A8", "A11", "CD3", "A13"),
    description="INCREMENTALLY MAINTAINED entry2xrefs mart (domain/"
    "mart_ivm.py, entry pyramid): the reference's worst release cost "
    "(export-entry2xrefs <=24h/100GB, cli.py:355) as a count-IVM "
    "support PYRAMID — per-entry protein refs, (entry,taxon,protein) refs, "
    "proteome/structure refs, and (entry,EC,protein) refs — folded "
    "forward from a protein->entry assignment changelog plus a "
    "protein-dim changelog via the bilinear rule. The EC coverage "
    "filter + 3-digit stem fallback and the per-taxon JSON map render "
    "from the maintained LEVEL-2 distinct counts (threshold functions "
    "of counts, not of facts; only the rare stem member union touches "
    "level 1, pruned to the failing candidates). Oracle: the full DuckDB rebuild of the "
    "new release, identical column set to mart_entry2xrefs.",
    build=_ivm_mart_entry,
    oracle=_ivm_entry_oracle(),
))


def _stream_ivm_mart_entry(spark, sf):
    """The SAME release changelog as z_ivm_mart_entry2xrefs, drained
    as a STREAM (the entry habitat, streaming/mart_stream.py):
    assignment + protein-dim changes interleaved in one discriminated
    stream over 3 micro-batch files, folded per epoch against
    COW-stored protein/assignment state; the three assignment-scale
    supports advance as COW touched-bucket merges, the two
    aggregate-sized ones rewrite whole, all committed atomically per
    version. Final rendered mart must equal the full rebuild of the
    new release."""
    return _stream_mart_spec(
        spark, sf, ENTRY_HABITAT, "ivm_mart_entry_stream", _entry_release,
        F.coalesce(F.col("pe_id") % 3, F.ascii(F.col("protein_acc")) % 3),
        render_extra=("entry_go",),
    )


def _ivm_count_pyramid(spark, sf):
    """Two-LEVEL maintained count pyramid
    (domain/mart_ivm.py::apply_count_delta_with_transitions): level 1
    is the (database, protein) ref-count support seeded from the OLD
    match snapshot; one release delta folds in and the SAME merge
    emits the enter/exit transitions that maintain level 2 — the
    per-database DISTINCT-protein count — without ever re-aggregating
    level 1. Oracle: the distinct count recomputed from the NEW
    snapshot, because maintained level 2 == level 1's live key count
    by induction."""
    from ..domain.mart_ivm import (
        apply_count_delta,
        apply_count_delta_with_transitions,
    )

    orders = t(spark, sf, "orders")
    ok = F.col("o_orderkey")
    db_old = F.concat_ws(
        "",
        F.lit("DB"),
        (ok + F.when(ok % 13 == 0, F.lit(3)).otherwise(F.lit(0))) % 4,
    )
    m_old = orders.filter(ok % 7 != 0).select(
        db_old.alias("database"),
        F.col("o_custkey").cast("string").alias("protein_acc"),
    )
    m_new = orders.filter(ok % 11 != 0).select(
        F.concat_ws("", F.lit("DB"), ok % 4).alias("database"),
        F.col("o_custkey").cast("string").alias("protein_acc"),
    )
    keys = ["database", "protein_acc"]
    l1 = m_old.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n"))
    l2 = l1.groupBy("database").agg(F.count(F.lit(1)).cast("long").alias("n"))
    delta = m_old.select(
        *keys, F.lit(-1).cast("long").alias("s")
    ).unionByName(m_new.select(*keys, F.lit(1).cast("long").alias("s")))
    _l1_new, trans = apply_count_delta_with_transitions(
        l1, delta, keys, ["database"]
    )
    return apply_count_delta(l2, trans, ["database"]).select(
        "database", F.col("n").alias("n_proteins")
    )


register(QuerySpec(
    # promoted into the driver window in the r14 rotation (was
    # z_ivm_count_pyramid) — the pyramid discipline primitive, now
    # wired into every maintained mart
    name="ivm_count_pyramid",
    tags=("A5", "CD3", "A8"),
    description="Two-level MAINTAINED count pyramid "
    "(domain/mart_ivm.py::apply_count_delta_with_transitions): the "
    "count merge that also emits enter/exit transitions, so the next "
    "level's DISTINCT count (here: distinct proteins per database) "
    "folds forward from level 1's membership changes alone — no level "
    "ever re-aggregates the facts-scale level below it, which is the "
    "discipline that makes mart RENDERS aggregate-sized at 100 TB — "
    "wired into the REAL taxon/entry habitats as LEVEL2_ROLLUPS / "
    "ENTRY_LEVEL2_ROLLUPS. "
    "Oracle: the distinct count fully recomputed from the new "
    "snapshot (maintained == recomputed).",
    build=_ivm_count_pyramid,
    oracle="""
        WITH m_new AS (
          SELECT 'DB' || (o_orderkey % 4) AS database,
                 CAST(o_custkey AS VARCHAR) AS protein_acc
          FROM orders WHERE o_orderkey % 11 <> 0
        )
        SELECT database,
               CAST(count(DISTINCT protein_acc) AS BIGINT) AS n_proteins
        FROM m_new GROUP BY 1
    """,
))


register(QuerySpec(
    # promoted into the driver window in the r14 rotation (was
    # z_stream_ivm_mart_entry) — the reference's worst release cost
    # as a standing query
    name="stream_ivm_mart_entry",
    tags=("X5", "A3", "A8", "A11", "CD3", "ST4"),
    description="The reference's WORST release cost (export-"
    "entry2xrefs <=24h/100GB, cli.py:355) maintained as a STANDING "
    "QUERY (streaming/mart_stream.py, entry habitat): protein->entry "
    "assignment and protein-dim changelogs interleave in one "
    "discriminated stream; each micro-batch advances the protein-"
    "bucketed assignment + protein-dim COW stores (the bilinear "
    "rescan is a partition-pruned bucket read) and the entry "
    "count-pyramid supports — the three assignment-scale ones "
    "(sup_ep/sup_etp/sup_eep) as COW touched-bucket merges, never a "
    "full support rewrite, their transitions maintaining the level-2 "
    "counts the render reads — committed atomically per version. Same "
    "epoch-idempotent replay guard as every IVM stream. Oracle: the "
    "full DuckDB rebuild of the new release — identical to "
    "z_ivm_mart_entry2xrefs, because any micro-batch partitioning of "
    "the changelog converges to the same supports.",
    build=_stream_ivm_mart_entry,
    oracle=REGISTRY["z_ivm_mart_entry2xrefs"].oracle,
))


def _new_release_oracle(full_mart_name: str) -> str:
    """A full-rebuild oracle of the NEW release: the base mart's
    oracle with its matches CTE filtered to the surviving generation
    (the same %11 filter the Spark-side m_new carries)."""
    return _must_replace(
        REGISTRY[full_mart_name].oracle,
        "AS db\n    FROM orders\n  ),\n  protein_proteomes",
        "AS db\n    FROM orders WHERE o_orderkey % 11 <> 0\n  ),"
        "\n  protein_proteomes",
    )


def _clan_release(spark, sf) -> _Release:
    """The clan mart's release: the match snapshots (its one arm) over
    the clan, protein-dim and entry->structure dims."""
    m_old, m_new = _match_releases(spark, sf)
    return _release(
        {"match": m_old},
        {"match": m_new},
        {"match": _MATCH_IMAGES},
        {
            "sc": _signature_clans(spark, sf),
            "prot": _proteins(spark, sf),
            "pp": _protein_proteomes(spark, sf),
            "dom": _domorg_members(spark, sf),
            "entry_structures": _pdb_matches(spark, sf)
            .select("signature_acc", "pdb_id")
            .distinct(),
        },
    )


def _ivm_mart_clan(spark, sf):
    """Release-over-release INCREMENTAL rebuild of the clan-xrefs
    mart (domain/mart_ivm2.py; reference export-clan2xrefs <=6h/32GB,
    /root/reference/interpro7dw/cli.py:323): seed the clan count
    pyramid from the OLD match snapshot, fold the match changelog,
    render — must equal the full rebuild of the NEW release."""
    r = _clan_release(spark, sf)
    d = r.dims
    sup1 = maintain_clan_supports(
        CLAN_HABITAT.seed(r.old, d), r.deltas["match"],
        d["sc"], d["prot"], d["pp"], d["dom"], d["entry_structures"],
    )
    return CLAN_HABITAT.render(sup1)


register(QuerySpec(
    name="z_ivm_mart_clan2xrefs",
    tags=("X5", "A8", "J2", "J10", "CD3", "A13"),
    description="INCREMENTALLY MAINTAINED clan2xrefs mart (domain/"
    "mart_ivm2.py; reference export-clan2xrefs <=6h/32GB, cli.py:323): "
    "the clan count pyramid — match-row counts, distinct matched "
    "signatures, the facts-scale (clan, protein) support with its "
    "level-2 distinct-protein rollup, proteome/taxon/domain-"
    "organisation ref counts, and the set-union structure counts "
    "maintained by a TRANSITION-DRIVEN JOIN DELTA (sup_c_sig's "
    "enter/exit transitions joined to the static entry->structure "
    "dim — the reference's pop-once semantics without rescanning "
    "matches). One match changelog folds the release forward. "
    "Oracle: the full DuckDB rebuild of the new release, identical "
    "column set to mart_clan2xrefs.",
    build=_ivm_mart_clan,
    oracle=lambda: _new_release_oracle("mart_clan2xrefs"),
))


def _proteome_release(spark, sf) -> _Release:
    """The proteome mart's release: the protein->proteome assignment
    and match snapshots (the bilinear pair) over the structure dim."""
    m_old, m_new = _match_releases(spark, sf)
    pp_new = _protein_proteomes(spark, sf)
    cust = t(spark, sf, "customer")
    ck = F.col("c_custkey")
    # the OLD assignment snapshot: %17 keys absent (inserted since),
    # %13 keys on a different proteome (moved), plus a negative-
    # balance cohort that was deleted since
    pp_old = (
        cust.filter((F.col("c_acctbal") >= 0) & (ck % 17 != 0))
        .select(
            ck.cast("string").alias("protein_acc"),
            F.when(
                ck % 13 == 0,
                F.concat_ws("", F.col("c_mktsegment"), F.lit("_OLD")),
            )
            .otherwise(F.col("c_mktsegment"))
            .alias("proteome_id"),
        )
        .unionByName(
            cust.filter((F.col("c_acctbal") < 0) & (ck % 29 == 0)).select(
                ck.cast("string").alias("protein_acc"),
                F.lit("GONE").alias("proteome_id"),
            )
        )
    )
    return _release(
        {"assign": pp_old, "match": m_old},
        {"assign": pp_new, "match": m_new},
        {"assign": (["protein_acc"], ["proteome_id"]), "match": _MATCH_IMAGES},
        {"ps": _protein_structures(spark, sf)},
    )


def _ivm_mart_proteome(spark, sf):
    """Release-over-release INCREMENTAL rebuild of the proteome-xrefs
    mart (domain/mart_ivm2.py; reference export-proteome2xrefs
    <=6h/100GB, interpro7dw/cli.py:379): seed from
    the OLD release (perturbed assignment snapshot + old matches),
    fold BOTH changelogs via the bilinear rule, render — must equal
    the full rebuild of the NEW release."""
    r = _proteome_release(spark, sf)
    sup1 = maintain_proteome_supports(
        PROTEOME_HABITAT.seed(r.old, r.dims), r.deltas["assign"],
        r.deltas["match"], r.new["assign"], r.old["match"].drop("match_id"),
        r.dims["ps"],
    )
    return PROTEOME_HABITAT.render(sup1)


register(QuerySpec(
    name="z_ivm_mart_proteome2xrefs",
    tags=("X5", "A8", "CD3", "A13"),
    description="INCREMENTALLY MAINTAINED proteome2xrefs mart (domain/"
    "mart_ivm2.py; reference export-proteome2xrefs <=6h/100GB, "
    "cli.py:379): assignment-row counts, per-proteome structure ref "
    "counts, the per-db nested entry map from sup_p_sig, and the "
    "facts-scale sup_p_prot_db whose transitions maintain the level-2 "
    "sup_p_db the db_json render reads. A protein->proteome "
    "assignment changelog AND a match changelog compose via the "
    "bilinear rule (dM JOIN PP_new + M_old JOIN dPP, both "
    "|delta|-pruned semi-joins). Oracle: the full DuckDB rebuild of "
    "the new release, identical column set to z_mart_proteome2xrefs.",
    build=_ivm_mart_proteome,
    oracle=lambda: _new_release_oracle("z_mart_proteome2xrefs"),
))


def _structure_release(spark, sf) -> _Release:
    """The structure mart's release: two independent arms — pdb-match
    rows (keyed pm_id) and protein->structure links (keyed by the
    composite pair, so that changelog is pure insert/delete)."""
    orders = t(spark, sf, "orders")
    ok = F.col("o_orderkey")
    sig_new = ok % 50
    pm_new = orders.filter(ok % 11 != 0).select(
        ok.alias("pm_id"),
        F.concat_ws("", F.lit("PDB"), ok % 30).alias("pdb_id"),
        F.concat_ws("", F.lit("SIG"), sig_new).alias("signature_acc"),
        F.concat_ws("", F.lit("DB"), sig_new % 4).alias("database"),
    )
    sig_old = (ok + F.when(ok % 13 == 0, F.lit(3)).otherwise(F.lit(0))) % 50
    pm_old = orders.filter(ok % 7 != 0).select(
        ok.alias("pm_id"),
        F.concat_ws("", F.lit("PDB"), ok % 30).alias("pdb_id"),
        F.concat_ws("", F.lit("SIG"), sig_old).alias("signature_acc"),
        F.concat_ws("", F.lit("DB"), sig_old % 4).alias("database"),
    )
    ps_new = _protein_structures(spark, sf)
    # the OLD link snapshot: %19 order rows absent (links added
    # since), %23 rows pointed at a neighboring structure (re-linked)
    ps_old = (
        orders.filter(ok % 19 != 0)
        .select(
            F.col("o_custkey").cast("string").alias("protein_acc"),
            F.concat_ws(
                "",
                F.lit("PDB"),
                (ok % 30 + F.when(ok % 23 == 0, F.lit(2)).otherwise(F.lit(0)))
                % 30,
            ).alias("pdb_id"),
        )
        .distinct()
    )
    return _release(
        {"pmatch": pm_old, "plink": ps_old},
        {"pmatch": pm_new, "plink": ps_new},
        {
            "pmatch": (["pm_id"], ["pdb_id", "signature_acc", "database"]),
            "plink": (["protein_acc", "pdb_id"], ["pdb_id"]),
        },
        {
            "sc": _signature_clans(spark, sf),
            "prot": _proteins(spark, sf),
            "pp": _protein_proteomes(spark, sf),
            "pdm": _domorg_members(spark, sf)
            .select("protein_acc", "dom_id")
            .distinct(),
        },
    )


def _ivm_mart_structure(spark, sf):
    """Release-over-release INCREMENTAL rebuild of the structure-xrefs
    mart (domain/mart_ivm2.py; reference export-structure2xrefs,
    interpro7dw/cli.py:402): two independent
    changelogs — the pdb-match rows (keyed pm_id) and the
    protein->structure links (keyed by the composite pair) — fold the
    release forward; render must equal the full rebuild of the NEW
    release."""
    r = _structure_release(spark, sf)
    d = r.dims
    sup1 = maintain_structure_supports(
        STRUCT_HABITAT.seed(r.old, d), r.deltas["pmatch"], r.deltas["plink"],
        d["sc"], d["prot"], d["pp"], d["pdm"],
    )
    return STRUCT_HABITAT.render(sup1)


register(QuerySpec(
    name="z_ivm_mart_structure2xrefs",
    tags=("X5", "A8", "J2", "CD3", "A13"),
    description="INCREMENTALLY MAINTAINED structure2xrefs mart "
    "(domain/mart_ivm2.py; reference export-structure2xrefs, "
    "cli.py:402): per-PDB entry sets per database (re-nested "
    "entries_json), clan counts through the broadcast member->clan "
    "dim, and the protein-side taxa/proteome/domain-organisation "
    "rollups — the facts-scale (pdb, protein) link support merges "
    "pruned and maintains the level-2 per-pdb distinct-protein count "
    "from its transitions. TWO independent changelogs (pdb-match rows "
    "+ protein->structure links, the latter keyed by its composite "
    "pair so the changelog is pure insert/delete) fold the release "
    "forward. Oracle: the full DuckDB rebuild of the new release, "
    "identical column set to z_mart_structure2xrefs.",
    build=_ivm_mart_structure,
    # the NEW protein->structure links equal the shared CTE, so only
    # the pdb_matches generation needs swapping
    oracle=lambda: _must_replace(
        REGISTRY["z_mart_structure2xrefs"].oracle,
        "AS db\n    FROM orders\n  ),\n  signature_clans",
        "AS db\n    FROM orders WHERE o_orderkey % 11 <> 0\n  ),"
        "\n  signature_clans",
    ),
))


def _stream_ivm_mart_clan(spark, sf):
    """The SAME release changelog as ivm_mart_clan2xrefs, drained as a
    STREAM through the clan COW habitat (streaming/mart_stream.py,
    r15): the match changelog over 3 micro-batch files, each epoch
    COW-merging the facts-scale sup_c_prot's touched buckets only
    (the clan mart is LINEAR in its changelog, so NO fact store and
    no rescan exist at all) and folding the sup_c_sig transitions
    through the static entry->structure dim. Final rendered mart must
    equal the full rebuild of the new release."""
    return _stream_mart_spec(
        spark, sf, CLAN_HABITAT, "ivm_mart_clan_stream", _clan_release,
        F.col("match_id") % 3,
    )


register(QuerySpec(
    name="z_stream_ivm_mart_clan",
    tags=("X5", "A8", "J2", "CD3", "ST4"),
    description="The clan2xrefs mart (export-clan2xrefs <=6h/32GB, "
    "cli.py:323) maintained as a STANDING QUERY through the shared "
    "COW habitat (streaming/mart_habitat.py, r15): match changelog "
    "micro-batches COW-merge the facts-scale (clan, protein) support "
    "by touched buckets only — the clan mart is linear in its one "
    "changelog, so the habitat declares ZERO fact stores and no "
    "bilinear rescan — while sup_c_sig's enter/exit transitions "
    "drive the structure-count join delta and sup_c_prot's maintain "
    "the level-2 distinct-protein count; protein-keyed static dims "
    "are bucket-pruned partition reads. Atomic per-version commits, "
    "epoch-idempotent replay. Oracle: the full DuckDB rebuild of the "
    "new release — identical to ivm_mart_clan2xrefs, because any "
    "micro-batch partitioning of the changelog converges to the same "
    "supports.",
    build=_stream_ivm_mart_clan,
    oracle=REGISTRY["z_ivm_mart_clan2xrefs"].oracle,
))


def _stream_ivm_mart_proteome(spark, sf):
    """The SAME release changelogs as ivm_mart_proteome2xrefs
    (assignment + matches, the bilinear pair), drained as ONE
    discriminated stream through the proteome COW habitat: both fact
    snapshots live in protein-bucketed COW stores, so each epoch's
    bilinear rescans (PP_new under dM's proteins, M_old under dPP's)
    are partition-pruned bucket reads, and the facts-scale
    sup_p_prot_db COW-merges touched buckets only. Final rendered
    mart must equal the full rebuild of the new release."""
    return _stream_mart_spec(
        spark, sf, PROTEOME_HABITAT, "ivm_mart_proteome_stream",
        _proteome_release,
        F.coalesce(F.col("match_id") % 3, F.ascii(F.col("protein_acc")) % 3),
    )


register(QuerySpec(
    name="z_stream_ivm_mart_proteome",
    tags=("X5", "A8", "CD3", "ST4"),
    description="The proteome2xrefs mart (export-proteome2xrefs "
    "<=6h/100GB, cli.py:379) maintained as a STANDING QUERY through "
    "the shared COW habitat: protein->proteome assignment and match "
    "changelogs interleave in one discriminated stream; each "
    "micro-batch advances BOTH protein-bucketed fact COW stores (the "
    "bilinear rescans are partition-pruned bucket reads) and the "
    "facts-scale sup_p_prot_db support by touched buckets only, its "
    "transitions maintaining the level-2 sup_p_db the db_json render "
    "reads. Atomic per-version commits, epoch-idempotent replay. "
    "Oracle: the full DuckDB rebuild of the new release — identical "
    "to ivm_mart_proteome2xrefs.",
    build=_stream_ivm_mart_proteome,
    oracle=REGISTRY["z_ivm_mart_proteome2xrefs"].oracle,
))


def _stream_ivm_mart_structure(spark, sf):
    """The SAME release changelogs as z_ivm_mart_structure2xrefs (two
    INDEPENDENT arms: pdb-match rows keyed pm_id and not
    protein-keyed; protein->structure links keyed by their composite
    pair), drained as one discriminated stream through the structure
    COW habitat — no bilinear coupling, so the habitat declares no
    fact store; the facts-scale sup_s_prot COW-merges the link arm's
    touched buckets only. Final rendered mart must equal the full
    rebuild of the new release."""
    return _stream_mart_spec(
        spark, sf, STRUCT_HABITAT, "ivm_mart_structure_stream",
        _structure_release,
        F.coalesce(F.col("pm_id") % 3, F.ascii(F.col("protein_acc")) % 3),
    )


register(QuerySpec(
    name="z_stream_ivm_mart_structure",
    tags=("X5", "A8", "J2", "CD3", "ST4"),
    description="The structure2xrefs mart (export-structure2xrefs, "
    "cli.py:402) maintained as a STANDING QUERY through the shared "
    "COW habitat: two INDEPENDENT changelog arms (pdb-match rows, "
    "not protein-keyed; composite-pair protein links) interleave in "
    "one discriminated stream — no bilinear coupling, so no fact "
    "store exists; the facts-scale (pdb, protein) support COW-merges "
    "the link arm's touched buckets only, its transitions "
    "maintaining the level-2 per-pdb distinct-protein count, and the "
    "protein-keyed static dims are bucket-pruned partition reads. "
    "Oracle: the full DuckDB rebuild of the new release — identical "
    "to z_ivm_mart_structure2xrefs.",
    build=_stream_ivm_mart_structure,
    oracle=REGISTRY["z_ivm_mart_structure2xrefs"].oracle,
))
