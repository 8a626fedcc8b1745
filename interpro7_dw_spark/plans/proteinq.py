"""webfront_protein mart catalog entry (reference
interpro/mysql/proteins.py:273-540): one row per protein composing
organism JSON, per-database entry counts, clan sets, inherited GO
terms, domain-organisation id/key/architecture-count, proteome /
structure / isoform counts and the final counts JSON — all synthesized
deterministically from the star schema so DuckDB can replay the
composition exactly.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..domain.proteins import protein_mart
from .domainq import _SIG_DBS
from .spec import QuerySpec, register, t

_DB_ARR = "['" + "','".join(_SIG_DBS) + "']"


def synth_proteins(spark: SparkSession, sf: str):
    orders = t(spark, sf, "orders")
    cust = t(spark, sf, "customer")
    nation = t(spark, sf, "nation")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.concat(F.lit("P"), F.col("o_orderkey")).alias("protein_acc"),
            F.concat(F.lit("ID"), F.col("o_orderkey")).alias("identifier"),
            F.col("o_orderpriority").alias("name"),
            ((F.col("o_orderkey") % 1000) + 50).cast("long").alias("length"),
            F.col("c_nationkey").cast("string").alias("tax_id"),
            F.col("n_name").alias("sci_name"),
            F.concat(F.col("n_name"), F.lit(" (full)")).alias("full_name"),
            (F.col("o_orderstatus") == "F").alias("reviewed"),
            (F.col("o_orderkey") % 10 == 0).alias("fragment"),
            ((F.col("o_orderkey") % 4) + 1).cast("int").alias("evidence"),
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.concat(F.lit("GEN"), F.col("o_orderkey") % 100),
            ).alias("gene"),
        )
    )


def synth_matches(spark: SparkSession, sf: str):
    li = t(spark, sf, "lineitem")
    sig_num = F.col("l_partkey") % 200
    idx = sig_num % 9
    db = F.lit(None).cast("string")
    for i, d in enumerate(_SIG_DBS):
        db = F.when(idx == i, d).otherwise(db)
    return li.select(
        F.concat(F.lit("P"), F.col("l_orderkey")).alias("protein_acc"),
        F.concat(F.lit("SIG"), sig_num).alias("signature_acc"),
        db.alias("database"),
    )


def synth_signature_clans(spark: SparkSession):
    return spark.range(200).filter(F.col("id") % 5 == 0).select(
        F.concat(F.lit("SIG"), F.col("id")).alias("signature_acc"),
        F.concat(F.lit("CL"), F.col("id") % 10).alias("clan_acc"),
    )


def synth_entry_go(spark: SparkSession):
    g = F.col("id") % 7
    cat = F.expr("array('BP','CC','MF')[cast((id % 7) % 3 as int)]")
    return spark.range(200).filter(F.col("id") % 3 == 0).select(
        F.concat(F.lit("SIG"), F.col("id")).alias("signature_acc"),
        F.concat(F.lit("GO:000"), g).alias("go_id"),
        F.concat(F.lit("go name "), g).alias("go_name"),
        cat.alias("category"),
    )


def synth_proteomes(spark: SparkSession, sf: str):
    orders = t(spark, sf, "orders")
    return orders.filter(F.col("o_orderkey") % 4 == 0).select(
        F.concat(F.lit("P"), F.col("o_orderkey")).alias("protein_acc"),
        F.concat(F.lit("UP"), F.col("o_orderkey") % 50).alias("proteome_id"),
    )


def synth_structures(spark: SparkSession, sf: str):
    li = t(spark, sf, "lineitem")
    return li.filter(F.col("l_partkey") % 7 == 0).select(
        F.concat(F.lit("P"), F.col("l_orderkey")).alias("protein_acc"),
        F.concat(F.lit("PDB"), F.col("l_partkey") % 500).alias("pdb_id"),
    )


def synth_isoforms(spark: SparkSession, sf: str):
    orders = t(spark, sf, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 6 == 0)
        .select(
            F.concat(F.lit("P"), F.col("o_orderkey")).alias("protein_acc"),
            F.explode(F.expr("sequence(1, cast(o_orderkey % 2 + 1 as int))")).alias("iso"),
        )
        .select("protein_acc")
    )


def synth_domorgs(spark: SparkSession, sf: str, matches=None):
    """Domain organisation from pfam-class matches: key = sorted
    distinct pfam signatures joined '-', id = md5(key), count = number
    of proteins sharing the key (reference domorgs KVStore,
    proteins.py:464-471 / uniprot/proteins.py dom-org export).

    ``matches`` (optional) supplies an already-built matches relation
    (e.g. a persisted shared scan) instead of re-deriving it from the
    lineitem scan — same rows either way."""
    m = (
        matches if matches is not None else synth_matches(spark, sf)
    ).filter(F.col("database") == "pfam")
    keys = m.groupBy("protein_acc").agg(
        F.array_join(F.array_sort(F.collect_set("signature_acc")), "-").alias("dom_key")
    )
    w = Window.partitionBy("dom_key")
    return keys.select(
        "protein_acc",
        F.md5("dom_key").alias("dom_id"),
        "dom_key",
        F.count("*").over(w).alias("dom_count"),
    )


# Byte threshold above which _mart_protein persists the matches
# relation shared by the mart body and the domorg branch instead of
# letting each re-derive it from the lineitem scan (guide §2.4/§5 —
# persist only when recomputing beats the memory pressure). The r15
# A/B measured the UNCONDITIONAL persist NEGATIVE at sf0.1 (noop-sink
# min 5.80 -> 6.96 s: the extra materialization pass costs more
# locally than the duplicate page-cache-warm ~11 MB scan it saves),
# but at 100 TB the duplicate scan is a full second pass over the
# facts while the persisted relation spills to local disk at worst —
# so the toggle is SCALE-CONDITIONAL on the backing scan's on-disk
# bytes (r15 verdict item 6). Local benches (<= a few hundred MB)
# keep the measured-faster recompute path.
_SHARED_SCAN_BYTES = 1 << 30


def _table_bytes(sf: str, name: str) -> int:
    """On-disk size of a catalog table's parquet path; 0 when the path
    is not a local directory/file (exotic FS -> keep the default local
    behavior)."""
    import os

    path = os.path.join(sf, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, files in os.walk(path)
            for f in files
        )
    except OSError:
        return 0


def _mart_protein(spark: SparkSession, sf: str):
    matches = synth_matches(spark, sf)
    domorgs_src = None
    if _table_bytes(sf, "lineitem") >= _SHARED_SCAN_BYTES:
        from ..caching import owned_persist

        matches = owned_persist(matches)
        domorgs_src = matches
    return protein_mart(
        synth_proteins(spark, sf),
        matches,
        signature_clans=synth_signature_clans(spark),
        entry_go=synth_entry_go(spark),
        proteomes=synth_proteomes(spark, sf),
        structures=synth_structures(spark, sf),
        domorgs=synth_domorgs(spark, sf, matches=domorgs_src),
        isoforms=synth_isoforms(spark, sf),
    )


register(QuerySpec(
    name="mart_protein",
    tags=("X5", "A2", "A5", "A8", "F3", "F8", "J2", "J6"),
    description="webfront_protein mart (reference interpro/mysql/"
    "proteins.py:273-540): per-protein organism JSON, per-db match-count "
    "map, clan set counts, inherited GO term JSON, domain-organisation "
    "fingerprint (md5 of the sorted pfam signature list) with per-key "
    "architecture counts, proteome/structure/isoform counts, and the "
    "counts JSON blob. Canonical divergence (documented in domain/"
    "proteins.py): maps/lists sorted by key instead of dict insertion "
    "order.",
    build=_mart_protein,
    oracle=f"""
WITH prot AS (
  SELECT 'P' || o_orderkey AS protein_acc, 'ID' || o_orderkey AS identifier,
         o_orderpriority AS name, CAST((o_orderkey % 1000) + 50 AS BIGINT) AS length,
         CAST(c_nationkey AS VARCHAR) AS tax_id, n_name AS sci_name,
         n_name || ' (full)' AS full_name,
         o_orderstatus = 'F' AS reviewed,
         o_orderkey % 10 = 0 AS fragment,
         CAST((o_orderkey % 4) + 1 AS INT) AS evidence,
         CASE WHEN o_orderkey % 3 = 0 THEN 'GEN' || (o_orderkey % 100) END AS gene,
         o_orderkey
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
m AS (
  SELECT 'P' || l_orderkey AS protein_acc,
         'SIG' || (l_partkey % 200) AS signature_acc,
         {_DB_ARR}[CAST((l_partkey % 200) % 9 AS INT) + 1] AS db
  FROM lineitem
),
dbc AS (
  SELECT protein_acc,
         '{{' || string_agg('"' || db || '":' || n, ',' ORDER BY db) || '}}' AS entries_map
  FROM (SELECT protein_acc, db, count(*) AS n FROM m GROUP BY 1, 2)
  GROUP BY protein_acc
),
clans AS (
  SELECT 'SIG' || i AS signature_acc, 'CL' || (i % 10) AS clan_acc
  FROM (SELECT unnest(generate_series(0, 199)) AS i) WHERE i % 5 = 0
),
nsets AS (
  SELECT m.protein_acc, count(DISTINCT c.clan_acc) AS n_sets
  FROM m JOIN clans c ON m.signature_acc = c.signature_acc
  GROUP BY m.protein_acc
),
ego AS (
  SELECT 'SIG' || i AS signature_acc, 'GO:000' || (i % 7) AS go_id,
         'go name ' || (i % 7) AS go_name,
         ['BP','CC','MF'][CAST((i % 7) % 3 AS INT) + 1] AS category
  FROM (SELECT unnest(generate_series(0, 199)) AS i) WHERE i % 3 = 0
),
pgo AS (
  SELECT protein_acc,
         '[' || string_agg(
           '{{"identifier":"' || go_id || '","name":"' || go_name
           || '","category":"' || category || '"}}',
           ',' ORDER BY go_id, go_name, category) || ']' AS go_terms
  FROM (SELECT DISTINCT m.protein_acc, g.go_id, g.go_name, g.category
        FROM m JOIN ego g ON m.signature_acc = g.signature_acc)
  GROUP BY protein_acc
),
upids AS (
  SELECT 'P' || o_orderkey AS protein_acc,
         min('UP' || (o_orderkey % 50)) AS proteome_id
  FROM orders WHERE o_orderkey % 4 = 0 GROUP BY 1
),
structs AS (
  SELECT 'P' || l_orderkey AS protein_acc,
         count(DISTINCT 'PDB' || (l_partkey % 500)) AS n_structures
  FROM lineitem WHERE l_partkey % 7 = 0 GROUP BY 1
),
isos AS (
  SELECT 'P' || o_orderkey AS protein_acc,
         CAST(o_orderkey % 2 + 1 AS BIGINT) AS n_isoforms
  FROM orders WHERE o_orderkey % 6 = 0
),
domkeys AS (
  SELECT protein_acc,
         string_agg(DISTINCT signature_acc, '-' ORDER BY signature_acc) AS dom_key
  FROM m WHERE db = 'pfam' GROUP BY protein_acc
),
domorgs AS (
  SELECT protein_acc, md5(dom_key) AS dom_id, dom_key,
         count(*) OVER (PARTITION BY dom_key) AS dom_count
  FROM domkeys
)
SELECT p.protein_acc AS accession, p.identifier,
       '{{"taxId":"' || p.tax_id || '","scientificName":"' || p.sci_name
         || '","fullName":"' || p.full_name || '"}}' AS organism,
       p.name, p.length,
       u.proteome_id, p.gene,
       g.go_terms,
       p.evidence AS evidence_code,
       CASE WHEN p.reviewed THEN 'reviewed' ELSE 'unreviewed' END AS source_database,
       CASE WHEN p.fragment THEN 1 ELSE 0 END AS is_fragment,
       p.tax_id,
       d.dom_id, d.dom_key AS ida,
       '{{"domain_architectures":' || coalesce(d.dom_count, 0)
         || ',"entries":' || coalesce(c.entries_map, '{{}}')
         || ',"isoforms":' || coalesce(i.n_isoforms, 0)
         || ',"proteomes":' || CASE WHEN u.proteome_id IS NOT NULL THEN 1 ELSE 0 END
         || ',"sets":' || coalesce(s.n_sets, 0)
         || ',"structures":' || coalesce(st.n_structures, 0)
         || ',"taxa":1}}' AS counts
FROM prot p
LEFT JOIN dbc c ON p.protein_acc = c.protein_acc
LEFT JOIN nsets s ON p.protein_acc = s.protein_acc
LEFT JOIN pgo g ON p.protein_acc = g.protein_acc
LEFT JOIN upids u ON p.protein_acc = u.protein_acc
LEFT JOIN structs st ON p.protein_acc = st.protein_acc
LEFT JOIN domorgs d ON p.protein_acc = d.protein_acc
LEFT JOIN isos i ON p.protein_acc = i.protein_acc
    """,
))


def _repr_structure(spark: SparkSession, sf: str):
    """Representative-structure pick (reference interpro/mysql/
    entries.py:13-14,322-336): best (coverage, resolution) structure
    per entry. The reference's sequential loop starts from the floor
    (min_coverage=0.5, max_resolution=2) and admits a candidate when
    coverage beats the running best OR ties it with a strictly better
    resolution — declaratively: coverage > 0.5, or coverage = 0.5 with
    resolution < 2; winner = argmax(coverage, -resolution) with pdb_id
    as the deterministic tiebreak. Structures without a high-res dim
    row are skipped (inner join)."""
    li = t(spark, sf, "lineitem")
    cand = li.select(
        F.concat(F.lit("IPR"), F.col("l_partkey") % 40).alias("entry_acc"),
        F.concat(F.lit("PDB"), F.col("l_partkey") % 500).alias("pdb_id"),
        (((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 100) / F.lit(100.0)).alias(
            "coverage"
        ),
    ).distinct()
    highres = spark.range(500).filter(F.col("id") % 3 != 0).select(
        F.concat(F.lit("PDB"), F.col("id")).alias("pdb_id"),
        F.concat(F.lit("Structure "), F.col("id")).alias("s_name"),
        ((F.col("id") % 40) / F.lit(10.0)).alias("resolution"),
    )
    admissible = cand.join(F.broadcast(highres), "pdb_id").filter(
        (F.col("coverage") > 0.5)
        | ((F.col("coverage") == 0.5) & (F.col("resolution") < 2.0))
    )
    key = F.struct(
        F.col("coverage"),
        (-F.col("resolution")).alias("neg_res"),
        F.col("pdb_id"),
    )
    return admissible.groupBy("entry_acc").agg(
        F.max_by("pdb_id", key).alias("pdb_id"),
        F.max_by("s_name", key).alias("s_name"),
        F.max("coverage").alias("best_coverage"),
        F.max_by("resolution", key).alias("resolution"),
    )


register(QuerySpec(
    name="z_repr_structure",
    tags=("A7", "J2", "P4"),
    description="Representative-structure selection per entry (reference "
    "interpro/mysql/entries.py:322-336): threshold-floored argmax over "
    "(coverage, -resolution) with the reference's asymmetric admission "
    "rule (coverage above the floor admits any resolution; coverage AT "
    "the floor requires resolution under the cap).",
    build=_repr_structure,
    oracle="""
WITH cand AS (
  SELECT DISTINCT 'IPR' || (l_partkey % 40) AS entry_acc,
         'PDB' || (l_partkey % 500) AS pdb_id,
         ((l_partkey * 7 + l_suppkey) % 100) / 100.0 AS coverage
  FROM lineitem
),
highres AS (
  SELECT 'PDB' || i AS pdb_id, 'Structure ' || i AS s_name,
         (i % 40) / 10.0 AS resolution
  FROM (SELECT unnest(generate_series(0, 499)) AS i) WHERE i % 3 != 0
),
adm AS (
  SELECT c.entry_acc, c.pdb_id, h.s_name, c.coverage, h.resolution
  FROM cand c JOIN highres h ON c.pdb_id = h.pdb_id
  WHERE c.coverage > 0.5 OR (c.coverage = 0.5 AND h.resolution < 2.0)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY entry_acc
                               ORDER BY coverage DESC, resolution ASC, pdb_id DESC) AS rn,
         max(coverage) OVER (PARTITION BY entry_acc) AS best_coverage
  FROM adm
)
SELECT entry_acc, pdb_id, s_name, best_coverage, resolution
FROM ranked WHERE rn = 1
    """,
))
