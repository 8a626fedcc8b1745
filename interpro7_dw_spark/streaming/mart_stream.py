"""The five maintained warehouse marts, each DEFINED ONCE as a
declarative :class:`.mart_habitat.MartHabitat` — the one definition
the shared seed / epoch / stream / batch / time-travel machinery of
:mod:`.mart_habitat` consumes (r14 verdict items 1 + 5: one code path
for every mart, and the clan/proteome/structure maintainers get the
same touched-bucket physical story taxon/entry had).

Each habitat declares: the discriminated changelog arms, the fact COW
stores bilinear rescans need (none, when the mart is linear in its
changelog), the |delta|-pruned rescans, the bucketed static dims, and
the three mart-specific callables (seed, support deltas, render).
Callers pass a habitat constant to the generic functions —
``seed_state(spark, TAXON_HABITAT, state_dir, old, dims)``,
``maintain_stream``, ``maintain_batch``, ``unify``, ``read_supports``,
``read_version`` — with ``old`` and the changelogs keyed by arm tag
and ``dims`` by :class:`.mart_habitat.DimUse` name. The batch
maintainer folds one release changelog; the stream drains the same
changelog as ``trigger(availableNow)`` micro-batches — both through
the SAME epoch body, so streamed == batched == the full rebuild of
the final snapshot (each mart's catalog spec oracles exactly that).

The only functions here are the entry habitat's three positional
entry points (``unify_entry_changelogs``, ``seed_entry_mart_state``,
``maintain_entry_mart_stream``), which the benchmark's ``mart_stream``
workload (``prbench/workloads.py``) drives.

Reference release budgets these standing queries replace:
export-entry2xrefs <=24h/100GB
(`/root/reference/interpro7dw/cli.py:355`), export-clan2xrefs
<=6h/32GB (`cli.py:323`), export-proteome2xrefs <=6h/100GB
(`cli.py:379`), export-structure2xrefs (`cli.py:402`), and the
taxon2xrefs member of the whole-DAG rebuild (`cli.py:101-986`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..domain.mart_ivm import (
    ENTRY_PYRAMID,
    TAXON_PYRAMID,
    entry_mart_from_supports,
    entry_support_deltas,
    seed_entry_supports,
    seed_taxon_supports,
    taxon_mart_from_supports,
    taxon_support_deltas,
)
from ..domain.mart_ivm2 import (
    CLAN_PYRAMID,
    PROTEOME_PYRAMID,
    STRUCT_PYRAMID,
    clan_mart_from_supports,
    clan_support_deltas,
    proteome_mart_from_supports,
    proteome_support_deltas,
    seed_clan_supports,
    seed_proteome_supports,
    seed_structure_supports,
    structure_mart_from_supports,
    structure_support_deltas,
)
from .mart_habitat import (
    ChangeSrc,
    DimUse,
    FactStore,
    MartHabitat,
    Rescan,
    maintain_stream,
    seed_state,
    unify,
)

_MATCH_IMAGES = (
    "change_type",
    "old_protein_acc", "old_signature_acc", "old_database",
    "new_protein_acc", "new_signature_acc", "new_database",
)

# ------------------------------------------------------------- taxon

TAXON_HABITAT = MartHabitat(
    pyramid=TAXON_PYRAMID,
    sources=(
        ChangeSrc(
            "protein",
            payload=("protein_acc", "change_type", "old_tax_id", "new_tax_id"),
            touch="plain",
        ),
        ChangeSrc(
            "match", payload=_MATCH_IMAGES, id_col="match_id", touch="images"
        ),
    ),
    stores=(
        FactStore("proteins", "protein", ("protein_acc",)),
        FactStore("matches", "match", ("match_id",)),
    ),
    rescans=(
        # bilinear rule: P_new under dM's proteins (just-written
        # protein version), M_old under dP's proteins (previous match
        # version) — both partition-pruned bucket reads
        Rescan("p_new", "proteins", "new", "match"),
        Rescan("m_old", "matches", "old", "protein", drop=("match_id",)),
    ),
    dims=(DimUse("pp", "protein"), DimUse("ps", "protein"), DimUse("anc")),
    seed=lambda old, dims: seed_taxon_supports(
        old["protein"], old["match"].drop("match_id"),
        dims["pp"], dims["ps"], dims["anc"],
    ),
    deltas=lambda parts, rescans, dims: taxon_support_deltas(
        parts["protein"], parts["match"], rescans["p_new"], rescans["m_old"],
        dims["pp"], dims["ps"], dims["anc"],
    ),
    render=taxon_mart_from_supports,
    # sup_prot_db's delta rows carry proteins from BOTH arms (dM's
    # images via part1, dP's via the m_old rescan in part2) — the
    # union of their discovery sets bounds its touched buckets
    sup_touch={"sup_prot_db": ("protein", "match")},
)


# ------------------------------------------------------------- entry
# The reference's single worst release cost (export-entry2xrefs
# <=24h/100GB, cli.py:355) as a standing query: the protein->entry
# ASSIGNMENT changelog (keyed pe_id, bucketed by protein) and the
# protein-dim changelog interleave in one stream; the three
# assignment-scale supports live in COW bucket stores.

ENTRY_HABITAT = MartHabitat(
    pyramid=ENTRY_PYRAMID,
    sources=(
        ChangeSrc(
            "assign",
            payload=(
                "change_type",
                "old_protein_acc", "old_entry_acc",
                "new_protein_acc", "new_entry_acc",
            ),
            id_col="pe_id",
            touch="images",
        ),
        ChangeSrc(
            "protein",
            payload=("protein_acc", "change_type", "old_tax_id", "new_tax_id"),
            touch="plain",
        ),
    ),
    stores=(
        FactStore("proteins", "protein", ("protein_acc",)),
        FactStore("assignments", "assign", ("pe_id",)),
    ),
    rescans=(
        Rescan("p_new", "proteins", "new", "assign"),
        Rescan("pe_old", "assignments", "old", "protein", drop=("pe_id",)),
    ),
    dims=(
        DimUse("pp", "assign"), DimUse("ps", "assign"),
        DimUse("pec", "assign"),
    ),
    seed=lambda old, dims: seed_entry_supports(
        old["assign"].drop("pe_id"), old["protein"],
        dims["pp"], dims["ps"], dims["pec"],
    ),
    deltas=lambda parts, rescans, dims: entry_support_deltas(
        parts["assign"], parts["protein"], rescans["p_new"],
        rescans["pe_old"], dims["pp"], dims["ps"], dims["pec"],
    ),
    render=entry_mart_from_supports,
    # sup_ep/sup_eep deltas derive every protein from dPE's images;
    # sup_etp additionally from dP (the pe_old rescan side)
    sup_touch={
        "sup_ep": ("assign",),
        "sup_etp": ("assign", "protein"),
        "sup_eep": ("assign",),
    },
)


def unify_entry_changelogs(delta_pe: DataFrame, delta_p: DataFrame) -> DataFrame:
    """Interleave the assignment and protein-dim changelogs into one
    discriminated stream (``src`` = 'assign' | 'protein')."""
    return unify(ENTRY_HABITAT, {"assign": delta_pe, "protein": delta_p})


def seed_entry_mart_state(
    spark: SparkSession,
    protein_taxa: DataFrame,        # protein_acc, tax_id
    protein_entries: DataFrame,     # pe_id, protein_acc, entry_acc
    protein_proteomes: DataFrame,
    protein_structures: DataFrame,
    protein_ecs: DataFrame,
    state_dir: str,
    n_buckets: int = 16,
) -> None:
    seed_state(
        spark, ENTRY_HABITAT, state_dir,
        {"assign": protein_entries, "protein": protein_taxa},
        {"pp": protein_proteomes, "ps": protein_structures, "pec": protein_ecs},
        n_buckets,
    )


def maintain_entry_mart_stream(
    spark: SparkSession,
    changes: DataFrame,             # streaming DF in unify_entry_changelogs shape
    state_dir: str,
    protein_proteomes: DataFrame,
    protein_structures: DataFrame,
    protein_ecs: DataFrame,
    entry_go: DataFrame | None = None,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_stream(
        spark, ENTRY_HABITAT, changes, state_dir,
        {"pp": protein_proteomes, "ps": protein_structures, "pec": protein_ecs},
        n_buckets, keep_last, render_extra={"entry_go": entry_go},
    )


# -------------------------------------------------------------- clan
# export-clan2xrefs (<=6h/32GB, cli.py:323) as a standing query. The
# clan mart is LINEAR in its one changelog (match rows; clan
# membership and the protein dims are release-static), so it needs NO
# fact COW store at all — no bilinear rescan exists. The facts-scale
# sup_c_prot lives in a COW bucket store; the protein-keyed static
# dims are bucket-pruned per epoch; signature->clan and
# entry->structure ride whole (broadcast-small).

CLAN_HABITAT = MartHabitat(
    pyramid=CLAN_PYRAMID,
    sources=(
        ChangeSrc(
            "match", payload=_MATCH_IMAGES, id_col="match_id", touch="images"
        ),
    ),
    dims=(
        DimUse("prot", "match"), DimUse("pp", "match"),
        DimUse("dom", "match"), DimUse("sc"), DimUse("entry_structures"),
    ),
    seed=lambda old, dims: seed_clan_supports(
        old["match"].drop("match_id"), dims["sc"], dims["prot"], dims["pp"],
        dims["dom"], dims["entry_structures"],
    ),
    deltas=lambda parts, rescans, dims: clan_support_deltas(
        parts["match"], dims["sc"], dims["prot"], dims["pp"], dims["dom"],
    ),
    render=clan_mart_from_supports,
    # sup_c_prot's delta is the signed match delta routed through the
    # broadcast clan dim — proteins come from dM's images alone
    sup_touch={"sup_c_prot": ("match",)},
)


# ---------------------------------------------------------- proteome
# export-proteome2xrefs (<=6h/100GB, cli.py:379) as a standing query:
# the protein->proteome ASSIGNMENT changelog (keyed protein_acc) and
# the match changelog compose by the bilinear rule, so BOTH snapshots
# live in COW stores and each epoch rescans only touched buckets.

PROTEOME_HABITAT = MartHabitat(
    pyramid=PROTEOME_PYRAMID,
    sources=(
        ChangeSrc(
            "assign",
            payload=(
                "protein_acc", "change_type",
                "old_proteome_id", "new_proteome_id",
            ),
            touch="plain",
        ),
        ChangeSrc(
            "match", payload=_MATCH_IMAGES, id_col="match_id", touch="images"
        ),
    ),
    stores=(
        FactStore("assignments", "assign", ("protein_acc",)),
        FactStore("matches", "match", ("match_id",)),
    ),
    rescans=(
        # bilinear rule: PP_new under dM's proteins, M_old under
        # dPP's proteins — both partition-pruned bucket reads
        Rescan("pp_new", "assignments", "new", "match"),
        Rescan("m_old", "matches", "old", "assign", drop=("match_id",)),
    ),
    dims=(DimUse("ps", "assign"),),
    seed=lambda old, dims: seed_proteome_supports(
        old["assign"], old["match"].drop("match_id"), dims["ps"]
    ),
    deltas=lambda parts, rescans, dims: proteome_support_deltas(
        parts["assign"], parts["match"], rescans["pp_new"],
        rescans["m_old"], dims["ps"],
    ),
    render=proteome_mart_from_supports,
    # sup_p_prot_db's bilinear delta carries proteins from both arms
    sup_touch={"sup_p_prot_db": ("assign", "match")},
)


# --------------------------------------------------------- structure
# export-structure2xrefs (cli.py:402) as a standing query: two
# INDEPENDENT changelog arms (pdb-match rows, keyed pm_id and not
# protein-keyed at all; protein->structure links, keyed by their
# composite pair) — no bilinear coupling, so no fact COW store; the
# facts-scale sup_s_prot COW-merges touched buckets and the
# protein-keyed static dims are bucket-pruned by the link arm.

STRUCT_HABITAT = MartHabitat(
    pyramid=STRUCT_PYRAMID,
    sources=(
        ChangeSrc(
            "pmatch",
            payload=(
                "change_type",
                "old_pdb_id", "old_signature_acc", "old_database",
                "new_pdb_id", "new_signature_acc", "new_database",
            ),
            id_col="pm_id",
            touch=None,
        ),
        ChangeSrc(
            "plink",
            payload=("protein_acc", "pdb_id", "change_type"),
            touch="plain",
        ),
    ),
    dims=(
        DimUse("prot", "plink"), DimUse("pp", "plink"),
        DimUse("pdm", "plink"), DimUse("sc"),
    ),
    seed=lambda old, dims: seed_structure_supports(
        old["pmatch"].drop("pm_id"), dims["sc"], old["plink"], dims["prot"],
        dims["pp"], dims["pdm"],
    ),
    deltas=lambda parts, rescans, dims: structure_support_deltas(
        parts["pmatch"], parts["plink"], dims["sc"], dims["prot"],
        dims["pp"], dims["pdm"],
    ),
    render=structure_mart_from_supports,
    # sup_s_prot's delta is the signed link delta — plink rows only
    sup_touch={"sup_s_prot": ("plink",)},
)
