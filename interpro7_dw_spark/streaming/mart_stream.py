"""The five maintained warehouse marts' COW habitats — each one a
DECLARATIVE :class:`.mart_habitat.MartHabitat` instantiation of the
shared seed / epoch / stream / batch / time-travel machinery (r14
verdict items 1 + 5: one code path for every mart, and the
clan/proteome/structure maintainers get the same touched-bucket
physical story taxon/entry had).

Each habitat declares: the discriminated changelog arms, the fact COW
stores bilinear rescans need (none, when the mart is linear in its
changelog), the |delta|-pruned rescans, the bucketed static dims, and
the two mart-specific callables (support deltas, render). The batch
maintainer folds one release changelog; the stream drains the same
changelog as ``trigger(availableNow)`` micro-batches — both through
the SAME epoch body, so streamed == batched == the full rebuild of
the final snapshot (each mart's catalog spec oracles exactly that).

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
    cow_apply_count_delta,  # noqa: F401 — re-export (tests/tools import here)
    maintain_batch,
    maintain_stream,
    read_supports,
    read_version,
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
        FactStore(
            "proteins", "protein", ("protein_acc",),
            "protein_acc string, tax_id string",
        ),
        FactStore(
            "matches", "match", ("match_id",),
            "match_id long, protein_acc string, signature_acc string,"
            " database string",
        ),
    ),
    rescans=(
        # bilinear rule: P_new under dM's proteins (just-written
        # protein version), M_old under dP's proteins (previous match
        # version) — both partition-pruned bucket reads
        Rescan("p_new", "proteins", "new", "match"),
        Rescan("m_old", "matches", "old", "protein", drop=("match_id",)),
    ),
    dims=(DimUse("pp", "protein"), DimUse("ps", "protein"), DimUse("anc")),
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


def unify_changelogs(delta_p: DataFrame, delta_m: DataFrame) -> DataFrame:
    """Interleave the protein and match changelogs into the one
    discriminated stream shape the taxon maintainer consumes."""
    return unify(TAXON_HABITAT, {"protein": delta_p, "match": delta_m})


def seed_mart_state(
    spark: SparkSession,
    proteins: DataFrame,            # protein_acc, tax_id
    matches: DataFrame,             # match_id, protein_acc, signature_acc, database
    protein_proteomes: DataFrame,
    protein_structures: DataFrame,
    taxon_ancestors: DataFrame,
    state_dir: str,
    n_buckets: int = 16,
) -> None:
    """Materialize version 0 of the taxon-mart state from the base
    snapshot (the one full rebuild a mart ever needs)."""
    sup = seed_taxon_supports(
        proteins, matches.drop("match_id"),
        protein_proteomes, protein_structures, taxon_ancestors,
    )
    seed_state(
        spark, TAXON_HABITAT, state_dir,
        store_snapshots={"proteins": proteins, "matches": matches},
        dims={"pp": protein_proteomes, "ps": protein_structures},
        supports=sup, n_buckets=n_buckets,
    )


def _taxon_dims(pp, ps, anc):
    return {"pp": pp, "ps": ps, "anc": anc}


def read_mart_supports(
    spark: SparkSession, state_dir: str, version_name: str
) -> dict[str, DataFrame]:
    return read_supports(spark, TAXON_PYRAMID, state_dir, version_name)


def maintain_taxon_mart_stream(
    spark: SparkSession,
    changes: DataFrame,             # streaming DF in unify_changelogs shape
    state_dir: str,
    protein_proteomes: DataFrame,
    protein_structures: DataFrame,
    taxon_ancestors: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_stream(
        spark, TAXON_HABITAT, changes, state_dir,
        _taxon_dims(protein_proteomes, protein_structures, taxon_ancestors),
        n_buckets, keep_last,
    )


def maintain_taxon_mart_batch(
    spark: SparkSession,
    state_dir: str,
    delta_p: DataFrame,
    delta_m: DataFrame,
    protein_proteomes: DataFrame,
    protein_structures: DataFrame,
    taxon_ancestors: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_batch(
        spark, TAXON_HABITAT, state_dir,
        {"protein": delta_p, "match": delta_m},
        _taxon_dims(protein_proteomes, protein_structures, taxon_ancestors),
        n_buckets, keep_last,
    )


def read_taxon_mart_version(
    spark: SparkSession,
    state_dir: str,
    version: int | None = None,
    epoch: int | None = None,
) -> DataFrame:
    """Time travel over the maintained taxon mart (see
    :func:`.mart_habitat.read_version`)."""
    return read_version(spark, TAXON_HABITAT, state_dir, version, epoch)


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
        FactStore(
            "proteins", "protein", ("protein_acc",),
            "protein_acc string, tax_id string",
        ),
        FactStore(
            "assignments", "assign", ("pe_id",),
            "pe_id long, protein_acc string, entry_acc string",
        ),
    ),
    rescans=(
        Rescan("p_new", "proteins", "new", "assign"),
        Rescan("pe_old", "assignments", "old", "protein", drop=("pe_id",)),
    ),
    dims=(
        DimUse("pp", "assign"), DimUse("ps", "assign"),
        DimUse("pec", "assign"),
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
    sup = seed_entry_supports(
        protein_entries.drop("pe_id"), protein_taxa,
        protein_proteomes, protein_structures, protein_ecs,
    )
    seed_state(
        spark, ENTRY_HABITAT, state_dir,
        store_snapshots={
            "proteins": protein_taxa, "assignments": protein_entries,
        },
        dims={
            "pp": protein_proteomes, "ps": protein_structures,
            "pec": protein_ecs,
        },
        supports=sup, n_buckets=n_buckets,
    )


def read_entry_mart_supports(
    spark: SparkSession, state_dir: str, version_name: str
) -> dict[str, DataFrame]:
    return read_supports(spark, ENTRY_PYRAMID, state_dir, version_name)


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
        {
            "pp": protein_proteomes, "ps": protein_structures,
            "pec": protein_ecs,
        },
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
    deltas=lambda parts, rescans, dims: clan_support_deltas(
        parts["match"], dims["sc"], dims["prot"], dims["pp"], dims["dom"],
    ),
    render=clan_mart_from_supports,
    # sup_c_prot's delta is the signed match delta routed through the
    # broadcast clan dim — proteins come from dM's images alone
    sup_touch={"sup_c_prot": ("match",)},
)


def _clan_dims(sc, prot, pp, dom, es):
    return {
        "sc": sc, "prot": prot, "pp": pp, "dom": dom,
        "entry_structures": es,
    }


def seed_clan_mart_state(
    spark: SparkSession,
    matches: DataFrame,             # protein_acc, signature_acc, database [, match_id]
    signature_clans: DataFrame,
    proteins: DataFrame,
    protein_proteomes: DataFrame,
    domorg_members: DataFrame,
    entry_structures: DataFrame,
    state_dir: str,
    n_buckets: int = 16,
) -> None:
    if "match_id" in matches.columns:
        matches = matches.drop("match_id")
    sup = seed_clan_supports(
        matches, signature_clans, proteins, protein_proteomes,
        domorg_members, entry_structures,
    )
    seed_state(
        spark, CLAN_HABITAT, state_dir,
        store_snapshots={},
        dims={"prot": proteins, "pp": protein_proteomes, "dom": domorg_members},
        supports=sup, n_buckets=n_buckets,
    )


def maintain_clan_mart_stream(
    spark: SparkSession,
    changes: DataFrame,             # streaming match changelog (images shape)
    state_dir: str,
    signature_clans: DataFrame,
    proteins: DataFrame,
    protein_proteomes: DataFrame,
    domorg_members: DataFrame,
    entry_structures: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_stream(
        spark, CLAN_HABITAT, changes, state_dir,
        _clan_dims(signature_clans, proteins, protein_proteomes,
                   domorg_members, entry_structures),
        n_buckets, keep_last,
    )


def maintain_clan_mart_batch(
    spark: SparkSession,
    state_dir: str,
    delta_m: DataFrame,
    signature_clans: DataFrame,
    proteins: DataFrame,
    protein_proteomes: DataFrame,
    domorg_members: DataFrame,
    entry_structures: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_batch(
        spark, CLAN_HABITAT, state_dir, {"match": delta_m},
        _clan_dims(signature_clans, proteins, protein_proteomes,
                   domorg_members, entry_structures),
        n_buckets, keep_last,
    )


def unify_clan_changelogs(delta_m: DataFrame) -> DataFrame:
    """The clan habitat's stream shape — one arm, so this is the match
    changelog itself behind the discriminator column."""
    return unify(CLAN_HABITAT, {"match": delta_m})


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
        FactStore(
            "assignments", "assign", ("protein_acc",),
            "protein_acc string, proteome_id string",
        ),
        FactStore(
            "matches", "match", ("match_id",),
            "match_id long, protein_acc string, signature_acc string,"
            " database string",
        ),
    ),
    rescans=(
        # bilinear rule: PP_new under dM's proteins, M_old under
        # dPP's proteins — both partition-pruned bucket reads
        Rescan("pp_new", "assignments", "new", "match"),
        Rescan("m_old", "matches", "old", "assign", drop=("match_id",)),
    ),
    dims=(DimUse("ps", "assign"),),
    deltas=lambda parts, rescans, dims: proteome_support_deltas(
        parts["assign"], parts["match"], rescans["pp_new"],
        rescans["m_old"], dims["ps"],
    ),
    render=proteome_mart_from_supports,
    # sup_p_prot_db's bilinear delta carries proteins from both arms
    sup_touch={"sup_p_prot_db": ("assign", "match")},
)


def unify_proteome_changelogs(
    delta_pp: DataFrame, delta_m: DataFrame
) -> DataFrame:
    return unify(PROTEOME_HABITAT, {"assign": delta_pp, "match": delta_m})


def seed_proteome_mart_state(
    spark: SparkSession,
    protein_proteomes: DataFrame,   # protein_acc, proteome_id
    matches: DataFrame,             # match_id, protein_acc, signature_acc, database
    protein_structures: DataFrame,
    state_dir: str,
    n_buckets: int = 16,
) -> None:
    sup = seed_proteome_supports(
        protein_proteomes, matches.drop("match_id"), protein_structures
    )
    seed_state(
        spark, PROTEOME_HABITAT, state_dir,
        store_snapshots={
            "assignments": protein_proteomes, "matches": matches,
        },
        dims={"ps": protein_structures},
        supports=sup, n_buckets=n_buckets,
    )


def maintain_proteome_mart_stream(
    spark: SparkSession,
    changes: DataFrame,             # streaming DF in unify_proteome_changelogs shape
    state_dir: str,
    protein_structures: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_stream(
        spark, PROTEOME_HABITAT, changes, state_dir,
        {"ps": protein_structures}, n_buckets, keep_last,
    )


def maintain_proteome_mart_batch(
    spark: SparkSession,
    state_dir: str,
    delta_pp: DataFrame,
    delta_m: DataFrame,
    protein_structures: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_batch(
        spark, PROTEOME_HABITAT, state_dir,
        {"assign": delta_pp, "match": delta_m},
        {"ps": protein_structures}, n_buckets, keep_last,
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
    deltas=lambda parts, rescans, dims: structure_support_deltas(
        parts["pmatch"], parts["plink"], dims["sc"], dims["prot"],
        dims["pp"], dims["pdm"],
    ),
    render=structure_mart_from_supports,
    # sup_s_prot's delta is the signed link delta — plink rows only
    sup_touch={"sup_s_prot": ("plink",)},
)


def unify_structure_changelogs(
    delta_pm: DataFrame, delta_ps: DataFrame
) -> DataFrame:
    return unify(STRUCT_HABITAT, {"pmatch": delta_pm, "plink": delta_ps})


def _structure_dims(sc, prot, pp, pdm):
    return {"sc": sc, "prot": prot, "pp": pp, "pdm": pdm}


def seed_structure_mart_state(
    spark: SparkSession,
    pdb_matches: DataFrame,         # pdb_id, signature_acc, database [, pm_id]
    signature_clans: DataFrame,
    protein_structures: DataFrame,  # protein_acc, pdb_id (distinct pairs)
    proteins: DataFrame,
    protein_proteomes: DataFrame,
    protein_domorgs: DataFrame,
    state_dir: str,
    n_buckets: int = 16,
) -> None:
    if "pm_id" in pdb_matches.columns:
        pdb_matches = pdb_matches.drop("pm_id")
    sup = seed_structure_supports(
        pdb_matches, signature_clans, protein_structures, proteins,
        protein_proteomes, protein_domorgs,
    )
    seed_state(
        spark, STRUCT_HABITAT, state_dir,
        store_snapshots={},
        dims={"prot": proteins, "pp": protein_proteomes, "pdm": protein_domorgs},
        supports=sup, n_buckets=n_buckets,
    )


def maintain_structure_mart_stream(
    spark: SparkSession,
    changes: DataFrame,             # streaming DF in unify_structure_changelogs shape
    state_dir: str,
    signature_clans: DataFrame,
    proteins: DataFrame,
    protein_proteomes: DataFrame,
    protein_domorgs: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_stream(
        spark, STRUCT_HABITAT, changes, state_dir,
        _structure_dims(signature_clans, proteins, protein_proteomes,
                        protein_domorgs),
        n_buckets, keep_last,
    )


def maintain_structure_mart_batch(
    spark: SparkSession,
    state_dir: str,
    delta_pm: DataFrame,
    delta_ps: DataFrame,
    signature_clans: DataFrame,
    proteins: DataFrame,
    protein_proteomes: DataFrame,
    protein_domorgs: DataFrame,
    n_buckets: int = 16,
    keep_last: int | None = None,
) -> DataFrame:
    return maintain_batch(
        spark, STRUCT_HABITAT, state_dir,
        {"pmatch": delta_pm, "plink": delta_ps},
        _structure_dims(signature_clans, proteins, protein_proteomes,
                        protein_domorgs),
        n_buckets, keep_last,
    )
