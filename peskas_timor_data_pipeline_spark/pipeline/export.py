"""Portal export formatting (SURVEY.md §3.3 step 3, R/export.R:250-436).

Ontology renames to portal field names, month labels ("%B %Y"),
fish-group rollups (the taxa -> fish_group case_when at
R/export.R:287-352, implemented as a broadcast mapping table per P7's
scale guidance), and JSON-shaped outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.session import local_frame

# taxa -> fish group: the FULL case_when at R/export.R:287-352
# (estimated_tons), first-match-wins materialized as one row per taxon.
# Unmatched taxa map to NULL (the reference's TRUE ~ NA_character_), NOT
# to "Other" — "Other" is itself a real group (MZZ) and format-public-data
# separately rolls <1%-contribution groups into it (R/format-public-data.
# R:944), so a silent fallback would conflate three distinct semantics.
_EXPORT_GROUPS = {
    "Molluscs": ["COZ"],
    "Shrimps": ["PEZ"],
    "Other": ["MZZ"],
    "Crustaceans": ["SLV", "CRA"],
    "Cephalopods": ["OCZ", "IAX"],
    "Sharks and rays": ["SKH", "SRX"],
    "Large demersals": ["SNA", "GPX", "PWT", "GRX", "MUI", "BGX"],
    "Large pelagics": ["CGX", "TUN", "BEN", "LWX", "BAR", "SFA", "CBA",
                       "DOX", "ECN", "DOS"],
    "Small demersals": ["YDX", "SPI", "EMP", "SUR", "TRI", "MOJ", "WRA",
                        "MOO", "BWH", "LGE", "MOB", "MHL", "GOX", "THO",
                        "IHX", "APO", "PUX", "DRZ"],
    "Small pelagics": ["RAX", "SDX", "CJX", "CLP", "GZP", "FLY", "KYX",
                       "MUL", "DSF", "MIL", "THF"],
}

# the ingest-side duplicate (R/ingest-pds-data.R:622-690,
# convert_taxa_names) differs deliberately: MZZ reads "Unknown" there, and
# SUR appears in BOTH the Large- and Small-demersal branches — case_when's
# first match sends it to Large demersals (in export.R SUR is only in the
# Small-demersal branch). Materialized with the same first-match rule.
_INGEST_GROUPS = {
    "Molluscs": ["COZ"],
    "Shrimps": ["PEZ"],
    "Unknown": ["MZZ"],
    "Crustaceans": ["SLV", "CRA"],
    "Cephalopods": ["OCZ", "IAX"],
    "Sharks and rays": ["SKH", "SRX"],
    "Large demersals": ["SNA", "GPX", "PWT", "SUR", "GRX", "MUI", "BGX"],
    "Large pelagics": ["CGX", "TUN", "BEN", "LWX", "BAR", "SFA", "CBA",
                       "DOX", "ECN", "DOS"],
    "Small demersals": ["YDX", "SPI", "EMP", "TRI", "MOJ", "WRA", "MOO",
                        "BWH", "LGE", "MOB", "MHL", "GOX", "THO", "IHX",
                        "APO", "PUX", "DRZ"],
    "Small pelagics": ["RAX", "SDX", "CJX", "CLP", "GZP", "FLY", "KYX",
                       "MUL", "DSF", "MIL", "THF"],
}


def _flatten(groups: dict[str, list[str]]) -> list[tuple[str, str]]:
    seen: dict[str, str] = {}
    for group, taxa in groups.items():
        for t in taxa:
            seen.setdefault(t, group)  # first match wins (case_when order)
    return sorted(seen.items())


FISH_GROUPS = _flatten(_EXPORT_GROUPS)
FISH_GROUPS_INGEST = _flatten(_INGEST_GROUPS)

# portal common-name overrides applied on top of the catch_types sheet
# (R/ingest-pds-data.R:610-618)
COMMON_NAME_RECODE = [
    ("RAX", "Short mackerel"),
    ("CGX", "Jacks/Trevally"),
    ("CLP", "Sardines"),
    ("TUN", "Tuna/Bonito"),
    ("SNA", "Snapper"),
]

# portal field ontology (R/export.R:202-209 + format-public-data renames)
PORTAL_ONTOLOGY = {
    "landing_period": "period",
    "n_landings_per_boat": "landings_per_boat",
    "landing_catch": "catch_kg",
    "catch_price": "price_usd",
    "grouped_taxa": "fish_group",
}


def fish_group_dim(spark: SparkSession, variant: str = "export") -> DataFrame:
    """Broadcastable taxa->group dim. ``variant='export'`` is
    R/export.R:287-352 (MZZ->Other, SUR small-demersal); ``'ingest'`` is
    R/ingest-pds-data.R:622-690 (MZZ->Unknown, SUR large-demersal)."""
    rows = FISH_GROUPS if variant == "export" else FISH_GROUPS_INGEST
    return local_frame(spark, "catch_taxon string, fish_group string", rows)


def attach_fish_groups(
    df: DataFrame, spark: SparkSession, variant: str = "export"
) -> DataFrame:
    """Left-join the fish-group dim (broadcast; the dim is ~50 rows).
    Unmatched taxa keep a NULL fish_group, exactly like the reference's
    TRUE ~ NA_character_ branch — downstream consumers filter NULLs
    explicitly (R/format-public-data.R:933)."""
    return df.join(F.broadcast(fish_group_dim(spark, variant)), "catch_taxon", "left")


def to_portal(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Rename to portal ontology, attach fish groups (broadcast), format
    the month label the way the portal renders it."""
    out = df
    if "catch_taxon" in out.columns:
        out = attach_fish_groups(out, spark)
    renames = {k: v for k, v in PORTAL_ONTOLOGY.items() if k in out.columns}
    out = out.withColumnsRenamed(renames)
    if "period" in out.columns:
        out = out.withColumn("period_label", F.date_format("period", "MMMM yyyy"))
    return out


def json_records(df: DataFrame) -> DataFrame:
    """One JSON document per row (write with sources.io.write_public_json;
    matches the portal's unboxed record shape, R/export.R:386-404)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))
