"""Schemas: the MuseMotion column order and the driver testdata tables.

The reference's universe is a single flat EV-registration fact table
(11 logical columns; raw CSV rows carry 4 trailing junk fields) plus
one small ``utilities`` join dimension (reference
musemotion-queries.sql:91-95, pipeline.py:32-35).  See SURVEY.md §1.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# MuseMotion fact table
# ---------------------------------------------------------------------------

#: Canonical 11 logical columns, in raw CSV positional order
#: (reference pipeline.py:32-35; CSVs are headerless, names are
#: imposed by position).
MUSEMOTION_COLUMNS = [
    "vin",
    "city",
    "year",
    "make",
    "model",
    "vehicle_type",
    "eligibility",
    "electric_range",
    "vehicle_id",
    "location",
    "utility",
]

# ---------------------------------------------------------------------------
# Driver testdata (read-only parquet, /root/testdata/sf*/; TESTDATA.md)
# ---------------------------------------------------------------------------

#: All testdata tables, keyed by name.  Parity queries run on these
#: (role mapping in SURVEY.md §7.2: lineitem/orders play the fact
#: table, nation/part play the utilities dimension).
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
