"""Cleaning scalar expressions — pure Column transforms, no UDFs.

These re-express the reference's pandas cleaning steps as Catalyst
expressions so they run JVM-side inside whole-stage codegen (the
reference applies them row-at-a-time in Python; at 100 TB that is
the difference between hours and weeks):

- :func:`trim_nullify`   ← reference pipeline.py:99-102
- :func:`safe_cast`      ← reference pipeline.py:108-110
  (``pd.to_numeric(errors='coerce')``)
- :func:`extract_point_latlon` ← reference pipeline.py:38,67-79
  (regex WKT parse, applied via ``.apply`` in the reference; here a
  builtin ``regexp_extract`` — no Python involved)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: String literals the reference normalizes to NULL
#: (pipeline.py:102: 'nan', 'None', '').
NULL_LITERALS = ("nan", "None", "")

#: WKT point pattern (reference pipeline.py:38).  Group 1 is
#: LONGITUDE, group 2 is LATITUDE — WKT order is POINT(lon lat); the
#: reference returns them swapped into (lat, lon) and so do we
#: (SURVEY.md §7.4 item 5).
WKT_POINT_PATTERN = r"POINT\s*\(\s*(-?[\d\.]+)\s+(-?[\d\.]+)\s*\)"


#: The characters Java's regex ``\s`` matches: ASCII whitespace only.
WHITESPACE = " \t\n\x0b\x0c\r"


def strip_whitespace(col: Column | str) -> Column:
    r"""Strip leading/trailing :data:`WHITESPACE` (``\t``, ``\n``,
    ``\x0b``, ``\x0c``, ``\r``, space).  Spark's one-argument
    ``trim()`` removes only spaces, so ``'\t42'`` would survive it.

    ASCII only: pandas ``.str.strip()`` also strips ``\xa0`` and
    U+3000, this keeps them.  A builtin ``btrim`` runs in generated
    code at scan speed.  It differs from ``regexp_replace(c,
    '^\s+|\s+$', '')`` in one case only: whitespace just before a
    *final* U+0085, U+2028 or U+2029, which the regex strips (Java's
    ``$`` matches before a final line terminator) and ``btrim`` keeps:
    ``'a \u2028'`` stays as it is."""
    c = F.col(col) if isinstance(col, str) else col
    return F.btrim(c, F.lit(WHITESPACE))


def trim_nullify(col: Column | str) -> Column:
    """Trim whitespace and normalize 'nan'/'None'/'' to NULL."""
    t = strip_whitespace(col)
    return F.when(t.isin(*NULL_LITERALS), F.lit(None).cast("string")).otherwise(t)


def safe_cast(col: Column | str, dtype: str) -> Column:
    """Null-on-failure cast (``pd.to_numeric(errors='coerce')``).

    ``try_cast`` keeps the semantics correct even if a session runs
    with ANSI mode on; under ANSI-off it is equivalent to ``cast``.
    Whitespace (including tabs) is stripped first so ' 42 ' parses.
    """
    return strip_whitespace(col).try_cast(dtype)


def extract_point_latlon(col: Column | str) -> tuple[Column, Column]:
    """Parse a WKT ``POINT (lon lat)`` string → (latitude, longitude).

    Returns NULL for malformed/empty input (regexp_extract yields ''
    on no-match; try_cast('') is NULL).
    """
    c = F.col(col) if isinstance(col, str) else col
    longitude = F.regexp_extract(c, WKT_POINT_PATTERN, 1).try_cast("double")
    latitude = F.regexp_extract(c, WKT_POINT_PATTERN, 2).try_cast("double")
    return latitude, longitude
