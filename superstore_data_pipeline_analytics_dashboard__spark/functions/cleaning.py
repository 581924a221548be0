"""Cleaning / typing scalar expressions (SURVEY.md §2.2-§2.3, P1-P11, F1-F8).

All JVM-side built-ins — no Python UDFs. Each helper mirrors a reference
construct; citations point at the reference implementation it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def trim_nullif(col: Column | str) -> Column:
    """``NULLIF(LTRIM(RTRIM(col)), '')`` — SQLproject1.sql:172-187 (P1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


def strip_spaces(col: Column | str) -> Column:
    """``REPLACE(col, ' ', '')`` — SQLproject1.sql:182,610 (P2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(c, F.lit(" "), F.lit(""))


def strip_trailing_semicolon(col: Column | str) -> Column:
    """Remove the messy-CSV trailing ``;`` that lands inside Profit
    (SURVEY.md §1.2; values like ``41.9136;``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r";+\s*$", "")


def zero_pad_postal(col: Column | str, width: int = 5) -> Column:
    """``RIGHT('00000' + code, max(5, LEN(code)))`` zero-pad after
    space-strip — SQLproject1.sql:430-435 (P9/F5). Codes already ≥ width
    chars pass through UNCHANGED (lpad alone would truncate a ZIP+4 to its
    first 5 chars, diverging from the reference). NULL-safe."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.nullif(strip_spaces(c), F.lit(""))
    return F.when(cleaned.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(F.length(cleaned) >= width, cleaned).otherwise(
            F.lpad(cleaned, width, "0")
        )
    )

