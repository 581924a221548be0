"""Messy-CSV recovery reader (SURVEY.md §1.2, §7 step 1).

The reference input (`superstore.csv`, 9,994 records) is deliberately
corrupted: CP1252 encoding, CRLF, a trailing ``;`` inside the last field on
9,988 lines, and 2,510 "double-encoded" rows — the whole record wrapped in
one pair of quotes with inner quotes doubled. Neither reference pipeline
parses it correctly (`SQLproject1.sql:113-128` errors out;
`Section1.m` drops all 2,510 quoted rows). This reader implements the
*intent*: recover every record losslessly.

Pipeline (all JVM-side, one narrow stage — no shuffle):
  text lines (CP1252) → strip one trailing ';' → unwrap double-encoding →
  from_csv (21-col string schema) → drop Row ID → audit columns.

Scale: works partition-parallel on any number of files; the repair is a
per-line map, so a 100 TB corpus repairs at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the 21 physical CSV columns, in file order (superstore.csv:1)
CSV_COLUMNS = [
    "Row ID", "Order ID", "Order Date", "Ship Date", "Ship Mode",
    "Customer ID", "Customer Name", "Segment", "Country", "City",
    "State", "Postal Code", "Region", "Product ID", "Category",
    "Sub-Category", "Product Name", "Sales", "Quantity", "Discount",
    "Profit",
]

#: sanitized field names (from_csv struct fields can't contain spaces/dots)
_SAFE = [c.replace(" ", "_").replace("-", "_") for c in CSV_COLUMNS]
_SCHEMA_DDL = ", ".join(f"`{c}` STRING" for c in _SAFE)


#: CP1252 0x80-0x9F → Unicode (Spark's CSV reader only accepts a fixed
#: charset list, so we read ISO-8859-1 — a lossless byte→codepoint map —
#: and transliterate the range where CP1252 differs).
_CP1252_SRC = "".join(
    chr(b)
    for b in (0x80, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
              0x8B, 0x8C, 0x8E, 0x91, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97,
              0x98, 0x99, 0x9A, 0x9B, 0x9C, 0x9E, 0x9F)
)
_CP1252_DST = "€‚ƒ„…†‡ˆ‰Š‹ŒŽ''“”•–—˜™š›œžŸ"


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """The record lines of a CP1252 file: CSV reader abused as a line
    reader (a delimiter that never occurs + no quoting), read as
    ISO-8859-1 and transliterated to CP1252. Splitting on LF and
    stripping one trailing CR handles both CRLF (the reference file) and
    LF inputs. The header and empty lines are dropped.

    Both drops test the RAW line (``""``, a lone CR, the ASCII ``Row ID``
    prefix), which the strip and the transliteration cannot change, so
    the filter sits under the per-line work instead of re-running it
    (Catalyst pushes a filter on the recoded value below the projection
    by inlining the strip and ``translate`` into it). ``translate`` runs
    only on lines holding a U+0080–U+009F character, the range where
    CP1252 and ISO-8859-1 differ (2 % of perfbench's generated
    lines)."""
    lines = (
        spark.read.format("csv")
        .option("sep", "\x01")
        .option("quote", "")
        .option("encoding", "iso-8859-1")
        .option("lineSep", "\n")
        .schema("value STRING")
        .load(path)
    )
    v = F.col("value")
    lines = lines.filter(~v.isin("", "\r") & ~v.startswith("Row ID"))
    lines = lines.select(F.regexp_replace(v, r"\r$", "").alias("value"))
    return lines.select(
        F.when(v.rlike(r"[\x80-\x9f]"), F.translate(v, _CP1252_SRC, _CP1252_DST))
        .otherwise(v)
        .alias("value")
    )


def repair_line(col: F.Column) -> F.Column:
    """The deterministic per-line repair (SURVEY.md §7 hard parts):

    1. strip ONE trailing ``;`` (lands inside Profit on 9,988 lines;
       the 6 rows with ';' inside Product Name have none — their ';' is
       mid-line and untouched);
    2. if the remainder is wrapped in one outer quote pair, drop the
       wrapper and un-double the inner quotes (""→") — restoring a
       standard CSV record (legitimately-quoted fields reappear with
       single quotes, which from_csv then handles normally).

    Order matters: the wrapper test must run AFTER the ';' strip because
    the trailing ';' sits OUTSIDE the closing quote."""
    stripped = F.regexp_replace(col, r";$", "")
    unwrapped = F.regexp_replace(
        F.regexp_replace(stripped, r'^"(.*)"$', "$1"), r'""', '"'
    )
    is_wrapped = stripped.rlike(r'^".*"$')
    return F.when(is_wrapped, unwrapped).otherwise(stripped)


def _parse_line() -> F.Column:
    """The repaired ``line`` parsed into the 21-field struct ``r``."""
    return F.from_csv(
        F.col("line"),
        _SCHEMA_DDL,
        {"sep": ",", "quote": '"', "escape": '"', "mode": "PERMISSIVE"},
    ).alias("r")


def _raw_records(parsed: DataFrame, path: str) -> DataFrame:
    """Flatten the parsed struct ``r`` to the 21 named columns and add the
    audit columns (S3 — SQLproject1.sql:104-105). The reference drops
    Row ID (Excel explicitly, SQL by its column-mapping defect); we keep
    it as SourceRowNum lineage — it is the only stable total order over
    the input, needed for the deterministic dedup tie-break that
    reproduces BASELINE.md's post-dedup sums (keep lowest Row ID)."""
    flat = parsed.select(
        *[F.col(f"r.`{safe}`").alias(orig) for safe, orig in zip(_SAFE, CSV_COLUMNS)]
    )
    return (
        flat.withColumn("SourceRowNum", F.col("Row ID").try_cast("int"))
        .drop("Row ID")
        .withColumn("IngestedAt", F.current_timestamp())
        .withColumn("SourceFile", F.lit(path))
    )


def read_superstore_csv(
    spark: SparkSession,
    path: str,
    compat_excel: bool = False,
) -> DataFrame:
    """Recover the messy CSV into a 21-string-column DataFrame + audit cols
    (raw layer, `SQLproject1.sql:82-106` intent).

    ``compat_excel=True`` reproduces the observed Power Query behavior
    (Section1.m: ``QuoteStyle.None`` makes each fully-quoted row parse as
    one field which is then dropped) — the 2,510 double-encoded rows are
    DISCARDED, yielding the workbook's 7,484-row table. Only used to
    hash-match the reference's published pivot goldens (SURVEY.md §1.4).
    """
    body = read_lines(spark, path)

    if compat_excel:
        body = body.filter(~F.regexp_replace(F.col("value"), r";$", "").rlike(r'^".*"$'))

    repaired = body.select(repair_line(F.col("value")).alias("line"))
    return _raw_records(repaired.select(_parse_line()), path)


def read_superstore_csv_with_quarantine(
    spark: SparkSession, path: str
) -> dict[str, DataFrame]:
    """Recovery with a bad-record channel (the reference has none — its
    BULK INSERT just aborts into CATCH, SQLproject1.sql:125-127).

    Returns {"good": 21-col DataFrame, "quarantine": (line, reason)}.
    A record quarantines when the repaired line still fails to yield the
    key fields (Order ID / Product ID) — short rows, runaway quotes,
    non-record garbage. The two outputs are lazy filters of one parsed
    projection; nothing is cached, so each plans its own scan of the file
    and a caller that reads both reads and parses it twice."""
    body = read_lines(spark, path)
    repaired = body.select(
        F.col("value").alias("raw_line"),
        repair_line(F.col("value")).alias("line"),
    )
    parsed = repaired.select("raw_line", _parse_line())
    is_bad = (
        F.col("r").isNull()
        | F.col("r.Order_ID").isNull()
        | F.col("r.Product_ID").isNull()
    )
    flat = parsed.withColumn("__bad", is_bad)
    good = _raw_records(flat.filter(~F.col("__bad")), path)
    quarantine = flat.filter(F.col("__bad")).select(
        F.col("raw_line").alias("line"),
        F.when(F.col("r").isNull(), F.lit("UNPARSEABLE"))
        .when(F.col("r.Order_ID").isNull(), F.lit("MISSING_ORDER_ID"))
        .otherwise(F.lit("MISSING_PRODUCT_ID"))
        .alias("reason"),
    )
    return {"good": good, "quarantine": quarantine}
