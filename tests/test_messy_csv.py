"""Messy-CSV recovery acceptance (SURVEY.md §7 step 1 + §1.2 census)."""

import csv
import io

from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.sources.messy_csv import (
    read_superstore_csv,
)


def _python_reference_parse(path):
    """Independent pure-Python repair+parse used as a cross-check oracle."""
    data = open(path, "rb").read().decode("cp1252")
    lines = data.split("\r\n")
    if lines and lines[-1] == "":
        lines = lines[:-1]
    out = []
    for line in lines[1:]:
        if line.endswith(";"):
            line = line[:-1]
        if line.startswith('"') and line.endswith('"'):
            line = line[1:-1].replace('""', '"')
        out.append(next(csv.reader(io.StringIO(line))))
    return out


def test_recovers_all_rows(spark, reference_csv):
    df = read_superstore_csv(spark, reference_csv)
    assert df.count() == 9994


def test_no_null_key_fields(spark, reference_csv):
    df = read_superstore_csv(spark, reference_csv)
    for col in ("Order ID", "Product ID", "Customer ID", "Product Name"):
        assert df.filter(F.col(col).isNull()).count() == 0, col


def test_messy_name_census(spark, reference_csv):
    """SURVEY.md §1.2: 2,221 comma-names, 6 semicolon-names survive."""
    df = read_superstore_csv(spark, reference_csv)
    names = df.select("Product Name")
    assert names.filter(F.col("Product Name").contains(",")).count() == 2221
    assert names.filter(F.col("Product Name").contains(";")).count() == 6


def test_field_level_equality_vs_python_csv(spark, reference_csv):
    """Every recovered field equals an independent Python cp1252 parse."""
    expected = {r[0]: r for r in _python_reference_parse(reference_csv)}
    rows = read_superstore_csv(spark, reference_csv).collect()
    assert len(rows) == len(expected)
    for row in rows:
        exp = expected[str(row["SourceRowNum"])]
        got = [
            str(row["SourceRowNum"]), row["Order ID"], row["Order Date"],
            row["Ship Date"], row["Ship Mode"], row["Customer ID"],
            row["Customer Name"], row["Segment"], row["Country"], row["City"],
            row["State"], row["Postal Code"], row["Region"], row["Product ID"],
            row["Category"], row["Sub-Category"], row["Product Name"],
            row["Sales"], row["Quantity"], row["Discount"], row["Profit"],
        ]
        assert got == exp, f"row {row['SourceRowNum']} differs: {got} != {exp}"


def test_excel_compat_drops_double_encoded_rows(spark, reference_csv):
    compat = read_superstore_csv(spark, reference_csv, compat_excel=True)
    assert compat.count() == 7484


def test_quarantine_channel(spark, tmp_path_factory):
    """Good rows pass through; short/garbage rows land in quarantine with
    a reason, and nothing is silently dropped."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.messy_csv import (
        read_superstore_csv_with_quarantine,
    )

    header = (
        "Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,"
        "Customer Name,Segment,Country,City,State,Postal Code,Region,"
        "Product ID,Category,Sub-Category,Product Name,Sales,Quantity,"
        "Discount,Profit;"
    )
    good = "1,CA-1,1/5/2020,1/7/2020,First,AA,Ann,Cons,US,Bos,MA,1040,E,P-1,Fur,Ch,Chair,10,1,0,2.5;"
    short = "2,CA-2,1/5/2020;"
    garbage = "this is not a record at all"
    content = "\r\n".join([header, good, short, garbage]) + "\r\n"
    p = tmp_path_factory.mktemp("quar") / "m.csv"
    p.write_bytes(content.encode("cp1252"))

    out = read_superstore_csv_with_quarantine(spark, str(p))
    assert out["good"].count() == 1
    quar = {r["reason"] for r in out["quarantine"].collect()}
    assert out["quarantine"].count() == 2
    assert quar <= {"UNPARSEABLE", "MISSING_ORDER_ID", "MISSING_PRODUCT_ID"}


def test_quarantine_empty_on_reference_file(spark, reference_csv):
    """The reference corpus recovers fully — quarantine must be empty."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.messy_csv import (
        read_superstore_csv_with_quarantine,
    )

    out = read_superstore_csv_with_quarantine(spark, reference_csv)
    assert out["quarantine"].count() == 0
    assert out["good"].count() == 9994


def test_quarantine_empty_on_generated_file(spark, tmp_path):
    """A seeded Superstore-shaped messy CSV (every corruption knob of the
    reference) recovers fully: the quarantine is empty and `good` holds
    every generated record."""
    from perfbench.gen_messy_csv import generate
    from superstore_data_pipeline_analytics_dashboard__spark.sources.messy_csv import (
        read_superstore_csv_with_quarantine,
    )

    csv_path = str(tmp_path / "superstore.csv")
    truth, _ = generate(csv_path, 3_000, 7)
    out = read_superstore_csv_with_quarantine(spark, csv_path)
    assert out["quarantine"].count() == 0
    assert out["good"].count() == truth["records"]


def test_each_line_transliterated_once(spark, tmp_path):
    """The empty-line and header drops test the raw line, so Catalyst has
    no filter on the recoded value to push below the strip and
    ``translate`` projection: the executed plan of ``stg`` evaluates
    ``translate`` in one place (it held four: the projection, two in the
    pushed-down filter and the scan's data-filter echo)."""
    from perfbench.gen_messy_csv import generate
    from superstore_data_pipeline_analytics_dashboard__spark.plans import (
        superstore_pipeline as P,
    )

    csv_path = str(tmp_path / "superstore.csv")
    generate(csv_path, 300, 7)
    stg = P.dedup_staged(P.stage_typed(read_superstore_csv(spark, csv_path)))
    assert stg._jdf.queryExecution().executedPlan().toString().count("translate(") == 1
