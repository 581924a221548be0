"""Seeded generator of Superstore-shaped messy CSV (FIXTURES.md F1).

Every knob of the reference corruption is applied:

* CP1252 bytes, CRLF line ends;
* a trailing ``;`` on the header and on every record whose Product Name
  holds no ``;``;
* double-encoding: a record whose Product Name holds ``,`` or ``"`` is
  wrapped in one quote pair with its inner quotes doubled;
* postal codes with their leading zeros stripped (``01040`` → ``1040``);
* truncated names: some lines cut a comma-bearing Product Name at its
  first comma, so one Product ID carries two name variants;
* planted near-duplicates: a few (Order ID, Product ID) pairs occur twice
  with different Quantity/Sales/Profit; the ELT keeps the lower Row ID.

``generate`` returns the ground truth the ELT must reproduce (it is also
written next to the CSV as ``<csv>.truth.json``) plus the post-dedup rows
the dashboard check tallies. Everything derives from the seed.

Usage: python3 perfbench/gen_messy_csv.py OUT.csv ROWS SEED
"""

from __future__ import annotations

import csv
import dataclasses
import datetime
import io
import json
import random
import sys

HEADER = (
    "Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,Customer Name,"
    "Segment,Country,City,State,Postal Code,Region,Product ID,Category,"
    "Sub-Category,Product Name,Sales,Quantity,Discount,Profit"
)

SHIP_MODES = ("Standard Class", "Second Class", "First Class", "Same Day")
SEGMENTS = ("Consumer", "Corporate", "Home Office")
REGIONS = ("Central", "East", "South", "West")
SUBCATEGORIES = {
    "Furniture": ("Bookcases", "Chairs", "Furnishings", "Tables"),
    "Office Supplies": (
        "Appliances", "Art", "Binders", "Envelopes", "Fasteners", "Labels",
        "Paper", "Storage", "Supplies",
    ),
    "Technology": ("Accessories", "Copiers", "Machines", "Phones"),
}
DISCOUNTS = ("0", "0.1", "0.15", "0.2", "0.3", "0.32", "0.4", "0.45", "0.5", "0.6", "0.7", "0.8")
_WORDS = (
    "Acme Ultra Classic Deluxe Premium Smart Heavy Duty Compact Wireless Steel Oak "
    "Modern Executive Standard Recycled Glossy Matte Ergonomic Portable Digital"
).split()
_ACCENTED = ("Café", "Señor", "Zoë", "Crème", "Müller", "Hôtel")
_FIRST = "Aaron Beth Carl Dana Eli Fay Gus Hana Ivan Jo Kai Lena Milo Nia Omar Pia Raj Sue Tom Una".split()
_LAST = "Adams Baker Chen Diaz Evans Fox Gray Hill Ito Jones Khan Lopez Moore Ng Ortiz Park Quinn Roy".split()
_START = datetime.date(2014, 1, 3)
_DAYS = (datetime.date(2017, 12, 30) - _START).days


@dataclasses.dataclass
class Record:
    order_id: str
    order_date: datetime.date
    ship_date: datetime.date
    ship_mode: str
    customer_id: str
    customer_name: str
    segment: str
    city: str
    state: str
    postal: int
    region: str
    product_id: str
    category: str
    subcategory: str
    name: str
    sales: int  # ten-thousandths
    quantity: int
    discount: str
    profit: int  # ten-thousandths


def _money(units: int) -> str:
    sign = "-" if units < 0 else ""
    units = abs(units)
    return f"{sign}{units // 10000}.{units % 10000:04d}"


def _date(d: datetime.date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _product_name(rng: random.Random, i: int) -> str:
    """Names carry the reference's hard characters: commas, quotes,
    semicolons, NBSP, curly quotes and accents, at reference-like rates."""
    words = [rng.choice(_WORDS) for _ in range(rng.randint(2, 4))]
    if rng.random() < 0.05:
        words.insert(1, rng.choice(_ACCENTED))
    base = " ".join(words) + f" {i}"
    r = rng.random()
    if r < 0.22:
        return f"{base}, {rng.choice(_WORDS)} {rng.randint(2, 99)}/Pack"
    if r < 0.25:
        return f'{base} {rng.randint(2, 36)}" Wide'
    if r < 0.26:
        return f"{base}; Set of {rng.randint(2, 6)}"
    if r < 0.28:
        return f"{base}\xa0{rng.choice(_WORDS)}"
    if r < 0.30:
        return f"{base} “{rng.choice(_WORDS)}”"
    return base


def _line(rid: int, rec: Record, name: str, postal: str) -> str:
    fields = [
        str(rid), rec.order_id, _date(rec.order_date), _date(rec.ship_date),
        rec.ship_mode, rec.customer_id, rec.customer_name, rec.segment,
        "United States", rec.city, rec.state, postal, rec.region,
        rec.product_id, rec.category, rec.subcategory, name,
        _money(rec.sales), str(rec.quantity), rec.discount, _money(rec.profit),
    ]
    buf = io.StringIO()
    csv.writer(buf, lineterminator="").writerow(fields)
    line = buf.getvalue()
    if "," in name or '"' in name:
        line = '"' + line.replace('"', '""') + '"'
    if ";" not in name:
        line += ";"
    return line


def generate(path: str, n_records: int, seed: int) -> tuple[dict, list[Record]]:
    """Write ``n_records`` messy records to ``path``; return (truth, kept
    rows), where kept rows are the records that survive the dedup."""
    rng = random.Random(seed)
    n_cust = max(40, n_records // 12)
    n_prod = max(60, n_records // 5)
    n_geo = max(30, min(n_records // 15, 4000))

    customers = []
    for i in range(n_cust):
        cid = f"{chr(65 + i % 26)}{chr(65 + (i // 26) % 26)}-{10000 + i}"
        customers.append((cid, f"{rng.choice(_FIRST)} {rng.choice(_LAST)} {i}", rng.choice(SEGMENTS)))
    geos = []
    for i in range(n_geo):
        region = REGIONS[i % 4]
        # ~5% of postal codes start with 0 and lose it on output
        postal = rng.randint(1000, 9999) if rng.random() < 0.05 else rng.randint(10000, 99999)
        geos.append((f"City {i}", f"State {i % 49}", postal, region))
    products = []
    for i in range(n_prod):
        cat = rng.choice(tuple(SUBCATEGORIES))
        sub = rng.choice(SUBCATEGORIES[cat])
        pid = f"{cat[:3].upper()}-{sub[:2].upper()}-{10000000 + i}"
        products.append((pid, cat, sub, _product_name(rng, i)))

    out: list[str] = [HEADER + ";"]
    kept: list[Record] = []
    n_dups = n_trunc = n_stripped = 0
    dup_every = 1250  # the reference plants 8 pairs in 9,994 records
    order_no = 100000
    while len(out) - 1 < n_records:
        order_no += 1
        od = _START + datetime.timedelta(days=rng.randint(0, _DAYS))
        order_id = f"{rng.choice(('CA', 'US'))}-{od.year}-{order_no}"
        cust = rng.choice(customers)
        geo = rng.choice(geos)
        ship_mode = rng.choice(SHIP_MODES)
        sd = od + datetime.timedelta(days=rng.randint(0, 7))
        n_lines = min(14, 1 + int(rng.expovariate(1.0)), n_records - (len(out) - 1))
        for prod in rng.sample(products, n_lines):
            rec = Record(
                order_id, od, sd, ship_mode, cust[0], cust[1], cust[2],
                geo[0], geo[1], geo[2], geo[3], prod[0], prod[1], prod[2], prod[3],
                rng.randint(4440, 50_000_000), rng.randint(1, 14),
                rng.choice(DISCOUNTS), 0,
            )
            mag = rng.randint(0, rec.sales // 3)
            rec.profit = -mag if rng.random() < 0.187 else mag
            name = rec.name
            head = name.split(",", 1)[0]
            if "," in name and '"' not in head and rng.random() < 0.1:
                name = head
                n_trunc += 1
            postal = str(rec.postal)
            n_stripped += rec.postal < 10000
            out.append(_line(len(out), rec, name, postal))
            kept.append(rec)
            if len(out) - 1 < n_records and (len(out) - 1) % dup_every == 0:
                twin = dataclasses.replace(rec, quantity=rec.quantity % 14 + 1,
                                           sales=rec.sales + 1, profit=rec.profit - 1)
                out.append(_line(len(out), twin, name, postal))
                n_dups += 1

    with open(path, "wb") as fh:
        fh.write(("\r\n".join(out) + "\r\n").encode("cp1252"))

    truth = {
        "seed": seed,
        "records": n_records,
        "planted_duplicates": n_dups,
        "truncated_names": n_trunc,
        "stripped_postals": n_stripped,
        "rows_after_dedup": len(kept),
        "sum_sales": _money(sum(r.sales for r in kept)),
        "sum_profit": _money(sum(r.profit for r in kept)),
        "sum_quantity": sum(r.quantity for r in kept),
        "distinct_orders": len({r.order_id for r in kept}),
        "dim_rows": {
            "dim_date": (max(r.ship_date for r in kept) - min(r.order_date for r in kept)).days + 1,
            "dim_shipmode": len({r.ship_mode for r in kept}),
            "dim_category": len({r.category for r in kept}),
            "dim_subcategory": len({r.subcategory for r in kept}),
            "dim_geography": len({(r.city, r.state, r.region, r.postal) for r in kept}),
            "dim_customer": len({r.customer_id for r in kept}),
            "dim_product": len({r.product_id for r in kept}),
        },
        "qa_issues": {
            "NULL_DATES": 0,
            "NEGATIVE_PROFIT": sum(r.profit < 0 for r in kept),
            "INCONSISTENT_GEOGRAPHY": 0,
        },
    }
    with open(path + ".truth.json", "w") as fh:
        json.dump(truth, fh, indent=1)
    return truth, kept


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__.split("Usage: ")[1])
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))[0]))
