"""Seeded source generator for the warehouse benchmark.

Writes the 25-column retail CSV (``schemas.SOURCE_CSV_SCHEMA``) with the
reference file's quirks: quoted product names holding commas and quotes,
~10% empty ``Customer Age``, ~1% empty ``Product Base Margin``, one
customer buying in several cities, one product sold at two prices. Day 2
keeps every business key of day 1 and mutates tracked attributes: about
10% of products are re-priced (an SCD2 product version bump) and about 5%
of cities move to another state and region (an SCD2 store version bump).

Everything derives from ``random.Random(seed)``: the same seed gives the
same bytes. Alongside the CSV the generator returns a :class:`Day` model
from which the expected answers of every output check are computed in
plain Python.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field

HEADER = ["City", "Customer Age", "Customer Name", "Customer Segment",
          "Discount", "Number of Records", "Order Date", "Order ID",
          "Order Priority", "Order Quantity", "Product Base Margin",
          "Product Category", "Product Container", "Product Name",
          "Product Sub-Category", "Profit", "Region", "Row ID", "Sales",
          "Ship Date", "Ship Mode", "Shipping Cost", "State", "Unit Price",
          "Zip Code"]

CATEGORIES = {
    "Furniture": ["Bookcases", "Chairs & Chairmats", "Office Furnishings",
                  "Tables"],
    "Office Supplies": ["Appliances", "Binders and Binder Accessories",
                        "Envelopes", "Labels", "Paper", "Pens & Art Supplies",
                        "Rubber Bands", "Scissors, Rulers and Trimmers",
                        "Storage & Organization"],
    "Technology": ["Computer Peripherals", "Copiers and Fax",
                   "Office Machines", "Telephones and Communication"],
}
CONTAINERS = ["Jumbo Box", "Jumbo Drum", "Large Box", "Medium Box",
              "Small Box", "Small Pack", "Wrap Bag"]
SEGMENTS = ["Consumer", "Corporate", "Home Office", "Small Business"]
PRIORITIES = ["Critical", "High", "Medium", "Low", "Not Specified"]
SHIP_MODES = ["Delivery Truck", "Express Air", "Regular Air"]
STATES = {  # region -> states
    "Central": ["Illinois", "Iowa", "Kansas", "Minnesota", "Texas"],
    "East": ["Maine", "New York", "Ohio", "Pennsylvania", "Vermont"],
    "South": ["Alabama", "Florida", "Georgia", "Louisiana", "Tennessee"],
    "West": ["Arizona", "California", "Nevada", "Oregon", "Washington"],
}
WORDS = ["Acme", "Apex", "Boston", "Eldon", "Fellowes", "Global", "Hon",
         "Lesro", "Novimex", "Rogers", "Sauder", "Tenex", "Xerox", "Zebra"]
NOUNS = ["Binder", "Bookcase", "Cabinet", "Chair", "Desk", "Envelope",
         "Fax", "Label", "Organizer", "Pad", "Pen", "Phone", "Printer",
         "Shelf", "Stapler", "Table"]

# Day 1 runs on this date, day 2 on the next; every order date lies
# between FIRST_DATE and LAST_DATE (>= 2000-01-01, the SCD2 backfill
# date, so the interval join keeps every fact).
FIRST_DATE = dt.date(2012, 1, 1)
LAST_DATE = dt.date(2015, 12, 31)
RUN_DATES = ("2016-01-15", "2016-01-16")
BATCHES = ("B1", "B2")
RECENT_DAYS = 365     # the newest lines spread over the final year


@dataclass
class Line:
    """One source order line, in model units (cents, date objects)."""
    row_id: int
    order_id: int
    city: str
    state: str
    region: str
    zip_code: str
    customer: str
    age: str
    segment: str
    product: str
    category: str
    sub_category: str
    container: str
    margin: str
    unit_price_cents: int
    quantity: int
    discount: str
    sales_cents: int
    profit_cents: int
    shipping_cents: int
    order_date: dt.date
    ship_date: dt.date
    priority: str
    ship_mode: str


@dataclass
class Day:
    """One day's source: its lines plus what the mutation touched."""
    lines: list[Line]
    run_date: str
    batch_id: str
    repriced: set[str] = field(default_factory=set)
    moved: set[str] = field(default_factory=set)


def _cents(c: int) -> str:
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


def _mdy(d: dt.date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _product_name(rng: random.Random, i: int) -> str:
    base = f"{rng.choice(WORDS)} {rng.choice(NOUNS)} {i}"
    r = rng.random()
    if r < 0.08:   # inch marks and a comma: needs quote doubling in CSV
        return (f'{base} {rng.randint(8, 14)} 1/8"W x '
                f'{rng.randint(8, 14)} 1/4"D, Gray')
    if r < 0.2:
        return f"{base}, {rng.choice(['Black', 'Blue', 'Walnut'])}"
    if r < 0.22:
        return f"{base}™ Series"
    return base


def generate(seed: int, n_lines: int) -> tuple[Day, Day]:
    """Both days' sources. Day 2 has the same business keys as day 1."""
    rng = random.Random(seed)
    n_products = max(1100, n_lines // 7)
    n_cities = max(150, n_lines // 50)
    n_customers = max(400, n_lines // 8)

    cities = []
    for i in range(n_cities):
        region = rng.choice(sorted(STATES))
        cities.append((f"City {i:04d}", rng.choice(STATES[region]), region,
                       f"{10000 + rng.randrange(89999):05d}"))
    products = []
    for i in range(n_products):
        cat = rng.choice(sorted(CATEGORIES))
        price = rng.randint(199, 99999)
        alt = round(price * 0.9) if rng.random() < 0.1 else None
        products.append((_product_name(rng, i), cat,
                         rng.choice(CATEGORIES[cat]), rng.choice(CONTAINERS),
                         f"{rng.randint(35, 80) / 100:.2f}", price, alt))
    customers = []
    for i in range(n_customers):
        customers.append((f"Customer {i:05d}", rng.choice(SEGMENTS),
                          rng.randrange(n_cities)))

    n_recent = min(4000, n_lines // 3)
    span_old = (LAST_DATE - FIRST_DATE).days - RECENT_DAYS
    lines: list[Line] = []
    order_id = 1000
    i = 0
    while i < n_lines:
        order_id += rng.randint(1, 9)
        if i < n_lines - n_recent:
            odate = FIRST_DATE + dt.timedelta(rng.randrange(span_old))
        else:
            odate = LAST_DATE - dt.timedelta(rng.randrange(RECENT_DAYS))
        cust, seg, home = customers[rng.randrange(n_customers)]
        # ~30% of a customer's lines are bought away from home
        city = cities[home if rng.random() < 0.7 else rng.randrange(n_cities)]
        for _ in range(min(rng.randint(1, 4), n_lines - i)):
            # the first n_products lines cover every product once
            p = products[i if i < n_products else rng.randrange(n_products)]
            name, cat, sub, cont, margin, price, alt = p
            price = alt if alt is not None and rng.random() < 0.5 else price
            qty = rng.randint(1, 50)
            disc = rng.randint(0, 25)
            sales = max(1, price * qty * (100 - disc) // 100 // 10)
            ship = rng.randint(49, 9999)
            lines.append(Line(
                row_id=i + 1, order_id=order_id,
                city=city[0], state=city[1], region=city[2], zip_code=city[3],
                customer=cust,
                age="" if rng.random() < 0.1 else str(rng.randint(18, 89)),
                segment=seg, product=name, category=cat, sub_category=sub,
                container=cont, margin="" if rng.random() < 0.01 else margin,
                unit_price_cents=price, quantity=qty,
                discount=f"{disc / 100:.2f}", sales_cents=sales,
                profit_cents=sales * rng.randint(-30, 45) // 100 - ship // 4,
                shipping_cents=ship, order_date=odate,
                ship_date=odate + dt.timedelta(rng.randint(0, 7)),
                priority=rng.choice(PRIORITIES),
                ship_mode=rng.choice(SHIP_MODES)))
            i += 1

    day1 = Day(lines, RUN_DATES[0], BATCHES[0])
    names = sorted({ln.product for ln in lines})
    repriced = set(rng.sample(names, max(1, len(names) // 10)))
    city_names = sorted({ln.city for ln in lines})
    moved = set(rng.sample(city_names, max(1, len(city_names) // 20)))
    new_home = {}
    for c in sorted(moved):
        old_region = next(ln.region for ln in lines if ln.city == c)
        region = rng.choice(sorted(set(STATES) - {old_region}))
        new_home[c] = (rng.choice(STATES[region]), region)
    day2_lines = []
    for ln in lines:
        changes = {}
        if ln.product in repriced:     # +7% list price; always a change
            changes["unit_price_cents"] = ln.unit_price_cents * 107 // 100 + 1
        if ln.city in moved:
            changes["state"], changes["region"] = new_home[ln.city]
        day2_lines.append(Line(**{**ln.__dict__, **changes}))
    day2 = Day(day2_lines, RUN_DATES[1], BATCHES[1], repriced, moved)
    return day1, day2


def to_csv(day: Day) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    for ln in day.lines:
        w.writerow([ln.city, ln.age, ln.customer, ln.segment, ln.discount, 1,
                    _mdy(ln.order_date), ln.order_id, ln.priority,
                    ln.quantity, ln.margin, ln.category, ln.container,
                    ln.product, ln.sub_category, _cents(ln.profit_cents),
                    ln.region, ln.row_id, _cents(ln.sales_cents),
                    _mdy(ln.ship_date), ln.ship_mode,
                    _cents(ln.shipping_cents), ln.state,
                    _cents(ln.unit_price_cents), ln.zip_code])
    return buf.getvalue().encode("utf-8")


# ------------------------------------------------------------- expectations

def expected_day(day: Day) -> dict:
    """What the target star must hold for this day's batch."""
    by_cat: Counter = Counter()
    for ln in day.lines:
        by_cat[ln.category] += ln.sales_cents
    return {"fact_rows": len(day.lines), "sales_by_category": dict(by_cat),
            "products": len({ln.product for ln in day.lines}),
            "stores": len({ln.city for ln in day.lines}),
            "repriced": set(day.repriced), "moved": set(day.moved)}


def expected_bi(days: list[Day]) -> dict:
    """Answers of every BI query after all ``days`` are loaded.

    Facts resolve SCD2 keys by transaction date, and every transaction
    predates day 2's run date, so store attributes come from day 1."""
    first = days[0].lines
    region_of = {ln.city: ln.region for ln in first}
    lines = [ln for d in days for ln in d.lines]
    cat, region, mode, prio = Counter(), Counter(), Counter(), Counter()
    qty, month = Counter(), Counter()
    seg_customers = defaultdict(set)
    latest_year = max(ln.order_date.year for ln in lines)
    for ln in lines:
        cat[ln.category] += ln.sales_cents
        region[region_of[ln.city]] += ln.sales_cents
        mode[ln.ship_mode] += ln.quantity
        prio[ln.priority] += ln.profit_cents
        qty[ln.product] += ln.quantity
        if ln.order_date.year == latest_year:
            month[ln.order_date.month] += ln.sales_cents
        seg_customers[ln.segment].add(ln.customer)
    top = sorted(qty.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return {
        "sales_by_category": dict(cat),
        "sales_by_region": dict(region),
        "qty_by_ship_mode": dict(mode),
        "profit_by_priority": dict(prio),
        "top_products_by_qty": top,
        "monthly_sales_latest_year": dict(month),
        "customers_by_segment": {s: len(c) for s, c in seg_customers.items()},
        "changed_dim_keys": (len(days[-1].repriced), len(days[-1].moved)),
        "latest_year": latest_year,
    }
