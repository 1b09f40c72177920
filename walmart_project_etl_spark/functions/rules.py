"""Derived-column business rules (the reference's ~25 per-row Python rules).

Every rule here is a pure ``pyspark.sql.Column`` expression — the reference
implements them as per-row Python inside ``iterrows()`` loops
(``etl_staging_loader.py:265, 372, 476, 568, 656, 789, 992, 1175``); in Spark
they compile into whole-stage-codegen'd JVM expressions, so the same rule that
touched 8k rows in the reference runs unchanged over 100 TB.

Rule numbering (F3..F29) follows SURVEY.md §2.8; reference citations inline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _round2(col: Column, scale: int = 2) -> Column:
    """HALF_UP rounding routed through decimal(28,8).

    ``F.round`` on a raw double rounds its shortest decimal representation
    (HALF_UP), which other engines cannot reproduce bit-for-bit at .xx5
    boundaries. The decimal route keeps the same HALF_UP semantics while
    being exactly reproducible (and oracle-testable) everywhere.
    """
    return F.round(col.cast("decimal(28,8)"), scale).cast("double")


# ---------------------------------------------------------------- dates (F3-F6)

def date_parts(col: Column | str) -> dict[str, Column]:
    """F3: day_of_week name, day_of_month, month, month_name, quarter, year
    (reference ``etl_ods_loader.py:226-242``)."""
    c = _c(col)
    return {
        "day_of_week": F.date_format(c, "EEEE"),
        "day_of_month": F.dayofmonth(c),
        "month": F.month(c),
        "month_name": F.date_format(c, "MMMM"),
        "quarter": F.quarter(c),
        "year": F.year(c),
    }


def parse_date_multi(col: Column | str) -> Column:
    """F4: multi-format date parse — try M/d/yyyy, fall back to ISO
    (reference ``etl_ods_loader.py:208-224``)."""
    c = _c(col)
    return F.coalesce(F.try_to_timestamp(c, F.lit("M/d/yyyy")).cast("date"),
                      F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).cast("date"),
                      c.try_cast("date"))  # null-on-failure (ANSI-safe)


def is_weekend(col: Column | str) -> Column:
    """F5: day name ∈ {Saturday, Sunday} (reference ``etl_staging_loader.py:181``)."""
    return F.dayofweek(_c(col)).isin(1, 7)


def fiscal_year(col: Column | str) -> Column:
    """F6: fiscal year = calendar year (reference ``etl_staging_loader.py:182``)."""
    return F.year(_c(col))


def fiscal_quarter(col: Column | str) -> Column:
    """F6: fiscal quarter = calendar quarter (reference ``etl_staging_loader.py:183``)."""
    return F.quarter(_c(col))


# ------------------------------------------------------- customer rules (F7-F10)

def safe_int_cast(col: Column | str) -> Column:
    """F7: string → int with null-on-failure (reference
    ``etl_staging_loader.py:270-278`` try/except → None).

    Spark's cast trims every character ≤ 0x20 while Python's ``float()``
    strips only whitespace, so a string holding any other control
    character is a failed parse: NULL."""
    s = _c(col).cast("string")
    return F.when(~s.rlike(r"[\x00-\x08\x0e-\x1f]"),
                  s.try_cast("double").cast("int"))


def age_group(age: Column | str) -> Column:
    """F8: Unknown / Under 18 / 18-34 / 35-49 / 50-64 / 65+
    (reference ``etl_staging_loader.py:280-292``)."""
    a = _c(age)
    return (F.when(a.isNull(), "Unknown")
             .when(a < 18, "Under 18")
             .when(a < 35, "18-34")
             .when(a < 50, "35-49")
             .when(a < 65, "50-64")
             .otherwise("65+"))


def title_case_clean(col: Column | str, default: str = "Unknown") -> Column:
    """F9: strip().title() with default (reference ``etl_staging_loader.py:295``)."""
    c = _c(col)
    cleaned = F.initcap(F.trim(c))
    return F.when(c.isNull() | (F.trim(c) == ""), F.lit(default)).otherwise(cleaned)


def default_if_null(col: Column | str, default) -> Column:
    """F10: ``or 'Unknown'`` / ``or 0`` patterns (reference
    ``etl_staging_loader.py:268, 303-307`` and ~20 more sites)."""
    return F.coalesce(_c(col), F.lit(default))


# -------------------------------------------------------- product rules (F11-F15)

def margin_percentage(margin: Column | str, price: Column | str) -> Column:
    """F11: round(margin/price*100, 2) if price>0 else 0
    (reference ``etl_staging_loader.py:383-384``)."""
    m, p = _c(margin), _c(price)
    return F.when(p > 0, _round2(m / p * 100.0)).otherwise(F.lit(0.0))


def is_high_margin(margin_pct: Column | str, threshold: float = 30.0) -> Column:
    """F12: margin_percentage > 30 (reference ``etl_staging_loader.py:386-387``)."""
    return _c(margin_pct) > threshold


def price_tier(price: Column | str) -> Column:
    """F13: <10 Low / <50 Medium / <100 High / else Premium
    (reference ``etl_staging_loader.py:389-397``)."""
    p = _c(price)
    return (F.when(p < 10, "Low")
             .when(p < 50, "Medium")
             .when(p < 100, "High")
             .otherwise("Premium"))


def market_from_region(region: Column | str) -> Column:
    """F14: region → market, ORDER-SENSITIVE membership chain.

    Reference ``etl_staging_loader.py:485-497``: if/elif over lowercase
    membership lists. 'southeast'/'southwest' appear in BOTH the east/west
    lists and the south list — the first matching branch wins (branch
    shadowing preserved deliberately; the South list's overlap entries are
    unreachable, as in the reference). NULL region → 'Unknown'.
    """
    raw = _c(region)
    r = F.lower(raw.cast("string"))
    return (F.when(raw.isNull(), "Unknown")
             .when(r.isin("east", "northeast", "southeast"), "East Coast")
             .when(r.isin("west", "northwest", "southwest", "pacific"), "West Coast")
             .when(r.isin("central", "midwest", "north central", "south central"), "Central")
             .when(r.isin("south", "southwest", "southeast"), "South")
             .otherwise("Other"))


def supplier_type_from_name(name: Column | str) -> Column:
    """F15: substring match wholesale/retail/manufacturer/distributor else General
    (reference ``etl_staging_loader.py:575-587``)."""
    n = F.lower(F.coalesce(_c(name).cast("string"), F.lit("")))
    return (F.when(n.contains("wholesale"), "Wholesale")
             .when(n.contains("retail"), "Retail")
             .when(n.contains("manufacturer"), "Manufacturer")
             .when(n.contains("distributor"), "Distributor")
             .otherwise("General"))


# -------------------------------------------------------- returns rules (F16-F17, F22-F23)

def impact_level(category: Column | str) -> Column:
    """F16: defect/damage/quality→High; preference/changed mind→Low; else Medium
    (reference ``etl_staging_loader.py:662-668``)."""
    c = F.lower(F.coalesce(_c(category).cast("string"), F.lit("")))
    return (F.when(c.isin("defect", "damage", "quality"), "High")
             .when(c.isin("preference", "changed mind"), "Low")
             .otherwise("Medium"))


def is_controllable(category: Column | str) -> Column:
    """F17: category ∈ {defect,damage,quality,wrong item,late delivery}
    (reference ``etl_staging_loader.py:670-674``)."""
    c = F.lower(F.coalesce(_c(category).cast("string"), F.lit("")))
    return c.isin("defect", "damage", "quality", "wrong item", "late delivery")


def days_since_sale(return_date: Column | str, sale_date: Column | str) -> Column:
    """F22: (return_date − sale_date).days (reference ``etl_staging_loader.py:1043-1048``)."""
    return F.datediff(_c(return_date), _c(sale_date))


def is_within_30_days(days: Column | str) -> Column:
    """F22: days_since_sale <= 30."""
    return _c(days) <= 30


def avg_return_price(amount: Column | str, qty: Column | str) -> Column:
    """F23: round(amount/qty, 2) if qty>0 else 0 (reference ``etl_staging_loader.py:1050-1051``)."""
    a, q = _c(amount), _c(qty)
    return F.when(q > 0, _round2(a / q)).otherwise(F.lit(0.0))


# -------------------------------------------------------- sales rules (F18-F21)

def discount_amount(sales: Column | str, discount: Column | str) -> Column:
    """F18: round(sales*discount, 2) (reference ``etl_staging_loader.py:841``)."""
    return _round2(_c(sales) * _c(discount))


def net_revenue(sales: Column | str, disc_amount: Column | str) -> Column:
    """F19: round(sales − discount_amount, 2) (reference ``etl_staging_loader.py:843``)."""
    return _round2(_c(sales) - _c(disc_amount))


def profit_margin(profit: Column | str, sales: Column | str) -> Column:
    """F20: round(profit/sales*100, 2) if sales>0 else 0
    (reference ``etl_staging_loader.py:844``)."""
    p, s = _c(profit), _c(sales)
    return F.when(s > 0, _round2(p / s * 100.0)).otherwise(F.lit(0.0))


def is_profitable(profit: Column | str) -> Column:
    """F21: profit > 0 (reference ``etl_staging_loader.py:845``)."""
    return _c(profit) > 0


# -------------------------------------------------------- inventory rules (F24-F26)

def days_of_supply(stock: Column | str, min_stock: Column | str) -> Column:
    """F24: int(stock/min_stock*30) if both>0 else null
    (reference ``etl_staging_loader.py:1219-1223``)."""
    s, m = _c(stock), _c(min_stock)
    return F.when((s > 0) & (m > 0), (s / m * 30).cast("int")).otherwise(F.lit(None).cast("int"))


def stock_status(stock: Column | str, reorder: Column | str, min_stock: Column | str,
                 max_stock: Column | str) -> Column:
    """F25: ≤0 Out of Stock / <reorder Low Stock / <min Below Minimum /
    >max Overstocked / else In Stock (reference ``etl_staging_loader.py:1225-1235``)."""
    s = _c(stock)
    return (F.when(s <= 0, "Out of Stock")
             .when(s < _c(reorder), "Low Stock")
             .when(s < _c(min_stock), "Below Minimum")
             .when(s > _c(max_stock), "Overstocked")
             .otherwise("In Stock"))


def is_in_stock(stock: Column | str) -> Column:
    """F26: stock_level > 0 (reference ``etl_staging_loader.py:1237-1238``)."""
    return _c(stock) > 0


# -------------------------------------------------------- SCD support (F27-F28)

def change_fingerprint(*cols: Column | str, sep: str = "|") -> Column:
    """F27: change-detection fingerprint over tracked columns.

    Reference builds ``CONCAT(COALESCE(col,''),'|',…)`` and compares ``<>``
    (``etl_target_loader.py:332-341, 514-521``). We hash the same concat with
    xxhash64 — a 64-bit compare instead of a long string compare; at 100 TB
    the narrower shuffle/compare wins.
    """
    parts = [F.coalesce(_c(c).cast("string"), F.lit("")) for c in cols]
    return F.xxhash64(F.concat_ws(sep, *parts))


FAR_FUTURE_EXPIRY = "9999-12-31"   # reference etl_target_loader.py:49
SCD2_BACKFILL_EFFECTIVE = "2000-01-01"  # reference etl_target_loader.py:363
