#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 next to its
``oracle_sql()`` DuckDB query and compares: row count, column names, and
order-insensitive values (columns sorted by name, rows sorted by all
columns). Stricter-than-driver float handling: exact equality required;
near-misses are reported with max abs diff so the query can be tightened.

Usage:
    python tools/check_oracle.py            # all queries
    python tools/check_oracle.py name ...   # subset
    SF_DIR=/root/testdata/sf0.001 python tools/check_oracle.py   # other sf
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from walmart_project_etl_spark.operators.util import leak_census  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def canon(df):
    """Canonical form: columns sorted by name, rows sorted, python values."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime"):
            df[c] = col.astype("datetime64[us]")
    rows = [tuple(_norm(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def _norm(v):
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, (list, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return v


def dtype_problems(spark_df, oracle_df):
    """Emulate the driver's dtype-sensitive value hash: a bare integer
    ``sum()`` oracle yields DuckDB HUGEINT → pandas float64/object, which
    hash-mismatches Spark's int64 even when values are equal (VERDICT r3
    §wrong-1). Integer-vs-float/object kind mismatch = error; integer
    width differences = warning (not observed to break the driver)."""
    out = []

    def kind(dtype):
        k = dtype.kind
        return "O" if k in "OMU" else k  # dates arrive M (duck) vs O (spark)

    for c in sorted(spark_df.columns):
        a, b = spark_df[c].dtype, oracle_df[c].dtype
        ka, kb = kind(a), kind(b)
        if ka != kb and not (ka in "iu" and kb in "iu"):
            out.append(f"DTYPE {c}: spark={a} oracle={b}")
        elif ka in "iu" and a != b:
            out.append(f"WARNDTYPE {c}: spark={a} oracle={b}")
    return out


def compare(name, spark_df, oracle_df):
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if [c.lower() for c in sc] != [c.lower() for c in oc]:
        problems.append(f"columns spark={sc} oracle={oc}")
    if problems:
        return problems
    problems += dtype_problems(spark_df, oracle_df)
    if any(not p.startswith("WARN") for p in problems):
        return problems
    a, b = canon(spark_df), canon(oracle_df)
    n_bad = 0
    max_float_diff = 0.0
    for ra, rb in zip(a, b):
        if ra == rb:
            continue
        exactish = True
        for va, vb in zip(ra, rb):
            if va == vb:
                continue
            if isinstance(va, float) and isinstance(vb, float):
                d = abs(va - vb)
                max_float_diff = max(max_float_diff, d)
                if d > 1e-9 * max(1.0, abs(va), abs(vb)):
                    exactish = False
            else:
                exactish = False
        if not exactish:
            n_bad += 1
            if n_bad <= 3:
                problems.append(f"row mismatch:\n  spark : {ra}\n  oracle: {rb}")
    if n_bad > 3:
        problems.append(f"... {n_bad} mismatched rows total")
    if not problems and max_float_diff > 0:
        problems.append(f"WARNFLOAT max abs float diff {max_float_diff:.3e} (passes tolerance, not bit-exact)")
    return problems


def leaks(spark) -> list[str]:
    """The query's leaked cached plans as a problem line (see
    ``operators.util.leak_census``); the cache is cleared, so the next
    query runs cold."""
    n = leak_census(spark)
    return [f"LEAKED {n} cached plan(s)"] if n else []


def main():
    only = set(sys.argv[1:])

    import __spark_entry__ as entry
    from walmart_project_etl_spark.session import get_spark

    spark = get_spark("check-oracle")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            leaks(spark)
            results[name] = [f"SPARK ERROR: {type(e).__name__}: {str(e)[:300]}"]
            print(f"✗ {name}: SPARK ERROR {str(e)[:200]}")
            continue
        leaked = leaks(spark)
        if name not in oracles:
            results[name] = leaked
            print(f"{'✗' if leaked else '~'} {name}: rows-only ({len(sdf)} "
                  f"rows, {time.time()-t0:.1f}s)"
                  + "".join(f"\n    {p}" for p in leaked))
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = [f"ORACLE ERROR: {type(e).__name__}: {str(e)[:300]}"]
            print(f"✗ {name}: ORACLE ERROR {str(e)[:200]}")
            continue
        probs = leaked + compare(name, sdf, odf)
        results[name] = probs
        real = [p for p in probs if not p.startswith("WARN")]
        mark = "✓" if not real else "✗"
        print(f"{mark} {name}: {len(sdf)} rows, {time.time()-t0:.1f}s"
              + ("" if not probs else "\n    " + "\n    ".join(probs[:6])))

    bad = {k: v for k, v in results.items()
           if any(not p.startswith("WARN") for p in v)}
    print(f"\n{len(results) - len(bad)}/{len(results)} green"
          + (f"; FAILING: {sorted(bad)}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
