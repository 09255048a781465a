"""Registry correctness check: every query against its DuckDB oracle.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01 (override with $SPARK_GRAFT_VERIFY_SF_DIR), then compares row
count, column names, and an order-insensitive value representation.
``compare_query`` is the one comparison; tests/test_registry_oracle.py
runs it over every query at sf0.001 as part of Tier-1. Use while
iterating:

    python scripts/verify_local.py [query_name ...]
    SPARK_GRAFT_VERIFY_SF_DIR=/root/testdata/sf0.001 python scripts/verify_local.py

Float cells compare by bare ``repr`` — DELIBERATELY stricter than the
differential tests' round-to-10-places: the repo's exact-decimal
discipline promises bit-identical doubles, and the strict compare is
what has caught real divergence (the r6 OLS-trend cancellation bug
showed up only past the 7th digit).
"""

from __future__ import annotations

import math
import os
import sys
import traceback
from collections import Counter
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as e  # noqa: E402
from airbnb_cdc_spark.session import TABLES, get_spark, release_cached  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def compare_query(spark, con, sf_dir: str, fn, oracle: str) -> tuple[int, list[str]]:
    """Run one registry query on Spark and its oracle SQL on ``con``
    (DuckDB, views over the tables in ``sf_dir``). Returns the Spark
    row count and the problems found; an empty list means schema, row
    count and the multiset of normalized rows all match. Cached
    partitions the query made are released after its Spark run."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception:
        return 0, [f"SPARK ERROR\n{traceback.format_exc(limit=3)}"]
    finally:
        release_cached()
    try:
        d = con.execute(oracle)
        d_cols = [c[0] for c in d.description]
        d_rows = [tuple(r) for r in d.fetchall()]
    except Exception:
        return len(s_rows), [f"ORACLE ERROR\n{traceback.format_exc(limit=3)}"]

    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"SCHEMA MISMATCH spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(d_rows)}")
    if problems:
        return len(s_rows), problems
    cols, sn = _normalize(s_rows, s_cols)
    _, dn = _normalize(d_rows, d_cols)
    if sn != dn:
        # multiset difference, NOT positional zip: one odd row shifts
        # sorted order and would misalign every pair after it,
        # reporting unrelated rows as different
        s_only = Counter(sn) - Counter(dn)
        d_only = Counter(dn) - Counter(sn)
        for label, bag in (("spark-only", s_only), ("duck-only", d_only)):
            for row, cnt in list(bag.items())[:3]:
                problems.append(f"{label} x{cnt}: {dict(zip(cols, row))}")
        problems.append(
            f"VALUE MISMATCH ({sum(s_only.values())} spark-only / "
            f"{sum(d_only.values())} duck-only of {len(sn)} rows)"
        )
    return len(s_rows), problems


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per table present in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main() -> int:
    only = set(sys.argv[1:])
    qs, oracles = e.queries(), e.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo must not report 'all green' on zero queries run
        print(f"UNKNOWN query names: {sorted(unknown)}")
        return 2

    spark = get_spark("verify_local")
    con = oracle_connection(SF_DIR)
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # per-query isolation: one broken query must not abort the run
        # and swallow the report for everything after it
        n_rows, problems = compare_query(spark, con, SF_DIR, fn, oracles[name])
        for line in problems:
            print(f"{name}: {line}")
        print(f"{name}: {'FAIL' if problems else 'OK'} ({n_rows} rows)")
        if problems:
            failed.append(name)
    if failed:
        print("FAILED:", failed)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
