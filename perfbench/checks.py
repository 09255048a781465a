"""Output checks: pure-Python expectations compared with what the engine wrote.

Nothing here imports Spark. The CDC checks take plain rows (tuples or
dicts) already collected from the warehouse, so the same code checks a real
run and the planted faults in the benchmark's tests.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

from cdcgen import Truth

AGG_COLUMNS = (
    "country", "total_bookings", "confirmed_bookings", "cancelled_bookings",
    "total_amount", "confirmed_amount", "cancelled_amount", "cancellation_rate",
    "last_booking_date", "first_booking_date", "avg_amount",
    "confirmed_avg_amount", "cancelled_avg_amount", "min_amount", "max_amount",
    "distinct_customers", "avg_stay_duration",
)


def _cents(x: float) -> int:
    return round(x * 100)


def expected_aggregate(truth: Truth) -> dict[str, dict]:
    """The 17 measures per country over ``fact ⋈ dim`` (inner join on
    customer_id), recomputed from the ground truth with exact decimals."""
    groups: dict[str, list[dict]] = {}
    for b in truth.bookings.values():
        cust = truth.customers.get(int(b["customer_id"]))
        if cust is not None:
            groups.setdefault(cust["country"], []).append(b)
    out = {}
    for country, rows in groups.items():
        n = len(rows)
        amt = [Decimal(_cents(r["total_amount"])) / 100 for r in rows]
        conf = [a for a, r in zip(amt, rows) if r["status"] == "Confirmed"]
        canc = [a for a, r in zip(amt, rows) if r["status"] == "Cancelled"]
        created = [date.fromisoformat(r["booking_created_at"][:10]) for r in rows]
        out[country] = {
            "country": country,
            "total_bookings": n,
            "confirmed_bookings": len(conf),
            "cancelled_bookings": len(canc),
            "total_amount": float(sum(amt)),
            "confirmed_amount": float(sum(conf, Decimal(0))),
            "cancelled_amount": float(sum(canc, Decimal(0))),
            "cancellation_rate": len(canc) / n,
            "last_booking_date": max(created),
            "first_booking_date": min(created),
            "avg_amount": float(sum(amt)) / n,
            "confirmed_avg_amount": float(sum(conf)) / len(conf) if conf else None,
            "cancelled_avg_amount": float(sum(canc)) / len(canc) if canc else None,
            "min_amount": float(min(amt)),
            "max_amount": float(max(amt)),
            "distinct_customers": len({r["customer_id"] for r in rows}),
            "avg_stay_duration": sum(r["nights"] for r in rows) / n,
        }
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)
    if isinstance(a, datetime):
        a = a.date()
    if isinstance(b, datetime):
        b = b.date()
    return a == b


def check_aggregate(rows: list[dict], truth: Truth) -> list[str]:
    """Compare collected aggregate rows (``{column: value}``) with the
    recomputation. Returns one message per difference."""
    want = expected_aggregate(truth)
    got = {r["country"]: r for r in rows}
    errs = []
    if set(got) != set(want):
        errs.append(f"aggregate countries {sorted(map(str, got))} != {sorted(want)}")
    for country in sorted(set(got) & set(want)):
        for col in AGG_COLUMNS:
            if not _same(got[country][col], want[country][col]):
                errs.append(
                    f"aggregate[{country}].{col} = {got[country][col]!r},"
                    f" expected {want[country][col]!r}"
                )
    return errs


def check_dim(rows: list[tuple], truth: Truth) -> list[str]:
    """``rows`` are (customer_id, email, country, total_spent) of the dim
    table: one row per customer, each carrying its latest wave."""
    errs = []
    if len(rows) != len(truth.customers):
        errs.append(f"dim_customer has {len(rows)} rows, expected {len(truth.customers)}")
    seen = {}
    for cid, email, country, spent in rows:
        seen[cid] = (email, country, None if spent is None else Decimal(spent))
    wrong = [
        cid
        for cid, row in truth.customers.items()
        if seen.get(cid)
        != (row["email"], row["country"], Decimal(row["total_spent"]))
    ]
    if wrong:
        errs.append(f"{len(wrong)} customers not at their latest wave, e.g. {sorted(wrong)[:3]}")
    return errs


def check_fact(rows: list[tuple], truth: Truth) -> list[str]:
    """``rows`` are (booking_id, status, updated_at text, total_amount) of
    the fact table. The count equals the valid bookings, the cancelled set
    is exact, and every booking holds its latest version (stale re-emits
    lose, malformed rows are absent)."""
    errs = []
    if len(rows) != len(truth.bookings):
        errs.append(f"fact_booking has {len(rows)} rows, expected {len(truth.bookings)}")
    got = {bid: (status, ts, amt) for bid, status, ts, amt in rows}
    cancelled = {bid for bid, (status, _, _) in got.items() if status == "Cancelled"}
    want_cancelled = truth.cancelled()
    if cancelled != want_cancelled:
        errs.append(
            f"cancelled set differs: {len(want_cancelled - cancelled)} missing,"
            f" {len(cancelled - want_cancelled)} extra"
        )
    bad = truth.bad_ids & set(got)
    if bad:
        errs.append(f"{len(bad)} malformed bookings reached the fact table")
    stale = [
        bid
        for bid, doc in truth.bookings.items()
        if bid in got
        and (got[bid][1], got[bid][2])
        != (doc["updated_at"], Decimal(_cents(doc["total_amount"])) / 100)
    ]
    if stale:
        errs.append(f"{len(stale)} bookings not at their latest version, e.g. {stale[:2]}")
    return errs


# -- registry ------------------------------------------------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def normalize(rows, cols) -> tuple[list[str], list[tuple]]:
    """Order-insensitive value form: columns sorted by name, each cell
    stringified (floats by ``repr``, so doubles must match bit for bit),
    rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def same_result(a_cols, a_rows, b_cols, b_rows) -> bool:
    return normalize(a_rows, a_cols) == normalize(b_rows, b_cols)
