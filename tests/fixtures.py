"""Deterministic test-data generators reproducing the reference's golden
scenario *shape* (SURVEY.md §5, FIXTURES.md) — written from scratch:

- customer CSV feed: base file of N customers, then delta files updating
  subsets of existing keys (upsert must overwrite; count stays N).
- booking change feed: Confirmed inserts, then a cancellation wave
  re-emitting a sample of the same booking_ids with later ``updated_at``
  and populated cancellation fields (merge must update in place).
"""

from __future__ import annotations

import csv
import json
import random
import uuid
from contextlib import contextmanager
from datetime import date, datetime, timedelta
from pathlib import Path

CSV_HEADER = [
    "customer_id", "first_name", "last_name", "email", "phone_number",
    "address", "city", "state", "country", "zip_code", "signup_date",
    "last_login", "total_bookings", "total_spent", "preferred_language",
    "referral_code", "account_status",
]

COUNTRIES = ["USA", "UK", "France", "India", "Japan"]
STATUSES = ["Active", "Suspended", "Closed"]
CITIES = ["New York", "London", "Paris", "Dubai", "Mumbai", "Tokyo", "Sydney"]
CANCEL_REASONS = [
    "guest_change_of_plans", "host_issue", "payment_issue", "weather", "overbooking",
]


def customer_row(rng: random.Random, cid: int, wave: str) -> list:
    return [
        cid,
        f"First{cid}",
        f"Last{cid}_{wave}",
        f"user{cid}.{wave}@example.com",
        f"555-{rng.randint(1000, 9999)}",
        f'{rng.randint(1, 999)} Main St, Apt {rng.randint(1, 50)}',
        rng.choice(CITIES),
        f"State{rng.randint(1, 20)}",
        rng.choice(COUNTRIES),
        f"{rng.randint(10000, 99999)}",
        (date(2025, 1, 1) + timedelta(days=rng.randint(0, 300))).isoformat(),
        (datetime(2025, 8, 1) + timedelta(minutes=rng.randint(0, 10000))).strftime(
            "%Y-%m-%d %H:%M:%S"
        ),
        rng.randint(0, 20),
        f"{rng.uniform(0, 2000):.2f}",
        rng.choice(["English", "Spanish", "French"]),
        f"ref-{rng.randint(10000, 99999)}",
        rng.choice(STATUSES),
    ]


def write_customer_csvs(
    raw_dir: str | Path,
    n_base: int = 100,
    delta1_ids: tuple[int, ...] = (4, 5, 12, 14, 15, 18, 28, 29, 30),
    delta2_ids: tuple[int, ...] = (1, 20, 26, 27, 37, 5),
    seed: int = 7,
) -> dict[str, list[int]]:
    """Base + two delta waves, lexicographic names = replay order."""
    raw = Path(raw_dir)
    raw.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    waves = {
        "customer_feed_00_base.csv": ("base", list(range(1, n_base + 1))),
        "customer_feed_01_delta1.csv": ("d1", list(delta1_ids)),
        "customer_feed_02_delta2.csv": ("d2", list(delta2_ids)),
    }
    out = {}
    for fname, (wave, ids) in waves.items():
        with open(raw / fname, "w", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
            w.writerow(CSV_HEADER)
            for cid in ids:
                w.writerow(customer_row(rng, cid, wave))
        out[fname] = ids
    return out


def booking_doc(rng: random.Random, customer_ids: list[int], t0: datetime) -> dict:
    nights = rng.randint(1, 14)
    checkin = date(2025, 9, 1) + timedelta(days=rng.randint(0, 60))
    price = round(rng.uniform(40, 400), 2)
    fee = round(rng.uniform(0, 60), 2)
    created = t0 + timedelta(seconds=rng.randint(0, 86400))
    return {
        "booking_id": str(uuid.UUID(int=rng.getrandbits(128))),
        "customer_id": str(rng.choice(customer_ids)),
        "listing_id": f"L{rng.randint(1, 500)}",
        "status": "Confirmed",
        "booking_created_at": created.isoformat(sep=" "),
        "checkin_date": checkin.isoformat(),
        "checkout_date": (checkin + timedelta(days=nights)).isoformat(),
        "nights": nights,
        "lead_time_days": rng.randint(0, 120),
        "guests_adults": rng.randint(1, 4),
        "guests_children": rng.randint(0, 1),
        "guests_infants": rng.randint(0, 1),
        "price_nightly": price,
        "cleaning_fee": fee,
        "total_amount": round(price * nights + fee, 2),
        "currency": rng.choice(["USD", "EUR", "GBP"]),
        "country_code": rng.choice(["USA", "UK", "FRA"]),
        "city": rng.choice(CITIES),
        "channel": rng.choice(["app", "web", "partner"]),
        "device_type": rng.choice(["iOS", "Android", "Web"]),
        "cancellation_ts": None,
        "cancellation_reason": None,
        "updated_at": created.isoformat(sep=" "),
    }


def write_booking_feed(
    feed_dir: str | Path,
    n_bookings: int = 200,
    cancel_pct: float = 0.05,
    n_bad: int = 5,
    seed: int = 11,
) -> dict:
    """File 0: Confirmed inserts (+ a few bad checkout<checkin rows).
    File 1: cancellation wave re-emitting sampled ids with later
    updated_at. Returns the scenario facts for assertions."""
    feed = Path(feed_dir)
    feed.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    t0 = datetime(2025, 10, 1, 12, 0, 0)
    customer_ids = list(range(1, 101))

    docs = [booking_doc(rng, customer_ids, t0) for _ in range(n_bookings)]
    bad_docs = []
    for _ in range(n_bad):
        d = booking_doc(rng, customer_ids, t0)
        d["checkout_date"] = (
            date.fromisoformat(d["checkin_date"]) - timedelta(days=2)
        ).isoformat()
        bad_docs.append(d)

    with open(feed / "feed_000_inserts.json", "w") as f:
        for d in docs + bad_docs:
            f.write(json.dumps(d) + "\n")

    cancelled = rng.sample(docs, max(1, int(n_bookings * cancel_pct)))
    cancel_events = []
    for d in cancelled:
        upd = dict(d)
        ts = datetime.fromisoformat(d["updated_at"]) + timedelta(hours=6)
        upd["status"] = "Cancelled"
        upd["cancellation_ts"] = ts.isoformat(sep=" ")
        upd["cancellation_reason"] = rng.choice(CANCEL_REASONS)
        upd["updated_at"] = ts.isoformat(sep=" ")
        cancel_events.append(upd)
    with open(feed / "feed_001_cancels.json", "w") as f:
        for d in cancel_events:
            f.write(json.dumps(d) + "\n")

    return {
        "n_inserted": n_bookings,
        "n_bad": n_bad,
        "cancelled_ids": sorted(d["booking_id"] for d in cancelled),
    }


@contextmanager
def session_confs(spark, settings: dict):
    """Session confs set for the block, restored after."""
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
