"""Seeded CDC inputs for the pipeline workloads, with their ground truth.

The inputs have the reference's shape: customer CSV waves (a base file, then
delta files that re-send a share of the customers with changed fields) and a
booking change feed of JSON-lines files (Confirmed inserts, then a wave of
cancellations that re-emits bookings with a later ``updated_at``). Mixed in
are rows the pipeline must reject or ignore:

- malformed bookings (``checkout_date`` before ``checkin_date``), which the
  quality split drops;
- stale re-emits: an older version of a booking arriving after a newer one,
  which last-writer-wins on ``updated_at`` must discard;
- orphan bookings whose customer never appears, which stay in the fact table
  but drop out of the customer join.

``CdcFeed`` writes the files and keeps ``Truth``, the state the warehouse must
hold afterwards. Every version of a booking has a strictly later
``updated_at`` than the one before it, and no file repeats a customer, so the
expected state never depends on how the engine breaks ties.
"""

from __future__ import annotations

import csv
import json
import os
import random
import uuid
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

CSV_HEADER = [
    "customer_id", "first_name", "last_name", "email", "phone_number",
    "address", "city", "state", "country", "zip_code", "signup_date",
    "last_login", "total_bookings", "total_spent", "preferred_language",
    "referral_code", "account_status",
]
COUNTRIES = ["USA", "UK", "France", "India", "Japan", "Brazil", "Germany", "Kenya"]
CITIES = ["New York", "London", "Paris", "Dubai", "Mumbai", "Tokyo", "Sydney"]
CANCEL_REASONS = [
    "guest_change_of_plans", "host_issue", "payment_issue", "weather", "overbooking",
]
BACKFILL_T0 = datetime(2025, 10, 1, 0, 0, 0)
TRICKLE_T0 = datetime(2025, 11, 1, 0, 0, 0)


@dataclass
class Truth:
    """What the warehouse must contain once every written file is consumed."""

    # customer_id -> the latest CSV row sent for it, as {column: text}
    customers: dict[int, dict[str, str]] = field(default_factory=dict)
    # booking_id -> the latest accepted version of the booking document
    bookings: dict[str, dict] = field(default_factory=dict)
    # every earlier version of each booking, oldest first (for stale re-emits)
    history: dict[str, list[dict]] = field(default_factory=dict)
    bad_ids: set[str] = field(default_factory=set)
    stale_emits: int = 0

    def cancelled(self) -> set[str]:
        return {k for k, b in self.bookings.items() if b["status"] == "Cancelled"}

    def apply(self, doc: dict) -> None:
        prev = self.bookings.get(doc["booking_id"])
        if prev is not None:
            if doc["updated_at"] <= prev["updated_at"]:
                raise ValueError("generator emitted a non-increasing version")
            self.history.setdefault(doc["booking_id"], []).append(prev)
        self.bookings[doc["booking_id"]] = doc


def _ts(t: datetime) -> str:
    return t.isoformat(sep=" ")


class CdcFeed:
    """Writes customer CSV waves and booking feed files; tracks ``truth``."""

    def __init__(self, seed: int, raw_dir: str, feed_dir: str) -> None:
        self.rng = random.Random(seed)
        self.raw_dir = raw_dir
        self.feed_dir = feed_dir
        self.truth = Truth()
        self.next_customer = 1
        self.arrivals = 0
        # rows (feed documents plus CSV rows) landed by each arrival
        self.rows_landed: list[int] = []
        os.makedirs(raw_dir, exist_ok=True)
        os.makedirs(feed_dir, exist_ok=True)

    # -- rows ------------------------------------------------------------------

    def customer_row(self, cid: int, wave: str) -> dict[str, str]:
        rng = self.rng
        return dict(
            zip(
                CSV_HEADER,
                [
                    str(cid),
                    f"First{cid}",
                    f"Last{cid}",
                    f"user{cid}.{wave}@example.com",
                    f"555-{rng.randint(1000, 9999)}",
                    f"{rng.randint(1, 999)} Main St, Apt {rng.randint(1, 50)}",
                    rng.choice(CITIES),
                    f"State{rng.randint(1, 20)}",
                    rng.choice(COUNTRIES),
                    f"{rng.randint(10000, 99999)}",
                    (date(2025, 1, 1) + timedelta(days=rng.randint(0, 300))).isoformat(),
                    _ts(datetime(2025, 8, 1) + timedelta(minutes=rng.randint(0, 10000))),
                    str(rng.randint(0, 20)),
                    f"{rng.randint(0, 200000) / 100:.2f}",
                    rng.choice(["English", "Spanish", "French"]),
                    f"ref-{rng.randint(10000, 99999)}",
                    rng.choice(["Active", "Suspended", "Closed"]),
                ],
            )
        )

    def booking_doc(self, customer_id: int, created: datetime) -> dict:
        rng = self.rng
        nights = rng.randint(1, 14)
        checkin = date(2025, 12, 1) + timedelta(days=rng.randint(0, 90))
        price_cents = rng.randint(4000, 40000)
        fee_cents = rng.randint(0, 6000)
        return {
            "booking_id": str(uuid.UUID(int=rng.getrandbits(128))),
            "customer_id": str(customer_id),
            "listing_id": f"L{rng.randint(1, 5000)}",
            "status": "Confirmed",
            "booking_created_at": _ts(created),
            "checkin_date": checkin.isoformat(),
            "checkout_date": (checkin + timedelta(days=nights)).isoformat(),
            "nights": nights,
            "lead_time_days": rng.randint(0, 120),
            "guests_adults": rng.randint(1, 4),
            "guests_children": rng.randint(0, 2),
            "guests_infants": rng.randint(0, 1),
            "price_nightly": price_cents / 100,
            "cleaning_fee": fee_cents / 100,
            "total_amount": (price_cents * nights + fee_cents) / 100,
            "currency": rng.choice(["USD", "EUR", "GBP"]),
            "country_code": rng.choice(["USA", "UK", "FRA", "IND", "JPN"]),
            "city": rng.choice(CITIES),
            "channel": rng.choice(["app", "web", "partner"]),
            "device_type": rng.choice(["iOS", "Android", "Web"]),
            "cancellation_ts": None,
            "cancellation_reason": None,
            "updated_at": _ts(created),
        }

    def _cancel(self, doc: dict, at: datetime) -> dict:
        out = dict(doc)
        out["status"] = "Cancelled"
        out["cancellation_ts"] = _ts(at)
        out["cancellation_reason"] = self.rng.choice(CANCEL_REASONS)
        out["updated_at"] = _ts(at)
        return out

    def _update(self, doc: dict, at: datetime) -> dict:
        """A guest-count and price change on a live booking."""
        out = dict(doc)
        fee_cents = self.rng.randint(0, 6000)
        price_cents = round(out["price_nightly"] * 100)
        out["guests_adults"] = self.rng.randint(1, 6)
        out["cleaning_fee"] = fee_cents / 100
        out["total_amount"] = (price_cents * out["nights"] + fee_cents) / 100
        out["updated_at"] = _ts(at)
        return out

    def _bad(self, customer_id: int, created: datetime) -> dict:
        doc = self.booking_doc(customer_id, created)
        checkin = date.fromisoformat(doc["checkin_date"])
        doc["checkout_date"] = (checkin - timedelta(days=2)).isoformat()
        self.truth.bad_ids.add(doc["booking_id"])
        return doc

    def _stale(self, booking_id: str) -> dict:
        self.truth.stale_emits += 1
        return self.truth.history[booking_id][-1]

    # -- files -----------------------------------------------------------------

    def write_customers(self, name: str, rows: list[dict[str, str]]) -> None:
        tmp = os.path.join(self.raw_dir, f".{name}.tmp")
        with open(tmp, "w", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
            w.writerow(CSV_HEADER)
            for row in rows:
                w.writerow([row[c] for c in CSV_HEADER])
        os.replace(tmp, os.path.join(self.raw_dir, name))
        for row in rows:
            self.truth.customers[int(row["customer_id"])] = row

    def write_feed(self, name: str, docs: list[dict]) -> None:
        """Land one feed file atomically (written aside, then renamed in), so
        a stream listing the directory never sees half a file."""
        tmp = os.path.join(os.path.dirname(self.feed_dir), f".{name}.tmp")
        with open(tmp, "w") as f:
            for d in docs:
                f.write(json.dumps(d) + "\n")
        os.replace(tmp, os.path.join(self.feed_dir, name))

    def new_customers(self, n: int, wave: str) -> list[dict[str, str]]:
        ids = range(self.next_customer, self.next_customer + n)
        self.next_customer += n
        return [self.customer_row(cid, wave) for cid in ids]

    def changed_customers(self, n: int, wave: str) -> list[dict[str, str]]:
        ids = self.rng.sample(sorted(self.truth.customers), min(n, len(self.truth.customers)))
        return [self.customer_row(cid, wave) for cid in sorted(ids)]

    # -- scenarios -------------------------------------------------------------

    def backfill(
        self,
        n_customers: int,
        n_bookings: int,
        n_files: int,
        cancel_frac: float,
        n_bad: int,
        n_stale: int,
        n_orphans: int,
    ) -> None:
        """The reference's 100/20/15 customer waves, then ``n_files`` insert
        files, one cancellation file and one file of stale re-emits."""
        rng, truth = self.rng, self.truth
        self.write_customers("customer_feed_00_base.csv", self.new_customers(n_customers, "base"))
        self.write_customers(
            "customer_feed_01_delta1.csv", self.changed_customers(n_customers // 5, "d1")
        )
        self.write_customers(
            "customer_feed_02_delta2.csv",
            self.changed_customers(n_customers * 3 // 20, "d2"),
        )
        docs = []
        for _ in range(n_bookings):
            created = BACKFILL_T0 + timedelta(seconds=rng.randint(0, 86400))
            docs.append(self.booking_doc(rng.randint(1, n_customers), created))
        for _ in range(n_orphans):
            docs.append(self.booking_doc(10**9 + rng.randint(0, 10**6), BACKFILL_T0))
        for d in docs:
            truth.apply(d)
        docs += [self._bad(rng.randint(1, n_customers), BACKFILL_T0) for _ in range(n_bad)]
        rng.shuffle(docs)
        step = -(-len(docs) // n_files)
        for i in range(n_files):
            self.write_feed(f"feed_{i:05d}_inserts.json", docs[i * step : (i + 1) * step])
        cancels = []
        for bid in rng.sample(sorted(truth.bookings), int(n_bookings * cancel_frac)):
            at = datetime.fromisoformat(truth.bookings[bid]["updated_at"])
            c = self._cancel(truth.bookings[bid], at + timedelta(minutes=rng.randint(60, 1800)))
            truth.apply(c)
            cancels.append(c)
        self.write_feed(f"feed_{n_files:05d}_cancels.json", cancels)
        stale_ids = rng.sample(sorted(c["booking_id"] for c in cancels), min(n_stale, len(cancels)))
        self.write_feed(f"feed_{n_files + 1:05d}_stale.json", [self._stale(b) for b in stale_ids])

    def arrival(
        self,
        n_cancel: int,
        n_update: int,
        n_insert: int,
        n_stale: int,
        customer_every: int,
        n_customer_changes: int,
        n_customer_new: int,
    ) -> bool:
        """One near-realtime arrival: a small feed file of cancels, updates,
        inserts and stale re-emits, and on every ``customer_every``-th
        arrival a small customer delta CSV. Returns whether a CSV landed."""
        rng, truth = self.rng, self.truth
        i = self.arrivals
        self.arrivals += 1
        clock = TRICKLE_T0 + timedelta(hours=i)
        with_csv = customer_every > 0 and i % customer_every == customer_every - 1
        if with_csv:
            rows = self.changed_customers(n_customer_changes, f"a{i}")
            rows += self.new_customers(n_customer_new, f"a{i}")
            self.write_customers(f"customer_feed_{10000 + i:05d}.csv", rows)
        live = sorted(k for k, b in truth.bookings.items() if b["status"] == "Confirmed")
        picked = rng.sample(live, min(n_cancel + n_update, len(live)))
        docs = []
        for j, bid in enumerate(picked):
            at = clock + timedelta(seconds=rng.randint(0, 3599))
            new = (
                self._cancel(truth.bookings[bid], at)
                if j < n_cancel
                else self._update(truth.bookings[bid], at)
            )
            truth.apply(new)
            docs.append(new)
        n_cust = self.next_customer - 1
        for _ in range(n_insert):
            d = self.booking_doc(rng.randint(1, n_cust), clock)
            truth.apply(d)
            docs.append(d)
        stale_pool = sorted(truth.history)
        docs += [self._stale(b) for b in rng.sample(stale_pool, min(n_stale, len(stale_pool)))]
        docs.append(self._bad(rng.randint(1, n_cust), clock))
        rng.shuffle(docs)
        self.write_feed(f"feed_{10000 + i:05d}_arrival.json", docs)
        self.rows_landed.append(len(docs) + (len(rows) if with_csv else 0))
        return with_csv
