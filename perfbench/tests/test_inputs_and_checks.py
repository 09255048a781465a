"""Generator determinism and the checker's power to catch planted faults."""

from __future__ import annotations

import copy
import filecmp
import os
from decimal import Decimal

import checks
import tablegen
from cdcgen import CdcFeed


def _feed(tmp_path, seed, name="a"):
    feed = CdcFeed(seed, str(tmp_path / name / "raw"), str(tmp_path / name / "feed"))
    feed.backfill(n_customers=60, n_bookings=300, n_files=2, cancel_frac=0.04, n_bad=5,
                  n_stale=8, n_orphans=3)
    for _ in range(3):
        feed.arrival(n_cancel=10, n_update=10, n_insert=10, n_stale=3, customer_every=2,
                     n_customer_changes=5, n_customer_new=2)
    return feed


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_cdc_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = _feed(tmp_path, 5, "a"), _feed(tmp_path, 5, "b"), _feed(tmp_path, 6, "c")
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert a.truth == b.truth
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert a.truth.bad_ids and a.truth.stale_emits and a.truth.cancelled()


def test_table_generator_is_deterministic_per_seed():
    a, b, c = (tablegen.build_tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])


# -- a warehouse that matches the truth, rendered as the benchmark collects it


def _dim_rows(truth):
    return [
        (cid, r["email"], r["country"], Decimal(r["total_spent"]))
        for cid, r in truth.customers.items()
    ]


def _fact_rows(truth):
    return [
        (bid, d["status"], d["updated_at"], Decimal(round(d["total_amount"] * 100)) / 100)
        for bid, d in truth.bookings.items()
    ]


def _agg_rows(truth):
    return [dict(r) for r in checks.expected_aggregate(truth).values()]


def test_checker_accepts_the_true_warehouse(tmp_path):
    t = _feed(tmp_path, 1).truth
    assert checks.check_dim(_dim_rows(t), t) == []
    assert checks.check_fact(_fact_rows(t), t) == []
    assert checks.check_aggregate(_agg_rows(t), t) == []


def test_checker_catches_one_dropped_cancel(tmp_path):
    t = _feed(tmp_path, 1).truth
    bid = sorted(t.cancelled())[0]
    rows = [(b, "Confirmed" if b == bid else s, u, a) for b, s, u, a in _fact_rows(t)]
    assert any("cancelled set" in e for e in checks.check_fact(rows, t))


def test_checker_catches_a_stale_re_emit_that_won(tmp_path):
    t = _feed(tmp_path, 1).truth
    bid = sorted(t.history)[0]
    old = t.history[bid][-1]
    stale = (old["status"], old["updated_at"], Decimal(round(old["total_amount"] * 100)) / 100)
    rows = [(b, *stale) if b == bid else (b, s, u, a) for b, s, u, a in _fact_rows(t)]
    assert checks.check_fact(rows, t)


def test_checker_catches_a_malformed_row_and_a_missing_booking(tmp_path):
    t = _feed(tmp_path, 1).truth
    rows = _fact_rows(t)
    bad = (sorted(t.bad_ids)[0], "Confirmed", "2025-10-01 00:00:00", Decimal("1.00"))
    assert checks.check_fact(rows + [bad], t)
    assert checks.check_fact(rows[1:], t)


def test_checker_catches_one_altered_aggregate_cell(tmp_path):
    t = _feed(tmp_path, 1).truth
    rows = _agg_rows(t)
    bad = copy.deepcopy(rows)
    bad[0]["total_amount"] += 0.01
    assert checks.check_aggregate(bad, t)
    bad = copy.deepcopy(rows)
    bad[-1]["distinct_customers"] -= 1
    assert checks.check_aggregate(bad, t)


def test_checker_catches_a_customer_left_at_an_old_wave(tmp_path):
    t = _feed(tmp_path, 1).truth
    rows = _dim_rows(t)
    cid, email, country, spent = rows[0]
    rows[0] = (cid, email.replace("@", ".old@"), country, spent)
    assert checks.check_dim(rows, t)
    assert checks.check_dim(_dim_rows(t)[1:], t)


def test_registry_normalizer_is_order_insensitive_and_strict_on_floats():
    rows = [(1, 0.1 + 0.2, "x"), (2, None, "y")]
    assert checks.same_result(["a", "b", "c"], rows, ["c", "a", "b"],
                              [("y", 2, None), ("x", 1, 0.1 + 0.2)])
    assert not checks.same_result(["a", "b", "c"], rows, ["a", "b", "c"],
                                  [(1, 0.3, "x"), (2, None, "y")])
