"""Plan construction of the E1 hot path: the contract cast and the
17-measure aggregation are built from SQL text, so building them costs
a bounded number of py4j round trips, and the SQL text stays
injection-safe (quoted identifiers, escaped string literals).

The py4j budgets are counters, not wall-clock: the Column-tree builders
these replace made 835 (cast) and 1,170 (aggregation) calls."""

from __future__ import annotations

import datetime
from decimal import Decimal

from airbnb_cdc_spark.operators.aggregate import (
    AGG_COLUMNS,
    booking_customer_aggregation,
)
from airbnb_cdc_spark.operators.project import (
    BOOKING_SINK_CONTRACT,
    cast_to_contract,
)
from airbnb_cdc_spark.streaming.cdc import BOOKING_RAW_SCHEMA

_FACT_DDL = (
    "booking_id string, customer_id int, status string, "
    "total_amount decimal(14,2), booking_created_at date, nights int"
)


def _fact_and_dim(spark):
    d = datetime.date
    fact = spark.createDataFrame(
        [
            ("b1", 1, "it's", Decimal("10.00"), d(2024, 1, 1), 2),
            ("b2", 1, "Cancelled", Decimal("5.50"), d(2024, 1, 2), 1),
            ("b3", 2, "it's", None, d(2024, 1, 3), None),
            ("b4", 2, "x' OR '1'='1", Decimal("7.25"), d(2024, 1, 4), 3),
            ("b5", 3, "Confirmed", Decimal("1.00"), d(2024, 1, 5), 1),
        ],
        _FACT_DDL,
    )
    dim = spark.createDataFrame(
        [(1, "US"), (2, "FR"), (3, "US")], "customer_id int, country string"
    )
    return fact, dim


def _fewest_calls(py4j_calls, build) -> int:
    """The build's py4j calls, as the least of three builds: the count
    is deterministic, so the minimum drops any call the interpreter
    makes for unrelated reasons during one of them (e.g. releasing a
    JVM object some earlier test left for garbage collection)."""
    counts = []
    for _ in range(3):
        with py4j_calls() as c:
            build()
        counts.append(c["calls"])
    return min(counts)


def test_aggregation_builds_within_py4j_budget(spark, py4j_calls):
    fact, dim = _fact_and_dim(spark)
    calls = _fewest_calls(py4j_calls, lambda: booking_customer_aggregation(fact, dim))
    assert calls <= 300, calls


def test_cast_to_contract_builds_within_py4j_budget(spark, py4j_calls):
    raw = spark.createDataFrame([], BOOKING_RAW_SCHEMA)
    calls = _fewest_calls(
        py4j_calls, lambda: cast_to_contract(raw, BOOKING_SINK_CONTRACT)
    )
    assert calls <= 100, calls


def test_status_values_are_escaped_literals(spark):
    """Status values holding quotes are compared as plain strings:
    ``x' OR '1'='1`` matches only itself. Expected rows are what the
    Column-built aggregation returned on the same input."""
    fact, dim = _fact_and_dim(spark)
    out = booking_customer_aggregation(
        fact, dim, confirmed="it's", cancelled="x' OR '1'='1"
    )
    assert tuple(out.columns) == AGG_COLUMNS
    d = datetime.date
    assert sorted(tuple(r) for r in out.collect()) == [
        ("FR", 2, 1, 1, 7.25, 0.0, 7.25, 0.5, d(2024, 1, 4), d(2024, 1, 3),
         3.625, 0.0, 7.25, 0.0, 7.25, 1, 1.5),
        ("US", 3, 1, 0, 16.5, 10.0, 0.0, 0.0, d(2024, 1, 5), d(2024, 1, 1),
         5.5, 10.0, None, 1.0, 10.0, 2, 1.3333333333333333),
    ]


def test_contract_column_names_are_quoted(spark):
    """A contract column whose name holds a space and a backtick casts
    like any other; a non-contract one passes through. (The Column-built
    cast raised INVALID_ATTRIBUTE_NAME_SYNTAX on the backtick; with the
    space alone it returned exactly these values.)"""
    name = "total amount`s"
    raw = spark.createDataFrame(
        [("a", "12.345", "x"), ("b", "abc", None), ("c", None, "y"), ("d", "1e3", "z")],
        "id string, `total amount``s` string, `other ``col` string",
    )
    out = cast_to_contract(raw, {name: "decimal(14,2)", "id": "string"})
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("id", "string"),
        (name, "decimal(14,2)"),
        ("other `col", "string"),
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", Decimal("12.35"), "x"),
        ("b", None, None),
        ("c", None, "y"),
        ("d", Decimal("1000.00"), "z"),
    ]
