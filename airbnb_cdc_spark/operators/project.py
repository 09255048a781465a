"""Projection / rename (O2) and sink-contract casting (O3).

Reference: the ``FinalColumns`` select/mapColumn step projects the 23
final columns (``dataflow/New_BookingTransformation.json:115-141``); the
implicit cast from the stringly Cosmos source schema (:46-70) to the
typed Synapse sink contract (:144-168) is load-bearing — string→int
customer_id, string→date checkin/checkout, string→timestamp updated_at,
double→decimal(12,2)/(14,2) money columns.

``allowDataTruncation: true`` (pipeline/New_LoadCustomerDim.json:94-101)
maps to Spark ANSI-off cast semantics: unparseable/overflowing values
become NULL instead of failing the job. Spark 4 defaults ANSI on, so we
use try_cast explicitly to keep the reference's lenient behavior.

Scale: casts and projections are Catalyst expressions inside whole-stage
codegen; column pruning reaches the scan. Zero Python.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbnb_cdc_spark.session import sql_ident


def select_columns(df: DataFrame, mapping: Mapping[str, str] | Sequence[str]) -> DataFrame:
    """Project + rename. ``mapping`` is either an ordered ``{src: dst}``
    dict or a plain sequence of column names (identity projection)."""
    if isinstance(mapping, str):
        # a bare string satisfies Sequence[str] and would be iterated
        # CHARACTER BY CHARACTER
        raise TypeError("pass a sequence of column names, not a bare string")
    if isinstance(mapping, Mapping):
        return df.select([F.col(src).alias(dst) for src, dst in mapping.items()])
    return df.select([F.col(c) for c in mapping])


def cast_to_contract(df: DataFrame, contract: Mapping[str, str]) -> DataFrame:
    """Cast each column in ``contract`` ({col: spark_type_ddl}) leniently
    (NULL on failure), leaving other columns untouched. Every contract
    column must exist on the frame — a typo'd or upstream-dropped column
    fails HERE, not as a sink schema mismatch three stages later."""
    missing = set(contract) - set(df.columns)
    if missing:
        raise ValueError(f"contract columns absent from frame: {sorted(missing)}")
    # SQL text, not Column trees: a Column costs several py4j round trips
    # to build, while selectExpr parses every expression in the JVM.
    exprs = []
    for name in df.columns:
        q = sql_ident(name)
        if name in contract:
            exprs.append(f"try_cast({q} AS {contract[name]}) AS {q}")
        else:
            exprs.append(q)
    return df.selectExpr(*exprs)


# The booking fact sink contract (dataflow/New_BookingTransformation.json:144-168).
BOOKING_SINK_CONTRACT: dict[str, str] = {
    "booking_id": "string",
    "customer_id": "int",
    "listing_id": "string",
    "status": "string",
    "booking_created_at": "date",
    "checkin_date": "date",
    "checkout_date": "date",
    "nights": "int",
    "lead_time_days": "int",
    "guests_adults": "int",
    "guests_children": "int",
    "guests_infants": "int",
    "price_nightly": "decimal(12,2)",
    "cleaning_fee": "decimal(12,2)",
    "total_amount": "decimal(14,2)",
    "currency": "string",
    "country_code": "string",
    "city": "string",
    "channel": "string",
    "device_type": "string",
    "cancellation_ts": "timestamp",
    "cancellation_reason": "string",
    "updated_at": "timestamp",
}

FINAL_COLUMNS: tuple[str, ...] = tuple(BOOKING_SINK_CONTRACT)
