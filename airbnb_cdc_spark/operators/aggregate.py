"""Post-load aggregation (A1-A17 + O6/O8) — the reference's stored proc.

Reference: ``[airbnb].[BookingAggregation]``
(``sql_queries/synapse_table_creation.sql:79-107``): inner join
``fact_booking b JOIN dim_customer c ON b.customer_id = c.customer_id``,
``GROUP BY c.country``, 17 measures, written truncate-and-reload into
``BookingCustomerAggregation``.

Numeric determinism: money measures are summed as DECIMAL(18,2) (exact,
order-independent) and only then cast to DOUBLE; averages are
exact-decimal-sum / count in IEEE double. This makes the result bitwise
reproducible across engines and shuffle orders — double summation order
varies run-to-run under AQE, decimal summation doesn't. The ELSE-less
conditional AVGs (A11/A12: ``AVG(CASE WHEN ... THEN x END)``) average
over the matching subset only — Spark/DuckDB/T-SQL all skip NULLs, so a
conditional SUM / conditional COUNT pair reproduces it exactly.

Scale: single hash aggregation — partial (map-side) aggregation then one
shuffle on the group key; the fact×dim join broadcasts the dimension
(AQE auto-broadcast; dims are small by definition). The group key
cardinality (#countries) is tiny, so the reduce side is trivial at any SF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airbnb_cdc_spark.session import sql_ident, sql_lit

AGG_COLUMNS: tuple[str, ...] = (
    "country",
    "total_bookings",
    "confirmed_bookings",
    "cancelled_bookings",
    "total_amount",
    "confirmed_amount",
    "cancelled_amount",
    "cancellation_rate",
    "last_booking_date",
    "first_booking_date",
    "avg_amount",
    "confirmed_avg_amount",
    "cancelled_avg_amount",
    "min_amount",
    "max_amount",
    "distinct_customers",
    "avg_stay_duration",
)


def booking_customer_aggregation(
    fact: DataFrame,
    dim: DataFrame,
    *,
    customer_key: str = "customer_id",
    group_col: str = "country",
    status_col: str = "status",
    confirmed: str = "Confirmed",
    cancelled: str = "Cancelled",
    amount_col: str = "total_amount",
    created_col: str = "booking_created_at",
    nights_col: str = "nights",
) -> DataFrame:
    """O6 join + the 17-measure groupBy (A1-A17)."""
    joined = fact.join(dim.select(customer_key, group_col), on=customer_key, how="inner")
    return booking_measures(
        joined,
        customer_key=customer_key,
        group_col=group_col,
        status_col=status_col,
        confirmed=confirmed,
        cancelled=cancelled,
        amount_col=amount_col,
        created_col=created_col,
        nights_col=nights_col,
    )


def booking_measures(
    joined: DataFrame,
    *,
    customer_key: str = "customer_id",
    group_col: str = "country",
    status_col: str = "status",
    confirmed: str = "Confirmed",
    cancelled: str = "Cancelled",
    amount_col: str = "total_amount",
    created_col: str = "booking_created_at",
    nights_col: str = "nights",
) -> DataFrame:
    """The A1-A17 measures over an ALREADY-JOINED (or incrementally
    maintained — operators/matview.py) fact×dim frame. Split out so the
    aggregation refresh can consume the materialized join view without
    re-running the join it exists to avoid."""
    # The measures are SQL text, one F.expr each: the same Catalyst
    # expressions as Column trees, but a Column tree costs several py4j
    # round trips per node. Names are quoted and the status values are
    # escaped literals, so no argument can change the statement.
    amt = f"CAST(coalesce({sql_ident(amount_col)}, 0) AS DECIMAL(18,2))"
    status = sql_ident(status_col)
    is_conf = f"{status} = {sql_lit(confirmed)}"
    is_canc = f"{status} = {sql_lit(cancelled)}"
    n = "CAST(count(1) AS DOUBLE)"

    def dsum(x: str) -> str:
        return f"coalesce(sum({x}), CAST(0 AS DECIMAL(28,2)))"

    def flag_sum(cond: str) -> str:
        return f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"

    def amt_if(cond: str) -> str:
        return f"CASE WHEN {cond} THEN {amt} ELSE CAST(0 AS DECIMAL(18,2)) END"

    def avg_if(cond: str) -> str:
        # ELSE-less CASE: the average over the matching rows only
        return (
            f"CAST({dsum(f'CASE WHEN {cond} THEN {amt} END')} AS DOUBLE)"
            f" / CAST(nullif(sum(CASE WHEN {cond} THEN 1 END), 0) AS DOUBLE)"
        )

    measures = {
        "total_bookings": "count(1)",
        "confirmed_bookings": flag_sum(is_conf),
        "cancelled_bookings": flag_sum(is_canc),
        "total_amount": f"CAST({dsum(amt)} AS DOUBLE)",
        "confirmed_amount": f"CAST({dsum(amt_if(is_conf))} AS DOUBLE)",
        "cancelled_amount": f"CAST({dsum(amt_if(is_canc))} AS DOUBLE)",
        "cancellation_rate": (
            f"CASE WHEN count(1) = 0 THEN 0.0D"
            f" ELSE CAST({flag_sum(is_canc)} AS DOUBLE) / {n} END"
        ),
        "last_booking_date": f"max({sql_ident(created_col)})",
        "first_booking_date": f"min({sql_ident(created_col)})",
        "avg_amount": f"CAST({dsum(amt)} AS DOUBLE) / {n}",
        "confirmed_avg_amount": avg_if(is_conf),
        "cancelled_avg_amount": avg_if(is_canc),
        "min_amount": f"CAST(min({amt}) AS DOUBLE)",
        "max_amount": f"CAST(max({amt}) AS DOUBLE)",
        "distinct_customers": f"count(DISTINCT {sql_ident(customer_key)})",
        "avg_stay_duration": (
            f"CAST(sum(CAST(coalesce({sql_ident(nights_col)}, 0) AS BIGINT))"
            f" AS DOUBLE) / {n}"
        ),
    }
    # output keeps the caller's group column name (a custom group_col
    # used to come back silently labeled "country"); agg() emits the
    # group column first, then the measures in AGG_COLUMNS order
    return joined.groupBy(F.col(group_col)).agg(
        *[F.expr(f"{e} AS {name}") for name, e in measures.items()]
    )


def rank_bounded(
    df: DataFrame, *order: Column, rank_col: str = "rnk"
) -> DataFrame:
    """Attach a 1-based rank to an already-bounded frame (a top-k cut,
    <= a few thousand rows) WITHOUT a window: pack the frame into one
    sorted array and posexplode it back out.

    An unpartitioned (or constant-key — Catalyst constant-folds the
    literal away) row_number window plans the single-partition
    WindowExec and warns "Moving all data to a single partition" on
    every run. Every caller sits directly on an ``orderBy().limit(k)``
    cut, whose output is ONE partition of <= k rows — so
    ``coalesce(1)`` is a no-op there, the per-partition re-sort is a
    narrow k-row sort, and ``monotonically_increasing_id`` on a single
    partition (index 0) is exactly the 0-based ordinal of the sorted
    row. No WindowExec, no extra aggregate stage, no shuffle —
    interleaved A/B at sf0.1 measured this ~1.6x faster than both the
    constant-key window and a collect_list/posexplode repack.

    ``order`` must be a total order (pass negated numeric columns for
    DESC keys); NULL keys sort LAST (``asc_nulls_last``), matching the
    ``desc nulls last`` default of the window this replaces. NOTE
    (behavior change vs the pre-r7 ``sort_array`` repack, which was
    plain-ascending): that shape ranked NULL order keys FIRST; callers
    negating nullable metrics get those rows ranked last here instead
    — every registry caller orders by non-nullable keys or sits on a
    limit() whose sort already pushed NULLs where it wanted them.
    Callers must hand in an already-bounded frame: on a multi-partition
    input the coalesce(1) would serialize the upstream computation into
    one task (no runtime check — probing partition count would force
    physical planning per call in top-k hot paths).
    """
    cols = df.columns
    one = df.coalesce(1).sortWithinPartitions(
        *[k.asc_nulls_last() for k in order]
    )
    return one.select(
        *cols,
        (F.monotonically_increasing_id() + 1).cast("int").alias(rank_col),
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    k: int,
    n_salts: int = 16,
    rank_col: str = "rnk",
) -> DataFrame:
    """Smallest ``k`` rows per group under ``order`` (ascending — pass
    negated numerics for DESC), with a 1-based ``rank_col`` — the
    skew-proof alternative to ``row_number() OVER (PARTITION BY g)``.

    A partitioned window serializes each group into one task: a
    templated corpus whose biggest cluster holds 10% of 100 TB turns
    the window into a straggler (and its sort buffer into one task's
    spill). This runs SALTED TWO-PHASE instead: rows hash into
    ``n_salts`` sub-groups, a window over ``(group, salt)`` keeps each
    sub-group's k smallest, then a second window over the ≤ n_salts·k
    per-group candidates assigns the final rank. No task ever holds a
    whole hot group — stage-1 partitions are bounded at
    group_size/n_salts — and both stages are sort-based windows, so
    per-task state is a SPILLABLE external sort, not an in-heap array
    (the earlier ``slice(sort_array(collect_list))`` shape bounded the
    same row count but materialized it as one array value in executor
    memory, and measured ~1.4× slower at 24M rows — see COVERAGE.md).

    ``order`` must be a total order (ties broken by a trailing unique
    key), or the k-cut is engine-dependent: with ties at the boundary,
    which row survives a sub-group's cut depends on salt placement.
    Deterministic for any salt assignment under a total order —
    salting only load-balances, the merge result is salt-invariant.

    The salt mixes ``spark_partition_id()`` into the row hash: a salt
    over row content alone sends BIT-IDENTICAL duplicate rows (the
    exact 10k-copy-template scenario this operator targets) into one
    sub-group, so the hot group still serializes into one task. With
    the partition component, identical copies spread across input
    partitions land in different sub-groups; per-task state is then
    bounded by min(group_size/n_salts, one input partition). The merge
    is salt-invariant, so the partition-dependent (nondeterministic)
    salt never changes the result — only the load balance.
    """
    from pyspark.sql.window import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    cols = df.columns
    # Nondeterministic expressions are not allowed as window partition
    # keys; materialize the salt in a projection first.
    salted = df.withColumn(
        "__s",
        F.pmod(
            F.xxhash64(F.spark_partition_id(), *[F.col(c) for c in cols]),
            F.lit(n_salts),
        ),
    )
    w1 = Window.partitionBy(*group_cols, "__s").orderBy(*order)
    candidates = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__r1", "__s")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        candidates.withColumn(rank_col, F.row_number().over(w2).cast("int"))
        .filter(F.col(rank_col) <= k)
    )
