"""Pipelines E1/E2/E3 — the ADF control flow as plain Python (SURVEY.md §3).

- ``run_customer_dim``  = New_LoadCustomerDim (GetMetadata → ForEach →
  Copy-upsert → archive → delete), ``pipeline/New_LoadCustomerDim.json``.
- ``run_booking_fact``  = New_LoadBookingFact (ExecuteDataFlow with
  checkpoint + PopulateAggregateTable), ``pipeline/New_LoadBookingFact.json``.
- ``run_all``           = New_FinalAirBnBPipeline (strictly sequential,
  fail-fast), ``pipeline/New_FinalAirBnBPipeline.json:5-43``.

ADF's dependency conditions (``dependencyConditions: ["Succeeded"]``,
C3) map to exception propagation: a failed upsert aborts before archive,
a failed archive aborts before delete, and a failed fact load skips the
aggregation refresh. Retry policy is the reference's ``retry: 0`` — any
failure surfaces immediately.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from airbnb_cdc_spark.operators.aggregate import booking_customer_aggregation
from airbnb_cdc_spark.operators.merge import ParquetMergeTable
from airbnb_cdc_spark.sources.customer_csv import (
    archive_file,
    list_files,
    read_customer_csv,
)
from airbnb_cdc_spark.streaming.cdc import run_booking_fact_stream


def run_customer_dim(
    spark: SparkSession,
    raw_dir: str,
    archive_dir: str,
    dim_table: ParquetMergeTable,
    rewrite_quoted: bool = False,
) -> list[str]:
    """E2: replay every feed file (sorted name order = arrival order)
    through the keyed upsert, then archive it. Returns processed names.

    ``rewrite_quoted=True`` archives through the reference's
    quoteAllText Copy (every field re-quoted, original text preserved)
    instead of the rename fast path — see ``archive_file``."""
    processed = []
    for name in list_files(spark, raw_dir):
        df = read_customer_csv(spark, f"{raw_dir}/{name}")
        dim_table.merge(df)
        archive_file(spark, raw_dir, archive_dir, name, rewrite_quoted=rewrite_quoted)
        processed.append(name)
    return processed


def refresh_booking_aggregation(
    spark: SparkSession,
    fact_table: ParquetMergeTable,
    dim_table: ParquetMergeTable,
    agg_table: ParquetMergeTable,
) -> None:
    """C5/O8: the stored proc — truncate-and-reload the aggregate."""
    agg = booking_customer_aggregation(fact_table.read(), dim_table.read())
    agg_table.overwrite(agg)


def run_booking_fact(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    fact_table: ParquetMergeTable,
    dim_table: ParquetMergeTable,
    agg_table: ParquetMergeTable,
) -> None:
    """E3: stream-merge the change feed, then refresh the aggregation."""
    run_booking_fact_stream(spark, feed_dir, fact_table, checkpoint_dir)
    refresh_booking_aggregation(spark, fact_table, dim_table, agg_table)


def run_all(
    spark: SparkSession,
    raw_dir: str,
    archive_dir: str,
    feed_dir: str,
    checkpoint_dir: str,
    warehouse_dir: str,
) -> dict[str, ParquetMergeTable]:
    """E1: the final pipeline — dim load, then fact load, then aggregate.

    The three tables size their bucket counts to their bytes: each
    starts at 16 buckets, and its first write that replaces every bucket
    (the aggregate's next overwrite, a wave touching every bucket)
    re-sizes it. At the reference's size (under one
    ``spark.sql.files.openCostInBytes``) that is one bucket, so every
    later commit writes one file instead of sixteen, and Spark plans no
    shuffle: a merge is one job (no bucket probe), and the refresh reads
    each table as one partition, so it runs the dim's broadcast and the
    aggregate's write, two jobs. An arrival without a customer CSV runs
    three jobs in all."""
    dim = ParquetMergeTable(spark, f"{warehouse_dir}/dim_customer", ["customer_id"])
    fact = ParquetMergeTable(
        spark, f"{warehouse_dir}/fact_booking", ["booking_id"], version_col="updated_at"
    )
    agg = ParquetMergeTable(
        spark, f"{warehouse_dir}/booking_customer_aggregation", ["country"]
    )
    run_customer_dim(spark, raw_dir, archive_dir, dim)
    run_booking_fact(spark, feed_dir, checkpoint_dir, fact, dim, agg)
    return {"dim_customer": dim, "fact_booking": fact, "booking_customer_aggregation": agg}


def run_all_incremental(
    spark: SparkSession,
    raw_dir: str,
    archive_dir: str,
    feed_dir: str,
    warehouse_dir: str,
    cursors: dict[str, int] | None = None,
) -> dict:
    """E1 through the round-6 incremental machinery: the reference's
    dim → fact → stored-proc sequence with the dataflow re-run replaced
    by delta maintenance.

    - dim and fact land through ``ChangeCapturingMergeTable`` (their
      merges emit a change feed);
    - the enriched ``fact ⋈ dim`` view is maintained from those feeds —
      ``apply_fact_delta`` / ``apply_dim_delta`` after every batch,
      NEVER a full re-join after the base build;
    - the aggregation is overwritten from the VIEW via
      ``booking_measures`` (the join the reference's PopulateAggregate
      stored proc re-runs each refresh is never recomputed).

    Idempotent end to end: replaying consumed inputs re-merges
    identical rows, the change feeds emit nothing, and the view and
    aggregate are untouched. ``cursors`` carries each feed's last-seen
    ``_cdf_seq`` across invocations (fresh run: both -1); the returned
    dict includes the advanced cursors.

    At 100 TB: every leg is delta-proportional — the fact merge and the
    view merge touch only the buckets the batch's keys hash to (a
    table that large holds about one ``maxPartitionBytes`` per bucket), the
    change-feed read prunes to unseen seq partitions, the dim side of
    the enrichment broadcasts, and the dim-delta path semi-join-prunes
    the fact scan to affected join keys before re-enriching.
    """
    from pyspark.sql import functions as F

    from airbnb_cdc_spark.operators.aggregate import booking_measures
    from airbnb_cdc_spark.operators.cdf import (
        SEQ_COL,
        TYPE_COL,
        ChangeCapturingMergeTable,
    )
    from airbnb_cdc_spark.operators.lookup import latest_per_key
    from airbnb_cdc_spark.operators.matview import MaterializedJoinView
    from airbnb_cdc_spark.sources.customer_csv import list_files
    from airbnb_cdc_spark.streaming.cdc import (
        BOOKING_RAW_SCHEMA,
        split_booking_batch,
    )

    cursors = dict(cursors or {"dim": -1, "fact": -1})
    dim = ChangeCapturingMergeTable(
        ParquetMergeTable(spark, f"{warehouse_dir}/dim_customer", ["customer_id"])
    )
    fact = ChangeCapturingMergeTable(
        ParquetMergeTable(
            spark,
            f"{warehouse_dir}/fact_booking",
            ["booking_id"],
            version_col="updated_at",
        )
    )
    # The view carries the full fact row + the dim's group column.
    view = MaterializedJoinView(
        spark,
        f"{warehouse_dir}/enriched_booking",
        fact_keys=["booking_id"],
        join_key="customer_id",
        version_col="updated_at",
    )
    agg = ParquetMergeTable(
        spark, f"{warehouse_dir}/booking_customer_aggregation", ["country"]
    )

    def dim_view_side(df):
        # only what the view needs: join key (cast to the fact's string
        # key type so the stored view key is stable) + group column +
        # a match marker. The marker is what lets the LEFT-join view
        # emulate the reference's INNER join downstream: filtering on
        # country IS NOT NULL alone would also drop fact rows that
        # MATCHED a customer whose country is NULL — the reference
        # aggregation keeps those, grouped under NULL.
        return df.select(
            F.col("customer_id").cast("string").alias("customer_id"),
            "country",
            F.lit(1).alias("__dim_matched"),
        )

    def sync_view() -> None:
        # Fact-side deltas first (enriched against the CURRENT dim —
        # the dim table is already merged), then dim-side deltas
        # re-enrich the affected fact rows. Cursor advance is bounded
        # metadata (one max per feed).
        # _seq_dirs guard: before a table's first merge there is no
        # change feed AND no log entry — read_changes would raise.
        mx = None
        if fact._seq_dirs():
            fch = fact.read_changes(cursors["fact"])
            mx = fch.agg(F.max(SEQ_COL)).collect()[0][0]
        if mx is not None:
            dim_now = dim_view_side(dim.read())
            # Resolve each key's LAST change first (feed seq is the
            # total order): one sync may consume several waves, and
            # applying all upserts then all deletes would re-order a
            # delete(seq N) + reinsert(seq N+1) pair into upsert-then-
            # delete, dropping a row the fact table still has. The
            # latest post-image per key IS the table's current state
            # for that key, so upserting only it is equivalent to
            # replaying the waves in order.
            last = latest_per_key(fch, ["booking_id"], SEQ_COL)
            upserts = last.filter(F.col(TYPE_COL) != "delete").drop(TYPE_COL, SEQ_COL)
            view.apply_fact_delta(upserts, dim_now)
            deletes = last.filter(F.col(TYPE_COL) == "delete")
            if deletes.limit(1).count():
                view.apply_fact_deletes(deletes.select("booking_id"))
            cursors["fact"] = max(cursors["fact"], mx)
        dmx = None
        if dim._seq_dirs():
            dch = dim.read_changes(cursors["dim"])
            dmx = dch.agg(F.max(SEQ_COL)).collect()[0][0]
        if dmx is not None:
            # several waves may be unseen: the view wants each key's
            # LATEST post-image (feed seq is the total order). Before
            # the first fact batch the view is empty and the delta has
            # nothing to re-enrich — the cursor still advances (these
            # changes are already in dim.read(), which every later
            # fact-side enrichment uses).
            if fact.table.exists():
                # Re-enrich the affected keys against dim.read(), NOT
                # against the change rows: a dim delete's change row
                # carries the PRE-image, so building the delta from the
                # feed would re-enrich a deleted key with its stale
                # country. dim.read() is the post-merge ground truth —
                # a deleted key simply has no row there, and the
                # explicit ``keys`` set makes apply_dim_delta re-enrich
                # its fact rows anyway (left join → NULL country,
                # NULL __dim_matched → dropped by the C5 inner-join
                # emulation below, exactly the reference's semantics).
                changed_keys = dch.select(
                    F.col("customer_id").cast("string").alias("customer_id")
                ).distinct()
                live = dim_view_side(dim.read()).join(
                    F.broadcast(changed_keys), "customer_id", "leftsemi"
                )
                view.apply_dim_delta(fact.read(), live, keys=changed_keys)
            cursors["dim"] = max(cursors["dim"], dmx)

    # E2: dim CSV replay (upsert → archive → delete), change-captured.
    run_customer_dim(spark, raw_dir, archive_dir, dim)
    sync_view()

    # E3, batch-incremental: each feed file is one change-feed batch —
    # split → merge (CDF emits the post-images) → view delta refresh.
    for name in list_files(spark, feed_dir, suffix=".json"):
        raw = spark.read.schema(BOOKING_RAW_SCHEMA).json(f"{feed_dir}/{name}")
        _bad, accepted = split_booking_batch(raw)
        fact.merge(accepted)
        sync_view()

    # C5: the stored proc — measures over the maintained view. The view
    # is a LEFT join (it must retain fact rows whose dim arrives late);
    # the reference aggregation is the INNER join, so UNMATCHED rows
    # drop here, not in the view. The match marker — not the group
    # column — decides: an inner join keeps a matched customer with a
    # NULL country (grouped under NULL); only no-match rows drop.
    refreshed = booking_measures(
        view.read()
        .filter(F.col("__dim_matched").isNotNull())
        .drop("__dim_matched")
    )
    agg.overwrite(refreshed)
    return {
        "dim_customer": dim,
        "fact_booking": fact,
        "enriched_booking": view,
        "booking_customer_aggregation": agg,
        "cursors": cursors,
    }
