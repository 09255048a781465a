"""Change-feed CDC ingestion (E3): readStream → foreachBatch → MERGE.

Reference: ``New_LoadBookingFact`` executes the
``New_BookingTransformation`` dataflow (SURVEY.md §3 E3) over the Cosmos
change feed (``enableChangeFeed: true, changeFeedStartFromTheBeginning:
true`` — dataflow:73-74), resuming from a checkpoint key
(``pipeline/New_LoadBookingFact.json:34-36``), and upserts into
``fact_booking`` keyed on ``booking_id`` (sink :169-173).

Spark shape: a file-based Structured Streaming source (each change-feed
document is a JSON line; new files = new feed entries) with
``foreachBatch`` running the exact batch transform body — split → cast →
lookup → flags → MERGE. Batch and streaming share one transform function,
so the semantics are testable without a stream.

There are NO watermarks/windows in the reference (SURVEY.md §2.8):
out-of-order arrivals are absorbed by last-writer-wins on
``updated_at`` per ``booking_id`` — within a batch via the merge's
version dedup, across batches because a later batch's merge overwrites.

Scale notes:
- ``maxFilesPerTrigger`` bounds micro-batch size so a backlog replay
  can't build one giant batch.
- The streaming path does NOT join against the fact table per batch:
  ``ParquetMergeTable.merge`` already implements keyed upsert with
  last-writer-wins on ``version_col``, touching only the buckets the
  batch's keys hash to — a per-batch lookup would re-read the table just
  to compute insert/update flags the merge derives anyway. The
  lookup+flags shape remains available via ``transform_booking_batch``
  for the batch-mode parity path.
- Bad records (reference's ``BadRecords`` split branch, a dead end in
  the reference dataflow) can be quarantined to a side parquet dir,
  keyed by micro-batch id (``batch_id=<n>`` partition, overwritten on
  write): a retried micro-batch overwrites its own partition instead of
  appending duplicates, so the quarantine is exactly-once per batch,
  matching the fact merge's by-key exactly-once.
- The checkpoint directory is the ADF ``customizedCheckpointKey``: a new
  checkpoint = ``changeFeedStartFromTheBeginning``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbnb_cdc_spark.operators.alter_row import ACTION_COL, with_action_flags
from airbnb_cdc_spark.operators.lookup import lookup_latest
from airbnb_cdc_spark.operators.merge import ParquetMergeTable
from airbnb_cdc_spark.operators.project import BOOKING_SINK_CONTRACT, cast_to_contract
from airbnb_cdc_spark.operators.split import quality_split
from airbnb_cdc_spark.session import sql_ident

# Raw change-feed document schema (FIXTURES.md F2): everything stringly
# except the generator's native ints/doubles — matching the Cosmos source
# projection dataflow/New_BookingTransformation.json:46-70.
BOOKING_RAW_SCHEMA = T.StructType(
    [
        T.StructField("booking_id", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("listing_id", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("booking_created_at", T.StringType(), True),
        T.StructField("checkin_date", T.StringType(), True),
        T.StructField("checkout_date", T.StringType(), True),
        T.StructField("nights", T.IntegerType(), True),
        T.StructField("lead_time_days", T.IntegerType(), True),
        T.StructField("guests_adults", T.IntegerType(), True),
        T.StructField("guests_children", T.IntegerType(), True),
        T.StructField("guests_infants", T.IntegerType(), True),
        T.StructField("price_nightly", T.DoubleType(), True),
        T.StructField("cleaning_fee", T.DoubleType(), True),
        T.StructField("total_amount", T.DoubleType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("country_code", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("channel", T.StringType(), True),
        T.StructField("device_type", T.StringType(), True),
        T.StructField("cancellation_ts", T.StringType(), True),
        T.StructField("cancellation_reason", T.StringType(), True),
        T.StructField("updated_at", T.StringType(), True),
    ]
)

FINAL_COLUMNS = list(BOOKING_SINK_CONTRACT)


def split_booking_batch(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """O3 contract cast then O1 quality split → ``(bad, accepted)``."""
    typed = cast_to_contract(raw, BOOKING_SINK_CONTRACT)
    return quality_split(typed)


def transform_booking_batch(raw: DataFrame, current_fact: DataFrame | None) -> DataFrame:
    """The dataflow body: O3 cast → O1 quality split → O5 lookup → O7
    flags → O2 final projection (plus the action marker)."""
    _bad, accepted = split_booking_batch(raw)

    if current_fact is not None:
        # The insert/update decision probes KEY EXISTENCE (the
        # reference's isNull(target.booking_id)), so the probe carries a
        # guaranteed-non-null marker: probing t_updated_at would
        # misclassify an existing row whose updated_at is NULL
        # (malformed timestamp through try_cast) as an insert.
        looked_up = lookup_latest(
            accepted,
            current_fact.select(
                "booking_id", "updated_at", F.lit(1).alias("exists_marker")
            ),
            keys=["booking_id"],
            version_col="updated_at",
        )
        flagged = with_action_flags(looked_up, target_probe_col="t_exists_marker")
    else:
        flagged = accepted.withColumn(ACTION_COL, F.lit("insert"))

    return flagged.select(*FINAL_COLUMNS, ACTION_COL)


def read_booking_stream(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(BOOKING_RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(feed_dir)


def quarantine_batch(bad: DataFrame, quarantine_dir: str, batch_id: int) -> None:
    """Idempotent quarantine write: each micro-batch owns the
    ``batch_id=<n>`` partition directory and OVERWRITES it, so a
    foreachBatch retry (same batch id, same input) replaces its own
    rows instead of appending duplicates. Readers get the full
    quarantine with ``spark.read.parquet(quarantine_dir)`` (partition
    discovery adds the ``batch_id`` column)."""
    import posixpath

    bad.write.mode("overwrite").parquet(
        posixpath.join(quarantine_dir, f"batch_id={batch_id}")
    )


def run_booking_fact_stream(
    spark: SparkSession,
    feed_dir: str,
    fact_table: ParquetMergeTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    quarantine_dir: str | None = None,
) -> None:
    """Process everything currently in the feed (Trigger.AvailableNow),
    checkpointed so a re-run resumes where it left off (C4). With
    ``quarantine_dir``, rows failing the quality split are written
    there (idempotently per micro-batch) instead of being dropped."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bad, accepted = split_booking_batch(batch_df)
        if quarantine_dir is not None:
            quarantine_batch(bad.select(*FINAL_COLUMNS), quarantine_dir, batch_id)
        # merge() is the upsert: LWW on version_col absorbs in-batch and
        # cross-batch disorder; no per-batch fact-table lookup needed.
        fact_table.merge(accepted.selectExpr(*map(sql_ident, FINAL_COLUMNS)))

    stream = read_booking_stream(spark, feed_dir, max_files_per_trigger)
    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
