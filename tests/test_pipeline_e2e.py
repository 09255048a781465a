"""End-to-end CDC scenario (SURVEY.md §5): customer base→delta1→delta2
upsert replay, booking insert→cancel change feed with bad-record split,
aggregation refresh, and checkpointed streaming restart (C4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.merge import ParquetMergeTable
from airbnb_cdc_spark.plans.pipelines import (
    refresh_booking_aggregation,
    run_customer_dim,
)
from airbnb_cdc_spark.streaming.cdc import run_booking_fact_stream
from tests.fixtures import session_confs, write_booking_feed, write_customer_csvs


def test_customer_dim_upsert_replay(spark, tmp_path):
    raw, archive = tmp_path / "raw", tmp_path / "archive"
    waves = write_customer_csvs(raw, n_base=100)
    dim = ParquetMergeTable(spark, str(tmp_path / "dim"), keys=["customer_id"])

    processed = run_customer_dim(spark, str(raw), str(archive), dim)
    assert processed == sorted(waves)

    out = dim.read()
    assert out.count() == 100  # deltas update, never grow

    rows = {r.customer_id: r for r in out.collect()}
    # delta2 wins over delta1 wins over base (id 5 is in both deltas)
    assert rows[5].last_name == "Last5_d2"
    assert rows[4].last_name == "Last4_d1"
    assert rows[2].last_name == "Last2_base"

    # raw consumed, archive populated (reference's storage-state check)
    assert sorted(p.name for p in archive.iterdir()) == sorted(waves)
    assert not raw.exists() or list(raw.iterdir()) == []

    # idempotency: replaying the archive produces no changes
    before = sorted(map(tuple, out.collect()))
    run_customer_dim(spark, str(archive), str(tmp_path / "archive2"), dim)
    assert sorted(map(tuple, dim.read().collect())) == before


def test_customer_dim_replay_rewrite_quoted_golden(spark, tmp_path):
    """The rewrite-quoted archive leg end-to-end: replaying the feed
    with ``rewrite_quoted=True`` must land archives BYTE-IDENTICAL to
    the golden quoteAllText serialization — every field (header
    included) quoted, original field text preserved (the reference's
    archive Copy is schema-less, so no typed round-trip may re-format
    timestamps or decimals) — while the dim upsert result matches the
    rename fast path exactly."""
    import csv
    import io

    raw, archive = tmp_path / "raw", tmp_path / "archive"
    waves = write_customer_csvs(raw, n_base=50)

    # Golden: independent re-serialization of each raw file with every
    # field quoted, same dialect (backslash escape, \n rows).
    golden = {}
    for name in waves:
        out = io.StringIO()
        w = csv.writer(
            out,
            quoting=csv.QUOTE_ALL,
            doublequote=False,
            escapechar="\\",
            lineterminator="\n",
        )
        for row in csv.reader((raw / name).read_text().splitlines()):
            w.writerow(row)
        golden[name] = out.getvalue()

    dim = ParquetMergeTable(spark, str(tmp_path / "dim"), keys=["customer_id"])
    processed = run_customer_dim(
        spark, str(raw), str(archive), dim, rewrite_quoted=True
    )
    assert processed == sorted(waves)

    for name in waves:
        assert not (raw / name).exists()
        assert (archive / name).read_text() == golden[name], name

    # upsert semantics unchanged by the archive leg
    rows = {r.customer_id: r for r in dim.read().collect()}
    assert len(rows) == 50
    assert rows[5].last_name == "Last5_d2"
    assert rows[4].last_name == "Last4_d1"
    assert rows[2].last_name == "Last2_base"


def test_booking_cdc_stream_and_aggregation(spark, tmp_path):
    feed = tmp_path / "feed"
    facts = write_booking_feed(feed, n_bookings=120, cancel_pct=0.1, n_bad=4)

    fact = ParquetMergeTable(
        spark, str(tmp_path / "fact"), keys=["booking_id"], version_col="updated_at"
    )
    run_booking_fact_stream(spark, str(feed), fact, str(tmp_path / "ckpt"))

    out = fact.read()
    # bad rows split out; each booking_id exactly once (update in place)
    assert out.count() == facts["n_inserted"]
    cancelled = out.filter(F.col("status") == "Cancelled")
    assert sorted(r.booking_id for r in cancelled.collect()) == facts["cancelled_ids"]
    # cancellation fields populated only on the cancelled rows
    assert cancelled.filter(F.col("cancellation_ts").isNull()).count() == 0
    assert out.filter(
        (F.col("status") == "Confirmed") & F.col("cancellation_ts").isNotNull()
    ).count() == 0
    # typed contract applied (string feed → typed fact)
    dt = dict(out.dtypes)
    assert dt["customer_id"] == "int"
    assert dt["checkin_date"] == "date"
    assert dt["updated_at"] == "timestamp"
    assert dt["total_amount"] == "decimal(14,2)"

    # aggregation refresh over the merged fact (C5/O8)
    raw = tmp_path / "raw"
    write_customer_csvs(raw, n_base=100)
    dim = ParquetMergeTable(spark, str(tmp_path / "dim"), keys=["customer_id"])
    run_customer_dim(spark, str(raw), str(tmp_path / "arch"), dim)
    agg = ParquetMergeTable(spark, str(tmp_path / "agg"), keys=["country"])
    refresh_booking_aggregation(spark, fact, dim, agg)
    a = agg.read()
    assert a.count() == dim.read().select("country").distinct().count()
    tot = a.agg(F.sum("total_bookings")).collect()[0][0]
    assert tot == facts["n_inserted"]
    canc = a.agg(F.sum("cancelled_bookings")).collect()[0][0]
    assert canc == len(facts["cancelled_ids"])


def test_bad_records_quarantine(spark, tmp_path):
    """The BadRecords branch lands in the quarantine sink (typed, same
    contract columns) instead of being silently dropped."""
    feed = tmp_path / "feed"
    facts = write_booking_feed(feed, n_bookings=40, cancel_pct=0.05, n_bad=3)
    fact = ParquetMergeTable(
        spark, str(tmp_path / "fact"), keys=["booking_id"], version_col="updated_at"
    )
    qdir = str(tmp_path / "quarantine")
    run_booking_fact_stream(
        spark, str(feed), fact, str(tmp_path / "ckpt"), quarantine_dir=qdir
    )
    bad = spark.read.parquet(qdir)
    assert bad.count() == facts["n_bad"]
    # every quarantined row violates the quality predicate
    assert bad.filter(F.col("checkout_date") >= F.col("checkin_date")).count() == 0
    # none of the quarantined ids leaked into the fact table
    bad_ids = {r.booking_id for r in bad.select("booking_id").collect()}
    leaked = fact.read().filter(F.col("booking_id").isin(list(bad_ids)))
    assert leaked.count() == 0
    assert fact.read().count() == facts["n_inserted"]


def test_quarantine_replay_idempotent(spark, tmp_path):
    """A retried micro-batch (same batch id) overwrites its own
    batch_id partition — no duplicate quarantine rows; a different
    batch id accumulates."""
    from airbnb_cdc_spark.streaming.cdc import quarantine_batch

    qdir = str(tmp_path / "q")
    rows = spark.createDataFrame(
        [("b1", "bad"), ("b2", "bad")], ["booking_id", "why"]
    )
    quarantine_batch(rows, qdir, batch_id=7)
    quarantine_batch(rows, qdir, batch_id=7)  # simulated foreachBatch retry
    got = spark.read.parquet(qdir)
    assert got.count() == 2
    quarantine_batch(rows, qdir, batch_id=8)
    got = spark.read.parquet(qdir)
    assert got.count() == 4
    assert {r.batch_id for r in got.select("batch_id").distinct().collect()} == {7, 8}


def test_stream_checkpoint_restart_no_reprocess(spark, tmp_path):
    """C4: a second run with the same checkpoint skips consumed files and
    picks up only new ones."""
    feed = tmp_path / "feed"
    write_booking_feed(feed, n_bookings=50, cancel_pct=0.05, n_bad=0)
    fact = ParquetMergeTable(
        spark, str(tmp_path / "fact"), keys=["booking_id"], version_col="updated_at"
    )
    ckpt = str(tmp_path / "ckpt")
    run_booking_fact_stream(spark, str(feed), fact, ckpt)
    n1 = fact.read().count()
    assert n1 == 50

    # restart with nothing new: state unchanged
    run_booking_fact_stream(spark, str(feed), fact, ckpt)
    assert fact.read().count() == n1

    # add a new feed file with brand-new bookings → only they are added
    import json
    import random

    from tests.fixtures import booking_doc

    rng = random.Random(99)
    from datetime import datetime

    with open(feed / "feed_002_more.json", "w") as f:
        for _ in range(7):
            f.write(
                json.dumps(booking_doc(rng, [1, 2, 3], datetime(2025, 11, 1))) + "\n"
            )
    run_booking_fact_stream(spark, str(feed), fact, ckpt)
    assert fact.read().count() == n1 + 7


def test_run_all_orchestrator(spark, tmp_path):
    """E1: the final pipeline end-to-end — dim load then fact load then
    aggregation, strictly sequential (C1-C3)."""
    from airbnb_cdc_spark.plans.pipelines import run_all

    write_customer_csvs(tmp_path / "raw", n_base=60)
    write_booking_feed(tmp_path / "feed", n_bookings=80, cancel_pct=0.05, n_bad=2)
    tables = run_all(
        spark,
        raw_dir=str(tmp_path / "raw"),
        archive_dir=str(tmp_path / "archive"),
        feed_dir=str(tmp_path / "feed"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        warehouse_dir=str(tmp_path / "wh"),
    )
    assert tables["dim_customer"].read().count() == 60
    assert tables["fact_booking"].read().count() == 80
    agg = tables["booking_customer_aggregation"].read()
    total = agg.agg(F.sum("total_bookings")).collect()[0][0]
    # fact rows with customer_id > 60 fall out of the inner join
    assert 0 < total <= 80


def test_action_flag_probes_key_existence_not_version(spark):
    """An existing fact row whose updated_at is NULL (malformed
    timestamp through try_cast) must still classify a re-arrival as
    'update' — the reference's predicate is key existence
    (isNull(target.booking_id)), not version presence."""
    import json as _json
    import random
    from datetime import datetime

    from airbnb_cdc_spark.streaming.cdc import (
        ACTION_COL,
        BOOKING_RAW_SCHEMA,
        transform_booking_batch,
    )
    from tests.fixtures import booking_doc

    from pyspark.sql import functions as F

    rng = random.Random(7)
    doc = booking_doc(rng, [1], datetime(2025, 1, 1))
    doc["booking_id"] = "B1"
    raw = spark.read.json(
        spark.sparkContext.parallelize([_json.dumps(doc)]),
        schema=BOOKING_RAW_SCHEMA,
    )
    # current fact knows B1 but with NULL updated_at
    current = (
        transform_booking_batch(raw, None)
        .drop(ACTION_COL)
        .withColumn("updated_at", F.lit(None).cast("timestamp"))
    )
    out = transform_booking_batch(raw, current).collect()
    assert [r[ACTION_COL] for r in out] == ["update"]


def test_run_all_incremental_matches_from_scratch(spark, tmp_path):
    """E1 through the round-6 incremental path (VERDICT r6 ask #5):
    dim CSV replay + fact CDC batches land via change-capturing merge
    tables, the enriched view is maintained from their change feeds
    (base → cancel wave → LATE dim wave re-pointing countries), the
    aggregation refresh consumes the VIEW — and after every stage the
    incremental state must equal the from-scratch recompute."""
    from airbnb_cdc_spark.operators.aggregate import booking_customer_aggregation
    from airbnb_cdc_spark.plans.pipelines import run_all_incremental
    from tests.fixtures import CSV_HEADER, customer_row

    import csv
    import random

    write_customer_csvs(tmp_path / "raw", n_base=60)
    facts = write_booking_feed(
        tmp_path / "feed", n_bookings=80, cancel_pct=0.1, n_bad=2
    )

    tables = run_all_incremental(
        spark,
        raw_dir=str(tmp_path / "raw"),
        archive_dir=str(tmp_path / "archive"),
        feed_dir=str(tmp_path / "feed"),
        warehouse_dir=str(tmp_path / "wh"),
    )
    dim, fact, view, agg = (
        tables["dim_customer"],
        tables["fact_booking"],
        tables["enriched_booking"],
        tables["booking_customer_aggregation"],
    )

    # Golden counts: 60 dim keys (deltas update, never grow); the 2 bad
    # rows quarantined out of the fact; view rows == fact rows; the
    # cancel wave updated (not grew) its targets.
    assert dim.read().count() == 60
    assert fact.read().count() == 80
    assert view.read().count() == 80
    cancelled = {r.booking_id for r in
                 fact.read().filter(F.col("status") == "Cancelled").collect()}
    assert cancelled == set(facts["cancelled_ids"])

    def agg_from_scratch():
        return booking_customer_aggregation(fact.read(), dim.read())

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # The view must equal the from-scratch join (modulo the internal
    # __dim_matched marker, which must flag EXACTLY the fact rows whose
    # customer is absent from the dim — bookings reference customers
    # beyond the 60 loaded, the inner-join emulation drops those), and
    # the refreshed aggregate must equal the from-scratch aggregation.
    scratch_view = fact.read().join(
        dim.read().select(
            F.col("customer_id").cast("string").alias("customer_id"), "country"
        ),
        "customer_id",
        "left",
    )
    unmatched = {
        r.booking_id
        for r in view.read()
        .filter(F.col("__dim_matched").isNull())
        .select("booking_id")
        .collect()
    }
    dim_keys = {str(r.customer_id) for r in dim.read().select("customer_id").collect()}
    scratch_unmatched = {
        r.booking_id
        for r in fact.read()
        .filter(~F.col("customer_id").cast("string").isin(list(dim_keys)))
        .select("booking_id")
        .collect()
    }
    assert unmatched == scratch_unmatched
    view_visible = view.read().drop("__dim_matched")
    assert rows(view_visible.select(*sorted(view_visible.columns))) == rows(
        scratch_view.select(*sorted(scratch_view.columns))
    )
    assert rows(agg.read()) == rows(agg_from_scratch())

    # LATE dim wave: re-point ten customers' countries AFTER the fact
    # load — the dim-delta path must re-enrich their bookings.
    late_raw = tmp_path / "raw_late"
    late_raw.mkdir()
    rng = random.Random(99)
    with open(late_raw / "customer_feed_03_late.csv", "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(CSV_HEADER)
        for cid in range(1, 11):
            row = customer_row(rng, cid, "late")
            row[8] = "Wakanda"  # a country no other row has
            w.writerow(row)

    tables2 = run_all_incremental(
        spark,
        raw_dir=str(late_raw),
        archive_dir=str(tmp_path / "archive"),
        feed_dir=str(tmp_path / "feed"),
        warehouse_dir=str(tmp_path / "wh"),
        cursors=tables["cursors"],
    )
    view2, agg2 = tables2["enriched_booking"], tables2["booking_customer_aggregation"]

    # the re-pointed customers' bookings moved to the new country in
    # the VIEW without a full rebuild, and the aggregate refresh
    # (computed from the view) matches the from-scratch aggregation
    moved = view2.read().filter(F.col("country") == "Wakanda").count()
    expected_moved = (
        fact.read()
        .filter(F.col("customer_id").cast("int") <= 10)
        .count()
    )
    assert moved == expected_moved > 0
    assert rows(agg2.read()) == rows(
        booking_customer_aggregation(
            tables2["fact_booking"].read(), tables2["dim_customer"].read()
        )
    )

    # Idempotence: a third run over fully-consumed inputs changes nothing.
    before_view = rows(view2.read())
    before_agg = rows(agg2.read())
    tables3 = run_all_incremental(
        spark,
        raw_dir=str(late_raw),  # now empty (archived)
        archive_dir=str(tmp_path / "archive"),
        feed_dir=str(tmp_path / "feed"),
        warehouse_dir=str(tmp_path / "wh"),
        cursors=tables2["cursors"],
    )
    assert rows(tables3["enriched_booking"].read()) == before_view
    assert rows(tables3["booking_customer_aggregation"].read()) == before_agg


def test_list_files_py4j_calls_do_not_grow_with_files(spark, tmp_path, py4j_calls):
    """The folder's listing is printed once, not walked an element at a
    time through py4j; directories and other suffixes are left out."""
    from airbnb_cdc_spark.sources.customer_csv import list_files

    counts = []
    for n in (1, 20):
        folder = tmp_path / f"raw{n}"
        (folder / "sub.csv").mkdir(parents=True)
        (folder / "notes.txt").write_text("x")
        for i in range(n):
            (folder / f"customer_{i:02d} a,b.csv").write_text("customer_id\n1\n")
        with py4j_calls() as c:
            names = list_files(spark, str(folder))
        assert names == [f"customer_{i:02d} a,b.csv" for i in range(n)]
        counts.append(c["calls"])
    assert counts[1] <= counts[0], counts
    assert list_files(spark, str(tmp_path / "missing")) == []


def _newest_plan(spark) -> str:
    """The physical plan of the newest SQL execution as the UI shows it,
    after adaptive re-planning."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).physicalPlanDescription()


def test_refresh_over_one_bucket_tables_runs_two_jobs(spark, tmp_path, spark_jobs):
    """Tables under one openCostInBytes read as one partition, so the
    refresh's join and its 17-measure aggregate need no shuffle: the dim
    is broadcast (one job) and the one-bucket aggregate is written (one
    job). Its executed plan holds the BroadcastExchange and no other
    exchange."""
    import re

    facts = write_booking_feed(tmp_path / "feed", n_bookings=120, n_bad=0)
    fact = ParquetMergeTable(
        spark, str(tmp_path / "fact"), keys=["booking_id"], version_col="updated_at"
    )
    run_booking_fact_stream(spark, str(tmp_path / "feed"), fact, str(tmp_path / "ckpt"))
    write_customer_csvs(tmp_path / "raw", n_base=100)
    dim = ParquetMergeTable(spark, str(tmp_path / "dim"), keys=["customer_id"])
    run_customer_dim(spark, str(tmp_path / "raw"), str(tmp_path / "arch"), dim)
    agg = ParquetMergeTable(spark, str(tmp_path / "agg"), keys=["country"])
    refresh_booking_aggregation(spark, fact, dim, agg)  # the first commit: 16 buckets
    fact.compact()
    dim.compact()
    assert all(t._snapshot()["num_buckets"] == 1 for t in (fact, dim))

    with spark_jobs(spark) as c:
        refresh_booking_aggregation(spark, fact, dim, agg)
    plan = _newest_plan(spark)
    assert c["jobs"] == 2
    assert agg._snapshot()["num_buckets"] == 1
    assert "BroadcastExchange" in plan, plan
    assert not re.search(r"\bExchange\b", plan), plan
    total = agg.read().agg(F.sum("total_bookings")).collect()[0][0]
    assert total == facts["n_inserted"]


def test_stream_backlog_grows_a_one_bucket_fact_table(spark, tmp_path):
    """A foreachBatch micro-batch reads no files of its own (its plan is
    one LogicalRDD), so its size comes from the file bytes that relation
    carries. A backlog of twenty openCostInBytes (both confs lowered to
    a twentieth of it) replayed into a one-bucket fact table lands in at
    least 16 buckets, not one task writing it all into one."""
    import shutil
    from pathlib import Path

    feed = tmp_path / "feed"
    first = write_booking_feed(feed, n_bookings=20, n_bad=0)
    fact = ParquetMergeTable(
        spark, str(tmp_path / "fact"), keys=["booking_id"], version_col="updated_at"
    )
    ckpt = str(tmp_path / "ckpt")
    run_booking_fact_stream(spark, str(feed), fact, ckpt)
    fact.compact()
    assert fact._snapshot()["num_buckets"] == 1

    backlog = write_booking_feed(tmp_path / "backlog", n_bookings=2000, n_bad=0, seed=12)
    for f in sorted(Path(tmp_path / "backlog").iterdir()):
        shutil.move(str(f), str(feed / f"backlog_{f.name}"))
    size = sum(f.stat().st_size for f in feed.glob("backlog_*"))
    assert size > 20 * sum(fact._snapshot()["bytes"].values())

    confs = {
        "spark.sql.files.maxPartitionBytes": size // 20,
        "spark.sql.files.openCostInBytes": size // 20,
    }
    with session_confs(spark, confs):
        run_booking_fact_stream(spark, str(feed), fact, ckpt)
    assert fact._snapshot()["num_buckets"] >= 16
    assert fact.read().count() == first["n_inserted"] + backlog["n_inserted"]
