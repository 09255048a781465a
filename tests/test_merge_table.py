"""ParquetMergeTable: keyed upsert semantics, bucket-pruned rewrites and
the commit log (``_log/<N>.json`` names each bucket's live directory).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import Row

from airbnb_cdc_spark.operators.merge import (
    BUCKET_COL,
    ParquetMergeTable,
    _schema_of,
    merge_dataframes,
    suggest_num_buckets,
)
from tests.fixtures import session_confs


def _table(spark, tmp_path, **kw):
    return ParquetMergeTable(
        spark, str(tmp_path / "t"), keys=["k"], num_buckets=8, **kw
    )


def _live_dirs(t):
    """bucket id -> the live directory the newest log entry names."""
    return {int(b): Path(t.path) / d for b, d in t._snapshot()["buckets"].items()}


def test_merge_insert_then_update(spark, tmp_path):
    t = _table(spark, tmp_path, version_col="ver")
    t.merge(spark.createDataFrame([Row(k="a", v=1, ver=1), Row(k="b", v=2, ver=1)]))
    assert {r.k: r.v for r in t.read().collect()} == {"a": 1, "b": 2}

    t.merge(spark.createDataFrame([Row(k="b", v=20, ver=2), Row(k="c", v=3, ver=1)]))
    assert {r.k: r.v for r in t.read().collect()} == {"a": 1, "b": 20, "c": 3}


def test_merge_within_batch_last_writer_wins(spark, tmp_path):
    t = _table(spark, tmp_path, version_col="ver")
    t.merge(
        spark.createDataFrame(
            [Row(k="a", v=1, ver=1), Row(k="a", v=9, ver=5), Row(k="a", v=2, ver=3)]
        )
    )
    assert [r.v for r in t.read().collect()] == [9]


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark.createDataFrame([Row(k=f"k{i}", v=i) for i in range(100)]))
    before = _live_dirs(t)
    t.merge(spark.createDataFrame([Row(k="k0", v=-1)]))
    after = _live_dirs(t)
    assert after.keys() == before.keys()
    changed = [b for b in before if after[b] != before[b]]
    assert len(changed) == 1  # only k0's bucket rewritten
    # the untouched buckets are the same files; the replaced one is gone
    assert all(after[b].is_dir() for b in after)
    assert not before[changed[0]].exists()
    assert {r.v for r in t.read().filter("k = 'k0'").collect()} == {-1}
    assert t.read().count() == 100


def test_overwrite_replaces_all(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark.createDataFrame([Row(k="a", v=1)]))
    t.overwrite(spark.createDataFrame([Row(k="z", v=9)]))
    assert [(r.k, r.v) for r in t.read().collect()] == [("z", 9)]


def test_merge_idempotent(spark, tmp_path):
    t = _table(spark, tmp_path, version_col="ver")
    batch = spark.createDataFrame([Row(k="a", v=1, ver=1), Row(k="b", v=2, ver=1)])
    t.merge(batch)
    t.merge(batch)  # replay = no change (exactly-once-by-key)
    assert sorted((r.k, r.v) for r in t.read().collect()) == [("a", 1), ("b", 2)]


def test_delete_keys(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark.createDataFrame([Row(k=f"k{i}", v=i) for i in range(20)]))
    t.delete(spark.createDataFrame([Row(k="k3"), Row(k="k7"), Row(k="nope")]))
    remaining = sorted(r.k for r in t.read().collect())
    assert "k3" not in remaining and "k7" not in remaining
    assert len(remaining) == 18


def test_delete_entire_bucket(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "t1"), keys=["k"], num_buckets=2)
    t.merge(spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    t.delete(spark.createDataFrame([Row(k="a"), Row(k="b")]))
    assert t.read().count() == 0


def test_compact_preserves_rows(spark, tmp_path):
    t = _table(spark, tmp_path, version_col="ver")
    t.merge(spark.createDataFrame([Row(k=f"k{i}", v=i, ver=1) for i in range(50)]))
    t.merge(spark.createDataFrame([Row(k="k1", v=-1, ver=2)]))
    before = sorted(map(tuple, t.read().collect()))
    t.compact()
    assert sorted(map(tuple, t.read().collect())) == before


def test_merge_lww_across_batches(spark, tmp_path):
    """An update older than the stored row is discarded; a tie goes to
    the update (whole-row replace)."""
    t = _table(spark, tmp_path, version_col="ver")
    t.merge(spark.createDataFrame([Row(k="a", v=1, ver=5)]))
    t.merge(spark.createDataFrame([Row(k="a", v=99, ver=3)]))  # stale: ignored
    assert [(r.v, r.ver) for r in t.read().collect()] == [(1, 5)]
    t.merge(spark.createDataFrame([Row(k="a", v=7, ver=5)]))  # tie: update wins
    assert [(r.v, r.ver) for r in t.read().collect()] == [(7, 5)]
    t.merge(spark.createDataFrame([Row(k="a", v=8, ver=6)]))  # newer: wins
    assert [(r.v, r.ver) for r in t.read().collect()] == [(8, 6)]


def test_merge_after_delete_all(spark, tmp_path):
    """Emptying every bucket leaves a log entry with no bucket; the next
    merge/delete must read it as an empty table, not throw."""
    t = ParquetMergeTable(spark, str(tmp_path / "t2"), keys=["k"], num_buckets=2)
    t.merge(spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    t.delete(spark.createDataFrame([Row(k="a"), Row(k="b")]))
    assert t.read().count() == 0
    t.delete(spark.createDataFrame([Row(k="a")]))  # no-op on empty
    t.merge(spark.createDataFrame([Row(k="c", v=3)]))
    assert [(r.k, r.v) for r in t.read().collect()] == [("c", 3)]


def test_merge_without_evolution_fails_fast_on_missing_column(spark, tmp_path):
    """After the table evolved, a merge lacking the evolved column must
    fail fast (S5) rather than silently dropping it from the bucket."""
    import pytest

    t = _table(spark, tmp_path)
    t.merge(spark.createDataFrame([Row(k="a", v=1)]))
    t.merge(
        spark.createDataFrame([Row(k="b", v=2, extra="x")]),
        allow_schema_evolution=True,
    )
    with pytest.raises(Exception):
        t.merge(spark.createDataFrame([Row(k="a", v=10)]))
    # the evolved column survives an allowed-evolution merge of old-shape rows
    t.merge(spark.createDataFrame([Row(k="a", v=10)]), allow_schema_evolution=True)
    out = {r.k: r for r in t.read().collect()}
    assert out["b"].extra == "x" and out["a"].v == 10 and out["a"].extra is None


def test_merge_schema_evolution(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    t.merge(
        spark.createDataFrame([Row(k="b", v=20, extra="x"), Row(k="c", v=3, extra="y")]),
        allow_schema_evolution=True,
    )
    out = {r.k: r for r in t.read().collect()}
    assert out["b"].extra == "x" and out["c"].extra == "y"
    assert out["a"].extra is None  # old rows widened with NULL
    assert out["a"].v == 1 and out["b"].v == 20


def test_failed_evolving_merge_leaves_the_contract_unchanged(
    spark, tmp_path, monkeypatch
):
    """The log entry's schema is the table's contract: an evolving merge
    whose write fails must not widen it, or every later plain merge
    would fail the S5 check for a column no file holds."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = _table(spark, tmp_path)
    t.merge(spark.createDataFrame([Row(k="a", v=1)]))
    before = _schema_of(t._snapshot())

    def failing_write(self, *args, **kwargs):
        raise IOError("injected parquet write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(IOError, match="injected"):
        t.merge(
            spark.createDataFrame([Row(k="b", v=2, extra="x")]),
            allow_schema_evolution=True,
        )
    monkeypatch.undo()

    assert _schema_of(t._snapshot()) == before
    t.merge(spark.createDataFrame([Row(k="a", v=10)]))
    assert [(r.k, r.v) for r in t.read().collect()] == [("a", 10)]


# -- one-shuffle rewrite -----------------------------------------------------
#
# A bucketed merge ranks the stored rows and ALL update rows (in-batch
# duplicates included) in one row_number window. Each case must equal
# merge_dataframes, the anti-join + union reference, on the same inputs.


def _rowset(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


def _merged(spark, tmp_path, existing, updates, version_col=None, evolve=False):
    """``existing`` loaded into a fresh table, then ``updates`` merged
    (the bucketed path, not the fresh load). Every bucket directory
    must then hold exactly one parquet file."""
    t = ParquetMergeTable(
        spark, str(tmp_path / "t"), keys=["k"], version_col=version_col, num_buckets=4
    )
    t.merge(existing)
    t.merge(updates, allow_schema_evolution=evolve)
    buckets = _live_dirs(t).values()
    assert buckets
    for b in buckets:
        assert len(list(b.glob("*.parquet"))) == 1, b
    return t.read()


@pytest.mark.parametrize("parts", [1, 8])
def test_in_batch_duplicates_keep_the_max_struct_row(spark, tmp_path, parts):
    """No version column: among in-batch duplicates the row with the
    max (v, s) struct survives, however the updates are partitioned."""
    ddl = "k string, v int, s string"
    existing = spark.createDataFrame([("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")], ddl)
    updates = spark.createDataFrame(
        [
            ("a", 9, "a"), ("a", 5, "p"), ("a", 9, "b"), ("a", -1, None),
            ("b", 0, None), ("b", 0, "q"),
            ("d", 1, "m"), ("d", 1, "n"), ("d", None, "z"),
        ],
        ddl,
    ).repartition(parts)
    got = _merged(spark, tmp_path, existing, updates)
    assert _rowset(got) == _rowset(merge_dataframes(existing, updates, ["k"]))
    assert {r.k: (r.v, r.s) for r in got.collect()} == {
        "a": (9, "b"), "b": (0, "q"), "c": (3, "z"), "d": (1, "n")
    }


def test_version_tie_and_null_stored_version_take_the_update(spark, tmp_path):
    ddl = "k string, ver int, v int"
    existing = spark.createDataFrame([("a", 5, 1), ("b", None, 2), ("c", 3, 3)], ddl)
    updates = spark.createDataFrame(
        [("a", 5, 7), ("b", 1, 8), ("b", 0, 6), ("d", 2, 4)], ddl
    )
    got = _merged(spark, tmp_path, existing, updates, version_col="ver")
    want = merge_dataframes(existing, updates, ["k"], version_col="ver")
    assert _rowset(got) == _rowset(want)
    assert {r.k: r.v for r in got.collect()} == {"a": 7, "b": 8, "c": 3, "d": 4}


def test_stale_updates_are_discarded(spark, tmp_path):
    """An update older than the stored row, or with a NULL version
    against a real one, loses: the result is the merge of the other
    updates alone."""
    ddl = "k string, ver int, v int"
    existing = spark.createDataFrame([("a", 5, 1), ("c", 3, 3)], ddl)
    updates = spark.createDataFrame(
        [("a", 3, 99), ("c", None, 98), ("d", 1, 4)], ddl
    )
    got = _merged(spark, tmp_path, existing, updates, version_col="ver")
    want = merge_dataframes(
        existing, updates.filter("k = 'd'"), ["k"], version_col="ver"
    )
    assert _rowset(got) == _rowset(want)


def test_evolving_merge_matches_reference(spark, tmp_path):
    from pyspark.sql import functions as F

    existing = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    updates = spark.createDataFrame(
        [("b", 20, "x"), ("b", 20, "w"), ("c", 3, None), ("c", 3, "y")],
        "k string, v int, extra string",
    )
    got = _merged(spark, tmp_path, existing, updates, evolve=True)
    widened = existing.withColumn("extra", F.lit(None).cast("string"))
    assert got.columns == ["k", "v", "extra"]
    assert _rowset(got) == _rowset(merge_dataframes(widened, updates, ["k"]))


@pytest.mark.parametrize("version_col", [None, "ver"])
def test_merge_rewrite_plan_has_one_exchange(spark, tmp_path, version_col):
    """The frame merge() writes shuffles once: the repartition on
    _bucket also clusters the window, so no second exchange. That holds
    when the write keeps the table's 8 buckets and when it re-buckets
    the stored rows into 2. A write of one bucket shuffles not at all:
    coalesce(1) is one partition, which clusters the window already."""
    import io
    import re
    from contextlib import redirect_stdout

    t = _table(spark, tmp_path, version_col=version_col)
    t.merge(spark.createDataFrame([Row(k=f"k{i}", v=i, ver=1) for i in range(20)]))
    updates = spark.createDataFrame(
        [Row(k="k1", v=-1, ver=2), Row(k="k1", v=-2, ver=3), Row(k="new", v=0, ver=1)]
    )
    for num_buckets, exchanges in ((8, 1), (2, 1), (1, 0)):
        buf = io.StringIO()
        with redirect_stdout(buf):
            t._rewrite(
                t._snapshot(), updates, set(range(8)), False, num_buckets
            ).explain()
        plan = buf.getvalue()
        assert len(re.findall(r"\bExchange\b", plan)) == exchanges, plan
        assert "Window" in plan, plan


# -- SCD2 ------------------------------------------------------------------


def _scd2(spark, tmp_path):
    from airbnb_cdc_spark.operators.merge import Scd2MergeTable

    return Scd2MergeTable(
        spark, str(tmp_path / "scd2"), keys=["cid"], ts_col="ts", num_buckets=4
    )


def _rows(df):
    return sorted(
        (r.cid, str(r.valid_from), str(r.valid_to), r.is_current, r.status)
        for r in df.collect()
    )


def test_scd2_initial_and_change(spark, tmp_path):
    from datetime import datetime

    t = lambda d: datetime(2025, 1, d)  # noqa: E731
    tab = _scd2(spark, tmp_path)
    tab.merge(
        spark.createDataFrame(
            [(1, t(1), "bronze"), (2, t(1), "silver")], ["cid", "ts", "status"]
        )
    )
    out = tab.read()
    assert out.filter("is_current = 1").count() == 2
    assert out.count() == 2

    # change cid 1, no-op update for cid 2
    tab.merge(
        spark.createDataFrame(
            [(1, t(5), "gold"), (2, t(5), "silver")], ["cid", "ts", "status"]
        )
    )
    out = tab.read()
    assert _rows(out) == sorted(
        [
            (1, str(t(1)), str(t(5)), 0, "bronze"),
            (1, str(t(5)), "None", 1, "gold"),
            (2, str(t(1)), "None", 1, "silver"),  # no-op created no version
        ]
    )


def test_scd2_multi_change_batch_and_late_discard(spark, tmp_path):
    from datetime import datetime

    t = lambda d: datetime(2025, 1, d)  # noqa: E731
    tab = _scd2(spark, tmp_path)
    # one batch containing a whole chain, out of storage order
    tab.merge(
        spark.createDataFrame(
            [(1, t(7), "gold"), (1, t(1), "bronze"), (1, t(3), "silver")],
            ["cid", "ts", "status"],
        )
    )
    out = tab.read()
    assert _rows(out) == sorted(
        [
            (1, str(t(1)), str(t(3)), 0, "bronze"),
            (1, str(t(3)), str(t(7)), 0, "silver"),
            (1, str(t(7)), "None", 1, "gold"),
        ]
    )

    # a late update older than the open version is discarded
    tab.merge(spark.createDataFrame([(1, t(5), "iron")], ["cid", "ts", "status"]))
    out = tab.read()
    assert out.count() == 3
    assert out.filter("status = 'iron'").count() == 0

    # a genuine newer change still applies
    tab.merge(spark.createDataFrame([(1, t(9), "platinum")], ["cid", "ts", "status"]))
    out = tab.read()
    assert out.filter("is_current = 1").count() == 1
    cur = out.filter("is_current = 1").collect()[0]
    assert cur.status == "platinum" and str(cur.valid_from) == str(t(9))
    # the previously-open gold row is now closed at t(9)
    gold = out.filter("status = 'gold'").collect()[0]
    assert gold.is_current == 0 and str(gold.valid_to) == str(t(9))


def test_reattach_with_wrong_num_buckets_refused(spark, tmp_path):
    """The table remembers its bucket count: a mismatched handle would
    route existing keys to unread buckets and silently insert
    duplicates instead of upserting."""
    import pytest as _pytest

    from airbnb_cdc_spark.operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=8)
    t.merge(spark.createDataFrame([(1, "a")], "id long, v string"))
    wrong = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    with _pytest.raises(ValueError, match="num_buckets"):
        wrong.merge(spark.createDataFrame([(1, "b")], "id long, v string"))
    # the correctly-configured handle still works
    t.merge(spark.createDataFrame([(1, "b")], "id long, v string"))
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "b")}


def test_scd2_rejects_schema_evolution_with_value_error(spark, tmp_path):
    """A ValueError, not an assert that ``python -O`` strips."""
    rows = spark.createDataFrame(
        [(1, "2025-01-01", "gold")], "cid long, ts string, status string"
    )
    with pytest.raises(ValueError, match="SCD2"):
        _scd2(spark, tmp_path).merge(rows, allow_schema_evolution=True)


# -- types: the log entry's schema decides -----------------------------------


def _bigint_table(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=16)
    t.merge(spark.range(200).selectExpr("id", "'old' AS v"))
    return t


def test_int_keys_update_a_bigint_table(spark, tmp_path):
    """int keys hash to other buckets than the stored bigint keys; cast
    first, they update the 200 rows instead of inserting 191 more."""
    t = _bigint_table(spark, tmp_path)
    t.merge(spark.range(200).selectExpr("CAST(id AS INT) AS id", "'new' AS v"))
    out = t.read()
    assert dict(out.dtypes)["id"] == "bigint"
    assert out.count() == 200
    assert {r.v for r in out.collect()} == {"new"}


def test_int_keys_delete_from_a_bigint_table(spark, tmp_path):
    t = _bigint_table(spark, tmp_path)
    t.delete(spark.createDataFrame([(3,), (50,), (199,)], "id int"))
    out = t.read()
    assert out.count() == 197
    assert not {3, 50, 199} & {r.id for r in out.collect()}


@pytest.mark.parametrize(
    "stored, stored_row, incoming, incoming_row, column",
    [
        ("id string, v int", ("1", 1), "id bigint, v int", (1, 2), "id"),
        ("id bigint, v int", (1, 1), "id bigint, v string", (1, "2"), "v"),
    ],
)
def test_type_mismatch_raises_and_writes_nothing(
    spark, tmp_path, stored, stored_row, incoming, incoming_row, column
):
    """No lossless cast exists (bigint into a string key, string into
    an int column): merge and delete raise naming the column, and the
    table and its files are as before."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=16)
    t.merge(spark.createDataFrame([stored_row], stored))
    files = sorted(p for p in Path(t.path).rglob("*") if p.is_file())
    bad = spark.createDataFrame([incoming_row], incoming)
    with pytest.raises(ValueError, match=f"'{column}'"):
        t.merge(bad)
    with pytest.raises(ValueError, match=f"'{column}'"):
        t.merge(bad, allow_schema_evolution=True)
    if column == "id":
        with pytest.raises(ValueError, match="'id'"):
            t.delete(bad)
    assert sorted(p for p in Path(t.path).rglob("*") if p.is_file()) == files
    assert [tuple(r) for r in t.read().collect()] == [stored_row]


# -- the bucket count, sized to the table's bytes ----------------------------

MAX_SPLIT = "spark.sql.files.maxPartitionBytes"
OPEN_COST = "spark.sql.files.openCostInBytes"


def _data_files(t):
    return sorted(Path(t.path).glob("_bucket=*/_c=*/*.parquet"))


def _misplaced(t):
    """Rows stored outside the bucket their key hashes to."""
    entry = t._snapshot()
    scan = t._scan(entry)
    return scan.filter(f"{BUCKET_COL} != {t._bucket_sql(entry['num_buckets'])}").count()


def test_default_table_sizes_itself_after_a_full_touch_merge(spark, tmp_path):
    """A first commit writes 16 buckets; a merge whose wave touches all
    of them rewrites the table anyway, so it re-sizes a 2,000-row table
    (tens of kB, under one openCostInBytes) to one bucket, one data
    file. A fresh default handle adopts the entry's count: it reads the
    same rows and its merges route by that count (a handle hashing into
    16 buckets would insert a duplicate instead of updating)."""
    path = str(tmp_path / "t")
    t = ParquetMergeTable(spark, path, ["id"], version_col="ver")
    base = spark.range(2000).selectExpr("id", "1 AS ver", "CAST(id AS STRING) AS v")
    t.merge(base)
    assert t._snapshot()["num_buckets"] == 16
    assert len(_data_files(t)) == 16

    wave = spark.range(0, 2000, 40).selectExpr("id", "2 AS ver", "'b' AS v")
    t.merge(wave)
    entry = t._snapshot()
    assert entry["num_buckets"] == 1
    assert len(_data_files(t)) == 1
    assert entry["bytes"]["0"] == _data_files(t)[0].stat().st_size
    want = merge_dataframes(base, wave, ["id"], "ver")

    other = ParquetMergeTable(spark, path, ["id"], version_col="ver")
    assert _rowset(other.read()) == _rowset(want)
    late = spark.createDataFrame([(7, 3, "c")], "id long, ver int, v string")
    other.merge(late)
    assert _rowset(t.read()) == _rowset(merge_dataframes(want, late, ["id"], "ver"))


def test_table_above_open_cost_keeps_sixteen_buckets(spark, tmp_path):
    """A table at least one openCostInBytes large (lowered here to a
    fifth of its bytes) keeps 16 buckets through a full-touch merge, so
    a later one-key wave still rewrites a sixteenth of it; only the
    bucket that key hashes to gets a new directory."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"])
    base = spark.range(2000).selectExpr("id", "sha2(CAST(id AS STRING), 256) AS v")
    t.merge(base)
    stored = sum(t._snapshot()["bytes"].values())
    wave = spark.range(0, 2000, 40).selectExpr("id", "'b' AS v")
    with session_confs(spark, {OPEN_COST: stored // 5}):
        t.merge(wave)
        before = _live_dirs(t)
        t.merge(spark.createDataFrame([(3, "c")], "id long, v string"))
    after = _live_dirs(t)
    assert t._snapshot()["num_buckets"] == 16
    assert sum(after[b] != before[b] for b in before) == 1
    want = merge_dataframes(merge_dataframes(base, wave, ["id"]),
                            spark.createDataFrame([(3, "c")], "id long, v string"), ["id"])
    assert _rowset(t.read()) == _rowset(want)


def test_compact_sizes_the_count_to_bytes_over_max_partition_bytes(spark, tmp_path):
    """compact() re-picks the count from the bytes the entry records:
    one bucket under one openCostInBytes; past 16 splits,
    ceil(bytes / maxPartitionBytes) rounded up to a power of two. Rows
    are unchanged and every key sits in the bucket its hash names."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"])
    base = spark.range(2000).selectExpr("id", "sha2(CAST(id AS STRING), 256) AS v")
    t.merge(base)
    t.compact()  # a few kB: one bucket
    entry = t._snapshot()
    assert entry["num_buckets"] == 1
    stored = entry["bytes"]["0"]

    with session_confs(spark, {MAX_SPLIT: stored // 20, OPEN_COST: stored // 20}):
        t.compact()  # 20 or 21 splits
    entry = t._snapshot()
    assert entry["num_buckets"] == 32
    assert len(entry["buckets"]) == len(_data_files(t)) == 32
    assert _rowset(t.read()) == _rowset(base)
    assert _misplaced(t) == 0


@pytest.mark.parametrize("op", ["merge", "overwrite"])
def test_large_input_grows_a_one_bucket_table(spark, tmp_path, op):
    """A one-bucket table that takes an input far larger than itself
    sizes the write by the bytes of the files the input scans, not by
    the table's own: here 2,000 rows of parquet against a 10-row table,
    with maxPartitionBytes a twentieth of the input, give 32 buckets
    instead of one task writing everything into one."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"])
    small = spark.range(10).selectExpr("id", "'a' AS v")
    t.merge(small)
    t.compact()
    assert t._snapshot()["num_buckets"] == 1

    src = str(tmp_path / "src")
    spark.range(2000).selectExpr(
        "id", "sha2(CAST(id AS STRING), 256) AS v"
    ).coalesce(1).write.parquet(src)
    big = spark.read.parquet(src)
    incoming = sum(f.stat().st_size for f in Path(src).glob("*.parquet"))
    assert incoming > 20 * sum(t._snapshot()["bytes"].values())

    with session_confs(spark, {MAX_SPLIT: incoming // 20, OPEN_COST: incoming // 20}):
        getattr(t, op)(big)
    entry = t._snapshot()
    assert entry["num_buckets"] == 32
    assert len(_data_files(t)) == 32
    want = merge_dataframes(small, big, ["id"]) if op == "merge" else big
    assert _rowset(t.read()) == _rowset(want)
    assert _misplaced(t) == 0


def test_pinned_table_keeps_its_count(spark, tmp_path):
    """An explicit num_buckets pins the count through full-touch merges
    and compact(), whatever the bytes."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=8)
    base = spark.range(2000).selectExpr("id", "'a' AS v")
    t.merge(base)
    wave = spark.range(0, 2000, 10).selectExpr("id", "'b' AS v")
    t.merge(wave)
    assert t._snapshot()["num_buckets"] == 8
    with session_confs(spark, {MAX_SPLIT: 1024, OPEN_COST: 1024}):
        t.compact()
    entry = t._snapshot()
    assert entry["num_buckets"] == 8 and len(entry["buckets"]) == 8
    assert _rowset(t.read()) == _rowset(merge_dataframes(base, wave, ["id"]))


def test_suggest_num_buckets_targets_one_split_per_bucket():
    mib = 1024**2
    split, small = 128 * mib, 4 * mib
    assert suggest_num_buckets(0, split, small) == 1
    assert suggest_num_buckets(small - 1, split, small) == 1
    assert suggest_num_buckets(small, split, small) == 16  # never 2..15
    assert suggest_num_buckets(16 * split, split, small) == 16
    assert suggest_num_buckets(16 * split + 1, split, small) == 32
    assert suggest_num_buckets(100 * 1024**4, split, small) == 65536  # 100 TB


# -- one-bucket writes and small scans -----------------------------------


def _one_bucket(spark, tmp_path, rows=200):
    """A default table of ``rows`` keys, compacted to its one bucket."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], version_col="ver")
    t.merge(spark.range(rows).selectExpr("id", "1 AS ver", "'a' AS v"))
    t.compact()
    assert t._snapshot()["num_buckets"] == 1
    return t


def test_one_bucket_merge_runs_one_job(spark, tmp_path, spark_jobs):
    """A merge into a one-bucket table runs only its write: no probe
    (its answer could only be bucket 0, and it cost two jobs) and no
    shuffle (coalesce(1) already clusters the window; a repartition
    cost a third job)."""
    t = _one_bucket(spark, tmp_path)
    wave = spark.range(190, 210).selectExpr("id", "2 AS ver", "'b' AS v")
    with spark_jobs(spark) as c:
        t.merge(wave)
    assert c["jobs"] == 1
    base = spark.range(200).selectExpr("id", "1 AS ver", "'a' AS v")
    assert _rowset(t.read()) == _rowset(merge_dataframes(base, wave, ["id"], "ver"))


@pytest.mark.parametrize("keys", [[(3,), (150,)], []], ids=["two_keys", "no_keys"])
def test_one_bucket_delete_of_driver_built_keys_runs_two_jobs(
    spark, tmp_path, spark_jobs, keys
):
    """Keys built on the driver carry no size estimate: without the
    broadcast the anti join was a sort-merge join with an exchange on
    each side, 4 jobs for two keys and 3 for none. Broadcast, it is the
    broadcast and the write."""
    t = _one_bucket(spark, tmp_path)
    doomed = spark.createDataFrame(keys, "id long")
    with spark_jobs(spark) as c:
        t.delete(doomed)
    assert c["jobs"] <= 2
    gone = [k for (k,) in keys]
    base = spark.range(200).selectExpr("id", "1 AS ver", "'a' AS v")
    assert _rowset(t.read()) == _rowset(base.filter(~base.id.isin(gone)))


@pytest.mark.parametrize("op", ["merge", "delete"])
def test_empty_wave_into_a_one_bucket_table(spark, tmp_path, op):
    """A one-bucket table runs no probe, so an empty merge or delete
    wave is not seen as empty before the write: it commits the same rows
    again (at several buckets the probe finds no bucket and nothing is
    committed), and the next commit's GC leaves one live directory."""
    t = _one_bucket(spark, tmp_path)
    before = t._snapshot()
    rows = _rowset(t.read())
    empty = spark.createDataFrame([], "id long, ver int, v string")
    if op == "merge":
        t.merge(empty)
    else:
        t.delete(empty.select("id"))
    after = t._snapshot()
    assert after["version"] == before["version"] + 1
    assert after["buckets"] != before["buckets"]
    assert _rowset(t.read()) == rows

    t.merge(spark.createDataFrame([(7, 2, "b")], "id long, ver int, v string"))
    assert sorted(Path(t.path).glob("_bucket=*/_c=*")) == list(_live_dirs(t).values())
    assert t.read().filter("v = 'b'").count() == 1


@pytest.mark.parametrize("pinned", [1, None])
def test_scan_above_open_cost_is_not_coalesced(spark, tmp_path, pinned):
    """Only a scan under one openCostInBytes is read as coalesce(1). A
    table whose bytes pass it (here both confs lowered to a quarter of
    its bytes), one pinned bucket or sixteen self-sized, reads in more
    than one split."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=pinned)
    t.merge(spark.range(4000).selectExpr("id", "sha2(CAST(id AS STRING), 256) AS v"))
    stored = sum(t._snapshot()["bytes"].values())
    with session_confs(spark, {MAX_SPLIT: stored // 4, OPEN_COST: stored // 4}):
        read = t.read()
        assert "Coalesce" not in read._jdf.queryExecution().executedPlan().toString()
        assert read.rdd.getNumPartitions() > 1
