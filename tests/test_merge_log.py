"""The merge table's commit log: a crash at any step of any write leaves
the table reading as exactly the state before or after it, a retry
converges, and the next successful write leaves no directory the newest
log entry does not name.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from airbnb_cdc_spark.operators import merge as merge_mod
from airbnb_cdc_spark.operators.merge import ParquetMergeTable, Scd2MergeTable


def _rowset(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


def _plain(spark, path):
    return ParquetMergeTable(spark, path, ["k"], num_buckets=4)


def _sized(spark, path):
    """Sizes its bucket count to its bytes: 16 at the first commit."""
    return ParquetMergeTable(spark, path, ["k"])


def _scd2(spark, path):
    return Scd2MergeTable(spark, path, ["k"], ts_col="ts", num_buckets=4)


def _cases(spark):
    """op name -> (table factory, set-up, the operation under test)."""
    kv = "k string, v int"
    base = spark.createDataFrame([(f"k{i}", i) for i in range(24)], kv)
    ups = spark.createDataFrame([("k1", -1), ("k2", -2), ("k7", -7), ("new", 0)], kv)
    wide = spark.createDataFrame(
        [("k1", -1, "x"), ("new", 0, "y")], "k string, v int, extra string"
    )
    gone = spark.createDataFrame([("k3",), ("k4",), ("k9",), ("nope",)], "k string")
    fresh = spark.createDataFrame([("z", 9), ("y", 8)], kv)
    h0 = spark.createDataFrame(
        [(f"c{i}", "2025-01-01", "bronze") for i in range(12)],
        "k string, ts string, status string",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "status")
    h1 = spark.createDataFrame(
        [("c1", "2025-02-01", "gold"), ("c5", "2025-02-01", "silver"),
         ("c99", "2025-02-01", "gold")],
        "k string, ts string, status string",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "status")

    def two_merges(t):
        t.merge(base)
        t.merge(ups)

    return {
        "merge": (
            _plain, two_merges, lambda t: t.merge(ups.selectExpr("k", "v * 10 AS v"))
        ),
        # every live bucket touched: 16 buckets become 1
        "resizing_merge": (
            _sized,
            lambda t: t.merge(base),
            lambda t: t.merge(base.selectExpr("k", "v * 10 AS v")),
        ),
        "evolving_merge": (
            _plain, two_merges, lambda t: t.merge(wide, allow_schema_evolution=True)
        ),
        "delete": (_plain, two_merges, lambda t: t.delete(gone)),
        "overwrite": (_plain, two_merges, lambda t: t.overwrite(fresh)),
        "compact": (_plain, two_merges, lambda t: t.compact()),
        "scd2_merge": (_scd2, lambda t: t.merge(h0), lambda t: t.merge(h1)),
    }


class _CrashOnSecondDelete:
    """A FileSystem proxy whose second ``delete`` raises: GC has removed
    one path and not the rest."""

    def __init__(self, fs):
        self._fs = fs
        self.deletes = 0

    def delete(self, path, recursive):
        self.deletes += 1
        if self.deletes == 2:
            raise RuntimeError("injected crash mid-GC")
        return self._fs.delete(path, recursive)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _inject(monkeypatch, point):
    if point == "after_write":
        def crash(self, entry):
            raise RuntimeError("injected crash after the data write")
        monkeypatch.setattr(ParquetMergeTable, "_commit", crash)
    elif point == "after_commit":
        def crash(self, entry, on_disk):
            raise RuntimeError("injected crash after the commit")
        monkeypatch.setattr(ParquetMergeTable, "_gc", crash)
    else:
        real = merge_mod._fs
        monkeypatch.setattr(
            merge_mod,
            "_fs",
            lambda spark, p: (_CrashOnSecondDelete(real(spark, p)[0]), None),
        )


def _assert_clean(t):
    """Only what the newest entry names is on disk: its data dirs and
    its own log file (hidden checksum files aside)."""
    entry = t._snapshot()
    root = Path(t.path)
    on_disk = {
        str(d.relative_to(root)) for d in root.glob(f"{merge_mod.BUCKET_COL}=*/*")
    }
    assert on_disk == set(entry["buckets"].values())
    assert {p.name for p in (root / merge_mod.LOG_DIR).iterdir()} - {
        f".{entry['version']}.json.crc"
    } == {f"{entry['version']}.json"}


@pytest.mark.parametrize(
    "op",
    [
        "merge", "resizing_merge", "evolving_merge", "delete", "overwrite",
        "compact", "scd2_merge",
    ],
)
def test_crash_at_every_step_reads_before_or_after(spark, tmp_path, monkeypatch, op):
    make, setup, run = _cases(spark)[op]
    base = str(tmp_path / "base")
    setup(make(spark, base))
    before = _rowset(make(spark, base).read())

    reference = str(tmp_path / "reference")
    shutil.copytree(base, reference)
    run(make(spark, reference))
    after = _rowset(make(spark, reference).read())
    _assert_clean(make(spark, reference))
    if op != "compact":
        assert after != before
    if op == "resizing_merge":
        assert make(spark, base)._snapshot()["num_buckets"] == 16
        assert make(spark, reference)._snapshot()["num_buckets"] == 1

    for point, want in (
        ("after_write", before),
        ("after_commit", after),
        ("mid_gc", after),
    ):
        path = str(tmp_path / point)
        shutil.copytree(base, path)
        with monkeypatch.context() as m:
            _inject(m, point)
            with pytest.raises(RuntimeError, match="injected"):
                run(make(spark, path))
        assert _rowset(make(spark, path).read()) == want, point
        run(make(spark, path))  # the retry
        assert _rowset(make(spark, path).read()) == after, point
        _assert_clean(make(spark, path))


def test_path_with_bucket_files_but_no_log_is_refused(spark, tmp_path):
    """Never read as an empty table (a merge would then overwrite it)."""
    path = str(tmp_path / "t")
    spark.range(10).selectExpr(
        "CAST(id AS STRING) AS k", "CAST(id % 4 AS INT) AS _bucket"
    ).write.partitionBy("_bucket").parquet(path)
    t = _plain(spark, path)
    row = spark.createDataFrame([("a", 1)], "k string, v int")
    for op in (t.read, t.exists, lambda: t.merge(row)):
        with pytest.raises(ValueError, match="commit log"):
            op()


def test_a_taken_log_version_raises(spark, tmp_path):
    """A second writer's commit is never overwritten."""
    t = _plain(spark, str(tmp_path / "t"))
    t.merge(spark.createDataFrame([("a", 1)], "k string, v int"))
    entry = t._snapshot()
    stale = dict(entry, buckets={})
    with pytest.raises(FileExistsError, match="already committed"):
        t._commit(stale)
    assert t._snapshot() == entry
    assert [tuple(r) for r in t.read().collect()] == [("a", 1)]


def test_merge_py4j_calls_grow_slowly_with_touched_buckets(
    spark, tmp_path, py4j_calls
):
    """py4j round trips of a 1-key merge and of a 50-key merge touching
    all 16 buckets, each through a fresh handle, on a 2,000-row table.
    The bucket swap the log replaced made 253 and 358 calls here, 7 per
    extra touched bucket (its Path/exists/delete/rename calls); the log
    makes 137 and 182, 3 per bucket (the bucket's path in the read and
    its GC delete)."""
    path = str(tmp_path / "t")

    def handle():
        return ParquetMergeTable(
            spark, path, ["id"], version_col="ver", num_buckets=16
        )

    handle().merge(spark.range(2000).selectExpr("id", "1 AS ver", "'a' AS v"))
    one = spark.range(1).selectExpr("id", "2 AS ver", "'b' AS v")
    fifty = spark.range(0, 2000, 40).selectExpr("id", "2 AS ver", "'b' AS v")
    t = handle()
    assert fifty.selectExpr(f"{t._bucket_sql(16)} AS b").distinct().count() == 16

    counts = []
    for updates in (one, fifty):
        t = handle()
        with py4j_calls() as c:
            t.merge(updates)
        counts.append(c["calls"])
    assert counts[0] <= 160 and counts[1] <= 215, counts
    assert (counts[1] - counts[0]) / 15 <= 4, counts
