"""Change-data-feed capture on the merge table.

Two invariants: (1) each operation emits exactly its effective
row-level changes (idempotent retries and stale versions emit nothing),
(2) replaying the feed in sequence order onto an empty table
reconstructs the table exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.cdf import ChangeCapturingMergeTable
from airbnb_cdc_spark.operators.merge import ParquetMergeTable


def _mk(spark, tmp_path, version_col=None):
    return ChangeCapturingMergeTable(
        ParquetMergeTable(
            spark,
            str(tmp_path / "t"),
            ["id"],
            version_col=version_col,
            num_buckets=4,
        )
    )


def _changes(cdf, since=-1):
    return {
        (r._cdf_seq, r._change_type, r.id, r.v)
        for r in cdf.read_changes(since).collect()
    }


def test_cdf_insert_update_noop_delete(spark, tmp_path):
    cdf = _mk(spark, tmp_path)
    cdf.merge(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    assert _changes(cdf) == {(0, "insert", 1, "a"), (0, "insert", 2, "b")}

    # update 1, re-send identical 2 (no-op), insert 3
    cdf.merge(
        spark.createDataFrame(
            [(1, "a2"), (2, "b"), (3, "c")], "id long, v string"
        )
    )
    assert _changes(cdf, since=0) == {
        (1, "update", 1, "a2"),
        (1, "insert", 3, "c"),
    }

    cdf.delete(spark.createDataFrame([(2,), (99,)], "id long"))
    assert _changes(cdf, since=1) == {(2, "delete", 2, "b")}

    # incremental consumer contract: full feed = union of the three
    assert len(_changes(cdf)) == 5


def test_cdf_stale_version_emits_nothing(spark, tmp_path):
    cdf = _mk(spark, tmp_path, version_col="ver")
    cdf.merge(
        spark.createDataFrame([(1, "new", 5)], "id long, v string, ver long")
    )
    # stale arrival: LWW keeps ver=5, so the table is unchanged and the
    # feed stays silent
    cdf.merge(
        spark.createDataFrame([(1, "old", 3)], "id long, v string, ver long")
    )
    assert {r._change_type for r in cdf.read_changes().collect()} == {"insert"}


def test_cdf_replay_reconstructs_table(spark, tmp_path):
    cdf = _mk(spark, tmp_path)
    cdf.merge(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    cdf.merge(spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string"))
    cdf.delete(spark.createDataFrame([(1,)], "id long"))
    cdf.merge(spark.createDataFrame([(1, "back")], "id long, v string"))

    replayed = ParquetMergeTable(
        spark, str(tmp_path / "replay"), ["id"], num_buckets=4
    )
    feed = cdf.read_changes().collect()
    for seq in sorted({r._cdf_seq for r in feed}):
        batch = [r for r in feed if r._cdf_seq == seq]
        ups = [(r.id, r.v) for r in batch if r._change_type in ("insert", "update")]
        dels = [(r.id,) for r in batch if r._change_type == "delete"]
        if ups:
            replayed.merge(spark.createDataFrame(ups, "id long, v string"))
        if dels:
            replayed.delete(spark.createDataFrame(dels, "id long"))
    got = {(r.id, r.v) for r in replayed.read().collect()}
    want = {(r.id, r.v) for r in cdf.read().collect()}
    assert got == want == {(1, "back"), (2, "b2"), (3, "c")}


def test_cdf_value_to_null_transition_is_an_update(spark, tmp_path):
    cdf = _mk(spark, tmp_path)
    cdf.merge(spark.createDataFrame([(1, "a")], "id long, v string"))
    cdf.merge(spark.createDataFrame([(1, None)], "id long, v string"))
    assert _changes(cdf, since=0) == {(1, "update", 1, None)}


def test_cdf_feed_drives_matview(spark, tmp_path):
    """Composition: the change feed of a fact table is exactly the
    delta stream a downstream MaterializedJoinView needs — CDC output
    becomes CDC input, no full-table diffing anywhere."""
    from airbnb_cdc_spark.operators.matview import MaterializedJoinView

    fact = _mk(spark, tmp_path)
    dim = spark.createDataFrame(
        [(10, "bronze"), (20, "silver")], "cust long, tier string"
    )
    view = MaterializedJoinView(
        spark, str(tmp_path / "mv"), ["id"], "cust", num_buckets=4
    )
    view.full_build(
        spark.createDataFrame([], "id long, cust long, v string"),
        dim,
    )
    seen = -1

    def sync():
        nonlocal seen
        feed = fact.read_changes(since_seq=seen).collect()
        if not feed:
            return
        for seq in sorted({r._cdf_seq for r in feed}):
            batch = [r for r in feed if r._cdf_seq == seq]
            ups = [
                (r.id, r.cust, r.v)
                for r in batch
                if r._change_type in ("insert", "update")
            ]
            dels = [(r.id,) for r in batch if r._change_type == "delete"]
            if ups:
                view.apply_fact_delta(
                    spark.createDataFrame(ups, "id long, cust long, v string"),
                    dim,
                )
            if dels:
                view.apply_fact_deletes(spark.createDataFrame(dels, "id long"))
        seen = max(r._cdf_seq for r in feed)

    fact.merge(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "id long, cust long, v string"
        )
    )
    sync()
    fact.merge(spark.createDataFrame([(1, 20, "a2")], "id long, cust long, v string"))
    fact.delete(spark.createDataFrame([(2,)], "id long"))
    sync()
    got = {(r.id, r.cust, r.v, r.tier) for r in view.read().collect()}
    assert got == {(1, 20, "a2", "silver")}


def test_cdf_capture_from_streaming_feed(spark, tmp_path):
    """The CDF producer runs inside foreachBatch: a streaming CDC feed
    maintains the table AND emits its change feed per micro-batch —
    the full produce-side streaming shape."""
    import json

    from pyspark.sql import types as T

    feed = tmp_path / "sfeed"
    feed.mkdir()
    batches = [[(1, "a"), (2, "b")], [(2, "b2"), (3, "c")]]
    for i, rows in enumerate(batches):
        with open(feed / f"b{i}.json", "w") as f:
            for rid, v in rows:
                f.write(json.dumps({"id": rid, "v": v, "ver": i}) + "\n")
    cdf = ChangeCapturingMergeTable(
        ParquetMergeTable(
            spark, str(tmp_path / "t"), ["id"], version_col="ver", num_buckets=4
        )
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(feed))
    )
    q = (
        stream.writeStream.foreachBatch(lambda b, _i: cdf.merge(b))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = {(r._change_type, r.id, r.v) for r in cdf.read_changes().collect()}
    # version LWW makes the net changes order-independent: whichever
    # batch lands first, id 2 ends at (ver=1, "b2") and the feed records
    # its arrival at ver 1 as either insert-then-update or insert-only
    # (plus a silent stale no-op) — assert the invariant parts.
    assert ("insert", 1, "a") in ops
    assert ("insert", 3, "c") in ops
    assert any(t == ("update", 2, "b2") or t == ("insert", 2, "b2") for t in ops)
    final = {(r.id, r.v) for r in cdf.read().collect()}
    assert final == {(1, "a"), (2, "b2"), (3, "c")}


def test_cdf_schema_evolution_merge(spark, tmp_path):
    """A widening merge still diffs cleanly: the pre-image is aligned
    with NULL for the new column, so rows gaining a value there emit as
    updates."""
    cdf = _mk(spark, tmp_path)
    cdf.merge(spark.createDataFrame([(1, "a")], "id long, v string"))
    cdf.table.merge(
        spark.createDataFrame([(9, "x", 1)], "id long, v string, extra long"),
        allow_schema_evolution=True,
    )
    # now capture a change that sets `extra` on row 1
    cdf.merge(
        spark.createDataFrame([(1, "a", 7)], "id long, v string, extra long"),
        allow_schema_evolution=True,
    )
    rows = {
        (r._change_type, r.id, r.extra)
        for r in cdf.read_changes(since_seq=0).collect()
    }
    assert ("update", 1, 7) in rows


def test_cdf_feed_survives_delete_all_then_reload(spark, tmp_path):
    """Delete-all routes the next merge through the table's overwrite
    recovery path; the feed lives in a sibling dir, so history and the
    sequence survive."""
    cdf = _mk(spark, tmp_path)
    cdf.merge(spark.createDataFrame([(1, "a")], "id long, v string"))
    cdf.delete(spark.createDataFrame([(1,)], "id long"))
    cdf.merge(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert _changes(cdf) == {
        (0, "insert", 1, "a"),
        (1, "delete", 1, "a"),
        (2, "insert", 2, "b"),
    }


def test_cdf_noop_first_capture_keeps_feed_readable(spark, tmp_path):
    """A zero-row first capture (idempotent retry) must not brick
    read_changes — and later real changes start at seq 0."""
    plain = ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    plain.merge(spark.createDataFrame([(1, "a")], "id long, v string"))
    cdf = ChangeCapturingMergeTable(plain)
    cdf.merge(spark.createDataFrame([(1, "a")], "id long, v string"))  # no-op
    assert cdf.read_changes().collect() == []
    cdf.merge(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert _changes(cdf) == {(0, "insert", 2, "b")}


def test_cdf_time_travel_read_as_of(spark, tmp_path):
    """read_as_of(seq) must equal the table state right after commit
    seq, at EVERY commit boundary of an insert → update → delete →
    reinsert history, and equal read() at the head."""
    cdf = _mk(spark, tmp_path)
    cdf.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )  # seq 0
    cdf.merge(spark.createDataFrame([(1, "a2")], "id long, v string"))  # seq 1
    cdf.delete(spark.createDataFrame([(2,)], "id long"))  # seq 2
    cdf.merge(spark.createDataFrame([(2, "b2")], "id long, v string"))  # seq 3

    def state(seq):
        return {(r.id, r.v) for r in cdf.read_as_of(seq).collect()}

    assert state(-1) == set()  # before history
    assert state(0) == {(1, "a"), (2, "b")}
    assert state(1) == {(1, "a2"), (2, "b")}
    assert state(2) == {(1, "a2")}  # delete visible
    assert state(3) == {(1, "a2"), (2, "b2")}  # reinsert
    assert state(99) == {(r.id, r.v) for r in cdf.read().collect()}


def test_cdf_checkpoint_feed(spark, tmp_path):
    """checkpoint_feed(S) compacts seqs <= S into one snapshot
    partition while keeping every still-answerable read bit-identical:
    as-of at/after the boundary, true deltas from it, the -1 bootstrap
    replay — and pre-boundary reads raise (Delta's earliest-retained-
    version contract)."""
    import pytest

    cdf = _mk(spark, tmp_path)
    cdf.merge(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    )  # seq 0
    cdf.merge(spark.createDataFrame([(1, "a2")], "id long, v string"))  # seq 1
    cdf.delete(spark.createDataFrame([(2,)], "id long"))  # seq 2
    cdf.merge(spark.createDataFrame([(4, "d")], "id long, v string"))  # seq 3
    cdf.merge(spark.createDataFrame([(2, "b2")], "id long, v string"))  # seq 4

    def state(seq):
        return {(r.id, r.v) for r in cdf.read_as_of(seq).collect()}

    pre = {s: state(s) for s in (2, 3, 4)}
    deltas_after_2 = {
        (r._cdf_seq, r._change_type, r.id, r.v)
        for r in cdf.read_changes(2).collect()
    }

    cdf.checkpoint_feed(2)

    assert cdf.min_seq() == 2
    assert sorted(cdf._seq_dirs()) == [2, 3, 4]
    # snapshot partition holds the as-of-2 state as insert images
    snap = {
        (r._change_type, r.id, r.v)
        for r in cdf.read_changes(-1).filter(F.col("_cdf_seq") == 2).collect()
    }
    assert snap == {("insert", 1, "a2"), ("insert", 3, "c")}  # 2 deleted
    # still-answerable reads are identical
    for s in (2, 3, 4):
        assert state(s) == pre[s], f"as-of {s} changed"
    assert {
        (r._cdf_seq, r._change_type, r.id, r.v)
        for r in cdf.read_changes(2).collect()
    } == deltas_after_2
    # bootstrap replay reconstructs the table
    replay = cdf.read_changes(-1)
    from airbnb_cdc_spark.operators.lookup import latest_per_key

    final = latest_per_key(replay, ["id"], "_cdf_seq").filter(
        F.col("_change_type") != "delete"
    )
    assert {(r.id, r.v) for r in final.collect()} == {
        (r.id, r.v) for r in cdf.read().collect()
    }
    # pre-boundary history is gone — and says so
    with pytest.raises(ValueError):
        cdf.read_as_of(1)
    with pytest.raises(ValueError):
        cdf.read_changes(0)
    # the feed keeps working after the checkpoint
    cdf.merge(spark.createDataFrame([(5, "e")], "id long, v string"))  # seq 5
    assert state(5) == pre[4] | {(5, "e")}
    # and a second checkpoint on top of the first is fine
    cdf.checkpoint_feed(4)
    assert cdf.min_seq() == 4
    assert state(5) == pre[4] | {(5, "e")}
    with pytest.raises(ValueError):
        cdf.checkpoint_feed(3)


def test_cdf_read_changes_rejects_below_bootstrap(spark, tmp_path):
    """since_seq <= -2 must raise, not silently alias the -1 bootstrap
    read (after a checkpoint that would return snapshot IMAGES where
    the caller asked for deltas). Regression for the r9 advice guard
    gap (`-1 < since_seq < ms` let -2 slip through)."""
    import pytest

    cdf = _mk(spark, tmp_path)
    cdf.merge(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="since_seq"):
        cdf.read_changes(-2)


def test_cdf_checkpoint_crash_mid_swap_is_recoverable(spark, tmp_path, monkeypatch):
    """Simulate a crash at the worst point of checkpoint_feed's
    directory swap: after feed -> __old but before tmp -> feed. The
    boundary sidecar must already be staged INSIDE tmp (it travels
    atomically with the swap — no window where the snapshot is live but
    min_seq() reads 0), so rolling FORWARD (rename tmp -> feed, the
    documented manual recovery: by this point tmp IS the complete
    rebuilt feed) restores every still-answerable read with the correct
    boundary."""
    import pytest

    from airbnb_cdc_spark.operators import merge as merge_mod

    cdf = _mk(spark, tmp_path)
    cdf.merge(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    )  # seq 0
    cdf.merge(spark.createDataFrame([(1, "a2")], "id long, v string"))  # seq 1
    cdf.merge(spark.createDataFrame([(4, "d")], "id long, v string"))  # seq 2
    cdf.merge(spark.createDataFrame([(5, "e")], "id long, v string"))  # seq 3
    pre_state_1 = {(r.id, r.v) for r in cdf.read_as_of(1).collect()}
    pre_deltas_1 = _changes(cdf, since=1)

    real = merge_mod._rename_or_raise
    feed_root = cdf.changes_path.rstrip("/").split("/")[-1]

    def crashing(fs, src, dst):
        # crash on the tmp -> feed rename (dst is the bare feed dir)
        if dst.getName() == feed_root and "__ckpt_" in src.getName():
            raise RuntimeError("simulated crash mid-swap")
        return real(fs, src, dst)

    monkeypatch.setattr(merge_mod, "_rename_or_raise", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cdf.checkpoint_feed(1)
    monkeypatch.setattr(merge_mod, "_rename_or_raise", real)

    import glob
    import json
    import os

    parent = os.path.dirname(cdf.changes_path)
    olds = glob.glob(os.path.join(parent, f"{feed_root}__old_*"))
    tmps = glob.glob(os.path.join(parent, f"{feed_root}__ckpt_*"))
    assert len(olds) == 1 and len(tmps) == 1
    assert not os.path.exists(cdf.changes_path)
    # meta was staged into tmp BEFORE the swap began — the boundary
    # travels with the rebuilt feed, never lagging behind it
    with open(os.path.join(tmps[0], "_feed_meta.json")) as f:
        assert json.load(f)["min_seq"] == 1
    # manual roll-forward: tmp is the complete rebuilt feed
    os.rename(tmps[0], cdf.changes_path)
    assert cdf.min_seq() == 1
    assert {(r.id, r.v) for r in cdf.read_as_of(1).collect()} == pre_state_1
    assert _changes(cdf, since=1) == pre_deltas_1
    # __old still holds the pre-boundary history for inspection
    assert os.path.isdir(olds[0])


def test_cdf_on_a_table_that_rebuckets_mid_feed(spark, tmp_path):
    """A default (self-sizing) table under capture: a wave touching all
    16 buckets re-sizes it (to 32 here, maxPartitionBytes and
    openCostInBytes lowered to a twentieth of its bytes), and the
    after-image is read back by the count the merge committed. Replaying
    the feed rebuilds the table exactly, and a stale re-emit against the
    re-bucketed table emits nothing."""
    cdf = ChangeCapturingMergeTable(
        ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], version_col="ver")
    )
    schema = "id long, v string, ver long"
    cdf.merge(spark.range(400).selectExpr("id", "CAST(id AS STRING) AS v", "1L AS ver"))
    entry = cdf.table._snapshot()
    assert entry["num_buckets"] == 16

    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, str(sum(entry["bytes"].values()) // 20))
    try:
        cdf.merge(spark.range(0, 400, 2).selectExpr("id", "'w' AS v", "2L AS ver"))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert cdf.table._snapshot()["num_buckets"] == 32
    assert len(cdf.read_changes(0).collect()) == 200  # all updates

    cdf.merge(spark.createDataFrame([(2, "stale", 1), (4, "stale", 1)], schema))
    assert cdf.read_changes(1).count() == 0
    cdf.delete(spark.createDataFrame([(1,), (2,), (999,)], "id long"))
    cdf.merge(spark.createDataFrame([(1, "back", 3), (500, "new", 1)], schema))

    replayed = ParquetMergeTable(
        spark, str(tmp_path / "replay"), ["id"], version_col="ver", num_buckets=4
    )
    feed = cdf.read_changes().collect()
    for seq in sorted({r._cdf_seq for r in feed}):
        batch = [r for r in feed if r._cdf_seq == seq]
        ups = [(r.id, r.v, r.ver) for r in batch if r._change_type != "delete"]
        dels = [(r.id,) for r in batch if r._change_type == "delete"]
        if ups:
            replayed.merge(spark.createDataFrame(ups, schema))
        if dels:
            replayed.delete(spark.createDataFrame(dels, "id long"))
    got = {tuple(r) for r in replayed.read().select("id", "v", "ver").collect()}
    want = {tuple(r) for r in cdf.read().select("id", "v", "ver").collect()}
    assert got == want
    assert len(want) == 400 and (1, "back", 3) in want and (2, "w", 2) not in want


def test_seq_dirs_py4j_calls_do_not_grow_with_feed_commits(spark, tmp_path, py4j_calls):
    """The feed's listing is printed once, not walked an element at a
    time through py4j (45 calls for 5 commits and 141 for 21 that way)."""
    counts = []
    for n in (5, 21):
        cdf = _mk(spark, tmp_path / f"t{n}")
        for k in range(n):
            part = tmp_path / f"t{n}" / "t__changes" / f"_cdf_seq={k}"
            part.mkdir(parents=True)
            (part / "part-0.parquet").write_bytes(b"")
        with py4j_calls() as c:
            seqs = cdf._seq_dirs()
        assert sorted(seqs) == list(range(n))
        counts.append(c["calls"])
    assert counts[1] <= counts[0], counts


def test_cdf_empty_wave_into_a_one_bucket_table_emits_nothing(spark, tmp_path):
    """A one-bucket table runs no probe, so an empty merge or delete
    commits its rows unchanged; the feed records no change for it."""
    cdf = ChangeCapturingMergeTable(
        ParquetMergeTable(spark, str(tmp_path / "t"), ["id"], num_buckets=1)
    )
    cdf.merge(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    version = cdf.table._snapshot()["version"]
    cdf.merge(spark.createDataFrame([], "id long, v string"))
    cdf.delete(spark.createDataFrame([], "id long"))
    assert cdf.table._snapshot()["version"] == version + 2
    assert _changes(cdf, since=0) == set()
    assert len(_changes(cdf)) == 2
