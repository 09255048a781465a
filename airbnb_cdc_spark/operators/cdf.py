"""Change data feed (CDF) for the keyed merge table: every merge/delete
emits its row-level changes to a feed downstream consumers read
incrementally — the output half of CDC (the reference only CONSUMES a
change feed; a complete warehouse also PRODUCES one, Delta's
``readChangeFeed`` / SQL Server CT being the commercial shapes).

Design: a wrapper over ``ParquetMergeTable`` — the verified merge core
stays untouched. Changes are computed by diffing the table's affected
keys before vs after the operation:

- key absent before, present after        → ``insert``
- present both, any column differs        → ``update`` (post-image)
- present both, rows identical            → no change row (stale or
  idempotent-retry updates stay silent — consumers see intent-level
  noise filtered out for free)
- delete of a present key                 → ``delete`` (pre-image)

Both diff reads are bucket-pruned to the operation's touched buckets
(the same pruning the merge itself uses), so CDF capture costs two
extra bucket-wave scans — proportional to the wave, not the table.

The feed lives at ``<table>__changes/_cdf_seq=K/`` — a SIBLING of the
table dir, not inside it: the table dir is the merge table's commit-log
namespace (``_log`` and the bucket directories its GC deletes once no
entry names them), and the feed keeps a lifecycle of its own —
``checkpoint_feed`` swaps the feed's whole directory.
``_cdf_seq`` is a per-operation commit sequence (monotone, driver-side
listing of ≤ #commits dirs; single-writer, like the table itself).
Rows carry the full image plus ``_change_type``; replaying the feed in
sequence order onto an empty table reconstructs the table exactly
(tested, including across delete-all + reload).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.merge import (
    BUCKET_COL,
    ParquetMergeTable,
    _fs,
    _listing,
    _schema_of,
)

SEQ_COL = "_cdf_seq"
TYPE_COL = "_change_type"


class ChangeCapturingMergeTable:
    """``ParquetMergeTable`` + change-data-feed emission."""

    def __init__(self, table: ParquetMergeTable) -> None:
        self.table = table
        self.spark = table.spark
        self.changes_path = f"{table.path}__changes"

    # -- feed bookkeeping --------------------------------------------------

    def _seq_dirs(self) -> list[int]:
        """The feed's commit sequence numbers, from one printed listing."""
        listing = _listing(self.spark, self.changes_path)
        names = (path.rsplit("/", 1)[1] for path, _, _ in listing)
        return [int(n.split("=", 1)[1]) for n in names if n.startswith(f"{SEQ_COL}=")]

    def _next_seq(self) -> int:
        seqs = self._seq_dirs()
        return max(seqs) + 1 if seqs else 0

    def _feed_meta_path(self) -> str:
        return f"{self.changes_path}/_feed_meta.json"

    def min_seq(self) -> int:
        """Earliest sequence still individually reconstructable: 0 for
        a never-checkpointed feed, else the checkpoint boundary."""
        import json

        fs, _ = _fs(self.spark, self.changes_path)
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        p = Path(self._feed_meta_path())
        if not fs.exists(p):
            return 0
        stream = fs.open(p)
        try:
            data = bytes(
                self.spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(
                    stream
                )
            )
        finally:
            stream.close()
        return int(json.loads(data.decode("utf-8"))["min_seq"])

    def _save_feed_meta(self, min_seq: int, into_dir: str | None = None) -> None:
        """Write the boundary sidecar. ``into_dir`` lets
        ``checkpoint_feed`` stage the meta INSIDE the rebuilt tmp feed
        so boundary metadata travels atomically with the directory
        swap (a rename moves the sidecar and the snapshot together)."""
        import json

        fs, _ = _fs(self.spark, self.changes_path)
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        target = (
            f"{into_dir}/_feed_meta.json"
            if into_dir is not None
            else self._feed_meta_path()
        )
        out = fs.create(Path(target), True)
        try:
            out.write(bytearray(json.dumps({"min_seq": min_seq}), "utf-8"))
        finally:
            out.close()

    def _affected(self, keys_df: DataFrame) -> DataFrame | None:
        """Current rows for the given keys, bucket-pruned like merge;
        None for a table never committed."""
        table = self.table
        entry = table._snapshot()
        if entry is None:
            return None
        # _conform: keys of another integral width would hash to other
        # buckets than the ones the merge rewrites
        keyed = table._conform(keys_df.select(*table.keys), entry).dropDuplicates(
            table.keys
        )
        # routed by the entry's bucket count: a merge that re-buckets the
        # table is read back with the count it committed
        return (
            table._scan(entry, table._touched(entry, keyed))
            .drop(BUCKET_COL)
            .join(F.broadcast(keyed), table.keys, "leftsemi")
        )

    def _emit(self, changes: DataFrame) -> None:
        seq = self._next_seq()
        (
            changes.withColumn(SEQ_COL, F.lit(seq))
            .write.partitionBy(SEQ_COL)
            .mode("append")
            .parquet(self.changes_path)
        )

    # -- captured operations ----------------------------------------------

    def merge(self, updates: DataFrame, allow_schema_evolution: bool = False) -> None:
        keys = self.table.keys
        before = self._affected(updates)
        if before is not None:
            # localCheckpoint: the diff must see the PRE-merge state, and
            # lazy plans re-read the table files after the swap.
            before = before.localCheckpoint(eager=True)
        self.table.merge(updates, allow_schema_evolution=allow_schema_evolution)
        after = self._affected(updates)
        if before is None:
            self._emit(after.withColumn(TYPE_COL, F.lit("insert")))
            return
        # Schema evolution: a widening merge makes `after` carry columns
        # `before` never had — align the pre-image with NULLs so the
        # struct compare is well-typed (a value appearing in a new
        # column then correctly reads as an update).
        for c in after.columns:
            if c not in before.columns:
                before = before.withColumn(
                    c, F.lit(None).cast(after.schema[c].dataType)
                )
        cols = after.columns
        b = before.select(
            *keys, F.struct(*[c for c in cols if c not in keys]).alias("__b")
        )
        a = after.select(
            *keys, F.struct(*[c for c in cols if c not in keys]).alias("__a")
        )
        diff = a.join(b, keys, "left")
        # eqNullSafe: plain struct != returns NULL when a field is NULL
        # on either side, silently dropping value→NULL transitions.
        changed = diff.filter(
            ~F.col("__a").eqNullSafe(F.col("__b"))
        ).select(
            *keys,
            F.col("__a.*"),
            F.when(F.col("__b").isNull(), F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias(TYPE_COL),
        )
        self._emit(changed)

    def delete(self, keys_df: DataFrame) -> None:
        before = self._affected(keys_df)
        if before is not None:
            pre = before.localCheckpoint(eager=True)
            self.table.delete(keys_df)
            self._emit(pre.withColumn(TYPE_COL, F.lit("delete")))

    # -- consumption -------------------------------------------------------

    def checkpoint_feed(self, upto_seq: int) -> None:
        """Compact the feed's history prefix — Delta's checkpoint +
        VACUUM in one move: every ``_cdf_seq <= upto_seq`` partition is
        replaced by ONE snapshot partition at ``upto_seq`` holding the
        as-of state as full ``insert`` images. A feed otherwise grows
        one directory per commit forever (the listing, not the data,
        becomes the cost at 100 TB-scale commit counts); after a
        checkpoint the retained layout is snapshot + tail.

        Exactness is preserved for everything still answerable:
        ``read_as_of(seq >= upto_seq)`` returns bit-identical results
        (latest-change-per-key over snapshot ∪ tail — a key deleted
        before the boundary is absent from the snapshot, a later
        re-insert wins over it), ``read_changes(since >= upto_seq)``
        still returns true deltas, and the -1 bootstrap replay
        reconstructs the table from the snapshot forward. History
        STRICTLY BEFORE the boundary is gone — those reads now raise
        (``min_seq()`` reports the boundary), exactly Delta's
        earliest-retained-version contract.

        Single-writer, like every write on this table. The swap is two
        directory renames (feed → __old, rebuilt tmp → feed) around
        metadata-only moves of the tail partitions; a crash inside the
        window leaves ``__old`` intact for manual recovery — the same
        non-atomicity class as the table's own overwrite, documented
        rather than hidden (a transactional log is exactly what Delta
        adds over parquet; this shim keeps parquet semantics)."""
        import uuid as _uuid

        seqs = sorted(self._seq_dirs())
        if not seqs:
            raise ValueError("cannot checkpoint an empty feed")
        if upto_seq < self.min_seq():
            raise ValueError(
                f"feed history before seq {self.min_seq()} is already "
                f"checkpointed away; got upto_seq={upto_seq}"
            )
        snap = (
            self.read_as_of(upto_seq)
            .withColumn(TYPE_COL, F.lit("insert"))
            .withColumn(SEQ_COL, F.lit(upto_seq))
        )
        tmp = f"{self.changes_path}__ckpt_{_uuid.uuid4().hex[:8]}"
        snap.write.partitionBy(SEQ_COL).mode("overwrite").parquet(tmp)

        fs, jfeed = _fs(self.spark, self.changes_path)
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        from airbnb_cdc_spark.operators.merge import _rename_or_raise

        # Tail partitions move by rename (metadata ops, no data copy).
        for k in seqs:
            if k > upto_seq:
                _rename_or_raise(
                    fs,
                    Path(f"{self.changes_path}/{SEQ_COL}={k}"),
                    Path(f"{tmp}/{SEQ_COL}={k}"),
                )
        # The boundary sidecar is staged INTO the rebuilt tmp dir so it
        # travels atomically with the tmp -> feed rename: there is no
        # window where the new snapshot is live but min_seq() still
        # reads 0 (which would let read_as_of(seq < boundary) silently
        # return the filtered-down snapshot instead of raising). The
        # delete of __old is the LAST step — a crash anywhere before it
        # really does leave __old intact for manual recovery.
        self._save_feed_meta(upto_seq, into_dir=tmp)
        old = Path(f"{self.changes_path}__old_{_uuid.uuid4().hex[:8]}")
        _rename_or_raise(fs, jfeed, old)
        _rename_or_raise(fs, Path(tmp), jfeed)
        fs.delete(old, True)

    def read_changes(self, since_seq: int = -1) -> DataFrame:
        """All change rows with ``_cdf_seq`` > ``since_seq`` — the
        incremental consumer contract (remember the max seq you saw,
        pass it back next poll; seq partition pruning makes the read
        proportional to the unseen tail).

        After a ``checkpoint_feed``: ``since_seq = -1`` is the
        BOOTSTRAP read (snapshot images + tail — replaying it
        reconstructs the table, but rows at the boundary are state
        images, not the original deltas); ``since_seq >= min_seq()``
        returns true deltas; anything between raises — that slice of
        per-commit history no longer exists."""
        if since_seq < -1:
            # -2 and below would otherwise alias the -1 bootstrap read
            # (filter seq > since_seq passes everything) — after a
            # checkpoint that silently returns snapshot IMAGES where
            # the caller asked for deltas. Only -1 means bootstrap.
            raise ValueError(
                f"since_seq must be >= -1 (-1 = bootstrap); got {since_seq}"
            )
        ms = self.min_seq()
        if -1 < since_seq < ms:
            raise ValueError(
                f"feed history before seq {ms} was checkpointed away; "
                f"pass since_seq >= {ms} (true deltas) or -1 (bootstrap)"
            )
        # A zero-row _emit (idempotent retry, delete of absent keys)
        # leaves the feed dir with no seq partitions — same as no feed.
        if not self._seq_dirs():
            entry = self.table._snapshot()
            if entry is None:
                raise ValueError("no change feed and no committed table")
            empty = self.spark.createDataFrame([], _schema_of(entry))
            return empty.withColumn(TYPE_COL, F.lit("")).withColumn(
                SEQ_COL, F.lit(0)
            ).limit(0)
        return (
            self.spark.read.option("basePath", self.changes_path)
            # mergeSchema: feed partitions written before a widening
            # merge lack the evolved columns; reconcile like the table
            # itself does (pre-evolution change rows read NULL there).
            .option("mergeSchema", "true")
            .parquet(self.changes_path)
            .filter(F.col(SEQ_COL) > since_seq)
        )

    def read(self) -> DataFrame:
        return self.table.read()

    def read_as_of(self, seq: int) -> DataFrame:
        """Time travel (Delta's ``VERSION AS OF``, on the parquet
        shim): the table state immediately AFTER commit ``seq``,
        reconstructed from the change feed alone — each key's latest
        change row at ``_cdf_seq <= seq`` is its state (post-image for
        insert/update; a latest-is-delete key is absent), because every
        commit emits full images and idempotent/stale operations emit
        nothing.

        Reads prune to the ``_cdf_seq`` partitions at or below ``seq``
        (partition filter on the feed layout), so the cost tracks the
        requested history prefix, not the full feed. ``seq`` below the
        first commit returns the empty table with the current schema.
        Columns added by later schema evolution read NULL, exactly as
        the evolved table reads its own pre-evolution rows. After a
        ``checkpoint_feed``, versions before the boundary raise — that
        history was compacted into the snapshot."""
        ms = self.min_seq()
        if ms > 0 and seq < ms:
            raise ValueError(
                f"version {seq} predates the checkpoint boundary {ms} — "
                "history before it was compacted away (Delta's "
                "earliest-retained-version contract)"
            )
        changes = self.read_changes(-1).filter(F.col(SEQ_COL) <= seq)
        from airbnb_cdc_spark.operators.lookup import latest_per_key

        # within one commit a key appears at most once (merge dedups
        # per key), so SEQ_COL alone is a total per-key order
        latest = latest_per_key(changes, list(self.table.keys), SEQ_COL)
        return latest.filter(F.col(TYPE_COL) != "delete").drop(TYPE_COL, SEQ_COL)
