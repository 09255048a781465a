"""MERGE / upsert executor over bucket-partitioned parquet tables.

This is the one reference capability with no direct Spark built-in
(SURVEY.md §4 "Upsert write paths"): the Copy activity's
``writeBehavior: 'Upsert'`` keyed on ``customer_id``
(``pipeline/New_LoadCustomerDim.json:83-92``) and the dataflow sink's
``insertable/updateable`` keyed on ``booking_id``
(``dataflow/New_BookingTransformation.json:169-173``). With Delta/Iceberg
on the cluster you'd call ``MERGE INTO``; this shim provides the same
keyed-upsert semantics on plain parquet.

Design for 100 TB:
- The table is hash-bucketed on the merge key
  (``_bucket = pmod(xxhash64(key), n)``) and stored as one partition
  directory per bucket. A merge touching K distinct keys reads and
  rewrites ONLY the buckets those keys hash to — partition pruning makes
  merge cost proportional to the touched buckets' bytes, not the table
  size, which is the same file-skipping idea Delta's MERGE uses. A wave
  whose keys spread over every bucket rewrites the whole table.
- The table sizes its bucket count ``n`` to its bytes and records it in
  the log entry, which is where every write's routing reads it. A first
  commit uses 16 buckets, so a large first load never funnels into one
  task. A write that replaces every live bucket (``overwrite``,
  ``compact``, a merge, delete or SCD2 merge whose wave touches them
  all) rewrites the whole table anyway, so it re-picks ``n`` with
  ``suggest_num_buckets`` from the larger of the bytes the current entry
  records and the bytes of the files its input scans: one bucket for a
  table smaller than one ``spark.sql.files.openCostInBytes``, else at
  least 16, and one ``spark.sql.files.maxPartitionBytes`` of parquet per
  bucket once that asks for more. Any other write keeps the entry's
  ``n``. A handle built with ``num_buckets`` pins the count and never
  re-buckets.
- A merge writes in one job. A table of several buckets first runs the
  probe, a distinct over the update keys' bucket ids naming the touched
  buckets, and clusters their stored rows with the update rows by one
  repartition on ``_bucket``, the merge's one shuffle. A one-bucket
  table needs neither: the probe could only answer bucket 0, and
  ``coalesce(1)`` is already one partition. One ``row_number`` window
  per key then picks each key's survivor, and the same partitioning
  feeds the bucket-partitioned write, so each touched bucket is written
  as one file.
- ``read`` of a table smaller than one ``spark.sql.files.openCostInBytes``
  (the one-bucket size; Spark plans a file that small as one split
  anyway) is ``coalesce(1)``, which Catalyst knows is one partition, so
  a refresh that joins and aggregates small tables plans no exchange
  beside its broadcasts. A merge's own scan is clustered after the
  union anyway and is left alone.
- Every change commits through one log, the metadata log Structured
  Streaming uses for exactly-once file sinks and the shape of Delta's
  ``_delta_log``. Data only ever lands in new directories
  ``<table>/_bucket=b/_c=<commit id>/``, which no reader sees until a
  log entry names them. The commit is the creation of
  ``<table>/_log/<N>.json``, holding ``num_buckets``, the schema and
  each bucket's live directory; readers take the largest ``N``. After
  the commit, GC deletes the directories and log entries the new entry
  no longer names. A crash at any step leaves the table reading as
  exactly the state before or after the operation (the merge never
  reads its own output, SURVEY.md §7 "what's hard" (a)), and the next
  commit's GC removes whatever the crash left behind.
- The entry is written under a temp name inside ``_log`` and renamed,
  and a writer that finds ``N`` taken raises (one writer per table), so
  the protocol rests on one small file's create-if-absent. The Hadoop
  FileSystem API gives that on HDFS and local disks. On S3, where rename
  is a copy, the entry needs the store's conditional put (Delta's S3
  log store does the same); the data path never renames.

Semantics: MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
INSERT * — whole-row replace on key equality. With ``version_col`` set,
last-writer-wins holds both *within* a batch (dedup to the max version)
and *across* batches (an update older than the stored row is discarded;
ties go to the update) — so out-of-order CDC arrivals are absorbed
without watermarks, exactly the reference's ``desc(updated_at)`` stance.
Without ``version_col``, updates unconditionally replace matched rows.

Types: the log entry's schema decides. Incoming keys and columns are
cast to the stored type when every value survives the cast
(``int``→``bigint``); any other mismatch raises before a job runs. A key
of another type would hash to another bucket and insert a duplicate; a
column of another type would leave files the table cannot read.
"""

from __future__ import annotations

import json
import re
import uuid
from collections.abc import Sequence
from types import SimpleNamespace

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbnb_cdc_spark.operators.lookup import latest_per_key
from airbnb_cdc_spark.session import _batch_bytes, _byte_conf, _scan_bytes, sql_ident

BUCKET_COL = "_bucket"
COMMIT_COL = "_c"
LOG_DIR = "_log"

FIRST_BUCKETS = 16
MAX_BUCKETS = 65536

# One status of a Hadoop FileStatus array printed by commons-lang3's
# ArrayUtils.toString: "{...Status{path=file:/t/_log/2.json;
# isDirectory=false; length=517; ...},...}". The path runs up to the
# "; isDirectory=" that follows it, so no match runs into the next status.
_STATUS = re.compile(
    r"path=((?:[^;]|;(?! isDirectory=))*); isDirectory=(true|false)"
    r"(?:; length=(\d+))?"
)
_DATA_DIR = re.compile(rf"/({BUCKET_COL}=(\d+)/{COMMIT_COL}=([^/]+))$")
_ENTRY = re.compile(r"(\d+)\.json")
_GLOB_CHARS = re.compile(r"([{}\[\]*?\\])")

# Decimal digits each integral type needs (Spark's DecimalType.forType).
_DIGITS = {T.ByteType: 3, T.ShortType: 5, T.IntegerType: 10, T.LongType: 20}


def suggest_num_buckets(table_bytes: int, split_bytes: int, small_bytes: int) -> int:
    """The bucket count for ``table_bytes`` of parquet. A table smaller
    than ``small_bytes`` is one bucket (the table passes
    ``spark.sql.files.openCostInBytes``, the bytes Spark reckons a file
    open costs): a wave touching every bucket writes one file instead of
    sixteen, while a one-key wave rewrites the whole table instead of a
    sixteenth (SCALE.md has both measured). A larger table keeps at
    least 16 buckets, so a wave touching few keys rewrites no more of it
    than a fixed 16 would; past
    16 splits it takes ``ceil(bytes / split_bytes)`` (the table passes
    ``spark.sql.files.maxPartitionBytes``, one scan split per bucket)
    rounded up to a power of two, clamped to 65,536."""
    if table_bytes < small_bytes:
        return 1
    want = -(-table_bytes // split_bytes)
    return min(MAX_BUCKETS, max(FIRST_BUCKETS, 1 << (want - 1).bit_length()))


def _open_cost(spark: SparkSession) -> int:
    return _byte_conf(spark, "spark.sql.files.openCostInBytes", 4 * 1024**2)


def _clustered(df: DataFrame, num_buckets: int) -> DataFrame:
    """``df`` in one partition per bucket: ``coalesce(1)`` for one bucket
    (no exchange), else a hash repartition on ``_bucket``."""
    return df.coalesce(1) if num_buckets == 1 else df.repartition(BUCKET_COL)


def merge_dataframes(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str | None = None,
) -> DataFrame:
    """Pure-DataFrame MERGE semantics (no write): updates win on key,
    unmatched existing rows kept — the anti-join + union rewrite of
    WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT."""
    if version_col is not None:
        updates = latest_per_key(updates, keys, version_col)
    else:
        # in-batch duplicate keys would BOTH survive the union — dedup
        # deterministically (dropDuplicates keeps whichever row a
        # partitioning happens to deliver first, breaking the repo's
        # bit-determinism contract)
        updates = dedup_keys_deterministic(updates, keys)
    kept = existing.join(updates.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(updates.select(kept.columns))


def dedup_keys_deterministic(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """One row per key with a partitioning-independent survivor: the
    max over the whole-row struct of non-key columns (Spark's struct
    ordering is total, so the winner is a pure function of the data —
    unlike ``dropDuplicates``, whose keeper depends on which partition
    delivers first). Used wherever a merge receives duplicate in-batch
    keys WITHOUT a version column to arbitrate them."""
    others = [c for c in df.columns if c not in keys]
    if not others:
        return df.dropDuplicates(list(keys))  # rows are identical
    packed = df.groupBy(*keys).agg(F.max(F.struct(*others)).alias("__row"))
    return packed.select(
        *[
            F.col("__row").getField(c).alias(c) if c in others else F.col(c)
            for c in df.columns
        ]
    )


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _statuses(printed: str) -> list[tuple[str, bool, int]]:
    """(path, is a directory, length) of each status in a printed
    FileStatus array. ``FileStatus.toString`` prints its fields, so no
    file's permissions are loaded (on a local file system without
    Hadoop's native library, that load forks)."""
    return [(p, d == "true", int(n or 0)) for p, d, n in _STATUS.findall(printed)]


def _listing(spark: SparkSession, path: str) -> list[tuple[str, bool, int]]:
    """``_statuses`` of ``path``'s children (none when ``path`` does not
    exist), printed as one Java array: a fixed number of py4j round trips
    however many children it has, where walking the array costs several
    per child."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return _statuses(
        spark._jvm.org.apache.commons.lang3.ArrayUtils.toString(fs.listStatus(jpath))
    )


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop FileSystem.rename reports most failures by returning
    FALSE, not raising — an unchecked call turns a failed swap into
    silent data loss (the pre-swap copy is already deleted). Every
    rename in the write paths goes through this guard."""
    if not fs.rename(src, dst):
        raise IOError(f"filesystem rename failed: {src} -> {dst}")


def _schema_of(entry: dict) -> T.StructType:
    return T.StructType.fromJson(entry["schema"])


def _widens(src: T.DataType, dst: T.DataType) -> bool:
    """True when every ``src`` value has an exact ``dst`` value."""
    if isinstance(src, T.NullType):
        return True
    digits = _DIGITS.get(type(src))
    if digits is not None:
        if type(dst) in _DIGITS:
            return digits <= _DIGITS[type(dst)]
        if isinstance(dst, T.DecimalType):
            return dst.precision - dst.scale >= digits
        # 53-bit and 24-bit mantissas: int fits a double, short a float
        return digits <= {T.DoubleType: 10, T.FloatType: 5}.get(type(dst), 0)
    if isinstance(src, T.FloatType):
        return isinstance(dst, T.DoubleType)
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
    return False


class ParquetMergeTable:
    """A keyed, hash-bucketed parquet table supporting MERGE-style upsert.

    ``num_buckets=None`` (the default) lets the table size its bucket
    count to its bytes; an int pins it, and a pinned handle refuses a
    table committed with another count."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        version_col: str | None = None,
        num_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)
        self.version_col = version_col
        self.num_buckets = num_buckets
        self._hadoop_io = None

    # -- storage helpers ---------------------------------------------------

    def _bucket_sql(self, num_buckets: int) -> str:
        keys = ", ".join(map(sql_ident, self.keys))
        return f"CAST(pmod(xxhash64({keys}), {num_buckets}) AS INT)"

    def _bucketed(self, df: DataFrame, num_buckets: int) -> DataFrame:
        """``df`` with ``_bucket`` computed from the key, one partition
        per bucket."""
        return _clustered(
            df.selectExpr(
                *(sql_ident(c) for c in df.columns if c != BUCKET_COL),
                f"{self._bucket_sql(num_buckets)} AS {BUCKET_COL}",
            ),
            num_buckets,
        )

    def _resized(self, entry: dict | None, df: DataFrame | None = None) -> int:
        """The bucket count of a write that replaces the whole table
        after ``entry`` with rows drawn from ``df``: the pinned count;
        else 16 for a first commit; else sized to the larger of the bytes
        ``entry`` records and the bytes ``df`` reads (its files, or for a
        streaming micro-batch the file bytes its relation carries), so an
        input far larger than the table never funnels into its count."""
        if self.num_buckets is not None:
            return self.num_buckets
        if entry is None:
            return FIRST_BUCKETS
        stored = sum(entry["bytes"].values())
        incoming = 0 if df is None else _scan_bytes(df) or _batch_bytes(df) or 0
        return suggest_num_buckets(
            max(stored, incoming),
            _byte_conf(self.spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2),
            _open_cost(self.spark),
        )

    def _touched(self, entry: dict, keys: DataFrame) -> set[int]:
        """The buckets the rows of ``keys`` hash to. In a one-bucket
        table that is bucket 0, known without a job (an empty ``keys``
        included); any other table runs the probe, a distinct over the
        keys' bucket ids (at most ``num_buckets`` ints) collected to the
        driver. A key's bucket depends only on the key, so raw (not yet
        deduplicated) keys touch the same buckets."""
        if entry["num_buckets"] == 1:
            return {0}
        bucket = self._bucket_sql(entry["num_buckets"])
        return {
            r[0]
            for r in keys.selectExpr(f"{bucket} AS {BUCKET_COL}").distinct().collect()
        }

    def _plan_write(
        self, entry: dict, touched: set[int], df: DataFrame | None = None
    ) -> tuple[set[int] | None, int]:
        """(the buckets a write over ``touched`` replaces, the count it
        writes). A write touching every live bucket replaces the table
        (None) and may re-size it, ``df`` being its input; any other
        keeps the entry's count."""
        if touched >= {int(b) for b in entry["buckets"]}:
            return None, self._resized(entry, df)
        return touched, entry["num_buckets"]

    def _hadoop(self) -> SimpleNamespace:
        """The table's FileSystem and the JVM classes the log uses,
        resolved once per handle: through py4j every segment of a class
        lookup (``jvm.org.apache...``) is a round trip."""
        if self._hadoop_io is None:
            client = self.spark._jvm._gateway_client
            self._hadoop_io = SimpleNamespace(
                fs=_fs(self.spark, self.path)[0],
                Path=JavaClass("org.apache.hadoop.fs.Path", client),
                ArrayUtils=JavaClass("org.apache.commons.lang3.ArrayUtils", client),
                IOUtils=JavaClass("org.apache.hadoop.io.IOUtils", client),
            )
        return self._hadoop_io

    def _glob(self, pattern: str) -> list[tuple[str, bool, int]]:
        """``_statuses`` of the paths matching ``pattern`` under the
        table root, printed as one Java array: a fixed number of py4j
        round trips however many paths match."""
        j = self._hadoop()
        root = _GLOB_CHARS.sub(r"\\\1", self.path)
        return _statuses(
            j.ArrayUtils.toString(j.fs.globStatus(j.Path(f"{root}/{pattern}")))
        )

    def _log_files(self) -> list[str]:
        return [p.rsplit("/", 1)[1] for p, _, _ in self._glob(f"{LOG_DIR}/*")]

    def _snapshot(self) -> dict | None:
        """The newest log entry; None for a table never committed."""
        versions = [
            int(m[1]) for m in map(_ENTRY.fullmatch, self._log_files()) if m
        ]
        if not versions:
            if self._glob(f"{BUCKET_COL}=*/*.parquet"):
                raise ValueError(
                    f"{self.path} holds bucket files but no {LOG_DIR}/ commit "
                    "log; it is not a merge table this code can read or write"
                )
            return None
        j = self._hadoop()
        stream = j.fs.open(j.Path(f"{self.path}/{LOG_DIR}/{max(versions)}.json"))
        try:
            data = bytes(j.IOUtils.readFullyToByteArray(stream))
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))

    def exists(self) -> bool:
        return self._snapshot() is not None

    def _conform(self, df: DataFrame, entry: dict) -> DataFrame:
        """``df`` checked against the committed table before any job
        runs: a pinned bucket count must be the table's, and each
        column the table stores is cast to the stored type when no value
        changes; any other type mismatch raises, naming the column."""
        if self.num_buckets not in (None, entry["num_buckets"]):
            raise ValueError(
                f"table at {self.path} was created with num_buckets="
                f"{entry['num_buckets']}; this handle has {self.num_buckets} "
                "— a merge would route existing keys to unread buckets and "
                "insert duplicates (run compact() via a correctly-configured "
                "handle to change the bucket count)"
            )
        stored = {f.name.lower(): f.dataType for f in _schema_of(entry).fields}
        cols, cast = [], False
        for f in df.schema.fields:
            want = stored.get(f.name.lower())
            name = sql_ident(f.name)
            if want is None or want.simpleString() == f.dataType.simpleString():
                cols.append(name)
            elif _widens(f.dataType, want):
                cols.append(f"CAST({name} AS {want.simpleString()}) AS {name}")
                cast = True
            else:
                raise ValueError(
                    f"column {f.name!r} is {f.dataType.simpleString()} but the "
                    f"table at {self.path} stores {want.simpleString()}; cast "
                    "it first (only casts that lose no value are applied)"
                )
        return df.selectExpr(*cols) if cast else df

    def _scan(self, entry: dict, buckets: set[int] | None = None) -> DataFrame:
        """The committed rows of ``buckets`` (all when None), with
        ``_bucket``. Only the live directories the entry names are
        listed, and the entry's schema is passed, so no file footer is
        read for inference; files written before a widening merge read
        NULL in the columns they lack."""
        schema = _schema_of(entry)
        dirs = [
            d
            for b, d in sorted(entry["buckets"].items())
            if buckets is None or int(b) in buckets
        ]
        if not dirs:
            return self.spark.createDataFrame([], schema).withColumn(
                BUCKET_COL, F.lit(None).cast("int")
            )
        full = T.StructType(
            schema.fields
            + [
                T.StructField(BUCKET_COL, T.IntegerType()),
                T.StructField(COMMIT_COL, T.StringType()),
            ]
        )
        return (
            self.spark.read.schema(full)
            .option("basePath", self.path)
            .parquet(*[f"{self.path}/{d}" for d in dirs])
            .drop(COMMIT_COL)
        )

    def read(self) -> DataFrame:
        """Current table contents (bucket column stripped). A table whose
        buckets record less than one ``spark.sql.files.openCostInBytes``
        reads as ``coalesce(1)``: one partition, as Spark already plans
        a file that small, but one Catalyst knows is single, so the
        joins, aggregates and windows after it need no exchange."""
        entry = self._snapshot()
        if entry is None:
            raise ValueError(f"no merge table at {self.path}")
        rows = self._scan(entry).drop(BUCKET_COL)
        if sum(entry["bytes"].values()) < _open_cost(self.spark):
            return rows.coalesce(1)
        return rows

    # -- commit ------------------------------------------------------------

    def _write_commit(
        self,
        entry: dict | None,
        df: DataFrame,
        schema: T.StructType,
        replaced: set[int] | None,
        num_buckets: int,
    ) -> None:
        """Land ``df`` (with ``_bucket`` of ``num_buckets``, one partition
        per bucket) as new directories, commit the log entry after
        ``entry``, then GC. The new entry keeps the live directories of
        the buckets outside ``replaced`` (None: none are kept) with the
        bytes ``entry`` records for them, and names the new ones with
        their bytes, from one listing of every data directory and of this
        commit's files."""
        version = 0 if entry is None else entry["version"] + 1
        cid = f"v{version}-{uuid.uuid4().hex[:8]}"
        (
            df.withColumn(COMMIT_COL, F.lit(cid))
            .write.partitionBy(BUCKET_COL, COMMIT_COL)
            .mode("append")
            .parquet(self.path)
        )
        live = (
            {}
            if entry is None or replaced is None
            else {b: d for b, d in entry["buckets"].items() if int(b) not in replaced}
        )
        sizes = {b: entry["bytes"][b] for b in live}
        on_disk = []
        for path, is_dir, length in self._glob(
            f"{BUCKET_COL}=*/{{{COMMIT_COL}=*,{COMMIT_COL}={cid}/*.parquet}}"
        ):
            if is_dir:
                on_disk.append(_DATA_DIR.search(path).groups())
            else:
                b = _DATA_DIR.search(path.rsplit("/", 1)[0])[2]
                sizes[b] = sizes.get(b, 0) + length
        live.update({b: d for d, b, c in on_disk if c == cid})
        new = {
            "version": version,
            "num_buckets": num_buckets,
            "schema": schema.jsonValue(),
            "buckets": live,
            "bytes": sizes,
        }
        self._commit(new)
        self._gc(new, on_disk)

    def _commit(self, entry: dict) -> None:
        """Publish ``entry`` as ``_log/<version>.json``. It is written
        under a temp name in ``_log`` and renamed, so no reader sees half
        an entry; a version already taken raises rather than overwrite
        another writer's commit."""
        j = self._hadoop()
        final = f"{self.path}/{LOG_DIR}/{entry['version']}.json"
        tmp = j.Path(f"{final}.{uuid.uuid4().hex[:8]}.tmp")
        out = j.fs.create(tmp, False)
        try:
            out.write(bytearray(json.dumps(entry), "utf-8"))
        finally:
            out.close()
        if j.fs.exists(j.Path(final)):
            raise FileExistsError(
                f"log version {entry['version']} of {self.path} is already "
                "committed: a merge table takes one writer at a time"
            )
        _rename_or_raise(j.fs, tmp, j.Path(final))

    def _gc(self, entry: dict, on_disk: list[tuple]) -> None:
        """Delete what ``entry`` no longer names: superseded or stranded
        data directories (a bucket the entry lacks goes whole) and every
        other file in ``_log``."""
        j = self._hadoop()
        live = entry["buckets"]
        doomed = {
            d if b in live else f"{BUCKET_COL}={b}"
            for d, b, _ in on_disk
            if live.get(b) != d
        }
        doomed.update(
            f"{LOG_DIR}/{name}"
            for name in self._log_files()
            if name != f"{entry['version']}.json"
        )
        for rel in sorted(doomed):
            j.fs.delete(j.Path(f"{self.path}/{rel}"), True)

    def overwrite(self, df: DataFrame) -> None:
        """Full truncate-and-reload (O8): the new files land beside the
        old ones and one commit replaces the whole table. The bucket
        count is sized from the stored bytes and the bytes of the files
        ``df`` scans, never from the optimizer's estimate of ``df``: for
        a join that is the product of its inputs, not the rows it
        writes."""
        entry = self._snapshot()
        n = self._resized(entry, df)
        self._write_commit(entry, self._bucketed(df, n), df.schema, None, n)

    # -- merge -------------------------------------------------------------

    def merge(self, updates: DataFrame, allow_schema_evolution: bool = False) -> None:
        """Upsert ``updates`` by key: matched rows replaced, new rows
        inserted. Only buckets containing update keys are rewritten; a
        wave touching every live bucket rewrites the table, re-sized to
        its bytes. An empty wave commits nothing to a table of several
        buckets (the probe finds no bucket). A one-bucket table runs no
        probe, so it commits its rows unchanged, for which the CDF
        wrapper emits no change.

        ``allow_schema_evolution`` is the reference's ``allowSchemaDrift``
        / Delta ``mergeSchema``: new columns in ``updates`` widen the
        table schema (existing rows get NULL); untouched buckets keep the
        old files, which the widened schema in the log entry reads with
        NULL in the new columns, exactly how Delta evolves in place. After
        a table has evolved, a merge whose updates *lack* the evolved
        columns fails fast (S5 contract) unless
        ``allow_schema_evolution=True``, which fills them with NULL."""
        entry = self._snapshot()
        if entry is None:
            # A table never committed: a fresh load.
            if self.version_col is not None:
                updates = latest_per_key(updates, self.keys, self.version_col)
            else:
                updates = dedup_keys_deterministic(updates, self.keys)
            self.overwrite(updates)
            return

        updates = self._conform(updates, entry)
        touched = self._touched(entry, updates)
        if not touched:
            return
        replaced, n = self._plan_write(entry, touched, updates)
        merged = self._rewrite(entry, updates, touched, allow_schema_evolution, n)
        schema = (
            merged.drop(BUCKET_COL).schema
            if allow_schema_evolution
            else _schema_of(entry)
        )
        self._write_commit(entry, merged, schema, replaced, n)

    def _rewrite(
        self,
        entry: dict,
        updates: DataFrame,
        touched: set[int],
        allow_schema_evolution: bool,
        num_buckets: int,
    ) -> DataFrame:
        """The rewritten contents of the ``touched`` buckets, with
        ``_bucket`` of ``num_buckets`` computed from the key for stored
        and update rows alike, so a
        write that replaces every bucket re-buckets in the same pass:
        stored rows and ALL update rows (in-batch duplicates included)
        clustered one partition per bucket (``_clustered``), then ONE
        ``row_number`` window per (bucket, key), which that clustering
        already satisfies. Several buckets shuffle once, on ``_bucket``;
        one bucket is ``coalesce(1)`` and shuffles not at all.

        The window order is whole-row MERGE with last-writer-wins:
        version desc nulls last (when configured), then source priority
        so an update beats the stored row on a tie; without a version,
        the max whole-row struct of the update's non-key columns picks
        among in-batch duplicates — ``dedup_keys_deterministic``'s
        partitioning-independent survivor."""
        current = self._scan(entry, touched)
        table_cols = current.columns
        upd_cols = updates.columns
        if not allow_schema_evolution:
            have = {c.lower() for c in upd_cols}
            missing = [
                c for c in table_cols if c != BUCKET_COL and c.lower() not in have
            ]
            if missing:
                raise ValueError(
                    f"updates lack table columns {missing}; pass "
                    "allow_schema_evolution=True to fill them with NULL"
                )
        bucket = self._bucket_sql(num_buckets)
        marked = updates.selectExpr("*", f"{bucket} AS {BUCKET_COL}", "1 AS __src")
        stored = current.selectExpr(
            *(sql_ident(c) for c in table_cols if c != BUCKET_COL),
            f"{bucket} AS {BUCKET_COL}",
            "0 AS __src",
        )
        combined = stored.unionByName(marked, allowMissingColumns=True)
        if allow_schema_evolution:
            out_cols = [c for c in combined.columns if c != "__src"]
        else:
            # update columns the table lacks still rank in-batch
            # duplicates (in the row struct below), then are dropped
            out_cols = table_cols

        order = ["__src DESC"]
        if self.version_col is not None:
            order.insert(0, f"{sql_ident(self.version_col)} DESC NULLS LAST")
        else:
            others = [c for c in upd_cols if c not in self.keys]
            if others:
                fields = ", ".join(map(sql_ident, others))
                order.append(f"struct({fields}) DESC")
        window = (
            f"row_number() OVER (PARTITION BY {BUCKET_COL}, "
            f"{', '.join(map(sql_ident, self.keys))} ORDER BY {', '.join(order)})"
        )
        return (
            _clustered(combined, num_buckets)
            .selectExpr("*", f"{window} AS __rn")
            .filter("__rn = 1")
            .selectExpr(*map(sql_ident, out_cols))
        )

    def delete(self, keys_df: DataFrame) -> None:
        """CDC delete: remove rows whose key appears in ``keys_df``.
        (Beyond the reference — its sink declares ``deletable: false`` —
        but a complete CDC engine needs the tombstone path.) Same
        bucket-pruned rewrite as merge, and an empty ``keys_df`` does
        what an empty merge wave does."""
        entry = self._snapshot()
        if entry is None:
            return
        keyed = self._conform(keys_df.select(*self.keys), entry)
        # only buckets holding rows can lose any
        touched = self._touched(entry, keyed) & {int(b) for b in entry["buckets"]}
        if not touched:
            return
        replaced, n = self._plan_write(entry, touched)
        if entry["num_buckets"] == 1:
            # Keys built on the driver carry no size estimate, so Catalyst
            # would plan a sort-merge anti join with an exchange on each
            # side (4 jobs for two keys, not 2). The table is under one
            # openCostInBytes; its tombstone keys are broadcast.
            keyed = F.broadcast(keyed)
        kept = self._scan(entry, touched).join(keyed, on=self.keys, how="left_anti")
        # A bucket whose every row was deleted writes no directory, so
        # the new entry drops it.
        self._write_commit(
            entry, self._bucketed(kept, n), _schema_of(entry), replaced, n
        )

    def compact(self) -> None:
        """Full rewrite into fresh single-file buckets (Delta OPTIMIZE
        analog), re-sized to its bytes like any write that
        replaces the whole table (a pinned handle writes its own count).
        Merges already replace whole bucket dirs, so files don't
        accumulate per merge; compact matters after a table grew by
        partial merges, to change a pinned count, or to re-sort/re-encode
        cold data."""
        entry = self._snapshot()
        if entry is not None:
            self.overwrite(self._scan(entry).drop(BUCKET_COL))


class Scd2MergeTable(ParquetMergeTable):
    """Type-2 slowly-changing-dimension variant: instead of replacing a
    matched row (LWW), an attribute change CLOSES the current version
    (``valid_to`` = change timestamp, ``is_current`` = 0) and INSERTS a
    new one (``valid_from`` = change timestamp, open-ended). The full
    change history stays queryable — the standard warehouse answer to
    "what did this dimension row look like when the fact happened"
    (pairs with ``asof_join``).

    Beyond the reference (its sinks are LWW upserts), but the natural
    completion of the CDC surface. Same bucket-pruned storage: only the
    buckets containing update keys are rewritten; CLOSED history rows in
    those buckets pass through untouched and history is recomputed only
    for the open row + new updates of each key (one window pass).

    Ordering contract: updates apply in ``ts_col`` order; an update at
    or before the current version's ``valid_from`` is discarded (late
    data cannot rewrite closed history — by design; replay the table to
    re-historize). At most one update per (key, ts): ties are collapsed
    deterministically to the max attribute struct."""

    SCD_COLS = ("valid_from", "valid_to", "is_current")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        ts_col: str,
        num_buckets: int | None = None,
    ) -> None:
        super().__init__(spark, path, keys, version_col=None, num_buckets=num_buckets)
        self.ts_col = ts_col

    def _attr_cols(self, df: DataFrame) -> list[str]:
        drop = set(self.keys) | {self.ts_col, BUCKET_COL, *self.SCD_COLS}
        return [c for c in df.columns if c not in drop]

    def _build_history(self, seq: DataFrame, attrs: Sequence[str]) -> DataFrame:
        """(key, valid_from, attrs) version candidates → SCD2 rows:
        collapse (key, ts) ties, drop no-op versions (attributes equal
        to the previous version), chain validity intervals."""
        from pyspark.sql import Window

        seq = seq.groupBy(*self.keys, "valid_from").agg(
            F.max(F.struct(*attrs)).alias("__a")
        )
        w = Window.partitionBy(*self.keys).orderBy(F.col("valid_from").asc())
        changed = seq.withColumn("__prev", F.lag("__a").over(w)).filter(
            F.col("__prev").isNull() | ~F.col("__a").eqNullSafe(F.col("__prev"))
        )
        nxt = F.lead("valid_from").over(w)
        return changed.select(
            *self.keys,
            "valid_from",
            nxt.alias("valid_to"),
            F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
            *[F.col("__a").getField(a).alias(a) for a in attrs],
        )

    def merge(self, updates: DataFrame, allow_schema_evolution: bool = False) -> None:
        """Historizing merge. ``updates``: key + attribute columns +
        ``ts_col``. Schema evolution is not supported for SCD2 (closed
        history would need backfilling) — the flag is accepted for
        interface parity and raises ``ValueError`` when set. An empty wave
        does what it does to ``merge``."""
        if allow_schema_evolution:
            raise ValueError(
                "SCD2 merge does not evolve schemas: closed history would "
                "need backfilling"
            )
        entry = self._snapshot()
        attrs = self._attr_cols(updates)
        fresh = updates.select(
            *self.keys, F.col(self.ts_col).alias("valid_from"), *attrs
        )
        if entry is None:
            self.overwrite(self._build_history(fresh, attrs))
            return

        fresh = self._conform(fresh, entry)
        touched = self._touched(entry, fresh)
        if not touched:
            return
        replaced, n = self._plan_write(entry, touched, fresh)
        current = self._scan(entry, touched)
        closed = current.filter(F.col("is_current") == 0).drop(BUCKET_COL)
        open_rows = current.filter(F.col("is_current") == 1).select(
            *self.keys, "valid_from", *attrs
        )
        # Late-data guard: an update at/before its key's open version
        # cannot apply (closed history is immutable).
        gate = open_rows.select(
            *self.keys, F.col("valid_from").alias("__open_from")
        )
        fresh_gated = (
            fresh.join(gate, on=self.keys, how="left")
            .filter(
                F.col("__open_from").isNull()
                | (F.col("valid_from") > F.col("__open_from"))
            )
            .drop("__open_from")
        )
        hist = self._build_history(
            open_rows.unionByName(fresh_gated), attrs
        )
        merged = closed.unionByName(hist.select(closed.columns))
        self._write_commit(
            entry, self._bucketed(merged, n), _schema_of(entry), replaced, n
        )
