"""SparkSession builder + parquet-dir catalog.

The driver contract (``__spark_entry__.py``) hands every query a
``(spark, sf_dir)`` pair; ``load_table`` is the single entry point for
reading one of the driver's parquet tables so filter pushdown / column
pruning always start from a plain parquet scan (Catalyst sees
``PushedFilters`` / ``ReadSchema`` directly — no caching layer in the way).

Scale notes (100 TB design stance):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion cover the reference's ``broadcast:
  'auto'`` hint (dataflow/New_BookingTransformation.json:112) without
  hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a real
  cluster AQE coalesces from a high initial count, so we set the initial
  partition count rather than a final one.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def get_spark(app_name: str = "airbnb_cdc_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 32)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()


# Per-(session, sf_dir, table) memo of the CONSTRUCTED DataFrame.
# ``spark.read.parquet`` costs ~90 ms per call even warm (footer
# re-read + relation analysis, measured r17 §1) and the registry
# re-reads the same ten static tables hundreds of times per bench run
# — pure driver-side metadata overhead, the local analogue of the
# repeated-file-listing cost guide §6 calls out. The memo returns the
# same immutable logical plan; every action still scans the parquet
# files from disk (nothing is persisted — this caches *analysis*, not
# data). Values keep a strong ref to their session so an id() can
# never be reused while its entry is alive; a hit requires the SAME
# session object (a restarted session re-reads).
_TABLE_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Plain parquet scan of one driver table — keep it bare so Catalyst
    pushes filters/projections into the scan.

    The driver's ``events.ts`` physical type has changed across rounds
    (TIMESTAMP(NANOS) stored as int64 earlier, plain ``timestamp[us]``
    now), so we feature-detect from the resolved schema instead of
    assuming: a long column gets the nanos→micros shim; a timestamp
    column is just normalized to ``timestamp_ntz``. Session TZ is pinned
    to UTC here too — the driver may run these queries in its own
    session, and window/date_trunc boundaries must line up with the
    (TZ-naive) DuckDB oracles."""
    # Conf pins run on EVERY call, before the memo lookup: the session
    # timezone affects execution (not the cached logical plan), so a
    # caller that mutated it between loads must still get UTC semantics
    # on a cache hit (r17 ADVICE).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), str(sf_dir), name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        # timestamp_ntz: collection to Python is wall-clock-exact
        # regardless of the driver process's TZ (plain TIMESTAMP collects
        # through the local zone), matching DuckDB's naive timestamps.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type in ("bigint", "long"):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        elif ts_type != "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    _TABLE_CACHE[key] = (spark, df)
    return df


def ensure_parallelism(df: DataFrame, python_workers: bool = False) -> DataFrame:
    """Fan a narrow input out before compute-heavy per-row work
    (shingling, hashing, Python batches).

    A small/single-file parquet scan yields 1-2 partitions; that's right
    for scan-bound plans but serializes expression-heavy operators onto
    one core. The repartition shuffles only the (small) input rows and
    buys full-width execution of everything downstream. At 100 TB inputs
    arrive in thousands of files and this is a no-op.

    Catalyst stages widen to ``defaultParallelism``: their tasks cost
    milliseconds, so a wide fan-out of few bytes is cheap. A stage that
    runs in Python workers (``python_workers=True``) widens only to
    ``min(defaultParallelism, ceil(bytes / openCostInBytes))``: every
    Python task pays ~0.25 CPU s before its UDF runs, whatever its row
    count (PySpark's per-task ``importlib.invalidate_caches()`` makes
    each of the worker's zipimporters re-read ``pyspark.zip``'s
    directory). ``openCostInBytes`` is the floor Spark's own file-split
    sizing uses, so a small input stays one task while a large payload
    still spreads out. Either way the input widens only when the scan's
    own estimate, ``ceil(bytes / maxPartitionBytes)``, is narrower.

    Scan bytes come from the source file listing + sizes
    (``inputFiles`` — metadata only), NOT ``df.rdd.getNumPartitions()``:
    the RDD probe forces a plan-to-RDD conversion on every call, a fixed
    driver-side cost paid by every operator that fans out (round-2
    verdict). Non-file inputs (in-memory test frames, streams) are left
    untouched — they carry whatever parallelism their source gave them.
    """
    total = _scan_bytes(df)
    if total is None:
        return df
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    if python_workers:
        open_cost = _byte_conf(spark, "spark.sql.files.openCostInBytes", 4 * 1024**2)
        want = min(want, max(1, -(-total // open_cost)))
    # Spark BIN-PACKS many small files into one partition, so total
    # bytes over maxPartitionBytes (not a per-file count) matches the
    # scan's width in the many-tiny-files case (round-3 ADVICE)
    max_split = _byte_conf(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    est = max(1, -(-total // max_split))
    if est >= want:
        return df
    return df.repartition(want)


_SIZE_SUFFIXES = {
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
}


def _parse_byte_conf(value: str, default: int) -> int:
    """Spark byte-string conf → bytes (bare number = bytes; k/m/g/t
    suffixes per Spark's JavaUtils.byteStringAsBytes)."""
    s = str(value).strip().lower()
    for suffix, mult in sorted(_SIZE_SUFFIXES.items(), key=lambda kv: -len(kv[0])):
        if s.endswith(suffix):
            digits = s[: -len(suffix)].strip()
            if digits.isdigit():
                return int(digits) * mult
            return default
    return int(s) if s.isdigit() else default


def _byte_conf(spark: SparkSession, key: str, default: int) -> int:
    """A byte-valued session conf, in bytes."""
    return _parse_byte_conf(spark.conf.get(key, str(default)), default)


def _scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of the files ``df`` scans, from the file listing.
    None when the input isn't file-based (nothing to widen) or a file
    can't be sized."""
    from urllib.parse import unquote

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        # Remote / unstattable file (hdfs://, s3a://): its size is
        # unknown, so any estimate would be a guess — and guessing
        # NARROW adds a full-data shuffle to a possibly-huge scan.
        # Skip widening entirely: real deployments at that scale
        # arrive in many files and don't need this helper.
        if not uri.startswith("file:"):
            return None
        try:
            # inputFiles returns percent-encoded URIs; decode before stat
            total += os.path.getsize(unquote(uri[len("file:") :]))
        except OSError:
            return None
    return total


def _batch_bytes(df: DataFrame) -> int | None:
    """Bytes behind a ``foreachBatch`` micro-batch, whose plan is one
    ``LogicalRDD`` and whose ``inputFiles()`` is empty. The relation
    carries the statistics of the plan it was cut from: for a
    micro-batch, the stream source's scan, i.e. its files' bytes. Only a
    plan whose one leaf is such a relation is sized this way; None for
    any other. A plan with a join has two leaves, and its estimate is
    the product of its inputs; a checkpointed frame may have been cut
    from a join; and a frame of driver rows carries no size (its stats
    read ``spark.sql.defaultSizeInBytes``)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    if leaves.size() != 1:
        return None
    leaf = leaves.apply(0)
    if leaf.nodeName() != "LogicalRDD" or leaf.rdd().isCheckpointed():
        return None
    size = leaf.computeStats().sizeInBytes()
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    return size if size < unknown else None


def sql_ident(name: str) -> str:
    """A column name as Spark-SQL identifier text: backtick-quoted, with
    embedded backticks doubled, so any name parses as exactly itself."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(v) -> str:
    """One scalar as Spark-SQL literal text; strings are escaped, so a
    value can never close its own quote."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        import math

        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-side row set as a PURE-JVM local relation: ONE
    ``spark.sql`` call over a VALUES literal instead of
    ``createDataFrame`` (r18, guide §4/§5). Two costs die:

    - the parallelized Python local frame ``createDataFrame`` builds
      pays one Python-worker round-trip PER PARTITION every time the
      relation is computed — measured ~230 ms/task inside broadcast
      builds, per run;
    - building the relation from per-row ``F.lit``/``F.struct`` Column
      objects pays ~10 py4j round-trips PER ROW on the driver — the
      first r18 attempt did exactly that and put a 30 s construction
      tax on a ~3000-row component table. One SQL string parses in the
      JVM in milliseconds at any row count this is used for.

    ``schema`` is a DDL string; scalar values only (int/float/str/
    bool/None) — anything else, or very large row sets, falls back to
    ``createDataFrame``. The union with the empty, declared-schema
    relation restores the schema's nullability (VALUES columns derive
    nullability from the data), so the result is schema-identical to
    ``createDataFrame``."""
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    empty = spark.createDataFrame([], st)  # JVM-local when rows == []
    if not rows:
        return empty
    simple = len(rows) <= 100_000 and all(
        v is None or isinstance(v, (bool, int, float, str))
        for r in rows
        for v in r
    )
    if not simple:
        return spark.createDataFrame([tuple(r) for r in rows], st)
    cols = ", ".join(
        f"CAST(col{i + 1} AS {f.dataType.simpleString()}) AS {sql_ident(f.name)}"
        for i, f in enumerate(st.fields)
    )
    vals = ", ".join(
        "(" + ", ".join(sql_lit(v) for v in r) + ")" for r in rows
    )
    return empty.union(spark.sql(f"SELECT {cols} FROM (VALUES {vals})"))


# Persisted-DataFrame registry: operators that cache a shared index
# (dedup inverted indexes, quantized embedding tables) register it here
# so a long-lived engine session can release the cached partitions after
# the result is materialized, instead of leaking them until LRU eviction.
_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + register for ``release_cached``."""
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(out)
    return out


def release_cached() -> int:
    """Unpersist every tracked DataFrame, session-wide (call after
    consuming a query's result — the plans stay valid, later reuse just
    recomputes). Returns the number released. For sessions running
    concurrent work, prefer ``cache_scope`` so one query's cleanup
    can't drop another's in-flight index."""
    return _release_from(0)


def _release_from(start: int) -> int:
    n = 0
    while len(_PERSISTED) > start:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


@contextmanager
def cache_scope():
    """Scope-local cache tracking: on exit, unpersists only DataFrames
    persisted *inside* the scope, leaving earlier registrations (e.g. a
    concurrent query's persisted index) untouched.

        with cache_scope():
            result = ngram_jaccard_pairs(docs).collect()
        # the query's shingle index is released here
    """
    start = len(_PERSISTED)
    try:
        yield
    finally:
        _release_from(start)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view for spark.sql queries."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
