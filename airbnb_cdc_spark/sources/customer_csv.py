"""Customer CSV feed source (S1) + archive sink (S6) + file ops (S7/S8).

Reference: ``dataset/New_CustomerDataSource.json:9-19`` — delimited text,
``columnDelimiter: ","``, ``quoteChar: '"'``, ``escapeChar: "\\"``,
``firstRowAsHeader: true``; read settings (wildcard folder, recursive)
``pipeline/New_LoadCustomerDim.json:66-81``. The reference declares no
schema (``"schema": []``) and converts types at copy time
(``typeConversion: true, allowDataTruncation: true`` :94-101); we pin an
explicit StructType instead (inference is a correctness and perf hazard —
it scans the file twice and can flip types between files).

Schema per FIXTURES.md F1 / ``sql_queries/synapse_table_creation.sql:5-23``.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType(), False),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
        T.StructField("phone_number", T.StringType(), True),
        T.StructField("address", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("zip_code", T.StringType(), True),
        T.StructField("signup_date", T.DateType(), True),
        T.StructField("last_login", T.TimestampType(), True),
        T.StructField("total_bookings", T.IntegerType(), True),
        T.StructField("total_spent", T.DecimalType(14, 2), True),
        T.StructField("preferred_language", T.StringType(), True),
        T.StructField("referral_code", T.StringType(), True),
        T.StructField("account_status", T.StringType(), True),
    ]
)


def read_customer_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: one customer feed file with the reference's CSV dialect."""
    return (
        spark.read.schema(CUSTOMER_SCHEMA)
        .option("header", True)
        .option("quote", '"')
        .option("escape", "\\")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


# shared Hadoop filesystem helpers — one definition (operators/merge.py)
from airbnb_cdc_spark.operators.merge import (  # noqa: E402
    _fs,
    _listing,
    _rename_or_raise,
)


def list_files(spark: SparkSession, folder: str, suffix: str = ".csv") -> list[str]:
    """S8 (GetMetadata childItems): enumerate feed files, sorted for a
    deterministic replay order. Driver-side control flow — the listing is
    metadata-sized, never data-sized, and one printed array: a fixed
    number of py4j round trips however many files the folder holds."""
    files = (path for path, is_dir, _ in _listing(spark, folder) if not is_dir)
    names = (path.rsplit("/", 1)[1] for path in files)
    return sorted(name for name in names if name.endswith(suffix))


def archive_file(
    spark: SparkSession,
    raw_dir: str,
    archive_dir: str,
    name: str,
    rewrite_quoted: bool = False,
) -> None:
    """S6+S7: move the consumed file to the archive folder.

    Default: archive copy + raw delete collapsed into one rename (same
    end state, no byte rewrite). ``rewrite_quoted=True`` reproduces the
    reference's Copy-activity archive exactly: the file is re-written
    through the CSV dialect with every field quoted (``quoteAllText:
    true``, ``pipeline/New_LoadCustomerDim.json:152-162``,
    ``dataset/New_CustomerDataArchive.json:13-19``), then the raw file
    is deleted. The rewrite reads UNTYPED (header only, all columns
    string) just like the reference's archive Copy — its source dataset
    declares ``"schema": []``, so the copy preserves each field's
    original text and only the quoting changes; a typed round-trip
    would re-format timestamps/decimals and lose byte fidelity. The
    rewrite is a single-file Spark write (coalesce(1) — feed files are
    ingest-sized, not data-sized)."""
    fs, _ = _fs(spark, raw_dir)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    dst_dir = Path(archive_dir)
    if not fs.exists(dst_dir):
        fs.mkdirs(dst_dir)
    src = Path(posixpath.join(raw_dir, name))
    dst = Path(posixpath.join(archive_dir, name))
    if not rewrite_quoted:
        if fs.exists(dst):
            fs.delete(dst, False)
        # checked rename: a false return here would otherwise report
        # success while the raw file was never archived
        _rename_or_raise(fs, src, dst)
        return
    # Write-tmp-then-swap: the previous archive copy survives until the
    # rewrite has fully succeeded (a mid-write failure used to lose it
    # and leave a _tmp_<name> dir behind); the tmp dir is removed on
    # every path.
    tmp = posixpath.join(archive_dir, f"_tmp_{name}")
    try:
        df = (
            spark.read.option("header", True)
            .option("quote", '"')
            .option("escape", "\\")
            .option("inferSchema", False)
            .csv(posixpath.join(raw_dir, name))
        )
        (
            df.coalesce(1)
            .write.option("header", True)
            .option("quoteAll", True)
            .option("quote", '"')
            .option("escape", "\\")
            .mode("overwrite")
            .csv(tmp)
        )
        part = next(
            s.getPath()
            for s in fs.listStatus(Path(tmp))
            if s.getPath().getName().startswith("part-")
        )
        if fs.exists(dst):
            fs.delete(dst, False)
        # checked: the old archive copy is already deleted, and the
        # finally below destroys tmp — an unchecked false return would
        # lose every copy (the raw delete after this would finish it)
        _rename_or_raise(fs, part, dst)
    finally:
        fs.delete(Path(tmp), True)
    fs.delete(src, False)
