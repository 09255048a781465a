"""Pins for the r18 optimization-round correctness fixes (r17 ADVICE).

- ``bloom_semi_join`` normalizes key dtypes before xxhash64 probing:
  Spark's xxhash64 is type-sensitive (int 7 != bigint 7), so mismatched
  fact/dim key types used to make build and probe position sets
  disjoint — true matches pruned before the verify join. Non-integral
  mismatches (decimal/double vs integer, string vs number) run the
  plain ``left_semi``.
- ``similarity._store_part_sig`` keys the artifact cache on the child
  LISTING (name, mtime_ns, size), not the 1 s-granularity dir mtime: a
  same-tick rebuild/append must invalidate.
- ``chunk_dedup*``'s ``chunks=`` guard: a precomputed chunk table built
  with different (window, stride, id_col) than the call names fails
  loud instead of yielding plausible-but-wrong keeper marks.
- ``load_table`` re-pins the session timezone on every call, including
  memo hits.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbnb_cdc_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_bloom_semi_join_mismatched_int_widths_stays_exact(spark):
    from airbnb_cdc_spark.operators.bloomjoin import bloom_semi_join

    # fact keys int, dim keys bigint: xxhash64 would hash them into
    # disjoint position sets without the bigint normalization
    fact = spark.range(0, 2000).select(F.col("id").cast("int").alias("k"))
    dim = spark.range(0, 2000).filter("id % 17 = 3").select(
        F.col("id").cast("bigint").alias("dk")
    )
    got = {
        r.k
        for r in bloom_semi_join(
            fact, dim, "k", "dk", num_bits=512, num_hashes=3
        ).collect()
    }
    want = {int(r.dk) for r in dim.collect()}
    assert got == want, "type-mismatched keys pruned true matches"


def test_bloom_semi_join_string_vs_int_keys_stays_exact(spark):
    from airbnb_cdc_spark.operators.bloomjoin import bloom_semi_join

    # non-integral mismatch runs the plain semi-join (Spark's join
    # coercion decides the match, no bloom probe can prune it)
    fact = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    dim = spark.range(0, 500).filter("id % 7 = 2").select(
        F.col("id").alias("dk")
    )
    got = {
        r.k
        for r in bloom_semi_join(
            fact, dim, "k", "dk", num_bits=512, num_hashes=3
        ).collect()
    }
    want = {str(r.dk) for r in dim.collect()}
    assert got == want


@pytest.mark.parametrize(
    "fact_type,dim_type",
    [("decimal(18,2)", "bigint"), ("double", "int")],
    ids=["decimal_vs_bigint", "double_vs_int"],
)
def test_bloom_semi_join_non_integral_mismatch_equals_left_semi(
    spark, fact_type, dim_type
):
    from airbnb_cdc_spark.operators.bloomjoin import bloom_semi_join

    # decimal 7.00, double 7.0 and bigint 7 stringify differently, so a
    # string-hash probe would prune every true match before the verify
    fact = spark.range(0, 500).select(F.col("id").cast(fact_type).alias("k"))
    keys = spark.range(0, 500).filter("id % 7 = 2").select(
        F.col("id").cast(dim_type).alias("k")
    )
    got = bloom_semi_join(fact, keys, "k", num_bits=512, num_hashes=3)
    want = fact.join(keys, "k", "left_semi")
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 72


def test_store_part_sig_catches_same_tick_rewrite(spark, tmp_path):
    from airbnb_cdc_spark.operators.similarity import (
        _read_store_part,
        _store_part_sig,
    )

    path = str(tmp_path / "meta")
    spark.createDataFrame([(4, 8)], "bits int, dim int").write.parquet(path)
    sig1 = _store_part_sig(spark, path)
    df1 = _read_store_part(spark, path)
    # immediate rewrite — NO sleep: part-file names are fresh UUIDs, so
    # the listing signature must change even within one mtime tick
    spark.createDataFrame([(6, 16)], "bits int, dim int").write.mode(
        "overwrite"
    ).parquet(path)
    sig2 = _store_part_sig(spark, path)
    assert sig2 != sig1, "same-tick rebuild did not change the cache key"
    df2 = _read_store_part(spark, path)
    assert df2 is not df1
    assert df2.collect()[0].bits == 6


def test_store_part_sig_catches_same_tick_append(spark, tmp_path):
    from airbnb_cdc_spark.operators.similarity import (
        _read_store_part,
        _store_part_sig,
    )

    path = str(tmp_path / "codes")
    spark.createDataFrame([(1,)], "vec_id long").write.parquet(path)
    sig1 = _store_part_sig(spark, path)
    n1 = _read_store_part(spark, path).count()
    spark.createDataFrame([(2,)], "vec_id long").write.mode("append").parquet(
        path
    )
    assert _store_part_sig(spark, path) != sig1
    assert _read_store_part(spark, path).count() == n1 + 1


def test_store_part_cache_evicts_superseded_entries(spark, tmp_path):
    from airbnb_cdc_spark.operators import similarity as sim

    path = str(tmp_path / "meta")
    spark.createDataFrame([(1,)], "v int").write.parquet(path)
    sim._read_store_part(spark, path)
    spark.createDataFrame([(2,)], "v int").write.mode("overwrite").parquet(path)
    sim._read_store_part(spark, path)
    live = [
        k
        for k in sim._STORE_PART_CACHE
        if len(k) == 4 and k[0] == "df" and k[2] == path
    ]
    assert len(live) == 1, "superseded signature entries must be evicted"


def test_chunk_params_guard_rejects_mismatch(spark):
    from airbnb_cdc_spark.operators.dedup import (
        chunk_dedup,
        chunk_dedup_summary,
    )
    from airbnb_cdc_spark.operators.text import chunk_documents

    docs = load_table(spark, SF, "documents")
    chunks = chunk_documents(docs, window=64, stride=48)
    with pytest.raises(ValueError, match="window"):
        chunk_dedup(docs, window=32, stride=48, chunks=chunks)
    with pytest.raises(ValueError, match="stride"):
        chunk_dedup_summary(docs, window=64, stride=32, chunks=chunks)
    # matching params pass (and the store re-lead keeps working)
    assert chunk_dedup(docs, window=64, stride=48, chunks=chunks).columns[0] == "doc_id"


def test_chunk_params_guard_survives_projection_and_store_roundtrip(
    spark, tmp_path
):
    """The stamp rides on ``chunk_hash``'s field metadata, so a filtered,
    projected or stored-and-reread chunk table built with another
    window is still rejected instead of being checked for nothing."""
    from pyspark.sql import functions as F

    from airbnb_cdc_spark.operators.dedup import (
        chunk_dedup,
        chunk_dedup_summary,
    )
    from airbnb_cdc_spark.operators.text import chunk_documents

    docs = load_table(spark, SF, "documents")
    chunks = chunk_documents(docs, window=32, stride=48)
    filtered = chunks.filter(F.col("chunk_tokens") > 1).select(
        "doc_id", "chunk_idx", "chunk_tokens", "chunk_hash"
    )
    with pytest.raises(ValueError, match="window"):
        chunk_dedup(docs, window=64, stride=48, chunks=filtered)
    store = str(tmp_path / "chunks")
    chunks.write.parquet(store)
    with pytest.raises(ValueError, match="window"):
        chunk_dedup_summary(
            docs, window=64, stride=48, chunks=spark.read.parquet(store).cache()
        )


def test_chunk_params_guard_checks_id_col_presence(spark):
    from airbnb_cdc_spark.operators.dedup import chunk_dedup
    from airbnb_cdc_spark.operators.text import chunk_documents

    docs = load_table(spark, SF, "documents")
    chunks = chunk_documents(docs, window=64, stride=48)
    # a frame chunked under a different id column fails loud
    with pytest.raises(ValueError):
        chunk_dedup(
            docs.withColumnRenamed("doc_id", "docid"),
            id_col="docid",
            window=64,
            stride=48,
            chunks=chunks.withColumnRenamed("doc_id", "other"),
        )


def test_running_sum_exposed_total_equals_direct_aggregate(spark):
    """global_running_sum_with_total's grand total (built from the
    scan's own per-bucket exact sums) must equal F.sum over the input
    bit-for-bit — the identity that lets Pareto/deciles drop their
    second aggregate branch (r18)."""
    from decimal import Decimal

    from airbnb_cdc_spark.operators.prefix import (
        global_running_sum,
        global_running_sum_with_total,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37 % 101).cast("decimal(18,2)") / 7).alias("v"),
    )
    scanned, total = global_running_sum_with_total(
        df, order_col="k", value_col="v", tie_breaks=[], out_col="r"
    )
    direct = df.agg(F.sum("v").alias("t")).collect()[0].t
    got = spark.range(1).select(total.alias("t")).collect()[0].t
    assert got == direct and isinstance(got, Decimal)
    # and the scan itself is unchanged vs the total-less entry point
    old = global_running_sum(
        df, order_col="k", value_col="v", tie_breaks=[], out_col="r"
    )
    assert scanned.exceptAll(old).count() == 0
    assert old.exceptAll(scanned).count() == 0
    # max running == total
    assert scanned.agg(F.max("r")).collect()[0][0] == direct
    # all-NULL input → NULL total, like F.sum
    nul = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(None).cast("long").alias("v")
    )
    _, tnull = global_running_sum_with_total(
        nul, order_col="k", value_col="v", tie_breaks=[], out_col="r"
    )
    assert spark.range(1).select(tnull.alias("t")).collect()[0].t is None


def test_local_rows_df_matches_createdataframe(spark):
    """local_rows_df (the pure-JVM local relation) must be value- and
    schema-identical to createDataFrame over the same rows — including
    NULLs, strings, and the empty set (r18)."""
    rows = [(1, "a"), (2, None), (3, "c")]
    schema = "k bigint, v string"
    a = spark.createDataFrame(rows, schema)
    from airbnb_cdc_spark.session import local_rows_df

    b = local_rows_df(spark, rows, schema)
    assert b.schema == a.schema
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, a.collect()))
    empty = local_rows_df(spark, [], schema)
    assert empty.count() == 0 and empty.schema == a.schema
    # and no Python-evaluation node anywhere in its plan
    assert "Python" not in b._jdf.queryExecution().executedPlan().toString()


def test_load_table_repins_timezone_on_memo_hit(spark):
    load_table(spark, SF, "events")  # populate the memo
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    load_table(spark, SF, "events")  # memo hit must still re-pin
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
