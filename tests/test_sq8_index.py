"""Persisted SQ8 code store: full-build store queries must equal the
in-session sq8_topk, appends must quantize against the FROZEN scale
(saturating instead of overflowing TINYINT), and replays must append
nothing — the store-not-rescan contract every incremental store in
this repo follows."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbnb_cdc_spark.operators.similarity import (
    append_sq8_index,
    query_sq8_index,
    sq8_codes,
    sq8_topk,
    write_sq8_index,
)


def _vecs(spark, ids, scale=1.0):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (
            i,
            [
                scale * ((((i * 31 + d * 7) % 257) - 128) / 128.0)
                for d in range(64)
            ],
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, schema)


def test_store_query_equals_in_session(spark, tmp_path):
    corpus = _vecs(spark, range(60))
    queries = _vecs(spark, range(0, 60, 10))
    path = str(tmp_path / "sq8")
    write_sq8_index(corpus, path)
    stored = sorted(
        map(tuple, query_sq8_index(spark, path, queries, k=3).collect())
    )
    insess = sorted(map(tuple, sq8_topk(corpus, queries, k=3).collect()))
    assert stored == insess


def test_append_idempotent_and_frozen_scale(spark, tmp_path):
    old = _vecs(spark, range(40))
    path = str(tmp_path / "sq8")
    write_sq8_index(old, path)
    # components 3x the build-time max_abs: codes MUST saturate at
    # +/-127 under the frozen scale, not overflow the TINYINT cast
    hot = _vecs(spark, range(100, 110), scale=3.0)
    assert append_sq8_index(spark, path, hot) == 10
    assert append_sq8_index(spark, path, hot) == 0  # replay
    codes = spark.read.parquet(path + "/codes")
    assert codes.count() == 50
    mx = codes.filter(F.col("vec_id") >= 100).agg(
        F.max(F.array_max("c8")).alias("hi"),
        F.min(F.array_min("c8")).alias("lo"),
    ).collect()[0]
    assert mx.hi == 127 and mx.lo == -127


def test_codes_saturate_symmetrically(spark):
    # same-corpus codes stay within [-127, 127] even at the exact
    # boundary components (x == +/-max_abs), where double rounding
    # could otherwise floor to -128
    corpus = _vecs(spark, range(20))
    scale = corpus.agg(
        F.max(F.array_max(F.transform(F.col("embedding"), F.abs)))
        .cast("double")
        .alias("__mx")
    )
    c = sq8_codes(corpus, scale, "vec_id", "embedding")
    row = c.agg(
        F.max(F.array_max("c8")).alias("hi"),
        F.min(F.array_min("c8")).alias("lo"),
    ).collect()[0]
    assert -127 <= row.lo <= row.hi <= 127


def test_sq8_codes_scale_smoke(spark):
    # 200k synthetic 64-dim vectors: quantization is a pure per-row
    # projection after the 1-row scale broadcast — the un-widened plan
    # must contain NO shuffle Exchange (BroadcastNestedLoopJoin over
    # the 1-row scale only), which is what makes the codes leg fuse
    # into any scan at corpus scale.
    n = 200_000
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda d: (
                (((F.col("id") * 31 + d * 7) % 257) - 128) / F.lit(128.0)
            ).cast("float"),
        ).alias("embedding"),
    )
    scale = corpus.agg(
        F.max(F.array_max(F.transform(F.col("embedding"), F.abs)))
        .cast("double")
        .alias("__mx")
    )
    codes = sq8_codes(corpus, scale, "vec_id", "embedding", widen=False)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    # the 1-row scale BroadcastExchange is expected; a SHUFFLE is not
    assert "Exchange hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert codes.count() == n
    hi = codes.agg(F.max(F.array_max("c8")).alias("m")).collect()[0].m
    assert hi <= 127


def test_degenerate_scale_fails_loudly(spark, tmp_path):
    """An all-zero corpus has max_abs 0; quantizing against it must
    raise at execution instead of silently emitting NULL codes (a
    zero scale written to the store would poison every later append
    and query)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    zeros = spark.createDataFrame(
        [(i, [0.0] * 4) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    scale = zeros.agg(
        F.max(F.array_max(F.transform(F.col("embedding"), F.abs)))
        .cast("double")
        .alias("__mx")
    )
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)) as ei:
        sq8_codes(zeros, scale, "vec_id", "embedding").collect()
    assert "degenerate quantizer scale" in str(ei.value)


def test_empty_corpus_build_fails_at_build(spark, tmp_path):
    """An EMPTY corpus streams zero rows through sq8_codes' per-row
    guard, so without an eager scale check write_sq8_index would
    silently freeze a NULL scale into scale/ and defer the failure to
    the first append. The build itself must refuse."""
    import pytest

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "sq8")
    with pytest.raises(ValueError, match="degenerate quantizer scale"):
        write_sq8_index(empty, path)
    import os

    assert not os.path.exists(path + "/scale")  # nothing poisoned


def test_wrong_width_frame_fails_loud(spark, tmp_path):
    """A query or append frame whose vectors are wider than the stored
    codes must raise: zip_with silently truncates the longer side, so
    without the probe the integer-dot scores would be plausibly wrong
    (the _stored_pq_geometry class of drift; the SQ8 scale is a scalar,
    so the width lives in the code table)."""
    import pytest
    from pyspark.sql import types as T

    from airbnb_cdc_spark.operators.similarity import (
        append_sq8_index,
        query_sq8_index,
        write_sq8_index,
    )

    path = str(tmp_path / "sq8")
    write_sq8_index(_vecs(spark, range(40)), path)
    wide = spark.createDataFrame(
        [(0, [0.5] * 128)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    with pytest.raises(ValueError, match="components"):
        query_sq8_index(spark, path, wide, k=3)
    with pytest.raises(ValueError, match="components"):
        append_sq8_index(spark, path, wide)


def test_mixed_width_append_batch_fails_loud(spark, tmp_path):
    """A mixed-width append batch whose FIRST row matches the stored
    width slipped past the limit-1 probe (r14 ADVICE) — the transform
    would persist plausible-but-wrong codes for the odd rows. The
    post-persist full min/max check must refuse the whole batch and
    write nothing."""
    import pytest
    from pyspark.sql import types as T

    from airbnb_cdc_spark.operators.similarity import (
        append_sq8_index,
        write_sq8_index,
    )

    path = str(tmp_path / "sq8")
    write_sq8_index(_vecs(spark, range(40)), path)
    n_before = spark.read.parquet(path + "/codes").count()
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    mixed = spark.createDataFrame(
        [(100, [0.5] * 64), (101, [0.5] * 128)], schema
    ).coalesce(1)  # one partition: the limit-1 probe samples the good row
    with pytest.raises(ValueError, match="mixed|components"):
        append_sq8_index(spark, path, mixed)
    assert spark.read.parquet(path + "/codes").count() == n_before


def test_query_against_empty_store_fails_loud(spark, tmp_path):
    """A code table with no rows has no stored width, so the width
    guard cannot run: a non-empty query frame must fail loud rather
    than get an empty top-k. (The build refuses an empty corpus, so the
    test empties a built store's code table.)"""
    import pytest

    path = str(tmp_path / "sq8")
    write_sq8_index(_vecs(spark, range(40)), path)
    codes = spark.read.parquet(path + "/codes").schema
    spark.createDataFrame([], codes).write.mode("overwrite").parquet(
        path + "/codes"
    )
    queries = _vecs(spark, range(3))
    with pytest.raises(ValueError, match="is empty"):
        query_sq8_index(spark, path, queries, k=3)
    assert query_sq8_index(spark, path, queries.limit(0), k=3).count() == 0
