"""Persisted PQ index: full-build store queries must equal the
in-session pq_topk, appends must encode against the FROZEN codebook,
and replays must append nothing — the store-not-rescan contract every
incremental store in this repo follows (SQ8/IVF pattern)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbnb_cdc_spark.operators.similarity import (
    append_pq_index,
    pq_codebook,
    pq_codes,
    pq_topk,
    query_pq_index,
    write_pq_index,
)


def _vecs(spark, ids):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (
            i,
            [((((i * 31 + d * 7) % 257) - 128) / 128.0) for d in range(64)],
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, schema)


def test_store_query_equals_in_session(spark, tmp_path):
    corpus = _vecs(spark, range(60))
    queries = _vecs(spark, range(0, 60, 10))
    path = str(tmp_path / "pq")
    write_pq_index(corpus, path, cb_mod=7, cb_rem=1)
    stored = sorted(
        map(tuple, query_pq_index(spark, path, queries, k=3).collect())
    )
    insess = sorted(
        map(tuple, pq_topk(corpus, queries, k=3, m=16, cb_mod=7, cb_rem=1).collect())
    )
    assert stored == insess


def test_append_frozen_codebook_and_replay_zero(spark, tmp_path):
    old = _vecs(spark, range(40))
    path = str(tmp_path / "pq")
    write_pq_index(old, path, cb_mod=7, cb_rem=1)
    batch = _vecs(spark, range(100, 110))
    assert append_pq_index(spark, path, batch) == 10
    # replay: the same batch must append nothing
    assert append_pq_index(spark, path, batch) == 0

    # frozen-codebook contract: appended codes equal an in-session
    # encode of the batch against the ORIGINAL corpus's codebook —
    # never a refreshed codebook that would shift every stored code
    cb = pq_codebook(old, cb_mod=7, cb_rem=1, m=16)
    want = {
        (r.vec_id, r.j): r.cid for r in pq_codes(batch, cb, m=16).collect()
    }
    stored = spark.read.parquet(f"{path}/codes").filter(
        F.col("vec_id") >= 100
    )
    got = {(r.vec_id, r.j): r.cid for r in stored.collect()}
    assert got == want
    # and the store now answers over old + new vectors
    qs = _vecs(spark, [0])
    got_ids = {
        r.neighbor_id
        for r in query_pq_index(spark, path, qs, k=60).collect()
    }
    assert got_ids == (set(range(1, 40)) | set(range(100, 110)))


def test_empty_build_fails_loud(spark, tmp_path):
    empty = _vecs(spark, [])
    with pytest.raises(ValueError, match="no vec_id satisfies"):
        write_pq_index(empty, str(tmp_path / "pq"))


def test_stored_geometry_derived_and_mismatch_fails_loud(spark, tmp_path):
    """The index carries its own geometry: a store built at a
    NON-default m answers correctly with no m passed (derived from the
    codebook), and an explicitly mismatched m/dim raises instead of
    silently truncating subvectors (zip_with) and dropping subspaces
    (the j-join) into plausible-but-wrong scores."""
    corpus = _vecs(spark, range(60))
    queries = _vecs(spark, range(0, 60, 10))
    path = str(tmp_path / "pq8")
    write_pq_index(corpus, path, m=8, cb_mod=7, cb_rem=1)

    # defaults resolve to the stored m=8, not the package default
    stored = sorted(
        map(tuple, query_pq_index(spark, path, queries, k=3).collect())
    )
    insess = sorted(
        map(tuple, pq_topk(corpus, queries, k=3, m=8, cb_mod=7, cb_rem=1).collect())
    )
    assert stored == insess

    with pytest.raises(ValueError, match="built with m=8"):
        query_pq_index(spark, path, queries, k=3, m=16)
    with pytest.raises(ValueError, match="built with dim=64"):
        query_pq_index(spark, path, queries, k=3, dim=128)
    with pytest.raises(ValueError, match="built with m=8"):
        append_pq_index(spark, path, _vecs(spark, range(100, 105)), m=16)
    # matching explicit values still pass
    ok = query_pq_index(spark, path, queries, k=3, m=8, dim=64)
    assert ok.count() > 0


def test_wrong_width_query_frame_fails_loud(spark, tmp_path):
    """A query frame whose vectors are wider than the stored dim must
    raise: F.slice never errors on longer arrays, so without the check
    the ADC would silently score the first stored-dim components."""
    corpus = _vecs(spark, range(60))
    path = str(tmp_path / "pq")
    write_pq_index(corpus, path, cb_mod=7, cb_rem=1)

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
        query_pq_index(spark, path, wide, k=3)
    with pytest.raises(ValueError, match="components"):
        append_pq_index(spark, path, wide)


def test_mixed_width_append_batch_fails_loud(spark, tmp_path):
    """PQ encodes via F.slice, which silently truncates WIDER rows into
    plausible-but-wrong codes — undetectable post-encode, so the append
    guard full-scans the incoming batch (r14 ADVICE). A mixed batch
    whose first row matches the stored dim must be refused whole."""
    import pytest
    from pyspark.sql import types as T

    from airbnb_cdc_spark.operators.similarity import (
        append_pq_index,
        write_pq_index,
    )

    path = str(tmp_path / "pq")
    write_pq_index(_vecs(spark, range(60)), path, cb_mod=7, cb_rem=1)
    n_before = spark.read.parquet(path + "/codes").count()
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    mixed = spark.createDataFrame(
        [(100, [0.5] * 64), (101, [0.5] * 128)], schema
    ).coalesce(1)
    with pytest.raises(ValueError, match="components"):
        append_pq_index(spark, path, mixed)
    assert spark.read.parquet(path + "/codes").count() == n_before


def test_query_against_empty_store_fails_loud(spark, tmp_path):
    """A flat PQ store's codebook carries its width, so the width guard
    passes even when ``codes/`` holds no row: a non-empty query frame
    must fail loud instead of getting an empty top-k. (The build refuses
    an empty corpus, so the test empties a built store's code table.)"""
    path = str(tmp_path / "pq")
    write_pq_index(_vecs(spark, range(60)), path, cb_mod=7, cb_rem=1)
    codes = spark.read.parquet(path + "/codes").schema
    spark.createDataFrame([], codes).write.mode("overwrite").parquet(
        path + "/codes"
    )
    queries = _vecs(spark, range(3))
    with pytest.raises(ValueError, match="is empty"):
        query_pq_index(spark, path, queries, k=3)
    # an empty query frame still gets an empty answer
    assert query_pq_index(spark, path, queries.limit(0), k=3).count() == 0
