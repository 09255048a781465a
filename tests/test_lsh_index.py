"""Persisted sign-LSH bucket store contract: store queries equal the
in-session lsh_topk (single- and multi-probe), the lists scan prunes
to the probed bucket partitions, appends hash with the FROZEN (bits,
dim) family with replay-zero, width drift fails loud, and the generic
lists compactor applies with part_col='bucket'."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbnb_cdc_spark.operators.similarity import (
    append_lsh_index,
    build_lsh_index,
    lsh_topk,
    query_lsh_index,
)

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _vecs(spark, ids):
    rows = [
        (i, [((((i * 31 + d * 7) % 257) - 128) / 128.0) for d in range(64)])
        for i in ids
    ]
    return spark.createDataFrame(rows, _SCHEMA)


@pytest.mark.parametrize("nprobe", [1, 3], ids=["single", "multiprobe"])
def test_store_query_equals_in_session_and_prunes(spark, tmp_path, nprobe):
    import os
    import re

    corpus = _vecs(spark, range(120))
    queries = _vecs(spark, range(0, 120, 40))
    path = str(tmp_path / "lsh")
    build_lsh_index(corpus, path, bits=4)
    out = query_lsh_index(spark, path, queries, k=3, nprobe=nprobe)
    stored = sorted(map(tuple, out.collect()))
    insess = sorted(
        map(
            tuple,
            lsh_topk(corpus, queries, k=3, bits=4, nprobe=nprobe).collect(),
        )
    )
    assert stored == insess
    assert len(stored) > 0

    # partition pruning: only the probed bucket= directories are read
    n_parts = len(
        [d for d in os.listdir(path + "/lists") if d.startswith("bucket=")]
    )
    lists_files = [f for f in out.inputFiles() if "/lists/" in f]
    assert lists_files, "lists scan reads no bucket directory"
    probed = {re.search(r"bucket=(\d+)", f).group(1) for f in lists_files}
    assert len(probed) <= 3 * nprobe, (sorted(probed), n_parts)


def test_append_frozen_family_and_replay_zero(spark, tmp_path):
    path = str(tmp_path / "lsh")
    build_lsh_index(_vecs(spark, range(80)), path, bits=4)
    meta_before = spark.read.parquet(path + "/meta").collect()
    batch = _vecs(spark, range(200, 220))
    assert append_lsh_index(spark, path, batch) == 20
    assert append_lsh_index(spark, path, batch) == 0  # replay-zero
    assert spark.read.parquet(path + "/meta").collect() == meta_before
    # the store answers over old + new under the same hash family:
    # probing every bucket (nprobe capped at bits+1 probes all 16 at
    # bits=4 only if reachable; use a large k + all-bucket probe via
    # in-session parity instead)
    qs = _vecs(spark, [0])
    got = sorted(map(tuple, query_lsh_index(spark, path, qs, k=200,
                                            nprobe=5).collect()))
    want = sorted(
        map(
            tuple,
            lsh_topk(
                _vecs(spark, list(range(80)) + list(range(200, 220))),
                qs, k=200, bits=4, nprobe=5,
            ).collect(),
        )
    )
    assert got == want and got


def test_empty_corpus_build_fails_loud(spark, tmp_path):
    """Freezing a hash family over zero rows would make every later
    query/append silently return empty — build refuses instead (the
    SQ8 scale's build-time contract, r16 ADVICE)."""
    empty = _vecs(spark, [])
    for bits in (4, None):  # explicit width AND the auto_bits path
        with pytest.raises(ValueError, match="empty corpus"):
            build_lsh_index(empty, str(tmp_path / f"lsh{bits}"), bits=bits)


def test_wrong_width_fails_loud(spark, tmp_path):
    path = str(tmp_path / "lsh")
    build_lsh_index(_vecs(spark, range(60)), path, bits=4)
    wide = spark.createDataFrame([(0, [0.5] * 128)], _SCHEMA)
    with pytest.raises(ValueError, match="components"):
        query_lsh_index(spark, path, wide, k=3)
    with pytest.raises(ValueError, match="components"):
        append_lsh_index(spark, path, wide)


def test_generic_compactor_applies_with_bucket_part_col(spark, tmp_path):
    import os

    from airbnb_cdc_spark.operators.similarity import compact_ivf_lists

    path = str(tmp_path / "lsh")
    build_lsh_index(_vecs(spark, range(60)), path, bits=2)  # few, hot buckets
    for lo in range(100, 160, 10):
        assert append_lsh_index(
            spark, path, _vecs(spark, range(lo, lo + 10))
        ) == 10
    lists_dir = os.path.join(path, "lists")
    qs = _vecs(spark, [0, 105])
    want = sorted(map(tuple, query_lsh_index(spark, path, qs, k=5,
                                             nprobe=2).collect()))
    assert compact_ivf_lists(spark, path, max_files=4,
                             part_col="bucket") > 0
    per_bucket = {
        d: sum(1 for f in os.listdir(os.path.join(lists_dir, d))
               if f.endswith(".parquet"))
        for d in os.listdir(lists_dir) if d.startswith("bucket=")
    }
    assert max(per_bucket.values()) <= 4
    got = sorted(map(tuple, query_lsh_index(spark, path, qs, k=5,
                                            nprobe=2).collect()))
    assert got == want and got


def test_query_against_empty_store_fails_loud(spark, tmp_path):
    """LSH probes come from the query alone, so a store whose lists hold
    no row still yields probes: a non-empty query frame must fail loud
    instead of getting an empty top-k. (The build refuses an empty
    corpus, so the test empties a built store's lists.)"""
    path = str(tmp_path / "lsh")
    build_lsh_index(_vecs(spark, range(60)), path, bits=4)
    lists = spark.read.parquet(path + "/lists").schema
    spark.createDataFrame([], lists).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path + "/lists")
    queries = _vecs(spark, range(3))
    with pytest.raises(ValueError, match="is empty"):
        query_lsh_index(spark, path, queries, k=3)
    # an empty query frame still gets an empty answer
    assert query_lsh_index(spark, path, queries.limit(0), k=3).count() == 0


def test_probes_that_reach_no_list_get_an_empty_top_k(spark, tmp_path):
    """A non-empty store whose probed bucket holds no vector answers
    with an empty top-k: no corpus vector landed there."""
    import os
    import shutil

    path = str(tmp_path / "lsh")
    build_lsh_index(_vecs(spark, range(60)), path, bits=4)
    own = spark.read.parquet(path + "/lists").filter("vec_id = 0").first().bucket
    shutil.rmtree(os.path.join(path, "lists", f"bucket={own}"))
    assert any(d.startswith("bucket=") for d in os.listdir(path + "/lists"))
    out = query_lsh_index(spark, path, _vecs(spark, [0]), k=3, nprobe=1)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0
