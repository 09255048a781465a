"""Persisted IVF index geometry guard: query/append frames whose
vector width disagrees with the stored centroids must fail loud (the
_stored_pq_geometry class of drift — zip_with truncates silently)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from airbnb_cdc_spark.operators.similarity import (
    append_ivf_index,
    build_ivf_index,
    query_ivf_index,
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


def test_wrong_width_frame_fails_loud(spark, tmp_path):
    """A query or append frame wider than the stored centroids must
    raise instead of scoring silently-truncated cosines (the centroid
    table carries the width)."""
    path = str(tmp_path / "ivf")
    build_ivf_index(
        _vecs(spark, range(60)), path, centroid_mod=11, centroid_rem=3
    )
    wide = spark.createDataFrame([(0, [0.5] * 128)], _SCHEMA)
    with pytest.raises(ValueError, match="components"):
        query_ivf_index(spark, path, wide, k=3)
    with pytest.raises(ValueError, match="components"):
        append_ivf_index(spark, path, wide)


def test_null_query_vector_fails_loud(spark, tmp_path):
    """A NULL query vector has a NULL size in the probe collect; the
    width guard must raise its ValueError naming the query, not a
    TypeError from comparing None with an int."""
    path = str(tmp_path / "ivf")
    build_ivf_index(
        _vecs(spark, range(60)), path, centroid_mod=11, centroid_rem=3
    )
    queries = _vecs(spark, range(3)).union(
        spark.createDataFrame([(77, None)], _SCHEMA)
    )
    with pytest.raises(ValueError, match=r"NULL for query ids \[77\]"):
        query_ivf_index(spark, path, queries, k=3)


def test_query_against_empty_store_fails_loud(spark, tmp_path):
    """A store with no centroids yields an empty probe collect, so the
    width guard has nothing to check: a wrong-width query frame used to
    get an empty top-k without an error. (``build_ivf_index`` refuses an
    empty corpus, so the test empties a built store's centroid table.)"""
    path = str(tmp_path / "ivf")
    build_ivf_index(
        _vecs(spark, range(60)), path, centroid_mod=11, centroid_rem=3
    )
    cents = spark.read.parquet(path + "/centroids").schema
    spark.createDataFrame([], cents).write.mode("overwrite").parquet(
        path + "/centroids"
    )
    wide = spark.createDataFrame([(0, [0.5] * 128)], _SCHEMA)
    with pytest.raises(ValueError, match="is empty"):
        query_ivf_index(spark, path, wide, k=3)
    # an empty query frame still gets an empty answer
    assert query_ivf_index(spark, path, wide.limit(0), k=3).count() == 0


def test_mixed_width_append_batch_fails_loud(spark, tmp_path):
    """A mixed-width append batch whose FIRST row matches the stored
    centroid width slipped past the limit-1 probe (r14 ADVICE); the
    post-persist full min/max check over the quantized batch must
    refuse the whole batch before any list is touched."""
    import pytest
    from pyspark.sql import types as T

    from airbnb_cdc_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(_vecs(spark, range(60)), path)
    n_before = spark.read.parquet(path + "/lists").count()
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    mixed = spark.createDataFrame(
        [(100, [0.5] * 64), (101, [0.5] * 128)], schema
    ).coalesce(1)
    with pytest.raises(ValueError, match="mixed|components"):
        append_ivf_index(spark, path, mixed)
    assert spark.read.parquet(path + "/lists").count() == n_before


def test_plain_ivf_compaction_defragments_and_preserves_answers(
    spark, tmp_path
):
    """compact_ivf_lists is layout-generic (r16): a plain build_ivf_index
    store fragments exactly like the IVF-PQ store (one file per touched
    list per append batch) and the same compactor must defragment it
    with every query answer bit-identical."""
    import os

    from airbnb_cdc_spark.operators.similarity import compact_ivf_lists

    path = str(tmp_path / "ivf")
    build_ivf_index(
        _vecs(spark, range(60)), path, centroid_mod=11, centroid_rem=3
    )
    for lo in range(100, 160, 10):  # 6 append batches
        assert append_ivf_index(
            spark, path, _vecs(spark, range(lo, lo + 10))
        ) == 10

    lists_dir = os.path.join(path, "lists")

    def files_per_list():
        return {
            d: sum(1 for f in os.listdir(os.path.join(lists_dir, d))
                   if f.endswith(".parquet"))
            for d in os.listdir(lists_dir) if d.startswith("cid=")
        }

    before = files_per_list()
    assert max(before.values()) > 4  # appends fragmented the hot lists
    qs = _vecs(spark, [0, 105])
    want = sorted(map(tuple, query_ivf_index(spark, path, qs, k=5,
                                             nprobe=3).collect()))

    n_compacted = compact_ivf_lists(spark, path, max_files=4)
    assert n_compacted == sum(1 for v in before.values() if v > 4)
    after = files_per_list()
    assert max(after.values()) <= 4
    assert set(after) == set(before)  # no list lost
    got = sorted(map(tuple, query_ivf_index(spark, path, qs, k=5,
                                            nprobe=3).collect()))
    assert got == want and got
    assert compact_ivf_lists(spark, path, max_files=4) == 0  # idempotent


def test_plain_ivf_append_mid_compaction_crash_no_loss_no_dup(
    spark, tmp_path
):
    """The append-during-crashed-compaction windows now pinned for the
    IVF-PQ store hold for the plain-IVF store too: append_ivf_index
    runs the same _recover_parked_lists preamble, so an append landing
    after an S1 crash (victim parked at .old, live missing) restores
    the list first — replay-zero for existing ids, no duplicate rows,
    no lost rows."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "ivf")
    build_ivf_index(
        _vecs(spark, range(60)), path, centroid_mod=11, centroid_rem=3
    )
    lists_dir = os.path.join(path, "lists")
    by_cid = (
        spark.read.parquet(lists_dir)
        .groupBy("cid")
        .agg(F.collect_list("vec_id").alias("ids"))
        .collect()
    )
    victim = max(by_cid, key=lambda r: len(r.ids))
    replayed = sorted(victim.ids)[:3]
    live = os.path.join(lists_dir, f"cid={victim.cid}")
    os.rename(live, live + ".old")  # S1 crash window

    assert append_ivf_index(
        spark, path, _vecs(spark, replayed + [500, 501])
    ) == 2
    assert os.path.exists(live) and not os.path.exists(live + ".old")
    ids = [r.vec_id for r in spark.read.parquet(lists_dir).collect()]
    assert len(ids) == len(set(ids))
    assert set(ids) == set(range(60)) | {500, 501}
