"""Fan-out sizing of ``session.ensure_parallelism``, pinned by counters
(tasks, partitions, exchanges), never by seconds.

A stage that runs in Python workers widens to
``min(defaultParallelism, ceil(scan_bytes / openCostInBytes))``
partitions; every other stage still widens to ``defaultParallelism``.
"""

from __future__ import annotations

import math
import os
import sys
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from opt_profile import tasks_run  # noqa: E402

from airbnb_cdc_spark.operators.multimodal import (  # noqa: E402
    documents_as_binary,
    resize_images,
)
from airbnb_cdc_spark.session import (  # noqa: E402
    _byte_conf,
    ensure_parallelism,
    load_table,
)

SF = "/root/testdata/sf0.001"


def _collect_counting_tasks(df):
    """Collect ``df``; return (rows, tasks its jobs ran)."""
    sc = df.sparkSession.sparkContext
    group = f"fan_out_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, tasks_run(sc, group)


def test_small_python_stage_runs_one_task_without_exchange(spark):
    docs = documents_as_binary(load_table(spark, SF, "documents"))
    out = resize_images(docs)
    rows, tasks = _collect_counting_tasks(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert rows
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan
    assert tasks == 1


def test_large_python_stage_input_widens_by_open_cost(spark, tmp_path):
    open_cost = _byte_conf(spark, "spark.sql.files.openCostInBytes", 4 * 1024**2)
    table = pa.table(
        {"doc_id": list(range(9)), "payload": [os.urandom(1024**2) for _ in range(9)]}
    )
    path = tmp_path / "part-0.parquet"
    pq.write_table(table, str(path))
    n_bytes = os.path.getsize(path)
    assert n_bytes > 2 * open_cost

    df = spark.read.parquet(str(tmp_path))
    want = min(spark.sparkContext.defaultParallelism, math.ceil(n_bytes / open_cost))
    assert want > 1
    assert ensure_parallelism(df, python_workers=True).rdd.getNumPartitions() == want


def test_catalyst_stage_still_widens_to_default_parallelism(spark):
    docs = load_table(spark, SF, "documents")
    assert docs.rdd.getNumPartitions() == 1
    widened = ensure_parallelism(docs)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # the same 64 KB scan feeding a Python stage stays one partition
    assert ensure_parallelism(docs, python_workers=True) is docs


def test_non_file_frame_is_returned_unchanged(spark):
    df = spark.range(100)
    assert ensure_parallelism(df) is df
    assert ensure_parallelism(df, python_workers=True) is df
