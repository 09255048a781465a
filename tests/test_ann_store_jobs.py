"""Spark jobs per stored-ANN registry query, counted (not timed): the
query only, with its store already built and its artifact probes
memoized. Each pin is the count at the time the six store layouts
became one partitioner x codec store; the earlier counts are kept
beside them. A change that adds a job to a stored query fails here."""

from __future__ import annotations

import pytest

from __spark_entry__ import SMOKE_SF_DIR as SF_DIR
from airbnb_cdc_spark import queries
from airbnb_cdc_spark.session import release_cached

# query -> (jobs before the one store, jobs now). The flat SQ8 and PQ
# stores check their query widths from one collect, not a two-job
# aggregate.
JOBS = {
    "ann_topk_lsh": (6, 6),
    "ann_topk_lsh_multiprobe": (6, 6),
    "ann_topk_ivf": (8, 8),
    "ann_topk_ivf_nprobe": (8, 8),
    "ann_topk_sq8": (6, 5),
    "ann_topk_ivf_sq8": (9, 9),
    "ann_topk_pq": (11, 10),
    "ann_topk_ivf_pq": (10, 10),
}


@pytest.mark.parametrize("name", list(JOBS))
def test_stored_ann_query_jobs(spark, spark_jobs, name):
    fn = queries.QUERIES[name]
    fn(spark, SF_DIR).collect()  # builds the store, memoizes its probes
    release_cached()
    with spark_jobs(spark) as c:
        rows = fn(spark, SF_DIR).collect()
    release_cached()
    assert rows
    assert c["jobs"] == JOBS[name][1] <= JOBS[name][0]
