"""Per-layer metrics of the traced run: what to wrap and how to sum it up.

The layers are the program's modules. ``instrument`` wraps the public
functions each layer exposes at the place its callers look them up;
``summarize`` turns the recorded spans, the Spark stages and jobs attributed
to them, and the micro-batch progress into the metrics below. Unless the
name says otherwise a metric is a mean per operation of the workload (one
query, or one arrival), taken over the traced loop.
"""

from __future__ import annotations

import statistics
import time

from spans import BatchListener, Recorder, rest_epoch, attribute, fetch_spark_work, self_times

# (name, unit, better) — every traced run reports all of them; a layer the
# workload does not reach reads 0. Counts of work and time read "lower";
# the share of core time spent in tasks reads "higher".
PER_LAYER = (
    ("process.peak_rss_mb", "MB", "lower"),
    ("session.get_spark_s", "s", "lower"),
    ("session.load_table.calls", "count", "lower"),
    ("session.load_table_s", "s", "lower"),
    ("queries.construct_s", "s", "lower"),
    ("queries.action_s", "s", "lower"),
    ("queries.construct_jobs", "count", "lower"),
    ("queries.jobs", "count", "lower"),
    ("queries.stages", "count", "lower"),
    ("queries.tasks", "count", "lower"),
    ("similarity.self_s", "s", "lower"),
    ("similarity.jobs", "count", "lower"),
    ("dedup.self_s", "s", "lower"),
    ("dedup.jobs", "count", "lower"),
    ("text.self_s", "s", "lower"),
    ("text.jobs", "count", "lower"),
    ("spark.core_busy_frac", "ratio", "higher"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.output_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("customer_csv.read_s", "s", "lower"),
    ("customer_csv.archive_s", "s", "lower"),
    ("customer_csv.files", "count", "lower"),
    ("cdc.batches", "count", "lower"),
    ("cdc.batch_s", "s", "lower"),
    ("cdc.stream_overhead_s", "s", "lower"),
    ("cdc.rows_in", "count", "lower"),
    ("merge.calls", "count", "lower"),
    ("merge.self_s", "s", "lower"),
    ("merge.jobs", "count", "lower"),
    ("merge.overwrite_s", "s", "lower"),
    ("merge.rows_written", "count", "lower"),
    ("merge.bytes_written", "bytes", "lower"),
    ("merge.rewrite_ratio", "ratio", "lower"),
    ("aggregate.refresh_s", "s", "lower"),
    ("aggregate.jobs", "count", "lower"),
    ("cdf.capture_s", "s", "lower"),
    ("cdf.read_changes_s", "s", "lower"),
    ("cdf.change_rows", "count", "lower"),
    ("matview.fact_delta_s", "s", "lower"),
    ("matview.dim_delta_s", "s", "lower"),
    ("plans.customer_dim_s", "s", "lower"),
    ("plans.booking_fact_s", "s", "lower"),
    ("plans.aggregation_s", "s", "lower"),
    ("plans.unaccounted_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
)


FAMILIES = ("similarity", "dedup", "text")


def instrument() -> Recorder:
    """Wrap every layer's public entry points; returns the recorder."""
    from airbnb_cdc_spark import session
    from airbnb_cdc_spark.operators import aggregate, cdf, dedup, matview, merge, similarity, text
    from airbnb_cdc_spark.plans import pipelines
    from airbnb_cdc_spark.streaming import cdc

    rec = Recorder()
    rec.wrap(session, "get_spark", "session.get_spark")
    rec.wrap(session, "load_table", "session.load_table")
    from airbnb_cdc_spark import queries

    rec.wrap(queries, "load_table", "session.load_table")
    # queries reaches the families through module aliases (_sim.x, ...), so
    # wrapping the module attributes covers every call site
    for family, mod in zip(FAMILIES, (similarity, dedup, text)):
        rec.wrap_module_functions(mod, family)
    rec.wrap(pipelines, "run_customer_dim", "plans.run_customer_dim")
    rec.wrap(pipelines, "read_customer_csv", "customer_csv.read")
    rec.wrap(pipelines, "archive_file", "customer_csv.archive")
    rec.wrap(pipelines, "run_booking_fact_stream", "cdc.run_booking_fact_stream")
    rec.wrap(pipelines, "refresh_booking_aggregation", "aggregate.refresh")
    rec.wrap(cdc, "split_booking_batch", "cdc.split_booking_batch")
    rec.wrap(aggregate, "booking_measures", "aggregate.booking_measures")
    rec.wrap(merge.ParquetMergeTable, "merge", "merge.merge")
    rec.wrap(merge.ParquetMergeTable, "overwrite", "merge.overwrite")
    rec.wrap(cdf.ChangeCapturingMergeTable, "merge", "cdf.merge")
    rec.wrap(cdf.ChangeCapturingMergeTable, "read_changes", "cdf.read_changes")
    rec.wrap(matview.MaterializedJoinView, "apply_fact_delta", "matview.fact_delta")
    rec.wrap(matview.MaterializedJoinView, "apply_dim_delta", "matview.dim_delta")
    return rec


def attach(rec: Recorder, spark) -> None:
    """Start collecting micro-batch progress once the session exists."""
    rec.listener = BatchListener()
    rec.listener.install(spark)


class _Run:
    """Spans of one phase with their self times and Spark counters."""

    def __init__(self, rec: Recorder, spark, since: float, run_id: int) -> None:
        time.sleep(1.0)  # let the listener bus and the status store catch up
        stages, jobs = fetch_spark_work(spark)
        self.spans = rec.spans
        self.self_s = self_times(self.spans)
        self.counters = attribute(self.spans, stages, jobs, since)
        self.ids = [i for i, s in enumerate(self.spans) if s.run_id == run_id]
        self.stages = [st for st in stages if _after(st, since)]
        batches = rec.listener.batches if rec.listener else []
        self.batches = [b for b in batches if b[0] >= since]

    def named(self, prefix: str) -> list[int]:
        return [i for i in self.ids if self.spans[i].name.startswith(prefix)]

    def inclusive(self, prefix: str) -> float:
        """Summed duration of the outermost spans whose name starts with
        ``prefix`` (a span nested in one of the same prefix counts once)."""
        total = 0.0
        for i in self.named(prefix):
            p = self.spans[i].parent
            if p is not None and self.spans[p].name.startswith(prefix):
                continue
            total += self.spans[i].duration
        return total

    def self_time(self, prefix: str) -> float:
        return sum(self.self_s[i] for i in self.named(prefix))

    def count(self, prefix: str, key: str, within: bool = False) -> float:
        """Sum of counter ``key`` attributed to spans named ``prefix`` — or,
        with ``within``, to those spans and everything nested in them."""
        if not within:
            return sum(self.counters[i].get(key, 0) for i in self.named(prefix))
        roots = set(self.named(prefix))
        total = 0
        for i in self.ids:
            j = i
            while j is not None and j not in roots:
                j = self.spans[j].parent
            if j is not None:
                total += self.counters[i].get(key, 0)
        return total


def _after(stage: dict, since: float) -> bool:
    s = rest_epoch(stage.get("submissionTime"))
    return s is not None and s >= since


def summarize(
    rec, spark, since, n_ops, untraced, traced, peak_rss_mb, rows_landed=None
) -> dict[str, float]:
    """Every PER_LAYER metric for the traced loop that began at ``since``
    (``peak_rss_mb`` is the summed VmHWM of the process tree after the
    untraced loop)."""
    run = _Run(rec, spark, since, run_id=1)
    n = max(n_ops, 1)
    wall = sum(traced)
    cores = spark.sparkContext.defaultParallelism
    st = run.stages

    def stage_sum(key: str) -> float:
        return sum(s.get(key) or 0 for s in st)

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m["process.peak_rss_mb"] = peak_rss_mb
    m["session.get_spark_s"] = sum(
        s.duration for s in rec.spans if s.run_id == 0 and s.name == "session.get_spark"
    )
    m["session.load_table.calls"] = len(run.named("session.load_table")) / n
    m["session.load_table_s"] = run.inclusive("session.load_table") / n
    m["queries.construct_s"] = run.inclusive("queries.construct") / n
    m["queries.action_s"] = run.inclusive("queries.action") / n
    m["queries.construct_jobs"] = run.count("queries.construct", "jobs", within=True) / n
    m["queries.jobs"] = run.count("queries.query", "jobs", within=True) / n
    m["queries.stages"] = run.count("queries.query", "stages", within=True) / n
    m["queries.tasks"] = run.count("queries.query", "tasks", within=True) / n
    for family in FAMILIES:
        m[f"{family}.self_s"] = run.self_time(f"{family}.") / n
        m[f"{family}.jobs"] = run.count(f"{family}.", "jobs") / n
    m["spark.core_busy_frac"] = stage_sum("executorRunTime") / 1000 / max(wall * cores, 1e-9)
    m["spark.input_bytes"] = stage_sum("inputBytes") / n
    m["spark.shuffle_read_bytes"] = stage_sum("shuffleReadBytes") / n
    m["spark.shuffle_write_bytes"] = stage_sum("shuffleWriteBytes") / n
    m["spark.output_bytes"] = stage_sum("outputBytes") / n
    m["spark.spill_bytes"] = stage_sum("diskBytesSpilled") / n
    m["spark.gc_s"] = stage_sum("jvmGcTime") / 1000 / n
    m["customer_csv.read_s"] = run.inclusive("customer_csv.read") / n
    m["customer_csv.archive_s"] = run.inclusive("customer_csv.archive") / n
    m["customer_csv.files"] = len(run.named("customer_csv.read")) / n
    m["cdc.batches"] = len(run.batches) / n
    m["cdc.batch_s"] = sum(b[1] for b in run.batches) / n
    m["cdc.stream_overhead_s"] = run.self_time("cdc.run_booking_fact_stream") / n
    m["cdc.rows_in"] = sum(b[2] for b in run.batches) / n
    m["merge.calls"] = len(run.named("merge.merge")) / n
    m["merge.self_s"] = run.self_time("merge.merge") / n
    m["merge.jobs"] = run.count("merge.", "jobs") / n
    m["merge.overwrite_s"] = run.inclusive("merge.overwrite") / n
    rows_written = run.count("merge.", "output_rows")
    m["merge.rows_written"] = rows_written / n
    m["merge.bytes_written"] = run.count("merge.", "output_bytes") / n
    if rows_landed:
        m["merge.rewrite_ratio"] = rows_written / max(sum(rows_landed[-n_ops:]), 1)
    m["aggregate.refresh_s"] = run.inclusive("aggregate.refresh") / n
    m["aggregate.jobs"] = run.count("aggregate.refresh", "jobs", within=True) / n
    m["plans.customer_dim_s"] = run.inclusive("plans.run_customer_dim") / n
    m["plans.booking_fact_s"] = run.inclusive("cdc.run_booking_fact_stream") / n
    m["plans.aggregation_s"] = m["aggregate.refresh_s"]
    if run.named("plans.run_all"):
        phases = m["plans.customer_dim_s"] + m["plans.booking_fact_s"] + m["plans.aggregation_s"]
        m["plans.unaccounted_s"] = run.inclusive("plans.run_all") / n - phases
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    m["trace.spans"] = len(run.ids) / n
    return m


def summarize_incremental(rec, spark, since) -> dict[str, float]:
    """The change-feed layers, from one ``run_all_incremental`` call."""
    run = _Run(rec, spark, since, run_id=2)
    return {
        "cdf.capture_s": run.self_time("cdf.merge"),
        "cdf.read_changes_s": run.inclusive("cdf.read_changes"),
        "cdf.change_rows": run.count("cdf.merge", "output_rows"),
        "matview.fact_delta_s": run.inclusive("matview.fact_delta"),
        "matview.dim_delta_s": run.inclusive("matview.dim_delta"),
    }
