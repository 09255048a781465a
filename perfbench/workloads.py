"""The benchmark's workloads and the pieces they share.

Each workload is a function ``(ctx, traced) -> Result``. It generates its
inputs from ``ctx.seed`` outside any timed region, runs the set-up, then a
closed loop with one client: the next operation starts only after the
previous one returned, until ``ctx.seconds`` have passed and the workload's
least number of cycles has run. Every operation's
output is checked; a check that fails, or an operation that raises, counts
as failed.

- ``registry``: the read path. A fixed slice of the query registry over
  generated star-schema tables, in a seeded order, each query built and then
  timed to a full ``count()``. One operation is one query.
- ``cdc_trickle``: the write path. Set-up loads a warehouse with E1
  (``plans.pipelines.run_all``) from backfill-shaped inputs. Each operation
  (an arrival) lands one small change-feed file, and every second one also
  a small customer CSV, then runs ``run_all`` again; checkpoint and archive
  make it consume only the new files.

Set-up runs ``SETUPS`` times in one process, each time on a fresh copy of
the inputs: the program's per-process stores and memos are keyed by
directory, so every repetition fills them again. The Spark session starts
once. ``setup_s`` is the session start plus the median repetition (of two,
their mean); the first repetition also pays the JVM's warm-up.

The loop repeats whole cycles (one pass over the queries, at least three
times; two arrivals, after one untimed cycle), so every run times the same
mix however fast the machine is. Each cycle (registry) or operation
(cdc_trickle) starts once the JIT compiler is idle. ``op_cpu_s`` takes the
median CPU time of each kind of operation (each query; an arrival with or
without a CSV), then their mean; CPU time leaves out the JIT compiler's.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import layers
import tablegen
from cdcgen import CdcFeed

# End-to-end metrics: (name, unit). Every workload reports all of them.
# Wall-clock times per operation are printed but not gated: on a shared VM
# other guests stretch them more from run to run than the CPU seconds the
# program uses. ``setup_s`` is wall-clock all the same, because the set-up
# time a later change adds must show; it is the median of SETUPS set-ups.
END_TO_END = (
    ("setup_s", "s"),
    ("op_cpu_s", "s"),
)

# The registry slice: one query from each heavy operator family (ANN
# similarity, near-duplicate detection, text), the reference's 17-measure
# aggregation over the star schema, and one query whose Python UDF runs in
# Spark's Python workers. Kept small because the first pass of every query
# runs cold and belongs to set-up.
REGISTRY_QUERIES = (
    "ann_topk_sq8",
    "dedup_simhash",
    "text_stats",
    "booking_customer_aggregation",
    "mm_resize",
)
# sf 0.01 is the scale of the repository's smallest full test data set
# (500 documents, 500 embeddings); sf 0.1 costs about 15 s more per run
REGISTRY_SF = 0.01
# one cycle is one pass over the queries; three passes give each query a
# median. A query's CPU time still jumps when a Python worker's start lands
# in it.
REGISTRY_CYCLES = 3

# set-ups per run; setup_s reports the median. A third set-up cost 6-8 s a
# run, which the time budget of 4 + 22 x 2 runs in 3,420 s could not spare
# next to cdc_trickle's untimed warm-up cycle.
SETUPS = 2

# cdc_trickle sizes: the backfill that set-up loads, then each arrival.
# The backfill is smaller than the reference-scale 20k customers / 150k
# bookings: at that size one run spends 7 s generating, 31 s on the cold
# backfill and 8-11 s on each warm one, which SETUPS backfills per run
# cannot afford. An arrival is still ~2 % of the fact table.
BACKFILL = dict(
    n_customers=3000, n_bookings=20000, n_files=4, cancel_frac=0.04,
    n_bad=20, n_stale=50, n_orphans=10,
)
ARRIVAL = dict(
    n_cancel=150, n_update=100, n_insert=200, n_stale=20, customer_every=2,
    n_customer_changes=60, n_customer_new=20,
)
# the traced run's run_all_incremental leg (see _incremental_leg)
INCREMENTAL_BACKFILL = dict(BACKFILL, n_customers=500, n_bookings=2000, n_files=1)


# -- process-level helpers ------------------------------------------------------


def _stat(path: str) -> tuple[str, list[str]]:
    """(command, fields after the command) of a /proc ``stat`` file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _tree() -> list[int]:
    """This process and all its descendants (the driver JVM and Spark's
    Python workers), from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat(f"/proc/{name}/stat")[1][1])
            except OSError:
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree += kids
        frontier += kids
    return tree


def _cpu_ticks() -> tuple[int, int]:
    """Clock ticks of CPU (user + system) used so far by this process tree,
    including children already reaped (Spark's forked Python workers), and
    the part of them spent by the JVM's JIT compiler threads. Those threads
    live as long as the JVM (``run.py`` turns off their dynamic number), so
    their running total never loses a thread that ended."""
    total = jit = 0
    for pid in _tree():
        try:
            command, fields = _stat(f"/proc/{pid}/stat")
            # fields after the command: utime=11 stime=12 cutime=13 cstime=14
            total += sum(int(x) for x in fields[11:15])
            if command != "java":
                continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                name, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:  # a thread that ended meanwhile
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                jit += int(tf[11]) + int(tf[12])
    return total, jit


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, less the JIT compiler
    threads'. Those compile hot code in the background for minutes after the
    JVM starts, at a pace set by how much CPU the machine leaves them: in a
    run of this benchmark they spent as much CPU as the operation they ran
    beside, or more, and changed most from run to run."""
    total, jit = _cpu_ticks()
    return (total - jit) / os.sysconf("SC_CLK_TCK")


def settle_jit() -> None:
    """Wait until the JIT compiler threads have spent no CPU for 0.3 s, or
    3 s have passed. What follows then starts with no compilation queued,
    however far the compiler had fallen behind on a busy machine, so the
    code it runs is as compiled as the operations before it made it. The
    wait took 0.4-0.6 s."""
    t0 = since = time.perf_counter()
    last = _cpu_ticks()[1]
    while (now := time.perf_counter()) - t0 < 3.0 and now - since < 0.3:
        time.sleep(0.05)
        jit = _cpu_ticks()[1]
        if jit != last:
            last, since = jit, time.perf_counter()


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident memory (VmHWM) in the tree."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total / 1024


def timed(fn, *args, **kwargs):
    """``(result, wall seconds, CPU seconds of the process tree)``."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0, tree_cpu_s() - c0


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    spark: object = None
    _gateway_proc: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, rec=None):
        """The program's own session; a traced run also starts collecting
        micro-batch progress."""
        from pyspark import SparkContext

        from airbnb_cdc_spark import session

        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = getattr(SparkContext._gateway, "proc", None)
        if rec:
            layers.attach(rec, self.spark)
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM (and with it every Python
        worker it started) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc = self._gateway_proc
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=60)
            self.spark = None


# -- results --------------------------------------------------------------------


@dataclass
class Result:
    workload: str
    # (wall, CPU) seconds: the session start, then each set-up repetition
    start: tuple[float, float] = (0.0, 0.0)
    setups: list[tuple[float, float]] = field(default_factory=list)
    # wall seconds of each operation of the (untraced) timed loop, and the
    # median CPU seconds of each kind of operation (a query; an arrival with
    # or without a CSV)
    samples: list[float] = field(default_factory=list)
    op_cpu: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    info: list[str] = field(default_factory=list)
    layer_metrics: dict[str, float] = field(default_factory=dict)
    recorder: object = None  # the traced run's spans

    def record(self, errs: list[str], what: str) -> None:
        """Count one checked operation; ``errs`` empty means it passed."""
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(f"{what}: {e}" for e in errs[:3])

    def setup(self, i: int) -> float:
        """Session start plus the median set-up: wall (0) or CPU (1) seconds."""
        return self.start[i] + statistics.median(x[i] for x in self.setups)

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup(0), "op_cpu_s": statistics.fmean(self.op_cpu.values())}

    def report_lines(self) -> list[str]:
        e2e = self.end_to_end()
        lines = [f"workload {self.workload}"]
        for name, i in (("setup_s", 0), ("setup_cpu_s", 1)):
            reps = ", ".join(f"{x[i]:.2f}" for x in self.setups)
            lines.append(
                f"  {name:<14} {self.setup(i):.4f} s (session start {self.start[i]:.2f}"
                f" + median of {len(self.setups)} set-ups: {reps})"
            )
        lines.append(
            f"  {'op_cpu_s':<14} {e2e['op_cpu_s']:.4f} s"
            f" (mean over {len(self.op_cpu)} kinds of operation of each one's median;"
            f" {len(self.samples)} operations)"
        )
        lines += [f"    {k:<30} {v:.4f} s" for k, v in sorted(self.op_cpu.items())]
        lines.append(
            f"  {'op_p50_s':<14} {statistics.median(self.samples):.4f} s"
            f" (wall, {len(self.samples)} operations)"
        )
        lines.append(f"  {'op_mean_s':<14} {statistics.fmean(self.samples):.4f} s (wall)")
        lines.append(
            f"  {'failed_frac':<14} {self.failed / max(self.attempted, 1):.4f} ratio"
            f" ({self.failed} of {self.attempted})"
        )
        lines += [f"  {x}" for x in self.info]
        lines += [f"  {k:<28} {v:.6g}" for k, v in sorted(self.layer_metrics.items())]
        lines += [f"  ERROR {e}" for e in self.errors[:20]]
        return lines

    def final(self, traced: bool) -> dict:
        units = {m[0]: m[1] for m in (layers.PER_LAYER if traced else END_TO_END)}
        values = self.layer_metrics if traced else self.end_to_end()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }


def _closed_loop(ctx: Context, cycle, recorder, min_cycles: int) -> list[tuple[str, float, float]]:
    """Call ``cycle(recorder, ops)`` — one whole cycle of the workload's mix
    of operations, each appending its (kind, wall, CPU seconds) to ``ops`` —
    until ``ctx.seconds`` have passed and at least ``min_cycles`` cycles
    ran. Returns ``ops``."""
    ops: list[tuple[str, float, float]] = []
    t0, n = time.perf_counter(), 0
    while True:
        cycle(recorder, ops)
        n += 1
        if time.perf_counter() - t0 >= ctx.seconds and n >= min_cycles:
            return ops


def _measure(ctx: Context, res: Result, spark, rec, cycle, min_cycles: int, **summary) -> None:
    """The timed loop with tracing off, which the end-to-end metrics come
    from. In a traced run the loop then runs again with tracing on, and its
    spans give the per-layer metrics."""
    if rec:
        rec.enabled = False
    ops = _closed_loop(ctx, cycle, None, min_cycles)
    res.samples = [w for _, w, _ in ops]
    by_kind: dict[str, list[float]] = {}
    for kind, _, cpu in ops:
        by_kind.setdefault(kind, []).append(cpu)
    res.op_cpu = {k: statistics.median(v) for k, v in by_kind.items()}
    if rec is None:
        return
    peak_rss_mb = tree_peak_rss_mb()
    rec.enabled, rec.run_id = True, 1
    since = time.time()
    traced = [w for _, w, _ in _closed_loop(ctx, cycle, rec, min_cycles)]
    res.layer_metrics = layers.summarize(
        rec, spark, since, n_ops=len(traced), untraced=res.samples, traced=traced,
        peak_rss_mb=peak_rss_mb, **summary,
    )


# -- registry -------------------------------------------------------------------


def oracle_answers(data_dir: str, names) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each query's expected (columns, rows) from its DuckDB oracle SQL."""
    import duckdb

    from airbnb_cdc_spark import queries

    con = duckdb.connect()
    try:
        for t in tablegen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            cur = con.execute(queries.ORACLE_SQL[name])
            out[name] = ([c[0] for c in cur.description], [tuple(r) for r in cur.fetchall()])
        return out
    finally:
        con.close()


def run_registry_pass(spark, data_dir, order, query_fns, expected, res, rec=None, full_check=False):
    """One pass over ``order``: build each query, then run it to a full
    ``count()`` (or ``collect()`` when ``full_check`` compares every row).
    Returns (wall, CPU) seconds per query, None for a query that raised."""
    from airbnb_cdc_spark.session import release_cached

    times = []
    for name in order:
        want_cols, want_rows = expected[name]
        span = rec.open("queries.query", query=name) if rec else None
        t0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            c = rec.open("queries.construct") if rec else None
            df = query_fns[name](spark, data_dir)
            if rec:
                rec.close(c)
            a = rec.open("queries.action") if rec else None
            if full_check:
                got_cols, got_rows = df.columns, [tuple(r) for r in df.collect()]
            else:
                n = df.count()
            if rec:
                rec.close(a)
            times.append((time.perf_counter() - t0, tree_cpu_s() - c0))
            if full_check:
                ok = sorted(got_cols) == sorted(want_cols) and checks.same_result(
                    got_cols, got_rows, want_cols, want_rows
                )
                errs = [] if ok else [f"result differs from its oracle ({len(got_rows)} rows)"]
            else:
                errs = [] if n == len(want_rows) else [f"count {n} != oracle {len(want_rows)}"]
        except Exception as exc:  # a failing query is counted, not fatal
            times.append(None)
            errs = [f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"]
        finally:
            release_cached()
            if rec:
                rec.close(span)
        res.record(errs, name)
    return times


def registry(ctx: Context, traced: bool = False) -> Result:
    res = Result("registry")
    # one copy of the tables per set-up: the program's stores and memos are
    # keyed by directory, so each set-up fills them afresh
    first = tablegen.write_tables(ctx.path("tables0"), ctx.seed, REGISTRY_SF)
    dirs = [first] + [shutil.copytree(first, ctx.path(f"tables{k}")) for k in range(1, SETUPS)]
    expected = oracle_answers(first, REGISTRY_QUERIES)
    order = list(REGISTRY_QUERIES)
    random.Random(ctx.seed).shuffle(order)
    rec = res.recorder = layers.instrument() if traced else None

    spark, *res.start = timed(ctx.start_spark, rec)
    from airbnb_cdc_spark import queries

    for d in dirs:
        # a set-up is one discarded pass: it fills the per-process stores and
        # the table memo, and compares every query's rows with its oracle
        _, wall, cpu = timed(
            run_registry_pass, spark, d, order, queries.QUERIES, expected, res, rec,
            full_check=True,
        )
        res.setups.append((wall, cpu))

    passes = []

    def one_cycle(recorder, ops):
        settle_jit()
        t = time.perf_counter()
        times = run_registry_pass(spark, dirs[-1], order, queries.QUERIES, expected, res, recorder)
        if recorder is None:
            passes.append(time.perf_counter() - t)
        ops.extend((name, *x) for name, x in zip(order, times) if x is not None)

    _measure(ctx, res, spark, rec, one_cycle, REGISTRY_CYCLES)
    res.info.append(
        f"{'registry_s':<14} {statistics.median(passes):.4f} s"
        f" (wall, median pass over {len(order)} queries; {len(passes)} timed)"
    )
    return res


# -- cdc_trickle ----------------------------------------------------------------


def _warehouse_rows(tables: dict) -> tuple[list, list, list]:
    dim = tables["dim_customer"].read().select("customer_id", "email", "country", "total_spent")
    fact = tables["fact_booking"].read().selectExpr(
        "booking_id", "status", "date_format(updated_at, 'yyyy-MM-dd HH:mm:ss')", "total_amount"
    )
    return (
        [tuple(r) for r in dim.toPandas().itertuples(index=False)],
        [tuple(r) for r in fact.toPandas().itertuples(index=False)],
        _aggregate_rows(tables),
    )


def _aggregate_rows(tables: dict) -> list[dict]:
    return [r.asDict() for r in tables["booking_customer_aggregation"].read().collect()]


def check_warehouse(tables: dict, feed: CdcFeed) -> list[str]:
    dim, fact, agg = _warehouse_rows(tables)
    return (
        checks.check_dim(dim, feed.truth)
        + checks.check_fact(fact, feed.truth)
        + checks.check_aggregate(agg, feed.truth)
    )


def _cdc_dirs(root: str) -> tuple[str, ...]:
    return tuple(f"{root}/{x}" for x in ("raw", "archive", "feed", "checkpoint", "warehouse"))


def cdc_trickle(ctx: Context, traced: bool = False) -> Result:
    from airbnb_cdc_spark.plans import pipelines

    res = Result("cdc_trickle")
    # one copy of the backfill inputs per set-up, each into its own fresh
    # warehouse; the arrivals then land in the last one
    roots = [ctx.path(f"cdc{k}") for k in range(SETUPS)]
    feed = CdcFeed(ctx.seed, f"{roots[-1]}/raw", f"{roots[-1]}/feed")
    feed.backfill(**BACKFILL)
    for root in roots[:-1]:
        for sub in ("raw", "feed"):
            shutil.copytree(f"{roots[-1]}/{sub}", f"{root}/{sub}")
    rec = res.recorder = layers.instrument() if traced else None

    spark, *res.start = timed(ctx.start_spark, rec)
    for root in roots:
        tables, wall, cpu = timed(pipelines.run_all, spark, *_cdc_dirs(root))
        res.setups.append((wall, cpu))
        res.record(checks.check_aggregate(_aggregate_rows(tables), feed.truth), "backfill")
    res.info.append(
        f"{'pipeline_s':<14} {statistics.median(w for w, _ in res.setups):.4f} s"
        f" (wall, median of {len(res.setups)} backfills into fresh warehouses, the first cold)"
    )

    def one_cycle(recorder, ops):
        # whole cycles, so every run times the same mix of arrivals
        for _ in range(ARRIVAL["customer_every"]):
            # the arrival's files are generated before the clock starts, and
            # the clock starts once the JIT compiler has caught up
            with_csv = feed.arrival(**ARRIVAL)
            settle_jit()
            span = recorder.open("plans.run_all", csv=with_csv) if recorder else None
            try:
                _, wall, cpu = timed(pipelines.run_all, spark, *_cdc_dirs(roots[-1]))
                ops.append(("arrival with CSV" if with_csv else "arrival", wall, cpu))
                errs = []
            except Exception as exc:
                errs = [f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"]
            finally:
                if recorder:
                    recorder.close(span)
            res.record(errs, f"arrival {feed.arrivals}")

    # one cycle of arrivals before the clock starts: the first arrival of
    # each kind after a backfill runs code that no backfill ran (small merges
    # into a large table, a stream that restarts) while the JVM is still
    # compiling it. Timed after one warm-up arrival without a CSV, an
    # arrival with one read 5.7-7.9 CPU seconds; after a whole cycle, 4.9-5.9.
    one_cycle(None, [])
    _measure(ctx, res, spark, rec, one_cycle, 1, rows_landed=feed.rows_landed)
    # the warehouse after the last arrival must equal the ground truth (the
    # backfill included: its bookings and customers are part of that state)
    res.record(check_warehouse(tables, feed), "warehouse after arrivals")
    if traced:
        _incremental_leg(ctx, spark, rec, res)
    return res


def _incremental_leg(ctx: Context, spark, rec, res: Result) -> None:
    """Traced runs only: E1 through ``run_all_incremental`` (change-captured
    merges and a maintained join view), once on a small backfill and once
    more on one arrival that carries a customer CSV, so both the fact-side
    and the dim-side view maintenance run. ``run_all_incremental`` re-reads
    every file in its feed directory, so consumed feed files are moved out
    before the arrival lands, as a feed with retention would drop them. Its
    aggregate must equal the ground truth that ``run_all`` is checked
    against."""
    from airbnb_cdc_spark.plans import pipelines

    d = ctx.path("incremental")
    feed = CdcFeed(ctx.seed, f"{d}/raw", f"{d}/feed")
    feed.backfill(**INCREMENTAL_BACKFILL)
    since = time.time()
    rec.run_id = 2
    cursors = None
    errs: list[str] = []
    for step in ("backfill", "arrival"):
        if step == "arrival":
            os.makedirs(f"{d}/consumed", exist_ok=True)
            for name in os.listdir(f"{d}/feed"):
                os.replace(f"{d}/feed/{name}", f"{d}/consumed/{name}")
            feed.arrival(**dict(ARRIVAL, customer_every=1))
        span = rec.open("plans.run_all_incremental", step=step)
        try:
            tables = pipelines.run_all_incremental(
                spark, f"{d}/raw", f"{d}/archive", f"{d}/feed", f"{d}/warehouse", cursors
            )
            cursors = tables["cursors"]
            rows = [r.asDict() for r in tables["booking_customer_aggregation"].read().collect()]
            errs = checks.check_aggregate(rows, feed.truth)
        except Exception as exc:
            errs = [f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"]
        finally:
            rec.close(span)
        res.record(errs, f"run_all_incremental {step}")
        if errs:
            break
    res.layer_metrics.update(layers.summarize_incremental(rec, spark, since))


WORKLOADS = {"registry": registry, "cdc_trickle": cdc_trickle}
