"""r17 optimization measurement harness (guide §1).

Two modes over registered queries, and one over the E1 pipeline:

    # Capture .explain("formatted") snapshots (plans/r17/<q>_<tag>.txt):
    python scripts/opt_profile.py plans q1 q2 ... --tag before

    # Time queries with the noop sink (computes EVERY column — §1.4),
    # min-of-N, labeled jobs; prints one JSON line per query:
    python scripts/opt_profile.py time q1 q2 ... --reps 3

`time` uses the noop sink *in addition to* the bench's count() so the
two methodologies stay distinguishable: bench.py remains the driver
contract (count()), this harness is the isolation instrument.

Per rep, `time` also splits the CPU seconds of the query (construct +
action) by process, read from /proc around it: the driver Python
process (`cpu_driver_py`), the JVM less its C1/C2 JIT compiler threads
(`cpu_jvm`), the Python workers under the JVM (`cpu_workers`, reaped
ones included) and the other children the JVM forked and reaped
(`cpu_jvm_children`, e.g. Hadoop's chmod calls). `tasks` counts the
tasks the query's jobs ran. A bench's tree total hides which process
pays; a fixed cost per Python task shows as `cpu_workers` growing with
`tasks`, not with rows.

`arrival` dissects ``cdc_trickle``'s operation, an E1 ``run_all`` over a
small arrival. It backfills a warehouse with perfbench's generator and
sizes (``perfbench/cdcgen.py``, ``perfbench/workloads.py``, imported
and left unchanged), runs ``--warm-arrivals`` arrivals untimed, then K timed
ones, and prints one JSON line per arrival and phase::

    python scripts/opt_profile.py arrival --arrivals 4 --seed 7

The phases are the whole arrival (``arrival``), the customer dim load
(``dim``), the fact stream (``fact_stream``), every merge-table
``merge`` and ``overwrite``, and the aggregate refresh (``aggregate``);
they nest, so each line is inclusive. Each line holds the driver
Python's CPU (`cpu_driver_py`), the JVM's less its C1/C2 compiler
threads (`cpu_jvm`), the CPU of the JVM's reaped children
(`cpu_jvm_children`: Hadoop's chmod and readlink forks on a local file
system without the native library), Spark jobs and stages (both read
from the DAGScheduler's id counters: a stage is counted when it is
created, so one shuffle fewer is one stage fewer), the parquet files that
appeared under the warehouse (`files`) and the delta of the
``processes`` counter in ``/proc/stat``. That counter counts every fork
and every thread created on the whole machine, not only this run's, so
read it on an otherwise idle machine. The probes' own cost (a few ms of
driver CPU each) lands in the enclosing phase.
"""

from __future__ import annotations

import argparse
import functools
import io
import json
import os
import sys
import tempfile
import time
from collections import Counter
from contextlib import contextmanager, redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from airbnb_cdc_spark import queries as q  # noqa: E402
from airbnb_cdc_spark.session import get_spark, release_cached  # noqa: E402


def _stat(path: str) -> tuple[str, list[str]]:
    """(command, fields after the command) of a /proc ``stat`` file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


class _Cpu:
    """CPU seconds used so far by this process (``driver_py``), by its
    JVM less the C1/C2 JIT compiler threads (``jvm``), by the children
    the JVM has reaped (``jvm_children``) and, on request, by the JVM's
    Python workers, reaped ones included (``workers``). The JVM and its
    compiler threads, which live as long as the JVM under
    -XX:-UseDynamicNumberOfCompilerThreads, are found once: a walk of
    every process and JVM thread per sample costs more driver CPU than
    an E1 arrival spends. Fields after the command in a stat file:
    ppid=1 utime=11 stime=12 cutime=13 cstime=14."""

    def __init__(self) -> None:
        self.jvm = next(
            (pid for pid, (command, ppid) in _processes().items()
             if command == "java" and ppid == os.getpid()),
            None,
        )
        if self.jvm is None:
            raise RuntimeError("no JVM under this process")
        self.jit = [
            tid
            for tid in os.listdir(f"/proc/{self.jvm}/task")
            if _stat(f"/proc/{self.jvm}/task/{tid}/stat")[0].startswith(
                ("C1 CompilerThre", "C2 CompilerThre")
            )
        ]
        self.ticks = os.sysconf("SC_CLK_TCK")

    def sample(self, workers: bool = False) -> dict[str, float]:
        me = _stat("/proc/self/stat")[1]
        jvm = _stat(f"/proc/{self.jvm}/stat")[1]
        jit = sum(
            int(tf[11]) + int(tf[12])
            for tf in (_stat(f"/proc/{self.jvm}/task/{t}/stat")[1] for t in self.jit)
        )
        split = {
            "driver_py": int(me[11]) + int(me[12]),
            "jvm": int(jvm[11]) + int(jvm[12]) - jit,
            "jvm_children": int(jvm[13]) + int(jvm[14]),
        }
        if workers:
            split["workers"] = self._workers()
        return {k: v / self.ticks for k, v in split.items()}

    def _workers(self) -> int:
        """Ticks of the Python processes under the JVM and their reaped
        children."""
        procs = _processes()
        ticks, frontier = 0, [self.jvm]
        while frontier:
            up = frontier.pop()
            kids = [p for p, (_, ppid) in procs.items() if ppid == up]
            frontier += kids
            for kid in kids:
                if procs[kid][0].startswith("python"):
                    try:
                        ticks += sum(int(x) for x in _stat(f"/proc/{kid}/stat")[1][11:15])
                    except OSError:  # a worker that ended meanwhile
                        continue
        return ticks


def _processes() -> dict[int, tuple[str, int]]:
    """pid -> (command, parent pid) of every process."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                command, fields = _stat(f"/proc/{name}/stat")
            except OSError:
                continue
            procs[int(name)] = (command, int(fields[1]))
    return procs


def tasks_run(sc, group: str) -> int:
    """Tasks the jobs of ``group`` ran (a skipped stage runs none)."""
    # the status store fills from the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    return sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)


def _machine_processes() -> int:
    """Forks and threads created on the whole machine since boot."""
    with open("/proc/stat") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("processes "))


class _Probe:
    """Per-phase counters of one E1 run; see the module docstring."""

    def __init__(self, spark, warehouse: str) -> None:
        self.warehouse = warehouse
        self.dag = spark.sparkContext._jsc.sc().dagScheduler()
        # nextStageId has no public accessor: read the field itself
        self.next_stage = self.dag.getClass().getDeclaredField("nextStageId")
        self.next_stage.setAccessible(True)
        self.cpu = _Cpu()
        self.totals: dict[str, Counter] = {}

    def _files(self) -> set[str]:
        return {
            os.path.join(d, f)
            for d, _, fs in os.walk(self.warehouse)
            for f in fs
            if f.endswith(".parquet")
        }

    def _sample(self) -> dict:
        sample = {f"cpu_{k}": v for k, v in self.cpu.sample().items()}
        sample.update(
            jobs=int(self.dag.nextJobId()),  # py4j hands the AtomicInteger over as an int
            stages=int(self.next_stage.get(self.dag)),
            processes=_machine_processes(),
            files=self._files(),
            wall_s=time.perf_counter(),
        )
        return sample

    @contextmanager
    def phase(self, name: str):
        s0 = self._sample()
        try:
            yield
        finally:
            s1 = self._sample()
            acc = self.totals.setdefault(name, Counter())
            acc["calls"] += 1
            acc["files"] += len(s1.pop("files") - s0.pop("files"))
            for k, v in s1.items():
                acc[k] += v - s0[k]

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def probed(*args, **kwargs):
            with self.phase(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, probed)


def arrivals(args) -> None:
    """The ``arrival`` mode: see the module docstring."""
    sys.path.insert(0, str(REPO / "perfbench"))
    import workloads  # noqa: E402  (perfbench's sizes and JIT settle)
    from cdcgen import CdcFeed  # noqa: E402

    from airbnb_cdc_spark.operators.merge import ParquetMergeTable
    from airbnb_cdc_spark.plans import pipelines

    root = args.workdir or tempfile.mkdtemp(prefix="opt_profile_arrival_")
    dirs = [os.path.join(root, x) for x in ("raw", "archive", "feed", "checkpoint", "warehouse")]
    feed = CdcFeed(args.seed, dirs[0], dirs[2])
    feed.backfill(**workloads.BACKFILL)
    spark = get_spark("opt_profile")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pipelines.run_all(spark, *dirs)  # the backfill, untimed
        probe = _Probe(spark, dirs[4])
        probe.wrap(pipelines, "run_customer_dim", "dim")
        probe.wrap(pipelines, "run_booking_fact_stream", "fact_stream")
        probe.wrap(pipelines, "refresh_booking_aggregation", "aggregate")
        probe.wrap(ParquetMergeTable, "merge", "merge")
        probe.wrap(ParquetMergeTable, "overwrite", "overwrite")
        for i in range(args.warm_arrivals + args.arrivals):
            with_csv = feed.arrival(**workloads.ARRIVAL)
            workloads.settle_jit()
            probe.totals.clear()
            with probe.phase("arrival"):
                pipelines.run_all(spark, *dirs)
            if i < args.warm_arrivals:
                continue
            for name in ("arrival", "dim", "fact_stream", "merge", "overwrite", "aggregate"):
                acc = probe.totals.get(name, Counter())
                record = {"arrival": i - args.warm_arrivals, "csv": with_csv, "phase": name}
                record.update({k: round(v, 3) for k, v in sorted(acc.items())})
                print(json.dumps(record), flush=True)
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["plans", "time", "arrival"])
    ap.add_argument("names", nargs="*", help="query names; empty = all")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--round", default="r18", help="plans/<round>/ output dir")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sink", choices=["noop", "count"], default="noop")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm", action="store_true", help="run each query once untimed first")
    ap.add_argument("--arrivals", type=int, default=4, help="arrival: timed arrivals")
    ap.add_argument("--warm-arrivals", dest="warm_arrivals", type=int, default=2,
                    help="arrival: untimed arrivals after the backfill")
    ap.add_argument("--seed", type=int, default=7, help="arrival: generator seed")
    ap.add_argument("--workdir", help="arrival: warehouse root (default: a new temp dir)")
    args = ap.parse_args()

    if args.mode != "plans":
        # compiler threads that live as long as the JVM, so the CPU they
        # spend is told apart exactly (_Cpu); the repo root lets
        # Spark's Python workers import the program from any directory
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.driver.extraJavaOptions=-XX:-UseDynamicNumberOfCompilerThreads"
            " pyspark-shell"
        )
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
        )
    if args.mode == "arrival":
        arrivals(args)
        return

    names = args.names or list(q.QUERIES)
    unknown = [n for n in names if n not in q.QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("opt_profile")
    spark.sparkContext.setLogLevel("ERROR")

    if args.mode == "plans":
        outdir = REPO / "plans" / args.round
        outdir.mkdir(parents=True, exist_ok=True)
        for name in names:
            df = q.QUERIES[name](spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            release_cached()
            (outdir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
            print(f"wrote plans/{args.round}/{name}_{args.tag}.txt")
        return

    # time mode
    probe = _Cpu()
    for name in names:
        fn = q.QUERIES[name]
        if args.warm:
            try:
                fn(spark, args.sf_dir).count()
            except Exception:
                pass
            release_cached()
        best, runs = float("inf"), []
        cpu = {k: [] for k in ("driver_py", "jvm", "workers", "jvm_children")}
        tasks = []
        sc = spark.sparkContext
        for rep in range(args.reps):
            group = f"opt:{name}:{rep}"
            sc.setJobGroup(group, group)
            c0, t0 = probe.sample(workers=True), time.perf_counter()
            df = fn(spark, args.sf_dir)
            if args.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt, c1 = time.perf_counter() - t0, probe.sample(workers=True)
            sc.setLocalProperty("spark.jobGroup.id", None)
            release_cached()
            runs.append(round(dt, 3))
            best = min(best, dt)
            for k in cpu:
                cpu[k].append(round(c1[k] - c0[k], 3))
            tasks.append(tasks_run(sc, group))
        record = {"query": name, "best": round(best, 3), "runs": runs, "sink": args.sink}
        record.update({f"cpu_{k}": v for k, v in cpu.items()})
        record["tasks"] = tasks
        print(json.dumps(record))


if __name__ == "__main__":
    main()
