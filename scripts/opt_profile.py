"""r17 optimization measurement harness (guide §1).

Two modes over registered queries:

    # Capture .explain("formatted") snapshots (plans/r17/<q>_<tag>.txt):
    python scripts/opt_profile.py plans --tag before q1 q2 ...

    # Time queries with the noop sink (computes EVERY column — §1.4),
    # min-of-N, labeled jobs; prints one JSON line per query:
    python scripts/opt_profile.py time --reps 3 q1 q2 ...

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
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
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


def _cpu_split() -> dict[str, float]:
    """CPU seconds used so far by this process, by its JVM (less the
    JIT compiler threads), by the JVM's Python workers and by the other
    children the JVM has reaped. Fields after the command in a stat
    file: utime=11 stime=12 cutime=13 cstime=14."""
    parent, command = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                command[int(name)], fields = _stat(f"/proc/{name}/stat")
            except OSError:
                continue
            parent[int(name)] = int(fields[1])
    ticks = os.sysconf("SC_CLK_TCK")
    me = _stat(f"/proc/{os.getpid()}/stat")[1]
    split = {"driver_py": int(me[11]) + int(me[12]), "jvm": 0, "workers": 0, "jvm_children": 0}
    for jvm in (p for p, pp in parent.items() if pp == os.getpid() and command[p] == "java"):
        try:
            fields = _stat(f"/proc/{jvm}/stat")[1]
            tids = os.listdir(f"/proc/{jvm}/task")
        except OSError:
            continue
        split["jvm"] += int(fields[11]) + int(fields[12])
        split["jvm_children"] += int(fields[13]) + int(fields[14])
        for tid in tids:
            try:
                name, tf = _stat(f"/proc/{jvm}/task/{tid}/stat")
            except OSError:  # a thread that ended meanwhile
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                split["jvm"] -= int(tf[11]) + int(tf[12])
        frontier = [jvm]
        while frontier:
            up = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == up]
            frontier += kids
            for kid in kids:
                try:
                    fields = _stat(f"/proc/{kid}/stat")[1]
                except OSError:
                    continue
                if command[kid].startswith("python"):
                    split["workers"] += sum(int(x) for x in fields[11:15])
    return {k: v / ticks for k, v in split.items()}


def tasks_run(sc, group: str) -> int:
    """Tasks the jobs of ``group`` ran (a skipped stage runs none)."""
    # the status store fills from the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    return sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["plans", "time"])
    ap.add_argument("names", nargs="*", help="query names; empty = all")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--round", default="r18", help="plans/<round>/ output dir")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sink", choices=["noop", "count"], default="noop")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm", action="store_true", help="run each query once untimed first")
    args = ap.parse_args()

    names = args.names or list(q.QUERIES)
    unknown = [n for n in names if n not in q.QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if args.mode == "time":
        # compiler threads that live as long as the JVM, so the CPU they
        # spend is told apart exactly (_cpu_split); the repo root lets
        # Spark's Python workers import the program from any directory
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.driver.extraJavaOptions=-XX:-UseDynamicNumberOfCompilerThreads"
            " pyspark-shell"
        )
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
        )
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
            c0, t0 = _cpu_split(), time.perf_counter()
            df = fn(spark, args.sf_dir)
            if args.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt, c1 = time.perf_counter() - t0, _cpu_split()
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
