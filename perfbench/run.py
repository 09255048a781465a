"""The repository's benchmark: one workload per call, one JSON result line.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It builds its inputs from ``--seed``
inside ``perfbench/.work/`` (removed at exit), runs the workload's set-up,
then a closed loop (one client, one process, Spark ``local[<cores>]``)
for ``--seconds``, and checks every output. It prints the metrics by name
with units and sample counts, then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the loop runs once untraced and once traced, the metrics
are the per-layer ones (see ``layers.py``), and the spans are kept in
``perfbench/.work/trace-<workload>-<seed>.json``.

A checkout without the program (``airbnb_cdc_spark/``) exits with code 2
and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str, traced: bool) -> None:
    """Keep every file Spark and Python write inside ``work`` and let
    Spark's Python workers import the program. A traced run keeps every
    job and stage in the UI's store, for the REST API to attribute."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # compiler threads that live as long as the JVM, so the CPU time
        # they spend can be told apart from the program's (workloads.py)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if traced:
        confs.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a termination request unwinds like an error: Spark is stopped and the
    # work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "airbnb_cdc_spark", "__init__.py")):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import workloads  # noqa: E402  (after sys.path is set)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    try:
        _prepare_env(work, bool(args.trace))
        ctx = workloads.Context(work=work, seed=args.seed, seconds=args.seconds)
        try:
            result = workloads.WORKLOADS[args.workload](ctx, traced=bool(args.trace))
        finally:
            ctx.shutdown()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if result.recorder is not None:
        trace = os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json")
        result.recorder.write(trace)
        result.info.append(f"{'trace':<14} {len(result.recorder.spans)} spans in {trace}")
    for line in result.report_lines():
        print(line)
    print(json.dumps(result.final(traced=bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
