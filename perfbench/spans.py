"""Span recorder for the traced run, with Spark counters attributed to spans.

Spans are recorded from outside the program: ``Recorder.wrap`` replaces a
function or method at the place the caller looks it up (a module attribute
or a class attribute) with a wrapper that opens a span around each call.
There is one span stack for the whole process, not one per thread: Spark
runs a ``foreachBatch`` body on a py4j callback thread while the caller
blocks in ``awaitTermination``, and that body belongs under the caller's
span.

Spark work is attributed afterwards. Stages and jobs come from the UI's REST
API; each goes to the innermost span whose interval contains it.
Micro-batch durations come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import operator
import threading
import time
import types
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    children cover (children clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end if p.end is not None else s.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [
        max(s.duration - _union_length(kids.get(i, [])), 0.0) for i, s in enumerate(spans)
    ]


class _Wrapper:
    """Callable stand-in for a wrapped function. Pickles as the original,
    so a wrapped function shipped to a Python worker arrives unwrapped."""

    def __init__(self, fn, name: str, recorder: "Recorder") -> None:
        self.__wrapped__ = fn
        self.__name__ = getattr(fn, "__name__", name)
        self.__doc__ = getattr(fn, "__doc__", None)
        self._name = name
        self._recorder = recorder

    def __call__(self, *args, **kwargs):
        if not self._recorder.enabled:
            return self.__wrapped__(*args, **kwargs)
        idx = self._recorder.open(self._name)
        try:
            return self.__wrapped__(*args, **kwargs)
        finally:
            self._recorder.close(idx)

    def __get__(self, obj, objtype=None):
        # bound like a plain function when installed as a method
        if obj is None:
            return self
        return lambda *a, **k: self(obj, *a, **k)

    def __reduce__(self):
        return (operator.itemgetter(0), ((self.__wrapped__,),))


class Recorder:
    """Keeps spans in memory; ``write`` dumps them as JSON at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.run_id = 0
        # wrappers pass calls straight through while this is False
        self.enabled = True
        self.listener: BatchListener | None = None

    def open(self, name: str, **attrs) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.time(), None, parent, self.run_id, attrs))
            idx = len(self.spans) - 1
            self._stack.append(idx)
            return idx

    def close(self, idx: int) -> None:
        with self._lock:
            self.spans[idx].end = time.time()
            if idx in self._stack:
                # unwind to this span even if an inner one was left open by
                # an exception path that skipped its close
                del self._stack[self._stack.index(idx) :]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with
        a span-recording wrapper."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if not isinstance(original, _Wrapper):
            setattr(owner, attr, _Wrapper(original, name, self))

    def wrap_module_functions(self, module, prefix: str) -> None:
        """Wrap every public plain function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and isinstance(fn, types.FunctionType)
                and fn.__module__ == module.__name__
            ):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "run_id": s.run_id,
                        **({"attrs": s.attrs} if s.attrs else {}),
                    }
                    for s in self.spans
                ],
                f,
            )


# -- Spark attribution ---------------------------------------------------------


def rest_epoch(ts: str | None) -> float | None:
    # the REST API's form: 2026-10-16T23:24:49.123GMT
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def fetch_spark_work(spark) -> tuple[list[dict], list[dict]]:
    """All stages and jobs of this application, from the UI's REST API."""
    sc = spark.sparkContext
    url = sc.uiWebUrl
    if not url:
        raise RuntimeError("the Spark UI is disabled; the traced run needs its REST API")
    port = url.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.loads(r.read())

    stages = [s for s in get("/stages") if s.get("status") in ("COMPLETE", "FAILED")]
    jobs = get("/jobs")
    return stages, jobs


def innermost(spans: list[Span], start: float, end: float, slack: float = 0.005) -> int | None:
    """Index of the innermost (latest-opened) span containing [start, end];
    falls back to the innermost span open at ``start``."""
    best = None
    for i, s in enumerate(spans):
        if s.end is None:
            continue
        if s.start - slack <= start and end <= s.end + slack:
            best = i
    if best is None:
        for i, s in enumerate(spans):
            if s.end is not None and s.start - slack <= start <= s.end + slack:
                best = i
    return best


STAGE_FIELDS = {
    "executorRunTime": "run_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "outputRecords": "output_rows",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "jvmGcTime": "gc_ms",
    "numCompleteTasks": "tasks",
}


def attribute(spans: list[Span], stages: list[dict], jobs: list[dict], since: float) -> list[dict]:
    """Per-span Spark counters (``jobs``, ``stages`` and the STAGE_FIELDS
    sums) for stages and jobs submitted at or after ``since``."""
    out = [dict() for _ in spans]
    for st in stages:
        s, e = rest_epoch(st.get("submissionTime")), rest_epoch(st.get("completionTime"))
        if s is None or s < since:
            continue
        i = innermost(spans, s, e or s)
        if i is None:
            continue
        c = out[i]
        c["stages"] = c.get("stages", 0) + 1
        for key, name in STAGE_FIELDS.items():
            c[name] = c.get(name, 0) + (st.get(key) or 0)
    for jb in jobs:
        s, e = rest_epoch(jb.get("submissionTime")), rest_epoch(jb.get("completionTime"))
        if s is None or s < since:
            continue
        i = innermost(spans, s, e or s)
        if i is not None:
            out[i]["jobs"] = out[i].get("jobs", 0) + 1
    return out


class BatchListener:
    """Collects (batch start, ``triggerExecution`` seconds, input rows) per
    micro-batch of every streaming query in the session."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, float, int]] = []

    def install(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.batches

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                sink.append(
                    (start, p.durationMs.get("triggerExecution", 0) / 1000.0, p.numInputRows)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
