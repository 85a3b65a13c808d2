"""Spans, job-group tags and the Spark event-log ledger for the traced run.

A span is opened by the benchmark around each call into an engine layer:
either directly (``tracer.span("query.wand", kind="plain")``) or by
interposing on a module attribute the engine resolves at call time
(``tracer.wrap(snapshots, "build_index", "index.build")``), so calls one
public function makes into another layer get their own span without any
change to the engine. Every span that can start Spark jobs tags them with
its own job group; after the session stops, the event log is parsed and
each job's stage and task metrics are summed onto the span that started it.

With tracing off the workloads use :class:`NullTracer`, which patches
nothing and never touches the SparkContext.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from collections import defaultdict

UNTAGGED = "untagged"


class NullTracer:
    enabled = False
    op = None
    phase = None

    def span(self, layer, name="", jobs=True, **attrs):
        return contextlib.nullcontext({})

    def bind(self, sc):
        pass

    def wrap(self, module, attr, layer, name=None, jobs=True):
        pass

    def unwrap_all(self):
        pass


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []
        self.sc = None
        self.op = None  # id shared by every span of one timed operation
        self.phase = None  # "window" while the traced unit of work runs

    def bind(self, sc) -> None:
        self.sc = sc
        sc.setJobGroup(UNTAGGED, UNTAGGED)

    @contextlib.contextmanager
    def span(self, layer: str, name: str = "", jobs: bool = True, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "layer": layer, "name": name, "op": self.op,
               "phase": self.phase,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        if jobs and self.sc is not None:
            rec["group"] = f"span-{sid}"
            self.sc.setJobGroup(rec["group"], f"{layer} {name}".strip())
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if "group" in rec:
                outer = next((s["group"] for s in reversed(self._stack)
                              if "group" in s), UNTAGGED)
                self.sc.setJobGroup(outer, outer)

    def wrap(self, module, attr: str, layer: str, name: str | None = None,
             jobs: bool = True) -> None:
        """Open a span around every call of ``module.attr`` until
        :meth:`unwrap_all` restores the original."""
        orig = getattr(module, attr)
        label = name or attr

        def traced(*a, **kw):
            with self.span(layer, label, jobs=jobs):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# stage-level accumulables summed per job group: (output key, accumulable
# name, scale). SQL metrics of one name (e.g. two Python operators in one
# stage) are summed.
_STAGE_SUMS = (
    ("executor_run_s", "internal.metrics.executorRunTime", 1e-3),
    ("python_s", "time to run Python workers", 1e-3),
    ("to_python_bytes", "data sent to Python workers", 1),
    ("from_python_bytes", "data returned from Python workers", 1),
    ("shuffle_write_bytes", "internal.metrics.shuffle.write.bytesWritten", 1),
    ("shuffle_read_bytes", "internal.metrics.shuffle.read.localBytesRead", 1),
    ("shuffle_read_bytes", "internal.metrics.shuffle.read.remoteBytesRead", 1),
    ("spill_bytes", "internal.metrics.memoryBytesSpilled", 1),
    ("spill_bytes", "internal.metrics.diskBytesSpilled", 1),
    ("input_bytes", "internal.metrics.input.bytesRead", 1),
    ("input_rows", "internal.metrics.input.recordsRead", 1),
)
LEDGER_KEYS = ("jobs", "stages", "tasks",
               *dict.fromkeys(k for k, _, _ in _STAGE_SUMS))


def read_event_log(path: str) -> dict[str, dict]:
    """Parse one uncompressed, non-rolling Spark event log into
    ``{job group: ledger}``. A ledger holds job/stage/task counts, the
    summed stage metrics above and, per completed stage, its task run
    times (for skew)."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    ledgers: dict[str, dict] = defaultdict(
        lambda: {**{k: 0 for k in LEDGER_KEYS}, "stage_task_ms": []})
    completed: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or UNTAGGED
                ledgers[g]["jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = (
                    props.get("spark.jobGroup.id") or UNTAGGED)
            elif ev == "SparkListenerTaskEnd":
                ti = e["Task Info"]
                tm = e.get("Task Metrics") or {}
                stage_tasks[e["Stage ID"]].append(
                    float(tm.get("Executor Run Time", ti["Finish Time"] - ti["Launch Time"])))
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if si.get("Failure Reason"):
                    continue
                acc: dict[str, float] = defaultdict(float)
                for a in si.get("Accumulables", []):
                    try:
                        acc[a["Name"]] += float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
                completed.append((si["Stage ID"], acc))
    for sid, acc in completed:
        led = ledgers[stage_group.get(sid, UNTAGGED)]
        led["stages"] += 1
        led["tasks"] += len(stage_tasks[sid])
        for key, name, scale in _STAGE_SUMS:
            led[key] += acc.get(name, 0.0) * scale
        led["stage_task_ms"].append(stage_tasks[sid])
    return dict(ledgers)


def task_skew(stage_task_ms: list[list[float]]) -> float:
    """Run-time-weighted mean over multi-task stages of max ÷ median task
    run time; 1.0 when no stage ran more than one task."""
    num = den = 0.0
    for times in stage_task_ms:
        if len(times) < 2:
            continue
        med = statistics.median(times)
        if med <= 0:
            continue
        w = sum(times)
        num += w * (max(times) / med)
        den += w
    return num / den if den else 1.0


def merge_ledgers(ledgers: list[dict]) -> dict:
    out = {**{k: 0 for k in LEDGER_KEYS}, "stage_task_ms": []}
    for led in ledgers:
        for k in LEDGER_KEYS:
            out[k] += led[k]
        out["stage_task_ms"] += led["stage_task_ms"]
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return path
