"""Spans, event-log folding and kernel-profile folding for traced runs.

A traced run records one span per benchmark-visible boundary (the op,
the ``__spark_entry__`` builder call, the force, each cache build, each
release, each call into an instrumented engine module). Spans live in
memory and are written out once, when the run ends. Spark's own event
log supplies the executor-side numbers; :func:`fold_event_log` assigns
every job to the op that caused it and sums the stage and task metrics
per op. The UDF profiler's dumps are summed by operator module in
:func:`fold_kernel_profiles`.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import pstats
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    A span is ``{"id", "name", "start", "end", "parent", "op"}`` with
    wall-clock epoch seconds (the event log's clock), so Spark's job
    submission times can be placed inside benchmark spans.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": stack[-1] if stack else None,
                "op": self.op_id,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        the intervals its direct children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def instrument(tracer: Tracer, module, names: list[str], prefix: str) -> None:
    """Wrap ``module.<name>`` in a span named ``<prefix>.<name>``.

    Only calls that look the function up on the module object are seen:
    the benchmark's own calls and engine code that calls across modules
    as ``snapshots.write_snapshot(...)``. Names bound with ``from x
    import f`` before instrumenting keep the unwrapped function.
    """
    for name in names:
        fn = getattr(module, name)

        def wrapped(*a, __fn=fn, __span=f"{prefix}.{name}", **kw):
            with tracer.span(__span):
                return __fn(*a, **kw)

        setattr(module, name, functools.wraps(fn)(wrapped))


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------

OP_PROPERTY = "perfbench.op"

_EXEC_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def read_event_log(path: str) -> list[dict]:
    keep = (
        "SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd",
    )
    out = []
    with open(path) as fh:
        for line in fh:
            if any(k in line[:60] for k in keep):
                out.append(json.loads(line))
    return out


def fold_event_log(events: list[dict], op_spans: dict[int, tuple[float, float]]) -> dict:
    """Per-op executor metrics from a Spark event log.

    ``op_spans`` maps op id -> (start, end) in epoch seconds. A job
    tagged with the ``perfbench.op`` local property belongs to that op.
    An untagged job -- one started from a thread that did not inherit
    the driver thread's local properties, such as a ThreadPoolExecutor
    worker in pinned-thread mode -- belongs to the op whose span
    contains its submission time. Jobs outside every span are counted
    under op ``None``. A stage belongs to the latest job that lists it
    and was submitted no later than the stage completed; tasks follow
    their stage.
    """
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "tag": props.get(OP_PROPERTY),
            }
            for sid in e.get("Stage IDs", []):
                stage_jobs.setdefault(sid, []).append(e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = {
                "done": (info.get("Completion Time") or 0) / 1000.0,
            }
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)

    def op_of_time(t: float):
        for op, (s, end) in op_spans.items():
            if s <= t <= end:
                return op
        return None

    job_op = {}
    for jid, j in jobs.items():
        tag = j["tag"]
        job_op[jid] = int(tag) if tag is not None else op_of_time(j["submit"])

    per_op: dict = {}

    def acc(op) -> dict:
        if op not in per_op:
            per_op[op] = {f: 0 for f in _EXEC_FIELDS} | {
                "job_intervals": [], "stage_skews": [],
            }
        return per_op[op]

    for jid, j in jobs.items():
        a = acc(job_op[jid])
        a["jobs"] += 1
        a["job_intervals"].append((j["submit"], j["end"] or j["submit"]))
    for sid, st in stages.items():
        owners = [
            jid for jid in stage_jobs.get(sid, [])
            if jobs[jid]["submit"] <= st["done"] or not st["done"]
        ]
        if not owners:
            continue
        owner = max(owners, key=lambda jid: jobs[jid]["submit"])
        a = acc(job_op[owner])
        a["stages"] += 1
        durs = []
        for t in tasks.get(sid, []):
            m = t.get("Task Metrics") or {}
            info = t.get("Task Info") or {}
            a["tasks"] += 1
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            durs.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        if len(durs) >= 2 and statistics.median(durs) > 0:
            a["stage_skews"].append(max(durs) / statistics.median(durs))
    for op, a in per_op.items():
        span = op_spans.get(op)
        a["task_skew"] = max(a.pop("stage_skews"), default=1.0)
        ivals = a.pop("job_intervals")
        a["job_span_s"] = union_length(ivals)
        if span is not None:
            a["driver_gap_s"] = max(0.0, (span[1] - span[0]) - union_length(
                [(max(s, span[0]), min(e, span[1])) for s, e in ivals if e >= span[0]]
            ))
    return per_op


# ---------------------------------------------------------------------------
# Kernel profiles (spark.sql.pyspark.udf.profiler=perf)
# ---------------------------------------------------------------------------


def fold_kernel_profiles(dump_dir: str, modules: set[str]) -> dict[str, float]:
    """Python time per operator module from ``spark.profile.dump`` files.

    Each dump holds one UDF's accumulated profile. Its time is the
    largest cumulative time in it (the UDF body); it is charged to the
    engine module (named by file basename: the dumps keep no directory)
    whose functions carry the most cumulative time, or to ``other``
    when none of ``modules`` appears.
    """
    out: dict[str, float] = {}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        stats = pstats.Stats(path).stats
        if not stats:
            continue
        total = max(v[3] for v in stats.values())
        best, best_ct = "other", -1.0
        for (fname, _line, _fn), v in stats.items():
            mod = os.path.splitext(os.path.basename(fname))[0]
            if mod in modules and v[3] > best_ct:
                best, best_ct = mod, v[3]
        out[best] = out.get(best, 0.0) + total
    return out
