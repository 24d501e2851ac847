#!/usr/bin/env python3
"""Benchmark for the lakehouse engine: one workload per run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0

Runs from the root of a source tree (the directory holding
``__spark_entry__.py``). Each run is a closed loop of one client thread
in one process on ``local[4]``. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans, Spark's event
log and the UDF profiler on and prints the per-layer metrics. The last
line of stdout is one JSON object; a human-readable summary of every
metric (with sample counts and the host-drift probe) goes to stderr.
Everything the run writes stays under ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CPUS = 4
DATA_SF = 0.01
DATA_SEED = 42
WORKLOADS = ("curation", "ingest")
PACKAGE_DIR = os.path.join(ROOT, "e_commerce_lakehouse_spark")


class Op:
    def __init__(self, op_id: int, name: str, kind: str):
        self.id, self.name, self.kind = op_id, name, kind
        self.ok = False
        self.dur = 0.0
        self.plan_s = 0.0
        self.start = self.end = 0.0


class Run:
    """State of one benchmark run: the session, the op records, the
    output checks and the per-layer counters."""

    def __init__(self, args, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.spark = None
        self.data_dir = ""
        self.oracle_dir = os.path.join(OUT, "oracle")
        self.scratch_dir = os.path.join(
            OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.ops: list[Op] = []
        self.checks: list[tuple[str, bool]] = []
        self.deferred: list[tuple[str, object]] = []
        self.layer: dict[str, float] = defaultdict(float)
        self.layer_samples: dict[str, list] = defaultdict(list)
        self.extra: dict = {}
        self.setup_extra_s = 0.0

    def failed(self) -> int:
        """Failed ops; a failed output check counts as a failed op."""
        n = sum(not o.ok for o in self.ops) + sum(not ok for _n, ok in self.checks)
        return min(len(self.ops), n)

    def busy_s(self) -> float:
        """Wall time spent inside ops: the timed region. Output checks
        and the release of leftover blocks between ops are not in it."""
        return sum(o.dur for o in self.ops)

    @contextlib.contextmanager
    def op(self, name: str, kind: str):
        rec = Op(len(self.ops), name, kind)
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setLocalProperty("perfbench.op", str(rec.id))
            sc.setJobDescription(name)
            self.tracer.op_id = rec.id
        rec.start = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op:{name}"):
                yield rec
            rec.ok = True
        except Exception:
            print(f"perfbench: op {name} failed", file=sys.stderr)
            traceback.print_exc()
        finally:
            rec.dur = time.perf_counter() - t0
            rec.end = time.time()
            if self.tracer.enabled:
                sc.setLocalProperty("perfbench.op", None)
                sc.setJobDescription(None)
                self.tracer.op_id = None
            self.ops.append(rec)

    def check(self, name: str, fn) -> None:
        try:
            fn()
            self.checks.append((name, True))
        except Exception:
            print(f"perfbench: output check {name} failed", file=sys.stderr)
            traceback.print_exc()
            self.checks.append((name, False))

    def defer(self, name: str, fn) -> None:
        """An output check (or a group of them) that runs after the
        timed loop and the peak-RSS reading, so neither its time nor its
        memory is charged to the workload."""
        self.deferred.append((name, fn))

    def run_deferred(self) -> None:
        for name, fn in self.deferred:
            self.check(name, fn)
        self.deferred.clear()


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def ensure_data() -> str:
    """Generate the input tables once per checkout; later runs reuse them."""
    import hashlib

    import datagen

    with open(datagen.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:10]
    path = os.path.join(OUT, "data", f"sf{DATA_SF}-s{DATA_SEED}-{tag}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        datagen.generate(tmp, DATA_SF, DATA_SEED)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Session and set-up
# ---------------------------------------------------------------------------


def session_conf(run_id: str, trace: bool) -> dict[str, str]:
    local = os.path.join(OUT, "spark-local")
    os.makedirs(local, exist_ok=True)
    # the environment variable would override spark.local.dir; the JVM
    # options reach the launcher JVM too, and keep both out of /tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(OUT, "spark-warehouse"),
    }
    if trace:
        ev = os.path.join(OUT, "trace", run_id, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{ev}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        }
    return conf


def force_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, data_dir: str) -> None:
    """bench.py's warm-ups: one cheap query for JVM/codegen/footer
    caches, then an Arrow UDF across all cores to start the Python
    worker pool."""
    from pyspark.sql.functions import pandas_udf

    import __spark_entry__ as em

    force_noop(em.queries()["q04_monthly_sales_mom"](spark, data_dir))

    @pandas_udf("long")
    def _noop(x: pd.Series) -> pd.Series:
        return x

    force_noop(spark.range(CPUS * 100, numPartitions=CPUS).select(_noop("id")))


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (/proc/stat, in ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def drift_probe(spark, data_dir: str, cpu_start: list[int],
                q04_warm: bool) -> dict[str, float]:
    """Host-drift diagnostic: the warm q04 probe bench.py records (only
    where the warm-up already ran q04 once; 0 otherwise), a fixed
    pure-Python loop, and the share of CPU time the hypervisor stole
    from this machine since ``cpu_start``."""
    import __spark_entry__ as em

    q04 = [0.0]
    if q04_warm:
        q04 = []
        for _ in range(2):
            t0 = time.perf_counter()
            force_noop(em.queries()["q04_monthly_sales_mom"](spark, data_dir))
            q04.append(time.perf_counter() - t0)
    loops = []
    for _ in range(2):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc + i * i) % 1_000_003
        loops.append(time.perf_counter() - t0)
    now = cpu_times()
    delta = [b - a for a, b in zip(cpu_start, now)]
    steal = delta[7] if len(delta) > 7 else 0
    return {"q04_s": min(q04), "pyloop_s": min(loops),
            "cpu_steal_pct": 100.0 * steal / max(sum(delta), 1)}


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Sum of VmHWM over this process and all its descendants (the JVM
    and the Python workers it forked), with the split by process kind."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    parts: dict[str, float] = defaultdict(float)
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        kind = ("driver" if pid == os.getpid()
                else "jvm" if status["Name"].strip() == "java" else "workers")
        parts[kind] += int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return sum(parts.values()), dict(parts)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples beyond). Below 100 samples that
    percentile is under p90 and no tail at all, so the maximum is
    reported instead, with no samples beyond."""
    s = sorted(values)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    return s[-1], 100.0, 0


def med(values) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(run: Run, setup_s: float, rss: float) -> dict:
    ok = [o for o in run.ops if o.ok]
    durs = [o.dur for o in ok]
    tail_v, tail_p, tail_n = tail(durs) if durs else (0.0, 0.0, 0)
    m = {
        "setup_s": (setup_s, "s", 1),
        "ops_per_s": (len(ok) / run.busy_s() if run.ops else 0.0, "1/s", len(ok)),
        "op_p50_s": (med(durs), "s", len(durs)),
        "op_tail_s": (tail_v, "s", len(durs)),
        "op_tail_s_percentile": (tail_p, "%", tail_n),
        "peak_rss_mb": (rss, "MB", 1),
        "failed_ratio": (run.failed() / max(len(run.ops), 1), "ratio", len(run.ops)),
    }
    if run.workload == "ingest":
        for kind in ("write", "read"):
            d = [o.dur for o in ok if o.kind == kind]
            m[f"{kind}_p50_s"] = (med(d), "s", len(d))
        f = run.extra.get("freshness_s", [])
        m["freshness_s"] = (med(f), "s", len(f))
        m["stored_bytes_per_user_byte"] = (
            run.extra.get("stored_bytes_per_user_byte", 0.0), "ratio", 1)
    return m


def per_layer(run: Run, names: list[str], session_s: dict, probe: dict,
              run_id: str, e2e: dict) -> dict[str, float]:
    """Every per-layer metric named in BENCHMARK.json; a layer the
    workload never reaches reports 0."""
    import tracing

    t = run.tracer
    out = {n: 0.0 for n in names}
    out["session.build_s"] = session_s["build"]
    out["session.warmup_s"] = session_s["warmup"]
    out["probe.q04_s"] = probe["q04_s"]
    out["probe.pyloop_s"] = probe["pyloop_s"]
    out["probe.cpu_steal_pct"] = probe["cpu_steal_pct"]
    by_name: dict[str, list[float]] = defaultdict(list)
    for o in run.ops:
        if o.ok:
            by_name[o.name].append(o.dur)
    for name, durs in by_name.items():
        key = f"op.{name.removeprefix('ingest.')}_s"
        if key in out:
            out[key] = med(durs)
    out["entry.plan_s"] = sum(o.plan_s for o in run.ops)
    out |= {k: v for k, v in run.layer.items() if k in out}
    for k, samples in run.layer_samples.items():
        if k in out:
            out[k] = statistics.fmean(samples) if samples else 0.0

    # executor side, from the event log
    op_spans = {o.id: (o.start, o.end) for o in run.ops}
    logs = [os.path.join(dp, f) for dp, _d, fs in os.walk(
        os.path.join(OUT, "trace", run_id, "eventlog")) for f in fs]
    events = [e for p in logs for e in tracing.read_event_log(p)]
    per_op = tracing.fold_event_log(events, op_spans)
    timed = [a for op, a in per_op.items() if op is not None]
    for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "driver_gap_s"):
        out[f"exec.{f}"] = float(sum(a.get(f, 0) for a in timed))
    out["exec.task_skew"] = med([a["task_skew"] for a in timed if a["stages"]])
    entry_spans = [(s["start"], s["end"]) for s in t.spans if s["name"] == "entry"]
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    out["entry.eager_jobs"] = float(sum(
        any(s <= j["Submission Time"] / 1000.0 <= e for s, e in entry_spans)
        for j in jobs))

    # Python kernels, from the UDF profiler
    prof_dir = os.path.join(OUT, "trace", run_id, "udf-profile")
    run.spark.profile.dump(prof_dir)
    modules = {
        os.path.splitext(f)[0]
        for _dp, _d, files in os.walk(PACKAGE_DIR) for f in files
        if f.endswith(".py") and f != "__init__.py"
    }
    kern = tracing.fold_kernel_profiles(prof_dir, modules)
    out["kernels.python_s"] = sum(kern.values())
    for mod, secs in kern.items():
        key = f"kernels.{mod}_s"
        out[key if key in out else "kernels.other_s"] = (
            out.get(key if key in out else "kernels.other_s", 0.0) + secs)

    # snapshot/sql/streaming layers
    def span_med(name):
        return med(t.durations(name))

    out["snapshots.commit_s"] = span_med("snapshots.write_snapshot")
    out["snapshots.history_s"] = span_med("snapshots.history")
    for k, op in (("sql_dml.merge_s", "ingest.merge"),
                  ("sql_dml.update_s", "ingest.update"),
                  ("sql_dml.delete_s", "ingest.delete"),
                  ("sql_dml.select_s", "ingest.travel"),
                  ("streaming.catchup_s", "ingest.catchup"),
                  ("ivm.refresh_s", "ingest.refresh"),
                  ("snapshots.maintenance_s", "ingest.maintain")):
        out[k] = med(by_name.get(op, []))
    if run.workload == "ingest":
        for k in ("write_p50_s", "read_p50_s", "freshness_s",
                  "stored_bytes_per_user_byte"):
            out[f"ingest.{k}"] = e2e[k][0]

    # full trace beside the metrics
    trace_dir = os.path.join(OUT, "trace", run_id)
    t.dump(os.path.join(trace_dir, "spans.json"))
    with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
        json.dump({
            "self_time_s": t.self_times(),
            "exec_per_op": {
                (f"{op}:{run.ops[op].name}" if op is not None else "outside_ops"): a
                for op, a in per_op.items()
            },
            "kernels_s": kern,
        }, fh, indent=1)
    return out


def instrument_engine(tracer) -> None:
    import tracing
    from e_commerce_lakehouse_spark.operators import corpus_cache, parallelize
    from e_commerce_lakehouse_spark.plans import ivm
    from e_commerce_lakehouse_spark.sources import deletes, snapshots, sql_dml

    tracing.instrument(tracer, snapshots, [
        "write_snapshot", "read_snapshot", "scan_snapshot", "plan_scan",
        "compact_files", "expire_snapshots", "update_where", "replace_where",
        "history", "table_stats", "snapshot_file_changes",
    ], "snapshots")
    tracing.instrument(tracer, deletes, [
        "delete_where_dv", "merge_upsert_dv", "apply_changes_dv",
    ], "deletes")
    tracing.instrument(tracer, sql_dml, ["execute_dml"], "sql_dml")
    tracing.instrument(tracer, ivm, ["refresh_gold_incremental"], "ivm")
    tracing.instrument(tracer, corpus_cache, ["shared_df", "clear"], "corpus_cache")
    tracing.instrument(tracer, parallelize, [
        "release_rdds", "local_checkpoint_tracked",
    ], "parallelize")


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "e_commerce_lakehouse_spark",
                           os.path.join("tests", "oracle.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tracing

    # one trace directory per workload, holding the latest traced run
    run_id = args.workload
    if args.trace:
        shutil.rmtree(os.path.join(OUT, "trace", run_id), ignore_errors=True)
    tracer = tracing.Tracer(bool(args.trace))
    run = Run(args, tracer)
    run.data_dir = ensure_data()

    # -- set-up: session, warm-ups, workload-specific initial load --
    cpu_start = cpu_times()
    t0 = time.perf_counter()
    from e_commerce_lakehouse_spark.session import build_session

    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=session_conf(run_id, bool(args.trace)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    session_s = {"build": time.perf_counter() - t0}
    try:
        t1 = time.perf_counter()
        if args.workload == "curation":
            # ingest's initial table load (timed into set-up below)
            # is its own warm-up; it runs none of the queries
            warm_up(spark, run.data_dir)
        session_s["warmup"] = time.perf_counter() - t1
        if args.trace:
            instrument_engine(tracer)
        if args.workload == "ingest":
            import ingest

            ingest.run(run)
        else:
            import queries

            queries.run(run)
        setup_s = session_s["build"] + session_s["warmup"] + run.setup_extra_s
        rss, rss_parts = peak_rss_mb()
        probe = drift_probe(spark, run.data_dir, cpu_start,
                            q04_warm=args.workload == "curation")
        run.run_deferred()
        e2e = end_to_end(run, setup_s, rss)
        layers = None
        if args.trace:
            layers = per_layer(run, [m["name"] for m in spec["per_layer"]],
                               session_s, probe, run_id, e2e)
    finally:
        stop_session(spark)
        shutil.rmtree(run.scratch_dir, ignore_errors=True)

    attempted = len(run.ops)
    failed = run.failed()
    correct = failed == 0 and bool(run.checks)

    # human-readable report on stderr; saved beside the trace
    lines = [f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
             f"ops={attempted} checks={len(run.checks)} "
             f"correct={correct}"]
    for k, (v, unit, n) in e2e.items():
        lines.append(f"  {k:32s} {v:14.6g} {unit:6s} n={n}")
    lines.append(f"  probe: q04_s={probe['q04_s']:.4f} pyloop_s={probe['pyloop_s']:.4f}"
                 f" steal={probe['cpu_steal_pct']:.1f}%"
                 f"  session: build_s={session_s['build']:.3f} warmup_s={session_s['warmup']:.3f}"
                 f" load_s={run.setup_extra_s:.3f} busy_s={run.busy_s():.3f}")
    lines.append("  peak rss MB by process: " + " ".join(
        f"{k}={v:.0f}" for k, v in sorted(rss_parts.items())))
    by_op: dict[str, list[float]] = defaultdict(list)
    for o in run.ops:
        by_op[o.name].append(o.dur)
    lines.append("  ops: " + " ".join(
        f"{k}={med(v):.3f}x{len(v)}" for k, v in by_op.items()))
    last_path = os.path.join(OUT, f"last-{args.workload}.json")
    report = {"e2e": {k: v[0] for k, v in e2e.items()}, "probe": probe}
    if args.trace:
        if os.path.exists(last_path):
            with open(last_path) as fh:
                base = json.load(fh)["e2e"]
            over = base["ops_per_s"] / e2e["ops_per_s"][0] - 1.0
            lines.append(f"  tracing overhead: {over:+.1%} time per op (ops_per_s "
                         f"{e2e['ops_per_s'][0]:.4f} traced, {base['ops_per_s']:.4f} "
                         "in the last untraced run of this workload)")
            report["tracing_overhead"] = over
        for k, v in layers.items():
            lines.append(f"  {k:44s} {v:14.6g}")
        with open(os.path.join(OUT, "trace", run_id, "report.json"), "w") as fh:
            json.dump(report | {"per_layer": layers}, fh, indent=1)
    else:
        with open(last_path, "w") as fh:
            json.dump(report, fh, indent=1)
    print("\n".join(lines), file=sys.stderr)

    if args.trace:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
