"""Per-layer attribution for the traced run, taken from outside the engine.

Spans come from wrappers this module installs around the public functions
of each engine layer (``sources.io``, ``operators.*``, ``streaming``) and
around ``DataFrame.localCheckpoint``; the benchmark opens the ``queries``
(build) and ``exec`` (noop-sink write) spans itself.  Every span also sets
the Spark local property ``perfbench.span``, so each Spark job in the event
log names the innermost span that started it.  Spark's event log (JSON
lines, uncompressed), a ``StreamingQueryListener`` and
``getRDDStorageInfo`` supply the rest.  No engine source is changed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict

SPAN_PROPERTY = "perfbench.span"

# The read side of the ``sources.io`` layer; its other public functions
# (merge/write/compact/try_read of the state stores) are the write side.
IO_LOAD = frozenset({"load_table", "load_tables"})

# Physical plan nodes that ship rows to Python workers through Arrow.
PYTHON_NODES = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "AggregateInPandas",
        "WindowInPandas",
        "ArrowWindowPython",
        "ArrowAggregatePython",
    }
)

ENGINE = "chicago_crime_spark_ml_spark"


# Operator modules the workloads reach; calls into any other operator
# module are reported together as ``operators.other``.
OPERATOR_LAYERS = ("dedup", "relational", "similarity", "sketches", "text")


def operator_modules() -> list[str]:
    """Short names of every ``operators`` module."""
    pkg = importlib.import_module(f"{ENGINE}.operators")
    return sorted(m.name for m in pkgutil.iter_modules(pkg.__path__))


def operator_layer(mod: str) -> str:
    return f"operators.{mod if mod in OPERATOR_LAYERS else 'other'}"


def per_layer_names() -> list[str]:
    """Every per-layer metric the traced run prints, in output order."""
    names = [
        "session.get_spark_s",
        "session.warmup_s",
        "io.load_s",
        "io.load_calls",
        "io.load_jobs",
        "io.bytes_read",
        "io.write_s",
        "io.write_calls",
        "io.bytes_written",
        "queries.build_s",
        "queries.build_jobs",
        "queries.build_stages",
        "queries.build_job_s",
        "queries.build_driver_s",
    ]
    for mod in (*OPERATOR_LAYERS, "other"):
        names += [f"operators.{mod}.{k}" for k in ("calls", "self_s", "jobs")]
    names += [
        "streaming.calls",
        "streaming.self_s",
        "streaming.batches",
        "streaming.batch_s",
        "streaming.batch_p50_s",
        "streaming.add_batch_s",
        "streaming.plan_s",
        "streaming.wal_s",
        "streaming.input_rows",
        "exec.s",
        "exec.jobs",
        "exec.stages",
        "exec.tasks",
        "exec.executor_run_s",
        "exec.executor_cpu_s",
        "exec.gc_s",
        "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes",
        "exec.spill_bytes",
        "exec.slot_util",
        "arrow.python_s",
        "arrow.rows",
        "storage.local_checkpoints",
        "storage.checkpoint_s",
        "storage.held_blocks",
        "storage.held_mb",
        "mem.peak_rss_mb",
        "trace.pass_s",
        "trace.untraced_pass_s",
        "trace.overhead_s",
        "trace.coverage_min",
        "drift.sentinel_s",
    ]
    return names


# Per-layer metrics where a larger value is the better one.
HIGHER_IS_BETTER = frozenset({"exec.slot_util", "trace.coverage_min"})


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf == "s" or leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("slot_util", "coverage_min"):
        return "ratio"
    return "count"


def benchmark_entries() -> list[dict]:
    """The ``per_layer`` list of BENCHMARK.json."""
    return [
        {
            "name": n,
            "unit": unit_of(n),
            "better": "higher" if n in HIGHER_IS_BETTER else "lower",
        }
        for n in per_layer_names()
    ]


class Span:
    __slots__ = ("id", "parent", "layer", "name", "t0", "t1", "child_s")

    def __init__(self, sid, parent, layer, name):
        self.id = sid
        self.parent = parent
        self.layer = layer
        self.name = name
        self.t0 = time.perf_counter()
        self.t1 = None
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return max(self.dur - self.child_s, 0.0)


class Tracer:
    """In-memory span recorder shared by every wrapper.

    One stack for all threads: a ``foreachBatch`` callback runs on a
    Py4J thread while the main thread waits inside the query's build
    span, so its spans nest under that build span.
    """

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.lock = threading.Lock()

    def enter(self, layer: str, name: str) -> Span | None:
        if not self.enabled:
            return None
        with self.lock:
            parent = self.stack[-1].id if self.stack else None
            span = Span(len(self.spans) + 1, parent, layer, name)
            self.spans.append(span)
            self.stack.append(span)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(span.id))
        return span

    def exit(self, span: Span | None) -> None:
        if span is None:
            return
        span.t1 = time.perf_counter()
        with self.lock:
            if self.stack and self.stack[-1] is span:
                self.stack.pop()
            top = self.stack[-1] if self.stack else None
            if span.parent is not None:
                self.spans[span.parent - 1].child_s += span.dur
        self.sc.setLocalProperty(SPAN_PROPERTY, str(top.id) if top else None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        span = self.enter(layer, name)
        try:
            yield span
        finally:
            self.exit(span)

    # -- wrappers ---------------------------------------------------------

    def _wrap(self, layer_of, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.enter(layer_of, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit(span)

        # functools.wraps copies __module__ and __qualname__, and the
        # wrapper replaces the module attribute, so cloudpickle still
        # pickles it by reference: a Python worker that unpickles a
        # closure naming it imports the plain engine function.
        return traced

    def install(self) -> None:
        """Wrap the public functions of every layer module, then rebind
        names that other engine modules imported at module level (e.g.
        ``queries`` binds ``operators.relational`` names on import)."""
        modules = {f"{ENGINE}.sources.io": None, f"{ENGINE}.streaming": "streaming"}
        for mod in operator_modules():
            modules[f"{ENGINE}.operators.{mod}"] = operator_layer(mod)
        swapped: dict[int, object] = {}
        for modname, layer in modules.items():
            module = importlib.import_module(modname)
            for name, fn in list(vars(module).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                    or fn.__qualname__ != name
                    or hasattr(fn, "evalType")  # a pandas_udf
                ):
                    continue
                if layer is None:
                    fn_layer = "io.load" if name in IO_LOAD else "io.write"
                else:
                    fn_layer = layer
                wrapped = self._wrap(fn_layer, fn)
                swapped[id(fn)] = wrapped
                setattr(module, name, wrapped)
        for modname, module in list(sys.modules.items()):
            if not modname.startswith(ENGINE) or module is None:
                continue
            for name, val in list(vars(module).items()):
                new = swapped.get(id(val))
                if new is not None and val is not new:
                    setattr(module, name, new)
        try:  # Spark 4 runs classic sessions on a DataFrame subclass
            from pyspark.sql.classic.dataframe import DataFrame  # noqa: PLC0415
        except ImportError:
            from pyspark.sql import DataFrame  # noqa: PLC0415
        DataFrame.localCheckpoint = self._wrap(
            "storage.checkpoint", DataFrame.localCheckpoint
        )


class StreamProgress:
    """Collects ``onQueryProgress`` events of every stream the session
    runs; registered on ``spark.streams`` for the traced run only."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

        sink = self
        self.events: list[dict] = []
        self.lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with sink.lock:
                    sink.events.append(
                        {"durations": dict(p.durationMs), "rows": p.numInputRows}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def mark(self) -> int:
        with self.lock:
            return len(self.events)

    def since(self, mark: int) -> list[dict]:
        with self.lock:
            return list(self.events[mark:])


def storage_held(spark) -> tuple[int, float]:
    """(cached blocks, MB) still held after a forced Python and JVM GC."""
    import gc  # noqa: PLC0415

    gc.collect()
    spark._jvm.System.gc()
    time.sleep(0.05)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    blocks = sum(i.numCachedPartitions() for i in infos)
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return blocks, mb


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application whose uncompressed log is in
    ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise RuntimeError(f"expected one event log file in {log_dir}: {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _walk_plan(info, out: dict[int, tuple[str, str]]) -> None:
    if info["nodeName"] in PYTHON_NODES:
        for m in info["metrics"]:
            out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info["children"]:
        _walk_plan(child, out)


def job_table(events: list[dict]):
    """Per-job span id and interval, stage→job map, per-stage task
    metrics, and the Python-node accumulator values."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: Counter = Counter()
    tasks: dict[int, dict] = defaultdict(Counter)
    python_acc: dict[int, tuple[str, str]] = {}
    acc_by_stage: dict[int, Counter] = defaultdict(Counter)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            jobs[e["Job ID"]] = {
                "span": int(span) if span else None,
                "t0": e["Submission Time"] / 1e3,
                "t1": None,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            stages_done[e["Stage Info"]["Stage ID"]] += 1
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = tasks[e["Stage ID"]]
            t["tasks"] += 1
            t["run_ms"] += m.get("Executor Run Time", 0)
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            t["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t["bytes_written"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    try:
                        acc_by_stage[e["Stage ID"]][acc["ID"]] += int(acc["Update"])
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e["sparkPlanInfo"], python_acc)
    return jobs, stage_job, stages_done, tasks, python_acc, acc_by_stage


def summarize(
    tracer: Tracer,
    events: list[dict],
    query_spans: list[Span],
    stream_events: list[dict],
    n_cpus: int,
) -> dict:
    """Per-layer metrics of the traced pass."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    out: Counter = Counter()

    def ancestor_layers(sid):
        while sid is not None:
            s = by_id[sid]
            yield s
            sid = s.parent

    for s in spans:
        if s.layer.startswith("operators.") or s.layer == "streaming":
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += s.self_s
        elif s.layer in ("io.load", "io.write"):
            out[f"{s.layer}_calls"] += 1
            out[f"{s.layer}_s"] += s.self_s
        elif s.layer == "storage.checkpoint":
            out["storage.local_checkpoints"] += 1
            out["storage.checkpoint_s"] += s.self_s
        elif s.layer == "queries":
            out["queries.build_s"] += s.dur
        elif s.layer == "exec":
            out["exec.s"] += s.dur

    jobs, stage_job, stages_done, tasks, python_acc, acc_by_stage = job_table(events)
    job_stages: dict[int, list[int]] = defaultdict(list)
    for sid, jid in stage_job.items():
        job_stages[jid].append(sid)
    build_intervals = []
    for jid, job in jobs.items():
        if job["span"] not in by_id:
            continue  # not started inside the traced pass
        chain = list(ancestor_layers(job["span"]))
        # A checkpoint's jobs belong to the layer that asked for it.
        innermost = next(
            (s.layer for s in chain if s.layer != "storage.checkpoint"), None
        )
        top = {s.layer for s in chain}
        ran = [sid for sid in job_stages[jid] if stages_done[sid]]
        if innermost.startswith("operators."):
            out[f"{innermost}.jobs"] += 1
        if innermost == "io.load":
            out["io.load_jobs"] += 1
        for sid in job_stages[jid]:
            out["io.bytes_read"] += tasks[sid]["bytes_read"]
            out["io.bytes_written"] += tasks[sid]["bytes_written"]
            for acc, val in acc_by_stage[sid].items():
                name_type = python_acc.get(acc)
                if name_type is None:
                    continue
                name, mtype = name_type
                if name == "time to run Python workers":
                    out["arrow.python_s"] += val / (1e9 if mtype == "nsTiming" else 1e3)
                elif name == "number of output rows":
                    out["arrow.rows"] += val
        if "queries" in top:
            out["queries.build_jobs"] += 1
            out["queries.build_stages"] += len(ran)
            if job["t1"] is not None:
                build_intervals.append((job["t0"], job["t1"]))
        elif "exec" in top:
            out["exec.jobs"] += 1
            out["exec.stages"] += len(ran)
            for sid in job_stages[jid]:
                t = tasks[sid]
                out["exec.tasks"] += t["tasks"]
                out["exec.executor_run_s"] += t["run_ms"] / 1e3
                out["exec.executor_cpu_s"] += t["cpu_ns"] / 1e9
                out["exec.gc_s"] += t["gc_ms"] / 1e3
                out["exec.shuffle_read_bytes"] += t["shuffle_read"]
                out["exec.shuffle_write_bytes"] += t["shuffle_write"]
                out["exec.spill_bytes"] += t["spill"]

    covered = 0.0
    end = None
    for t0, t1 in sorted(build_intervals):
        if end is None or t0 > end:
            covered += t1 - t0
            end = t1
        elif t1 > end:
            covered += t1 - end
            end = t1
    out["queries.build_job_s"] = covered
    out["queries.build_driver_s"] = max(out["queries.build_s"] - covered, 0.0)
    if out["exec.s"]:
        out["exec.slot_util"] = out["exec.executor_run_s"] / (out["exec.s"] * n_cpus)

    batch = [ev["durations"].get("triggerExecution", 0) / 1e3 for ev in stream_events]
    out["streaming.batches"] = len(stream_events)
    out["streaming.batch_s"] = sum(batch)
    out["streaming.batch_p50_s"] = statistics.median(batch) if batch else 0.0
    for key, field in (
        ("streaming.add_batch_s", "addBatch"),
        ("streaming.plan_s", "queryPlanning"),
        ("streaming.wal_s", "walCommit"),
    ):
        out[key] = sum(ev["durations"].get(field, 0) for ev in stream_events) / 1e3
    out["streaming.input_rows"] = sum(ev["rows"] for ev in stream_events)

    # Coverage: the layer self-times of a query's spans against its wall.
    ratios = []
    for q in query_spans:
        inside = [
            s for s in spans if s is not q and q.id in {a.id for a in ancestor_layers(s.id)}
        ]
        ratios.append(sum(s.self_s for s in inside) / q.dur if q.dur else 1.0)
    out["trace.coverage_min"] = min(ratios) if ratios else 1.0
    return dict(out)
