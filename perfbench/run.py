"""Engine benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Workloads are in ``workloads.py``.  A run starts the engine's session
(``get_spark``) on ``local[4]``, makes one untimed warm-up pass that also
checks every query's rows against its DuckDB oracle and one more untimed
pass, then runs cold passes (build, then a noop-sink write, then
``clearCache``) until ``--seconds`` have passed, at least one pass.  The
seed only permutes the query order of each timed pass; the data are the
fixed tables in ``data/sf0.01``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` instead runs
one pass with the layer wrappers off and one with them on, under Spark's
event log and a streaming listener, and prints the per-layer metrics
(``layers.py``).  The last stdout line is the JSON result; the line before
it holds per-query detail.  Everything the run writes goes under
``.perfbench/`` at the repository root and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_CPUS = 4
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """Counters and samples of one benchmark process."""

    def __init__(self, spark, data_dir, tmp_dir):
        from chicago_crime_spark_ml_spark.queries import QUERIES  # noqa: PLC0415

        self.queries = QUERIES
        self.spark = spark
        self.data_dir = data_dir
        self.tmp_dir = tmp_dir
        self.attempted = 0
        self.failures: list[str] = []

    def leftovers(self, name: str) -> None:
        """A file a query leaves in the scratch dir is a failed op."""
        left = os.listdir(self.tmp_dir)
        if left:
            self.failures.append(f"{name}: left {sorted(left)[:3]} in TMPDIR")
            for entry in left:
                path = os.path.join(self.tmp_dir, entry)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)

    def warm_check(self, order, oracle) -> tuple[dict, float, dict]:
        """Untimed first pass: build, collect through Arrow, compare with
        the oracle.  Returns (engine seconds per query, check seconds,
        output rows per query)."""
        engine_s, check_s, rows = {}, 0.0, {}
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                spdf = self.queries[name](self.spark, self.data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                self.failures.append(f"{name}: raised {exc!r:.200}")
                spdf = None
            t1 = time.perf_counter()
            self.spark.catalog.clearCache()
            if spdf is not None:
                rows[name] = len(spdf)
                why = oracle.check(name, spdf)
                if why:
                    self.failures.append(f"{name}: oracle mismatch, {why}")
            self.leftovers(name)
            engine_s[name] = t1 - t0
            check_s += time.perf_counter() - t1
        return engine_s, check_s, rows

    def one_query(self, name, tracer=None) -> float:
        """Cold build + noop write of one query; its wall-clock."""
        span = tracer.span if tracer else lambda *_: contextlib.nullcontext()
        self.attempted += 1
        t0 = time.perf_counter()
        with span("query", name):
            try:
                with span("queries", name):
                    df = self.queries[name](self.spark, self.data_dir)
                with span("exec", name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                self.failures.append(f"{name}: raised {exc!r:.200}")
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        self.leftovers(name)
        return wall

    def one_pass(self, order, tracer=None, after_query=None):
        """(pass wall-clock, per-query walls) of one cold pass."""
        walls = []
        pass_s = 0.0
        for name in order:
            t0 = time.perf_counter()
            walls.append(self.one_query(name, tracer))
            pass_s += time.perf_counter() - t0
            if after_query:
                after_query()  # traced run's storage sample, not timed
        return pass_s, walls


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    dirs = {k: os.path.join(work, k) for k in ("tmp", "jvm-tmp", "local", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # Scratch of the engine (tempfile.mkdtemp in the stream certs) goes to
    # a directory the benchmark owns and checks after every query.
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(N_CPUS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    spark = None
    try:
        try:
            from chicago_crime_spark_ml_spark import get_spark  # noqa: PLC0415
        except ImportError as exc:
            print(f"perfbench: engine not importable: {exc}", file=sys.stderr)
            return 2
        conf = {
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['jvm-tmp']}",
        }
        if args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + dirs["events"],
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        return measure(args, spark, dirs, get_spark_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))


def measure(args, spark, dirs, get_spark_s) -> int:
    tracer = stream = None
    if args.trace:
        import layers  # noqa: PLC0415

        tracer = layers.Tracer(spark.sparkContext)
        tracer.install()
        stream = layers.StreamProgress(spark)
    import workloads  # noqa: PLC0415
    from oracle import Oracle  # noqa: PLC0415

    workloads.check_continuity()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    names = list(workloads.WORKLOADS[args.workload])
    rng = random.Random(args.seed)
    run = Run(spark, workloads.DATA_DIR, dirs["tmp"])

    oracle = Oracle(workloads.DATA_DIR)
    try:
        warm_s, check_s, rows = run.warm_check(names, oracle)
    finally:
        oracle.close()
    # A second untimed pass: the first timed pass would otherwise still
    # carry most of the JIT warm-up that the check pass starts.
    settle_s, _ = run.one_pass(names)
    setup_s = time.perf_counter() - T_START - check_s
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "rows": rows,
        "warm_s": warm_s,
        "settle_s": settle_s,
    }

    if not args.trace:
        passes, walls = [], {n: [] for n in names}
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            order = rng.sample(names, len(names))
            pass_s, q = run.one_pass(order)
            passes.append(pass_s)
            for name, wall in zip(order, q):
                walls[name].append(wall)
        # Each query's median over the passes, so one slow pass moves
        # neither the median query nor the slowest one.
        typical = sorted(statistics.median(w) for w in walls.values())
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(passes),
            "query_p50_s": statistics.median(typical),
            "query_tail_s": typical[-1],
        }
        result = {k: metric(v, END_TO_END[k]) for k, v in values.items()}
        detail.update(
            passes=passes,
            query_walls=walls,
            query_tail={"percentile": 100, "queries": len(typical), "passes": len(passes)},
            peak_rss_mb=peak_rss_mb(spark),
        )
    else:
        session = {
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": sum(warm_s.values()) + settle_s,
        }
        result, extra = traced(spark, run, tracer, stream, names, rng, dirs, session)
        detail.update(extra)

    detail["failures"] = run.failures
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": result,
            }
        )
    )
    return 0


def traced(spark, run, tracer, stream, names, rng, dirs, values):
    """One pass with wrappers off, one with them on; per-layer metrics
    (``values`` already holds the session layer's)."""
    import layers  # noqa: PLC0415
    import workloads  # noqa: PLC0415

    untraced_s, _ = run.one_pass(rng.sample(names, len(names)))
    held = []

    def sample_storage():
        held.append(layers.storage_held(spark))

    tracer.enabled = True
    mark = stream.mark()
    pass_s, walls = run.one_pass(rng.sample(names, len(names)), tracer, sample_storage)
    tracer.enabled = False
    query_spans = [s for s in tracer.spans if s.layer == "query"]

    sentinel = []
    for name in workloads.SENTINELS:
        run.one_query(name)  # warm the sentinel's plan outside the workload
        sentinel.append(statistics.median(run.one_query(name) for _ in range(3)))
    sentinel_geo = 1.0
    for s in sentinel:
        sentinel_geo *= s
    sentinel_geo **= 1 / len(sentinel)

    rss_mb = peak_rss_mb(spark)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    stream_events = stream.since(mark)
    spark.stop()  # flushes and closes the event log
    values.update(
        layers.summarize(
            tracer,
            layers.read_event_log(dirs["events"]),
            query_spans,
            stream_events,
            N_CPUS,
        )
    )
    values.update(
        {
            "storage.held_blocks": held[-1][0],
            "storage.held_mb": held[-1][1],
            "trace.pass_s": pass_s,
            "trace.untraced_pass_s": untraced_s,
            "trace.overhead_s": pass_s - untraced_s,
            "drift.sentinel_s": sentinel_geo,
            "mem.peak_rss_mb": rss_mb,
        }
    )
    result = {
        name: metric(values.get(name, 0), layers.unit_of(name))
        for name in layers.per_layer_names()
    }
    extra = {
        "trace_query_walls": dict(zip([s.name for s in query_spans], walls)),
        "held_per_query": held,
        "sentinels": dict(zip(workloads.SENTINELS, sentinel)),
        "streaming_batches": stream_events,
    }
    return result, extra


if __name__ == "__main__":
    sys.exit(main())
