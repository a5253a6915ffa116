"""Run one benchmark workload end to end and print its metrics as JSON.

    python3 perfbench/run.py --workload stream_sessions --seed 1 --seconds 12 --trace 0

From the root of a checkout: generate the workload's tables from ``--seed``,
start a fresh ``local[nproc]`` session, run every query of the workload once
(the first pass), then whole warm passes until ``--seconds`` have gone by.
Each query's full result is materialized: batch plans into a ``noop`` sink,
streaming queries by their own run to the memory sink.  Outside the timed
passes every result of the last pass is compared with DuckDB's evaluation
of the query's oracle SQL over the same parquet files.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` also enables
Spark's event log and a streaming progress listener, prints the per-layer
metrics, and writes everything to a sidecar JSON under ``perfbench/_work``.
The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class Run:
    """One run's operation counters and recorded spans."""

    def __init__(self, workload: str, trace: bool):
        self.workload, self.trace = workload, trace
        self.attempted = self.failed = 0
        self.correct = True
        self.spans = []  # (layer, name, pass, start_unix, seconds)
        self.current = (None, None)  # (pass, query) being run

    def span(self, layer, name, pass_no, fn):
        start, t0 = time.time(), time.perf_counter()
        try:
            return fn()
        finally:
            self.spans.append((layer, name, pass_no, start, time.perf_counter() - t0))


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def plan_seconds(df) -> float:
    """Analysis, optimization and physical planning of ``df``, from its own
    query-execution tracker (planning is forced here if still pending)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def run_pass(run, spark, queries, data_dir, pass_no, listener=None):
    """One pass over the workload's queries; returns ``{name: DataFrame}``
    for the queries that ran and the pass's planning seconds."""
    from tamar_spark import queries as Q

    results, plan_s = {}, 0.0
    for name in queries:
        run.current = (pass_no, name)
        run.attempted += 1
        spark.sparkContext.setJobGroup(name, f"perfbench {run.workload} pass {pass_no}")
        started = len(listener.started) if listener else 0
        try:
            df = run.span("queries", name, pass_no, lambda: Q.QUERIES[name](spark, data_dir))
            if listener is not None and len(listener.started) == started:
                plan_s += plan_seconds(df)
            run.span("materialize", name, pass_no, lambda: materialize(df))
            results[name] = df
        except Exception:
            # a pass without this query does not measure the workload
            run.failed += 1
            run.correct = False
            traceback.print_exc(file=sys.stderr)
    run.current = (None, None)
    return results, plan_s


def normalize(pdf):
    """The oracle test's normalization: columns sorted by name, dtypes
    widened, rows sorted so the comparison is order-insensitive."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    return pdf.sort_values(by=list(pdf.columns), na_position="first").reset_index(drop=True)


def check_results(run, results, queries, data_dir, tables):
    """Compare each query's full output with DuckDB's evaluation of its
    oracle SQL; every check is one operation."""
    import duckdb
    import pandas as pd

    from tamar_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        for name in queries:
            run.attempted += 1
            try:
                got = results[name].toPandas()
                want = con.execute(ORACLES[name]).df()
                same = sorted(got.columns) == sorted(want.columns) and len(got) == len(want)
                if same:
                    pd.testing.assert_frame_equal(
                        normalize(got), normalize(want), check_dtype=False, check_exact=True
                    )
            except AssertionError as e:
                same = False
                print(f"{name}: {e}", file=sys.stderr)
            except Exception:  # the query failed in the last pass, or its oracle did
                same = False
                traceback.print_exc(file=sys.stderr)
            if not same:
                print(f"{name}: output differs from its DuckDB oracle", file=sys.stderr)
                run.failed += 1
                run.correct = False
    finally:
        con.close()


def retained_mb(spark, root_pid) -> float:
    """Memory the run holds on to at a pass boundary: the JVM heap still
    live after a full GC plus the JVM's non-heap pools, and the resident
    memory of the Python driver and workers.  The JVM's resident size is
    left out: how much collected heap G1 keeps committed varies from run to
    run by more than a gigabyte."""
    jvm = spark._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    python = sum(
        p.rss_mb for p in tracing.process_tree(root_pid) if p.kind in ("driver", "python")
    )
    return heap / tracing.MB + python


def stop_spark(spark, root_pid):
    """Stop the session and its JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()
    deadline = time.time() + 30
    while True:
        left = [p for p in tracing.process_tree(root_pid) if p.pid != root_pid]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tamar_spark")):
        print(f"no tamar_spark package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run = Run(args.workload, bool(args.trace))

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    import datagen

    rows = datagen.write(args.seed, wl.sizes, data_dir, names=wl.tables)

    # everything the session and its workers write stays inside the run's
    # directory; workers import tamar_spark from this checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    from tamar_spark import env, sources

    root_pid = os.getpid()
    pass_s, pass_cpu, per_pass_python_cpu, plan_s = [], [], [], []
    held_mb = 0.0
    # the sampler is tracing: untraced runs do without its thread
    rss = tracing.RssSampler(root_pid) if run.trace else contextlib.nullcontext()
    with rss:
        t0 = time.perf_counter()
        spark = run.span("env", "get_spark", 0, lambda: env.get_spark(extra_conf=conf))
        try:
            spark.sparkContext.setLogLevel("ERROR")
            listener = None
            if run.trace:
                listener = tracing.make_progress_listener(lambda: run.current)
                spark.streams.addListener(listener)
            for t in wl.tables:
                n = run.span(
                    "sources", t, 0, lambda: sources.load_table(spark, data_dir, t).count()
                )
                if n != rows[t]:
                    raise RuntimeError(f"{t}: read {n} rows, generated {rows[t]}")
            setup_s = time.perf_counter() - t0

            # the first pass, then whole warm passes until --seconds have gone
            # by, at least two: the same statistic in every run
            results, pass_no, warm_start = {}, 0, None
            while pass_no < 3 or time.perf_counter() - warm_start < args.seconds:
                pass_no += 1
                if pass_no == 2:
                    warm_start = time.perf_counter()
                cpu0 = tracing.process_tree(root_pid)
                t = time.perf_counter()
                results, p_s = run_pass(run, spark, wl.queries, data_dir, pass_no, listener)
                pass_s.append(time.perf_counter() - t)
                _log_pass(run, pass_no, pass_s[-1])
                cpu1 = tracing.process_tree(root_pid)
                pass_cpu.append(tracing.tree_cpu(cpu1) - tracing.tree_cpu(cpu0))
                per_pass_python_cpu.append(tracing.python_cpu(cpu1) - tracing.python_cpu(cpu0))
                plan_s.append(p_s)
                held_mb = max(held_mb, retained_mb(spark, root_pid))
            check_results(run, results, wl.queries, data_dir, wl.tables)
            if listener is not None:
                _drain(listener)
        finally:
            stop_spark(spark, root_pid)

    warm = pass_s[1:]
    if not run.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (pass_s[0], "s"),
            "pass_s": (stats.median(warm), "s"),
            "pass_cpu_s": (stats.median(pass_cpu[1:]), "s"),
            "retained_mb": (held_mb, "MB"),
        }
    else:
        metrics = _per_layer(run, wl, work, listener, rss, warm, per_pass_python_cpu[1:], plan_s[1:])
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": run.correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if run.correct else 1


def _log_pass(run, pass_no, seconds):
    per_query = " ".join(
        f"{name}={secs:.2f}"
        for layer, name, p, _, secs in run.spans
        if p == pass_no and layer == "queries"
    )
    print(f"pass {pass_no}: {seconds:.2f} s; build {per_query}", file=sys.stderr)


def _drain(listener):
    """Wait until the asynchronous progress events stop arriving: none for
    a second, or 15 s at most."""
    deadline, seen = time.time() + 15, -1
    while len(listener.progress) != seen and time.time() < deadline:
        seen = len(listener.progress)
        time.sleep(1)


def _per_layer(run, wl, work, listener, rss, warm, python_cpu, plan_s):
    """Roll the traced run up into the per-layer metrics: Spark and
    streaming figures per warm pass, set-up spans, process-tree peaks."""
    warm_passes = set(range(2, 2 + len(warm)))
    n = len(warm_passes)
    windows = {
        (p, name): (start * 1e3, (start + secs) * 1e3)
        for layer, name, p, start, secs in run.spans
        if layer == "queries" and p in warm_passes
    }
    # a query's jobs run while it is built and while it is materialized
    for layer, name, p, start, secs in run.spans:
        if layer == "materialize" and (p, name) in windows:
            windows[(p, name)] = (windows[(p, name)][0], (start + secs) * 1e3)
    spark_per_q = tracing.rollup_event_log(
        tracing.read_event_log(os.path.join(work, "eventlog")), windows
    )
    spark_tot = dict.fromkeys(tracing.SPARK_METRICS, 0.0)
    for m in spark_per_q.values():
        for k, v in m.items():
            spark_tot[k] += v
    streamed = set(listener.started.values())
    streaming = tracing.rollup_progress(listener.progress, listener.started, warm_passes)

    def span_sum(layer, pred=lambda name, p: True):
        return sum(s for l, name, p, _, s in run.spans if l == layer and pred(name, p))

    query_s = {}
    for name in wl.queries:
        per_pass = [
            span_sum("queries", lambda q, p: q == name and p == pp)
            + span_sum("materialize", lambda q, p: q == name and p == pp)
            for pp in sorted(warm_passes)
        ]
        query_s[name] = stats.median(per_pass)
    all_queries = sorted({q for w in WORKLOADS.values() for q in w.queries})
    units = {"_s": "s", "_mb": "MB", "rows": "rows"}

    def unit(k):
        return next((u for suf, u in units.items() if k.endswith(suf)), "count")

    metrics = {
        "env.get_spark_s": (span_sum("env"), "s"),
        "sources.load_s": (span_sum("sources"), "s"),
        "queries.build_s": (
            span_sum("queries", lambda q, p: p in warm_passes and (p, q) not in streamed) / n,
            "s",
        ),
        "spark.plan_s": (sum(plan_s) / n, "s"),
    }
    for k in tracing.SPARK_METRICS:
        metrics[k] = (spark_tot[k] / n, unit(k))
    for k in tracing.STREAMING_METRICS:
        metrics[k] = (streaming[k], unit(k))
    metrics["python.worker_cpu_s"] = (sum(python_cpu) / n, "s")
    metrics["python.worker_rss_mb"] = (rss.python_peak_mb, "MB")
    metrics["python.workers"] = (len(rss.python_pids), "count")
    metrics["proc.jvm_rss_mb"] = (rss.jvm_peak_mb, "MB")
    metrics["proc.peak_rss_mb"] = (rss.peak_mb, "MB")
    metrics["trace.pass_s"] = (stats.median(warm), "s")
    for q in all_queries:
        metrics[f"query.{q}_s"] = (query_s.get(q, 0.0), "s")

    sidecar = os.path.join(WORK, f"trace-{run.workload}-{os.getpid()}.json")
    with open(sidecar, "w") as f:
        json.dump(
            {
                "workload": run.workload,
                "spans": run.spans,
                "spark_per_query": {f"{p}:{q}": m for (p, q), m in spark_per_q.items()},
                "streaming_runs": {r: list(k) for r, k in listener.started.items()},
                "streaming_progress": listener.progress,
                "metrics": {k: v for k, (v, _) in metrics.items()},
            },
            f,
        )
    print(f"trace sidecar: {sidecar}", file=sys.stderr)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
