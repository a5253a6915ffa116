"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The readers are tested on inputs recorded from real runs under
``perfbench/testdata``; each workload runs once end to end on small tables,
traced, with the oracle check.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

import datagen
import stats
import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "testdata")
MB = 1024 * 1024


def test_quartiles_follow_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, med, q3 = stats.quartiles(vals)
    assert (q1, med, q3) == tuple(statistics.quantiles(vals, n=4))
    assert med == stats.median(vals) == 3.75
    assert stats.spread(vals) == pytest.approx((q3 - q1) / med)
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_datagen_is_a_function_of_the_seed():
    sizes = WORKLOADS["stream_sessions"].sizes
    a, b, c = (datagen.tables(s, sizes)["events"] for s in (7, 7, 8))
    assert a.equals(b) and not a.equals(c)
    assert a.num_rows == sizes.events
    ts = a.column("ts").to_pylist()
    assert ts == sorted(ts)  # events arrive in event-time order


def test_rollup_progress_on_recorded_events():
    rec = json.load(open(os.path.join(DATA, "progress.json")))
    started = {r: tuple(k) for r, k in rec["started"].items()}
    got = tracing.rollup_progress(rec["progress"], started, {2})
    # pass 2 ran streaming_session_agg and streaming_stream_join, two
    # micro-batches each (the data batch and the watermark-only batch)
    assert got["streaming.batches"] == 4
    assert got["streaming.add_batch_s"] == pytest.approx((573 + 312 + 1211 + 829) / 1e3)
    assert got["streaming.state_commit_s"] == pytest.approx((683 + 530 + 2340 + 1904) / 1e3)
    # state held after each run's last batch
    assert got["streaming.state_rows"] == 2 + 3
    assert got["streaming.state_partitions"] == 4 + 4
    assert got["streaming.state_mb"] == pytest.approx((253580 + 157178) / MB)
    assert got["streaming.late_rows_dropped"] == 0
    both = tracing.rollup_progress(rec["progress"], started, {1, 2})
    assert both["streaming.batches"] == 4  # averaged over the two passes
    assert tracing.rollup_progress(rec["progress"], started, set())["streaming.batches"] == 0


def _events():
    with open(os.path.join(DATA, "eventlog.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_rollup_event_log_on_recorded_log():
    events = _events()
    rec = json.load(open(os.path.join(DATA, "eventlog_windows.json")))
    windows = {k: tuple(v) for k, v in rec["windows"].items()}
    got = tracing.rollup_event_log(events, windows)
    assert set(got) == set(rec["expected"])
    for key, want in rec["expected"].items():
        for metric, value in want.items():
            assert got[key][metric] == pytest.approx(value), (key, metric)
    # a window that covers no job submission gets nothing
    assert tracing.rollup_event_log(events, {"none": (0, 1)}) == {}


def test_process_tree_on_recorded_proc():
    rec = json.load(open(os.path.join(DATA, "proc_expected.json")))
    procs = tracing.process_tree(rec["root"], os.path.join(DATA, "proc"))
    kinds = {str(p.pid): p.kind for p in procs}
    assert kinds == rec["kinds"]  # the unrelated process is not in the tree
    assert tracing.tree_cpu(procs) == pytest.approx(rec["tree_cpu_s"])
    assert tracing.python_cpu(procs) == pytest.approx(rec["python_cpu_s"])
    assert sum(p.rss_mb for p in procs) == pytest.approx(rec["rss_mb"])


def test_run_refuses_a_checkout_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# Small tables: the passes cost about what they cost at full size (fixed
# costs dominate), the oracle check and every traced layer still run.
_SMALL = {
    "stream_sessions": dict(events=500, users=8),
    "curate_corpus": dict(documents=150, embeddings=150),
}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_traced_and_matches_its_oracle(workload):
    script = (
        "import dataclasses, sys, run, workloads\n"
        f"w = workloads.WORKLOADS[{workload!r}]\n"
        f"workloads.WORKLOADS[{workload!r}] = dataclasses.replace(\n"
        f"    w, sizes=dataclasses.replace(w.sizes, **{_SMALL[workload]!r}))\n"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '1',\n"
        "                    '--seconds', '0', '--trace', '1']))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=HERE, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    n = len(WORKLOADS[workload].queries)
    # the first pass, two warm passes and one check per query
    assert (out["correct"], out["attempted"], out["failed"]) == (True, 4 * n, 0)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = out["metrics"]
    assert set(metrics) == {m["name"] for m in bench["per_layer"]}
    for m in bench["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
    for name in WORKLOADS[workload].queries:
        assert metrics[f"query.{name}_s"]["value"] > 0
    for name in ("env.get_spark_s", "sources.load_s", "spark.jobs", "spark.tasks",
                 "spark.task_run_s", "spark.input_rows", "python.workers",
                 "proc.jvm_rss_mb", "trace.pass_s"):
        assert metrics[name]["value"] > 0, name
    streaming = metrics["streaming.batches"]["value"] > 0
    assert streaming == (workload == "stream_sessions")
