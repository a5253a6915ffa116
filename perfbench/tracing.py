"""Measurement from outside the program: the /proc reader for the run's own
process tree, the streaming progress listener, and the roll-up of Spark's
event log into per-pass, per-query figures.

The readers take recorded inputs (a /proc root, event-log lines, progress
dicts) so they are tested without Spark.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024.0 * 1024.0
RSS_INTERVAL_S = 0.2


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    kind: str  # "driver", "jvm", "python" (pyspark daemon or worker), "other"
    cpu_s: float  # own user+system time plus that of reaped children
    rss_mb: float


def _kind(cmdline: str) -> str:
    if "pyspark.daemon" in cmdline or "pyspark/daemon" in cmdline:
        return "python"
    if "java" in cmdline.split(" ")[0]:
        return "jvm"
    return "other"


def _read_stat(proc_root: str, pid: str):
    with open(f"{proc_root}/{pid}/stat") as f:
        stat = f.read()
    # comm may hold spaces and parentheses: the fields start after the last ')'
    fields = stat[stat.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return ppid, (utime + stime + cutime + cstime) / CLK_TCK, rss_pages * PAGE / MB


def process_tree(root_pid: int, proc_root: str = "/proc") -> list:
    """``root_pid`` and every live descendant, read from ``proc_root``.

    A child's CPU time moves into its parent's ``cutime``/``cstime`` when it
    is reaped, so the sum over the tree keeps counting exited workers."""
    stats = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            stats[int(name)] = _read_stat(proc_root, name)
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
    children = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        ppid, cpu, rss = stats[pid]
        try:
            with open(f"{proc_root}/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            cmd = ""
        kind = "driver" if pid == root_pid else _kind(cmd)
        out.append(Proc(pid, ppid, kind, cpu, rss))
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(procs) -> float:
    return sum(p.cpu_s for p in procs)


def python_cpu(procs) -> float:
    return sum(p.cpu_s for p in procs if p.kind == "python")


class RssSampler:
    """Samples the process tree's resident memory on a background thread;
    keeps the peak of the whole tree, of the JVM and of the Python workers,
    and the set of Python worker pids seen."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_mb = self.jvm_peak_mb = self.python_peak_mb = 0.0
        self.python_pids = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        procs = process_tree(self.root_pid)
        self.peak_mb = max(self.peak_mb, sum(p.rss_mb for p in procs))
        jvm = sum(p.rss_mb for p in procs if p.kind == "jvm")
        py = [p for p in procs if p.kind == "python"]
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
        self.python_peak_mb = max(self.python_peak_mb, sum(p.rss_mb for p in py))
        # the daemon is the python process whose parent is not itself python
        kinds = {p.pid: p.kind for p in procs}
        self.python_pids.update(p.pid for p in py if kinds.get(p.ppid) == "python")

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def make_progress_listener(current):
    """A ``StreamingQueryListener`` that records each streaming run's start
    under ``current()`` (the benchmark's (pass, query) at ``start()``,
    which Spark reports to listeners before ``start()`` returns) and every
    progress event as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.started = {}  # runId -> (pass, query)
            self.progress = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.runId)] = current()

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


STREAMING_METRICS = (
    "streaming.batches",
    "streaming.add_batch_s",
    "streaming.planning_s",
    "streaming.wal_commit_s",
    "streaming.state_commit_s",
    "streaming.late_rows_dropped",
    "streaming.state_rows",
    "streaming.state_mb",
    "streaming.state_partitions",
)


def rollup_progress(progress, started, passes) -> dict:
    """Streaming figures per pass, averaged over ``passes``.  Batch counts
    and durations are summed over every micro-batch; state rows, bytes and
    partitions are those each streaming run held at its last batch."""
    out = dict.fromkeys(STREAMING_METRICS, 0.0)
    if not passes:
        return out
    last = {}
    for p in progress:
        key = started.get(p["runId"])
        if key is None or key[0] not in passes:
            continue
        d = p.get("durationMs", {})
        out["streaming.batches"] += 1
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        for op in p.get("stateOperators", ()):
            out["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
            out["streaming.late_rows_dropped"] += op.get("numRowsDroppedByWatermark", 0)
        if p["batchId"] >= last.get(p["runId"], {}).get("batchId", -1):
            last[p["runId"]] = p
    for p in last.values():
        for op in p.get("stateOperators", ()):
            out["streaming.state_rows"] += op.get("numRowsTotal", 0)
            out["streaming.state_mb"] += op.get("memoryUsedBytes", 0) / MB
            out["streaming.state_partitions"] += op.get("numShufflePartitions", 0)
    return {k: v / len(passes) for k, v in out.items()}


SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.input_mb",
    "spark.input_rows",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.spill_mb",
    "spark.fetch_wait_s",
)


def read_event_log(log_dir: str):
    """Yield the events of the one uncompressed, non-rolled event log
    under ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            yield json.loads(line)


def rollup_event_log(events, windows) -> dict:
    """Sum Spark's job, stage and task figures per window.

    ``windows`` maps a key (here ``(pass, query)``) to the ``(start_ms,
    end_ms)`` wall-clock interval the benchmark spent in it; a job belongs to
    the window its submission time falls in, a stage and its tasks to the
    first job that lists the stage.  Jobs outside every window are ignored.
    """
    spans = sorted((s, e, k) for k, (s, e) in windows.items())

    def window_of(t_ms):
        for s, e, k in spans:
            if s <= t_ms <= e:
                return k
        return None

    stage_key, out = {}, {}

    def acc(key):
        return out.setdefault(key, dict.fromkeys(SPARK_METRICS, 0.0))

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            key = window_of(ev["Submission Time"])
            if key is None:
                continue
            acc(key)["spark.jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            # stages a job skipped (shuffle output reused) never ran
            if key is not None and "Submission Time" in ev["Stage Info"]:
                acc(key)["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            m = acc(key)
            m["spark.tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                m["spark.failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            if not tm:
                continue
            m["spark.task_run_s"] += tm["Executor Run Time"] / 1e3
            m["spark.task_cpu_s"] += tm["Executor CPU Time"] / 1e9
            m["spark.gc_s"] += tm["JVM GC Time"] / 1e3
            m["spark.input_mb"] += tm["Input Metrics"]["Bytes Read"] / MB
            m["spark.input_rows"] += tm["Input Metrics"]["Records Read"]
            sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
            m["spark.shuffle_read_mb"] += (
                sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            ) / MB
            m["spark.fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
            m["spark.shuffle_write_mb"] += sw["Shuffle Bytes Written"] / MB
            m["spark.spill_mb"] += (
                tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            ) / MB
    return out
