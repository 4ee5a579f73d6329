"""Plumbing shared by the workloads: the per-run scratch root, the Spark
session, a driver-tree RSS sampler, a progress recorder keyed by query id,
and the Spark event-log reader used by traced runs.

Everything here observes the program from outside: it calls the package's
public functions and reads Spark's public progress, ``statusTracker`` and
event-log data. Nothing is patched into the package.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
from collections import defaultdict
from pathlib import Path

#: The checkout the benchmark runs from (parent of this directory).
REPO = Path(__file__).resolve().parent.parent


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (0 <= q <= 1); NaN on no samples."""
    if not values:
        return float("nan")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def iso_s(ts: str) -> float:
    """Epoch seconds of a progress event's UTC ``timestamp``."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


class RunRoot:
    """One scratch directory per run, inside the checkout. Python's
    ``tempfile``, the JVM's ``java.io.tmpdir`` and Spark's local dirs all
    point here, so the program's own scratch dirs (``dcs-*``) land here too
    and can be counted as leaks. The whole root is removed when the run
    ends; nothing is deleted while the workload runs."""

    def __init__(self) -> None:
        base = REPO / ".perfbench_runs"
        base.mkdir(exist_ok=True)
        self.path = base / f"run-{os.getpid()}-{time.time_ns()}"
        self.tmp = self.path / "tmp"
        self.tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.tmp)
        # Takes precedence over spark.local.dir when set in the environment.
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        # Every JVM spark-submit starts (its launcher too): temp files here,
        # and no hsperfdata files in the system /tmp.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR on next use

    def sub(self, name: str) -> str:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def program_tmp_dirs(self) -> set[str]:
        return set(glob.glob(str(self.tmp / "dcs-*")))

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()
        except OSError:
            pass  # another run's root is still there


def session_conf(root: RunRoot, trace: bool) -> dict[str, str]:
    conf = {
        # Keep the one-line result parseable in a bounded output tail.
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": root.sub("warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + root.sub("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(root: RunRoot, trace: bool, cpus: int):
    """Start the engine session through the package's ``get_spark`` and
    warm it with one trivial job. Returns (spark, start_s, warmup_s)."""
    # Python workers import the package by name.
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    from fdp_dynamically_controlled_streams_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf=session_conf(root, trace),
    )
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_gateway() -> None:
    """Shut down the JVM the session started, and wait until it and every
    process below it (the Python workers) have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    started = descendants()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Workers outlive the JVM by a moment (and are re-parented when it exits).
    deadline = time.time() + 20
    while started and time.time() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


JOB_GROUP = "perfbench"


class JobCounter:
    """Counts Spark jobs, stages and tasks from ``statusTracker``. A job is
    ours if it ran in the benchmark's job group, in no group (driver
    thread pools do not inherit one) or in the group of a streaming query
    the recorder saw start (Spark names that group after the run id).
    Read it right after the call it counts: the status store keeps only
    the most recent jobs."""

    def __init__(self, spark, rec) -> None:
        self._st = spark.sparkContext.statusTracker()
        self._rec = rec
        spark.sparkContext.setJobGroup(JOB_GROUP, "perfbench")

    def job_ids(self, groups=None) -> set[int]:
        if groups is None:
            groups = [None, JOB_GROUP, *self._rec.run_ids]
        return {j for g in groups for j in self._st.getJobIdsForGroup(g)}

    def stages_tasks(self, job_ids) -> tuple[int, int]:
        """(stages that ran, tasks completed) over ``job_ids``."""
        stage_ids = set()
        for j in job_ids:
            info = self._st.getJobInfo(j)
            stage_ids.update(info.stageIds if info else [])
        done = [si.numCompletedTasks for si in map(self._st.getStageInfo, stage_ids) if si]
        return sum(1 for n in done if n > 0), sum(done)


# --------------------------------------------------------------------------
# Peak resident memory of the process tree below this one (driver JVM +
# Python workers).
# --------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may hold spaces; ppid is the 2nd field after the closing ')'.
        rest = raw.rsplit(")", 1)[-1].split()
        kids[int(rest[1])].append(int(stat.split("/")[2]))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared among
    processes split between them. Python workers are forked from one
    daemon, so summing their plain RSS would count shared pages per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def descendants() -> set[int]:
    """Pids of every process below this one."""
    kids = _children_map()
    todo, found = list(kids.get(os.getpid(), [])), set()
    while todo:
        pid = todo.pop()
        found.add(pid)
        todo.extend(kids.get(pid, []))
    return found


def tree_rss_mb() -> float:
    """Resident memory of every process below this one (the driver JVM and
    its Python workers), as summed proportional set size."""
    return sum(_pss_kb(pid) for pid in descendants()) / 1024.0


class RssSampler:
    """Samples :func:`tree_rss_mb` every 0.25 s on a daemon thread;
    ``peak_mb`` is the highest value seen."""

    PERIOD_S = 0.25

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# --------------------------------------------------------------------------
# Streaming progress, attributed by query id.
# --------------------------------------------------------------------------


def progress_recorder():
    """A StreamingQueryListener that keeps every progress event as a dict,
    grouped by ``progress.id``. Readers wait for a given batch id of a
    given query before reading, so a late event on the listener bus is
    never dropped or attributed to another query."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self._cv = threading.Condition()
            self._events: dict[str, dict[int, dict]] = defaultdict(dict)
            self.started: set[str] = set()
            self.terminated: set[str] = set()
            self.run_ids: list[str] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark API
            with self._cv:
                self.started.add(str(event.id))
                self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            with self._cv:
                self._events[p["id"]][p["batchId"]] = p
                self._cv.notify_all()

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            # The bus delivers a query's progress events before its
            # termination event, so a terminated query's record is whole.
            with self._cv:
                self.terminated.add(str(event.id))
                self._cv.notify_all()

        def wait_all_terminated(self, timeout: float) -> bool:
            with self._cv:
                return self._cv.wait_for(lambda: self.started <= self.terminated, timeout)

        def all_batches(self) -> dict[str, list[dict]]:
            with self._cv:
                return {qid: self._batches(qid) for qid in self._events}

        def wait_for(self, qid: str, pred, timeout: float) -> bool:
            """Block until ``pred(batches)`` holds for query ``qid``."""
            with self._cv:
                return self._cv.wait_for(lambda: pred(self._batches(qid)), timeout)

        def _batches(self, qid: str) -> list[dict]:
            evs = self._events.get(qid, {})
            return [evs[b] for b in sorted(evs)]

        def batches(self, qid: str) -> list[dict]:
            with self._cv:
                return self._batches(qid)

    return ProgressRecorder()


def state_op(p: dict) -> dict:
    ops = p.get("stateOperators") or []
    return ops[0] if ops else {}


def batch_layer_metrics(prefix: str, batches: list[dict], cmds_per_batch: list[int]) -> dict:
    """Per-micro-batch layer metrics from progress events (one query)."""

    def dur(p: dict, *keys: str) -> float:
        d = p.get("durationMs") or {}
        return float(sum(d.get(k, 0) for k in keys))

    trig = [dur(p, "triggerExecution") for p in batches]
    return {
        f"{prefix}.batches": len(batches),
        f"{prefix}.batch_ms_p50": median(trig),
        f"{prefix}.batch_ms_p99": quantile(trig, 0.99),
        f"{prefix}.add_batch_ms_p50": median([dur(p, "addBatch") for p in batches]),
        f"{prefix}.planning_ms_p50": median([dur(p, "queryPlanning") for p in batches]),
        f"{prefix}.log_commit_ms_p50": median(
            [dur(p, "walCommit", "commitOffsets") for p in batches]
        ),
        f"{prefix}.state_commit_ms_p50": median(
            [float(state_op(p).get("commitTimeMs", 0)) for p in batches]
        ),
        f"{prefix}.state_rows": float(state_op(batches[-1]).get("numRowsTotal", 0))
        if batches
        else 0.0,
        f"{prefix}.state_rows_updated_p50": median(
            [float(state_op(p).get("numRowsUpdated", 0)) for p in batches]
        ),
        f"{prefix}.state_memory_mb": max(
            [state_op(p).get("memoryUsedBytes", 0) / 2**20 for p in batches], default=0.0
        ),
        f"{prefix}.rows_per_batch_p50": median([float(p["numInputRows"]) for p in batches]),
        f"{prefix}.cmds_per_batch_p50": median([float(c) for c in cmds_per_batch]),
    }


# --------------------------------------------------------------------------
# Event log (traced runs only).
# --------------------------------------------------------------------------


def read_event_log(root: RunRoot) -> list[dict]:
    """All events of this run's application(s), in file order. Call after
    the session has stopped, so the log is complete."""
    events: list[dict] = []
    for fp in sorted(glob.glob(os.path.join(root.path, "eventlog", "*"))):
        with open(fp) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class EventLog:
    """Jobs and per-task metrics of a parsed event log."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.job_end: dict[int, float] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "t": e.get("Submission Time", 0) / 1000.0,
                    "stages": list(e.get("Stage IDs") or []),
                    "desc": props.get("spark.job.description") or "",
                }
            elif kind == "SparkListenerJobEnd":
                self.job_end[e["Job ID"]] = e.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(_task_record(e))

    def task_totals(self, pred) -> dict[str, float]:
        tot: dict[str, float] = defaultdict(float)
        for t in self.tasks:
            if pred(t):
                for k, v in t.items():
                    if k not in ("stage", "launch"):
                        tot[k] += v
        return tot

    def in_job_s(self, t0: float, t1: float) -> float:
        """Wall time in [t0, t1] with at least one job running."""
        spans = sorted(
            (max(self.jobs[j]["t"], t0), min(self.job_end.get(j, t1), t1))
            for j in self.jobs
            if self.jobs[j]["t"] < t1 and self.job_end.get(j, t1) > t0
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


#: Python-runner SQL metrics, as named in task accumulables.
_PY_METRICS = {
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


def _task_record(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    info = e.get("Task Info") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    rec = {
        "stage": e.get("Stage ID"),
        "launch": info.get("Launch Time", 0) / 1000.0,
        "run_ms": float(m.get("Executor Run Time", 0)),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": float(m.get("JVM GC Time", 0)),
        "shuffle_write_b": float(sw.get("Shuffle Bytes Written", 0)),
        "spill_b": float(m.get("Memory Bytes Spilled", 0)) + float(m.get("Disk Bytes Spilled", 0)),
        **dict.fromkeys(_PY_METRICS.values(), 0.0),
    }
    for acc in info.get("Accumulables") or []:
        key = _PY_METRICS.get(acc.get("Name"))
        if key:
            rec[key] += float(acc.get("Update", 0))
    return rec
