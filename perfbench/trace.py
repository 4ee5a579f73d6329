"""Per-layer metrics of a traced run, named by the package's modules.

A traced run measures the workload twice in one process, each phase in a
fresh JVM: first untraced, then with Spark's event log on. Layer metrics
come from the traced phase (progress events, ``statusTracker`` and the
event log); the untraced phase is the baseline for the tracing overhead
and for the check that job counts repeat. A layer the workload does not run
reports 0.
"""

from __future__ import annotations

from perfbench import catalog
from perfbench.common import EventLog, median

CONTROLLER = "streaming.controller"
CONTROLLER_PROGRESS = (
    "batches", "batch_ms_p50", "batch_ms_p99", "add_batch_ms_p50", "planning_ms_p50",
    "log_commit_ms_p50", "state_commit_ms_p50", "state_rows", "state_rows_updated_p50",
    "state_memory_mb", "rows_per_batch_p50", "cmds_per_batch_p50", "readings_per_s",
    "jobs_per_batch", "stages_per_batch", "tasks_per_batch",
)
CONTROLLER_EVENTLOG = (
    "executor_run_ms_per_batch", "executor_cpu_ms_per_batch", "gc_ms_per_batch",
    "python_init_ms_per_batch", "python_run_ms_per_batch",
    "python_bytes_sent_per_batch", "python_bytes_received_per_batch",
)
QUERIES_TOTALS = (
    "jobs_total", "stages_total", "tasks_total", "wall_total_s",
    "replay_batches_total", "replay_add_batch_s", "replay_commit_s",
    "leaked_tmp_dirs", "active_streams_after", "jobs_repeat_frac",
    "executor_run_s", "executor_cpu_s", "in_job_s", "shuffle_write_mb", "spill_mb", "gc_s",
)


def names() -> list[str]:
    """Every per-layer metric a traced run reports, in a stable order."""
    return [
        "session.start_s", "session.warmup_s",
        "sources.get_batch_ms_p50", "sources.backlog_rows_end",
        "sources.fixture_build_s", "sources.fixture_builds",
        *(f"{CONTROLLER}.{m}" for m in CONTROLLER_PROGRESS + CONTROLLER_EVENTLOG),
        f"{CONTROLLER}.jobs_per_batch_repeats",
        *(f"queries.{e}.{m}" for e in catalog.ENTRIES for m in ("wall_s", "jobs")),
        *(f"queries.{m}" for m in QUERIES_TOTALS),
        "baseline.single_thread_readings_per_s",
        "peak_rss_mb",
        "trace_overhead_frac",
    ]


def layer_metrics(workload: str, plain: dict, traced: dict, events: list[dict]) -> dict:
    out = dict.fromkeys(names(), 0.0)
    out["session.start_s"] = traced["session.start_s"]
    out["session.warmup_s"] = traced["session.warmup_s"]
    out["queries.leaked_tmp_dirs"] = traced["leaked_tmp_dirs"]
    out["queries.active_streams_after"] = traced["active_streams_after"]
    out["peak_rss_mb"] = traced["peak_rss_mb"]
    log = EventLog(events)
    if workload == "catalog_core":
        out.update(_catalog(plain, traced, log))
    else:
        out.update(_control(plain, traced, log))
        out["baseline.single_thread_readings_per_s"] = traced["baseline.single_thread_readings_per_s"]
    out["trace_overhead_frac"] = overhead(plain, traced)
    return out


def overhead(plain: dict, traced: dict) -> float:
    """Relative cost of tracing on mean latency: reading to command on the
    control workloads, per-entry wall (catalog wall / entries) on the
    catalog."""
    return traced["latency_mean_s"] / plain["latency_mean_s"] - 1.0


def _control(plain: dict, traced: dict, log: EventLog) -> dict:
    out = {k: float(v) for k, v in traced["layers"].items()}
    run_id = traced["run_id"]
    batches = max(1, traced["sink_batches"])  # every batch whose jobs are counted
    job_ids = [j for j, info in log.jobs.items() if f"runId = {run_id}" in info["desc"]]
    stages = {s for j in job_ids for s in log.jobs[j]["stages"]}
    tot = log.task_totals(lambda t: t["stage"] in stages)
    out.update(
        {
            f"{CONTROLLER}.executor_run_ms_per_batch": tot["run_ms"] / batches,
            f"{CONTROLLER}.executor_cpu_ms_per_batch": tot["cpu_ms"] / batches,
            f"{CONTROLLER}.gc_ms_per_batch": tot["gc_ms"] / batches,
            f"{CONTROLLER}.python_init_ms_per_batch": tot["py_init_ms"] / batches,
            f"{CONTROLLER}.python_run_ms_per_batch": tot["py_run_ms"] / batches,
            f"{CONTROLLER}.python_bytes_sent_per_batch": tot["py_sent_b"] / batches,
            f"{CONTROLLER}.python_bytes_received_per_batch": tot["py_recv_b"] / batches,
            f"{CONTROLLER}.jobs_per_batch_repeats": float(
                plain["layers"][f"{CONTROLLER}.jobs_per_batch"]
                == traced["layers"][f"{CONTROLLER}.jobs_per_batch"]
            ),
        }
    )
    return out


def _catalog(plain: dict, traced: dict, log: EventLog) -> dict:
    out: dict[str, float] = {
        # The fixture cache lives in the Python process: the first phase built.
        "sources.fixture_build_s": plain["fixture_build_s"],
        "sources.fixture_builds": plain["fixture_builds"],
        "queries.wall_total_s": traced["wall_total_s"],
    }
    jobs = traced["jobs"]
    for e in traced["entries"]:
        out[f"queries.{e}.wall_s"] = traced["entry_wall_s"].get(e, 0.0)
        out[f"queries.{e}.jobs"] = jobs.get(e, [0])[-1]
    last = {e: c[-1] for e, c in jobs.items()}
    out["queries.jobs_total"] = sum(last.values())
    out["queries.stages_total"] = sum(s[-1] for s in traced["stages"].values())
    out["queries.tasks_total"] = sum(t[-1] for t in traced["tasks"].values())
    # A count repeats when every warm pass of both phases saw the same value.
    repeats = [
        len(set(plain["jobs"].get(e, [])) | set(c)) == 1 for e, c in jobs.items()
    ]
    out["queries.jobs_repeat_frac"] = sum(repeats) / max(len(repeats), 1)

    # Replay micro-batches of the timed passes, per pass.
    passes = max(1, traced["passes"])
    m0, m1 = traced["measure_window"]
    warm = [p for p in traced["progress"] if m0 <= p["_t"] <= m1]
    dur = lambda p, *ks: sum((p.get("durationMs") or {}).get(k, 0) for k in ks)  # noqa: E731
    out["queries.replay_batches_total"] = len(warm) / passes
    out["queries.replay_add_batch_s"] = sum(dur(p, "addBatch") for p in warm) / 1000.0 / passes
    out["queries.replay_commit_s"] = (
        sum(dur(p, "walCommit", "commitOffsets") for p in warm) / 1000.0 / passes
    )
    out["sources.get_batch_ms_p50"] = median(
        [float(dur(p, "getBatch", "latestOffset")) for p in warm]
    ) if warm else 0.0

    tot = log.task_totals(lambda t: m0 <= t["launch"] <= m1)
    out.update(
        {
            "queries.executor_run_s": tot["run_ms"] / 1000.0 / passes,
            "queries.executor_cpu_s": tot["cpu_ms"] / 1000.0 / passes,
            "queries.gc_s": tot["gc_ms"] / 1000.0 / passes,
            "queries.shuffle_write_mb": tot["shuffle_write_b"] / 2**20 / passes,
            "queries.spill_mb": tot["spill_b"] / 2**20 / passes,
            "queries.in_job_s": log.in_job_s(m0, m1) / passes,
        }
    )
    return out
