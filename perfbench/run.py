"""Benchmark entry point.

    python3 perfbench/run.py --workload control_loop --seed 1 --seconds 12 --trace 0

Prints, as the last line of stdout, one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in BENCHMARK.json. Everything else goes to stderr and
to a detail file under ``.perfbench_runs/detail/``. ``--smoke`` shrinks
every workload for the benchmark's own tests. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import catalog, control, trace  # noqa: E402
from perfbench.common import (  # noqa: E402
    REPO,
    JobCounter,
    RssSampler,
    RunRoot,
    progress_recorder,
    read_event_log,
    start_session,
    stop_gateway,
)

WORKLOADS = ("control_loop", "catalog_core")

#: control_loop's fleet and offered rate; the smoke sizes keep a run to
#: seconds of work.
SIZES = {"n_sensors": 64, "rate": 2000}
SMOKE_SIZES = {"n_sensors": 8, "rate": 200}

#: Seconds any single wait (first batch, drain, query stop) may take.
TIMEOUT_S = 60.0


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _manifest() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def run_phase(root: RunRoot, workload: str, seed: int, seconds: float, trace: bool,
              smoke: bool) -> dict:
    """One measured phase in a fresh session: set-up, measurement, checks."""
    leaks_before = root.program_tmp_dirs()
    with RssSampler() as rss:
        spark, start_s, warmup_s = start_session(root, trace, _cpus())
        rec = progress_recorder()
        spark.streams.addListener(rec)
        try:
            jobs = JobCounter(spark, rec)
            if workload == "catalog_core":
                res = catalog.run(spark, root, rec, jobs, seed=seed, seconds=seconds, smoke=smoke)
            else:
                sizes = SMOKE_SIZES if smoke else SIZES
                res = control.run(
                    spark, root, rec, jobs, seed=seed, seconds=seconds, timeout=TIMEOUT_S, **sizes
                )
                res["baseline.single_thread_readings_per_s"] = control.baseline_readings_per_s(
                    sizes["n_sensors"], seed, res["processed"]
                )
            res["active_streams_after"] = len(spark.streams.active)
        finally:
            for q in spark.streams.active:
                q.stop()
            spark.streams.removeListener(rec)
            spark.stop()
    res["session.start_s"] = start_s
    res["session.warmup_s"] = warmup_s
    res["setup_s"] = start_s + warmup_s + res.pop("workload_setup_s")
    res["peak_rss_mb"] = rss.peak_mb
    res["leaked_tmp_dirs"] = len(root.program_tmp_dirs() - leaks_before)
    return res


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": res["setup_s"],
        "latency_mean_s": res["latency_mean_s"],
        "latency_p50_s": res["latency_p50_s"],
        "latency_p99_s": res["latency_p99_s"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the benchmark's tests")
    args = ap.parse_args(argv)

    # Measure the checkout's own package; without it, fail before any
    # result is printed.
    import fdp_dynamically_controlled_streams_spark as pkg

    if REPO not in Path(pkg.__file__).resolve().parents:
        raise SystemExit(f"the package under test is not in {REPO}")

    manifest = _manifest()
    t0 = time.perf_counter()
    root = RunRoot()
    try:
        # A traced run measures twice, each phase in a fresh JVM: untraced,
        # then with the event log on. The first phase is the baseline for the
        # tracing overhead.
        phases = []
        for traced in (False, True)[: 1 + args.trace]:
            try:
                phases.append(
                    run_phase(root, args.workload, args.seed, args.seconds, traced, args.smoke)
                )
            finally:
                stop_gateway()
        res = phases[-1]
        if args.trace:
            metrics = trace.layer_metrics(args.workload, phases[0], res, read_event_log(root))
            section = "per_layer"
        else:
            metrics = end_to_end(res)
            section = "end_to_end"
        attempted = sum(ph["attempted"] for ph in phases)
        failed = sum(ph["failed"] for ph in phases)
    finally:
        root.remove()
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "phases": phases}
    units = {m["name"]: m["unit"] for m in manifest[section]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise SystemExit(f"benchmark produced no value for {missing}")
    detail["metrics"] = metrics
    detail["wall_s"] = time.perf_counter() - t0
    out_dir = REPO / ".perfbench_runs" / "detail"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1, default=str) + "\n"
    )
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": _num(metrics[name]), "unit": unit} for name, unit in units.items()
        },
    }
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


def _num(x) -> float:
    x = float(x)
    if not math.isfinite(x):
        raise SystemExit(f"non-finite metric value {x}")
    return x


if __name__ == "__main__":
    sys.exit(main())
