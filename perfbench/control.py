"""The ``control_loop`` workload: the paper's loop (sensor reading -> heater
command, judged against per-key setpoints fed by a control stream) driven
through ``streaming.controller.controller_streaming`` from Spark's ``rate``
source, open loop.

Input model. Reading ``v`` (the rate source's ``value``, also its ``seq``)
belongs to sensor ``v % n`` at that sensor's step ``k = v div n``. Step 0
of every sensor, and about 1 reading in 50 after it, is a control
(setpoint) update; every other reading is a temperature on a triangle wave
that crosses the hysteresis band once per half period. All arithmetic is
on integers and quarter-degrees, so the Spark expressions below and the
numpy reference compute bit-identical inputs.
"""

from __future__ import annotations

import json
import os
import statistics
import tempfile
import threading
import time

import numpy as np

from perfbench.common import batch_layer_metrics, iso_s, median, quantile

_MIX = 2654435761
_MOD = 2147483647
_CONTROL_EVERY = 50


def _seed_mix(seed: int) -> int:
    return (seed * 97531) % _MOD


def readings_sql(n: int, seed: int) -> list[str]:
    """Select-expressions turning the rate source's ``value`` into the
    tagged-union controller input (operators.controller.unify_streams
    shape)."""
    h = f"((value * {_MIX} + {_seed_mix(seed)}) % {_MOD})"
    k = f"(value div {n})"
    ctrl = f"({k} = 0 OR {h} % {_CONTROL_EVERY} = 0)"
    period = f"(40 + 2 * (value % {n} % 5))"
    phase = f"(({k} + (value % {n}) * 7 + {seed}) % {period})"
    return [
        f"CAST(value % {n} AS INT) AS sensor_id",
        f"CAST(IF({ctrl}, 0, 1) AS INT) AS record_kind",
        f"IF({ctrl}, CAST(NULL AS DOUBLE), 19.0 + 0.25 * abs(2 * {phase} - {period})) AS temperature",
        f"IF({ctrl}, 20.0 + 0.5 * ({h} div {_CONTROL_EVERY} % 16), CAST(NULL AS DOUBLE)) AS desired",
        f"IF({ctrl}, 1.0 + 0.25 * ({h} div 800 % 4), CAST(NULL AS DOUBLE)) AS up_delta",
        f"IF({ctrl}, 1.0 + 0.25 * ({h} div 3200 % 4), CAST(NULL AS DOUBLE)) AS down_delta",
        "value AS seq",
    ]


def readings_np(n: int, seed: int, n_readings: int) -> dict[str, np.ndarray]:
    """The same readings as :func:`readings_sql`, as numpy arrays."""
    v = np.arange(n_readings, dtype=np.int64)
    h = (v * _MIX + _seed_mix(seed)) % _MOD
    sid = v % n
    k = v // n
    ctrl = (k == 0) | (h % _CONTROL_EVERY == 0)
    period = 40 + 2 * (sid % 5)
    phase = (k + sid * 7 + seed) % period
    return {
        "sensor_id": sid,
        "ctrl": ctrl,
        "temperature": 19.0 + 0.25 * np.abs(2 * phase - period),
        "desired": 20.0 + 0.5 * (h // _CONTROL_EVERY % 16),
        "up_delta": 1.0 + 0.25 * (h // 800 % 4),
        "down_delta": 1.0 + 0.25 * (h // 3200 % 4),
    }


def reference_commands(n: int, seed: int, n_readings: int) -> set[tuple[int, int, int]]:
    """Replay the controller's state machine over readings ``0..n_readings-1``
    in seq order, one step of all sensors at a time. This is an independent
    implementation of the spec (SparkStructuredController.scala:96-118):
    a control record sets the setpoint; a reading with a setpoint yields
    1 above desired+up, 0 below desired-down, and a command is emitted when
    that action differs from the sensor's last one."""
    r = readings_np(n, seed, n_readings)
    last = np.full(n, -1, dtype=np.int64)
    desired = np.full(n, np.nan)
    up = np.full(n, np.nan)
    down = np.full(n, np.nan)
    out: list[tuple[int, int, int]] = []
    for start in range(0, n_readings, n):
        sl = slice(start, min(start + n, n_readings))
        sid = r["sensor_id"][sl]
        ctrl = r["ctrl"][sl]
        cs = sid[ctrl]
        desired[cs] = r["desired"][sl][ctrl]
        up[cs] = r["up_delta"][sl][ctrl]
        down[cs] = r["down_delta"][sl][ctrl]
        sens = ~ctrl
        ss = sid[sens]
        t = r["temperature"][sl][sens]
        act = np.where(t > desired[ss] + up[ss], 1, np.where(t < desired[ss] - down[ss], 0, -1))
        valid = act >= 0  # NaN setpoint compares False both ways: no setting yet
        emit = valid & (act != last[ss])
        seqs = np.arange(sl.start, sl.stop)[sens]
        out.extend(zip(ss[emit].tolist(), act[emit].tolist(), seqs[emit].tolist()))
        last[ss[valid]] = act[valid]
    return set(out)


def command_diff(got: list[tuple[int, int, int]], expected: set[tuple[int, int, int]]) -> int:
    """Commands missing from ``got`` plus commands in ``got`` that are not
    expected (a duplicate counts as extra)."""
    got_set = set(got)
    return len(expected - got_set) + len(got_set - expected) + (len(got) - len(got_set))


def baseline_readings_per_s(n: int, seed: int, n_readings: int) -> float:
    """Throughput of the numpy reference on this (single) thread."""
    n_readings = max(n_readings, 20 * n)
    t0 = time.perf_counter()
    reference_commands(n, seed, n_readings)
    return n_readings / (time.perf_counter() - t0)


class CommandSink:
    """The query's foreachBatch sink. It collects each batch's commands on
    the driver, stamps the moment they were handed over, and notes how many
    readings the batch's offsets cover (from the checkpoint's offset log).

    Stopping cleanly takes care: Spark fails a batch whose foreachBatch
    skips partitions, and stopping the query while this callback waits on a
    Spark job kills the stream thread with a StackOverflowError (Spark
    matches a regex over the long py4j error text). So the first batch that
    covers ``stop_at`` readings parks here after its work is done; the query
    is stopped while it is parked, and then released."""

    def __init__(self, checkpoint: str, rate: int, timeout: float) -> None:
        self.checkpoint = checkpoint
        self.rate = rate
        self.timeout = timeout
        #: batch id -> (handed-over epoch s, readings covered, commands)
        self.batches: dict[int, tuple[float, int, list[tuple[int, int, int]]]] = {}
        self.stop_at: int | None = None
        self.parked = threading.Event()
        self.release = threading.Event()

    def offsets(self, batch_id: int) -> tuple[float, int]:
        """(trigger epoch seconds, readings covered) of a planned batch. The
        rate source's offset is whole seconds since its start."""
        with open(f"{self.checkpoint}/offsets/{batch_id}") as fh:
            _, meta, source = fh.read().rstrip("\n").split("\n")
        return json.loads(meta)["batchTimestampMs"] / 1000.0, int(source) * self.rate

    def last_planned(self) -> tuple[float, int] | None:
        """Offsets of the most recently planned batch, if any."""
        planned = [int(f) for f in os.listdir(f"{self.checkpoint}/offsets") if f.isdigit()]
        return self.offsets(max(planned)) if planned else None

    def __call__(self, bdf, batch_id: int) -> None:
        rows = [(r.sensor_id, r.command, r.seq) for r in bdf.collect()]
        handed = time.time()
        _, covered = self.offsets(batch_id)
        self.batches[batch_id] = (handed, covered, rows)
        if self.stop_at is not None and covered >= self.stop_at:
            self.parked.set()
            self.release.wait(self.timeout)


def _rate_creation_s(checkpoint: str) -> float:
    """The rate source's start time, persisted in its metadata log; reading
    ``v`` is due ``v / rowsPerSecond`` seconds after it."""
    with open(f"{checkpoint}/sources/0/0") as fh:
        return int(fh.read().split("\n")[1]) / 1000.0


def run(spark, root, rec, jobs, *, seed: int, seconds: float, n_sensors: int, rate: int,
        timeout: float) -> dict:
    """Offer ``rate`` readings/s over ``n_sensors`` sensors to the controller,
    measure for ``seconds``, drain, and check the commands."""
    from fdp_dynamically_controlled_streams_spark.streaming.controller import (
        controller_streaming,
    )

    chk = tempfile.mkdtemp(prefix="control_loop-chk-", dir=root.path)
    src = spark.readStream.format("rate").option("rowsPerSecond", rate).load()
    sink = CommandSink(chk, rate, timeout)
    t0 = time.perf_counter()
    q = (
        controller_streaming(src.selectExpr(*readings_sql(n_sensors, seed)))
        .writeStream.outputMode("update")
        .queryName("perfbench_control_loop")
        .foreachBatch(sink)
        .option("checkpointLocation", chk)
        .start()
    )
    qid = q.id

    def rows_in(bs: list[dict]) -> int:
        return sum(int(p["numInputRows"]) for p in bs)

    # Set-up ends with the second micro-batch that carried readings. The
    # first batches hold Python worker spawn, state-store creation and
    # first planning; the first one with readings takes everything due
    # while they ran, and the batch after it still carries that backlog.
    ok = rec.wait_for(qid, lambda bs: sum(int(p["numInputRows"]) > 0 for p in bs) >= 2, timeout)
    workload_setup_s = time.perf_counter() - t0
    warm_batches = len(rec.batches(qid))
    m0 = time.time()
    while time.time() < m0 + seconds and q.isActive:
        time.sleep(0.05)

    # Drain: the window closes with the latest batch planned in its second
    # half, and every reading offered before it (the readings that batch
    # covers, those due before m1) must reach the sink, so the drain waits
    # for that batch alone.
    deadline = time.time() + timeout
    last = sink.last_planned()
    while (last is None or last[0] <= m0 + seconds / 2) and time.time() < deadline:
        time.sleep(0.05)
        last = sink.last_planned()
    offered = last[1] if last else 0
    created_s = _rate_creation_s(chk)
    m1 = created_s + offered / rate
    sink.stop_at = offered
    ok = sink.parked.wait(timeout) and ok
    stopper = threading.Thread(target=q.stop)
    stopper.start()
    deadline = time.time() + timeout
    while q.isActive and time.time() < deadline:
        time.sleep(0.01)
    sink.release.set()
    stopper.join(timeout)
    ok = ok and not stopper.is_alive() and q.awaitTermination(timeout) and q.exception() is None
    # The termination event follows the query's last progress event.
    ok = rec.wait_all_terminated(timeout) and ok

    processed = max((b[1] for b in sink.batches.values()), default=0)
    got = [c for bid in sorted(sink.batches) for c in sink.batches[bid][2]]
    cmd_errors = command_diff(got, reference_commands(n_sensors, seed, processed))
    unprocessed = max(0, offered - processed)

    # Latency: a reading's creation stamp (the rate source's due time) -> its
    # command at the sink.
    lat: list[float] = []
    for bid, (handed, _, rows) in sink.batches.items():
        if bid < warm_batches:
            continue
        for _, _, seq in rows:
            created = created_s + seq / rate
            if m0 <= created < m1:
                lat.append(handed - created)

    batches = rec.batches(qid)
    # Throughput: readings of the batches after set-up, drain included, over
    # the span from the first one's start to the last one's end.
    warm = batches[warm_batches:]
    span_s = (
        iso_s(warm[-1]["timestamp"]) + warm[-1]["durationMs"]["triggerExecution"] / 1000.0
        - iso_s(warm[0]["timestamp"])
        if warm else 0.0
    )
    done_by_m1 = [
        p for p in batches
        if iso_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0 <= m1
    ]
    batch_jobs = jobs.job_ids([q.runId])
    n_stages, n_tasks = jobs.stages_tasks(batch_jobs)
    n_batches = max(len(sink.batches), 1)
    return {
        "timed_out": not ok,
        "attempted": max(offered, 1),
        "failed": cmd_errors + unprocessed + (0 if ok else max(offered, 1)),
        "workload_setup_s": workload_setup_s,
        "latency_mean_s": statistics.fmean(lat) if lat else float("nan"),
        "latency_p50_s": median(lat),
        "latency_p99_s": quantile(lat, 0.99),
        "latency_samples": len(lat),
        "processed": processed,
        "commands": len(got),
        "command_errors": cmd_errors,
        "unprocessed": unprocessed,
        "layers": {
            **batch_layer_metrics(
                "streaming.controller",
                batches,
                [len(sink.batches[p["batchId"]][2]) for p in batches if p["batchId"] in sink.batches],
            ),
            "streaming.controller.readings_per_s": (
                rows_in(warm) / span_s if span_s > 0 else 0.0
            ),
            "sources.get_batch_ms_p50": median(
                [
                    float(p["durationMs"].get("getBatch", 0) + p["durationMs"].get("latestOffset", 0))
                    for p in batches
                ]
            ),
            "sources.backlog_rows_end": float(max(0, offered - rows_in(done_by_m1))),
            "streaming.controller.jobs_per_batch": len(batch_jobs) / n_batches,
            "streaming.controller.stages_per_batch": n_stages / n_batches,
            "streaming.controller.tasks_per_batch": n_tasks / n_batches,
        },
        "sink_batches": len(sink.batches),
        "batch_ms": [p["durationMs"]["triggerExecution"] for p in batches],
        "batch_rows": [int(p["numInputRows"]) for p in batches],
        "warm_batches": warm_batches,
        "run_id": q.runId,
        "query_id": qid,
        "measure_window": (m0, m1),
    }
