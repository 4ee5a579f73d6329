"""Tests of the benchmark itself: its correctness references, its checks,
its manifest, and a smoke run of each workload.

    python3 -m pytest perfbench -q

The smoke runs start Spark and take a few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import catalog, control, datagen, run, trace  # noqa: E402
from perfbench.common import REPO, quantile  # noqa: E402


def _scalar_controller(n: int, seed: int, n_readings: int) -> set[tuple[int, int, int]]:
    """The controller spec, one reading at a time (no numpy vectorization)."""
    r = control.readings_np(n, seed, n_readings)
    setting: dict[int, tuple[float, float, float]] = {}
    last: dict[int, int] = {}
    out = set()
    for v in range(n_readings):
        sid = int(r["sensor_id"][v])
        if r["ctrl"][v]:
            setting[sid] = (r["desired"][v], r["up_delta"][v], r["down_delta"][v])
        elif sid in setting:
            d, u, w = setting[sid]
            t = r["temperature"][v]
            act = 1 if t > d + u else (0 if t < d - w else -1)
            if act >= 0:
                if act != last.get(sid, -1):
                    out.add((sid, act, v))
                last[sid] = act
    return out


@pytest.mark.parametrize("n,seed", [(3, 0), (8, 5), (64, 11)])
def test_reference_matches_scalar_spec(n, seed):
    n_readings = 40 * n + 7
    assert control.reference_commands(n, seed, n_readings) == _scalar_controller(n, seed, n_readings)


def test_readings_cross_the_band_and_carry_controls():
    r = control.readings_np(64, 3, 64 * 200)
    assert r["ctrl"][:64].all()  # every sensor starts with a setpoint
    share = r["ctrl"][64:].mean()
    assert 0.01 < share < 0.04  # about 1 reading in 50
    cmds = control.reference_commands(64, 3, 64 * 200)
    assert len(cmds) > 64 * 4  # several on/off commands per sensor


def test_command_check_fails_on_perturbed_expected_set():
    expected = control.reference_commands(8, 2, 8 * 100)
    got = sorted(expected)
    assert control.command_diff(got, expected) == 0
    sid, cmd, seq = got[0]
    flipped = set(expected) - {got[0]} | {(sid, 1 - cmd, seq)}
    assert control.command_diff(got, flipped) == 2
    assert control.command_diff(got, set(expected) - {got[0]}) == 1
    assert control.command_diff(got + [got[0]], expected) == 1


def test_catalog_check_fails_on_perturbed_oracle():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, np.nan, 2.0], "s": ["x", "y", "z"]})
    assert catalog.results_match(a, a.iloc[::-1].reset_index(drop=True))
    b = a.copy()
    b.loc[1, "v"] = 0.0
    assert not catalog.results_match(a, b)
    assert not catalog.results_match(a, a.iloc[:2])
    assert not catalog.results_match(a, a.rename(columns={"s": "t"}))


def test_generated_events_form_sessions_between_orders(tmp_path):
    """The generated events give the two event-time entries real work:
    several events per 30 min session, and as-of matches spread over each
    user's orders rather than only the latest one."""
    datagen.write(str(tmp_path), 3, catalog.SF)
    frames = catalog._oracle_frames(
        str(tmp_path), ["events_sessionization", "asof_latest_order_before_event"]
    )
    assert frames["events_sessionization"]["n_events"].mean() > 3
    price = frames["asof_latest_order_before_event"]["last_order_price"]
    n_users = pd.read_parquet(tmp_path / "events.parquet")["user_id"].nunique()
    assert price.nunique() > 2 * n_users
    assert 0 < price.isna().sum() < len(price) / 4  # some events precede every order


def test_warm_pass_count_depends_on_seconds_only():
    assert catalog.warm_passes(3) == catalog.warm_passes(12) == 2
    assert catalog.warm_passes(30) == 3


def test_quantile_interpolates():
    assert quantile([1, 2, 3, 4], 0.5) == 2.5
    assert quantile([5], 0.99) == 5


def test_manifest_names_every_reported_metric():
    manifest = json.loads((REPO / "BENCHMARK.json").read_text())
    assert [m["name"] for m in manifest["per_layer"]] == trace.names()
    res = dict.fromkeys(
        ["setup_s", "latency_mean_s", "latency_p50_s", "latency_p99_s"], 1.0
    )
    assert [m["name"] for m in manifest["end_to_end"]] == list(run.end_to_end(res))
    assert [w["name"] for w in manifest["workloads"]] == list(run.WORKLOADS)


def test_readings_sql_matches_numpy_and_controller_batch():
    """The Spark input expressions and the numpy generator agree bit for bit,
    and the package's batch controller agrees with the reference."""
    from fdp_dynamically_controlled_streams_spark.operators.controller import controller_batch
    from fdp_dynamically_controlled_streams_spark.session import get_spark

    n, seed, n_readings = 16, 7, 16 * 120
    spark = get_spark(app_name="perfbench-tests", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    df = spark.range(n_readings).withColumnRenamed("id", "value")
    got = df.selectExpr(*control.readings_sql(n, seed)).toPandas().sort_values("seq")
    want = control.readings_np(n, seed, n_readings)
    assert (got["sensor_id"].to_numpy() == want["sensor_id"]).all()
    ctrl = want["ctrl"]
    assert ((got["record_kind"].to_numpy() == 0) == ctrl).all()
    assert (got["temperature"].to_numpy()[~ctrl] == want["temperature"][~ctrl]).all()
    for col in ("desired", "up_delta", "down_delta"):
        assert (got[col].to_numpy()[ctrl] == want[col][ctrl]).all()

    unified = df.selectExpr(*control.readings_sql(n, seed))
    control_df = unified.where("record_kind = 0").select(
        "sensor_id", "desired", "up_delta", "down_delta", "seq"
    )
    sensor_df = unified.where("record_kind = 1").select("sensor_id", "temperature", "seq")
    batch = {tuple(r) for r in controller_batch(control_df, sensor_df).collect()}
    assert batch == control.reference_commands(n, seed, n_readings)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace_flag", [0, 1])
def test_smoke_run_prints_a_correct_result(workload, trace_flag):
    proc = subprocess.run(
        [sys.executable, str(REPO / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "3", "--trace", str(trace_flag), "--smoke"],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    manifest = json.loads((REPO / "BENCHMARK.json").read_text())
    section = manifest["per_layer" if trace_flag else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in section]
    if not trace_flag:
        assert all(v["value"] > 0 for v in result["metrics"].values())
