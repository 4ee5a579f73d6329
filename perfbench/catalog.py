"""The ``catalog_core`` workload: a fixed list of catalog entries, each
called through ``queries.spark_queries`` and materialized through a
``noop`` sink, on tables generated from the seed.

A cold pass (set-up) builds the replay fixtures, warms codegen and Python
workers, and captures every entry's rows for the correctness check; warm
passes are timed, and an entry's wall is its fastest warm pass. After
timing, each captured result is compared with the entry's DuckDB oracle (or
its plain-Python reference) on the same tables.
"""

from __future__ import annotations

import math
import time

from perfbench import datagen
from perfbench.common import iso_s, median, quantile

#: One or more entries per kind of work the catalog does; see README.md for
#: why each is here and which of the catalog's heavier entries were left out.
ENTRIES = (
    # replay harness in queries.py
    "streaming_dedup_replay",
    # job-heavy iterative loop
    "graph_pagerank_suppliers",
    # controller batch twin (operators/controller.py)
    "controller_emit_on_change",
    # relational, fixed per-query cost
    "agg_pricing_summary",
    "join_shipping_priority",
    "window_running_revenue",
    "events_sessionization",
    "asof_latest_order_before_event",
    # operators
    "multimodal_decode_features",
    "text_token_stats",
)
SMOKE_ENTRIES = ("streaming_dedup_replay", "controller_emit_on_change", "agg_pricing_summary")

SF = 0.001
SMOKE_SF = 0.0005

#: About one warm pass's wall on a 4-core host. The number of warm passes
#: follows from ``--seconds`` alone (never from how fast the host runs), so
#: every commit is measured over the same number of passes.
WARM_PASS_S = 10.0


def warm_passes(seconds: float) -> int:
    """At least two: the first warm pass is still warming up (JIT)."""
    return max(2, math.ceil(seconds / WARM_PASS_S))


def _normalize(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64") + 0.0  # fold -0.0 into 0.0
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def results_match(got, expected) -> bool:
    """Exact multiset equality of two result frames (NaN equals NaN),
    the rule the repository's oracle gate applies."""
    if sorted(got.columns) != sorted(expected.columns) or len(got) != len(expected):
        return False
    a, b = _normalize(got), _normalize(expected)
    return all(
        bool(((a[c] == b[c]) | (a[c].isna() & b[c].isna())).all()) for c in a.columns
    )


def _oracle_frames(data_dir: str, names) -> dict:
    import duckdb

    from fdp_dynamically_controlled_streams_spark.queries import catalog
    from fdp_dynamically_controlled_streams_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            entry = catalog()[name]
            out[name] = (
                con.execute(entry.oracle).fetchdf() if entry.oracle else entry.py_oracle(con)
            )
        return out
    finally:
        con.close()


def run(spark, root, rec, jobs, *, seed: int, seconds: float, smoke: bool) -> dict:
    from fdp_dynamically_controlled_streams_spark.queries import spark_queries
    from fdp_dynamically_controlled_streams_spark.sources.registry import FIXTURE_STATS

    entries = SMOKE_ENTRIES if smoke else ENTRIES
    fns = spark_queries()
    data_dir = root.sub("data")
    t0 = time.perf_counter()
    datagen.write(data_dir, seed, SMOKE_SF if smoke else SF)
    datagen_s = time.perf_counter() - t0

    failures: dict[str, str] = {}
    captured = {}
    cold: dict[str, float] = {}
    b0, n0 = FIXTURE_STATS["build_sec"], FIXTURE_STATS["builds"]
    t0 = time.perf_counter()
    for name in entries:
        t = time.perf_counter()
        try:
            captured[name] = fns[name](spark, data_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failing entry is a counted failure
            failures[name] = f"cold pass raised {type(exc).__name__}: {exc}"[:300]
        cold[name] = time.perf_counter() - t
        if spark.streams.active:
            failures.setdefault(name, "left a streaming query active")
            for q in spark.streams.active:
                q.stop()
    cold_s = time.perf_counter() - t0
    fixture_build_s = FIXTURE_STATS["build_sec"] - b0
    fixture_builds = FIXTURE_STATS["builds"] - n0

    timed = [n for n in entries if n not in failures]
    walls: dict[str, list[float]] = {n: [] for n in timed}
    counts = {k: {n: [] for n in timed} for k in ("jobs", "stages", "tasks")}
    passes = warm_passes(seconds)
    m0 = time.time()
    for _ in range(passes):
        for name in timed:
            before = jobs.job_ids()
            t = time.perf_counter()
            try:
                fns[name](spark, data_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                failures.setdefault(name, f"warm pass raised {type(exc).__name__}: {exc}"[:300])
            walls[name].append(time.perf_counter() - t)
            ran = jobs.job_ids() - before
            n_stages, n_tasks = jobs.stages_tasks(ran)
            counts["jobs"][name].append(len(ran))
            counts["stages"][name].append(n_stages)
            counts["tasks"][name].append(n_tasks)
            if spark.streams.active:
                failures.setdefault(name, "left a streaming query active")
                for q in spark.streams.active:
                    q.stop()
    m1 = time.time()

    # Replay progress is read below: every query's record must be whole.
    if not rec.wait_all_terminated(60.0):
        failures["(listener)"] = "a streaming query never reported termination"

    expected = _oracle_frames(data_dir, list(captured))
    mismatched = [n for n in captured if not results_match(captured[n], expected[n])]
    for n in mismatched:
        failures.setdefault(n, "output differs from the oracle")

    # An entry's wall is its fastest warm pass, as in the repository's catalog
    # bench: a slower reading is interference from outside the entry.
    per_entry = {n: min(walls[n]) for n in timed}
    samples = list(per_entry.values())
    total = sum(samples)
    return {
        "attempted": len(entries),
        "failed": len(failures),
        "failures": failures,
        "workload_setup_s": datagen_s + cold_s,
        "datagen_s": datagen_s,
        "cold_pass_s": cold_s,
        "cold_walls": cold,
        "fixture_build_s": fixture_build_s,
        "fixture_builds": fixture_builds,
        "passes": passes,
        "walls": walls,
        **counts,
        "progress": [
            {**p, "_t": iso_s(p["timestamp"])} for bs in rec.all_batches().values() for p in bs
        ],
        "measure_window": (m0, m1),
        "entry_wall_s": per_entry,
        "wall_total_s": total,
        "latency_mean_s": total / len(samples) if samples else float("nan"),
        "latency_p50_s": median(samples),
        "latency_p99_s": quantile(samples, 0.99),
        "entries": list(entries),
    }
