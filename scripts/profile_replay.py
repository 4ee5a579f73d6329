"""Per-micro-batch cost attribution for the streaming replay entries.

Runs the named catalog entries (argv, default: a representative replay set)
twice in a warm session with streaming/monitor.ProgressRecorder attached,
and prints the per-batch durationMs breakdown (triggerExecution,
queryPlanning, getBatch, addBatch, walCommit, commitOffsets, ...) of the
streaming queries each pass ran, selected by query id and name, plus the
entry's wall seconds.  Measurement-only tooling (guide §1): it never touches
what the entries compute.

Usage: python scripts/profile_replay.py [entry ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fdp_dynamically_controlled_streams_spark.queries import spark_queries  # noqa: E402
from fdp_dynamically_controlled_streams_spark.session import get_spark  # noqa: E402
from fdp_dynamically_controlled_streams_spark.streaming.monitor import (  # noqa: E402
    ProgressRecorder,
)

DEFAULT = [
    "stream_interval_full_join_replay",
    "stream_ewma_replay",
    "stream_mv_agg_replay",
    "stream_degree_count_replay",
    "controller_streaming_replay",
]


def _entry_batches(rec: ProgressRecorder, name: str, seen: set[str]) -> list:
    """Batches of the queries the entry just ran: named after it (the replay
    runner names each query after its entry), not run by an earlier pass,
    and terminated, so no late progress event is still in flight."""
    deadline = time.time() + 10
    while True:
        ids = {b.query_id for b in rec.batches if b.name == name} - seen
        if (ids and ids <= rec.terminated) or time.time() > deadline:
            break
        time.sleep(0.1)
    seen |= ids
    return [b for b in rec.batches if b.query_id in ids]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or DEFAULT
    spark = get_spark(app_name="profile-replay")
    spark.range(1000).count()
    qs = spark_queries()
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    seen: set[str] = set()
    for name in names:
        for rep in range(2):  # run twice: pass 2 hits the fixture cache
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            batches = _entry_batches(rec, name, seen)
            tot = lambda k: sum(b.duration_ms.get(k, 0) for b in batches)  # noqa: E731
            commit = sum(b.state_commit_ms or 0 for b in batches)
            print(
                f"{name} pass{rep + 1}: wall={wall:.2f}s batches={len(batches)} "
                f"trigger={tot('triggerExecution')}ms addBatch={tot('addBatch')}ms "
                f"planning={tot('queryPlanning')}ms getBatch={tot('getBatch')}ms "
                f"latestOffset={tot('latestOffset')}ms walCommit={tot('walCommit')}ms "
                f"commitOffsets={tot('commitOffsets')}ms stateCommit={commit}ms"
            )
            if rep == 1:
                for b in batches:
                    print(f"   batch {b.batch_id}: {b.duration_ms}")
    spark.streams.removeListener(rec)


if __name__ == "__main__":
    main()
