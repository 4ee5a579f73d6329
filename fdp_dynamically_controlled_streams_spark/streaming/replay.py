"""The one runner for finite replays: a stream over replay chunk files runs
to completion under the ``availableNow`` trigger, then the caller reads
what its sink wrote.

Every replay entry in the catalog and every restart-safe maintenance
pipeline goes through :func:`run_replay`, so the per-query deploy conf,
the query name and the timeout rule live in one place:

* the conf is held from query start until termination — the state
  partition count sized to the replay's key cardinality, and the
  HDFS-backed (in-memory + snapshot) state store instead of the session's
  RocksDB default. RocksDB is the right posture for 100 TB key spaces
  (session.ENGINE_CONF), but each instance pays open/commit overhead per
  store per partition per micro-batch, which dominates a small replay;
* the query is named, and Spark puts the name into each batch's job
  description, so a replay's jobs and progress events are attributable;
* a replay that does not finish within ``timeout_sec`` is stopped and
  raises ``TimeoutError``: it never returns partial output or leaves a
  running query behind.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from fdp_dynamically_controlled_streams_spark.sources.registry import scratch_dir

_HDFS_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


@contextlib.contextmanager
def _replay_conf(spark: SparkSession, partitions: int):
    """Both settings are read at query start and restored after."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _HDFS_STATE_STORE)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev_prov)


def run_replay(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None] | str,
    *,
    name: str,
    partitions: int,
    checkpoint: str,
    output_mode: str,
    timeout_sec: int = 300,
) -> None:
    """Run the streaming ``df`` to completion into ``sink`` — a
    ``foreachBatch`` callback, or a sink format name such as ``"noop"``.
    Raises ``TimeoutError`` (after stopping the query) if it has not
    terminated within ``timeout_sec``; a failed query raises its own
    error."""
    spark = df.sparkSession
    with _replay_conf(spark, partitions):
        writer = (
            df.writeStream.outputMode(output_mode)
            .queryName(name)
            .option("checkpointLocation", checkpoint)
        )
        writer = writer.format(sink) if isinstance(sink, str) else writer.foreachBatch(sink)
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(f"replay {name!r} did not finish within {timeout_sec} s")


def read_replay_out(spark: SparkSession, ddl: str, path: str) -> DataFrame:
    """Read back a replay's parquet output. A replay that produced zero
    micro-batches never creates the directory — return an empty typed frame
    instead of raising PATH_NOT_FOUND."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], ddl)
    return spark.read.schema(ddl).parquet(path)


def replay_to_parquet(
    df: DataFrame, ddl: str, *, name: str, partitions: int, output_mode: str
) -> DataFrame:
    """Run ``df`` through :func:`run_replay` into a parquet sink and return
    the typed (``ddl``) read-back. Each micro-batch is written by the
    executors, never collected on the driver (SCALE.md rule 1): appended in
    append and update mode; in complete mode every batch is the whole
    result table, so it overwrites. The read-back is lazy."""
    root = scratch_dir(f"{name}-")
    out = f"{root}/out"
    mode = "overwrite" if output_mode == "complete" else "append"
    run_replay(
        df,
        lambda bdf, _bid: bdf.write.mode(mode).parquet(out),
        name=name,
        partitions=partitions,
        checkpoint=f"{root}/chk",
        output_mode=output_mode,
    )
    return read_replay_out(df.sparkSession, ddl, out)
