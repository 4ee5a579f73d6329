"""Source/sink registry.

The reference's I/O surface is Kafka-only (SURVEY §2.1 S1-S6, K1-K5:
``readStream.format("kafka")`` with earliest offsets + no-fail-on-data-loss,
``writeStream.format("kafka")``). The engine keeps that path verbatim (Spark's
Kafka connector has the same API the reference uses) and adds file formats —
which the reference lacks entirely — plus a deterministic file-replay source
used by the hermetic streaming tests (SURVEY §5.2: file sources instead of an
embedded broker; the reference tests manually against KafkaLocalServer).

Kafka calls are gated: the connector JAR isn't in the test container, so
building a Kafka reader raises a clear error at use, not import, time.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: ``xml`` is Spark 4's native XML data source (the former spark-xml
#: package merged upstream, SPARK-44265) — no extra JAR needed.
_BATCH_FORMATS = ("parquet", "json", "csv", "orc", "text", "xml")

#: Phase counters read by bench.py to split fixture-build cost out of the
#: per-query wall time (r3 verdict: the replay entries' regression had to be
#: attributed to build vs run before it could be fixed). Reset-free running
#: totals; bench snapshots before/after each query.
FIXTURE_STATS: dict[str, float] = {"build_sec": 0.0, "builds": 0, "cache_hits": 0}

#: The process's one scratch root (``dcs-scratch-*`` under the temp dir),
#: made on first use and removed at exit. Every fixture, replay output and
#: checkpoint the catalog writes lives below it; nothing is removed earlier,
#: because returned DataFrames are lazy and may still read their files.
_SCRATCH_ROOT: str | None = None


def _remove_scratch_root() -> None:
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is not None:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)
        _SCRATCH_ROOT = None


atexit.register(_remove_scratch_root)


def scratch_dir(prefix: str) -> str:
    """A fresh empty dir under the process's scratch root."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None or not os.path.isdir(_SCRATCH_ROOT):
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="dcs-scratch-")
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


#: Process-lifetime cache of replay INPUT fixture dirs, keyed by
#: (entry, sf_dir). The chunk files are a pure function of the SF tables and
#: the entry's chunking spec (repartitionByRange samples with a fixed seed
#: over a deterministic scan), so one build per session is sound. Output and
#: checkpoint dirs are NEVER cached — a reused availableNow checkpoint would
#: see no new files and silently run zero micro-batches.
_FIXTURE_CACHE: dict[tuple[str, str], str] = {}


def cached_fixture(
    entry: str, sf_dir: str, build: Callable[[str], None]
) -> str:
    """Build (once per session) or reuse the replay input fixtures for
    ``entry`` at ``sf_dir``; returns the fixture root dir. ``build`` receives
    a fresh empty dir and writes chunk subtrees under it."""
    key = (entry, os.path.abspath(sf_dir))
    path = _FIXTURE_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        FIXTURE_STATS["cache_hits"] += 1
        return path
    path = scratch_dir(f"fix-{entry[:24]}-")
    t0 = time.perf_counter()
    build(path)
    FIXTURE_STATS["build_sec"] += time.perf_counter() - t0
    FIXTURE_STATS["builds"] += 1
    _FIXTURE_CACHE[key] = path
    return path


def read_batch(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: T.StructType | str | None = None,
    **options: Any,
) -> DataFrame:
    if fmt not in _BATCH_FORMATS:
        raise ValueError(f"unsupported batch format {fmt!r}; one of {_BATCH_FORMATS}")
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(fmt).load(path)


def read_stream(
    spark: SparkSession,
    fmt: str,
    path: str | None = None,
    schema: T.StructType | str | None = None,
    **options: Any,
) -> DataFrame:
    """Streaming source.

    fmt='kafka'  -> options must carry kafka.bootstrap.servers + subscribe;
                    defaults mirror the reference (earliest, no fail-on-loss,
                    SparkStructuredController.scala:42-53).
    fmt='rate'   -> synthetic load (rowsPerSecond option).
    file formats -> ``path`` + explicit ``schema`` (required for streams).
    """
    if fmt == "kafka":
        opts = {"startingOffsets": "earliest", "failOnDataLoss": "false", **options}
        return spark.readStream.format("kafka").options(**opts).load()
    if fmt == "rate":
        return spark.readStream.format("rate").options(**options).load()
    if fmt in _BATCH_FORMATS:
        if schema is None:
            raise ValueError("file streams require an explicit schema")
        reader = spark.readStream.options(**options).schema(schema)
        return reader.format(fmt).load(path)
    raise ValueError(f"unsupported stream format {fmt!r}")


def replay_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Deterministic replay: stream a directory of parquet chunk files,
    ``files_per_trigger`` files per micro-batch, in file-mtime order — the
    hermetic substitute for a Kafka topic in tests (chunk = offset range)."""
    return read_stream(
        spark,
        "parquet",
        path=path,
        schema=schema,
        maxFilesPerTrigger=str(files_per_trigger),
    )


def write_replay_chunks(
    df_chunks: list[Any], path: str, order_col: str = "seq"
) -> None:
    """Write ordered pandas chunks as one parquet file each, with strictly
    increasing mtimes so the file stream source replays them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    t0 = 1_700_000_000
    for i, chunk in enumerate(df_chunks):
        fp = os.path.join(path, f"chunk-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), fp)
        os.utime(fp, (t0 + i, t0 + i))


def write_replay_chunks_df(
    df: DataFrame, path: str, n_chunks: int = 2, order_cols: tuple[str, ...] = ("seq",)
) -> None:
    """Distributed replay-fixture writer: range-partition the input on the
    replay-order columns (one partition per chunk), sort within each
    partition, write one parquet file per chunk, then stamp strictly
    increasing mtimes in range order so the file stream source replays the
    chunks in order.

    Unlike a driver-side ``toPandas`` split (the r2 builders), the input
    never materializes on the driver — executors write their own chunk —
    so the identical builder holds at any SF. RangePartitioner boundaries
    come from a fixed-seed sample of a deterministic scan, so the chunking
    is reproducible run-to-run.
    """
    import glob

    (
        df.repartitionByRange(n_chunks, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    t0 = 1_700_000_000
    for i, fp in enumerate(sorted(glob.glob(os.path.join(path, "part-*")))):
        os.utime(fp, (t0 + i, t0 + i))


def write_replay_chunks_partitioned(
    df: DataFrame,
    path: str,
    part_col: str,
    part_values: list,
    order_cols: tuple[str, ...] = ("seq",),
) -> None:
    """Replay-fixture writer with EXACT chunk boundaries: one parquet
    chunk per listed ``part_col`` value, replayed in list order — for
    entries whose per-micro-batch semantics depend on the batch's
    identity (the index-maintenance loop: day k must arrive as exactly
    one micro-batch, or day-k docs would screen against an index already
    containing part of their own day). ``write_replay_chunks_df``'s
    range partitioner samples boundaries and so cannot guarantee value
    alignment; this writer filters per value — executor-written like the
    range form, one job per chunk (fine for the small day counts replay
    entries use; ``part_col`` is dropped from the chunk rows)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    os.makedirs(path, exist_ok=True)
    t0 = 1_700_000_000
    for i, val in enumerate(part_values):
        stage = os.path.join(path, f"_stage-{i}")
        (
            df.where(F.col(part_col) == F.lit(val))
            .drop(part_col)
            .repartition(1)
            .sortWithinPartitions(*order_cols)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = sorted(glob.glob(os.path.join(stage, "part-*")))
        fp = os.path.join(path, f"chunk-{i:05d}.parquet")
        shutil.move(part[0], fp)
        shutil.rmtree(stage)
        os.utime(fp, (t0 + i, t0 + i))


def write_stream_kafka(
    df: DataFrame, brokers: str, topic: str, checkpoint: str, **options: Any
):
    """Kafka sink with reference parity: update mode, 1 s processing-time
    trigger, checkpointing (K1/O1/O2/O4, SparkStructuredController.scala:80-86)."""
    return (
        df.writeStream.outputMode("update")
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .options(**options)
        .trigger(processingTime="1 second")
        .start()
    )
