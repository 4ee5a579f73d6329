"""Streaming diagnostics — the O7 surface (SURVEY §2.5).

The reference observes its pipelines with per-record ``println`` traces
(SparkStructuredController.scala:101,110 et al.). The engine's form is a
``StreamingQueryListener``: structured per-batch progress (rows/sec, batch
duration, state rows, watermark) — off the data path, no per-record cost,
and queryable after the run.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchStats:
    #: the query's id (stable across restarts from one checkpoint) and name
    query_id: str
    name: str | None
    batch_id: int
    num_input_rows: int
    #: per-phase wall ms (triggerExecution = the whole batch; addBatch,
    #: queryPlanning, getBatch, walCommit, commitOffsets, ...)
    duration_ms: dict[str, int]
    state_rows: int | None
    state_commit_ms: int | None
    watermark: str | None


@dataclass
class ProgressRecorder(StreamingQueryListener):
    """Collects one BatchStats per completed micro-batch (all queries on the
    session while attached), plus the ids of the queries that terminated.
    Events arrive on Spark's listener thread, in order per query: once a
    query's id is in ``terminated``, all its batches are in ``batches``.
    Attach with ``spark.streams.addListener``; detach with
    ``removeListener``."""

    batches: list[BatchStats] = field(default_factory=list)
    terminated: set[str] = field(default_factory=set)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API names)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state_rows = state_commit_ms = None
        if p.stateOperators:
            state_rows = sum(op.numRowsTotal for op in p.stateOperators)
            state_commit_ms = sum(op.commitTimeMs for op in p.stateOperators)
        self.batches.append(
            BatchStats(
                query_id=str(p.id),
                name=p.name,
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                duration_ms=dict(p.durationMs or {}),
                state_rows=state_rows,
                state_commit_ms=state_commit_ms,
                watermark=(p.eventTime or {}).get("watermark"),
            )
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.add(str(event.id))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
