"""Streaming observability: per-batch progress capture and lag-based
health checks.

The reference's only visibility into its stream was ``pprint()``
(`kafka_streaming.py:40`). A production micro-batch pipeline needs the
numbers Structured Streaming already emits — input rows, processing
duration, state size — captured somewhere a monitor can read. This
module wraps ``StreamingQueryListener`` (driver-side callbacks, zero
cost on the executor path) into:

- :class:`ProgressRecorder` — in-memory ring of recent
  ``QueryProgress`` summaries (one dict per micro-batch), plus each
  query's input-row total since the recorder was attached.
- :func:`falling_behind` — the standard backpressure predicate:
  processing time persistently exceeding the trigger interval means
  the stream is accumulating lag and needs either a bigger cluster,
  a larger trigger, or `maxOffsetsPerTrigger` tuning.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql.streaming import StreamingQueryListener


class ProgressRecorder(StreamingQueryListener):
    """Records a bounded history of micro-batch progress summaries.

    Attach with ``spark.streams.addListener(rec)``; detach with
    ``spark.streams.removeListener(rec)``. Callbacks run on the
    driver's listener bus — keep them O(1), which this is (deque
    append with maxlen).
    """

    def __init__(self, keep: int = 256) -> None:
        self.progress: deque[dict] = deque(maxlen=keep)
        #: query id -> input rows over every batch seen, evicted or not
        self.input_rows: dict[str, int] = {}
        self.started: list[str] = []
        self.terminated: list[str] = []

    # StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        qid = str(p.id)
        self.input_rows[qid] = self.input_rows.get(qid, 0) + (p.numInputRows or 0)
        self.progress.append(
            {
                "query_id": qid,
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution"),
                "timestamp": p.timestamp,
            }
        )

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    def onQueryIdle(self, event) -> None:  # Spark 3.5+ callback
        pass

    # convenience ------------------------------------------------------
    def batches(self) -> list[dict]:
        return list(self.progress)

    def total_input_rows(self, query_id: str | None = None) -> int:
        """Input rows of every batch recorded since attaching — of one
        query (its ``StreamingQuery.id``) or of all. Counted as progress
        arrives, so ring eviction never loses rows."""
        if query_id is not None:
            return self.input_rows.get(str(query_id), 0)
        return sum(self.input_rows.values())


def falling_behind(
    recorder: ProgressRecorder,
    trigger_interval_ms: int,
    window: int = 5,
    tolerance: float = 1.2,
    query_id: str | None = None,
) -> bool:
    """True when the last ``window`` MEASURED micro-batches all took
    longer than ``tolerance ×`` the trigger interval — the
    persistent-lag signal (a single slow batch is normal; a run of them
    means input is arriving faster than it is processed and end-to-end
    latency is growing without bound).

    ``query_id`` scopes the check to one stream. The recorder listens
    session-wide, so with two concurrent queries a fast stream's
    interleaved batches would otherwise mask a laggy stream's run of
    slow samples (and vice versa). Pass the ``StreamingQuery.id`` to
    judge that query alone; ``None`` keeps the session-wide pooled
    behaviour (only sound for single-stream sessions).

    Batches with a missing ``triggerExecution`` duration are SKIPPED,
    not counted as healthy — the predicate looks further back through
    the recorded history for ``window`` real samples (a progress event
    without the metric must never mask genuine lag); with fewer than
    ``window`` measured batches ever recorded it stays False
    (insufficient evidence, not health)."""
    measured = [
        b["trigger_ms"]
        for b in recorder.progress
        if b["trigger_ms"] is not None
        and (query_id is None or b["query_id"] == str(query_id))
    ]
    recent = measured[-window:]
    if len(recent) < window:
        return False
    return all(ms > tolerance * trigger_interval_ms for ms in recent)
