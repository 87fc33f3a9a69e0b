"""Streaming transition-pair extraction — the streaming twin of
``operators/sessionize.py::transition_pairs``.

The batch form is one ``lead()`` window per key; lead windows are
unsupported on streams, so the ONLY thing that needs state here is the
carry-over edge: each key's LAST event must pair with the FIRST event
of its next micro-batch. State per key is exactly one (ts_ms, tiebreak,
state) triple — constant regardless of stream length — and idle keys
are garbage-collected by a processing-time timeout, the bounded-memory
contract every stateful operator in this package keeps.

Ordering: rows are paired in (ts_ms, tiebreak) order WITHIN each
micro-batch (sorted before the scan); across batches the operator
trusts micro-batch arrival order — the standard applyInPandasWithState
contract (exact event-time order across batches would need a watermarked
window, which cannot carry a row-to-row edge).

Downstream, the emitted (prev_state, next_state) rows feed whatever the
batch pairs feed: a ``foreachBatch`` count aggregate maintains the live
Markov matrix; joining against a FROZEN reference matrix scores
sequence likelihood on the wire (the ``sequence_logprob`` drift shape).
Parity with the batch operator across micro-batch boundaries is pinned
by test.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRANSITIONS_OUTPUT_SCHEMA = (
    "user_id long, prev_state string, next_state string, ts_ms long"
)
TRANSITIONS_STATE_SCHEMA = "last_ts long, last_tb long, last_state string"

#: Idle-key state GC horizon (ms): a key silent this long is dropped —
#: its next event then starts a fresh sequence instead of pairing with
#: ancient history (usually the RIGHT semantics for day-scale gaps).
STATE_TTL_MS = 60 * 60 * 1000


def _make_pairs_fn():
    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last = state.get if state.exists else None  # (ts, tb, state)
        out: dict[str, list] = {
            "user_id": [], "prev_state": [], "next_state": [], "ts_ms": []
        }
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_ms", "event_id"], kind="stable")
            for ts, tb, st in zip(
                pdf["ts_ms"], pdf["event_id"], pdf["event_type"]
            ):
                if last is not None:
                    out["user_id"].append(int(key[0]))
                    out["prev_state"].append(last[2])
                    out["next_state"].append(st)
                    out["ts_ms"].append(int(ts))
                last = (int(ts), int(tb), st)
        if last is not None:
            state.update(last)
            state.setTimeoutDuration(STATE_TTL_MS)
        if out["user_id"]:
            yield pd.DataFrame(out)

    return fn


def transition_stream_pairs(stream: DataFrame) -> DataFrame:
    """Extract consecutive (prev_state, next_state) transition pairs
    from a streaming (event_id, user_id, ts_ms, event_type) frame —
    per user, in (ts_ms, event_id) order, with the cross-batch edge
    carried in one-row-per-key state. Emits one row per transition,
    stamped with the LATER event's ts_ms (the moment the transition
    completed). State: one (ts, tiebreak, state) triple per key, idle
    keys GC'd after ``STATE_TTL_MS``."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _make_pairs_fn(),
        outputStructType=TRANSITIONS_OUTPUT_SCHEMA,
        stateStructType=TRANSITIONS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
