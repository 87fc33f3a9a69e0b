"""Streaming distinct-cardinality monitor — the streaming twin of
``operators/sketches.py``'s HyperLogLog.

Exact streaming ``COUNT(DISTINCT)`` needs one state row per distinct
key — unbounded. The HLL register table IS the bounded alternative:
the streaming aggregation state is at most ``|groups| * 2^p`` register
rows FOREVER, updated with MAX (idempotent, so at-least-once replay of
a micro-batch cannot corrupt the sketch — re-observing a key re-asserts
the same register floor). Each micro-batch, ``foreachBatch`` receives
the full (bounded) register table and reduces it to per-group
estimates with the SAME :func:`..operators.sketches.hll_estimate` the
batch operator uses — parity by construction, exactly like the drift
monitor reuses ``psi_from_counts``.

Reference anchor: the reference's streaming surface counts words with
unbounded ``updateStateByKey``-style running totals
(spark_streaming_kafka.py:150); this is the bounded-state version of
its "how many distinct X so far" question.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..operators.sketches import hll_estimate, hll_sketch

__all__ = ["hll_stream_monitor"]


def hll_stream_monitor(
    stream: DataFrame,
    key: Column | str,
    group_cols: list[str],
    on_report: Callable[[int, list], None],
    p: int = 8,
) -> DataStreamWriter:
    """Build the monitor: streaming HLL registers in complete mode +
    a ``foreachBatch`` sink that calls ``on_report(batch_id, rows)``
    with the collected per-group (group..., hll_distinct,
    empty_registers) estimates — a |groups|-bounded collect.

    ``hll_sketch`` is the identical column algebra as the batch path
    (streaming groupBy/max is the one extra concept); ``complete``
    output hands the sink the whole register table, which is the rare
    case where complete mode is *safe by design* — the table cannot
    outgrow ``|groups| * 2^p`` rows.
    """
    sketch = hll_sketch(stream, key, group_cols, p=p)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            hll_estimate(batch_df, group_cols, p=p)
            .orderBy(*group_cols)
            .collect()
        )
        on_report(batch_id, rows)

    return sketch.writeStream.outputMode("complete").foreachBatch(sink)


def histogram_stream_monitor(
    stream: DataFrame,
    value_col: str,
    group_cols: list[str],
    on_report: Callable[[int, list], None],
    lo: float,
    hi: float,
    bins: int = 128,
    qs: list[float] | None = None,
) -> DataStreamWriter:
    """Streaming quantile monitor — the streaming twin of
    ``operators/sketches.py``'s histogram sketch, completing the
    bounded-state monitor pair (distinct via HLL, quantiles here).

    Streaming state is the (group, bin) count table: at most
    ``|groups| * bins`` rows FOREVER, exactly like the HLL register
    table. Each micro-batch the ``foreachBatch`` sink reduces the full
    (bounded) cell table to per-group P50/P95/P99 with the SAME
    :func:`..operators.sketches.histogram_quantile` the batch path
    uses — parity by construction.

    One semantic difference from the HLL monitor, stated honestly:
    histogram cells merge by SUM, which is exactly-once under Spark's
    checkpointed sources but NOT idempotent under source-side replays
    (HLL's MAX re-assertion is). A source that can re-deliver data
    outside the checkpoint contract needs the manifest pattern
    (streaming/manifest_dedup.py) in front of this monitor.
    """
    from pyspark.sql import functions as F

    from ..operators.sketches import histogram_quantile, histogram_sketch

    quantiles = qs if qs is not None else [0.5, 0.95, 0.99]
    cells = histogram_sketch(stream, value_col, group_cols, lo=lo, hi=hi, bins=bins)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            histogram_quantile(batch_df, group_cols, quantiles, lo=lo, hi=hi, bins=bins)
            .orderBy(*group_cols, "q")
            .collect()
        )
        on_report(batch_id, rows)

    return cells.writeStream.outputMode("complete").foreachBatch(sink)


__all__ += ["histogram_stream_monitor"]


KMV_STATE_SCHEMA = "hs array<long>"


def kmv_stream_monitor(
    stream: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 256,
):
    """Streaming KMV (bottom-k theta) monitor — the set-operation
    member's streaming twin, completing the monitor family (distinct =
    HLL, quantiles = histogram, distinct-with-set-algebra = here).

    Bottom-k is not expressible as a built-in streaming aggregate
    (rank windows are unsupported on streams), so state lives in
    ``applyInPandasWithState``: per group an array of ≤ k hash longs,
    merged with keep-k-smallest each batch — PERMANENTLY bounded, and
    idempotent under replay (re-observing a key re-asserts the same
    hash, exactly like HLL's MAX). Emits one
    (group..., kmv_distinct, n_hashes) row per group per batch; the
    retained state is a real KMV sketch, so offline set operations
    (:func:`..operators.sketches.kmv_intersect_estimate`) apply to it
    directly. Hashing uses the same md5-prefix-15 integer as
    ``functions.hashing.md5_long`` — parity with the batch operator is
    pinned by test.
    """
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    # Group-column types come from the input schema (r8 ADVICE: the r7
    # form hardcoded string, which broke non-string group keys).
    in_types = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    out_schema = (
        ", ".join(f"{g} {in_types[g]}" for g in group_cols)
        + ", kmv_distinct double, n_hashes int"
    )

    def fn(keygrp, pdfs, state):
        hs = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            for v in pd.unique(pdf[key_col].dropna().astype(str)):
                hs.add(int(hashlib.md5(v.encode()).hexdigest()[:15], 16))
        bottom = sorted(hs)[:k]
        state.update((bottom,))
        if len(bottom) < k:
            est = float(len(bottom))
        else:
            # HALF_UP on the shortest decimal repr — exactly what
            # F.round does batch-side (BigDecimal.valueOf(double)
            # + setScale(2, HALF_UP)); Python's built-in round() is
            # banker's half-even, which diverges on .xx5 ties (r8
            # ADVICE). Batch/stream parity is pinned by test.
            raw = (k - 1) * float(1 << 60) / bottom[-1]
            est = float(
                Decimal(repr(raw)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
            )
        yield pd.DataFrame(
            {
                **{g: [keygrp[i]] for i, g in enumerate(group_cols)},
                "kmv_distinct": [est],
                "n_hashes": [len(bottom)],
            }
        )

    return stream.groupBy(*group_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ += ["kmv_stream_monitor"]
