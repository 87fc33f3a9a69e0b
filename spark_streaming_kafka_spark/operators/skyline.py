"""Pareto-frontier (skyline) extraction — the multi-objective top-k.

"Show me the orders that are not beaten on BOTH price and speed" has no
single sort key: a row survives iff no other row weakly dominates it
(≥ on every objective, > on at least one). Spark has no skyline
operator and the naive formulation is a quadratic self-anti-join, which
the suite-wide plan audit (tests/test_plan_audit.py) rightly rejects.

This module ships the textbook TWO-PHASE distributed skyline instead:

1. **Local prune** — each partition computes its own skyline with a
   sort + running-strict-max pass (O(n log n) in the partition, pandas
   via ``mapInPandas``, one Arrow batch stream, zero shuffle). Any
   point dominated within its partition is dominated globally, so this
   filter is SOUND (never drops a frontier point); random partitioning
   makes the survivor count per partition ~O(log n) for independent
   dims, tiny in practice.
2. **Global resolve** — the surviving candidates (frontier-sized, not
   data-sized) coalesce to one partition and the SAME kernel runs once
   more, which is EXACT: the skyline of the candidate union equals the
   skyline of the full input because phase 1 only removed dominated
   points.

The result is partitioning-invariant (the frontier is a property of
the point SET), needs no window over an unpartitioned sort (the
single-node trap of the cummax-window formulation), and shuffles only
candidates. Worst case — input already sorted along one objective so
every partition keeps everything — degrades to the single-sort cost
and stays exact.

Dominance here is WEAK maximization on two objectives: ``b`` dominates
``a`` iff ``b.x >= a.x`` and ``b.y >= a.y`` and they differ in at
least one. Duplicated coordinate pairs do not dominate each other, so
ties on the frontier all survive — matching the NOT-EXISTS relational
definition the DuckDB oracle runs.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame


def _skyline_pdf(pdf: pd.DataFrame, x: str, y: str) -> pd.DataFrame:
    """Exact weak-dominance skyline of one in-memory batch.

    Sort by (x desc, y desc); within each distinct x only the max-y
    rows can survive (a same-x row with larger y weakly dominates);
    across x the running STRICT max of y over larger-x groups kills
    any row whose y does not exceed it. O(n log n), vectorized.
    """
    if pdf.empty:
        return pdf
    # Max y per x value; a row survives its own x-group only at that max.
    gmax = pdf.groupby(x)[y].transform("max")
    top = pdf[pdf[y] == gmax]
    # Distinct (x, max_y) points, descending x: survive iff y strictly
    # exceeds every max-y seen at larger x.
    pts = top[[x, y]].drop_duplicates().sort_values(x, ascending=False)
    best = pts[y].cummax().shift(1)
    keep_pts = pts[best.isna() | (pts[y] > best)]
    return top.merge(keep_pts, on=[x, y])


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    candidate_guard: int | None = None,
) -> DataFrame:
    """Rows of ``df`` on the 2-D Pareto frontier (maximize both columns).

    NULL in either objective never reaches the frontier (incomparable
    under dominance) and is filtered up front. All other columns ride
    along unchanged.

    Memory: each phase folds Arrow batches INCREMENTALLY — the running
    frontier is re-pruned against every batch, so a task holds at most
    (current frontier + one batch) in pandas, never its whole partition
    (the r9 ADVICE finding: a concat-everything pass made anti-chain
    data — e.g. strongly negatively correlated objectives, where the
    frontier IS the dataset — an OOM, not just a slow case). The global
    resolve still lands on one task by design; for inputs where an
    O(data)-sized frontier is plausible, pass ``candidate_guard=N`` to
    fail fast with a clear error (one extra count job) instead of
    funnelling N+ rows into a single task.
    """
    clean = df.filter(df[x_col].isNotNull() & df[y_col].isNotNull())
    schema = clean.schema

    def local(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frontier: pd.DataFrame | None = None
        for b in batches:
            if b.empty:
                continue
            merged = b if frontier is None else pd.concat(
                [frontier, b], ignore_index=True
            )
            frontier = _skyline_pdf(merged, x_col, y_col)
        if frontier is not None:
            yield frontier

    candidates = clean.mapInPandas(local, schema=schema)
    if candidate_guard is not None:
        n = candidates.limit(candidate_guard + 1).count()
        if n > candidate_guard:
            raise ValueError(
                f"skyline candidate set exceeds guard ({n} > "
                f"{candidate_guard}): the frontier is O(data)-sized — "
                "the single-task global resolve would concentrate the "
                "dataset; raise the guard only if that is acceptable"
            )
    # Frontier-sized by construction (or guarded above): one partition,
    # same exact kernel.
    return candidates.repartition(1).mapInPandas(local, schema=schema)
