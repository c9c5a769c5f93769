"""The one driver for per-group Python kernels: a streaming key-run sweep.

Every keyed kernel (episodes, matrix profile, FLUSS, the halo chunks)
has the same Spark shape: ONE shuffle co-locates each key, a sort
within partitions lays each key out as one contiguous run, and ONE
``mapInPandas`` pass crosses the Python boundary once per task — not
once per group as ``groupBy().applyInPandas`` would. ``sweep_key_runs``
owns that shape; callers supply only the projection and the kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import session_partitions


def sweep_key_runs(
    df: DataFrame, key: str, order: list[str], kernel, schema: str
) -> DataFrame:
    """Run ``kernel`` over blocks of complete ``key`` runs, each run in
    ``order`` order, and return its rows as a DataFrame of ``schema``.

    Layout: repartition by ``key`` to the session partition count, sort
    within partitions by ``(key, *order)``, one ``mapInPandas``. The
    sweep walks the task's Arrow batches one at a time and calls
    ``kernel`` as soon as runs close; only the run still open at the end
    of a batch is carried into the next (as a list of frames,
    concatenated once when it closes, so a hot key spanning many batches
    is never re-copied per batch). A run is never split across calls.
    ``kernel`` maps a block to a pandas frame of ``schema``'s columns;
    empty results are dropped.

    Memory contract: one ``kernel`` call sees at most one Arrow batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) plus the
    largest run — never the whole partition.
    """

    def emit(pieces):
        pieces = [p for p in pieces if len(p)]
        if pieces:
            out = kernel(
                pieces[0] if len(pieces) == 1
                else pd.concat(pieces, ignore_index=True)
            )
            if len(out):
                yield out

    def sweep(batches):
        carry = []  # frames of the run open at the end of the last batch
        for b in batches:
            k = b[key].to_numpy()
            if not len(k):
                continue
            # rows of b that close the run before them (row 0 closes the
            # carried run when its key differs)
            ends_open = bool(carry) and carry[-1][key].iat[-1] != k[0]
            starts = np.flatnonzero(np.r_[ends_open, k[1:] != k[:-1]])
            if len(starts):
                last = int(starts[-1])
                yield from emit(carry + [b.iloc[:last]])
                carry, b = [], b.iloc[last:]
            carry.append(b)
        yield from emit(carry)

    return (
        df.repartition(session_partitions(df.sparkSession), key)
        .sortWithinPartitions(key, *order)
        .mapInPandas(sweep, schema=schema)
    )


def each_run(kernel_one, key: str):
    """Block kernel that calls ``kernel_one`` once per ``key`` run of the
    block and concatenates the results (for per-group kernels)."""

    def kernel(block: pd.DataFrame) -> pd.DataFrame:
        k = block[key].to_numpy()
        bounds = np.flatnonzero(np.r_[True, k[1:] != k[:-1], True])
        return pd.concat(
            [kernel_one(block.iloc[a:b]) for a, b in zip(bounds[:-1], bounds[1:])],
            ignore_index=True,
        )

    return kernel


def user_series(
    events: DataFrame, user_col: str, ts_col: str, value_col: str, order_col: str
) -> DataFrame:
    """The keyed kernels' input: ``uid``, ``ts_ms`` (epoch millis),
    ``cents`` (value x 100, rounded to an exact integer) and the
    tie-breaking ``oid``."""
    return events.select(
        F.col(user_col).alias("uid"),
        F.unix_millis(F.col(ts_col).cast("timestamp")).alias("ts_ms"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
        F.col(order_col).alias("oid"),
    )
