"""Shared graph plumbing: canonical edge frames, vertices, degrees,
dictionary encoding.

Canonical edge schema everywhere in the engine: ``src``, ``dst`` (any
orderable type — string urls or long ids). All operators accept a frame
with those two columns and are agnostic to the vertex type.

Scale notes:
- ``vertices_of`` is a union + distinct — one shuffle, done once per job
  and persisted by callers.
- ``encode_vertices`` maps arbitrary vertex keys to dense longs with a
  deterministic global ordering. Joins on 8-byte longs beat 40+-byte url
  strings in every shuffle of every iteration, so iterative algorithms
  should run on encoded edges at scale; the mapping is a one-time
  range-sort that pays for itself after ~1 iteration.
- ``iterate`` is the one iterative-loop driver: PageRank, label
  propagation and both connected-components phases are step functions
  run by it (its docstring holds the loop discipline).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from rad_ecg_spark.plans.checkpoint import CheckpointManager


def normalize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))


# target rows per partition for iterative graph state/edges: small enough
# to fit comfortably in executor memory at 100TB scale, large enough that
# per-task overhead doesn't dominate (measured: a 15k-edge graph at 32
# partitions spends ~6s/iter on pure task overhead; at 2 partitions <1s).
# Round 6 re-measurement: 500k rows/partition undersubscribed the local
# machine at mid scale (3M-row sym table -> 7 partitions on 32 cores,
# hashmin rounds 1.2 s; at 16-32 partitions the same rounds run 0.45 s)
# and left the 10M-edge bench at 21 tasks (steady iter 1.11 s -> 0.77-1.0
# at 32). 150k keeps tiny graphs at 2 partitions while saturating the
# configured parallelism cap (spark.sql.shuffle.partitions, sized to the
# cluster) from ~5M rows up.
EDGE_ROWS_PER_PARTITION = 150_000


def session_partitions(spark) -> int:
    """The session's shuffle-partition count: the one default partition
    count of the engine (``get_spark`` sizes it to the cores; on a
    cluster spark-submit sizes it to the executors)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def size_partitions(spark, n_rows: int, configured: int | None = None) -> int:
    """Partition count proportional to data size, capped by the session
    shuffle-partition setting (which on a real cluster is sized to
    executor count)."""
    if configured is None:
        configured = session_partitions(spark)
    return max(2, min(configured, n_rows // EDGE_ROWS_PER_PARTITION + 1))


@contextmanager
def pinned_loop_conf(spark, shuffle_partitions: int | None = None):
    """Disable AQE for the duration of an iterative loop.

    Two reasons, both measured at 10M edges on local[32]:
    - partition coalescing changes the state's partitioning between
      iterations, forcing re-exchanges;
    - AQE's per-stage re-planning + query-stage materialization adds
      irregular multi-second stalls (34-42s spikes every few
      iterations; steady 0.8M -> 1.6M edges/sec/iter with AQE off).
    The loop's plans are fixed and hand-partitioned, so AQE has nothing
    to improve here; skew is handled structurally (map-side partial
    aggregation; degree-ordered orientation in triangles). AQE stays on
    for ad-hoc relational queries (session default).

    ``shuffle_partitions``: when the loop's state is hand-partitioned to
    N, pin spark.sql.shuffle.partitions = N too, so natural shuffles
    inside the loop (a plain groupBy) land on the SAME partition count
    as the state and the write-back joins stay exchange-free. Without
    this, a loop sized below the session default pays one extra
    vertex-sized exchange per iteration re-aligning the aggregate output
    to the state's partitioning (guide §2.4: share one exchange).
    """
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    if shuffle_partitions is not None:
        keys["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # capture via no-default get (returns the conf's own default when the
    # session never set it) — a typed fallback string would be written
    # back verbatim on restore and corrupt e.g. shuffle.partitions in
    # sessions that rely on the built-in default
    old: dict[str, str | None] = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)



def free_local_checkpoint(df: DataFrame | None) -> None:
    """Explicitly release a localCheckpoint'd DataFrame's storage blocks.

    Iterative loops checkpoint every iteration; the superseded RDDs are
    only reclaimed on JVM GC otherwise, and on a long run the storage
    region fills up and iteration times degrade 5-10x (measured: steady
    ~4s/iter collapsing to 40s/iter by iteration 7 at 10M edges).
    DataFrame.unpersist() does NOT cover checkpoint blocks — we reach the
    LogicalRDD's underlying RDD and unpersist it directly.
    """
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leaked block degrades perf, not correctness


@dataclass
class LoopStats:
    """What one iterative-operator call did (filled in by ``iterate``;
    the operator adds its graph sizes and setup wall).

    ``deltas`` holds each iteration's ``delta`` aggregate: the max rank
    change for PageRank, the number of vertices whose label changed for
    label propagation and hashmin."""

    iterations: int = 0
    deltas: list = field(default_factory=list)
    iter_wall_s: list[float] = field(default_factory=list)
    setup_wall_s: float = 0.0
    converged: bool = False
    num_vertices: int = 0
    num_edges: int = 0
    resumed_from: int | None = None


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, Row | None], tuple[DataFrame, list[Column]]],
    done: Callable[[Row, Row | None], bool],
    max_iter: int,
    num_partitions: int,
    stats: LoopStats | None = None,
    seed: Callable[[DataFrame], Row] | None = None,
    cache: tuple[DataFrame, ...] = (),
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    restore: Callable[[DataFrame], DataFrame] | None = None,
    snapshot: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Run ``step`` over partitioned state until ``done`` or ``max_iter``;
    returns the final state (a checkpointed frame).

    ``step(state, prev) -> (next_state, aggregate columns)`` builds the
    next state lazily; ``prev`` is the previous iteration's aggregate row
    (``seed(state)`` before the first iteration, else None). The driver
    evaluates the aggregates in ONE action per iteration and stops when
    ``done(row, prev)`` holds. A ``delta`` aggregate is recorded in
    ``stats.deltas``.

    Loop discipline (each point measured at 10M edges on local[32]):
    - the loop runs under ``pinned_loop_conf(num_partitions)``: AQE off
      and shuffle partitions = the state's partition count, so the
      hand-partitioned state keeps its partitioning and the write-back
      joins stay exchange-free. ``cache`` frames are persisted inside
      the pin (a not-yet-materialized cache planned under AQE reports
      no partitioning, so the loop's join would add an exchange over
      it) and unpersisted when the loop ends;
    - every new state is ``localCheckpoint``ed: it references the old
      state ~2x, so without a lineage cut the logical plan grows
      exponentially (2.4 s/iter -> 140 s/iter by iteration 8), and
      persist() caches execution, not the plan. The checkpoint is LAZY:
      the aggregate action materializes it, so an iteration is one job
      instead of a checkpoint job plus an aggregate job (~2-3 % per
      iteration). The convergence figure is a column of the new state,
      so the driver holds a few scalars, never vertex-sized data;
    - the checkpointed frame itself is kept as state (never a
      projection), so the superseded state's blocks can be released
      with ``free_local_checkpoint`` once the aggregate has run; an
      async ``checkpointer`` commit may still be writing that state, so
      the driver waits for it first.

    Durable checkpointing (``checkpointer``): every ``checkpoint_every``
    iterations ``snapshot(state)`` is committed with the aggregate's
    ``delta`` and ``mass`` as the ``_meta`` row's delta_max/agg_value.
    With ``restore``, the loop resumes from the last complete snapshot
    (``restore(loaded) -> state``); a snapshot that already met ``done``
    or reached ``max_iter`` is returned as is, with no iteration run.
    This is the reference's convergence-gated loop with skip-if-done
    resume (peak_detect_v4.py:1733-1756, 1850-1853).
    """
    if stats is None:
        stats = LoopStats()
    start = 0
    if restore is not None and checkpointer is not None:
        last = checkpointer.last_meta()
        if last is not None:
            start = stats.resumed_from = stats.iterations = last["iteration"]
            state = restore(checkpointer.load_state(start))
            resumed = Row(delta=last["delta_max"], mass=last["agg_value"])
            stats.converged = done(resumed, None)
            if stats.converged or start >= max_iter:
                return state
    with pinned_loop_conf(state.sparkSession, num_partitions):
        for df in cache:
            df.persist()
        try:
            state = state.localCheckpoint(eager=False)
            t = time.monotonic()
            prev = seed(state) if seed is not None else None
            stats.setup_wall_s += time.monotonic() - t
            for it in range(start, max_iter):
                t = time.monotonic()
                nxt, aggs = step(state, prev)
                nxt = nxt.localCheckpoint(eager=False)
                row = nxt.agg(*aggs).collect()[0]
                if checkpointer is not None:
                    checkpointer.wait()
                free_local_checkpoint(state)
                state = nxt
                stop = done(row, prev)
                prev = row
                stats.iterations = it + 1
                if "delta" in row.__fields__:
                    stats.deltas.append(row["delta"])
                stats.iter_wall_s.append(round(time.monotonic() - t, 3))
                if checkpointer is not None and (it + 1) % checkpoint_every == 0:
                    checkpointer.commit(
                        iteration=it + 1,
                        state=snapshot(state),
                        rows=stats.num_vertices,
                        agg_value=row["mass"],
                        delta_max=row["delta"],
                    )
                if stop:
                    stats.converged = True
                    break
        finally:
            for df in cache:
                df.unpersist()
    if checkpointer is not None:
        checkpointer.wait()  # the final snapshot must land before return
    return state


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex set, column ``id``."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: both directions, distinct, self-loops dropped."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.filter(F.col("src") != F.col("dst")).distinct()


def encode_vertices(
    edges: DataFrame, partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode vertex keys to dense longs ``0..V-1``.

    Returns (encoded_edges(src:long, dst:long), mapping(id:long, key)).

    Deterministic AND distributed: a two-phase zipWithIndex — range-
    partition the sorted vertex set, count rows per partition on the
    driver (tiny: one long per partition), then assign
    ``vid = partition_offset + local_row_number`` inside ``mapInPandas``.
    No single-partition global window, so this survives 10^11 vertices.
    Same input graph → same encoding at any parallelism (bitwise-stable
    outputs across local[8]/local[32], SURVEY.md §7.3).
    """
    spark = edges.sparkSession
    if partitions is None:
        partitions = session_partitions(spark)
    verts = vertices_of(edges)
    key_type = verts.schema["id"].dataType.simpleString()

    vs = (
        verts.repartitionByRange(partitions, "id")
        .sortWithinPartitions("id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in vs.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"key": pdf["id"], "vid": np.array([], dtype=np.int64)})
                continue
            base = b_offsets.value[int(pdf["pid"].iloc[0])]
            vid = np.arange(seen, seen + len(pdf), dtype=np.int64) + base
            seen += len(pdf)
            yield pd.DataFrame({"key": pdf["id"].to_numpy(), "vid": vid})

    mapping = vs.mapInPandas(assign, schema=f"key {key_type}, vid long").persist()

    enc = (
        edges.join(mapping.withColumnRenamed("key", "src"), "src")
        .withColumnRenamed("vid", "src_vid")
        .join(mapping.withColumnRenamed("key", "dst"), "dst")
        .withColumnRenamed("vid", "dst_vid")
        .select(F.col("src_vid").alias("src"), F.col("dst_vid").alias("dst"))
    )
    return enc, mapping.select(F.col("vid").alias("id"), F.col("key").alias("key"))
