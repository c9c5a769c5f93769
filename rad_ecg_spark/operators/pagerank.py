"""PageRank: power iteration with dangling-mass redistribution.

Semantics (matches the standard Brin-Page formulation and the NumPy
oracle in tests/oracles.py):

    rank_{k+1}(v) = (1-d)/N + d * ( sum_{u->v} rank_k(u)/outdeg(u)
                                    + dangling_mass_k / N )
    dangling_mass_k = sum of rank_k over vertices with outdeg == 0
    converged when  max_v |rank_{k+1}(v) - rank_k(v)| < tol

Scale design (what must survive 10^12 documents; measured numbers from
local[32] @ 10M edges):

- ONE shuffle per iteration — the contribution groupBy("dst"). Edges are
  hash-partitioned by ``src`` once and persisted; the ranks state is
  hash-partitioned by vertex id, so both per-iteration joins
  (edges⋈ranks on src, ranks⋈contribs on id=dst) reuse existing
  partitionings with no Exchange.
- SHUFFLE_HASH join hints on the small/state side: the default
  sort-merge join would re-sort the 10M-edge table EVERY iteration
  (sort is not cached with the partitioning). Hash join builds a map
  over the per-partition ranks slice instead — measured ~2x faster
  per iteration.
- The convergence delta is a COLUMN, not a join: the state table
  carries (id, outdeg, rank) and the new state is produced by joining
  contributions back to it, so |new-old| is computed row-local. One
  aggregate scan per iteration returns (delta_max, dangling_next,
  mass) — the driver holds 3 scalars, never vertex-sized data.
- Partial (map-side) aggregation makes the groupBy-sum skew-tolerant:
  a supernode dst key reduces to one partial row per map partition
  before the shuffle (10^8-in-degree hub => P partial rows, not 10^8
  shuffled rows). Src-side skew is the hub split's
  (``hub_degree_threshold``).
- The loop itself (lineage cut, lazy checkpoint, release of superseded
  state, pinned conf, durable checkpoint/resume via
  plans.checkpoint.CheckpointManager) is graph_core.iterate's; this
  module is its setup and step function.
"""

from __future__ import annotations

import time
from functools import partial

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rad_ecg_spark.operators.graph_core import (
    LoopStats,
    iterate,
    normalize_edges,
    out_degrees,
    size_partitions,
)
from rad_ecg_spark.operators.skew import MessageEdges, message_edges
from rad_ecg_spark.plans.checkpoint import CheckpointManager


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    stats: LoopStats | None = None,
    hub_degree_threshold: int | None = None,
    tol_mode: str = "abs",
) -> DataFrame:
    """Returns DataFrame(id, rank). ``edges`` needs columns src, dst.

    Ranks sum to 1.0 at every iteration (dangling mass redistributed).

    ``tol_mode``: convergence criterion for ``tol``.
      - ``"abs"`` (default): max_v |rank_{k+1}(v) - rank_k(v)| < tol.
        Mechanically EASIER as the graph grows — with rank mass 1 over
        n vertices, per-vertex ranks are themselves ~1/n, so at n=1e6
        the absolute 1e-6 bar sits at the scale of the ranks.
      - ``"rel"``: the scale-invariant form — converged when the max
        delta is below ``tol`` RELATIVE to the uniform rank 1/n, i.e.
        effective absolute tolerance tol/n. This is the honest
        "iterations-to-1e-6" at bench scale and beyond (measured: 18
        iterations vs abs-mode's 7 at 10M edges / 1M vertices —
        BENCH/BASELINE.md 'Convergence benchmark').

    ``hub_degree_threshold``: when set, src vertices with out-degree >=
    threshold take the supernode path (operators/skew.py) — their edges
    stay in balanced natural partitioning and join a BROADCAST slice of
    the rank state, while residual edges keep the co-partitioned
    shuffle-hash path with per-key row counts bounded by the threshold.
    Results are numerically identical to the unsplit plan within
    float-summation reordering (contributions flow through a different
    union/partial-aggregation tree, so sums agree to ~1e-12, not
    bitwise — see tests/test_kernels_and_io.py star-graph check).
    """
    if tol_mode not in ("abs", "rel"):
        raise ValueError(f"tol_mode must be 'abs' or 'rel', got {tol_mode!r}")
    t_setup = time.monotonic()
    if stats is None:
        stats = LoopStats()
    edges, verts, num_partitions = _setup(edges, num_partitions, stats)
    n = stats.num_vertices
    if n == 0:
        out = verts.select("id", F.lit(0.0).alias("rank"))
        edges.unpersist()
        verts.unpersist()
        return out
    # resolve the criterion once n is known; the loop compares against
    # an absolute threshold either way
    eff_tol = float(tol) if tol_mode == "abs" else float(tol) / n
    msgs = message_edges(edges, hub_degree_threshold, num_partitions)
    stats.setup_wall_s = time.monotonic() - t_setup
    ranks = iterate(
        _initial_ranks(verts, n),
        partial(_step, msgs=msgs, n=n, damping=float(damping)),
        lambda row, _prev: row["delta"] < eff_tol,
        max_iter,
        num_partitions,
        stats,
        seed=_dangling,
        checkpointer=checkpointer,
        checkpoint_every=checkpoint_every,
        restore=partial(_restore, verts=verts, num_partitions=num_partitions)
        if resume
        else None,
        snapshot=lambda state: state.select("id", "rank"),
    )
    result = ranks.select("id", "rank")
    edges.unpersist()
    verts.unpersist()
    msgs.unpersist()
    return result


def _setup(
    edges: DataFrame, num_partitions: int | None, stats: LoopStats
) -> tuple[DataFrame, DataFrame, int]:
    """Persisted loop inputs: (edges by src, vertex table (id, outdeg) by
    id, partition count); records the graph sizes in ``stats``."""
    spark = edges.sparkSession
    raw = normalize_edges(edges)
    if num_partitions is None:
        # size partitions to the data: tiny graphs at full parallelism
        # pay ~6s/iteration of pure task overhead (measured). The sizing
        # count is a pure scan of the input (no persist): the input is
        # re-read once more into the shuffle below — cheaper than a
        # 10M-row cache write+read (setup measured 2.9 -> 2.3 s), and
        # callers with an expensive edge derivation persist it themselves
        # (plans/pipeline.py does).
        num_partitions = size_partitions(spark, raw.count())
    # PageRank is defined over an edge SET; duplicate (src,dst) rows
    # would silently inflate outdeg. Dedup AFTER the src repartition:
    # HashPartitioning(src) satisfies the (src,dst) grouping (subset
    # rule), so the distinct adds NO second shuffle.
    edges = (
        raw.repartition(num_partitions, "src")
        .dropDuplicates(["src", "dst"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats.num_edges = edges.count()
    # state table carries the static outdeg so the loop never re-joins a
    # separate degree table. Vertex set = dst side ∪ degree table keys:
    # out_degrees reuses the cached edges' HashPartitioning(src) with no
    # exchange, so only the dst projection is shuffled (half the rows the
    # old union-both-sides-then-distinct moved), and the full-outer join
    # is co-partitioned.
    deg = out_degrees(edges)
    dsts = edges.select(F.col("dst").alias("id")).distinct()
    verts = (
        dsts.join(deg, dsts.id == deg.src, "full_outer")
        .select(
            F.coalesce(F.col("id"), F.col("src")).alias("id"),
            F.coalesce(F.col("outdeg"), F.lit(0)).alias("outdeg"),
        )
        .repartition(num_partitions, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats.num_vertices = verts.count()
    return edges, verts, num_partitions


def _initial_ranks(verts: DataFrame, n: int) -> DataFrame:
    return verts.select("id", "outdeg", (F.lit(1.0) / F.lit(float(n))).alias("rank"))


def _restore(loaded: DataFrame, verts: DataFrame, num_partitions: int) -> DataFrame:
    """Ranks state from a durable (id, rank) snapshot."""
    loaded = loaded.select(F.col("id").alias("cid"), "rank")
    return (
        verts.join(loaded, verts.id == F.col("cid"))
        .select("id", "outdeg", "rank")
        .repartition(num_partitions, "id")
    )


def _dangling(ranks: DataFrame) -> Row:
    """Seed row: the dangling mass of the initial (or resumed) ranks."""
    return ranks.filter(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling")
    ).collect()[0]


def _step(
    ranks: DataFrame, prev: Row, msgs: MessageEdges, n: int, damping: float
) -> tuple[DataFrame, list[Column]]:
    """One power iteration. ``prev["dangling"]`` is the last iteration's
    dangling mass; the aggregates are the convergence delta, the next
    dangling mass and the total mass — one scan, no join (delta is a
    column)."""
    contribs = (
        msgs.send(
            ranks.filter(F.col("outdeg") > 0),
            (F.col("rank") / F.col("outdeg")).alias("w"),
        )
        .groupBy("dst")
        .agg(F.sum("w").alias("in_sum"))
    )
    new_rank = F.lit((1.0 - damping) / n) + F.lit(damping) * (
        F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.lit(prev["dangling"] / n)
    )
    new_ranks = ranks.join(
        contribs.hint("shuffle_hash"), ranks.id == contribs.dst, "left"
    ).select(
        ranks.id,
        ranks.outdeg,
        new_rank.alias("rank"),
        F.abs(new_rank - ranks.rank).alias("delta"),
    )
    aggs = [
        F.max("delta").alias("delta"),
        F.sum(F.when(F.col("outdeg") == 0, F.col("rank")).otherwise(0.0)).alias(
            "dangling"
        ),
        F.sum("rank").alias("mass"),
    ]
    return new_ranks, aggs
