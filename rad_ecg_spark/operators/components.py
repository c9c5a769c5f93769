"""Connected components: large-star / small-star alternation.

Algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SOCC'14 — public): operate on the symmetric edge list; per
round rewrite edges so every vertex points toward the minimum vertex of
its neighborhood; alternate

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
    small-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v < u,
                   plus (u, m)                       [dedup, drop loops]

until the edge set is stable; components are then stars centered on the
component-minimum vertex. Converges in O(log n) rounds — better than
hash-min's O(diameter) on high-diameter graphs, and every round is only
groupBy(min) + join, i.e. one shuffle each.

The common case is cheaper: hashmin (every vertex takes the min label
of its neighborhood) needs O(diameter) rounds, each one join+min-agg —
at 10M edges / 1M vertices (diameter ~7) it converges in 112 s vs
star's 216 s on local[32]. ``connected_components`` therefore runs
hashmin for a capped number of rounds (``hashmin_rounds``) — enough for
any web-shaped (small-diameter) graph to finish — then, if not
converged, CONTRACTS the graph by the partial labels (quotient edges
(label(u), label(v)), usually orders of magnitude smaller) and finishes
with star's O(log n) rounds on the contraction. Correctness: hashmin
labels are component-consistent (label(v) is a vertex of v's component,
and the component's global-min vertex always keeps itself as label), so
contraction preserves connectivity and star's min-root over quotient
nodes IS the original min vertex id. ``hashmin_rounds=0`` is star on
the identity contraction (the original graph); a cap above the diameter
is hashmin to convergence.

Both phases are step functions run by graph_core.iterate (lineage cut,
lazy checkpoint, release of superseded state, pinned conf).

Session lifetime note: results are projections over localCheckpoint
state whose blocks live until the DataFrame is garbage-collected, so a
long-lived driver LOOPING over many connected_components calls should
materialize (write/collect) each result and drop the reference before
the next call — measured block accumulation slows repeated in-JVM runs
(34 s -> 70 s over four back-to-back 10M-edge runs). One-shot jobs
(spark-submit, the registry queries) are unaffected.

Convergence detection without materializing edge-set diffs: the pair
(edge_count, sum(xxhash64(src,dst))) is a fingerprint; two identical
fingerprints in a row ⇒ stable. Cheap (the round's one aggregate) and
collision-safe in practice (64-bit sum over distinct sets).

Output: DataFrame(id, component) where component = min vertex id of the
component — exact, deterministic, parallelism-independent.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rad_ecg_spark.operators.graph_core import (
    LoopStats,
    iterate,
    normalize_edges,
    session_partitions,
    size_partitions,
    vertices_of,
)
from rad_ecg_spark.operators.skew import MessageEdges


def _min_of_neighborhood(sym: DataFrame) -> DataFrame:
    """(src → m) where m = min(N(src) ∪ {src})."""
    return sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )


def _sym_nodedup(e: DataFrame) -> DataFrame:
    """Both directions WITHOUT distinct: duplicate rows don't change any
    min-aggregation inside a star round, and skipping two intermediate
    distincts per round (each a full shuffle) measured ~2x faster. The
    round's single dedup happens at the end, co-located with the src
    partitioning (subset rule: HashPartitioning(src) satisfies the
    (src,dst) grouping)."""
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))


def _large_star(sym: DataFrame) -> DataFrame:
    mins = _min_of_neighborhood(sym)
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins.hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(sym: DataFrame) -> DataFrame:
    mins = _min_of_neighborhood(sym)
    smaller = (
        sym.filter(F.col("dst") < F.col("src"))
        .join(mins.hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select(F.col("src"), F.col("m").alias("dst"))
    return smaller.unionByName(self_edge).filter(F.col("src") != F.col("dst"))


def _sym_by_src(e: DataFrame, num_partitions: int) -> DataFrame:
    """Symmetric, deduplicated, hash-partitioned by src: ONE exchange
    (the dedup reuses HashPartitioning(src) via the subset rule)."""
    return (
        _sym_nodedup(e)
        .repartition(num_partitions, "src")
        .dropDuplicates(["src", "dst"])
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
    hashmin_rounds: int = 12,
) -> DataFrame:
    """DataFrame(id, component); component = min id in the component.

    Hashmin for at most ``hashmin_rounds`` rounds, then, if not yet
    converged, star on the label contraction for at most ``max_iter``
    rounds (module docstring)."""
    spark = edges.sparkSession
    # persist the normalized edges: verts, sym and (on the contraction
    # fallback) the quotient all re-read them, and the input is often an
    # expensive derivation (a distinct over a source table) that would
    # otherwise be recomputed per consumer (measured ~1.5 s per re-read
    # at sf1.0).
    # repartition to the session parallelism BEFORE caching: the input
    # is typically a 1-2-split scan (single-row-group parquet), and a
    # cache that inherits that layout makes every downstream map side
    # (verts distinct, sym build) 1-2-way parallel. One narrow exchange
    # of (src, dst) pairs buys full-width map sides.
    edges = (
        normalize_edges(edges)
        .repartition(session_partitions(spark), "src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = edges.count()
    verts = vertices_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    if num_partitions is None:
        # size on the symmetric edge table (2|E|) — the rows every round
        # actually moves; vertex-count sizing left a 3M-row sym table on
        # 2 partitions at sf1.0 (1.2 s/round vs 0.45 s at 16).
        num_partitions = size_partitions(spark, n_edges * 2)

    labels, sym = _hashmin_setup(edges, verts, num_partitions)
    hashmin = LoopStats()
    labels = iterate(
        labels,
        partial(_hashmin_step, sym=MessageEdges(sym)),
        lambda row, _prev: row["delta"] == 0,
        hashmin_rounds,
        num_partitions,
        hashmin,
        cache=(sym,),
    )
    result = labels
    if not hashmin.converged:
        # contract by partial labels: quotient edges between label groups.
        # |quotient| <= edges whose endpoints a hashmin ball never merged —
        # tiny after ~diameter rounds on everything but adversarial chains.
        ls = labels.select(F.col("id").alias("src"), F.col("component").alias("lsrc"))
        ld = labels.select(F.col("id").alias("dst"), F.col("component").alias("ldst"))
        quotient = (
            edges.join(ls.hint("shuffle_hash"), "src")
            .join(ld.hint("shuffle_hash"), "dst")
            .filter(F.col("lsrc") != F.col("ldst"))
            .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
        )
        star = iterate(
            _sym_by_src(quotient, num_partitions),
            partial(_star_step, num_partitions=num_partitions),
            lambda row, prev: row == prev,  # same fingerprint twice: stable
            max_iter,
            num_partitions,
        )
        # stable symmetric star graph: component(v) = min(N(v) ∪ {v})
        roots = _min_of_neighborhood(star).select(
            F.col("src").alias("component"), F.col("m").alias("root")
        )
        # shuffle join, not broadcast: an adversarial (long-chain) graph
        # can leave a quotient as large as the label set
        result = labels.join(roots.hint("shuffle_hash"), "component", "left").select(
            "id",
            F.coalesce(F.col("root"), F.col("component")).alias("component"),
        )
    out = result.select("id", "component")
    verts.unpersist()
    edges.unpersist()
    return out


def _hashmin_setup(
    edges: DataFrame, verts: DataFrame, num_partitions: int
) -> tuple[DataFrame, DataFrame]:
    """(initial labels, symmetric edges by src). The sym frame is left
    un-persisted: the loop persists it under its pinned conf, and round
    1's message join materializes it ONCE (a dedicated count() would be
    a pure 2|E| barrier job)."""
    labels = verts.select(
        "id",
        F.col("id").alias("component"),
        F.lit(1).cast("long").alias("changed"),  # round-1 frontier: all
    ).repartition(num_partitions, "id")
    # both directions -> ONE exchange instead of symmetrize()'s
    # distinct-then-repartition double shuffle
    return labels, _sym_by_src(edges, num_partitions)


def _hashmin_step(
    labels: DataFrame, _prev: Row | None, sym: MessageEdges
) -> tuple[DataFrame, list[Column]]:
    """One hashmin round; the aggregate counts changed labels.

    Labels are always component-consistent: label(v) = min id within
    some ball around v. Plan shape (the measured 5.7x shape of
    labelprop): sym partitioned by src ONCE and joined to labels on
    src==id — both hash-partitioned on the same key domain, so the join
    is exchange-free — then the (dst, component) message stream pays the
    round's ONE shuffle into the min aggregation, and the write-back
    join is co-partitioned again (labels by id, nbr_min by dst).
    Audited live by tools/audit_loops.py.

    Frontier (delta) propagation: each round sends messages only from
    vertices whose label CHANGED last round. Labels are monotonically
    decreasing and a vertex's min can only improve when a neighbor's
    label dropped, and every label value a vertex ever held was
    delivered to its neighbors in the round it changed (round 1 delivers
    from everyone) — so the per-round labels, the round count and the
    fixpoint are IDENTICAL to full hashmin, but the message stream (and
    the round's shuffle) shrinks with the frontier. On the sf1.0
    derived graph the last two rounds carry 70 and 0 changes instead of
    re-delivering all 3M edges."""
    frontier = labels.filter(F.col("changed") == 1).select("id", "component")
    # min over neighbors of dst: sym is symmetric, so grouping the
    # src-side labels by dst sees every neighbor of every vertex. Plain
    # groupBy (no pre-repartition): the loop conf pins
    # shuffle.partitions = num_partitions, so the aggregate lands on the
    # state's partition count AND gets map-side partial aggregation
    # before the exchange.
    nbr_min = (
        sym.send(frontier, "component")
        .groupBy("dst")
        .agg(F.min("component").alias("nbr_min"))
    )
    new_comp = F.least(
        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
    )
    new_labels = labels.join(
        nbr_min.hint("shuffle_hash"), labels.id == nbr_min.dst, "left"
    ).select(
        "id",
        new_comp.alias("component"),
        (new_comp != F.col("component")).cast("long").alias("changed"),
    )
    return new_labels, [F.coalesce(F.sum("changed"), F.lit(0)).alias("delta")]


def _star_step(
    cur: DataFrame, _prev: Row | None, num_partitions: int
) -> tuple[DataFrame, list[Column]]:
    """One large-star + small-star round; the aggregate is the edge set's
    fingerprint (edge count, sum of edge hashes)."""
    cur = _large_star(cur)
    cur = _sym_nodedup(cur)  # star ops consume the symmetric view
    cur = _small_star(cur)
    fingerprint = [
        F.count(F.lit(1)).alias("cnt"),
        # decimal(38,0) sum: immune to ANSI long-overflow on hash sums
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("chk"),
    ]
    return _sym_by_src(cur, num_partitions), fingerprint  # ONE dedup per round
