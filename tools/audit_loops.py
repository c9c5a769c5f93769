"""Iterative-loop plan audit: PROVE the one-exchange-per-iteration
claims by walking the physical plan tree of a steady-state iteration.

Each plan is built by the operators' own setup and step functions (the
ones graph_core.iterate runs): the first iteration is run and
checkpointed, so the audited plan is a step over a checkpointed step
output, exactly as inside the loop. Counts ShuffleExchange nodes
reachable without descending into cached (InMemoryTableScan) or
checkpointed (ExistingRDD) subtrees — i.e. the shuffles a steady-state
iteration actually pays. Appends the results to PLANS.md and exits
non-zero on violation.

Usage: python tools/audit_loops.py
"""

from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row  # noqa: E402

EXCHANGE_BUDGET = 1
# the hub split adds broadcasts whose shape is asserted nowhere else:
# <= 3 broadcasts (hub_ids semi-join build, hub slice, at most one
# planner-chosen extra). Sorts: min_by's struct buffer plans as a
# partial+final SortAggregate pair (2 sorts) + one sort under the final
# agg — measured equivalent to hash-aggregable rewrites
# (OPTIMIZATION_r06.md §12b); the budget forbids anything MORE (e.g. a
# sort-merge join sneaking into the loop).
HUB_SPLIT_BUDGETS = {"BroadcastExchange": 3, "Sort": 3}
HUB_THRESHOLD = 50


def count_live_nodes(df, prefixes: tuple[str, ...]) -> dict[str, list[str]]:
    """Live plan nodes by class-name prefix, outside cached subtrees
    (their build cost was paid once at persist time)."""
    hits: dict[str, list[str]] = {p: [] for p in prefixes}

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name.startswith("InMemoryTableScan"):
            return
        for p in prefixes:
            if name.startswith(p):
                hits[p].append(node.nodeName())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return hits


def _steady(state, step, prev=None):
    """The plan of iteration 2: iteration 1 runs and is checkpointed."""
    state, _ = step(state.localCheckpoint(eager=True), prev)
    nxt, _ = step(state.localCheckpoint(eager=True), prev)
    return nxt


def _pagerank_plan(edges, P, threshold=None):
    from rad_ecg_spark.operators import pagerank as pr
    from rad_ecg_spark.operators.graph_core import LoopStats
    from rad_ecg_spark.operators.skew import message_edges

    st = LoopStats()
    edges, verts, P = pr._setup(edges, P, st)
    n = st.num_vertices
    step = partial(
        pr._step, msgs=message_edges(edges, threshold, P), n=n, damping=0.85
    )
    return _steady(pr._initial_ranks(verts, n), step, Row(dangling=0.0))


def _labelprop_plan(edges, P, threshold=None):
    from rad_ecg_spark.operators import labelprop as lp
    from rad_ecg_spark.operators.skew import message_edges

    sym, labels, P = lp._setup(edges, P)
    msgs = message_edges(sym, threshold, P)
    return _steady(labels, partial(lp._step, msgs=msgs, num_partitions=P))


def _hashmin_plan(edges, P):
    """The common-case phase of connected_components."""
    from rad_ecg_spark.operators import components as cc
    from rad_ecg_spark.operators.graph_core import normalize_edges, vertices_of
    from rad_ecg_spark.operators.skew import MessageEdges

    edges = normalize_edges(edges).persist()
    labels, sym = cc._hashmin_setup(edges, vertices_of(edges).persist(), P)
    return _steady(labels, partial(cc._hashmin_step, sym=MessageEdges(sym.persist())))


def audit(spark, n_edges: int = 100_000, P: int = 4) -> list[dict]:
    """The five steady-state loop plans on a ``synth_edges`` graph, each
    with its live node counts and verdict. Plan shape does not depend on
    ``n_edges``: every loop join is hinted and the audit session runs
    with AQE off, as the loops do."""
    from rad_ecg_spark.sources.synth_graph import synth_edges

    edges = synth_edges(spark, n_edges, partitions=P)
    plans = (
        ("pagerank_steady_iteration", _pagerank_plan(edges, P)),
        ("labelprop_steady_round", _labelprop_plan(edges, P)),
        ("cc_hashmin_steady_round", _hashmin_plan(edges, P)),
        ("pagerank_hubsplit_steady", _pagerank_plan(edges, P, HUB_THRESHOLD)),
        ("lp_hubsplit_steady", _labelprop_plan(edges, P, HUB_THRESHOLD)),
    )
    results = []
    for name, df in plans:
        hits = count_live_nodes(df, ("ShuffleExchange", *HUB_SPLIT_BUDGETS))
        r = {"name": name, "exchanges": hits["ShuffleExchange"], "over": []}
        if len(r["exchanges"]) > EXCHANGE_BUDGET:
            r["over"].append(f"exchange budget {EXCHANGE_BUDGET} exceeded")
        if "hubsplit" in name:
            r["nodes"] = {k: len(hits[k]) for k in HUB_SPLIT_BUDGETS}
            for k, budget in HUB_SPLIT_BUDGETS.items():
                if r["nodes"][k] > budget:
                    r["over"].append(f"{k} budget {budget} exceeded")
        results.append(r)
    return results


def describe(r: dict) -> str:
    extra = ""
    if "nodes" in r:
        extra = (
            f"; broadcasts={r['nodes']['BroadcastExchange']}"
            f" sorts={r['nodes']['Sort']}"
        )
    over = f" ({', '.join(r['over'])})" if r["over"] else ""
    return (
        f"{r['name']}: **{len(r['exchanges'])}** (budget {EXCHANGE_BUDGET})"
        f" — {r['exchanges']}{extra}{over} — {'FAIL' if r['over'] else 'OK'}"
    )


def main() -> None:
    from rad_ecg_spark.session import get_spark

    spark = get_spark(
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = audit(spark)
    for r in results:
        print(describe(r).replace("**", ""))
    lines = [
        "\n## Iterative-loop exchange audit (tools/audit_loops.py)\n",
        "Live ShuffleExchange nodes in one STEADY-STATE iteration plan",
        "(cached/checkpointed subtrees excluded — their cost was paid once):\n",
    ]
    lines += [f"- {describe(r)}" for r in results]
    with open("PLANS.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended loop audit to PLANS.md")
    if any(r["over"] for r in results):
        sys.exit(1)


if __name__ == "__main__":
    main()
