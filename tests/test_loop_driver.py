"""The iterative-loop driver (operators/graph_core.iterate): the steady
iteration plans of its five loops stay within their exchange budgets,
and superseded per-iteration state is released."""

from __future__ import annotations

import pytest

from rad_ecg_spark.operators.components import connected_components
from rad_ecg_spark.operators.labelprop import label_propagation
from rad_ecg_spark.operators.pagerank import pagerank
from rad_ecg_spark.plans.checkpoint import CheckpointManager

from .conftest import edges_df
from .oracles import random_graph


def test_loop_audit_budgets(spark):
    """tools/audit_loops.py's five plans on a small graph (plan shape is
    size-independent): 1 live exchange each; the hub-split plans add at
    most 3 broadcasts and 3 sorts."""
    from tools.audit_loops import audit

    results = audit(spark, n_edges=2_000)
    assert [r["name"] for r in results] == [
        "pagerank_steady_iteration",
        "labelprop_steady_round",
        "cc_hashmin_steady_round",
        "pagerank_hubsplit_steady",
        "lp_hubsplit_steady",
    ]
    for r in results:
        assert len(r["exchanges"]) <= 1, r
        assert not r["over"], r
        if "hubsplit" in r["name"]:
            assert r["nodes"]["BroadcastExchange"] <= 3, r
            assert r["nodes"]["Sort"] <= 3, r


def _cached_rdd_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # storage info comes from listener events
    return {info.id() for info in sc.getRDDStorageInfo()}


def _run(spark, tmp_path, algo: str, k: int):
    if algo == "pagerank":
        ck = CheckpointManager(spark, str(tmp_path / f"ck{k}"), "pagerank")
        pairs = random_graph(30, 90, seed=4)
        return pagerank(edges_df(spark, pairs), tol=0.0, max_iter=k, checkpointer=ck)
    if algo == "labelprop":
        # disjoint edges: synchronous LP swaps labels forever, so every
        # call runs exactly max_iter rounds
        pairs = [(2 * i, 2 * i + 1) for i in range(10)]
        return label_propagation(edges_df(spark, pairs), max_iter=k)
    # a long chain: k hashmin rounds cannot converge, so star runs on
    # the contraction too
    pairs = [(i, i + 1) for i in range(40)]
    return connected_components(edges_df(spark, pairs), max_iter=k, hashmin_rounds=k)


@pytest.mark.parametrize("algo", ["pagerank", "labelprop", "components"])
def test_superseded_state_is_released(spark, tmp_path, algo):
    """The cached RDDs an operator call leaves behind do not grow with
    the iteration count: each iteration's superseded checkpoint is
    freed, only the final state (which the result reads) stays."""
    left = {}
    for k in (3, 8):
        before = _cached_rdd_ids(spark)
        result = _run(spark, tmp_path, algo, k)
        left[k] = len(_cached_rdd_ids(spark) - before)
        assert result.count() > 0
    assert left[3] == left[8], left


class _CommitProbe(CheckpointManager):
    """Records, whenever a pending async commit is waited for, whether
    the state it is writing is still cached."""

    def commit(self, iteration, state, **kw):
        super().commit(iteration, state, **kw)
        plan = state._jdf.queryExecution().analyzed()
        self.writing = plan.collectLeaves().head().rdd().id()

    def wait(self):
        if self._pending is not None:
            cached = self.spark.sparkContext._jsc.getPersistentRDDs()
            self.alive.append(self.writing in cached)
        super().wait()


def test_commit_is_waited_for_before_its_state_is_freed(spark, tmp_path):
    """The driver waits for an async snapshot write before freeing the
    checkpointed state that write reads."""
    ck = _CommitProbe(spark, str(tmp_path / "ck"), "pagerank", async_write=True)
    ck.alive = []
    pairs = random_graph(30, 90, seed=4)
    pagerank(edges_df(spark, pairs), tol=0.0, max_iter=4, checkpointer=ck)
    assert ck.alive == [True] * 4
