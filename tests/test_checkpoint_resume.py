"""Checkpoint/resume protocol tests (north_rule: killed job resumes and
final outputs equal the uninterrupted run). Mirrors the reference's
skip-if-done + cache reload paths
(/root/reference/src/rad_ecg/scripts/peak_detect_v4.py:1850-1853)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import LoopStats
from rad_ecg_spark.operators.pagerank import pagerank
from rad_ecg_spark.plans.checkpoint import CheckpointManager

from .conftest import edges_df
from .oracles import random_graph


class TestCheckpointResume:
    def test_kill_after_k_then_resume_equals_uninterrupted(self, spark, tmp_path):
        pairs = random_graph(50, 200, seed=6)
        ckdir = str(tmp_path / "ck")

        # "killed" after 3 iterations
        cm = CheckpointManager(spark, ckdir, "pagerank")
        s1 = LoopStats()
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=3,
                 checkpointer=cm, stats=s1)
        assert cm.last_complete() == 3

        # resume to iteration 8
        cm2 = CheckpointManager(spark, ckdir, "pagerank")
        s2 = LoopStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8,
                           checkpointer=cm2, resume=True, stats=s2)
        assert s2.resumed_from == 3
        assert s2.iterations == 8

        # uninterrupted 8 iterations
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8)
        diff = (
            resumed.withColumnRenamed("rank", "r2")
            .join(full, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff < 1e-15

    def test_meta_lineage_rows(self, spark, tmp_path):
        pairs = random_graph(30, 100, seed=12)
        ckdir = str(tmp_path / "ck")
        cm = CheckpointManager(spark, ckdir, "pagerank")
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=4, checkpointer=cm)
        meta = cm.meta().orderBy("iteration").collect()
        assert [r["iteration"] for r in meta] == [1, 2, 3, 4]
        assert all(r["status"] == "complete" for r in meta)
        assert all(abs(r["agg_value"] - 1.0) < 1e-9 for r in meta)  # mass
        assert all(r["rows"] > 0 for r in meta)

    def test_resume_without_checkpoint_starts_fresh(self, spark, tmp_path):
        pairs = random_graph(20, 60, seed=13)
        cm = CheckpointManager(spark, str(tmp_path / "empty"), "pagerank")
        s = LoopStats()
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=2,
                 checkpointer=cm, resume=True, stats=s)
        assert s.resumed_from is None
        assert s.iterations == 2

    def test_async_commit_equals_sync_and_resumes(self, spark, tmp_path):
        """async_write=True must leave the identical on-disk protocol:
        in-order complete meta rows, loadable final state equal to the
        returned ranks, and a resume path identical to the sync run."""
        pairs = random_graph(40, 160, seed=21)
        ckdir = str(tmp_path / "ck-async")
        cm = CheckpointManager(spark, ckdir, "pagerank", async_write=True)
        ranks = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=4,
                         checkpointer=cm)
        assert cm.last_complete() == 4
        meta = cm.meta().orderBy("iteration").collect()
        assert [r["iteration"] for r in meta] == [1, 2, 3, 4]
        assert all(r["status"] == "complete" for r in meta)
        # the durable iteration-4 snapshot equals the in-memory result
        loaded = cm.load_state(4).withColumnRenamed("rank", "r2")
        diff = (
            ranks.join(loaded, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff == 0.0
        # resume from the async-written checkpoint
        cm2 = CheckpointManager(spark, ckdir, "pagerank", async_write=True)
        s2 = LoopStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=7,
                           checkpointer=cm2, resume=True, stats=s2)
        assert s2.resumed_from == 4 and s2.iterations == 7
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=7)
        diff = (
            resumed.withColumnRenamed("rank", "r2")
            .join(full, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff < 1e-15

    def test_checkpoint_every_n_resumes_from_multiple(self, spark, tmp_path):
        """checkpoint_every=2 over 5 iterations leaves snapshots at 2 and
        4; resume restarts from 4 and matches the uninterrupted run."""
        pairs = random_graph(30, 120, seed=22)
        ckdir = str(tmp_path / "ck-every")
        cm = CheckpointManager(spark, ckdir, "pagerank")
        pagerank(edges_df(spark, pairs), tol=0.0, max_iter=5,
                 checkpointer=cm, checkpoint_every=2)
        meta = cm.meta().orderBy("iteration").collect()
        assert [r["iteration"] for r in meta] == [2, 4]
        assert cm.last_complete() == 4
        cm2 = CheckpointManager(spark, ckdir, "pagerank")
        s2 = LoopStats()
        resumed = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8,
                           checkpointer=cm2, resume=True, stats=s2,
                           checkpoint_every=2)
        assert s2.resumed_from == 4 and s2.iterations == 8
        full = pagerank(edges_df(spark, pairs), tol=0.0, max_iter=8)
        diff = (
            resumed.withColumnRenamed("rank", "r2")
            .join(full, "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("r2"))).alias("d"))
            .collect()[0]["d"]
        )
        assert diff < 1e-15

    def test_async_worker_is_daemon_and_close_drains(self, spark, tmp_path):
        """The async commit thread must be a daemon (a loop that raises
        before wait() cannot pin interpreter exit on a non-daemon
        writer), close() must drain it, and a failed background commit
        must surface on the next wait()."""
        import threading

        from rad_ecg_spark.plans.checkpoint import CheckpointManager

        cm = CheckpointManager(spark, str(tmp_path / "ckd"), "pagerank",
                               async_write=True)
        state = spark.range(0, 10).select(
            F.col("id"), F.lit(0.1).alias("rank")
        )
        cm.commit(iteration=1, state=state, rows=10, agg_value=1.0,
                  delta_max=0.5)
        thread, _ = cm._pending
        assert isinstance(thread, threading.Thread) and thread.daemon
        with cm:  # __exit__ -> close() -> wait()
            pass
        assert cm._pending is None
        assert cm.last_complete() == 1
        cm.close()  # idempotent

        # a background failure is re-raised by the NEXT wait(), not lost
        bad = CheckpointManager(spark, str(tmp_path / "ckd"), "pagerank",
                                async_write=True)
        broken = spark.range(0, 5).select(
            F.col("id"), (F.lit(1) / F.col("id")).alias("rank")
        )
        bad._state_dir = lambda it: "/proc/forbidden/cannot/write/here"
        bad.commit(iteration=2, state=broken, rows=5, agg_value=1.0,
                   delta_max=0.1)
        import pytest as _pytest

        with _pytest.raises(Exception):
            bad.wait()

    def test_resume_of_finished_run_runs_no_iteration(self, spark, tmp_path):
        """Resuming a run that already converged, or already reached
        max_iter, with the same arguments returns the first run's ranks
        bitwise, its iteration count and its converged flag (the
        reference's skip-if-done)."""
        pairs = random_graph(5, 12, seed=3)
        cases = (
            ("converged", dict(damping=0.5, tol=1e-6, max_iter=100)),
            ("max_iter", dict(tol=0.0, max_iter=4)),
        )
        for name, kw in cases:
            ckdir = str(tmp_path / name)
            s1, s2 = LoopStats(), LoopStats()
            first = pagerank(edges_df(spark, pairs), stats=s1, resume=True,
                             checkpointer=CheckpointManager(spark, ckdir, "pagerank"),
                             **kw)
            first = {r["id"]: r["rank"] for r in first.collect()}
            again = pagerank(edges_df(spark, pairs), stats=s2, resume=True,
                             checkpointer=CheckpointManager(spark, ckdir, "pagerank"),
                             **kw)
            again = {r["id"]: r["rank"] for r in again.collect()}
            assert s1.converged == (name == "converged")
            assert s2.resumed_from == s1.iterations
            assert (s2.iterations, s2.converged) == (s1.iterations, s1.converged)
            assert s2.iter_wall_s == []  # no iteration ran
            assert again == first
