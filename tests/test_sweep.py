"""The streaming key-run sweep (operators/sweep.py): every key reaches
the kernel whole and exactly once, in key order, and one call sees at
most one Arrow batch plus the largest run — not the whole partition."""

from __future__ import annotations

import numpy as np
import pandas as pd

from rad_ecg_spark.operators.sweep import each_run, sweep_key_runs

from .conftest import session_conf


BATCH, HOT = 64, 1000


def test_runs_whole_in_order_and_block_bounded(spark):
    rng = np.random.default_rng(3)
    sizes = rng.integers(1, 8, 500)  # ~2,000 rows of small keys
    keys = np.repeat(2 * np.arange(len(sizes)), sizes)  # even keys
    keys = np.concatenate([keys, np.full(HOT, 501)])  # one hot odd key
    pos = rng.permutation(len(keys))  # per-key order differs from input order
    pdf = pd.DataFrame({"k": keys.astype(np.int64), "pos": pos.astype(np.int64)})
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=5)).coalesce(1)

    def kernel_one(run: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "k": [int(run["k"].iat[0])],
                "n": [len(run)],
                "ordered": [bool(np.all(np.diff(run["pos"].to_numpy()) > 0))],
            }
        )

    per_run = each_run(kernel_one, "k")

    def kernel(block: pd.DataFrame) -> pd.DataFrame:
        return per_run(block).assign(block=len(block))

    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(batch_conf)
    with session_conf(
        spark,
        {
            batch_conf: BATCH,
            "spark.sql.shuffle.partitions": 1,  # one task sweeps every key
        },
    ):
        rows = sweep_key_runs(
            df, "k", ["pos"], kernel, "k long, n long, ordered boolean, block long"
        ).collect()
        ref = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}

    got_keys = [r["k"] for r in rows]
    assert len(got_keys) == len(set(got_keys))  # each key exactly once
    assert got_keys == sorted(got_keys)
    assert {r["k"]: r["n"] for r in rows} == ref
    assert ref[501] == HOT
    assert all(r["ordered"] for r in rows)
    assert max(r["block"] for r in rows) <= BATCH + HOT
    assert spark.conf.get(batch_conf) == before
