from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rad_ecg_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="rad_ecg_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "4g",
            # tiny data: AQE's extra per-stage planning jobs only add
            # latency here; the engine default (session.py) keeps it on.
            "spark.sql.adaptive.enabled": "false",
        },
    )
    yield s


@contextlib.contextmanager
def session_conf(spark, conf: dict):
    """Set session confs for the block, then restore the previous values."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# indirect parametrisation of ``arrow_batch``: the session's Arrow batch
# size, and one small enough that groups straddle batches
ARROW_BATCHES = [
    pytest.param(None, id="session_batch"),
    pytest.param(7, id="batch7"),
]


@pytest.fixture
def arrow_batch(spark, request):
    """Runs the test with ``maxRecordsPerBatch`` = ``request.param``
    (None keeps the session's value)."""
    rows = request.param
    conf = {} if rows is None else {
        "spark.sql.execution.arrow.maxRecordsPerBatch": rows
    }
    with session_conf(spark, conf):
        yield rows


def edges_df(spark, pairs, src_type="long"):
    from pyspark.sql import types as T

    t = T.LongType() if src_type == "long" else T.StringType()
    schema = T.StructType([T.StructField("src", t), T.StructField("dst", t)])
    return spark.createDataFrame(pairs, schema)
