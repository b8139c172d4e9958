"""foreachBatch upsert sink: streaming CDC into a keyed snapshot — later
events win, re-runs are idempotent."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import types as T

from sales_data_pipeline_gcp_spark.streaming.sinks import upsert_sink

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)


def test_upsert_sink_latest_state_and_idempotence(spark, tmp_path):
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        upsert_sink(stream, snap, ckpt, key="user_id", order_col="seq").awaitTermination()

    spark.createDataFrame([(1, 1, "new"), (2, 1, "new"), (1, 2, "active")], SCHEMA).write.mode(
        "append"
    ).parquet(src)
    run()
    got = {r.user_id: (r.seq, r.status) for r in spark.read.parquet(snap).collect()}
    assert got == {1: (2, "active"), 2: (1, "new")}

    # re-run with no new input: exactly-once, snapshot unchanged
    run()
    assert {r.user_id: (r.seq, r.status) for r in spark.read.parquet(snap).collect()} == got

    # CDC batch 2: update user 2, insert user 3
    spark.createDataFrame([(2, 5, "churned"), (3, 1, "new")], SCHEMA).write.mode("append").parquet(src)
    run()
    got2 = {r.user_id: (r.seq, r.status) for r in spark.read.parquet(snap).collect()}
    assert got2 == {1: (2, "active"), 2: (5, "churned"), 3: (1, "new")}


def test_upsert_sink_surfaces_snapshot_read_error(spark, tmp_path):
    """A snapshot that exists but cannot be read is an error, not a missing
    snapshot: the read failure itself must reach the caller, and the
    unreadable snapshot must not be replaced."""
    src = str(tmp_path / "src")
    snap = tmp_path / "snap"
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, 1, "new")], SCHEMA).write.parquet(src)
    snap.mkdir()
    (snap / "part-00000.parquet").write_bytes(b"not a parquet file")

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    with pytest.raises(StreamingQueryException) as err:
        upsert_sink(stream, str(snap), ckpt, key="user_id", order_col="seq").awaitTermination()
    msg = str(err.value)
    assert "part-00000.parquet" in msg, msg
    assert "Directory not empty" not in msg, msg
    assert os.listdir(snap) == ["part-00000.parquet"]
