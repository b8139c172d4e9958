"""foreachBatch sinks: exactly-once upsert into a keyed parquet snapshot.

``Trigger.AvailableNow`` + checkpoint gives exactly-once INPUT consumption;
for a keyed MUTABLE sink the batch itself must be idempotent — here each
micro-batch MERGEs into the snapshot via the same anti-join+union used by
``operators/merge.py``, and the swap is atomic-enough for a local demo
(a real deployment would write to Delta/Iceberg or a staging dir + rename).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from sales_data_pipeline_gcp_spark.operators.core import dedup_by_key
from sales_data_pipeline_gcp_spark.operators.merge import merge_upsert


def upsert_sink(
    stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str,
    order_col: str,
) -> StreamingQuery:
    """Stream -> per-key latest-state snapshot. Each micro-batch keeps its
    last row per key (by order_col), merges into the snapshot, rewrites it."""
    spark = stream.sparkSession

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        import os
        import shutil

        from pyspark.sql import functions as F

        latest = dedup_by_key(batch, [key], [F.col(order_col).desc()])
        # a missing snapshot is the first batch; any other read failure
        # (a corrupt snapshot file) must surface, not start a new snapshot
        exists = os.path.isdir(snapshot_dir)
        merged = merge_upsert(spark.read.parquet(snapshot_dir), latest, key) if exists else latest
        # stage-then-swap: the merged plan READS the dir being replaced, so
        # write distributed to a staging dir and rename (no driver collect)
        staging = snapshot_dir + f".staging-{epoch_id}"
        merged.write.mode("overwrite").parquet(staging)
        if exists:
            shutil.rmtree(snapshot_dir)
        os.rename(staging, snapshot_dir)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
