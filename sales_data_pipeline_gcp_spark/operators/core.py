"""Reusable relational operator helpers.

All helpers are deterministic-by-construction: anything that picks "one row
among ties" (top-k, dedup) takes an explicit total ordering, because at
cluster scale `dropDuplicates`/`limit` tie-breaking is partition-order
dependent and non-reproducible across runs (SURVEY.md §7 hard-part #2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k. ``orderBy().limit()`` compiles to
    ``TakeOrderedAndProject`` — each partition keeps a k-row heap and only
    k rows per partition reach the driver-side merge, so this scales to any
    input size as long as k is small."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame, partition_by: list[str], order_by: list[Column], k: int, *, rank_col: str = "rn"
) -> DataFrame:
    """Top-k per group via row_number over a total order: one shuffle on the
    partition keys; AQE splits skewed groups' sort spills."""
    w = W.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def dedup_by_key(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Exact key-dedup keeping the FIRST row under ``order_by`` — the
    deterministic form of ``dropDuplicates(keys)`` (which keeps an arbitrary
    row, non-reproducible under retries/partition order at scale)."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def materialize(df: DataFrame, label: str | None = None) -> DataFrame:
    """Cut a reused subtree out of every downstream branch: eager
    ``localCheckpoint`` computes it ONCE and replaces the lineage with the
    stored partitions. Spark does no cross-branch subtree reuse, so without
    this the LSH self-joins execute the signature stage on BOTH sides and
    the verify joins re-derive the shingle stage — the most expensive
    stage of the pipeline running 2-6x (the round-2 bench outlier's
    structural amplifier). This is the engine's only checkpoint call.

    The checkpoint's Spark jobs run under the job description ``label``
    (``"materialize"`` when none is given), so the status store and the UI
    show which checkpoint each job belongs to; the previous description is
    restored afterwards and the job group is never touched.
    ``tools/dump_plans.py --iter`` names its pre-checkpoint plan dumps from
    the same description.

    Scale note: everything checkpointed in the minhash pipeline is one row
    per DOC (shingle arrays, k-long signatures) — never the corpus-sized
    exploded occurrence stream (round-4 restructure; checkpointing the
    exploded stream more than doubled wall time at sf0.1). On a real
    cluster ``checkpoint()`` to HDFS/object storage survives executor loss;
    localCheckpoint is the single-node analog."""
    sc = df.sparkSession.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label or "materialize")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setJobDescription(previous)
