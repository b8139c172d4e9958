"""Drop-in batch entry point — the engine's analog of the reference job
(scripts/process_sales.py: argparse file path + sink args, explicit-schema
CSV read, clean, append to the sink).

A user of the reference runs:

    process_sales.py gs://bucket/raw/f.csv --temp_gcs_bucket .. --bq_table ..

here:

    python -m sales_data_pipeline_gcp_spark.process_sales <csv path/glob> \
        --out /path/to/table [--format parquet|csv|json] [--no-audit] \
        [--partition-by product]

The BigQuery-via-staging-bucket sink (reference scripts/process_sales.py:
21,66-69) becomes a local/cluster append sink; on a real deployment the
same DataFrameWriter takes the BigQuery connector format string unchanged.

Append layout must be CONSISTENT across runs (same --format and
--partition-by): like any Hive-style table dir, mixing partitioned and flat
files in one location makes readers silently skip part of the data.
"""

from __future__ import annotations

import argparse

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sales_data_pipeline_gcp_spark.cleaning import clean_sales
from sales_data_pipeline_gcp_spark.io import observe_rows, read_sales_csv, write_append
from sales_data_pipeline_gcp_spark.session import get_spark


def run(input_path: str, out: str, *, fmt: str = "parquet", audit: bool = True, partition_by: list[str] | None = None, spark=None) -> int:
    """Read -> clean -> append. Returns the number of rows in the sink after
    the append: the rows the sink held when the append started plus the rows
    the append wrote.

    The sink's earlier rows are counted on a helper thread while this thread
    writes, from a read of the sink taken before the write; the written rows
    are counted by the write job itself. With one appender at a time the
    result equals a fresh count of the sink. When appenders run concurrently
    it is this append's snapshot-plus-written figure: rows another appender
    commits during this write are not included.

    Raises the write's error if the write fails (after the helper thread has
    finished), otherwise the count's error if the count fails.
    """
    spark = spark or get_spark("process_sales")
    df = clean_sales(read_sales_csv(spark, input_path), audit=audit)
    snapshot = _sink_snapshot(spark, out, fmt, df.schema)
    counted: dict = {}
    counter = InheritableThread(target=_count_into, args=(snapshot, counted), session=spark,
                                name="process_sales-sink-count")
    counter.start()
    try:
        df, written = observe_rows(df)
        write_append(df, out, fmt=fmt, partition_by=partition_by)
    finally:
        counter.join()
    if "error" in counted:
        raise counted["error"]
    return counted["rows"] + written.get["rows"]


def _sink_snapshot(spark: SparkSession, out: str, fmt: str, schema: T.StructType) -> DataFrame | None:
    """A read of the sink as it is now, or None if there is no sink yet. The
    known schema spares a schema-inference job, and the file listing is
    taken here, so files appended later are not part of this read.

    A missing sink is detected up front: loading one raises PATH_NOT_FOUND
    only after Spark has logged a stack trace for it."""
    path = spark._jvm.org.apache.hadoop.fs.Path(out)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return None
    return spark.read.format(fmt).schema(schema).load(out)


def _count_into(df: DataFrame | None, counted: dict) -> None:
    try:
        counted["rows"] = df.count() if df is not None else 0
    except BaseException as e:  # re-raised on the calling thread by run()
        counted["error"] = e


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("input_path", help="CSV file or glob to ingest")
    p.add_argument("--out", required=True, help="output table directory")
    p.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    p.add_argument("--no-audit", action="store_true", help="omit processed_at")
    p.add_argument("--partition-by", nargs="*", default=None)
    args = p.parse_args(argv)
    n = run(
        args.input_path,
        args.out,
        fmt=args.format,
        audit=not args.no_audit,
        partition_by=args.partition_by,
    )
    print(f"rows in sink after append: {n}")


if __name__ == "__main__":
    main()
