"""The append contract of ``process_sales.run``: it returns the rows in the
sink after the append, counted as a pre-write snapshot of the sink (on a
helper thread, while the write runs) plus the rows the write job observed."""

from __future__ import annotations

import os
import threading
from datetime import datetime, timezone

import pytest

from sales_data_pipeline_gcp_spark import process_sales
from sales_data_pipeline_gcp_spark.sources.sales import generate_rows, write_csv

#: Spark jobs one parquet append onto an existing sink runs under the
#: caller's job group: the write and the snapshot count's two (AQE runs the
#: count's scan and its final aggregate as separate jobs).
APPEND_JOBS = 3

COUNT_THREAD = "process_sales-sink-count"


def _csv(tmp_path, name: str, rows: list[dict]) -> str:
    path = str(tmp_path / name)
    write_csv(path, rows)
    return path


def _fresh_count(spark, out: str, fmt: str) -> int:
    return spark.read.format(fmt).load(out).count()


def _pyarrow_history(sink: str, files: int, rows_per_file: int) -> None:
    """Parquet files with the sink's schema, written by another writer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.timestamp("us", tz="UTC")
    schema = pa.schema([("product", pa.string()), ("price", pa.float32()), ("quantity", pa.int32()),
                        ("total", pa.float32()), ("ordered_at", ts), ("delivery_at", ts),
                        ("processed_at", ts)])
    when = datetime(2023, 11, 1, tzinfo=timezone.utc)
    os.makedirs(sink)
    for i in range(files):
        n = rows_per_file
        cols = [["Laptops"] * n, [10.0] * n, list(range(n)), [float(10 * k) for k in range(n)]] + [[when] * n] * 3
        pq.write_table(pa.table(cols, schema=schema), os.path.join(sink, f"part-{i:05d}-history.parquet"))


def _no_count_thread() -> bool:
    return not any(t.name == COUNT_THREAD for t in threading.enumerate())


@pytest.mark.parametrize(
    "case, fmt, partition_by",
    [
        ("missing", "parquet", None),
        ("history", "parquet", None),
        ("partitioned", "parquet", ["product"]),
        ("csv", "csv", None),
        ("json", "json", None),
    ],
)
def test_run_equals_fresh_sink_count(spark, tmp_path, case, fmt, partition_by):
    out = str(tmp_path / "sink")
    if case == "history":
        _pyarrow_history(out, files=5, rows_per_file=40)
    for i, seed in enumerate((11, 12)):
        path = _csv(tmp_path, f"in_{i}.csv", generate_rows(60, seed=seed))
        n = process_sales.run(path, out, fmt=fmt, partition_by=partition_by, spark=spark)
        assert n == _fresh_count(spark, out, fmt) > 0
    assert _no_count_thread()


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_reader_loaded_before_an_append_counts_pre_append_rows(spark, tmp_path, fmt):
    from sales_data_pipeline_gcp_spark.cleaning import clean_sales
    from sales_data_pipeline_gcp_spark.io import read_sales_csv, write_append

    out = str(tmp_path / "sink")
    df = clean_sales(read_sales_csv(spark, _csv(tmp_path, "in.csv", generate_rows(50, seed=3))))
    write_append(df, out, fmt=fmt)
    before = _fresh_count(spark, out, fmt)
    snapshot = process_sales._sink_snapshot(spark, out, fmt, df.schema)
    write_append(df, out, fmt=fmt)
    assert snapshot.count() == before
    assert _fresh_count(spark, out, fmt) == 2 * before


def test_append_job_count_is_pinned(spark, tmp_path):
    out = str(tmp_path / "sink")
    process_sales.run(_csv(tmp_path, "a.csv", generate_rows(50, seed=5)), out, spark=spark)
    path = _csv(tmp_path, "b.csv", generate_rows(50, seed=6))
    sc = spark.sparkContext
    group = f"append-job-count-{os.getpid()}-{id(tmp_path)}"
    sc.setJobGroup(group, group)
    try:
        process_sales.run(path, out, spark=spark)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == APPEND_JOBS


#: Empty quantity, so quantity = floor(total / price) = 1e17, which overflows
#: the INT projection: CAST_OVERFLOW under ANSI, raised inside the write job.
OVERFLOW_ROW = {"product": "Laptops", "price": 0.01, "quantity": None, "total": 1e15,
                "ordered_at": datetime(2023, 5, 1), "delivery_at": datetime(2023, 5, 6)}


def test_failed_append_raises_the_write_error_and_leaves_the_sink(spark, tmp_path):
    out = str(tmp_path / "sink")
    n = process_sales.run(_csv(tmp_path, "ok.csv", generate_rows(50, seed=9)), out, spark=spark)
    bad = _csv(tmp_path, "bad.csv", generate_rows(20, seed=10) + [OVERFLOW_ROW])
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        process_sales.run(bad, out, spark=spark)
    assert _no_count_thread()
    assert _fresh_count(spark, out, "parquet") == n


def _corrupt(out: str) -> None:
    """A file the sink's snapshot count cannot read; appends still succeed."""
    with open(os.path.join(out, "part-99999-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")


def test_count_error_reraises(spark, tmp_path):
    out = str(tmp_path / "sink")
    process_sales.run(_csv(tmp_path, "ok.csv", generate_rows(50, seed=9)), out, spark=spark)
    _corrupt(out)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        process_sales.run(_csv(tmp_path, "ok2.csv", generate_rows(50, seed=10)), out, spark=spark)
    assert _no_count_thread()


def test_write_error_wins_over_count_error(spark, tmp_path):
    out = str(tmp_path / "sink")
    process_sales.run(_csv(tmp_path, "ok.csv", generate_rows(50, seed=9)), out, spark=spark)
    _corrupt(out)
    with pytest.raises(Exception, match="CAST_OVERFLOW") as err:
        process_sales.run(_csv(tmp_path, "bad.csv", [OVERFLOW_ROW]), out, spark=spark)
    assert "FAILED_READ_FILE" not in str(err.value)
    assert _no_count_thread()
