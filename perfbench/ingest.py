"""The ``ingest`` workload: the reference pipeline, the only workload that
writes.

Set-up (untimed) generates ~1,000-row CSVs with the reference's NULL pattern
through ``sources.sales.generate_rows``, seeds the parquet sink with a
history of a few hundred files, and warms both paths on throw-away sinks. The timed section appends the files one at a time through
``process_sales.run``, then feeds the same files in waves to
``streaming.ingest.ingest_sales_stream``: each wave is one AvailableNow
drain against one checkpoint. Both sinks are then checked row for row
against a pure-Python model of the cleaning rules.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import struct
import time
from collections import Counter
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal

import env
import stats
import workloads
from tracing import JobCounts, Tracer

FILES = 20
ROWS_PER_FILE = 1000
WAVES = 4
WARM_APPENDS = 6
HISTORY_FILES = 300
HISTORY_ROWS = 15_000

COUNTS = ("rows_in", "all_null_dropped", "quantity_imputed", "total_imputed", "rows_written")


def file_seeds(seed: int, n: int) -> list[int]:
    rng = random.Random(seed)
    return [rng.getrandbits(32) for _ in range(n)]


def _f32(x: float | None) -> float | None:
    return None if x is None else struct.unpack("f", struct.pack("f", x))[0]


def _round2(x: float) -> float:
    """Spark's ``round(x, 2)`` on a double: HALF_UP on its shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _ts(dt) -> str:
    return dt.strftime("%Y-%m-%d %H:%M:%S")


def expected(rows: list[dict]) -> tuple[dict[str, int], Counter]:
    """The cleaning pipeline in plain Python: its data-quality counts and the
    multiset of rows it writes, as ``sink_rows`` reads them back."""
    counts = dict.fromkeys(COUNTS, 0)
    out: Counter = Counter()
    for r in rows:
        counts["rows_in"] += 1
        price, qty, total = r["price"], r["quantity"], r["total"]
        if price is None and qty is None and total is None:
            counts["all_null_dropped"] += 1
            continue
        if qty is None and total is not None and price:  # zero or NULL price: NULL
            qty = math.floor(total / price)
            counts["quantity_imputed"] += 1
        if total is None and price is not None and qty is not None:
            total = _round2(price * qty)
            counts["total_imputed"] += 1
        counts["rows_written"] += 1
        out[(r["product"], _f32(price), qty, _f32(total), _ts(r["ordered_at"]), _ts(r["delivery_at"]))] += 1
    return counts, out


def sink_rows(spark, path: str) -> Counter:
    rows = spark.read.parquet(path).selectExpr(
        "product", "price", "quantity", "total",
        "date_format(ordered_at, 'yyyy-MM-dd HH:mm:ss')",
        "date_format(delivery_at, 'yyyy-MM-dd HH:mm:ss')",
    ).collect()
    return Counter(tuple(r) for r in rows)


def _write_history(rows: Counter, sink: str) -> None:
    """Write cleaned rows as ``HISTORY_FILES`` parquet files with the sink's
    schema, as earlier appends would have left them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("product", pa.string()), ("price", pa.float32()), ("quantity", pa.int32()),
                        ("total", pa.float32()), ("ordered_at", pa.timestamp("us", tz="UTC")),
                        ("delivery_at", pa.timestamp("us", tz="UTC")),
                        ("processed_at", pa.timestamp("us", tz="UTC"))])
    processed = datetime(2023, 11, 1, tzinfo=timezone.utc)
    flat = sorted(rows.elements(), key=repr)
    os.makedirs(sink)
    for i in range(HISTORY_FILES):
        part = flat[i::HISTORY_FILES]
        cols = list(zip(*part))
        ts = [[datetime.strptime(t, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc) for t in c] for c in cols[4:]]
        table = pa.table(list(cols[:4]) + ts + [[processed] * len(part)], schema=schema)
        pq.write_table(table, os.path.join(sink, f"part-{i:05d}-history.parquet"))


class Lane:
    """One batch sink with its history, one stream sink with its checkpoint,
    and the CSVs both ingest."""

    def __init__(self, root: str, seed: int):
        from sales_data_pipeline_gcp_spark.sources.sales import generate_rows, write_csv

        self.raw = os.path.join(root, "raw")
        self.stream_raw = os.path.join(root, "stream_raw")
        self.batch_sink = os.path.join(root, "batch_sink")
        self.stream_sink = os.path.join(root, "stream_sink")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.raw)
        os.makedirs(self.stream_raw)
        seeds = file_seeds(seed, FILES + 1)
        self.files, self.written = [], []
        self.expected = Counter()
        self.counts = dict.fromkeys(COUNTS, 0)
        for i, s in enumerate(seeds[:FILES]):
            rows = generate_rows(ROWS_PER_FILE, seed=s)
            path = os.path.join(self.raw, f"sales_{i:03d}.csv")
            write_csv(path, rows)
            counts, out = expected(rows)
            self.files.append(path)
            self.written.append(counts["rows_written"])
            self.expected += out
            for k in COUNTS:
                self.counts[k] += counts[k]
        history = generate_rows(HISTORY_ROWS, seed=seeds[FILES])
        hist_counts, self.history = expected(history)
        self.history_written = hist_counts["rows_written"]
        _write_history(self.history, self.batch_sink)

    def run(self, spark, tally: stats.Tally, tracer: Tracer, counts: JobCounts | None) -> dict:
        """The timed section. Returns latencies, phase walls and job groups."""
        from sales_data_pipeline_gcp_spark import process_sales
        from sales_data_pipeline_gcp_spark.streaming.ingest import ingest_sales_stream

        appends, waves, progress, groups = [], [], [], []
        start = time.perf_counter()
        total = self.history_written
        for i, path in enumerate(self.files):
            total += self.written[i]
            if counts is not None:
                groups.append(f"{tracer.run_id}:append:{i}")
                counts.label(groups[-1])
            t0 = time.perf_counter()
            try:
                with tracer.span("process_sales.run"):
                    n = process_sales.run(path, self.batch_sink, spark=spark)
            except Exception:  # counted as a failed operation
                tally.op(False)
                continue
            appends.append(time.perf_counter() - t0)
            tally.op(n == total)
        append_wall = time.perf_counter() - start
        per_wave = len(self.files) // WAVES
        for w in range(WAVES):
            for path in self.files[w * per_wave:(w + 1) * per_wave]:
                shutil.copy(path, self.stream_raw)
            t0 = time.perf_counter()
            try:
                with tracer.span("streaming.wave"):
                    q = ingest_sales_stream(spark, self.stream_raw, self.stream_sink, self.checkpoint)
                    q.awaitTermination()
            except Exception:  # counted as a failed operation
                tally.op(False)
                continue
            waves.append(time.perf_counter() - t0)
            progress.extend(q.recentProgress)
            groups.append(str(q.runId))
            tally.op(True)
        wall = time.perf_counter() - start
        tally.op(sink_rows(spark, self.batch_sink) == self.history + self.expected)
        tally.op(sink_rows(spark, self.stream_sink) == self.expected)
        return {"appends": appends, "append_wall": append_wall, "waves": waves, "wall": wall,
                "progress": progress, "groups": groups}


def _warm_up(spark, root: str, seed: int, tally: stats.Tally) -> None:
    """``WARM_APPENDS`` appends and one stream drain on throw-away sinks,
    each checked."""
    from sales_data_pipeline_gcp_spark import process_sales
    from sales_data_pipeline_gcp_spark.sources.sales import generate_rows, write_csv
    from sales_data_pipeline_gcp_spark.streaming.ingest import ingest_sales_stream

    raw = os.path.join(root, "raw")
    os.makedirs(raw)
    written, out = 0, Counter()
    for i, s in enumerate(file_seeds(seed, WARM_APPENDS)):
        rows = generate_rows(ROWS_PER_FILE, seed=s)
        write_csv(os.path.join(raw, f"warm_{i}.csv"), rows)
        counts, rows_out = expected(rows)
        written += counts["rows_written"]
        out += rows_out
        n = process_sales.run(os.path.join(raw, f"warm_{i}.csv"), os.path.join(root, "batch"), spark=spark)
        tally.op(n == written)
    q = ingest_sales_stream(spark, raw, os.path.join(root, "stream"), os.path.join(root, "ckpt"))
    q.awaitTermination()
    tally.op(sink_rows(spark, os.path.join(root, "stream")) == out)


def _traced_layers(spark, lane: Lane, tally: stats.Tally, tracer: Tracer) -> tuple[dict, dict]:
    from sales_data_pipeline_gcp_spark import process_sales
    from sales_data_pipeline_gcp_spark.streaming import ingest as stream_ingest

    counts = JobCounts(spark)
    with tracer.wrapped(process_sales, "read_sales_csv", "io.read_csv"), \
            tracer.wrapped(process_sales, "clean_sales", "cleaning.build"), \
            tracer.wrapped(process_sales, "write_append", "io.write_append"), \
            tracer.wrapped(stream_ingest, "clean_sales", "cleaning.build"):
        res = lane.run(spark, tally, tracer, counts)
    layer = dict.fromkeys(workloads.PER_LAYER, 0.0)
    for name in ("io.read_csv", "io.write_append", "cleaning.build"):
        layer[name + "_s"] = tracer.seconds(name)
    # run() minus the read, clean and write it calls: the post-append re-count
    layer["process_sales.recount_s"] = tracer.self_seconds("process_sales.run")
    appends = [g for g in res["groups"] if ":append:" in g]
    layer["process_sales.jobs_per_append"] = counts.read(*appends)["jobs"] / len(lane.files)
    for k, v in counts.read(*res["groups"]).items():
        layer[f"execution.{k}"] = v
    for p in res["progress"]:
        d = p.durationMs
        layer["streaming.batches"] += 1
        layer["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        layer["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        layer["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        layer["streaming.input_rows"] += p.numInputRows
    return layer, res


def run(seed: int, traced: bool, run_id: str, run_dir: str) -> dict:
    """One run: set-up, then the timed section, traced if ``traced``. Its
    work is fixed, so it takes no duration."""
    tracer = Tracer(run_id, traced)
    tally = stats.Tally()
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = env.start_session()
    lane = Lane(os.path.join(run_dir, "lane"), seed)
    _warm_up(spark, os.path.join(run_dir, "warm"), file_seeds(seed, FILES + 2)[-1], tally)
    setup_s = time.perf_counter() - t_setup

    if traced:
        layer, res = _traced_layers(spark, lane, tally, tracer)
        layer["session.start_s"] = tracer.seconds("session.start")
        layer["session.peak_rss_mb"] = env.peak_rss_mb(spark)
        layer["trace.wall_s"] = res["wall"]
    else:
        res = lane.run(spark, tally, tracer, None)
    rows = sum(lane.written)
    p50 = stats.median(res["appends"])
    tail_v, tail_pct, tail_n = stats.tail(res["appends"])
    env.stop_session(spark)
    return {
        "end_to_end": {"setup_s": setup_s, "wall_s": res["wall"], "op_p50_s": p50, "op_tail_s": tail_v},
        "per_layer": layer if traced else None,
        "report": [
            ("append_p50_s", p50, "s"),
            (f"append_tail_s (p{tail_pct:.1f} of n={tail_n})", tail_v, "s"),
            ("ingest_rows_per_s", rows / res["append_wall"], "rows/s"),
            ("stream_wave_p50_s", stats.median(res["waves"]), "s"),
            ("failed_frac", stats.failed_frac(tally.attempted, tally.failed), "ratio"),
        ] + [(f"expected.{k}", v, "rows") for k, v in lane.counts.items()],
        "attempted": tally.attempted,
        "failed": tally.failed,
        "tracer": tracer,
    }
