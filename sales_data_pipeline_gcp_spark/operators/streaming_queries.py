"""Declared queries for the streaming surface (SURVEY.md §7 Phase 4).

The window transforms live in ``streaming/windows.py`` and are shared
verbatim between batch and streaming execution; here they run in batch mode
against the events table so the driver can oracle them (DuckDB expresses
tumble/slide as epoch-bucket arithmetic and sessions as gaps-and-islands).
tests/test_streaming.py additionally runs them as real streams
(readStream + watermark + AvailableNow) and asserts batch-equivalence, plus
exactly-once for the file-ingest pipeline.
"""

from __future__ import annotations

import contextlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.io import NS_PER_SECOND, load
from sales_data_pipeline_gcp_spark.plans.registry import register
from sales_data_pipeline_gcp_spark.streaming.windows import (
    SESSION_GAP_MINUTES,
    SLIDE_STEP_MINUTES,
    SLIDE_WINDOW_MINUTES,
    TUMBLE_MINUTES,
    session_windows,
    sliding_counts,
    tumbling_counts,
)

#: Shuffle/state-store partition count for the DEMO streams below. A
#: stateful streaming operator creates — and commits one delta file for,
#: per micro-batch — one state store per shuffle partition (a stream-stream
#: join holds FOUR stores per partition), and the count is pinned by the
#: first checkpoint, so it is a per-pipeline sizing decision, not a session
#: constant. Sizing follows guide §2.2 (partition count from state volume,
#: not core count): these demo streams hold <= 240 rows of state, where the
#: session's batch-sized shuffle partitioning spends ~20x more wall-clock
#: on empty state-store commits than on data (measured round 12: the two
#: stream-stream joins alone billed 13.8s/sweep, ~90% state-store commit
#: I/O). Production pipelines size this to state volume / guide §2.2's
#: 100 MB–1 GB per partition and override via this env var; the batch
#: surface (everything outside ``_stream_partitions``) keeps the session
#: default, so the driver's bench comparability is untouched.
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "2")
)


@contextlib.contextmanager
def _stream_partitions(
    spark: SparkSession,
    n: int = STREAM_STATE_PARTITIONS,
    *,
    final_no_data_batch: bool = True,
):
    """Pin ``spark.sql.shuffle.partitions`` (= streaming state partitions)
    around a stream's build/start/drain; restores the session value for the
    batch surface. The conf is read when the streaming query STARTS, so the
    whole start+awaitTermination must sit inside.

    ``final_no_data_batch=False`` additionally disables
    ``spark.sql.streaming.noDataMicroBatches.enabled`` for the scope: an
    AvailableNow drain otherwise appends one empty micro-batch after the
    data batches purely to advance the watermark and evict state — a full
    trigger cycle (planning + state-store commits + sink commit, measured
    ~0.5-0.9s/batch round 13) that writes NOTHING for operators whose sink
    content is watermark-INDEPENDENT. That is exactly the eager-emission
    class: stream-stream INNER joins and dropDuplicates(WithinWatermark)
    emit rows the moment they are seen; only watermark-GATED emission
    (outer-join NULLs, append-mode aggregations) needs the final batch, and
    those streams must keep the default. Correctness evidence: the embedded
    rows/hash batch-equivalence columns are computed per run, and
    tests/test_streaming.py pins the semantics.

    NOTE: both settings mutate session-global conf for the scope's
    duration; the bench driver runs queries single-threaded, which this
    (and every scoped conf in the repo) assumes — a multi-threaded driver
    would need a lock here."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    if not final_no_data_batch:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_ndb)


_TUMBLE_SEC = TUMBLE_MINUTES * 60
_SLIDE_W_SEC = SLIDE_WINDOW_MINUTES * 60
_SLIDE_S_SEC = SLIDE_STEP_MINUTES * 60
_GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000


def _content_summary(df: DataFrame, prefix: str) -> DataFrame:
    """One row: ``<prefix>_rows`` and ``<prefix>_hash``, an order-independent
    content hash (sum of per-row xxhash64 over a NULL-marked concat of the
    sorted columns, summed in DECIMAL so ANSI overflow cannot bite)."""
    row_str = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in sorted(df.columns)],
    )
    return df.agg(
        F.count("*").alias(f"{prefix}_rows"),
        F.coalesce(F.sum(F.xxhash64(row_str).cast("decimal(38,0)")), F.lit(0)).alias(
            f"{prefix}_hash"
        ),
    )


def _with_batch_evidence(sink: DataFrame, batch: DataFrame) -> DataFrame:
    """``sink`` with the batch-equivalence proof on every row: stream_rows /
    batch_rows / rows_match / hash_match compare the streamed sink against
    the same pipeline run as one batch. A streaming query has no oracle,
    so the proof travels in its output."""
    evidence = (
        _content_summary(sink, "stream")
        .crossJoin(F.broadcast(_content_summary(batch, "batch")))
        .select(
            "stream_rows",
            "batch_rows",
            (F.col("stream_rows") == F.col("batch_rows")).alias("rows_match"),
            (F.col("stream_hash") == F.col("batch_hash")).alias("hash_match"),
        )
    )
    return sink.crossJoin(F.broadcast(evidence))


@register(
    "q_stream_tumbling",
    oracle=f"""
    SELECT (epoch_ns(ts) // {_TUMBLE_SEC * NS_PER_SECOND}) * {_TUMBLE_SEC} AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc=f"{TUMBLE_MINUTES}-minute tumbling event-time window per event_type "
    "(same transform runs streaming with a watermark; batch here for the "
    "oracle). Window starts emitted as epoch seconds — ns-vs-µs and "
    "timezone proof.",
    tags=("streaming",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load(spark, sf_dir, "events"))


@register(
    "q_stream_sliding",
    oracle=f"""
    WITH hops AS (
        SELECT ((epoch_ns(ts) // {_SLIDE_S_SEC * NS_PER_SECOND}) - k) * {_SLIDE_S_SEC} AS bucket_start,
               event_type
        FROM events, UNNEST(range({_SLIDE_W_SEC // _SLIDE_S_SEC})) AS t(k)
    )
    SELECT bucket_start, event_type, COUNT(*) AS n_events
    FROM hops
    GROUP BY bucket_start, event_type
    """,
    doc=f"Sliding window ({SLIDE_WINDOW_MINUTES}m window / "
    f"{SLIDE_STEP_MINUTES}m hop): each event contributes to window/hop "
    "buckets. Spark expands via F.window; the oracle via explicit hop "
    "arithmetic.",
    tags=("streaming",),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load(spark, sf_dir, "events"))


@register(
    "q_stream_session",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events
    ), d AS (
        SELECT user_id, us, value,
               CASE WHEN LAG(us) OVER w IS NULL
                      OR us - LAG(us) OVER w >= {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), s AS (
        SELECT user_id, us, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM d
    )
    SELECT user_id,
           MIN(us) // 1000000 AS session_start,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM s
    GROUP BY user_id, sid
    """,
    doc=f"Session windows per user ({SESSION_GAP_MINUTES}m gap) via Spark's "
    "native session_window (streaming-capable); the oracle is the classic "
    "gaps-and-islands lag/cumsum formulation.",
    tags=("streaming",),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(load(spark, sf_dir, "events"))


@register(
    "q_stream_ingest",
    oracle=None,  # end-to-end streaming pipeline; exactly-once gated in tests
    doc="The reference pipeline end-to-end as a stream: drop simulator CSVs "
    "into a watched dir, AvailableNow micro-batch runs the cleaning "
    "pipeline, checkpointed parquet append (exactly-once upgrade over the "
    "reference's at-least-once, SURVEY.md §2.2.6). The driver can only "
    "rows-check this query, so the batch-equivalence proof is embedded in "
    "the OUTPUT itself (round-4 VERDICT item 6): every sink row carries "
    "stream_rows / batch_rows / rows_match / hash_match columns comparing "
    "the streamed sink against the same cleaning pipeline run as one "
    "batch over the same CSVs — order-independent content hash (sum of "
    "per-row xxhash64 over a NULL-marked concat, summed in DECIMAL so "
    "ANSI overflow cannot bite). A recorded row with hash_match=false "
    "would be hard evidence of divergence; tests additionally pin "
    "exactly-once re-delivery semantics.",
    tags=("streaming",),
)
def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_gcp_spark.cleaning import clean_sales
    from sales_data_pipeline_gcp_spark.io import read_sales_csv
    from sales_data_pipeline_gcp_spark.sources.sales import generate_rows, write_csv
    from sales_data_pipeline_gcp_spark.streaming.ingest import ingest_sales_stream

    base = tempfile.mkdtemp(prefix="ingest_demo_")
    raw = os.path.join(base, "raw")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(raw)
    for i, n in enumerate((40, 60)):
        write_csv(os.path.join(raw, f"sales_{i}.csv"), generate_rows(n, seed=100 + i))
    ingest_sales_stream(spark, raw, out, ckpt, audit=False).awaitTermination()

    sink = spark.read.parquet(out)
    batch = clean_sales(read_sales_csv(spark, raw), audit=False)
    return _with_batch_evidence(sink, batch)


@register(
    "q_rollup_hierarchy",
    oracle=f"""
    WITH grains AS (SELECT UNNEST([300, 3600, 86400]) AS grain_sec)
    SELECT g.grain_sec,
           (epoch_ns(ts) // {NS_PER_SECOND}) - ((epoch_ns(ts) // {NS_PER_SECOND}) % g.grain_sec)
                                                       AS bucket_start,
           event_type,
           COUNT(*)                                    AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN grains g
    GROUP BY 1, 2, 3
    """,
    doc="Hypertable-style hierarchical rollup: 5min/1h/1d grains in ONE "
    "pass (posexplode over grain lengths + partial aggregation) — the "
    "batch/backfill path of streaming/rollup.py, whose incremental "
    "additive-merge maintenance is tested in tests/test_rollup.py.",
    tags=("streaming", "rollup"),
)
def q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_gcp_spark.streaming.rollup import hierarchical_rollup

    return hierarchical_rollup(load(spark, sf_dir, "events"))


#: Stream-dedup demo sizing: two micro-batch files with this many rows
#: each, the second re-delivering this many of the first's rows.
STREAM_DEDUP_ROWS = 80
STREAM_DEDUP_OVERLAP = 20


@register(
    "q_stream_dedup",
    oracle=None,  # streaming state op; batch-equivalence embedded in output
    doc="Watermarked streaming deduplication: a file-source stream whose "
    "second micro-batch re-delivers rows from the first (the at-least-once "
    "reality of upstream producers), deduplicated by key with "
    "dropDuplicatesWithinWatermark — state is bounded by the watermark "
    "horizon instead of growing forever, the production posture for "
    "exactly-once-by-key sinks at 100 TB/day. Like q_stream_ingest, the "
    "driver can only rows-check a streaming query, so the batch-"
    "equivalence proof is embedded in the output: every sink row carries "
    "stream_rows / batch_rows / rows_match / hash_match columns comparing "
    "the streamed dedup against batch dropDuplicates over the same files "
    "(re-delivered rows are byte-identical, so the survivor set is "
    "well-defined and the order-independent content hash must match). "
    "tests/test_streaming.py pins the semantics on top.",
    tags=("streaming", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix="stream_dedup_")
    raw = os.path.join(base, "raw")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(raw)

    def row(i: int) -> str:
        # deterministic, duplicate-stable content: re-delivery is byte-equal
        return f"{i},2026-01-01 00:{i // 60:02d}:{i % 60:02d},{(i * 7) % 100}.25"

    n, k = STREAM_DEDUP_ROWS, STREAM_DEDUP_OVERLAP
    with open(os.path.join(raw, "batch_0.csv"), "w") as f:
        f.write("event_id,ts,value\n")
        f.writelines(row(i) + "\n" for i in range(n))
    with open(os.path.join(raw, "batch_1.csv"), "w") as f:
        f.write("event_id,ts,value\n")
        f.writelines(row(i) + "\n" for i in range(n - k, 2 * n - k))

    schema = "event_id BIGINT, ts TIMESTAMP, value DOUBLE"
    # dropDuplicatesWithinWatermark emits every survivor the moment it is
    # first seen — the sink never depends on watermark advancement, so the
    # final no-data micro-batch is pure state-eviction overhead here
    with _stream_partitions(spark, final_no_data_batch=False):
        src = spark.readStream.schema(schema).option("header", "true").csv(raw)
        deduped = src.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(["event_id"])
        (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    sink = spark.read.parquet(out)
    batch = (
        spark.read.schema(schema)
        .option("header", "true")
        .csv(raw)
        .dropDuplicates(["event_id"])
    )
    return _with_batch_evidence(sink, batch)


#: Stream-stream join demo sizing: views/purchases per source file, user
#: fan-in, and the event-time join horizon (minutes after the view).
STREAM_JOIN_ROWS = 120
STREAM_JOIN_USERS = 40
STREAM_JOIN_HORIZON_MIN = 10


def _interval_join(vdf: DataFrame, pdf: DataFrame, how: str) -> DataFrame:
    """Views joined to purchases of the same user within
    ``STREAM_JOIN_HORIZON_MIN`` minutes after the view; ``how`` is the join
    type. Runs unchanged on streams and on batch frames."""
    v = vdf.select("user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id"))
    p = pdf.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {STREAM_JOIN_HORIZON_MIN} MINUTES")
        ),
        how,
    ).select("user_id", "view_id", "purchase_id")


@register(
    "q_stream_join",
    oracle=None,  # streaming state op; batch-equivalence embedded in output
    doc="Stream-stream event-time interval join (the attribution join run "
    "as two live streams): a views stream and a purchases stream, both "
    "watermarked, joined on user + purchase-within-10-minutes-after-view. "
    "Both state stores are BOUNDED — the interval condition plus the "
    "watermark lets Spark evict a view row once the purchase-side "
    "watermark passes v_ts + horizon, the property that makes a "
    "100 TB/day clickstream-attribution join runnable at all (an "
    "unbounded-state join OOMs by construction). Like q_stream_ingest / "
    "q_stream_dedup, the driver can only rows-check a streaming query, "
    "so the batch-equivalence proof is embedded: every sink row carries "
    "stream_rows / batch_rows / rows_match / hash_match comparing the "
    "streamed inner interval join against the identical batch join over "
    "the same files (inner joins emit eagerly, so an AvailableNow drain "
    "must equal batch exactly). tests/test_stream_stream_join.py pins "
    "the semantics — including the left-outer variant, whose NULL "
    "emission is watermark-gated — on top.",
    tags=("streaming", "join"),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix="stream_join_")
    vdir, pdir = os.path.join(base, "views"), os.path.join(base, "purchases")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    os.makedirs(vdir)
    os.makedirs(pdir)

    n, u = STREAM_JOIN_ROWS, STREAM_JOIN_USERS

    def view_row(i: int) -> str:
        # user i%u views at minute 2*i
        return f"{i % u},2026-01-01 {2 * i // 60:02d}:{2 * i % 60:02d}:00,{100 + i}"

    def purchase_row(j: int) -> str:
        # user j%u purchases at minute 2*j+3 — inside the horizon of view j,
        # outside it for roughly half the cross-user collisions
        t = 2 * j + 3
        return f"{j % u},2026-01-01 {t // 60:02d}:{t % 60:02d}:00,{500 + j}"

    # two micro-batch files per side so matches span file boundaries
    for name, lo, hi, mk in (
        ("v_0.csv", 0, n // 2, view_row),
        ("v_1.csv", n // 2, n, view_row),
    ):
        with open(os.path.join(vdir, name), "w") as f:
            f.write("user_id,ts,event_id\n")
            f.writelines(mk(i) + "\n" for i in range(lo, hi))
    for name, lo, hi, mk in (
        ("p_0.csv", 0, n // 2, purchase_row),
        ("p_1.csv", n // 2, n, purchase_row),
    ):
        with open(os.path.join(pdir, name), "w") as f:
            f.write("user_id,ts,event_id\n")
            f.writelines(mk(j) + "\n" for j in range(lo, hi))

    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT"

    # INNER stream-stream joins emit eagerly — the sink never depends on
    # watermark advancement (the watermark only bounds STATE here), so the
    # final no-data micro-batch is pure state-eviction overhead
    with _stream_partitions(spark, final_no_data_batch=False):
        vstream = (
            spark.readStream.schema(schema)
            .option("header", "true")
            .csv(vdir)
            .withWatermark("ts", "30 minutes")
        )
        pstream = (
            spark.readStream.schema(schema)
            .option("header", "true")
            .csv(pdir)
            .withWatermark("ts", "30 minutes")
        )
        (
            _interval_join(vstream, pstream, "inner")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    sink = spark.read.parquet(out)
    read = lambda d: spark.read.schema(schema).option("header", "true").csv(d)
    batch = _interval_join(read(vdir), read(pdir), "inner")
    return _with_batch_evidence(sink, batch)


#: Left-outer stream-stream demo sizing: views per source file, user fan-in
#: (every ODD view is left unmatched by construction -- purchases exist only
#: for even view indices, and the 20-user fan-in makes cross-view collisions
#: impossible inside the 10-minute horizon: i == j (mod 20) and
#: 2*(j-i)+3 in [0,10] force j = i). Heartbeat rows use a user id far
#: outside the real range so they can be excluded from sink and batch alike.
STREAM_OUTER_ROWS = 60
STREAM_OUTER_USERS = 20
STREAM_OUTER_HEARTBEAT_USER = 9_000


@register(
    "q_stream_join_outer",
    oracle=None,  # streaming state op; batch-equivalence embedded in output
    doc="LEFT-OUTER stream-stream event-time interval join -- the one "
    "streaming semantics q_stream_join's inner variant cannot exercise: "
    "an unmatched view row is emitted with NULL purchase columns only "
    "once the watermark (the MIN across both inputs) passes the "
    "interval's upper bound, proving the row can never match -- the "
    "watermark-gated NULL emission that makes outer attribution joins "
    "deterministic instead of racy. Mechanics: purchases exist only for "
    "even view indices, so exactly half the views must surface as NULL "
    "rows; far-future heartbeat rows land on BOTH streams (in the same "
    "data micro-batch — watermarks apply only from the NEXT batch, so "
    "they cannot late-drop the real rows they ride with) to "
    "advance the closing watermark past every real row's horizon, and "
    "heartbeat users are excluded from sink and batch alike (their own "
    "unmatched rows sit beyond the final watermark by construction -- "
    "the same exclusion tests/test_stream_stream_join.py uses). Both "
    "state stores stay BOUNDED exactly as in the inner variant. The "
    "driver can only rows-check a streaming query, so the proof is "
    "embedded: every sink row carries stream_rows / batch_rows / "
    "rows_match / hash_match comparing the drained stream against the "
    "identical batch left join (NULL-marked content hash, so a missing "
    "NULL row or a spurious match flips hash_match). "
    "tests/test_stream_stream_join.py pins the semantics on top.",
    tags=("streaming", "join"),
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix="stream_join_outer_")
    vdir, pdir = os.path.join(base, "views"), os.path.join(base, "purchases")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    os.makedirs(vdir)
    os.makedirs(pdir)

    n, u, hb = STREAM_OUTER_ROWS, STREAM_OUTER_USERS, STREAM_OUTER_HEARTBEAT_USER

    def ts(minute: int) -> str:
        return f"2026-01-01 {minute // 60:02d}:{minute % 60:02d}:00"

    with open(os.path.join(vdir, "v_0.csv"), "w") as f:
        f.write("user_id,ts,event_id\n")
        f.writelines(f"{i % u},{ts(2 * i)},{100 + i}\n" for i in range(n))
    with open(os.path.join(pdir, "p_0.csv"), "w") as f:
        f.write("user_id,ts,event_id\n")
        # purchases for EVEN views only, 3 minutes after the view --
        # inside the horizon; odd views are provably unmatched
        f.writelines(f"{j % u},{ts(2 * j + 3)},{500 + j}\n" for j in range(0, n, 2))
    # Far-future heartbeats on BOTH streams: the query watermark is the
    # MIN across all watermarked inputs, so both sides must advance for
    # the final watermark to pass v_ts + horizon and release the NULL
    # rows. Heartbeats ride in the SAME micro-batch as the data (round
    # 13): a watermark is computed from a batch's max event time and
    # applied only from the NEXT batch on, so heartbeats sharing the data
    # batch cannot late-drop any real row — the drain is one data batch
    # plus the final no-data batch that emits the watermark-gated NULL
    # rows, instead of the round-12 shape's three (maxFilesPerTrigger=1
    # + forced mtimes serialized the heartbeats into their own batch,
    # one full trigger cycle of pure overhead; output proven identical
    # by the embedded rows/hash evidence and the pinned semantics tests).
    hb_minute = 2 * n + 240
    for d, uid in ((vdir, hb), (pdir, hb + 1)):
        p = os.path.join(d, "z_heartbeat.csv")
        with open(p, "w") as f:
            f.write("user_id,ts,event_id\n")
            f.write(f"{uid},{ts(hb_minute)},{900_000}\n")

    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT"

    def stream(d: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("header", "true")
            .csv(d)
            .withWatermark("ts", "30 minutes")
        )

    with _stream_partitions(spark):
        (
            _interval_join(stream(vdir), stream(pdir), "left_outer")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    real = F.col("user_id") < u  # heartbeat rows excluded on both engines
    sink = spark.read.parquet(out).filter(real)
    read = lambda d: spark.read.schema(schema).option("header", "true").csv(d)
    batch = _interval_join(read(vdir), read(pdir), "left_outer").filter(real)
    return _with_batch_evidence(sink, batch)
