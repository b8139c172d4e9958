"""What the benchmark runs and what each number means.

Query lists are fixed by name, so registering new queries cannot shift a
workload. Each list samples its source modules at a fixed stride in
registration order, because every query runs twice per run (check pass and
timed pass) and all runs of all workloads must fit the benchmark's time
budget on 4 cores.
"""

from __future__ import annotations

#: SQL analytics: every fourth query of operators/relational.py,
#: operators/relational2.py and operators/tpch.py, in registration order,
#: starting with each module's first.
OLAP = (
    # relational
    "q_agg_group", "q_agg_global", "q_join_range", "q_window_frame",
    "q_set_intersect_except",
    # relational2
    "q_join_full", "q_percentile", "q_window_firstlast", "q_set_bag_ops",
    "q_window_share", "q_window_cumedist",
    # tpch
    "q_tpch_q1_pricing", "q_tpch_q10_returns", "q_tpch_q16_supplier_variety",
    "q_tpch_q8_market_share", "q_tpch_q17_small_qty",
    "q_tpch_q20_promotion_suppliers",
)

#: Queries in ``ITERATIVE`` chosen by name rather than by module: the
#: 71-job chained SQL index and the two Arrow/UDF queries.
ITERATIVE_NAMED = ("q_sql_chained_index", "q_udf_vectorized", "q_udtf_chunks")

#: Eager-checkpoint and Python-boundary heavy: every third query of
#: operators/dedup.py, components.py, similarity.py, corpus.py and
#: grouped.py, in registration order, starting with each module's first,
#: then ``ITERATIVE_NAMED``.
ITERATIVE = (
    # dedup
    "q_dedup_exact", "q_dedup_minhash_stopshingle", "q_dedup_simhash",
    "q_dedup_fuzzy", "q_dedup_containment",
    # components
    "q_dedup_clusters", "q_graph_triangles_lsh",
    # similarity
    "q_sim_topk", "q_embed_quantize",
    # corpus
    "q_decontaminate",
    # grouped
    "q_grouped_trend",
) + ITERATIVE_NAMED

QUERY_WORKLOADS = {"olap": OLAP, "iterative": ITERATIVE}

#: The workloads BENCHMARK.json lists. ``olap`` runs on request only: the
#: benchmark's 4 + 22 runs per listed workload must fit a fixed time budget,
#: and at about 50 s a run it does not fit beside the other two.
LISTED = ("iterative", "ingest")

WHY = {
    "olap": "SQL analytics over the fixture star schema; works Catalyst and "
    "execution while eager checkpoints and Python stay almost idle",
    "iterative": "dedup, graph and similarity queries whose build runs eager "
    "localCheckpoint jobs, plus the Arrow/pandas UDF boundary",
    "ingest": "the reference pipeline: per-file CSV appends to a parquet sink "
    "with a long file history, then AvailableNow stream drains; narrow plans",
}

#: End-to-end metrics: unit, better direction, and the per-workload meaning
#: of the generic operation ("op") metrics.
END_TO_END = {
    "setup_s": ("s", "lower", "session start, table load, warm-up/check pass"),
    "wall_s": ("s", "lower", "timed section, start to end, per pass"),
    "op_p50_s": ("s", "lower", "median per-operation latency: query build "
                 "to noop write (olap, iterative), process_sales.run (ingest)"),
    "op_tail_s": ("s", "lower", "highest percentile of per-operation latency "
                  "with at least 10 samples beyond it"),
}

#: Per-layer metric -> (unit, better, [(end-to-end metric, workload), ...])
#: it should move. Layers are the package's modules.
PER_LAYER = {
    "session.start_s": ("s", "lower", [("setup_s", "all")]),
    "session.peak_rss_mb": ("MB", "lower", []),
    "io.load_s": ("s", "lower", [("setup_s", "olap"), ("setup_s", "iterative")]),
    "io.read_csv_s": ("s", "lower", [("op_p50_s", "ingest")]),
    "io.write_append_s": ("s", "lower", [("op_p50_s", "ingest"), ("wall_s", "ingest")]),
    "operators.build_s": ("s", "lower", [("wall_s", "iterative"), ("op_tail_s", "iterative")]),
    "operators.build_jobs": ("count", "lower", [("wall_s", "iterative"), ("op_tail_s", "iterative")]),
    "catalyst.analysis_s": ("s", "lower", [("op_p50_s", "olap"), ("op_p50_s", "iterative")]),
    "catalyst.optimization_s": ("s", "lower", [("op_p50_s", "olap"), ("op_p50_s", "iterative")]),
    "catalyst.planning_s": ("s", "lower", [("op_p50_s", "olap"), ("op_p50_s", "iterative")]),
    "execution.exec_s": ("s", "lower", [("op_p50_s", "olap"), ("op_p50_s", "iterative")]),
    "execution.jobs": ("count", "lower", [("op_p50_s", "olap"), ("wall_s", "iterative")]),
    "execution.stages": ("count", "lower", [("op_p50_s", "olap"), ("wall_s", "iterative")]),
    "execution.tasks": ("count", "lower", [("op_p50_s", "olap"), ("wall_s", "iterative")]),
    "execution.executor_run_s": ("s", "lower", [("op_tail_s", "olap"), ("op_tail_s", "iterative")]),
    "execution.executor_cpu_s": ("s", "lower", [("op_tail_s", "olap"), ("op_tail_s", "iterative")]),
    "execution.shuffle_read_mb": ("MB", "lower", [("op_tail_s", "olap"), ("op_tail_s", "iterative")]),
    "execution.shuffle_write_mb": ("MB", "lower", [("op_tail_s", "olap"), ("op_tail_s", "iterative")]),
    "execution.spill_mb": ("MB", "lower", [("op_tail_s", "olap"), ("op_tail_s", "iterative")]),
    "python.udf_exec_s": ("s", "lower", [("op_tail_s", "iterative")]),
    "python.worker_s": ("s", "lower", [("op_tail_s", "iterative")]),
    "cleaning.build_s": ("s", "lower", [("op_p50_s", "ingest")]),
    "process_sales.recount_s": ("s", "lower", [("op_p50_s", "ingest"), ("op_tail_s", "ingest")]),
    "process_sales.jobs_per_append": ("count", "lower", [("op_p50_s", "ingest")]),
    "streaming.batches": ("count", "lower", [("wall_s", "ingest")]),
    "streaming.trigger_s": ("s", "lower", [("wall_s", "ingest")]),
    "streaming.add_batch_s": ("s", "lower", [("wall_s", "ingest")]),
    "streaming.commit_s": ("s", "lower", [("wall_s", "ingest")]),
    "streaming.input_rows": ("count", "higher", []),
    # the traced run's timed section; minus the untraced run's wall_s it is
    # the tracing overhead
    "trace.wall_s": ("s", "lower", []),
}
