"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2) registers here as a
``(name, spark_fn, oracle_sql)`` triple. The driver contract
(``__spark_entry__.py``) and the local parity tests both iterate this
registry, so a query can never be declared without its oracle staying in
sync.

Oracle-exactness rules baked into how queries must be written
(SURVEY.md §2.2 / §7 "hard parts"):

- alias every computed column identically in Spark and SQL;
- double-typed aggregates go through an exact decimal accumulation then a
  final cast to DOUBLE, so Spark and DuckDB produce bit-identical floats
  regardless of partial-aggregation order;
- never emit ``current_timestamp()`` or other non-determinism;
- break top-k ties deterministically;
- oracles MUST run on DuckDB 1.0.0 (the adjudication environment's
  version, pinned as ``tests/parity.py ORACLE_DUCKDB_VERSION``): no
  lateral ``generate_series`` with column parameters (use the scalar-list
  ``SELECT UNNEST(generate_series(...))`` form), and remember 1.0.0's
  ``epoch(DATE)`` returns DOUBLE — use ``date_diff('day', ...)`` for
  integer day numbers. Known-bad constructs are grep-linted in
  tests/test_plan_lint.py::test_oracle_runs_on_contract_duckdb_dialect.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, *, doc: str = "", tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as declared query ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    import importlib

    for mod in (
        "sales_data_pipeline_gcp_spark.operators.relational",
        "sales_data_pipeline_gcp_spark.operators.scalars",
        "sales_data_pipeline_gcp_spark.operators.cleaning_queries",
        "sales_data_pipeline_gcp_spark.operators.dedup",
        "sales_data_pipeline_gcp_spark.operators.similarity",
        "sales_data_pipeline_gcp_spark.operators.text",
        "sales_data_pipeline_gcp_spark.operators.streaming_queries",
        "sales_data_pipeline_gcp_spark.operators.multimodal",
        "sales_data_pipeline_gcp_spark.operators.source_queries",
        "sales_data_pipeline_gcp_spark.operators.asof",
        "sales_data_pipeline_gcp_spark.operators.relational2",
        "sales_data_pipeline_gcp_spark.operators.skew",
        "sales_data_pipeline_gcp_spark.operators.grouped",
        "sales_data_pipeline_gcp_spark.operators.events_queries",
        "sales_data_pipeline_gcp_spark.operators.merge",
        "sales_data_pipeline_gcp_spark.operators.subqueries",
        "sales_data_pipeline_gcp_spark.operators.sampling",
        "sales_data_pipeline_gcp_spark.operators.corpus",
        "sales_data_pipeline_gcp_spark.operators.tpch",
        "sales_data_pipeline_gcp_spark.operators.components",
        "sales_data_pipeline_gcp_spark.operators.null_semantics",
        "sales_data_pipeline_gcp_spark.operators.sketches",
        "sales_data_pipeline_gcp_spark.operators.stats",
        "sales_data_pipeline_gcp_spark.operators.retrieval",
        "sales_data_pipeline_gcp_spark.operators.sql_surface",
        "sales_data_pipeline_gcp_spark.operators.layout",
        "sales_data_pipeline_gcp_spark.operators.timeseries",
        "sales_data_pipeline_gcp_spark.operators.analytics",
        "sales_data_pipeline_gcp_spark.operators.distribution",
        "sales_data_pipeline_gcp_spark.operators.mlprep",
        "sales_data_pipeline_gcp_spark.operators.spatial",
    ):
        importlib.import_module(mod)


#: The external correctness harness adjudicates only the FIRST 50 entries of
#: ``queries()`` (dict insertion order); this window pins them. Queries
#: beyond it keep regression cover from the local parity suite
#: (tests/test_parity.py).
DRIVER_WINDOW: tuple[str, ...] = (
    # rule: oldest last adjudication first; oracle rewrites and overdue rows-only queries ahead of younger rounds
    "q_dedup_embedding",
    "q_sim_ann_ivf",
    "q_embed_quantize",
    "q_text_repetition",
    "q_text_normalize",
    "q_text_redact",
    "q_text_chunk",
    "q_percentile",
    "q_argmin_join",
    "q_set_bag_ops",
    "q_window_cume",
    "q_agg_approx_bounds",
    "q_domain_mix",
    "q_decontaminate",
    "q_dedup_lines",
    "q_tpch_q1_pricing",
    "q_tpch_q7_volume",
    "q_tpch_q5_local_supplier",
    "q_tpch_q10_returns",
    "q_tpch_q18_big_orders",
    "q_tpch_q4_late_orders",
    "q_tpch_q14_promo",
    "q_tpch_q16_supplier_variety",
    "q_tpch_q19_disjunctive",
    "q_tpch_q21_waiting",
    "q_tpch_q22_idle_rich",
    "q_tpch_q8_market_share",
    "q_tpch_q11_important_parts",
    "q_tpch_q13_custdist",
    "q_tpch_q15_top_supplier",
    "q_tpch_q17_small_qty",
    "q_tpch_q6_forecast",
    "q_tpch_q9_product_profit",
    "q_relational_division",
    "q_inverted_index",
    "q_bm25",
    "q_seq_pack",
    "q_window_share",
    "q_stream_join_outer",
    "q_agg_rollup",
    "q_join_range",
    "q_window_rank",
    "q_sort_multi",
    "q_set_intersect_except",
    "q_window_topk_per_group",
    "q_date_scalars",
    "q_filter_nulls",
    "q_case_impute",
    "q_project_cast",
    "q_dedup_ngram_jaccard",
)


def all_queries() -> dict[str, Query]:
    """Registry in driver-adjudication order.

    Window invariants raise real exceptions (not ``assert``) so a typo'd
    or stale window name still fails under ``python -O``."""
    _load_all_modules()
    if len(DRIVER_WINDOW) > 50:
        raise ValueError(f"DRIVER_WINDOW has {len(DRIVER_WINDOW)} entries; driver adjudicates only 50")
    if len(set(DRIVER_WINDOW)) != len(DRIVER_WINDOW):
        dupes = sorted({n for n in DRIVER_WINDOW if DRIVER_WINDOW.count(n) > 1})
        raise ValueError(f"duplicate names in DRIVER_WINDOW: {dupes}")
    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: _REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in all_queries().values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries().values() if q.oracle is not None}
