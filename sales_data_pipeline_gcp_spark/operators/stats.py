"""Statistical aggregate surface: variance / stddev / Pearson correlation
via explicit exact-sum formulas, value histograms, and relational division.

Built-in ``stddev``/``corr`` use streaming (Welford-style) accumulation
whose float result depends on merge order — unreproducible cross-engine.
Computing the classic sum-of-squares formulas from decimal-exact sums makes
the statistics deterministic: every input to the final double arithmetic is
bit-identical in both engines, and the formula evaluation is fixed IEEE
ops. (The textbook cancellation caveat of sum-of-squares does not bite at
fixture magnitudes; docstring notes the shift trick for when it would.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.functions.exact import dec, exact_sum, sql_sum
from sales_data_pipeline_gcp_spark.io import fan_out, load
from sales_data_pipeline_gcp_spark.operators.core import materialize
from sales_data_pipeline_gcp_spark.plans.registry import register

N_BUCKETS = 10
PRICE_MIN, PRICE_MAX = 0.0, 600000.0


@register(
    "q_agg_stats",
    oracle=f"""
    WITH sums AS (
        -- integer-unit (cents) scale-0 accumulation, STRING-ROUTED final
        -- decimal->double conversion (functions/exact.py): the moment sums
        -- reach ~4.5e16 at sf1 — past 2^53, where a direct int128->double
        -- cast is only cross-engine-identical by luck (round-8 parity
        -- measured agreement; bollinger proved the same class CAN diverge
        -- by 1 ulp). The string route is exact at any magnitude; the /10^k
        -- rescales then happen in identical IEEE double arithmetic
        SELECT l_returnflag,
               COUNT(*) AS n,
               {sql_sum('l_quantity * 100', 0)} / 1e2 AS sx,
               {sql_sum('(l_quantity * 100) * (l_quantity * 100)', 0)} / 1e4 AS sxx,
               {sql_sum('l_extendedprice * 100', 0)} / 1e2 AS sy,
               {sql_sum('(l_extendedprice * 100) * (l_extendedprice * 100)', 0)} / 1e4 AS syy,
               {sql_sum('(l_quantity * 100) * (l_extendedprice * 100)', 0)} / 1e4 AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (sxx - sx * sx / n) / (n - 1)                       AS var_qty,
           SQRT((sxx - sx * sx / n) / (n - 1))                 AS stddev_qty,
           (sxy - sx * sy / n)
             / (SQRT(sxx - sx * sx / n) * SQRT(syy - sy * sy / n)) AS corr_qty_price
    FROM sums
    """,
    doc="Sample variance / stddev / Pearson correlation from decimal-exact "
    "sums (built-in stddev/corr use merge-order-dependent Welford "
    "accumulation — unreproducible cross-engine). At magnitudes where "
    "sum-of-squares would cancel catastrophically, shift by an approximate "
    "mean first; not needed at fixture scales.",
    tags=("agg", "stats"),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the 3 needed columns, then fan_out: the six decimal
    # partial sums are the dominant CPU and otherwise run on ONE input
    # split (io.fan_out; guide §2.2) — decimal sums are order-independent
    li = fan_out(
        load(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    qty_c = F.col("l_quantity") * 100    # integer-valued cents units
    price_c = F.col("l_extendedprice") * 100
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        (exact_sum(qty_c, 0) / 1e2).alias("sx"),
        (exact_sum(qty_c * qty_c, 0) / 1e4).alias("sxx"),
        (exact_sum(price_c, 0) / 1e2).alias("sy"),
        (exact_sum(price_c * price_c, 0) / 1e4).alias("syy"),
        (exact_sum(qty_c * price_c, 0) / 1e4).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_qty = (sxx - sx * sx / n) / (n - 1)
    return g.select(
        "l_returnflag",
        "n",
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("stddev_qty"),
        ((sxy - sx * sy / n) / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))).alias(
            "corr_qty_price"
        ),
    )


@register(
    "q_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / {(PRICE_MAX - PRICE_MIN) / N_BUCKETS}) AS BIGINT) + 1 AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
    doc=f"Value histogram: {N_BUCKETS} equal bins over the price domain via "
    "explicit floor arithmetic (width_bucket semantics, spelled out because "
    "DuckDB lacks the function) — a one-pass distribution profile.",
    tags=("agg", "stats"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    width = (PRICE_MAX - PRICE_MIN) / N_BUCKETS
    return (
        o.groupBy((F.floor(F.col("o_totalprice") / width) + 1).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


Z_THRESHOLD = 3.0


@register(
    "q_outlier_zscore",
    oracle=f"""
    WITH sums AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(value * 100 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1e2 AS sx,
               CAST(CAST(SUM(CAST((value * 100) * (value * 100) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1e4 AS sxx
        FROM events GROUP BY event_type
    ), stats AS (
        SELECT event_type, sx / n AS mean_value,
               SQRT((sxx - sx * sx / n) / (n - 1)) AS std_value
        FROM sums
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.mean_value) / s.std_value AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS((e.value - s.mean_value) / s.std_value) > {Z_THRESHOLD}
    """,
    doc=f"Per-group z-score outlier detection (|z| > {Z_THRESHOLD} of "
    "events.value within event_type): group stats from decimal-exact "
    "integer-unit sums (same scale-0 rule as q_agg_stats -> bit-identical "
    "mean/std cross-engine), joined back to the stream — the "
    "aggregate-then-broadcast-join shape: the group-stats side is "
    "group-cardinality-sized (tiny), so the event stream is scanned twice "
    "but shuffled never.",
    tags=("agg", "stats"),
)
def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v_c = F.col("value") * 100
    sums = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (exact_sum(v_c, 0) / 1e2).alias("sx"),
        (exact_sum(v_c * v_c, 0) / 1e4).alias("sxx"),
    )
    n, sx, sxx = (F.col(c) for c in ("n", "sx", "sxx"))
    stats = sums.select(
        "event_type",
        (sx / n).alias("mean_value"),
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("std_value"),
    )
    z = (F.col("value") - F.col("mean_value")) / F.col("std_value")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > Z_THRESHOLD)
    )


@register(
    "q_relational_division",
    oracle="""
    WITH pr AS (SELECT DISTINCT o_orderpriority FROM orders),
         cust_pr AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
    SELECT o_custkey AS c_custkey, COUNT(*) AS n_priorities
    FROM cust_pr
    GROUP BY o_custkey
    HAVING COUNT(*) = (SELECT COUNT(*) FROM pr)
    """,
    doc="Relational division ('customers who ordered under EVERY "
    "priority'): distinct-pair counting vs the divisor cardinality — the "
    "set-containment join pattern without any join at all.",
    tags=("agg", "division"),
)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # the divisor cardinality stays IN the query as a broadcast scalar
    # aggregate (one row) — a driver-side .count() here would run a second
    # full scan of orders before the real job even starts
    divisor = o.select("o_orderpriority").distinct().agg(F.count("*").alias("__n_pr"))
    return (
        o.select("o_custkey", "o_orderpriority")
        .distinct()
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n_priorities"))
        .join(F.broadcast(divisor), F.col("n_priorities") == F.col("__n_pr"))
        .select("c_custkey", "n_priorities")
    )


_DQ_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "q_dq_profile",
    oracle=f"""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               {', '.join(
                   f"COUNT(*) - COUNT({c}) AS nulls_{c}, "
                   f"COUNT(DISTINCT {c}) AS nd_{c}, "
                   f"MIN({c}) AS mn_{c}, MAX({c}) AS mx_{c}"
                   for c in _DQ_COLS)}
        FROM lineitem
    )
    {' UNION ALL '.join(
        f"SELECT '{c}' AS column_name, n_rows, nulls_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct, mn_{c} AS min_val, mx_{c} AS max_val FROM agg"
        for c in _DQ_COLS)}
    ORDER BY column_name
    """,
    doc="Data-quality profile — the expectations/constraint-check report "
    "(Deequ/dbt-test shape): per monitored column, null count, distinct "
    "count, and min/max, all from ONE scan (a single aggregate row, "
    "unpivoted to one report row per column). At 100 TB profiling cost "
    "equals one pass regardless of how many columns are monitored; "
    "COUNT(DISTINCT c) for several columns expands to Spark's standard "
    "multi-distinct Expand, which is the exact trade a production "
    "profiler would swap for HLL sketches (q_agg_approx) past "
    "cardinality limits.",
    tags=("stats",),
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in _DQ_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nulls_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _DQ_COLS
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(_DQ_COLS)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_val, max_val)",
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val"
    ).orderBy("column_name")


@register(
    "q_ols_regression",
    oracle=f"""
    WITH sums AS (
        -- string-routed final conversion (functions/exact.py): the moment
        -- sums share q_agg_stats' past-2^53 scale-0 class at sf1
        SELECT p.p_brand,
               COUNT(*) AS n,
               {sql_sum('l.l_quantity * 100', 0)} / 1e2 AS sx,
               {sql_sum('(l.l_quantity * 100) * (l.l_quantity * 100)', 0)} / 1e4 AS sxx,
               {sql_sum('l.l_extendedprice * 100', 0)} / 1e2 AS sy,
               {sql_sum('(l.l_extendedprice * 100) * (l.l_extendedprice * 100)', 0)} / 1e4 AS syy,
               {sql_sum('(l.l_quantity * 100) * (l.l_extendedprice * 100)', 0)} / 1e4 AS sxy
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    )
    SELECT p_brand, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx)                       AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n     AS intercept,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy))                 AS r2
    FROM sums
    """,
    doc="Per-group ordinary-least-squares fit (extendedprice ~ quantity "
    "within part brand): closed-form slope/intercept/R^2 from the five "
    "decimal-exact moment sums — the distributed regression shape. One "
    "fact-dim join, then a |brands|-group aggregate with map-side partial "
    "sums; the moments are the ONLY state, so at 100 TB this is a single "
    "shuffle of 25 rows x 6 doubles per map task regardless of data "
    "volume (the classic 'sufficient statistics beat row transfer' "
    "pattern; built-in regr_slope-style streaming accumulation would be "
    "merge-order-dependent, same motivation as q_agg_stats).",
    tags=("agg", "stats"),
)
def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out the probe side (round 13, guide §2.2): the fixture scan is
    # 3 input splits, and each probe row pays FIVE decimal(38) products +
    # six decimal sums — the same CPU-bound partial-aggregation shape as
    # q_agg_stats (driver-confirmed 1.71x there) serializing on 3 of 32
    # cores. The dimension join stays broadcast; a no-op at cluster scale
    # (io.fan_out gates on inputFiles() < defaultParallelism).
    li = fan_out(
        load(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_quantity", "l_extendedprice"
        )
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qty_c = F.col("l_quantity") * 100
    price_c = F.col("l_extendedprice") * 100
    g = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            (exact_sum(qty_c, 0) / 1e2).alias("sx"),
            (exact_sum(qty_c * qty_c, 0) / 1e4).alias("sxx"),
            (exact_sum(price_c, 0) / 1e2).alias("sy"),
            (exact_sum(price_c * price_c, 0) / 1e4).alias("syy"),
            (exact_sum(qty_c * price_c, 0) / 1e4).alias("sxy"),
        )
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return g.select(
        "p_brand",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        (
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    )


MAD_SCALE = 1.4826  # consistency constant: MAD * 1.4826 estimates sigma
MAD_THRESHOLD = 3.5


@register(
    "q_outlier_mad",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med_value
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med_value,
               ABS(e.value - m.med_value) AS absdev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
        SELECT event_type, quantile_cont(absdev, 0.5) AS mad_value
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value,
           (d.value - d.med_value) / (CAST({MAD_SCALE} AS DOUBLE) * m.mad_value)
             AS robust_z
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE ABS((d.value - d.med_value) / (CAST({MAD_SCALE} AS DOUBLE) * m.mad_value))
            > {MAD_THRESHOLD}
    """,
    doc=f"Median-absolute-deviation robust outliers (|modified z| > "
    f"{MAD_THRESHOLD} within event_type): the resistant twin of "
    "q_outlier_zscore — mean/stddev move with the outliers they hunt, "
    "median/MAD do not, so contaminated groups still flag correctly. "
    "Two exact-percentile aggregates (Spark percentile == DuckDB "
    "quantile_cont bit-for-bit, the q_percentile precedent) with the "
    "group stats broadcast-joined back — the event stream shuffles "
    "never, scans twice. At 100 TB heavy groups swap exact percentile "
    "for approx_percentile with a documented tolerance; exact is right "
    "here because per-group state is the value list and groups are few.",
    tags=("agg", "stats"),
)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med_value")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med_value",
        F.abs(F.col("value") - F.col("med_value")).alias("absdev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad_value")
    )
    rz = (F.col("value") - F.col("med_value")) / (
        F.lit(MAD_SCALE) * F.col("mad_value")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select("event_id", "event_type", "value", rz.alias("robust_z"))
        .filter(F.abs(F.col("robust_z")) > MAD_THRESHOLD)
    )


@register(
    "q_chisq_independence",
    oracle="""
    WITH joined AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    ), obs AS (
        SELECT seg, pri, COUNT(*) AS o FROM joined GROUP BY seg, pri
    ), rows_t AS (SELECT seg, COUNT(*) AS rt FROM joined GROUP BY seg),
    cols_t AS (SELECT pri, COUNT(*) AS ct FROM joined GROUP BY pri),
    tot AS (SELECT COUNT(*) AS n FROM joined),
    grid AS (
        SELECT r.seg, c.pri, r.rt, c.ct, t.n,
               COALESCE(ob.o, 0) AS o,
               CAST(r.rt * c.ct AS DOUBLE) / t.n AS expected
        FROM rows_t r CROSS JOIN cols_t c CROSS JOIN tot t
        LEFT JOIN obs ob ON ob.seg = r.seg AND ob.pri = c.pri
    ), cells AS (
        SELECT seg, pri, o, expected,
               (CAST(o AS DOUBLE) - expected) * (CAST(o AS DOUBLE) - expected)
                 / expected AS contrib
        FROM grid
    )
    SELECT seg, pri, o AS observed, expected, contrib,
           -- string-routed final conversion (functions/exact.py): the
           -- scale-12 contrib sum scales to ~1e16 at sf1 — past 2^53,
           -- where the direct cast agreed only by luck
           CAST(CAST(SUM(CAST(contrib AS DECIMAL(38,12))) OVER () AS VARCHAR) AS DOUBLE) AS chi2
    FROM cells
    """,
    doc="Chi-square test of independence (market segment x order "
    "priority): observed contingency counts vs the marginal-product "
    "expectation, per-cell contributions, and the statistic as an "
    "order-independent decimal-quantized sum broadcast to every row via "
    "an empty-frame window. The FULL R x C grid is materialized from the "
    "marginals (cross join of two tiny aggregates) so structurally-zero "
    "cells still contribute their expectation — dropping them "
    "understates the statistic. At 100 TB everything after the one "
    "fact-side count shuffle operates on |R|+|C| rows; the statistical "
    "machinery is free once the contingency counts exist.",
    tags=("agg", "stats"),
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    joined = c.join(o, c["c_custkey"] == o["o_custkey"]).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
    )
    joined = materialize(joined, label="chisq_joined")  # 4 aggregates share the join
    obs = joined.groupBy("seg", "pri").agg(F.count("*").alias("o"))
    rows_t = joined.groupBy("seg").agg(F.count("*").alias("rt"))
    cols_t = joined.groupBy("pri").agg(F.count("*").alias("ct"))
    tot = joined.agg(F.count("*").alias("n"))
    grid = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["seg", "pri"], "left")
        .select(
            "seg",
            "pri",
            F.coalesce("o", F.lit(0)).alias("o"),
            ((F.col("rt") * F.col("ct")).cast("double") / F.col("n")).alias("expected"),
        )
    )
    od = F.col("o").cast("double")
    cells = grid.select(
        "seg",
        "pri",
        "o",
        "expected",
        ((od - F.col("expected")) * (od - F.col("expected")) / F.col("expected")).alias(
            "contrib"
        ),
    )
    return cells.select(
        "seg",
        "pri",
        F.col("o").alias("observed"),
        "expected",
        "contrib",
        F.sum(F.col("contrib").cast("decimal(38,12)"))
        .over(W.partitionBy())
        .cast("string")
        .cast("double")
        .alias("chi2"),
    )


@register(
    "q_weighted_median",
    oracle="""
    WITH weighted AS (
        SELECT l_returnflag,
               l_extendedprice AS price,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ), cum AS (
        SELECT l_returnflag, price, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cumw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS total_w
        FROM weighted
    )
    SELECT l_returnflag,
           CAST(MIN(total_w) AS BIGINT) AS total_weight,
           MIN(price) AS wmedian_price
    FROM cum
    WHERE 2 * cumw >= total_w
    GROUP BY l_returnflag
    """,
    doc="Weighted (lower) median price per return flag, weighted by "
    "quantity: sort by price within the group, accumulate integer "
    "weights, and take the smallest price whose cumulative weight "
    "reaches half the total. Weights are exact BIGINTs (quantities are "
    "integral), so the cumulative sums are bit-exact however each "
    "engine schedules the frame, and the crossing PRICE is invariant "
    "under tie permutations: if the threshold lands inside a run of "
    "equal prices, every permutation of that run crosses at the same "
    "price value, so no explicit tie-break column is needed. The "
    "quantile-with-frequency shape percentile_approx can only "
    "approximate and percentile() can't weight. At 100 TB: one "
    "group-keyed window sort — same cost class as any per-group "
    "quantile; groups parallelize and AQE splits skewed ones.",
    tags=("agg", "stats", "window"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    weighted = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    wcum = (
        W.partitionBy("l_returnflag").orderBy("price").rowsBetween(W.unboundedPreceding, 0)
    )
    wtot = W.partitionBy("l_returnflag")
    cum = weighted.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(wtot).alias("total_w"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("total_w").alias("total_weight"),
            F.min("price").alias("wmedian_price"),
        )
    )


#: Cumulative-revenue-share cutoffs for the A/B/C classes.
ABC_A_SHARE = 0.80
ABC_B_SHARE = 0.95


@register(
    "q_pareto_abc",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
                 AS rev_dec
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT l_partkey, rev_dec,
               ROW_NUMBER() OVER (ORDER BY rev_dec DESC, l_partkey) AS rnk,
               SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum_dec,
               SUM(rev_dec) OVER () AS total_dec
        FROM rev
    )
    SELECT l_partkey, rnk,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS cum_share,
           CASE
             WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)
                    <= {ABC_A_SHARE} THEN 'A'
             WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)
                    <= {ABC_B_SHARE} THEN 'B'
             ELSE 'C'
           END AS abc_class
    FROM ranked
    """,
    doc="Pareto / ABC inventory classification: per-part discounted "
    "revenue, ranked descending with the part key as total-order "
    "tie-break, cumulative revenue share, and the classic A (first "
    f"{ABC_A_SHARE:.0%} of revenue) / B (to {ABC_B_SHARE:.0%}) / C split. "
    "The cumulative sum runs over DECIMAL(38,4) so it is exact and "
    "associative — DuckDB's segment-tree window accumulation and "
    "Spark's running frame cannot disagree — and the share is a single "
    "double division per row. The class boundaries compare that "
    "identical double against literals, so the labels match bit-for-bit. "
    "At 100 TB: the fact stream collapses in the map-side-combined "
    "per-part agg first; the global ranking window then runs over the "
    "PART DIMENSION (orders of magnitude smaller than the fact table). "
    "A dimension-sized global sort is one range-partitioned exchange; "
    "the single-task cumulative frame is the inherent sequential tail "
    "of any exact Pareto curve and is documented as dimension-bounded.",
    tags=("agg", "stats", "window"),
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = li.groupBy("l_partkey").agg(F.sum(dec(disc_price, 4)).alias("rev_dec"))
    order = [F.col("rev_dec").desc(), F.col("l_partkey").asc()]
    wrank = W.orderBy(*order)
    wcum = W.orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    wtot = W.partitionBy()
    ranked = rev.select(
        "l_partkey",
        "rev_dec",
        F.row_number().over(wrank).alias("rnk"),
        F.sum("rev_dec").over(wcum).alias("cum_dec"),
        F.sum("rev_dec").over(wtot).alias("total_dec"),
    )
    share = F.col("cum_dec").cast("double") / F.col("total_dec").cast("double")
    return ranked.select(
        "l_partkey",
        "rnk",
        F.col("rev_dec").cast("double").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= ABC_A_SHARE, "A")
        .when(share <= ABC_B_SHARE, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "q_ab_ttest",
    oracle="""
    WITH assigned AS (
        SELECT event_type,
               user_id % 2 AS arm,
               CAST(value * 100 AS DECIMAL(38,0)) AS v_c,
               CAST((value * 100) * (value * 100) AS DECIMAL(38,0)) AS v_c2
        FROM events
    ), moments AS (
        SELECT event_type,
               SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
               CAST(SUM(CASE WHEN arm = 0 THEN v_c END) AS DOUBLE) / 1e2 AS sx_a,
               CAST(SUM(CASE WHEN arm = 1 THEN v_c END) AS DOUBLE) / 1e2 AS sx_b,
               CAST(SUM(CASE WHEN arm = 0 THEN v_c2 END) AS DOUBLE) / 1e4 AS sxx_a,
               CAST(SUM(CASE WHEN arm = 1 THEN v_c2 END) AS DOUBLE) / 1e4 AS sxx_b
        FROM assigned
        GROUP BY event_type
    ), stats AS (
        SELECT event_type, n_a, n_b,
               sx_a / n_a AS mean_a,
               sx_b / n_b AS mean_b,
               (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) AS var_a,
               (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) AS var_b
        FROM moments
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a, mean_b,
           (mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b) AS t_stat,
           (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS welch_dof
    FROM stats
    """,
    doc="Welch two-sample t-test per event type — the A/B-experiment "
    "readout: deterministic treatment assignment (user_id parity, the "
    "hash-bucket split every experimentation platform uses), per-arm "
    "mean and sample variance from decimal-exact integer-cent moments "
    "accumulated in ONE conditional-aggregation pass (no join, no "
    "second scan), then the Welch t statistic and Satterthwaite "
    "degrees of freedom. SQRT is IEEE-correctly-rounded, so identical "
    "inputs give identical statistics cross-engine; the p-value lookup "
    "(an incomplete-beta CDF) is deliberately left to the caller — "
    "transcendental CDFs differ by ulps across math libraries. At "
    "100 TB: a single map-side-combined agg keyed by event_type; "
    "nothing else moves.",
    tags=("stats", "agg"),
)
def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v_c = dec(F.col("value") * 100, 0)
    v_c2 = dec((F.col("value") * 100) * (F.col("value") * 100), 0)
    arm = F.col("user_id") % 2
    assigned = ev.select(
        "event_type", arm.alias("arm"), v_c.alias("v_c"), v_c2.alias("v_c2")
    )
    a0 = F.col("arm") == 0
    a1 = F.col("arm") == 1
    moments = assigned.groupBy("event_type").agg(
        F.sum(F.when(a0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(a1, 1).otherwise(0)).alias("n_b"),
        (F.sum(F.when(a0, F.col("v_c"))).cast("double") / 1e2).alias("sx_a"),
        (F.sum(F.when(a1, F.col("v_c"))).cast("double") / 1e2).alias("sx_b"),
        (F.sum(F.when(a0, F.col("v_c2"))).cast("double") / 1e4).alias("sxx_a"),
        (F.sum(F.when(a1, F.col("v_c2"))).cast("double") / 1e4).alias("sxx_b"),
    )
    mean_a = F.col("sx_a") / F.col("n_a")
    mean_b = F.col("sx_b") / F.col("n_b")
    var_a = (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    stats = moments.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
    )
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    return stats.select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b)).alias("t_stat"),
        (
            (se_a + se_b) * (se_a + se_b)
            / (se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1))
        ).alias("welch_dof"),
    )


#: Winsorization cut ranks: clamp below the p5 and above the p95 DISCRETE
#: percentiles (actual data values, so clamped values stay exact cents).
WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


@register(
    "q_winsorized_mean",
    oracle=f"""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice AS price,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ), cuts AS (
        SELECT l_returnflag,
               MIN(CASE WHEN rn = ({WINSOR_LO_PCT} * n + 99) // 100
                        THEN price END) AS lo,
               MIN(CASE WHEN rn = ({WINSOR_HI_PCT} * n + 99) // 100
                        THEN price END) AS hi
        FROM ranked GROUP BY l_returnflag
    )
    SELECT r.l_returnflag, MIN(c.lo) AS lo_cut, MIN(c.hi) AS hi_cut,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(LEAST(GREATEST(r.price, c.lo), c.hi) * 100
                              AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
             / (1e2 * COUNT(*)) AS winsorized_mean
    FROM ranked r JOIN cuts c ON r.l_returnflag = c.l_returnflag
    GROUP BY r.l_returnflag
    """,
    doc="Winsorized mean price per return flag — the robust-mean "
    "companion to q_outlier_mad: values are clamped to the p5/p95 "
    "DISCRETE percentiles before averaging. Discrete (value-from-the-"
    "set) cuts are chosen deliberately: the cut ranks are pure integer "
    "arithmetic ((p*n+99)//100, no float percentile math) and the "
    "clamped values stay exact 2-decimal cents, so the final mean "
    "accumulates as scale-0 decimals — every engine-visible number is "
    "exact until the single closing division. Value-at-rank is "
    "invariant under tie permutations, so the unordered tie-break of "
    "the row_number is harmless. At 100 TB: one group-keyed window "
    "sort (same cost class as any per-group exact quantile — the "
    "approx_percentile sketch is the documented heavy-group fallback), "
    "then the group-sized cut table broadcasts back onto the stream.",
    tags=("stats", "agg", "window"),
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    wrn = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.row_number().over(wrn).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    lo_rank = F.expr(f"({WINSOR_LO_PCT} * n + 99) div 100")
    hi_rank = F.expr(f"({WINSOR_HI_PCT} * n + 99) div 100")
    cuts = ranked.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("rn") == lo_rank, F.col("price"))).alias("lo"),
        F.min(F.when(F.col("rn") == hi_rank, F.col("price"))).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("price"), F.col("lo")), F.col("hi"))
    return (
        ranked.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min("lo").alias("lo_cut"),
            F.min("hi").alias("hi_cut"),
            F.count("*").alias("n"),
            (
                F.sum(dec(clamped * 100, 0)).cast("string").cast("double")
                / (F.lit(1e2) * F.count("*"))
            ).alias("winsorized_mean"),
        )
    )


#: Association-rule gate: a part pair must co-occur in at least this many
#: orders to be reported.
BASKET_MIN_SUPPORT = 3


@register(
    "q_basket_lift",
    oracle=f"""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
    ), item_support AS (
        SELECT l_partkey, COUNT(*) AS n_item FROM baskets GROUP BY l_partkey
    ), pair_support AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT p.part_a, p.part_b, p.n_both,
           sa.n_item AS n_a, sb.n_item AS n_b,
           CAST(p.n_both AS DOUBLE) / sa.n_item AS confidence_a_to_b,
           CAST(p.n_both AS DOUBLE) * o.n / (sa.n_item * sb.n_item) AS lift
    FROM pair_support p
    JOIN item_support sa ON p.part_a = sa.l_partkey
    JOIN item_support sb ON p.part_b = sb.l_partkey
    CROSS JOIN n_orders o
    """,
    doc="Market-basket association rules (support / confidence / lift) "
    "over order baskets — the co-occurrence mining shape behind "
    "recommenders and template detection: distinct (order, part) "
    "baskets, pair candidates from an order-keyed self-join (pairs per "
    "order are k(k-1)/2 for basket size k — bounded and small, never a "
    "corpus cross product), integer supports, and lift = "
    "P(a,b)/(P(a)P(b)) as a single double expression over exact "
    "counts. The min-support HAVING prunes the pair stream before any "
    "dimension join; item supports are part-dimension-sized and "
    "broadcast. At 100 TB: the self-join shuffles baskets once on the "
    "order key (uniform); a pathological mega-basket would square — "
    "cap basket size upstream (same hub-cap lever as q_graph_khop).",
    tags=("stats", "join"),
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.agg(F.count_distinct("l_orderkey").alias("n"))
    item = baskets.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= BASKET_MIN_SUPPORT)
    )
    sa = item.alias("sa")
    sb = item.alias("sb")
    return (
        pairs.join(F.broadcast(sa), F.col("part_a") == F.col("sa.l_partkey"))
        .join(F.broadcast(sb), F.col("part_b") == F.col("sb.l_partkey"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.col("sa.n_item").alias("n_a"),
            F.col("sb.n_item").alias("n_b"),
            (F.col("n_both").cast("double") / F.col("sa.n_item")).alias(
                "confidence_a_to_b"
            ),
            (
                F.col("n_both").cast("double") * F.col("n")
                / (F.col("sa.n_item") * F.col("sb.n_item"))
            ).alias("lift"),
        )
    )


#: Benford expected first-digit shares log10(1 + 1/d) as FIXED literals —
#: hardcoded (not computed) so no engine ever evaluates a transcendental.
#: Spark receives them as Python floats (exact doubles); the ORACLE routes
#: each token through CAST('<token>' AS DOUBLE) because DuckDB types a bare
#: 17-fractional-digit literal DECIMAL(18,17) and its decimal->double
#: conversion pre-rounds the int64 unscaled value past 2^53 (the
#: string->double path is correctly rounded at any length) — five of these
#: nine tokens have 17 digits and previously converted exactly only
#: because their unscaled values happened to be EVEN (representable at
#: ulp 2). Boundary pinned in tests/test_differential_fuzz.py::
#: test_decimal_literal_quantile_domain_boundary; bare long literals are
#: now lint-banned in oracle text (test_plan_lint.py).
BENFORD_EXPECTED = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST('{v!r}' AS DOUBLE)" for d, v in BENFORD_EXPECTED.items()
) + " END"


@register(
    "q_benford_digits",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(CAST(o_totalprice * 100
                     AS DECIMAL(38,0)) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                 AS digit
        FROM orders
    ), counts AS (
        SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    )
    SELECT digit, n,
           CAST(n AS DOUBLE) / SUM(n) OVER () AS share,
           {_BENFORD_CASE_SQL} AS expected_share,
           CAST(n AS DOUBLE) / SUM(n) OVER () - ({_BENFORD_CASE_SQL})
             AS deviation
    FROM counts
    """,
    doc="Benford first-digit audit over order totals — the classic "
    "fabricated-data / pipeline-corruption screen: first significant "
    "digit extracted through exact integer-cents string arithmetic "
    "(never log10, whose libm rounding varies), observed shares as "
    "count ratios, and the Benford expectation log10(1+1/d) hardcoded "
    "as nine literal doubles so both engines parse the identical token "
    "— no transcendental is ever EVALUATED in either engine. The "
    "SUM() OVER () total runs over nine rows. One map-side-combined "
    "digit agg; at 100 TB nothing but the scan grows. The oracle "
    "string-routes each literal (see BENFORD_EXPECTED) so DuckDB's "
    "decimal-literal typing can never pre-round a token past 2^53.",
    tags=("stats", "agg"),
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    digit = F.substring(
        dec(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    expected = F.lit(None).cast("double")
    for d, v in BENFORD_EXPECTED.items():
        expected = F.when(F.col("digit") == d, F.lit(v)).otherwise(expected)
    share = F.col("n").cast("double") / F.sum("n").over(W.partitionBy())
    return counts.select(
        "digit",
        "n",
        share.alias("share"),
        expected.alias("expected_share"),
        (share - expected).alias("deviation"),
    )


@register(
    "q_dq_linenumbers",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               COUNT(*) AS n_lines,
               MIN(l_linenumber) AS min_ln,
               MAX(l_linenumber) AS max_ln,
               COUNT(DISTINCT l_linenumber) AS n_distinct
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN min_ln = 1 AND max_ln = n_lines
                          AND n_distinct = n_lines THEN 1 ELSE 0 END)
                AS BIGINT) AS n_conforming
    FROM per_order
    GROUP BY n_lines
    """,
    doc="Positional-integrity profile: per basket size, how many orders "
    "carry a CONFORMING line-number sequence (1..n, dense, duplicate-"
    "free) — the referential/ordinal data-quality check a warehouse "
    "runs after every backfill (complements q_dq_profile's column-"
    "level nulls/ranges with row-set-level structure). Two exact "
    "integer aggregations: order-keyed stats, then a tiny basket-size "
    "rollup; a clean fixture reports 100% conformance, a corrupted "
    "ingest shows up as n_conforming < n_orders in the affected "
    "sizes. At 100 TB: one map-side-combined order-keyed agg (the "
    "distinct is per-order-local), then a 7-row rollup.",
    tags=("stats", "agg"),
)
def q_dq_linenumbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.min("l_linenumber").alias("min_ln"),
        F.max("l_linenumber").alias("max_ln"),
        F.count_distinct("l_linenumber").alias("n_distinct"),
    )
    conforming = (
        (F.col("min_ln") == 1)
        & (F.col("max_ln") == F.col("n_lines"))
        & (F.col("n_distinct") == F.col("n_lines"))
    )
    return per_order.groupBy("n_lines").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(conforming, 1).otherwise(0)).alias("n_conforming"),
    )


@register(
    "q_mannwhitney",
    oracle="""
    WITH obs AS (
        SELECT user_id % 2 AS arm, value
        FROM events WHERE event_type = 'purchase'
    ), by_value AS (
        SELECT value, COUNT(*) AS cnt,
               SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS cnt1
        FROM obs GROUP BY value
    ), ranked AS (
        SELECT value, cnt, cnt1,
               COALESCE(SUM(cnt) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM by_value
    ), folded AS (
        SELECT SUM(cnt1 * (2 * below + cnt + 1)) AS r1_x2,
               SUM(cnt1) AS n1, SUM(cnt) AS n,
               SUM(cnt * cnt * cnt - cnt) AS tie_term
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n - n1 AS BIGINT) AS n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1,
           CAST(n1 AS DOUBLE) * (n - n1) / 2 AS mu_u,
           SQRT(CAST(n1 AS DOUBLE) * (n - n1) / 12
                * ((CAST(n AS DOUBLE) + 1)
                   - CAST(tie_term AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))) AS sigma_u,
           (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * (n - n1) / 2)
             / SQRT(CAST(n1 AS DOUBLE) * (n - n1) / 12
                * ((CAST(n AS DOUBLE) + 1)
                   - CAST(tie_term AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))) AS z
    FROM folded
    """,
    doc="Mann-Whitney U rank-sum test — the nonparametric twin of "
    "q_ab_ttest, comparing purchase values between the two hash-assigned "
    "arms without assuming normality. Mid-ranks are computed without any "
    "fractional arithmetic: observations collapse to one row per distinct "
    "value (cnt, cnt-in-arm-1), a running count of strictly-smaller "
    "observations gives the min-rank, and the DOUBLED tied-average rank "
    "2*below + cnt + 1 stays integral, so the doubled rank-sum and the "
    "tie-correction term are exact integer aggregates; the normal "
    "approximation (mu, tie-corrected sigma, z) is the only float code "
    "and is token-identical IEEE in both engines. At 100 TB: the "
    "group-by-value collapse is map-side combined and the ordered window "
    "runs over |distinct values| rows, not observations — the classic "
    "rank-statistics-without-global-sort shape.",
    tags=("stats", "window"),
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("arm"), "value"
    )
    by_value = obs.groupBy("value").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("cnt1"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    ranked = by_value.select(
        "value",
        "cnt",
        "cnt1",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("below"),
    )
    folded = ranked.agg(
        F.sum(F.col("cnt1") * (2 * F.col("below") + F.col("cnt") + 1)).alias("r1_x2"),
        F.sum("cnt1").alias("n1"),
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias("tie_term"),
    )
    n1d = F.col("n1").cast("double")
    nd = F.col("n").cast("double")
    n2 = F.col("n") - F.col("n1")
    u1 = (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
    mu = n1d * n2 / 2
    sigma = F.sqrt(
        n1d * n2 / 12
        * ((nd + 1) - F.col("tie_term").cast("double") / (nd * (nd - 1)))
    )
    return folded.select(
        F.col("n1").cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        u1.alias("u1"),
        mu.alias("mu_u"),
        sigma.alias("sigma_u"),
        ((u1 - mu) / sigma).alias("z"),
    )


# --- referential-integrity audit -------------------------------------------


def _ri_audit(child: DataFrame, fk: str, parent: DataFrame, pk: str, name: str) -> DataFrame:
    """One relationship's integrity row: orphaned child rows (FK value with
    no parent) and childless parent keys, from ONE full outer join of the
    child's per-key counts against the parent key set. The child aggregates
    to distinct FK values first, so the join moves |keys| rows, not |child|;
    parent key sets are dim-sized here and broadcast."""
    ca = child.groupBy(F.col(fk).alias("k")).agg(F.count("*").alias("cnt"))
    pa = parent.select(F.col(pk).alias("k"), F.lit(1).alias("has_parent"))
    j = ca.join(pa, "k", "full")
    agg = j.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_child"),
        F.coalesce(F.sum(F.when(F.col("has_parent").isNull(), F.col("cnt"))), F.lit(0)).alias(
            "n_orphan_rows"
        ),
        F.count(F.when(F.col("has_parent").isNull() & F.col("cnt").isNotNull(), 1)).alias(
            "n_orphan_keys"
        ),
        F.coalesce(F.sum("has_parent"), F.lit(0)).cast("bigint").alias("n_parents"),
        F.count(F.when(F.col("cnt").isNull(), 1)).alias("n_childless_parents"),
    )
    return agg.select(
        F.lit(name).alias("relation"),
        "n_child",
        "n_orphan_rows",
        "n_orphan_keys",
        "n_parents",
        "n_childless_parents",
    )


@register(
    "q_dq_referential",
    oracle="""
    WITH rel AS (
        SELECT 'lineitem->orders' AS relation, l_orderkey AS k FROM lineitem
        UNION ALL
        SELECT 'orders->customer' AS relation, o_custkey AS k FROM orders
    ), par AS (
        SELECT 'lineitem->orders' AS relation, o_orderkey AS k FROM orders
        UNION ALL
        SELECT 'orders->customer' AS relation, c_custkey AS k FROM customer
    ), ca AS (
        SELECT relation, k, COUNT(*) AS cnt FROM rel GROUP BY relation, k
    ), pa AS (
        SELECT relation, k, 1 AS has_parent FROM par
    ), j AS (
        SELECT COALESCE(ca.relation, pa.relation) AS relation,
               ca.cnt AS cnt, pa.has_parent AS has_parent
        FROM ca FULL OUTER JOIN pa
          ON ca.relation = pa.relation AND ca.k = pa.k
    )
    SELECT relation,
           CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_child,
           CAST(COALESCE(SUM(CASE WHEN has_parent IS NULL THEN cnt END), 0) AS BIGINT)
               AS n_orphan_rows,
           CAST(COUNT(CASE WHEN has_parent IS NULL AND cnt IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_orphan_keys,
           CAST(COALESCE(SUM(has_parent), 0) AS BIGINT) AS n_parents,
           CAST(COUNT(CASE WHEN cnt IS NULL THEN 1 END) AS BIGINT) AS n_childless_parents
    FROM j
    GROUP BY relation
    ORDER BY relation
    """,
    doc="Referential-integrity audit — the data-quality check every "
    "warehouse load gate runs alongside column profiling (q_dq_profile): "
    "for each declared FK relationship (lineitem->orders, "
    "orders->customer) count orphaned child rows / distinct orphan keys "
    "(FK value with no parent) and childless parent keys, in ONE pass "
    "per relation. The child side pre-aggregates to distinct FK values, "
    "so the integrity join moves |distinct keys| rows instead of the "
    "fact table; the full outer join yields both directions (orphans "
    "AND childless) from the same exchange. At 100 TB this is two "
    "scans + a key-sized join per relation — the same cost class as "
    "the load itself — and clean relations report all-zero orphan "
    "columns, making the audit a cheap invariant gate. All counts are "
    "exact integers, bit-identical cross-engine.",
    tags=("dq", "join"),
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rows = _ri_audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders").unionByName(
        _ri_audit(o, "o_custkey", c, "c_custkey", "orders->customer")
    )
    return rows.orderBy("relation")
