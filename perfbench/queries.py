"""The ``olap`` and ``iterative`` workloads: one closed-loop client runs a
fixed list of declared queries, in an order drawn from the seed.

Set-up starts the session, loads every fixture table once, and makes the
warm-up pass, which is also the check pass: every query's output is compared
with its DuckDB oracle through ``tests/parity.py``. The timed section then
runs whole passes over the list, each query built and written to the noop
sink.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import re
import time

import env
import stats
import workloads
from tracing import JobCounts, Tracer

#: Timed passes per run. The first still runs ~30% slower than later ones
#: (the JIT is warming), and a shared 4-vCPU host's speed drifts by ±20% over
#: seconds, so wall_s is the median pass and all passes' latencies are pooled.
MIN_PASSES = 3

#: Physical operators that run Python workers.
PYTHON_NODES = re.compile(r"ArrowEvalPython|BatchEvalPython|InPandas|InArrow")


def query_order(names: tuple[str, ...], seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def _data_digest() -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(env.DATA_DIR)):
        h.update(f.encode())
        with open(os.path.join(env.DATA_DIR, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def oracles(all_queries: dict, names: tuple[str, ...]) -> dict:
    """DuckDB oracle results for ``names``, cached in the checkout by oracle
    SQL and data. On a miss every query workload's oracles are computed, so
    only the first run in a checkout pays for them."""
    import parity

    cache = os.path.join(env.WORK_DIR, "oracles")
    os.makedirs(cache, exist_ok=True)
    digest = _data_digest()

    def path(name):
        key = hashlib.sha256((all_queries[name].oracle + digest).encode()).hexdigest()[:24]
        return os.path.join(cache, f"{name}-{key}.pkl")

    if not all(os.path.exists(path(n)) for n in names):
        for wl in workloads.QUERY_WORKLOADS.values():
            for n in wl:
                if not os.path.exists(path(n)):
                    result = parity.run_oracle(all_queries[n].oracle, env.DATA_DIR)
                    with open(path(n) + ".tmp", "wb") as f:
                        pickle.dump(result, f)
                    os.replace(path(n) + ".tmp", path(n))
    out = {}
    for n in names:
        with open(path(n), "rb") as f:
            out[n] = pickle.load(f)
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_section(spark, all_queries, order, seconds, tally) -> tuple[list[float], float, int]:
    """Whole passes over ``order``: at least ``MIN_PASSES``, and more until
    ``seconds`` have passed. Returns every per-query latency, the median
    pass wall time and the pass count."""
    latencies: list[float] = []
    walls: list[float] = []
    start = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - start < seconds:
        t_pass = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            try:
                _noop(all_queries[name].fn(spark, env.DATA_DIR))
            except Exception:  # counted as a failed operation
                tally.timed(name, ok=False)
                continue
            latencies.append(time.perf_counter() - t0)
            tally.timed(name, ok=True)
        walls.append(time.perf_counter() - t_pass)
    return latencies, stats.median(walls), len(walls)


def _traced_pass(spark, all_queries, order, tracer, tally, pass_no: int) -> tuple[dict, list[float], float]:
    """One pass with spans, Catalyst phase times and status-store counts per
    query. Returns the per-layer totals, the per-query latencies and the pass
    wall time; counts are read between queries, outside the latencies."""
    counts = JobCounts(spark)
    layer = dict.fromkeys(workloads.PER_LAYER, 0.0)
    latencies: list[float] = []
    start = time.perf_counter()
    for name in order:
        group = f"{tracer.run_id}:{pass_no}:{name}"
        try:
            t_query = time.perf_counter()
            with tracer.span("query"):
                counts.label(group + ":build")
                with tracer.span("operators.build"):
                    t0 = time.perf_counter()
                    df = all_queries[name].fn(spark, env.DATA_DIR)
                    build_s = time.perf_counter() - t0
                with tracer.span("catalyst.plan"):
                    qe = df._jdf.queryExecution()
                    plan = qe.executedPlan().toString()
                phases = qe.tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    if phases.contains(phase):
                        layer[f"catalyst.{phase}_s"] += phases.get(phase).get().durationMs() / 1e3
                counts.label(group + ":exec")
                with tracer.span("execution.exec"):
                    t0 = time.perf_counter()
                    _noop(df)
                    exec_s = time.perf_counter() - t0
        except Exception:  # counted as a failed operation
            tally.timed(name, ok=False)
            continue
        latencies.append(time.perf_counter() - t_query)
        tally.timed(name, ok=True)
        build = counts.read(group + ":build")
        execution = counts.read(group + ":exec")
        layer["operators.build_s"] += build_s
        layer["execution.exec_s"] += exec_s
        layer["operators.build_jobs"] += build["jobs"]
        for k, v in execution.items():
            layer[f"execution.{k}"] += v
        if PYTHON_NODES.search(plan):
            both = counts.read(group + ":build", group + ":exec")
            layer["python.udf_exec_s"] += exec_s
            layer["python.worker_s"] += both["executor_run_s"] - both["executor_cpu_s"]
    wall = time.perf_counter() - start
    return layer, latencies, wall


def run(workload: str, seed: int, seconds: float, traced: bool, run_id: str) -> dict:
    names = workloads.QUERY_WORKLOADS[workload]
    tracer = Tracer(run_id, traced)
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = env.start_session()
    import parity
    from sales_data_pipeline_gcp_spark.io import TABLES, load
    from sales_data_pipeline_gcp_spark.plans.registry import all_queries

    with tracer.span("io.load"):
        for t in TABLES:
            load(spark, env.DATA_DIR, t)
    registry = all_queries()
    expected = oracles(registry, names)
    order = query_order(names, seed)
    tally = stats.Tally()
    with tracer.span("check"):
        # concurrent, to shorten set-up: cold first executions are mostly
        # single-threaded driver work (planning, code generation)
        tally.check(order, lambda n: parity.compare(registry[n].fn(spark, env.DATA_DIR), expected[n], n),
                    threads=env.cores())
    setup_s = time.perf_counter() - t_setup

    if traced:
        # as many passes as the untraced timed section, so that trace.wall_s
        # and wall_s compare; layer figures are per-pass means
        layers, latencies, walls = [], [], []
        for pass_no in range(MIN_PASSES):
            layer, lat, wall = _traced_pass(spark, registry, order, tracer, tally, pass_no)
            layers.append(layer)
            latencies += lat
            walls.append(wall)
        layer = {k: sum(d[k] for d in layers) / len(layers) for k in layers[0]}
        wall_s, passes = stats.median(walls), len(walls)
        layer["session.start_s"] = tracer.seconds("session.start")
        layer["io.load_s"] = tracer.seconds("io.load")
        layer["session.peak_rss_mb"] = env.peak_rss_mb(spark)
        layer["trace.wall_s"] = wall_s
    else:
        latencies, wall_s, passes = _timed_section(spark, registry, order, seconds, tally)
    env.stop_session(spark)
    p50 = stats.median(latencies)
    tail_v, tail_pct, tail_n = stats.tail(latencies)
    return {
        "end_to_end": {"setup_s": setup_s, "wall_s": wall_s, "op_p50_s": p50, "op_tail_s": tail_v},
        "per_layer": layer if traced else None,
        "report": [
            ("query_p50_s", p50, "s"),
            (f"query_tail_s (p{tail_pct:.1f} of n={tail_n})", tail_v, "s"),
            ("passes", passes, "count"),
            ("failed_frac", stats.failed_frac(tally.attempted, tally.failed), "ratio"),
        ],
        "attempted": tally.attempted,
        "failed": tally.failed,
        "wrong": tally.wrong,
        "tracer": tracer,
    }
