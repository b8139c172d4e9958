"""Per-query profiler for the optimization rounds (guide §1/§7).

Usage:
    python tools/profile_query.py q_pagerank [q_other ...] [--runs 3] [--sf-dir DIR]

For each named query, in ONE session (UI enabled, REST API polled):

- warm once (untimed), then time ``--runs`` noop-sink materializations;
- after the timed runs, pull /api/v1 jobs+stages and aggregate, per query:
  #jobs, #stages, #tasks, per-stage wall, shuffle read/write bytes, input
  bytes — the empirical loop's raw material.

Plans are written by ``tools/dump_plans.py``.

Job boundaries per query are identified by setJobGroup labels (guide
§1.5); the job description is left to ``materialize``, which names each
checkpoint job with its label.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from sales_data_pipeline_gcp_spark.io import TABLES, load
    from sales_data_pipeline_gcp_spark.plans.registry import all_queries
    from sales_data_pipeline_gcp_spark.session import get_spark

    spark = get_spark("profile", extra={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    for t in TABLES:
        load(spark, args.sf_dir, t).count()
    ui = sc.uiWebUrl
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    all_q = all_queries()
    results = {}
    for name in args.queries:
        q = all_q[name]
        # the first build and the warm run (untimed: codegen + JIT) are
        # grouped apart from the timed runs
        sc.setJobGroup(f"warm:{name}", f"warm:{name}")
        q.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for i in range(args.runs):
            sc.setJobGroup(f"timed:{name}:{i}", f"timed:{name}:{i}")
            # t0 BEFORE the rebuild (round-12 ADVICE): eager materialize /
            # localCheckpoint work inside query fns runs under the timed
            # label, so the wall sample must cover the same jobs the REST
            # aggregates count — bench.py times the same way.
            t0 = time.perf_counter()
            df2 = q.fn(spark, args.sf_dir)  # rebuild: some fns have side work
            df2.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 4))
        results[name] = {"samples": samples}

    # aggregate REST metrics per query label
    jobs = _get(f"{base}/jobs?status=succeeded") + _get(f"{base}/jobs?status=failed")
    stages = {s["stageId"]: s for s in _get(f"{base}/stages")}
    per_q: dict[str, dict] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if not group.startswith("timed:"):
            continue
        qname, run = group.split(":")[1], int(group.split(":")[2])
        d = per_q.setdefault(
            qname,
            {
                "jobs": 0,
                "stages": 0,
                "tasks": 0,
                "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0,
                "input_mb": 0.0,
                "stage_secs": [],
                "runs_seen": set(),
            },
        )
        d["runs_seen"].add(run)
        d["jobs"] += 1
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if not s or s.get("status") == "SKIPPED":
                continue
            d["stages"] += 1
            d["tasks"] += s.get("numCompleteTasks", 0)
            d["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
            d["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            d["input_mb"] += s.get("inputBytes", 0) / 1e6
            if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
                d["stage_secs"].append(
                    (
                        s["stageId"],
                        s["name"].split("\n")[0][:60],
                        s.get("numCompleteTasks", 0),
                        round(s.get("executorRunTime", 0) / 1000.0, 3),
                    )
                )

    print(json.dumps({"sf_dir": args.sf_dir}, indent=None))
    for name, r in results.items():
        m = per_q.get(name, {})
        nruns = max(len(m.get("runs_seen", [])), 1)
        print(f"\n=== {name}: samples={r['samples']} (median over {args.runs})")
        if m:
            print(
                f"  per-run: jobs={m['jobs'] / nruns:.1f} stages={m['stages'] / nruns:.1f} "
                f"tasks={m['tasks'] / nruns:.0f} shufR={m['shuffle_read_mb'] / nruns:.2f}MB "
                f"shufW={m['shuffle_write_mb'] / nruns:.2f}MB input={m['input_mb'] / nruns:.2f}MB"
            )
            top = sorted(m["stage_secs"], key=lambda t: -t[3])[:8]
            for sid, sname, ntask, secs in top:
                print(f"    stage {sid} [{ntask}t {secs:7.3f}s-exec] {sname}")
    spark.stop()


if __name__ == "__main__":
    main()
