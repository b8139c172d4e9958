"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Workloads are ``olap``, ``iterative`` and ``ingest`` (see workloads.py). Each
run is one process with a fresh Spark session on ``local[<cores>]``. With
``--trace 0`` the last line of stdout is a JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of the
same timed section traced, and the spans are written to ``.perfbench/traces/``. Lines
before it report the same figures, and the workload-specific ones, by name
and unit. Exits with status 2 when the checkout lacks the package, the
parity helpers or the tables.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import env
import workloads


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WHY))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = env.missing_inputs()
    if missing:
        print(f"perfbench: checkout lacks {', '.join(missing)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(env.WORK_DIR, "runs", run_id)
    env.configure(run_dir)
    try:
        if args.workload == "ingest":
            import ingest

            res = ingest.run(args.seed, bool(args.trace), run_id, run_dir)
        else:
            import queries

            res = queries.run(args.workload, args.seed, args.seconds, bool(args.trace), run_id)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} cores {env.cores()} trace {args.trace}")
    for name, wrong in res.get("wrong", {}).items():
        print(f"WRONG {name}: {wrong}")
    if args.trace:
        traces = os.path.join(env.WORK_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        res["tracer"].write(os.path.join(traces, run_id + ".json"))
        metrics = {k: (v, workloads.PER_LAYER[k][0]) for k, v in res["per_layer"].items()}
    else:
        metrics = {k: (v, workloads.END_TO_END[k][0]) for k, v in res["end_to_end"].items()}
    for name, value, unit in [(k, v, u) for k, (v, u) in metrics.items()] + res["report"]:
        print(f"{name} {value:.4f} {unit}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
